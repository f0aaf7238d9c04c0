"""Index persistence: the index IS a set of tables.

Replaces the reference's ``.npy`` triple + JSON vocab/params save/load
(``reference/bm25s/__init__.py:941-1282``) with self-describing tables:

    <path>/params.json            scalars: num_docs, avgdl, k1, b, delta,
                                  tokenizer config, docs_per_shard, version,
                                  the method pin of a reference-format import
    <path>/term_stats/            (term, term_id, df[, nnoc_<method>
                                  of a reference-format import])
    <path>/doc_lens/              (doc_id, dl)
    <path>/doc_map/               (doc_id, conv_id, turn_idx, ...) [optional]
    <path>/postings_terms/        term-ordered postings (term-sorted —
                                  the CSC analog; built via the salted
                                  two-phase merge): doc ids, tfs and
                                  float32 impact arrays of all five
                                  methods, computed at write time
    <path>/postings_sharded/      doc-sharded blocked layout (doc gaps,
                                  tf, dl), partitioned by shard bucket
                                  (the query-path layout)

Format is parquet locally; pass ``fmt="iceberg"`` on a cluster with an
Iceberg catalog (gated — falls back with a clear error if unavailable).
``load_index`` is lazy: tables are only scanned when a query touches
them, the analog of the reference's ``mmap=True``
(``reference/bm25s/__init__.py:1116-1119``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25s_spark.indexer import BM25Index
from bm25s_spark.scoring import METHOD_SLUGS, METHODS

FORMAT_VERSION = 1
# per-method impact arrays of the term-ordered layout (postings_terms)
IMPACT_COLS = {m: f"impact_{METHOD_SLUGS[m]}" for m in METHODS}
_SHARD_BUCKETS = 64  # write-partitioning granularity for the sharded layout


def _write(df: DataFrame, path: str, fmt: str, partition_by: list[str] | None = None):
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "iceberg":
        w.format("iceberg").saveAsTable(path)
    else:
        raise ValueError(f"unknown format {fmt!r}")


def salted_term_postings(index: BM25Index, n_salts: int = 16) -> DataFrame:
    """Term-ordered global postings via explicit **salted two-phase
    merge** (north_rule skew requirement).

    Phase 1 groups by ``(term, salt)`` where salt = doc_id-derived bucket,
    so a Zipf-head term's postings split across ``n_salts`` reducers; each
    emits a doc-sorted sub-list.  Phase 2 groups the ≤``n_salts`` sub-lists
    per term and flattens them in salt order — sub-lists are doc-range
    disjoint (salt = doc_id // range), so concatenation preserves global
    doc order without re-sorting.  This is the distributed equivalent of
    the reference's COO→CSC counting sort
    (``reference/bm25s/scoring.py:371-432``).
    """
    from bm25s_spark.retrieval import _scoring_cols

    span = max(1, (index.num_docs + n_salts - 1) // n_salts)
    p = index.postings.withColumn("salt", (F.col("doc_id") / span).cast("int"))
    # the layout has no dls, so its per-method impact arrays are
    # computed here at write time; a reference-format import knows only
    # its stored method's impacts, the others are 0.0 placeholders
    info = index.compat_import
    struct_cols = [F.col("doc_id")] + [
        (F.lit(0.0) if info and m != info["method"]
         else _scoring_cols(index, m, m)[0])
        .cast("float").alias(IMPACT_COLS[m])
        for m in METHODS
    ] + [F.col("tf").cast("int").alias("tf")]
    phase1 = p.groupBy("term_id", "term", "salt").agg(
        F.sort_array(F.collect_list(F.struct(*struct_cols))).alias("sub")
    )
    phase2 = (
        phase1.groupBy("term_id", "term")
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct(F.col("salt"), F.col("sub")))),
                    lambda s: s["sub"],
                )
            ).alias("plist")
        )
    )
    return phase2.select(
        "term_id",
        "term",
        F.size("plist").alias("df"),
        F.transform(F.col("plist"), lambda s: s["doc_id"]).alias("doc_ids"),
        *[
            F.transform(F.col("plist"), _getter(IMPACT_COLS[m])).alias(IMPACT_COLS[m])
            for m in METHODS
        ],
        F.transform(F.col("plist"), lambda s: s["tf"]).alias("tfs"),
    )


def _getter(name):
    return lambda s: s[name]


def iceberg_session_conf(catalog: str = "local",
                         warehouse: str = "/tmp/iceberg_warehouse") -> dict:
    """SparkSession config for a local hadoop-catalog Iceberg setup.

    Pass as ``get_spark(extra_conf=iceberg_session_conf())``.  Requires
    the ``iceberg-spark-runtime`` jar on the classpath (ship via
    ``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:<ver>``
    on a cluster; this sandbox has no jar and no network, so the write
    path is exercised by a composition unit test instead).
    """
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def _params_dict(index: BM25Index) -> dict:
    return {
        "version": FORMAT_VERSION,
        "num_docs": index.num_docs,
        "avg_doc_len": index.avg_doc_len,
        "k1": index.k1,
        "b": index.b,
        "delta": index.delta,
        "docs_per_shard": index.docs_per_shard,
        "tokenizer": index.tokenizer_kwargs,
        "compat_import": index.compat_import,
    }


def _iceberg_write(df: DataFrame, table: str, partition_col: str | None = None):
    w = df.writeTo(table).using("iceberg")
    if partition_col:
        w = w.partitionedBy(F.col(partition_col))
    w.createOrReplace()


def save_index_iceberg(index: BM25Index, prefix: str,
                       include_term_ordered: bool = True) -> None:
    """Write the index as Iceberg tables ``<prefix>_{params, term_stats,
    doc_lens, doc_map, postings_sharded, postings_terms}`` where
    ``prefix`` is a fully-qualified table name (``catalog.db.name``).

    Same tables as the parquet layout; params become a 2-column KV table
    (Iceberg has no side-car JSON).  The sharded layout is
    ``partitionedBy(shard_bucket)`` so query-time shard pruning becomes
    Iceberg partition pruning.
    """
    from bm25s_spark.shards import ensure_sharded

    spark = index.spark
    params_rows = [(k, json.dumps(v)) for k, v in _params_dict(index).items()]
    from bm25s_spark.util import local_relation

    _iceberg_write(
        local_relation(spark, params_rows, "key string, value string"),
        f"{prefix}_params",
    )
    _iceberg_write(index.term_stats, f"{prefix}_term_stats")
    _iceberg_write(index.doc_lens, f"{prefix}_doc_lens")
    if index.doc_map is not None:
        _iceberg_write(index.doc_map, f"{prefix}_doc_map")
    sharded = ensure_sharded(index).withColumn(
        "shard_bucket", F.col("shard_id") % _SHARD_BUCKETS
    )
    _iceberg_write(sharded, f"{prefix}_postings_sharded", "shard_bucket")
    if include_term_ordered:
        _iceberg_write(
            salted_term_postings(index)
            .repartitionByRange(32, "term")
            .sortWithinPartitions("term"),
            f"{prefix}_postings_terms",
        )


def load_index_iceberg(spark: SparkSession, prefix: str) -> BM25Index:
    """Load an index saved by ``save_index_iceberg`` (lazy scans)."""
    params = {
        r["key"]: json.loads(r["value"])
        for r in spark.read.table(f"{prefix}_params").collect()
    }
    term_stats = spark.read.table(f"{prefix}_term_stats")
    doc_lens = spark.read.table(f"{prefix}_doc_lens")
    try:
        doc_map = spark.read.table(f"{prefix}_doc_map")
    except Exception:
        doc_map = None
    sharded = spark.read.table(f"{prefix}_postings_sharded").drop("shard_bucket")
    return _reassemble_index(spark, params, term_stats, doc_lens, doc_map, sharded)


def save_index(index: BM25Index, path: str, fmt: str = "parquet",
               include_term_ordered: bool = True) -> None:
    from bm25s_spark.shards import ensure_sharded

    if fmt == "iceberg":
        # path is a fully-qualified table prefix in this mode
        return save_index_iceberg(index, path, include_term_ordered)
    os.makedirs(path, exist_ok=True)
    params = _params_dict(index)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump(params, f, indent=2)
    _write(index.term_stats, os.path.join(path, "term_stats"), fmt)
    _write(index.doc_lens, os.path.join(path, "doc_lens"), fmt)
    if index.doc_map is not None:
        _write(index.doc_map, os.path.join(path, "doc_map"), fmt)
    sharded = ensure_sharded(index)
    _write(
        sharded.withColumn("shard_bucket", F.col("shard_id") % _SHARD_BUCKETS),
        os.path.join(path, "postings_sharded"),
        fmt,
        partition_by=["shard_bucket"],
    )
    if include_term_ordered:
        # term-ordered CSC analog, range-sorted by term for min/max file
        # skipping on term-lookup scans
        _write(
            salted_term_postings(index).repartitionByRange(32, "term").sortWithinPartitions("term"),
            os.path.join(path, "postings_terms"),
            fmt,
        )


def load_index(spark: SparkSession, path: str, fmt: str = "parquet") -> BM25Index:
    if fmt == "iceberg":
        return load_index_iceberg(spark, path)
    with open(os.path.join(path, "params.json")) as f:
        params = json.load(f)
    term_stats = spark.read.parquet(os.path.join(path, "term_stats"))
    doc_lens = spark.read.parquet(os.path.join(path, "doc_lens"))
    doc_map = None
    dm_path = os.path.join(path, "doc_map")
    if os.path.isdir(dm_path):
        doc_map = spark.read.parquet(dm_path)
    sharded = spark.read.parquet(os.path.join(path, "postings_sharded")).drop("shard_bucket")
    return _reassemble_index(spark, params, term_stats, doc_lens, doc_map, sharded)


def _reassemble_index(spark: SparkSession, params: dict, term_stats: DataFrame,
                      doc_lens: DataFrame, doc_map: DataFrame | None,
                      sharded: DataFrame) -> BM25Index:
    if params.get("version") != FORMAT_VERSION:
        raise ValueError(f"unsupported index version {params.get('version')}")

    from pyspark.sql import Window

    from bm25s_spark.compat import NNOC_COLS
    from bm25s_spark.scoring import METHODS_REQUIRING_NNOC

    # reconstruct the flat postings view lazily from the sharded layout
    # (doc_gaps → absolute ids) plus term_stats.df; only the join
    # strategy and the operators read it.  Columns are chosen by name,
    # so older saves — whose layout carried per-method impact arrays and
    # df, and whose term_stats carried nnoc_* columns — load to the same
    # tables.  An import keeps its stored ``imps`` and nnoc.
    dps = int(params["docs_per_shard"])
    compat_import = params.get("compat_import")
    imp, stored_nnoc = [], []
    if compat_import is not None:
        imp = ["imps"]
        if compat_import["method"] in METHODS_REQUIRING_NNOC:
            stored_nnoc = [NNOC_COLS[compat_import["method"]]]
    term_stats = term_stats.select("term", "term_id", "df", *stored_nnoc)
    ex = sharded.select(
        "term_id", "term", "shard_id",
        F.posexplode(F.arrays_zip("doc_gaps", "tfs", "dls", *imp)).alias("pos", "e"),
    )
    w = (
        Window.partitionBy("shard_id", "term_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    postings = ex.select(
        "term_id", "term",
        (F.col("shard_id") * dps + F.sum("e.doc_gaps").over(w)).alias("doc_id"),
        F.col("e.dls").alias("dl"),
        F.col("e.tfs").alias("tf"),
        *[F.col(f"e.{c}").alias(c) for c in imp],
    ).join(term_stats.select("term_id", "df"), "term_id").select(
        "term", "doc_id", "dl", "tf", "term_id", "df", *imp,
    )

    idx = BM25Index(
        spark=spark,
        postings=postings,
        term_stats=term_stats,
        doc_lens=doc_lens,
        doc_map=doc_map,
        num_docs=int(params["num_docs"]),
        avg_doc_len=float(params["avg_doc_len"]),
        k1=float(params["k1"]),
        b=float(params["b"]),
        delta=float(params["delta"]),
        tokenizer_kwargs=params.get("tokenizer", {}),
        docs_per_shard=dps,
        compat_import=compat_import,
    )
    idx.sharded = sharded
    return idx


def read_term_postings(spark: SparkSession, path: str,
                       terms: list[str] | None = None,
                       fmt: str = "parquet") -> DataFrame:
    """Random access into the term-ordered postings layout
    (``postings_terms``) — the distributed analog of slicing the
    reference's CSC ``indptr[t]:indptr[t+1]`` for one term
    (``reference/bm25s/__init__.py:432-438``).

    The layout is written range-partitioned and sorted by ``term``
    (``save_index``), so a ``term IN (...)`` predicate reaches the
    parquet scan as a pushed filter and parquet row-group min/max
    statistics skip every file outside the terms' ranges: a lookup
    touches O(terms) row groups, not the index.
    """
    if fmt == "iceberg":
        df = spark.read.table(f"{path}_postings_terms")
    else:
        df = spark.read.parquet(os.path.join(path, "postings_terms"))
    if terms is not None:
        df = df.where(F.col("term").isin(list(terms)))
    return df
