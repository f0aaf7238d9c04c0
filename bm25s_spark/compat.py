"""Interop with the reference's on-disk index format.

The reference persists an index as a scipy-CSC triplet of ``.npy``
arrays plus two JSON sidecars (``reference/bm25s/__init__.py:941-1073``,
``save()``)::

    data.csc.index.npy                 impact scores, CSC order
    indices.csc.index.npy              row (doc) ids per posting
    indptr.csc.index.npy               per-term offsets, len = n_vocab+1
    vocab.index.json                   {token: column (term) id}
    params.index.json                  k1/b/delta/method/idf_method/dtype/
                                       int_dtype/num_docs/version/backend
    nonoccurrence_array.index.npy      vocab-sized nnoc (bm25l / bm25+)
    corpus.jsonl (+ corpus.mmindex.json)   optional corpus + line offsets

``export_bm25s`` writes a Spark-built :class:`BM25Index` into that exact
layout so the reference's ``BM25.load()`` (and any tool speaking its
format) can read it; ``import_bm25s`` reads such a directory back into
the Spark engine so an existing reference user can migrate indexes
without re-tokenizing.  Both directions round-trip bit-exactly at
``dtype="float64"`` because the engine scores with the same per-posting
impact convention the reference stores: ``idf·tfc(tf)`` with the
non-occurrence constant already subtracted for bm25l/bm25+
(``reference/bm25s/scoring.py:254-311``), added back per query at
retrieval time.  The export computes those impacts and nnoc values with
the scorer's own expressions.

Scale notes
-----------
* The CSC triplet is a *single-node* format — the reference mmaps it on
  one machine — so export is driver-bounded by design.  The driver never
  holds the posting arrays in memory, though: postings are globally
  sorted by ``(term_id, doc_id)`` with one range-shuffle, spilled to a
  temporary parquet directory, and streamed file-by-file into
  ``np.lib.format.open_memmap`` outputs, so peak driver memory is one
  Arrow batch regardless of nnz.  Vocab-sized state (term_stats, the
  nnoc array, indptr) is held driver-side — the same footprint the
  reference itself needs to load the index at all.
* Import is distributed: term ranges are balanced by posting count from
  ``indptr`` (driver-side, vocab-bounded) and each Spark task opens the
  ``.npy`` files with ``np.load(mmap_mode="r")`` and slices only its
  range — no driver pass over the postings.  ``save_dir`` must therefore
  be visible to executors (local FS in local mode, NFS/shared mount on a
  cluster).
* An imported index carries only the (method, idf_method) impacts the
  file stores — tf/dl are not part of the reference format — so
  retrieval on it is pinned to that combination (a loud ``ValueError``
  otherwise, see ``check_compat``).  ``save_index``/``load_index`` keep
  the pin and the stored values: one ``imps`` column on ``postings``
  and, for bm25l/bm25+, the file's nnoc array as ``term_stats``'
  ``nnoc_<method>`` column.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bm25s_spark.indexer import BM25Index, auto_docs_per_shard
from bm25s_spark.retrieval import _scoring_cols
from bm25s_spark.scoring import METHOD_SLUGS, METHODS, METHODS_REQUIRING_NNOC

# term_stats column holding an import's stored per-term nnoc array
NNOC_COLS = {m: f"nnoc_{METHOD_SLUGS[m]}" for m in METHODS_REQUIRING_NNOC}

# Exact file names the reference's save()/load() default to
# (reference/bm25s/__init__.py:945-951).
DATA_NAME = "data.csc.index.npy"
INDICES_NAME = "indices.csc.index.npy"
INDPTR_NAME = "indptr.csc.index.npy"
VOCAB_NAME = "vocab.index.json"
PARAMS_NAME = "params.index.json"
NNOC_NAME = "nonoccurrence_array.index.npy"
CORPUS_NAME = "corpus.jsonl"
# change_extension("corpus.jsonl", ".mmindex.json")
# (reference/bm25s/utils/corpus.py:25-27,57-61).
MMINDEX_NAME = "corpus.mmindex.json"

# version recorded in params.index.json; the reference loader pops it
# into `_original_version` without validation
# (reference/bm25s/__init__.py:1237-1239).
FORMAT_VERSION = "0.2-bm25s-spark-compat"


def _part_files(parquet_dir: str) -> list[str]:
    """part-NNNNN files in partition order == global sort order after a
    repartitionByRange + sortWithinPartitions write."""
    return sorted(
        os.path.join(parquet_dir, f)
        for f in os.listdir(parquet_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def _collect_vocab(index: BM25Index, method: str) -> pd.DataFrame:
    """term_stats → pandas (term, term_id, df, nnoc) ordered by term_id,
    validated dense 0..V-1; ``nnoc`` is ``method``'s per-term
    nonoccurrence constant, as the scorer computes it.

    Vocab-bounded (NOT corpus-bounded) driver state — the reference
    holds the same dict in RAM to use the index at all."""
    _, nnoc = _scoring_cols(index, method, method)
    vocab = (
        index.term_stats.select("term", "term_id", "df", nnoc.alias("nnoc"))
        .orderBy("term_id")
        .toPandas()
    )
    n_vocab = len(vocab)
    ids = vocab["term_id"].to_numpy()
    if n_vocab == 0 or ids[0] != 0 or ids[-1] != n_vocab - 1 or \
            not np.array_equal(ids, np.arange(n_vocab)):
        raise ValueError(
            "term_stats term_ids are not dense 0..V-1; the CSC export "
            "needs the dense vocabulary the standard build produces"
        )
    return vocab


def export_bm25s(
    index: BM25Index,
    save_dir: str,
    method: str = "lucene",
    dtype: str = "float32",
    int_dtype: str = "int32",
    corpus_text_col: str | None = "text",
    tmp_dir: str | None = None,
) -> dict:
    """Write ``index`` into the reference's save-directory layout.

    ``method`` picks whose impacts become the CSC data array (the
    reference stores exactly one method per index), computed with the
    engine's scoring expression; ``idf_method`` is recorded equal to
    ``method``.  An import exports only its stored combination.
    ``dtype`` / ``int_dtype`` mirror the reference's constructor
    defaults ("float32"/"int32"); pass "float64" for a bit-exact round
    trip with the engine's double-precision scores.  ``corpus_text_col``:
    when ``index.doc_map`` carries that column, ``corpus.jsonl`` +
    ``corpus.mmindex.json`` are written too (reference
    ``save(corpus=...)`` shape: one ``{"id", "text"}`` object per line).

    Returns the params dict that was written.
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    check_compat(index, method, method)
    os.makedirs(save_dir, exist_ok=True)

    vocab = _collect_vocab(index, method)
    n_vocab = len(vocab)
    df_per_term = vocab["df"].to_numpy(dtype=np.int64)
    nnz = int(df_per_term.sum())

    if nnz >= np.iinfo(np.int32).max and int_dtype == "int32":
        # scipy does the same promotion when a CSC outgrows int32
        int_dtype = "int64"

    indptr = np.zeros(n_vocab + 1, dtype=np.dtype(int_dtype))
    np.cumsum(df_per_term, out=indptr[1:])
    np.save(os.path.join(save_dir, INDPTR_NAME), indptr)

    # vocab.index.json: {token: term_id} (reference vocab_dict,
    # reference/bm25s/__init__.py:1022-1025).
    vocab_dict = {t: int(i) for t, i in zip(vocab["term"], vocab["term_id"])}
    with open(os.path.join(save_dir, VOCAB_NAME), "w", encoding="utf-8") as f:
        f.write(json.dumps(vocab_dict, ensure_ascii=False))

    if method in METHODS_REQUIRING_NNOC:
        nnoc = vocab["nnoc"].to_numpy(dtype=np.dtype(dtype))
        np.save(os.path.join(save_dir, NNOC_NAME), nnoc)

    # --- posting arrays: one range-shuffle to global (term_id, doc_id)
    # order, spill to parquet, stream into .npy memmaps ----------------
    owns_tmp = tmp_dir is None
    tmp = tmp_dir or tempfile.mkdtemp(prefix="bm25s_export_")
    sorted_dir = os.path.join(tmp, "postings_sorted")
    n_parts = max(1, min(2048, nnz // 4_000_000 + 1))
    (
        index.postings.select(
            F.col("term_id").cast("long").alias("term_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            _scoring_cols(index, method, method)[0].cast("double").alias("score"),
        )
        .repartitionByRange(n_parts, "term_id", "doc_id")
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("overwrite").parquet(sorted_dir)
    )

    import pyarrow.parquet as pq

    data_mm = np.lib.format.open_memmap(
        os.path.join(save_dir, DATA_NAME), mode="w+",
        dtype=np.dtype(dtype), shape=(nnz,),
    )
    idx_mm = np.lib.format.open_memmap(
        os.path.join(save_dir, INDICES_NAME), mode="w+",
        dtype=np.dtype(int_dtype), shape=(nnz,),
    )
    pos = 0
    prev_last = (-1, -1)
    try:
        for path in _part_files(sorted_dir):
            pf = pq.ParquetFile(path)
            for batch in pf.iter_batches(columns=["term_id", "doc_id", "score"]):
                tid = batch.column("term_id").to_numpy()
                did = batch.column("doc_id").to_numpy()
                if len(tid) == 0:
                    continue
                first = (int(tid[0]), int(did[0]))
                if first <= prev_last:  # sanity: global order must hold
                    raise AssertionError(
                        "posting stream out of (term_id, doc_id) order"
                    )
                prev_last = (int(tid[-1]), int(did[-1]))
                n = len(tid)
                data_mm[pos:pos + n] = batch.column("score").to_numpy()
                idx_mm[pos:pos + n] = did
                pos += n
        if pos != nnz:
            raise AssertionError(
                f"exported {pos} postings but term_stats df sums to {nnz}"
            )
        data_mm.flush()
        idx_mm.flush()
    finally:
        del data_mm, idx_mm
        if owns_tmp:
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(sorted_dir, ignore_errors=True)

    # params.index.json: the exact key set the reference's save() writes
    # and its load() feeds back into BM25S(**params)
    # (reference/bm25s/__init__.py:1028-1041,1255-1262).
    params = dict(
        k1=index.k1, b=index.b, delta=index.delta,
        method=method, idf_method=method,
        dtype=dtype, int_dtype=int_dtype,
        num_docs=index.num_docs,
        version=FORMAT_VERSION,
        backend="numpy",
    )
    with open(os.path.join(save_dir, PARAMS_NAME), "w") as f:
        json.dump(params, f, indent=4)

    if corpus_text_col is not None and index.doc_map is not None \
            and corpus_text_col in index.doc_map.columns:
        _export_corpus(index, save_dir, corpus_text_col, tmp_dir)
    return params


def _export_corpus(index: BM25Index, save_dir: str, text_col: str,
                   tmp_dir: str | None) -> None:
    """corpus.jsonl (one ``{"id", "text"}`` object per line, doc_id
    order — reference/bm25s/__init__.py:1045-1065) + corpus.mmindex.json
    (JSON list of line START byte offsets: ``find_newline_positions``
    returns ``[0, end_1, .., end_{n-1}]``,
    reference/bm25s/utils/corpus.py:30-61).  Streamed through a sorted
    parquet spill exactly like the posting arrays."""
    owns_tmp = tmp_dir is None
    tmp = tmp_dir or tempfile.mkdtemp(prefix="bm25s_export_corpus_")
    sorted_dir = os.path.join(tmp, "corpus_sorted")
    (
        index.doc_map.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
        .repartitionByRange(max(1, min(2048, index.num_docs // 1_000_000 + 1)),
                            "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(sorted_dir)
    )
    import pyarrow.parquet as pq

    offsets: list[int] = []
    cur = 0
    expect = 0
    try:
        with open(os.path.join(save_dir, CORPUS_NAME), "wb") as out:
            for path in _part_files(sorted_dir):
                pf = pq.ParquetFile(path)
                for batch in pf.iter_batches(columns=["doc_id", "text"]):
                    ids = batch.column("doc_id").to_pylist()
                    texts = batch.column("text").to_pylist()
                    for i, t in zip(ids, texts):
                        if i != expect:
                            raise ValueError(
                                "corpus export needs contiguous doc_ids "
                                f"0..N-1; saw {i}, expected {expect}"
                            )
                        line = json.dumps(
                            {"id": int(i), "text": t}, ensure_ascii=False
                        ).encode("utf-8") + b"\n"
                        offsets.append(cur)
                        out.write(line)
                        cur += len(line)
                        expect += 1
        with open(os.path.join(save_dir, MMINDEX_NAME), "w") as f:
            f.write(json.dumps(offsets))
    finally:
        if owns_tmp:
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(sorted_dir, ignore_errors=True)


def import_bm25s(
    spark: SparkSession,
    save_dir: str,
    load_corpus: bool = False,
    n_splits: int | None = None,
) -> BM25Index:
    """Read a reference-format save directory into a :class:`BM25Index`.

    The posting scan is distributed: ``indptr`` (vocab-sized) is read on
    the driver to cut the term space into ``n_splits`` contiguous ranges
    balanced by posting count, and each Spark task mmaps the ``.npy``
    files and slices only its range.  ``save_dir`` must be reachable
    from executors (shared FS on a real cluster).

    The returned index is *pinned* to the stored (method, idf_method):
    the reference format carries precomputed impacts but not (tf, dl),
    so cross-combination scoring and ``exact=True`` recomputation are
    impossible — ``retrieve``/``score_all`` raise on any other
    combination (see ``check_compat``).  ``doc_lens.dl`` is a 0
    placeholder for the same reason (only doc_id enumeration uses it at
    query time) and ``avg_doc_len`` is recorded as 0.0.

    ``load_corpus=True`` reads ``corpus.jsonl`` (if present) into
    ``doc_map`` with Spark's distributed JSON reader — the mmap-index
    sidecar is a single-node random-access structure the columnar scan
    replaces (SURVEY S3/S5 analog).
    """
    save_dir = os.path.abspath(save_dir)
    with open(os.path.join(save_dir, PARAMS_NAME)) as f:
        params = json.load(f)
    with open(os.path.join(save_dir, VOCAB_NAME), encoding="utf-8") as f:
        vocab_dict: dict[str, int] = json.load(f)
    method = params["method"]
    idf_method = params.get("idf_method") or method
    if method not in METHODS:
        raise ValueError(f"params.index.json has unknown method {method!r}")

    indptr = np.load(os.path.join(save_dir, INDPTR_NAME), mmap_mode="r")
    n_cols = len(indptr) - 1
    nnz = int(indptr[-1])
    # the reference appends the "" patch token to vocab_dict AFTER the
    # score matrix is built (reference/bm25s/__init__.py:563-564), so a
    # reference-written vocab may be one entry larger than the CSC
    # column count — those trailing ids are posting-less terms (df 0)
    max_id = max((int(i) for i in vocab_dict.values()), default=-1)
    n_vocab = max(n_cols, max_id + 1)
    if len(vocab_dict) != n_vocab:
        raise ValueError(
            f"vocab size {len(vocab_dict)} != term count {n_vocab} "
            f"(CSC columns: {n_cols})"
        )
    df_per_term = np.zeros(n_vocab, dtype=np.int64)
    df_per_term[:n_cols] = np.diff(indptr)

    nnoc_path = os.path.join(save_dir, NNOC_NAME)
    nnoc_arr = None
    if os.path.exists(nnoc_path):
        nnoc_arr = np.load(nnoc_path).astype(np.float64)
        if len(nnoc_arr) < n_vocab:  # posting-less trailing terms: nnoc 0
            nnoc_arr = np.pad(nnoc_arr, (0, n_vocab - len(nnoc_arr)))

    # --- vocab-sized term_stats, assembled driver-side (same footprint
    # the reference needs to hold vocab_dict) -------------------------
    terms = [""] * n_vocab
    for t, i in vocab_dict.items():
        terms[int(i)] = t
    stats_pd = pd.DataFrame({
        "term": terms,
        "term_id": np.arange(n_vocab, dtype=np.int64),
        "df": df_per_term,
    })
    if method in METHODS_REQUIRING_NNOC:
        if nnoc_arr is None:
            raise ValueError(
                f"method {method!r} needs {NNOC_NAME} but it is absent"
            )
        stats_pd[NNOC_COLS[method]] = nnoc_arr
    term_stats = spark.createDataFrame(stats_pd)

    # --- distributed posting scan over balanced term ranges ----------
    if n_splits is None:
        n_splits = max(1, min(512, nnz // 2_000_000 + 1,
                              spark.sparkContext.defaultParallelism * 2))
    cuts = np.searchsorted(
        np.asarray(indptr), np.linspace(0, nnz, n_splits + 1)
    )
    cuts[0], cuts[-1] = 0, n_cols
    cuts = np.unique(cuts)
    ranges = [(int(lo), int(hi)) for lo, hi in zip(cuts[:-1], cuts[1:])]
    rng_df = spark.createDataFrame(ranges, "lo long, hi long") \
                  .repartition(len(ranges))

    data_path = os.path.join(save_dir, DATA_NAME)
    indices_path = os.path.join(save_dir, INDICES_NAME)
    indptr_path = os.path.join(save_dir, INDPTR_NAME)

    def scan(batches):
        data = np.load(data_path, mmap_mode="r")
        indices = np.load(indices_path, mmap_mode="r")
        iptr = np.load(indptr_path, mmap_mode="r")
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                seg = np.asarray(iptr[int(lo):int(hi) + 1], dtype=np.int64)
                a, b = int(seg[0]), int(seg[-1])
                if a == b:
                    continue
                yield pd.DataFrame({
                    "term_id": np.repeat(
                        np.arange(int(lo), int(hi), dtype=np.int64),
                        np.diff(seg),
                    ),
                    "doc_id": np.asarray(indices[a:b], dtype=np.int64),
                    "score": np.asarray(data[a:b], dtype=np.float64),
                })

    raw = rng_df.mapInPandas(scan, "term_id long, doc_id long, score double")

    postings = (
        raw.join(term_stats.select("term", "term_id", "df"), "term_id")
        .select(
            "term", "doc_id",
            F.lit(0).cast("int").alias("dl"),
            F.lit(0).cast("int").alias("tf"),
            "term_id", "df", F.col("score").alias("imps"),
        )
    )

    num_docs = int(params["num_docs"])
    doc_lens = spark.range(num_docs).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("int").alias("dl")
    )
    doc_map = None
    corpus_path = os.path.join(save_dir, CORPUS_NAME)
    if load_corpus and os.path.exists(corpus_path):
        doc_map = (
            spark.read.schema("id long, text string").json(corpus_path)
            .select(F.col("id").alias("doc_id"), "text")
        )

    return BM25Index(
        spark=spark,
        postings=postings,
        term_stats=term_stats,
        doc_lens=doc_lens,
        doc_map=doc_map,
        num_docs=num_docs,
        avg_doc_len=0.0,
        k1=float(params.get("k1", 1.5)),
        b=float(params.get("b", 0.75)),
        delta=float(params.get("delta", 0.5)),
        docs_per_shard=auto_docs_per_shard(
            num_docs, spark.sparkContext.defaultParallelism
        ),
        compat_import={"method": method, "idf_method": idf_method},
    )


def check_compat(index: BM25Index, method: str, idf_method: str,
                 exact: bool = False, allow_negative: bool = False) -> None:
    """Raise if a reference-format import is asked for a scoring path
    its file cannot support (wrong method/idf_method, or exact-mode /
    ``allow_negative`` recomputation, which needs the (tf, dl) the
    format does not carry)."""
    info = index.compat_import
    if info is None:
        return
    stored_idf = info["idf_method"] or info["method"]
    neg = allow_negative and idf_method == "robertson"
    if method != info["method"] or idf_method != stored_idf or exact or neg:
        raise ValueError(
            "this index was imported from a reference-format save that "
            f"stores only method={info['method']!r} / "
            f"idf_method={stored_idf!r} impacts (no tf/dl): requested "
            f"method={method!r}, idf_method={idf_method!r}, exact={exact}, "
            f"allow_negative={allow_negative}"
        )
