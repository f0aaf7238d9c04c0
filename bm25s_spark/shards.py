"""Doc-sharded index layout + the scatter-gather query kernel.

This is the piece that makes the engine hold at 10^12 documents.

**Layout.** Postings are grouped by ``(shard_id, term)`` where
``shard_id = doc_id // docs_per_shard`` — classic document sharding, the
way every horizontally-scaled search engine partitions its index.  Each
row holds the term's postings *within one shard* as columnar arrays:
delta-encoded local doc gaps (``reference`` stores raw int32 ids,
``reference/bm25s/__init__.py:432-438`` — delta encoding is our
compression addition) plus one float32 impact array per BM25 variant.
No block-max column is stored: the kernel takes each loaded list's
maximum as its MaxScore upper bound, so a stored copy would only be
written, never read.

Doc-sharding also *structurally* bounds term skew: the per-group
``collect_list`` for even the most frequent term caps at
``docs_per_shard`` elements, so the Zipf head can never melt a single
reducer.  (The term-ordered save layout still uses an explicit salted
two-phase merge — see ``index_io.py``.)

**Query kernel.** Queries are tokenized, joined to ``term_stats``
(OOV drop), collected into one small broadcast payload
``{term -> [(query_idx, mult·scale, ...)]}``, then a single
``mapInPandas`` pass over the sharded postings scores every query against
every shard: per shard we reconstruct ``term -> (local_ids, impacts)``
and run a NumPy scatter-add into a dense float32 vector of
``docs_per_shard`` elements — the *same* kernel as the reference's
``_compute_relevance_from_scores`` (``reference/bm25s/__init__.py:272-324``,
``np.add.at`` at ``:318``) but over a bounded doc range — followed by a
local ``argpartition`` top-k (``reference/bm25s/selection.py:14-37``).
Each shard emits ≤k candidates per query, so the only shuffle after the
postings scan is ``n_queries × k × n_shards`` rows; the final exact top-k
merge re-ranks those candidates with the identical NumPy routine for tie
parity.

Cross ``method × idf_method`` combos never rescan: stored impact
``I = idf_m·tfc`` (or ``idf_m·tfc − nnoc_mm`` for bm25l/+) is rescaled
per *term* with scalars:  ``I' = (I + nnoc_mm)·idf_i/idf_m − nnoc_mi``,
folded into the broadcast payload as an affine (scale, shift) per
(query, term).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from bm25s_spark import scoring
from bm25s_spark.indexer import IMPACT_COLS, NNOC_COLS, BM25Index
from bm25s_spark.scoring import METHODS, METHODS_REQUIRING_NNOC, METHOD_SLUGS
from bm25s_spark.retrieval import count_query_terms, tokenize_queries
from bm25s_spark.tokenization import make_local_tokenizer
from bm25s_spark.util import local_relation


SHARD_SCHEMA_FIELDS = [
    StructField("shard_id", LongType(), False),
    StructField("term_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("df", LongType(), False),
    StructField("n_postings", IntegerType(), False),
    StructField("doc_gaps", ArrayType(IntegerType()), False),
    StructField("tfs", ArrayType(IntegerType()), False),
    StructField("dls", ArrayType(IntegerType()), False),
] + [
    StructField(f"impacts_{METHOD_SLUGS[m]}", ArrayType(FloatType()), False)
    for m in METHODS
]
SHARD_SCHEMA = StructType(SHARD_SCHEMA_FIELDS)
# assembly output: numeric fields only (term/df joined back afterwards)
ASSEMBLE_SCHEMA = StructType(
    [f for f in SHARD_SCHEMA_FIELDS if f.name not in ("term", "df")]
)


def build_sharded_postings(index: BM25Index, docs_per_shard: int | None = None) -> DataFrame:
    """Flat postings → blocked (shard_id, term) rows with delta-encoded
    doc gaps and per-variant impact arrays.

    One shuffle of compact flat rows hash-partitioned on
    ``(shard_id, term_id)``, then a Tungsten sort within partitions and
    an Arrow/numpy group-assembly pass in ``mapInPandas`` — the
    distributed equivalent of the reference's COO→CSC conversion
    (``reference/bm25s/scoring.py:371-432``).  An earlier
    ``groupBy().agg(sort_array(collect_list(struct(...))))`` version was
    correct but allocation-bound: millions of per-posting JVM row objects
    put the build on the GC, the resource that scales worst with cores.
    Group size is bounded by ``docs_per_shard``, so head terms cannot
    skew a task (and the assembly's carry buffer stays small).
    """
    if docs_per_shard is None:
        docs_per_shard = index.docs_per_shard
    spark = index.spark
    p = index.postings
    # float32 before the shuffle: halves shuffle bytes and matches the
    # reference's storage dtype; tf/dl ride along as small ints so any
    # method × idf_method cross-combination stays exactly computable.
    # NUMERIC COLUMNS ONLY through the Arrow pass — per-posting strings
    # (term) would cost one Python object per posting in the pandas
    # conversion; term/df are joined back onto the vocab-sized output.
    flat = p.withColumn(
        "shard_id", (F.col("doc_id") / docs_per_shard).cast("long")
    ).select(
        "shard_id", "term_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
        *[F.col(IMPACT_COLS[m]).cast("float").alias(f"imp_{METHOD_SLUGS[m]}")
          for m in METHODS],
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    flat = flat.repartition(n_parts, "shard_id", "term_id").sortWithinPartitions(
        "shard_id", "term_id", "doc_id"
    )
    slugs = [METHOD_SLUGS[m] for m in METHODS]
    dps = docs_per_shard

    def assemble(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            sid = pdf["shard_id"].values
            tid = pdf["term_id"].values
            change = np.flatnonzero(
                (sid[1:] != sid[:-1]) | (tid[1:] != tid[:-1])
            ) + 1
            if change.size == 0:
                carry = pdf  # one (possibly incomplete) group: hold it
                continue
            last = int(change[-1])
            carry = pdf.iloc[last:].copy()
            out = _emit_groups(pdf.iloc[:last],
                               np.concatenate(([0], change[:-1], [last])),
                               slugs, dps)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = _emit_groups(carry, np.array([0, len(carry)]), slugs, dps)
            if out is not None:
                yield out

    assembled = flat.mapInPandas(assemble, ASSEMBLE_SCHEMA)
    # vocab-sized join puts term/df back on the ~(shards × terms) output
    return assembled.join(
        F.broadcast(index.term_stats.select("term_id", "term", "df")), "term_id"
    ).select([f.name for f in SHARD_SCHEMA_FIELDS])


def _emit_groups(pdf: pd.DataFrame, bounds: np.ndarray, slugs, dps: int) -> pd.DataFrame | None:
    """Assemble one output row per (shard_id, term_id) group; ``bounds``
    holds group start offsets plus the final end offset."""
    if len(pdf) == 0:
        return None
    doc = pdf["doc_id"].values
    local = (doc % dps).astype(np.int32)
    starts, ends = bounds[:-1], bounds[1:]
    heads = starts  # first row index of each group
    imp_cols = {s: pdf[f"imp_{s}"].values for s in slugs}
    tfs = pdf["tf"].values
    dls = pdf["dl"].values
    rows: dict[str, list] = {
        "shard_id": pdf["shard_id"].values[heads],
        "term_id": pdf["term_id"].values[heads],
        "n_postings": (ends - starts).astype(np.int32),
        "doc_gaps": [], "tfs": [], "dls": [],
    }
    for s in slugs:
        rows[f"impacts_{s}"] = []
    for a, b in zip(starts, ends):
        loc = local[a:b]
        rows["doc_gaps"].append(np.diff(loc, prepend=np.int32(0)))
        rows["tfs"].append(tfs[a:b])
        rows["dls"].append(dls[a:b])
        for s in slugs:
            rows[f"impacts_{s}"].append(imp_cols[s][a:b])
    return pd.DataFrame(rows)


def ensure_sharded(index: BM25Index) -> DataFrame:
    if index.sharded is None:
        index.sharded = build_sharded_postings(index).persist()
    return index.sharded


def _query_payload(index: BM25Index, qpdf: pd.DataFrame, method: str,
                   idf_method: str, qidx: dict, exact: bool = False,
                   allow_negative: bool = False):
    """Driver-side broadcast payload for one chunk of queries.

    ``qpdf``: pandas frame of (query_id, term, mult, df) for the chunk's
    in-vocab terms (an Arrow ``toPandas`` slice — columnar, ~10× denser
    than collected Row objects); ``qidx`` maps query_id → *global* query
    index.  Returns ({term: [(q_idx, mult)]}, {term: cross_info}).
    ``cross_info`` is None for the standard combos (the stored eager
    impact is used verbatim); for ``idf_method != method`` — or
    ``exact=True`` — it carries ``(idf_i, nnoc_mi)`` so the kernel
    recomputes the exact float64 impact ``idf_i·tfc_m(tf, dl) − nnoc_mi``
    from the stored tf/dl arrays (no rescale approximation — robust even
    when the stored variant's idf is zero, e.g. robertson's clamp or
    atire with df=N).
    """
    n, avgdl = index.num_docs, index.avg_doc_len
    k1, b, delta = index.k1, index.b, index.delta
    per_term: dict[str, list[tuple[int, float]]] = {}
    cross: dict[str, tuple[float, float] | None] = {}
    for qid, term, mult, df in zip(
        qpdf["query_id"].values, qpdf["term"].values,
        qpdf["mult"].values, qpdf["df"].values,
    ):
        mult = float(mult)
        df = float(df)
        if df <= 0:
            continue  # the "" patch token: no postings, contributes via nnoc only
        if term not in cross:
            if idf_method == method and not exact and not allow_negative:
                cross[term] = None
            else:
                idf_i = scoring.idf_value(idf_method, df, n, allow_negative)
                nnoc_mi = scoring.nnoc_value(
                    method, idf_method, df, n, avgdl, k1, b, delta,
                    allow_negative,
                )
                cross[term] = (idf_i, nnoc_mi)
        per_term.setdefault(term, []).append((qidx[qid], mult))
    return per_term, cross


def _mask_shard_rows(weight_mask_df: DataFrame, docs_per_shard: int) -> DataFrame:
    """(doc_id, weight) → one row per shard with aligned (locals, weights)
    arrays, union-compatible with the kernel's input rows (``is_mask``
    marks them; ``doc_gaps`` carries raw locals, ``imps`` the weights).

    This replaces a driver-side ``collect()`` of the mask: the mask is
    O(num_docs), so at cluster scale it must stay distributed.  Each
    group is bounded by ``docs_per_shard`` — the same skew bound as the
    postings layout — and the join to the kernel input is just a union +
    the existing shard_id repartition (mask rows co-locate with their
    shard's postings for free).
    """
    pairs = weight_mask_df.select(
        (F.col("doc_id") / docs_per_shard).cast("long").alias("shard_id"),
        F.struct(
            (F.col("doc_id") % docs_per_shard).cast("int").alias("local"),
            F.col("weight").cast("float").alias("weight"),
        ).alias("lw"),
    )
    grouped = pairs.groupBy("shard_id").agg(
        F.sort_array(F.collect_list("lw")).alias("lws")
    )
    return grouped.select(
        "shard_id",
        F.lit(None).cast("string").alias("term"),
        F.transform("lws", lambda s: s["local"]).alias("doc_gaps"),
        F.lit(None).cast("array<int>").alias("tfs"),
        F.lit(None).cast("array<int>").alias("dls"),
        F.transform("lws", lambda s: s["weight"]).alias("imps"),
        F.lit(True).alias("is_mask"),
    )


def _local_qstats(
    index: BM25Index,
    probe_pdf: pd.DataFrame,
    query_id_col: str,
    text_col: str,
    local_tok,
    nnoc_cols,
) -> pd.DataFrame:
    """Driver-side twin of the ``tokenize_queries ⨝ term_stats`` metadata
    pull for a ≤chunk batch already resident as ``probe_pdf``.

    Tokenization runs on the driver (``count_query_terms``; ``local_tok``
    ``None`` means pre-tokenized arrays).  Only the per-term df lookup
    touches Spark: the batch's distinct terms (bounded by chunk × query
    length) broadcast-join into the vocab-sized ``term_stats`` — one
    JVM-only job, no Python workers, no explode/groupBy shuffle.  Output
    columns/dtypes match the distributed ``qstats.toPandas()`` frame:
    (query_id, term, mult, df[, _nnoc]) with inner-join semantics (OOV
    and null terms and empty-token queries drop here, exactly as the
    distributed join drops them)."""
    qt = count_query_terms(probe_pdf, query_id_col, text_col, local_tok)
    distinct_terms = sorted(t for t in qt["term"].unique() if t is not None)
    if distinct_terms:
        tdf = local_relation(
            index.spark, [(t,) for t in distinct_terms], "term string"
        )
        stats = (
            index.term_stats.join(F.broadcast(tdf), "term")
            .select("term", "df", *nnoc_cols)
            .toPandas()
        )
    else:
        stats = pd.DataFrame({"term": pd.Series([], dtype=object),
                              "df": pd.Series([], dtype="int64")})
        if nnoc_cols:
            stats["_nnoc"] = pd.Series([], dtype="float64")
    out_cols = ["query_id", "term", "mult", "df"] + (
        ["_nnoc"] if nnoc_cols else []
    )
    return qt.merge(stats, on="term", how="inner")[out_cols]


def retrieve_sharded(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    method: str = "lucene",
    idf_method: str | None = None,
    weight_mask_df: DataFrame | None = None,
    pad: bool = True,
    prune: bool = True,
    exact: bool = False,
    round_to: int | None = None,
    query_chunk_size: int = 16384,
    allow_negative: bool = False,
    query_id_col: str = "query_id",
    text_col: str = "text",
    metrics: dict | None = None,
) -> DataFrame:
    """Scatter-gather top-k over the doc-sharded index.

    ``metrics``: optional dict — filled with Spark accumulators
    ``shards_scored`` / ``postings_scanned`` (entries loaded, once per
    (shard, term)) / ``postings_scored`` (scatter-adds performed, once
    per (query, shard, term) posting — the count MaxScore pruning
    reduces) / ``candidates_emitted``
    (query-side twins of the build's per-partition lineage counters in
    ``checkpoint.py``).  Accumulators aggregate as tasks complete, so
    read ``.value`` AFTER consuming the returned DataFrame (the chunked
    path materializes eagerly, the single-chunk path on the caller's
    action).  Unlike the build's lineage counters, these update inside a
    transformation, where Spark does NOT deduplicate task retries or
    speculative attempts — values are at-least-once and should be read
    as approximate telemetry, not exact counts.

    ``prune=True`` enables the TAAT MaxScore pruning inside the kernel
    (each loaded posting list's maximum impact is its upper bound;
    disabled automatically when a weight mask is present).  Result sets
    are identical up to tie-group membership.

    ``exact=True`` recomputes every impact in float64 from the stored
    (tf, dl) arrays instead of reading the float32 eager impacts — used
    by the correctness gate to compare the kernel path against a
    double-precision oracle bit-stably.  ``round_to`` (gate mode) rounds
    scores to that many decimals *before* the local top-k and breaks
    ties doc_id-ascending, so the kernel's candidate cut agrees exactly
    with an oracle ranking on rounded scores.

    **Probe.** Every call first pulls at most ``query_chunk_size + 1``
    query rows — ids AND text — to the driver (one Arrow job).  A batch
    that fits (≤ ``query_chunk_size`` rows) takes its query metadata
    from those rows: the driver tokenizer twin counts terms locally and
    one JVM-only broadcast join fetches their df; the stemmer-less
    ``engine="sql"`` tokenizer, which has no driver twin, runs over the
    probed rows as a local relation instead.  With very large per-query
    text (documents-as-queries) lower ``query_chunk_size`` or
    pre-tokenize to keep the probe byte-bounded.  The returned plan of a
    fitting batch is fully lazy (one kernel job); its broadcast lives as
    long as the returned DataFrame.

    **Chunks.** A larger batch is streamed through the kernel in chunks
    of ``query_chunk_size`` query ids: each chunk pulls *only its own*
    (query_id, term, mult, df) metadata to the driver (Arrow ``toPandas``
    on a chunk filter), broadcasts it, materializes its candidate set
    (``localCheckpoint``), and destroys its broadcast before the next
    chunk starts.  Driver peak is therefore O(chunk) for the metadata
    and broadcasts; the only O(batch) driver-side structures left are
    the sorted query-id list (ids only — the reference holds the full
    query set in RAM, ``reference/bm25s/__init__.py:759-803``) and the
    per-query nnoc sums.

    **Pad.** ``pad=True`` returns exactly k rows per query.  The 2·k
    lowest doc ids are unioned as score-0 candidates against every query
    id of the batch (all-OOV and empty queries included) before the
    final merge, which adds the query's nnoc constant and drops a pad
    row whose doc already has a real candidate; the merge's single
    top-k cut then serves both real and pad rows.
    """
    idf_method = idf_method or method
    if k > index.num_docs:
        raise ValueError(
            f"k={k} is larger than the number of documents ({index.num_docs})"
        )
    if round_to is not None and prune:
        # MaxScore's theta ≥ remaining cutoff runs on unrounded scores:
        # a doc whose *rounded* score ties the in-shard kth bound could
        # be evicted, breaking round_to's oracle-stable tie contract.
        # The kernel also forces this off as a belt-and-braces guard.
        raise ValueError(
            "round_to (gate mode) requires prune=False: MaxScore pruning "
            "on unrounded scores can evict docs that tie the kth rounded "
            "score."
        )
    spark = index.spark
    sharded = ensure_sharded(index)
    docs_per_shard = index.docs_per_shard
    qid_type = queries_df.schema[query_id_col].dataType

    # a reference-format import (compat.import_bm25s) carries stored
    # per-term nnoc values but no (avgdl, dl) to recompute them from —
    # ride the stored column along the metadata pull instead
    compat_nnoc = (
        getattr(index, "compat_import", None) is not None
        and method in METHODS_REQUIRING_NNOC
    )
    _nnoc_cols = (
        [F.col(NNOC_COLS[method]).alias("_nnoc")] if compat_nnoc else []
    )

    def qstats_of(qterms: DataFrame) -> DataFrame:
        return qterms.join(
            index.term_stats.select("term", "df", *_nnoc_cols), "term"
        ).select("query_id", "term", "mult", "df",
                 *(["_nnoc"] if compat_nnoc else []))

    # batch-size probe doubling as the metadata pull: the ≤chunk+1 query
    # rows themselves (one tiny Arrow job).  A ≤chunk batch tokenizes ON
    # THE DRIVER (milliseconds for a few thousand short strings, identical
    # output by construction: make_local_tokenizer shares the UDF's
    # kernel closure) and only the vocab-side df lookup runs as a Spark
    # job.  Row count over-approximates distinct ids, which can only push
    # a duplicated-id batch onto the chunked path — correct either way.
    # A >chunk batch discards this one bounded pull; an id-only count
    # first would put a second Spark job on every interactive batch.
    pretok = isinstance(queries_df.schema[text_col].dataType, ArrayType)
    local_tok = (
        None if pretok
        else make_local_tokenizer(**index.tokenizer_kwargs)
    )
    probe_pdf = (
        queries_df.select(query_id_col, text_col)
        .limit(query_chunk_size + 1)
        .toPandas()
    )
    bounded = len(probe_pdf) <= query_chunk_size
    if bounded:
        ids = probe_pdf[query_id_col]
        has_null_id = bool(ids.isna().any())
        # every query id of the batch, all-OOV queries included: each
        # gets a q_idx, hence pad rows
        query_ids = sorted(pd.unique(ids.dropna()).tolist())
    else:
        query_ids = [
            r[0] for r in queries_df.select(query_id_col).distinct()
            .orderBy(query_id_col).collect()
        ]
        has_null_id = bool(query_ids) and query_ids[0] is None
    if has_null_id:
        raise ValueError(
            f"null {query_id_col!r} in query batch — every query needs a "
            "non-null id (results are keyed by it)"
        )
    if not bounded:
        # the batch is already known to exceed the chunk size — skip
        # tokenize_queries' own driver-localization probe
        qstats = qstats_of(tokenize_queries(
            index, queries_df, query_id_col, text_col, localize_max=0
        )).persist()
    elif pretok or local_tok is not None:
        qpdf = _local_qstats(
            index, probe_pdf, query_id_col, text_col, local_tok, _nnoc_cols,
        )
    else:
        # stemmer-less "sql" tokenizer: no driver twin (its regex engine
        # is the JVM's) — tokenize the probed rows as a local relation
        probed = local_relation(
            spark, list(probe_pdf.itertuples(index=False, name=None)),
            queries_df.select(query_id_col, text_col).schema,
        )
        qpdf = qstats_of(tokenize_queries(
            index, probed, query_id_col, text_col, localize_max=0
        )).toPandas()
    slug = METHOD_SLUGS[method]
    # allow_negative (robertson idf unclamped) rides the cross-recompute
    # path: the stored float32 impacts are clamped, but tf/dl are kept
    allow_negative = allow_negative and idf_method == "robertson"
    is_cross = idf_method != method or exact or allow_negative
    qidx = {q: i for i, q in enumerate(query_ids)}
    has_mask = weight_mask_df is not None

    acc_shards = acc_postings = acc_cands = acc_scored = None
    if metrics is not None:
        sc = spark.sparkContext
        acc_shards = sc.accumulator(0)
        acc_postings = sc.accumulator(0)
        acc_cands = sc.accumulator(0)
        acc_scored = sc.accumulator(0)
        metrics["shards_scored"] = acc_shards
        metrics["postings_scanned"] = acc_postings
        metrics["candidates_emitted"] = acc_cands
        # scatter-adds actually performed: < postings_scanned × queries
        # hitting each term when MaxScore pruning masks adds
        metrics["postings_scored"] = acc_scored

    imp_col = f"impacts_{slug}"
    if is_cross:
        base_needed = sharded.select(
            "shard_id", "term", "doc_gaps", "tfs", "dls",
            F.col(imp_col).alias("imps"),
        )
    else:
        base_needed = sharded.select(
            "shard_id", "term", "doc_gaps",
            F.lit(None).cast("array<int>").alias("tfs"),
            F.lit(None).cast("array<int>").alias("dls"),
            F.col(imp_col).alias("imps"),
        )
    mask_rows_df = (
        _mask_shard_rows(weight_mask_df, docs_per_shard).persist()
        if has_mask else None
    )

    # one task ≈ one shard: explicit numPartitions (AQE won't coalesce an
    # explicit repartition) sized to the shard count so the kernel gets
    # fine-grained tasks — wave scheduling absorbs shard-to-shard skew
    # instead of one straggler task setting the stage's wall clock
    n_shards = (index.num_docs + docs_per_shard - 1) // docs_per_shard
    default_par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = max(default_par, min(n_shards, 4096))

    out_schema = StructType([
        StructField("q_idx", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ])

    def run_chunk(chunk_pdf: pd.DataFrame):
        per_term, cross = _query_payload(
            index, chunk_pdf, method, idf_method, qidx, exact=exact,
            allow_negative=allow_negative,
        )
        bc = spark.sparkContext.broadcast(
            (per_term, cross, docs_per_shard, k,
             (method, index.avg_doc_len, index.k1, index.b, index.delta),
             prune, has_mask, round_to)
        )
        # only shards containing query terms matter; prune with a
        # broadcast semi join on term before the scan-heavy kernel
        terms_df = local_relation(
            spark, [(t,) for t in per_term], "term string"
        )
        needed = base_needed.join(
            F.broadcast(terms_df), "term", "left_semi"
        ).withColumn("is_mask", F.lit(False))
        if mask_rows_df is not None:
            needed = needed.unionByName(mask_rows_df)
        needed = (
            # co-locate each shard's rows and make them contiguous so the
            # kernel can stream shard-by-shard across Arrow batch
            # boundaries; mask rows land with their shard's postings
            needed.repartition(n_parts, "shard_id")
            .sortWithinPartitions("shard_id")
        )
        return needed.mapInPandas(_make_kernel(bc, out_schema), out_schema), bc

    def _make_kernel(bc, _schema):
        def score_partition(batches):
            (per_term_l, cross_l, dps, k_l,
             (method_l, avgdl_l, k1_l, b_l, delta_l),
             prune_l, has_mask_l, round_l) = bc.value
            # per-query term lists within the current shard
            cur_shard = None
            cur_rows: list[tuple[str, np.ndarray, np.ndarray]] = []
            cur_mask: tuple[np.ndarray, np.ndarray] | None = None

            def flush(shard_id, rows, mask_lw):
                """Score one complete shard: NumPy scatter-add per query
                into a dense float32 vector of the shard's doc range (the
                reference kernel, bm25s/__init__.py:272-324, bounded per
                shard), then argpartition local top-k
                (bm25s/selection.py:14-37).  ``mask_lw``: optional
                (locals, weights) arrays — the shard's slice of the doc
                weight mask, pre-joined into the layout (never collected
                to the driver)."""
                if not rows:
                    return None
                base = shard_id * dps
                shard_w = None
                if mask_lw is not None:
                    shard_w = np.ones(dps, dtype=np.float32)
                    shard_w[mask_lw[0]] = mask_lw[1]
                # invert to per-query posting lists once (not per query
                # scan); keyed by global q_idx — only queries touching
                # this shard allocate anything
                per_query: dict[int, list] = {}
                n_postings_seen = 0
                for term, gaps, vals, tfs, dls in rows:
                    entries = per_term_l.get(term)
                    if not entries:
                        continue
                    n_postings_seen += len(gaps)
                    local = np.cumsum(gaps, dtype=np.int64)
                    info = cross_l.get(term)
                    if info is not None:
                        # exact (cross or float64-gate) impact from tf/dl
                        idf_i, nnoc_mi = info
                        vals = (
                            idf_i
                            * scoring.tfc_numpy(
                                method_l, tfs, dls, avgdl_l, k1_l, b_l, delta_l
                            )
                            - nnoc_mi
                        )
                        if not exact:
                            vals = vals.astype(np.float32)
                    ub = float(vals.max()) if vals.size else 0.0
                    for e_q, mult in entries:
                        per_query.setdefault(e_q, []).append(
                            (local, vals, mult, mult * ub)
                        )
                rows_q, rows_d, rows_s = [], [], []
                # posting entries actually scatter-added — the count
                # MaxScore's masked mode reduces (postings_scanned counts
                # entries LOADED, which pruning cannot reduce in a
                # term-at-a-time kernel: the list is read to test the
                # touched mask)
                n_scored = 0
                # invariant: acc == 0 and touched == False between
                # queries — only the ≤|candidates| written positions are
                # reset at the end of each query, not the whole dps-sized
                # vectors (a full memset + full-array nonzero per
                # (query, shard) is pure memory-bandwidth waste, the
                # resource that stops scaling first on a many-core host)
                acc = np.zeros(dps, dtype=np.float64 if exact else np.float32)
                touched = np.zeros(dps, dtype=bool)
                # pruning is only safe with nonnegative impacts and no
                # doc weights >1; masks disable it.  round_to (gate
                # mode) also disables it: MaxScore's cutoff runs on
                # unrounded scores, so it could evict a doc whose
                # *rounded* score ties the in-shard kth bound
                do_prune = prune_l and not has_mask_l and round_l is None
                for q_i, plists in per_query.items():
                    if do_prune and len(plists) > 1:
                        # TAAT MaxScore over the shard (the block-max
                        # use): process terms in descending upper bound;
                        # once the in-shard kth score exceeds the sum of
                        # remaining terms' block maxima, docs not yet
                        # touched cannot enter this shard's top-k →
                        # masked adds only.
                        plists = sorted(plists, key=lambda p: -p[3])
                        ubs = [p[3] for p in plists]
                        remaining = np.cumsum(ubs[::-1])[::-1]
                        theta = None
                        masked_mode = False
                        for i, (local, vals, mult, _ub) in enumerate(plists):
                            contrib = vals if mult == 1.0 else vals * np.float32(mult)
                            if not masked_mode and i > 0:
                                t_idx = np.nonzero(touched)[0]
                                if t_idx.size >= k_l:
                                    sc_t = acc[t_idx]
                                    theta = float(
                                        np.partition(sc_t, -k_l)[-k_l]
                                    )
                                    if theta >= remaining[i]:
                                        masked_mode = True
                            if masked_mode:
                                sel = touched[local]
                                n_sel = int(sel.sum())
                                n_scored += n_sel
                                if n_sel:
                                    acc[local[sel]] += contrib[sel]
                            else:
                                acc[local] += contrib
                                touched[local] = True
                                n_scored += local.size
                    else:
                        for local, vals, mult, _ub in plists:
                            if mult == 1.0:
                                acc[local] += vals
                            else:
                                acc[local] += vals * np.float32(mult)
                            touched[local] = True
                            n_scored += local.size
                    idx = np.nonzero(touched)[0]
                    if idx.size == 0:
                        continue
                    sc = acc[idx]  # fancy indexing copies
                    # restore the invariant for the next query
                    acc[idx] = 0.0
                    touched[idx] = False
                    if shard_w is not None:
                        # vectorized slice of the pre-joined mask — the
                        # reference multiplies the dense score vector by
                        # the mask before the nnoc add-back
                        # (reference/bm25s/__init__.py:610-612)
                        sc = sc * shard_w[idx]
                    kk = min(k_l, sc.shape[0])
                    if round_l is not None:
                        # gate mode: oracle-equivalent selection — round
                        # first, break ties doc_id-ascending (idx is
                        # already ascending, so a stable descending sort
                        # of -sc preserves it)
                        sc = np.round(sc, round_l)
                        part = np.argsort(-sc, kind="stable")[:kk]
                    elif kk < sc.shape[0]:
                        part = np.argpartition(sc, -kk)[-kk:]
                    else:
                        part = np.arange(sc.shape[0])
                    rows_q.append(np.full(part.shape[0], q_i, dtype=np.int32))
                    rows_d.append(base + idx[part].astype(np.int64))
                    rows_s.append(sc[part].astype(np.float64))
                if acc_shards is not None:
                    acc_shards.add(1)
                    acc_postings.add(int(n_postings_seen))
                    acc_scored.add(int(n_scored))
                if not rows_q:
                    return None
                out_q = np.concatenate(rows_q)
                if acc_cands is not None:
                    acc_cands.add(int(out_q.shape[0]))
                return pd.DataFrame({
                    "q_idx": out_q,
                    "doc_id": np.concatenate(rows_d),
                    "score": np.concatenate(rows_s),
                })

            for pdf in batches:
                for shard_id, term, gaps, vals, tfs, dls, is_mask in zip(
                    pdf["shard_id"].values, pdf["term"].values,
                    pdf["doc_gaps"].values, pdf["imps"].values,
                    pdf["tfs"].values, pdf["dls"].values,
                    pdf["is_mask"].values,
                ):
                    if cur_shard is not None and shard_id != cur_shard:
                        out = flush(int(cur_shard), cur_rows, cur_mask)
                        if out is not None:
                            yield out
                        cur_rows = []
                        cur_mask = None
                    cur_shard = shard_id
                    if is_mask:
                        cur_mask = (
                            np.asarray(gaps, dtype=np.int64),
                            np.asarray(vals, dtype=np.float32),
                        )
                        continue
                    cur_rows.append((
                        term,
                        np.asarray(gaps, dtype=np.int64),
                        np.asarray(
                            vals, dtype=np.float64 if exact else np.float32
                        ),
                        None if tfs is None else np.asarray(tfs, dtype=np.int64),
                        None if dls is None else np.asarray(dls, dtype=np.int64),
                    ))
            if cur_shard is not None:
                out = flush(int(cur_shard), cur_rows, cur_mask)
                if out is not None:
                    yield out

        return score_partition

    # query ids keep their native type (string, int, …): schema is built
    # from the queries_df column type, never forced to string
    qid_schema = StructType([
        StructField("q_idx", IntegerType(), False),
        StructField("query_id", qid_type, False),
    ])
    qid_df = local_relation(
        spark, [(i, q) for i, q in enumerate(query_ids)], qid_schema
    )

    # per-query nnoc sums (reference/bm25s/__init__.py:614-618) are
    # accumulated driver-side chunk by chunk — no second
    # query-tokenization job, and no join at all for methods without a
    # nonoccurrence term (robertson/lucene/atire)
    nnoc_sums: dict = {}

    def accum_nnoc(pdf: pd.DataFrame) -> None:
        if method not in METHODS_REQUIRING_NNOC:
            return
        if "_nnoc" in pdf.columns:
            # compat import: use the file's stored per-term nnoc verbatim
            for qid, mult, nv in zip(
                pdf["query_id"].values, pdf["mult"].values, pdf["_nnoc"].values
            ):
                v = float(nv) if pd.notna(nv) else 0.0
                nnoc_sums[qid] = nnoc_sums.get(qid, 0.0) + float(mult) * v
            return
        for qid, mult, dfv in zip(
            pdf["query_id"].values, pdf["mult"].values, pdf["df"].values
        ):
            dfv = float(dfv)
            v = (
                scoring.nnoc_value(
                    method, idf_method, dfv, index.num_docs,
                    index.avg_doc_len, index.k1, index.b, index.delta,
                    allow_negative,
                )
                if dfv > 0 else 0.0
            )
            nnoc_sums[qid] = nnoc_sums.get(qid, 0.0) + float(mult) * v

    # chunk the query batch: each chunk is one bounded metadata pull +
    # one bounded broadcast + one kernel pass, materialized before the
    # next chunk starts so per-chunk broadcasts can be destroyed eagerly
    if bounded:
        accum_nnoc(qpdf)
        # single chunk: fully lazy (one job); the broadcast lives as
        # long as the returned plan does
        candidates, _bc = run_chunk(qpdf)
    else:
        n_chunks = (len(query_ids) + query_chunk_size - 1) // query_chunk_size
        chunked = qstats.join(F.broadcast(qid_df), "query_id").withColumn(
            "_chunk", (F.col("q_idx") / query_chunk_size).cast("int")
        )

        def process_chunk(ci: int):
            # pull ONLY this chunk's (query_id, term, mult, df) rows —
            # driver metadata peak is O(in-flight chunks), not O(batch)
            cpdf = (
                chunked.where(F.col("_chunk") == ci)
                .select("query_id", "term", "mult", "df",
                        *(["_nnoc"] if compat_nnoc else []))
                .toPandas()
            )
            part, bc = run_chunk(cpdf)
            # materialize this chunk's candidates (≤ shards×k rows per
            # query — tiny) so its broadcast can be destroyed NOW; a
            # lazy union would keep every chunk's broadcast referenced
            # until the final action, accumulating ~the full batch in
            # the driver/block manager for 10^6-query jobs.  With a
            # checkpoint dir configured (cluster deployments), use the
            # RELIABLE checkpoint: localCheckpoint blocks die with their
            # executor and the destroyed broadcast leaves no recompute
            # path, so an executor loss mid-batch would fail the job
            from bm25s_spark.util import eager_checkpoint

            part = eager_checkpoint(part)
            bc.destroy()
            # reduce the chunk's metadata to its per-query nnoc partial
            # HERE so the full (query_id, term, mult, df) frame dies with
            # this call — returning it would re-accumulate O(batch) rows
            # on the driver across the pool results.  Chunks partition
            # the query ids, so concurrent accum_nnoc calls write
            # disjoint keys (single atomic dict stores under the GIL)
            accum_nnoc(cpdf)
            return part

        # a 2-deep thread pool overlaps consecutive chunks (Spark
        # schedules jobs from separate threads concurrently), recovering
        # the stage pipelining a strictly sequential materialize-barrier
        # loop gives up, while broadcast + metadata memory stays bounded
        # by the in-flight window instead of the whole batch
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            parts = list(pool.map(process_chunk, range(n_chunks)))
        candidates = parts[0]
        for part in parts[1:]:
            candidates = candidates.unionByName(part)
        qstats.unpersist()
        if mask_rows_df is not None:
            mask_rows_df.unpersist()

    if pad:
        # pad folded INTO the final merge: union the 2·k-lowest-doc pool
        # (score 0 — the nnoc add below lifts pads to the same nnoc-floor
        # value the reference's dense vector assigns unmatched docs)
        # against every query id before the merge, so one top-k cut
        # serves real and pad rows alike.  Matched pool docs keep their
        # real score — the merge drops their pad twin.
        pool = index.doc_lens.select("doc_id").orderBy("doc_id").limit(2 * k)
        pad_rows = (
            F.broadcast(qid_df.select("q_idx")).crossJoin(pool)
            .select(
                "q_idx", F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(0.0).alias("score"),
                F.lit(True).alias("is_pad"),
            )
        )
        candidates = candidates.withColumn(
            "is_pad", F.lit(False)
        ).unionByName(pad_rows)

    # final exact merge: ≤ shards×k candidates per query — tiny
    merged = candidates.join(F.broadcast(qid_df), "q_idx").drop("q_idx")

    if method in METHODS_REQUIRING_NNOC:
        if nnoc_sums:
            nnoc_schema = StructType([
                StructField("query_id", qid_type, False),
                StructField("nnoc_sum", DoubleType(), False),
            ])
            nnoc = local_relation(
                spark,
                [
                    (q.item() if hasattr(q, "item") else q, s)
                    for q, s in nnoc_sums.items()
                ],
                nnoc_schema,
            )
            merged = (
                merged.join(F.broadcast(nnoc), "query_id", "left")
                .withColumn(
                    "score",
                    F.col("score") + F.coalesce(F.col("nnoc_sum"), F.lit(0.0)),
                )
                .drop("nnoc_sum")
            )

    final_schema = StructType([
        StructField("query_id", qid_type, False),
        StructField("rank", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ])

    def final_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # the reference's numpy top-k routine on the candidate set for tie
        # parity (reference/bm25s/selection.py:14-37): argpartition then
        # descending argsort of the k-partition
        if "is_pad" in pdf.columns:
            # pad rows: a doc with a real (kernel) candidate row keeps
            # that row only — its pad twin is dropped here
            isp = pdf["is_pad"].to_numpy()
            if isp.any():
                real_docs = pdf["doc_id"].to_numpy()[~isp]
                drop = isp & pdf["doc_id"].isin(real_docs).to_numpy()
                if drop.any():
                    pdf = pdf[~drop]
        sc = pdf["score"].to_numpy()
        kk = min(k, sc.shape[0])
        if round_to is not None:
            # gate mode: candidate row order after the shuffle is
            # arbitrary, so a rounded tie group spanning the k boundary
            # needs the oracle's full (score desc, doc_id asc) order —
            # lexsort mirrors the per-shard stable selection
            rs = np.round(sc, round_to)
            order = np.lexsort((pdf["doc_id"].to_numpy(), -rs))[:kk]
        else:
            # deterministic (score desc, doc_id asc) — the documented
            # tie contract; argpartition + stable argsort would break
            # cross-shard ties by shuffle arrival order, and a full
            # lexsort over the ≤ shards×k candidate sliver is just as
            # cheap
            order = np.lexsort((pdf["doc_id"].to_numpy(), -sc))[:kk]
        return pd.DataFrame({
            "query_id": np.full(kk, key[0]),
            "rank": np.arange(1, kk + 1, dtype=np.int32),
            "doc_id": pdf["doc_id"].to_numpy()[order],
            "score": sc[order],
        })

    return merged.groupBy("query_id").applyInPandas(final_topk, final_schema)
