"""Doc-sharded index layout + the scatter-gather query kernel.

This is the piece that makes the engine hold at 10^12 documents.

**Layout.** Postings are grouped by ``(shard_id, term)`` where
``shard_id = doc_id // docs_per_shard`` — classic document sharding, the
way every horizontally-scaled search engine partitions its index.  Each
row holds the term's postings *within one shard* as columnar arrays:
delta-encoded local doc gaps (``reference`` stores raw int32 ids,
``reference/bm25s/__init__.py:432-438`` — delta encoding is our
compression addition) plus the postings' ``tf`` and ``dl``.  No impact
is stored: impacts depend on the corpus statistics (N, avgdl, df), and
the kernel computes them from (tf, dl) and two scalars per term, as the
join strategy does over the flat ``postings`` table.  A reference-format
import (``compat.import_bm25s``) has no real (tf, dl), so its layout
adds one ``imps`` array of the file's stored impacts, scored verbatim.
No block-max column is stored: the kernel takes each loaded list's
maximum as its MaxScore upper bound.

Doc-sharding also *structurally* bounds term skew: the per-group
``collect_list`` for even the most frequent term caps at
``docs_per_shard`` elements, so the Zipf head can never melt a single
reducer.  (The term-ordered save layout still uses an explicit salted
two-phase merge — see ``index_io.py``.)

**Query kernel.** Queries are tokenized, looked up in the term
dictionary (OOV drop) and turned into one small payload
``{term -> [(query_idx, mult)]}`` plus ``{term -> (idf, nnoc)}``; one
kernel pass over the sharded postings of those terms then scores every
query against every shard.  It runs in a ``mapInPandas`` stage, or, for
a bounded batch with little scatter-add work, in the driver process
over the pulled layout rows (``IN_PROCESS_WORK_MAX``).  Each loaded
posting list is scored once as
``idf·tfc(tf, dl) − nnoc`` (``scoring.tfc_numpy``, the NumPy twin of the
build's impact expressions) — one expression for every
``method × idf_method`` combination, float64 with ``exact=True`` and
float32, the reference's storage dtype, otherwise.  A NumPy scatter-add
then accumulates each query into a dense vector of ``docs_per_shard``
elements — the *same* kernel as the reference's
``_compute_relevance_from_scores`` (``reference/bm25s/__init__.py:272-324``,
``np.add.at`` at ``:318``) but over a bounded doc range — followed by a
local ``argpartition`` top-k (``reference/bm25s/selection.py:14-37``).
Each shard emits ≤k candidates per query, so the kernel's output is
``n_queries × k × n_shards`` rows.  The final exact top-k merge is one
vectorized NumPy pass over candidates (``_merge_topk``): it adds every
query's nnoc sum, sorts all queries at once by (query, score desc,
doc_id asc) with one ``lexsort``, cuts k rows per query and maps the
query index back to its id.  A bounded batch merges on the driver; a
chunked batch hashes each chunk's candidates on the query index and
merges every partition.
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
from bm25s_spark.compat import NNOC_COLS
from bm25s_spark.indexer import (
    PAD_POOL, TERM_DICT, VOCAB_LOCALIZE_MAX, BM25Index,
)
from bm25s_spark.scoring import METHODS_REQUIRING_NNOC
from bm25s_spark.retrieval import count_query_terms, tokenize_queries
from bm25s_spark.tokenization import make_local_tokenizer
from bm25s_spark.util import local_relation


SHARD_SCHEMA_FIELDS = [
    StructField("shard_id", LongType(), False),
    StructField("term_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("n_postings", IntegerType(), False),
    StructField("doc_gaps", ArrayType(IntegerType()), False),
    StructField("tfs", ArrayType(IntegerType()), False),
    StructField("dls", ArrayType(IntegerType()), False),
]
# only in the layout of a reference-format import: its stored impacts
IMPS_FIELD = StructField("imps", ArrayType(FloatType()), False)

# Scatter-add work (Σ df over a bounded batch's (query, term) rows) up to
# which the kernel runs in the driver process instead of a mapInPandas
# stage.  On a one-query batch the mapInPandas stage costs ~0.18 s more
# (0.30 against 0.12 s, t2 index, 4 cores); at 2^18
# the driver pulls at most ~3 MB of layout arrays (12 B per posting) and
# scores them in a few tens of ms on one core.  More work goes to the
# executors, where the kernel scales with cores and the driver's
# footprint stays bounded.
IN_PROCESS_WORK_MAX = 1 << 18


def build_sharded_postings(index: BM25Index, docs_per_shard: int | None = None) -> DataFrame:
    """Flat postings → blocked (shard_id, term) rows with delta-encoded
    doc gaps and the postings' tf/dl arrays.

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
    imported = index.compat_import is not None
    # NUMERIC COLUMNS ONLY through the Arrow pass — per-posting strings
    # (term) would cost one Python object per posting in the pandas
    # conversion; term is joined back onto the vocab-sized output.
    flat = p.withColumn(
        "shard_id", (F.col("doc_id") / docs_per_shard).cast("long")
    ).select(
        "shard_id", "term_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"),
        *([F.col("imps").cast("float").alias("imp")] if imported else []),
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    flat = flat.repartition(n_parts, "shard_id", "term_id").sortWithinPartitions(
        "shard_id", "term_id", "doc_id"
    )
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
                               dps)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = _emit_groups(carry, np.array([0, len(carry)]), dps)
            if out is not None:
                yield out

    fields = SHARD_SCHEMA_FIELDS + ([IMPS_FIELD] if imported else [])
    assembled = flat.mapInPandas(
        assemble, StructType([f for f in fields if f.name != "term"])
    )
    # vocab-sized join puts term back on the ~(shards × terms) output
    return assembled.join(
        F.broadcast(index.term_stats.select("term_id", "term")), "term_id"
    ).select([f.name for f in fields])


def _emit_groups(pdf: pd.DataFrame, bounds: np.ndarray, dps: int) -> pd.DataFrame | None:
    """Assemble one output row per (shard_id, term_id) group; ``bounds``
    holds group start offsets plus the final end offset."""
    if len(pdf) == 0:
        return None
    local = (pdf["doc_id"].values % dps).astype(np.int32)
    starts, ends = bounds[:-1], bounds[1:]
    rows: dict[str, object] = {
        "shard_id": pdf["shard_id"].values[starts],
        "term_id": pdf["term_id"].values[starts],
        "n_postings": (ends - starts).astype(np.int32),
        "doc_gaps": [np.diff(local[a:b], prepend=np.int32(0))
                     for a, b in zip(starts, ends)],
    }
    for src, dst in (("tf", "tfs"), ("dl", "dls"), ("imp", "imps")):
        if src in pdf:
            col = pdf[src].values
            rows[dst] = [col[a:b] for a, b in zip(starts, ends)]
    return pd.DataFrame(rows)


def ensure_sharded(index: BM25Index) -> DataFrame:
    if index.sharded is None:
        index.sharded = build_sharded_postings(index).persist()
    return index.sharded


def _query_payload(index: BM25Index, qpdf: pd.DataFrame, method: str,
                   idf_method: str, lo: int, ids: np.ndarray,
                   allow_negative: bool = False):
    """Driver-side broadcast payload for one chunk of queries.

    ``qpdf``: pandas frame of (query_id, term, mult, df[, _nnoc]) for
    the chunk's in-vocab terms (an Arrow ``toPandas`` slice — columnar,
    ~10× denser than collected Row objects); ``ids`` is the chunk's
    slice of the sorted query ids, whose *global* query indexes start at
    ``lo``.  Returns ({term: [(q_idx, mult)]}, {term: (idf, nnoc)},
    q_nnoc): the kernel scores each posting as
    ``idf·tfc_method(tf, dl) − nnoc``, the same formula for every
    ``method × idf_method`` combination (robust even where the matched
    combination's idf is zero, e.g. robertson's clamp or atire with
    df=N).  A reference-format import maps every term to None: it
    scores from its stored impacts and has no avgdl to compute nnoc
    from.  ``q_nnoc`` holds each query's nonoccurrence add-back
    ``Σ mult·nnoc(t)`` (reference/bm25s/__init__.py:614-618) at
    ``q_idx − lo`` — an import's stored ``_nnoc`` verbatim — or is None
    for methods without one.
    """
    n, avgdl = index.num_docs, index.avg_doc_len
    k1, b, delta = index.k1, index.b, index.delta
    imported = index.compat_import is not None
    qidx = {q: lo + i for i, q in enumerate(ids)}
    per_term: dict[str, list[tuple[int, float]]] = {}
    scalars: dict[str, tuple[float, float] | None] = {}
    q_nnoc = (
        np.zeros(len(ids)) if method in METHODS_REQUIRING_NNOC else None
    )
    stored = qpdf["_nnoc"].values if "_nnoc" in qpdf.columns else None
    for i, (qid, term, mult, df) in enumerate(zip(
        qpdf["query_id"].values, qpdf["term"].values,
        qpdf["mult"].values, qpdf["df"].values,
    )):
        df = float(df)
        q = qidx[qid]
        if df > 0 and term not in scalars:
            scalars[term] = None if imported else (
                scoring.idf_value(idf_method, df, n, allow_negative),
                scoring.nnoc_value(method, idf_method, df, n, avgdl, k1, b,
                                   delta, allow_negative),
            )
        if q_nnoc is not None:
            if stored is not None:
                v = float(stored[i]) if pd.notna(stored[i]) else 0.0
            else:
                v = scalars[term][1] if df > 0 else 0.0
            q_nnoc[q - lo] += float(mult) * v
        if df > 0:
            # the "" patch token has no postings
            per_term.setdefault(term, []).append((q, float(mult)))
    return per_term, scalars, q_nnoc


def _merge_topk(pdf: pd.DataFrame, k: int, round_to: int | None, lo: int,
                ids: np.ndarray, q_nnoc: np.ndarray | None) -> pd.DataFrame:
    """Final exact top-k of one partition's candidates, all queries at
    once: (q_idx, doc_id, score[, is_pad]) → (query_id, rank, doc_id,
    score).

    One vectorized pass: add each query's nnoc sum, drop a pad row whose
    (q_idx, doc_id) also has a real row, order by (q_idx, score desc,
    doc_id asc) — the documented tie contract, on the rounded score in
    gate mode (``round_to``) — cut the first k rows of every q_idx and
    map q_idx to its query id.  Every row of a q_idx must be in
    ``pdf``."""
    q = pdf["q_idx"].to_numpy()
    doc = pdf["doc_id"].to_numpy()
    score = pdf["score"].to_numpy()
    if q_nnoc is not None:
        score = score + q_nnoc[q - lo]
    if "is_pad" in pdf.columns:
        # a real row sorts right before its pad twin
        o = np.lexsort((pdf["is_pad"].to_numpy(), doc, q))
        twin = np.zeros(len(o), dtype=bool)
        twin[o[1:]] = (q[o[1:]] == q[o[:-1]]) & (doc[o[1:]] == doc[o[:-1]])
        q, doc, score = q[~twin], doc[~twin], score[~twin]
    key = score if round_to is None else np.round(score, round_to)
    o = np.lexsort((doc, -key, q))
    q, doc, score = q[o], doc[o], score[o]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(1, len(q) + 1) - np.repeat(
        starts, np.diff(np.r_[starts, len(q)])
    )
    top = rank <= k
    return pd.DataFrame({
        "query_id": ids[q[top] - lo],
        "rank": rank[top].astype(np.int32),
        "doc_id": doc[top],
        "score": score[top],
    })


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


def _driver_cached(index: BM25Index, key, source: DataFrame, build):
    """``build()``, computed once per ``source`` table of ``index``.

    An entry is keyed on the identity of the table it was read from, so
    a merged index or a ``dataclasses.replace`` view with a new table
    never reads a stale one; ``BM25Index.unpersist`` drops them all."""
    hit = index.driver_cache.get(key)
    if hit is None or hit[0] is not source:
        hit = index.driver_cache[key] = (source, build())
    return hit[1]


def _term_dict(index: BM25Index) -> pd.DataFrame | None:
    """The vocabulary as a driver-side frame indexed by term: ``df`` plus
    an import's stored ``nnoc_*`` columns.  A build whose term ids were
    numbered on the driver seeds it; otherwise one Arrow pull per
    ``term_stats``.  None when the vocabulary has more than
    ``VOCAB_LOCALIZE_MAX`` terms."""
    def pull():
        ts = index.term_stats
        cols = ["term", "df"] + [c for c in NNOC_COLS.values()
                                 if c in ts.columns]
        pdf = ts.select(*cols).limit(VOCAB_LOCALIZE_MAX + 1).toPandas()
        if len(pdf) > VOCAB_LOCALIZE_MAX:
            return None
        return pdf.set_index("term")

    return _driver_cached(index, TERM_DICT, index.term_stats, pull)


def _pad_pool(index: BM25Index, k: int) -> np.ndarray:
    """The 2·k lowest doc ids, pulled once per (``doc_lens``, k);
    ``merge_indexes`` carries a pool over when the merge leaves it
    unchanged."""
    return _driver_cached(
        index, (PAD_POOL, k), index.doc_lens,
        lambda: index.doc_lens.select("doc_id").orderBy("doc_id")
        .limit(2 * k).toPandas()["doc_id"].to_numpy(np.int64),
    )


def _with_term_stats(index: BM25Index, qt: pd.DataFrame,
                     nnoc_cols: list[str]) -> pd.DataFrame:
    """(query_id, term, mult) → (query_id, term, mult, df[, _nnoc]) with
    inner-join semantics on term (OOV and null terms drop, as the
    distributed ``⨝ term_stats`` drops them).  ``nnoc_cols`` names the
    ``term_stats`` column read as ``_nnoc`` (an import's stored nnoc),
    if any.

    The lookup runs in pandas against the driver term dictionary.
    Above its cap, the batch's distinct terms broadcast-join into
    ``term_stats`` instead: one JVM-only job, no Python workers."""
    out_cols = ["query_id", "term", "mult", "df"] + (
        ["_nnoc"] if nnoc_cols else []
    )
    vocab = _term_dict(index)
    if vocab is not None:
        pos = vocab.index.get_indexer(qt["term"])
        hit = pos >= 0
        out = qt[hit].reset_index(drop=True)
        out["df"] = vocab["df"].to_numpy()[pos[hit]]
        for c in nnoc_cols:
            out["_nnoc"] = vocab[c].to_numpy()[pos[hit]]
        return out[out_cols]
    distinct_terms = sorted(t for t in qt["term"].unique() if t is not None)
    if distinct_terms:
        tdf = local_relation(
            index.spark, [(t,) for t in distinct_terms], "term string"
        )
        stats = (
            index.term_stats.join(F.broadcast(tdf), "term")
            .select("term", "df",
                    *[F.col(c).alias("_nnoc") for c in nnoc_cols])
            .toPandas()
        )
    else:
        stats = pd.DataFrame({"term": pd.Series([], dtype=object),
                              "df": pd.Series([], dtype="int64")})
        if nnoc_cols:
            stats["_nnoc"] = pd.Series([], dtype="float64")
    return qt.merge(stats, on="term", how="inner")[out_cols]


def _local_qstats(
    index: BM25Index,
    probe_pdf: pd.DataFrame,
    query_id_col: str,
    text_col: str,
    local_tok,
    nnoc_cols: list[str],
) -> pd.DataFrame:
    """Driver-side twin of the ``tokenize_queries ⨝ term_stats`` metadata
    pull for a ≤chunk batch already resident as ``probe_pdf``.

    Tokenization runs on the driver (``count_query_terms``; ``local_tok``
    ``None`` means pre-tokenized arrays) and the df lookup in
    ``_with_term_stats``.  Output columns/dtypes match the distributed
    ``qstats.toPandas()`` frame: (query_id, term, mult, df[, _nnoc]) with
    inner-join semantics (OOV and null terms and empty-token queries
    drop here, exactly as the distributed join drops them)."""
    qt = count_query_terms(probe_pdf, query_id_col, text_col, local_tok)
    return _with_term_stats(index, qt, nnoc_cols)


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
    ``checkpoint.py``).  Every path runs its kernel inside this call, so
    the values are final when it returns.  A kernel run in the driver
    process adds them exactly once.  A ``mapInPandas`` kernel updates
    them inside a transformation, where Spark does NOT deduplicate task
    retries or speculative attempts: those values are at-least-once and
    should be read as approximate telemetry, not exact counts.

    ``prune=True`` enables the TAAT MaxScore pruning inside the kernel
    (each loaded posting list's maximum impact is its upper bound;
    disabled automatically when a weight mask is present or
    ``allow_negative`` makes robertson impacts negative).  Result sets
    are identical up to tie-group membership.

    The kernel scores every posting list from the layout's (tf, dl)
    arrays as ``idf·tfc(tf, dl) − nnoc``, once per loaded (shard, term)
    row, and accumulates in float32 (the reference's storage dtype).
    ``exact=True`` keeps those impacts and the accumulator in float64 —
    used by the correctness gate to compare the kernel path against a
    double-precision oracle bit-stably.  ``round_to`` (gate mode) rounds
    scores to that many decimals *before* the local top-k and breaks
    ties doc_id-ascending, so the kernel's candidate cut agrees exactly
    with an oracle ranking on rounded scores.

    **Probe.** Every call first pulls at most ``query_chunk_size + 1``
    query rows — ids AND text — to the driver (one Arrow job).  A batch
    that fits (≤ ``query_chunk_size`` rows) takes its query metadata
    from those rows: the driver tokenizer twin counts terms locally (the
    stemmer-less ``engine="sql"`` tokenizer, which has no driver twin,
    runs over the probed rows as a local relation instead), and each
    term's df comes from the driver term dictionary, which the build
    keeps from numbering the vocabulary (else pulled once per
    ``term_stats``; ``_with_term_stats``).  With very large per-query
    text (documents-as-queries) lower ``query_chunk_size`` or
    pre-tokenize to keep the probe byte-bounded.

    **Bounded batch.** It executes inside this call and returns a local
    relation of its top-k.  The batch's scatter-add work, Σ df over its
    (query, term) rows, decides where the kernel runs.  Up to
    ``IN_PROCESS_WORK_MAX``, and without a weight mask, the layout rows
    of the batch's terms are pulled to the driver (one JVM-only job) and
    the kernel runs there.  Otherwise it runs in one ``mapInPandas``
    stage over the layout and its candidates are pulled to the driver.
    Both run the same kernel generator.  The final top-k merge then runs
    on the driver over at most ``n_queries × k × n_shards`` candidates
    (plus the pad rows).

    **Chunks.** A larger batch is streamed through the kernel in chunks
    of ``query_chunk_size`` consecutive sorted query ids: each chunk
    pulls *only its own* (query_id, term, mult, df) metadata to the
    driver (Arrow ``toPandas`` on the chunk's query-id range),
    broadcasts it with the chunk's id slice and per-query nnoc sums,
    runs the kernel and its own final merge over ``q_idx`` partitions,
    materializes the merged top-k (``eager_checkpoint``, n_chunk × k
    rows) and destroys its broadcast.  Chunks split the query ids, so
    the batch's result is the union of theirs.  Driver peak is therefore
    O(chunk) for the metadata and broadcasts; the only O(batch)
    driver-side structure left is the sorted query-id list (ids only —
    the reference holds the full query set in RAM,
    ``reference/bm25s/__init__.py:759-803``).

    **Pad.** ``pad=True`` returns exactly k rows per query.  The 2·k
    lowest doc ids (pulled once per index and carried through an
    appending merge, ``_pad_pool``) join the
    candidates at score 0 for every query index (all-OOV and empty
    queries included) before the final merge, which adds the query's
    nnoc constant and drops a pad row whose doc already has a real
    candidate; the merge's single top-k cut then serves both real and
    pad rows.  A pad row is therefore always an unmatched doc, and every
    row carries its doc's true score: when scores can be negative
    (``allow_negative`` robertson idf, or a weight mask), each shard
    also emits its 2·k lowest-id touched docs, which include every
    matched pool doc.
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
    # MaxScore needs nonnegative impacts: its in-shard kth score only
    # grows as terms add up.  Unclamped robertson idf breaks that.
    negative_idf = allow_negative and idf_method == "robertson"
    prune = prune and not negative_idf
    spark = index.spark
    sharded = ensure_sharded(index)
    docs_per_shard = index.docs_per_shard
    qid_type = queries_df.schema[query_id_col].dataType

    # a reference-format import (compat.import_bm25s) carries stored
    # per-term nnoc values but no (avgdl, dl) to recompute them from —
    # ride the stored column along the metadata pull instead
    imported = index.compat_import is not None
    nnoc_cols = (
        [NNOC_COLS[method]]
        if imported and method in METHODS_REQUIRING_NNOC else []
    )

    # batch-size probe doubling as the metadata pull: the ≤chunk+1 query
    # rows themselves (one tiny Arrow job).  A ≤chunk batch tokenizes ON
    # THE DRIVER (milliseconds for a few thousand short strings, identical
    # output by construction: make_local_tokenizer shares the UDF's
    # kernel closure).  Row count over-approximates distinct ids, which
    # can only push a duplicated-id batch onto the chunked path — correct
    # either way.  A >chunk batch discards this one bounded pull; an
    # id-only count first would put a second Spark job on every
    # interactive batch.
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
        qstats = tokenize_queries(
            index, queries_df, query_id_col, text_col, localize_max=0
        ).join(
            index.term_stats.select(
                "term", "df", *[F.col(c).alias("_nnoc") for c in nnoc_cols]
            ), "term",
        ).select("query_id", "term", "mult", "df",
                 *(["_nnoc"] if nnoc_cols else [])).persist()
    elif pretok or local_tok is not None:
        qpdf = _local_qstats(
            index, probe_pdf, query_id_col, text_col, local_tok, nnoc_cols,
        )
    else:
        # stemmer-less "sql" tokenizer: no driver twin (its regex engine
        # is the JVM's) — tokenize the probed rows as a local relation
        probed = local_relation(
            spark, list(probe_pdf.itertuples(index=False, name=None)),
            queries_df.select(query_id_col, text_col).schema,
        )
        qpdf = _with_term_stats(index, tokenize_queries(
            index, probed, query_id_col, text_col, localize_max=0
        ).toPandas(), nnoc_cols)
    has_mask = weight_mask_df is not None
    # with negative scores (unclamped robertson idf, or mask weights)
    # a matched pool doc can fall out of its shard's top-k; the pool's
    # 2·k docs are the lowest ids, so each shard also emits its 2·k
    # lowest-id touched docs and every pool doc keeps its real score
    pool_n = 2 * k if pad and (has_mask or negative_idf) else 0
    val_dtype = np.float64 if exact else np.float32

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

    base_needed = sharded.select(
        "shard_id", "term", "doc_gaps", "tfs", "dls",
        "imps" if imported else F.lit(None).cast("array<float>").alias("imps"),
    )
    mask_rows_df = (
        _mask_shard_rows(weight_mask_df, docs_per_shard) if has_mask else None
    )
    if mask_rows_df is not None and not bounded:
        mask_rows_df.persist()  # every chunk's kernel reads it

    # one task ≈ one shard: explicit numPartitions (AQE won't coalesce an
    # explicit repartition) sized to the shard count so the kernel gets
    # fine-grained tasks — wave scheduling absorbs shard-to-shard skew
    # instead of one straggler task setting the stage's wall clock.
    # The kernel exchange partitions by shard range, not hash: hashing
    # 3 shards into 4 partitions put two shards in one task
    n_shards = (index.num_docs + docs_per_shard - 1) // docs_per_shard
    default_par = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_parts = max(default_par, min(n_shards, 4096))

    out_schema = StructType([
        StructField("q_idx", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ])
    # query ids keep their native type (string, int, …): schema is built
    # from the queries_df column type, never forced to string
    final_schema = StructType([
        StructField("query_id", qid_type, False),
        StructField("rank", IntegerType(), False),
        StructField("doc_id", LongType(), False),
        StructField("score", DoubleType(), False),
    ])

    def chunk_payload(chunk_pdf: pd.DataFrame, lo: int, hi: int):
        """The queries ``query_ids[lo:hi]`` (whose metadata rows are
        ``chunk_pdf``): their ids, nnoc sums and kernel arguments."""
        ids = pd.Series(query_ids[lo:hi]).to_numpy()
        per_term, scalars, q_nnoc = _query_payload(
            index, chunk_pdf, method, idf_method, lo, ids,
            allow_negative=allow_negative,
        )
        kernel_args = (
            per_term, scalars, docs_per_shard, k,
            (method, index.avg_doc_len, index.k1, index.b, index.delta),
            prune, has_mask, round_to, pool_n,
        )
        return ids, q_nnoc, kernel_args

    def distributed_candidates(terms, kernel_args) -> DataFrame:
        """The kernel as one ``mapInPandas`` stage over the layout rows of
        ``terms`` (plus the weight mask's rows); ``kernel_args()`` reads
        its broadcast."""
        # only shards containing query terms matter; prune with a
        # broadcast semi join on term before the scan-heavy kernel
        terms_df = local_relation(spark, [(t,) for t in terms], "term string")
        needed = base_needed.join(
            F.broadcast(terms_df), "term", "left_semi"
        ).withColumn("is_mask", F.lit(False))
        if mask_rows_df is not None:
            needed = needed.unionByName(mask_rows_df)
        needed = (
            # co-locate each shard's rows and make them contiguous so the
            # kernel can stream shard-by-shard across Arrow batch
            # boundaries; mask rows land with their shard's postings.
            # The range bounds come from one sampling job over these
            # rows; with no more shards than partitions each shard gets
            # a task of its own as long as every shard but the last
            # holds at least 1/n_parts of the rows
            needed.repartitionByRange(n_parts, "shard_id")
            .sortWithinPartitions("shard_id")
        )
        return needed.mapInPandas(_make_kernel(kernel_args), out_schema)

    def _make_kernel(kernel_args):
        """The kernel: a generator over batches of layout rows sorted by
        shard, yielding (q_idx, doc_id, score) candidate frames.
        ``kernel_args()`` returns its arguments — from a broadcast in a
        ``mapInPandas`` task, directly in the driver."""
        def score_partition(batches):
            (per_term_l, scalars_l, dps, k_l,
             (method_l, avgdl_l, k1_l, b_l, delta_l),
             prune_l, has_mask_l, round_l, pool_l) = kernel_args()
            # per-query term lists within the current shard
            cur_shard = None
            cur_rows: list[tuple] = []
            cur_mask: tuple[np.ndarray, np.ndarray] | None = None

            def flush(shard_id, rows, mask_lw):
                """Score one complete shard: NumPy scatter-add per query
                into a dense ``val_dtype`` vector of the shard's doc range (the
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
                # a fixed term order: the float sums, hence the scores,
                # do not depend on the order the rows arrived in
                rows.sort(key=lambda r: r[0])
                # invert to per-query posting lists once (not per query
                # scan); keyed by global q_idx — only queries touching
                # this shard allocate anything
                per_query: dict[int, list] = {}
                n_postings_seen = 0
                for term, gaps, tfs, dls, imps in rows:
                    entries = per_term_l.get(term)
                    if not entries:
                        continue
                    n_postings_seen += len(gaps)
                    local = np.cumsum(gaps, dtype=np.int64)
                    if imps is None:
                        # the one scoring expression, once per loaded list
                        idf, nnoc = scalars_l[term]
                        imps = idf * scoring.tfc_numpy(
                            method_l, tfs, dls, avgdl_l, k1_l, b_l, delta_l
                        ) - nnoc
                    vals = np.asarray(imps, dtype=val_dtype)
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
                acc = np.zeros(dps, dtype=val_dtype)
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
                    if pool_l:
                        part = np.union1d(
                            part, np.arange(min(pool_l, sc.shape[0]))
                        )
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
                for shard_id, term, gaps, tfs, dls, imps, is_mask in zip(
                    pdf["shard_id"].values, pdf["term"].values,
                    pdf["doc_gaps"].values, pdf["tfs"].values,
                    pdf["dls"].values, pdf["imps"].values,
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
                            np.asarray(imps, dtype=np.float32),
                        )
                        continue
                    cur_rows.append((term, gaps, tfs, dls, imps))
            if cur_shard is not None:
                out = flush(int(cur_shard), cur_rows, cur_mask)
                if out is not None:
                    yield out

        return score_partition

    if bounded:
        n_q = len(query_ids)
        ids, q_nnoc, kernel_args = chunk_payload(qpdf, 0, n_q)
        terms = list(kernel_args[0])
        frames = []
        if has_mask or int(qpdf["df"].sum()) > IN_PROCESS_WORK_MAX:
            bc = spark.sparkContext.broadcast(kernel_args)
            frames.append(
                distributed_candidates(terms, lambda: bc.value).toPandas()
            )
            bc.destroy()
        elif terms:
            # a filter is one JVM-only job; the semi join's broadcast
            # costs a second.  Its generated code must not depend on the
            # term count: an IN list at or under the optimizer's InSet
            # threshold compiles one class set per list length, which a
            # query would pay whenever its length is new (or evicted
            # from the codegen cache).  Membership in an array literal
            # compiles once; a longer list becomes an InSet, also once.
            few = len(terms) <= int(spark.conf.get(
                "spark.sql.optimizer.inSetConversionThreshold"))
            rows = base_needed.where(
                F.array_contains(F.lit(terms), F.col("term")) if few
                else F.col("term").isin(terms)
            ).toPandas()
            frames.extend(_make_kernel(lambda: kernel_args)([
                rows.sort_values("shard_id", kind="stable")
                .assign(is_mask=False)
            ]))
        cands = pd.concat(frames, ignore_index=True) if frames else (
            pd.DataFrame({"q_idx": np.zeros(0, np.int32),
                          "doc_id": np.zeros(0, np.int64),
                          "score": np.zeros(0, np.float64)})
        )
        if pad:
            # score-0 pad rows, the pool's docs for every q_idx (all-OOV
            # and empty queries included); the merge lifts them to the
            # nnoc floor the reference's dense vector assigns unmatched
            # docs, and drops a pad row whose doc has a real candidate
            pool = _pad_pool(index, k)
            cands = pd.concat([cands.assign(is_pad=False), pd.DataFrame({
                "q_idx": np.repeat(np.arange(n_q, dtype=np.int32), len(pool)),
                "doc_id": np.tile(pool, n_q),
                "score": 0.0,
                "is_pad": True,
            })], ignore_index=True)
        top = _merge_topk(cands, k, round_to, 0, ids, q_nnoc)
        return spark.createDataFrame(top, final_schema)

    pool_df = None
    if pad:
        pool_df = local_relation(
            spark, [(int(d),) for d in _pad_pool(index, k)], "doc_id long"
        )

    def run_chunk(chunk_pdf: pd.DataFrame, lo: int, hi: int):
        """Final top-k of the queries ``query_ids[lo:hi]`` (whose
        metadata rows are ``chunk_pdf``) and the broadcast it reads."""
        ids, q_nnoc, kernel_args = chunk_payload(chunk_pdf, lo, hi)
        bc = spark.sparkContext.broadcast(
            (kernel_args, (k, round_to, lo, ids, q_nnoc))
        )
        candidates = distributed_candidates(kernel_args[0],
                                            lambda: bc.value[0])
        if pad:
            q_range = spark.range(lo, hi, numPartitions=1)
            candidates = candidates.withColumn(
                "is_pad", F.lit(False)
            ).unionByName(q_range.crossJoin(F.broadcast(pool_df)).select(
                F.col("id").cast("int").alias("q_idx"),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(0.0).alias("score"),
                F.lit(True).alias("is_pad"),
            ))

        def merge_partition(batches):
            frames = [pdf for pdf in batches if len(pdf)]
            if frames:
                k_l, round_l, lo_l, ids_l, nnoc_l = bc.value[1]
                yield _merge_topk(pd.concat(frames, ignore_index=True),
                                  k_l, round_l, lo_l, ids_l, nnoc_l)

        # ≤ shards×k candidates (+ 2·k pad rows) per query — tiny; an
        # explicit partition count keeps AQE from coalescing the merge
        # into one task
        merged = candidates.repartition(n_parts, "q_idx").mapInPandas(
            merge_partition, final_schema
        )
        return merged, bc

    # chunk the query batch: each chunk is one bounded metadata pull +
    # one bounded broadcast + one kernel pass + its own final merge,
    # materialized before the broadcast is destroyed.  Chunks split the
    # sorted query ids, so the batch's result is the union of theirs
    from bm25s_spark.util import eager_checkpoint

    def process_chunk(lo: int):
        hi = min(lo + query_chunk_size, len(query_ids))
        # pull ONLY this chunk's (query_id, term, mult, df) rows — driver
        # metadata peak is O(in-flight chunks), not O(batch).  query_ids
        # come from Spark's orderBy, so Spark's comparison selects
        # exactly the slice's ids
        cpdf = qstats.where(
            F.col("query_id").between(query_ids[lo], query_ids[hi - 1])
        ).toPandas()
        part, bc = run_chunk(cpdf, lo, hi)
        # materialize this chunk's top-k (n_chunk × k rows) so its
        # broadcast can be destroyed NOW; a lazy union would keep every
        # chunk's broadcast referenced until the final action,
        # accumulating ~the full batch in the driver/block manager for
        # 10^6-query jobs.  With a checkpoint dir configured (cluster
        # deployments), use the RELIABLE checkpoint: localCheckpoint
        # blocks die with their executor and the destroyed broadcast
        # leaves no recompute path, so an executor loss mid-batch would
        # fail the job
        part = eager_checkpoint(part)
        bc.destroy()
        return part

    # a 2-deep thread pool overlaps consecutive chunks (Spark schedules
    # jobs from separate threads concurrently), recovering the stage
    # pipelining a strictly sequential materialize-barrier loop gives
    # up, while broadcast + metadata memory stays bounded by the
    # in-flight window instead of the whole batch
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        parts = list(pool.map(
            process_chunk, range(0, len(query_ids), query_chunk_size)
        ))
    qstats.unpersist()
    if mask_rows_df is not None:
        mask_rows_df.unpersist()
    result = parts[0]
    for part in parts[1:]:
        result = result.unionByName(part)
    return result
