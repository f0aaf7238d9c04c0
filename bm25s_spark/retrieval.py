"""Query-time top-k BM25 retrieval.

Two physical strategies over the same semantics:

1. ``retrieve(..., strategy="join")`` — pure DataFrame plan: broadcast the
   (tiny) query-term table, inner-join the postings (OOV terms drop out,
   mirroring ``reference/bm25s/__init__.py:572-579``), hash-aggregate
   ``sum(mult * impact)`` per (query, doc), window top-k.  Catalyst does
   partial aggregation map-side, so shuffle volume is bounded by
   (distinct candidate docs × queries), not postings touched.

2. ``strategy="sharded"`` — the scalable scatter-gather kernel (see
   ``shards.py``): doc-sharded postings scored per shard with a NumPy
   scatter-add + local top-k (the distributed twin of the reference's
   ``np.add.at`` kernel, ``reference/bm25s/__init__.py:272-324``), then a
   final merge of the ``shards × k`` candidates per query: one
   vectorized NumPy top-k pass, all queries at once.  A batch of at most
   ``query_chunk_size`` queries executes inside the call and comes back
   as a local relation: its query metadata comes from a driver-side
   term dictionary, its kernel runs in the driver process when its
   scatter-add work is small (in one ``mapInPandas`` stage otherwise),
   and its merge runs on the driver.  A larger batch streams through
   the ``mapInPandas`` kernel in chunks, each merged in a second
   ``mapInPandas``.

Reference semantics reproduced exactly:
- duplicate query terms score multiple times (``get_tokens_ids`` keeps
  multiplicity, ``reference/bm25s/__init__.py:572-579``) → the ``mult``
  weight;
- weight mask multiplies the accumulated scores **before** the
  nonoccurrence add-back (``reference/bm25s/__init__.py:610-618``) — so
  the nnoc constant is *not* masked;
- per-query nonoccurrence add-back ``Σ_t mult(t)·nnoc(t)`` for
  bm25l/bm25+ (``:614-618``);
- queries that are empty (or all-OOV) score zero everywhere
  (``reference/bm25s/__init__.py:653-657``);
- ``k > num_docs`` raises (``:759-765``);
- results are always exactly k rows per query: when fewer than k docs
  match, the remainder is padded with unmatched docs whose score is the
  query's nnoc constant (for bm25l/+) or 0 — exactly the value every
  unmatched doc has in the reference's dense score vector.  Tie order
  within equal scores is doc_id-ascending (the reference's own numpy and
  numba backends disagree on tie order — SURVEY.md §2.6 — so rank
  identity is defined on tie groups).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bm25s_spark import scoring
from bm25s_spark.indexer import BM25Index
from bm25s_spark.scoring import METHODS, METHODS_REQUIRING_NNOC
from bm25s_spark.tokenization import make_tokenizer_udf


def count_query_terms(queries_pdf: pd.DataFrame, query_id_col: str,
                      text_col: str, local_tok) -> pd.DataFrame:
    """Driver-side (query_id, term, mult) for a query batch already
    resident as a pandas frame — the local twin of the distributed
    ``explode → groupBy(query_id, term).count()``.

    ``local_tok`` is the driver tokenizer (``make_local_tokenizer``,
    which shares the distributed UDF's kernel); ``None`` means
    ``text_col`` already holds token arrays, counted verbatim.  A null
    element inside a pre-tokenized array is kept as a null term, as the
    distributed explode keeps it; a ``term_stats`` join drops it."""
    texts = queries_pdf[text_col]
    token_lists = texts if local_tok is None else local_tok(texts)
    counts = Counter(
        (qid, t)
        for qid, toks in zip(queries_pdf[query_id_col], token_lists)
        if toks is not None
        for t in toks
    )
    return pd.DataFrame(
        [(q, t, m) for (q, t), m in counts.items()],
        columns=["query_id", "term", "mult"],
    ).astype({"mult": "int64"})


def tokenize_queries(index: BM25Index, queries_df: DataFrame,
                     query_id_col: str = "query_id",
                     text_col: str = "text",
                     localize_max: int = 4096) -> DataFrame:
    """queries(query_id, text) → (query_id, term, mult) using the *same*
    tokenizer configuration the index was built with (update_vocab=never:
    unseen terms simply won't join).

    Pre-tokenized queries are accepted too (the reference's ``retrieve``
    takes token lists / ``Tokenized``, ``reference/bm25s/__init__.py:
    759-803``): if ``text_col`` is already ``array<string>`` it is
    exploded verbatim, no tokenizer run.

    Batches of ≤ ``localize_max`` queries tokenize ON THE DRIVER through
    the same pandas kernel the distributed UDF wraps (identical output
    by construction) and come back as a local relation: every broadcast
    consumer of the result then builds from local rows instead of
    re-running a Python-worker UDF sub-plan per consumer — interactive
    batches save one UDF round-trip per broadcast build.  The probe is
    one bounded ``limit(localize_max+1)`` Arrow pull; bigger batches (or
    the stemmer-less JVM tokenizer config, whose query path must stay
    JVM for regex-engine parity) keep the distributed plan.
    ``localize_max=0`` disables the probe outright."""
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    pretok = isinstance(queries_df.schema[text_col].dataType, ArrayType)
    local_tok = None
    if not pretok:
        from bm25s_spark.tokenization import make_local_tokenizer

        local_tok = make_local_tokenizer(**index.tokenizer_kwargs)
    if localize_max and not queries_df.isStreaming \
            and (pretok or local_tok is not None):
        probe = (
            queries_df.select(query_id_col, text_col)
            .limit(localize_max + 1)
            .toPandas()
        )
        if len(probe) <= localize_max:
            qt = count_query_terms(probe, query_id_col, text_col, local_tok)
            schema = StructType([
                StructField("query_id", queries_df.schema[query_id_col].dataType, True),
                StructField("term", StringType(), True),
                StructField("mult", LongType(), False),
            ])
            from bm25s_spark.util import local_relation

            return local_relation(
                queries_df.sparkSession,
                list(qt.itertuples(index=False, name=None)), schema,
            )
    if pretok:
        token_col = F.col(text_col)
    else:
        udf = make_tokenizer_udf(**index.tokenizer_kwargs)
        token_col = udf(F.col(text_col))
    toks = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(token_col).alias("term"),
    )
    return toks.groupBy("query_id", "term").agg(F.count(F.lit(1)).alias("mult"))


def _scoring_cols(index: BM25Index, method: str, idf_method: str,
                  allow_negative: bool = False) -> tuple[Column, Column]:
    """(impact, nnoc) column expressions over rows that carry a term's
    ``df``: a ``postings`` row for the impact, which also reads its
    (tf, dl), or a ``term_stats`` row for nnoc.

    The impact is the sharded kernel's ``idf·tfc(tf, dl) − nnoc``, with
    the per-term (idf, nnoc) computed from the row's own df.  Taking them
    from a ``qterms ⨝ term_stats`` side instead would add a broadcast
    of that join, and its Spark jobs, to every query.  Every
    ``method × idf_method`` combination and ``allow_negative`` (robertson
    idf without its ≥0 clamp, ``reference/bm25s/scoring.py:178-187``)
    scores exactly from one index; the reference bakes both into its
    stored impacts.  A reference-format import has no real (tf, dl): it
    scores with its stored ``imps`` and per-term ``nnoc_<method>``
    (``check_compat`` pins the combination)."""
    from bm25s_spark.compat import NNOC_COLS

    if index.compat_import is not None:
        nnoc = (F.col(NNOC_COLS[method]) if method in METHODS_REQUIRING_NNOC
                else F.lit(0.0))
        return F.col("imps"), nnoc
    idf, nnoc = scoring.term_scalar_exprs(
        method, idf_method, F.col("df"),
        index.num_docs, index.avg_doc_len, index.k1, index.b, index.delta,
        allow_negative=allow_negative and idf_method == "robertson",
    )
    impact = scoring.impact_expr(
        method, F.col("tf"), F.col("dl"), idf, nnoc,
        index.avg_doc_len, index.k1, index.b, index.delta,
    )
    return impact, nnoc


def _nnoc_per_query(index: BM25Index, qterms: DataFrame,
                    method: str, idf_method: str,
                    allow_negative: bool = False) -> DataFrame:
    """(query_id, nnoc_sum): Σ mult(t)·nnoc(t) over in-vocab query terms
    (``reference/bm25s/__init__.py:614-618`` — note the indexing keeps
    duplicates, hence the multiplicity weight)."""
    if method not in METHODS_REQUIRING_NNOC:
        return qterms.select("query_id").distinct().withColumn(
            "nnoc_sum", F.lit(0.0)
        )
    _, nnoc = _scoring_cols(index, method, idf_method, allow_negative)
    # inner join: OOV terms contribute 0, and every consumer left-joins
    # this aggregate with coalesce(nnoc_sum, 0) — so dropping all-OOV
    # queries here is equivalent AND keeps the join broadcastable from
    # the tiny qterms side (a left-outer from qterms could only
    # broadcast the vocab-sized term_stats)
    joined = F.broadcast(qterms).join(index.term_stats, "term")
    return joined.groupBy("query_id").agg(
        F.sum(
            F.coalesce(F.col("mult") * nnoc, F.lit(0.0))
        ).alias("nnoc_sum")
    )


def _matched_scores(index: BM25Index, qterms: DataFrame,
                    method: str, idf_method: str,
                    weight_mask_df: DataFrame | None,
                    require_all: bool = False,
                    allow_negative: bool = False) -> DataFrame:
    """(query_id, doc_id, score) for docs sharing ≥1 term with the query
    (``require_all=True``: docs containing EVERY distinct query term).
    Scores include mask and nnoc add-back."""
    impact, _ = _scoring_cols(index, method, idf_method, allow_negative)
    joined = F.broadcast(qterms).join(index.postings, "term")
    matched = joined.groupBy("query_id", "doc_id").agg(
        F.sum(F.col("mult").cast("double") * impact.cast("double")).alias("raw"),
        F.count(F.lit(1)).alias("_n_terms"),
    )
    if require_all:
        # qterms is distinct per (query, term) and postings unique per
        # (term, doc), so the group's row count IS the matched-distinct-
        # term count; requiring it to equal the query's full token-type
        # count (computed BEFORE the vocab join) gives true boolean-AND
        # semantics — an out-of-vocabulary term matches no document
        qlen = qterms.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("_qlen")
        )
        matched = matched.join(F.broadcast(qlen), "query_id").where(
            F.col("_n_terms") == F.col("_qlen")
        )
    matched = matched.drop("_n_terms", "_qlen")
    if weight_mask_df is not None:
        matched = matched.join(
            F.broadcast(weight_mask_df.select("doc_id", F.col("weight").cast("double").alias("_w"))),
            "doc_id",
            "left",
        ).withColumn("raw", F.col("raw") * F.coalesce(F.col("_w"), F.lit(1.0))).drop("_w")
    # nnoc is one row per query — always broadcast (statistics on a
    # derived aggregate won't tell Catalyst it's tiny, and a sort-merge
    # join here would shuffle the whole candidate set by query_id)
    nnoc = _nnoc_per_query(index, qterms, method, idf_method, allow_negative)
    return (
        matched.join(F.broadcast(nnoc), "query_id", "left")
        .withColumn("score", F.col("raw") + F.coalesce(F.col("nnoc_sum"), F.lit(0.0)))
        .select("query_id", "doc_id", "score")
    )


def retrieve(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    method: str = "lucene",
    idf_method: str | None = None,
    weight_mask_df: DataFrame | None = None,
    strategy: str = "join",
    pad: bool = True,
    prune: bool = True,
    require_all_terms: bool = False,
    exact: bool = False,
    round_to: int | None = None,
    query_chunk_size: int = 16384,
    with_docs: bool = False,
    allow_negative: bool = False,
    query_id_col: str = "query_id",
    text_col: str = "text",
    metrics: dict | None = None,
) -> DataFrame:
    """Top-k retrieval → (query_id, rank, doc_id, score).

    ``weight_mask_df``: optional (doc_id, weight) — missing docs weigh 1.0
    (sharded strategy pre-joins it into the shard layout; never collected).
    ``with_docs=True`` joins the original document columns back on
    (the reference's positional corpus materialization,
    ``reference/bm25s/__init__.py:919-932`` — here an equi-join against
    ``doc_map`` instead of a positional mmap lookup).
    ``queries_df`` may carry pre-tokenized queries: an ``array<string>``
    ``text_col`` is used verbatim (reference token-list queries,
    ``reference/bm25s/__init__.py:759-803``).
    Sharded-strategy extras: ``exact`` (the kernel's impacts, computed
    from tf/dl, kept in float64 instead of float32), ``round_to`` (gate-mode rounding before local top-k),
    ``query_chunk_size`` (bounded per-chunk broadcast for huge batches).
    ``require_all_terms=True`` (join strategy): boolean-AND semantics —
    only docs containing EVERY distinct query term are returned (an OOV
    term therefore matches nothing, and an empty/all-stopword query
    returns no rows); BM25 ranking is unchanged on the qualifying set.
    Padding is skipped (padding would inject docs that fail the AND).
    ``allow_negative=True`` with robertson idf skips the ≥0 IDF clamp
    (``reference/bm25s/scoring.py:178-187``) — terms with df > N/2 score
    negatively.  Every impact is computed at query time from the
    postings' (tf, dl, df), so the same index serves both settings (the
    reference bakes the flag into its stored impacts at build).
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    idf_method = idf_method or method
    from bm25s_spark.compat import check_compat

    check_compat(index, method, idf_method, exact=exact,
                 allow_negative=allow_negative)
    if k > index.num_docs:
        raise ValueError(
            f"k={k} is larger than the number of documents ({index.num_docs})"
        )
    if strategy != "sharded" and (exact or round_to is not None):
        # these flags only exist on the sharded kernel; silently ignoring
        # them would hand back unrounded float scores to a caller that
        # asked for the gate contract
        raise ValueError(
            f"exact/round_to are only supported by strategy='sharded' "
            f"(got strategy={strategy!r})"
        )
    if require_all_terms and strategy != "join":
        raise ValueError(
            "require_all_terms is only supported by strategy='join' "
            f"(got strategy={strategy!r})"
        )
    if strategy == "sharded":
        from bm25s_spark.shards import retrieve_sharded

        out = retrieve_sharded(
            index, queries_df, k=k, method=method, idf_method=idf_method,
            weight_mask_df=weight_mask_df, pad=pad, prune=prune,
            exact=exact, round_to=round_to, query_chunk_size=query_chunk_size,
            allow_negative=allow_negative,
            query_id_col=query_id_col, text_col=text_col, metrics=metrics,
        )
        return _maybe_docs(index, out, with_docs)

    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)
    scores = _matched_scores(index, qterms, method, idf_method, weight_mask_df,
                             require_all=require_all_terms,
                             allow_negative=allow_negative)
    if pad and not require_all_terms:
        # union the nnoc-scored pad-candidate pool BEFORE the window and
        # let the rank cut drop it — padded retrieval costs ONE job (no
        # count-probe, no persist; the scoring aggregate feeds both the
        # window and the pad anti-join through exchange reuse)
        scores = _with_pad_candidates(
            index, queries_df, qterms, scores, k, method, idf_method,
            query_id_col, allow_negative,
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    return _maybe_docs(index, topk, with_docs)


def _maybe_docs(index: BM25Index, results: DataFrame, with_docs: bool) -> DataFrame:
    if not with_docs:
        return results
    if index.doc_map is None:
        raise ValueError("index was built with keep_doc_map=False; no doc payload to join")
    return results.join(index.doc_map, "doc_id", "left").select(
        "query_id", "rank", "doc_id", "score",
        *[c for c in index.doc_map.columns if c != "doc_id"],
    )


def _with_pad_candidates(index, queries_df, qterms, scores, k, method,
                         idf_method, query_id_col,
                         allow_negative: bool = False) -> DataFrame:
    """Union nnoc-scored pad candidates onto the matched-score table so
    the caller's top-k window yields exactly k rows per query: unmatched
    docs carry the query's nnoc constant (0 for non-nnoc variants) — the
    value the reference's dense score vector assigns them.

    The pool is the 2·k lowest doc_ids (enough to fill k after excluding
    up to k already-matched pool docs) crossed with EVERY query — a
    broadcastable ``n_queries × 2k`` sliver.  Pairs that already matched
    are anti-joined out so a doc never competes twice; the anti-join's
    big side is the scoring aggregate the window also consumes, which is
    already hash-partitioned on (query_id, doc_id) — Catalyst reuses the
    exchange, so the whole padded retrieve stays one job with no
    count-probe and no persist (a matched pool doc keeps its REAL score,
    which also preserves rank identity when scores can dip below the
    nnoc floor, e.g. negative mask weights or ``allow_negative``).

    The sharded strategy keeps the same contract: a pad row is always an
    unmatched doc, and every row carries its doc's true score.

    Documented deviation in the negative-score corner, on both
    strategies: the reference's dense score vector ranks EVERY unmatched
    doc (score 0/nnoc) above a negatively-scored matched doc; the
    scalable pad pool only carries the 2·k lowest doc_ids, so when all
    of those matched negatively, the zero-score docs outside the pool
    are not surfaced.  For dense-vector semantics at test scale use
    ``score_all(dense=True)``."""
    all_q = queries_df.select(F.col(query_id_col).alias("query_id")).distinct()
    pool = index.doc_lens.select("doc_id").orderBy("doc_id").limit(2 * k)
    nnoc = _nnoc_per_query(index, qterms, method, idf_method, allow_negative)
    cand = (
        F.broadcast(all_q).crossJoin(F.broadcast(pool))
        .join(scores.select("query_id", "doc_id"),
              ["query_id", "doc_id"], "left_anti")
        .join(F.broadcast(nnoc), "query_id", "left")
        .withColumn("score", F.coalesce(F.col("nnoc_sum"), F.lit(0.0)))
        .select("query_id", "doc_id", "score")
    )
    return scores.select("query_id", "doc_id", "score").unionByName(cand)


def score_all(
    index: BM25Index,
    queries_df: DataFrame,
    method: str = "lucene",
    idf_method: str | None = None,
    weight_mask_df: DataFrame | None = None,
    dense: bool = False,
    require_all_terms: bool = False,
    allow_negative: bool = False,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """``get_scores`` analog → (query_id, doc_id, score).

    ``dense=True`` emits a row for *every* (query, doc) pair, including
    zero/nnoc-only scores — the distributed twin of the reference's dense
    score vector (test-scale tool; at 10^12 docs use ``retrieve``).
    ``require_all_terms=True`` keeps only docs containing every distinct
    query term (boolean AND; incompatible with ``dense``)."""
    idf_method = idf_method or method
    from bm25s_spark.compat import check_compat

    check_compat(index, method, idf_method, allow_negative=allow_negative)
    if require_all_terms and dense:
        raise ValueError("require_all_terms and dense are mutually exclusive")
    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)
    scores = _matched_scores(index, qterms, method, idf_method, weight_mask_df,
                             require_all=require_all_terms,
                             allow_negative=allow_negative)
    if not dense:
        return scores
    all_pairs = (
        queries_df.select(F.col(query_id_col).alias("query_id"))
        .distinct()
        .crossJoin(index.doc_lens.select("doc_id"))
    )
    nnoc = _nnoc_per_query(index, qterms, method, idf_method, allow_negative)
    return (
        all_pairs.join(scores, ["query_id", "doc_id"], "left")
        .join(nnoc, "query_id", "left")
        .withColumn(
            "score",
            F.coalesce(F.col("score"), F.coalesce(F.col("nnoc_sum"), F.lit(0.0))),
        )
        .select("query_id", "doc_id", "score")
    )
