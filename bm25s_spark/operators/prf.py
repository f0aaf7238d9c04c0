"""Pseudo-relevance-feedback (PRF) query expansion.

Classic two-stage retrieval (Rocchio / RM-style blind feedback): run
the query, take the top-``m`` documents as presumed-relevant, mine
their highest tf-idf terms that the query does not already contain,
append them to the query, and retrieve again.  The reference engine is
single-stage (``reference/bm25s/__init__.py:759-935`` retrieve only);
PRF is the standard recall-boosting composition layered on top of any
BM25 engine, and here it exercises the engine's own composability —
the expanded queries re-enter ``retrieve`` as pre-tokenized term
arrays, exactly the reference's token-list query path.

Scale shape (batch of Q queries over a 100 TB index):

- Round 1 is the existing join-strategy scoring plan (broadcast query
  terms into the postings scan).
- The feedback join is (Q × m) hit rows — batch-sized, **broadcast**
  into the postings table on doc_id, so only the postings of feedback
  documents flow into the per-(query, term) aggregation.
- Expansion selection is a per-query window over ≤ (Q × m × dl) mined
  terms; the expanded-query frame is Q rows again.  Nothing is
  collected to the driver.

Determinism: round-1 ranks can be rounded before the cut
(``round_to``, the gate contract) and expansion scores are rounded
before ranking with a term-ascending tiebreak, so the feedback set —
and therefore the final ranking — is stable across partition counts
and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bm25s_spark.index_io import BM25Index
from bm25s_spark.retrieval import (
    _matched_scores,
    _nnoc_per_query,
    _scoring_cols,
    _with_pad_candidates,
    retrieve,
    tokenize_queries,
)

# Delta rescoring pushes a driver-known ``term IN (...)`` predicate into
# the round-2 postings scan so disk-backed postings skip row groups
# outside the expansion terms' ranges.  Capped: at huge query batches
# the distinct expansion set approaches vocab size, and a vocab-sized
# IN expression bloats the plan past any row-group-skip payoff (and
# past parquet predicate-pushdown limits); above the cap the broadcast
# hash join alone prunes the scan stream-side, which is the right plan
# once most row groups contain a hit anyway.
IN_LIST_CAP = 8192


def _mine_expansion(index: BM25Index, qterms: DataFrame, scores: DataFrame,
                    feedback_docs: int, expansion_terms: int,
                    round_to: int | None,
                    expansion_round_to: int | None) -> DataFrame:
    """(query_id, term): the top ``expansion_terms`` NEW terms per query,
    mined from its top ``feedback_docs`` round-1 documents by summed
    tf-idf (``tf · ln(N/df)``).  ``scores`` is the round-1 matched-score
    table; both ranking boundaries are rounded/tie-broken for engine
    stability (doc_id asc at the feedback cut, term asc at the
    expansion cut)."""
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    hits = (
        scores.withColumn("r", F.row_number().over(w1))
        .where(F.col("r") <= feedback_docs)
        .select("query_id", "doc_id")
    )

    escore = F.sum(
        F.col("tf").cast("double")
        * F.log(F.lit(float(index.num_docs)) / F.col("df").cast("double"))
    ).alias("escore")
    mined = (
        F.broadcast(hits)
        .join(index.postings.select("doc_id", "term", "tf", "df"), "doc_id")
        .groupBy("query_id", "term")
        .agg(escore)
        .join(
            F.broadcast(qterms.select("query_id", "term")),
            ["query_id", "term"],
            "left_anti",
        )
    )
    if expansion_round_to is not None:
        mined = mined.withColumn(
            "escore", F.round("escore", expansion_round_to)
        )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("escore").desc(), F.col("term").asc()
    )
    return (
        mined.withColumn("r", F.row_number().over(w2))
        .where(F.col("r") <= expansion_terms)
        .select("query_id", "term")
    )


def prf_expand(
    index: BM25Index,
    queries_df: DataFrame,
    feedback_docs: int = 5,
    expansion_terms: int = 3,
    method: str = "lucene",
    idf_method: str | None = None,
    round_to: int | None = None,
    expansion_round_to: int | None = 6,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, text) — each query rewritten as a pre-tokenized term
    array: its original tokens (multiplicity preserved) plus the top
    ``expansion_terms`` new terms mined from its top ``feedback_docs``
    round-1 documents by summed tf-idf (``tf · ln(N/df)``, the atire
    idf, matching ``keywords.top_terms_per_doc``).

    ``round_to`` rounds round-1 scores before the feedback cut (ties
    then break on doc_id asc) and ``expansion_round_to`` rounds the
    mined term scores before the expansion cut (ties break on term
    asc) — both make the two ranking boundaries FP-stable across
    engines.  Queries with no in-vocabulary tokens pass through with
    an empty token array (round 1 finds nothing to feed back).
    """
    if feedback_docs < 1 or expansion_terms < 0:
        raise ValueError(
            f"need feedback_docs >= 1 and expansion_terms >= 0, got "
            f"{feedback_docs}/{expansion_terms}"
        )
    idf_method = idf_method or method
    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)

    scores = _matched_scores(index, qterms, method, idf_method, None)
    exp = (
        _mine_expansion(index, qterms, scores, feedback_docs,
                        expansion_terms, round_to, expansion_round_to)
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list("term")).alias("etoks"))
    )

    orig = qterms.groupBy("query_id").agg(
        F.flatten(
            F.collect_list(
                F.array_repeat(F.col("term"), F.col("mult").cast("int"))
            )
        ).alias("toks")
    )
    empty = F.array().cast("array<string>")
    # every frame here is batch-sized (≤ Q rows) — broadcast them so the
    # assembly never sort-merge-shuffles on query_id
    return (
        queries_df.select(F.col(query_id_col).alias("query_id"))
        .distinct()
        .join(F.broadcast(orig), "query_id", "left")
        .join(F.broadcast(exp), "query_id", "left")
        .select(
            "query_id",
            F.concat(
                F.coalesce(F.col("toks"), empty),
                F.coalesce(F.col("etoks"), empty),
            ).alias("text"),
        )
    )


def prf_score_delta(
    index: BM25Index,
    queries_df: DataFrame,
    feedback_docs: int = 5,
    expansion_terms: int = 3,
    method: str = "lucene",
    idf_method: str | None = None,
    round_to: int | None = None,
    expansion_round_to: int | None = 6,
    pad_candidates_for_k: int | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score) for the PRF-expanded queries via
    **delta scoring**: round 2 scores ONLY the expansion terms and adds
    the retained round-1 scores (BM25 is per-term additive), so the full
    original-term postings are scanned once, not twice — two postings
    passes total (round-1 scoring + feedback mining; the round-2 join
    carries a driver-known ``term IN (...)`` predicate over the ≤ Q·t
    expansion terms, pushed to the scan so disk-backed postings read
    O(expansion terms) row groups) instead of the full-rescore path's
    three.

    The math is identical to ``full`` rescoring (an expansion term never
    duplicates an original term, so the expanded-query score decomposes
    exactly into round-1 + delta); only the floating-point summation
    ORDER differs, which the gate's rounding absorbs.  Round-1 scores
    are eagerly checkpointed — they feed both the feedback cut and the
    final merge, and are candidate-set-bounded (the same bound round-1
    retrieval itself has)."""
    if feedback_docs < 1 or expansion_terms < 0:
        raise ValueError(
            f"need feedback_docs >= 1 and expansion_terms >= 0, got "
            f"{feedback_docs}/{expansion_terms}"
        )
    idf_method = idf_method or method
    from bm25s_spark.util import eager_checkpoint

    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)
    scores1 = eager_checkpoint(
        _matched_scores(index, qterms, method, idf_method, None),
        reliable=True,
    )
    eterms_plan = _mine_expansion(
        index, qterms, scores1, feedback_docs, expansion_terms,
        round_to, expansion_round_to,
    ).withColumn("mult", F.lit(1).cast("long"))
    # The expansion set is batch-bounded (≤ Q·expansion_terms rows — query
    # metadata, not corpus data), so land it on the driver: (a) the mining
    # postings pass executes exactly ONCE (lazy, it would re-execute inside
    # each of its three consumers — Spark does not dedupe common subplans);
    # (b) the driver-known term list pushes `term IN (...)` into the
    # round-2 postings scan, so disk-backed postings skip every row group
    # outside the expansion terms' ranges; (c) downstream joins broadcast
    # a local relation instead of a subplan.
    erows = eterms_plan.collect()
    if not erows:
        # nothing mined anywhere in the batch (e.g. every query OOV):
        # the delta join would still execute a full postings pass just
        # to produce zero rows — return the retained round-1 scores
        # directly (exactly equal: delta = 0 and the expansion nnoc
        # frame would be empty → +0.0 per row)
        out = scores1.select("query_id", "doc_id", "score")
        if pad_candidates_for_k is not None:
            out = _with_pad_candidates(
                index, queries_df, qterms, out, pad_candidates_for_k,
                method, idf_method, query_id_col,
            )
        return out
    spark = queries_df.sparkSession
    from bm25s_spark.util import local_relation

    eterms = local_relation(spark, erows, eterms_plan.schema)

    impact, _ = _scoring_cols(index, method, idf_method)
    postings = index.postings
    # IN-list pushdown capped at IN_LIST_CAP (see its comment): above
    # the cap the broadcast hash join alone prunes the scan.
    eset = sorted({r["term"] for r in erows})
    if erows and len(eset) <= IN_LIST_CAP:
        postings = postings.where(F.col("term").isin(eset))
    delta = (
        F.broadcast(eterms)
        .join(postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.col("mult").cast("double") * impact.cast("double")
            ).alias("draw")
        )
    )
    # per-query constants: nnoc over the ORIGINAL terms (the base every
    # round-1-unmatched doc carries) and over the expansion terms (added
    # to every doc, matched or not) — both one broadcastable row/query
    nnoc_o = _nnoc_per_query(index, qterms, method, idf_method)
    nnoc_e = _nnoc_per_query(index, eterms, method, idf_method)
    out = (
        scores1.select("query_id", "doc_id", F.col("score").alias("_s1"))
        .join(delta, ["query_id", "doc_id"], "full_outer")
        .join(F.broadcast(nnoc_o.withColumnRenamed("nnoc_sum", "_no")),
              "query_id", "left")
        .join(F.broadcast(nnoc_e.withColumnRenamed("nnoc_sum", "_ne")),
              "query_id", "left")
        .withColumn(
            "score",
            F.coalesce(F.col("_s1"), F.coalesce(F.col("_no"), F.lit(0.0)))
            + F.coalesce(F.col("draw"), F.lit(0.0))
            + F.coalesce(F.col("_ne"), F.lit(0.0)),
        )
        .select("query_id", "doc_id", "score")
    )
    if pad_candidates_for_k is not None:
        # unmatched docs carry the COMBINED (original + expansion) nnoc
        # constant for the expanded query — union both term frames so
        # the shared pad helper computes exactly that
        qall = qterms.select("query_id", "term", "mult").unionByName(
            eterms.select("query_id", "term", "mult")
        )
        out = _with_pad_candidates(
            index, queries_df, qall, out, pad_candidates_for_k, method,
            idf_method, query_id_col,
        )
    return out


def prf_retrieve(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    feedback_docs: int = 5,
    expansion_terms: int = 3,
    method: str = "lucene",
    idf_method: str | None = None,
    rescore: str | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
    **retrieve_kwargs,
) -> DataFrame:
    """Two-stage PRF retrieval → (query_id, rank, doc_id, score).

    ``rescore="delta"`` (the default when no retrieve pass-through flags
    are given): :func:`prf_score_delta` — round 2 scores only the
    expansion terms and adds the retained round-1 scores; one fewer
    full postings pass than ``full``, same math up to FP summation
    order.  The delta path is join-strategy-shaped; of the retrieve
    flags only ``pad`` is honored (default True).
    ``rescore="full"``: ``prf_expand`` then a normal ``retrieve`` over
    the expanded pre-tokenized queries (any strategy / extra flags pass
    through) — three postings passes.  Calls that pass retrieve flags
    beyond ``pad`` default to ``full`` (delta rejects them)."""
    if rescore is None:
        # delta is the fast default; pass-through flags (strategy, etc.)
        # need the full-rescore path
        rescore = "delta" if set(retrieve_kwargs) <= {"pad"} else "full"
    if rescore not in ("full", "delta"):
        raise ValueError(f"rescore must be 'full' or 'delta', got {rescore!r}")
    if rescore == "delta":
        pad = retrieve_kwargs.pop("pad", True)
        if retrieve_kwargs:
            raise ValueError(
                "rescore='delta' does not accept retrieve pass-through "
                f"flags (got {sorted(retrieve_kwargs)}); use rescore='full'"
            )
        if k > index.num_docs:
            raise ValueError(
                f"k={k} is larger than the number of documents "
                f"({index.num_docs})"
            )
        scored = prf_score_delta(
            index, queries_df, feedback_docs=feedback_docs,
            expansion_terms=expansion_terms, method=method,
            idf_method=idf_method,
            pad_candidates_for_k=k if pad else None,
            query_id_col=query_id_col, text_col=text_col,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
    expanded = prf_expand(
        index, queries_df, feedback_docs=feedback_docs,
        expansion_terms=expansion_terms, method=method,
        idf_method=idf_method, query_id_col=query_id_col,
        text_col=text_col,
    )
    return retrieve(
        index, expanded, k=k, method=method, idf_method=idf_method,
        query_id_col="query_id", text_col="text", **retrieve_kwargs,
    )
