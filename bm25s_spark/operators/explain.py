"""Score explanation: per-(query, doc, term) contribution breakdown.

Lucene's ``explain()`` for the BM25 engine: as in the reference's
precomputed impacts (``reference/bm25s/scoring.py:246-309``), a
document's score decomposes exactly into one impact per matched term
(times query multiplicity) plus the per-query nonoccurrence constant.
Each impact comes from the scorer's own expression
(``retrieval._scoring_cols``), so the breakdown sums to the score.

Scale shape: identical to the scoring join itself — ONE broadcast join
of the tiny query-term table against the postings, optionally
semi-joined against a top-k result so only the hits a user is looking
at are explained (the semi-join side is (queries × k) rows → broadcast).
No Python, no extra shuffle beyond the scorer's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bm25s_spark.indexer import BM25Index
from bm25s_spark.retrieval import _scoring_cols, tokenize_queries
from bm25s_spark.scoring import METHODS


def explain_scores(
    index: BM25Index,
    queries_df: DataFrame,
    method: str = "lucene",
    idf_method: str | None = None,
    topk_df: DataFrame | None = None,
    round_to: int | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-term score contributions →
    ``(query_id, doc_id, term, tf, mult, contribution)``.

    ``contribution = mult · impact`` — summing it per (query, doc) and
    adding the per-query nonoccurrence constant reproduces the
    retrieval score exactly (asserted by ``test_explain_sums_to_score``).
    ``topk_df`` (query_id, doc_id) restricts the explanation to given
    hits, e.g. a ``retrieve()`` result; ``round_to`` rounds the
    contribution for cross-engine comparison.
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    idf_method = idf_method or method
    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)
    impact, _ = _scoring_cols(index, method, idf_method)
    rows = (
        F.broadcast(qterms)
        .join(index.postings, "term")
        .select(
            "query_id",
            "doc_id",
            "term",
            F.col("tf").cast("double").alias("tf"),
            F.col("mult").cast("double").alias("mult"),
            (F.col("mult").cast("double") * impact.cast("double")).alias(
                "contribution"
            ),
        )
    )
    if topk_df is not None:
        rows = rows.join(
            F.broadcast(topk_df.select("query_id", "doc_id").distinct()),
            ["query_id", "doc_id"],
            "left_semi",
        )
    if round_to is not None:
        rows = rows.withColumn(
            "contribution", F.round("contribution", round_to)
        )
    return rows
