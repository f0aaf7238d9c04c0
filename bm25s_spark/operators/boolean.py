"""Boolean NOT retrieval: BM25 top-k with per-query excluded terms.

The reference scores a flat bag of query tokens
(``reference/bm25s/__init__.py:572-618``) and has no negation surface;
``require_all_terms`` (retrieval.py) added the AND leg, this module adds
the NOT leg: documents containing ANY excluded term are removed from the
candidate set BEFORE ranking ("spark shuffle -join": everything about
shuffles that doesn't mention joins).

Scale shape: ONE broadcast join + ONE aggregation — positive and
negative query terms travel in the same tiny broadcast table (a ``neg``
flag tells them apart), so exclusion costs no second pass over the
postings and no corpus-sized anti-join: the (query, doc) group computes
``raw = Σ positive-impact`` and ``max(neg)`` together, and exclusion is
a post-aggregation filter.  A term listed both positively and negatively
excludes (NOT wins) — the SQL-standard resolution.

No padding: the reference's pad-to-k fills with arbitrary unmatched
docs, which could silently reintroduce excluded documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bm25s_spark.indexer import BM25Index
from bm25s_spark.retrieval import (
    _nnoc_per_query,
    _scoring_cols,
    tokenize_queries,
)
from bm25s_spark.scoring import METHODS


def retrieve_min_match(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    min_match: int | float = 2,
    method: str = "lucene",
    idf_method: str | None = None,
    round_to: int | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 over docs matching at least ``min_match`` DISTINCT
    query terms → (query_id, rank, doc_id, score) — Lucene/ES
    ``minimum_should_match``, the middle ground between the default OR
    (min 1) and ``require_all_terms`` (min = all).

    ``min_match`` is an absolute count (int ≥ 1) or a fraction
    (0 < float ≤ 1) of the query's distinct post-tokenizer terms,
    rounded up.  Like Elasticsearch, the requirement is NOT clamped: a
    query with fewer distinct terms than an absolute ``min_match``
    matches nothing.  Matched-term counting is per distinct term (a
    repeated query term still counts once), exactly the
    ``require_all_terms`` contract.

    Scale shape: the same ONE broadcast join + ONE aggregation as plain
    scoring — the distinct-match count falls out of the (query, doc)
    group's row count for free (qterms is distinct per (query, term),
    postings unique per (term, doc)), so the filter is a HAVING, not a
    second pass.
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    idf_method = idf_method or method
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if isinstance(min_match, float) and not min_match.is_integer():
        if not 0.0 < min_match <= 1.0:
            raise ValueError(
                f"fractional min_match must be in (0, 1], got {min_match}"
            )
        frac = min_match
    else:
        if int(min_match) < 1:
            raise ValueError(f"min_match must be >= 1, got {min_match}")
        frac = None

    qterms = tokenize_queries(index, queries_df, query_id_col, text_col)
    if frac is not None:
        qn = qterms.groupBy("query_id").agg(
            F.ceil(F.count(F.lit(1)) * F.lit(frac)).cast("long").alias("_req")
        )
        qside = qterms.join(F.broadcast(qn), "query_id")
    else:
        qside = qterms.withColumn("_req", F.lit(int(min_match)).cast("long"))
    impact, _ = _scoring_cols(index, method, idf_method)
    grouped = (
        F.broadcast(qside)
        .join(index.postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("mult").cast("double") * impact.cast("double")).alias("raw"),
            F.count(F.lit(1)).alias("_matched"),
            F.first("_req").alias("_req"),
        )
        .where(F.col("_matched") >= F.col("_req"))
        .drop("_matched", "_req")
    )
    nnoc = _nnoc_per_query(index, qterms, method, idf_method)
    scores = (
        grouped.join(F.broadcast(nnoc), "query_id", "left")
        .withColumn("score", F.col("raw") + F.coalesce(F.col("nnoc_sum"), F.lit(0.0)))
        .select("query_id", "doc_id", "score")
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def retrieve_excluding(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    method: str = "lucene",
    idf_method: str | None = None,
    round_to: int | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
    exclude_col: str = "exclude_text",
) -> DataFrame:
    """Top-k BM25 over docs matching ≥1 positive term and NO excluded
    term → (query_id, rank, doc_id, score).

    ``exclude_col`` holds the negated query text (or a pre-tokenized
    ``array<string>``, same contract as ``text_col``); null/empty means
    no exclusion for that query.  ``round_to`` rounds scores before the
    rank cut (doc_id-ascending ties) — the gate-stability convention.
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    idf_method = idf_method or method
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    qpos = tokenize_queries(index, queries_df, query_id_col, text_col)
    qneg = (
        tokenize_queries(index, queries_df, query_id_col, exclude_col)
        .select("query_id", "term")
        .distinct()
    )
    qall = (
        qpos.select(
            "query_id", "term", F.col("mult").cast("double").alias("mult"),
            F.lit(0).alias("neg"),
        )
        .unionByName(
            qneg.select(
                "query_id", "term", F.lit(0.0).alias("mult"),
                F.lit(1).alias("neg"),
            )
        )
    )
    impact, _ = _scoring_cols(index, method, idf_method)
    grouped = (
        F.broadcast(qall)
        .join(index.postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.when(F.col("neg") == 0, F.col("mult") * impact.cast("double"))
                .otherwise(F.lit(0.0))
            ).alias("raw"),
            # a doc whose only matches are negative is dropped by this
            # flag too (its raw is 0 and it matched nothing positive) —
            # no separate positive-match test needed
            F.max("neg").alias("_neg"),
        )
        .where(F.col("_neg") == 0)
        .drop("_neg")
    )
    nnoc = _nnoc_per_query(index, qpos, method, idf_method)
    scores = (
        grouped.join(F.broadcast(nnoc), "query_id", "left")
        .withColumn("score", F.col("raw") + F.coalesce(F.col("nnoc_sum"), F.lit(0.0)))
        .select("query_id", "doc_id", "score")
    )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
