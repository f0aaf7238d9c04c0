"""Shared fixtures: a local SparkSession and the in-process reference
oracle (the actual bm25s library, imported read-only from
/root/reference — FIXTURES.md §4 oracle protocol)."""

from __future__ import annotations

import sys

import numpy as np
import pytest

REFERENCE_PATH = "/root/reference"
if REFERENCE_PATH not in sys.path:
    sys.path.insert(0, REFERENCE_PATH)


@pytest.fixture(scope="session")
def spark():
    from bm25s_spark.session import get_spark

    s = get_spark("bm25s_spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def import_ref_bm25s():
    """The reference library, or a skip of the calling test when
    ``bm25s`` is importable neither from ``REFERENCE_PATH`` nor as an
    installed package.  Tests with reference-free checks call it after
    those checks have run."""
    return pytest.importorskip(
        "bm25s",
        reason=f"reference library bm25s not importable (looked in {REFERENCE_PATH})",
    )


@pytest.fixture(scope="session")
def ref_bm25s():
    """The reference library, used strictly as a black-box oracle."""
    return import_ref_bm25s()


def ref_topk(ref_bm25s, corpus_texts, query_texts, k, method="lucene",
             idf_method=None, weight_mask=None, stopwords="en"):
    """Run the reference end-to-end: tokenize → index → retrieve.

    Returns (docs, scores) arrays shaped (n_queries, k)."""
    import numpy as _np

    kwargs = dict(method=method, k1=1.5, b=0.75, delta=0.5)
    if idf_method is not None:
        kwargs["idf_method"] = idf_method
    retriever = ref_bm25s.BM25(**kwargs)
    corpus_tokens = ref_bm25s.tokenize(
        corpus_texts, stopwords=stopwords, show_progress=False
    )
    retriever.index(corpus_tokens, show_progress=False)
    query_tokens = ref_bm25s.tokenize(
        query_texts, stopwords=stopwords, show_progress=False
    )
    docs, scores = retriever.retrieve(
        query_tokens, k=k, show_progress=False, n_threads=0,
        weight_mask=None if weight_mask is None else _np.asarray(weight_mask),
    )
    return docs, scores


def rows_to_arrays(rows):
    """(query_id, rank, doc_id, score) rows → (docs, scores) arrays in
    sorted-query order, for feeding a result set as the 'reference' side
    of assert_rank_identical."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    docs, scores = [], []
    for q in sorted(by_q):
        rs = sorted(by_q[q], key=lambda r: r["rank"])
        docs.append([r["doc_id"] for r in rs])
        scores.append([r["score"] for r in rs])
    return docs, scores


def assert_rank_identical(ours_rows, ref_docs, ref_scores, rtol=1e-4, atol=1e-5):
    """Compare our (query_id, rank, doc_id, score) rows against the
    reference's (docs, scores) arrays.

    Rank identity is enforced at equal-score-group granularity: scores
    must match positionally within tolerance, and the multiset of doc ids
    inside each tie group must match (the reference's own numpy/numba
    backends differ on tie order — SURVEY.md §2.6)."""
    by_q: dict = {}
    for r in ours_rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == len(ref_docs), (len(by_q), len(ref_docs))
    for qi, qid in enumerate(sorted(by_q)):
        ours = sorted(by_q[qid], key=lambda r: r["rank"])
        o_scores = np.array([r["score"] for r in ours], dtype=np.float64)
        o_docs = [r["doc_id"] for r in ours]
        r_scores = np.asarray(ref_scores[qi], dtype=np.float64)
        r_docs = list(np.asarray(ref_docs[qi]).tolist())
        assert len(o_docs) == len(r_docs), (qid, o_docs, r_docs)
        np.testing.assert_allclose(
            o_scores, r_scores, rtol=rtol, atol=atol,
            err_msg=f"score mismatch for {qid}: ours={list(zip(o_docs, o_scores))} ref={list(zip(r_docs, r_scores))}",
        )
        # group by approximately-equal score, compare doc multisets
        i = 0
        n = len(r_scores)
        while i < n:
            j = i + 1
            while j < n and abs(r_scores[j] - r_scores[i]) <= atol + rtol * abs(r_scores[i]):
                j += 1
            og, rg = sorted(o_docs[i:j]), sorted(r_docs[i:j])
            # tie groups truncated at k may legitimately differ in members;
            # only interior groups must match exactly
            if j < n:
                assert og == rg, f"{qid}: tie group docs differ at ranks [{i},{j}): {og} vs {rg}"
            i = j


def assert_scores_equal(index_a, index_b, queries_df, rel=1e-12):
    """``score_all`` of two indexes agrees for all five methods: the same
    (query, doc) pairs, and scores equal to ``rel``.  The tolerance only
    absorbs Spark summing a doc's identical impacts in another order,
    which follows the partitioning."""
    from bm25s_spark.retrieval import score_all
    from bm25s_spark.scoring import METHODS

    for m in METHODS:
        a = score_all(index_a, queries_df, method=m) \
            .orderBy("query_id", "doc_id").collect()
        b = score_all(index_b, queries_df, method=m) \
            .orderBy("query_id", "doc_id").collect()
        assert [r[:2] for r in a] == [r[:2] for r in b], m
        assert [r[2] for r in b] == pytest.approx([r[2] for r in a], rel=rel), m
