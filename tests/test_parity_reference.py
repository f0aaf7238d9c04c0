"""End-to-end rank-identity vs the in-process reference library
(FIXTURES.md §4 oracle protocol) on the golden animal corpus (t1) and the
2,000-doc synthetic transcript corpus (t2)."""

from __future__ import annotations

import numpy as np
import pytest

from bm25s_spark.indexer import SparkBM25, build_index
from bm25s_spark.transcripts import ANIMAL_CORPUS, queries_for, transcripts_df

from tests.conftest import assert_rank_identical, import_ref_bm25s, ref_topk

METHODS = ["robertson", "lucene", "atire", "bm25l", "bm25+"]


def _corpus_texts(tdf):
    rows = tdf.orderBy("conv_id", "turn_idx").select("text").collect()
    return [r["text"] for r in rows]


def _run_ours(spark, tdf, queries, k, method, idf_method=None, strategy="join",
              weight_mask=None):
    engine = SparkBM25(method=method, idf_method=idf_method)
    engine.index(tdf)
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    mask_df = None
    if weight_mask is not None:
        mask_df = spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(weight_mask)],
            "doc_id long, weight double",
        )
    res = engine.retrieve(qdf, k=k, strategy=strategy, weight_mask_df=mask_df)
    return [r.asDict() for r in res.collect()]


@pytest.mark.parametrize("method", METHODS)
def test_animal_corpus_all_methods(spark, ref_bm25s, method):
    tdf = transcripts_df(spark, "t1")
    queries = [
        ("q-0000", "a cat is a feline, it's sometimes beautiful but cannot fly"),
        ("q-0001", "does the fish purr like a cat?"),
        ("q-0002", "dog"),
    ]
    k = 3
    ours = _run_ours(spark, tdf, queries, k, method)
    docs, scores = ref_topk(ref_bm25s, ANIMAL_CORPUS, [q[1] for q in queries], k, method)
    assert_rank_identical(ours, docs, scores)


def test_animal_golden_expectations(spark):
    """The reference's own golden doc-id expectations
    (reference/tests/core/test_retrieve.py:39-50): top-2 for the feline
    query is [cat, bird] = docs [0, 2]."""
    tdf = transcripts_df(spark, "t1")
    queries = [("q-0000", "a cat is a feline, it's sometimes beautiful but cannot fly")]
    ours = _run_ours(spark, tdf, queries, 2, "lucene")
    got = [r["doc_id"] for r in sorted(ours, key=lambda r: r["rank"])]
    assert got == [0, 2], got


def test_weight_mask_golden(spark):
    """Weight-mask golden (reference/tests/core/test_retrieve.py:98-114):
    'cat feline dog bird fish' with mask [1,0,0,1] → docs [0, 3]."""
    tdf = transcripts_df(spark, "t1")
    queries = [("q-0000", "cat feline dog bird fish")]
    mask = [1, 0, 0, 1]
    ours = _run_ours(spark, tdf, queries, 2, "lucene", weight_mask=mask)
    got = sorted(r["doc_id"] for r in ours)
    assert got == [0, 3], got
    ref_bm25s = import_ref_bm25s()
    docs, scores = ref_topk(
        ref_bm25s, ANIMAL_CORPUS, [queries[0][1]], 2, "lucene", weight_mask=mask
    )
    assert_rank_identical(ours, docs, scores)


@pytest.mark.parametrize("method", METHODS)
def test_t2_corpus_all_methods(spark, ref_bm25s, method):
    tdf = transcripts_df(spark, "t2").persist()
    texts = _corpus_texts(tdf)
    queries = queries_for(texts, 40)
    k = 10
    ours = _run_ours(spark, tdf, queries, k, method)
    docs, scores = ref_topk(ref_bm25s, texts, [q[1] for q in queries], k, method)
    assert_rank_identical(ours, docs, scores)


@pytest.mark.parametrize(
    "method,idf_method",
    [("atire", "robertson"), ("atire", "lucene")],
)
def test_cross_idf_combos(spark, ref_bm25s, method, idf_method):
    """The rank-bm25 / bm25-pt equivalence settings
    (reference/tests/__init__.py:92-98,227)."""
    tdf = transcripts_df(spark, "t2").persist()
    texts = _corpus_texts(tdf)
    queries = queries_for(texts, 15)
    ours = _run_ours(spark, tdf, queries, 10, method, idf_method)
    docs, scores = ref_topk(
        ref_bm25s, texts, [q[1] for q in queries], 10, method, idf_method
    )
    assert_rank_identical(ours, docs, scores)


def test_k_edge_cases(spark):
    tdf = transcripts_df(spark, "t1")
    queries = [("q-0000", "cat")]
    # k == num_docs works
    ours = _run_ours(spark, tdf, queries, 4, "lucene")
    assert len(ours) == 4
    # k > num_docs raises (reference/bm25s/__init__.py:759-765)
    with pytest.raises(ValueError):
        _run_ours(spark, tdf, queries, 5, "lucene")


def test_empty_and_oov_queries(spark):
    tdf = transcripts_df(spark, "t1")
    queries = [
        ("q-0000", ""),                 # empty
        ("q-0001", "the and of to"),    # all stopwords
        ("q-0002", "zzqx qqzz"),        # all OOV
    ]
    ours = _run_ours(spark, tdf, queries, 2, "lucene")
    by_q = {}
    for r in ours:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 2, (qid, rows)
        assert all(abs(r["score"]) < 1e-12 for r in rows), (qid, rows)


def test_require_all_terms_boolean_and(spark):
    """require_all_terms=True: boolean-AND doc filtering with unchanged
    BM25 scores on the qualifying set; OOV / all-stopword queries match
    nothing; sharded strategy rejects the flag."""
    import re

    tdf = transcripts_df(spark, "t2").persist()
    engine = SparkBM25(method="lucene")
    engine.index(tdf)
    queries = [
        ("qa", "cat dog"),
        ("qb", "cat zzznope"),          # OOV term → nothing
        ("qc", "the and of"),           # all stopwords → nothing
    ]
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    got = engine.retrieve(qdf, k=5, require_all_terms=True).collect()

    # brute-force twin over the same tokenizer semantics
    from bm25s_spark.tokenization import STOPWORDS_EN
    texts = _corpus_texts(tdf)
    tok = lambda s: [t for t in re.findall(r"(?u)\b\w\w+\b", s.lower())
                     if t not in STOPWORDS_EN]
    doc_tokens = [set(tok(t)) for t in texts]
    for qid, qtext in queries:
        need = set(tok(qtext))
        want = {i for i, dt in enumerate(doc_tokens) if need and need <= dt}
        ours = {r["doc_id"] for r in got if r["query_id"] == qid}
        assert ours <= want, (qid, ours - want)
        if len(want) <= 5:
            assert ours == want, (qid, want - ours)
    assert not [r for r in got if r["query_id"] in ("qb", "qc")]

    # scores on qualifying docs equal the plain (OR) retrieval scores
    plain = {(r["query_id"], r["doc_id"]): r["score"]
             for r in engine.retrieve(qdf, k=50).collect()}
    for r in got:
        key = (r["query_id"], r["doc_id"])
        if key in plain:
            assert abs(r["score"] - plain[key]) < 1e-9

    with pytest.raises(ValueError, match="require_all_terms"):
        engine.retrieve(qdf, k=5, strategy="sharded", require_all_terms=True)
    tdf.unpersist()


def test_allow_negative_idf_values(ref_bm25s):
    """idf_value(..., allow_negative=True) matches the reference's
    unclamped robertson IDF (reference/bm25s/scoring.py:178-187) across
    the df range, including the df > N/2 negative region."""
    from bm25s_spark.scoring import idf_value

    n = 1000.0
    for df in (1, 10, 499, 500, 501, 700, 999, 1000):
        ref = ref_bm25s.scoring._score_idf_robertson(
            float(df), n, allow_negative=True
        )
        got = idf_value("robertson", float(df), n, allow_negative=True)
        assert abs(got - ref) < 1e-12, (df, got, ref)
        # clamped default still matches too
        ref_c = ref_bm25s.scoring._score_idf_robertson(float(df), n)
        got_c = idf_value("robertson", float(df), n)
        assert abs(got_c - ref_c) < 1e-12, (df, got_c, ref_c)
    # the knob actually changes something where df > N/2
    assert idf_value("robertson", 700.0, n, allow_negative=True) < 0.0
    assert idf_value("robertson", 700.0, n) == 0.0


def test_allow_negative_end_to_end(spark, ref_bm25s, monkeypatch):
    """Parity vs the reference built with the unclamped robertson scorer
    (functools.partial on _score_idf_robertson — the reference has no
    constructor knob, so the flag is applied where it lives,
    reference/bm25s/scoring.py:178-187).  The t2 corpus has head terms
    with df > N/2, so scores genuinely go negative.

    With negative scores the reference's dense-vector top-k surfaces
    UNMATCHED docs (score 0) above negatively-scored matched docs, and
    its pick among the thousands of 0-score ties is arbitrary
    (argpartition order) — so parity is checked against our dense twin
    ``score_all(dense=True)``: every reference (doc, score) pair must
    match our dense score for that doc, and the top-k score profiles
    must agree positionally.  Both retrieve strategies are then checked
    for arithmetic agreement with the same dense map."""
    import functools

    tdf = transcripts_df(spark, "t2").persist()
    texts = _corpus_texts(tdf)
    queries = queries_for(texts, 15)
    k = 10

    orig = ref_bm25s.scoring._score_idf_robertson
    monkeypatch.setattr(
        ref_bm25s.scoring,
        "_score_idf_robertson",
        functools.partial(orig, allow_negative=True),
    )
    docs, scores = ref_topk(
        ref_bm25s, texts, [q[1] for q in queries], k, "robertson"
    )

    engine = SparkBM25(method="robertson")
    engine.index(tdf)
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    dense = {}
    for r in engine.get_scores(qdf, allow_negative=True, dense=True).collect():
        dense.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]

    qids = sorted(q[0] for q in queries)
    saw_negative = False
    for qi, qid in enumerate(qids):
        ref_pairs = list(zip(np.asarray(docs[qi]).tolist(),
                             np.asarray(scores[qi], dtype=np.float64)))
        for d, s in ref_pairs:
            assert abs(dense[qid][d] - s) < 1e-4 + 1e-4 * abs(s), (qid, d, dense[qid][d], s)
        saw_negative = saw_negative or any(s < -1e-6 for _, s in ref_pairs)
        # top-k score profile: our best-k dense scores == reference's
        ours_sorted = sorted(dense[qid].values(), reverse=True)[:k]
        np.testing.assert_allclose(
            ours_sorted, sorted((s for _, s in ref_pairs), reverse=True),
            rtol=1e-4, atol=1e-5, err_msg=qid,
        )
    assert saw_negative, "corpus failed to exercise the negative-idf region"

    # both retrieve strategies agree with the dense map on every row
    for strategy in ("join", "sharded"):
        got = engine.retrieve(
            qdf, k=k, strategy=strategy, allow_negative=True, pad=False
        ).collect()
        assert got, strategy
        for r in got:
            assert abs(dense[r["query_id"]][r["doc_id"]] - r["score"]) < 1e-4, (
                strategy, r)
    tdf.unpersist()


def test_padded_retrieve_plans_lazily(spark):
    """Padding no longer runs an eager count-probe inside retrieve():
    constructing the padded plan launches at most ONE Spark job — the
    bounded driver-localization probe of tokenize_queries (a
    ``limit(n+1)`` Arrow pull that replaces a Python-UDF sub-plan in
    every downstream broadcast build).  The pad candidates are unioned
    pre-window and the rank cut drops them at action time — no
    count-probe, no persist, no rank job at construction."""
    tdf = transcripts_df(spark, "t1")
    engine = SparkBM25(method="bm25+")
    engine.index(tdf)
    qdf = spark.createDataFrame(
        [("q1", "cat"), ("q2", "zzqx")], "query_id string, text string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("pad-lazy", "padded retrieve plan construction")
    try:
        df = engine.retrieve(qdf, k=3, pad=True)
        jobs = sc.statusTracker().getJobIdsForGroup("pad-lazy")
        assert len(jobs) <= 1, f"plan construction launched jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    rows = df.collect()
    # and the padding itself still honors the k-rows contract
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert {q: len(v) for q, v in by_q.items()} == {"q1": 3, "q2": 3}
