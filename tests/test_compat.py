"""Reference on-disk format interop (bm25s_spark/compat.py).

The strongest claims are cross-library: an index exported by the Spark
engine is loaded and queried by the ACTUAL reference library
(read-only from /root/reference), and a save written by the actual
reference library is imported and queried by the Spark engine — both
directions must agree with the native path.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import pyspark.sql.functions as F

from bm25s_spark.compat import (
    CORPUS_NAME, DATA_NAME, INDICES_NAME, INDPTR_NAME, MMINDEX_NAME,
    NNOC_NAME, PARAMS_NAME, VOCAB_NAME, export_bm25s, import_bm25s,
)
from bm25s_spark.indexer import build_index
from bm25s_spark.retrieval import retrieve, score_all

from tests.conftest import import_ref_bm25s

# doc lengths (after stopword filtering) are all DISTINCT so that no
# two docs can ever score identically on a shared term — boundary ties
# would make top-k doc identity arbitrary in both engines
CORPUS = [
    "the quick brown fox jumps over the lazy dogs tonight",
    "lazy dogs sleep all day long under warm bright summer sunshine",
    "quick dogs and very quick foxes play together",
    "the fox sleeps while tired dogs play in deep sticky autumn mud",
    "brown bears eat sweet honey deep in the forest",
    "honey badgers fear nothing much and dig tunnels beneath the night desert sand dunes",
]
# each query matches ≥3 docs with distinct scores: rank boundaries are
# never score-ties, where doc identity is arbitrary in BOTH engines
# (reference argpartition vs our doc_id tiebreak)
QUERIES = ["quick dogs", "brown fox honey", "lazy dogs honey"]


def _docs_df(spark):
    rows = [(f"c{i // 2}", i % 2, t) for i, t in enumerate(CORPUS)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def _queries_df(spark):
    return spark.createDataFrame(
        [(f"q{i}", t) for i, t in enumerate(QUERIES)],
        "query_id string, text string",
    )


@pytest.fixture(scope="module")
def built_index(spark):
    idx = build_index(_docs_df(spark), order_cols=["conv_id", "turn_idx"])
    idx.persist()
    yield idx
    idx.unpersist()


def test_roundtrip_bit_exact_float64(spark, built_index, tmp_path):
    """export(float64) → import → identical scores through BOTH
    retrieval strategies (the engine stores double impacts, so a
    float64 CSC round trip must be lossless)."""
    d = str(tmp_path / "idx64")
    export_bm25s(built_index, d, method="bm25l", dtype="float64",
                 int_dtype="int64")
    imp = import_bm25s(spark, d)
    qdf = _queries_df(spark)
    a = score_all(built_index, qdf, method="bm25l") \
        .orderBy("query_id", "doc_id").collect()
    b = score_all(imp, qdf, method="bm25l") \
        .orderBy("query_id", "doc_id").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in a] == \
           [(r.query_id, r.doc_id, r.score) for r in b]
    # strategy-for-strategy parity (join vs sharded tie-break on equal
    # scores differs by design; the gate pins that with rounding)
    for kw in ({"strategy": "join"}, {"strategy": "sharded"}):
        ra = retrieve(built_index, qdf, k=3, method="bm25l", **kw) \
            .orderBy("query_id", "rank").collect()
        rs = retrieve(imp, qdf, k=3, method="bm25l", **kw) \
            .orderBy("query_id", "rank").collect()
        assert [(r.query_id, r.rank, r.doc_id) for r in ra] == \
               [(r.query_id, r.rank, r.doc_id) for r in rs], kw
        for x, y in zip(ra, rs):
            assert y.score == pytest.approx(x.score, abs=1e-9), kw


def test_export_loads_in_reference_library(spark, built_index, ref_bm25s,
                                           tmp_path):
    """The ACTUAL reference library loads our export and retrieves the
    same ranking the Spark engine produces (default float32/int32
    dtypes, i.e. the reference's own storage precision)."""
    d = str(tmp_path / "idx32")
    export_bm25s(built_index, d, method="bm25l")
    # dtype defaults mirror the reference's constructor defaults
    assert np.load(os.path.join(d, DATA_NAME)).dtype == np.float32
    assert np.load(os.path.join(d, INDICES_NAME)).dtype == np.int32

    r = ref_bm25s.BM25.load(d)
    qtok = ref_bm25s.tokenize(QUERIES, stopwords="en", show_progress=False)
    docs, scores = r.retrieve(qtok, k=3, show_progress=False, n_threads=0)

    # k+1 from our side: the guard must prove the k-boundary itself is
    # not a tie (where doc identity is arbitrary in both engines)
    ours = retrieve(built_index, _queries_df(spark), k=4, method="bm25l") \
        .orderBy("query_id", "rank").collect()
    for qi in range(len(QUERIES)):
        mine = [(row.doc_id, row.score) for row in ours
                if row.query_id == f"q{qi}"]
        my_scores = [s for _, s in mine]
        assert min(np.abs(np.diff(my_scores))) > 1e-3  # no (boundary) ties
        assert [d_ for d_, _ in mine[:3]] == docs[qi].tolist()
        np.testing.assert_allclose(my_scores[:3], scores[qi], rtol=2e-4)


def test_import_of_reference_save(spark, ref_bm25s, tmp_path):
    """A save written by the ACTUAL reference library imports into the
    Spark engine and retrieves the reference's own ranking."""
    r = ref_bm25s.BM25(method="bm25l")
    ctok = ref_bm25s.tokenize(CORPUS, stopwords="en", show_progress=False)
    r.index(ctok, show_progress=False)
    d = str(tmp_path / "refidx")
    r.save(d, corpus=CORPUS, show_progress=False)

    qtok = ref_bm25s.tokenize(QUERIES, stopwords="en", show_progress=False)
    ref_docs, ref_scores = r.retrieve(qtok, k=3, show_progress=False,
                                      n_threads=0)

    imp = import_bm25s(spark, d, load_corpus=True)
    assert imp.doc_map is not None and imp.doc_map.count() == len(CORPUS)
    got = retrieve(imp, _queries_df(spark), k=4, method="bm25l") \
        .orderBy("query_id", "rank").collect()
    for qi in range(len(QUERIES)):
        mine = [(row.doc_id, row.score) for row in got
                if row.query_id == f"q{qi}"]
        my_scores = [s for _, s in mine]
        assert min(np.abs(np.diff(my_scores))) > 1e-3  # no (boundary) ties
        assert [d_ for d_, _ in mine[:3]] == ref_docs[qi].tolist()
        np.testing.assert_allclose(my_scores[:3], ref_scores[qi], rtol=2e-4)


def test_mmindex_matches_reference_builder(built_index, ref_bm25s, tmp_path):
    """corpus.mmindex.json must equal what the reference's own
    find_newline_positions computes over our corpus.jsonl
    (reference/bm25s/utils/corpus.py:30-61)."""
    d = str(tmp_path / "idxc")
    export_bm25s(built_index, d, method="lucene")
    ours = json.load(open(os.path.join(d, MMINDEX_NAME)))
    theirs = ref_bm25s.utils.corpus.find_newline_positions(
        os.path.join(d, CORPUS_NAME), show_progress=False
    )
    assert ours == theirs
    # and each offset points at the doc with that id
    with open(os.path.join(d, CORPUS_NAME), "rb") as f:
        for i, off in enumerate(ours):
            f.seek(off)
            assert json.loads(f.readline())["id"] == i


def test_csc_invariants_and_params_keys(built_index, tmp_path):
    """CSC structure: indptr is the df cumsum, indices ascend within
    each term; params.index.json round-trips through the reference
    constructor (exactly the keys its load() feeds to BM25S(**params))."""
    import inspect

    d = str(tmp_path / "idxp")
    params = export_bm25s(built_index, d, method="bm25+")
    data = np.load(os.path.join(d, DATA_NAME))
    ind = np.load(os.path.join(d, INDICES_NAME))
    iptr = np.load(os.path.join(d, INDPTR_NAME))
    vocab = json.load(open(os.path.join(d, VOCAB_NAME)))
    assert len(iptr) == len(vocab) + 1
    assert iptr[0] == 0 and iptr[-1] == len(data) == len(ind)
    for j in range(len(vocab)):
        seg = ind[iptr[j]:iptr[j + 1]]
        assert np.all(np.diff(seg) > 0)
    assert os.path.exists(os.path.join(d, NNOC_NAME))  # bm25+ stores nnoc
    stored = json.load(open(os.path.join(d, PARAMS_NAME)))
    assert stored == params
    ref_bm25s = import_ref_bm25s()
    sig = set(inspect.signature(ref_bm25s.BM25.__init__).parameters) - {"self"}
    assert set(params) - {"version", "num_docs"} <= sig


def test_imported_index_is_method_pinned(spark, built_index, tmp_path):
    """The format carries one method's impacts and no (tf, dl):
    any other combination — or exact-mode recomputation — must raise."""
    d = str(tmp_path / "idxg")
    export_bm25s(built_index, d, method="bm25l", dtype="float64")
    imp = import_bm25s(spark, d)
    qdf = _queries_df(spark)
    with pytest.raises(ValueError, match="imported"):
        retrieve(imp, qdf, k=2, method="lucene")
    with pytest.raises(ValueError, match="imported"):
        retrieve(imp, qdf, k=2, method="bm25l", idf_method="lucene")
    with pytest.raises(ValueError, match="imported"):
        retrieve(imp, qdf, k=2, method="bm25l", strategy="sharded",
                 exact=True, round_to=4, prune=False)
    with pytest.raises(ValueError, match="imported"):
        score_all(imp, qdf, method="atire")
    # the stored combination still works
    assert retrieve(imp, qdf, k=2, method="bm25l").count() == 2 * len(QUERIES)


def test_saved_import_keeps_method_pin(spark, built_index, tmp_path):
    """save_index/load_index of an import keeps its method pin and its
    stored impacts: join and sharded results equal the import's, and
    any other method still raises instead of scoring placeholders."""
    from bm25s_spark.index_io import load_index, save_index

    d = str(tmp_path / "idx32")
    export_bm25s(built_index, d, method="bm25l")  # float32, the default
    imp = import_bm25s(spark, d)
    save_index(imp, str(tmp_path / "saved"))
    loaded = load_index(spark, str(tmp_path / "saved"))
    assert loaded.compat_import == imp.compat_import
    qdf = _queries_df(spark)
    for kw in ({"strategy": "join"}, {"strategy": "sharded"}):
        a = retrieve(imp, qdf, k=3, method="bm25l", **kw) \
            .orderBy("query_id", "rank").collect()
        b = retrieve(loaded, qdf, k=3, method="bm25l", **kw) \
            .orderBy("query_id", "rank").collect()
        assert a == b, kw
    with pytest.raises(ValueError, match="imported"):
        retrieve(loaded, qdf, k=2, method="lucene", strategy="sharded")


def test_merge_and_compact_reject_imports(spark, built_index, tmp_path):
    """An import has no real (tf, dl) to rescore from: merging or
    compacting it raises instead of rescoring its docs from placeholder
    zeros, while a tombstone view keeps the import's own scores."""
    from bm25s_spark.indexer import build_index_from_tokens, merge_indexes
    from bm25s_spark.operators.deletes import compact_index, with_tombstones

    d = str(tmp_path / "idxm")
    export_bm25s(built_index, d, method="bm25l", dtype="float64")
    imp = import_bm25s(spark, d)
    other = build_index_from_tokens(
        spark.createDataFrame([(100, ["quick", "fox"])],
                              "doc_id long, tokens array<string>"),
        doc_id_col="doc_id",
    )
    with pytest.raises(ValueError, match="imported"):
        merge_indexes(imp, other)
    with pytest.raises(ValueError, match="imported"):
        merge_indexes(other, imp)
    tomb = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="imported"):
        compact_index(imp, tomb)
    view = with_tombstones(imp, tomb)
    with pytest.raises(ValueError, match="imported"):
        compact_index(view)
    qdf = _queries_df(spark)
    full = {(r.query_id, r.doc_id): r.score
            for r in score_all(imp, qdf, method="bm25l").collect()}
    live = {(r.query_id, r.doc_id): r.score
            for r in score_all(view, qdf, method="bm25l").collect()}
    assert live == {k: v for k, v in full.items() if k[1] != 1}
    for kw in ({"strategy": "join"}, {"strategy": "sharded"}):
        got = retrieve(view, qdf, k=3, method="bm25l", **kw).collect()
        assert got and all(r.doc_id != 1 for r in got), kw
