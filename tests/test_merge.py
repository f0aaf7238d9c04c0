"""merge_indexes: partitioned builds over disjoint doc-id sets must
merge into an index exactly equal to a from-scratch full-corpus build
(same scalars, same term_stats, bit-identical postings, same retrieval)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bm25s_spark.ids import assign_doc_ids
from bm25s_spark.indexer import build_index, merge_indexes
from bm25s_spark.transcripts import queries_for, transcripts_df
from tests.conftest import assert_scores_equal


def _sorted_rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


@pytest.fixture(scope="module")
def merge_setup(spark):
    docs = assign_doc_ids(transcripts_df(spark, "t2")).persist()
    full = build_index(docs, doc_id_col="doc_id").persist()
    parts = [
        build_index(docs.where(F.col("doc_id") % 3 == i), doc_id_col="doc_id")
        for i in range(3)
    ]
    merged = merge_indexes(*parts).persist()
    yield docs, full, merged
    for idx in (full, merged):
        idx.unpersist()
    docs.unpersist()


def test_merge_scalars_equal(merge_setup):
    _, full, merged = merge_setup
    assert merged.num_docs == full.num_docs
    # integer token counts sum exactly → the mean is bit-identical
    assert merged.avg_doc_len == full.avg_doc_len
    assert (merged.k1, merged.b, merged.delta) == (full.k1, full.b, full.delta)


def test_merge_tables_equal(merge_setup):
    _, full, merged = merge_setup
    assert _sorted_rows(merged.doc_lens, "doc_id") == _sorted_rows(
        full.doc_lens, "doc_id"
    )
    cols = full.term_stats.columns
    assert _sorted_rows(merged.term_stats.select(cols), "term") == _sorted_rows(
        full.term_stats.select(cols), "term"
    )
    # postings: tf/dl are corpus-independent facts and df sums exactly,
    # so the merged rows must be BIT-identical to the full build's
    pcols = full.postings.columns
    assert _sorted_rows(
        merged.postings.select(pcols), "term", "doc_id"
    ) == _sorted_rows(full.postings.select(pcols), "term", "doc_id")


def test_merge_retrieval_equal(spark, merge_setup):
    docs, full, merged = merge_setup
    texts = [r["text"] for r in docs.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(
        queries_for(texts, 8, seed=11), "query_id string, text string"
    )
    # per-POSTING impacts are bit-identical (test_merge_tables_equal), but
    # per-query score SUMS can differ in the last ulp (different plan →
    # different float summation order), so the unrounded join path gets a
    # tie-aware comparison; the sharded path uses the deterministic gate
    # contract (round_to rounds BEFORE top-k with a doc_id tiebreak) and
    # must match exactly
    from tests.conftest import assert_rank_identical, rows_to_arrays

    for kw in (dict(method="lucene"), dict(method="bm25+")):
        full_rows = [r.asDict() for r in full.retrieve(qdf, k=5, **kw).collect()]
        merged_rows = [r.asDict() for r in merged.retrieve(qdf, k=5, **kw).collect()]
        docs_arr, scores_arr = rows_to_arrays(full_rows)
        assert_rank_identical(merged_rows, docs_arr, scores_arr,
                              rtol=1e-9, atol=1e-9)

    kw = dict(method="lucene", strategy="sharded", exact=True,
              round_to=4, pad=False, prune=False)
    a = _sorted_rows(full.retrieve(qdf, k=5, **kw), "query_id", "rank")
    b = _sorted_rows(merged.retrieve(qdf, k=5, **kw), "query_id", "rank")
    assert a == b


def test_merge_doc_map_union(merge_setup):
    _, full, merged = merge_setup
    assert merged.doc_map is not None
    assert merged.doc_map.count() == full.doc_map.count()


def test_merge_single_index_passthrough(merge_setup):
    _, full, _ = merge_setup
    assert merge_indexes(full) is full


def test_merge_rejects_overlap(spark, merge_setup):
    docs, full, _ = merge_setup
    half = build_index(
        docs.where(F.col("doc_id") % 3 == 0), doc_id_col="doc_id"
    )
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(full, half)


def test_merge_rejects_mismatched_params(spark, merge_setup):
    docs, full, _ = merge_setup
    other = build_index(
        docs.where(F.col("doc_id") % 3 == 0), doc_id_col="doc_id", k1=1.2
    )
    with pytest.raises(ValueError, match="k1"):
        merge_indexes(full, other)
    stemmed = build_index(
        docs.where(F.col("doc_id") % 3 == 0), doc_id_col="doc_id",
        stemmer="english",
    )
    with pytest.raises(ValueError, match="tokenizer_kwargs"):
        merge_indexes(full, stemmed)


def test_merge_empty_side(spark, merge_setup):
    """Merging with an index built over zero docs is the no-op merge."""
    docs, full, _ = merge_setup
    empty = build_index(docs.where(F.lit(False)), doc_id_col="doc_id")
    merged = merge_indexes(full, empty)
    assert merged.num_docs == full.num_docs
    assert merged.avg_doc_len == full.avg_doc_len
    pcols = full.postings.columns
    assert _sorted_rows(
        merged.postings.select(pcols), "term", "doc_id"
    ) == _sorted_rows(full.postings.select(pcols), "term", "doc_id")


def test_merge_loaded_indexes(spark, merge_setup, tmp_path):
    """merge_indexes composes with save/load: two halves saved to disk,
    loaded back, and merged must reproduce the FRESH full build — the
    exact (tf, dl, df) ints bit-for-bit, and every method's scores, which
    are computed from them."""
    from bm25s_spark.index_io import load_index, save_index

    docs, full, _ = merge_setup
    for i in range(2):
        half = build_index(docs.where(F.col("doc_id") % 2 == i),
                           doc_id_col="doc_id")
        save_index(half, str(tmp_path / f"half{i}"))
    loaded = [load_index(spark, str(tmp_path / f"half{i}")) for i in range(2)]
    merged = merge_indexes(*loaded)
    assert merged.num_docs == full.num_docs
    assert merged.avg_doc_len == full.avg_doc_len
    pcols = ["term", "doc_id", "tf", "dl", "df"]
    assert _sorted_rows(
        merged.postings.select(pcols), "term", "doc_id"
    ) == _sorted_rows(full.postings.select(pcols), "term", "doc_id")
    texts = [r["text"] for r in docs.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(queries_for(texts, 12, seed=5),
                                "query_id string, text string")
    assert_scores_equal(full, merged, qdf)


def test_merge_after_query_reads_fresh_driver_caches(spark, merge_setup):
    """Querying an index, then merging a delta that holds the lowest doc
    ids and querying the merged index, ranks exactly like a fresh build
    of the union: no df of the term dictionary and no pad-pool id is
    read from the old index.  A cache entry follows the identity of its
    source table, and ``unpersist`` drops the caches."""
    from tests.conftest import assert_rank_identical, rows_to_arrays

    docs, full, _ = merge_setup
    base = build_index(docs.where(F.col("doc_id") >= 100), doc_id_col="doc_id")
    delta = build_index(docs.where(F.col("doc_id") < 100), doc_id_col="doc_id")
    texts = [r["text"] for r in docs.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(
        queries_for(texts, 8, seed=5) + [("q-oov", "zzqx qqzz")],
        "query_id string, text string",
    )
    kw = dict(k=5, method="bm25l", strategy="sharded", round_to=4,
              prune=False)
    base.retrieve(qdf, **kw).collect()
    assert base.driver_cache
    merged = merge_indexes(base, delta)
    merged_rows = [r.asDict() for r in merged.retrieve(qdf, **kw).collect()]
    full_rows = [r.asDict() for r in full.retrieve(qdf, **kw).collect()]
    assert {r["doc_id"] for r in merged_rows if r["query_id"] == "q-oov"} \
        == set(range(5))
    assert_rank_identical(merged_rows, *rows_to_arrays(full_rows), atol=1e-4)
    # an entry is keyed on the table it was read from: swap the table
    # and it is read again
    from bm25s_spark.shards import _pad_pool

    assert list(_pad_pool(base, 5)) == list(range(100, 110))
    base.doc_lens = merged.doc_lens
    assert list(_pad_pool(base, 5)) == list(range(10))
    base.unpersist()
    assert base.driver_cache == {}
    for idx in (merged, delta):
        idx.unpersist()


def test_merge_carries_query_caches(spark, merge_setup):
    """A build keeps the vocabulary it numbered on the driver as the
    term dictionary, and a merge whose new doc ids all sit above a
    served pad pool (the append pattern) carries that pool over: the
    first query on the merged index reads neither table again and
    still ranks exactly like a fresh build of the union."""
    import pandas as pd

    from bm25s_spark.indexer import PAD_POOL, TERM_DICT
    from tests.conftest import assert_rank_identical, rows_to_arrays

    docs, full, _ = merge_setup
    base = build_index(docs.where(F.col("doc_id") < 100), doc_id_col="doc_id")
    delta = build_index(docs.where(F.col("doc_id") >= 100),
                        doc_id_col="doc_id")
    for idx in (base, delta):
        source, vocab = idx.driver_cache[TERM_DICT]
        assert source is idx.term_stats
        pulled = idx.term_stats.select("term", "df").toPandas()
        pd.testing.assert_frame_equal(
            vocab.sort_index(), pulled.set_index("term").sort_index())
    texts = [r["text"] for r in docs.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(
        queries_for(texts, 8, seed=7) + [("q-oov", "zzqx qqzz")],
        "query_id string, text string",
    )
    kw = dict(k=5, method="bm25l", strategy="sharded", round_to=4,
              prune=False)
    base.retrieve(qdf, **kw).collect()
    merged = merge_indexes(base, delta)
    assert merged.driver_cache[TERM_DICT][0] is merged.term_stats
    source, pool = merged.driver_cache[(PAD_POOL, 5)]
    assert source is merged.doc_lens
    assert list(pool) == list(range(10))
    merged_rows = [r.asDict() for r in merged.retrieve(qdf, **kw).collect()]
    full_rows = [r.asDict() for r in full.retrieve(qdf, **kw).collect()]
    assert_rank_identical(merged_rows, *rows_to_arrays(full_rows), atol=1e-4)
    for idx in (base, delta, merged):
        idx.unpersist()


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_build_and_merge_job_budget(spark, merge_setup):
    """A warm ``build_index`` and a warm ``merge_indexes`` run no more
    Spark jobs than when each constructor ran its own stats and term
    stats: 5 jobs for the build of 1,500 docs with given doc ids and 7
    for the merge with a 500-doc delta, measured in this test session
    on a 4-core host.  The first build and merge of a session can run
    more, so both run once before the counted pass."""
    docs = merge_setup[0]

    def build(lo, hi):
        return build_index(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            doc_id_col="doc_id")

    built = []
    for attempt in ("warm", "counted"):
        base, build_jobs = _jobs_in_group(
            spark, f"build-{attempt}", lambda: build(0, 1500))
        delta = build(1500, 2000)
        merged, merge_jobs = _jobs_in_group(
            spark, f"merge-{attempt}", lambda: merge_indexes(base, delta))
        built += [base, delta, merged]
    assert merged.num_docs == 2000
    assert 0 < build_jobs <= 5, build_jobs
    assert 0 < merge_jobs <= 7, merge_jobs
    for idx in built:
        idx.unpersist()


def _cached_rdd_ids(spark) -> set:
    return {int(i.id())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_unpersist_releases_cut_tables(spark, merge_setup):
    """An index's ``doc_lens`` and ``tf`` rows are checkpoints, whose
    blocks ``DataFrame.unpersist`` leaves in place.  After build →
    layout → merge, releasing the old index (and its layout, as a
    refresh loop does) leaves none of its blocks stored, and the merged
    index, which reads nothing of it, still builds its layout and
    holds a fresh build's postings."""
    import time

    from bm25s_spark.shards import ensure_sharded
    from bm25s_spark.util import is_cut

    docs, full, _ = merge_setup
    before = _cached_rdd_ids(spark)
    base = build_index(docs.where(F.col("doc_id") < 1500),
                       doc_id_col="doc_id")
    assert is_cut(base.doc_lens) and is_cut(base.segments[1])
    ensure_sharded(base).count()
    base_ids = _cached_rdd_ids(spark) - before
    delta = build_index(docs.where(F.col("doc_id") >= 1500),
                        doc_id_col="doc_id")
    merged = merge_indexes(base, delta)
    assert base_ids & _cached_rdd_ids(spark)
    base.unpersist()
    base.sharded.unpersist()
    deadline = time.monotonic() + 30     # block removal is asynchronous
    while base_ids & _cached_rdd_ids(spark) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert not base_ids & _cached_rdd_ids(spark)
    ensure_sharded(merged).count()
    pcols = full.postings.columns
    assert _sorted_rows(
        merged.postings.select(pcols), "term", "doc_id"
    ) == _sorted_rows(full.postings.select(pcols), "term", "doc_id")
    delta.unpersist()
    merged.unpersist()
    merged.sharded.unpersist()


def test_refresh_loop_keeps_lineage_flat(spark, merge_setup):
    """Eight back-to-back refreshes (build the delta, merge, build the
    layout, release the old indexes) leave tables whose plans and
    layout lineage do not grow with the refresh count, and an index
    that ranks like one build over the union."""
    import re

    from bm25s_spark.shards import ensure_sharded
    from tests.conftest import assert_rank_identical, rows_to_arrays

    def plan_size(df):
        # expression ids grow with the session, not with the plan
        return len(re.sub(r"#\d+", "#",
                          df._jdf.queryExecution().analyzed().toString()))

    docs, full, _ = merge_setup
    idx = build_index(docs.where(F.col("doc_id") < 400), doc_id_col="doc_id")
    ensure_sharded(idx).count()
    seen = {}
    for r in range(1, 9):
        old = idx
        delta = build_index(
            docs.where((F.col("doc_id") >= 200 * r + 200)
                       & (F.col("doc_id") < 200 * r + 400)),
            doc_id_col="doc_id")
        idx = merge_indexes(old, delta)
        ensure_sharded(idx).count()
        old.unpersist()
        old.sharded.unpersist()
        delta.unpersist()
        seen[r] = (plan_size(idx.postings), plan_size(idx.doc_lens),
                   len(idx.sharded.rdd.toDebugString().splitlines()))
    assert idx.num_docs == full.num_docs
    assert seen[8][:2] == seen[2][:2], seen
    assert seen[8][2] <= seen[2][2], seen

    texts = [r["text"] for r in docs.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(queries_for(texts, 8, seed=13),
                                "query_id string, text string")
    for kw in (dict(strategy="join"), dict(strategy="sharded")):
        got = [r.asDict() for r in idx.retrieve(qdf, k=5, **kw).collect()]
        want = [r.asDict() for r in full.retrieve(qdf, k=5, **kw).collect()]
        assert_rank_identical(got, *rows_to_arrays(want), rtol=1e-9,
                              atol=1e-9)
    idx.unpersist()
    idx.sharded.unpersist()
