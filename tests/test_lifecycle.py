"""Index lifecycle (tombstones / compaction), score explain, synonym
expansion, suggest, embedding pooling, and streaming near-dedup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import assert_scores_equal

CORPUS = [
    "spark merge sort join table scan",
    "fast key order sort merge window",
    "group query merge batch stream data",
    "customer data stream batch row filter",
    "join filter window row table column",
    "slow small value vector big scan",
    "big column dup scan table merge",
    "fast fast key key order order",
    "query group window filter merge sort",
    "vector value stream batch spark join",
    "table scan dup column big small",
    "key order fast window sort filter",
]
QUERIES = [("q1", "merge sort table"), ("q2", "fast key window"),
           ("q3", "stream batch data")]


@pytest.fixture(scope="module")
def small_index(spark):
    from bm25s_spark.indexer import build_index

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    idx = build_index(docs, doc_id_col="doc_id").persist()
    yield idx
    idx.unpersist()


def _score_map(scores_rows):
    return {(r["query_id"], r["doc_id"]): r["score"] for r in scores_rows}


# ---------------------------------------------------------------------------
# tombstones / compaction
# ---------------------------------------------------------------------------

def test_tombstone_view_scores_unchanged(spark, small_index):
    """Lucene live-docs semantics: surviving docs keep their exact
    pre-delete scores; tombstoned docs vanish from every result."""
    from bm25s_spark.operators.deletes import with_tombstones

    qdf = spark.createDataFrame(QUERIES, "query_id string, text string")
    full = _score_map(small_index.get_scores(qdf, method="bm25l").collect())
    tomb = spark.createDataFrame([(1,), (4,), (7,)], "doc_id long")
    view = with_tombstones(small_index, tomb)
    masked = _score_map(view.get_scores(qdf, method="bm25l").collect())
    dead = {1, 4, 7}
    assert set(masked) == {k for k in full if k[1] not in dead}
    for k, v in masked.items():
        assert v == full[k]  # bit-identical, not approximately


def test_tombstone_view_doc_map_and_lens(spark, small_index):
    from bm25s_spark.operators.deletes import with_tombstones

    tomb = spark.createDataFrame([(0,), (11,)], "doc_id long")
    view = with_tombstones(small_index, tomb)
    assert view.num_docs == small_index.num_docs  # stats untouched
    assert view.avg_doc_len == small_index.avg_doc_len
    assert view.doc_lens.count() == small_index.doc_lens.count() - 2
    assert view.doc_map.where(F.col("doc_id").isin(0, 11)).count() == 0
    assert view.sharded is None


def test_compacted_equals_fresh_build(spark, small_index):
    """compact_index must be indistinguishable from a fresh build over
    the surviving corpus — postings facts, term stats, scalars, and
    every method's scores."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.operators.deletes import compact_index

    dead = [2, 5, 9]
    tomb = spark.createDataFrame([(i,) for i in dead], "doc_id long")
    compacted = compact_index(small_index, tomb)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS) if i not in dead],
        "doc_id long, text string",
    )
    fresh = build_index(docs, doc_id_col="doc_id")

    assert compacted.num_docs == fresh.num_docs
    assert compacted.avg_doc_len == pytest.approx(fresh.avg_doc_len, abs=0)

    cols = ["term", "doc_id", "tf", "dl", "df"]
    a = sorted(map(tuple, compacted.postings.select(*cols).collect()))
    b = sorted(map(tuple, fresh.postings.select(*cols).collect()))
    assert a == b

    ts_cols = ["term", "term_id", "df"]
    assert sorted(map(tuple, compacted.term_stats.select(*ts_cols).collect())) \
        == sorted(map(tuple, fresh.term_stats.select(*ts_cols).collect()))
    qdf = spark.createDataFrame(QUERIES, "query_id string, text string")
    assert_scores_equal(fresh, compacted, qdf)


def test_compact_after_view(spark, small_index):
    """compact_index(view) — no tombstone arg — compacts an existing
    live-docs view."""
    from bm25s_spark.operators.deletes import compact_index, with_tombstones

    tomb = spark.createDataFrame([(3,)], "doc_id long")
    via_view = compact_index(with_tombstones(small_index, tomb))
    direct = compact_index(small_index, tomb)
    assert via_view.num_docs == direct.num_docs == small_index.num_docs - 1
    assert via_view.avg_doc_len == direct.avg_doc_len


# ---------------------------------------------------------------------------
# explain
# ---------------------------------------------------------------------------

def test_explain_sums_to_score(spark, small_index):
    """Σ contribution per (query, doc) + per-query nnoc constant must
    reproduce the retrieval score exactly (bm25l exercises the nnoc
    add-back; multiplicities via repeated query terms)."""
    from bm25s_spark.operators.explain import explain_scores
    from bm25s_spark.retrieval import _nnoc_per_query, tokenize_queries

    qdf = spark.createDataFrame(
        [("q1", "merge merge sort"), ("q2", "fast key window")],
        "query_id string, text string",
    )
    scores = _score_map(small_index.get_scores(qdf, method="bm25l").collect())
    rows = explain_scores(small_index, qdf, method="bm25l").collect()
    qterms = tokenize_queries(small_index, qdf)
    nnoc = {
        r["query_id"]: r["nnoc_sum"]
        for r in _nnoc_per_query(small_index, qterms, "bm25l", "bm25l").collect()
    }
    summed: dict = {}
    for r in rows:
        key = (r["query_id"], r["doc_id"])
        summed[key] = summed.get(key, 0.0) + r["contribution"]
    assert set(summed) == set(scores)
    for key, raw in summed.items():
        assert raw + nnoc[key[0]] == pytest.approx(scores[key], abs=1e-12)


def test_explain_topk_restriction(spark, small_index):
    from bm25s_spark.operators.explain import explain_scores

    qdf = spark.createDataFrame(QUERIES, "query_id string, text string")
    topk = small_index.retrieve(qdf, k=3, pad=False)
    rows = explain_scores(small_index, qdf, topk_df=topk).collect()
    allowed = {(r["query_id"], r["doc_id"]) for r in topk.collect()}
    assert {(r["query_id"], r["doc_id"]) for r in rows} == allowed
    # multiplicity column reflects repeated query tokens
    qdf2 = spark.createDataFrame(
        [("m1", "merge merge")], "query_id string, text string"
    )
    m = explain_scores(small_index, qdf2).select("mult").distinct().collect()
    assert [r["mult"] for r in m] == [2.0]


# ---------------------------------------------------------------------------
# synonyms
# ---------------------------------------------------------------------------

def test_synonym_expansion_weights(spark, small_index):
    """Expanded bag = base tokens at full mult + synonyms at weighted
    mult; weights for a shared target accumulate; an OOV source token
    still expands."""
    from bm25s_spark.operators.synonyms import expand_query_terms

    qdf = spark.createDataFrame(
        [("q1", "merge merge zzqx")], "query_id string, text string"
    )
    syn = spark.createDataFrame(
        [("merge", "join", 0.5), ("zzqx", "join", 1.0), ("zzqx", "scan", 0.25)],
        "term string, synonym string, weight double",
    )
    got = {
        r["term"]: r["mult"]
        for r in expand_query_terms(small_index, qdf, syn).collect()
    }
    # merge appears twice (mult 2); join = 2*0.5 (from merge) + 1*1.0
    # (from zzqx); scan = 0.25; zzqx itself rides through at mult 1
    assert got == {"merge": 2.0, "join": 2.0, "scan": 0.25, "zzqx": 1.0}


def test_retrieve_with_synonyms_vs_manual(spark, small_index):
    """Synonym-expanded retrieval equals scoring the weighted bag by
    hand through the public scorer with pre-tokenized duplication."""
    from bm25s_spark.operators.synonyms import retrieve_with_synonyms
    from bm25s_spark.retrieval import _matched_scores

    qdf = spark.createDataFrame([("q1", "sort table")], "query_id string, text string")
    syn = spark.createDataFrame(
        [("sort", "order", 0.5)], "term string, synonym string, weight double"
    )
    got = retrieve_with_synonyms(small_index, qdf, syn, k=5, method="lucene")
    manual_qterms = spark.createDataFrame(
        [("q1", "sort", 1.0), ("q1", "table", 1.0), ("q1", "order", 0.5)],
        "query_id string, term string, mult double",
    )
    want = _matched_scores(small_index, manual_qterms, "lucene", "lucene", None)
    got_rows = {(r["doc_id"]): r["score"] for r in got.collect()}
    want_top = sorted(
        want.collect(), key=lambda r: (-r["score"], r["doc_id"])
    )[:5]
    assert got_rows == {r["doc_id"]: pytest.approx(r["score"]) for r in want_top}


# ---------------------------------------------------------------------------
# suggest
# ---------------------------------------------------------------------------

def test_suggest_terms(spark, small_index):
    from bm25s_spark.operators.suggest import suggest_terms

    prefixes = spark.createDataFrame(
        [("s",), ("ta",), ("zz",)], "prefix string"
    )
    rows = suggest_terms(small_index, prefixes, n=3).collect()
    by_prefix: dict = {}
    for r in rows:
        by_prefix.setdefault(r["prefix"], []).append((r["rank"], r["term"], r["df"]))
    assert "zz" not in by_prefix  # no completions → no rows
    ta = sorted(by_prefix["ta"])
    assert [t for _, t, _ in ta] == ["table"]
    s_terms = [t for _, t, _ in sorted(by_prefix["s"])]
    assert len(s_terms) == 3 and all(t.startswith("s") for t in s_terms)
    # ranked by df desc then term asc — verify against term_stats
    vocab = {
        r["term"]: r["df"]
        for r in small_index.term_stats.where(F.col("df") > 0).collect()
    }
    want = sorted(
        (t for t in vocab if t.startswith("s")),
        key=lambda t: (-vocab[t], t),
    )[:3]
    assert s_terms == want


# ---------------------------------------------------------------------------
# recency decay / metadata filter
# ---------------------------------------------------------------------------

def test_retrieve_with_decay(spark, small_index):
    """Decay = 2^(-age_h/half_life); missing-ts docs keep factor 1.0;
    future docs clamp to 1.0; ranking is by the decayed score."""
    import math

    from bm25s_spark.operators.recency import retrieve_with_decay

    qdf = spark.createDataFrame([("q1", "merge sort")], "query_id string, text string")
    base = _score_map(small_index.get_scores(qdf, method="lucene").collect())
    # doc i gets ts = 2026-01-01 00:00 + i hours; docs ≥ 9 have no ts;
    # doc 8 is in the future relative to `now`
    ts_rows = [(i, f"2026-01-01 {i:02d}:00:00") for i in range(8)]
    ts_rows.append((8, "2026-01-03 00:00:00"))
    ts = spark.createDataFrame(ts_rows, "doc_id long, ts_s string").select(
        "doc_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    now = "2026-01-01 12:00:00"
    out = retrieve_with_decay(
        small_index, qdf, ts, now=now, half_life_hours=6.0, k=12
    ).collect()
    got = {r["doc_id"]: (r["score"], r["decayed_score"]) for r in out}
    for doc, (score, dec) in got.items():
        assert score == pytest.approx(base[("q1", doc)], abs=1e-12)
        if doc >= 8:  # future ts (8) or missing ts (≥9): factor 1.0
            assert dec == pytest.approx(score, abs=1e-12)
        else:
            age_h = 12.0 - doc
            assert dec == pytest.approx(
                score * math.pow(2.0, -age_h / 6.0), abs=1e-12
            )
    # ranking follows the decayed score
    ranked = sorted(out, key=lambda r: r["rank"])
    decs = [r["decayed_score"] for r in ranked]
    assert decs == sorted(decs, reverse=True)


def test_retrieve_filtered(spark, small_index):
    """Filter applies BEFORE the rank cut; surviving scores are
    bit-identical to the unfiltered engine; Column predicate routes
    through doc_map."""
    from bm25s_spark.operators.filtered import retrieve_filtered

    qdf = spark.createDataFrame(QUERIES, "query_id string, text string")
    base = _score_map(small_index.get_scores(qdf, method="lucene").collect())
    allowed = spark.createDataFrame(
        [(i,) for i in range(0, 12, 2)], "doc_id long"
    )
    out = retrieve_filtered(small_index, qdf, allowed, k=10).collect()
    assert out and all(r["doc_id"] % 2 == 0 for r in out)
    for r in out:
        assert r["score"] == base[(r["query_id"], r["doc_id"])]
    # Column-predicate form over doc_map (here: text containing 'spark')
    out2 = retrieve_filtered(
        small_index, qdf, F.col("text").contains("spark"), k=10
    ).collect()
    assert {r["doc_id"] for r in out2} <= {0, 9}


def test_retrieve_filtered_requires_doc_map(spark):
    from bm25s_spark.indexer import build_index
    from bm25s_spark.operators.filtered import retrieve_filtered

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    idx = build_index(docs, doc_id_col="doc_id", keep_doc_map=False)
    qdf = spark.createDataFrame([("q", "beta")], "query_id string, text string")
    with pytest.raises(ValueError, match="doc_map"):
        retrieve_filtered(idx, qdf, F.col("text").contains("a"))


# ---------------------------------------------------------------------------
# field collapse
# ---------------------------------------------------------------------------

def test_collapse_results(spark):
    from bm25s_spark.operators.collapse import collapse_results

    results = spark.createDataFrame(
        [
            ("q1", 0, 3.0), ("q1", 1, 5.0),   # group 0: best doc 1 (5.0)
            ("q1", 2, 5.0), ("q1", 3, 1.0),   # group 1: best doc 2 (5.0, tie→low doc)
            ("q1", 4, 4.0),                    # group 2: single hit
            ("q2", 0, 2.0),
        ],
        "query_id string, doc_id long, score double",
    )
    groups = spark.createDataFrame(
        [(i, i // 2) for i in range(6)], "doc_id long, grp long"
    )
    out = collapse_results(results, groups, k=2, group_col="grp").collect()
    q1 = sorted((r for r in out if r["query_id"] == "q1"), key=lambda r: r["rank"])
    # groups 0 and 1 both peak at 5.0 → group_id asc breaks the tie
    assert [(r["group_id"], r["doc_id"], r["score"], r["n_hits"]) for r in q1] \
        == [(0, 1, 5.0, 2), (1, 2, 5.0, 2)]
    q2 = [r for r in out if r["query_id"] == "q2"]
    assert [(r["group_id"], r["doc_id"], r["n_hits"]) for r in q2] == [(0, 0, 1)]


def test_collapse_within_group_tiebreak(spark):
    """Equal scores inside a group pick the LOWEST doc_id as the
    representative."""
    from bm25s_spark.operators.collapse import collapse_results

    results = spark.createDataFrame(
        [("q", 9, 1.0), ("q", 4, 1.0)], "query_id string, doc_id long, score double"
    )
    groups = spark.createDataFrame([(9, 0), (4, 0)], "doc_id long, grp long")
    out = collapse_results(results, groups, k=1, group_col="grp").collect()
    assert len(out) == 1 and out[0]["doc_id"] == 4 and out[0]["n_hits"] == 2


# ---------------------------------------------------------------------------
# keyset pagination
# ---------------------------------------------------------------------------

def test_retrieve_after_pages_partition_the_order(spark, small_index):
    """Pages 1+2+3 via search_after == the full (score desc, doc asc)
    order sliced — no gaps, no overlaps, cursors from the last row."""
    from bm25s_spark.operators.paging import retrieve_after

    qdf = spark.createDataFrame([("q1", "merge sort table")],
                                "query_id string, text string")
    full = retrieve_after(small_index, qdf, None, k=100, round_to=4).collect()
    full = sorted(full, key=lambda r: r["rank"])
    pages, cursor = [], None
    for _ in range(3):
        page = sorted(
            retrieve_after(small_index, qdf, cursor, k=3, round_to=4).collect(),
            key=lambda r: r["rank"],
        )
        if not page:
            break
        pages.extend(page)
        last = page[-1]
        cursor = spark.createDataFrame(
            [("q1", last["score"], last["doc_id"])],
            "query_id string, score double, doc_id long",
        )
    assert [(r["doc_id"], r["score"]) for r in pages] \
        == [(r["doc_id"], r["score"]) for r in full[: len(pages)]]
    assert len(pages) == min(9, len(full))


def test_retrieve_after_tie_boundary(spark, small_index):
    """A cursor landing INSIDE a tie group resumes at the next doc_id,
    not the next score."""
    from bm25s_spark.operators.paging import retrieve_after

    qdf = spark.createDataFrame([("q1", "merge")], "query_id string, text string")
    full = sorted(
        retrieve_after(small_index, qdf, None, k=100, round_to=2).collect(),
        key=lambda r: r["rank"],
    )
    # find a tie pair in the rounded order (merge hits many docs; at
    # round_to=2 equal-dl docs tie); fall back to any adjacent pair
    idx_cut = next(
        (i for i in range(len(full) - 1)
         if full[i]["score"] == full[i + 1]["score"]),
        0,
    )
    cur = spark.createDataFrame(
        [("q1", full[idx_cut]["score"], full[idx_cut]["doc_id"])],
        "query_id string, score double, doc_id long",
    )
    nxt = sorted(
        retrieve_after(small_index, qdf, cur, k=100, round_to=2).collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["doc_id"], r["score"]) for r in nxt] \
        == [(r["doc_id"], r["score"]) for r in full[idx_cut + 1:]]


# ---------------------------------------------------------------------------
# percolation
# ---------------------------------------------------------------------------

def test_percolate_full_and_partial(spark):
    from bm25s_spark.operators.percolate import percolate

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta"),
            (2, "gamma alone here"),
            (3, "the and of"),          # stopwords only
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [
            ("s1", "alpha beta"),        # full match: docs 0, 1
            ("s2", "alpha gamma"),       # full match: doc 0 only
            ("s3", "zzqx alpha"),        # OOV term → never fires fully
            ("s4", "the and"),           # stopwords only → never fires
        ],
        "query_id string, text string",
    )
    full = {(r["doc_id"], r["query_id"]) for r in percolate(docs, queries).collect()}
    assert full == {(0, "s1"), (1, "s1"), (0, "s2")}
    # min_should_match=1 relaxes to boolean-OR: s3 fires wherever alpha is
    loose = {
        (r["doc_id"], r["query_id"]): (r["n_matched"], r["n_terms"])
        for r in percolate(docs, queries, min_should_match=1).collect()
    }
    assert loose[(0, "s3")] == (1, 2) and loose[(1, "s3")] == (1, 2)
    assert (2, "s3") not in loose
    assert not any(q == "s4" for _, q in loose)  # nothing to match on


def test_percolate_counts_distinct_terms(spark):
    """Repeated terms in doc or query count once (distinct-term
    coverage, not occurrence counts)."""
    from bm25s_spark.operators.percolate import percolate

    docs = spark.createDataFrame(
        [(0, "alpha alpha alpha beta")], "doc_id long, text string"
    )
    queries = spark.createDataFrame(
        [("s", "alpha alpha beta")], "query_id string, text string"
    )
    out = percolate(docs, queries).collect()
    assert [(r["n_matched"], r["n_terms"]) for r in out] == [(2, 2)]


# ---------------------------------------------------------------------------
# embedding pooling
# ---------------------------------------------------------------------------

def test_mean_pool_embeddings(spark):
    from bm25s_spark.operators.similarity import mean_pool_embeddings

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((10, 6)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    pooled = {
        r["group_id"]: (r["embedding"], r["n_members"])
        for r in mean_pool_embeddings(
            df, (F.col("vec_id") / 3).cast("long")
        ).collect()
    }
    for g in range(4):
        members = vecs[g * 3: g * 3 + 3]
        want = members.astype(np.float64).mean(axis=0)
        got, n = pooled[g]
        assert n == len(members)
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


def test_mean_pool_deterministic_under_partitioning(spark):
    """The sorted-member sum must be bit-identical regardless of input
    partitioning (collect_list order varies; sort_array pins it)."""
    from bm25s_spark.operators.similarity import mean_pool_embeddings

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df2 = df1.repartition(7, F.col("vec_id"))
    p1 = {r["group_id"]: r["embedding"] for r in
          mean_pool_embeddings(df1, (F.col("vec_id") % 5)).collect()}
    p2 = {r["group_id"]: r["embedding"] for r in
          mean_pool_embeddings(df2, (F.col("vec_id") % 5)).collect()}
    assert p1 == p2  # exact equality, not approx


def test_mean_pool_normalize(spark):
    from bm25s_spark.operators.similarity import mean_pool_embeddings

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    out = mean_pool_embeddings(df, F.lit(0), normalize=True).collect()[0]
    np.testing.assert_allclose(out["embedding"], [0.6, 0.8], atol=1e-12)


# ---------------------------------------------------------------------------
# streaming near-dedup
# ---------------------------------------------------------------------------

def _near_dup_rows():
    # batch 1: 0/1 near-dups of each other, 2 unique
    b1 = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),
        (2, "completely different content about spark shuffle partitions and joins"),
    ]
    # batch 2: 10 near-dup of batch-1 doc 0 (cross-batch drop), 11/12
    # within-batch near-dups, 13 unique
    b2 = [
        (10, "the quick brown fox jumps over the lazy dog near the river bank"),
        (11, "streaming state stores keep signatures on disk for minhash bands ok"),
        (12, "streaming state stores keep signatures on disk for minhash bands yes"),
        (13, "another unique document about inverted index compression blocks"),
    ]
    return b1, b2


def test_streaming_near_dedup_batch_parity(spark, tmp_path):
    """Two micro-batches through the signature store == the same rule
    replayed with the batch operators."""
    from bm25s_spark.operators.dedup import (
        deduplicate_near,
        minhash_band_buckets,
    )
    from bm25s_spark.streaming.dedup import StreamingNearDeduplicator

    b1, b2 = _near_dup_rows()
    schema = "doc_id long, text string"
    dedup = StreamingNearDeduplicator(spark, str(tmp_path / "store"))
    dedup.process_batch(spark.createDataFrame(b1, schema), 0)
    dedup.process_batch(spark.createDataFrame(b2, schema), 1)
    kept = sorted(r["doc_id"] for r in dedup.kept().collect())

    # batch replay: within-batch near-dedup of b1; then b2 docs whose
    # buckets hit b1's bucket set are dropped, remainder near-dedup'd
    df1 = spark.createDataFrame(b1, schema)
    df2 = spark.createDataFrame(b2, schema)
    kept1 = sorted(r["doc_id"] for r in deduplicate_near(df1).collect())
    bb1 = minhash_band_buckets(df1).select("band", "bucket").distinct()
    hit = (
        minhash_band_buckets(df2)
        .join(bb1, ["band", "bucket"], "left_semi")
        .select("doc_id").distinct()
    )
    fresh2 = df2.join(hit, "doc_id", "left_anti")
    kept2 = sorted(r["doc_id"] for r in deduplicate_near(fresh2).collect())
    assert kept == sorted(kept1 + kept2)
    # and the semantics themselves: 1 dropped (near-dup of 0 in batch),
    # 10 dropped (cross-batch), one of 11/12 dropped
    assert 0 in kept and 2 in kept and 13 in kept
    assert 1 not in kept and 10 not in kept
    assert (11 in kept) != (12 in kept)


def test_streaming_near_dedup_via_stream(spark, tmp_path):
    """Same result through an actual Structured Streaming query with
    one file per micro-batch."""
    from bm25s_spark.streaming.dedup import StreamingNearDeduplicator

    b1, b2 = _near_dup_rows()
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    dedup = StreamingNearDeduplicator(spark, str(tmp_path / "store"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = dedup.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive
    kept = sorted(r["doc_id"] for r in dedup.kept().collect())
    # file→batch order isn't guaranteed, but this near-dup topology is
    # order-insensitive: {0,10} collapse to whichever arrived first
    assert 2 in kept and 13 in kept
    assert len({0, 10} & set(kept)) == 1
    assert len({11, 12} & set(kept)) == 1
    assert 1 not in kept or 0 not in kept
