"""The doc-sharded scatter-gather path must agree with both the join
strategy and the reference, including across shard boundaries and at
different parallelism levels (determinism)."""

from __future__ import annotations

import pytest

from bm25s_spark.indexer import SparkBM25
from bm25s_spark.transcripts import queries_for, transcripts_df

from tests.conftest import assert_rank_identical, ref_topk


def _rows(df):
    return [r.asDict() for r in df.collect()]


def _normalize(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 4))
        )
    return {q: sorted(v) for q, v in out.items()}


@pytest.mark.parametrize("method", ["lucene", "bm25l"])
def test_sharded_matches_reference(spark, ref_bm25s, method):
    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 25)
    engine = SparkBM25(method=method)
    idx = engine.index(tdf)
    idx.docs_per_shard = 256  # force ~8 shards at 2000 docs
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    ours = _rows(engine.retrieve(qdf, k=10, strategy="sharded"))
    docs, scores = ref_topk(ref_bm25s, texts, [q[1] for q in queries], 10, method)
    assert_rank_identical(ours, docs, scores)


def test_sharded_equals_join_strategy(spark):
    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 20, seed=7)
    engine = SparkBM25(method="atire", idf_method="robertson")
    idx = engine.index(tdf)
    idx.docs_per_shard = 300
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    a = _normalize(_rows(engine.retrieve(qdf, k=8, strategy="join")))
    b = _normalize(_rows(engine.retrieve(qdf, k=8, strategy="sharded")))
    assert set(a) == set(b)
    for q in a:
        sa = [x[2] for x in a[q]]
        sb = [x[2] for x in b[q]]
        assert sa == sb, (q, a[q], b[q])


def test_determinism_across_partitions(spark):
    """Same results whether the corpus arrives in 2 or 8 partitions
    (FIXTURES.md §5)."""
    tdf = transcripts_df(spark, "t2")
    queries = [("q-0", "spark shuffle partition skew"), ("q-1", "telemetry checkpoint")]
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    results = []
    for nparts in (2, 8):
        engine = SparkBM25()
        engine.index(tdf.repartition(nparts))
        results.append(_normalize(_rows(engine.retrieve(qdf, k=10))))
    assert results[0] == results[1]


def test_chunked_query_batches(spark):
    """A query batch streamed through the kernel in chunks must equal the
    single-broadcast run (chunking only bounds driver/broadcast memory)."""
    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 50, seed=13)
    engine = SparkBM25()
    idx = engine.index(tdf)
    idx.docs_per_shard = 512
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    one = _normalize(_rows(engine.retrieve(qdf, k=5, strategy="sharded")))
    chunked = _normalize(_rows(engine.retrieve(
        qdf, k=5, strategy="sharded", query_chunk_size=7
    )))
    assert one == chunked


def test_chunked_all_oov_batch(spark):
    """A chunked batch whose every query tokenizes to OOV-only terms
    (zero matching vocabulary) must behave like the single-chunk path:
    padded zero-score rows with pad=True, an empty frame with pad=False
    — not an AttributeError from an empty chunk list."""
    tdf = transcripts_df(spark, "t2").persist()
    engine = SparkBM25()
    idx = engine.index(tdf)
    idx.docs_per_shard = 512
    queries = [(f"q-{i}", "zzqx qqzz xxqq") for i in range(5)]
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    padded = _rows(engine.retrieve(
        qdf, k=3, strategy="sharded", query_chunk_size=2
    ))
    assert len(padded) == 5 * 3
    assert all(r["score"] == 0.0 for r in padded)
    unpadded = engine.retrieve(
        qdf, k=3, strategy="sharded", query_chunk_size=2, pad=False
    )
    assert unpadded.count() == 0


def test_sharded_weight_mask_golden(spark, ref_bm25s):
    """Distributed (pre-joined) weight mask through the kernel matches
    the reference's weight_mask retrieval exactly
    (reference/bm25s/__init__.py:610-618)."""
    import numpy as np

    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 10, seed=21)
    engine = SparkBM25()
    idx = engine.index(tdf)
    idx.docs_per_shard = 256
    n = idx.num_docs
    rng = np.random.default_rng(4)
    weights = rng.choice([0.0, 0.5, 1.0, 2.0], size=n)
    mask_df = spark.createDataFrame(
        [(int(i), float(w)) for i, w in enumerate(weights)],
        "doc_id long, weight double",
    )
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    ours = _rows(engine.retrieve(
        qdf, k=8, strategy="sharded", weight_mask_df=mask_df
    ))
    docs, scores = ref_topk(
        ref_bm25s, texts, [q[1] for q in queries], 8, weight_mask=weights
    )
    assert_rank_identical(ours, docs, scores)


def test_narrow_tf_megadoc_fallback(spark):
    """Docs beyond the narrow-TF length cutoff take the explode+groupBy
    path; TF output is identical either way."""
    from pyspark.sql import functions as F

    from bm25s_spark.indexer import narrow_tf

    rows = [
        (0, ["a", "b", "a", "c"]),
        (1, ["x"] * 50 + ["y"] * 30),          # megadoc under tiny cutoff
        (2, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        (r["doc_id"], r["term"]): (r["dl"], r["tf"])
        for r in narrow_tf(df, max_narrow_len=10).collect()
    }
    assert got == {
        (0, "a"): (4, 2), (0, "b"): (4, 1), (0, "c"): (4, 1),
        (1, "x"): (80, 50), (1, "y"): (80, 30),
    }


def test_kernel_metrics_accumulators(spark):
    """Query-side observability: the kernel fills shards_scored /
    postings_scanned / candidates_emitted accumulators after the action,
    with values satisfying the structural invariants."""
    from bm25s_spark.indexer import build_index

    tdf = transcripts_df(spark, "t2").persist()
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    idx.docs_per_shard = 256
    qdf = spark.createDataFrame(
        queries_for(
            [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").collect()],
            6,
        ),
        "query_id string, text string",
    )
    m: dict = {}
    res = idx.retrieve(qdf, k=5, strategy="sharded", pad=False, metrics=m)
    n_rows = res.count()
    assert m["shards_scored"].value > 0
    # every candidate came from some scanned posting, and the final
    # merge only ever discards candidates
    assert m["postings_scanned"].value >= m["candidates_emitted"].value
    assert m["candidates_emitted"].value >= n_rows > 0
    # scatter-adds happened (pruning can only reduce them, never to 0
    # for a non-empty result), and with prune=False they are EXACTLY
    # one add per (query, shard, term) posting — ≥ the per-(shard, term)
    # loaded count whenever any term serves ≥1 query
    assert m["postings_scored"].value > 0
    m_off: dict = {}
    idx.retrieve(qdf, k=5, strategy="sharded", pad=False, prune=False,
                 metrics=m_off).count()
    assert m_off["postings_scored"].value >= m["postings_scored"].value
    assert m_off["postings_scored"].value >= m_off["postings_scanned"].value


def test_auto_docs_per_shard_math():
    """One shard per core, power-of-two, clamped to [floor, cap]."""
    from bm25s_spark.indexer import (
        SHARD_SIZE_CAP,
        SHARD_SIZE_FLOOR,
        auto_docs_per_shard,
    )

    # tiny corpus → floor (one shard is fine)
    assert auto_docs_per_shard(4, 32) == SHARD_SIZE_FLOOR
    # the measured bench case: 205k docs / 32 cores → 8192 (26 shards)
    assert auto_docs_per_shard(205_000, 32) == 8192
    # big corpus keeps the cap (10M docs / 32 cores → 153 shards,
    # identical to the old fixed 65536)
    assert auto_docs_per_shard(10_000_000, 32) == SHARD_SIZE_CAP
    # exact power-of-two quotient is kept, not doubled
    assert auto_docs_per_shard(8192 * 16, 16) == 8192
    # degenerate parallelism never divides by zero
    assert auto_docs_per_shard(100_000, 0) == SHARD_SIZE_CAP
    # result is always a power of two within the clamp
    for n in (1, 999, 12_345, 3_000_000):
        d = auto_docs_per_shard(n, 32)
        assert d & (d - 1) == 0
        assert SHARD_SIZE_FLOOR <= d <= SHARD_SIZE_CAP


def test_build_index_sets_adaptive_shard_size(spark):
    """build_index resolves docs_per_shard from the corpus size and the
    session parallelism instead of the fixed dataclass default."""
    from bm25s_spark.indexer import auto_docs_per_shard, build_index

    tdf = transcripts_df(spark, "t2")
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    expected = auto_docs_per_shard(
        idx.num_docs, spark.sparkContext.defaultParallelism
    )
    assert idx.docs_per_shard == expected


def test_sharded_all_stopword_batch(spark):
    """A small sharded batch whose queries all tokenize to nothing
    (stopword-only / empty text) must return pad rows, not crash in the
    driver-local metadata path (empty pandas frame dtype mismatch)."""
    tdf = transcripts_df(spark, "t2")
    engine = SparkBM25()
    engine.index(tdf)
    engine.index_.docs_per_shard = 300
    qdf = spark.createDataFrame(
        [("q1", "the and of"), ("q2", "")], "query_id string, text string"
    )
    rows = _rows(engine.retrieve(qdf, k=3, strategy="sharded"))
    assert {r["query_id"] for r in rows} == {"q1", "q2"}
    assert all(len([r for r in rows if r["query_id"] == q]) == 3
               for q in ("q1", "q2"))


def test_sharded_empty_query_batch(spark):
    """An empty queries_df on the sharded path returns an empty result
    frame (no crash on the zero-row driver-local probe)."""
    tdf = transcripts_df(spark, "t2")
    engine = SparkBM25()
    engine.index(tdf)
    engine.index_.docs_per_shard = 300
    qdf = spark.createDataFrame([], "query_id string, text string")
    assert engine.retrieve(qdf, k=3, strategy="sharded").count() == 0


def test_sharded_pretokenized_null_token(spark):
    """A null element inside a pre-tokenized query array is dropped
    (the distributed explode→join path drops the null term row; the
    driver-local path must match, not TypeError on sorted())."""
    tdf = transcripts_df(spark, "t2")
    engine = SparkBM25()
    engine.index(tdf)
    engine.index_.docs_per_shard = 300
    texts = [r["text"] for r in
             tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    tok = texts[0].lower().split()[:3]
    qdf = spark.createDataFrame(
        [("q1", tok + [None]), ("q2", [None])],
        "query_id string, text array<string>",
    )
    rows = _rows(engine.retrieve(qdf, k=3, strategy="sharded"))
    assert {r["query_id"] for r in rows} == {"q1", "q2"}


def test_sharded_null_query_id_rejected(spark):
    """A null query_id on the driver-local path raises a clear
    ValueError (results are keyed by query id; the distributed path
    fails on the same input too, just less legibly)."""
    tdf = transcripts_df(spark, "t2")
    engine = SparkBM25()
    engine.index(tdf)
    engine.index_.docs_per_shard = 300
    qdf = spark.createDataFrame(
        [(None, "hello world"), ("q2", "hello")],
        "query_id string, text string",
    )
    with pytest.raises(ValueError, match="null 'query_id'"):
        engine.retrieve(qdf, k=3, strategy="sharded").collect()


def test_local_qstats_equals_distributed_pull(spark):
    """Frame-level parity: the driver-local metadata pull must produce
    the EXACT (query_id, term, mult, df) relation the distributed
    ``tokenize_queries ⨝ term_stats`` path yields — over messy text
    (unicode, punctuation, stopword runs, repeats, empties, nulls)."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import tokenize_queries
    from bm25s_spark.shards import _local_qstats
    from bm25s_spark.tokenization import make_local_tokenizer

    tdf = transcripts_df(spark, "t2")
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    texts = [r["text"] for r in tdf.limit(40).select("text").collect()]
    rng = random.Random(11)
    frags = [w for t in texts for w in t.split()][:300]
    rows = []
    for i in range(60):
        n = rng.randint(0, 12)
        words = [rng.choice(frags + ["the", "and", "naïve", "CAFÉ", "!!!",
                                     "zzzqqqxxx", ""]) for _ in range(n)]
        rows.append((f"q{i:03d}", " ".join(words)))
    rows += [("qempty", ""), ("qnull", None), ("qstop", "the and of a")]
    qdf = spark.createDataFrame(rows, "query_id string, text string")

    qterms = tokenize_queries(idx, qdf, "query_id", "text")
    dist = (
        qterms.join(idx.term_stats.select("term", "df"), "term")
        .select("query_id", "term", "mult", "df")
        .toPandas()
    )
    local = _local_qstats(
        idx, qdf.toPandas(), "query_id", "text",
        make_local_tokenizer(**idx.tokenizer_kwargs), [],
    )
    key = lambda f: sorted(map(tuple, f[["query_id", "term", "mult", "df"]]
                               .itertuples(index=False)))
    assert key(local) == key(dist)


@pytest.fixture(scope="module")
def pad_index(spark):
    from bm25s_spark.indexer import build_index

    idx = build_index(transcripts_df(spark, "t2"),
                      order_cols=["conv_id", "turn_idx"])
    idx.docs_per_shard = 300
    return idx


def _padded_batch(spark, idx, k):
    """Small batch mixing an empty, an all-OOV and a sparse (< k
    matching docs) query with ordinary doc spans."""
    from pyspark.sql import functions as F

    rare = (
        idx.term_stats.where((F.col("df") > 0) & (F.col("df") < k))
        .orderBy("term").select("term").first()["term"]
    )
    texts = [r["text"] for r in idx.doc_map.orderBy("doc_id").limit(200)
             .select("text").collect()]
    queries = [("q-empty", ""), ("q-oov", "zzqx qqzz xxqq"),
               ("q-sparse", rare)]
    queries += [q for q in queries_for(texts, 12, seed=5) if q[1].strip()][:5]
    return spark.createDataFrame(queries, "query_id string, text string")


@pytest.mark.parametrize("path", ["bounded", "chunked", "sql_tokenizer"])
def test_folded_pad_matches_join(spark, pad_index, path):
    """Gate-mode padded retrieval pads inside the final merge on every
    metadata path: empty, all-OOV and sparse queries get exactly k rows
    whose nnoc-floor pads rank like the join strategy's."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import retrieve

    from tests.conftest import rows_to_arrays

    k = 10
    idx = pad_index
    if path == "sql_tokenizer":
        idx = build_index(transcripts_df(spark, "t2"),
                          order_cols=["conv_id", "turn_idx"],
                          tokenizer_engine="sql")
        idx.docs_per_shard = 300
    qdf = _padded_batch(spark, idx, k)
    ref = _rows(retrieve(idx, qdf, k=k, method="bm25l", strategy="join"))
    ours = _rows(retrieve(
        idx, qdf, k=k, method="bm25l", strategy="sharded", round_to=4,
        prune=False, pad=True,
        query_chunk_size=2 if path == "chunked" else 16384,
    ))
    nnoc_floor = {r["query_id"]: r["score"] for r in ref if r["rank"] == k}
    sparse = sorted(r["score"] for r in ref if r["query_id"] == "q-sparse")
    assert sparse[0] == nnoc_floor["q-sparse"] < sparse[-1]  # really padded
    assert len(ours) == qdf.count() * k
    # round_to=4 moves each score by up to 5e-5
    assert_rank_identical(ours, *rows_to_arrays(ref), atol=1e-4)


def _cached_rdds(spark) -> set:
    """Ids of the RDDs behind DataFrame caches.  Local checkpoints are
    left out: a chunked result's candidate blocks are its own data."""
    return {
        rid for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
        if not rdd.rdd().isCheckpointed()
    }


def test_padded_chunked_retrieve_caches_nothing(spark, pad_index):
    """A padded, chunked sharded retrieve leaves no DataFrame cache
    behind once its result is consumed."""
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.shards import ensure_sharded

    ensure_sharded(pad_index).count()
    qdf = _padded_batch(spark, pad_index, 5)
    before = _cached_rdds(spark)
    rows = retrieve(pad_index, qdf, k=5, strategy="sharded", pad=True,
                    query_chunk_size=3).collect()
    assert len(rows) == qdf.count() * 5
    assert _cached_rdds(spark) - before == set()
