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


def _assert_sharded_equals_join(spark, idx, **kw):
    """Sharded top-8 scores equal the join strategy's, query by query."""
    from bm25s_spark.retrieval import retrieve

    texts = [r["text"] for r in
             idx.doc_map.orderBy("doc_id").select("text").collect()]
    queries = queries_for(texts, 20, seed=7)
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    a = _normalize(_rows(retrieve(idx, qdf, k=8, strategy="join", **kw)))
    b = _normalize(_rows(retrieve(idx, qdf, k=8, strategy="sharded", **kw)))
    assert set(a) == set(b)
    for q in a:
        sa = [x[2] for x in a[q]]
        sb = [x[2] for x in b[q]]
        assert sa == sb, (q, a[q], b[q])


def test_sharded_equals_join_strategy(spark, pad_index):
    _assert_sharded_equals_join(spark, pad_index, method="atire",
                                idf_method="robertson")


@pytest.mark.parametrize("method,allow_negative", [
    ("robertson", False), ("lucene", False), ("atire", False),
    ("bm25l", False), ("bm25+", False), ("robertson", True),
])
def test_sharded_equals_join_each_method(spark, pad_index, method,
                                         allow_negative):
    """Every method's matched combination through the kernel's one
    scoring expression (impacts computed from the layout's tf/dl) equals
    the join strategy's.  Negative scores run padded and unpadded: on
    both strategies a pad row is always an unmatched doc, and a matched
    pool doc keeps its true (negative) score."""
    for pad in ((False, True) if allow_negative else (True,)):
        _assert_sharded_equals_join(spark, pad_index, method=method,
                                    idf_method=method,
                                    allow_negative=allow_negative, pad=pad)


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
    single-broadcast run (chunking only bounds driver/broadcast memory):
    per-chunk nnoc sums (bm25l) and a native ``long`` query id (mapped
    back from q_idx in each chunk's merge) included."""
    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 50, seed=13)
    engine = SparkBM25()
    idx = engine.index(tdf)
    idx.docs_per_shard = 512
    by_str = spark.createDataFrame(queries, "query_id string, text string")
    # descending ids: q_idx order is the reverse of the row order
    by_long = spark.createDataFrame(
        [(10_000 - i, text) for i, (_, text) in enumerate(queries)],
        "query_id long, text string",
    )
    for method in ("lucene", "bm25l"):
        for qdf, id_type in ((by_str, str), (by_long, int)):
            one = _rows(engine.retrieve(qdf, k=5, method=method,
                                        strategy="sharded"))
            chunked = _rows(engine.retrieve(
                qdf, k=5, method=method, strategy="sharded",
                query_chunk_size=7,
            ))
            assert _normalize(one) == _normalize(chunked), method
            assert len(one) == len(queries) * 5
            assert {type(r["query_id"]) for r in chunked} == {id_type}


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


def test_kernel_metrics_accumulators(spark, monkeypatch):
    """Query-side observability: the kernel fills shards_scored /
    postings_scanned / candidates_emitted accumulators after the action,
    with values satisfying the structural invariants — on both kernel
    executors, whose counts agree (the driver-side adds of the
    in-process kernel are exact)."""
    from bm25s_spark import shards
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
    counts = []
    for work_max in (shards.IN_PROCESS_WORK_MAX, 0):
        monkeypatch.setattr(shards, "IN_PROCESS_WORK_MAX", work_max)
        m: dict = {}
        res = idx.retrieve(qdf, k=5, strategy="sharded", pad=False,
                           metrics=m)
        n_rows = res.count()
        assert m["shards_scored"].value > 0
        # every candidate came from some scanned posting, and the final
        # merge only ever discards candidates
        assert m["postings_scanned"].value >= m["candidates_emitted"].value
        assert m["candidates_emitted"].value >= n_rows > 0
        # scatter-adds happened (pruning can only reduce them, never to 0
        # for a non-empty result), and with prune=False they are EXACTLY
        # one add per (query, shard, term) posting — ≥ the per-(shard,
        # term) loaded count whenever any term serves ≥1 query
        assert m["postings_scored"].value > 0
        m_off: dict = {}
        idx.retrieve(qdf, k=5, strategy="sharded", pad=False, prune=False,
                     metrics=m_off).count()
        assert m_off["postings_scored"].value >= m["postings_scored"].value
        assert (m_off["postings_scored"].value
                >= m_off["postings_scanned"].value)
        counts.append([{n: a.value for n, a in mm.items()}
                       for mm in (m, m_off)])
    assert counts[0] == counts[1]


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


def test_local_qstats_equals_distributed_pull(spark, monkeypatch):
    """Frame-level parity: the driver-local metadata pull must produce
    the EXACT (query_id, term, mult, df) relation the distributed
    ``tokenize_queries ⨝ term_stats`` path yields — over messy text
    (unicode, punctuation, stopword runs, repeats, empties, nulls) —
    from the driver term dictionary and, above its cap, from the
    broadcast-join lookup."""
    import random

    import pandas as pd
    from pyspark.sql import functions as F

    from bm25s_spark import shards
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

    def local():
        return _local_qstats(
            idx, qdf.toPandas(), "query_id", "text",
            make_local_tokenizer(**idx.tokenizer_kwargs), [],
        )

    key = lambda f: sorted(map(tuple, f[["query_id", "term", "mult", "df"]]
                               .itertuples(index=False)))
    assert key(local()) == key(dist)
    assert shards._term_dict(idx) is not None
    monkeypatch.setattr(shards, "VOCAB_LOCALIZE_MAX", 1)
    idx.driver_cache.clear()
    assert key(local()) == key(dist)
    assert shards._term_dict(idx) is None


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
    """A padded sharded retrieve leaves no DataFrame cache behind once
    its result is consumed: chunked or bounded, with or without a doc
    weight mask."""
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.shards import ensure_sharded

    ensure_sharded(pad_index).count()
    qdf = _padded_batch(spark, pad_index, 5)
    n_rows = qdf.count() * 5
    mask = spark.createDataFrame(
        [(d, 0.5) for d in range(0, pad_index.num_docs, 3)],
        "doc_id long, weight double",
    )
    for chunk_size, mask_df in ((3, None), (16384, None), (3, mask),
                                (16384, mask)):
        before = _cached_rdds(spark)
        rows = retrieve(pad_index, qdf, k=5, strategy="sharded", pad=True,
                        weight_mask_df=mask_df,
                        query_chunk_size=chunk_size).collect()
        assert len(rows) == n_rows
        assert _cached_rdds(spark) - before == set(), (chunk_size, mask_df)


@pytest.fixture
def kernel_stages(spark, monkeypatch):
    """Counts the ``mapInPandas`` stages retrieve plans (the sharded
    kernel's, and the chunked path's merge)."""
    cls = type(spark.range(1))
    orig = cls.mapInPandas
    calls: list = []

    def spy(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    return calls


def _sorted_frame(df):
    return df.toPandas().sort_values(["query_id", "rank"]).reset_index(
        drop=True
    )


@pytest.fixture(scope="module")
def import_index(spark, pad_index, tmp_path_factory):
    from bm25s_spark.compat import export_bm25s, import_bm25s

    d = str(tmp_path_factory.mktemp("bm25s_import"))
    export_bm25s(pad_index, d, method="bm25l", dtype="float64")
    imp = import_bm25s(spark, d)
    imp.docs_per_shard = 300
    return imp


@pytest.mark.parametrize("kw", [
    dict(method="robertson"), dict(method="lucene"), dict(method="atire"),
    dict(method="bm25l"), dict(method="bm25+"),
    dict(method="bm25l", round_to=4, prune=False),
    dict(method="bm25+", exact=True),
    dict(method="robertson", allow_negative=True),
    dict(method="robertson", allow_negative=True, pad=False),
    dict(method="bm25l", index="import"),
], ids=lambda kw: "-".join(f"{k}={v}" for k, v in kw.items()))
def test_in_process_kernel_matches_map_in_pandas(spark, pad_index,
                                                 import_index, monkeypatch,
                                                 kernel_stages, kw):
    """A bounded batch whose scatter-add work fits IN_PROCESS_WORK_MAX
    runs the kernel in the driver; forcing the mapInPandas stage (work
    constant 0) gives a bit-identical frame — padded empty, all-OOV and
    sparse queries included."""
    import pandas as pd

    from bm25s_spark import shards
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.shards import ensure_sharded

    kw = dict(kw)
    idx = import_index if kw.pop("index", None) == "import" else pad_index
    qdf = _padded_batch(spark, pad_index, 10)
    kw.setdefault("pad", True)
    ensure_sharded(idx)
    kernel_stages.clear()  # the layout build's own stage
    local = _sorted_frame(retrieve(idx, qdf, k=10, strategy="sharded", **kw))
    assert kernel_stages == []
    monkeypatch.setattr(shards, "IN_PROCESS_WORK_MAX", 0)
    dist = _sorted_frame(retrieve(idx, qdf, k=10, strategy="sharded", **kw))
    assert kernel_stages == [1]
    if kw["pad"]:
        assert len(local) == qdf.count() * 10
    pd.testing.assert_frame_equal(local, dist, check_exact=True)


def test_kernel_gives_each_shard_its_own_task(spark, pad_index,
                                             monkeypatch):
    """With no more shards than kernel partitions, no kernel partition
    receives rows of two shards (a hash exchange put 3 shards into 4
    partitions two-into-one), and every shard reaches the kernel."""
    from pyspark.sql import functions as F

    from bm25s_spark import shards
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.shards import ensure_sharded

    ensure_sharded(pad_index)
    texts = [r["text"] for r in pad_index.doc_map.orderBy("doc_id")
             .select("text").collect()]
    qdf = spark.createDataFrame(queries_for(texts, 200, seed=3),
                                "query_id string, text string")
    n_shards = -(-pad_index.num_docs // pad_index.docs_per_shard)
    assert 1 < n_shards <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    cls = type(qdf)
    orig = cls.mapInPandas
    inputs: list = []

    def spy(self, *args, **kwargs):
        inputs.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    monkeypatch.setattr(shards, "IN_PROCESS_WORK_MAX", 0)
    retrieve(pad_index, qdf, k=10, strategy="sharded", pad=False).count()
    assert len(inputs) == 1  # the kernel's
    placed = inputs[0].select(
        F.spark_partition_id().alias("part"), "shard_id"
    ).distinct().toPandas()
    assert placed.groupby("part")["shard_id"].nunique().max() == 1, placed
    assert sorted(placed["shard_id"]) == list(range(n_shards))


def test_padded_single_query_job_budget(spark, pad_index):
    """A padded single query on a warm index (term dictionary and pad
    pool cached) runs at most 4 Spark jobs, retrieve plus toPandas."""
    import pandas as pd

    from bm25s_spark.retrieval import retrieve

    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": ["q1"], "text": ["spark shuffle skew"]}),
        "query_id string, text string",
    )
    retrieve(pad_index, qdf, k=10, strategy="sharded").toPandas()
    sc = spark.sparkContext
    sc.setJobGroup("padded-single-query", "job budget")
    try:
        out = retrieve(pad_index, qdf, k=10, strategy="sharded").toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(out) == 10
    jobs = sc.statusTracker().getJobIdsForGroup("padded-single-query")
    assert 0 < len(jobs) <= 4, jobs


def test_single_query_code_does_not_depend_on_term_count(spark, pad_index):
    """Once one padded single query has run, queries with other numbers
    of terms compile no new classes: the in-process layout pull filters
    on membership in an array literal, whose generated code is the same
    for every list length, so no query pays codegen for being the first
    of its length."""
    import pandas as pd

    from pyspark.sql import functions as F

    from bm25s_spark.retrieval import retrieve

    terms = [r["term"] for r in pad_index.term_stats.where(F.col("df") > 0)
             .orderBy(F.desc("df"), "term").limit(6).collect()]
    qdfs = [
        spark.createDataFrame(
            pd.DataFrame({"query_id": ["q1"], "text": [" ".join(terms[:n])]}),
            "query_id string, text string",
        )
        for n in (1, 2, 3, 6)
    ]
    retrieve(pad_index, qdfs[0], k=10, strategy="sharded").toPandas()
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    before = compiles.getCount()
    for qdf in qdfs[1:]:
        retrieve(pad_index, qdf, k=10, strategy="sharded").toPandas()
    assert compiles.getCount() == before


def test_sharded_weight_mask_takes_map_in_pandas(spark, kernel_stages):
    """A weight-mask query keeps the distributed kernel (the mask rows
    are O(num_docs) and never reach the driver) and still matches the
    reference's weight-mask golden (reference/tests/core/
    test_retrieve.py:98-114): docs [0, 3]."""
    tdf = transcripts_df(spark, "t1")
    from bm25s_spark.shards import ensure_sharded

    engine = SparkBM25()
    ensure_sharded(engine.index(tdf))
    kernel_stages.clear()  # the layout build's own stage
    mask_df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate([1, 0, 0, 1])],
        "doc_id long, weight double",
    )
    qdf = spark.createDataFrame([("q-0000", "cat feline dog bird fish")],
                                "query_id string, text string")
    rows = _rows(engine.retrieve(qdf, k=2, strategy="sharded",
                                 weight_mask_df=mask_df))
    assert sorted(r["doc_id"] for r in rows) == [0, 3]
    assert kernel_stages == [1]
