"""Physical-plan assertions: the properties that make the engine hold at
scale must be visible in `explain` output, so a regression that silently
turns a broadcast into a sort-merge join, or un-pushes a parquet filter,
fails here instead of in a cluster bill.

Spark is pinned (4.x) so matching plan strings is stable enough; every
assertion targets a coarse, semantically-meaningful marker (join
strategy, PushedFilters, ReadSchema), not exact operator layout.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bm25s_spark.indexer import SparkBM25, build_index
from bm25s_spark.transcripts import transcripts_df


def _plan(df) -> str:
    """What ``df.explain("formatted")`` prints, read without redirecting
    stdout (safe from several threads)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def idx(spark):
    return build_index(transcripts_df(spark, "t2"),
                       order_cols=["conv_id", "turn_idx"]).persist()


def test_join_strategy_broadcasts_queries(spark, idx):
    """The join-strategy scorer must broadcast the (tiny) query-term side
    — a shuffled/sort-merge join over postings × qterms would shuffle the
    whole postings table per query batch."""
    qdf = spark.createDataFrame(
        [("q0", "telemetry checkpoint shuffle")], "query_id string, text string"
    )
    plan = _plan(idx.retrieve(qdf, k=5, strategy="join", pad=False))
    assert "BroadcastHashJoin" in plan
    # every join in this plan is query-sized on one side; any SMJ means a
    # broadcast hint regressed (the nnoc join did exactly this once)
    assert "SortMergeJoin" not in plan


def test_parquet_filter_pushdown(spark):
    """Filters and projections over the source tables must reach the
    parquet scan (PushedFilters / pruned ReadSchema)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    q = docs.where(F.col("doc_id") < 100).select("doc_id")
    plan = _plan(q)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "LessThan(doc_id,100)" in m.group(1), plan
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert rs and "text" not in rs.group(1), "projection not pruned"


def test_sharded_kernel_prunes_terms_before_scan(spark, idx, monkeypatch):
    """The sharded path must restrict the layout to the query terms
    BEFORE the kernel (only shards×terms touched by the batch are
    scanned): a term filter under the in-process kernel's layout pull, a
    broadcast semi join under the ``mapInPandas`` kernel.  A bounded
    batch comes back as a local relation; a chunk's final candidate
    merge must be one vectorized ``mapInPandas`` pass over an
    explicit-count ``q_idx`` exchange, not a per-query grouped map."""
    from bm25s_spark import shards
    from bm25s_spark.shards import ensure_sharded, retrieve_sharded

    idx.docs_per_shard = 256
    ensure_sharded(idx)
    qdf = spark.createDataFrame(
        [("q0", "telemetry checkpoint"), ("q1", "shuffle skew")],
        "query_id string, text string",
    )
    cls = type(qdf)
    plans: dict = {"toPandas": [], "localCheckpoint": []}
    for name in plans:
        def spy(self, *args, _orig=getattr(cls, name), _name=name, **kw):
            plans[_name].append(_plan(self))
            return _orig(self, *args, **kw)

        monkeypatch.setattr(cls, name, spy)

    out = retrieve_sharded(idx, qdf, k=5, pad=False)
    assert "LocalTableScan" in _plan(out)
    pull = plans["toPandas"][-1]
    assert re.search(r"Filter \(\d+\)\n\s*\+- InMemoryTableScan", pull), pull
    # four terms: membership in an array literal, whose generated code
    # does not depend on the term count
    assert re.search(r"array_contains\(\[[^\]]*\], term#\d+\)", pull), pull

    monkeypatch.setattr(shards, "IN_PROCESS_WORK_MAX", 0)
    retrieve_sharded(idx, qdf, k=5, pad=False)
    kernel = plans["toPandas"][-1]
    assert re.search(r"MapInPandas \(\d+\)\n\s*\+- Sort \(\d+\)\n"
                     r"\s*\+- Exchange \(\d+\)\n\s*\+- Project \(\d+\)\n"
                     r"\s*\+- BroadcastHashJoin LeftSemi", kernel), \
        "term pruning semi-join missing under the kernel"
    # shards are placed by range, one shard per kernel task
    assert re.search(r"rangepartitioning\(shard_id#\d+L? ASC NULLS FIRST, "
                     r"\d+\), REPARTITION_BY_NUM", kernel), kernel
    assert "SortMergeJoin" not in kernel

    retrieve_sharded(idx, qdf, k=5, pad=False, query_chunk_size=1)
    for plan in plans["localCheckpoint"]:
        # the final exact merge is a MapInPandas over the explicit
        # q_idx exchange of the scatter-add kernel's MapInPandas
        assert re.search(r"MapInPandas \(\d+\)\n\s*\+- Exchange \(\d+\)\n"
                         r"\s*\+- MapInPandas \(\d+\)", plan), plan
        assert re.search(r"hashpartitioning\(q_idx#\d+, \d+\), "
                         r"REPARTITION_BY_NUM", plan), plan
        assert "FlatMapGroupsInPandas" not in plan
        assert "LeftSemi" in plan
        assert "SortMergeJoin" not in plan
    assert len(plans["localCheckpoint"]) == 2


def test_impact_expressions_are_jvm_side(spark, idx):
    """BM25 impact arithmetic must be JVM column expressions — the
    join-strategy scorer computes every method's impacts at query time,
    and the only Python in its plan is the Arrow-batched tokenizer UDF,
    never row-at-a-time BatchEvalPython.  (WholeStageCodegen spans aren't
    visible through an unexecuted AdaptiveSparkPlan, so the assertion is
    on the absence of Python nodes.)"""
    from bm25s_spark.scoring import METHODS

    qdf = spark.createDataFrame(
        [("q0", "telemetry checkpoint shuffle")], "query_id string, text string"
    )
    for m in METHODS:
        plan = _plan(idx.retrieve(qdf, k=5, method=m, strategy="join"))
        assert "BatchEvalPython" not in plan, m
        # the impact is computed in the plan, as a JVM expression
        assert "ln(" in plan, m
        arrow_nodes = re.findall(r"ArrowEvalPython \[([^\]]*)\]", plan)
        assert all("tokenize" in a for a in arrow_nodes) \
            or len(arrow_nodes) <= 1, m


def test_retrieve_has_no_python_row_udfs(spark, idx):
    """The whole join-strategy retrieval plan may contain Arrow-batched
    Python (the tokenizer UDF) but never row-at-a-time BatchEvalPython."""
    qdf = spark.createDataFrame(
        [("q0", "spark shuffle")], "query_id string, text string"
    )
    plan = _plan(idx.retrieve(qdf, k=5, strategy="join", pad=False))
    assert "BatchEvalPython" not in plan


def test_term_postings_lookup_pushdown(spark, idx, tmp_path_factory):
    """The term-ordered layout must serve single-term lookups with the
    filter pushed to the parquet scan (file/row-group skipping), and the
    returned posting list must match the flat postings."""
    from bm25s_spark.index_io import read_term_postings, save_index

    path = str(tmp_path_factory.mktemp("idx"))
    save_index(idx, path)
    lookup = read_term_postings(spark, path, ["telemetry"])
    plan = _plan(lookup)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term" in m.group(1), plan

    row = lookup.collect()
    assert len(row) == 1
    got = sorted(row[0]["doc_ids"])
    expect = sorted(
        r["doc_id"]
        for r in idx.postings.where(F.col("term") == "telemetry").collect()
    )
    assert got == expect and len(got) == row[0]["df"]


def test_ivf_partitioned_cell_pruning(spark, tmp_path_factory):
    """The IVF layout's cell id must act as a REAL partition key: reading
    with a probe filter shows PartitionFilters on the parquet scan (only
    the probed cell directories are listed/read), and the pruned search
    returns exactly what the in-memory ivf_knn computes with the same
    centroids."""
    from bm25s_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("ivf"))
    similarity.ivf_build_partitioned(emb, path, n_centroids=8, seed=42)

    qv = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = similarity.ivf_knn_partitioned(spark, path, qv, k=3, n_probe=2)
    plan = _plan(res)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan

    mem = similarity.ivf_knn(
        emb, qv, k=3, n_centroids=8, n_probe=2, seed=42
    )
    assert {tuple(r) for r in res.collect()} == {tuple(r) for r in mem.collect()}


def test_decontam_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (tiny) benchmark n-gram side —
    a shuffle join would repartition the full corpus n-gram explode by
    shingle, the exact shuffle the operator exists to avoid — and the
    hash-split bucket must stay a pure JVM expression (no Python)."""
    from bm25s_spark.operators.decontam import contamination_report
    from bm25s_spark.operators.sampling import hash_split

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon doc "),
                 F.col("id").cast("string")).alias("text"),
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "bench_id long, text string"
    )
    plan = _plan(contamination_report(docs, bench, n=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan

    plan2 = _plan(hash_split(docs))
    assert "BatchEvalPython" not in plan2 and "Exchange" not in plan2


def test_gopher_filter_is_narrow(spark):
    """The quality filter must stay a single narrow projection — no
    shuffle, no Python eval: every rule is a column expression, so the
    filter costs one codegen'd pass at any corpus size."""
    from bm25s_spark.functions.text import gopher_filter

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some words in a line of text number "),
                 F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(gopher_filter(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_single_group_shuffle(spark):
    """Packing must shuffle exactly once (hash-partition by group) into
    the Arrow-grouped packer; the group key must be a JVM md5 expression
    (no row-at-a-time Python upstream of the exchange)."""
    from bm25s_spark.operators.packing import pack_sequences

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("w w w w w w w w").alias("text"),
    )
    plan = _plan(pack_sequences(docs, max_tokens=32, n_groups=8))
    # formatted explain prints each node twice (tree + detail): count
    # tree occurrences only
    assert plan.count("- Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_is_join_free(spark):
    """The as-of join must compile to union + one windowed sort — no
    join operator at all (the naive range-join formulation explodes to
    O(|l|x|r|) intermediate rows per key) and no Python."""
    from bm25s_spark.operators.asof import asof_join

    l = spark.range(100).select(
        F.col("id").alias("lid"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        (F.col("id") % 7).alias("user"),
    )
    r = spark.range(100).select(
        F.col("id").alias("rid"),
        F.timestamp_seconds(F.col("id") * 45).alias("ts"),
        (F.col("id") % 7).alias("user"),
    )
    plan = _plan(asof_join(l, r, on="ts", by=["user"], right_cols=["rid"]))
    assert "Join" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan


def test_quantized_knn_broadcasts_queries(spark):
    """Quantized kNN must keep the brute-force scan shape: broadcast the
    tiny query side (a shuffled join would repartition the corpus per
    batch) and keep the quantizer + integer cosine as pure JVM column
    expressions — no Python anywhere."""
    from bm25s_spark.operators.similarity import quantized_knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(quantized_knn(emb, qv, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_upsample_is_narrow(spark):
    """Epoch upsampling must stay a narrow generate pass — literal CASE
    + explode, no shuffle, no join, no Python."""
    from bm25s_spark.operators.sampling import upsample_corpus

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("stratum"),
    )
    plan = _plan(upsample_corpus(docs, {"0": 2.5, "2": 0.25}, "stratum"))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_top_terms_map_side_prune(spark, idx):
    """Keyword extraction's per-doc window must compile with the
    Partial→Exchange→Final WindowGroupLimit shape: each map task prunes
    to ≤k rows per doc BEFORE the shuffle, so the exchange carries
    O(docs·k), not the full postings."""
    from bm25s_spark.operators.keywords import top_terms_per_doc

    plan = _plan(top_terms_per_doc(idx, k=3))
    assert "row_number(), 3, Partial" in plan, plan[-2000:]
    assert "row_number(), 3, Final" in plan
    assert "BatchEvalPython" not in plan


def test_lm_score_broadcasts_model(spark):
    """LM scoring must broadcast the vocab-sized count table into the
    exploded corpus — a sort-merge join there shuffles every token."""
    from bm25s_spark.operators.lm import with_lm_score

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma doc "),
                 F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(with_lm_score(docs))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_pmi_broadcasts_unigrams(spark):
    """PMI joins the vocab-sized unigram table into the bigram counts
    twice — both must be broadcast; bigrams build in-row (zip_with),
    so there is no self-join."""
    from bm25s_spark.operators.collocations import pmi_collocations

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma alpha beta").alias("text"),
    )
    plan = _plan(pmi_collocations(docs, min_count=2, k=5))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    # top-k is TakeOrdered (per-partition heap), not a global sort
    assert "TakeOrderedAndProject" in plan


def test_prf_expansion_broadcasts_hits(spark, idx):
    """PRF's feedback join must broadcast the (queries × m) hit set into
    the postings table, and the whole two-stage pipeline stays free of
    row-at-a-time Python."""
    from bm25s_spark.operators.prf import prf_expand

    qdf = spark.createDataFrame(
        [("q0", "telemetry checkpoint shuffle")],
        "query_id string, text string",
    )
    plan = _plan(prf_expand(idx, qdf, feedback_docs=3, expansion_terms=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_querylang_single_broadcast_pass(spark, idx):
    """The query language's musts/nots/boosts all ride ONE broadcast
    postings join — no sort-merge join and no row-at-a-time Python in
    the scoring path (the tokenizer's ArrowEvalPython on the tiny query
    side is the only Python)."""
    from bm25s_spark.operators.querylang import retrieve_parsed

    qdf = spark.createDataFrame(
        [("q", "spark +group -merge sort^2")], "query_id string, text string"
    )
    plan = _plan(retrieve_parsed(idx, qdf, k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_sigterms_broadcasts_hit_side(spark, idx):
    from bm25s_spark.operators.sigterms import significant_terms

    hits = spark.createDataFrame(
        [("q", 0), ("q", 1)], "query_id string, doc_id long"
    )
    plan = _plan(significant_terms(idx, hits))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_evaluate_per_query_no_python_and_query_keyed(spark):
    """Distributed eval is pure JVM expressions keyed by query_id —
    no Python evaluation anywhere in the plan."""
    from bm25s_spark.operators.evaldf import evaluate_per_query

    results = spark.createDataFrame(
        [("q", 1, 10, 1.0)], "query_id string, rank int, doc_id long, score double"
    )
    qrels = spark.createDataFrame(
        [("q", 10, 1)], "query_id string, doc_id long, grade int"
    )
    plan = _plan(evaluate_per_query(results, qrels, k=5))
    assert "EvalPython" not in plan


def test_qld_broadcasts_query_terms(spark, idx):
    """The Dirichlet QLD scorer's corpus-side join must broadcast the
    query-term side (postings never shuffle for a query batch); the only
    Python in the plan is the tokenizer UDF (ArrowEvalPython), never
    row-at-a-time BatchEvalPython."""
    from bm25s_spark.operators.qld import retrieve_qld

    qdf = spark.createDataFrame(
        [("q0", "telemetry checkpoint shuffle")], "query_id string, text string"
    )
    plan = _plan(retrieve_qld(idx, qdf, k=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
