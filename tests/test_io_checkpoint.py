"""Save/load round-trip parity (reference/tests/core/test_save_load.py
analog) and checkpoint/resume identity."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bm25s_spark.checkpoint import build_index_checkpointed
from bm25s_spark.index_io import load_index, save_index
from bm25s_spark.indexer import SparkBM25, build_index
from bm25s_spark.scoring import METHOD_SLUGS
from bm25s_spark.transcripts import queries_for, transcripts_df

from tests.conftest import (
    assert_rank_identical, assert_scores_equal, rows_to_arrays,
)


def _rows(df):
    return [r.asDict() for r in df.collect()]


def _tie_aware_equal(rows_a, rows_b):
    """Rank identity at tie-group granularity (float32 round-trips may
    flip equal-score orders, incl. at the k boundary)."""
    docs, scores = rows_to_arrays(rows_b)
    assert_rank_identical(rows_a, docs, scores, rtol=1e-4, atol=1e-4)


def _normalize(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 4))
        )
    return {q: sorted(v) for q, v in out.items()}


def test_save_load_roundtrip(spark, tmp_path):
    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 12, seed=5)
    qdf = spark.createDataFrame(queries, "query_id string, text string")

    engine = SparkBM25(method="lucene")
    idx = engine.index(tdf)
    idx.docs_per_shard = 512
    before_join = _rows(idx.retrieve(qdf, k=8, method="bm25l"))
    path = str(tmp_path / "index")
    save_index(idx, path)

    loaded = load_index(spark, path)
    assert loaded.num_docs == idx.num_docs
    assert abs(loaded.avg_doc_len - idx.avg_doc_len) < 1e-9
    after_sharded = _rows(loaded.retrieve(qdf, k=8, method="bm25l", strategy="sharded"))
    after_join = _rows(loaded.retrieve(qdf, k=8, method="bm25l", strategy="join"))
    _tie_aware_equal(after_sharded, before_join)
    _tie_aware_equal(after_join, before_join)
    # cross idf combo works on a loaded index (tf/dl survive the round trip)
    cross = _rows(loaded.retrieve(qdf, k=5, method="atire", idf_method="lucene"))
    cross_orig = _rows(idx.retrieve(qdf, k=5, method="atire", idf_method="lucene"))
    _tie_aware_equal(cross, cross_orig)
    # params + layout files exist
    assert os.path.exists(os.path.join(path, "params.json"))
    assert os.path.isdir(os.path.join(path, "postings_terms"))


@pytest.fixture(scope="module")
def saved_t2(spark, tmp_path_factory):
    """A fresh t2 index, its query batch and its saved copy."""
    tdf = transcripts_df(spark, "t2")
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"]).persist()
    idx.docs_per_shard = 512
    texts = [r["text"] for r in
             idx.doc_map.orderBy("doc_id").select("text").collect()]
    qdf = spark.createDataFrame(queries_for(texts, 12, seed=5),
                                "query_id string, text string")
    path = str(tmp_path_factory.mktemp("t2") / "index")
    save_index(idx, path)
    yield idx, qdf, path
    idx.unpersist()


def test_loaded_index_scores_exactly_like_fresh(spark, saved_t2):
    """load_index rebuilds the flat (tf, dl, df) facts from the layout
    and term_stats: no float32 round trip, so the loaded flat table
    equals the fresh build's exactly.  Every method's scores match to
    the last few bits: the per-doc sums may add the same impacts in
    another order, since Spark's aggregation follows the partitioning."""
    idx, qdf, path = saved_t2
    loaded = load_index(spark, path)
    cols = ["term", "doc_id", "tf", "dl", "df"]

    def rows(p):
        return sorted(tuple(r) for r in p.select(cols).collect())

    assert rows(loaded.postings) == rows(idx.postings)
    assert_scores_equal(idx, loaded, qdf)


def test_older_layout_with_impact_arrays_loads(spark, saved_t2, tmp_path):
    """A save in the older format, whose layout also stored per-method
    impact arrays and df on every row and whose term_stats stored nnoc
    columns, still loads: columns are chosen by name.  The extra values
    are filled with -1 so that reading any of them would change the
    results."""
    idx, qdf, path = saved_t2
    old = str(tmp_path / "old")
    shutil.copytree(path, old, ignore=shutil.ignore_patterns(
        "postings_sharded", "term_stats"))
    ts = spark.read.parquet(os.path.join(path, "term_stats"))
    for slug in ("bm25l", "bm25plus"):
        ts = ts.withColumn(f"nnoc_{slug}", F.lit(-1.0))
    ts.write.parquet(os.path.join(old, "term_stats"))
    layout = spark.read.parquet(os.path.join(path, "postings_sharded")).join(
        spark.read.parquet(os.path.join(path, "term_stats"))
        .select("term_id", "df"), "term_id",
    )
    for slug in METHOD_SLUGS.values():
        layout = layout.withColumn(
            f"impacts_{slug}",
            F.transform("tfs", lambda t: F.lit(-1.0).cast("float")),
        )
    layout.write.partitionBy("shard_bucket").parquet(
        os.path.join(old, "postings_sharded")
    )
    loaded = load_index(spark, old)
    assert {"df", "impacts_lucene"} <= set(loaded.sharded.columns)
    assert loaded.term_stats.columns == ["term", "term_id", "df"]
    fresh = _rows(idx.retrieve(qdf, k=8, method="bm25l", strategy="join"))
    for strategy in ("join", "sharded"):
        _tie_aware_equal(
            _rows(loaded.retrieve(qdf, k=8, method="bm25l", strategy=strategy)),
            fresh,
        )


def test_checkpoint_resume_identity(spark, tmp_path):
    tdf = transcripts_df(spark, "t2")
    queries = queries_for(
        [r["text"] for r in tdf.orderBy("conv_id", "turn_idx").select("text").collect()],
        8, seed=9,
    )
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    ckdir = str(tmp_path / "ck")

    idx1, ck1 = build_index_checkpointed(tdf, ckdir, corpus_tag="t2", docs_per_shard=512)
    r1 = _normalize(idx1.retrieve(qdf, k=6))
    assert all(not s.resumed for s in ck1.log)
    # manifests carry per-file lineage + metrics
    m = json.load(open(os.path.join(ckdir, "tokenized", "_MANIFEST.json")))
    assert m["metrics"]["docs_tokenized"] == 2000
    assert m["rows"] == sum(f["rows"] for f in m["files"]) and len(m["files"]) >= 1
    m2 = json.load(open(os.path.join(ckdir, "postings", "_MANIFEST.json")))
    assert m2["metrics"]["postings_emitted"] > 0

    # full resume: every stage is read back, nothing recomputed
    idx2, ck2 = build_index_checkpointed(tdf, ckdir, corpus_tag="t2", docs_per_shard=512)
    assert all(s.resumed for s in ck2.log)
    assert _normalize(idx2.retrieve(qdf, k=6)) == r1

    # kill-after-stage-N: wipe the last two stages, resume recomputes only them
    shutil.rmtree(os.path.join(ckdir, "postings"))
    shutil.rmtree(os.path.join(ckdir, "sharded"))
    idx3, ck3 = build_index_checkpointed(tdf, ckdir, corpus_tag="t2", docs_per_shard=512)
    resumed = {s.name: s.resumed for s in ck3.log}
    assert resumed == {
        "doc_ids": True, "tokenized": True, "tf": True,
        "term_stats": True, "postings": False, "sharded": False,
    }
    assert _normalize(idx3.retrieve(qdf, k=6)) == r1
    # changed params → different fingerprint → full rebuild
    idx4, ck4 = build_index_checkpointed(
        tdf, ckdir, corpus_tag="t2", docs_per_shard=512, k1=1.2
    )
    assert all(not s.resumed for s in ck4.log)


def test_iceberg_write_composition(spark, monkeypatch):
    """The Iceberg branch composes the correct writeTo calls (no catalog
    / runtime jar in this environment, so the DataFrameWriterV2 chain is
    recorded instead of executed; on a cluster the same calls run
    against a real catalog — see index_io.iceberg_session_conf)."""
    from bm25s_spark.index_io import iceberg_session_conf, save_index
    from bm25s_spark.transcripts import transcripts_df

    calls = []

    class FakeWriter:
        def __init__(self, table):
            self.table = table
            self.fmt = None
            self.partition = None

        def using(self, fmt):
            self.fmt = fmt
            return self

        def partitionedBy(self, col):
            self.partition = str(col)
            return self

        def createOrReplace(self):
            calls.append((self.table, self.fmt, self.partition))

    engine = SparkBM25()
    idx = engine.index(transcripts_df(spark, "t1"))
    # patch the concrete runtime DataFrame class (pyspark 4 subclasses
    # the public pyspark.sql.DataFrame)
    monkeypatch.setattr(
        type(idx.term_stats), "writeTo", lambda self, table: FakeWriter(table)
    )
    save_index(idx, "local.db.myindex", fmt="iceberg")

    tables = {t: (f, p) for t, f, p in calls}
    expected = {
        "local.db.myindex_params",
        "local.db.myindex_term_stats",
        "local.db.myindex_doc_lens",
        "local.db.myindex_doc_map",
        "local.db.myindex_postings_sharded",
        "local.db.myindex_postings_terms",
    }
    assert set(tables) == expected
    assert all(f == "iceberg" for f, _ in tables.values())
    assert tables["local.db.myindex_postings_sharded"][1] is not None  # partitionedBy(shard_bucket)
    assert "shard_bucket" in tables["local.db.myindex_postings_sharded"][1]

    conf = iceberg_session_conf("cat", "/tmp/wh")
    assert conf["spark.sql.catalog.cat.type"] == "hadoop"
    assert conf["spark.sql.catalog.cat.warehouse"] == "/tmp/wh"


def test_checkpointed_build_sql_tokenizer_engine(spark, tmp_path):
    """The checkpointed builder accepts tokenizer_engine='sql' (pure-JVM
    tokenization), carries the engine in tokenizer_kwargs, and produces
    retrieval identical to the pandas-engine build; the engine is part
    of the stage fingerprint, so the two builds never share stages."""
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.transcripts import transcripts_df

    tdf = transcripts_df(spark, "t1")
    qdf = spark.createDataFrame(
        [("q1", "a cat is a feline, it's sometimes beautiful")],
        "query_id string, text string",
    )
    a, _ = build_index_checkpointed(
        tdf, str(tmp_path / "ck_pd"), corpus_tag="t1", docs_per_shard=512
    )
    b, _ = build_index_checkpointed(
        tdf, str(tmp_path / "ck_sq"), corpus_tag="t1", docs_per_shard=512,
        tokenizer_engine="sql",
    )
    assert b.tokenizer_kwargs.get("engine") == "sql"
    ra = [(r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(a, qdf, k=4).orderBy("rank").collect()]
    rb = [(r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(b, qdf, k=4).orderBy("rank").collect()]
    assert ra == rb


def test_checkpointed_sqlstem_matches_plain_build(spark, tmp_path):
    """The checkpointed builder's sqlstem path (JVM surface scan + the
    vocab-sized stem fold as part of the tf stage) produces the same
    index as build_index with the same spec, and resumes cleanly."""
    from bm25s_spark.indexer import build_index

    tdf = transcripts_df(spark, "t2")
    qdf = spark.createDataFrame(
        queries_for(
            [r["text"] for r in tdf.orderBy("conv_id", "turn_idx")
             .select("text").collect()], 4, seed=31),
        "query_id string, text string",
    )
    ckdir = str(tmp_path / "ck_sqlstem")
    idx1, ck1 = build_index_checkpointed(
        tdf, ckdir, corpus_tag="t2", docs_per_shard=512,
        stemmer="english", tokenizer_engine="sql",
    )
    plain = build_index(tdf, order_cols=["conv_id", "turn_idx"],
                        stemmer="english", tokenizer_engine="sql")
    pa = sorted(tuple(r) for r in
                plain.postings.select("term", "doc_id", "tf").collect())
    pb = sorted(tuple(r) for r in
                idx1.postings.select("term", "doc_id", "tf").collect())
    assert pa == pb
    r1 = _normalize(idx1.retrieve(qdf, k=5))
    assert _normalize(plain.retrieve(qdf, k=5)) == r1
    # resume reads every stage back
    idx2, ck2 = build_index_checkpointed(
        tdf, ckdir, corpus_tag="t2", docs_per_shard=512,
        stemmer="english", tokenizer_engine="sql",
    )
    assert all(s.resumed for s in ck2.log)
    assert _normalize(idx2.retrieve(qdf, k=5)) == r1
