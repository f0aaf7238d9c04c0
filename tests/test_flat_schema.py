"""Every index constructor gives the same flat tables: postings and
term_stats hold only corpus facts, and a reference-format import adds
only the values its file stores."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bm25s_spark.ids import assign_doc_ids
from bm25s_spark.transcripts import transcripts_df

POSTINGS_COLS = ["term", "doc_id", "dl", "tf", "term_id", "df"]
TERM_STATS_COLS = ["term", "term_id", "df"]


@pytest.fixture(scope="module")
def docs(spark):
    d = assign_doc_ids(transcripts_df(spark, "t1")).persist()
    yield d
    d.unpersist()


def _build(spark, docs, tmp_path):
    from bm25s_spark.indexer import build_index

    return build_index(docs, doc_id_col="doc_id")


def _from_tokens(spark, docs, tmp_path):
    from bm25s_spark.indexer import build_index_from_tokens
    from bm25s_spark.tokenization import tokenize

    return build_index_from_tokens(tokenize(docs), doc_id_col="doc_id")


def _from_token_ids(spark, docs, tmp_path):
    from bm25s_spark.indexer import build_index_from_token_ids
    from bm25s_spark.tokenization import tokenize

    toks = tokenize(docs)
    vocab = (
        toks.select(F.explode("tokens").alias("term")).distinct()
        .select("term", F.dense_rank().over(Window.orderBy("term"))
                .cast("int").alias("term_id"))
    )
    ids = (
        toks.select("doc_id", F.posexplode("tokens").alias("pos", "term"))
        .join(vocab, "term")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "term_id"))).alias("ps"))
        .select("doc_id", F.transform("ps", lambda s: s["term_id"]).alias("token_ids"))
    )
    return build_index_from_token_ids(ids, vocab, doc_id_col="doc_id")


def _merge(spark, docs, tmp_path):
    from bm25s_spark.indexer import build_index, merge_indexes

    return merge_indexes(*(
        build_index(docs.where(F.col("doc_id") % 2 == i), doc_id_col="doc_id")
        for i in range(2)
    ))


def _compact(spark, docs, tmp_path):
    from bm25s_spark.indexer import build_index
    from bm25s_spark.operators.deletes import compact_index

    tomb = spark.createDataFrame([(1,)], "doc_id long")
    return compact_index(build_index(docs, doc_id_col="doc_id"), tomb)


def _load(spark, docs, tmp_path):
    from bm25s_spark.index_io import load_index, save_index
    from bm25s_spark.indexer import build_index

    save_index(build_index(docs, doc_id_col="doc_id"), str(tmp_path / "idx"))
    return load_index(spark, str(tmp_path / "idx"))


def _checkpointed(spark, docs, tmp_path):
    from bm25s_spark.checkpoint import build_index_checkpointed

    idx, _ = build_index_checkpointed(docs, str(tmp_path / "ck"),
                                      doc_id_col="doc_id")
    return idx


def _incremental(spark, docs, tmp_path):
    from bm25s_spark.streaming.incremental import IncrementalIndexer

    inc = IncrementalIndexer(spark, str(tmp_path / "inc"))
    inc.process_batch(docs.where(F.col("doc_id") < 2).drop("doc_id"), 0)
    inc.process_batch(docs.where(F.col("doc_id") >= 2).drop("doc_id"), 1)
    return inc.to_index()


CONSTRUCTORS = {
    "build_index": _build,
    "build_index_from_tokens": _from_tokens,
    "build_index_from_token_ids": _from_token_ids,
    "merge_indexes": _merge,
    "compact_index": _compact,
    "load_index": _load,
    "build_index_checkpointed": _checkpointed,
    "incremental_to_index": _incremental,
}


@pytest.mark.parametrize("name", list(CONSTRUCTORS))
def test_constructor_flat_schema(spark, docs, tmp_path, name):
    idx = CONSTRUCTORS[name](spark, docs, tmp_path)
    assert idx.postings.columns == POSTINGS_COLS, name
    assert idx.term_stats.columns == TERM_STATS_COLS, name
    assert idx.postings.count() > 0
    if name != "load_index":
        # a fresh index carries its term dictionary, equal to a pull of
        # its term_stats, so its first query does not pull it again
        from bm25s_spark.indexer import TERM_DICT

        source, vocab = idx.driver_cache[TERM_DICT]
        pulled = idx.term_stats.select("term", "df").toPandas()
        assert source is idx.term_stats and vocab.sort_index().equals(
            pulled.set_index("term").sort_index()), name


@pytest.mark.parametrize("method", ["lucene", "bm25l"])
def test_import_adds_only_stored_columns(spark, docs, tmp_path, method):
    """An import's postings carry one ``imps`` column; its term_stats the
    file's nnoc array when the method has one."""
    from bm25s_spark.compat import NNOC_COLS, export_bm25s, import_bm25s
    from bm25s_spark.indexer import build_index

    export_bm25s(build_index(docs, doc_id_col="doc_id"), str(tmp_path / "ref"),
                 method=method)
    imp = import_bm25s(spark, str(tmp_path / "ref"))
    assert imp.postings.columns == POSTINGS_COLS + ["imps"]
    stored = [NNOC_COLS[method]] if method in NNOC_COLS else []
    assert imp.term_stats.columns == TERM_STATS_COLS + stored
