"""Token-stream parity: our UDF must produce byte-identical token lists
to the reference's functional tokenizer on every fixture doc (SURVEY §7
hard-part 1 — any divergence silently breaks rank identity), plus the
dense score-matrix equivalence check (the reference's strongest internal
oracle shape, tests/__init__.py:139-145 analog)."""

from __future__ import annotations

import numpy as np
import pytest

from bm25s_spark.tokenization import make_tokenizer_udf, tokenize
from bm25s_spark.transcripts import ANIMAL_CORPUS, transcripts_df

from pyspark.sql import functions as F


FIXTURE_TEXTS = ANIMAL_CORPUS + [
    "",                          # empty
    "the a an and of to",        # all stopwords
    "a b c",                     # 1-char tokens dropped by regex
    "Hello, World! it's 2026-08-16... naïve café #tag @user",
    "שלום עולם מבחן",
    "你好 世界 测试 文档",
    "ПРИВЕТ Мир Тест",
    "merhaba DÜNYA test belgesi",
    "tabs\tand\nnewlines  and    runs",
    "numbers 123 42x x42 1 22 333",
    "hyphen-ated under_score dot.sep",
    "dup dup dup words words",
]


def _ref_token_strings(ref_bm25s, texts, allow_empty=True):
    return ref_bm25s.tokenize(
        texts, stopwords="en", return_ids=False, show_progress=False,
        allow_empty=allow_empty,
    )


def test_token_stream_parity(spark, ref_bm25s):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FIXTURE_TEXTS)], "doc_id long, text string"
    )
    ours_rows = tokenize(df, "text").orderBy("doc_id").collect()
    ours = [list(r["tokens"]) for r in ours_rows]
    # the reference's default English list == our Lucene-33 list; verify
    # that premise first so a list drift fails loudly here, not in ranks
    from bm25s_spark.tokenization import STOPWORDS_EN

    ref_sw = set(ref_bm25s.stopwords.STOPWORDS_EN)
    assert set(STOPWORDS_EN) == ref_sw, (
        set(STOPWORDS_EN) ^ ref_sw
    )
    ref = _ref_token_strings(ref_bm25s, FIXTURE_TEXTS)
    for i, (a, b) in enumerate(zip(ours, ref)):
        assert a == b, (i, FIXTURE_TEXTS[i], a, b)


def test_empty_fallback_quirk(spark, ref_bm25s):
    """Functional reference tokenize: allow_empty=False INSERTS the empty
    token (reference/bm25s/tokenization.py:654-655 — inverted flag);
    our ``empty_fallback=True`` matches that behavior."""
    texts = ["", "the of a"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    ours = [list(r["tokens"]) for r in
            tokenize(df, "text", empty_fallback=True).orderBy("doc_id").collect()]
    ref = _ref_token_strings(ref_bm25s, texts, allow_empty=False)
    assert ours == ref
    # empty string → [""]; all-stopwords → [] in BOTH (fallback happens
    # before the stopword filter)
    assert ours[0] == [""] and ours[1] == []


def test_custom_pattern_and_stopwords(spark, ref_bm25s):
    texts = ["a b see dee", "x-ray alpha beta"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    ours = [list(r["tokens"]) for r in tokenize(
        df, "text", token_pattern=r"\w+", stopwords=["alpha"]
    ).orderBy("doc_id").collect()]
    ref = ref_bm25s.tokenize(
        texts, token_pattern=r"\w+", stopwords=["alpha"],
        return_ids=False, show_progress=False,
    )
    assert ours == ref


def test_dense_score_matrix_parity(spark, ref_bm25s):
    """Full (query × doc) score matrices match the reference within
    float32 tolerance — the np.allclose-over-full-matrices oracle the
    reference uses against rank-bm25 (reference/tests/__init__.py:139-145)."""
    from bm25s_spark.indexer import SparkBM25

    tdf = transcripts_df(spark, "t1")
    queries = [
        ("q0", "cat feline dog bird fish"),
        ("q1", "does the fish purr like a cat?"),
        ("q2", "zzqx"),
        ("q3", ""),
    ]
    for method in ("lucene", "bm25l"):
        engine = SparkBM25(method=method)
        engine.index(tdf)
        qdf = spark.createDataFrame(queries, "query_id string, text string")
        dense = engine.get_scores(qdf, dense=True).collect()
        ours = np.zeros((len(queries), 4))
        qidx = {q: i for i, (q, _) in enumerate(queries)}
        for r in dense:
            ours[qidx[r["query_id"]], r["doc_id"]] = r["score"]
        retriever = ref_bm25s.BM25(method=method, k1=1.5, b=0.75, delta=0.5)
        toks = ref_bm25s.tokenize(ANIMAL_CORPUS, stopwords="en", show_progress=False)
        retriever.index(toks, show_progress=False)
        for i, (qid, text) in enumerate(queries):
            qtoks = ref_bm25s.tokenize([text], stopwords="en", show_progress=False,
                                       return_ids=False)[0]
            if len(qtoks) == 0:
                expected = np.zeros(4, dtype=np.float32)
            else:
                expected = retriever.get_scores(qtoks)
            np.testing.assert_allclose(ours[i], expected, rtol=1e-4, atol=1e-5,
                                       err_msg=f"{method} {qid}")


LANGS = [
    "en", "en_plus", "de", "nl", "fr", "es", "pt", "it", "ru", "sv",
    "no", "zh", "tr", "ko",
]


@pytest.mark.parametrize("lang", LANGS)
def test_multilang_stopword_parity(lang, spark, ref_bm25s):
    """Every language set must match the reference's word-for-word (the
    reference ships 14 public NLTK / stopwords-iso lists,
    reference/bm25s/stopwords.py:1-3471), and the token streams produced
    under each must be identical."""
    from bm25s_spark.tokenization import resolve_stopwords

    ref_list = ref_bm25s.tokenization._infer_stopwords(lang)
    assert resolve_stopwords(lang) == frozenset(ref_list), lang

    # a text carrying a sample of the language's stopwords + content words
    sample = sorted(ref_list)[::7][:20]
    texts = [
        " ".join(sample + ["Quantum", "particle", "spectrum"]),
        " ".join(sample[:5]) + " database QUERY engine",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ours = [
        list(r["tokens"])
        for r in tokenize(df, "text", stopwords=lang).orderBy("doc_id").collect()
    ]
    ref = ref_bm25s.tokenize(
        texts, stopwords=lang, return_ids=False, show_progress=False
    )
    assert ours == ref, lang


def test_full_language_alias_names(spark):
    from bm25s_spark.tokenization import resolve_stopwords

    for alias, code in [
        ("german", "de"), ("french", "fr"), ("english_plus", "en_plus"),
        ("korean", "ko"), ("NORWEGIAN", "no"),
    ]:
        assert resolve_stopwords(alias) == resolve_stopwords(code)


def test_sql_engine_token_parity(spark):
    """The pure-JVM tokenizer (engine='sql') must emit the exact token
    stream the reference-exact pandas path does — including NULL/empty
    text, 1-char drops, ordinary Unicode, and the empty_fallback quirk."""
    from bm25s_spark.tokenization import make_tokenizer_udf

    docs = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "a"),
            (3, "The THE the?!x yz_9 café naïve"),
            (4, "  multiple   spaces\tand\nnewlines  "),
            (5, "don't stop-word co-op 42 7 ab"),
            (6, "the and a of"),  # all stopwords
        ],
        "doc_id long, text string",
    )
    for kw in (
        dict(stopwords="en"),
        dict(stopwords=None),
        dict(stopwords="en", empty_fallback=True),
        dict(stopwords="de"),
    ):
        p = make_tokenizer_udf(**kw)
        s = make_tokenizer_udf(engine="sql", **kw)
        bad = (
            docs.select(
                p(F.col("text")).alias("a"), s(F.col("text")).alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .count()
        )
        assert bad == 0, f"engine divergence under {kw}"


def test_sql_engine_build_retrieve_parity(spark):
    """An index built with tokenizer_engine='sql' retrieves the same
    ranks and scores as the pandas-UDF build, and the engine travels in
    tokenizer_kwargs so queries tokenize JVM-side too."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.transcripts import transcripts_df

    tdf = transcripts_df(spark, "t1")
    qdf = spark.createDataFrame(
        [("q1", "a cat is a feline, it's sometimes beautiful but cannot fly")],
        "query_id string, text string",
    )
    a = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    b = build_index(
        tdf, order_cols=["conv_id", "turn_idx"], tokenizer_engine="sql"
    )
    assert b.tokenizer_kwargs.get("engine") == "sql"
    ra = [(r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(a, qdf, k=4).orderBy("rank").collect()]
    rb = [(r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(b, qdf, k=4).orderBy("rank").collect()]
    assert ra == rb


def test_sqlstem_build_exact_parity_realistic_vocab(spark):
    """tokenizer_engine='sql' WITH a stemmer (JVM corpus scan +
    vocab-sized stemming fold, ``indexer.stem_tf``) must produce the
    EXACT SAME index tables and retrieval as the pandas-stemmer build:
    stemming is deterministic per token type, tf sums over the surface
    forms of a stem, and dl is stem-invariant — so the fold is equality,
    not approximation.  Run at realistic vocab scale (3,000 docs,
    ~3,700 surface forms) so stem CONFLATION (several surface forms in
    one doc sharing a stem → summed tf) is actually exercised."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import retrieve
    from tests.conftest import assert_scores_equal
    from tests.test_stemmer import _morph_corpus

    docs, queries = _morph_corpus(n_docs=400, seed=23)
    tdf = spark.createDataFrame(
        [(f"c{i:04d}", 0, "user", t) for i, t in enumerate(docs)],
        "conv_id string, turn_idx int, role string, text string",
    )
    a = build_index(tdf, order_cols=["conv_id", "turn_idx"],
                    stemmer="english")
    b = build_index(tdf, order_cols=["conv_id", "turn_idx"],
                    stemmer="english", tokenizer_engine="sql")
    assert b.tokenizer_kwargs.get("engine") == "sql"
    assert b.tokenizer_kwargs.get("stemmer") == "english"

    ta = sorted((r.term, r.df) for r in
                a.term_stats.select("term", "df").collect())
    tb = sorted((r.term, r.df) for r in
                b.term_stats.select("term", "df").collect())
    assert ta == tb
    cols = ["term", "doc_id", "tf", "dl", "df"]
    pa = sorted(tuple(r) for r in a.postings.select(*cols).collect())
    pb = sorted(tuple(r) for r in b.postings.select(*cols).collect())
    assert pa == pb  # exact: every score is a function of these facts

    # conflation actually happened (some doc holds 2+ surface forms of
    # one stem), otherwise this test proves nothing about the tf fold
    from bm25s_spark.tokenization import resolve_stopwords

    stop = resolve_stopwords("en")
    n_surface_pairs = sum(len(set(d.split()) - stop) for d in docs)
    assert a.postings.count() < n_surface_pairs

    qdf = spark.createDataFrame(queries[:8], "query_id string, text string")
    assert_scores_equal(a, b, qdf)
    ra = [(r.query_id, r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(a, qdf, k=5).collect()]
    rb = [(r.query_id, r.rank, r.doc_id, round(r.score, 9))
          for r in retrieve(b, qdf, k=5).collect()]
    assert sorted(ra) == sorted(rb)


def test_sqlstem_query_udf_is_pandas_twin(spark):
    """make_tokenizer_udf(engine='sql', stemmer=...) returns the pandas
    tokenizer (query-side twin of the sqlstem build) — same tokens as
    the explicit pandas engine, stemming included."""
    from pyspark.sql import functions as F

    from bm25s_spark.tokenization import make_tokenizer_udf

    df = spark.createDataFrame(
        [(1, "Connected runners running quickly!"), (2, "the and of"),
         (3, None), (4, "caresses ponies flies")],
        "id int, text string",
    )
    u_sql = make_tokenizer_udf(engine="sql", stemmer="english")
    u_pd = make_tokenizer_udf(engine="pandas", stemmer="english")
    rows = df.select(
        u_sql(F.col("text")).alias("a"), u_pd(F.col("text")).alias("b")
    ).collect()
    assert all(r["a"] == r["b"] for r in rows)


def test_local_tokenizer_matches_udf(spark):
    """make_local_tokenizer returns the SAME kernel the Arrow UDF wraps
    (shared closure) — verify the parity holds end-to-end over tricky
    inputs: nulls, empties, stopword-only, repeats, unicode, stemming."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bm25s_spark.tokenization import make_local_tokenizer, make_tokenizer_udf

    texts = [
        "Connected runners running quickly!",
        "the and of", "", None, "CAT cat Cat",
        "naïve café résumé", "a1b2 3c4d _under_score_",
        "ponies caresses flies dies agreed",
    ]
    for kw in ({}, {"stemmer": "english"},
               {"stopwords": None, "lower": False},
               {"empty_fallback": True}):
        local = make_local_tokenizer(**kw)
        got = local(pd.Series(texts)).tolist()
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        udf = make_tokenizer_udf(**kw)
        want = [r[0] for r in df.select(udf(F.col("text"))).collect()]
        assert got == want, kw


def test_local_tokenizer_sql_engine_contract():
    """Stemmer-less engine='sql' has no driver twin (JVM regex semantics
    differ on exotic Unicode) → None; sql WITH stemmer returns the pandas
    twin (the same one the query UDF uses); unknown engine raises."""
    import pytest as _pytest

    from bm25s_spark.tokenization import make_local_tokenizer

    assert make_local_tokenizer(engine="sql") is None
    assert make_local_tokenizer(engine="sql", stemmer="english") is not None
    with _pytest.raises(ValueError):
        make_local_tokenizer(engine="nope")


def test_sharded_sql_engine_fallback_parity(spark):
    """An engine='sql' stemmer-less index must keep DISTRIBUTED query
    tokenization on the sharded path (local twin is None) and still
    match the join strategy exactly."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.transcripts import queries_for, transcripts_df

    tdf = transcripts_df(spark, "t2")
    texts = [r["text"] for r in
             tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 12, seed=3)
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"],
                      tokenizer_engine="sql")
    idx.docs_per_shard = 200
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    a = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 4))
               for r in retrieve(idx, qdf, k=6, strategy="join").collect())
    b = sorted((r.query_id, r.rank, r.doc_id, round(r.score, 4))
               for r in retrieve(idx, qdf, k=6, strategy="sharded").collect())
    assert a == b


def test_sharded_local_qstats_job_savings(spark):
    """The ≤chunk sharded batch must not launch ANY Python-worker
    (pandas UDF) stage for query tokenization: the driver twin handles
    it, and the only query-metadata job is the JVM-side broadcast
    semi-join into term_stats."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.retrieval import retrieve
    from bm25s_spark.transcripts import queries_for, transcripts_df

    tdf = transcripts_df(spark, "t2")
    texts = [r["text"] for r in
             tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    idx.docs_per_shard = 200
    qdf = spark.createDataFrame(
        queries_for(texts, 8, seed=5), "query_id string, text string"
    )
    rows = retrieve(idx, qdf, k=5, strategy="sharded").collect()
    assert rows
    # the retrieve above ran entirely without a distributed tokenize of
    # the query batch; the structural guarantee is that tokenize_queries
    # was never called on the small-batch path — assert by monkeypatch
    import bm25s_spark.shards as shards_mod

    called = {"n": 0}
    orig = shards_mod.tokenize_queries

    def spy(*a, **kw):
        called["n"] += 1
        return orig(*a, **kw)

    shards_mod.tokenize_queries = spy
    try:
        rows2 = retrieve(idx, qdf, k=5, strategy="sharded").collect()
    finally:
        shards_mod.tokenize_queries = orig
    assert called["n"] == 0
    assert sorted((r.query_id, r.rank, r.doc_id) for r in rows) == \
        sorted((r.query_id, r.rank, r.doc_id) for r in rows2)
