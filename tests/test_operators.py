"""Behavioral tests for the training-pipeline operators (dedup,
similarity, text analysis, multimodal plumbing, incremental indexing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bm25s_spark.operators import dedup, similarity
from bm25s_spark.functions.text import (
    with_fingerprint, with_lang_id, with_quality, with_token_stats,
)
from bm25s_spark import multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "The  quick  brown fox jumps over the lazy dog"),        # ws/case dup of 0
        (3, "the quick brown fox jumps over the sleepy dog"),        # near dup
        (4, "completely different content about spark shuffles"),
        (5, "der hund und die katze sind nicht da"),                 # German
        (6, "le chat est dans la maison pour une heure"),            # French
        (7, ""),                                                     # empty
        (8, "spark spark spark spark spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").persist()


def test_exact_dedup(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["canonical_id"] == 0 and g["n_dupes"] == 3
    kept = dedup.deduplicate_exact(docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 3, 4, 5, 6, 7, 8]


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert 0.3 <= pairs[(0, 3)] < 1.0   # near-dup shares most shingles
    assert (0, 4) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    cand = {(r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_candidates(docs, 16, 4).collect()}
    assert (0, 1) in cand and (0, 2) in cand  # identical text always collides
    assert (0, 3) in cand                      # near dup: ≥1 band agrees
    pairs_04 = {(a, b) for a, b in cand if 4 in (a, b)}
    assert not pairs_04                        # unrelated docs don't collide


def test_simhash_near_dups(spark, docs):
    # default 64-bit signatures: both halves (seed-7 low 48, seed-8 high
    # 16) must agree between identical docs and discriminate random ones
    sig = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_signatures(docs).collect()}
    assert sig[0] == sig[1] == sig[2]
    ham03 = bin((sig[0] ^ sig[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham04 = bin((sig[0] ^ sig[4]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham03 < ham04
    # pigeonhole guarantee needs max_hamming < bands: with ham03 < 16
    # and 16 bands (4-bit chunks) the near-dup MUST collide in ≥1 band
    assert ham03 < 16
    near = {(r["doc_a"], r["doc_b"]) for r in
            dedup.simhash_near_duplicates(
                docs, max_hamming=ham03, bands=16
            ).collect()}
    assert (0, 3) in near
    # 48-bit signatures are the low half of the 64-bit ones (layout pin
    # for the persisted-gate compatibility)
    sig48 = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash_signatures(docs, bits=48).collect()}
    assert all(sig48[d] == sig[d] & 0xFFFFFFFFFFFF for d in sig48)


def test_simhash_hot_bucket_cap(spark, caplog):
    """A corpus with one hot (band, chunk) bucket (40 identical docs):
    max_bucket_size must bound candidate generation with a LOGGED drop,
    and pairs outside the hot bucket must survive."""
    import logging as _logging

    rows = [(i, "same boilerplate shell text repeated") for i in range(40)]
    rows += [(100, "alpha beta gamma delta unique one"),
             (101, "alpha beta gamma delta unique one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["doc_a"], r["doc_b"])
            for r in dedup.simhash_near_duplicates(df, max_hamming=0).collect()}
    assert (100, 101) in full
    assert len(full) == 40 * 39 // 2 + 1
    with caplog.at_level(
        _logging.WARNING, logger="bm25s_spark.operators.dedup"
    ):
        capped = {(r["doc_a"], r["doc_b"])
                  for r in dedup.simhash_near_duplicates(
                      df, max_hamming=0, max_bucket_size=10
                  ).collect()}
    assert "dropping" in caplog.text          # no silent caps
    assert capped == {(100, 101)}             # hot-bucket pairs gone, rest kept


def test_lsh_knn_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_knn(emb, qv, k=5)
    approx = similarity.lsh_knn(emb, qv, k=5, n_planes=8, multiprobe=1)
    b = {}
    for r in brute.collect():
        b.setdefault(r["query_id"], set()).add(r["vec_id"])
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(a.get(q, set()) & b[q]) / len(b[q]) for q in b]
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # rank 1 must be the vector itself (cosine 1.0) in both
    for r in brute.collect():
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]


def test_cosine_near_duplicates_banded_skew(spark, caplog):
    """One dense cluster (60 near-identical vectors) + 40 random: the
    banded pipeline must find the cluster's pairs, and max_bucket_size
    must drop oversized buckets with a LOGGED (never silent) count."""
    import logging

    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [
        (i, [float(x) for x in base + 0.01 * rng.standard_normal(64)])
        for i in range(60)
    ] + [
        (i, [float(x) for x in rng.standard_normal(64)])
        for i in range(60, 100)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_near_duplicates(
            emb, threshold=0.95, n_planes=32, bands=4
        ).collect()
    }
    # only true near-dups survive the exact filter, and banding recall on
    # cosine ≈ 0.9999 pairs is near-total (60*59/2 = 1770 max)
    assert all(a < 60 and b < 60 for a, b in got)
    assert len(got) > 1500

    with caplog.at_level(
        logging.WARNING, logger="bm25s_spark.operators.similarity"
    ):
        capped = {
            (r["vec_a"], r["vec_b"])
            for r in similarity.cosine_near_duplicates(
                emb, threshold=0.95, n_planes=32, bands=4, max_bucket_size=20
            ).collect()
        }
    assert "dropping" in caplog.text  # the no-silent-caps rule
    assert capped <= got
    assert len(capped) < len(got)


def test_lsh_multiprobe_complete_is_exact(spark):
    """multiprobe = n_planes probes every bucket → candidate coverage is
    complete by construction and the ANN equals brute force exactly (the
    property the correctness gate hash-checks at sf0.01)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = {tuple(r) for r in similarity.brute_force_knn(emb, qv, k=4).collect()}
    full = {
        tuple(r)
        for r in similarity.lsh_knn(
            emb, qv, k=4, n_planes=4, n_tables=2, multiprobe=4
        ).collect()
    }
    assert full == brute


def test_text_functions(spark, docs):
    stats = {r["doc_id"]: r for r in with_token_stats(docs).collect()}
    assert stats[0]["n_ws_tokens"] == 9
    assert stats[7]["n_ws_tokens"] == 0
    q = {r["doc_id"]: r for r in with_quality(docs).collect()}
    assert q[0]["stopword_ratio"] > 0.2
    assert q[8]["stopword_ratio"] == 0.0
    assert 0.0 <= q[0]["quality_score"] <= 1.0
    lang = {r["doc_id"]: r["lang_guess"] for r in with_lang_id(docs).collect()}
    assert lang[0] == "en" and lang[5] == "de" and lang[6] == "fr"
    assert lang[7] == "unk"
    fp = {r["doc_id"]: r for r in with_fingerprint(docs).collect()}
    assert fp[0]["fp_md5"] == fp[1]["fp_md5"] == fp[2]["fp_md5"]
    assert fp[0]["fp_md5"] != fp[3]["fp_md5"]
    assert fp[0]["fp_head"] == fp[3]["fp_head"]  # same first-5-token prefix


def test_repetition_signals(spark):
    from bm25s_spark.functions.text import with_repetition

    rows = [
        (0, "aa bb\naa bb\ncc dd"),   # one duplicated line, repeated 2-gram
        (1, ""),                      # empty doc
        (2, "hello"),                 # single word: no 2-grams
        (3, "x y x y x y"),           # dominated by one 2-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {row["doc_id"]: row for row in with_repetition(df).collect()}

    d0 = r[0]
    assert d0["n_lines"] == 3
    assert d0["dup_line_frac"] == pytest.approx(1 / 3)
    assert d0["dup_line_char_frac"] == pytest.approx(5 / 15)
    assert d0["dup_word_frac"] == pytest.approx(2 / 6)  # aa,bb each repeat once
    assert d0["top_2gram"] == "aa bb" and d0["top_2gram_cnt"] == 2
    assert d0["top_2gram_char_frac"] == pytest.approx(2 * 5 / len(rows[0][1]))
    # all 3-grams unique -> tie resolves to lexicographically smallest
    assert d0["top_3gram"] == "aa bb aa" and d0["top_3gram_cnt"] == 1

    d1 = r[1]
    assert d1["n_lines"] == 0 and d1["dup_line_frac"] == 0.0
    assert d1["dup_word_frac"] == 0.0
    assert d1["top_2gram"] == "" and d1["top_2gram_cnt"] == 0

    d2 = r[2]
    assert d2["top_2gram"] == "" and d2["top_2gram_cnt"] == 0

    d3 = r[3]
    assert d3["top_2gram"] == "x y" and d3["top_2gram_cnt"] == 3
    assert d3["dup_word_frac"] == pytest.approx(4 / 6)


def test_gopher_filter(spark):
    from bm25s_spark.functions.text import GOPHER_REQUIRED_WORDS, gopher_filter

    clean = "the quick method works with " + " ".join(
        f"unique{i:02d} token{i:02d}" for i in range(30)
    )
    rows = [
        (0, clean),                                  # survives every rule
        (1, "- alpha beta\n- gamma delta\n- epsilon zeta"),   # bullets
        (2, "alpha beta...\ngamma delta...\nepsilon zeta..."),  # ellipses
        (3, "### lots of symbols ### here ..."),     # symbol ratio
        (4, ""),                                     # empty: shape rules
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {row["doc_id"]: row for row in gopher_filter(df).collect()}

    assert r[0]["keep"] and r[0]["drop_reasons"] == []
    assert r[0]["n_words"] == 65
    assert r[0]["stop_word_hits"] == 2  # 'the', 'with'

    assert not r[1]["keep"] and "bullet_lines" in r[1]["drop_reasons"]
    assert r[1]["bullet_start_frac"] == 1.0
    # '-' counts as a non-alphabetic word too
    assert "alpha_words" in r[1]["drop_reasons"]

    assert not r[2]["keep"] and "ellipsis_lines" in r[2]["drop_reasons"]
    assert r[2]["ellipsis_end_frac"] == 1.0
    assert "bullet_lines" not in r[2]["drop_reasons"]

    assert "symbol_ratio" in r[3]["drop_reasons"]
    # '###' = 3 symbol hits x2 + '...' = 7 hits over 7 ws tokens
    assert r[3]["symbol_word_ratio"] == pytest.approx(7 / 7)

    # empty doc: failures surface in the fixed rule order
    assert r[4]["drop_reasons"] == [
        "word_count", "mean_word_length", "alpha_words", "stop_words"
    ]

    # thresholds are overridable: loosen until the bullet doc survives
    loose = {
        row["doc_id"]: row
        for row in gopher_filter(
            df,
            min_words=2,
            max_bullet_start_frac=1.0,
            min_alpha_word_frac=0.5,
            min_stop_word_hits=0,
            min_mean_word_len=1.0,
            max_top_2gram_char_frac=1.0,
            max_top_3gram_char_frac=1.0,
        ).collect()
    }
    assert loose[1]["keep"] and loose[1]["drop_reasons"] == []
    assert tuple(GOPHER_REQUIRED_WORDS)[:2] == ("the", "be")


def test_normalize_and_redact(spark):
    from bm25s_spark.functions.text import with_normalized, with_redacted

    rows = [
        (0, "  a\tb\x01c  "),
        (1, "visit https://x.com/a?b=1 mail joe.doe@ex.co id 1234567 ok 12345"),
        (2, "https://a.com/user@b.com rest"),  # email inside URL -> one <URL>
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    norm = {r["doc_id"]: r["text_norm"] for r in with_normalized(df).collect()}
    assert norm[0] == "a b c"
    low = with_normalized(df, lowercase=True).collect()
    assert {r["doc_id"]: r["text_norm"] for r in low}[0] == "a b c"

    red = {r["doc_id"]: r["text_redacted"] for r in with_redacted(df).collect()}
    assert red[1] == "visit <URL> mail <EMAIL> id <NUM> ok 12345"
    assert red[2] == "<URL> rest"  # URL masking runs first, no partial residue

    # knobs: digit masking off; custom output column
    keep = {r["doc_id"]: r["out"] for r in
            with_redacted(df, out_col="out", min_digits=None).collect()}
    assert "1234567" in keep[1]


def test_decontamination(spark):
    from bm25s_spark.operators import decontam

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon"),        # == bench example
            (2, "unrelated words entirely here today"),
            (3, "zz alpha beta gamma delta epsilon yy"),  # bench gram inside
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "bench_id long, text string"
    )

    rep = {r["doc_id"]: r for r in
           decontam.contamination_report(docs, bench, n=5).collect()}
    assert set(rep) == {0, 1, 3}
    assert all(r["n_shared_ngrams"] == 1 and r["n_bench_docs"] == 1
               for r in rep.values())

    kept = {r["doc_id"] for r in
            decontam.decontaminate(docs, bench, n=5).collect()}
    assert kept == {2}

    # min_hits above any doc's overlap -> nothing contaminated
    assert decontam.contamination_report(docs, bench, n=5, min_hits=2).count() == 0
    # shuffle-join fallback gives identical results
    rep2 = {r["doc_id"] for r in decontam.contamination_report(
        docs, bench, n=5, broadcast_benchmark=False).collect()}
    assert rep2 == {0, 1, 3}


def test_pack_sequences(spark):
    from bm25s_spark.operators.packing import pack_sequences, packing_stats

    lens = [50, 60, 30, 128, 5, 200, 10]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n_tokens int"
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, max_tokens=128, n_tokens_col="n_tokens", n_groups=1
        ).collect()
    }
    # greedy in doc_id order: [50,60]=110 | [30] (next would overflow but
    # 30 alone can't host 128) | [128] exactly full | [5] | [200] oversize
    # alone | [10]
    assert [(out[i]["seq"], out[i]["pos"]) for i in range(7)] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0)
    ]
    assert out[1]["seq_tokens"] == 110
    assert out[3]["seq_tokens"] == 128
    assert out[5]["seq_tokens"] == 200  # oversize doc owns its sequence

    stats = {
        (r["group"], r["seq"]): r
        for r in packing_stats(
            pack_sequences(df, 128, n_tokens_col="n_tokens", n_groups=1), 128
        ).collect()
    }
    g = next(iter(stats))[0]
    assert stats[(g, 0)]["n_docs"] == 2
    assert stats[(g, 2)]["fill_frac"] == pytest.approx(1.0)

    # text path counts whitespace tokens; content-stable across layouts
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(40)],
        "doc_id long, text string",
    )
    a = pack_sequences(docs, max_tokens=64, n_groups=4)
    b = pack_sequences(docs.repartition(7).sortWithinPartitions(F.desc("doc_id")),
                       max_tokens=64, n_groups=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.where(F.col("seq_tokens") > 64).count() == 0  # no doc >64 here

    with pytest.raises(ValueError):
        pack_sequences(docs, max_tokens=0)
    with pytest.raises(ValueError):
        pack_sequences(docs, max_tokens=10, n_groups=0)


def test_hash_split_and_sample(spark):
    from bm25s_spark.operators import sampling

    ids = spark.range(2000).withColumnRenamed("id", "doc_id")
    s = sampling.hash_split(ids, {"train": 8, "val": 1, "test": 1})
    counts = {r["split"]: r["n"] for r in
              s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert abs(counts["train"] - 1600) < 100   # md5-uniform +- ~5 sigma
    assert abs(counts["val"] - 200) < 60
    assert abs(counts["test"] - 200) < 60

    # content-stable: re-run and pre-normalized weights agree row-by-row
    s2 = sampling.hash_split(ids, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.exceptAll(s2).count() == 0 and s2.exceptAll(s).count() == 0
    # a different seed decorrelates
    s3 = sampling.hash_split(ids, {"train": 8, "val": 1, "test": 1}, seed="other")
    assert s.exceptAll(s3).count() > 0

    a30 = {r["doc_id"] for r in sampling.hash_sample(ids, 0.30).collect()}
    a50 = {r["doc_id"] for r in sampling.hash_sample(ids, 0.50).collect()}
    assert a30 <= a50                       # samples nest across fractions
    assert abs(len(a30) - 600) < 100 and abs(len(a50) - 1000) < 110
    assert sampling.hash_sample(ids, 0.0).count() == 0
    assert sampling.hash_sample(ids, 1.0).count() == 2000

    with pytest.raises(ValueError):
        sampling.hash_sample(ids, 1.5)
    with pytest.raises(ValueError):
        sampling.hash_split(ids, {})
    with pytest.raises(ValueError):
        sampling.hash_split(ids, {"a": -1.0, "b": 2.0})


def test_chunk_documents(spark):
    from bm25s_spark.operators.chunking import chunk_documents

    rows = [
        (0, " ".join(f"t{i}" for i in range(1, 11))),  # 10 tokens
        (1, "a b c"),                                   # fits one chunk
        (2, ""),                                        # zero tokens
        (3, "x  y\tz  w q"),                            # messy whitespace, 5 toks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=4, overlap=1)
    got = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}

    # doc 0: stride 3 -> ceil((10-1)/3) = 3 chunks, windows 1-4, 4-7, 7-10
    assert got[(0, 0)]["chunk_text"] == "t1 t2 t3 t4"
    assert got[(0, 1)]["chunk_text"] == "t4 t5 t6 t7"
    assert got[(0, 2)]["chunk_text"] == "t7 t8 t9 t10"
    assert all(got[(0, i)]["n_chunks"] == 3 for i in range(3))
    # doc 1: single chunk, shorter than the budget
    assert got[(1, 0)]["chunk_text"] == "a b c" and got[(1, 0)]["n_chunks"] == 1
    assert got[(1, 0)]["n_tokens"] == 3
    # doc 2: no rows at all
    assert not any(k[0] == 2 for k in got)
    # doc 3: \s+ tokenization -> 5 tokens -> 2 chunks, last is partial
    assert got[(3, 0)]["chunk_text"] == "x y z w"
    assert got[(3, 1)]["chunk_text"] == "w q" and got[(3, 1)]["n_tokens"] == 2

    # overlap=0 -> disjoint full coverage
    dj = chunk_documents(df.where(F.col("doc_id") == 0), chunk_size=4, overlap=0)
    texts = [r["chunk_text"] for r in dj.orderBy("chunk_id").collect()]
    assert " ".join(texts) == rows[0][1]

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0)


def test_dedup_lines(spark):
    rows = [
        (0, "alpha beta\nboiler plate\ngamma"),
        (1, "boiler plate\ndelta"),
        (2, "boiler plate\nboiler plate\nepsilon"),
        (3, "\n\n"),  # only empty pieces -> no output row
        (4, "zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {r["doc_id"]: r for r in dedup.dedup_lines(df).collect()}
    # keep="first": the globally-first occurrence (doc 0) survives
    assert out[0]["text"] == "alpha beta\nboiler plate\ngamma"
    assert out[0]["n_pieces"] == 3 and out[0]["n_kept"] == 3
    assert out[1]["text"] == "delta"
    assert out[1]["n_pieces"] == 2 and out[1]["n_kept"] == 1
    # doc 2's two copies are both non-first -> only epsilon remains
    assert out[2]["text"] == "epsilon" and out[2]["n_kept"] == 1
    assert 3 not in out
    assert out[4]["text"] == "zeta"

    # keep="none": every occurrence of a piece seen >= min_count dies,
    # including the first one
    none_out = {
        r["doc_id"]: r
        for r in dedup.dedup_lines(df, keep="none", min_count=2).collect()
    }
    assert none_out[0]["text"] == "alpha beta\ngamma"
    assert none_out[2]["text"] == "epsilon" and none_out[2]["n_kept"] == 1
    assert none_out[1]["text"] == "delta"

    with pytest.raises(ValueError):
        dedup.dedup_lines(df, keep="bogus")
    with pytest.raises(ValueError):
        dedup.dedup_lines(df, keep="none", min_count=1)


def test_dedup_chunk_windows(spark):
    rows = [
        (0, "a b c d e f"),
        (1, "a b c x y z"),  # first window duplicates doc 0's
        (2, "d e f"),        # entire doc is doc 0's second window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_chunk_windows(df, chunk_size=3).collect()
    }
    assert out[0]["text"] == "a b c d e f" and out[0]["n_kept"] == 2
    assert out[1]["text"] == "x y z" and out[1]["n_kept"] == 1
    # all pieces dropped -> row survives with empty text, not silence
    assert out[2]["text"] == "" and out[2]["n_pieces"] == 1
    assert out[2]["n_kept"] == 0


def test_stratified_hash_sample(spark):
    from bm25s_spark.operators.sampling import stratified_hash_sample

    df = spark.range(1500).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("stratum"),
    )
    kept = stratified_hash_sample(
        df, {"a": 1.0, "b": 0.4}, "stratum"
    ).groupBy("stratum").agg(F.count("*").alias("n")).collect()
    counts = {r["stratum"]: r["n"] for r in kept}
    assert counts["a"] == 500                      # fraction 1.0 keeps all
    assert abs(counts.get("b", 0) - 200) < 70      # 0.4 of 500, md5-uniform
    assert "c" not in counts                       # default_fraction 0.0

    # per-stratum nesting + determinism
    b20 = {r["doc_id"] for r in stratified_hash_sample(
        df, {"b": 0.2}, "stratum").collect()}
    b40 = {r["doc_id"] for r in stratified_hash_sample(
        df, {"b": 0.4}, "stratum").collect()}
    assert b20 <= b40
    assert b40 == {r["doc_id"] for r in stratified_hash_sample(
        df, {"b": 0.4}, "stratum").collect()}

    with pytest.raises(ValueError):
        stratified_hash_sample(df, {"a": 1.5}, "stratum")
    with pytest.raises(ValueError):
        stratified_hash_sample(df, {"a": 1.0}, "stratum", default_fraction=-0.1)


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=30)
    feats = multimodal.extract_features(media, dim=16).collect()
    assert len(feats) == 30
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic: same payload → same digest/feature across runs
    feats2 = {r["media_id"]: r for r in
              multimodal.extract_features(media, dim=16).collect()}
    assert by_id[0]["digest"] == feats2[0]["digest"]
    assert by_id[0]["feature"] == feats2[0]["feature"]
    plan = multimodal.frame_sample_plan(media, every_ms=500)
    rows = plan.groupBy("media_id").count().collect()
    assert all(r["count"] >= 2 for r in rows)
    # executors wrap the stub's NotImplementedError in a PythonException
    with pytest.raises(Exception, match="stubbed in this environment"):
        multimodal.extract_features(media, decoder="librosa").collect()


def test_incremental_indexer(spark, tmp_path):
    """Two micro-batches ingested incrementally == one batch build, and
    matches the reference oracle on the full corpus."""
    from bm25s_spark.streaming.incremental import IncrementalIndexer
    from bm25s_spark.transcripts import ANIMAL_CORPUS
    from tests.conftest import assert_rank_identical, import_ref_bm25s, ref_topk

    rows = [(f"conv-{i:06d}", 0, "user", t, "", None) for i, t in enumerate(ANIMAL_CORPUS)]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    inc = IncrementalIndexer(spark, str(tmp_path / "inc"))
    inc.process_batch(spark.createDataFrame(rows[:2], schema), 0)
    inc.process_batch(spark.createDataFrame(rows[2:], schema), 1)
    idx = inc.to_index()
    assert idx.num_docs == 4
    qdf = spark.createDataFrame(
        [("q-0000", "a cat is a feline, it's sometimes beautiful but cannot fly")],
        "query_id string, text string",
    )
    ours = [r.asDict() for r in idx.retrieve(qdf, k=2).collect()]
    ref_bm25s = import_ref_bm25s()
    docs_r, scores_r = ref_topk(ref_bm25s, ANIMAL_CORPUS, [qdf.collect()[0]["text"]], 2)
    assert_rank_identical(ours, docs_r, scores_r)


def test_incremental_vocab_modes(spark, tmp_path):
    from bm25s_spark.streaming.incremental import IncrementalIndexer

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    b1 = spark.createDataFrame(
        [("c0", 0, "user", "alpha beta gamma", "", None)], schema
    )
    b2 = spark.createDataFrame(
        [("c1", 0, "user", "beta delta epsilon", "", None)], schema
    )
    # update_vocab=if_empty: batch 1 bootstraps the vocab, later batches'
    # out-of-vocab terms are dropped (reference streaming_tokenize modes,
    # reference/bm25s/tokenization.py:273-365)
    inc = IncrementalIndexer(spark, str(tmp_path / "nv"), update_vocab="if_empty")
    inc.process_batch(b1, 0)
    inc.process_batch(b2, 1)
    vocab = {r["term"] for r in inc.vocab().collect()}
    assert vocab == {"alpha", "beta", "gamma"}
    terms = {r["term"] for r in
             spark.read.parquet(str(tmp_path / "nv" / "raw_postings")).collect()}
    assert "delta" not in terms and "beta" in terms
    # update_vocab=never with no existing vocab: everything is OOV and
    # dropped — the reference's strict 'never' semantics
    inc0 = IncrementalIndexer(spark, str(tmp_path / "strict"), update_vocab="never")
    inc0.process_batch(b1, 0)
    assert inc0.vocab() is None
    assert spark.read.parquet(str(tmp_path / "strict" / "raw_postings")).count() == 0
    # update_vocab=True: vocab grows
    inc2 = IncrementalIndexer(spark, str(tmp_path / "uv"), update_vocab=True)
    inc2.process_batch(b1, 0)
    inc2.process_batch(b2, 1)
    vocab2 = {r["term"] for r in inc2.vocab().collect()}
    assert {"alpha", "beta", "gamma", "delta", "epsilon"} <= vocab2


def test_pretokenized_paths(spark):
    """Index built from pre-tokenized input (token arrays, or token ids +
    vocab — reference __init__.py:517-560) must equal the text-path build."""
    from pyspark.sql import functions as F

    from bm25s_spark.indexer import (
        build_index, build_index_from_token_ids, build_index_from_tokens,
    )
    from bm25s_spark.tokenization import tokenize
    from bm25s_spark.transcripts import queries_for, transcripts_df

    tdf = transcripts_df(spark, "t2").persist()
    texts = [r["text"] for r in
             tdf.orderBy("conv_id", "turn_idx").select("text").collect()]
    queries = queries_for(texts, 10, seed=9)
    qdf = spark.createDataFrame(queries, "query_id string, text string")

    def norm(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], round(r["score"], 4))
            )
        return {q: sorted(v) for q, v in out.items()}

    idx_text = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    base = norm(idx_text.retrieve(qdf, k=8))

    tok_df = tokenize(tdf)
    idx_tok = build_index_from_tokens(
        tok_df, order_cols=["conv_id", "turn_idx"],
        query_tokenizer_kwargs=dict(stopwords="en"),
    )
    assert idx_tok.num_docs == idx_text.num_docs
    assert abs(idx_tok.avg_doc_len - idx_text.avg_doc_len) < 1e-9
    assert norm(idx_tok.retrieve(qdf, k=8)) == base

    # token-ids + vocab input
    vocab = idx_text.term_stats.select("term", "term_id").where(F.col("term") != "")
    ids_df = (
        tok_df.select(
            "conv_id", "turn_idx", F.posexplode_outer("tokens").alias("pos", "term")
        )
        .join(vocab, "term", "left")
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", F.col("term_id").alias("tid")))
            ).alias("ps")
        )
        .select(
            "conv_id", "turn_idx",
            F.filter(
                F.transform("ps", lambda s: s["tid"]), lambda x: x.isNotNull()
            ).alias("token_ids"),
        )
    )
    idx_ids = build_index_from_token_ids(
        ids_df, vocab, order_cols=["conv_id", "turn_idx"],
        query_tokenizer_kwargs=dict(stopwords="en"),
    )
    assert idx_ids.num_docs == idx_text.num_docs
    assert norm(idx_ids.retrieve(qdf, k=8)) == base


def test_pretokenized_queries(spark):
    """retrieve() accepts pre-tokenized queries (array<string> text col),
    matching the text-query path (reference __init__.py:759-803)."""
    from bm25s_spark.indexer import build_index
    from bm25s_spark.tokenization import make_tokenizer_udf
    from bm25s_spark.transcripts import transcripts_df

    tdf = transcripts_df(spark, "t1")
    idx = build_index(tdf, order_cols=["conv_id", "turn_idx"])
    qdf = spark.createDataFrame(
        [("q0", "the cat is a feline"), ("q1", "dog bird fish")],
        "query_id string, text string",
    )
    udf = make_tokenizer_udf(stopwords="en")
    qtok = qdf.select("query_id", udf(F.col("text")).alias("text"))
    a = sorted(tuple(r) for r in idx.retrieve(qdf, k=2).collect())
    b = sorted(tuple(r) for r in idx.retrieve(qtok, k=2).collect())
    assert a == b


def test_incremental_streaming_attach(spark, tmp_path):
    """The actual writeStream wiring: a parquet file source streamed with
    availableNow through attach() must produce the same index tables as
    direct process_batch calls."""
    from bm25s_spark.streaming.incremental import IncrementalIndexer

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows = [
        ("c0", 0, "user", "streams are tables in disguise", "", None),
        ("c0", 1, "assistant", "tables are streams at rest", "", None),
        ("c1", 0, "user", "exactly once is a lie told twice", "", None),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    inc = IncrementalIndexer(spark, str(tmp_path / "inc"))
    stream = spark.readStream.schema(schema).parquet(src)
    q = inc.attach(stream, checkpoint=str(tmp_path / "ckpt"), trigger_once=True)
    q.awaitTermination(120)
    assert not q.isActive

    idx = inc.to_index()
    assert idx.num_docs == 3
    qdf = spark.createDataFrame(
        [("q0", "streams tables")], "query_id string, text string"
    )
    res = idx.retrieve(qdf, k=2).collect()
    assert [r["doc_id"] for r in sorted(res, key=lambda r: r["rank"])][0] in (0, 1)
    # restart with the same checkpoint: availableNow re-trigger must be a
    # no-op (no new files), not a double ingest
    q2 = inc.attach(spark.readStream.schema(schema).parquet(src),
                    checkpoint=str(tmp_path / "ckpt"), trigger_once=True)
    q2.awaitTermination(120)
    assert inc.to_index().num_docs == 3


def test_ivf_knn_recall(spark):
    """IVF coarse quantizer: recall vs brute force at modest n_probe, and
    full recall when probing every cell; deterministic across runs."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_knn(emb, qv, k=5)
    b = {}
    for r in brute.collect():
        b.setdefault(r["query_id"], set()).add(r["vec_id"])

    approx = similarity.ivf_knn(emb, qv, k=5, n_centroids=16, n_probe=4)
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(a.get(q, set()) & b[q]) / len(b[q]) for q in b]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

    # probing all cells == exact
    full = similarity.ivf_knn(emb, qv, k=5, n_centroids=16, n_probe=16)
    f = {}
    for r in full.collect():
        f.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert f == b

    again = {tuple(r) for r in similarity.ivf_knn(
        emb, qv, k=5, n_centroids=16, n_probe=4).collect()}
    assert again == {tuple(r) for r in approx.collect()}


def test_multimodal_numpy_codecs():
    """Pure-NumPy PPM/WAV round-trips (no Spark, no external codecs)."""
    import numpy as np

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (multimodal.decode_ppm(multimodal.encode_ppm(img)) == img).all()
    # header grammar: comments + flexible whitespace
    manual = b"P6\n# a comment\n 3  2\n255\n" + bytes(range(18))
    dec = multimodal.decode_ppm(manual)
    assert dec.shape == (2, 3, 3) and dec[0, 0, 0] == 0 and dec[1, 2, 2] == 17

    t = np.arange(1600) / 8000.0
    samples = 0.25 * np.sin(2 * np.pi * 440 * t)
    rate, back = multimodal.decode_wav(multimodal.encode_wav(samples, 8000))
    assert rate == 8000
    assert np.allclose(back, samples, atol=1e-3)

    big = multimodal.resize_image(img, 10, 14)
    assert big.shape == (10, 14, 3)
    # nearest-neighbor: every output pixel is an input pixel
    assert (big[0, 0] == img[0, 0]).all()

    with pytest.raises(NotImplementedError):
        multimodal._numpy_decode(b"anything", "video", 8)
    with pytest.raises(ValueError):
        multimodal.decode_ppm(b"JFIF....")
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"OggS....")


def test_multimodal_numpy_decode_spark(spark):
    """The real bytes→tensor path through the same mapInPandas plumbing:
    encoded PPM/WAV payloads decode on executors, features are
    deterministic and shaped."""
    import numpy as np

    media = multimodal.synthetic_decodable_media(spark, n=20)
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_features(media, dim=16, decoder="numpy").collect()
    }
    assert len(rows) == 20
    for r in rows.values():
        assert len(r["feature"]) == 16
    img_feats = [rows[i]["feature"] for i in range(0, 20, 2)]
    assert all(0.0 <= v <= 1.0 for f in img_feats for v in f)
    # sine audio at amplitude 0.5 → frame RMS ≈ 0.35 everywhere
    aud = np.array(rows[1]["feature"])
    assert np.allclose(aud, 0.5 / np.sqrt(2), atol=0.05)
    again = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(media, dim=16, decoder="numpy").collect()
    }
    assert all(again[i] == rows[i]["feature"] for i in rows)


def test_sessionize_gap_semantics(spark):
    """Hand-built fixture: gap boundaries, equal-timestamp tiebreak, and
    per-user independence."""
    import datetime as dt

    from bm25s_spark.operators.events import session_summary, sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def at(minutes, seconds=0):
        return t0 + dt.timedelta(minutes=minutes, seconds=seconds)

    rows = [
        # user 1: two sessions split by a 31-min gap; 30:00 exactly is NOT a boundary
        (0, at(0), 1, "a", 1.0),
        (1, at(10), 1, "a", 2.0),
        (2, at(40), 1, "a", 3.0),     # 30:00 gap exactly → same session
        (3, at(71), 1, "a", 4.0),     # 31:00 gap → new session
        # user 2: equal timestamps ordered by event_id
        (4, at(0), 2, "b", 1.0),
        (5, at(0), 2, "b", 1.0),
        (6, at(100), 2, "b", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    s = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert s[(1, 0)] == s[(1, 1)] == s[(1, 2)] == 1
    assert s[(1, 3)] == 2
    assert s[(2, 4)] == s[(2, 5)] == 1 and s[(2, 6)] == 2

    summ = {
        (r["user_id"], r["session_idx"]): r
        for r in session_summary(ev, gap_minutes=30).collect()
    }
    assert summ[(1, 1)]["n_events"] == 3
    assert summ[(1, 1)]["sum_value"] == 6.0
    assert summ[(1, 1)]["duration_us"] == 40 * 60 * 1_000_000
    assert summ[(1, 2)]["n_events"] == 1 and summ[(1, 2)]["duration_us"] == 0


def test_windowed_rollup_stream_batch_parity(spark, tmp_path):
    """The SAME windowed_event_rollup body over a parquet stream
    (complete mode, availableNow) must equal the batch computation on
    identical input — batch/stream parity by construction."""
    import datetime as dt

    from bm25s_spark.streaming.windows import windowed_event_rollup

    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2026, 3, 1, 10, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(minutes=7 * i), ["click", "view"][i % 2], float(i))
        for i in range(40)
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, schema).write.parquet(src)

    batch = {
        (r["window_start"], r["window_end"], r["event_type"]):
            (r["n_events"], r["sum_value"])
        for r in windowed_event_rollup(
            spark.read.parquet(src), window="30 minutes"
        ).collect()
    }
    assert len(batch) > 4

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        windowed_event_rollup(stream, window="30 minutes", watermark="1 hour")
        .writeStream.format("memory").queryName("winroll")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    streamed = {
        (r["window_start"], r["window_end"], r["event_type"]):
            (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM winroll").collect()
    }
    assert streamed == batch


def test_windowed_rollup_watermark_drops_late(spark, tmp_path):
    """Append mode + watermark: a row arriving in a later micro-batch,
    older than max(event_time) - watermark, is dropped; on-time windows
    are emitted exactly once."""
    import datetime as dt

    from bm25s_spark.streaming.windows import windowed_event_rollup

    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2026, 3, 1, 10, 0, 0)
    src = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: events spanning 3 hours — the watermark advances to
    # max(ts) - 10 minutes = 12:50
    rows1 = [
        (i, t0 + dt.timedelta(minutes=20 * i), "click", 1.0) for i in range(10)
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            windowed_event_rollup(stream, window="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_once()
    # batch 2: one LATE row (10:05, far behind the 12:50 watermark) and
    # one on-time row advancing the clock
    rows2 = [
        (100, t0 + dt.timedelta(minutes=5), "click", 99.0),        # late → dropped
        (101, t0 + dt.timedelta(minutes=260), "click", 1.0),       # on time
    ]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).collect()
    by_window = {(r["window_start"], r["event_type"]): r for r in got}
    # the late row's window (10:00-10:30) was already finalized with only
    # the on-time events; value 99.0 must appear nowhere
    w0 = by_window[(t0, "click")]
    assert w0["n_events"] == 2 and w0["sum_value"] == 2.0  # events 0 (10:00) + 1 (10:20)
    assert all(r["sum_value"] < 99.0 for r in got)


def test_session_window_stream_batch_parity(spark, tmp_path):
    """The SAME session_window_rollup body over a parquet stream
    (complete mode, availableNow) must equal the batch computation; on
    off-boundary input (no exact-gap deltas) both must also agree with
    the batch lag-based session_summary on (user, start, end, n, sum) —
    the semantic overlap where the two operators are interchangeable."""
    import datetime as dt

    from bm25s_spark.operators.events import session_summary
    from bm25s_spark.streaming.sessions import session_window_rollup

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2026, 4, 1, 9, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: sessions [0..20] and [65..70] (45-min gap > 30)
        (0, at(0), 1, 1.0), (1, at(10), 1, 2.0), (2, at(20), 1, 3.0),
        (3, at(65), 1, 4.0), (4, at(70), 1, 5.0),
        # user 2: one long session with sub-gap spacing
        (5, at(5), 2, 1.0), (6, at(25), 2, 1.0), (7, at(45), 2, 1.0),
        # user 3: singleton
        (8, at(200), 3, 7.0),
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, schema).write.parquet(src)

    def key(rws):
        return {
            (r["user_id"], r["session_start"], r["session_end"]):
                (r["n_events"], r["sum_value"])
            for r in rws
        }

    batch = key(session_window_rollup(
        spark.read.parquet(src), gap="30 minutes"
    ).collect())
    assert len(batch) == 4

    # cross-operator agreement on off-boundary input
    lag_based = key(session_summary(
        spark.read.parquet(src), gap_minutes=30
    ).collect())
    assert lag_based == batch

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        session_window_rollup(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory").queryName("sessroll")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    streamed = key(spark.sql("SELECT * FROM sessroll").collect())
    assert streamed == batch


def test_session_window_gap_boundary_semantics(spark):
    """Boundary pin: an event at EXACTLY the gap merges in BOTH
    operators (session_window's [t, t+gap] extent is end-inclusive,
    matching the lag-based '> gap starts a session' rule); one
    microsecond past the gap splits in both."""
    import datetime as dt

    from bm25s_spark.operators.events import session_summary
    from bm25s_spark.streaming.sessions import session_window_rollup

    t0 = dt.datetime(2026, 4, 1, 9, 0, 0)
    at_gap = spark.createDataFrame(
        [(0, t0, 1, 1.0), (1, t0 + dt.timedelta(minutes=30), 1, 1.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    assert session_summary(at_gap, gap_minutes=30).count() == 1
    assert session_window_rollup(at_gap, gap="30 minutes").count() == 1

    past_gap = spark.createDataFrame(
        [(0, t0, 1, 1.0),
         (1, t0 + dt.timedelta(minutes=30, microseconds=1), 1, 1.0)],
        "event_id long, ts timestamp, user_id long, value double",
    )
    assert session_summary(past_gap, gap_minutes=30).count() == 2
    assert session_window_rollup(past_gap, gap="30 minutes").count() == 2


def test_session_window_watermark_drops_late(spark, tmp_path):
    """Append mode + watermark: a session entirely behind the watermark
    is finalized exactly once; a late event for it arriving in a later
    micro-batch is dropped, never reopening the session."""
    import datetime as dt

    from bm25s_spark.streaming.sessions import session_window_rollup

    schema = "event_id long, ts timestamp, user_id long, value double"
    t0 = dt.datetime(2026, 4, 1, 9, 0, 0)
    src = str(tmp_path / "events")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: a 2-event session at 9:00-9:05, then activity advancing
    # the watermark to max(ts) - 10 min = 12:50 — far past that session
    rows1 = [(0, t0, 1, 1.0), (1, t0 + dt.timedelta(minutes=5), 1, 2.0)]
    rows1 += [
        (10 + i, t0 + dt.timedelta(minutes=180 + i), 2, 1.0) for i in range(60)
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            session_window_rollup(stream, gap="30 minutes", watermark="10 minutes")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    run_once()
    # batch 2: one LATE event (9:10, inside the finalized session's gap
    # but far behind the 12:50 watermark) + one on-time event
    rows2 = [(100, t0 + dt.timedelta(minutes=10), 1, 99.0),
             (101, t0 + dt.timedelta(minutes=400), 2, 1.0)]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out).collect()
    u1 = [r for r in got if r["user_id"] == 1]
    assert len(u1) == 1
    assert u1[0]["n_events"] == 2 and u1[0]["sum_value"] == 3.0
    assert all(r["sum_value"] < 99.0 for r in got)


def test_conversation_rollup(spark):
    from bm25s_spark.transcripts import conversation_rollup

    rows = [
        ("c1", 1, "assistant", "world"),
        ("c1", 0, "user", "hello"),
        ("c1", 2, "tool", "result"),
        ("c2", 0, "user", "solo"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r["conv_id"]: r for r in conversation_rollup(t).collect()}
    # turn order restored despite shuffled input
    assert out["c1"]["conv_text"] == "hello world result"
    assert out["c1"]["n_turns"] == 3
    assert out["c1"]["n_user_turns"] == 1
    assert out["c1"]["n_assistant_turns"] == 1
    assert out["c1"]["n_chars"] == len("hello") + len("world") + len("result")
    assert out["c1"]["first_turn"] == 0 and out["c1"]["last_turn"] == 2
    assert out["c2"]["conv_text"] == "solo" and out["c2"]["n_turns"] == 1


def test_duplicate_components(spark):
    """Chain + separate triangle + isolated pair: large-star/small-star
    must find the transitive components; a LONG chain (the O(diameter)
    killer for label propagation) must converge within O(log n) rounds;
    and genuinely exhausted max_iter must raise, never return silently
    wrong components."""
    import math

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain → component 1
         (10, 11), (11, 12), (10, 12),    # triangle → component 10
         (20, 21)],                        # pair → component 20
        "doc_a long, doc_b long",
    )
    comp = {r["doc_id"]: r["component"]
            for r in dedup.duplicate_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                    10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}

    # 200-node chain: diameter 199 ≫ 25 would break label propagation;
    # star alternation must converge in ≤ 2·log2(n) + 3 rounds
    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    info: dict = {}
    comp = {r["doc_id"]: r["component"]
            for r in dedup.duplicate_components(chain, info=info).collect()}
    assert comp == {i: 0 for i in range(n)}
    assert info["rounds"] <= 2 * math.ceil(math.log2(n)) + 3, info

    with pytest.raises(RuntimeError, match="converge"):
        dedup.duplicate_components(chain, max_iter=1)

    # self-pairs carry no connectivity but their nodes are still labeled
    selfp = spark.createDataFrame(
        [(5, 5), (7, 8)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["component"]
            for r in dedup.duplicate_components(selfp).collect()}
    assert comp == {5: 5, 7: 7, 8: 7}


def test_deduplicate_near_end_to_end(spark, docs):
    """MinHash pairs → components → keep lowest id per cluster; docs
    without near-dups untouched."""
    kept = sorted(
        r["doc_id"] for r in dedup.deduplicate_near(docs, num_hashes=16).collect()
    )
    # 0/1/2 identical (keep 0); 3 near-dups with them (LSH bands catch it
    # → same cluster); 4-8 unique
    assert 0 in kept
    assert not {1, 2} & set(kept)
    assert {4, 5, 6, 7, 8} <= set(kept)


def test_streaming_dedup_batch_stream_parity(spark, tmp_path):
    """streaming_deduplicate over a parquet stream (append, availableNow)
    must keep the same content-key set as the batch path on identical
    input — and exactly one row per distinct key."""
    import datetime as dt

    from bm25s_spark.streaming.dedup import streaming_deduplicate

    schema = "doc_id long, ts timestamp, text string"
    t0 = dt.datetime(2026, 3, 1, 10, 0, 0)
    texts = ["alpha beta", "  Alpha   BETA ", "gamma delta", "epsilon", "gamma delta"]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), texts[i % len(texts)])
        for i in range(25)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).write.parquet(src)

    batch = streaming_deduplicate(spark.read.parquet(src)).collect()
    batch_keys = {r["dedup_key"] for r in batch}
    # 'alpha beta' and its messy-case twin normalize to ONE key
    assert len(batch) == len(batch_keys) == 3

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_deduplicate(stream, watermark="1 hour")
        .writeStream.format("memory").queryName("sdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    streamed = spark.sql("SELECT * FROM sdedup").collect()
    assert {r["dedup_key"] for r in streamed} == batch_keys
    assert len(streamed) == 3

    # explicit-column dedup path: no derived key column appended
    byid = streaming_deduplicate(
        spark.read.parquet(src), key_cols=("text",)
    )
    assert "dedup_key" not in byid.columns
    assert byid.count() == 4  # case/whitespace twins stay distinct


def test_streaming_dedup_state_eviction(spark, tmp_path):
    """A duplicate arriving within the watermark of its first occurrence
    is dropped; after the first occurrence's state expired, the same key
    is emitted again — the bounded-state contract."""
    import datetime as dt

    from bm25s_spark.streaming.dedup import streaming_deduplicate

    schema = "doc_id long, ts timestamp, text string"
    t0 = dt.datetime(2026, 3, 1, 10, 0, 0)
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_deduplicate(stream, watermark="10 minutes")
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    # batch 1: key A twice within 10 min (second dropped) + a clock row
    rows1 = [
        (0, t0, "dup me"),
        (1, t0 + dt.timedelta(minutes=5), "dup me"),
        (2, t0 + dt.timedelta(minutes=30), "other"),
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    run_once()
    first = spark.read.parquet(out).collect()
    assert sum(r["text"] == "dup me" for r in first) == 1

    # batch 2: same key, 3 hours later — state long evicted → re-emitted
    rows2 = [(3, t0 + dt.timedelta(hours=3), "dup me")]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)
    run_once()
    again = spark.read.parquet(out).collect()
    assert sum(r["text"] == "dup me" for r in again) == 2


def test_crlf_and_null_robustness(spark):
    """Review regressions: CRLF text must not leave '\\r' remnant lines
    (false dup-lines, dead ellipsis rule); null text must not disable the
    packing budget; min_digits=0 must be rejected; streaming dedup keys
    must equal batch fingerprints by construction."""
    from bm25s_spark.functions.text import (
        gopher_filter, with_fingerprint, with_redacted, with_repetition,
    )
    from bm25s_spark.operators.packing import pack_sequences
    from bm25s_spark.streaming.dedup import content_key

    # CRLF: 2 real lines + blank CRLF lines; LF twin must agree
    crlf = "line one...\r\n\r\nline two...\r\n"
    lf = "line one...\n\nline two...\n"
    df = spark.createDataFrame(
        [(0, crlf), (1, lf)], "doc_id long, text string"
    )
    rep = {r["doc_id"]: r for r in with_repetition(df).collect()}
    assert rep[0]["n_lines"] == rep[1]["n_lines"] == 2
    assert rep[0]["dup_line_frac"] == 0.0
    gop = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert gop[0]["ellipsis_end_frac"] == 1.0 == gop[1]["ellipsis_end_frac"]

    # null text: packs as 0 tokens, budget still enforced for the rest
    lens = spark.createDataFrame(
        [(0, "w " * 30), (1, None), (2, "w " * 30), (3, "w " * 30)],
        "doc_id long, text string",
    )
    packed = pack_sequences(lens, max_tokens=32, n_groups=1).collect()
    assert {r["doc_id"]: r["n_tokens"] for r in packed}[1] == 0
    assert all(r["seq_tokens"] <= 32 for r in packed)

    # string ids survive the Arrow boundary
    sids = spark.createDataFrame(
        [("u1", "a b c"), ("u2", "d e f")], "doc_id string, text string"
    )
    srows = pack_sequences(sids, max_tokens=4, n_groups=1).collect()
    assert {r["doc_id"] for r in srows} == {"u1", "u2"}

    with pytest.raises(ValueError):
        with_redacted(df, min_digits=0)

    # one shared content identity: dedup key == fp_md5
    both = with_fingerprint(df.where("text IS NOT NULL")).withColumn(
        "dk", content_key()
    )
    assert both.where(F.col("dk") != F.col("fp_md5")).count() == 0


def test_asof_join_semantics(spark):
    """Backward/forward direction, equal-ts tie inclusion, tolerance
    nulling, unmatched-left nulls, multi-key isolation."""
    import datetime as dt

    from bm25s_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2026, 1, 1, 10, m, 0)
    left = spark.createDataFrame(
        [(1, t(10), "u"), (2, t(20), "u"), (3, t(5), "v"), (4, t(0), "w")],
        "lid long, ts timestamp, user string",
    )
    right = spark.createDataFrame(
        # u: candidates at 10:08, 10:20 (exact tie with lid=2), 10:25
        # v: only at 10:30 (after lid=3) ; w: none
        [(100, t(8), "u"), (101, t(20), "u"), (102, t(25), "u"),
         (200, t(30), "v")],
        "rid long, ts timestamp, user string",
    )
    back = {r["lid"]: r["rid_right"] for r in asof_join(
        left, right, on="ts", by=["user"], right_cols=["rid"]
    ).collect()}
    assert back == {1: 100, 2: 101, 3: None, 4: None}  # tie at 10:20 matches

    fwd = {r["lid"]: r["rid_right"] for r in asof_join(
        left, right, on="ts", by=["user"], right_cols=["rid"],
        direction="forward",
    ).collect()}
    assert fwd == {1: 101, 2: 101, 3: 200, 4: None}

    # tolerance: lid=1's nearest-backward match (10:08) is 120s away
    tol = {r["lid"]: r["rid_right"] for r in asof_join(
        left, right, on="ts", by=["user"], right_cols=["rid"],
        tolerance_us=60_000_000,
    ).collect()}
    assert tol == {1: None, 2: 101, 3: None, 4: None}

    with pytest.raises(ValueError):
        asof_join(left, right, direction="sideways")
    with pytest.raises(ValueError):
        asof_join(left, right, tolerance_us=-1)


def test_curate_corpus_pipeline(spark):
    """Stage composition + stats: filter drops junk, dedup keeps lowest
    id, decontamination removes benchmark-overlapping docs, split labels
    the survivors; every stage is individually toggleable."""
    from bm25s_spark.operators.curate import curate_corpus

    good = ("the quick method works with plenty of words here to pass "
            + " ".join(f"tok{i:02d} filler{i:02d}" for i in range(25)))
    rows = [
        (0, good),                   # survives
        (1, good),                   # exact dup of 0 → dropped by dedup
        (2, "short junk"),           # dropped by quality (word_count)
        (3, good + " extra suffix marker"),  # survives (distinct content)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, good[:60])], "bench_id long, text string"
    )

    stats: dict = {}
    out = curate_corpus(
        docs, dedup="exact", benchmark=bench,
        decontam_kwargs=dict(n=5, min_hits=1),
        splits={"train": 1.0}, stats=stats,
    )
    rows_out = out.collect()
    # doc 0/1/3 share the benchmark's opening 5-gram → all decontaminated
    assert stats == {
        "input": 4, "after_quality": 3, "after_dedup": 2, "after_decontam": 0,
    }
    assert rows_out == []

    # without the benchmark, the survivors get split labels
    out2 = curate_corpus(docs, dedup="exact", splits={"train": 1.0}).collect()
    assert sorted(r["doc_id"] for r in out2) == [0, 3]
    assert all(r["split"] == "train" for r in out2)
    assert set(out2[0].asDict()) == {"doc_id", "text", "split"}

    # all stages off = identity
    assert curate_corpus(docs, quality=False, dedup=None).count() == 4

    with pytest.raises(ValueError):
        curate_corpus(docs, dedup="fuzzy")


# ---------------------------------------------------------------------------
# int8 scalar quantization + quantized kNN
# ---------------------------------------------------------------------------

def test_quantize_embeddings_values(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    v = rng.standard_normal(16)
    rows = [(0, [float(x) for x in v]), (1, [0.0] * 16)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(emb).collect()}

    s = max(abs(v)) / 127.0
    expect = np.clip(np.floor(v / s + 0.5), -127, 127).astype(int)
    assert list(out[0]["qvec"]) == list(expect)
    assert abs(out[0]["qscale"] - s) < 1e-15
    # zero vector: scale 1, all-zero code (no NaN/ANSI division)
    assert out[1]["qscale"] == 1.0
    assert all(x == 0 for x in out[1]["qvec"])
    # stored as tinyint (the 4x-vs-float32 storage claim is real)
    field = dict(
        (f.name, f.dataType.simpleString())
        for f in similarity.quantize_embeddings(emb).schema.fields
    )
    assert field["qvec"] == "array<tinyint>"


def test_quantized_knn_rescore(spark):
    """Two-stage refinement: quantized shortlist + exact rescore must
    reproduce the exact brute-force top-k at a generous factor, and the
    quantized-only ranking must already be a good approximation."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = [
        (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 6))
        for r in similarity.brute_force_knn(emb, qv, k=5)
        .orderBy("query_id", "rank").collect()
    ]
    rescored = [
        (r["query_id"], r["rank"], r["vec_id"], round(r["cosine"], 6))
        for r in similarity.quantized_knn(
            emb, qv, k=5, rescore=True, rescore_factor=20
        ).orderBy("query_id", "rank").collect()
    ]
    assert rescored == brute

    bsets: dict = {}
    for q, _, vid, _ in brute:
        bsets.setdefault(q, set()).add(vid)
    qsets: dict = {}
    for r in similarity.quantized_knn(emb, qv, k=5).collect():
        qsets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(qsets[q] & bsets[q]) / len(bsets[q]) for q in bsets]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_bpe_token_count(spark):
    from bm25s_spark.functions.text import bpe_token_count

    rows = [
        (0, "it's a test, don't stop"),   # contractions split off
        (1, "hello   world"),             # interior ws run = one piece
        (2, ""),                          # empty -> 0
        (3, "abc123!?"),                  # letter/digit/punct runs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", bpe_token_count(F.col("text")).alias("n")).collect()}
    # 0: [it]['s][ a][ test][,][ don]['t][ stop] = 8
    # 1: [hello][   ][world] = 3 ; 3: [abc][123][!?] = 3
    assert got == {0: 8, 1: 3, 2: 0, 3: 3}


def test_top_terms_per_doc(spark):
    """tf-idf keyword extraction over the index tables: hand-checked
    scores, term-asc tie order, k clamp, and the rare-term-beats-common
    property."""
    import math

    from bm25s_spark.indexer import build_index
    from bm25s_spark.operators.keywords import top_terms_per_doc

    rows = [
        (0, "zebra zebra common common common"),   # zebra rare, common everywhere
        (1, "common apple common banana"),
        (2, "common common common"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(docs, doc_id_col="doc_id", stopwords=None)
    out = top_terms_per_doc(idx, k=2)
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"])
        for r in out.collect()
    }
    # doc 0: zebra tf=2 df=1 -> 2*ln(3); common tf=3 df=3 -> 0
    assert got[(0, 1)] == ("zebra", 2, round(2 * math.log(3.0), 6))
    assert got[(0, 2)] == ("common", 3, 0.0)
    # doc 1: apple/banana tie at 1*ln(3) -> term-asc order
    assert got[(1, 1)][0] == "apple" and got[(1, 2)][0] == "banana"
    # doc 2 has only one distinct term -> a single row despite k=2
    assert (2, 1) in got and (2, 2) not in got

    import pytest as _pytest
    with _pytest.raises(ValueError):
        top_terms_per_doc(idx, k=0)


def test_upsample_corpus(spark):
    """Epoch-weighted mixing: exact copy counts per the md5-bucket
    formula, copy labels 0..n-1, weight-0 drop, and nesting in w."""
    import hashlib

    from bm25s_spark.operators.sampling import upsample_corpus

    rows = [(i, str(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    weights = {"0": 2.5, "1": 1.0, "2": 0.0}

    def bucket(i):
        return int(hashlib.md5(f"upsample:{i}".encode()).hexdigest()[:8], 16) % 10_000

    def expected_n(i):
        w = weights[str(i % 3)]
        return int(w) + (1 if bucket(i) < round((w - int(w)) * 10_000) else 0)

    out = upsample_corpus(df, weights, "stratum").collect()
    got: dict = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r["epoch"])
    for i in range(60):
        n = expected_n(i)
        assert sorted(got.get(i, [])) == list(range(n)), (i, n, got.get(i))

    # nesting: every row upsampled at w=2.2 is upsampled at w=2.3
    a = {(r["doc_id"], r["epoch"]) for r in
         upsample_corpus(df, {"0": 2.2}, "stratum", default_weight=0).collect()}
    b = {(r["doc_id"], r["epoch"]) for r in
         upsample_corpus(df, {"0": 2.3}, "stratum", default_weight=0).collect()}
    assert a <= b and len(b) > len(a)

    with pytest.raises(ValueError):
        upsample_corpus(df, {"0": -1.0}, "stratum")
