"""Mini query language (+must -not term^boost): parse contract, leg
composition vs the standalone operators, and edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bm25s_spark.indexer import build_index
from bm25s_spark.operators.querylang import parse_query_terms, retrieve_parsed
from bm25s_spark.retrieval import score_all

CORPUS = [
    (0, "spark shuffle join merge"),
    (1, "spark shuffle window"),
    (2, "spark broadcast join"),
    (3, "shuffle partition skew"),
    (4, "parquet column scan"),
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    return build_index(df.select("doc_id", "text"), order_cols=["doc_id"])


def _q(spark, text):
    return spark.createDataFrame([("q", text)], "query_id string, text string")


def test_parse_flags_boosts_and_stopwords(spark, idx):
    rows = parse_query_terms(
        idx, _q(spark, "spark +shuffle -window merge^2.5 the")
    ).collect()
    got = {r.term: (r.weight, r.must, r.neg) for r in rows}
    assert got["spark"] == (1.0, 0, 0)
    assert got["shuffle"] == (1.0, 1, 0)
    assert got["window"] == (0.0, 0, 1)
    assert got["merge"] == (2.5, 0, 0)
    assert "the" not in got  # stopword operand vanishes


def test_parse_repeats_add_and_not_wins(spark, idx):
    rows = parse_query_terms(
        idx, _q(spark, "spark spark^3 +join -join")
    ).collect()
    got = {r.term: (r.weight, r.must, r.neg) for r in rows}
    assert got["spark"] == (4.0, 0, 0)       # 1 + 3
    assert got["join"] == (0.0, 0, 1)        # NOT wins over + and weight


def test_plain_query_equals_score_all(spark, idx):
    res = retrieve_parsed(idx, _q(spark, "spark shuffle join"), k=5)
    full = {
        r.doc_id: r.score
        for r in score_all(idx, _q(spark, "spark shuffle join")).collect()
    }
    got = {r.doc_id: r.score for r in res.collect()}
    assert set(got) == set(full)
    for d, s in got.items():
        assert s == pytest.approx(full[d])


def test_must_and_not_legs(spark, idx):
    # +join restricts to docs 0, 2; -merge then drops doc 0
    res = {r.doc_id for r in
           retrieve_parsed(idx, _q(spark, "spark +join -merge"), k=5).collect()}
    assert res == {2}


def test_boost_scales_contribution(spark, idx):
    base = {r.doc_id: r.score
            for r in retrieve_parsed(idx, _q(spark, "scan"), k=5).collect()}
    boosted = {r.doc_id: r.score
               for r in retrieve_parsed(idx, _q(spark, "scan^3"), k=5).collect()}
    assert boosted[4] == pytest.approx(3.0 * base[4])


def test_impossible_and_pure_negative_queries(spark, idx):
    # must-OOV can never be satisfied
    assert retrieve_parsed(idx, _q(spark, "+zzzz spark"), k=5).count() == 0
    # a pure-negative query has no positive clause to match
    assert retrieve_parsed(idx, _q(spark, "-spark"), k=5).count() == 0
    with pytest.raises(ValueError):
        retrieve_parsed(idx, _q(spark, "spark"), k=0)


def test_nnoc_methods_consistent_with_synonym_weights(spark, idx):
    """bm25+ (nnoc-bearing) scores through boosted terms must equal the
    weighted-bag contract: compare against score_all on a query with the
    term repeated (integer boost == multiplicity)."""
    boosted = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "scan^2"), k=5, method="bm25+").collect()}
    repeated = {r.doc_id: r.score for r in score_all(
        idx, _q(spark, "scan scan"), method="bm25+").collect()}
    for d, s in boosted.items():
        assert s == pytest.approx(repeated[d])


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_phrase_clause_filters_adjacency(spark, idx, docs_df):
    # "shuffle join" adjacent only in doc 0 (doc 2 has "broadcast join")
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, '"shuffle join"'), k=5, docs_df=docs_df).collect()}
    assert res == {0}
    # non-adjacent pair never matches even though both terms co-occur
    assert retrieve_parsed(
        idx, _q(spark, '"spark join"'), k=5, docs_df=docs_df).count() == 0


def test_phrase_composes_with_operators(spark, idx, docs_df):
    # phrase + must + not: "spark shuffle" docs {0,1}; -window drops 1
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, '"spark shuffle" -window'), k=5,
        docs_df=docs_df).collect()}
    assert res == {0}


def test_phrase_words_score_as_should_terms(spark, idx, docs_df):
    # a phrase-only query ranks by its words' BM25 over phrase-matching
    # docs — scores equal the plain bag query restricted to matches
    res = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, '"spark shuffle"'), k=5, docs_df=docs_df).collect()}
    bag = {r.doc_id: r.score
           for r in score_all(idx, _q(spark, "spark shuffle")).collect()}
    assert set(res) == {0, 1}
    for d, s in res.items():
        assert s == pytest.approx(bag[d])


def test_phrase_edge_cases(spark, idx, docs_df):
    # empty/stopword-only phrase imposes nothing
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, '"a" spark'), k=5, docs_df=docs_df).collect()}
    assert res == {0, 1, 2}
    # OOV phrase can never match
    assert retrieve_parsed(
        idx, _q(spark, '"zzqx zzqx" spark'), k=5, docs_df=docs_df).count() == 0
    # quotes without docs_df raise; quote-free queries don't need it
    with pytest.raises(ValueError):
        retrieve_parsed(idx, _q(spark, '"spark shuffle"'), k=5)
    assert retrieve_parsed(idx, _q(spark, "spark"), k=5).count() == 3


def test_parse_matches_python_reference_on_random_inputs(spark, idx):
    """Seed-looped randomized parse parity against a pure-Python
    reference (the test_properties.py convention for Spark-backed
    operators): random operator soup — malformed boosts, bare
    operators, repeats — must aggregate identically."""
    import random
    import re

    from bm25s_spark.tokenization import STOPWORDS_EN

    def ref_parse(text):
        toks = re.findall(r"[+\-]?\w\w+(?:\^\d+(?:\.\d+)?)?", text.lower())
        agg = {}
        for tok in toks:
            must = 1 if tok[0] == "+" else 0
            neg = 1 if tok[0] == "-" else 0
            word = re.search(r"\w\w+", tok).group(0)
            m = re.search(r"\^(\d+(?:\.\d+)?)", tok)
            boost = float(m.group(1)) if m else 1.0
            if word in STOPWORDS_EN:
                continue
            w, mu, ng = agg.get(word, (0.0, 0, 0))
            if neg:
                ng = 1
            else:
                w += boost
                mu = max(mu, must)
            agg[word] = (w, mu, ng)
        return {
            t: ((0.0, 0, 1) if ng else (w, mu, 0))
            for t, (w, mu, ng) in agg.items()
        }

    rng = random.Random(42)
    pieces = ["spark", "join", "the", "zz", "a", "Spark", "x1y2"]
    ops = ["", "+", "-"]
    boosts = ["", "^2", "^0.5", "^.", "^1.2.3", "^", "^03"]
    queries = []
    for qi in range(40):
        n = rng.randint(0, 6)
        text = " ".join(
            rng.choice(ops) + rng.choice(pieces) + rng.choice(boosts)
            for _ in range(n)
        )
        queries.append((f"r{qi:02d}", text))
    qdf = spark.createDataFrame(queries, "query_id string, text string")
    got: dict = {}
    for r in parse_query_terms(idx, qdf).collect():
        got.setdefault(r.query_id, {})[r.term] = (r.weight, r.must, r.neg)
    for qid, text in queries:
        assert got.get(qid, {}) == ref_parse(text), (qid, text)


@pytest.fixture(scope="module")
def meta_df(spark):
    rows = [(0, "user"), (1, "tool"), (2, "user"), (3, "assistant"),
            (4, "user")]
    return spark.createDataFrame(rows, "doc_id long, role string")


def test_field_filter_requires_and_excludes(spark, idx, meta_df):
    # "spark" matches docs 0,1,2; role:user keeps 0,2
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "role:user spark"), k=5, metadata_df=meta_df).collect()}
    assert res == {0, 2}
    # -role:tool drops doc 1
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "spark -role:tool"), k=5, metadata_df=meta_df).collect()}
    assert res == {0, 2}
    # scores untouched vs the plain query (filtered.py contract)
    plain = {r.doc_id: r.score
             for r in score_all(idx, _q(spark, "spark")).collect()}
    for r in retrieve_parsed(idx, _q(spark, "role:user spark"), k=5,
                             metadata_df=meta_df).collect():
        assert r.score == pytest.approx(plain[r.doc_id])


def test_field_filter_composes_with_operators(spark, idx, meta_df):
    # +join restricts to docs 0,2; role:user keeps both; -merge drops 0
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "role:user +join spark -merge"), k=5,
        metadata_df=meta_df).collect()}
    assert res == {2}


def test_field_filter_validation(spark, idx, meta_df):
    # value nothing carries → no rows (not an error)
    assert retrieve_parsed(idx, _q(spark, "role:zzz spark"), k=5,
                           metadata_df=meta_df).count() == 0
    with pytest.raises(ValueError, match="unknown filter field"):
        retrieve_parsed(idx, _q(spark, "lang:en spark"), k=5,
                        metadata_df=meta_df).collect()
    with pytest.raises(ValueError, match="conflicting positive filters"):
        retrieve_parsed(idx, _q(spark, "role:user role:tool spark"), k=5,
                        metadata_df=meta_df).collect()
    # duplicate identical positive filters are fine
    assert retrieve_parsed(idx, _q(spark, "role:user role:user spark"), k=5,
                           metadata_df=meta_df).count() == 2


def test_expansion_wildcard_and_fuzzy(spark, idx):
    # sh* → shuffle (docs 0,1,3); spxrk~ → spark at distance 1 (0,1,2)
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "sh*"), k=5).collect()}
    assert res == {0, 1, 3}
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "spxrk~"), k=5).collect()}
    assert res == {0, 1, 2}
    # expanded terms score exactly like the literal bag
    fuzzy = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spxrk~"), k=5).collect()}
    plain = {r.doc_id: r.score
             for r in score_all(idx, _q(spark, "spark")).collect()}
    for d, s in fuzzy.items():
        assert s == pytest.approx(plain[d])


def test_expansion_boost_neg_and_edits(spark, idx):
    # boosted wildcard doubles the contribution
    b = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spark^0 sh*^2"), k=5).collect()}
    p = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spark^0 sh*"), k=5).collect()}
    for d in p:
        assert b[d] == pytest.approx(2.0 * p[d])
    # negated wildcard excludes every matching doc (-par* drops 3, 4)
    res = {r.doc_id for r in retrieve_parsed(
        idx, _q(spark, "shuffle scan -par*"), k=5).collect()}
    assert res == {0, 1}
    # ~2 reaches what ~1 cannot (spxxk: distance 2 from spark)
    assert retrieve_parsed(idx, _q(spark, "spxxk~"), k=5).count() == 0
    assert retrieve_parsed(idx, _q(spark, "spxxk~2"), k=5).count() == 3


def test_expansion_guards(spark, idx):
    # must on an expansion raises
    with pytest.raises(ValueError, match="must.*wildcard/fuzzy"):
        retrieve_parsed(idx, _q(spark, "+sh* spark"), k=5).collect()
    # short fuzzy word: exact only ("sk~" matches nothing; "skew" does
    # not come within reach of a 2-char token)
    assert retrieve_parsed(idx, _q(spark, "sk~"), k=5).count() == 0


def test_parse_range_filters(spark, idx):
    from bm25s_spark.operators.querylang import parse_range_filters

    rows = {
        (r.field, r.lo, r.hi, r.neg)
        for r in parse_range_filters(
            _q(spark, 'spark turn_idx:[0 TO 5] '
                      'ts:[2026-01-01 00:10:00 TO 2026-01-31 23:00:00] '
                      '-score:[* TO 10] open:[3 TO *]')
        ).collect()
    }
    assert rows == {
        ("turn_idx", "0", "5", 0),
        ("ts", "2026-01-01 00:10:00", "2026-01-31 23:00:00", 0),
        ("score", None, "10", 1),
        ("open", "3", None, 0),
    }
    # no clause → no rows; a malformed bracket (no TO) parses nothing
    assert parse_range_filters(_q(spark, "plain words")).count() == 0
    assert parse_range_filters(_q(spark, "x:[1 5]")).count() == 0


def test_range_filters_end_to_end(spark, idx):
    meta = spark.createDataFrame(
        [(0, 0, "2026-01-01 00:00:00"), (1, 1, "2026-01-01 00:10:00"),
         (2, 2, "2026-01-01 00:20:00"), (3, 3, "2026-01-01 00:30:00"),
         (4, 0, None)],
        "doc_id long, turn_idx int, ts_s string",
    ).select("doc_id", "turn_idx", F.col("ts_s").cast("timestamp").alias("ts"))

    def got(text):
        return {r.doc_id for r in retrieve_parsed(
            idx, _q(spark, text), k=5, metadata_df=meta).collect()}

    base = got("spark shuffle scan")
    assert base == {0, 1, 2, 3, 4}
    # int range keeps docs 1-2 of the matched set
    assert got("spark shuffle scan turn_idx:[1 TO 2]") == {1, 2}
    # negated range drops them (NULL metadata is kept on a ban)
    assert got("spark shuffle scan -turn_idx:[1 TO 2]") == {0, 3, 4}
    # open bounds
    assert got("spark shuffle scan turn_idx:[2 TO *]") == {2, 3}
    assert got("spark shuffle scan ts:[* TO 2026-01-01 00:15:00]") == {0, 1}
    # NULL ts can satisfy no positive range (doc 4 dropped)
    assert got("spark shuffle scan ts:[2026-01-01 00:00:00 TO 2026-12-31 00:00:00]") == {0, 1, 2, 3}
    # intersecting positive ranges on one field are satisfiable
    assert got("spark shuffle scan turn_idx:[1 TO 3] turn_idx:[0 TO 2]") == {1, 2}
    # unsatisfiable range → nothing; unknown field raises
    assert got("spark shuffle scan turn_idx:[7 TO 9]") == set()
    with pytest.raises(ValueError, match="unknown filter field"):
        got("spark nope:[1 TO 2]")
    # scores on surviving docs are untouched (filtered.py contract)
    full = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spark shuffle scan"), k=5, metadata_df=meta).collect()}
    ranged = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spark shuffle scan turn_idx:[1 TO 2]"), k=5,
        metadata_df=meta).collect()}
    for d, s in ranged.items():
        assert s == pytest.approx(full[d])
    # range operands never leak into the term bag: adding a clause with
    # wordy operands does not change the score profile
    noisy = {r.doc_id: r.score for r in retrieve_parsed(
        idx, _q(spark, "spark shuffle scan ts:[2026-01-01 TO 2026-12-31]"),
        k=5, metadata_df=meta).collect()}
    for d, s in noisy.items():
        assert s == pytest.approx(full[d])


def test_probe_clauses_matches_standalone_parses(spark):
    """The single-job probe must return exactly what collecting the
    standalone parse functions would — same dedup (distinct for
    ranges/filters), same multiset semantics for expansions, same
    phrase-presence answer."""
    from bm25s_spark.operators.querylang import (
        _RANGE_RE_PY,
        _probe_clauses,
        parse_expansions,
        parse_filters,
        parse_phrases,
        parse_range_filters,
    )

    qdf = spark.createDataFrame(
        [
            ("q1", 'role:user -tool:bash "merge sort" spark~2^1.5 shuf*'),
            ("q2", "ts:[2026-01-01 TO 2026-01-31] -turn_idx:[* TO 1] scan"),
            ("q3", "plain +query -negated boost^2"),
            # duplicates: filters/ranges dedupe, expansions repeat
            ("q4", "role:user role:user wild* wild* tx:[1 TO 2] tx:[1 TO 2]"),
            ("q5", ""),
        ],
        "query_id string, text string",
    )
    unq = qdf.select(
        F.col("query_id").alias("_qid"), F.lower("text").alias("_lt")
    ).select(
        "_qid",
        F.size(F.expr("regexp_extract_all(_lt, '\"([^\"]*)\"', 1)")
               ).alias("_nph"),
        F.regexp_replace("_lt", r'"[^"]*"', " ").alias("_t"),
    )
    ranges, filters, exps, has_phrases = _probe_clauses(unq)

    stripped = unq.select("_qid", "_t")
    want_ranges = sorted(
        tuple(r) for r in parse_range_filters(stripped, "_qid", "_t").collect()
    )
    post_range = stripped.select(
        "_qid", F.regexp_replace("_t", _RANGE_RE_PY, " ").alias("_t")
    )
    want_filters = sorted(
        tuple(r) for r in parse_filters(post_range, "_qid", "_t").collect()
    )
    want_exps = sorted(
        tuple(r) for r in parse_expansions(post_range, "_qid", "_t").collect()
    )
    assert sorted(tuple(r) for r in ranges) == want_ranges
    assert sorted(tuple(r) for r in filters) == want_filters
    assert sorted(tuple(r) for r in exps) == want_exps
    assert has_phrases == bool(parse_phrases(qdf).take(1))
    # duplicate clauses: deduped for filters/ranges, kept for expansions
    assert len([f for f in filters if f.query_id == "q4"]) == 1
    assert len([r for r in ranges if r.query_id == "q4"]) == 1
    assert len([e for e in exps if e.query_id == "q4"]) == 2


def test_range_probe_mixed_open_bounds_same_field(spark, idx):
    """Two range clauses on the SAME field where one has an open '*'
    bound: the probe's dedup sort must not compare None against str
    (regression: TypeError in sorted() on the _RangeClause set)."""
    from bm25s_spark.operators.querylang import _probe_clauses

    qdf = _q(spark, "spark ts:[* to 5] ts:[2 to *]")
    unq = qdf.select(
        F.col("query_id").alias("_qid"), F.lower("text").alias("_lt")
    ).select(
        "_qid",
        F.size(F.expr("regexp_extract_all(_lt, '\"([^\"]*)\"', 1)")
               ).alias("_nph"),
        F.regexp_replace("_lt", r'"[^"]*"', " ").alias("_t"),
    )
    ranges, _, _, _ = _probe_clauses(unq)  # must not raise
    assert {(r.lo, r.hi) for r in ranges} == {(None, "5"), ("2", None)}
    # and the end-to-end path composes the two as an intersection
    meta = spark.createDataFrame(
        [(i, i) for i in range(5)], "doc_id long, ts long"
    )
    got = retrieve_parsed(
        idx, _q(spark, "spark ts:[* TO 5] ts:[2 TO *]"),
        k=5, metadata_df=meta,
    ).collect()
    assert {r.doc_id for r in got} == {2}  # docs 0-2 contain spark; ts>=2


def test_standalone_parsers_strip_range_clauses(spark):
    """parse_filters / parse_expansions on RAW text must ignore range
    operands — a timestamp operand like '00:10:00' is not an equality
    filter, and 'foo~2' inside brackets is not a fuzzy clause
    (regression: drift vs the probe, which always stripped first)."""
    from bm25s_spark.operators.querylang import (
        parse_expansions, parse_filters,
    )

    qdf = _q(spark, "scan ts:[2026-01-01 00:10:00 TO foo~2] role:user")
    filters = parse_filters(qdf).collect()
    assert {(f.field, f.value) for f in filters} == {("role", "user")}
    exps = parse_expansions(qdf).collect()
    assert exps == []


def test_clause_probe_cap_falls_back_to_standalone_parses(
        spark, idx, docs_df, monkeypatch):
    """A batch above CLAUSE_PROBE_MAX collects only its clause rows,
    through the standalone parse_* functions, and parses its term bag
    distributed: the results equal the probed run's."""
    from bm25s_spark.operators import querylang

    meta = spark.createDataFrame(
        [(0, "user", 0), (1, "tool", 1), (2, "user", 2),
         (3, "assistant", 3), (4, "user", 0)],
        "doc_id long, role string, turn_idx int",
    )
    qdf = spark.createDataFrame(
        [("q1", "role:user spark -window"),
         ("q2", "shuf* +spark^2 -role:tool"),
         ("q3", "sprak~1 join turn_idx:[0 TO 2]"),
         ("q4", '"spark shuffle" merge'),
         ("q5", "parquet scan -turn_idx:[1 TO 1]")],
        "query_id string, text string",
    )

    def run():
        return sorted(
            (r.query_id, r.rank, r.doc_id, r.score)
            for r in retrieve_parsed(idx, qdf, k=5, metadata_df=meta,
                                     docs_df=docs_df).collect()
        )

    probed = run()
    fallbacks: list = []
    collect = querylang._collect_clauses
    monkeypatch.setattr(querylang, "CLAUSE_PROBE_MAX", 1)
    monkeypatch.setattr(querylang, "_collect_clauses",
                        lambda *a: fallbacks.append(1) or collect(*a))
    capped = run()
    assert fallbacks == [1]
    assert {q for q, *_ in probed} == {"q1", "q2", "q3", "q4", "q5"}
    assert [r[:3] for r in capped] == [r[:3] for r in probed]
    assert [r[3] for r in capped] == pytest.approx([r[3] for r in probed],
                                                   rel=1e-12)
