"""Mini query language: ``+must -not term^boost`` — the core of the
Lucene classic query-parser syntax, compiled to ONE scoring pass.

The reference scores a flat token bag
(``reference/bm25s/__init__.py:572-618``); real search boxes send
operators.  This module parses the three that matter and composes the
engine's existing boolean legs:

- ``term``      — optional (should): contributes weight × impact;
- ``term^2.5``  — boosted should: weight 2.5 instead of 1 (fractional
  multiplicities, the ``operators/synonyms.py`` scoring contract);
- ``+term``     — must: documents lacking it are dropped (the
  ``require_all_terms`` leg, per marked term);
- ``-term``     — must-not: documents containing it are dropped (the
  ``operators/boolean.py`` NOT leg; NOT wins over any other marking of
  the same term).

Parse contract (deterministic, SQL-replayable): tokens are
``regexp_extract_all(lower(text), '[+-]?\\w\\w+(\\^[0-9.]+)?')`` — a
leading ``+``/``-`` is the operator, the word part then runs through
the ENGINE'S OWN tokenizer (stopword filtering, stemming — so a
``+the`` clause vanishes rather than matching nothing, and boosts
survive stemming).  Repeated positive occurrences of a term ADD their
weights; a must marking survives aggregation (max); a must-not marking
anywhere poisons the term entirely.  A must term that is OOV can never
match, so that query returns nothing — Lucene's behavior.  Note ``-``
is an operator prefix: ``foo-bar`` parses as ``foo`` AND NOT ``bar``
(hyphenate-free queries, the classic-parser quirk).

Metadata clauses extend the language without extra postings passes:
``field:value`` equality keeps/bans and ``field:[lo TO hi]`` inclusive
ranges (timestamps, numerics — transcript users filter on time) apply
to the candidate set through one doc-metadata join.

Scale shape: identical to plain retrieval — the parsed term table is
batch-sized and broadcast; positives, musts and nots all travel in the
SAME broadcast table, so the whole language costs ONE pass over the
postings and ONE aggregation (must coverage = a conditional count in
the group, exclusion = a max flag; both post-aggregation filters).
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bm25s_spark.indexer import BM25Index
from bm25s_spark.retrieval import _nnoc_per_query, _scoring_cols
from bm25s_spark.scoring import METHODS
from bm25s_spark.tokenization import make_tokenizer_udf
from bm25s_spark.util import local_relation

# doubled backslashes: this literal goes through Spark SQL's string
# parser (F.expr), which unescapes one level.  The boost suffix only
# matches a WELL-FORMED number (digits, optional .digits) — a malformed
# '^.' would cast to NULL in Spark (poisoning the weight) and raise in
# DuckDB, so the grammar refuses to consume it instead
_TOKEN_RE_SQL = r"[+\\-]?\\w\\w+(?:\\^\\d+(?:\\.\\d+)?)?"


def parse_query_terms(
    index: BM25Index,
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Parse → (query_id, term, weight, must, neg), post-tokenizer.

    One row per surviving (query, term): ``weight`` sums the positive
    occurrences' boosts (0.0 for pure-negative terms), ``must``/``neg``
    are 0/1 flags.  Terms marked both positive and ``-`` collapse to a
    single neg row (NOT wins).
    """
    raw = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}), '{_TOKEN_RE_SQL}', 0)"
            )
        ).alias("tok"),
    )
    head = F.substring("tok", 1, 1)
    parsed = raw.select(
        "query_id",
        F.regexp_extract("tok", r"\w\w+", 0).alias("word"),
        F.when(head == "+", 1).otherwise(0).alias("must"),
        F.when(head == "-", 1).otherwise(0).alias("neg"),
        F.coalesce(
            F.nullif(
                F.regexp_extract("tok", r"\^(\d+(?:\.\d+)?)", 1), F.lit("")
            ),
            F.lit("1"),
        ).cast("double").alias("boost"),
    )
    # the word re-enters the engine tokenizer (stopword/stemmer config
    # of THIS index) — stopword operands vanish here
    udf = make_tokenizer_udf(**index.tokenizer_kwargs)
    terms = parsed.select(
        "query_id", "must", "neg", "boost",
        F.explode(udf(F.col("word"))).alias("term"),
    )
    return terms.groupBy("query_id", "term").agg(
        F.sum(F.when(F.col("neg") == 0, F.col("boost")).otherwise(F.lit(0.0))
              ).alias("weight"),
        F.max(F.when(F.col("neg") == 0, F.col("must")).otherwise(F.lit(0))
              ).alias("must"),
        F.max("neg").alias("neg"),
    ).withColumn(
        # NOT wins: a negated term never scores and never counts as must
        "weight", F.when(F.col("neg") == 1, F.lit(0.0)).otherwise(F.col("weight"))
    ).withColumn(
        "must", F.when(F.col("neg") == 1, F.lit(0)).otherwise(F.col("must"))
    )


# field filters: `field:value` (require) / `-field:value` (exclude);
# both sides ≥2 word chars, applied against doc metadata columns
_FILTER_RE_SQL = r"[+\\-]?\\w\\w+:\\w\\w+"


def parse_filters(
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """``field:value`` clauses → (query_id, field, value, neg), distinct.

    ``role:user`` requires the doc's ``role`` metadata to equal
    ``user``; ``-role:tool`` excludes docs whose ``role`` is ``tool``.
    A ``+`` prefix is accepted (filters are always must).  Field and
    value are lowercased with the rest of the query text.  Range
    clauses are stripped first (same order as ``retrieve_parsed``'s
    probe) so a range operand like ``ts:[2026-01-01 00:10:00 TO *]``
    never sheds a bogus ``00:10`` equality filter.
    """
    raw = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.regexp_replace(
            F.lower(F.col(text_col)), _RANGE_RE_PY, " "
        ).alias("_t2"),
    ).select(
        "query_id",
        F.explode(
            F.expr(f"regexp_extract_all(_t2, '{_FILTER_RE_SQL}', 0)")
        ).alias("tok"),
    )
    return raw.select(
        "query_id",
        F.regexp_extract("tok", r"(\w\w+):", 1).alias("field"),
        F.regexp_extract("tok", r":(\w\w+)", 1).alias("value"),
        F.when(F.substring("tok", 1, 1) == "-", 1).otherwise(0).alias("neg"),
    ).distinct()


# range filters: `field:[lo TO hi]` (inclusive, the Lucene classic
# bracket syntax) / `-field:[lo TO hi]` (exclude the range); `*` on
# either side leaves that bound open.  Operands may contain anything
# but ']' (timestamps with spaces work); text is lowercased upstream so
# the TO keyword matches case-insensitively
_RANGE_RE_SQL = r"[+\\-]?\\w\\w+:\\[[^\\]]+? to [^\\]]+?\\]"
_RANGE_RE_PY = r"[+\-]?\w\w+:\[[^\]]+? to [^\]]+?\]"


def parse_range_filters(
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """``field:[lo TO hi]`` clauses → (query_id, field, lo, hi, neg),
    distinct.  Bounds are inclusive (Lucene ``[]``; the exclusive ``{}``
    form is not supported); ``*`` leaves a side unbounded (NULL here).
    ``ts:[2026-01-01 TO 2026-01-31]`` keeps docs whose ``ts`` metadata
    falls in January; ``-turn_idx:[0 TO 1]`` drops the first two turns.
    Operands are trimmed and compared after casting to the metadata
    column's type."""
    raw = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}), '{_RANGE_RE_SQL}', 0)"
            )
        ).alias("tok"),
    )
    star_null = lambda c: F.nullif(F.trim(c), F.lit("*"))
    return raw.select(
        "query_id",
        F.regexp_extract("tok", r"(\w\w+):\[", 1).alias("field"),
        star_null(F.regexp_extract("tok", r"\[([^\]]+?) to ", 1)).alias("lo"),
        star_null(F.regexp_extract("tok", r" to ([^\]]+?)\]", 1)).alias("hi"),
        F.when(F.substring("tok", 1, 1) == "-", 1).otherwise(0).alias("neg"),
    ).distinct()


# expansion clauses: `word*` (prefix wildcard) / `word~` / `word~2`
# (fuzzy, default 1 edit — the engine's fuzzy_retrieve default; Lucene's
# bare ~ means 2) with an optional trailing boost
_EXPAND_RE_SQL = r"[+\\-]?\\w\\w+(?:~\\d?|\\*)(?:\\^\\d+(?:\\.\\d+)?)?"
_EXPAND_RE_PY = r"[+\-]?\w\w+(?:~\d?|\*)(?:\^\d+(?:\.\d+)?)?"


def parse_expansions(
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Wildcard/fuzzy clauses → (query_id, word, wild, edits, neg, must,
    boost).  ``wild``=1 for ``word*``; otherwise ``edits`` is the fuzzy
    budget (explicit ``~N`` digit, default 1).  Range clauses are
    stripped first (same order as ``retrieve_parsed``'s probe) so their
    operands never leak expansion tokens."""
    raw = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.regexp_replace(
            F.lower(F.col(text_col)), _RANGE_RE_PY, " "
        ).alias("_t2"),
    ).select(
        "query_id",
        F.explode(
            F.expr(f"regexp_extract_all(_t2, '{_EXPAND_RE_SQL}', 0)")
        ).alias("tok"),
    )
    head = F.substring("tok", 1, 1)
    return raw.select(
        "query_id",
        F.regexp_extract("tok", r"\w\w+", 0).alias("word"),
        F.when(F.col("tok").contains("*"), 1).otherwise(0).alias("wild"),
        F.coalesce(
            F.nullif(F.regexp_extract("tok", r"~(\d)", 1), F.lit("")),
            F.lit("1"),
        ).cast("int").alias("edits"),
        F.when(head == "-", 1).otherwise(0).alias("neg"),
        F.when(head == "+", 1).otherwise(0).alias("must"),
        F.coalesce(
            F.nullif(
                F.regexp_extract("tok", r"\^(\d+(?:\.\d+)?)", 1), F.lit("")
            ),
            F.lit("1"),
        ).cast("double").alias("boost"),
    )


# driver-side clause shapes: retrieve_parsed resolves every batch-sized
# clause family (ranges, equality filters, expansions, phrase presence)
# in ONE collected probe job; these carry the same field names the
# collected parse_* Rows exposed, so the application logic is unchanged
_FilterClause = namedtuple("_FilterClause", "query_id field value neg")
_RangeClause = namedtuple("_RangeClause", "query_id field lo hi neg")
_ExpandClause = namedtuple(
    "_ExpandClause", "query_id word wild edits neg must boost"
)


# query rows the clause probe collects; a larger batch collects only its
# clause rows, through the standalone parse_* functions
CLAUSE_PROBE_MAX = 16384


def _probe_clauses(unquoted: DataFrame, with_terms: bool = False):
    """All driver-side clause probes in ONE Spark job, or None when the
    batch has more than ``CLAUSE_PROBE_MAX`` queries.

    ``with_terms=True`` additionally extracts the term-operator tokens
    (word/must/neg/boost — the ``parse_query_terms`` pre-tokenizer
    stage) from the range/expansion/filter-stripped text, still through
    Spark's own regex engine in the same probe job, and returns them as
    a fifth element: one (query_id, word, must, neg, boost) tuple per
    token occurrence, in text order.  The caller can then run the
    engine tokenizer's driver-local twin over the words and skip the
    distributed parse entirely.

    Equivalent to collecting ``parse_range_filters`` /
    ``parse_filters`` / ``parse_expansions`` separately (plus the
    phrase-presence peek) — but as one row per query carrying struct
    arrays, so a 4-probe interactive path pays one job floor instead of
    four.  Extraction runs in Spark's own regex engine via
    ``F.transform`` (never Python ``re``), so tokens parse EXACTLY as
    the standalone parse_* functions would.

    Returns ``(ranges, filters, exps, has_phrases)`` where the first
    three are lists of clause namedtuples (ranges/filters deduped like
    the parse functions' ``.distinct()``; exps a multiset, preserving
    repeats) and ``has_phrases`` is the ``parse_phrases(...).take(1)``
    answer.  ``unquoted`` must carry ``(_qid, _nph, _t)`` — quote-
    stripped lowered text plus the quoted-span count."""
    neg_of = lambda t: F.when(F.substring(t, 1, 1) == "-", 1).otherwise(0)
    star_null = lambda c: F.nullif(F.trim(c), F.lit("*"))
    rng = lambda t: F.struct(
        F.regexp_extract(t, r"(\w\w+):\[", 1).alias("field"),
        star_null(F.regexp_extract(t, r"\[([^\]]+?) to ", 1)).alias("lo"),
        star_null(F.regexp_extract(t, r" to ([^\]]+?)\]", 1)).alias("hi"),
        neg_of(t).alias("neg"),
    )
    flt = lambda t: F.struct(
        F.regexp_extract(t, r"(\w\w+):", 1).alias("field"),
        F.regexp_extract(t, r":(\w\w+)", 1).alias("value"),
        neg_of(t).alias("neg"),
    )
    exp = lambda t: F.struct(
        F.regexp_extract(t, r"\w\w+", 0).alias("word"),
        F.when(t.contains("*"), 1).otherwise(0).alias("wild"),
        F.coalesce(
            F.nullif(F.regexp_extract(t, r"~(\d)", 1), F.lit("")),
            F.lit("1"),
        ).cast("int").alias("edits"),
        neg_of(t).alias("neg"),
        F.when(F.substring(t, 1, 1) == "+", 1).otherwise(0).alias("must"),
        F.coalesce(
            F.nullif(F.regexp_extract(t, r"\^(\d+(?:\.\d+)?)", 1), F.lit("")),
            F.lit("1"),
        ).cast("double").alias("boost"),
    )
    tok = lambda t: F.struct(
        F.regexp_extract(t, r"\w\w+", 0).alias("word"),
        F.when(F.substring(t, 1, 1) == "+", 1).otherwise(0).alias("must"),
        neg_of(t).alias("neg"),
        F.coalesce(
            F.nullif(F.regexp_extract(t, r"\^(\d+(?:\.\d+)?)", 1), F.lit("")),
            F.lit("1"),
        ).cast("double").alias("boost"),
    )
    base = (
        unquoted
        .withColumn(
            "_rt", F.expr(f"regexp_extract_all(_t, '{_RANGE_RE_SQL}', 0)")
        )
        .withColumn("_t2", F.regexp_replace("_t", _RANGE_RE_PY, " "))
    )
    sel = [
        F.col("_qid"),
        F.col("_nph"),
        F.transform("_rt", rng).alias("_ranges"),
        F.transform(
            F.expr(f"regexp_extract_all(_t2, '{_FILTER_RE_SQL}', 0)"),
            flt,
        ).alias("_filters"),
        F.transform(
            F.expr(f"regexp_extract_all(_t2, '{_EXPAND_RE_SQL}', 0)"),
            exp,
        ).alias("_exps"),
    ]
    if with_terms:
        # identical stripping order to retrieve_parsed's fallback path:
        # expansions out first, then equality filters, then the token
        # grammar — all in Spark's regex engine for exactness
        base = base.withColumn(
            "_t3",
            F.regexp_replace(
                F.regexp_replace("_t2", _EXPAND_RE_PY, " "),
                r"[+\-]?\w\w+:\w\w+", " ",
            ),
        )
        sel.append(
            F.transform(
                F.expr(f"regexp_extract_all(_t3, '{_TOKEN_RE_SQL}', 0)"),
                tok,
            ).alias("_toks")
        )
    rows = base.select(*sel).limit(CLAUSE_PROBE_MAX + 1).collect()
    if len(rows) > CLAUSE_PROBE_MAX:
        return None
    ranges, filters = _sorted_clauses(
        (_RangeClause(r["_qid"], s["field"], s["lo"], s["hi"], s["neg"])
         for r in rows for s in r["_ranges"]),
        (_FilterClause(r["_qid"], s["field"], s["value"], s["neg"])
         for r in rows for s in r["_filters"]),
    )
    exps = [  # multiset: a repeated clause adds its weight again
        _ExpandClause(
            r["_qid"], s["word"], s["wild"], s["edits"],
            s["neg"], s["must"], s["boost"],
        )
        for r in rows
        for s in r["_exps"]
    ]
    has_phrases = any(r["_nph"] > 0 for r in rows)
    if with_terms:
        term_toks = [
            (r["_qid"], s["word"], s["must"], s["neg"], s["boost"])
            for r in rows
            for s in r["_toks"]
        ]
        return ranges, filters, exps, has_phrases, term_toks
    return ranges, filters, exps, has_phrases


def _sorted_clauses(ranges, filters):
    """Deduplicated, sorted range and filter clauses."""
    return (
        sorted(
            set(ranges),
            # open bounds ('*') are None: a plain tuple sort would compare
            # None against str when two clauses tie on (query_id, field)
            key=lambda c: (c.query_id, c.field, c.lo or "", c.hi or "",
                           c.neg),
        ),
        sorted(set(filters)),
    )


def _collect_clauses(unquoted: DataFrame, phrases: DataFrame):
    """``_probe_clauses``' answer for a batch above its cap: each clause
    family from its standalone distributed parse over the same
    quote-stripped text, collecting only clause rows."""
    ranges, filters = _sorted_clauses(
        (_RangeClause(*r)
         for r in parse_range_filters(unquoted, "_qid", "_t").collect()),
        (_FilterClause(*r)
         for r in parse_filters(unquoted, "_qid", "_t").collect()),
    )
    exps = [_ExpandClause(*r)
            for r in parse_expansions(unquoted, "_qid", "_t").collect()]
    return ranges, filters, exps, bool(phrases.take(1))


def parse_phrases(
    queries_df: DataFrame,
    query_id_col: str = "query_id",
    text_col: str = "text",
) -> DataFrame:
    """Quoted spans → (query_id, pidx, phrase): ``"merge sort"``
    clauses, 0-indexed per query in text order.  Queries without quotes
    yield no rows."""
    arr = F.expr(
        f"regexp_extract_all(lower({text_col}), '\"([^\"]*)\"', 1)"
    )
    return queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(arr).alias("pidx", "phrase"),
    )


def retrieve_parsed(
    index: BM25Index,
    queries_df: DataFrame,
    k: int = 10,
    method: str = "lucene",
    idf_method: str | None = None,
    round_to: int | None = None,
    query_id_col: str = "query_id",
    text_col: str = "text",
    docs_df: DataFrame | None = None,
    docs_text_col: str = "text",
    docs_id_col: str = "doc_id",
    metadata_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 under the mini query language → (query_id, rank,
    doc_id, score).  No padding (excluded docs must not be
    reintroduced); ``round_to`` rounds before the rank cut
    (doc_id-ascending ties), the gate-stability convention.

    **Phrase clauses**: with ``docs_df`` (the original corpus rows —
    positions are not in the BM25 index), quoted spans become MUST
    constraints — the doc must contain each phrase as an exact-adjacent
    token run in the raw positional stream (stopword-KEEPING, the
    positional-index convention of ``operators/phrase.py``).  The
    phrase's words additionally join the should bag at weight 1 (so a
    phrase-only query still ranks by BM25).  A phrase whose tokens all
    vanish (e.g. ``"a"``) imposes no constraint; a phrase containing an
    OOV word can never match, so that query returns nothing.  Phrases
    cannot be negated or boosted.  Passing quotes WITHOUT ``docs_df``
    raises.

    **Range filters**: ``field:[lo TO hi]`` / ``-field:[lo TO hi]``
    clauses (inclusive bounds, ``*`` = open side — the Lucene classic
    bracket syntax) compare doc metadata after casting the operands to
    the column's type: ``ts:[2026-01-01 TO 2026-01-31]`` on a timestamp
    column, ``turn_idx:[0 TO 5]`` on an int.  Like equality filters
    they restrict the candidate set only (scores untouched); being
    driver-side literals they compile to plain predicates on the
    metadata-joined candidates — no extra join or postings pass.

    **Field filters**: ``field:value`` / ``-field:value`` clauses apply
    against doc metadata — ``metadata_df`` (doc_id + metadata columns;
    defaults to the index's ``doc_map``).  ``role:user`` keeps only
    user turns in the candidate set (scores untouched — the
    ``operators/filtered.py`` contract), ``-role:tool`` drops tool
    turns.  At most one POSITIVE value per (query, field) (two would be
    unsatisfiable — raises); unknown fields raise; a value no doc
    carries simply returns nothing.  The (batch-sized) clause table is
    collected driver-side, then applied with one metadata join on the
    candidate set.
    """
    if method not in METHODS:
        raise ValueError(f"Invalid method {method!r}")
    idf_method = idf_method or method
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    phrases = parse_phrases(queries_df, query_id_col, text_col)
    # strip quoted spans before the filter/term-operator parse; the
    # quoted-span count rides along so the probe answers phrase
    # presence without a separate take(1) job
    unquoted = queries_df.select(
        F.col(query_id_col).alias("_qid"),
        F.lower(F.col(text_col)).alias("_lt"),
    ).select(
        "_qid",
        F.size(
            F.expr("regexp_extract_all(_lt, '\"([^\"]*)\"', 1)")
        ).alias("_nph"),
        F.regexp_replace("_lt", r'"[^"]*"', " ").alias("_t"),
    )
    # every batch-sized clause family — ranges (parsed and stripped
    # BEFORE the equality/term parses so bracket operands never leak
    # into the term bag), equality filters, wildcard/fuzzy expansions,
    # phrase presence — resolves in ONE collected probe job.  When the
    # engine tokenizer has a driver-local twin, the term-operator
    # tokens ride the same probe (Java-regex extraction stays in
    # Spark) and the parsed term bag becomes a local relation — the
    # scoring plan's 4 broadcast consumers then build from local rows
    # instead of re-running a Python-UDF parse sub-plan each
    from bm25s_spark.tokenization import make_local_tokenizer

    local_tok = make_local_tokenizer(**index.tokenizer_kwargs)
    probed = _probe_clauses(unquoted, with_terms=local_tok is not None)
    if probed is None:
        # above the probe cap the term bag stays distributed too
        local_tok = None
        ranges, filters, exps, has_phrases = _collect_clauses(
            unquoted, phrases
        )
    elif local_tok is not None:
        ranges, filters, exps, has_phrases, term_toks = probed
    else:
        ranges, filters, exps, has_phrases = probed
    unquoted = unquoted.select(
        "_qid", F.regexp_replace("_t", _RANGE_RE_PY, " ").alias("_t")
    )
    meta = None
    if filters or ranges:
        meta = metadata_df if metadata_df is not None else index.doc_map
        if meta is None:
            raise ValueError(
                "query contains field:value / field:[lo TO hi] filters "
                "but neither metadata_df nor the index doc_map is "
                "available"
            )
        unknown = sorted(
            ({f.field for f in filters} | {r.field for r in ranges})
            - set(meta.columns)
        )
        if unknown:
            raise ValueError(f"unknown filter field(s): {unknown}")
    if filters:
        seen: dict[tuple[str, str], str] = {}
        for f in filters:
            if f.neg:
                continue
            key = (f.query_id, f.field)
            if key in seen and seen[key] != f.value:
                raise ValueError(
                    f"conflicting positive filters on {f.field!r} for "
                    f"query {f.query_id!r}: {seen[key]!r} vs {f.value!r}"
                )
            seen[key] = f.value
    # wildcard/fuzzy clauses came from the same probe (the expansion
    # JOIN against the vocabulary stays distributed)
    for e in exps:
        if e.must:
            raise ValueError(
                f"'+' (must) is not supported on wildcard/fuzzy clauses: "
                f"+{e.word}{'*' if e.wild else '~'}"
            )
    if local_tok is not None:
        # driver-side twin of parse_query_terms: same aggregation
        # semantics (boosts of positive occurrences add, must survives
        # via max, a neg marking anywhere poisons the term) over the
        # probe's Java-regex tokens, with the word→term step through
        # the SAME pandas kernel the distributed UDF wraps
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType, IntegerType, StringType, StructField, StructType,
        )

        words = [w for (_q, w, _m, _n, _b) in term_toks]
        token_lists = (
            local_tok(pd.Series(words, dtype=object)) if words else []
        )
        qagg: dict = {}
        for (qid, _w, must, neg, boost), terms in zip(term_toks,
                                                      token_lists):
            for term in terms:
                a = qagg.setdefault((qid, term), [0.0, 0, 0])
                if neg == 0:
                    a[0] += boost
                    a[1] = max(a[1], must)
                a[2] = max(a[2], neg)
        qrows = [
            (qid, term, 0.0 if n == 1 else float(w),
             0 if n == 1 else int(m), int(n))
            for (qid, term), (w, m, n) in qagg.items()
        ]
        q_schema = StructType([
            StructField("query_id",
                        queries_df.schema[query_id_col].dataType, True),
            StructField("term", StringType(), True),
            StructField("weight", DoubleType(), False),
            StructField("must", IntegerType(), False),
            StructField("neg", IntegerType(), False),
        ])
        q = local_relation(index.spark, qrows, q_schema)
    else:
        stripped = unquoted.select(
            "_qid",
            F.regexp_replace(
                F.regexp_replace("_t", _EXPAND_RE_PY, " "),
                r"[+\-]?\w\w+:\w\w+", " ",
            ).alias("_t"),
        )
        q = parse_query_terms(index, stripped, "_qid", "_t")
    extra_bags = []
    # phrase words join the should bag at weight 1 per occurrence
    # (through the INDEX tokenizer — scoring vocabulary)
    if docs_df is not None:
        udf = make_tokenizer_udf(**index.tokenizer_kwargs)
        extra_bags.append(
            phrases.select(
                "query_id", F.explode(udf(F.col("phrase"))).alias("term")
            )
            .groupBy("query_id", "term")
            .agg(F.count(F.lit(1)).cast("double").alias("weight"))
            .select("query_id", "term", "weight",
                    F.lit(0).alias("must"), F.lit(0).alias("neg"))
        )
    elif has_phrases:
        raise ValueError(
            "query contains quoted phrase clauses but docs_df was not "
            "provided (positions are not stored in the BM25 index)"
        )
    if exps:
        # one vocab pass per distinct clause shape (wildcard; fuzzy per
        # edit budget — Spark's bounded levenshtein takes a literal
        # threshold), matched terms entering the bag at the clause boost
        spark = index.spark
        vocab = index.term_stats.select("term").where(
            (F.col("term") != "") & (F.col("df") > 0)
        )
        # multiset: a repeated clause adds its weight again (the plain
        # repeated-term contract)
        wild_rows = sorted((e.query_id, e.word, float(e.boost), int(e.neg))
                           for e in exps if e.wild)
        if wild_rows:
            wdf = local_relation(
                spark, wild_rows, ["query_id", "word", "boost", "neg"]
            )
            extra_bags.append(
                F.broadcast(wdf)
                .join(vocab, F.col("term").startswith(F.col("word")))
                .select("query_id", "term", F.col("boost").alias("weight"),
                        F.lit(0).alias("must"), "neg")
            )
        for edits in sorted({int(e.edits) for e in exps if not e.wild}):
            frows = sorted((e.query_id, e.word, float(e.boost), int(e.neg))
                           for e in exps
                           if not e.wild and int(e.edits) == edits)
            fdf = local_relation(
                spark, frows, ["query_id", "word", "boost", "neg"]
            )
            term, word = F.col("term"), F.col("word")
            fuzzy_ok = (
                (F.length(word) >= 3)
                & ((F.length(term) - F.length(word)).between(-edits, edits))
                & (F.levenshtein(term, word, edits) >= 0)
            )
            extra_bags.append(
                F.broadcast(fdf)
                .join(vocab, (term == word) | fuzzy_ok)
                .select("query_id", "term", F.col("boost").alias("weight"),
                        F.lit(0).alias("must"), "neg")
            )
    if extra_bags:
        # merge, then reapply the NOT-wins collapse over the merged bag
        for b in extra_bags:
            q = q.unionByName(b)
        q = (
            q.groupBy("query_id", "term")
            .agg(
                F.sum("weight").alias("weight"),
                F.max("must").alias("must"),
                F.max("neg").alias("neg"),
            )
            .withColumn(
                "weight",
                F.when(F.col("neg") == 1, F.lit(0.0)).otherwise(F.col("weight")),
            )
            .withColumn(
                "must",
                F.when(F.col("neg") == 1, F.lit(0)).otherwise(F.col("must")),
            )
        )
    # must requirement counts post-tokenizer must terms — INCLUDING OOV
    # ones (they can never match, so such a query returns nothing)
    qn = q.groupBy("query_id").agg(
        F.sum("must").cast("long").alias("_nmust")
    )
    qall = q.join(F.broadcast(qn), "query_id")
    impact, _ = _scoring_cols(index, method, idf_method)
    grouped = (
        F.broadcast(qall)
        .join(index.postings, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.when(F.col("neg") == 0, F.col("weight") * impact.cast("double"))
                .otherwise(F.lit(0.0))
            ).alias("raw"),
            F.sum(F.when(F.col("neg") == 0, F.col("must")).otherwise(F.lit(0))
                  ).cast("long").alias("_mm"),
            F.max("neg").alias("_neg"),
            F.first("_nmust").alias("_req"),
        )
        .where((F.col("_neg") == 0) & (F.col("_mm") == F.col("_req")))
        .drop("_mm", "_neg", "_req")
    )
    pos = q.where(F.col("neg") == 0).select(
        "query_id", "term", F.col("weight").alias("mult")
    )
    nnoc = _nnoc_per_query(index, pos, method, idf_method)
    scores = (
        grouped.join(F.broadcast(nnoc), "query_id", "left")
        .withColumn("score", F.col("raw") + F.coalesce(F.col("nnoc_sum"), F.lit(0.0)))
        .select("query_id", "doc_id", "score")
    )
    if filters or ranges:
        # one metadata join on the (query-bounded) candidate set, then
        # per-field broadcast clause joins — requirements keep, bans
        # anti-join; scores themselves are untouched (filtered.py
        # contract: statistics stay corpus-wide)
        fields = sorted({f.field for f in filters} | {r.field for r in ranges})
        cand = scores.join(meta.select("doc_id", *fields), "doc_id")
        spark = index.spark
        for fld in sorted({f.field for f in filters}):
            pos_rows = sorted({(f.query_id, f.value) for f in filters
                               if f.field == fld and not f.neg})
            if pos_rows:
                posdf = local_relation(spark, pos_rows,
                                       ["query_id", "_req"])
                cand = (
                    cand.join(F.broadcast(posdf), "query_id", "left")
                    .where(
                        F.col("_req").isNull()
                        | (F.col(fld) == F.col("_req"))
                    )
                    .drop("_req")
                )
            neg_rows = sorted({(f.query_id, f.value) for f in filters
                               if f.field == fld and f.neg})
            if neg_rows:
                negdf = local_relation(spark, neg_rows, ["_nq", "_ban"])
                cand = cand.join(
                    F.broadcast(negdf),
                    (F.col("query_id") == F.col("_nq"))
                    & (F.col(fld) == F.col("_ban")),
                    "left_anti",
                )
        # range clauses are driver-side literals, so each becomes a
        # plain WHERE predicate on the candidate set — no join at all.
        # Inclusive bounds cast to the metadata column's type; NULL
        # metadata can satisfy no positive range (dropped) and no
        # negative range (kept).  Multiple positive ranges on a field
        # intersect (unlike equality, that is satisfiable).
        for c in sorted(ranges, key=lambda r: (str(r.query_id), r.field,
                                               str(r.lo), str(r.hi), r.neg)):
            dtype = meta.schema[c.field].dataType
            cond = None
            if c.lo is not None:
                cond = F.col(c.field) >= F.lit(c.lo).cast(dtype)
            if c.hi is not None:
                hi_c = F.col(c.field) <= F.lit(c.hi).cast(dtype)
                cond = hi_c if cond is None else (cond & hi_c)
            if cond is None:
                # [* TO *]: positively vacuous; negated, it bans the
                # whole corpus for that query
                if c.neg:
                    cand = cand.where(F.col("query_id") != F.lit(c.query_id))
                continue
            inside = F.coalesce(cond, F.lit(False))
            keep = ~inside if c.neg else inside
            cand = cand.where(
                (F.col("query_id") != F.lit(c.query_id)) | keep
            )
        scores = cand.select("query_id", "doc_id", "score")
    if docs_df is not None:
        # phrase MUST constraints: the doc must contain every phrase
        # that tokenizes to ≥1 POSITIONAL token (stopword-keeping raw
        # stream — phrase adjacency semantics); empty-token phrases
        # impose nothing
        from bm25s_spark.operators.phrase import phrase_match

        sep = "\x1f"
        pos_udf = make_tokenizer_udf(stopwords=None)
        ph_live = (
            phrases.withColumn("_n", F.size(pos_udf(F.col("phrase"))))
            .where(F.col("_n") > 0)
        )
        nphr = ph_live.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias("_nphr")
        )
        pmq = ph_live.select(
            F.concat_ws(sep, "query_id", F.col("pidx").cast("string")
                        ).alias("pid"),
            "phrase",
        )
        docs = docs_df.select(
            F.col(docs_id_col).alias("doc_id"),
            F.col(docs_text_col).alias("text"),
        )
        pm = phrase_match(docs, pmq, query_id_col="pid", phrase_col="phrase")
        hit = (
            pm.select(
                F.substring_index("query_id", sep, 1).alias("query_id"),
                "doc_id",
            )
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("_nhit"))
        )
        scores = (
            scores.join(F.broadcast(nphr), "query_id", "left")
            .join(F.broadcast(hit), ["query_id", "doc_id"], "left")
            .where(
                F.col("_nphr").isNull()
                | (F.coalesce(F.col("_nhit"), F.lit(0)) == F.col("_nphr"))
            )
            .select("query_id", "doc_id", "score")
        )
    if round_to is not None:
        scores = scores.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
