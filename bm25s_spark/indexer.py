"""Index construction: the BM25 index as Spark tables.

The reference builds a CSC sparse matrix of precomputed BM25 impacts
(``reference/bm25s/__init__.py:326-438``).  Our equivalent index is a set
of DataFrames/tables that hold only corpus facts:

- ``doc_lens``   (doc_id, dl)                          — per-doc token count
- ``term_stats`` (term, term_id, df)                   — vocab + doc freq
- ``postings``   (term, doc_id, dl, tf, term_id, df)   — the flat inverted
  index, the analog of the reference's CSC ``data``/``indices`` arrays
  (``reference/bm25s/__init__.py:432-438``) with (tf, dl) in place of
  the impacts
- ``stats``      scalars: num_docs, avg_doc_len, k1, b, delta

No impact is stored.  Every reader computes ``idf·tfc(tf, dl) − nnoc``
from the postings and two per-term scalars taken from ``df``
(``retrieval._scoring_cols`` for the flat table, ``shards.py`` for the
doc-sharded layout), so every ``method × idf_method`` combination is
exact from one index and a merge only adds facts.

The build is a pure DataFrame pipeline (SURVEY.md §3.1 lifecycle),
:func:`build_pipeline`:

1. doc ids, then tokenize (Arrow pandas UDF, narrow)
2. TF per (doc, term) as a narrow per-row array computation — a doc's
   tokens sit in one row, so the per-doc ``Counter``
   (``reference/bm25s/scoring.py:238-243``) is array_distinct + filter
   counts + explode; ``dl`` rides along.  NO posting-size shuffle.
3. DF per term via ``count`` (map-side partial aggregation bounds each
   reducer's input at n_partitions rows per term — no skew)
   (reference: ``reference/bm25s/scoring.py:28-57``)
4. join TF × term_stats (vocab-sized → broadcast/AQE) for term_id/df

The corpus stats and steps 2–4 run in :func:`index_from_segments`, the
one index constructor: every build (checkpointed or not), merge,
compaction and incremental refresh hands it ``(doc_id, dl, term, tf)``
rows and ``doc_lens``.

``k1/b/delta`` are pinned at index time like the reference
(``reference/bm25s/__init__.py:144-152``); ``method``/``idf_method`` stay
query-time choices.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bm25s_spark.ids import assign_dense_ids, assign_doc_ids
from bm25s_spark.scoring import DEFAULT_B, DEFAULT_DELTA, DEFAULT_K1, METHODS
from bm25s_spark.tokenization import make_tokenizer_udf
from bm25s_spark.util import cut_lineage, is_cut, release


# docs_per_shard clamp for auto_docs_per_shard: the cap keeps the query
# kernel's dense per-shard score vector cache-bounded (65536 float32 =
# 256 KiB) and bounds the build's collect_list group size; the floor
# stops tiny corpora from paying per-shard overhead (posting lists split
# across shards, per-shard top-k merges) that outweighs the extra tasks.
SHARD_SIZE_FLOOR = 4096
SHARD_SIZE_CAP = 65536

# assign_dense_ids localize cap for the vocab table (term, df): ≤1M
# terms (~tens of MB) assign term_ids on the driver in one bounded
# Arrow pull; larger vocabularies keep the distributed range partitioner
VOCAB_LOCALIZE_MAX = 1_000_000
# BM25Index.driver_cache keys: the term dictionary, and (PAD_POOL, k)
# for the 2·k lowest doc ids
TERM_DICT = "term_dict"
PAD_POOL = "pad_pool"


def auto_docs_per_shard(num_docs: int, parallelism: int,
                        floor: int = SHARD_SIZE_FLOOR,
                        cap: int = SHARD_SIZE_CAP) -> int:
    """Shard size targeting ~one query-kernel task per core.

    One kernel task scores one shard (``shards.retrieve_sharded``), so
    too few shards strand cores: at 205k docs a fixed 65536 yields 4
    shards — 4 busy tasks on a 32-core host (measured 4.0 s for a
    256-query batch vs 2.7 s at 26 shards).  Pick the smallest power of
    two ≥ ``num_docs / parallelism``, clamped to
    ``[SHARD_SIZE_FLOOR, SHARD_SIZE_CAP]``.

    Corpora ≥ cap·parallelism docs keep the cap and already get far
    more shards than cores (10M docs / 32 cores → 65536, 153 shards —
    identical to the old fixed value); on a 1000-executor cluster the
    cap likewise yields shards ≫ cores, where wave scheduling absorbs
    shard skew.  The knob only moves for small/medium corpora, where
    parallelism — not per-shard overhead — is the binding constraint.
    """
    parallelism = max(int(parallelism), 1)
    target = max(1, -(-int(num_docs) // parallelism))  # ceil div
    dps = 1 << (target - 1).bit_length()
    return min(max(dps, floor), cap)


@dataclass
class BM25Index:
    """Handle to the index tables plus the global scalars."""

    spark: SparkSession
    postings: DataFrame          # (term, doc_id, dl, tf, term_id, df)
    term_stats: DataFrame        # (term, term_id, df)
    doc_lens: DataFrame          # (doc_id, dl)
    doc_map: DataFrame | None    # (doc_id, <original key/payload columns>)
    num_docs: int
    avg_doc_len: float
    k1: float = DEFAULT_K1
    b: float = DEFAULT_B
    delta: float = DEFAULT_DELTA
    tokenizer_kwargs: dict = field(default_factory=dict)
    sharded: DataFrame | None = None   # doc-sharded layout (see shards.py)
    docs_per_shard: int = 65536
    # build-internal cached stages (tokenized, tf) — released by unpersist()
    aux_persisted: list = field(default_factory=list)
    # {"method", "idf_method"} of a reference-format import
    # (compat.import_bm25s): scoring is pinned to that stored combination
    compat_import: dict | None = None
    # driver-side query metadata (shards.py: the term dictionary and the
    # pad pools): key -> (the table it was read from, value); an entry
    # is read only while that table is still the index's.  A build
    # seeds the dictionary, a merge carries pools over; a
    # ``dataclasses.replace`` view starts empty
    driver_cache: dict = field(default_factory=dict, init=False,
                               repr=False, compare=False)
    # (postings, the lineage-cut (doc_id, dl, term, tf) rows they join
    # to term_stats): a merge or compaction reads the rows while those
    # postings are still the index's.  A ``dataclasses.replace`` view
    # starts without them
    segments: tuple | None = field(default=None, init=False, repr=False,
                                   compare=False)

    def persist(self) -> "BM25Index":
        # a checkpointed table is stored by its first scan already
        for name in ("postings", "term_stats", "doc_lens"):
            df = getattr(self, name)
            if not is_cut(df):
                setattr(self, name, df.persist())
        return self

    def unpersist(self) -> None:
        for df in (self.postings, self.term_stats, self.doc_lens,
                   *self.aux_persisted):
            try:
                release(df)
            except Exception:
                pass
        self.driver_cache.clear()

    # ---- query API (delegates) -------------------------------------
    def retrieve(self, queries_df: DataFrame, k: int = 10, **kw) -> DataFrame:
        from bm25s_spark.retrieval import retrieve

        return retrieve(self, queries_df, k=k, **kw)

    def get_scores(self, queries_df: DataFrame, **kw) -> DataFrame:
        from bm25s_spark.retrieval import score_all

        return score_all(self, queries_df, **kw)

    def save(self, path: str, fmt: str = "parquet") -> None:
        from bm25s_spark.index_io import save_index

        save_index(self, path, fmt=fmt)


def narrow_tf(tokenized: DataFrame, tokens_col: str = "tokens",
              max_narrow_len: int = 4096,
              max_doc_len: int | None = None) -> DataFrame:
    """TF per (doc, term) WITHOUT a shuffle → (doc_id, dl, term, tf).

    A doc's tokens already sit in one row, so the reference's per-doc
    ``Counter`` (``reference/bm25s/scoring.py:238-243``) is a narrow
    per-row array computation: count each distinct token inside the
    array and explode the (term, tf) pairs; ``dl`` rides along instead
    of being joined back from doc_lens.  This removes two posting-size
    shuffles (the groupBy(doc_id, term) and the doc_lens join) from the
    build — the only remaining big shuffle is the sharded groupBy, i.e.
    the index layout itself.

    The narrow computation is O(distinct × len) per doc — trivial for
    turn-sized texts vs any shuffle, but quadratic-ish for megadocs, so
    docs longer than ``max_narrow_len`` take the classic
    explode → groupBy path instead (a shuffle bounded by the megadoc
    slice only; both branches read the same persisted tokenized stage).
    When the caller already knows the corpus max doc length
    (``max_doc_len``, free from the stats agg) and it fits the narrow
    path, the two-branch union — which would scan the cached tokens
    twice per downstream job, a measured ~25% flat-build tax — is
    skipped entirely.
    """
    toks = F.col(tokens_col)
    if max_doc_len is not None and max_doc_len <= max_narrow_len:
        short = tokenized
    else:
        short = tokenized.where(F.size(toks) <= max_narrow_len)
    tf_pairs = F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(toks, lambda x: x == t)).alias("tf"),
        ),
    )
    narrow = short.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(tf_pairs).alias("p"),
    ).select("doc_id", "dl", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
    if max_doc_len is not None and max_doc_len <= max_narrow_len:
        return narrow
    long_docs = tokenized.where(F.size(toks) > max_narrow_len)
    wide = (
        long_docs.select(
            "doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term")
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return narrow.unionByName(wide)


def stem_tf(tf_surface: DataFrame, stemmer,
            broadcast_max_terms: int = 2_000_000) -> DataFrame:
    """Fold surface-form TF rows into stemmed-term TF rows.

    Stemming is deterministic per token TYPE, so it never needs to run
    per occurrence: stem the distinct surface terms once (a vocab-sized
    pandas pass — the only Python in the whole build when the corpus
    scan used the JVM tokenizer), then join the ``(surface, stem)`` map
    back onto the TF table and re-aggregate ``(doc_id, stem)``.  Exactly
    equal to stemming every occurrence: tf sums over the surface forms
    of a stem, and ``dl`` is stem-invariant (stemming maps token→token
    after the stopword filter, preserving count).

    Scale shape: the map is checkpointed (it feeds one join; the stem
    UDF runs once), counted, and broadcast only while its term count is
    ≤ ``broadcast_max_terms`` — web-scale vocabularies (10⁸ surface
    forms) fall back to a shuffle join, which AQE plans alongside the
    groupBy's own posting-sized exchange.  The re-aggregation is
    map-side combinable and bounded by the postings themselves.

    MEASURED tradeoff (bench steps ``index_build_stemmed`` vs
    ``index_build_sqlstem``, 205k docs / ~31k surface forms): the fold
    is break-even to slightly SLOWER than the pandas engine's
    per-occurrence stemming — the tokenizer UDF memoizes stems per
    task, so each occurrence costs one dict hit, while the fold pays
    two posting-sized exchanges (the distinct and the re-aggregation).
    Choose this path when Python worker capacity is the constrained
    resource (it removes Python from the corpus scan entirely; the
    stem UDF touches only the vocab), not for single-host speed.
    """
    from bm25s_spark.tokenization import make_stem_udf
    from bm25s_spark.util import eager_checkpoint

    stem_udf = make_stem_udf(stemmer)
    mapping = eager_checkpoint(
        tf_surface.select("term").distinct().select(
            "term", stem_udf(F.col("term")).alias("_stem")
        ),
        reliable=True,
    )
    m = F.broadcast(mapping) if mapping.count() <= broadcast_max_terms \
        else mapping
    return (
        tf_surface.join(m, "term")
        .select("doc_id", "dl", F.col("_stem").alias("term"), "tf")
        .groupBy("doc_id", "dl", "term")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )


def build_index(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    stopwords="en",
    stemmer: str | None = None,
    token_pattern: str | None = None,
    empty_fallback: bool = False,
    keep_doc_map: bool = True,
    tokenizer_engine: str = "pandas",
) -> BM25Index:
    """Build the eager BM25 index from a document DataFrame.

    ``doc_id_col``: use an existing integer doc id column; otherwise dense
    ids are assigned by rank under ``order_cols`` (default
    ``(conv_id, turn_idx)`` — the transcripts doc-identity rule).

    ``tokenizer_engine="sql"`` tokenizes with pure JVM column
    expressions — same output as the default Arrow-UDF path for
    ASCII/ordinary-Unicode text, no Python in the corpus scan; the
    engine travels in ``tokenizer_kwargs`` so queries tokenize
    identically at retrieve time.  WITH a stemmer, the corpus scan is
    still pure-JVM (surface tokens) and stemming folds into a
    vocab-sized pass (:func:`stem_tf` — Python cost O(distinct terms),
    not O(corpus tokens); see its docstring for the measured tradeoff);
    query batches stem through the pandas twin ``make_tokenizer_udf``
    returns for this spec.  Engine asymmetry caveat for ``sql`` +
    stemmer: the CORPUS tokenizes under Java regex, the QUERY side
    under Python ``re`` (the pandas twin) — the engines differ on
    exotic Unicode word characters (superscript digits and the like),
    so corpus terms containing such characters can be unreachable from
    text queries.  Stemmer-less ``sql`` keeps both sides JVM and has no
    such asymmetry.
    """
    return build_pipeline(
        docs, doc_id_col, order_cols, keep_doc_map,
        dict(k1=k1, b=b, delta=delta),
        tokenizer_spec(stopwords, stemmer, empty_fallback,
                       tokenizer_engine, token_pattern),
        text_col=text_col,
    )


def tokenizer_spec(stopwords, stemmer: str | None, empty_fallback: bool,
                   engine: str = "pandas",
                   token_pattern: str | None = None) -> dict:
    """The tokenizer spec an index carries for its queries."""
    kw = dict(stopwords=stopwords, stemmer=stemmer,
              empty_fallback=empty_fallback)
    if token_pattern is not None:
        kw["token_pattern"] = token_pattern
    if engine != "pandas":
        kw["engine"] = engine
    return kw


def _persisting_stage(persisted: list):
    """The stage hook without a checkpoint directory (the call shape of
    ``checkpoint.Checkpointer.stage``): each stage is persisted at its
    level below, or cut (``util.cut_lineage``), and recorded in
    ``persisted``, or stays lazy.  ``tokenized`` feeds three branches
    (stats, TF, DF), so the one Python stage runs once; ``tf`` feeds the
    DF aggregation, the vocab pull and the postings join, which would
    each re-run the narrow explode (measured ~3× the per-pass cost on
    the bench build), and every later job over the postings and every
    later merge, which would otherwise walk every earlier build, so it
    is cut.  Both are postings-sized and spill to disk at scale;
    ``BM25Index.unpersist`` releases them with the index."""
    levels = {"tokenized": StorageLevel.MEMORY_AND_DISK,
              "term_stats": StorageLevel.MEMORY_AND_DISK_DESER}

    def stage(name, produce, metrics_fn=None):
        df = produce()
        if name == "tf":
            df = cut_lineage(df)
        elif name in levels:
            df = df.persist(levels[name])
        else:
            return df
        persisted.append(df)
        return df

    return stage


def build_pipeline(
    docs: DataFrame,
    doc_id_col: str | None,
    order_cols: list[str] | None,
    keep_doc_map: bool,
    params: dict,
    tok_kwargs: dict,
    text_col: str | None = None,
    tokens_col: str | None = None,
    stage=None,
    docs_per_shard: int | None = None,
) -> BM25Index:
    """doc ids → tokenize → corpus stats → tf → [stem fold] → term stats
    → postings, the build of :func:`build_index`,
    :func:`build_index_from_tokens` and
    ``checkpoint.build_index_checkpointed`` (``stage`` =
    ``Checkpointer.stage``; None persists in memory).  Tokens come from
    ``text_col`` under ``tok_kwargs``, or verbatim from ``tokens_col``;
    ``params`` holds k1, b and delta."""
    persisted: list = []
    hook = stage or _persisting_stage(persisted)

    def s_doc_ids():
        if doc_id_col is not None:
            return docs.withColumn("doc_id", F.col(doc_id_col).cast("long"))
        return assign_doc_ids(docs, order_cols, persisted_out=persisted)

    base = hook("doc_ids", s_doc_ids)
    stem_with = None
    if tokens_col is not None:
        tokens = F.col(tokens_col)
        doc_map = base.drop(tokens_col)
    else:
        spec = tok_kwargs
        if tok_kwargs.get("engine") == "sql" \
                and tok_kwargs["stemmer"] is not None:
            # JVM scan over SURFACE tokens; the stemmer spec stays in
            # tok_kwargs (query side) and folds into the TF (stem_tf)
            stem_with = tok_kwargs["stemmer"]
            spec = dict(tok_kwargs, stemmer=None)
        tokens = make_tokenizer_udf(**spec)(F.col(text_col))
        doc_map = base
    tokenized = hook(
        "tokenized",
        lambda: base.select("doc_id", tokens.alias("tokens")).select(
            "doc_id", "tokens", F.size("tokens").alias("dl")),
        lambda rows: {"docs_tokenized": rows},
    )

    def segments(max_dl: int) -> DataFrame:
        tf = narrow_tf(tokenized, max_doc_len=max_dl)
        if stem_with is None:
            return tf
        # ``dl`` is stem-invariant; the surface-form TF is consumed twice
        # by the fold (the distinct-term mapping and the re-aggregation
        # join), so it is cached and the explode runs once
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(tf)
        return stem_tf(tf, stem_with)

    return index_from_segments(
        segments, tokenized.select("doc_id", "dl"),
        doc_map if keep_doc_map else None, **params,
        tokenizer_kwargs=tok_kwargs, stage=stage, persisted=persisted,
        docs_per_shard=docs_per_shard,
    )


def index_from_segments(
    segments,
    doc_lens: DataFrame,
    doc_map: DataFrame | None,
    k1: float,
    b: float,
    delta: float,
    tokenizer_kwargs: dict | None,
    stage=None,
    persisted: list | None = None,
    docs_per_shard: int | None = None,
    pools_from: tuple = (),
    check_disjoint: bool = False,
) -> BM25Index:
    """The one index constructor: ``(doc_id, dl, term, tf)`` segments
    plus ``doc_lens`` → the index, with its term dictionary.

    ``segments`` is the rows, or a function of the corpus's longest doc
    length that returns them (the build's :func:`narrow_tf` skips its
    megadoc branch with it).  ``stage`` is the stage hook for ``tf``,
    ``term_stats`` and ``postings``, and ``persisted`` lists frames
    already cached for the index.  With ``stage=None`` the index is
    built in memory and comes back with its lineage cut: ``doc_lens``
    and the ``tf`` rows are cut (``util.cut_lineage``), and the
    corpus-stats and DF aggregations, their first full scans, store
    them.  So no job is added, and once this returns no job, merge or
    layout over the index reads the frames they came from.  Pass them
    unpersisted.  A pad pool one of ``pools_from`` has served becomes
    this index's when ``doc_lens`` holds no other doc id at or below its
    largest (the append pattern), and ``check_disjoint`` raises
    ``ValueError`` on a doc id ``doc_lens`` holds twice; both checks
    are counts in the corpus-stats aggregation, so they add no job
    while they pass."""
    spark = doc_lens.sparkSession
    persisted = [] if persisted is None else persisted
    if stage is None:
        stage = _persisting_stage(persisted)
        doc_lens = cut_lineage(doc_lens)
    else:
        doc_lens = doc_lens.persist()
    pools = [
        (key, pool) for idx in pools_from
        for key, (source, pool) in idx.driver_cache.items()
        if isinstance(key, tuple) and key[0] == PAD_POOL
        and source is idx.doc_lens and len(pool) == 2 * key[1]
    ]
    # one tiny action for the global scalars (reference does the same
    # single pass for avg_doc_len, reference/bm25s/__init__.py:357);
    # max(dl) rides along for free and lets narrow_tf skip the megadoc
    # union branch when the corpus has no megadocs
    agg = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"),
        F.max("dl").alias("maxdl"),
        *([F.countDistinct("doc_id").alias("ids")] if check_disjoint
          else []),
        *[F.count(F.when(F.col("doc_id") <= int(pool.max()), 1))
          .alias(f"_pool{j}") for j, (_, pool) in enumerate(pools)],
    ).collect()[0]
    num_docs = int(agg["n"])
    if check_disjoint and agg["ids"] != num_docs:
        clash = (
            doc_lens.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .take(1)
        )
        release(doc_lens)
        raise ValueError(
            f"doc_id {clash[0]['doc_id']} appears in more than one "
            "index; merge_indexes requires disjoint doc-id sets"
        )
    tf = stage("tf", lambda: segments(int(agg["maxdl"] or 0))
               if callable(segments) else segments)
    # DF per term: reference/bm25s/scoring.py:28-57 — map-side partial
    # aggregation bounds the shuffle at one row per term per partition
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # vocab with the empty-token patch (reference/bm25s/__init__.py:562-564):
    # "" joins the vocab (df=0 → contributes nothing, but OOV lookups hit it)
    empty_row = spark.range(1).select(
        F.lit("").alias("term"), F.lit(0).cast("long").alias("df")
    )  # JVM-native one-row relation: createDataFrame(rows) would put a
    # Python-worker scan into every downstream postings/save plan
    # max() dedups against a real "" term (possible when empty_fallback
    # inserted "" into documents — its true df>0 wins over the patch's 0)
    vocab = (
        dfreq.unionByName(empty_row).groupBy("term").agg(F.max("df").alias("df"))
    )
    # vocab-sized and narrow (term, df): ids assign driver-locally up to
    # VOCAB_LOCALIZE_MAX terms (one bounded Arrow pull + a pandas sort →
    # pure-JVM local relation) instead of the 3-job range-partitioner
    # path; web-scale vocabularies past the cap stay distributed
    vocab_local: list = []
    term_stats = stage("term_stats", lambda: assign_dense_ids(
        vocab, ["term"], "term_id", persisted_out=persisted,
        localize_max=VOCAB_LOCALIZE_MAX, localized_out=vocab_local,
    ).select("term", "term_id", "df"))
    # term_stats is vocab-sized → broadcast when small; Catalyst/AQE
    # picks the strategy
    postings = stage("postings", lambda: tf.join(term_stats, "term"),
                     lambda rows: {"postings_emitted": rows})

    index = BM25Index(
        spark=spark,
        postings=postings,
        term_stats=term_stats,
        doc_lens=doc_lens,
        doc_map=doc_map,
        num_docs=num_docs,
        avg_doc_len=float(agg["avgdl"] or 0.0),
        k1=k1,
        b=b,
        delta=delta,
        tokenizer_kwargs=dict(tokenizer_kwargs or {}),
        docs_per_shard=auto_docs_per_shard(
            num_docs, spark.sparkContext.defaultParallelism
        ) if docs_per_shard is None else docs_per_shard,
        aux_persisted=persisted,
    )
    index.segments = (postings, tf)
    if vocab_local:
        # the ids were numbered on the driver: that frame is already the
        # query path's term dictionary, so no query pulls it again
        index.driver_cache[TERM_DICT] = (
            term_stats, vocab_local[0][["term", "df"]].set_index("term"),
        )
    for j, (key, pool) in enumerate(pools):
        if agg[f"_pool{j}"] == len(pool):
            index.driver_cache[key] = (doc_lens, pool)
    return index


def build_index_from_tokens(
    docs: DataFrame,
    tokens_col: str = "tokens",
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    keep_doc_map: bool = True,
    query_tokenizer_kwargs: dict | None = None,
) -> BM25Index:
    """Build from a *pre-tokenized* corpus: (…, tokens: array<string>).

    The reference's ``index()`` accepts already-tokenized input —
    token-string lists, ``Tokenized`` tuples, or id lists
    (``reference/bm25s/__init__.py:517-560``) — so users with an existing
    tokenization pipeline can reuse it.  Tokens are taken verbatim (no
    lowercasing/stopwords/stemming applied).

    ``query_tokenizer_kwargs``: tokenizer config applied to *query text*
    at retrieve time (defaults to the standard config); pass the config
    that produced the corpus tokens for consistent retrieval.
    """
    return build_pipeline(
        docs, doc_id_col, order_cols, keep_doc_map,
        dict(k1=k1, b=b, delta=delta), dict(query_tokenizer_kwargs or {}),
        tokens_col=tokens_col,
    )


def build_index_from_token_ids(
    ids_df: DataFrame,
    vocab_df: DataFrame,
    ids_col: str = "token_ids",
    doc_id_col: str | None = None,
    order_cols: list[str] | None = None,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    delta: float = DEFAULT_DELTA,
    keep_doc_map: bool = True,
    query_tokenizer_kwargs: dict | None = None,
) -> BM25Index:
    """Build from integer token ids + a vocab table — the reference's
    ``Tokenized(ids, vocab)`` input (``reference/bm25s/__init__.py:517-547``).

    ``ids_df``: (…, token_ids: array<int>); ``vocab_df``: (term, term_id).
    TF is computed from the exploded ids (one groupBy on (doc_id, id) —
    bounded by per-doc distinct terms) and the vocab join is vocab-sized
    (broadcast), so no token-array rebuild is needed.
    """
    if doc_id_col is not None:
        base = ids_df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        base = assign_doc_ids(ids_df, order_cols)
    base = base.persist()
    tf = (
        base.select(
            "doc_id", F.size(ids_col).alias("dl"),
            F.explode(ids_col).alias("tid"),
        )
        .groupBy("doc_id", "dl", "tid")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(
            F.broadcast(
                vocab_df.select(F.col("term_id").alias("tid"), "term")
            ),
            "tid",
        )
        .select("doc_id", "dl", "term", "tf")
    )
    return index_from_segments(
        tf, base.select("doc_id", F.size(ids_col).alias("dl")),
        base.drop(ids_col) if keep_doc_map else None, k1, b, delta,
        query_tokenizer_kwargs,
    )


def merge_indexes(
    *indexes: BM25Index, check_disjoint: bool = True
) -> BM25Index:
    """Merge independently built indexes over DISJOINT doc-id sets into
    one index **exactly equal** to a single build over the union corpus.

    The reference rebuilds from scratch when the corpus grows; at 100 TB
    the natural pattern is instead *partitioned builds* — index each
    ingest batch (or each corpus partition) independently, then merge.
    The merge is cheap because the per-(doc, term) facts (``tf``, ``dl``)
    are corpus-independent: only the corpus-level statistics change, and
    those are recomputed exactly by the one index constructor
    (:func:`index_from_segments`), as a build computes them:

    - ``df`` = the DF aggregation over the unioned (doc_id, dl, term,
      tf) rows (map-side partial, one row per term per partition)
    - ``num_docs`` / ``avg_doc_len`` = one tiny agg over the unioned
      ``doc_lens`` (integer token counts sum exactly, so the mean is
      bit-identical to the full build's)

    No impact is stored, so the merged postings are the unioned
    (doc_id, dl, term, tf) rows joined to the merged ``term_stats``, and
    every score equals a from-scratch build's (asserted in tests).

    Scale shape: no tokenization re-run and no posting-sized shuffle;
    the posting-sized work is one scan of the sides' rows, which stores
    the merged copy the index keeps (its lineage is cut), and the vocab
    join every build already does.  Once this returns, the merged index
    reads nothing of its sides, which may be released
    (``BM25Index.unpersist``).  ``check_disjoint`` (a distinct count of
    doc ids in the corpus-stats aggregation; a second pass names the
    clash only when there is one) guards against overlapping doc ids —
    disable it when the partitioning scheme guarantees disjointness.
    A reference-format
    import (``compat.import_bm25s``) has no real (tf, dl) to rebuild
    from and raises ``ValueError``.

    Reference scope: the reference has no index merge (a corpus change
    re-runs ``index()``, ``reference/bm25s/__init__.py:326-438``); this
    implements the beyond-reference incremental-build mandate.
    """
    if not indexes:
        raise ValueError("merge_indexes needs at least one index")
    if len(indexes) == 1:
        return indexes[0]
    for i, idx in enumerate(indexes):
        if idx.compat_import is not None:
            raise ValueError(
                f"index {i} was imported from a reference-format save "
                "(compat.import_bm25s): it stores no tf/dl, so merge_indexes "
                "cannot rescore it; merge the source indexes instead"
            )
    head = indexes[0]
    for i, idx in enumerate(indexes[1:], start=1):
        if (idx.k1, idx.b, idx.delta) != (head.k1, head.b, head.delta):
            raise ValueError(
                f"index {i} has (k1, b, delta)=({idx.k1}, {idx.b}, {idx.delta}) "
                f"!= index 0's ({head.k1}, {head.b}, {head.delta}); impacts "
                "would be inconsistent"
            )
        if idx.tokenizer_kwargs != head.tokenizer_kwargs:
            raise ValueError(
                f"index {i} was built with tokenizer_kwargs="
                f"{idx.tokenizer_kwargs!r} != index 0's "
                f"{head.tokenizer_kwargs!r}; query tokenization would be "
                "ambiguous"
            )

    from functools import reduce

    doc_lens = reduce(
        lambda a, b: a.unionByName(b), (i.doc_lens for i in indexes)
    )
    tf = reduce(lambda a, b: a.unionByName(b), map(index_segments, indexes))

    doc_maps = [i.doc_map for i in indexes]
    doc_map = None
    if all(m is not None for m in doc_maps) and all(
        set(m.columns) == set(doc_maps[0].columns) for m in doc_maps
    ):
        doc_map = reduce(lambda a, b: a.unionByName(b), doc_maps)

    return index_from_segments(
        tf, doc_lens, doc_map, head.k1, head.b, head.delta,
        head.tokenizer_kwargs, pools_from=indexes,
        check_disjoint=check_disjoint,
    )


def index_segments(index: BM25Index) -> DataFrame:
    """The index's ``(doc_id, dl, term, tf)`` rows: the lineage-cut rows
    its postings were joined from while those postings are still the
    index's, else a projection of the postings.  The cut rows carry no
    join, so a constructor can cut them again without running a job."""
    if index.segments is not None and index.segments[0] is index.postings:
        return index.segments[1].select("doc_id", "dl", "term", "tf")
    return index.postings.select("doc_id", "dl", "term", "tf")


class SparkBM25:
    """Facade mirroring the reference's ``BM25`` class API
    (``reference/bm25s/__init__.py:143-1411``): ``index`` / ``retrieve`` /
    ``get_scores`` / ``save`` / ``load`` — but over DataFrames."""

    def __init__(
        self,
        k1: float = DEFAULT_K1,
        b: float = DEFAULT_B,
        delta: float = DEFAULT_DELTA,
        method: str = "lucene",
        idf_method: str | None = None,
    ):
        if method not in METHODS:
            raise ValueError(f"Invalid method {method!r}. Choose from {METHODS}.")
        self.k1, self.b, self.delta = k1, b, delta
        self.method = method
        self.idf_method = idf_method or method
        self.index_: BM25Index | None = None

    def index(self, docs: DataFrame, **kw) -> BM25Index:
        self.index_ = build_index(
            docs, k1=self.k1, b=self.b, delta=self.delta, **kw
        ).persist()
        return self.index_

    def retrieve(self, queries_df: DataFrame, k: int = 10, **kw) -> DataFrame:
        assert self.index_ is not None, "call index() first"
        kw.setdefault("method", self.method)
        kw.setdefault("idf_method", self.idf_method)
        return self.index_.retrieve(queries_df, k=k, **kw)

    def get_scores(self, queries_df: DataFrame, **kw) -> DataFrame:
        assert self.index_ is not None, "call index() first"
        kw.setdefault("method", self.method)
        kw.setdefault("idf_method", self.idf_method)
        return self.index_.get_scores(queries_df, **kw)


def index_stats(index: BM25Index) -> DataFrame:
    """One-row index summary → (num_docs, num_terms, num_postings,
    sum_tf, max_dl, max_df, avgdl) — the Lucene ``IndexReader`` /
    Elasticsearch ``_stats`` counters, derived from the index's own
    tables (the reference exposes the same facts as array shapes:
    ``reference/bm25s/__init__.py:275-305``).

    ``num_terms`` counts only real vocabulary (the df=0 ``""``
    OOV-patch row is excluded); ``sum_tf`` is the total token count
    (equals Σ dl by construction).  Three single-row aggregations
    (map-side partial, one tiny shuffle each) cross-joined — nothing
    is collected and nothing scales worse than one scan per table.
    """
    t = index.term_stats.where(F.col("df") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("num_terms"),
        F.max("df").cast("long").alias("max_df"),
    )
    p = index.postings.agg(
        F.count(F.lit(1)).cast("long").alias("num_postings"),
        F.sum("tf").cast("long").alias("sum_tf"),
    )
    d = index.doc_lens.agg(
        F.count(F.lit(1)).cast("long").alias("num_docs"),
        F.max("dl").cast("long").alias("max_dl"),
    )
    return d.crossJoin(t).crossJoin(p).select(
        "num_docs", "num_terms", "num_postings", "sum_tf", "max_dl",
        "max_df", F.lit(round(index.avg_doc_len, 6)).alias("avgdl"),
    )
