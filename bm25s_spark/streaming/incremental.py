"""Incremental indexing via Structured Streaming ``foreachBatch``.

The reference's ``streaming_tokenize`` (a Python generator with
``update_vocab`` modes True/False/"never"/"if_empty",
``reference/bm25s/tokenization.py:273-365``) maps onto micro-batch
ingestion: each batch of new transcript turns is tokenized with the same
UDF, assigned doc_ids *after* the current high-water mark, and appended
to the postings/doc_lens tables; the vocab table grows (or not)
according to ``update_vocab``.

Statistics: BM25 scores depend on the global ``avg_doc_len``/``df``/
``num_docs``, so appended postings store only (tf, dl).
:meth:`IncrementalIndexer.to_index` hands the raw postings — already
the ``(doc_id, dl, term, tf)`` segment shape — to the one index
constructor every build uses (``indexer.index_from_segments``), which
derives the statistics of everything ingested so far; queries compute
impacts from them, so no stored value goes stale.  The reference's
index is immutable after ``index()`` (SURVEY.md §7 hard-part 5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25s_spark.ids import assign_dense_ids
from bm25s_spark.indexer import index_from_segments, narrow_tf
from bm25s_spark.scoring import DEFAULT_B, DEFAULT_DELTA, DEFAULT_K1
from bm25s_spark.tokenization import make_tokenizer_udf


class IncrementalIndexer:
    """Append-only micro-batch index maintenance over parquet dirs
    (Iceberg tables on a cluster — same calls modulo format).

    Directory layout:
        <root>/raw_postings/   (doc_id, term, tf, dl)  — append per batch
        <root>/doc_lens/       (doc_id, dl)            — append per batch
        <root>/vocab/          (term)                  — union per batch
    """

    def __init__(self, spark: SparkSession, root: str,
                 update_vocab: str | bool = True, **tokenizer_kwargs):
        if update_vocab not in (True, False, "never", "if_empty"):
            raise ValueError(f"invalid update_vocab {update_vocab!r}")
        self.spark = spark
        self.root = root
        self.update_vocab = update_vocab
        self.tokenizer_kwargs = tokenizer_kwargs
        self._udf = make_tokenizer_udf(**tokenizer_kwargs)

    # paths -----------------------------------------------------------
    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _exists(self, name: str) -> bool:
        return os.path.isdir(self._p(name))

    def _high_water(self) -> int:
        if not self._exists("doc_lens"):
            return 0
        row = self.spark.read.parquet(self._p("doc_lens")).agg(
            F.max("doc_id").alias("m")
        ).collect()[0]
        return (row["m"] + 1) if row["m"] is not None else 0

    def vocab(self) -> DataFrame | None:
        return (
            self.spark.read.parquet(self._p("vocab"))
            if self._exists("vocab") else None
        )

    # ingestion --------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch sink: tokenize, id-assign past the high-water
        mark, append postings/doc_lens, maintain vocab per update_vocab."""
        base = assign_dense_ids(batch_df, ["conv_id", "turn_idx"], "_rank")
        offset = self._high_water()
        toks = base.select(
            (F.col("_rank") + offset).alias("doc_id"),
            self._udf(F.col("text")).alias("tokens"),
        ).withColumn("dl", F.size("tokens")).persist()

        known_vocab = self.vocab()
        # one tiny agg on the persisted batch: lets narrow_tf skip the
        # megadoc union branch for turn-sized micro-batches
        mx = toks.agg(F.max("dl").alias("m")).collect()[0]["m"]
        tf = narrow_tf(toks, max_doc_len=int(mx or 0))
        uv = self.update_vocab
        # reference semantics (reference/bm25s/tokenization.py:273-365):
        # a batch that does not update the vocab drops every out-of-vocab
        # term — including the degenerate "never with an empty vocab"
        # case, where everything is dropped
        updates_vocab = uv is True or (uv == "if_empty" and known_vocab is None)
        if not updates_vocab:
            vocab_df = known_vocab if known_vocab is not None else (
                self.spark.createDataFrame([], "term string")
            )
            tf = tf.join(F.broadcast(vocab_df), "term", "left_semi")
        tf.write.mode("append").parquet(self._p("raw_postings"))
        toks.select("doc_id", "dl").write.mode("append").parquet(self._p("doc_lens"))

        if updates_vocab:
            new_terms = tf.select("term").distinct()
            if known_vocab is not None:
                new_terms = new_terms.join(known_vocab, "term", "left_anti")
            new_terms.write.mode("append").parquet(self._p("vocab"))
        toks.unpersist()

    def attach(self, stream_df: DataFrame, checkpoint: str, trigger_once: bool = True):
        """Wire onto a streaming DataFrame of transcript turns."""
        writer = (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # finalize ---------------------------------------------------------
    def to_index(self, k1: float = DEFAULT_K1, b: float = DEFAULT_B,
                 delta: float = DEFAULT_DELTA):
        """The accumulated raw postings under the *current* global
        stats → a queryable BM25Index (the epoch-refresh pass)."""
        read = self.spark.read.parquet
        return index_from_segments(
            read(self._p("raw_postings")), read(self._p("doc_lens")), None,
            k1, b, delta, self.tokenizer_kwargs,
        )
