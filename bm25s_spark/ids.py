"""Scalable dense-ID assignment (0-based ranks under a total order).

``row_number() OVER (ORDER BY ...)`` collapses to a single-partition
window — a non-starter at 10^12 rows.  The scalable, JVM-only
equivalent used here:

1. range-repartition on the order key (total order across partitions)
2. per-partition ``row_number`` (window partitioned by
   ``spark_partition_id()`` — parallel across partitions)
3. per-partition counts → driver-side prefix sums (tiny collect:
   one long per partition) → broadcast offset join

The assigned id equals the row's global rank because the range
partitioner gives a total order and keys are unique; it is independent
of partition boundaries, so it is deterministic and checkpoint-stable
(SURVEY.md §7 hard-part 6).  No Python-side row serialization anywhere
(an earlier ``rdd.zipWithIndex`` implementation round-tripped every row
through pickle and re-ran on every downstream action — 100× slower).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def assign_dense_ids(df: DataFrame, order_cols: list[str], id_col: str,
                     persisted_out: list | None = None,
                     localize_max: int = 0,
                     localized_out: list | None = None) -> DataFrame:
    """Append ``id_col`` = rank of the row in the global ``order_cols``
    order (0-based, contiguous).  Requires ``order_cols`` to be a unique
    key.  Triggers one small job (per-partition counts); the returned
    DataFrame is persisted (MEMORY_AND_DISK) because its lineage contains
    that job's partitioning.

    The input is cached first (unless the caller already persisted it):
    ``repartitionByRange`` needs a sampling pass over the child plan
    BEFORE the exchange evaluates it, so an uncached input — often an
    expensive derivation — would be computed twice.  The sampling pass
    touches every partition, so it doubles as the cache's materializer
    and the exchange then reads cached rows.  Caches created here are
    appended to ``persisted_out`` (when given) so callers can release
    them with their own lifecycle.

    ``localize_max`` > 0 enables a driver-local fast path for NARROW
    inputs bounded by it (e.g. the build's vocab table): one bounded
    ``limit(localize_max+1)`` Arrow pull, a pandas sort (UTF-8 binary
    string order ≡ Spark's, integer order identical), and a pure-JVM
    local relation back — replacing the range-partitioner sample job,
    the window, the counts collect and the offsets join with a single
    job.  Only string/integer, null-free order columns qualify (other
    types/NULLs keep Spark's ordering authority); oversized inputs pay
    one discarded bounded pull and fall through to the distributed
    path.  Callers must only enable this when a localized row (all
    columns) is small — the pull is the whole row, not just the key.
    When the local path runs, its driver-side frame (the input's columns
    plus ``id_col``, sorted) is appended to ``localized_out`` (when
    given)."""
    spark = df.sparkSession
    if localize_max and not df.isStreaming:
        import pandas as pd

        probe = df.limit(localize_max + 1).toPandas()
        if len(probe) <= localize_max and _localizable(probe, order_cols):
            from pyspark.sql.types import LongType, StructField, StructType

            out_pdf = probe.sort_values(
                order_cols, kind="mergesort", ignore_index=True
            )
            out_pdf[id_col] = pd.RangeIndex(len(out_pdf)).astype("int64")
            if localized_out is not None:
                localized_out.append(out_pdf)
            schema = StructType(
                list(df.schema.fields) + [StructField(id_col, LongType(), False)]
            )
            return spark.createDataFrame(out_pdf, schema=schema)
    src = df
    if df.storageLevel == StorageLevel.NONE:
        # NOTE: persist() marks the CALLER's DataFrame object cached — a
        # deliberate side effect.  Beyond keeping the range sampler and
        # the exchange's map stage from evaluating the source twice, the
        # cache serves every later consumer of the same input frame (a
        # corpus used to build several index variants, metadata pulls,
        # analytics passes over the same corpus object).  Releasing it
        # here was tried and measured a 4×-corpus REGRESSION (~1.7× on
        # corpus-rescanning steps): the memory tier of an idle
        # MEMORY_AND_DISK cache is evicted under pressure, while a
        # released-but-needed cache costs a full recomputation.  Its
        # disk tier is not evicted and holds until unpersist: long-lived
        # sessions release it through ``persisted_out`` (the caller
        # unpersists every tracked frame) or by unpersisting the df.
        src = df.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(src)
    part = (
        src.repartitionByRange(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if persisted_out is not None:
        persisted_out.append(part)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    with_rn = part.withColumn("_rn", F.row_number().over(w))
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    from bm25s_spark.util import local_relation

    offset_df = local_relation(spark, offsets, "_pid int, _offset long")
    out = (
        with_rn.join(F.broadcast(offset_df), "_pid")
        .withColumn(id_col, (F.col("_offset") + F.col("_rn") - 1).cast("long"))
        .drop("_pid", "_rn", "_offset")
    )
    return out


def _localizable(pdf, order_cols: list[str]) -> bool:
    """True when pandas ordering of ``order_cols`` provably matches
    Spark's: string (Python str — code-point order ≡ UTF-8 binary) or
    integer dtypes, no NULLs.  Anything else (floats/NaN, timestamps,
    mixed object columns) keeps the distributed path."""
    import numpy as np

    for c in order_cols:
        s = pdf[c]
        if s.isna().any():
            return False
        if np.issubdtype(s.dtype, np.integer):
            continue
        if s.dtype == object and all(isinstance(v, str) for v in s):
            continue
        return False
    return True


def assign_doc_ids(df: DataFrame, order_cols: list[str] | None = None,
                   persisted_out: list | None = None) -> DataFrame:
    """Doc identity rule for transcripts (FIXTURES.md §1): one document per
    turn, ``doc_id`` = rank under ``(conv_id, turn_idx)`` — the positional
    doc id of the reference's stably-ordered corpus (SURVEY.md §1.3)."""
    if order_cols is None:
        order_cols = ["conv_id", "turn_idx"]
    return assign_dense_ids(df, order_cols, "doc_id", persisted_out)
