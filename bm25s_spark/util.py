"""Shared plan-materialization and lineage helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a LOW-parallelism input up to the
    session's default parallelism before per-row-expensive work.

    A small single-file parquet table plans as one scan split, pinning
    the whole downstream computation (shingle hashing, vector math) to
    one core of the host (guide: input skew — repartition immediately
    after the read).  At scale the scan already has ≥ parallelism
    splits and this is a no-op, so the shuffle only ever moves
    small-table bytes.  Purely physical: row content is unchanged, and
    every caller's downstream aggregation is partition-order
    insensitive."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur < target:
        return df.repartition(target)
    return df


def local_relation(spark, rows, schema) -> DataFrame:
    """JVM-native local relation from driver-side rows.

    ``spark.createDataFrame(rows, schema)`` over a plain Python row list
    plans a pickled-RDD scan (``Scan ExistingRDD``): EVERY consuming job
    re-deserializes the rows through a Python worker — a broadcast join
    over such a relation took 0.11 s against 0.09 s for the Arrow path's
    pure-JVM ``LocalTableScan`` (200 rows, 4 cores), and the hot query
    paths consume their batch-sized local tables (query terms,
    expansion terms, id maps) from several broadcast builds per plan,
    each paying that worker task.  Routing the rows through a pandas frame
    (Arrow conversion) plants a ``LocalTableScan`` instead — no Python
    anywhere in the consuming plans (guide §4).

    ``schema`` may be a StructType, a DDL string, or a plain
    column-name list (type inference, like ``createDataFrame``).  Falls
    back to the classic path when the Arrow conversion rejects the data
    (exotic element types).  Caveat: float NaN values round-trip as
    NULL under Arrow — callers' row data must be NaN-free (all current
    call sites ship finite aggregates).
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    rows = rows if isinstance(rows, list) else list(rows)
    try:
        st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
        if isinstance(st, StructType):
            pdf = pd.DataFrame(rows, columns=st.names)
            return spark.createDataFrame(pdf, schema=st)
        # plain column-name list: keep type inference semantics
        pdf = pd.DataFrame(rows, columns=list(schema))
        return spark.createDataFrame(pdf)
    except Exception:
        return spark.createDataFrame(rows, schema)


def eager_checkpoint(df: DataFrame, reliable: bool = True) -> DataFrame:
    """Materialize ``df`` now and TRUNCATE its lineage.

    ``reliable=True`` (data that feeds a plan RETURNED to the caller):
    use the reliable checkpoint when a checkpoint dir is configured —
    on a cluster, localCheckpoint blocks die with their executor and a
    destroyed upstream (broadcast, unpersisted cache) leaves no
    recompute path.  Cluster deployments should enable
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` so checkpoint
    files are reclaimed when the DataFrame is garbage-collected.

    ``reliable=False`` (loop-internal intermediates that never outlive
    the call): ALWAYS localCheckpoint — fault tolerance for a round of
    an iterative operator is pointless (on executor loss the operator
    re-runs), and writing every round's full dataset to the reliable
    checkpoint dir accumulates disk without bound on long-lived
    sessions.

    Lineage MUST be cut each round in iterative operators: stacking
    self-referencing unions/joins grows the logical plan super-linearly
    and overflows the JVM stack after ~8 rounds (persist alone does NOT
    truncate lineage).
    """
    spark = df.sparkSession
    if reliable and spark.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def cut_lineage(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut at its first computation, which also
    stores it.

    The reliable checkpoint when a checkpoint dir is configured (the
    rule of :func:`eager_checkpoint` for returned data); otherwise a
    local checkpoint kept serialized in executor memory, spilling to
    disk.  No job runs here for a plan without an exchange; adaptive
    execution runs a plan's exchange and broadcast stages to build its
    RDD, so cut plans without one.  The first job over the result
    should scan every partition: a job that computes only some makes
    Spark run one more for the rest.  Index tables are cut this way
    because every job over a frame, and every frame built from it,
    otherwise walks its whole history (:func:`release` frees the stored
    blocks)."""
    from pyspark.storagelevel import StorageLevel

    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False,
                              storageLevel=StorageLevel.MEMORY_AND_DISK)


def _cut_rdd(df: DataFrame):
    """The JVM RDD a checkpointed ``df`` scans, or None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" \
        else None


def is_cut(df: DataFrame) -> bool:
    """Whether ``df``'s plan is one scan of an existing RDD, as a
    checkpoint's is."""
    return _cut_rdd(df) is not None


def release(df: DataFrame) -> None:
    """Unpersist ``df`` and, for a checkpoint, free its stored blocks:
    ``DataFrame.unpersist`` does not touch those, which otherwise stay
    until the JVM collects the RDD.  Frames built from ``df`` that have
    not yet been computed can no longer be."""
    df.unpersist()
    rdd = _cut_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)
