"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configs are what we would ship in
``spark-defaults.conf`` on a real cluster (AQE on, skew-join on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bm25s_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local parallelism (defaults to $SPARK_GRAFT_CPUS or 32).
    shuffle_partitions: defaults to max(cores, 32) — small enough for
    local tests, and on a real cluster AQE coalesces anyway.
    extra_conf: per-caller config overrides (applied last).  A
    ``spark.driver.memory`` override also sizes the pinned initial heap.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)
    mem = (
        (extra_conf or {}).get("spark.driver.memory")
        or os.environ.get("SPARK_DRIVER_MEM")
        or _default_driver_mem()
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # pin the heap (-Xms = -Xmx): G1's commit/uncommit cycles cause
        # kernel-side TLB-shootdown storms on many-vCPU VMs (observed:
        # 40% sys time, half the cores idle, runqueue 20+ during pure-JVM
        # stages); a fixed heap + ParallelGC keeps memory stable
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill dir: prefer tmpfs. On this single-node sandbox the
    # lone ext4 disk (~200 MB/s) is a shared bottleneck that serializes
    # shuffle I/O no matter the core count — a false ceiling that a real
    # cluster (local NVMe per executor, aggregate bandwidth ∝ executors)
    # doesn't have. $SPARK_LOCAL_DIRS still wins if the user sets it.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/bm25s_spark_local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, str(val))
    spark = builder.getOrCreate()
    _ship_package(spark)
    _warm_python_bridge(spark)
    return spark


_WARMED: set = set()


def _warm_python_bridge(spark: SparkSession) -> None:
    """Absorb the Python-bridge first-use cost at session creation.

    The FIRST task that executes a pickled Python relation (a plain
    ``createDataFrame(rows)`` frame — e.g. a user's interactive query
    batch) pays ~1.5 s of one-time bridge initialization in this
    runtime, and the pandas-UDF worker pool does NOT warm that path
    (measured: first pickled scan costs the same after UDF jobs).
    Without this, the cost lands on whichever query first consumes such
    a frame; one 1-row warm job at session start keeps steady-state
    query latency honest.  Scale-independent (one 1-row task, once per
    session)."""
    app = spark.sparkContext.applicationId
    if app in _WARMED:
        return
    _WARMED.add(app)
    try:
        spark.createDataFrame([(0,)], "warm int").limit(1).toPandas()
    except Exception:
        pass


def _default_driver_mem() -> str:
    """Default heap sized to the machine, not a constant: local mode
    runs driver + executors in ONE JVM, so an 8 g heap on a large host
    starves the block manager once build caches and shuffle state scale
    up (observed: cache eviction/extra spill at 4× the bench corpus).
    An eighth of physical RAM, clamped to [8g, 24g] — overridable via
    $SPARK_DRIVER_MEM, and cluster deployments size executors
    explicitly anyway."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(max(total_gb // 8, 8), 24)}g"
    except OSError:
        pass
    return "8g"


def _ship_package(spark: SparkSession) -> None:
    """Ship ``bm25s_spark`` to executors as a zip (the ``spark-submit
    --py-files`` deployment path) so UDF closures deserialize no matter
    where the driver was launched from."""
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # key the cached zip by a content digest, not the path hash: a stale
    # zip surviving across edits would silently run outdated UDF code on
    # executors
    digest = hashlib.md5()
    sources = sorted(pkg_dir.rglob("*.py"))
    for py in sources:
        digest.update(str(py.relative_to(pkg_dir)).encode())
        digest.update(py.read_bytes())
    zip_path = (
        pathlib.Path(tempfile.gettempdir())
        / f"bm25s_spark-{digest.hexdigest()[:16]}.zip"
    )
    if not zip_path.exists():
        tmp = zip_path.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, f"bm25s_spark/{py.relative_to(pkg_dir)}")
        tmp.rename(zip_path)
    try:
        spark.sparkContext.addPyFile(str(zip_path))
    except Exception:
        pass  # already added in this context
