"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same configs are what we would ship in
``spark-defaults.conf`` on a real cluster (AQE on, skew-join on, Arrow on).
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

from pyspark.sql import SparkSession

# the worker daemon (``_daemon/bm25s_spark_daemon.py``): a directory of
# its own on the workers' PYTHONPATH, see ``_worker_conf``
DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_daemon")
DAEMON_MODULE = "bm25s_spark_daemon"
# longest AF_UNIX socket path, without the terminating NUL
SUN_PATH_MAX = 103 if sys.platform == "darwin" else 107


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
        # stages); a fixed heap + ParallelGC keeps memory stable.
        # Every build and merge loads tens of generated classes, and the
        # default ~21 MB metaspace threshold turns that into a full GC
        # (40–200 ms, growing with the live heap) every few builds,
        # landing on whatever call runs next; a 256 MB threshold defers
        # class unloading until the generated classes take that much
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+UseParallelGC -XX:MetaspaceSize=256m")
        # 1 MB Tungsten pages, not the 16-64 MB Spark derives from the
        # heap: every sort task and string-keyed broadcast hash relation
        # takes a page, and the pages a query holds get promoted on the
        # pinned heap (2 GB heap: RSS grew ~28 MB per 1024-query sharded
        # batch with 16 MB pages, ~11 MB with 1 MB pages)
        .config("spark.buffer.pageSize", "1m")
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
    conf = _worker_conf(tempfile.gettempdir())
    for key, val in (extra_conf or {}).items():
        if key == "spark.executorEnv.PYTHONPATH" and key in conf:
            val = os.pathsep.join([conf[key], str(val)])
        conf[key] = val
    for key, val in conf.items():
        builder = builder.config(key, str(val))
    spark = builder.getOrCreate()
    _ship_package(spark)
    _warm_python_bridge(spark)
    return spark


def _worker_conf(socket_dir: str) -> dict:
    """Confs that cut the fixed cost of a Python-worker task.

    The worker daemon runs as ``bm25s_spark_daemon``, which stops every
    task from re-reading the zip archives on ``sys.path`` (see that
    module); its directory goes on the workers' PYTHONPATH, which
    reaches them in local mode.  The JVM talks to the daemon, its
    workers and the driver's accumulator server over Unix sockets, not
    loopback TCP, when a socket path fits: Spark names the files
    ``.<uuid4>.sock`` in ``socket_dir`` and fails at SparkContext start
    if the path is longer than AF_UNIX allows, so a long ``socket_dir``
    keeps TCP."""
    conf = {
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": DAEMON_DIR,
    }
    socket_dir = os.path.abspath(socket_dir)
    sock = os.path.join(socket_dir, f".{uuid.uuid4()}.sock")
    if len(os.fsencode(sock)) <= SUN_PATH_MAX:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = socket_dir
    return conf


_WARMED: set = set()


def _warm_python_bridge(spark: SparkSession) -> None:
    """Absorb the Python-bridge first-use cost at session creation.

    The first job over a pickled Python relation (a plain
    ``createDataFrame(rows)`` frame — e.g. a user's interactive query
    batch) starts the worker daemon and its first workers: 2.9 s on
    ``local[4]``, where later such jobs take 0.08-0.11 s (median of 5
    on a 4-core host).  Without this, the cost lands on whichever query
    first consumes such a frame; one 1-row warm job at session start
    keeps steady-state query latency honest.  The job reads its one row
    to the end; under a ``limit`` the worker would write to a socket
    the JVM had closed."""
    app = spark.sparkContext.applicationId
    if app in _WARMED:
        return
    _WARMED.add(app)
    try:
        spark.createDataFrame([(0,)], "warm int").toPandas()
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
