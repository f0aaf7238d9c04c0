"""Benchmark entry point: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload batch_query --seed 1 --seconds 18 --trace 0

Run from the root of a source checkout (the ``bm25s_spark`` package must
sit next to ``perfbench/``).  Set-up generates the seeded inputs, starts
Spark on ``local[nproc]``, ingests the corpus and warms the query path;
the timed closed loop then runs for ``--seconds``; afterwards sampled
results and the final index are checked against a DuckDB oracle.  The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  Everything the
run writes stays under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

WORKLOADS = ("batch_query", "serve")
ROOT = Path(__file__).resolve().parent.parent
JVM_HEAP = "2g"



def declared_units(key: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run prints exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[key]}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    local = work / "spark-local"
    tmp = work / "tmp"
    shutil.rmtree(local, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    local.mkdir(parents=True)
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # java.io.tmpdir for the JVM; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = None


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the SparkContext, then end the gateway JVM (it exits when its
    stdin closes) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _traced_query_tokenizer(tracer) -> None:
    """Time the in-process query tokenizer where the sharded retrieval
    path calls it, as a span under the retrieve call."""
    import bm25s_spark.shards as shards

    factory = shards.make_local_tokenizer

    def traced_factory(**kw):
        tok = factory(**kw)
        if tok is None:
            return None

        def run(series):
            with tracer.span("tokenization.query"):
                return tok(series)

        return run

    shards.make_local_tokenizer = traced_factory


def main(argv: list[str]) -> int:
    args = _parse(argv)
    t0 = time.perf_counter()
    if not (ROOT / "bm25s_spark" / "__init__.py").is_file():
        print(f"perfbench: no bm25s_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_run"
    _isolate(work)
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    sys.path.insert(0, str(ROOT))

    from bm25s_spark.session import get_spark
    from perfbench.tracing import Tracer
    from perfbench.workloads import Workload

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark"):
        # one shuffle partition per core, the sizing the repo's tests use
        spark = get_spark(
            "perfbench", cores=nproc, shuffle_partitions=nproc,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            _traced_query_tokenizer(tracer)
        wl = Workload(spark, args.workload, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.run(args.seconds)
        n_bad, msgs = wl.verify()
        failed_ops = {i for i, o in enumerate(wl.ops) if not o["ok"]}
        attempted = len(wl.ops)
        failed = min(attempted, len(failed_ops) + n_bad)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if args.trace:
            metrics = wl.per_layer()
            units = declared_units("per_layer")
            spans = work / f"spans-{args.workload}-seed{args.seed}.jsonl"
            tracer.write(spans)
        else:
            metrics = wl.end_to_end()
            metrics.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb,
                           success_rate=1.0 - failed / max(attempted, 1))
            units = declared_units("end_to_end")
            spans = None
        details = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "nproc": nproc,
            "loadavg_start": load_start,
            "ops": attempted,
            "queries": sum(o.get("queries", 0) for o in wl.ops),
            "refreshes": sum(o["kind"] == "refresh" for o in wl.ops),
            "query_tail": wl.tail(),
            "window_s": wl.window_s, "spans_file": spans and str(spans),
            "latencies": [[o["kind"][0], round(o["latency"], 3)]
                          for o in wl.ops],
            "errors": (wl.errors + msgs)[:10],
        }
    finally:
        _stop_spark(spark)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} != BENCHMARK.json "
                           f"{sorted(units)}")
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
