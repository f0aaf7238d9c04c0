"""Session factory configuration."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_driver_memory_override_sizes_heap(tmp_path):
    """``extra_conf={"spark.driver.memory": ...}`` must size the pinned
    initial heap too: with -Xms taken from the machine default instead,
    the JVM refuses to start ("Initial heap size set to a larger value
    than the maximum heap size").  Runs in a fresh interpreter because
    driver memory only applies when the JVM launches."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from bm25s_spark import SparkBM25, get_spark
        from bm25s_spark.transcripts import transcripts_df

        spark = get_spark("heap-override", cores=2, shuffle_partitions=2,
                          extra_conf={{"spark.driver.memory": "2g"}})
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        engine = SparkBM25()
        engine.index(transcripts_df(spark, "t1"))
        qdf = spark.createDataFrame(
            [("q1", "a cat is a feline, it's sometimes beautiful but "
             "cannot fly")],
            "query_id string, text string")
        docs = [r.doc_id for r in
                engine.retrieve(qdf, k=2).orderBy("rank").collect()]
        print("RESULT", rt.maxMemory() // 2**20, docs)
        spark.stop()
    """)
    env = dict(os.environ)
    env.pop("SPARK_DRIVER_MEM", None)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT")]
    assert line, proc.stdout[-2000:]
    _, max_mb, docs = line[0].split(" ", 2)
    assert int(max_mb) <= 2048
    assert docs == "[0, 2]"
