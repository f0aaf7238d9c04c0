"""The Python worker daemon ``get_spark`` configures: zip archives are
re-read only when they change, the daemon starts from any working
directory, and Unix sockets are used only where their path fits."""

from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from bm25s_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def daemon_mod():
    """A fresh copy of the daemon module (its stamp table empty)."""
    path = os.path.join(session.DAEMON_DIR, f"{session.DAEMON_MODULE}.py")
    spec = importlib.util.spec_from_file_location("_daemon_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name in modules:
            zf.writestr(f"{pkg}/{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch, daemon_mod):
    """``invalidate_caches()`` re-reads an archive only after it changed
    on disk; a module added to the rewritten archive then imports."""
    pkg = f"zipped_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, pkg, ["first"])
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon_mod.invalidate_caches)
    assert importlib.import_module(f"{pkg}.first").NAME == "first"
    importlib.invalidate_caches()  # stamps the archive

    reads: list = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, pkg, ["first", "second"])
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module(f"{pkg}.second").NAME == "second"
    for name in (pkg, f"{pkg}.first", f"{pkg}.second"):
        del sys.modules[name]


def test_broken_pipe_ends_the_worker_quietly(daemon_mod):
    """A worker whose socket the JVM closed returns exit code 1; any
    other error still propagates."""
    def closed(sock, authenticated):
        raise BrokenPipeError(32, "Broken pipe")

    def failing(sock, authenticated):
        raise ValueError("boom")

    assert daemon_mod.quiet_broken_pipe(closed)(None, True) == 1
    with pytest.raises(ValueError):
        daemon_mod.quiet_broken_pipe(failing)(None, True)


def test_socket_dir_keeps_tcp_when_path_is_too_long():
    """Spark names a socket ``<dir>/.<uuid4>.sock`` (43 bytes after the
    directory); a path longer than AF_UNIX allows keeps TCP."""
    longest = session.SUN_PATH_MAX - 43
    fits = "/" + "d" * (longest - 1)
    too_long = fits + "d"
    conf = session._worker_conf(fits)
    assert conf["spark.python.unix.domain.socket.enabled"] == "true"
    assert conf["spark.python.unix.domain.socket.dir"] == fits
    tcp = session._worker_conf(too_long)
    assert "spark.python.unix.domain.socket.enabled" not in tcp
    assert "spark.python.unix.domain.socket.dir" not in tcp
    for c in (conf, tcp):
        assert c["spark.python.daemon.module"] == session.DAEMON_MODULE
        assert c["spark.executorEnv.PYTHONPATH"] == session.DAEMON_DIR


def test_zip_added_after_first_task_imports(spark, tmp_path):
    """A zip shipped with ``addPyFile`` after the session's first Python
    task imports inside a later ``mapInPandas`` task: the case PySpark's
    per-task cache invalidation exists for."""
    import pandas as pd

    spark.range(4).mapInPandas(lambda it: it, "id long").count()
    pkg = f"late_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{pkg}.zip"
    _write_zip(archive, pkg, ["mod"])
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        mod = importlib.import_module(f"{pkg}.mod")
        for b in batches:
            yield pd.DataFrame({"name": [mod.NAME] * len(b)})

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(
        probe, "name string").collect()
    assert [r["name"] for r in rows] == ["mod"] * 8


def test_udf_runs_from_a_cwd_holding_another_package(tmp_path):
    """``python -m`` puts the working directory first on the daemon's
    ``sys.path``; a different ``bm25s_spark`` there must not stop the
    daemon from starting."""
    other = tmp_path / "bm25s_spark"
    other.mkdir()
    (other / "__init__.py").write_text("raise ImportError('not the engine')\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from bm25s_spark.session import get_spark
        spark = get_spark("cwd-probe", cores=2, shuffle_partitions=2,
                          extra_conf={{"spark.ui.showConsoleProgress": "false"}})
        n = spark.range(0, 6, numPartitions=2).mapInPandas(
            lambda it: (b * 2 for b in it), "id long").count()
        print("rows", n)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 6" in out.stdout
