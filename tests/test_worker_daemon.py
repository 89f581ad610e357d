"""The engine's Python worker daemon (``_daemon.py``): pyspark's per-task
``importlib.invalidate_caches()`` must not re-read every zip archive on the
worker path, and a changed or added archive must still be seen."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from sqldataintegrationfunctiontriggerapp_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "sqldataintegrationfunctiontriggerapp_spark._daemon"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_task_invalidation_rereads_no_archive(spark):
    """Inside a task, invalidate_caches() reads no zip directory (the stock
    3.11 daemon reads one per zipimporter: 16 on a local Spark install)."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON

    def probe(_):
        import importlib
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield sys.modules["__main__"].__spec__.name, importers, len(reads)

    for forked_from, importers, reads in (
        spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    ):
        assert forked_from == DAEMON
        assert importers >= 3  # pyspark.zip, py4j zip, spark-core jar
        assert reads == 0


def test_warm_workers_import_an_added_py_file(spark, tmp_path):
    """addPyFile mid-session: the next task on an already-running worker
    imports the new archive's module."""
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).map(lambda x: x).collect()  # warm workers
    name = f"graft_added_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    sc.addPyFile(str(archive))
    try:
        got = sc.parallelize(range(4), 4).map(
            lambda _: importlib.import_module(name).VALUE
        ).collect()
    finally:
        # addPyFile also puts the archive on this process's path
        sys.path[:] = [p for p in sys.path if not p.endswith(f"{name}.zip")]
    assert got == [42] * 4


@pytest.fixture
def lazy_zipimport():
    """install() in this process, undone afterwards."""
    cls = zipimport.zipimporter
    saved = {k: vars(cls)[k] for k in ("_files", "invalidate_caches")
             if k in vars(cls)}
    _daemon.install()
    yield
    for k in ("_files", "invalidate_caches"):
        if k in saved:
            setattr(cls, k, saved[k])
        elif k in vars(cls):
            delattr(cls, k)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is lazy")
def test_shim_rereads_rewritten_archive_on_next_lookup(
    tmp_path, monkeypatch, lazy_zipimport
):
    stem = f"graft_zip_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {f"{stem}_a": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    try:
        assert importlib.import_module(f"{stem}_a").VALUE == 1
        _write_zip(archive, {f"{stem}_a": "VALUE = 1\n", f"{stem}_b": "VALUE = 2\n"})
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []  # deferred to the next lookup
        assert importlib.import_module(f"{stem}_b").VALUE == 2
        assert reads == [archive]
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for suffix in ("a", "b"):
            sys.modules.pop(f"{stem}_{suffix}", None)


def test_shim_changes_nothing_from_python_3_13(monkeypatch):
    """3.13's zipimport is already lazy, so install() leaves it alone."""
    if sys.version_info < (3, 13):
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _daemon.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert "_files" not in vars(zipimport.zipimporter)


_FROM_ELSEWHERE = r"""
import sys
sys.path.insert(0, %(repo)r)
from sqldataintegrationfunctiontriggerapp_spark.session import get_session

spark = get_session(app_name="daemon-cwd")
print("MASTER", spark.conf.get("spark.master"))
print("SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
print("HEAP", spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())

def which_daemon(frames):
    import sys
    import pandas as pd
    for _ in frames:
        yield pd.DataFrame({"daemon": [sys.modules["__main__"].__spec__.name]})

out = spark.range(1).mapInPandas(which_daemon, "daemon string").collect()
print("DAEMON", out[0].daemon)
spark.stop()
"""


def test_python_task_runs_from_any_working_directory(tmp_path):
    """A driver started outside the repo still starts Python workers: the
    daemon module reaches them through spark.executorEnv.PYTHONPATH. The
    child's session is sized through SPARK_GRAFT_EXTRA_CONF alone, so the
    launch-time confs (master, driver heap) are shown to reach the JVM."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_EXTRA_CONF"] = (
        "spark.master=local[1];spark.sql.shuffle.partitions=1;"
        "spark.driver.memory=768m")
    proc = subprocess.run(
        [sys.executable, "-c", _FROM_ELSEWHERE % {"repo": REPO}],
        capture_output=True, text=True, timeout=300, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-3000:]}"
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines()
               if line.startswith(("DAEMON ", "MASTER ", "SHUFFLE ", "HEAP ")))
    assert out["DAEMON"] == DAEMON
    assert (out["MASTER"], out["SHUFFLE"]) == ("local[1]", "1")
    # the 1g default heap reports exactly 1 GiB
    assert int(out["HEAP"]) <= 768 * 1024 * 1024
