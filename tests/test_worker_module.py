"""The engine's Python worker module (worker/pyspark_fastworker.py): its
import invalidation keeps every part of importlib's except the zip
directory re-reads, and get_spark wires it in without overriding the
caller's confs."""

from __future__ import annotations

import os
import zipfile

import pytest

from hail_elasticsearch_pipelines_spark import session


def _warm(sc):
    """Run a Python job on every worker slot first."""
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).map(lambda x: x).collect()


def _one_task(sc, fn):
    """``fn()`` inside one task; returns its value."""

    def run(it):
        for _i in it:  # a worker that leaves input unread is not reused
            pass
        yield fn()

    return sc.parallelize(range(1), 1).mapPartitions(run).collect()[0]


def test_session_conf_carries_worker_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.worker.module") == session.WORKER_MODULE
    path = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert session.WORKER_DIR in path
    assert spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep) == path
    # the directory shadows nothing else on the workers' path
    assert {f for f in os.listdir(session.WORKER_DIR) if f != "__pycache__"} == {
        f"{session.WORKER_MODULE}.py"
    }


def test_worker_conf_keeps_caller_values():
    merged = session._worker_conf(
        "local[2]", {"spark.executorEnv.PYTHONPATH": "/a" + os.pathsep + "/b"}
    )
    assert merged["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == [
        "/a", "/b", session.WORKER_DIR,
    ]
    assert merged["spark.python.worker.module"] == session.WORKER_MODULE
    own = session._worker_conf("local[2]", {"spark.python.worker.module": "pyspark.worker"})
    assert own["spark.python.worker.module"] == "pyspark.worker"
    # a cluster's executors may not have the driver's files
    assert session._worker_conf("spark://host:7077", {}) == {}


def test_zip_directories_are_not_reread(spark):
    """Consecutive tasks on one worker see the worker_util shim and the
    very same pyspark.zip directory object: pyspark's own worker
    replaces it with a fresh read at every task."""
    sc = spark.sparkContext
    _warm(sc)

    def probe():
        import os
        import zipimport

        import pyspark
        from pyspark import worker_util

        archive = getattr(pyspark.__loader__, "archive", None)
        entry = zipimport._zip_directory_cache.get(archive)
        prev = getattr(zipimport, "_probe_prev_entry", None)
        zipimport._probe_prev_entry = entry
        shim = type(worker_util.importlib)
        return (
            os.getpid(), archive, prev is not None and prev is entry,
            f"{shim.__module__}.{shim.__name__}",
        )

    seen: dict[int, list[bool]] = {}
    for _ in range(12):
        pid, archive, same, shim = _one_task(sc, probe)
        if archive is None:
            pytest.skip("the workers import pyspark from a directory, not a zip")
        assert shim == "pyspark_fastworker.ZipStableImportlib"
        seen.setdefault(pid, []).append(same)
    repeated = {pid: s[1:] for pid, s in seen.items() if len(s) > 1}
    assert repeated, seen  # workers are reused
    assert all(all(s) for s in repeated.values()), repeated


def test_added_py_and_zip_files_import(spark, tmp_path):
    """addPyFile after the session has run Python: a new .py and a new
    zipped package both import in the next task."""
    sc = spark.sparkContext
    _warm(sc)
    tag = tmp_path.name.replace("-", "_")
    py = tmp_path / f"added_mod_{tag}.py"
    py.write_text("VALUE = 'py'\n")
    pkg = f"added_pkg_{tag}"
    zpath = tmp_path / f"{pkg}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "VALUE = 'zip'\n")

    sc.addPyFile(str(py))
    mod = py.stem
    assert _one_task(sc, lambda: __import__(mod).VALUE) == "py"
    sc.addPyFile(str(zpath))
    assert _one_task(sc, lambda: __import__(pkg).VALUE) == "zip"


def test_new_file_in_known_directory_imports(spark, tmp_path):
    """A .py written into a directory the workers have already imported
    from imports in the next task.  The directory's mtime is set back,
    so only the per-task FileFinder invalidation can reveal it."""
    sc = spark.sparkContext
    _warm(sc)
    d = tmp_path / "known"
    d.mkdir()
    tag = tmp_path.name.replace("-", "_")
    first_mod, second_mod = f"known_first_{tag}", f"known_second_{tag}"
    (d / f"{first_mod}.py").write_text("VALUE = 1\n")
    path = str(d)

    def first():
        import os
        import sys

        if path not in sys.path:
            sys.path.append(path)
        return os.getpid(), __import__(first_mod).VALUE

    pids = {_one_task(sc, first)[0] for _ in range(8)}
    st = os.stat(path)
    (d / f"{second_mod}.py").write_text("VALUE = 2\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))

    def second():
        import os
        import sys

        cached = path in sys.path_importer_cache
        if path not in sys.path:
            sys.path.append(path)
        return os.getpid(), cached, __import__(second_mod).VALUE

    out = [_one_task(sc, second) for _ in range(8)]
    assert all(v == 2 for _pid, _c, v in out), out
    assert any(cached and pid in pids for pid, cached, _v in out), (pids, out)
