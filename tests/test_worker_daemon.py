"""The engine's Python-worker daemon (binlake_spark/worker_daemon.py):
tasks on a reused worker re-read no zip directory, an archive rewritten
on disk is still picked up, and workers start from the daemon whatever
the working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reused_worker_rereads_no_zip_directory(spark):
    """PySpark calls ``importlib.invalidate_caches()`` at every task's
    set-up; on a reused worker that must not re-parse any archive on the
    worker's ``sys.path``."""

    def reads(_):
        import importlib
        import zipimport

        n = [0]
        read = zipimport._read_directory

        def counted(archive):
            n[0] += 1
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield n[0]

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(reads).collect()  # first run may start the workers
    counts = rdd.mapPartitions(reads).collect()
    if sys.version_info < (3, 13):
        assert counts == [0, 0, 0, 0]


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_guard_still_picks_up_a_rewritten_archive(tmp_path, monkeypatch):
    """``sc.addPyFile``-style updates: a zip on ``sys.path`` rewritten
    on disk with a new module must import after
    ``importlib.invalidate_caches()``; an unchanged zip is not re-read."""
    from binlake_spark import worker_daemon

    # restore the unguarded method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    guarded = worker_daemon.install_zip_cache_guard()
    assert guarded == (sys.version_info < (3, 13))
    assert worker_daemon.install_zip_cache_guard() == guarded  # idempotent

    archive = str(tmp_path / "deps.zip")
    _write_zip(archive, {"binlake_guard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for m in ("binlake_guard_a", "binlake_guard_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("binlake_guard_a").X == 1

    n = [0]
    read = zipimport._read_directory

    def counted(path):
        n[0] += path == archive
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if guarded:
        assert n[0] == 1  # the first pass stamps this importer; the second skips

    _write_zip(archive, {"binlake_guard_a": "X = 1\n", "binlake_guard_b": "Y = 2\n"})
    before = n[0]
    importlib.invalidate_caches()
    assert importlib.import_module("binlake_guard_b").Y == 2
    assert n[0] == before + 1


def test_worker_conf_fails_at_session_start_without_the_package(tmp_path):
    from binlake_spark.session import WORKER_DAEMON, worker_conf

    conf = worker_conf({"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/x", REPO])},
                       root=REPO)
    assert conf == {
        "spark.python.daemon.module": WORKER_DAEMON,
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([REPO, "/x"]),
    }
    with pytest.raises(RuntimeError, match="could not import"):
        worker_conf(root=str(tmp_path))


def test_session_outside_the_repo_runs_python_tasks(tmp_path):
    """Workers must import the daemon however Spark is started: here from
    a working directory outside the repo with no ``PYTHONPATH``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from binlake_spark.session import get_spark

        spark = get_spark("outside_repo", cpus=2, shuffle_partitions=2)
        df = spark.range(0, 100, 1, 2)
        n = df.mapInArrow(lambda batches: (b for b in batches), df.schema).count()
        print("rows", n)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 100" in out.stdout
