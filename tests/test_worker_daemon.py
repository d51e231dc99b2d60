"""The worker daemon's stat-guarded zip invalidation, and the session confs
that make Python workers fork from it."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from franzoxide_spark import worker_daemon
from franzoxide_spark.session import _PACKAGE_PARENT, with_worker_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the guard is installed only where invalidation re-reads eagerly")


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write a new archive and move it over ``path``, as a deploy would."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard for one test and count directory reads."""
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.guarded_invalidate_caches)
    return reads


@needs_eager_invalidation
def test_unchanged_archive_is_read_once(tmp_path, guarded):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"fx_zip_a.py": "X = 1\n", "pkg/__init__.py": ""})
    importers = [zipimport.zipimporter(archive),
                 zipimport.zipimporter(os.path.join(archive, "pkg"))]
    guarded.clear()
    importers[0].invalidate_caches()
    assert len(guarded) == 1
    importers[0].invalidate_caches()
    importers[1].invalidate_caches()
    assert len(guarded) == 1, "an unchanged archive was re-read"
    assert importers[0].find_spec("fx_zip_a") is not None


@needs_eager_invalidation
def test_rewritten_archive_is_reread_and_its_new_module_imports(
        tmp_path, guarded):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"fx_zip_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    assert imp.find_spec("fx_zip_b") is None
    _write_zip(archive, {"fx_zip_a.py": "X = 1\n", "fx_zip_b.py": "Y = 2\n"})
    guarded.clear()
    imp.invalidate_caches()
    assert guarded == [archive]
    spec = imp.find_spec("fx_zip_b")
    assert spec is not None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.Y == 2


@pytest.mark.skipif(sys.version_info < (3, 13),
                    reason="the guard is installed below 3.13")
def test_daemon_leaves_lazy_invalidation_alone(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_worker_conf_keeps_caller_values():
    conf = with_worker_conf({
        "spark.python.daemon.module": "custom.daemon",
        "spark.executorEnv.PYTHONPATH": "/srv/pylibs",
        "spark.sql.shuffle.partitions": "3",
    })
    assert conf["spark.python.daemon.module"] == "custom.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [_PACKAGE_PARENT, "/srv/pylibs"])
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert with_worker_conf(None) == {
        "spark.python.daemon.module": "franzoxide_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
    }


@needs_eager_invalidation
def test_reused_workers_read_no_zip_directory(spark):
    """Tasks on a reused worker re-read no zip directory; before the
    daemon each such task read ``pyspark.zip``'s once per zipimporter."""
    def reads_since_previous_task(_):
        """Worker side: (pid, zip directory reads since this worker's previous
        call), or (pid, None) on its first call, which installs the counter."""
        import os
        import zipimport

        counter = getattr(zipimport, "_fx_test_reads", None)
        if counter is None:
            zipimport._fx_test_reads = [0]
            stock = zipimport._read_directory

            def counting(archive):
                zipimport._fx_test_reads[0] += 1
                return stock(archive)

            zipimport._read_directory = counting
            return os.getpid(), None
        n, counter[0] = counter[0], 0
        return os.getpid(), n

    sc = spark.sparkContext
    results = []
    for _ in range(2):
        results += sc.parallelize(range(4), 4).map(
            reads_since_previous_task).collect()
    reused = [n for _, n in results if n is not None]
    assert reused, f"no task ran on a reused worker: {results}"
    assert reused == [0] * len(reused), results


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """A driver that finds the package by ``sys.path`` insertion alone (as
    ``__spark_entry__.py`` does), from another cwd and without PYTHONPATH,
    still runs RDD and pandas UDF tasks."""
    child = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from franzoxide_spark.session import get_spark

        spark = get_spark(master="local[2]", driver_memory="1g")
        assert spark.sparkContext.parallelize(range(10), 2).map(
            lambda x: x * 2).sum() == 90

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(5).select(plus_one("id").alias("v")).collect()
        assert sorted(r.v for r in rows) == [1, 2, 3, 4, 5]
        print("OK", flush=True)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "OK" in out.stdout.split()
