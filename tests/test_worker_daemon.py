"""The engine's Python-worker daemon (``pinot_spark.worker_daemon``) and
the worker environment ``get_spark`` sets up for it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from pinot_spark import worker_daemon
from pinot_spark.session import _PACKAGE_ROOT


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """``invalidate_caches`` re-reads an archive's directory once, then
    only after the archive's mtime or size changed; a module added by
    the rewrite then imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda p: (reads.append(p) if p == archive else None) or real_read(p),
    )
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("zd_first").X == 1
    importers = [
        i for i in sys.path_importer_cache.values()
        if isinstance(i, zipimport.zipimporter) and i.archive == archive
    ]
    assert importers
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [archive]  # first call: no stamp yet
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zd_first": "X = 1\n", "zd_second": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zd_second").Y == 2
    for name in ("zd_first", "zd_second"):
        sys.modules.pop(name, None)


def test_worker_task_reads_no_zip_directory(spark):
    """A worker of a ``get_spark`` session runs the engine's daemon: the
    ``invalidate_caches`` call every task makes
    (``worker_util.setup_spark_files``) reads no zip directory, though
    the worker imports pyspark from a zip."""
    assert spark.conf.get("spark.python.daemon.module") == "pinot_spark.worker_daemon"

    def task(_):
        counted = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: counted.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        zips = sum(
            isinstance(i, zipimport.zipimporter)
            for i in sys.path_importer_cache.values()
        )
        yield len(counted), zips

    sc = spark.sparkContext
    for _ in range(2):
        [(reads, zips)] = sc.parallelize([0], 1).mapPartitions(task).collect()
        assert zips > 0
        assert reads == 0


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the repository, with the package only on
    its own ``sys.path`` (no ``PYTHONPATH``), runs an engine sketch UDF
    and collects a list-built DataFrame: its workers find
    ``pinot_spark`` through ``spark.executorEnv.PYTHONPATH``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_PACKAGE_ROOT!r})
        from pinot_spark.functions import SCALAR_FUNCTIONS
        from pinot_spark.session import get_spark
        spark = get_spark("cwd-test", {{"spark.sql.shuffle.partitions": "1",
                                        "spark.driver.memory": "1g"}})
        spark.sparkContext.setLogLevel("ERROR")
        df = spark.createDataFrame([("a",), ("b",)], "v string")
        [blob] = df.select(SCALAR_FUNCTIONS["tohll"]("v").alias("h")).limit(1).collect()
        assert isinstance(blob.h, (bytes, bytearray)) and len(blob.h) > 0
        assert sorted(r.v for r in df.collect()) == ["a", "b"]
        spark.stop()
        print("WORKERS-OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_MASTER")}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "WORKERS-OK" in out.stdout, out.stderr[-3000:]
