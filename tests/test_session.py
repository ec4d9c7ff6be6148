"""Session factory: the L17 autoscale preset must emit the full
dynamic-allocation conf set mirroring the reference's pool-autoscale
formula (``Readme.md:29-41``) — cap, backlog debounce, idle release,
and shuffle-safe decommission. Engine sessions start their Python
workers from :mod:`azure_batch_map_reduce_spark.worker_daemon`, whose
archive guard re-reads a zip only when it changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from azure_batch_map_reduce_spark import worker_daemon
from azure_batch_map_reduce_spark.session import autoscale_conf

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport is lazy from CPython 3.13; no guard"
)


def test_autoscale_conf_mirrors_reference_formula():
    conf = autoscale_conf()
    # Scale-to-pending with the reference's 5-node cap (Readme.md:36-38).
    assert conf["spark.dynamicAllocation.enabled"] == "true"
    assert conf["spark.dynamicAllocation.maxExecutors"] == "5"
    assert conf["spark.dynamicAllocation.executorAllocationRatio"] == "1.0"
    # Idle release ≈ taskcompletion deallocation (Readme.md:40).
    assert conf["spark.dynamicAllocation.executorIdleTimeout"].endswith("s")
    # Safe scale-down without an external shuffle service.
    assert conf["spark.dynamicAllocation.shuffleTracking.enabled"] == "true"
    assert conf["spark.decommission.enabled"] == "true"


def test_autoscale_conf_parameterized_cap():
    conf = autoscale_conf(max_executors=1000, min_executors=8, idle_timeout_s=120)
    assert conf["spark.dynamicAllocation.maxExecutors"] == "1000"
    assert conf["spark.dynamicAllocation.minExecutors"] == "8"
    assert conf["spark.dynamicAllocation.executorIdleTimeout"] == "120s"


@needs_guard
def test_archive_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch, request):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    archive = tmp_path / "mods.zip"

    def write(value: int) -> None:
        # A package, so two importers (archive root and pkg/) read the
        # archive: each must re-read for itself after a change.
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("abmr_zip_pkg/__init__.py", "")
            z.writestr("abmr_zip_pkg/m.py", f"VALUE = {value}\n")

    def forget_m() -> None:
        for name in ("abmr_zip_pkg", "abmr_zip_pkg.m"):
            sys.modules.pop(name, None)

    def import_m():
        forget_m()
        return importlib.import_module("abmr_zip_pkg.m")

    write(1)
    monkeypatch.syspath_prepend(str(archive))
    request.addfinalizer(forget_m)
    assert import_m().VALUE == 1
    worker_daemon.install_archive_guard()
    importlib.invalidate_caches()  # first call per importer reads and stamps

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    write(22)  # a different size, so a different stamp
    importlib.invalidate_caches()
    importers = sum(
        isinstance(f, zipimport.zipimporter) and f.archive == str(archive)
        for f in sys.path_importer_cache.values()
    )
    assert importers == 2
    assert reads == [str(archive)] * importers
    assert import_m().VALUE == 22


@needs_guard
def test_engine_session_workers_run_the_archive_guard(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    modules = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    assert modules == [worker_daemon.__name__] * 2
