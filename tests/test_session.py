"""Session layer: the Python worker daemon's stat-checked zip invalidation
(pyworker.py) and the host-sized session defaults (session.py)."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from big_data_player_analysis_spark import pyworker, session
from big_data_player_analysis_spark.session import host_cpus

pre_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ invalidates zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pre_313
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    """Called directly, without installing it: an unchanged archive is not
    re-read, a rewritten one is, and the module added by the rewrite
    imports through the same importer."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zmod_a": "VALUE = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))

    pyworker._invalidate_caches(imp)  # no stamp yet: one read
    assert reads == [archive]
    pyworker._invalidate_caches(imp)
    pyworker._invalidate_caches(zipimport.zipimporter(archive))
    assert reads == [archive]

    _write_zip(archive, {"zmod_a": "VALUE = 1\n", "zmod_b": "VALUE = 2\n"})
    pyworker._invalidate_caches(imp)
    assert reads == [archive, archive]
    spec = imp.find_spec("zmod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 2

    os.remove(archive)
    pyworker._invalidate_caches(imp)
    assert imp._files == {} and archive not in zipimport._zip_directory_cache


@pre_313
def test_python_workers_run_the_stat_checked_invalidation(spark):
    """Inside a worker the patch is installed (it names the engine module,
    not zipimport or __main__), and the per-task invalidate_caches() call
    re-reads no zip directory: the stock one re-reads one per importer."""
    import pandas as pd

    def probe(it):
        import importlib
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        for _ in it:
            pass
        yield pd.DataFrame(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "reads": [len(reads)],
                "importers": [importers],
            }
        )

    out = (
        spark.range(0, 10, 1, 2)
        .mapInPandas(probe, "module string, reads long, importers long")
        .collect()
    )
    assert len(out) == 2
    for r in out:
        assert r.module == "big_data_player_analysis_spark.pyworker"
        assert r.importers > 0 and r.reads == 0


def test_host_cpus_follows_the_affinity_mask(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert host_cpus() == 3


@pytest.mark.parametrize(
    "mem_gib, heap", [(15.6, "7g"), (1.5, "1g"), (64, "32g"), (512, "48g")]
)
def test_default_driver_memory_is_half_of_ram_capped(monkeypatch, mem_gib, heap):
    monkeypatch.setattr(session, "_mem_total_kb", lambda: int(mem_gib * 1024 * 1024))
    assert session._default_driver_memory() == heap


def test_session_sets_the_daemon_and_a_host_sized_heap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == pyworker.__name__
    if "SPARK_DRIVER_MEMORY" not in os.environ:
        assert conf.get("spark.driver.memory") == session._default_driver_memory()
