"""The package's Python worker daemon (``dask_traj_spark._daemon``).

A ``zipimporter`` re-reads its archive's directory on
``invalidate_caches`` only when the archive's inode, size or mtime
changed; imports resolve as on stock CPython. A ``get_spark`` session
runs its Python tasks under this daemon, and a zip and a ``.py`` file
added with ``addPyFile`` between two tasks are importable in the
second.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from dask_traj_spark import _daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def counted_reads(monkeypatch):
    """The archives ``zipimport._read_directory`` reads, in order."""
    reads = []
    stock = zipimport._read_directory

    def read(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read)
    return reads


def _import_sequence(tmp_path, monkeypatch, tag: str, reads: list) -> dict:
    """Import from a zip on ``sys.path``, invalidate twice, rewrite
    the zip with one more module, invalidate once more, import the new
    module; the reads of the archive after each step."""
    path = str(tmp_path / f"{tag}.zip")
    first, second = f"dts_first_{tag}", f"dts_second_{tag}"
    _write_zip(path, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.invalidate_caches()
    assert importlib.import_module(first).VALUE == 1
    mine = lambda: sum(r == path for r in reads)  # noqa: E731
    seen = {"imported": mine()}
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    seen["unchanged"] = mine()
    _write_zip(path, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    seen["rewritten"] = mine()
    seen["new_module"] = importlib.import_module(second).VALUE
    importlib.invalidate_caches()
    seen["after"] = mine()
    for name in (first, second):
        sys.modules.pop(name, None)
    return seen


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch, counted_reads):
    """Under the daemon's ``invalidate_caches``, an unchanged archive
    is read once (its first stamp), a rewritten one again, and the
    module added to it imports, as on stock CPython, which reads the
    archive on every call."""
    stock = _import_sequence(tmp_path, monkeypatch, "stock", counted_reads)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon._invalidate_if_changed)
    stamped = _import_sequence(tmp_path, monkeypatch, "stamped", counted_reads)

    assert stock["new_module"] == stamped["new_module"] == 2
    assert stock["unchanged"] - stock["imported"] == 2
    assert stamped["unchanged"] - stamped["imported"] == 1  # the first stamp
    assert stamped["rewritten"] - stamped["unchanged"] == 1
    assert stamped["after"] == stamped["rewritten"]


def test_stat_error_falls_through_to_the_stock_reread(tmp_path, monkeypatch, counted_reads):
    """An archive that cannot be stat'ed is re-read the stock way (an
    empty directory when it is gone), and its stamp is dropped."""
    path = str(tmp_path / "gone.zip")
    _write_zip(path, {"dts_gone": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon._invalidate_if_changed)
    imp.invalidate_caches()
    assert "_stamp" in vars(imp) and imp.find_spec("dts_gone") is not None
    n = len(counted_reads)
    os.remove(path)
    imp.invalidate_caches()
    assert counted_reads[n:] == [path]
    assert "_stamp" not in vars(imp)
    assert imp.find_spec("dts_gone") is None


def test_session_tasks_run_under_the_package_daemon(spark, tmp_path):
    """A ``get_spark`` session forks its Python workers from the
    package daemon, and a zip and a ``.py`` file added with
    ``addPyFile`` after a first task are importable in the next one."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "dask_traj_spark._daemon"

    def daemon_of(_):
        import zipimport

        return [(sys.argv[0], zipimport.zipimporter.invalidate_caches.__qualname__)]

    ((argv0, method),) = sc.parallelize([0], 1).mapPartitions(daemon_of).collect()
    assert argv0.endswith(os.path.join("dask_traj_spark", "_daemon.py"))
    assert method == "_invalidate_if_changed"

    zipped, plain = (f"dts_added_{uuid.uuid4().hex}" for _ in range(2))
    _write_zip(tmp_path / f"{zipped}.zip", {zipped: "VALUE = 42\n"})
    (tmp_path / f"{plain}.py").write_text("VALUE = 43\n")
    sc.addPyFile(str(tmp_path / f"{zipped}.zip"))
    sc.addPyFile(str(tmp_path / f"{plain}.py"))

    def values_of(_):
        return [importlib.import_module(m).VALUE for m in (zipped, plain)]

    assert sc.parallelize([0], 1).mapPartitions(values_of).collect() == [42, 43]
