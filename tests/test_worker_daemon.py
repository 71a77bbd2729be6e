"""The package's PySpark daemon: reused Python workers keep their zip
directory caches between tasks, and the stat-guarded
``zipimporter.invalidate_caches`` agrees with the stock one whenever an
archive changed."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from named_architecture_entity_recognition_spark import worker_daemon

REPO = Path(__file__).resolve().parents[1]
STOCK = worker_daemon._stock_invalidate_caches
GUARDED = worker_daemon.invalidate_caches


def test_reused_worker_keeps_its_pyspark_zip_directory(spark):
    """Two tasks on one reused worker see the same cached directory of
    pyspark.zip: the second task read no archive again. One-partition
    jobs rotate over the idle workers until a worker runs a second
    task."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        files = next(
            v for k, v in zipimport._zip_directory_cache.items()
            if k.endswith("pyspark.zip")
        )
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "files": [id(files)]}
        )

    one = spark.range(1, numPartitions=1)
    seen = {}
    for _ in range(16):
        [row] = one.mapInArrow(probe, "pid long, files long").collect()
        if row.pid in seen:
            assert row.files == seen[row.pid]
            return
        seen[row.pid] = row.files
    pytest.fail(f"no Python worker ran two tasks: {sorted(seen)}")


OLD = {"naer_zip_old": "X = 1\n"}
#: OLD plus a module: a rewrite that changes the archive's size
BOTH = {**OLD, "naer_zip_new": "Y = 22\n"}


def _write_zip(path: Path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def fresh(tmp_path, monkeypatch):
    """An empty stat record; the directories cached for archives under
    ``tmp_path`` are dropped afterwards."""
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    yield tmp_path
    cache = zipimport._zip_directory_cache
    for k in [k for k in cache if k.startswith(str(tmp_path))]:
        del cache[k]


CHANGES = {
    "rewritten": lambda p: _write_zip(p, BOTH),
    "unchanged": lambda p: None,
    "deleted": os.remove,
    "recreated": lambda p: (
        os.remove(p), _write_zip(p, {"naer_zip_new": "Y = 22\n"})
    ),
}


@pytest.mark.parametrize("change", CHANGES)
def test_guarded_read_agrees_with_stock(fresh, change):
    """Read, change the archive, read again: the importer ends with the
    same entries, cached or not, under either method."""
    ends = []
    for i, method in enumerate((STOCK, GUARDED)):
        path = fresh / f"{i}.zip"
        _write_zip(path, OLD)
        zi = zipimport.zipimporter(str(path))
        method(zi)
        CHANGES[change](path)
        method(zi)
        cached = zipimport._zip_directory_cache.get(str(path))
        ends.append((sorted(zi._files), cached is zi._files))
    assert ends[1] == ends[0]
    if change == "deleted":
        assert ends[0] == ([], False)


def test_unchanged_archive_keeps_its_directory(fresh):
    path = fresh / "mods.zip"
    _write_zip(path, OLD)
    zi = zipimport.zipimporter(str(path))
    GUARDED(zi)
    files = zi._files
    GUARDED(zi)
    other = zipimport.zipimporter(str(path))
    GUARDED(other)
    assert zi._files is files and other._files is files
    STOCK(zi)
    assert zi._files is not files


def test_rewritten_archive_module_imports(fresh, monkeypatch):
    """With the guard installed, a module added to an archive already on
    sys.path imports after ``importlib.invalidate_caches()``."""
    archive = fresh / "mods.zip"
    _write_zip(archive, OLD)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", GUARDED)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("naer_zip_old", "naer_zip_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("naer_zip_old").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("naer_zip_new")
    _write_zip(archive, BOTH)
    importlib.invalidate_caches()
    assert importlib.import_module("naer_zip_new").Y == 22


def test_import_patches_nothing_and_starts_no_manager():
    """Only running the module installs the guard and starts the
    daemon's manager; a manager would write its port and never print."""
    code = (
        "import zipimport\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import named_architecture_entity_recognition_spark.worker_daemon\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
        "print('imported')\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout == "imported\n"
