"""The Python daemon's stat-checked ``zipimporter.invalidate_caches``
(pyworker.py). Without Spark: an unchanged archive is not re-read, and a
changed, replaced or deleted one ends exactly as the stock method leaves
it. In a ``build_spark`` session: tasks run under the library's method."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pytest

from dd_ops_ocr_spark import pyworker

MODULES = ("pwz_a", "pwz_b", "pwz_c")


def _write_zip(path: str, modules: list[str], mtime_ns: int | None = None) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


def _hour_ago() -> int:
    return time.time_ns() - 3600 * 10**9


@pytest.fixture()
def zipped(tmp_path, monkeypatch):
    """An archive holding ``pwz_a`` on sys.path, the library's method
    installed, and a log of every ``_read_directory`` call. The archive's
    mtime is an hour old: a freshly written one is read on every call."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pwz_a"], _hour_ago())
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker.invalidate_caches)
    monkeypatch.setattr(pyworker, "_read_at", {})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    import pwz_a  # noqa: F401

    importlib.invalidate_caches()  # the daemon's priming read
    yield archive, reads
    for name in MODULES:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zipped):
    archive, reads = zipped
    primed = zipimport._zip_directory_cache[archive]
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n
    assert zipimport._zip_directory_cache[archive] is primed
    assert sys.path_importer_cache[archive]._files is primed


def test_rewritten_archive_is_reread(zipped):
    archive, reads = zipped
    _write_zip(archive, ["pwz_a", "pwz_b"], _hour_ago())
    importlib.invalidate_caches()
    assert reads[-1] == archive
    import pwz_b

    assert pwz_b.NAME == "pwz_b"


def test_replaced_archive_same_size_and_mtime_is_reread(zipped, tmp_path):
    """Only the inode differs: the new file is written beside the old one
    and renamed over it, with the old size and mtime."""
    archive, reads = zipped
    st = os.stat(archive)
    staged = str(tmp_path / "staged.zip")
    _write_zip(staged, ["pwz_c"], st.st_mtime_ns)
    assert os.stat(staged).st_size == st.st_size
    os.replace(staged, archive)
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    import pwz_c

    assert pwz_c.NAME == "pwz_c"


def test_recently_modified_archive_is_read_every_time(zipped):
    """An in-place rewrite within one mtime tick keeps the stat key, so an
    archive modified in the last two seconds is never trusted."""
    archive, reads = zipped
    _write_zip(archive, ["pwz_b"])
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n + 2
    assert archive not in pyworker._read_at


def test_deleted_archive_matches_stock(zipped):
    archive, _ = zipped
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    ours = (importer._files, archive in zipimport._zip_directory_cache)
    assert ours == ({}, False)
    assert archive not in pyworker._read_at
    pyworker._stock_invalidate(importer)
    assert (importer._files, archive in zipimport._zip_directory_cache) == ours
    # an archive that comes back is read again
    _write_zip(archive, ["pwz_b"], _hour_ago())
    importlib.invalidate_caches()
    import pwz_b

    assert pwz_b.NAME == "pwz_b"


def test_build_spark_workers_use_the_library_daemon(spark):
    """A task in the build_spark session runs in a worker forked from
    pyworker.py: its invalidate_caches is the library's, and a task's
    importlib.invalidate_caches() keeps pyspark.zip's directory object."""

    def report(batches):
        import importlib
        import zipimport

        import pyarrow as pa
        import pyspark

        archive = pyspark.__file__.split(".zip", 1)[0] + ".zip"
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(archive)
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "method_file": [method.__code__.co_filename],
                "archive": [archive],
                "kept": [before is not None and before is after],
            })

    rows = (spark.range(4, numPartitions=2)
            .mapInArrow(report, "method_file string, archive string, kept boolean")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r.method_file.endswith(os.path.join("dd_ops_ocr_spark", "pyworker.py"))
        assert r.archive.endswith("pyspark.zip")
        assert r.kept
