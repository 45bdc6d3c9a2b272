"""The catalog's one commit routine: the operation check, fault
injection at every commit step of every operation, and the sweep of
what a killed committer leaves behind."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pytest

from dd_ops_ocr_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def table(spark):
    d = tempfile.mkdtemp(prefix="cat_commit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _referenced(table: str) -> set[str]:
    """Every data/ file some linked manifest lists."""
    out: set[str] = set()
    for m in catalog.snapshots(table):
        out.update(m["files"], m["delete_files"])
        out.update(e[0] for e in m["eq_delete_files"])
        for files in m["aux"].values():
            out.update(files)
    return out


def _assert_only_linked_files(table: str) -> None:
    assert set(os.listdir(os.path.join(table, "data"))) == _referenced(table)
    assert not [n for n in os.listdir(table) if n.startswith("_stage-")]
    assert not [n for n in os.listdir(os.path.join(table, "metadata"))
                if ".tmp-" in n]


def _rows(spark, table) -> list[tuple]:
    return sorted(tuple(r) for r in catalog.read_table(spark, table).collect())


def test_write_snapshot_rejects_unknown_operation(spark, table):
    """A misspelt operation must not commit an overwrite that drops every
    parent file: it raises before anything is staged."""
    s1 = catalog.write_snapshot(spark.range(20), table, "overwrite")
    data_dir = os.path.join(table, "data")
    before = set(os.listdir(data_dir))
    for op in ("Append", "upsert", "delete", "merge"):
        with pytest.raises(ValueError, match="operation"):
            catalog.write_snapshot(spark.range(5), table, op)
    assert set(os.listdir(data_dir)) == before
    assert not [n for n in os.listdir(table) if n.startswith("_stage-")]
    assert catalog.current_snapshot_id(table) == s1
    assert catalog.read_table(spark, table).count() == 20


# ------------------------------------------------------- fault injection

_BEFORE = [(i, i % 3) for i in range(20)]
_NEW = [(i, 10 * i + 10) for i in range(5)]


def _new(spark):
    return spark.createDataFrame(_NEW, "id long, v long")


def _roster(spark):
    return spark.range(3).selectExpr("cast(id as string) AS doc_id")


def _overwrite(spark, table):
    catalog.write_snapshot(
        _new(spark), table, "overwrite", aux={"docids": _roster(spark)},
        expected_parent=catalog.current_snapshot_id(table))


def _append(spark, table):
    catalog.write_snapshot(
        _new(spark), table, "append", aux={"docids": _roster(spark)},
        expected_parent=catalog.current_snapshot_id(table))


# operation -> (run it, its staged writes, rows of the snapshot it commits)
_OPS = {
    "overwrite": (_overwrite, 2, _NEW),
    "append": (_append, 2, sorted(_BEFORE + _NEW)),
    "compact": (lambda spark, t: catalog.compact(spark, t, num_files=1),
                1, _BEFORE),
    "upsert": (lambda spark, t: catalog.upsert(spark, t, _new(spark), ["id"]),
               2, sorted(_NEW + _BEFORE[5:])),
    "delete_where": (lambda spark, t: catalog.delete_where(spark, t, "id < 5"),
                     1, _BEFORE[5:]),
}

_SKIP = {
    ("overwrite", "schema"): "overwrite takes the frame's schema: no union",
    ("compact", "schema"): "compact takes the frame's schema: no union",
    ("delete_where", "schema"): "delete carries the parent's schema: no union",
    ("upsert", "claim"): "upsert takes no expected_parent: a lost claim "
                         "re-reads the parent and retries",
}


def _inject(monkeypatch, step: str, writes: int):
    """Patch one commit step to fail; returns the exception it raises."""
    if step == "stage":  # the op's last write lands in data/, then fails
        real, calls = catalog._write_files, []

        def write(*a, **k):
            out = real(*a, **k)
            calls.append(1)
            if len(calls) == writes:
                raise OSError("injected stage failure")
            return out

        monkeypatch.setattr(catalog, "_write_files", write)
        return OSError
    if step == "schema":
        def union(*_a, **_k):
            raise ValueError("injected schema union failure")

        monkeypatch.setattr(catalog, "_union_schema", union)
        return ValueError
    if step == "claim":  # a rival commit links every id this one claims
        real = catalog._publish

        def publish(table_dir, manifest):
            sid = manifest["snapshot_id"]
            rival = dict(catalog._read_manifest(table_dir, sid - 1))
            rival.update(snapshot_id=sid, parent_id=sid - 1)
            real(table_dir, rival)
            return real(table_dir, manifest)

        monkeypatch.setattr(catalog, "_publish", publish)
        monkeypatch.setattr(catalog, "_CAS_ATTEMPTS", 2)
        return catalog.CommitConflict
    if step == "publish":
        def publish(*_a, **_k):
            raise OSError("injected publish failure")

        monkeypatch.setattr(catalog, "_publish", publish)
        return OSError
    real = catalog._advance_pointer  # "pointer"; sid 0 is the CAS loops' heal

    def advance(table_dir, sid):
        if sid == 0:
            return real(table_dir, sid)
        raise OSError("injected pointer-advance failure")

    monkeypatch.setattr(catalog, "_advance_pointer", advance)
    return OSError


@pytest.mark.parametrize(
    "step", ["stage", "schema", "claim", "publish", "pointer"])
@pytest.mark.parametrize("op", list(_OPS))
def test_failed_commit_step_leaves_only_linked_files(
        spark, table, monkeypatch, op, step):
    """Whichever commit step fails, data/ holds exactly the files of the
    linked manifests afterwards. Before the link the table reads as it
    did; after it (pointer advance) the snapshot stands and reads whole
    once the pointer heals."""
    if (op, step) in _SKIP:
        pytest.skip(_SKIP[op, step])
    run, writes, after = _OPS[op]
    catalog.write_snapshot(
        spark.createDataFrame(_BEFORE, "id long, v long").repartition(2),
        table, "overwrite", aux={"docids": _roster(spark)})
    s1 = catalog.current_snapshot_id(table)

    err = _inject(monkeypatch, step, writes)
    with pytest.raises(err, match="injected|lost|advanced"):
        run(spark, table)
    monkeypatch.undo()

    _assert_only_linked_files(table)
    if step == "pointer":
        assert catalog.current_snapshot_id(table) == s1  # pointer lags
        catalog._heal_pointer(table)
        assert catalog.current_snapshot_id(table) == s1 + 1
        assert _rows(spark, table) == sorted(after)
        assert catalog.read_aux(spark, table, "docids").count() == \
            (6 if op == "append" else 3)
    else:
        assert _rows(spark, table) == _BEFORE
        if step != "claim":  # a rival's snapshots stand; ours never
            assert catalog.current_snapshot_id(table) == s1
            assert [m["snapshot_id"] for m in catalog.snapshots(table)] == [s1]


def test_commit_keeps_files_once_its_manifest_is_expired(
        spark, table, monkeypatch):
    """Between a commit's link and its return, a rival can link the next
    snapshot (carrying this one's files forward) and expire_snapshots can
    remove this commit's manifest. The committer must keep its staged
    files: the live snapshot references them."""
    catalog.write_snapshot(
        spark.createDataFrame(_BEFORE, "id long, v long"), table, "overwrite",
        aux={"docids": _roster(spark)})
    real = catalog._publish

    def publish(table_dir, manifest):
        sid = real(table_dir, manifest)
        real(table_dir, {**manifest, "snapshot_id": sid + 1,
                         "parent_id": sid, "operation": "append"})
        catalog.expire_snapshots(table_dir, keep_last=1)
        assert not os.path.exists(catalog._manifest_path(table_dir, sid))
        return sid

    monkeypatch.setattr(catalog, "_publish", publish)
    _append(spark, table)
    monkeypatch.undo()

    _assert_only_linked_files(table)
    assert _rows(spark, table) == sorted(_BEFORE + _NEW)
    assert catalog.read_aux(spark, table, "docids").count() == 6


# ------------------------------------------------------------ orphan sweep

_KILLED_COMMITTER = r"""
import os, signal, sys
from dd_ops_ocr_spark import catalog
from dd_ops_ocr_spark.session import build_spark

spark = build_spark(app="killed_committer", cores=1, driver_memory="1g")
# die inside _publish: the tmp manifest is written, the link never runs
os.link = lambda *_a: os.kill(os.getpid(), signal.SIGKILL)
catalog.write_snapshot(
    spark.range(100, 110).selectExpr("id", "id % 3 AS v"), sys.argv[1],
    "append", aux={"docids": spark.range(3).selectExpr("string(id) doc_id")})
"""


def test_expire_sweeps_killed_committer_leftovers_after_bound(spark, table):
    """A committer SIGKILLed in _publish leaves staged data and aux files
    and a tmp manifest; a killed Spark write leaves a _stage-* dir. The
    first expire_snapshots keeps them (younger than the bound: they could
    be a live committer's); once backdated past it, the next removes
    them. Files the live manifest lists are never touched, however old."""
    s1 = catalog.write_snapshot(
        spark.range(20).selectExpr("id", "id % 3 AS v"), table, "overwrite",
        aux={"docids": _roster(spark)})
    proc = subprocess.run(
        [sys.executable, "-c", _KILLED_COMMITTER, table], cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO}, capture_output=True,
        timeout=600)
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    spark.range(3).write.parquet(
        "file://" + os.path.join(table, "_stage-killed"))

    data_dir = os.path.join(table, "data")
    meta = os.path.join(table, "metadata")
    live = _referenced(table)
    left = [os.path.join(data_dir, n) for n in os.listdir(data_dir)
            if n not in live]
    left += [os.path.join(meta, n) for n in os.listdir(meta) if ".tmp-" in n]
    left.append(os.path.join(table, "_stage-killed"))
    assert len(left) >= 4  # data file(s), roster file(s), tmp manifest, stage
    assert [m["snapshot_id"] for m in catalog.snapshots(table)] == [s1]

    res = catalog.expire_snapshots(table, keep_last=1)
    assert res == {"expired_snapshots": 0, "deleted_files": 0,
                   "orphan_files": 0}
    assert all(os.path.exists(p) for p in left)

    old = time.time() - catalog._ORPHAN_AGE_S - 3600
    for p in left + [os.path.join(data_dir, n) for n in live]:
        os.utime(p, (old, old))
    res = catalog.expire_snapshots(table, keep_last=1)
    assert res == {"expired_snapshots": 0, "deleted_files": 0,
                   "orphan_files": len(left)}
    assert not any(os.path.exists(p) for p in left)
    assert set(os.listdir(data_dir)) == live
    assert catalog.read_table(spark, table).count() == 20
    assert catalog.read_aux(spark, table, "docids").count() == 3
