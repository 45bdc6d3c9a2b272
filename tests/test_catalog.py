"""Snapshot catalog: atomic commits, snapshot isolation, time travel."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from dd_ops_ocr_spark import catalog, corpus, pipeline
from tests.conftest import SF_SMOKE


@pytest.fixture()
def table(spark):
    d = tempfile.mkdtemp(prefix="cat_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_snapshot_append_and_time_travel(spark, table):
    out = pipeline.extract(corpus.build_spans_df(spark, SF_SMOKE)).cache()
    first = out.filter("doc_id < 'doc_000100'")
    rest = out.filter("doc_id >= 'doc_000100'")

    s1 = catalog.write_snapshot(first, table, "overwrite",
                                properties={"run_id": "r1"})
    n1 = catalog.read_table(spark, table).count()
    s2 = catalog.write_snapshot(rest, table, "append",
                                properties={"run_id": "r1"})
    assert s2 == s1 + 1
    # current = union; snapshot 1 still readable unchanged (time travel)
    assert catalog.read_table(spark, table).count() == out.count()
    assert catalog.read_table(spark, table, snapshot_id=s1).count() == n1
    # lineage
    snaps = catalog.snapshots(table)
    assert [s["snapshot_id"] for s in snaps] == [s1, s2]
    assert snaps[1]["parent_id"] == s1


def test_concurrent_committers_lose_no_update(spark, table):
    """Two committers racing from the same parent must BOTH land: the
    loser of the exclusive manifest create retries with a re-read parent
    (no silently discarded manifest, pointer ends at the max)."""
    from concurrent.futures import ThreadPoolExecutor

    base = spark.range(1).selectExpr("cast(id as string) as doc_id")
    catalog.write_snapshot(base, table, "overwrite")

    def commit(i: int) -> int:
        df = spark.range(1).selectExpr(
            f"cast(id + {10 * (i + 1)} as string) as doc_id"
        )
        return catalog.write_snapshot(df, table, "append")

    with ThreadPoolExecutor(max_workers=4) as ex:
        sids = list(ex.map(commit, range(4)))

    assert sorted(sids) == [2, 3, 4, 5], f"lost/duplicate snapshot ids: {sids}"
    assert catalog.current_snapshot_id(table) == 5
    # every append survived into the final snapshot (1 base + 4 appends)
    assert catalog.read_table(spark, table).count() == 5


def test_snapshot_checkpoint_crash_resume(spark, table, monkeypatch):
    """extract_incremental (the snapshot sink) crashes in its commit
    window: data files staged, manifest not published. No snapshot may
    be visible, the crashed commit's staged files must be gone (nothing
    else would ever reclaim them), and the rerun must commit exactly
    one snapshot equal to an uninterrupted extraction, its manifest
    carrying the rerun's lineage and per-file row counts that add up to
    the output, with data/ holding exactly the files it lists."""
    from dd_ops_ocr_spark import incremental

    def crash(*_a, **_k):
        raise RuntimeError("injected crash before publish")

    spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
    monkeypatch.setattr(catalog, "_publish", crash)
    with pytest.raises(RuntimeError, match="injected"):
        incremental.extract_incremental(spark, spans, table, "runA")
    monkeypatch.undo()
    assert catalog.current_snapshot_id(table) is None
    data_dir = os.path.join(table, "data")
    assert os.listdir(data_dir) == []  # the failed commit's files removed
    with pytest.raises(FileNotFoundError):
        catalog.read_table(spark, table)

    summary = incremental.extract_incremental(spark, spans, table, "runB")
    assert summary["operation"] == "overwrite"

    got = catalog.read_table(spark, table)
    want = pipeline.extract(spans)
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    assert got.count() == want.count()
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0
    (snap,) = catalog.snapshots(table)
    assert snap["snapshot_id"] == summary["snapshot_id"]
    assert snap["properties"]["run_id"] == "runB"
    manifest = catalog._read_manifest(table, snap["snapshot_id"])
    assert sum(st["rows"] for st in manifest["file_stats"].values()) \
        == want.count()
    # data/ holds exactly the committed data and roster files
    assert manifest["aux"]["docids"]
    assert sorted(os.listdir(data_dir)) == sorted(
        manifest["files"] + manifest["aux"]["docids"])


def test_failed_commit_before_link_removes_staged_files(spark, table):
    """A write_snapshot that raises before its manifest is linked leaves
    data/ as it found it: an append whose schema conflicts with the
    table's raises after staging its data and aux files, and a df whose
    write raises leaves no staging dir behind."""
    df = spark.range(20).selectExpr("id", "id % 3 AS v")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    data_dir = os.path.join(table, "data")
    before = set(os.listdir(data_dir))

    clash = spark.range(5).selectExpr("id", "cast(id as string) AS v")
    roster = spark.range(5).selectExpr("cast(id as string) AS doc_id")
    with pytest.raises(ValueError, match="schema evolution conflict"):
        catalog.write_snapshot(clash, table, "append",
                               aux={"docids": roster})
    assert set(os.listdir(data_dir)) == before

    bad = spark.range(5).selectExpr("raise_error('boom') AS v")
    with pytest.raises(Exception, match="boom"):
        catalog.write_snapshot(bad, table, "append")
    assert set(os.listdir(data_dir)) == before
    assert not [n for n in os.listdir(table) if n.startswith("_stage-")]
    assert catalog.current_snapshot_id(table) == s1
    assert catalog.read_table(spark, table).count() == 20


def test_failed_pointer_advance_keeps_committed_files(
        spark, table, monkeypatch):
    """A commit that raises AFTER its manifest is linked, in the pointer
    advance, has committed: every file it staged stays, and the snapshot
    reads whole once the pointer heals."""
    df = spark.range(20).selectExpr("id", "id % 3 AS v")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    roster = spark.range(5).selectExpr("cast(id as string) AS doc_id")

    def fail(*_a, **_k):
        raise OSError("injected pointer-advance failure")

    monkeypatch.setattr(catalog, "_advance_pointer", fail)
    with pytest.raises(OSError, match="injected"):
        catalog.write_snapshot(df, table, "append", aux={"docids": roster})
    monkeypatch.undo()

    assert catalog.current_snapshot_id(table) == s1  # pointer lags
    m = catalog._read_manifest(table, s1 + 1)
    assert m["aux"]["docids"]
    assert sorted(os.listdir(os.path.join(table, "data"))) == sorted(
        m["files"] + m["aux"]["docids"])
    catalog._heal_pointer(table)
    assert catalog.current_snapshot_id(table) == s1 + 1
    assert catalog.read_table(spark, table).count() == 40
    assert catalog.read_aux(spark, table, "docids").count() == 5


def _fail(*_a, **_k):
    raise OSError("injected commit failure")


def test_failed_upsert_removes_staged_files(spark, table, monkeypatch):
    """An upsert that raises before its manifest is linked removes its
    staged data and key files: on a schema clash (raised after staging)
    and on a publish failure other than a lost claim. One that raises
    after the link, in the pointer advance, keeps them."""
    df = spark.range(20).selectExpr("id", "id % 3 AS v")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    data_dir = os.path.join(table, "data")
    before = set(os.listdir(data_dir))

    clash = spark.range(5).selectExpr("id", "cast(id as string) AS v")
    with pytest.raises(ValueError, match="schema evolution conflict"):
        catalog.upsert(spark, table, clash, keys=["id"])
    assert set(os.listdir(data_dir)) == before

    new = spark.range(5).selectExpr("id", "id * 10 AS v")
    monkeypatch.setattr(catalog, "_publish", _fail)
    with pytest.raises(OSError, match="injected"):
        catalog.upsert(spark, table, new, keys=["id"])
    assert set(os.listdir(data_dir)) == before
    assert catalog.current_snapshot_id(table) == s1

    monkeypatch.undo()
    monkeypatch.setattr(catalog, "_advance_pointer", _fail)
    with pytest.raises(OSError, match="injected"):
        catalog.upsert(spark, table, new, keys=["id"])
    monkeypatch.undo()
    m = catalog._read_manifest(table, s1 + 1)
    added = set(os.listdir(data_dir)) - before
    assert added == set(m["files"][len(before):]) | {m["eq_delete_files"][0][0]}
    catalog._heal_pointer(table)
    assert catalog.read_table(spark, table).filter("v >= 10").count() == 4


def test_failed_delete_where_removes_staged_files(spark, table, monkeypatch):
    """delete_where keeps the same rule: a publish that fails for any
    reason but a lost claim removes the staged delete file, and a
    failed pointer advance after the link keeps it."""
    s1 = catalog.write_snapshot(spark.range(20), table, "overwrite")
    data_dir = os.path.join(table, "data")
    before = set(os.listdir(data_dir))

    monkeypatch.setattr(catalog, "_publish", _fail)
    with pytest.raises(OSError, match="injected"):
        catalog.delete_where(spark, table, "id < 5")
    assert set(os.listdir(data_dir)) == before
    assert catalog.current_snapshot_id(table) == s1

    monkeypatch.undo()
    heal = catalog._advance_pointer  # delete_where heals (sid 0) first
    monkeypatch.setattr(catalog, "_advance_pointer",
                        lambda d, sid: heal(d, sid) if sid == 0 else _fail())
    with pytest.raises(OSError, match="injected"):
        catalog.delete_where(spark, table, "id < 5")
    monkeypatch.undo()
    m = catalog._read_manifest(table, s1 + 1)
    assert set(os.listdir(data_dir)) - before == set(m["delete_files"])
    catalog._heal_pointer(table)
    assert catalog.read_table(spark, table).count() == 15


def test_uncommitted_files_invisible(spark, table):
    out = pipeline.extract(corpus.build_spans_df(spark, SF_SMOKE)).limit(100)
    catalog.write_snapshot(out, table, "overwrite")
    n = catalog.read_table(spark, table).count()
    # simulate a crashed writer: orphan data file, no manifest publish
    data_dir = os.path.join(table, "data")
    orphan = os.path.join(data_dir, "orphan.parquet")
    out.limit(10).write.mode("overwrite").parquet(os.path.join(table, "_crash"))
    for f in os.listdir(os.path.join(table, "_crash")):
        if f.endswith(".parquet"):
            os.rename(os.path.join(table, "_crash", f), orphan)
            break
    assert catalog.read_table(spark, table).count() == n, (
        "reader saw files outside the manifest"
    )


def test_incremental_extraction_processes_only_the_delta(spark, table):
    """Snapshot-diff ingestion: batch 1 = docs 0..99, batch 2 = docs
    50..149 (overlap 50) — the second run must extract exactly the 50 new
    docs, the final table must equal a from-scratch run over the union,
    and batch 1's snapshot must stay time-travelable."""
    from dd_ops_ocr_spark import incremental, pipeline

    spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
    b1 = spans.filter("doc_id < 'doc_000100'")
    b2 = spans.filter("doc_id >= 'doc_000050' and doc_id < 'doc_000150'")

    s1 = incremental.extract_incremental(spark, b1, table, "r1")
    assert s1["operation"] == "overwrite" and s1["docs_processed"] == 100
    s2 = incremental.extract_incremental(spark, b2, table, "r2")
    assert s2["operation"] == "append" and s2["docs_processed"] == 50
    # re-delivering batch 2 is a no-op (no duplicate spans ever)
    s3 = incremental.extract_incremental(spark, b2, table, "r3")
    assert s3["operation"] == "noop" and s3["docs_processed"] == 0

    got = catalog.read_table(spark, table)
    want = pipeline.extract(spans.filter("doc_id < 'doc_000150'"))
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    assert got.count() == want.count()
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    # time travel: snapshot 1 still reads batch 1 alone
    assert (
        catalog.read_table(spark, table, snapshot_id=s1["snapshot_id"])
        .select("doc_id").distinct().count() == 100
    )


def test_incremental_roster_upgrade_keeps_history(spark, table):
    """Appending to a PRE-roster table (parent manifest committed without
    the 'docids' aux) must seed the new roster with the fallback history:
    write_snapshot's append only unions aux keys the parent has, so a
    delta-only roster would make every pre-roster doc re-extract on every
    subsequent run."""
    from dd_ops_ocr_spark import incremental

    spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
    b1 = spans.filter("doc_id < 'doc_000050'")
    b2 = spans.filter("doc_id >= 'doc_000030' and doc_id < 'doc_000080'")

    # legacy snapshot: data committed with NO aux roster
    catalog.write_snapshot(pipeline.extract(b1), table, "overwrite")
    assert catalog.read_aux(spark, table, "docids") is None

    s2 = incremental.extract_incremental(spark, b2, table, "r2")
    assert s2["operation"] == "append" and s2["docs_processed"] == 30
    # the committed roster now covers BOTH the legacy docs and the delta
    roster = {
        r["doc_id"]
        for r in catalog.read_aux(spark, table, "docids").collect()
    }
    assert len(roster) == 80, (
        f"roster lost pre-upgrade history: {len(roster)} docs"
    )
    # re-delivering either batch is a no-op — no doc re-extracts
    assert incremental.extract_incremental(
        spark, b1, table, "r3")["operation"] == "noop"
    assert incremental.extract_incremental(
        spark, b2, table, "r4")["operation"] == "noop"
    got = catalog.read_table(spark, table)
    assert got.select("doc_id").distinct().count() == 80


# ------------------------------------------------- stats / skipping / compact


def _orders(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet")


def test_footer_stats_harvested_into_manifest(spark, table):
    """write_snapshot records per-file rows + column [min,max] from the
    parquet footers — no data scan — and append merges the parent's."""
    df = _orders(spark).repartitionByRange(4, "o_orderkey")
    catalog.write_snapshot(df, table, "overwrite")
    m = catalog.snapshots(table)[-1]
    assert set(m["file_stats"]) == set(m["files"])
    total = 0
    for st in m["file_stats"].values():
        total += st["rows"]
        lo, hi = st["columns"]["o_orderkey"]
        assert isinstance(lo, int) and lo <= hi
        # timestamps are stored as ISO strings (lexicographic == chrono)
        dlo, dhi = st["columns"]["o_orderdate"]
        assert dlo <= dhi and "T" in dlo
    assert total == df.count()

    catalog.write_snapshot(_orders(spark).limit(10), table, "append")
    m2 = catalog.snapshots(table)[-1]
    assert set(m2["file_stats"]) == set(m2["files"])  # parent stats kept


def test_plan_scan_prunes_and_stays_superset(spark, table):
    """Range-clustered files prune under a narrow predicate; the kept
    set is a superset of the true matches (filter on top == full scan)."""
    df = _orders(spark).repartitionByRange(
        8, "o_orderdate").sortWithinPartitions("o_orderdate")
    catalog.write_snapshot(df, table, "overwrite")
    preds = [("o_orderdate", ">=", "1996-01-01T00:00:00"),
             ("o_orderdate", "<", "1996-07-01T00:00:00")]
    kept, total = catalog.plan_scan(table, preds)
    assert total == 8 and 0 < len(kept) < total  # real skipping happened

    cond = ("o_orderdate >= timestamp'1996-01-01' AND "
            "o_orderdate < timestamp'1996-07-01'")
    pruned = catalog.read_table(spark, table, where=preds).filter(cond)
    full = catalog.read_table(spark, table).filter(cond)
    assert pruned.count() == full.count() > 0

    # unknown column / mismatched value type → conservative keep-all
    assert len(catalog.plan_scan(table, [("nope", "==", 1)])[0]) == total
    assert len(catalog.plan_scan(table, [("o_orderkey", "<", "zz")])[0]) == total


def test_plan_scan_empty_result_reads_as_empty_df(spark, table):
    df = _orders(spark).repartitionByRange(4, "o_orderkey")
    catalog.write_snapshot(df, table, "overwrite")
    out = catalog.read_table(
        spark, table, where=[("o_orderkey", "<", -1)])
    assert out.count() == 0
    assert out.schema == df.schema


def test_compact_preserves_rows_and_time_travel(spark, table):
    df = _orders(spark).repartitionByRange(8, "o_orderdate")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    n = df.count()
    s2 = catalog.compact(spark, table, num_files=2, sort_by=["o_orderdate"])
    m2 = catalog.snapshots(table)[-1]
    assert m2["operation"] == "compact" and s2 == s1 + 1
    assert len(m2["files"]) == 2 < 8
    assert catalog.read_table(spark, table).count() == n
    # identical row multiset, not just counts
    a = catalog.read_table(spark, table).orderBy("o_orderkey").toPandas()
    b = catalog.read_table(spark, table, snapshot_id=s1).orderBy(
        "o_orderkey").toPandas()
    assert a.equals(b)
    # compaction re-harvests stats, so pruning works on the new layout
    kept, total = catalog.plan_scan(
        table, [("o_orderdate", "<", "1996-01-01T00:00:00")])
    assert total == 2 and len(kept) < total


def test_expire_snapshots_reclaims_only_dead_files(spark, table):
    s1 = catalog.write_snapshot(_orders(spark).limit(100), table, "overwrite")
    catalog.write_snapshot(_orders(spark).limit(50), table, "append")
    s3 = catalog.compact(spark, table, num_files=1)
    n = catalog.read_table(spark, table).count()
    before = set(os.listdir(os.path.join(table, "data")))

    res = catalog.expire_snapshots(table, keep_last=1)
    assert res["expired_snapshots"] == 2
    # snapshot 2's append reuses snapshot 1's files, so the dead set is
    # exactly the files the compacted snapshot no longer references
    after = set(os.listdir(os.path.join(table, "data")))
    assert res["deleted_files"] == len(before) - len(after) > 0
    # current still reads; expired ids are gone; parent_id dangles safely
    assert catalog.read_table(spark, table).count() == n
    snaps = catalog.snapshots(table)
    assert [m["snapshot_id"] for m in snaps] == [s3]
    assert snaps[0]["parent_id"] not in [m["snapshot_id"] for m in snaps]
    with pytest.raises(FileNotFoundError):
        catalog.read_table(spark, table, snapshot_id=s1)


def test_write_snapshot_expected_parent_cas(spark, table):
    """A commit derived from a stale snapshot must refuse to publish."""
    s1 = catalog.write_snapshot(_orders(spark).limit(10), table, "overwrite")
    catalog.write_snapshot(_orders(spark).limit(5), table, "append")
    with pytest.raises(catalog.CommitConflict):
        catalog.write_snapshot(
            _orders(spark).limit(10), table, "compact", expected_parent=s1
        )


def test_compact_retries_past_concurrent_append(spark, table, monkeypatch):
    """An append landing between compact's read and its publish must not
    be dropped: the CAS rejects the stale rewrite and the loop recompacts
    the post-append state."""
    base = _orders(spark).filter("o_orderkey < 80")
    extra = _orders(spark).filter("o_orderkey >= 80 AND o_orderkey < 100")
    catalog.write_snapshot(base, table, "overwrite")

    real_read = catalog.read_table
    fired = {"done": False}

    def racy_read(spark_, tdir, snapshot_id=None, where=None):
        df = real_read(spark_, tdir, snapshot_id=snapshot_id, where=where)
        if not fired["done"]:
            fired["done"] = True
            catalog.write_snapshot(extra, tdir, "append")  # races the rewrite
        return df

    monkeypatch.setattr(catalog, "read_table", racy_read)
    catalog.compact(spark, table, num_files=1)
    monkeypatch.undo()
    assert catalog.read_table(spark, table).count() == 100
    assert catalog.snapshots(table)[-1]["operation"] == "compact"


def test_maintain_table_job_dry_run_and_compact(spark, table, capsys):
    """The maintenance job's report/compact/expire loop: dry-run reports
    without committing (and without needing a SparkSession for the
    metadata-only paths); the real run compacts to --target-files and
    expires old snapshots; an already-compact table is a no-op."""
    import json

    from jobs.maintain_table import main as maintain

    df = _orders(spark).repartitionByRange(8, "o_orderdate")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    n = df.count()

    rc = maintain(["--table", table, "--target-files", "2", "--dry-run"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert rep["snapshot_id"] == s1 and rep["files"] == 8
    assert rep["compact"] == {"from_files": 8, "to_files": 2}
    assert catalog.snapshots(table)[-1]["snapshot_id"] == s1  # no commit

    rc = maintain(["--table", table, "--target-files", "2",
                   "--sort-by", "o_orderdate", "--keep-snapshots", "1"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    m = catalog.snapshots(table)[-1]
    assert m["operation"] == "compact" and len(m["files"]) == 2
    assert rep["compact"]["snapshot_id"] == m["snapshot_id"]
    assert catalog.read_table(spark, table).count() == n

    # already compact: report-only, no new snapshot
    before = catalog.current_snapshot_id(table)
    rc = maintain(["--table", table, "--target-files", "4"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["compact"] is None
    assert catalog.current_snapshot_id(table) == before

    # empty table dir: clean error, rc 1
    import tempfile as tf
    empty = tf.mkdtemp(prefix="cat_empty_")
    try:
        rc = maintain(["--table", empty])
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rc == 1 and rep["error"] == "no snapshot"
    finally:
        shutil.rmtree(empty, ignore_errors=True)


def test_table_dir_uri_schemes(spark, table):
    """file:// table URIs work end-to-end (normalized to the POSIX path
    — same table either way); remote object-store schemes raise with
    metastore deployment guidance instead of misreading an existing
    table as empty (the ledger's silent-wrong standard, applied here)."""
    s1 = catalog.write_snapshot(
        _orders(spark).limit(50), f"file://{table}", "overwrite")
    # both spellings see the same table
    assert catalog.current_snapshot_id(table) == s1
    assert catalog.current_snapshot_id(f"file://{table}") == s1
    assert catalog.read_table(spark, f"file://{table}").count() == 50
    assert len(catalog.snapshots(f"file://{table}")) == 1
    # jobs call the private manifest reader with the raw user URI
    assert catalog._read_manifest(f"file://{table}", s1)["snapshot_id"] == s1

    # Hadoop's no-authority rendering (file:/p) must normalize too —
    # it is how Spark prints local URIs in its own output
    assert catalog.current_snapshot_id(f"file:{table}") == s1

    for fn in (
        lambda: catalog.current_snapshot_id("s3a://bucket/tbl"),
        lambda: catalog.current_snapshot_id("s3a:/bucket/tbl"),  # typo form
        lambda: catalog.write_snapshot(
            _orders(spark).limit(1), "gs://bucket/tbl", "overwrite"),
        lambda: catalog.read_table(spark, "hdfs://nn/tbl"),
        lambda: catalog.expire_snapshots("s3a://bucket/tbl"),
    ):
        with pytest.raises(NotImplementedError, match="metastore"):
            fn()
    # a file:// URI naming another host is NOT this machine's tree
    with pytest.raises(NotImplementedError, match="authority"):
        catalog.current_snapshot_id("file://otherhost/data/tbl")
    # a colon inside a path segment is a local name, not a scheme
    import os as _os
    weird = _os.path.join(table, "data")  # exists, no metadata -> None
    assert catalog.current_snapshot_id(table + ":v2") is None


def test_compact_carries_aux_forward(spark, table):
    """compact() rewrites DATA only: aux side tables (e.g. the
    incremental roster) must ride into the compact snapshot unchanged,
    and expire_snapshots afterwards must not reclaim their files —
    otherwise every maintenance cycle wipes the processed-doc history."""
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    roster = spark.range(10).selectExpr("CAST(id AS STRING) AS doc_id")
    catalog.write_snapshot(df, table, "overwrite", aux={"docids": roster})
    catalog.compact(spark, table, num_files=1)
    aux = catalog.read_aux(spark, table, "docids")
    assert aux is not None and aux.count() == 10
    catalog.expire_snapshots(table, keep_last=1)
    assert catalog.read_aux(spark, table, "docids").count() == 10
    assert catalog.read_table(spark, table).count() == 100


def test_cas_conflict_leaves_no_orphan_files(spark, table, monkeypatch):
    """A CAS-rejected commit must not leak staged data files: the
    pre-staging fast-fail writes nothing, and a mid-staging advance is
    cleaned up before CommitConflict propagates (expire_snapshots never
    blind-sweeps, so an orphan here would live forever)."""
    df = spark.range(50).selectExpr("id", "id AS v")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    data_dir = os.path.join(table, "data")
    before = set(os.listdir(data_dir))

    # stale before staging: fast-fail, no new files at all
    with pytest.raises(catalog.CommitConflict):
        catalog.write_snapshot(df, table, "compact", expected_parent=s1 + 9)
    assert set(os.listdir(data_dir)) == before

    # table advances AFTER the pre-check: staged files must be removed
    real = catalog._max_manifest_id
    calls = {"n": 0}

    def advancing(table_dir):
        calls["n"] += 1
        return real(table_dir) if calls["n"] == 1 else real(table_dir) + 1

    monkeypatch.setattr(catalog, "_max_manifest_id", advancing)
    with pytest.raises(catalog.CommitConflict):
        catalog.write_snapshot(df, table, "compact", expected_parent=s1)
    monkeypatch.undo()
    assert set(os.listdir(data_dir)) == before


def test_plan_scan_mixed_iso_granularity_fails_open(spark, table):
    """A bare-date predicate against padded-timestamp stats must NOT
    prune (lexicographic compare across granularities is wrong at range
    edges); the same-granularity predicate still prunes."""
    df = spark.createDataFrame(
        [("1996-01-01T00:00:00", 1), ("1997-06-15T12:00:00", 2)],
        "ts string, v int",
    ).repartitionByRange(2, "ts").sortWithinPartitions("ts")
    catalog.write_snapshot(df, table, "overwrite")
    total = len(catalog.plan_scan(table, [])[0])
    # mixed granularity: keep everything (superset contract)
    kept, _ = catalog.plan_scan(table, [("ts", ">=", "1997-01-01")])
    assert len(kept) == total
    # matched granularity: prunes the 1996 file
    kept, _ = catalog.plan_scan(table, [("ts", ">=", "1997-01-01T00:00:00")])
    assert len(kept) < total


def test_publish_crash_leaves_no_torn_manifest(spark, table, monkeypatch):
    """A committer that dies mid-manifest-write must leave the id
    unclaimed, not a torn snap-*.json: sid allocation is
    _max_manifest_id()+1 and every commit loop READS the parent manifest
    it finds there, so a half-written manifest would permanently fail
    all later commits, time travel to that id, and the change feed's
    dense snapshot walk. Link-publish makes the manifest either absent
    or complete — never partial."""
    df = spark.range(3).selectExpr("cast(id as string) as doc_id")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    meta = os.path.join(table, "metadata")

    real_dump = catalog.json.dump

    def torn_dump(obj, f, **kw):
        f.write('{"snapshot_id": ')  # partial bytes, then die
        raise OSError("simulated crash mid-manifest-write")

    monkeypatch.setattr(catalog.json, "dump", torn_dump)
    with pytest.raises(OSError, match="simulated crash"):
        catalog.write_snapshot(df, table, "append")
    monkeypatch.setattr(catalog.json, "dump", real_dump)

    # no torn manifest claimed the id; only the committed one exists
    snaps = [n for n in os.listdir(meta)
             if n.startswith("snap-") and n.endswith(".json")]
    assert snaps == [f"snap-{s1:06d}.json"]
    assert catalog.current_snapshot_id(table) == s1

    # the id is reusable: the next committer lands at s1+1 and the
    # table reads whole (commit path re-reads this parent manifest)
    s2 = catalog.write_snapshot(df, table, "append")
    assert s2 == s1 + 1
    assert catalog.read_table(spark, table).count() == 6


def test_lagging_pointer_heals_in_cas_loops(spark, table):
    """A committer that crashed AFTER linking its manifest but BEFORE
    advancing _current leaves a committed snapshot the pointer doesn't
    name yet. write_snapshot/upsert self-heal (they allocate from
    _max_manifest_id), but delete_where and compact CAS on
    current_snapshot_id — without healing they would spin 16x against
    the stale base and raise CommitConflict. Both must adopt the
    orphaned-complete snapshot and commit on top of it."""
    import json as _json

    df = spark.range(10).selectExpr("id", "id % 2 AS v")
    s1 = catalog.write_snapshot(df, table, "overwrite")
    # simulate the crash window: a COMPLETE manifest at s1+1, pointer
    # still at s1 (write it directly; _publish would advance)
    m = catalog._read_manifest(table, s1)
    m["snapshot_id"], m["parent_id"] = s1 + 1, s1
    with open(catalog._manifest_path(table, s1 + 1), "w") as f:
        _json.dump(m, f)
    assert catalog.current_snapshot_id(table) == s1

    s3 = catalog.delete_where(spark, table, "v = 1")
    assert s3 == s1 + 2  # committed past the adopted orphan
    assert catalog.current_snapshot_id(table) == s3
    assert catalog.read_table(spark, table).count() == 5

    # same crash shape again, then compact
    m2 = catalog._read_manifest(table, s3)
    m2["snapshot_id"], m2["parent_id"] = s3 + 1, s3
    with open(catalog._manifest_path(table, s3 + 1), "w") as f:
        _json.dump(m2, f)
    s5 = catalog.compact(spark, table, num_files=1)
    assert s5 == s3 + 2
    assert catalog.read_table(spark, table).count() == 5


def test_catalog_fixture_tables_are_named_by_their_builders_source(
        tmp_path, monkeypatch):
    """The ``catalog_*`` oracle queries cache their tables under a digest
    of catalog.py and catalogops.py: an edit to either names new tables,
    so no query reads a table that older commit code built."""
    from dd_ops_ocr_spark.operators import catalogops

    assert os.path.samefile(catalogops._SOURCES[0], catalog.__file__)
    assert os.path.samefile(catalogops._SOURCES[1], catalogops.__file__)
    copies = []
    for src in catalogops._SOURCES:
        copies.append(tmp_path / os.path.basename(src))
        shutil.copyfile(src, copies[-1])
    monkeypatch.setattr(catalogops, "_SOURCES", tuple(map(str, copies)))
    paths = {catalogops._fixture_path("orders", "/data/sf0.01/")}
    assert catalogops._fixture_path("orders", "/data/sf0.01") in paths
    for copy in copies:
        with open(copy, "a") as f:
            f.write("# edited\n")
        paths.add(catalogops._fixture_path("orders", "/data/sf0.01"))
    assert len(paths) == 3
    assert all(os.path.basename(p).startswith("catalog_orders_sf0.01_")
               for p in paths)


def test_catalog_fixture_build_removes_superseded_tables(
        tmp_path, monkeypatch):
    """Publishing a ``catalog_*`` fixture table removes the same table's
    dirs under other digests, and keeps the current table, other
    tables, other sfs' tables and in-flight build dirs."""
    from dd_ops_ocr_spark import fixture_cache
    from dd_ops_ocr_spark.operators import catalogops

    monkeypatch.setattr(fixture_cache, "bench_cache_dir", lambda: str(tmp_path))
    current = os.path.basename(catalogops._fixture_path("orders", "/d/sf0.01"))
    stale = ["catalog_orders_sf0.01_000000000000", "catalog_orders_sf0.01_v1"]
    kept = ["catalog_deldocs_sf0.01_000000000000",
            "catalog_orders_sf0.1_000000000000",
            "catalog_orders_sf0.01_000000000000._building_1_ab"]
    for name in stale + kept:
        (tmp_path / name).mkdir()

    built = []
    path = catalogops._cached_table(
        "orders", "/d/sf0.01", lambda tmp: built.append(os.mkdir(tmp)))
    assert built and os.path.basename(path) == current
    assert sorted(os.listdir(tmp_path)) == sorted(kept + [current])
    # a cache hit does not rebuild and keeps the current table
    catalogops._cached_table("orders", "/d/sf0.01", built.append)
    assert len(built) == 1 and os.path.isdir(path)
