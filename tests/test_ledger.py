"""Resume-partition-exactly: kill after k buckets, rerun, output must be
identical to an uninterrupted run and only the missing buckets reprocess."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from dd_ops_ocr_spark import corpus, ledger
from tests.conftest import SF_SMOKE

N_BUCKETS = 8


@pytest.fixture()
def spans(spark):
    return corpus.build_spans_df(spark, SF_SMOKE).cache()


def test_crash_and_resume_exact(spark, spans):
    full_dir = tempfile.mkdtemp(prefix="ledger_full_")
    crash_dir = tempfile.mkdtemp(prefix="ledger_crash_")
    try:
        ledger.run_one_pass(spark, spans, full_dir, "run_full",
                            n_buckets=N_BUCKETS)

        with pytest.raises(RuntimeError, match="injected failure"):
            ledger.run_one_pass(spark, spans, crash_dir, "run_a",
                                n_buckets=N_BUCKETS, fail_after=3)
        assert len(ledger.committed_buckets(spark, crash_dir)) == 3

        summary = ledger.run_one_pass(spark, spans, crash_dir, "run_b",
                                      n_buckets=N_BUCKETS)
        assert summary["buckets_resumed_from"] == 3
        assert summary["buckets_processed"] == N_BUCKETS - 3

        a = ledger.read_output(spark, full_dir)
        b = ledger.read_output(spark, crash_dir)
        assert a.count() == b.count()
        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        assert (
            a.select(cols).exceptAll(b.select(cols)).count() == 0
            and b.select(cols).exceptAll(a.select(cols)).count() == 0
        )

        led = ledger.read_ledger(spark, crash_dir).toPandas()
        assert len(led) == N_BUCKETS
        assert set(led[led.committed_at_run == "run_a"].bucket) == {0, 1, 2}
        assert led["spans_emitted"].sum() == a.count()
    finally:
        shutil.rmtree(full_dir, ignore_errors=True)
        shutil.rmtree(crash_dir, ignore_errors=True)


def test_resume_with_other_bucket_count_raises(spark, spans, tmp_path):
    """Bucket ids only name the same documents under the same N. A
    resume with another N must be refused before it writes: read as this
    run's buckets, another N's markers would skip the wrong documents and
    re-extract committed ones (sf0.001, N=4 then N=8: 91,300 rows against
    79,673, 11,627 of them duplicates). The committed N must still
    resume to the uninterrupted result."""
    out = tmp_path / "out"
    full_dir, d = str(tmp_path / "full"), str(out)

    def tree():  # every file under the out dir (data and ledger), mtimes
        return {(str(p.relative_to(out)), p.stat().st_mtime_ns)
                for p in out.rglob("*") if p.is_file()}

    ledger.run_one_pass(spark, spans, full_dir, "run_full", n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        ledger.run_one_pass(spark, spans, d, "run_a", n_buckets=4,
                            fail_after=1)
    before = tree()
    assert any(f.startswith("data/") for f, _ in before)
    with pytest.raises(ValueError, match=r"n_buckets=\[4\].*n_buckets=8"):
        ledger.run_one_pass(spark, spans, d, "run_b", n_buckets=8)
    assert tree() == before
    assert ledger.committed_buckets(spark, d) == {0}

    s = ledger.run_one_pass(spark, spans, d, "run_c", n_buckets=4)
    assert (s["buckets_resumed_from"], s["buckets_processed"]) == (1, 3)
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    a = ledger.read_output(spark, full_dir).select(cols)
    b = ledger.read_output(spark, d).select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    led = ledger.read_ledger(spark, d).toPandas()
    assert sorted(led.bucket) == [0, 1, 2, 3]
    assert (led.n_buckets == 4).all()
    assert led["spans_emitted"].sum() == a.count()


def test_markers_without_bucket_count_still_resume(spark, spans, tmp_path):
    """A ledger written before markers recorded N has no n_buckets
    column. Its markers read N as unknown: the resume probe must not fail
    on the missing column, and the resume proceeds unchecked."""
    d = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        ledger.run_one_pass(spark, spans, d, "run_a", n_buckets=4,
                            fail_after=1)
    old = ledger.read_ledger(spark, d).drop("n_buckets")
    old.write.partitionBy("commit").parquet(str(tmp_path / "old_ledger"))
    shutil.rmtree(f"{d}/ledger")
    shutil.move(str(tmp_path / "old_ledger"), f"{d}/ledger")

    s = ledger.run_one_pass(spark, spans, d, "run_b", n_buckets=4)
    assert (s["buckets_resumed_from"], s["buckets_processed"]) == (1, 3)


def test_bucket_assignment_deterministic(spark, spans):
    b1 = spans.select("doc_id", ledger.bucket_col(N_BUCKETS).alias("b"))
    b2 = spans.select("doc_id", ledger.bucket_col(N_BUCKETS).alias("b"))
    assert b1.exceptAll(b2).count() == 0
    n = b1.select("b").distinct().count()
    assert n == N_BUCKETS


def test_one_pass_crash_before_any_marker(spark, spans):
    """Worst crash window: data fully written, zero markers — the resume
    must reprocess everything and converge to the uninterrupted result."""
    d = tempfile.mkdtemp(prefix="ledger_zero_")
    ref = tempfile.mkdtemp(prefix="ledger_zref_")
    try:
        ledger.run_one_pass(spark, spans, ref, "run_ref", n_buckets=N_BUCKETS)
        with pytest.raises(RuntimeError, match="injected failure"):
            ledger.run_one_pass(spark, spans, d, "run_x",
                                n_buckets=N_BUCKETS, fail_after=0)
        assert ledger.committed_buckets(spark, d) == set()
        s = ledger.run_one_pass(spark, spans, d, "run_y", n_buckets=N_BUCKETS)
        assert s["buckets_processed"] == N_BUCKETS
        a = ledger.read_output(spark, ref)
        b = ledger.read_output(spark, d)
        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        assert a.count() == b.count()
        assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ref, ignore_errors=True)


def test_parquet_nonempty_uri_scheme(spark, tmp_path):
    """ADVICE r4: _parquet_nonempty on a URI path must go through the
    Hadoop FileSystem API, not os.walk (which silently yields nothing for
    'scheme://...' strings and would downgrade every remote bucket to a
    zero-count marker). ``file://`` takes the local branch, so the
    Hadoop branch is called directly on it here: the same code path as
    hdfs:// and s3a://, resolvable without a cluster."""
    from dd_ops_ocr_spark.ledger import _hadoop_parquet_nonempty, _parquet_nonempty

    d = tmp_path / "data"
    spark.range(5).write.mode("overwrite").parquet(str(d))
    assert _parquet_nonempty(str(d))                       # local walk
    assert _parquet_nonempty(f"file://{d}")                # file:// -> local walk
    assert _hadoop_parquet_nonempty(f"file://{d}")         # Hadoop FS
    empty = tmp_path / "empty"
    empty.mkdir()
    assert not _parquet_nonempty(f"file://{empty}")
    assert not _hadoop_parquet_nonempty(f"file://{tmp_path}/missing")


@pytest.mark.parametrize("ancestor", ["_runs", ".dot"])
def test_hadoop_parquet_probe_ignores_hidden_ancestors(spark, tmp_path, ancestor):
    """Only the components below ``path`` hide a part file, as in the
    local walk: a ``_``/``.``-prefixed ancestor of ``path`` itself does
    not. Before, the Hadoop branch tested every component of the file's
    full path and reported no data under such an out_dir."""
    from dd_ops_ocr_spark.ledger import _hadoop_parquet_nonempty, _parquet_nonempty

    d = tmp_path / ancestor / "data"
    spark.range(5).write.mode("overwrite").parquet(str(d))
    assert _parquet_nonempty(str(d))
    assert _hadoop_parquet_nonempty(f"file://{d}")
    # hidden entries below path still hide: an uncommitted attempt file
    attempt = tmp_path / ancestor / "staged"
    (attempt / "_temporary" / "0").mkdir(parents=True)
    part = next(d.glob("*.parquet"))
    shutil.copy(part, attempt / "_temporary" / "0" / part.name)
    assert not _parquet_nonempty(str(attempt))
    assert not _hadoop_parquet_nonempty(f"file://{attempt}")


def test_observed_lineage_single_pass_and_docs_invariant(spark, spans):
    """The commit markers' metrics come from one aggregate over the
    written data, not from a second run of the extraction. Two claims
    pinned here: (1) the kernel runs ONCE per output row (the commit
    aggregate reads the written parquet, it does not re-extract); (2)
    the marker's docs metric (rows with order == 1) equals
    countDistinct(doc_id)."""
    from dd_ops_ocr_spark import pipeline
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    def counting_extractor(df):
        out = pipeline.extract(df)

        def bump(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return out.mapInPandas(bump, out.schema)

    out_dir = tempfile.mkdtemp(prefix="ledger_obs_")
    try:
        ledger.run_one_pass(spark, spans, out_dir, "run_obs",
                            n_buckets=4, extractor=counting_extractor)
        written = spark.read.parquet(f"{out_dir}/data")
        total_rows = written.count()
        # single pass: every output row crossed the kernel exactly once
        assert acc.value == total_rows
        # marker metrics equal an independent recompute per bucket
        markers = spark.read.parquet(f"{out_dir}/ledger").toPandas()
        recompute = (
            written.groupBy("bucket")
            .agg(F.countDistinct("doc_id").alias("docs"),
                 F.count("*").alias("spans_emitted"))
            .toPandas().set_index("bucket")
        )
        got = markers.set_index("bucket")[["docs", "spans_emitted"]]
        for b in recompute.index:
            assert got.loc[b, "docs"] == recompute.loc[b, "docs"]
            assert (got.loc[b, "spans_emitted"]
                    == recompute.loc[b, "spans_emitted"])
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_committed_buckets_survives_torn_first_marker(spark, tmp_path):
    """A crash during the very FIRST ledger write leaves the ledger dir
    with only uncommitted litter (_temporary attempts, _SUCCESS). The
    resume probe must answer set() — not crash spark.read.parquet with
    'Unable to infer schema' and kill the resume path outright."""
    out = tmp_path / "out"
    lg = out / "ledger"
    (lg / "_temporary" / "0" / "task").mkdir(parents=True)
    # a parquet-named attempt file that Spark readers would ignore
    (lg / "_temporary" / "0" / "task" / "part-0.parquet").write_bytes(
        b"not parquet"
    )
    (lg / "_SUCCESS").write_bytes(b"")
    from dd_ops_ocr_spark.ledger import committed_buckets

    assert committed_buckets(spark, str(out)) == set()


@pytest.mark.parametrize("salted", [False, True],
                         ids=["extract", "extract_salted"])
def test_one_pass_markers_match_recompute_across_resume(spark, spans, salted):
    """run_one_pass's narrow commit aggregate (docs = rows with
    order == 1, no doc_id read) must equal a countDistinct(doc_id)
    recompute per bucket, on both extractors. A fail_after crash then a
    resume makes the commit aggregate run over a data dir that already
    holds committed buckets: its isin(todo) filter must keep them out of
    the resumed run's markers."""
    from pyspark.sql import functions as F

    from dd_ops_ocr_spark import pipeline
    from dd_ops_ocr_spark.plans.salting import extract_salted

    extractor = extract_salted if salted else pipeline.extract
    metrics = ["docs", "spans_emitted", "text_blocks", "media_blocks"]
    d = tempfile.mkdtemp(prefix="ledger_recompute_")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            ledger.run_one_pass(spark, spans, d, "run_a", n_buckets=N_BUCKETS,
                                fail_after=3, extractor=extractor)
        s = ledger.run_one_pass(spark, spans, d, "run_b",
                                n_buckets=N_BUCKETS, extractor=extractor)
        assert s["buckets_resumed_from"] == 3

        led = ledger.read_ledger(spark, d).toPandas()
        assert sorted(led.bucket) == list(range(N_BUCKETS))
        assert set(led[led.committed_at_run == "run_a"].bucket) == {0, 1, 2}
        got = led.set_index("bucket")[metrics].sort_index()
        # independent of the ledger's expressions: docs via a distinct
        want = (
            ledger.read_output(spark, d).groupBy("bucket")
            .agg(F.countDistinct("doc_id").alias("docs"),
                 F.count("*").alias("spans_emitted"),
                 F.count(F.when(F.col("kind") == "text", 1)).alias("text_blocks"),
                 F.count(F.when(F.col("kind") != "text", 1)).alias("media_blocks"))
            .toPandas().set_index("bucket")
            .reindex(range(N_BUCKETS), fill_value=0)[metrics]
        )
        assert (got.values == want.values).all(), (got, want)
        assert got["docs"].sum() > 0 and got["media_blocks"].sum() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_marker_frames_plan_without_python_rdd(spark, spans):
    """The commit path builds its marker frame in-process as an Arrow
    table (LocalTableScan). A list-built frame would plan as
    ``Scan ExistingRDD`` over a pickled PythonRDD and start Python
    workers just to unpickle the bucket ids; no SQL execution that
    touches the ledger may plan one."""
    sql = spark._jsparkSession.sharedState().statusStore()

    def plans():
        execs = sql.executionsList()
        return {execs.apply(i).executionId():
                execs.apply(i).physicalPlanDescription()
                for i in range(execs.size())}

    before = plans()
    d = tempfile.mkdtemp(prefix="ledger_plan_")
    try:
        ledger.run_one_pass(spark, spans, d, "run_p", n_buckets=4)
        ledger_plans = [p for k, p in plans().items()
                        if k not in before and f"{d}/ledger" in p]
        assert ledger_plans
        assert any("LocalTableScan" in p for p in ledger_plans)
        for p in ledger_plans:
            assert "ExistingRDD" not in p and "PythonRDD" not in p, p
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_extract_job_reruns_commit_nothing_and_keep_the_session(
        spark, spans, tmp_path, capsys):
    """jobs/extract_job.py in-process on both sinks, each run twice over
    fixed input: the rerun commits nothing, every run writes the
    quarantine, and main() leaves the caller's session running (it used
    to stop it unconditionally)."""
    import json

    from dd_ops_ocr_spark import catalog
    from dd_ops_ocr_spark.schema import SPANS_SCHEMA
    from jobs.extract_job import main

    src = str(tmp_path / "spans")
    invalid = spark.createDataFrame(
        [("bad_empty", []), ("bad_offset", [("text", "x", None, -1)])],
        SPANS_SCHEMA)
    spans.filter("doc_id < 'doc_000100'").unionByName(invalid) \
        .write.parquet(src)

    def run(out, run_id, *extra):
        assert main(["--input", src, "--output", out, "--run-id", run_id,
                     "--buckets", "4", *extra]) == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["quarantined_docs"] == 2
        assert spark.read.parquet(f"{out}/quarantine").count() == 2
        return summary

    led_out = str(tmp_path / "ledger_sink")
    assert run(led_out, "a")["buckets_processed"] == 4
    assert run(led_out, "b")["buckets_processed"] == 0

    snap_out = str(tmp_path / "snapshot_sink")
    assert run(snap_out, "a", "--snapshots")["operation"] == "overwrite"
    assert run(snap_out, "b", "--snapshots")["operation"] == "noop"

    rows = ledger.read_output(spark, led_out).count()
    assert rows > 0 and catalog.read_table(spark, snap_out).count() == rows
