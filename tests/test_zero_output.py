"""Zero-output edge cases: buckets and documents whose extraction emits
no rows must still be committed (ledger markers / seen-doc roster), or a
resumed/incremental run reprocesses them forever."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from dd_ops_ocr_spark import catalog, corpus, incremental, ledger
from dd_ops_ocr_spark.schema import SPANS_SCHEMA
from tests.conftest import SF_SMOKE

N_BUCKETS = 8


def _empty_output_doc(spark, doc_id: str):
    """A doc whose extraction legitimately emits zero rows: its only span
    is whitespace text, dropped by the empty-content filter (F11)."""
    return spark.createDataFrame(
        [(doc_id, [("text", "  \n\n \t ", None, 0)])], SPANS_SCHEMA
    )


def test_one_pass_commits_empty_buckets(spark):
    """Buckets with no docs (or docs emitting no rows) must still get a
    zero-count ledger marker; the follow-up run must be the no-op path."""
    spans = corpus.build_spans_df(spark, SF_SMOKE)
    # keep only bucket 0's docs — buckets 1..7 produce zero output rows
    only0 = spans.filter(ledger.bucket_col(N_BUCKETS) == 0).cache()
    d = tempfile.mkdtemp(prefix="ledger_empty_")
    try:
        s = ledger.run_one_pass(spark, only0, d, "run_a", n_buckets=N_BUCKETS)
        assert s["buckets_processed"] == N_BUCKETS
        assert ledger.committed_buckets(spark, d) == set(range(N_BUCKETS))
        led = ledger.read_ledger(spark, d).toPandas()
        assert len(led) == N_BUCKETS  # one marker per bucket, empties included
        assert (led[led.bucket != 0].spans_emitted == 0).all()
        # resume is a no-op — nothing reprocesses
        s2 = ledger.run_one_pass(spark, only0, d, "run_b", n_buckets=N_BUCKETS)
        assert s2["buckets_processed"] == 0
        assert s2["buckets_resumed_from"] == N_BUCKETS
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_one_pass_all_buckets_empty(spark):
    """Every todo bucket empty: the dynamic overwrite writes no data
    partitions at all, yet all markers must land and resume must no-op."""
    spans = corpus.build_spans_df(spark, SF_SMOKE).limit(0)
    d = tempfile.mkdtemp(prefix="ledger_allempty_")
    try:
        s = ledger.run_one_pass(spark, spans, d, "run_a", n_buckets=N_BUCKETS)
        assert s["buckets_processed"] == N_BUCKETS
        assert ledger.committed_buckets(spark, d) == set(range(N_BUCKETS))
        s2 = ledger.run_one_pass(spark, spans, d, "run_b", n_buckets=N_BUCKETS)
        assert s2["buckets_processed"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_zero_output_doc_counts_as_seen(spark):
    """A doc emitting zero output rows must land in the seen-doc roster:
    re-delivering it is a noop, not an endless re-extract + new snapshot."""
    spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
    normal = spans.filter("doc_id < 'doc_000020'")
    batch = normal.unionByName(_empty_output_doc(spark, "zdoc_empty"))
    d = tempfile.mkdtemp(prefix="cat_zero_")
    try:
        s1 = incremental.extract_incremental(spark, batch, d, "r1")
        assert s1["operation"] == "overwrite"
        # re-deliver the SAME batch — with output-derived seen-tracking the
        # zero-output doc would be re-extracted and re-committed every run
        s2 = incremental.extract_incremental(spark, batch, d, "r2")
        assert s2["operation"] == "noop", (
            "zero-output doc was re-extracted: seen-tracking is inferring "
            "doc_ids from emitted rows instead of the committed roster"
        )
        assert catalog.current_snapshot_id(d) == s1["snapshot_id"]
        # the zero-output doc alone is also a noop
        s3 = incremental.extract_incremental(
            spark, _empty_output_doc(spark, "zdoc_empty"), d, "r3"
        )
        assert s3["operation"] == "noop"
        # the roster itself is readable and complete
        roster = catalog.read_aux(spark, d, "docids")
        assert roster is not None
        assert roster.filter(F.col("doc_id") == "zdoc_empty").count() == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_incremental_all_zero_output_batch(spark):
    """First batch = ONLY zero-output docs: the snapshot has no data
    files, yet the table must stay readable (schema rides in the
    manifest) and re-delivery must be a noop."""
    batch = _empty_output_doc(spark, "zdoc_a").unionByName(
        _empty_output_doc(spark, "zdoc_b")
    )
    d = tempfile.mkdtemp(prefix="cat_allzero_")
    try:
        s1 = incremental.extract_incremental(spark, batch, d, "r1")
        assert s1["operation"] == "overwrite"
        got = catalog.read_table(spark, d)
        assert got.count() == 0
        assert "doc_id" in got.columns  # schema recovered from manifest
        s2 = incremental.extract_incremental(spark, batch, d, "r2")
        assert s2["operation"] == "noop"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_manifest_ids_past_six_digits(tmp_path):
    """snap-{id:06d} grows to 7 digits at 1,000,000 — id parsing and
    lineage ordering must not truncate or lexicographically mis-sort."""
    import json

    meta = tmp_path / "metadata"
    meta.mkdir()
    for sid in (999_999, 1_000_000, 1_000_001):
        with open(meta / f"snap-{sid:06d}.json", "w") as f:
            json.dump({"snapshot_id": sid, "properties": {}}, f)
    assert catalog._max_manifest_id(str(tmp_path)) == 1_000_001
    ids = [s["snapshot_id"] for s in catalog.snapshots(str(tmp_path))]
    assert ids == [999_999, 1_000_000, 1_000_001]
