"""X9 — result-dir probing, dir-only resume, stale-result cleanup.

Reference behavior: probe candidate result directories in priority
order for already-produced outputs, clean the result scratch between
runs (src/api/main.py:785-853). The Spark-native production design is
the snapshot roster (tests/test_catalog.py); these tests cover the
literal compatibility shape for foreign output trees.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dd_ops_ocr_spark import corpus, incremental, ledger

SF_SMOKE = "/root/testdata/sf0.001"
N_BUCKETS = 8


@pytest.fixture()
def spans(spark):
    return corpus.build_spans_df(spark, SF_SMOKE).cache()


def _split_docs(spans):
    ids = [r["doc_id"] for r in spans.select("doc_id").distinct().collect()]
    ids.sort()
    half = len(ids) // 2
    return set(ids[:half]), set(ids)


def test_probe_precedence_and_skip(spark, spans):
    first_half, all_ids = _split_docs(spans)
    with tempfile.TemporaryDirectory() as tmp:
        dir_a = os.path.join(tmp, "a")   # first half only
        dir_b = os.path.join(tmp, "b")   # everything
        ledger.run_one_pass(
            spark, spans.filter(F.col("doc_id").isin(list(first_half))),
            dir_a, "run_a", n_buckets=N_BUCKETS)
        ledger.run_one_pass(spark, spans, dir_b, "run_b",
                            n_buckets=N_BUCKETS)
        missing = os.path.join(tmp, "nope")  # absent: skipped, not error
        probed = incremental.probe_result_dirs(
            spark, [missing, dir_a, dir_b]).collect()
        by_doc = {r["doc_id"]: r["source_dir"] for r in probed}
        assert set(by_doc) == all_ids
        # precedence: docs present in BOTH dirs attribute to the earlier
        for d in first_half:
            assert by_doc[d] == dir_a
        for d in all_ids - first_half:
            assert by_doc[d] == dir_b


def test_probe_skips_unreadable_candidates(spark, spans):
    """Foreign trees that exist but can't serve doc_ids (no doc_id
    column, or a corrupt parquet footer) are warned about and skipped —
    the docstring's warn-and-continue promise, not an abort."""
    first_half, _ = _split_docs(spans)
    with tempfile.TemporaryDirectory() as tmp:
        good = os.path.join(tmp, "good")
        ledger.run_one_pass(
            spark, spans.filter(F.col("doc_id").isin(list(first_half))),
            good, "run_a", n_buckets=N_BUCKETS)
        # candidate 1: parquet without a doc_id column
        no_col = os.path.join(tmp, "no_col")
        spark.range(5).toDF("other").write.parquet(no_col)
        # candidate 2: a file that only pretends to be parquet
        corrupt = os.path.join(tmp, "corrupt")
        os.makedirs(corrupt)
        with open(os.path.join(corrupt, "part-0.parquet"), "wb") as fh:
            fh.write(b"PAR1 this is not a real footer")
        with pytest.warns(UserWarning, match="skipping unreadable"):
            probed = incremental.probe_result_dirs(
                spark, [no_col, corrupt, good]).collect()
        assert {r["doc_id"] for r in probed} == first_half
        assert all(r["source_dir"] == good for r in probed)


def test_clean_stale_skips_foreign_partition_dirs(spark, spans):
    """A non-numeric bucket dir (e.g. a null-partition dir from another
    writer) is reported as skipped, never parsed or deleted."""
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = os.path.join(tmp, "out")
        ledger.run_one_pass(spark, spans, out_dir, "run_a",
                            n_buckets=N_BUCKETS)
        foreign = os.path.join(
            out_dir, "data", "bucket=__HIVE_DEFAULT_PARTITION__")
        os.makedirs(foreign)
        res = incremental.clean_stale_results(spark, out_dir)
        assert res["skipped_dirs"] == ["bucket=__HIVE_DEFAULT_PARTITION__"]
        assert res["removed_buckets"] == []
        assert os.path.isdir(foreign)  # untouched


def test_probe_nothing_readable(spark):
    with tempfile.TemporaryDirectory() as tmp:
        out = incremental.probe_result_dirs(
            spark, [os.path.join(tmp, "x"), os.path.join(tmp, "y")])
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "doc_id", "source_dir"]


def test_resume_delta_from_dirs_completes_corpus(spark, spans):
    first_half, all_ids = _split_docs(spans)
    with tempfile.TemporaryDirectory() as tmp:
        done_dir = os.path.join(tmp, "done")
        ledger.run_one_pass(
            spark, spans.filter(F.col("doc_id").isin(list(first_half))),
            done_dir, "run_a", n_buckets=N_BUCKETS)
        delta = incremental.resume_delta_from_dirs(
            spark, spans, [done_dir])
        delta_ids = {r["doc_id"]
                     for r in delta.select("doc_id").distinct().collect()}
        assert delta_ids == all_ids - first_half
        # landing the delta next to the probe source completes the corpus
        rest_dir = os.path.join(tmp, "rest")
        ledger.run_one_pass(spark, delta, rest_dir, "run_b",
                            n_buckets=N_BUCKETS)
        reprobed = incremental.probe_result_dirs(
            spark, [done_dir, rest_dir])
        assert reprobed.count() == len(all_ids)


def test_clean_stale_results(spark, spans):
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = os.path.join(tmp, "out")
        # one-pass writes ALL bucket data in one job, then the markers —
        # crashing after 3 markers leaves 5 orphan data dirs
        with pytest.raises(RuntimeError):
            ledger.run_one_pass(spark, spans, out_dir, "run_a",
                                n_buckets=N_BUCKETS, fail_after=3)
        data = os.path.join(out_dir, "data")
        on_disk = {int(n.split("=", 1)[1]) for n in os.listdir(data)
                   if n.startswith("bucket=")}
        committed = ledger.committed_buckets(spark, out_dir)
        orphans = on_disk - committed
        assert orphans  # the crash left data without markers

        dry = incremental.clean_stale_results(spark, out_dir, dry_run=True)
        assert set(dry["removed_buckets"]) == orphans
        assert {int(n.split("=", 1)[1]) for n in os.listdir(data)
                if n.startswith("bucket=")} == on_disk  # untouched

        res = incremental.clean_stale_results(spark, out_dir)
        assert set(res["removed_buckets"]) == orphans
        assert res["kept_buckets"] == len(committed)
        assert {int(n.split("=", 1)[1]) for n in os.listdir(data)
                if n.startswith("bucket=")} == committed
        # cleanup is hygiene, never correctness: resume still completes
        s = ledger.run_one_pass(spark, spans, out_dir, "run_b",
                                n_buckets=N_BUCKETS)
        assert s["buckets_processed"] == N_BUCKETS - len(committed)
        got = ledger.read_output(spark, out_dir).count()
        with tempfile.TemporaryDirectory() as ref_tmp:
            ref_dir = os.path.join(ref_tmp, "ref")
            ledger.run_one_pass(spark, spans, ref_dir, "ref",
                                n_buckets=N_BUCKETS)
            assert got == ledger.read_output(spark, ref_dir).count()

    with pytest.raises(NotImplementedError):
        incremental.clean_stale_results(spark, "s3://bucket/out")
