"""Checkpointed extraction sink over a NON-local Hadoop filesystem.

The deployment sink (`ledger.run_one_pass`) claims resume-exactly
semantics on "any filesystem the cluster's Hadoop conf knows". The
sandbox has no HDFS/S3 endpoint, so this exercises the same contract
through Hadoop's ViewFileSystem (`viewfs://`) — a real production
federation connector shipped in hadoop-common whose paths are
NON-``file``-scheme URIs resolved via mount tables. Every probe that
special-cases local paths (`_parquet_nonempty`, `committed_buckets`)
must take its Hadoop-FS branch here; before `committed_buckets` grew
that branch, resume on a URI out_dir silently reprocessed all buckets
(reference behavior: the GCS output paths in the reference service,
src/api/main.py:1717-1847, are exactly such non-local URIs).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from dd_ops_ocr_spark import corpus, ledger
from tests.conftest import SF_SMOKE

N_BUCKETS = 4
MOUNT = "viewfs://r5lake/warehouse"


@pytest.fixture(scope="module")
def viewfs_root(spark):
    """Mount viewfs://r5lake/warehouse onto a local tempdir via the
    runtime Hadoop conf (must happen before the first viewfs access —
    the JVM caches one ViewFileSystem per authority)."""
    backing = tempfile.mkdtemp(prefix="viewfs_backing_")
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.r5lake.link./warehouse", f"file://{backing}"
    )
    yield MOUNT
    shutil.rmtree(backing, ignore_errors=True)


def test_parquet_probe_takes_hadoop_branch(spark, viewfs_root):
    missing = f"{viewfs_root}/nothing_here"
    assert ledger._parquet_nonempty(missing) is False
    spark.range(3).write.mode("overwrite").parquet(f"{viewfs_root}/probe_t")
    assert ledger._parquet_nonempty(f"{viewfs_root}/probe_t") is True


def test_crash_and_resume_exact_on_viewfs(spark, viewfs_root):
    spans = corpus.build_spans_df(spark, SF_SMOKE).limit(200).cache()
    local_dir = tempfile.mkdtemp(prefix="ledger_local_ref_")
    out_dir = f"{viewfs_root}/extract_out"
    try:
        # uninterrupted local run = the equality reference
        ledger.run_one_pass(spark, spans, local_dir, "ref",
                            n_buckets=N_BUCKETS)

        with pytest.raises(RuntimeError, match="injected failure"):
            ledger.run_one_pass(spark, spans, out_dir, "run_a",
                                n_buckets=N_BUCKETS, fail_after=2)
        # the committed set must be visible THROUGH the viewfs URI —
        # an os.path probe here returns set() and resume restarts from 0
        assert len(ledger.committed_buckets(spark, out_dir)) == 2

        summary = ledger.run_one_pass(spark, spans, out_dir, "run_b",
                                      n_buckets=N_BUCKETS)
        assert summary["buckets_resumed_from"] == 2
        assert summary["buckets_processed"] == N_BUCKETS - 2

        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        a = ledger.read_output(spark, local_dir).select(cols)
        b = ledger.read_output(spark, out_dir).select(cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

        led = ledger.read_ledger(spark, out_dir).toPandas()
        assert len(led) == N_BUCKETS
        assert led["spans_emitted"].sum() == a.count()
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)
        spans.unpersist()


def test_one_pass_markers_under_hidden_ancestor_on_viewfs(spark, viewfs_root):
    """An out_dir below a ``_``-prefixed directory: the one-pass commit
    must still see the data it wrote. Before, the Hadoop-branch probe
    counted ancestors of the out_dir as hidden, so every marker committed
    zero counts and committed_buckets saw nothing."""
    from pyspark.sql import functions as F

    spans = corpus.build_spans_df(spark, SF_SMOKE).limit(200).cache()
    out_dir = f"{viewfs_root}/_runs/one_pass"
    metrics = ["docs", "spans_emitted", "text_blocks", "media_blocks"]
    try:
        ledger.run_one_pass(spark, spans, out_dir, "run_a", n_buckets=N_BUCKETS)
        assert ledger.committed_buckets(spark, out_dir) == set(range(N_BUCKETS))

        got = (ledger.read_ledger(spark, out_dir).toPandas()
               .set_index("bucket")[metrics].sort_index())
        want = (
            ledger.read_output(spark, out_dir).groupBy("bucket")
            .agg(F.countDistinct("doc_id").alias("docs"),
                 F.count("*").alias("spans_emitted"),
                 F.count(F.when(F.col("kind") == "text", 1)).alias("text_blocks"),
                 F.count(F.when(F.col("kind") != "text", 1)).alias("media_blocks"))
            .toPandas().set_index("bucket")
            .reindex(range(N_BUCKETS), fill_value=0)[metrics]
        )
        assert (got.values == want.values).all(), (got, want)
        assert got["spans_emitted"].sum() > 0
    finally:
        spans.unpersist()
