"""Per-partition checkpoint ledger — resume-partition-exactly (north_rule).

Spark batch has no built-in mid-job checkpointing; the reference's
equivalent is its session-directory stale-file probing
(api/main.py:785-853), replaced here by a keyed ledger:

  output layout   {out_dir}/data/bucket={b}/part-*.parquet
  ledger layout   {out_dir}/ledger/commit={run_id}_{b}/part-*.parquet
     rows: (run_id, bucket, docs, spans_emitted, text_blocks,
            media_blocks, committed_at_run)

A bucket is the checkpoint unit: ``bucket = pmod(xxhash64(doc_id), N)``
— deterministic across retries/runs, so a resumed run reprocesses
exactly the buckets without a ledger commit and nothing else. The data
write and the ledger append are two steps; order (data first, ledger
last) makes the ledger a commit marker: a crash between them leaves an
orphaned-but-ignored data dir that the resumed run simply overwrites
(dynamic partition overwrite), never double-counts.

Lineage/metrics columns ride with every ledger row (north_rule:
pages_processed/blocks_classified/spans_emitted per partition). The
per-bucket loop observes them on each bucket's write pass (``df.observe``).
``run_one_pass`` reads them back with ONE narrow per-bucket aggregate over
the written data (``order`` and ``kind``; ``bucket`` is the partition
column): observing them on its write would take a conditional sum per
bucket and metric (4 x N expressions), which measured +0.5-0.7 CPU-s on
the write at N=16 over a 1,600-doc batch on 4 vCPUs — more than the
read-back — and grows with N. Markers
are built in-process as an Arrow table (``session.local_frame``), so
committing starts no Python worker.

Scan amplification note: the per-bucket filter re-scans the source once
per bucket. That is the right trade at checkpoint granularity ONLY when
the source layout lets the filter prune — at scale, land the input
partitioned/bucketed by the same ``pmod(xxhash64(doc_id), N)`` so each
bucket's scan reads 1/N of the files (Spark prunes on the partition
column). On an unpartitioned source, prefer fewer buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from dd_ops_ocr_spark.session import local_frame

DEFAULT_BUCKETS = 32


def _parquet_nonempty(path: str, spark: SparkSession | None = None) -> bool:
    """True when the subtree holds at least one parquet part file. Used to
    distinguish "bucket legitimately wrote nothing" from a genuine read
    failure (corrupt file, transient IO): only the former may commit a
    zero-count marker — a swallowed real error would permanently mark a
    failed bucket done and resume would never reprocess it.

    Local paths use os.walk; URI paths (hdfs://, s3a://, gs://, ...) go
    through Spark's Hadoop FileSystem API so the check is correct on any
    filesystem — an os.walk on a URI string silently yields nothing,
    which would downgrade every remote bucket to a zero-count marker.

    Both branches count only files a Spark reader would read: part
    files under ``_temporary`` (a crashed job's uncommitted attempts)
    and hidden (``.``/``_``-prefixed) entries are invisible to
    ``spark.read.parquet``, so counting them would declare committed
    data where a read finds none."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme in ("", "file"):
        local = path.split("://", 1)[1] if scheme else path
        for _root, dirs, files in os.walk(local):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            if any(f.endswith(".parquet") for f in files):
                return True
        return False
    return _hadoop_parquet_nonempty(path, spark)


def _hadoop_parquet_nonempty(path: str, spark: SparkSession | None = None) -> bool:
    """Recursive parquet-file probe via the JVM Hadoop FileSystem API
    (works for any scheme the cluster's Hadoop conf knows). Raises if no
    session is passed AND none is active — better loud than a silent
    zero-count marker."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover - defensive
        raise RuntimeError(
            f"_parquet_nonempty({path!r}): non-local scheme needs an active "
            "SparkSession for the Hadoop FileSystem listing"
        )
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    root = fs.makeQualified(hpath).toUri().getPath().rstrip("/") + "/"
    it = fs.listFiles(hpath, True)  # recursive
    while it.hasNext():
        p = it.next().getPath()
        if not p.getName().endswith(".parquet"):
            continue
        # mirror the local probe: uncommitted attempt files under
        # _temporary (and any hidden dir) below ``path`` are invisible to
        # Spark readers; the ancestors of ``path`` itself do not count
        sub = p.toUri().getPath()
        if sub.startswith(root):
            sub = sub[len(root):]
        if any(s.startswith(("_", ".")) for s in sub.split("/")[:-1] if s):
            continue
        return True
    return False


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _metric_cols():
    """The per-bucket marker metrics, usable in ``observe`` and ``agg``.
    ``docs`` counts rows with order == 1: the extraction contract numbers
    each doc's reading order from 1, so it equals countDistinct(doc_id)
    without a distinct aggregation (which observe does not allow either);
    tests/test_ledger.py pins the invariant."""
    return (
        F.sum((F.col("order") == 1).cast("long")).alias("docs"),
        F.count(F.lit(1)).alias("spans_emitted"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text_blocks"),
        F.sum((F.col("kind") != "text").cast("long")).alias("media_blocks"),
    )


def _commit_markers(spark: SparkSession, out_dir: str, run_id: str,
                    stats: dict) -> None:
    """Land one ledger marker per bucket of ``stats`` (bucket -> docs,
    spans_emitted, text_blocks, media_blocks; NULL reads as 0) in one
    dynamic-partitioned write keyed on the commit dir name. An empty
    ``stats`` still runs the (empty) write."""
    markers = local_frame(
        spark,
        [(b, *(int(v or 0) for v in m), run_id, run_id, f"{run_id}_{b}")
         for b, m in stats.items()],
        "bucket int, docs long NOT NULL, spans_emitted long NOT NULL, "
        "text_blocks long NOT NULL, media_blocks long NOT NULL, "
        "run_id string NOT NULL, committed_at_run string NOT NULL, "
        "commit string",
    )
    (
        markers.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("commit")
        .parquet(f"{out_dir}/ledger")
    )


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets with a committed ledger marker under ``out_dir``.

    The emptiness pre-check must follow the same scheme split as
    ``_parquet_nonempty``: an ``os.path.isdir`` probe on an ``hdfs://``
    / ``viewfs://`` / ``s3a://`` ledger path is always False, which
    would silently report "nothing committed" and make every resume
    reprocess all buckets (correct output — bucket writes are
    idempotent overwrites — but checkpointing would be dead weight
    exactly where it matters)."""
    path = f"{out_dir}/ledger"
    # probe for COMMITTED parquet, not mere directory-non-emptiness: a
    # crash during the very first marker write leaves the ledger dir
    # holding only _SUCCESS/_temporary litter, and a bare isdir/listdir
    # check would then hand spark.read.parquet a dir with zero visible
    # data files — AnalysisException on the resume path itself
    if not _parquet_nonempty(path, spark):
        return set()
    rows = spark.read.parquet(path).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def run_with_ledger(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    fail_after: int | None = None,
    extractor=None,
) -> dict:
    """Extract with per-bucket checkpoint commits; resumable.

    ``fail_after`` aborts after committing that many buckets (test hook
    simulating a mid-run crash). Returns a summary dict.
    """
    from dd_ops_ocr_spark import pipeline

    extractor = extractor or pipeline.extract
    done = committed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]

    src = spans_df.withColumn("bucket", bucket_col(n_buckets))
    processed = 0
    for b in todo:
        part = src.filter(F.col("bucket") == b).drop("bucket")
        # data first (idempotent overwrite of this bucket's directory);
        # the bucket= path component carries the column (hive-style), so
        # loop-written and one-pass-written files share one schema.
        out = extractor(part)
        # Lineage/metrics observed ON the write pass itself (df.observe):
        # no read-back scan of the written bucket, no empty-bucket
        # special case (sums observe as NULL -> 0).
        obs = Observation(f"lineage_{run_id}_{b}")
        out = out.observe(obs, *_metric_cols())
        out.write.mode("overwrite").parquet(f"{out_dir}/data/bucket={b}")
        # obs.get is available: the write action above ran the plan
        _commit_markers(spark, out_dir, run_id, {b: obs.get.values()})
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after {processed} buckets")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_resumed_from": len(done),
        "buckets_processed": processed,
    }


def run_one_pass(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    fail_after: int | None = None,
    extractor=None,
) -> dict:
    """One-pass variant of ``run_with_ledger``: all uncommitted buckets are
    extracted and written in a SINGLE job (dynamic partition overwrite by
    bucket), then the per-bucket commit markers land from one narrow
    aggregate over the written data (``order`` and ``kind`` per
    ``bucket`` partition; no ``doc_id``, no distinct shuffle) — no N-scan
    amplification, wall-time ~= the plain extract. Not an ``observe`` on
    the write: per-bucket metrics there take 4 x N conditional sums,
    measured dearer than this read-back (module docstring).

    Failure granularity is the trade: a crash mid-job commits nothing, so
    resume reprocesses every uncommitted bucket (correct, just coarser);
    the per-bucket loop (``run_with_ledger``) remains the fine-grained
    resume path after repeated failures. Output and ledger layouts are
    identical between the two, so they compose: run one-pass when
    healthy, loop to limp through a flaky stretch.

    ``fail_after`` simulates a crash after committing that many buckets'
    markers (data already written, remaining markers missing) — the
    worst-case window for double-count bugs.
    """
    from dd_ops_ocr_spark import pipeline

    extractor = extractor or pipeline.extract
    done = committed_buckets(spark, out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return {
            "run_id": run_id,
            "buckets_total": n_buckets,
            "buckets_resumed_from": len(done),
            "buckets_processed": 0,
        }

    src = spans_df.withColumn("bucket", bucket_col(n_buckets))
    if done:
        src = src.filter(~F.col("bucket").isin(*done))
    part = src.drop("bucket")
    out = extractor(part).withColumn("bucket", bucket_col(n_buckets))
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/data")
    )

    # Commit markers from ONE narrow aggregate over the written data. A
    # bucket whose extraction emitted zero rows writes no data partition,
    # so the markers are anchored on the todo list (zero fill), never on
    # the written data alone — otherwise empty buckets would stay
    # uncommitted forever and every resume would reprocess them. When
    # every todo bucket was empty the data dir may not even be readable
    # parquet.
    stats = dict.fromkeys(todo, (0, 0, 0, 0))
    if _parquet_nonempty(f"{out_dir}/data", spark):
        agg = (
            spark.read.parquet(f"{out_dir}/data")
            .filter(F.col("bucket").isin(*todo))
            .groupBy("bucket")
            .agg(*_metric_cols())
        )
        stats.update((r[0], r[1:]) for r in agg.collect())
    if fail_after is not None:  # crash after that many markers landed
        stats = {b: stats[b] for b in todo[:fail_after]}
    _commit_markers(spark, out_dir, run_id, stats)
    if fail_after is not None and fail_after < len(todo):
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_resumed_from": len(done),
        "buckets_processed": len(todo),
    }


def run_with_snapshots(
    spark: SparkSession,
    spans_df: DataFrame,
    table_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    fail_after: int | None = None,
    extractor=None,
) -> dict:
    """Checkpointed extraction where each bucket commit is an
    Iceberg-style snapshot append (catalog.py): the snapshot manifest IS
    the commit marker, its properties carry the lineage + metrics
    (run_id, bucket, docs, spans_emitted), and the output stays readable
    at every intermediate snapshot (time travel). Resume reads the
    committed bucket set from the snapshot lineage."""
    from dd_ops_ocr_spark import catalog, pipeline

    extractor = extractor or pipeline.extract
    done = set()
    try:
        for s in catalog.snapshots(table_dir):
            b = s.get("properties", {}).get("bucket")
            if b is not None:
                done.add(int(b))
    except FileNotFoundError:
        done = set()  # first run: no snapshot log yet — nothing committed

    src = spans_df.withColumn("bucket", bucket_col(n_buckets))
    processed = 0
    for b in [x for x in range(n_buckets) if x not in done]:
        part = src.filter(F.col("bucket") == b).drop("bucket")
        out = extractor(part)
        # One execution per bucket, not two: metrics are OBSERVED on the
        # snapshot's own write pass (previously an .agg().collect() ran
        # the whole extraction once just for the stats, then the write
        # ran it again) and injected into the manifest via the lazy
        # properties_fn hook, which write_snapshot evaluates after the
        # data files are staged.
        obs = Observation(f"lineage_{run_id}_{b}")
        out = out.observe(
            obs,
            F.sum((F.col("order") == 1).cast("long")).alias("docs"),
            F.count(F.lit(1)).alias("spans"),
        )
        catalog.write_snapshot(
            out,
            table_dir,
            operation="append" if (done or processed) else "overwrite",
            properties={"run_id": run_id, "bucket": b},
            properties_fn=lambda: {
                "docs": int(obs.get["docs"] or 0),
                "spans_emitted": int(obs.get["spans"] or 0),
            },
        )
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after {processed} buckets")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_resumed_from": len(done),
        "buckets_processed": processed,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data")


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/ledger")
