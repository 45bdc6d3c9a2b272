"""Per-partition checkpoint ledger — resume-partition-exactly (north_rule).

Spark batch has no built-in mid-job checkpointing; the reference's
equivalent is its session-directory stale-file probing
(api/main.py:785-853), replaced here by a keyed ledger:

  output layout   {out_dir}/data/bucket={b}/part-*.parquet
  ledger layout   {out_dir}/ledger/commit={run_id}_{b}/part-*.parquet
     rows: (bucket, n_buckets, docs, spans_emitted, text_blocks,
            media_blocks, run_id, committed_at_run)

A bucket is the checkpoint unit: ``bucket = pmod(xxhash64(doc_id), N)``
— deterministic across retries/runs, so a resumed run reprocesses
exactly the buckets without a ledger commit and nothing else. Every
marker records N: bucket ids only name the same documents under the same
N, so a resume with another N is refused before it writes anything. The
data write and the ledger append are two steps; order (data first,
ledger last) makes the ledger a commit marker: a crash between them
leaves an orphaned-but-ignored data dir that the resumed run simply
overwrites (dynamic partition overwrite), never double-counts.

``run_one_pass`` is the one commit path: every uncommitted bucket is
extracted and written in one job, then the markers land in one more.
Lineage/metrics columns ride with every ledger row (north_rule:
pages_processed/blocks_classified/spans_emitted per partition), read
back with ONE narrow per-bucket aggregate over the written data
(``order`` and ``kind``; ``bucket`` is the partition column): observing
them on the write would take a conditional sum per bucket and metric
(4 x N expressions), which measured +0.5-0.7 CPU-s on the write at N=16
over a 1,600-doc batch on 4 vCPUs — more than the read-back — and grows
with N. Markers are built in-process as an Arrow table
(``session.local_frame``), so committing starts no Python worker.

A crash before the markers land costs at most one rerun of the
uncommitted buckets. A one-job-per-bucket loop would lose less to a
crash but pays N x planning and input scans on every healthy run: on a
1,606-doc batch with N=16 on a shared 4-vCPU x86 host it cost 13-18
CPU-s more than this path's whole 4-5 CPU-s job, so it only wins at
three or more crashes per run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

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
    """The per-bucket marker metrics, as ``agg`` expressions. ``docs``
    counts rows with order == 1: the extraction contract numbers each
    doc's reading order from 1, so it equals countDistinct(doc_id)
    without a distinct aggregation; tests/test_ledger.py pins the
    invariant."""
    return (
        F.sum((F.col("order") == 1).cast("long")).alias("docs"),
        F.count(F.lit(1)).alias("spans_emitted"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text_blocks"),
        F.sum((F.col("kind") != "text").cast("long")).alias("media_blocks"),
    )


def _commit_markers(spark: SparkSession, out_dir: str, run_id: str,
                    n_buckets: int, stats: dict) -> None:
    """Land one ledger marker per bucket of ``stats`` (bucket -> docs,
    spans_emitted, text_blocks, media_blocks; NULL reads as 0), each
    recording the run's bucket count, in one dynamic-partitioned write
    keyed on the commit dir name. An empty ``stats`` still runs the
    (empty) write."""
    markers = local_frame(
        spark,
        [(b, n_buckets, *(int(v or 0) for v in m), run_id, run_id,
          f"{run_id}_{b}")
         for b, m in stats.items()],
        "bucket int, n_buckets int NOT NULL, docs long NOT NULL, "
        "spans_emitted long NOT NULL, "
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


def _committed(spark: SparkSession, out_dir: str) -> list[tuple[int, int | None]]:
    """(bucket, n_buckets) of every committed ledger marker under
    ``out_dir``. A marker written before markers recorded N reads N as
    None, which no resume can check.

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
        return []
    rows = (spark.read.schema("bucket int, n_buckets int").parquet(path)
            .select("bucket", "n_buckets").distinct().collect())
    return [(r[0], r[1]) for r in rows]


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    """Buckets with a committed ledger marker under ``out_dir``."""
    return {b for b, _ in _committed(spark, out_dir)}


def run_one_pass(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    fail_after: int | None = None,
    extractor=None,
) -> dict:
    """Extract and commit every uncommitted bucket; resumable. All of them
    are extracted and written in a SINGLE job (dynamic partition
    overwrite by bucket), then the per-bucket commit markers land from
    one narrow aggregate over the written data (``order`` and ``kind``
    per ``bucket`` partition; no ``doc_id``, no distinct shuffle) — no
    N-scan amplification, wall-time ~= the plain extract. Not an
    ``observe`` on the write: per-bucket metrics there take 4 x N
    conditional sums, measured dearer than this read-back (module
    docstring).

    Failure granularity is the trade: a crash mid-job commits nothing, so
    resume reprocesses every uncommitted bucket (correct, just coarser).

    Raises ``ValueError`` before any write when ``out_dir`` holds markers
    committed under another ``n_buckets``: bucket ids name other
    documents under another N, so resuming would duplicate rows.

    ``fail_after`` simulates a crash after committing that many buckets'
    markers (data already written, remaining markers missing) — the
    worst-case window for double-count bugs.
    """
    from dd_ops_ocr_spark import pipeline

    extractor = extractor or pipeline.extract
    committed = _committed(spark, out_dir)
    other = sorted({n for _, n in committed if n not in (None, n_buckets)})
    if other:
        raise ValueError(
            f"{out_dir} holds buckets committed with n_buckets={other}; "
            f"this run asks for n_buckets={n_buckets}. Resume with the "
            "committed count, or write to a fresh output dir")
    done = {b for b, _ in committed}
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
    _commit_markers(spark, out_dir, run_id, n_buckets, stats)
    if fail_after is not None and fail_after < len(todo):
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_resumed_from": len(done),
        "buckets_processed": len(todo),
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data")


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/ledger")
