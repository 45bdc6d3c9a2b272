"""Catalog table maintenance job — the periodic compaction/expiry loop a
100 TB deployment schedules next to ingestion (Iceberg calls these
rewrite_data_files + expire_snapshots; the reference's analogue is the
session-directory cleanup in step0/06_directory_manager.py).

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/maintain_table.py --table /path/to/catalog_table \
        [--target-files 32] [--sort-by doc_id] [--keep-snapshots 3] \
        [--dry-run]

What it does, in order:
  1. reports the current snapshot's file count and stats coverage;
  2. if the table has more files than --target-files, rewrites it into
     that many files (range-clustered when --sort-by is given, which is
     what makes footer-stats pruning effective afterwards) as a new
     ``compact`` snapshot — CAS-protected, so a concurrent ingest commit
     is never dropped (catalog.compact retries on CommitConflict);
  3. expires all but the newest --keep-snapshots snapshots, deleting
     only data files referenced exclusively by expired manifests (an
     in-flight committer's staged files are never touched).

Prints one JSON line with the actions taken, mirroring bench.py's
one-line contract.

Local outputs: ``session.build_spark`` sessions write file:// paths
through ``native/NioLocalFileSystem.java``, which sets permissions with
java.nio where Hadoop's stock local FileSystem forks one ``chmod`` per
file and directory (Spark's Hadoop has no libhadoop). This job keeps the
stock FileSystem. To opt in, build the jar once with
    python -c "from dd_ops_ocr_spark.native import localfs; print(localfs.jar())"
and, under --master local[N], add
    --conf spark.driver.extraClassPath=<jar> \
    --conf spark.hadoop.fs.file.impl=ddops.fs.NioLocalFileSystem
On a cluster, also ship it with --jars <jar> and name it in
spark.executor.extraClassPath. Set fs.file.impl only where every JVM has
the jar on its classpath: a JVM that cannot load the class fails every
file:// read and write.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--table", required=True, help="catalog table dir")
    p.add_argument("--target-files", type=int, default=32)
    p.add_argument("--sort-by", default=None,
                   help="comma-separated cluster columns for the rewrite")
    p.add_argument("--keep-snapshots", type=int, default=3)
    p.add_argument("--dry-run", action="store_true",
                   help="report what would happen; commit nothing")
    args = p.parse_args(argv)

    from dd_ops_ocr_spark import catalog

    sid = catalog.current_snapshot_id(args.table)
    if sid is None:
        print(json.dumps({"table": args.table, "error": "no snapshot"}))
        return 1
    # Read the manifest FOR sid, not snapshots()[-1]: the pointer can
    # transiently lag a concurrent ingest's newest manifest, and the
    # report must describe the snapshot it names.
    manifest = catalog._read_manifest(args.table, sid)
    n_files = len(manifest["files"])
    report: dict = {
        "table": args.table,
        "snapshot_id": sid,
        "files": n_files,
        "stats_coverage": round(
            len(manifest.get("file_stats", {})) / n_files, 3
        ) if n_files else 1.0,
        "dry_run": args.dry_run,
    }

    # Spark is only needed for the rewrite itself — the report, the
    # dry-run, and the (pure-metadata) expiry never pay JVM startup.
    if n_files > args.target_files:
        report["compact"] = {
            "from_files": n_files, "to_files": args.target_files,
        }
        if not args.dry_run:
            from pyspark.sql import SparkSession

            # Only stop a session this job itself created. Ownership is
            # decided by comparing getOrCreate's result to the process-
            # global session captured beforehand — getActiveSession()
            # alone is thread-local and misses a caller's session when
            # this runs on a worker thread, which would stop the host
            # application's SparkContext out from under it.
            prior = (
                SparkSession.getActiveSession()
                or SparkSession._instantiatedSession
            )
            spark = (
                SparkSession.builder.appName("maintain_table").getOrCreate()
            )
            created = spark is not prior
            try:
                sort_by = args.sort_by.split(",") if args.sort_by else None
                new_sid = catalog.compact(
                    spark, args.table, num_files=args.target_files,
                    sort_by=sort_by,
                )
            finally:
                if created:
                    spark.stop()
            report["compact"]["snapshot_id"] = new_sid
    else:
        report["compact"] = None

    if args.dry_run:
        n_snaps = len(catalog.snapshots(args.table))
        report["expire"] = {
            "would_expire": max(0, n_snaps - max(1, args.keep_snapshots))
        }
    else:
        report["expire"] = catalog.expire_snapshots(
            args.table, keep_last=args.keep_snapshots
        )

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
