"""Batch extraction job — the deployment entry point (north_rule X8).

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/extract_job.py --input <spans parquet or sf dir> \
        --output /path/out --run-id r42 [--salted] [--buckets 64 | --snapshots]

Python workers: ``session.build_spark`` forks them from
``dd_ops_ocr_spark.pyworker``, which stops each task from re-reading
pyspark.zip's directory (0.16-0.27 CPU-s a task). This job builds its own
session and keeps the stock daemon. To use the library's, add
    --conf spark.python.daemon.module=dd_ops_ocr_spark.pyworker
only where the package is importable when a worker starts: installed on
every executor or on their PYTHONPATH (e.g. through
spark.executorEnv.PYTHONPATH). --py-files alone is not enough: workers
add those files to sys.path per task, after the daemon has started, and
a daemon that cannot import its module fails every Python task.

Resumable: re-running with the same --output continues from the ledger
(only uncommitted buckets reprocess — see dd_ops_ocr_spark/ledger.py);
--buckets must then match the count the output was committed with.
--snapshots commits the run as one Iceberg-style snapshot
(dd_ops_ocr_spark/incremental.py) instead: a re-run extracts only the
documents the table has not seen, and ignores --buckets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="spans parquet path, or a testdata sf dir to synthesize from")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=64,
                   help="checkpoint buckets of the default ledger sink "
                        "(a resume must pass the same count); the "
                        "--snapshots sink ignores it")
    p.add_argument("--salted", action="store_true",
                   help="use the skew-salted extractor")
    p.add_argument("--snapshots", action="store_true",
                   help="commit the run as one Iceberg-style snapshot "
                        "(catalog.py) of the documents the table has not "
                        "seen, instead of bucket ledger markers")
    p.add_argument("--pages-per-bucket", type=int, default=25)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # only stop a session this job created (same ownership rule as
    # jobs/maintain_table.py): a caller's session outlives main()
    prior = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    spark = (
        SparkSession.builder.appName("ddops_extract")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # see session.py: 512-doc Arrow batches pipeline the JVM producer
        # with the Python kernel (swept 128..20000; ~1.6x over 10000)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )
    created = spark is not prior
    from dd_ops_ocr_spark import corpus, incremental, ledger, pipeline, sources
    from dd_ops_ocr_spark.plans.salting import extract_salted

    if os.path.isfile(f"{args.input}/documents.parquet"):
        spans = corpus.build_spans_df(spark, args.input)
    else:
        spans = sources.read_spans(spark, args.input)
    spans, quarantine = sources.split_valid(spans)

    run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S", time.gmtime())
    extractor = (
        (lambda df: extract_salted(df, args.pages_per_bucket))
        if args.salted
        else pipeline.extract
    )
    t0 = time.monotonic()
    if args.snapshots:
        summary = incremental.extract_incremental(
            spark, spans, args.output, run_id, extractor=extractor)
    else:
        summary = ledger.run_one_pass(
            spark, spans, args.output, run_id,
            n_buckets=args.buckets, extractor=extractor)
    # write unconditionally: a re-run over FIXED input must clear the
    # previous run's quarantine rows (an nq>0-gated write left stale rows
    # on disk while the summary reported quarantined_docs=0), and the
    # written table is the count's source so the scan runs once
    quarantine.write.mode("overwrite").parquet(f"{args.output}/quarantine")
    nq = spark.read.parquet(f"{args.output}/quarantine").count()
    summary.update(
        elapsed_sec=round(time.monotonic() - t0, 3), quarantined_docs=nq
    )
    print(json.dumps(summary))
    if created:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
