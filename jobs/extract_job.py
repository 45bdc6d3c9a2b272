"""Batch extraction job — the deployment entry point (north_rule X8).

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/extract_job.py --input <spans parquet or sf dir> \
        --output /path/out --run-id r42 [--buckets 64 | --snapshots]

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
    p.add_argument("--snapshots", action="store_true",
                   help="commit the run as one Iceberg-style snapshot "
                        "(catalog.py) of the documents the table has not "
                        "seen, instead of bucket ledger markers")
    args = p.parse_args(argv)

    from dd_ops_ocr_spark import corpus, incremental, ledger, sources
    from dd_ops_ocr_spark.session import job_session

    with job_session("ddops_extract") as spark:
        if os.path.isfile(f"{args.input}/documents.parquet"):
            spans = corpus.build_spans_df(spark, args.input)
        else:
            spans = sources.read_spans(spark, args.input)
        spans, quarantine = sources.split_valid(spans)

        run_id = args.run_id or time.strftime("%Y%m%d_%H%M%S", time.gmtime())
        t0 = time.monotonic()
        if args.snapshots:
            summary = incremental.extract_incremental(
                spark, spans, args.output, run_id)
        else:
            summary = ledger.run_one_pass(
                spark, spans, args.output, run_id,
                n_buckets=args.buckets)
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
    return 0


if __name__ == "__main__":
    sys.exit(main())
