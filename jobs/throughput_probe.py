"""Extraction-throughput probe under spark-submit (north_rule evidence).

The full job (extract_job.py) ends in a parquet sink; on this sandbox's
single disk the sink is IO-bound and caps e2e scaling, which on a real
cluster it does not (each executor writes its own partitions). This
probe measures the EXTRACTION itself — scan -> kernel -> count — inside
the exact spark-submit deployment shape, so the scaling numbers in
BENCH.md are reproducible from the command line:

    zip -qr ddops.zip dd_ops_ocr_spark
    for N in 4 16; do
      spark-submit --master local[$N] --py-files ddops.zip \
        jobs/throughput_probe.py --input <spans parquet> --repeats 3
    done
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="spans parquet path")
    p.add_argument("--repeats", type=int, default=3)
    args = p.parse_args(argv)
    if args.repeats < 1:
        p.error("--repeats must be >= 1 (the summary needs one timed run)")

    from dd_ops_ocr_spark import pipeline, sources
    from dd_ops_ocr_spark.session import job_session

    with job_session("ddops_probe") as spark:
        spans = sources.read_spans(spark, args.input)
        n_docs = spans.count()
        pipeline.extract(spans).count()  # warmup: python workers + JIT
        best = float("inf")
        for _ in range(args.repeats):
            t0 = time.monotonic()
            n_spans = pipeline.extract(spans).count()
            best = min(best, time.monotonic() - t0)
        cores = spark.sparkContext.defaultParallelism
    print(json.dumps({
        "cores": cores,
        "n_docs": n_docs,
        "n_spans_out": n_spans,
        "best_sec": round(best, 3),
        "docs_per_sec": round(n_docs / best, 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
