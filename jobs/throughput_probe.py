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
    p.add_argument("--salted", action="store_true")
    args = p.parse_args(argv)
    if args.repeats < 1:
        p.error("--repeats must be >= 1 (the summary needs one timed run)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ddops_probe")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .getOrCreate()
    )
    from dd_ops_ocr_spark import pipeline, sources
    from dd_ops_ocr_spark.plans.salting import extract_salted

    spans = sources.read_spans(spark, args.input)
    n_docs = spans.count()
    extractor = extract_salted if args.salted else pipeline.extract
    extractor(spans).count()  # warmup: python workers + JIT
    best = float("inf")
    for _ in range(args.repeats):
        t0 = time.monotonic()
        n_spans = extractor(spans).count()
        best = min(best, time.monotonic() - t0)
    print(json.dumps({
        "cores": spark.sparkContext.defaultParallelism,
        "n_docs": n_docs,
        "n_spans_out": n_spans,
        "best_sec": round(best, 3),
        "docs_per_sec": round(n_docs / best, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
