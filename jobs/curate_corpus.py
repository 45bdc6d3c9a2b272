"""Corpus curation job — the training-data pipeline's deployment entry
point (north_rule X8 shape for the corpus side, the way extract_job.py
is for extraction).

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/curate_corpus.py --input <dir with documents.parquet> \
        --output /path/out [--report-topk 50]

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

Runs the composed curation chain (quality filter -> exact-dedup keep ->
benchmark decontamination -> stratified downsampling -> sequence
packing; operators/textstats.q_corpus_curriculum) and writes:

  * ``<out>/sequences`` — the packed training-sequence assignments,
    partitioned by the pack bucket so downstream sequence assembly
    reads one bucket per task;
  * ``<out>/report``    — the corpus heavy-hitter n-grams (topk_ngrams),
    the triage artifact reviewers read next to the curated set.

Prints one JSON summary line (counts + elapsed), same contract as the
other jobs.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="directory containing documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--report-topk", type=int, default=50)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    # getActiveSession is thread-local; _instantiatedSession is the
    # process-global — check both so a host application's session on
    # another thread is never stopped out from under it (same ownership
    # rule as jobs/maintain_table.py)
    prior = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    spark = (
        SparkSession.builder.appName("ddops_curate")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    created = spark is not prior
    from dd_ops_ocr_spark.operators.textstats import (
        q_corpus_curriculum,
        q_topk_ngrams,
    )

    t0 = time.monotonic()
    try:
        # the query emits the pack bucket — partition by it directly
        q_corpus_curriculum(spark, args.input).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(f"{args.output}/sequences")
        q_topk_ngrams(spark, args.input).write.mode("overwrite").parquet(
            f"{args.output}/report"
        )
        out = spark.read.parquet(f"{args.output}/sequences")
        stats = out.agg(
            F.count("*").alias("docs"),
            F.countDistinct("seq_id").alias("seqs"),
            F.sum("tokens").alias("toks"),
        ).collect()[0]
        summary = {
            "docs_packed": stats["docs"],
            "sequences": stats["seqs"],
            "tokens_packed": stats["toks"],
            "report_rows": spark.read.parquet(
                f"{args.output}/report"
            ).count(),
            "elapsed_sec": round(time.monotonic() - t0, 3),
        }
    finally:
        if created:  # pytest calls main() against the shared session
            spark.stop()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
