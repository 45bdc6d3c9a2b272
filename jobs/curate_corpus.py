"""Corpus curation job — the training-data pipeline's deployment entry
point (north_rule X8 shape for the corpus side, the way extract_job.py
is for extraction).

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/curate_corpus.py --input <dir with documents.parquet> \
        --output /path/out [--report-topk 50]

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

    from pyspark.sql import functions as F

    from dd_ops_ocr_spark.operators.textstats import (
        q_corpus_curriculum,
        q_topk_ngrams,
    )
    from dd_ops_ocr_spark.session import job_session

    t0 = time.monotonic()
    with job_session("ddops_curate") as spark:
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
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
