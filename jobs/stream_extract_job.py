"""Streaming extraction job — the deployment entry for the PubSub-push
ingestion path (reference: api/main.py:453-650; SURVEY §2.10), as a
spark-submit Structured Streaming program over a landing directory.

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/stream_extract_job.py --input <landing dir of spans parquet> \
        --output /path/out --checkpoint /path/ckpt [--continuous]

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

Default is a bounded drain (trigger availableNow): process everything
currently in the landing dir, then exit — the cron-driven deployment
shape, and also how CI verifies it. --continuous leaves the query
running (the long-lived service shape).

Exactly-once: source offsets live in --checkpoint; each micro-batch
dynamically overwrites only its own epoch=<id> output partition, so a
replayed batch converges instead of appending (see streaming/jobs.py).
Re-running the drained job is a no-op (offsets already committed) —
the streaming twin of extract_job.py's ledger resume.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="landing dir of spans parquet files")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--continuous", action="store_true",
                   help="keep the query running instead of draining once")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from dd_ops_ocr_spark.streaming.jobs import stream_extract

    # no .master() here — session.build_spark pins local[N], which would
    # silently override the spark-submit --master <cluster> this entry
    # documents (the other jobs/ entries build masterless for the same
    # reason); raise the progress-history cap so the drain summary below
    # is complete even for >100-micro-batch drains (Spark retains only
    # spark.sql.streaming.numRecentProgressUpdates entries)
    spark = (
        SparkSession.builder.appName("ddops_stream_extract")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
    )
    t0 = time.time()
    q = stream_extract(
        spark,
        input_dir=args.input,
        checkpoint_dir=args.checkpoint,
        out_dir=args.output,
        trigger_once=not args.continuous,
    )
    q.awaitTermination()
    # maxFilesPerTrigger splits a drain into several micro-batches;
    # lastProgress covers only the final (often empty) one — sum the
    # retained progress history for the run summary
    batches = q.recentProgress or []
    print(json.dumps({
        "elapsed_sec": round(time.time() - t0, 3),
        "n_batches": len(batches),
        "num_input_rows": sum(
            int(p.get("numInputRows") or 0) for p in batches),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
