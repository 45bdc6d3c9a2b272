"""Streaming extraction job — the deployment entry for the PubSub-push
ingestion path (reference: api/main.py:453-650; SURVEY §2.10), as a
spark-submit Structured Streaming program over a landing directory.

Submit:
    zip -qr ddops.zip dd_ops_ocr_spark
    spark-submit --master <cluster> --py-files ddops.zip \
        jobs/stream_extract_job.py --input <landing dir of spans parquet> \
        --output /path/out --checkpoint /path/ckpt [--continuous]

Default is a bounded drain (trigger availableNow): process everything
currently in the landing dir, then exit — the cron-driven deployment
shape, and also how CI verifies it. --continuous leaves the query
running (the long-lived service shape).

Malformed docs (null doc_id, null or empty spans, a null or negative
span offset) go to <output>/_quarantine with a reason column and their
spans, as extract_job.py quarantines them; readers of <output> skip the
_-prefixed dir.

Exactly-once: source offsets live in --checkpoint; each micro-batch
dynamically overwrites only its own epoch=<id> partition of both sinks,
so a replayed batch converges instead of appending (see
streaming/jobs.py). Re-running the drained job is a no-op (offsets
already committed) — the streaming twin of extract_job.py's ledger
resume.
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

    from dd_ops_ocr_spark.session import job_session
    from dd_ops_ocr_spark.streaming.jobs import stream_extract

    # raise the progress-history cap so the drain summary below is
    # complete even for >100-micro-batch drains (Spark retains only
    # spark.sql.streaming.numRecentProgressUpdates entries)
    with job_session("ddops_stream_extract", extra={
            "spark.sql.streaming.numRecentProgressUpdates": "100000"}) as spark:
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
    return 0


if __name__ == "__main__":
    sys.exit(main())
