"""Streaming ingestion — the Spark mapping of the reference's PubSub push
webhook (api/main.py:453-650; SURVEY §2.10).

One message = one document there; one row = one document here. The
at-most-3-delivery guard (main.py:496-501) becomes per-batch
``dropDuplicates("doc_id")`` + an epoch-partitioned dynamic-overwrite
sink inside ``foreachBatch``: a retried micro-batch rewrites exactly its
own ``epoch=<id>`` partition, so replays converge instead of appending
duplicates — exactly-once per epoch. A doc_id that arrives again in a
*different* file (and therefore a different epoch) is a data-level
duplicate, not a delivery retry; ``stream_dedup_stateful`` below is the
keyed-state admission that collapses those. No watermark needed: the
reference has no event-time aggregation (each message is independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dd_ops_ocr_spark.schema import SPANS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    trigger_once: bool = True,
):
    """File-source streaming extraction: landing dir of spans parquet ->
    per-microbatch extraction -> parquet sink, exactly-once per epoch via
    checkpointed source offsets + dynamic overwrite of the epoch
    partition (foreachBatch is at-least-once; the overwrite makes the
    replayed epoch idempotent).

    Each micro-batch is split by ``sources.split_valid``, the batch
    job's quarantine rule: a malformed document must neither stall the
    stream nor vanish. Invalid docs go to ``{out_dir}/_quarantine`` with
    their ``reason`` and original ``spans`` (epoch-partitioned the same
    way, so a replayed bad doc overwrites its row); Spark's file index
    skips ``_``-prefixed dirs, so ``spark.read.parquet(out_dir)`` reads
    only extracted rows. The split precedes the valid side's dedup,
    because ``dropDuplicates`` treats null doc_ids as equal and would
    collapse distinct null-id docs into one quarantine row. The
    reference acks and records a failed message instead of NACK-looping
    it (api/main.py:453-650)."""
    from dd_ops_ocr_spark import pipeline, sources

    src = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()  # both sinks read the split: one source scan
        try:
            valid, invalid = sources.split_valid(batch_df, with_reason=True)
            _write_epoch(invalid.select("doc_id", "reason", "spans"),
                         epoch_id, f"{out_dir}/_quarantine")
            _write_epoch(pipeline.extract(valid.dropDuplicates(["doc_id"])),
                         epoch_id, out_dir)
        finally:
            batch_df.unpersist()

    writer = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Replace ``path``'s ``epoch=<epoch_id>`` partition with ``df``."""
    (
        df.withColumn("epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(path)
    )


def stream_dedup_stateful(spark: SparkSession, input_dir: str):
    """Custom stateful operator (applyInPandasWithState): cross-microbatch
    document dedup — the at-most-once admission the reference approximates
    with its deliveryAttempt guard (api/main.py:496-501), done properly
    with keyed state. Emits each doc_id exactly once with its span count,
    no matter how many times or in how many batches it is re-delivered."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = (
        spark.readStream.schema(SPANS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multi-batch processing
        .parquet(input_dir)
    )

    def admit(key, pdfs, state):
        doc_id = key[0]
        # admit the FIRST row only — a re-delivery can land in the SAME
        # micro-batch (both copies in one landing file), and summing
        # every row's spans would emit the doc once with an inflated
        # count; cross-batch re-delivery is the state.exists branch
        n = None
        for pdf in pdfs:
            for spans in pdf["spans"]:
                n = len(spans)
                break
            if n is not None:
                break
        if state.exists:
            return iter(())  # already admitted in an earlier batch
        state.update((1,))
        return iter([pd.DataFrame({"doc_id": [doc_id], "n_spans": [n]})])

    return src.groupBy("doc_id").applyInPandasWithState(
        admit,
        outputStructType="doc_id string, n_spans long",
        stateStructType="admitted int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_upsert_sink(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_dir: str,
    keys: list[str],
    schema,
    seq_col: str = "seq",
    trigger_once: bool = True,
):
    """Streaming CDC sink into the snapshot catalog: each micro-batch
    MERGEs by key via catalog.upsert — one atomic snapshot per epoch
    (equality-delete the batch's keys + append its rows), so readers
    never observe a half-applied batch and the table converges to
    last-write-wins per key in epoch order.

    Replay-idempotent by construction, which is exactly what
    foreachBatch's at-least-once delivery needs: a replayed epoch
    re-deletes the same keys (including the rows its previous
    incarnation appended) and re-appends the same rows — net row set
    unchanged, only the snapshot lineage grows. No epoch-partition
    bookkeeping required, unlike the parquet sink above, because the
    MERGE itself is the idempotence mechanism.

    ``seq_col`` is resolved at BOTH scopes. Within one batch, rows are
    reduced to the highest-``seq_col`` occurrence per key before the
    merge — a batch carrying insert+update for the same key must apply
    the update, and the winner must be DETERMINISTIC across replays
    (which is why the changelog carries an explicit sequence column,
    the cdc_merge contract, rather than relying on batch row order —
    Spark makes no ordering promise a replay would have to reproduce).
    Across epochs, each incoming row is applied only when its sequence
    is strictly newer than the stored row's — file-listing order is
    not changelog order (maxFilesPerTrigger slices arrivals
    arbitrarily), so a delayed file carrying an OLDER change for a key
    must not regress the newer stored value. The guard joins the
    incoming keys against the current table scan — the same cost a SQL
    MERGE pays for its target scan; a replayed epoch's rows compare
    equal to what it already stored and are filtered to nothing, so
    replays no longer even grow the snapshot lineage."""
    from dd_ops_ocr_spark import catalog

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.head(1):
            return  # empty epoch: no snapshot churn
        value_cols = [c for c in batch_df.columns if c not in keys]
        latest = (
            batch_df.groupBy(*keys)
            .agg(*[
                F.max_by(c, F.col(seq_col)).alias(c) for c in value_cols
            ])
            .select(*batch_df.columns)
        )
        if catalog.current_snapshot_id(table_dir) is not None:
            stored = (
                catalog.read_table(spark, table_dir)
                .groupBy(*keys)
                .agg(F.max(F.col(seq_col)).alias("__stored_seq"))
            )
            latest = (
                latest.join(stored, keys, "left")
                .filter(
                    F.col("__stored_seq").isNull()
                    | (F.col(seq_col) > F.col("__stored_seq"))
                )
                .drop("__stored_seq")
            )
            if not latest.head(1):
                return  # nothing strictly newer — no snapshot churn
        catalog.upsert(spark, table_dir, latest, keys=keys)

    writer = (
        src.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
