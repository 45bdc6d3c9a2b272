"""Incremental extraction — process only documents not yet in the output
snapshot, then commit the union as a child snapshot.

The reference re-runs its whole per-session pipeline when new files land
and probes result directories for staleness (api/main.py:785-853); the
Spark-native shape is a snapshot diff: the committed output table knows
its doc_ids, so a new batch anti-joins them and only the delta flows
through the extraction kernel. Composes catalog.py (Iceberg-style
snapshots: the append is atomic, readers never see a partial delta,
every increment stays time-travelable) with pipeline.extract.

Scale notes: the anti-join's build side is (doc_id) only — pruned at the
scan by Catalyst; for a 10^12-row output table the doc_id column scan is
the cost floor, and a deployment would keep a doc_id-only index table
(or Iceberg puffin/bloom metadata) next to the output. The delta itself
runs the normal shuffle-free extraction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from dd_ops_ocr_spark import catalog
from dd_ops_ocr_spark.session import local_frame


def extract_incremental(
    spark: SparkSession,
    spans_df: DataFrame,
    table_dir: str,
    run_id: str,
    extractor=None,
) -> dict:
    """Extract the docs in ``spans_df`` that the output table has not seen,
    append them as a new snapshot, and return a summary. First run (no
    snapshot yet) processes everything with an ``overwrite`` commit."""
    from dd_ops_ocr_spark import pipeline

    extractor = extractor or pipeline.extract
    try:
        # The processed-doc roster is an aux component of the snapshot
        # (committed atomically with the data), NOT inferred from output
        # doc_ids: a doc whose extraction legitimately emits zero rows
        # must still count as seen, or it is re-extracted and re-committed
        # as a new snapshot on every run of a static source.
        seen = catalog.read_aux(spark, table_dir, "docids")
        roster_seed = None
        if seen is None:  # pre-roster table — fall back to output doc_ids
            seen = catalog.read_table(spark, table_dir).select("doc_id").distinct()
            # Upgrade path: the parent manifest has no roster to union with
            # (write_snapshot's append only unions aux keys the parent HAS),
            # so the first post-upgrade commit must seed the roster with the
            # fallback history — otherwise the next run reads a roster of
            # only this delta and re-extracts every pre-roster doc forever.
            roster_seed = seen
        operation = "append"
        delta = spans_df.join(seen, "doc_id", "left_anti")
    except FileNotFoundError:
        operation = "overwrite"
        delta = spans_df
        roster_seed = None

    # the roster scan + anti-join (the docstring's cost floor) feeds
    # THREE consumers below — the n_docs count, the extraction write,
    # and the aux roster write; persist so discovery runs once per
    # increment, not three times over the full output table
    delta = delta.persist()
    out = extractor(delta)
    n_docs = delta.count()
    if operation == "append" and n_docs == 0:
        delta.unpersist()
        return {
            "run_id": run_id,
            "operation": "noop",
            "docs_processed": 0,
            "snapshot_id": catalog.current_snapshot_id(table_dir),
        }
    roster = delta.select("doc_id").distinct()
    if roster_seed is not None:
        roster = roster.unionByName(roster_seed).distinct()
    sid = catalog.write_snapshot(
        out, table_dir, operation,
        properties={"run_id": run_id, "docs_processed": n_docs},
        aux={"docids": roster},
    )
    delta.unpersist()  # write_snapshot materialized both consumers
    return {
        "run_id": run_id,
        "operation": operation,
        "docs_processed": n_docs,
        "snapshot_id": sid,
    }


# ------------------------------------------------- X9: result-dir probing
# The reference probes up to five candidate result directories for
# already-produced outputs and cleans its result/ scratch between runs
# (src/api/main.py:785-853). The snapshot roster above is the
# production-grade replacement (it survives zero-output docs); the two
# operators below are the literal compatibility shape for resuming from
# a FOREIGN output tree — one produced by another engine or an earlier
# deployment, where no roster or ledger exists to consult.


def probe_result_dirs(spark: SparkSession, candidate_dirs) -> DataFrame:
    """Derive the processed-doc set from result directories ALONE:
    each readable candidate contributes its distinct output doc_ids,
    earlier-listed directories win ties (the reference's probe order is
    a precedence list). Unreadable / absent candidates are skipped —
    warn-and-continue, X1 — not errored. Returns (doc_id, source_dir).

    Caveat, by design: a doc whose extraction legitimately emitted zero
    rows is invisible to any output-only probe and will be reprocessed;
    that is exactly why extract_incremental keeps an explicit roster.
    Scale shape: per-dir distinct is a map-side-combined agg on the
    pruned doc_id column; precedence is one hash shuffle of (doc_id,
    priority) pairs, no collect."""
    import warnings

    from dd_ops_ocr_spark import ledger
    from pyspark.sql import Window

    frames = []
    for pri, d in enumerate(candidate_dirs):
        for root in (f"{d}/data", d):
            if not ledger._parquet_nonempty(root):
                continue
            # Eagerly validate the candidate (foreign trees may lack a
            # doc_id column, or carry truncated footers): a metadata-only
            # count touches every footer without reading row data, and
            # the select resolves the column. Candidate lists are short
            # precedence lists (the reference probes <=5 dirs), so one
            # tiny job per dir is bounded.
            try:
                probe = spark.read.parquet(root).select("doc_id")
                probe.count()
            except Exception as exc:  # warn-and-continue (X1)
                warnings.warn(
                    f"probe_result_dirs: skipping unreadable candidate "
                    f"{root!r}: {exc}", stacklevel=2)
                continue
            frames.append(
                probe.distinct()
                .withColumn("source_dir", F.lit(d))
                .withColumn("_pri", F.lit(pri))
            )
            break
    if not frames:
        return local_frame(spark, [], "doc_id string, source_dir string")
    allp = frames[0]
    for f in frames[1:]:
        allp = allp.unionByName(f)
    w = Window.partitionBy("doc_id").orderBy("_pri")
    return (
        allp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source_dir")
    )


def resume_delta_from_dirs(
    spark: SparkSession, spans_df: DataFrame, candidate_dirs
) -> DataFrame:
    """The resume half of X9: the spans still to process, given only
    candidate output directories — anti-join against the probed roster
    (UNhinted: the seen set scales with the corpus, AQE picks the join
    strategy). Compose with ledger.run_one_pass to land the delta."""
    seen = probe_result_dirs(spark, candidate_dirs).select("doc_id")
    return spans_df.join(seen, "doc_id", "left_anti")


def clean_stale_results(
    spark: SparkSession, out_dir: str, dry_run: bool = False
) -> dict:
    """The cleanup half of X9: delete ``data/bucket=N`` directories that
    have NO ledger commit marker — the orphans a crash leaves between
    data-write and marker-write. Resume logic already overwrites such
    buckets idempotently, so this is hygiene (reclaim space, keep
    foreign probes of the tree from reading uncommitted rows), never
    correctness. Local filesystems only, loudly: a URI-scheme out_dir
    needs the Hadoop FS API and raises rather than silently no-opping
    (the _parquet_nonempty lesson)."""
    import shutil

    from dd_ops_ocr_spark import ledger

    if "://" in out_dir:
        raise NotImplementedError(
            "clean_stale_results walks the local filesystem; route "
            "URI-scheme paths through the Hadoop FS API"
        )
    done = ledger.committed_buckets(spark, out_dir)
    data = os.path.join(out_dir, "data")
    removed: list[int] = []
    skipped: list[str] = []
    kept = 0
    # Scan fully before deleting anything: a parse surprise mid-walk
    # must not leave the cleanup half-applied.
    if os.path.isdir(data):
        for name in sorted(os.listdir(data)):
            if not name.startswith("bucket="):
                continue
            try:
                # foreign writers emit e.g. bucket=__HIVE_DEFAULT_PARTITION__
                b = int(name.split("=", 1)[1])
            except ValueError:
                skipped.append(name)
                continue
            if b in done:
                kept += 1
            else:
                removed.append(b)
        if not dry_run:
            for b in removed:
                shutil.rmtree(os.path.join(data, f"bucket={b}"))
    return {"removed_buckets": removed, "kept_buckets": kept,
            "skipped_dirs": skipped, "dry_run": dry_run}
