"""Streaming extraction: file-source microbatches must produce the same
span sequences as the batch path, including duplicate-delivery handling."""

from __future__ import annotations

import shutil
import tempfile

from dd_ops_ocr_spark import corpus, pipeline
from dd_ops_ocr_spark.streaming.jobs import stream_extract
from tests.conftest import SF_SMOKE


def test_stream_extract_matches_batch(spark):
    land = tempfile.mkdtemp(prefix="stream_land_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    out = tempfile.mkdtemp(prefix="stream_out_")
    try:
        spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
        # two "deliveries": second file re-delivers an overlapping slice
        spans.limit(300).coalesce(2).write.mode("overwrite").parquet(f"{land}/d1")
        # use files directly in the landing dir (file source is flat)
        import glob
        import shutil as sh

        for i, f in enumerate(glob.glob(f"{land}/d1/part-*.parquet")):
            sh.copy(f, f"{land}/file_{i}.parquet")
        sh.rmtree(f"{land}/d1")

        q = stream_extract(spark, land, ckpt, out)
        q.awaitTermination(120)

        got = spark.read.parquet(out)
        batch = pipeline.extract(spans.limit(300))
        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        assert got.select(cols).exceptAll(batch.select(cols)).count() == 0
        assert batch.select(cols).exceptAll(got.select(cols)).count() == 0
    finally:
        for d in (land, ckpt, out):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_extract_replay_is_idempotent(spark):
    """foreachBatch is at-least-once: a replayed epoch (here forced by a
    fresh checkpoint over the same landing files, which re-runs the same
    epoch ids) must overwrite its own epoch partition, not append dups."""
    import glob
    import shutil as sh

    land = tempfile.mkdtemp(prefix="stream_rland_")
    ckpt1 = tempfile.mkdtemp(prefix="stream_rck1_")
    ckpt2 = tempfile.mkdtemp(prefix="stream_rck2_")
    out = tempfile.mkdtemp(prefix="stream_rout_")
    try:
        spans = corpus.build_spans_df(spark, SF_SMOKE)
        spans.limit(50).coalesce(1).write.mode("overwrite").parquet(f"{land}/d")
        for i, f in enumerate(glob.glob(f"{land}/d/part-*.parquet")):
            sh.copy(f, f"{land}/file_{i}.parquet")
        sh.rmtree(f"{land}/d")

        stream_extract(spark, land, ckpt1, out).awaitTermination(120)
        n_first = spark.read.parquet(out).count()
        # replay: fresh checkpoint -> the same files re-process as epoch 0
        stream_extract(spark, land, ckpt2, out).awaitTermination(120)
        n_second = spark.read.parquet(out).count()
        assert n_first == n_second, "replayed epoch appended duplicates"
    finally:
        for d in (land, ckpt1, ckpt2, out):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_stateful_across_batches(spark):
    """Docs re-delivered in LATER micro-batches must be admitted once:
    file 1 = docs A..J, file 2 = docs F..O (overlap F..J)."""
    import glob
    import shutil as sh

    from dd_ops_ocr_spark.streaming.jobs import stream_dedup_stateful

    land = tempfile.mkdtemp(prefix="stream_state_")
    try:
        spans = corpus.build_spans_df(spark, SF_SMOKE).cache()
        first = spans.limit(10)
        second = spans.limit(15).subtract(spans.limit(5))  # rows 5..14
        first.coalesce(1).write.mode("overwrite").parquet(f"{land}/tmp1")
        second.coalesce(1).write.mode("overwrite").parquet(f"{land}/tmp2")
        for i, d in enumerate(["tmp1", "tmp2"]):
            for f in glob.glob(f"{land}/{d}/part-*.parquet"):
                sh.copy(f, f"{land}/file_{i}.parquet")
            sh.rmtree(f"{land}/{d}")

        out = stream_dedup_stateful(spark, land)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_state")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select doc_id from dedup_state").toPandas()
        assert got["doc_id"].is_unique, "a re-delivered doc was admitted twice"
        want = {r["doc_id"] for r in spans.limit(15).select("doc_id").collect()}
        assert set(got["doc_id"]) == want
    finally:
        shutil.rmtree(land, ignore_errors=True)


def test_stream_extract_dlq_routes_malformed_docs(spark):
    """The dead-letter split: malformed docs (null spans, negative
    offset) land in ``{out_dir}/_quarantine`` with a reason; valid docs
    extract exactly as the batch path would; a replay (fresh checkpoint,
    same epoch ids) converges on BOTH sinks instead of appending
    duplicates."""
    import glob
    import shutil as sh

    from pyspark.sql import Row, functions as F

    from dd_ops_ocr_spark.schema import SPANS_SCHEMA

    land = tempfile.mkdtemp(prefix="stream_dlq_land_")
    ckpt1 = tempfile.mkdtemp(prefix="stream_dlq_ck1_")
    ckpt2 = tempfile.mkdtemp(prefix="stream_dlq_ck2_")
    out = tempfile.mkdtemp(prefix="stream_dlq_out_")
    dlq = f"{out}/_quarantine"
    try:
        spans = corpus.build_spans_df(spark, SF_SMOKE).limit(40).cache()
        # SPANS_SCHEMA declares spans non-nullable, but parquet READ does
        # not enforce nullability — a producer writing with a laxer
        # schema can land nulls, which is exactly what the DLQ guards.
        import copy

        lax = copy.deepcopy(SPANS_SCHEMA)
        for f in lax.fields:
            f.nullable = True
        bad = spark.createDataFrame(
            [
                Row(doc_id="bad_null_spans", spans=None),
                Row(
                    doc_id="bad_offset",
                    spans=[
                        Row(kind="text", text="x", media_ref=None, offset=-3)
                    ],
                ),
                # spans=[] must reach the DLQ, not silently extract to
                # zero rows (the batch path quarantines it too)
                Row(doc_id="bad_empty_spans", spans=[]),
                # TWO distinct null-id docs: dropDuplicates treats NULLs
                # as equal, so the DLQ must flag before any dedup or one
                # of these vanishes without trace
                Row(
                    doc_id=None,
                    spans=[
                        Row(kind="text", text="a", media_ref=None, offset=0)
                    ],
                ),
                Row(
                    doc_id=None,
                    spans=[
                        Row(kind="text", text="b", media_ref=None, offset=0)
                    ],
                ),
            ],
            lax,
        )
        delivery = spans.unionByName(bad).coalesce(1)
        delivery.write.mode("overwrite").parquet(f"{land}/d")
        for i, f in enumerate(glob.glob(f"{land}/d/part-*.parquet")):
            sh.copy(f, f"{land}/file_{i}.parquet")
        sh.rmtree(f"{land}/d")

        stream_extract(spark, land, ckpt1, out).awaitTermination(120)

        got_dlq = spark.read.parquet(dlq)
        dlq_rows = got_dlq.collect()
        reasons = {
            r["doc_id"]: r["reason"] for r in dlq_rows
            if r["doc_id"] is not None
        }
        assert reasons == {
            "bad_null_spans": "null_spans",
            "bad_offset": "bad_offset",
            "bad_empty_spans": "empty_spans",
        }
        null_id = [r for r in dlq_rows if r["doc_id"] is None]
        assert len(null_id) == 2  # both null-id docs kept, not collapsed
        assert {r["reason"] for r in null_id} == {"null_doc_id"}
        # the DLQ carries the original payload for triage/replay
        texts = {
            r["spans"][0]["text"] for r in null_id
        }
        assert texts == {"a", "b"}
        bad_off = [r for r in dlq_rows if r["doc_id"] == "bad_offset"][0]
        assert bad_off["spans"][0]["offset"] == -3
        got = spark.read.parquet(out)
        batch = pipeline.extract(spans)
        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        assert got.select(cols).exceptAll(batch.select(cols)).count() == 0
        assert batch.select(cols).exceptAll(got.select(cols)).count() == 0
        assert got.filter(F.col("doc_id").startswith("bad_")).count() == 0
        n_first = got.count()  # before replay invalidates got's file index

        # replay: same landing files, fresh checkpoint -> same epoch ids
        stream_extract(spark, land, ckpt2, out).awaitTermination(120)
        assert spark.read.parquet(dlq).count() == 5  # overwrote, not appended
        assert spark.read.parquet(out).count() == n_first
    finally:
        for d in (land, ckpt1, ckpt2, out):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_upsert_sink_merges_and_replays_idempotently(spark):
    """CDC micro-batches MERGE into the catalog atomically per epoch:
    intra-batch rows reduce to the highest-seq row per key, later
    epochs overwrite earlier ones, and a full replay from a fresh
    checkpoint leaves the row set unchanged (the merge itself is the
    idempotence mechanism — no epoch partitions)."""
    import glob
    import shutil as sh

    from dd_ops_ocr_spark import catalog
    from dd_ops_ocr_spark.streaming.jobs import stream_upsert_sink

    land = tempfile.mkdtemp(prefix="stream_ups_land_")
    ckpt1 = tempfile.mkdtemp(prefix="stream_ups_ck1_")
    ckpt2 = tempfile.mkdtemp(prefix="stream_ups_ck2_")
    table = tempfile.mkdtemp(prefix="stream_ups_tbl_")
    schema = "id long, val string, seq long"

    def write_file(name, rows):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        tmp = f"{land}/_tmp_{name}"
        df.write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        sh.copy(part, f"{land}/{name}.parquet")
        sh.rmtree(tmp)

    def rows():
        return {
            r.id: r.val
            for r in catalog.read_table(spark, table).collect()
        }

    try:
        # epoch 1: insert + same-key update in ONE batch -> seq wins
        write_file("f1", [(1, "a", 1), (2, "b", 1), (1, "a2", 2)])
        stream_upsert_sink(
            spark, land, ckpt1, table, keys=["id"], schema=schema
        ).awaitTermination(120)
        assert rows() == {1: "a2", 2: "b"}
        # epoch 2: update one key, insert another
        write_file("f2", [(2, "b2", 3), (3, "c", 3)])
        stream_upsert_sink(
            spark, land, ckpt1, table, keys=["id"], schema=schema
        ).awaitTermination(120)
        assert rows() == {1: "a2", 2: "b2", 3: "c"}
        n_snaps = len(catalog.snapshots(table))
        # full replay (fresh checkpoint) into the SAME table: row set
        # unchanged AND no lineage churn — every replayed row compares
        # seq-equal to what it already stored, so the cross-epoch guard
        # filters each batch to nothing and no snapshot commits
        stream_upsert_sink(
            spark, land, ckpt2, table, keys=["id"], schema=schema
        ).awaitTermination(120)
        assert rows() == {1: "a2", 2: "b2", 3: "c"}
        assert len(catalog.snapshots(table)) == n_snaps
    finally:
        for d in (land, ckpt1, ckpt2, table):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_upsert_sink_out_of_order_epoch_cannot_regress(spark):
    """File-listing order is not changelog order: a delayed file
    carrying an OLDER sequence for a key must not overwrite the newer
    stored value when it forms a later epoch — the sink compares each
    incoming row's seq against the stored row's and drops stale ones
    (while still applying genuinely-new keys from the same batch)."""
    import glob
    import shutil as sh

    from dd_ops_ocr_spark import catalog
    from dd_ops_ocr_spark.streaming.jobs import stream_upsert_sink

    land = tempfile.mkdtemp(prefix="stream_ooo_land_")
    ckpt = tempfile.mkdtemp(prefix="stream_ooo_ck_")
    table = tempfile.mkdtemp(prefix="stream_ooo_tbl_")
    schema = "id long, val string, seq long"

    def write_file(name, rows):
        df = spark.createDataFrame(rows, schema).coalesce(1)
        tmp = f"{land}/_tmp_{name}"
        df.write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        sh.copy(part, f"{land}/{name}.parquet")
        sh.rmtree(tmp)

    def rows():
        return {
            r.id: (r.val, r.seq)
            for r in catalog.read_table(spark, table).collect()
        }

    try:
        # epoch 1: the NEWER change arrives first
        write_file("f1", [(1, "new", 2)])
        stream_upsert_sink(
            spark, land, ckpt, table, keys=["id"], schema=schema
        ).awaitTermination(120)
        assert rows() == {1: ("new", 2)}
        # epoch 2: a delayed file with the OLDER change for id=1, plus
        # a genuinely new key — the stale row is dropped, the new one
        # still lands
        write_file("f2", [(1, "old", 1), (2, "other", 1)])
        stream_upsert_sink(
            spark, land, ckpt, table, keys=["id"], schema=schema
        ).awaitTermination(120)
        assert rows() == {1: ("new", 2), 2: ("other", 1)}
    finally:
        for d in (land, ckpt, table):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_same_batch_duplicate_not_inflated(spark):
    """A re-delivery can land in the SAME micro-batch (both copies in
    one landing file): the doc must emit once with the TRUE span count,
    not the sum over duplicate rows."""
    import glob
    import shutil as sh

    from dd_ops_ocr_spark.streaming.jobs import stream_dedup_stateful

    land = tempfile.mkdtemp(prefix="stream_dupb_")
    try:
        spans = corpus.build_spans_df(spark, SF_SMOKE).limit(1)
        true_n = len(spans.collect()[0]["spans"])
        dup = spans.unionAll(spans).coalesce(1)  # two copies, one file
        dup.write.mode("overwrite").parquet(f"{land}/tmp")
        for f in glob.glob(f"{land}/tmp/part-*.parquet"):
            sh.copy(f, f"{land}/file_0.parquet")
        sh.rmtree(f"{land}/tmp")

        out = stream_dedup_stateful(spark, land)
        q = (
            out.writeStream.outputMode("append")
            .format("memory").queryName("dedup_dupb")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from dedup_dupb").collect()
        assert len(rows) == 1
        assert rows[0]["n_spans"] == true_n
    finally:
        shutil.rmtree(land, ignore_errors=True)
