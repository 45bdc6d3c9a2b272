"""Salted extraction for skewed multi-page documents (north_rule).

The unit of work is a document; cost ~ pages x spans. A p99 tail doc
(100 pages vs median 3) makes its task ~30x slower — AQE fixes shuffle
skew but not UDF-cost skew, so the salt is ours (SURVEY §4.1).

Design (hybrid, scale-first, NO driver-side data round-trip, NO
broadcasts, exactly ONE extra scan and ONE small shuffle over the tail):

  * **small docs** (pages <= pages_per_bucket — the overwhelming bulk at
    any scale) take the plain nested path: ``pipeline.extract``, zero
    shuffle, whole doc inside one Arrow batch. Routing is a codegen'd
    ``array_max(spans.offset)`` — no higher-order lambda in the hot scan.
  * **big docs** (the rare tail) run ONE doc-global Arrow pass
    (``_bucketize_kernel``, shuffle-free: a row is a whole doc) that
    runs ``pipeline``'s flatten and strip stages (normalize, empty-drop,
    boilerplate strip) and emits one nested row per salt bucket
    ``(doc_id, base, spans)``, where
    ``base`` is the exclusive prefix sum of earlier buckets' survivor
    counts and ``spans`` carry pre-normalized text. The bucket rows —
    each bounded by pages_per_bucket pages regardless of document size —
    are spread round-robin across the cluster (`repartition(n)`, the
    salt shuffle; nested rows, so the shuffle moves compact array
    payloads), and a second small kernel (``_rank_kernel``) runs
    ``pipeline``'s reading-order stage (page-local two-up + rank) with
    the bucket row as the group, offset by ``base``.

  This module owns only what is specific to salting: routing, salt
  buckets, order bases, the shuffle and the union. The extraction spec
  itself lives once, in ``pipeline``'s stages.

  All doc-global state (boilerplate keys, order bases) is resolved
  inside the bucketize kernel while the doc is still whole — nothing is
  collected, broadcast, or window-aggregated, so there is no relation
  whose size grows with the tail. Task cost after the shuffle is bounded
  by pages_per_bucket pages — the salt's whole job.

Semantics are identical to ``pipeline.extract`` — asserted span-for-span
against the same oracle in tests/test_salted.py and against the DuckDB
oracle by the driver (flagship_extract_salted).

(Skew background: AQE's skew handling only rebalances shuffle blocks;
UDF-cost skew from heavy keys needs explicit salting — cf. the skewed-join
analyses in "CPU and GPU Hash Joins on Skewed Data", ICDE 2024, PAPERS.md.)
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from dd_ops_ocr_spark import pipeline
from dd_ops_ocr_spark.schema import OUT_SPANS_DDL, STRIDE

PAGES_PER_BUCKET = 25

BUCKET_DDL = (
    "doc_id string, base bigint, spans array<struct<"
    "kind:string,text:string,media_ref:string,offset:int>>"
)


def _bucketize_kernel(ppb: int):
    """Doc-global pass over whole tail docs (nested in, nested out):
    ``pipeline``'s flatten and strip stages, then split the survivors
    into salt buckets of <= ppb pages and emit one row per bucket with
    the doc-global order base attached. ``ppb`` is baked into the closure
    (module globals reset on worker re-import)."""

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        span_t = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
        out_schema = pa.schema(
            [
                ("doc_id", pa.string()),
                ("base", pa.int64()),
                ("spans", pa.list_(span_t)),
            ]
        )
        for batch in batches:
            tbl, struct, doc_idx, offset = pipeline._flatten(batch)
            if len(struct) == 0:
                continue
            norm, gi, d, page, _, _, is_text = pipeline._strip(
                struct, doc_idx, offset, tbl.num_rows
            )
            if len(gi) == 0:
                # every span of this batch normalized to nothing / was
                # boilerplate — nothing to emit (hypothesis-discovered)
                continue
            salt = page // ppb

            # group survivors by (doc, salt); bases = exclusive prefix sum
            ds = d * 4096 + salt  # salt <= 409 < 4096
            srt = np.argsort(ds, kind="stable")
            ds_s = ds[srt]
            starts = np.flatnonzero(
                np.concatenate(([True], ds_s[1:] != ds_s[:-1]))
            )
            glens = np.diff(np.append(starts, len(ds_s)))
            gdoc = ds_s[starts] // 4096
            cum = np.cumsum(glens) - glens  # batch-wide exclusive prefix
            doc_first = np.concatenate(([True], gdoc[1:] != gdoc[:-1]))
            # cum increases, so a running max over the doc-first prefixes
            # carries each doc's first prefix to all of its groups
            gbase = cum - np.maximum.accumulate(np.where(doc_first, cum, 0))

            take_idx = pa.array(gi[srt])
            text_sorted = pc.take(norm, take_idx)
            is_text_sorted = pa.array(is_text[srt])
            values = pa.StructArray.from_arrays(
                [
                    pc.take(struct.field("kind"), take_idx),
                    pc.if_else(
                        is_text_sorted, text_sorted, pa.scalar(None, pa.string())
                    ),
                    pc.take(struct.field("media_ref"), take_idx),
                    pc.take(struct.field("offset"), take_idx),
                ],
                fields=list(span_t),
            )
            list_offsets = pa.array(
                np.concatenate(([0], np.cumsum(glens))).astype(np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(tbl.column("doc_id").chunk(0), pa.array(gdoc)),
                    pa.array(gbase.astype(np.int64)),
                    pa.ListArray.from_arrays(list_offsets, values),
                ],
                schema=out_schema,
            )

    return run


def _rank_kernel(batches):
    """Per-bucket reading-order rank: ``pipeline``'s flatten and
    reading-order stages with the bucket row as the group, offset by the
    row's doc-global order base. Input rows are whole salt buckets of
    pre-normalized, pre-stripped spans; batches always contain whole
    rows, so this is shuffle- and state-free."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pipeline._out_schema()
    for batch in batches:
        tbl, struct, row_idx, offset = pipeline._flatten(batch)
        if len(struct) == 0:
            continue
        base = tbl.column("base").chunk(0).to_numpy(zero_copy_only=False)
        srt, r_s, rank = pipeline._reading_order(
            row_idx, *pipeline._geometry(offset)
        )
        order = (rank + base[r_s]).astype(np.int32)

        take_idx = pa.array(srt)
        yield pa.RecordBatch.from_arrays(
            [
                pc.take(tbl.column("doc_id").chunk(0), pa.array(r_s)),
                pc.take(struct.field("kind"), take_idx),
                pc.take(struct.field("text"), take_idx),
                pc.take(struct.field("media_ref"), take_idx),
                pa.array(order),
            ],
            schema=out_schema,
        )


def _salted_from_parts(
    small: DataFrame, big: DataFrame, ppb: int
) -> DataFrame:
    """Union of the plain path over ``small`` and the salted tail path
    over ``big``. The two subtrees are independent — Spark schedules
    their stages concurrently within the one union action, so the small
    extract overlaps the bucketize stage."""
    small_out = pipeline.extract(small)
    # Tail: one doc-global kernel -> bucket rows -> salt shuffle -> rank.
    buckets = big.mapInArrow(_bucketize_kernel(ppb), schema=BUCKET_DDL)
    n_part = int(big.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    spread = buckets.repartition(n_part)
    big_out = spread.mapInArrow(_rank_kernel, schema=OUT_SPANS_DDL)
    return small_out.unionByName(big_out)


def extract_salted(
    df: DataFrame, pages_per_bucket: int = PAGES_PER_BUCKET
) -> DataFrame:
    """Skew-proof extraction: identical output to ``pipeline.extract``.

    Routing here is computed (two scans of ``df``, each filtering on a
    codegen'd ``array_max(spans.offset)`` — no per-element lambda in the
    hot scan). When the input LANDED with the ``size_class`` partition
    column (corpus.materialize_spans), use ``extract_salted_pruned``
    instead: the same plan, but each scan file-prunes to its class."""
    ppb = pages_per_bucket
    routed = df.withColumn(
        "_maxpage",
        F.coalesce(
            F.expr(f"array_max(spans.offset) div {STRIDE}"), F.lit(0)
        ).cast("bigint"),
    )
    small = routed.filter(F.col("_maxpage") < ppb).drop("_maxpage")
    big = routed.filter(F.col("_maxpage") >= ppb).drop("_maxpage")
    return _salted_from_parts(small, big, ppb)


def extract_salted_pruned(spark, path: str) -> DataFrame:
    """``extract_salted`` over a corpus LANDED with the ``size_class``
    partition column (corpus.materialize_spans): the small/big routing
    becomes partition PRUNING — each side's scan reads only its class's
    files, so the tail-routing pass stops re-reading 100% of the corpus
    (the BENCH.md remedy for the salted-path scaling gap).

    The landing boundary is PAGES_PER_BUCKET; this reader must use the
    same constant, so it takes no ppb parameter."""
    src = spark.read.parquet(path)
    if "size_class" not in src.columns:
        raise ValueError(
            f"{path} was not landed with the size_class partition column; "
            "use corpus.materialize_spans to land it, or extract_salted()"
        )
    if "part" in src.columns:
        # a split-landed corpus (materialize_spans(split_pages=...))
        # ALSO carries size_class, but its big docs are continuation
        # rows — extracting each part as a whole document would compute
        # boilerplate stats per fragment and restart the rank per part:
        # silently wrong output, so refuse loudly
        raise ValueError(
            f"{path} is a split-landed corpus ((doc_id, part) rows); "
            "use plans.split_landed.extract_split_landed() for it"
        )
    small = src.filter(F.col("size_class") == "small").select("doc_id", "spans")
    big = src.filter(F.col("size_class") == "big").select("doc_id", "spans")
    return _salted_from_parts(small, big, PAGES_PER_BUCKET)
