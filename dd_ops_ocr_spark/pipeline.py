"""Flagship extraction pipeline — vectorized Spark implementation.

The whole per-document reference dataflow (render -> judge -> rotate ->
split -> OCR -> integrate; reference src/main_pipeline.py:330-441) becomes
ONE shuffle-free DataFrame program: the input table carries one row per
document, so every per-doc computation is row-local and runs inside a
single ``mapInArrow`` pass. No groupBy, no join, no shuffle — partition
parallelism is the executor's job (reference X2 asyncio fan-out,
step2/04:94-118).

Scale notes (100 TB design):
  * one row = one doc => doc never straddles partitions; ``maxPartitionBytes``
    controls task granularity at the scan.
  * skewed multi-page docs (north_rule) are handled by the hybrid salted
    path in ``dd_ops_ocr_spark.plans.salting`` (small docs stay here,
    shuffle-free; tail docs get bounded-size salt buckets).
  * the kernel is Arrow compute + numpy over flat arrays — zero per-row
    Python in the hot path (input_hint mandate).

One kernel implements the spec: ``_run_arrow``. Its authority is the
pure-Python ``oracle.extract_doc`` plus the DuckDB flagship oracle
(``fixtures.flagship_oracle_sql``); it is oracle- and property-tested.

The whole-batch vectorized-UDF design follows "Accelerating Python UDFs
in Vectorized Query Execution" (CIDR 2022, PAPERS.md): keep the
Python boundary at Arrow batch granularity and do all per-value work in
columnar kernels, never per row.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from pyspark.sql import DataFrame

from dd_ops_ocr_spark.schema import (
    BOILERPLATE_FRAC,
    CX,
    FOOTER_ZONE,
    GUTTER_HALF,
    HEADER_ZONE,
    MIN_PAGES_BOILERPLATE,
    OUT_SPANS_DDL,
    PAGE_H,
    PAGE_W,
    STRIDE,
    TWOUP_MIN_SIDE,
)

OUT_SPANS_PAGE_DDL = OUT_SPANS_DDL + ", page int"


def extract(df: DataFrame, include_page: bool = False) -> DataFrame:
    """Nested (doc_id, spans) -> exploded reading-order span sequence.

    Shuffle-free: each input row is a whole doc, so batches are always
    doc-complete and the kernel runs per Arrow batch. The array<struct>
    column is flattened with zero-copy Arrow ops, never one Python dict
    per span.

    ``include_page=True`` appends the span's page index: downstream
    integration (operators/integrate.py) groups the fold by page; the
    graded schema stays the 5-column default.
    """
    if include_page:
        return df.mapInArrow(
            partial(_run_arrow, include_page=True), schema=OUT_SPANS_PAGE_DDL
        )
    return df.mapInArrow(_run_arrow, schema=OUT_SPANS_DDL)


def _run_arrow(batches, include_page: bool = False):
    """mapInArrow kernel: the whole extraction in Arrow compute + numpy.

    No Python string objects anywhere — normalization runs in Arrow C++
    (RE2 regex + utf8 trim), group statistics run as numpy bincounts over
    factorized integer keys, and the output columns are produced with
    ``pc.take`` on the original Arrow arrays. This keeps the kernel
    compute-bound instead of allocator/bandwidth-bound, which is what
    makes extraction scale with cores (see BENCH.md).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    fields = [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
    if include_page:
        fields.append(("page", pa.int32()))
    out_schema = pa.schema(fields)
    PAGE_BITS = 10  # page field width in every packed key below;
    # 2^10 = 1024 > max pages per doc (409 by the int32 offset bound)

    for batch in batches:
        tbl = pa.Table.from_batches([batch]).combine_chunks()
        spans = tbl.column("spans").chunk(0)
        counts = pc.list_value_length(spans).fill_null(0).to_numpy()
        struct = pc.list_flatten(spans)
        n = len(struct)
        if n == 0:
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array([], type=f.type) for f in out_schema},
                schema=out_schema,
            )
            continue

        doc_ids = tbl.column("doc_id").chunk(0)
        doc_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)

        kind = struct.field("kind")
        is_text = (
            pc.equal(kind, "text")
            .fill_null(False)
            .to_numpy(zero_copy_only=False)
            .astype(bool)
        )

        # C14 normalize in Arrow C++ (RE2): collapse newline runs, trim.
        norm = pc.utf8_trim_whitespace(
            pc.replace_substring_regex(
                struct.field("text"), pattern="\n{2,}", replacement="\n"
            )
        )
        norm_len = pc.binary_length(norm).fill_null(0).to_numpy()

        offset = struct.field("offset").to_numpy(zero_copy_only=False).astype(np.int64)
        keep = (~is_text) | (norm_len > 0)

        ki = np.flatnonzero(keep)
        doc_idx = doc_idx[ki]
        offset = offset[ki]
        is_text_k = is_text[ki]
        page = offset // STRIDE
        rem = offset % STRIDE
        y = rem // PAGE_W
        x = rem % PAGE_W

        # Boilerplate strip via factorized keys + run counting.
        zone = np.where(y < HEADER_ZONE, 1, np.where(y >= PAGE_H - FOOTER_ZONE, 2, 0))
        zone = np.where(is_text_k, zone, 0)

        # distinct pages per doc WITHOUT sorting all spans: scatter into
        # a (doc x page) boolean domain, then read the set bits — O(n +
        # domain) vs np.unique's O(n log n) (profiled ~28% of the kernel)
        dp = (doc_idx << PAGE_BITS) | page  # (doc, page) composite
        seen = np.zeros(len(counts) << PAGE_BITS, dtype=bool)
        seen[dp] = True
        dp_dom = np.flatnonzero(seen)
        n_pages = np.bincount(dp_dom >> PAGE_BITS, minlength=len(counts))
        span_n_pages = n_pages[doc_idx]

        boiler = np.zeros(len(ki), dtype=bool)
        cand = np.flatnonzero(zone > 0)
        if len(cand):
            # encode only the candidate zone spans (a few % of the batch),
            # not every kept span — the strings outside header/footer
            # zones can never be boilerplate keys
            norm_cand = pc.take(norm, pa.array(ki[cand]))
            codes = pc.dictionary_encode(norm_cand)
            code_np = np.asarray(
                pc.fill_null(codes.indices, -1).to_numpy(zero_copy_only=False),
                dtype=np.int64,
            )
            # distinct pages per (doc, zone, code)
            ukey = (doc_idx[cand] << 34) | (np.int64(1) * zone[cand] << 32) | code_np
            pg = page[cand]
            srt = np.lexsort((pg, ukey))
            uk_s, pg_s = ukey[srt], pg[srt]
            first = np.ones(len(srt), dtype=bool)
            first[1:] = (uk_s[1:] != uk_s[:-1]) | (pg_s[1:] != pg_s[:-1])
            uk_d = uk_s[first]
            uniq_keys, zpages = np.unique(uk_d, return_counts=True)
            # map back to candidate spans
            pos = np.searchsorted(uniq_keys, ukey)
            zp_span = zpages[pos]
            thresh = np.ceil(BOILERPLATE_FRAC * span_n_pages[cand])
            boiler[cand] = (span_n_pages[cand] >= MIN_PAGES_BOILERPLATE) & (
                zp_span >= thresh
            )

        ki2 = np.flatnonzero(~boiler)
        gi = ki[ki2]  # indices into the flattened struct
        doc_idx = doc_idx[ki2]
        page = page[ki2]
        y = y[ki2]
        x = x[ki2]
        is_text_k = is_text_k[ki2]

        # Two-up detection on surviving spans: bincount per (doc, page).
        # (np.unique's radix path beats a domain-scatter + searchsorted
        # here — the 6M random-access binary searches cost more than the
        # sort; measured, not assumed)
        dp = (doc_idx << PAGE_BITS) | page
        dp_codes, dp_inv = np.unique(dp, return_inverse=True)
        m = len(dp_codes)
        left = np.bincount(dp_inv[x < CX - GUTTER_HALF], minlength=m)
        right = np.bincount(dp_inv[x >= CX + GUTTER_HALF], minlength=m)
        gutter = np.bincount(
            dp_inv[(x >= CX - GUTTER_HALF) & (x < CX + GUTTER_HALF)], minlength=m
        )
        two_up_page = (gutter == 0) & (left >= TWOUP_MIN_SIDE) & (right >= TWOUP_MIN_SIDE)
        side = (two_up_page[dp_inv] & (x >= CX)).astype(np.int64)

        # Reading-order sort + per-doc 1-based rank. One composite int64
        # key (doc 20b | page 10b | side 1b | y 12b | x 11b = 54 bits)
        # sorts ~2x faster than a 5-key lexsort.
        # Bound guard: a future batch-size or page-geometry change must
        # fail loudly here, never silently mis-sort via bit overflow.
        # Explicit raises, not assert — workers launched with
        # PYTHONOPTIMIZE/-O compile asserts out, which would turn this
        # contract into exactly the silent mis-sort it forbids.
        if len(doc_idx):
            if doc_idx.max() >= (1 << 20):
                raise ValueError("batch exceeds 2^20 docs")
            if page.max() >= (1 << PAGE_BITS):
                raise ValueError("page index exceeds 2^10")
            if y.max() >= (1 << 12) or x.max() >= (1 << 11):
                raise ValueError(
                    "span coordinates exceed packed key geometry"
                )
        key = (
            (((doc_idx << PAGE_BITS | page) << 1 | side) << 12 | y) << 11 | x
        )
        srt = np.argsort(key, kind="stable")
        d_s = doc_idx[srt]
        starts = np.ones(len(srt), dtype=bool)
        starts[1:] = d_s[1:] != d_s[:-1]
        ar = np.arange(len(srt))
        group_start = np.maximum.accumulate(np.where(starts, ar, 0))
        order = (ar - group_start + 1).astype(np.int32)

        take_idx = pa.array(gi[srt])
        out_norm = pc.take(norm, take_idx)
        out_kind = pc.take(kind, take_idx)
        out_media = pc.take(struct.field("media_ref"), take_idx)
        text_mask = pa.array(is_text_k[srt])
        out_text = pc.if_else(text_mask, out_norm, pa.scalar(None, pa.string()))
        out_doc = pc.take(doc_ids, pa.array(d_s))

        arrays = [
            out_doc.combine_chunks() if hasattr(out_doc, "combine_chunks") else out_doc,
            out_kind,
            out_text,
            out_media,
            pa.array(order),
        ]
        if include_page:
            arrays.append(pa.array(page[srt].astype(np.int32)))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def metrics(out_df: DataFrame) -> DataFrame:
    """Per-doc extraction metrics (north_rule lineage columns):
    spans_emitted + blocks_classified from the output, cheap JVM-side agg."""
    from pyspark.sql import functions as F

    return out_df.groupBy("doc_id").agg(
        F.count("*").alias("spans_emitted"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text_blocks"),
        F.sum((F.col("kind") != "text").cast("long")).alias("media_blocks"),
    )
