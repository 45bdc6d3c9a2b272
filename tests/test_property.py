"""Property-based span-equality: the vectorized kernel must match the
pure-Python oracle on randomized adversarial geometries (SURVEY §7 hard
part #1 — off-by-ones in zones, gutters, and thresholds).

Spark-free (kernel-level): the Spark wrappers are covered by the
end-to-end tests; this hammers the semantics where the bugs live.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from dd_ops_ocr_spark import oracle, pipeline
from dd_ops_ocr_spark.schema import CX, GUTTER_HALF, HEADER_ZONE, PAGE_H, PAGE_W, STRIDE

# adversarial coordinates: cluster around every decision boundary
_ys = st.one_of(
    st.integers(0, PAGE_H - 1),
    st.sampled_from(
        [0, HEADER_ZONE - 1, HEADER_ZONE, PAGE_H - 129, PAGE_H - 128, PAGE_H - 1]
    ),
)
_xs = st.one_of(
    st.integers(0, PAGE_W - 1),
    st.sampled_from(
        [0, CX - GUTTER_HALF - 1, CX - GUTTER_HALF, CX - 1, CX,
         CX + GUTTER_HALF - 1, CX + GUTTER_HALF, PAGE_W - 1]
    ),
)
_texts = st.one_of(
    st.sampled_from(
        ["", " ", "\n\n", "  \n \n ", "HEADER", "FOOTER", "a", "a\n\n\nb",
         " x \n\n", "\n\nx\n\n",
         # unicode whitespace: python strip / pandas / Arrow
         # utf8_trim_whitespace verified to agree on these (see commit)
         "　b　", "x\xa0", "\xa0", "\tx\t", "\rr\r", "é\n\n\né"]
    ),
    st.text(alphabet="ab \n\t\xa0", max_size=12),
)

_pages = st.one_of(
    st.integers(0, 5),
    st.sampled_from([0, 1, 99, 100, 407, 408]),  # 408 = max page index
                                                 # fitting int32 offsets
)

_span = st.tuples(
    _pages,
    _ys,
    _xs,
    st.booleans(),              # is_media
    _texts,
)


@st.composite
def _doc(draw):
    spans = draw(st.lists(_span, min_size=0, max_size=60))
    out = []
    used = set()
    for i, (page, y, x, is_media, text) in enumerate(spans):
        off = page * STRIDE + y * PAGE_W + x
        while off in used:
            off += 1
        used.add(off)
        if is_media:
            out.append(
                {"kind": "media", "text": None, "media_ref": f"m{i}", "offset": off}
            )
        else:
            out.append(
                {"kind": "text", "text": text, "media_ref": None, "offset": off}
            )
    return out


def _nested_batch(ids, spans_col):
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {"doc_id": ids, "spans": spans_col},
        schema=pa.schema(
            [
                ("doc_id", pa.string()),
                (
                    "spans",
                    pa.list_(
                        pa.struct(
                            [
                                ("kind", pa.string()),
                                ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32()),
                            ]
                        )
                    ),
                ),
            ]
        ),
    )


@settings(max_examples=300, deadline=None)
@given(st.lists(_doc(), min_size=1, max_size=4))
@example(
    # regression for a hypothesis-discovered failure at offset 2_149_316_608
    # (> int32 — outside the schema's input domain, so pinned here at the
    # max representable offset instead): page 409, the extreme of the
    # composite-sort-key bit budget, mixed with offset-0 empty spans
    docs=[[{"kind": "text", "text": "", "media_ref": None, "offset": 0},
           {"kind": "text", "text": "", "media_ref": None, "offset": 1},
           {"kind": "text", "text": "x", "media_ref": None,
            "offset": 2_147_483_647}]],
)
def test_arrow_kernel_equals_oracle(docs):
    """The flagship kernel (_run_arrow) matches the oracle span-for-span
    on adversarial geometries."""
    want = {}
    ids, spans_col = [], []
    for i, spans in enumerate(docs):
        did = f"d{i}"
        want[did] = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in oracle.extract_doc(spans)
        ]
        ids.append(did)
        spans_col.append(spans)
    batch = _nested_batch(ids, spans_col)
    got: dict[str, list] = {d: [] for d in want}
    for out in pipeline._run_arrow([batch]):
        pdf = out.to_pandas()
        for r in pdf.itertuples():
            got[r.doc_id].append(
                (
                    r.kind,
                    None if pd.isna(r.text) else r.text,
                    None if pd.isna(r.media_ref) else r.media_ref,
                    int(r.order),
                )
            )
    for did in want:
        assert got.get(did, []) == want[did], f"{did}"


@settings(max_examples=60, deadline=None)
@given(st.lists(_doc(), min_size=1, max_size=3))
@example(
    # hypothesis-discovered: a batch whose every span is dropped must
    # emit nothing (not crash on the empty group array)
    docs=[[{"kind": "text", "text": "", "media_ref": None, "offset": 0}]],
)
def test_salted_kernels_equal_oracle(docs):
    """The salted path's kernel pair (doc-global bucketize -> bucket-local
    rank) must reproduce the oracle span-for-span on adversarial
    geometries, including docs that straddle many tiny salt buckets
    (ppb=2 forces nearly every multi-page doc through multiple buckets)."""
    from dd_ops_ocr_spark.plans.salting import _bucketize_kernel, _rank_kernel

    ppb = 2
    want = {}
    ids, spans_col = [], []
    for i, spans in enumerate(docs):
        did = f"d{i}"
        want[did] = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in oracle.extract_doc(spans)
        ]
        ids.append(did)
        spans_col.append(spans)
    batch = _nested_batch(ids, spans_col)

    bucket_batches = list(_bucketize_kernel(ppb)([batch]))
    got: dict[str, list] = {d: [] for d in want}
    for out in _rank_kernel(bucket_batches):
        pdf = out.to_pandas()
        for r in pdf.itertuples():
            got[r.doc_id].append(
                (
                    r.kind,
                    None if pd.isna(r.text) else r.text,
                    None if pd.isna(r.media_ref) else r.media_ref,
                    int(r.order),
                )
            )
    for did in want:
        got[did].sort(key=lambda t: t[3])
        assert got.get(did, []) == want[did], f"{did}"
