"""The extraction spec's Arrow stages (``pipeline._flatten`` / ``_strip`` /
``_reading_order``) are its one implementation: the flagship kernel and
both salted kernels run on them, and their input domain is checked once,
before anything is scattered by offset.

Spark-free (kernel-level).
"""

from __future__ import annotations

import ast
import inspect

import pyarrow as pa
import pytest

from dd_ops_ocr_spark import pipeline
from dd_ops_ocr_spark.plans import salting
from dd_ops_ocr_spark.schema import PAGE_W, STRIDE

_SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


def _batch(docs: dict[str, list]) -> pa.RecordBatch:
    """doc_id -> [(text, offset) or None] text spans, as one nested batch."""
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": list(docs),
            "spans": [
                [
                    None if s is None
                    else {"kind": "text", "text": s[0], "media_ref": None,
                          "offset": s[1]}
                    for s in spans
                ]
                for spans in docs.values()
            ],
        },
        schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_T))]),
    )


# doc B: a three-page "HDR" header (y = 0 on every page) over body text,
# so the boilerplate strip must drop all three "HDR" spans
_DOC_B = [
    (text, page * STRIDE + y * PAGE_W + 100)
    for page in range(3)
    for text, y in (("HDR", 0), (f"body {page}", 1000))
]


def _run_arrow(batch):
    return pa.Table.from_batches(list(pipeline._run_arrow([batch])))


def _bucketize(batch):
    out = list(salting._bucketize_kernel(2)([batch]))
    return pa.Table.from_batches(list(salting._rank_kernel(out)))


_KERNELS = {"run_arrow": _run_arrow, "bucketize": _bucketize}


@pytest.mark.parametrize("kernel", list(_KERNELS))
def test_doc_b_alone_strips_its_header(kernel):
    # the control for the bad-offset cases below: on its own, B loses
    # its header, so a B that keeps "HDR" is another doc's doing
    out = _KERNELS[kernel](_batch({"B": _DOC_B}))
    assert sorted(out.column("text").to_pylist()) == ["body 0", "body 1", "body 2"]


@pytest.mark.parametrize("kernel", list(_KERNELS))
@pytest.mark.parametrize(
    "bad, msg",
    [(("a", -5), "negative"), (("a", None), "null"), (None, "null")],
    ids=["negative", "null", "null_span"],
)
def test_out_of_domain_offset_raises(kernel, bad, msg):
    """A negative offset in doc A used to scatter into doc B's (doc, page)
    slot, so B kept its header; a null one crashed with an IndexError,
    and a null span came out as a row with an empty kind. All now raise
    before anything is scattered."""
    batch = _batch({"A": [("a", 7), bad], "B": _DOC_B})
    with pytest.raises(ValueError, match=msg):
        _KERNELS[kernel](batch)


_SPEC_CONSTANTS = {
    "BOILERPLATE_FRAC",
    "HEADER_ZONE",
    "FOOTER_ZONE",
    "MIN_PAGES_BOILERPLATE",
    "CX",
    "GUTTER_HALF",
    "TWOUP_MIN_SIDE",
}


def test_salting_keeps_no_copy_of_the_spec():
    """``plans.salting`` owns routing, buckets and bases only: the
    normalize / strip / two-up / sort-key code lives in ``pipeline``'s
    stages, which its kernels call."""
    tree = ast.parse(inspect.getsource(salting))
    imported = {
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
    }
    assert not imported & _SPEC_CONSTANTS
    defined = {
        node.name for node in ast.walk(tree) if isinstance(node, ast.FunctionDef)
    }
    assert "_normalize_arrow" not in defined
    called = {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "pipeline"
    }
    assert {"_flatten", "_strip", "_reading_order"} <= called
