"""Test-side span-sequence helpers shared by the flagship-family tests:
the oracle's expected output for a documents table, and the per-doc
sequence form both sides are compared in."""

from __future__ import annotations

import pandas as pd

from dd_ops_ocr_spark import corpus, oracle


def expected_output_pandas(documents: pd.DataFrame) -> pd.DataFrame:
    """Oracle expected output for a documents batch, flat rows
    (doc_id, kind, text, media_ref, order)."""
    rows: list[tuple] = []
    for doc_key, text in zip(documents["doc_id"], documents["text"]):
        did = corpus.doc_id_str(int(doc_key))
        for s in oracle.extract_doc(corpus.doc_spans(int(doc_key), text or "")):
            rows.append((did, s["kind"], s["text"], s["media_ref"], s["order"]))
    return pd.DataFrame(
        rows, columns=["doc_id", "kind", "text", "media_ref", "order"]
    )


def span_tuples(df: pd.DataFrame) -> dict[str, list[tuple]]:
    """doc_id -> its (kind, text, media_ref, order) sequence, in order."""
    out: dict[str, list[tuple]] = {}
    srt = df.sort_values(["doc_id", "order"])
    for did, kind, text, ref, order in zip(
        srt["doc_id"], srt["kind"], srt["text"], srt["media_ref"], srt["order"]
    ):
        out.setdefault(did, []).append(
            (kind, None if pd.isna(text) else text,
             None if pd.isna(ref) else ref, int(order))
        )
    return out
