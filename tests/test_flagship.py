"""Span-sequence equality: Spark pipeline vs pure-Python oracle.

The graded invariant (BASELINE.json north_rule): per doc_id, the output
span sequence (kind, text, media_ref, order) must match the oracle exactly.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dd_ops_ocr_spark import corpus, pipeline
from tests.conftest import SF_SMOKE
from tests.spans import expected_output_pandas, span_tuples


def _read_documents(sf_dir: str) -> pd.DataFrame:
    import duckdb

    return duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet')"
    ).df()


def test_entry_fingerprint(spark):
    """Semantic-drift tripwire: the flagship output at sf0.001 is exactly
    79,673 spans over 500 docs. If this changes, the extraction semantics
    moved — update the oracle, tests, and this fingerprint together."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() == 79673
    assert df.schema.simpleString() == (
        "struct<doc_id:string,kind:string,text:string,"
        "media_ref:string,order:int>"
    )


def test_corpus_deterministic():
    a = corpus.doc_spans(42, "hello world " * 30)
    b = corpus.doc_spans(42, "hello world " * 30)
    assert a == b
    assert len(a) > 0
    offs = [s["offset"] for s in a]
    assert len(set(offs)) == len(offs), "offsets must be unique within a doc"


def test_corpus_has_required_shapes():
    docs = _read_documents(SF_SMOKE)
    kinds = set()
    tail_seen = False
    for doc_key, text in zip(docs["doc_id"], docs["text"]):
        spans = corpus.doc_spans(int(doc_key), text or "")
        kinds.update(s["kind"] for s in spans)
        if corpus.n_pages_for(int(doc_key)) == corpus.TAIL_PAGES:
            tail_seen = True
    assert kinds == {"text", "media"}
    assert tail_seen, "sf0.001 should contain at least one 100-page tail doc"


def test_spark_pipeline_matches_oracle_sf001(spark):
    """Span-sequence equality on the t2 tier (sf0.01: different doc texts
    than the smoke tier), Arrow path."""
    sf = "/root/testdata/sf0.01"
    docs = _read_documents(sf)
    out = pipeline.extract(corpus.build_spans_df(spark, sf))
    got = span_tuples(out.toPandas())
    want = span_tuples(expected_output_pandas(docs))
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert not mismatches, f"{len(mismatches)} docs mismatch"


@pytest.mark.parametrize("path", ["arrow", "sql"])
def test_spark_pipeline_matches_oracle(spark, path):
    """End-to-end span-sequence equality at sf0.001 (500 docs)."""
    docs = _read_documents(SF_SMOKE)
    spans_df = corpus.build_spans_df(spark, SF_SMOKE)
    if path == "arrow":
        out = pipeline.extract(spans_df)
    else:
        from dd_ops_ocr_spark.plans.sql_extract import extract_sql

        out = extract_sql(spans_df)
    got = span_tuples(out.toPandas())
    want = span_tuples(expected_output_pandas(docs))
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert not mismatches, f"{len(mismatches)} docs mismatch, e.g. {mismatches[:3]}"
