"""Salted (skew-proof) extraction must be span-for-span identical to the
nested path and the oracle — including across salt-bucket boundaries of
the 100-page tail docs."""

from __future__ import annotations

import duckdb
import pytest

from dd_ops_ocr_spark import corpus, pipeline
from dd_ops_ocr_spark.plans.salting import extract_salted
from tests.conftest import SF_SMOKE
from tests.spans import expected_output_pandas, span_tuples


def test_salted_matches_oracle(spark):
    docs = duckdb.sql(
        f"select doc_id, text from read_parquet('{SF_SMOKE}/documents.parquet')"
    ).df()
    spans_df = corpus.build_spans_df(spark, SF_SMOKE)
    got = span_tuples(extract_salted(spans_df, pages_per_bucket=7).toPandas())
    want = span_tuples(expected_output_pandas(docs))
    assert set(got) == set(want)
    mismatches = [d for d in want if got[d] != want[d]]
    assert not mismatches, f"{len(mismatches)} docs mismatch, e.g. {mismatches[:3]}"
    # the tail docs must actually cross bucket boundaries for this test to
    # mean anything: 100 pages / 7 pages-per-bucket = 15 buckets
    tail_docs = [
        corpus.doc_id_str(int(k)) for k in docs["doc_id"]
        if corpus.n_pages_for(int(k)) == corpus.TAIL_PAGES
    ]
    assert tail_docs and all(t in got for t in tail_docs)


def test_salted_bounds_task_size(spark):
    """Big-doc pass B groups may not exceed pages_per_bucket pages, and the
    tail docs must actually route through the salted path."""
    from pyspark.sql import functions as F

    from dd_ops_ocr_spark.schema import STRIDE

    ppb = 7
    spans_df = corpus.build_spans_df(spark, SF_SMOKE)
    routed = spans_df.withColumn(
        "_maxpage",
        F.expr(
            f"aggregate(spans, bigint(0), (acc, s) -> greatest(acc, s.offset div {STRIDE}))"
        ),
    )
    big = routed.filter(F.col("_maxpage") >= ppb)
    assert big.count() > 0, "tail docs must route to the salted path"
    flat = big.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.expr(f"s.offset div {STRIDE}").alias("page"),
        F.expr(f"s.offset div {STRIDE * ppb}").alias("salt"),
    )
    mx = (
        flat.groupBy("doc_id", "salt")
        .agg(F.countDistinct("page").alias("np"))
        .agg(F.max("np").alias("m"))
        .collect()[0]["m"]
    )
    assert mx <= ppb


def test_salted_pruned_matches_plain(spark, tmp_path):
    """The size_class-partitioned landing + pruned routing must be
    span-for-span identical to the plain nested path, and the landed
    layout must actually carry both partition classes."""
    import os

    from dd_ops_ocr_spark.plans.salting import extract_salted_pruned

    path = str(tmp_path / "spans_sc.parquet")
    corpus.materialize_spans(spark, SF_SMOKE, path, n_partitions=8)
    classes = {
        n.split("=")[1] for n in os.listdir(path) if n.startswith("size_class=")
    }
    assert classes == {"small", "big"}, classes
    got = span_tuples(extract_salted_pruned(spark, path).toPandas())
    want = span_tuples(pipeline.extract(corpus.build_spans_df(spark, SF_SMOKE)).toPandas())
    assert got == want


def test_salted_with_no_tail_docs(spark):
    """A corpus with no doc over the bucket threshold must take the plain
    path wholesale — identical output, empty tail branch."""
    spans_df = corpus.build_spans_df(spark, SF_SMOKE)
    small_only = spans_df.filter(
        "aggregate(spans, bigint(0), (acc, s) -> greatest(acc, s.offset div "
        f"{5242880})) < 90"
    )
    got = extract_salted(small_only, pages_per_bucket=95).toPandas()
    want = pipeline.extract(small_only).toPandas()
    g, w = span_tuples(got), span_tuples(want)
    assert g == w


def test_salted_pruned_refuses_split_landed_corpus(spark, tmp_path):
    """A corpus landed split by older code ((doc_id, part) continuation
    rows) carries size_class too. Reading each part as a whole document
    would restart boilerplate stats and ranks per part, silently wrong
    output, so the pruned reader refuses it and says how to re-land."""
    from dd_ops_ocr_spark.plans.salting import extract_salted_pruned

    path = str(tmp_path / "split_landed")
    spark.createDataFrame(
        [("d0", [("text", "a", None, 40)], "big", 0),
         ("d0", [("text", "b", None, 5242920)], "big", 1)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>, size_class string, part int",
    ).write.partitionBy("size_class").parquet(path)
    with pytest.raises(ValueError, match="corpus.materialize_spans"):
        extract_salted_pruned(spark, path)
