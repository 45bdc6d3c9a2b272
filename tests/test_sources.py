from __future__ import annotations

from dd_ops_ocr_spark import corpus, sources
from dd_ops_ocr_spark.schema import SPANS_SCHEMA
from tests.conftest import SF_SMOKE


def test_split_valid_quarantines_corrupt_rows(spark):
    good = corpus.build_spans_df(spark, SF_SMOKE).limit(10)
    from pyspark.sql import types as T

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in SPANS_SCHEMA.fields]
    )
    bad = spark.createDataFrame(
        [
            ("doc_empty", []),
            (None, [{"kind": "text", "text": "x", "media_ref": None, "offset": 1}]),
            ("doc_neg", [{"kind": "text", "text": "x", "media_ref": None, "offset": -5}]),
        ],
        nullable,
    )
    valid, quarantine = sources.split_valid(good.unionByName(bad))
    assert valid.count() == 10
    assert quarantine.count() == 3


def test_invalid_reason_matches_referee_property(spark):
    """Property: for generated docs covering every validity class (and
    combinations — a null-offset span inside an otherwise-fine doc, a
    negative offset in the LAST span, null doc_id WITH bad spans),
    invalid_reason() agrees with a pure-Python referee, and split_valid
    routes each row to exactly one side consistent with it."""
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import types as T

    span = st.fixed_dictionaries({
        "kind": st.sampled_from(["text", "media"]),
        "text": st.one_of(st.none(), st.text(max_size=5)),
        "media_ref": st.none(),
        "offset": st.one_of(st.none(), st.integers(-3, 3)),
    })
    doc = st.fixed_dictionaries({
        "doc_id": st.one_of(st.none(), st.text(min_size=1, max_size=6)),
        "spans": st.one_of(st.none(), st.lists(span, max_size=4)),
    })

    def referee(d):
        if d["doc_id"] is None:
            return "null_doc_id"
        if d["spans"] is None:
            return "null_spans"
        if len(d["spans"]) == 0:
            return "empty_spans"
        if any(s["offset"] is None or s["offset"] < 0 for s in d["spans"]):
            return "bad_offset"
        return None

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("kind", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("media_ref", T.StringType(), True),
            T.StructField("offset", T.IntegerType(), True),
        ])), True),
    ])

    idx_schema = T.StructType(
        [T.StructField("idx", T.IntegerType(), False)] + list(schema.fields)
    )

    @settings(max_examples=25, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=6))
    def check(docs):
        rows = [dict(d, idx=i) for i, d in enumerate(docs)]
        df = spark.createDataFrame(rows, idx_schema)
        got = {
            r["idx"]: r["reason"]
            for r in df.withColumn(
                "reason", sources.invalid_reason()).collect()
        }
        want = {i: referee(d) for i, d in enumerate(docs)}
        assert got == want
        valid, quar = sources.split_valid(df)
        assert sorted(r["idx"] for r in quar.collect()) == sorted(
            i for i, v in want.items() if v is not None)
        assert sorted(r["idx"] for r in valid.collect()) == sorted(
            i for i, v in want.items() if v is None)

    check()


def test_model_artifact_fetch_mechanics(spark, tmp_path):
    """S13: ensure is idempotent, every task slot localizes and verifies
    the artifact, and a tampered local copy is a visible ok=false row
    (not a silently wrong model)."""
    import hashlib

    from dd_ops_ocr_spark import sources

    p1 = sources.ensure_model_artifact(str(tmp_path))
    p2 = sources.ensure_model_artifact(str(tmp_path))
    assert p1 == p2
    data = open(p1, "rb").read()
    assert data == sources.synth_model_artifact_bytes()

    rows = sources.fetch_model_artifact(spark, p1, n_slots=4).collect()
    assert len(rows) == 4
    assert sorted(r["slot"] for r in rows) == [0, 1, 2, 3]
    want = hashlib.sha256(data).hexdigest()
    assert all(r["ok"] and r["sha256"] == want and r["n_bytes"] == len(data)
               for r in rows)

    # tamper with the LOCALIZED copy (what an executor actually reads):
    # digest verification must flag every slot, proving the check runs
    # against the shipped bytes, not the driver's original
    from pyspark import SparkFiles
    import os

    local = SparkFiles.get(os.path.basename(p1))
    with open(local, "wb") as f:
        f.write(b"corrupted-weights")
    try:
        rows = sources.fetch_model_artifact(spark, p1, n_slots=4).collect()
        assert all(not r["ok"] for r in rows)
        assert all(r["n_bytes"] == len(b"corrupted-weights") for r in rows)
    finally:
        with open(local, "wb") as f:
            f.write(data)


def test_model_artifact_driver_cache_validated(tmp_path):
    """A stale/corrupt DRIVER-side cache file must be rewritten, not
    adopted as the expected digest."""
    import os

    from dd_ops_ocr_spark import sources

    p = sources.ensure_model_artifact(str(tmp_path))
    with open(p, "wb") as f:
        f.write(b"stale-v0-weights")
    p2 = sources.ensure_model_artifact(str(tmp_path))
    assert p2 == p
    assert open(p, "rb").read() == sources.synth_model_artifact_bytes()
    os.remove(p)
    p3 = sources.ensure_model_artifact(str(tmp_path))
    assert open(p3, "rb").read() == sources.synth_model_artifact_bytes()
