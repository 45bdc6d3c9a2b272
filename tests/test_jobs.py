"""The ``jobs/`` entry points no other test file runs, in-process against
the caller's session, and the deployment shape every job documents:
``spark-submit --master local[2] --py-files ddops.zip`` from a working
directory outside the checkout."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from dd_ops_ocr_spark import corpus, ledger, pipeline, sources
from dd_ops_ocr_spark.native import localfs
from dd_ops_ocr_spark.schema import SPANS_SCHEMA
from tests.conftest import SF_SMOKE
from tests.test_localfs import ROOT, chmod_logged, spark_submit


def _summary(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def test_stream_extract_job_drains_and_keeps_the_session(spark, tmp_path, capsys):
    from jobs.stream_extract_job import main

    land = str(tmp_path / "land")
    corpus.build_spans_df(spark, SF_SMOKE).limit(300).coalesce(2) \
        .write.parquet(land)
    landed = spark.read.parquet(land).count()
    key = "spark.sql.streaming.numRecentProgressUpdates"  # the job raises it
    caller_value = spark.conf.get(key)
    assert main(["--input", land, "--output", str(tmp_path / "out"),
                 "--checkpoint", str(tmp_path / "ckpt")]) == 0
    assert _summary(capsys.readouterr().out)["num_input_rows"] == landed > 0
    assert spark.range(3).count() == 3  # the caller's session still runs
    assert spark.conf.get(key) == caller_value  # and keeps its settings


def test_stream_extract_job_quarantines_a_poison_doc(spark, tmp_path, capsys):
    """A doc with a negative offset must not stall the drain: it lands in
    ``<output>/_quarantine`` and the valid doc extracts as in batch."""
    from jobs.stream_extract_job import main

    valid = corpus.build_spans_df(spark, SF_SMOKE).limit(1).cache()
    poison = spark.createDataFrame(
        [("poison", [("text", "x", None, -3)])], SPANS_SCHEMA)
    land, out = str(tmp_path / "land"), str(tmp_path / "out")
    valid.unionByName(poison).coalesce(1).write.parquet(land)
    args = ["--input", land, "--output", out,
            "--checkpoint", str(tmp_path / "ckpt")]

    assert main(args) == 0
    cols = ["doc_id", "kind", "text", "media_ref", "order"]
    got = spark.read.parquet(out).select(cols)
    want = pipeline.extract(valid).select(cols)
    assert got.exceptAll(want).count() == 0 == want.exceptAll(got).count()
    quarantined = spark.read.parquet(f"{out}/_quarantine").collect()
    assert [(r.doc_id, r.reason) for r in quarantined] == [
        ("poison", "bad_offset")]

    n_out = got.count()
    assert main(args) == 0  # the drained job reruns as a no-op
    assert _summary(capsys.readouterr().out)["num_input_rows"] == 0
    assert spark.read.parquet(out).count() == n_out
    assert spark.read.parquet(f"{out}/_quarantine").count() == 1


def test_throughput_probe_counts_the_extraction_and_keeps_the_session(
        spark, tmp_path, capsys):
    from jobs.throughput_probe import main

    src = str(tmp_path / "spans")
    corpus.build_spans_df(spark, SF_SMOKE).filter("doc_id < 'doc_000100'") \
        .write.parquet(src)
    assert main(["--input", src, "--repeats", "1"]) == 0
    summary = _summary(capsys.readouterr().out)
    spans = sources.read_spans(spark, src)
    assert summary["n_spans_out"] == pipeline.extract(spans).count() > 0
    assert summary["n_docs"] == spans.count()
    assert spark.range(3).count() == 3  # the caller's session still runs


@pytest.fixture(scope="module")
def deployment(tmp_path_factory):
    """(the package zipped as the jobs' Submit lines zip it, a working
    directory outside the checkout)."""
    base = tmp_path_factory.mktemp("deploy")
    archive = str(base / "ddops.zip")
    with zipfile.ZipFile(archive, "w") as z:
        for root, dirs, files in os.walk(os.path.join(ROOT, "dd_ops_ocr_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                path = os.path.join(root, name)
                z.write(path, os.path.relpath(path, ROOT))
    cwd = base / "cwd"
    cwd.mkdir()
    return archive, cwd


def _submit(deployment, env: dict, script: str, *args: str,
            submit: tuple[str, ...] = ()) -> dict:
    """The last stdout line of ``script`` under spark-submit, with the
    package importable only from the zip."""
    archive, cwd = deployment
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != ROOT)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit(), "--master", "local[2]", "--py-files", archive,
         *submit, script, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return _summary(proc.stdout)


@pytest.mark.skipif(localfs.jar() is None,
                    reason=f"jar not built: {localfs.load_error()}")
def test_extract_job_under_spark_submit_matches_in_process(
        spark, deployment, tmp_path, capsys):
    """With the jar on the launch classpath the submitted job writes
    through the fork-free FileSystem (``spark-submit`` caches a stock
    ``file://`` FileSystem while it resolves ``--py-files``), and it
    commits what the in-process run commits."""
    from jobs.extract_job import main

    src = str(tmp_path / "spans")
    invalid = spark.createDataFrame(
        [("bad_empty", []), ("bad_offset", [("text", "x", None, -1)])],
        SPANS_SCHEMA)
    corpus.build_spans_df(spark, SF_SMOKE).filter("doc_id < 'doc_000100'") \
        .unionByName(invalid).write.parquet(src)
    args = ["--input", src, "--run-id", "r1", "--buckets", "4"]

    here = str(tmp_path / "in_process")
    assert main([*args, "--output", here]) == 0
    expected = _summary(capsys.readouterr().out)
    env, log = chmod_logged(tmp_path)
    there = str(tmp_path / "submitted")
    got = _submit(deployment, env, os.path.join(ROOT, "jobs", "extract_job.py"),
                  *args, "--output", there,
                  submit=("--driver-class-path", localfs.jar()))
    # Spark forks one ``chmod a+x`` per copy of a shipped file; the
    # job's writes fork none
    calls = log.read_text().splitlines() if log.exists() else []
    assert all(c.startswith("a+x ") and c.endswith("/ddops.zip")
                         for c in calls)
    for summary in (expected, got):
        del summary["elapsed_sec"]
    assert got == expected
    assert got["quarantined_docs"] == 2 and got["buckets_processed"] == 4
    a, b = ledger.read_output(spark, here), ledger.read_output(spark, there)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


# What a job's session runs its Python tasks under, and which FileSystem
# it writes through, reported from a job-like build_spark() call.
_WORKER_CHILD = textwrap.dedent("""
    import json, os
    import dd_ops_ocr_spark
    from dd_ops_ocr_spark.session import build_spark

    def report(batches):
        import importlib, zipimport
        import pyarrow as pa
        import pyspark

        archive = pyspark.__file__.split(".zip", 1)[0] + ".zip"
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(archive)
        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "method_file": [method.__code__.co_filename],
                "archive": [archive],
                "kept": [before is not None and before is after],
            })

    spark = build_spark()
    out = os.path.abspath("out")
    spark.range(100).write.mode("overwrite").parquet(out)
    hconf = spark._jsc.hadoopConfiguration()
    raw = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRaw()
    rows = (spark.range(4, numPartitions=2)
            .mapInArrow(report, "method_file string, archive string, kept boolean")
            .collect())
    print(json.dumps({
        "package": dd_ops_ocr_spark.__file__,
        "master": spark.sparkContext.master,
        "raw": raw.getClass().getName(),
        "rows": spark.read.parquet(out).count(),
        "tasks": [r.asDict() for r in rows],
    }))
""")


def test_job_session_under_spark_submit_uses_the_library_daemon(
        deployment, tmp_path):
    """``--py-files`` alone reaches a worker after its daemon has started,
    yet every task runs in a worker forked from the zip's pyworker.py;
    without the jar the session writes through the stock FileSystem."""
    archive, _ = deployment
    script = tmp_path / "child.py"
    script.write_text(_WORKER_CHILD)
    report = _submit(deployment, dict(os.environ), str(script))
    assert report["package"].startswith(archive + os.sep)
    assert report["master"] == "local[2]"
    assert report["raw"] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert report["rows"] == 100
    assert len(report["tasks"]) == 2
    pyworker = os.path.join(archive, "dd_ops_ocr_spark", "pyworker.py")
    for task in report["tasks"]:
        assert task["method_file"] == pyworker
        assert task["archive"].endswith("pyspark.zip")
        assert task["kept"]
