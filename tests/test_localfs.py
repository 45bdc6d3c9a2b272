"""The fork-free ``file://`` FileSystem (native/NioLocalFileSystem.java,
native/localfs.py) that ``build_spark`` sessions use: it leaves the same
permission bits as Hadoop's stock local FileSystem on every mode, forks
no ``chmod`` on a partitioned parquet write, and a session whose jar
cannot be built or loaded keeps the stock FileSystem and still works."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from dd_ops_ocr_spark import session
from dd_ops_ocr_spark.native import localfs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_jar = pytest.mark.skipif(
    localfs.jar() is None, reason=f"jar not built: {localfs.load_error()}")


def _fs_pair(spark):
    """(the session's raw local FS, a stock RawLocalFileSystem)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    ours = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    return ours, stock


def _set(spark, fs, path: str, mode: str) -> int:
    jvm = spark._jvm
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(path),
                     jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_jar
def test_session_local_fs_is_the_nio_class(spark):
    ours, _ = _fs_pair(spark)
    assert ours.getClass().getName() == localfs.CLASS + "$Raw"
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.hadoop.fs.file.impl") == localfs.CLASS
    assert localfs.jar() in conf.get("spark.driver.extraClassPath").split(os.pathsep)


@needs_jar
def test_set_permission_matches_stock_on_every_mode(spark, tmp_path):
    """Twin files and dirs, one set by each FileSystem: equal
    ``st_mode & 0o7777`` for every mode 0000-0777, for sticky modes, and
    for a directory under a setgid parent (which GNU chmod keeps)."""
    ours, stock = _fs_pair(spark)
    sides = {}
    for side in ("ours", "stock"):
        d = tmp_path / side
        d.mkdir()
        (d / "f").write_bytes(b"x")
        (d / "d").mkdir()
        sg = d / "sg"
        sg.mkdir()
        os.chmod(sg, 0o2775)
        (sg / "child").mkdir()
        sides[side] = d
    fs = {"ours": ours, "stock": stock}

    def both(rel: str, mode: str) -> tuple[int, int]:
        return tuple(_set(spark, fs[s], str(sides[s] / rel), mode)
                     for s in ("ours", "stock"))

    mismatches = []
    for m in range(0o1000):
        for rel in ("f", "d"):
            got = both(rel, f"{m:04o}")
            if got[0] != got[1]:
                mismatches.append((rel, oct(m), *map(oct, got)))
    for rel, mode in (("d", "1777"), ("d", "1755"), ("f", "1644")):
        got = both(rel, mode)
        if got[0] != got[1]:
            mismatches.append((rel, mode, *map(oct, got)))
    assert stat.S_IMODE(os.stat(sides["ours"] / "sg" / "child").st_mode) & stat.S_ISGID
    got = both("sg/child", "0755")
    if got[0] != got[1]:
        mismatches.append(("sg/child", "0755", *map(oct, got)))
    assert not mismatches


def test_local_fs_conf_merges_the_callers_classpath(monkeypatch):
    monkeypatch.setattr(localfs, "jar", lambda: "/x/_niofs_test.jar")
    monkeypatch.setattr(localfs, "loads_in", lambda jvm: True)
    conf = session.local_fs_conf({"spark.driver.extraClassPath": "/y/a.jar"})
    assert conf == {
        "spark.driver.extraClassPath": os.pathsep.join(["/x/_niofs_test.jar", "/y/a.jar"]),
        "spark.hadoop.fs.file.impl": localfs.CLASS,
    }


def test_failed_build_sets_no_key(monkeypatch, tmp_path):
    def fail(target):
        raise subprocess.CalledProcessError(1, ["javac"], stderr="no javac")

    monkeypatch.setattr(localfs, "_HERE", str(tmp_path))
    monkeypatch.setattr(localfs, "_compile", fail)
    monkeypatch.setattr(localfs, "_built", None)
    monkeypatch.setattr(localfs, "_error", None)
    assert localfs.jar() is None
    assert "no javac" in localfs.load_error()
    assert session.local_fs_conf({"spark.driver.extraClassPath": "/y/a.jar"}) == {}


@needs_jar
def test_running_jvm_that_cannot_load_the_class_gets_no_key(spark, monkeypatch):
    from pyspark import SparkContext

    assert SparkContext._jvm is not None and localfs.loads_in(SparkContext._jvm)
    monkeypatch.setattr(localfs, "CLASS", "ddops.fs.NotOnTheClasspath")
    assert not localfs.loads_in(SparkContext._jvm)
    assert session.local_fs_conf() == {}


# Run in a fresh process (a new JVM): build a session, write and read a
# partitioned parquet, report the FileSystem it used.
_CHILD = textwrap.dedent("""
    import json, os, sys
    from dd_ops_ocr_spark.native import localfs
    out = sys.argv[2]
    if sys.argv[1] == "fail_build":
        import subprocess
        def fail(target):
            raise subprocess.CalledProcessError(1, ["javac"])
        localfs._HERE = os.path.dirname(out)  # holds no built jar
        localfs._compile = fail
    from dd_ops_ocr_spark.session import build_spark
    spark = build_spark(app="localfs_child", cores=2, driver_memory="1g")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    raw = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRaw()
    df = spark.range(200).selectExpr("id", "id % 4 AS b")
    df.write.mode("overwrite").partitionBy("b").parquet(out)
    rows = spark.read.parquet(out).count()
    conf = spark.sparkContext.getConf()
    print(json.dumps({
        "raw": raw.getClass().getName(),
        "rows": rows,
        "fs_impl": conf.get("spark.hadoop.fs.file.impl", None),
        "classpath": conf.get("spark.driver.extraClassPath", None),
    }))
    spark.stop()
""")


def spark_submit() -> str:
    import pyspark

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    return os.path.join(home, "bin", "spark-submit")


def chmod_logged(tmp_path) -> tuple[dict, Path]:
    """(an environment whose PATH starts with a ``chmod`` that logs each
    call, the log file)."""
    real = shutil.which("chmod")
    bindir = tmp_path / "bin"
    bindir.mkdir()
    log = tmp_path / "chmod.log"
    wrapper = bindir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n')
    wrapper.chmod(0o755)
    env = dict(os.environ)
    env["PATH"] = f"{bindir}{os.pathsep}{env['PATH']}"
    return env, log


def _run_child(tmp_path, mode: str,
               submit: list[str] | None = None) -> tuple[dict, list[str]]:
    """Run _CHILD with a ``chmod`` first on PATH that logs each call:
    through ``python -c``, or, given ``submit`` (its extra arguments),
    through ``spark-submit --master local[2]``, which launches the JVM
    before _CHILD runs."""
    env, log = chmod_logged(tmp_path)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    cmd = [sys.executable, "-c", _CHILD]
    if submit is not None:
        env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        (tmp_path / "child.py").write_text(_CHILD)
        cmd = [spark_submit(), "--master", "local[2]", *submit,
               str(tmp_path / "child.py")]
    proc = subprocess.run(
        [*cmd, mode, str(tmp_path / "out")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    calls = log.read_text().splitlines() if log.exists() else []
    return report, calls


@needs_jar
def test_partitioned_write_forks_no_chmod(tmp_path):
    report, calls = _run_child(tmp_path, "default")
    assert report["raw"] == localfs.CLASS + "$Raw"
    assert report["rows"] == 200
    assert calls == []


def test_failed_build_keeps_stock_fs_and_round_trips(tmp_path):
    """With no jar the session is Hadoop's stock one: neither key set,
    the write round-trips, and (the wrapper's positive control) the
    stock FileSystem forks chmod for what it creates."""
    report, calls = _run_child(tmp_path, "fail_build")
    assert report["raw"] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert report["fs_impl"] is None
    assert "_niofs" not in (report["classpath"] or "")
    assert report["rows"] == 200
    assert calls


def test_spark_submit_without_the_jar_keeps_stock_fs(tmp_path):
    """Under spark-submit the JVM runs before ``build_spark``, and without
    the jar on its launch classpath it cannot load the class: the session
    must keep the stock FileSystem (it used to set ``fs.file.impl``
    anyway, and every write failed with ClassNotFoundException)."""
    report, calls = _run_child(tmp_path, "default", submit=[])
    assert report["raw"] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert report["fs_impl"] is None
    assert report["rows"] == 200
    assert calls


@needs_jar
def test_spark_submit_with_the_jar_forks_no_chmod(tmp_path):
    report, calls = _run_child(
        tmp_path, "default", submit=["--driver-class-path", localfs.jar()])
    assert report["raw"] == localfs.CLASS + "$Raw"
    assert report["rows"] == 200
    assert calls == []
