"""On-demand build of ``NioLocalFileSystem.java``: a ``file://`` Hadoop
FileSystem that sets permissions without forking ``chmod``.

Spark ships Hadoop without libhadoop, so the stock ``RawLocalFileSystem``
runs ``chmod`` in a child process for every file, ``.crc`` sibling and
directory a local write creates: 221 forks per ``perfbench``
``batch_steady`` job. On a shared 4-vCPU host, 200 stock calls cost
0.88-0.96 CPU-s of JVM and child time and 200 ``java.nio`` calls 0.04.
The Java class sets the same bits through ``java.nio`` and defers to the
stock method wherever the two could differ (see its class comment).

The jar is built like ``jpegshim.c``: ``javac`` against
``$SPARK_HOME/jars/hadoop-client-api-*.jar``, then an atomic rename to
``_niofs_<source digest>.jar`` next to this file. A JVM puts its
classpath together at launch, so a new source gets a new jar name
instead of a rebuild over a path a running JVM may hold open.
``session.build_spark`` wires the jar in (``spark.driver.extraClassPath``
plus ``spark.hadoop.fs.file.impl``) only when it will load; a
``spark-submit`` launch or a cluster opts in as ``session.py`` says.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from py4j.protocol import Py4JError

_HERE = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_HERE, "NioLocalFileSystem.java")

CLASS = "ddops.fs.NioLocalFileSystem"

_built: str | None = None
_error: str | None = None


def _hadoop_api_jar() -> str:
    """The Hadoop client API jar of the Spark that pyspark launches."""
    homes = [os.environ.get("SPARK_HOME"), os.path.dirname(pyspark.__file__)]
    for home in filter(None, homes):
        found = sorted(glob.glob(os.path.join(home, "jars", "hadoop-client-api-*.jar")))
        if found:
            return found[-1]
    raise FileNotFoundError("no hadoop-client-api jar under SPARK_HOME or pyspark")


def _compile(target: str) -> None:
    """javac into a temp dir, zip the classes into a temp jar beside
    ``target`` and rename it there: concurrent builders each write a
    complete jar and the last rename wins."""
    tmp_dir = tempfile.mkdtemp(prefix="_niofs_build_")
    fd, tmp_jar = tempfile.mkstemp(
        suffix=".jar", prefix="_niofs_build_", dir=os.path.dirname(target)
    )
    os.close(fd)
    try:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-d", tmp_dir,
             "-cp", _hadoop_api_jar(), _SRC],
            check=True, capture_output=True, text=True,
        )
        with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _, files in os.walk(tmp_dir):
                for name in sorted(files):
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, tmp_dir))
        os.rename(tmp_jar, target)
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        if os.path.exists(tmp_jar):
            os.unlink(tmp_jar)


def jar() -> str | None:
    """Path of the built jar, compiling it on first use; None (and
    ``load_error()`` set) when it cannot be built. The outcome is kept
    for the process, so a missing toolchain costs one attempt."""
    global _built, _error
    if _built is None and _error is None:
        try:
            with open(_SRC, "rb") as f:
                digest = hashlib.sha1(f.read()).hexdigest()[:12]
            target = os.path.join(_HERE, f"_niofs_{digest}.jar")
            if not os.path.exists(target):
                _compile(target)
            _built = target
        except (OSError, subprocess.CalledProcessError) as e:
            _error = f"{type(e).__name__}: {getattr(e, 'stderr', None) or e}"
    return _built


def load_error() -> str | None:
    jar()
    return _error


def loads_in(jvm) -> bool:
    """True when the running JVM resolves ``CLASS`` the way Hadoop
    resolves ``fs.file.impl``: through a ``Configuration``'s loader."""
    try:
        conf = jvm.org.apache.hadoop.conf.Configuration(False)
        return conf.getClassByNameOrNull(CLASS) is not None
    except Py4JError:
        return False
