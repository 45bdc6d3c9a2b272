"""SparkSession factory with the engine's standard configuration, and
``job_session``, the session of every ``jobs/`` entry point.

On a ``local*`` master ``build_spark`` turns on two fast paths:

- Python workers fork from ``dd_ops_ocr_spark.pyworker``, and the
  package's import root (its checkout or ``--py-files`` zip) leads
  ``spark.executorEnv.PYTHONPATH``, so the daemon imports wherever the
  driver runs.
- ``file://`` paths go through ``native/NioLocalFileSystem.java`` when the
  JVM can load it (``local_fs_conf``). Under ``spark-submit`` the JVM is
  launched before this module runs, so that takes
  ``--driver-class-path <jar>``, the path that
  ``python -c "from dd_ops_ocr_spark.native import localfs; print(localfs.jar())"``
  prints.

On any other master it sets neither, because only the deployment knows
what its executors can load. A cluster opts in with
``--conf spark.python.daemon.module=dd_ops_ocr_spark.pyworker`` where the
package is installed on every executor or named in
``spark.executorEnv.PYTHONPATH`` (``--py-files`` reaches a worker per
task, after its daemon has started, and a daemon that cannot import its
module fails every Python task), and with ``--jars <jar>
--driver-class-path <jar> --conf spark.executor.extraClassPath=<jar>
--conf spark.hadoop.fs.file.impl=ddops.fs.NioLocalFileSystem`` (a JVM
that cannot load the class fails every ``file://`` read and write).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

import dd_ops_ocr_spark
from dd_ops_ocr_spark.native import localfs

# the directory or zip the package is imported from
_IMPORT_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(dd_ops_ocr_spark.__file__)))
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
_CLASSPATH = "spark.driver.extraClassPath"
_FS_IMPL = "spark.hadoop.fs.file.impl"


def build_spark(
    app: str = "dd_ops_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Standard session: AQE on, Arrow on, shuffle partitions ~= cores.

    ``cores`` makes the master ``local[cores]``. ``cores=None`` keeps the
    master and shuffle partitions of a JVM that already runs (a
    ``spark-submit`` launcher's, or an earlier session's in this
    process); with none running it means ``local[os.cpu_count()]``.
    What a JVM reads only at launch, ``spark.driver.memory`` and the
    classpath, is set only when this call launches it. In local mode the
    driver is the only JVM, so ``spark.driver.memory`` is the one memory
    knob that matters. See the module docstring for the fast paths.
    """
    jvm = _running_jvm()
    launcher = SparkConf()  # a running JVM's launch settings, else empty
    if cores is None and jvm is None:
        cores = os.cpu_count() or 8
    if cores is None:
        master = launcher.get("spark.master", "local[*]")
    else:
        master = f"local[{cores}]"
        shuffle_partitions = shuffle_partitions or max(8, cores)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # swept 128..20000 on the flagship kernel at sf0.1/local[32]:
        # 128-768 all ~3.3s, 2048 = 3.8s, 10000 = 5.3s. Small batches
        # pipeline the JVM Arrow producer with the Python kernel and keep
        # the kernel's working set cache-resident; 512 docs x ~160 spans
        # also keeps tail-doc batches (~4.4k spans/doc) bounded.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        # Python DataSource scans (operators/warcsource.py): without
        # this, a reader that implements pushFilters() raises at plan
        # time rather than degrading to a post-scan filter
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.ui.enabled": "false",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if jvm is None:
        conf["spark.driver.memory"] = driver_memory
    local = master.startswith("local")
    if local:
        # stops every task re-reading pyspark.zip's directory 16 times
        # (0.16-0.27 CPU-s a task); see pyworker.py
        conf["spark.python.daemon.module"] = "dd_ops_ocr_spark.pyworker"
    conf.update(extra or {})
    if local:
        conf[_WORKER_PATH] = _path_list(
            _IMPORT_ROOT, conf.get(_WORKER_PATH), launcher.get(_WORKER_PATH))
        if jvm is None:
            conf.update(local_fs_conf(extra))
        elif localfs.loads_in(jvm):  # a running JVM's classpath is fixed
            conf[_FS_IMPL] = localfs.CLASS
            _drop_stock_local_fs(jvm)
    b = SparkSession.builder.master(master).appName(app)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_session(
    app: str, extra: dict[str, str] | None = None
) -> Iterator[SparkSession]:
    """``build_spark(app, extra=extra)`` for a job's ``main``; on exit it
    stops the session only if this call created it, so a caller's session
    (a test's, or a host application's on another thread) outlives the
    job. A caller's session also gets back every modifiable setting the
    job changed on it, and loses the ones the job added: ``getOrCreate``
    applies ``build_spark``'s settings to a running session and never
    restores them. ``getActiveSession`` is thread-local, so the
    process-global ``_instantiatedSession`` is checked too."""
    prior = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    before = prior.conf.getAll if prior is not None else {}
    spark = build_spark(app, extra=extra)
    try:
        yield spark
    finally:
        if spark is not prior:
            spark.stop()
        else:
            for key, value in spark.conf.getAll.items():
                if before.get(key) == value or not spark.conf.isModifiable(key):
                    continue
                if key in before:
                    spark.conf.set(key, before[key])
                else:
                    spark.conf.unset(key)


def _running_jvm():
    """The JVM that a ``spark-submit`` launcher or an earlier session in
    this process started, else None. A launcher's JVM runs before the
    first ``SparkContext`` exists; connecting to its gateway here is what
    that context would do first."""
    if SparkContext._jvm is None and "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
    return SparkContext._jvm


def _drop_stock_local_fs(jvm) -> None:
    """Close the JVM's cached ``file://`` FileSystem unless it is
    ``localfs.CLASS``. Hadoop hands its cached instance to every later
    ``FileSystem.get``, whatever ``fs.file.impl`` then says, and
    ``spark-submit`` caches a stock one while it resolves ``--py-files``.
    Closing an instance also drops it from the cache."""
    hadoop = jvm.org.apache.hadoop
    fs = hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), hadoop.conf.Configuration(False))
    if fs.getClass().getName() != localfs.CLASS:
        fs.close()


def _path_list(*parts: str | None) -> str:
    """The ``os.pathsep`` lists in ``parts`` joined, each entry once, in
    first-seen order."""
    entries = (e for p in parts if p for e in p.split(os.pathsep) if e)
    return os.pathsep.join(dict.fromkeys(entries))


def local_fs_conf(extra: dict[str, str] | None = None) -> dict[str, str]:
    """Session settings that make ``file://`` the fork-free
    ``native.localfs.CLASS``: its jar on ``spark.driver.extraClassPath``
    (ahead of any classpath ``extra`` sets) and ``spark.hadoop.fs.file.impl``.

    Empty, so the session keeps Hadoop's stock local FileSystem, when the
    jar cannot be built, or when a JVM already runs (a ``spark-submit``
    launcher's, or a stopped session's) and cannot load the class: a
    classpath setting only reaches a JVM at launch, and an
    ``fs.file.impl`` it cannot load would fail every local read and write."""
    jar = localfs.jar()
    jvm = _running_jvm()
    if jar is None or (jvm is not None and not localfs.loads_in(jvm)):
        return {}
    return {
        _CLASSPATH: _path_list(jar, (extra or {}).get(_CLASSPATH)),
        _FS_IMPL: localfs.CLASS,
    }


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: str | StructType
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small in-process data,
    planned as a ``LocalTableScan``: the rows cross to the JVM once as an
    Arrow table and no Python worker starts.

    A list handed to ``createDataFrame`` plans as a ``Scan ExistingRDD``
    over a pickled ``PythonRDD`` instead, so every partition starts a
    Python worker just to unpickle the rows; an empty pandas frame skips
    the Arrow path and lands there too. An Arrow table takes the Arrow
    path whatever ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [[] for _ in schema.fields]
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
