"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dd_ops_ocr_spark.native import localfs


def build_spark(
    app: str = "dd_ops_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Standard session: AQE on, Arrow on, shuffle partitions ~= cores.

    ``cores=None`` -> local[*]. In local mode the driver is the only JVM, so
    ``spark.driver.memory`` is the one memory knob that matters.

    Python workers fork from ``dd_ops_ocr_spark.pyworker``, the stock
    ``pyspark.daemon`` plus a ``zipimporter.invalidate_caches`` that does
    not re-read an unchanged ``pyspark.zip`` on every task. The package
    must therefore be importable where workers start: the driver's
    working directory (local mode) or the executors' ``PYTHONPATH``.

    ``file://`` paths go through ``native/NioLocalFileSystem.java``,
    which sets permissions with ``java.nio`` where the stock local
    FileSystem forks ``chmod`` for every file and directory it creates;
    see ``local_fs_conf`` for when it is left out.
    """
    if cores is None:
        cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # swept 128..20000 on the flagship kernel at sf0.1/local[32]:
        # 128-768 all ~3.3s, 2048 = 3.8s, 10000 = 5.3s. Small batches
        # pipeline the JVM Arrow producer with the Python kernel and keep
        # the kernel's working set cache-resident; 512 docs x ~160 spans
        # also keeps tail-doc batches (~4.4k spans/doc) bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # Python DataSource scans (operators/warcsource.py): without
        # this, a reader that implements pushFilters() raises at plan
        # time rather than degrading to a post-scan filter
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # stops every task re-reading pyspark.zip's directory 16 times
        # (0.16-0.27 CPU-s a task); see the docstring and pyworker.py
        .config("spark.python.daemon.module", "dd_ops_ocr_spark.pyworker")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**(extra or {}), **local_fs_conf(extra)}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_fs_conf(extra: dict[str, str] | None = None) -> dict[str, str]:
    """Session settings that make ``file://`` the fork-free
    ``native.localfs.CLASS``: its jar on ``spark.driver.extraClassPath``
    (ahead of any classpath ``extra`` sets) and ``spark.hadoop.fs.file.impl``.

    Empty, so the session keeps Hadoop's stock local FileSystem, when the
    jar cannot be built, or when a JVM is already running (a stopped
    session keeps its JVM) and cannot load the class: a classpath setting
    only reaches a JVM at launch, and an ``fs.file.impl`` it cannot load
    would fail every local read and write."""
    jar = localfs.jar()
    jvm = SparkContext._jvm
    if jar is None or (jvm is not None and not localfs.loads_in(jvm)):
        return {}
    cp = (extra or {}).get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": os.pathsep.join(filter(None, [jar, cp])),
        "spark.hadoop.fs.file.impl": localfs.CLASS,
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
