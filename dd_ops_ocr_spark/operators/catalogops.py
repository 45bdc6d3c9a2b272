"""Catalog-surface queries: data-skipping scans, compaction, time travel.

The reference stores session state in GCS directories and re-lists them
per run (``src/api/main.py:1717-1847``, ``step0/06_directory_manager.py``);
at 100 TB the equivalent engine needs a table format that (a) plans
scans from metadata instead of file listings, (b) prunes data files by
column bounds before opening them, and (c) compacts the small files that
per-bucket/streaming commits accumulate. catalog.py implements those
three on plain parquet (no Iceberg jars in the sandbox); the queries
here put each behavior behind the driver's DuckDB oracle:

  * ``catalog_skip_scan`` — a date-range aggregate over a range-
    clustered catalog table read through ``read_table(where=...)``:
    footer-stats pruning must be semantically invisible (conservative
    superset + real filter on top), so the oracle is the plain SQL over
    the original parquet.
  * ``catalog_time_travel`` — the same rows read from the PRE-compaction
    snapshot id: compaction must never change a time-traveled result.

Both queries share one cached fixture table (two snapshots: 8-file
range-clustered overwrite, then a 2-file ``compact``), built once per
sf under .bench_cache with the same atomic tmp+rename protocol as
``registry._landed_cache``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

# the code that builds the cached fixture tables: a change to either
# names new tables, so no query reads a table the old code committed
_SOURCES = (
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "catalog.py"),
    __file__,
)

_LO, _HI = "1996-01-01", "1997-01-01"


def _fixture_path(kind: str, sf_dir: str) -> str:
    """``.bench_cache/catalog_<kind>_<sf>_<digest of _SOURCES>``."""
    from dd_ops_ocr_spark.fixture_cache import bench_cache_dir

    h = hashlib.sha1()
    for src in _SOURCES:
        with open(src, "rb") as f:
            h.update(f.read())
    name = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        bench_cache_dir(), f"catalog_{kind}_{name}_{h.hexdigest()[:12]}")


def _cached_table(kind: str, sf_dir: str, build) -> str:
    """``fixture_cache.cached_fixture`` at ``_fixture_path(kind, sf_dir)``.
    Then it removes the dirs that older code built for the same table
    under another digest: nothing reads them again."""
    from dd_ops_ocr_spark.fixture_cache import cached_fixture

    path = cached_fixture(_fixture_path(kind, sf_dir), build)
    stem = path[:path.rindex("_") + 1]
    for old in glob.glob(glob.escape(stem) + "*"):
        # a digest (or a pre-digest ``v1``); ``._building_`` dirs are
        # cached_fixture's, and another sf's name adds an ``_``
        if old != path and old[len(stem):].isalnum():
            shutil.rmtree(old, ignore_errors=True)
    return path


def _fixture_table(spark: SparkSession, sf_dir: str) -> str:
    """Build-once catalog table over orders: snapshot 1 = overwrite,
    8 files range-clustered by o_orderdate (tight footer bounds =
    prunable); snapshot 2 = compact to 2 files, still date-sorted.
    Build/publish protocol shared with registry._landed_cache
    (fixture_cache.cached_fixture)."""
    from dd_ops_ocr_spark import catalog

    def build(tmp: str) -> None:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        clustered = orders.repartitionByRange(
            8, "o_orderdate"
        ).sortWithinPartitions("o_orderdate")
        catalog.write_snapshot(clustered, tmp, operation="overwrite")
        catalog.compact(spark, tmp, num_files=2, sort_by=["o_orderdate"])

    return _cached_table("orders", sf_dir, build)


def _year_agg(df: DataFrame) -> DataFrame:
    """The shared aggregate: 1996 orders by priority. The real filter is
    applied HERE — file pruning only narrows what Spark opens."""
    return (
        df.filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit(_LO)))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit(_HI)))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
        )
    )


def q_catalog_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range aggregate through footer-stats file pruning: the
    ``where=`` conjuncts skip data files whose [min,max] o_orderdate
    cannot intersect 1996 (catalog.plan_scan), and the identical real
    filter runs on the survivors. Values must equal the plain full-scan
    SQL — pruning is an access-path optimization, never a semantic
    one."""
    from dd_ops_ocr_spark import catalog

    tbl = _fixture_table(spark, sf_dir)
    df = catalog.read_table(
        spark, tbl,
        where=[
            ("o_orderdate", ">=", f"{_LO}T00:00:00"),
            ("o_orderdate", "<", f"{_HI}T00:00:00"),
        ],
    )
    return _year_agg(df)


def q_catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregate against snapshot 1 — the PRE-compaction 8-file
    layout — read by explicit snapshot id. Compaction rewrote the
    current snapshot's files; time travel must still serve the original
    row set bit-for-bit."""
    from dd_ops_ocr_spark import catalog

    tbl = _fixture_table(spark, sf_dir)
    return _year_agg(catalog.read_table(spark, tbl, snapshot_id=1))


_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_LO} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{_HI} 00:00:00'
GROUP BY o_orderpriority
"""


def _delete_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once snapshot table over documents with a positional
    delete committed on top (catalog.delete_where): data files
    untouched, a delete snapshot masks doc_id % 7 = 3."""
    from dd_ops_ocr_spark import catalog

    def build(tmp: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        catalog.write_snapshot(
            docs.repartition(8, "doc_id"), tmp, operation="overwrite"
        )
        catalog.delete_where(spark, tmp, "doc_id % 7 = 3")

    return _cached_table("deldocs", sf_dir, build)


def q_catalog_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the merge-on-read delete mask: the current snapshot
    still lists the ORIGINAL data files (nothing rewritten); the
    positional delete files anti-join the masked rows out at scan
    time. The oracle is the plain complement filter — any drift in
    position computation, file attribution, or the anti-join flips
    the driver hash."""
    from dd_ops_ocr_spark import catalog

    tbl = _delete_fixture(spark, sf_dir)
    return catalog.read_table(spark, tbl).select(
        "doc_id", "lang", "n_chars"
    )


_DELETE_ORACLE = """
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id % 7 <> 3
"""


def _upsert_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once snapshot table over documents with one atomic upsert
    committed on top: docs with doc_id % 11 = 5 get n_chars doubled
    (same key, new value), plus three brand-new doc ids."""
    from dd_ops_ocr_spark import catalog

    def build(tmp: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        catalog.write_snapshot(
            docs.repartition(8, "doc_id"), tmp, operation="overwrite"
        )
        changes = docs.filter("doc_id % 11 = 5").withColumn(
            "n_chars", F.col("n_chars") * 2
        ).unionByName(spark.createDataFrame(
            [(1_000_000 + k, "xx", k) for k in range(3)],
            "doc_id long, lang string, n_chars long",
        ))
        catalog.upsert(spark, tmp, changes, keys=["doc_id"])

    return _cached_table("upsdocs", sf_dir, build)


def q_catalog_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through an atomic MERGE-by-key (equality delete + append in
    ONE snapshot): updated keys must show the new values — the
    upsert's own rows survive its equality delete via sequence
    scoping — old values must be gone, untouched keys intact, and the
    new keys present. The oracle is the closed-form merge over the
    source table."""
    from dd_ops_ocr_spark import catalog

    tbl = _upsert_fixture(spark, sf_dir)
    return catalog.read_table(spark, tbl).select(
        "doc_id", "lang", "n_chars"
    )


_UPSERT_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 11 = 5 THEN n_chars * 2 ELSE n_chars END
         AS n_chars
FROM documents
UNION ALL
SELECT 1000000 + k AS doc_id, 'xx' AS lang, k AS n_chars
FROM range(3) t(k)
"""


def _evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once evolved table: snapshot of (doc_id, n_chars), then an
    append whose rows carry an extra ``note`` column — the manifest
    schema unions, pre-evolution files read note as NULL."""
    from dd_ops_ocr_spark import catalog

    def build(tmp: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "n_chars"
        )
        catalog.write_snapshot(
            docs.repartition(4, "doc_id"), tmp, operation="overwrite"
        )
        evolved = spark.createDataFrame(
            [(2_000_000 + k, 10 * k, f"note-{k}") for k in range(4)],
            "doc_id long, n_chars long, note string",
        )
        catalog.write_snapshot(evolved, tmp, operation="append")

    return _cached_table("evodocs", sf_dir, build)


def q_catalog_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read across a schema evolution boundary: one scan, manifest
    schema, old files NULL-fill the added column. The oracle states
    the union closed-form with an explicit NULL for the old rows."""
    tbl = _evolution_fixture(spark, sf_dir)
    from dd_ops_ocr_spark import catalog

    return catalog.read_table(spark, tbl).select(
        "doc_id", "n_chars", "note"
    )


_EVOLUTION_ORACLE = """
SELECT doc_id, n_chars, NULL::VARCHAR AS note FROM documents
UNION ALL
SELECT 2000000 + k, (10 * k)::BIGINT, 'note-' || k::VARCHAR
FROM range(4) t(k)
"""

# ----------------------------------------------------------- CDC merge
#
# The lakehouse write primitive the read side above assumes: MERGE a
# keyed changelog (upserts + deletes, each stamped with a sequence
# number) into a base snapshot. Spark-first shape: union base rows at
# seq 0 with the changelog, ONE key shuffle, per-key max_by(seq) picks
# the winner, delete winners drop. No join at all — the union-tag-agg
# idiom (the asof_join lesson: a keyed reduction beats a join whenever
# "latest wins" is the semantics). Late/duplicate changelog entries
# are idempotent by construction: replaying a (key, seq) row changes
# nothing because max_by is.


def cdc_merge(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply (key, seq, op['u'|'d'], val) changes to base(key, val):
    highest seq per key wins; op='d' winners delete the key; base rows
    carry seq 0 (a change with seq >= 1 always beats base)."""
    tagged = base.select(
        "key", F.lit(0).cast("long").alias("seq"),
        F.lit("u").alias("op"), "val",
    ).unionByName(changes.select("key", "seq", "op", "val"))
    won = tagged.groupBy("key").agg(
        F.max_by(F.struct("op", "val"), "seq").alias("w")
    )
    return (
        won.filter(F.col("w.op") != "d")
        .select("key", F.col("w.val").alias("val"))
    )


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base = documents (key=doc_id, val=source); changelog planted:
    doc_id%5==0 -> update val to 'upd<doc_id>' at seq 1; doc_id%7==0
    -> delete at seq 2 (beats the update when both apply); plus one
    new key (max+1) inserted at seq 1."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("key"), F.col("source").alias("val")
    )
    upd = d.filter(F.col("key") % 5 == 0).select(
        "key", F.lit(1).cast("long").alias("seq"), F.lit("u").alias("op"),
        F.concat(F.lit("upd"), F.col("key").cast("string")).alias("val"),
    )
    dele = d.filter(F.col("key") % 7 == 0).select(
        "key", F.lit(2).cast("long").alias("seq"), F.lit("d").alias("op"),
        F.lit(None).cast("string").alias("val"),
    )
    mx = d.agg(F.max("key").alias("m"))
    ins = mx.select(
        (F.col("m") + 1).alias("key"), F.lit(1).cast("long").alias("seq"),
        F.lit("u").alias("op"), F.lit("inserted").alias("val"),
    )
    return cdc_merge(d, upd.unionByName(dele).unionByName(ins))


SQL_CDC_MERGE = """
WITH mx AS (SELECT MAX(doc_id) AS m FROM documents)
SELECT doc_id AS key,
       CASE WHEN doc_id % 5 = 0 THEN 'upd' || doc_id::VARCHAR
            ELSE source END AS val
FROM documents
WHERE doc_id % 7 <> 0
UNION ALL
SELECT m + 1, 'inserted' FROM mx
"""

# -------------------------------------------------------- bucketed join
#
# The third leg of the physical-layout family (skip_scan = 1-D range
# pruning, zorder = multi-dim pruning, THIS = co-located joins): tables
# written with bucketBy(k, key).sortBy(key) land pre-hash-partitioned
# and pre-sorted on the join key, so a SortMergeJoin between two tables
# bucketed the same way needs NO exchange on either side — the
# repeated-join fact/dim layout every warehouse ships. At 10^12 rows
# this converts every orders-x-customer join from two corpus shuffles
# into a zero-shuffle zip of co-numbered buckets (tests/test_bucketed.py
# asserts the exchange-free plan; a LOCAL per-bucket re-sort remains by
# default since SPARK-28632 — linear and wire-free, eliminable via the
# legacy bucketedTableScan.outputOrdering conf on one-file buckets).
#
# Bucket metadata lives in the session catalog, so the fixture tables
# are (re)built per session under a pid-unique /tmp database — tiny at
# test SF, deterministic content, no cross-session metastore needed.

_BUCKETS = 8
_BUCKETED_CLEANUP_ARMED = False


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import atexit as _atexit
    import os as _os
    import shutil as _shutil

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"bkt_{_os.getpid()}"
    loc = f"/tmp/ddops_bucketed_{_os.getpid()}"
    global _BUCKETED_CLEANUP_ARMED
    if not _BUCKETED_CLEANUP_ARMED:
        # process-scoped fixture: a stale dir from a crashed/reused pid
        # is swept NOW (it was never this process's catalog state), and
        # this process's warehouse is removed at exit — bucket metadata
        # lives only in the session catalog, so nothing outlives it.
        _shutil.rmtree(loc, ignore_errors=True)
        _atexit.register(_shutil.rmtree, loc, ignore_errors=True)
        _BUCKETED_CLEANUP_ARMED = True
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    ot, ct = f"{db}.orders_{tag}", f"{db}.customer_{tag}"
    # repartition on the bucket key first: ONE file per bucket, which is
    # the condition under which Spark trusts sortBy and drops the local
    # Sort below the join too (multi-file buckets keep bucket pruning +
    # exchange elimination but must re-sort)
    if not spark.catalog.tableExists(ot):
        (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .repartition(_BUCKETS, "o_custkey")
            .write.bucketBy(_BUCKETS, "o_custkey").sortBy("o_custkey")
            .mode("overwrite").saveAsTable(ot)
        )
    if not spark.catalog.tableExists(ct):
        (
            spark.read.parquet(f"{sf_dir}/customer.parquet")
            .repartition(_BUCKETS, "c_custkey")
            .write.bucketBy(_BUCKETS, "c_custkey").sortBy("c_custkey")
            .mode("overwrite").saveAsTable(ct)
        )
    return ot, ct


def bucketed_enrich(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Per-segment order stats through the fact-x-dim join: (segment,
    n_orders, sum_cents). Cents keep the sum integer-exact."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.join(customer,
                    orders.o_custkey == customer.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), cents.alias("v"))
        .groupBy("segment")
        .agg(F.count("*").cast("long").alias("n_orders"),
             F.sum("v").alias("sum_cents"))
    )


def q_bucketed_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, ct = _bucketed_pair(spark, sf_dir)
    return bucketed_enrich(spark.table(ot), spark.table(ct))


SQL_BUCKETED_ENRICH = """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ------------------------------------------------------------ Z-order
#
# catalog_skip_scan proves 1-D range clustering prunes on ITS column;
# the multi-dimensional story needs a space-filling curve: lay rows
# out by the Morton (Z-order) interleave of two dimensions and the
# parquet footer min/max of EVERY file stays tight on BOTH — a filter
# on either dimension alone skips ~(1 - 1/sqrt(n_files)) of the files,
# where linear clustering skips on one and nothing on the other (the
# Delta/Iceberg OPTIMIZE ZORDER BY mechanic, restated on plain
# parquet). The key is pure int64 column math (magic-number bit
# spread, 4 shift-mask rounds per dimension), so it doubles as a
# repartitionByRange/sortWithinPartitions write key and is
# oracle-checkable to the bit.

_Z_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(col):
    """Interleave zeros between the bits of a 16-bit value (classic
    magic-number spread): b15..b0 -> 0b0 b15 0 b14 ... 0 b0."""
    v = col
    for sh, mask in _Z_MASKS:
        v = F.shiftleft(v, sh).bitwiseOR(v).bitwiseAND(F.lit(mask))
    return v


def zorder_key16(x, y):
    """32-bit Morton key of two 16-bit-normalized columns: y's bits
    land on the odd positions (y major at the top bit)."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def _norm16(col, lo, hi):
    """Scale col in [lo, hi] to [0, 65535], integer-floor-exact: a raw
    float divide could round up to the next integer where DuckDB's //
    floors, so divide only after subtracting the remainder — the
    quotient is then an exact integer well under 2^53 and IEEE division
    returns it exactly. Equal bounds collapse to 0."""
    span = hi - lo
    num = (col - lo) * F.lit(65535)
    return F.when(span == F.lit(0), F.lit(0)).otherwise(
        ((num - F.pmod(num, span)) / span).cast("long")
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys for orders over (o_custkey, o_orderdate-as-epoch-day),
    both min/max-normalized to 16 bits from a 1-row extent aggregate
    (broadcast, output-sized). At 10^12 rows this column IS the cluster
    key of the write: repartitionByRange(zkey) + sortWithinPartitions —
    the proof that files then prune on BOTH dimensions is in
    tests/test_zorder.py against real parquet footers."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("oday"),
    )
    ext = o.agg(
        F.min("o_custkey").alias("clo"), F.max("o_custkey").alias("chi"),
        F.min("oday").alias("dlo"), F.max("oday").alias("dhi"),
    )
    j = o.crossJoin(F.broadcast(ext))
    zkey = zorder_key16(
        _norm16(F.col("o_custkey"), F.col("clo"), F.col("chi")),
        _norm16(F.col("oday"), F.col("dlo"), F.col("dhi")),
    )
    return j.select("o_orderkey", zkey.cast("long").alias("zkey"))


def _sql_spread(expr: str) -> str:
    for sh, mask in _Z_MASKS:
        expr = f"((({expr}) << {sh} | ({expr})) & {mask})"
    return expr


_SQL_NORM = {
    "x": "CASE WHEN chi = clo THEN 0 ELSE "
         "CAST((o_custkey - clo) * 65535 AS BIGINT) // (chi - clo) END",
    "y": "CASE WHEN dhi = dlo THEN 0 ELSE "
         "CAST((oday - dlo) * 65535 AS BIGINT) // (dhi - dlo) END",
}

SQL_ZORDER_KEY = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         datediff('day', DATE '1992-01-01', o_orderdate) AS oday
  FROM orders
),
ext AS (
  SELECT MIN(o_custkey) AS clo, MAX(o_custkey) AS chi,
         MIN(oday) AS dlo, MAX(oday) AS dhi
  FROM o
),
n AS (
  SELECT o_orderkey, {_SQL_NORM['x']} AS nx, {_SQL_NORM['y']} AS ny
  FROM o, ext
)
SELECT o_orderkey,
       CAST({_sql_spread('nx')} | ({_sql_spread('ny')} << 1) AS BIGINT)
         AS zkey
FROM n
"""


# -------------------------------------------------------- SCD Type 2
#
# The read-side complement of cdc_merge: instead of keeping only the
# latest value per key, keep EVERY value with its validity interval —
# the slowly-changing-dimension history every warehouse dimension
# carries (reference analogue: the roster-upgrade history that
# incremental.py preserves per doc_id; here generalized to arbitrary
# keyed attribute streams). Spark-first shape: ONE hash exchange on
# key, then two window passes over the SAME (key, seq) sort — lag()
# collapses consecutive duplicate values (a version opens only when
# the attribute actually changes), lead() closes each version with the
# next open's seq. Catalyst plans a single Exchange + one Sort; the
# filter between the windows preserves both, so the second window adds
# no wire cost. At 10^12 change events this is the minimal-shuffle
# plan: no self-join, no collect, partial history per key never leaves
# its partition.


def scd2_history(changes: DataFrame) -> DataFrame:
    """Collapse a keyed change stream (key, seq, val) into SCD-2
    versions: one row per value RUN with [valid_from, valid_to) seq
    bounds (valid_to null = current). Consecutive equal values do not
    open new versions; vals are assumed non-null (planted fixtures)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy("seq")
    opens = (
        changes.withColumn("prev", F.lag("val").over(w))
        .filter(F.col("prev").isNull() | (F.col("val") != F.col("prev")))
        .drop("prev")
    )
    return opens.select(
        "key",
        "val",
        F.col("seq").alias("valid_from"),
        F.lead("seq").over(w).alias("valid_to"),
        F.lead("seq").over(w).isNull().alias("is_current"),
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as a per-customer status change stream: key=o_custkey,
    seq=o_orderkey (arrival order), val=o_orderstatus."""
    ch = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderstatus").alias("val"),
    )
    return scd2_history(ch)


SQL_SCD2_HISTORY = """
WITH ch AS (
    SELECT o_custkey AS key, o_orderkey AS seq, o_orderstatus AS val,
           LAG(o_orderstatus) OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
    FROM orders
), opens AS (
    SELECT key, seq, val FROM ch WHERE prev IS NULL OR val <> prev
)
SELECT key, val, seq AS valid_from,
       LEAD(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to,
       LEAD(seq) OVER (PARTITION BY key ORDER BY seq) IS NULL AS is_current
FROM opens
"""


QUERIES = {
    "catalog_skip_scan": q_catalog_skip_scan,
    "catalog_time_travel": q_catalog_time_travel,
    "cdc_merge": q_cdc_merge,
    "scd2_history": q_scd2_history,
    "zorder_key": q_zorder_key,
    "bucketed_enrich": q_bucketed_enrich,
    "catalog_delete_read": q_catalog_delete_read,
    "catalog_upsert_read": q_catalog_upsert_read,
    "catalog_evolution_read": q_catalog_evolution_read,
}
ORACLE_SQL = {
    "catalog_skip_scan": _ORACLE,
    "catalog_time_travel": _ORACLE,
    "cdc_merge": SQL_CDC_MERGE,
    "scd2_history": SQL_SCD2_HISTORY,
    "zorder_key": SQL_ZORDER_KEY,
    "bucketed_enrich": SQL_BUCKETED_ENRICH,
    "catalog_delete_read": _DELETE_ORACLE,
    "catalog_upsert_read": _UPSERT_ORACLE,
    "catalog_evolution_read": _EVOLUTION_ORACLE,
}
