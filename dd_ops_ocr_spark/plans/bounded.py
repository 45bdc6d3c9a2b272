"""Bounded-task flagship extraction over PRE-EXPLODED spans.

The nested-input paths (Arrow kernel, salted, SQL-window) all contain at
least one task whose cost is O(largest doc): the kernel and the salted
routing pre-pass read the whole (doc_id, spans) row — parquet rows are
the scan granularity — and the SQL path's windows hash-partition on
doc_id. For a corpus whose unit of storage is the SPAN (the exploded
layout a 100 TB deployment would land, where a single doc can exceed an
executor's memory), this plan re-expresses the same spec (reference:
src/modules/step4 ordering + step5 region semantics, the same spec as
plans/sql_extract.py) so that EVERY task is bounded by PAGE granularity:

  * doc-global statistics (distinct pages per doc, boilerplate
    distinct-page counts per header/footer key) become two-phase
    aggregations — map-side partial combine bounds reduce input to one
    row per (doc, page[, key]);
  * the boilerplate decision joins back as a LEFT ANTI on
    (doc_id, zone, key-hash) over only the header/footer candidate rows
    (null-key rows bypass the join entirely — shuffling them would
    re-concentrate a mega-doc on one task via the constant key);
  * the reading-order rank decomposes into per-page cumulative bases
    (a window over the tiny per-page count table) plus a row_number
    within (doc, page, side) — co-partitioned with the base join, no
    extra exchange, partitions bounded by one page's spans.

ONE full-data shuffle total: the corpus is hash-partitioned by
(doc_id, page) once, and the candidate anti-join (equi-keyed on that
pair, the zone/key-hash equalities as a residual predicate), the
per-page stats join, and the reading-order window all execute on that
partitioning. tests/test_task_skew.py measures per-task runtimes via
the status store and asserts max <= 4x median on this path with a
planted 100x doc (SURVEY §5 test 5), where the nested paths exceed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from dd_ops_ocr_spark.schema import (
    BOILERPLATE_FRAC,
    CX,
    FOOTER_ZONE,
    GUTTER_HALF,
    HEADER_ZONE,
    MIN_PAGES_BOILERPLATE,
    PAGE_H,
    PAGE_W,
    STRIDE,
    TWOUP_MIN_SIDE,
    norm_text_expr,
)


# Bounded page-stats cache: pg is persisted (it feeds four downstream
# branches) but a lazy builder can't know when its caller's final action
# ran, so naive per-invocation persist() pins one cached copy per call
# in the bench/correctness drivers. Instead: REUSE the persisted pg when
# the same input plan comes back (sameSemantics — exact, not a hash),
# keep at most two distinct entries (a driver may build bounded plans
# over two flat inputs before running either, e.g. the registry query
# over the synthesized corpus and bench.py's landed flat parquet), and
# evict FIFO beyond that. Lock-guarded: plan building may
# happen from concurrent driver threads.
_PG_CACHE: list[tuple[DataFrame, DataFrame]] = []  # [(flat, pg)]
_PG_CACHE_MAX = 2
_PG_LOCK = __import__("threading").Lock()


def _session_live(df: DataFrame) -> bool:
    try:
        return not df.sparkSession._jsparkSession.sparkContext().isStopped()
    except Exception:  # noqa: BLE001 — any JVM-side failure = not usable
        return False


def _cached_pg(flat: DataFrame, build) -> DataFrame:
    with _PG_LOCK:
        for cached_flat, cached_pg in list(_PG_CACHE):
            # a hit must come from THIS session: sameSemantics compares
            # logical plans only, so an entry persisted under a stopped
            # (or different) session would splice dead RDD state into a
            # live plan. Evict dead-session entries as they're seen.
            if cached_flat.sparkSession is not flat.sparkSession or (
                not _session_live(cached_flat)
            ):
                _PG_CACHE.remove((cached_flat, cached_pg))
                continue
            try:
                if flat.sameSemantics(cached_flat):
                    return cached_pg
            except Exception:  # noqa: BLE001 — comparison itself failed
                continue
        pg = build().persist()
        _PG_CACHE.append((flat, pg))
        while len(_PG_CACHE) > _PG_CACHE_MAX:
            _, old = _PG_CACHE.pop(0)
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — its session may be stopped
                pass
        return pg


def clear_pg_cache() -> None:
    """Unpersist and drop every cached page-stats table. Benchmarks call
    this between timed repeats so each run pays the full aggregation —
    keeping the recorded cost comparable with rounds measured before the
    cache existed (a warm pg would silently skip the plan's widest
    stage)."""
    with _PG_LOCK:
        while _PG_CACHE:
            _, old = _PG_CACHE.pop()
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — its session may be stopped
                pass


def extract_exploded_bounded(flat: DataFrame) -> DataFrame:
    """Flat (doc_id, kind, text, media_ref, offset) -> ranked spans.

    Output is identical to pipeline.extract / extract_sql on the same
    corpus; no task's input exceeds page granularity (plus constant-size
    aggregate rows), regardless of document size distribution.
    """
    # C14 normalize via schema.norm_text_expr (equivalent to the regex
    # pair, ~2.5x cheaper — this plan pays the pass twice: pg build +
    # the kept scan; tests/test_textnorm.py pins the equivalence)
    norm = norm_text_expr("text")
    zone = (
        F.when(F.col("y") < HEADER_ZONE, 1)
        .when(F.col("y") >= PAGE_H - FOOTER_ZONE, 2)
        .otherwise(0)
    )
    flat = (
        flat.withColumn(
            "norm", F.when(F.col("kind") == "text", norm).otherwise(F.lit(None))
        )
        .filter((F.col("kind") != "text") | (F.col("norm") != ""))
        .withColumn("page", F.expr(f"offset div {STRIDE}"))
        .withColumn("y", F.expr(f"(offset % {STRIDE}) div {PAGE_W}"))
        .withColumn("x", F.expr(f"offset % {PAGE_W}"))
    )
    flat = flat.withColumn(
        "zone", F.when(F.col("kind") == "text", zone).otherwise(F.lit(0))
    ).withColumn(
        "th",
        F.when(F.col("zone") > 0, F.xxhash64("norm")).otherwise(F.lit(None)),
    )

    # ---- ONE compact page-statistics table feeds every doc-global need.
    #
    # pg has one row per (doc, page, zone, content-hash) carrying span
    # and x-bucket counts — O(pages x keys) rows, bounded per task by
    # the two-phase partial combine. It is persisted so its four
    # consumers below (page counts, key counts, per-page totals,
    # boilerplate removals) share ONE materialization instead of four
    # re-scans of the corpus: without it Catalyst prunes each
    # consumer's copy differently, exchange reuse never fires, and the
    # measured cost was five full scan+normalize passes (35 s at sf0.1
    # vs 22 s with this shape). Caching is scale-honest here — the
    # artifact is page-granular statistics, not data: ~10^-2 of corpus
    # rows, a few ints each. persist (not localCheckpoint) keeps the
    # lineage, so a lost executor recomputes its partitions instead of
    # failing the job — same measured cost (27.7 vs 28.0 s best-of-3).
    pg = _cached_pg(
        flat,
        lambda: flat.groupBy("doc_id", "page", "zone", "th").agg(
            F.count("*").alias("cnt"),
            F.sum((F.col("x") < CX - GUTTER_HALF).cast("int")).alias("c_left"),
            F.sum(
                (
                    (F.col("x") >= CX - GUTTER_HALF)
                    & (F.col("x") < CX + GUTTER_HALF)
                ).cast("int")
            ).alias("c_gut"),
            F.sum((F.col("x") >= CX + GUTTER_HALF).cast("int")).alias("c_right"),
            F.sum((F.col("x") >= CX).cast("int")).alias("c_half"),
        ),
    )

    np_df = (
        pg.select("doc_id", "page")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("np"))
    )
    keys = (
        pg.filter(F.col("th").isNotNull())
        .groupBy("doc_id", "zone", "th")
        .agg(F.count("*").alias("zp"))  # pg rows are page-distinct per key
    )
    boiler_keys = (
        keys.join(np_df, "doc_id")
        .filter(
            (F.col("np") >= MIN_PAGES_BOILERPLATE)
            & (F.col("zp") >= F.ceil(F.lit(BOILERPLATE_FRAC) * F.col("np")))
        )
        .select("doc_id", "zone", "th")
    )

    # per-page stats of the KEPT rows by SUBTRACTION: totals (all rows)
    # minus the boilerplate keys' contributions — both from the compact
    # pg table, so building pp touches no corpus rows at all. This is
    # what lets the full-width corpus scan below be consumed exactly
    # once (the old kept.groupBy shape made Spark recompute the whole
    # anti-join subtree twice: once for pp, once for the final join).
    stat_cols = ["cnt", "c_left", "c_gut", "c_right", "c_half"]
    tot = pg.groupBy("doc_id", "page").agg(
        *[F.sum(c).alias(f"t_{c}") for c in stat_cols]
    )
    # boiler keys expanded to the pages they occur on: pg holds a row
    # for (doc, page, zone, th) iff some span on that page carries that
    # hash, so membership in bp is EXACTLY membership in boiler_keys
    # for any corpus row — which lets the anti-join below carry `page`
    # in its key and co-partition with the per-page stats join.
    bp = pg.join(boiler_keys, ["doc_id", "zone", "th"])
    removed = bp.groupBy("doc_id", "page").agg(
        *[F.sum(c).alias(f"r_{c}") for c in stat_cols]
    )
    boiler_pages = bp.select("doc_id", "page", "zone", "th")
    pp = tot.join(removed, ["doc_id", "page"], "left").select(
        "doc_id",
        "page",
        *[
            (F.col(f"t_{c}") - F.coalesce(F.col(f"r_{c}"), F.lit(0))).alias(n)
            for c, n in zip(
                stat_cols, ["ntot", "nleft", "ngutter", "nright_g", "nhalf"]
            )
        ],
    )
    two_up = (
        (F.col("ngutter") == 0)
        & (F.col("nleft") >= TWOUP_MIN_SIDE)
        & (F.col("nright_g") >= TWOUP_MIN_SIDE)
    )

    # ONE anti-join over all corpus rows — the single full-width scan,
    # and the plan's ONLY full-width exchange. The corpus is hash-
    # partitioned by (doc_id, page) ONCE; that partitioning is a subset
    # of the anti-join's keys (doc_id, page, zone, jk) — bp carries the
    # page each boilerplate key occurs on, see above — so the anti-join
    # runs without its own exchange, its output keeps the (doc_id,
    # page) partitioning, and the per-page stats join AND the final
    # reading-order window both reuse it. (The previous shape shuffled
    # the full-width corpus twice: once by (doc_id, zone, jk) for the
    # anti-join and again by (doc_id, page) for the stats join.)
    # The join key is never null: candidate rows keep their content
    # hash, every other row gets a per-row unique hash — it can never
    # match bp (whose zone is 1|2 and whose hash is a candidate content
    # hash), and, critically, it DISTRIBUTES: hashing a mega-doc's
    # non-candidate rows on a constant null key would re-concentrate
    # the doc into one task, the exact skew this plan bans. Task bound
    # stays page granularity: (doc_id, page) has ~n_pages distinct
    # values spread over the shuffle partitions.
    # The anti-join is EQUI-KEYED on (doc_id, page) only; the (zone,
    # key-hash) equalities ride along as a residual predicate (written
    # as `l - r = 0` so ExtractEquiJoinKeys cannot lift them back into
    # the join key — with spark.sql.requireAllClusterKeysForCoPartition
    # at its default, a 4-key join would force a second full-width
    # hash partitioning on all 4 keys). bp rows per page are a handful,
    # so the residual check per (doc, page) group is O(1) per row.
    cols = ["doc_id", "kind", "norm", "media_ref", "page", "y", "x"]
    bpj = boiler_pages.select(
        F.col("doc_id").alias("b_doc"),
        F.col("page").alias("b_page"),
        F.col("zone").alias("b_zone"),
        F.col("th").alias("b_jk"),
    )
    left = flat.withColumn(
        "jk", F.coalesce(F.col("th"), F.xxhash64("doc_id", "page", "x", "y"))
    )
    kept = (
        left.join(
            bpj,
            (F.col("doc_id") == F.col("b_doc"))
            & (F.col("page") == F.col("b_page"))
            & ((F.col("zone") - F.col("b_zone")) == 0)
            & ((F.col("jk") - F.col("b_jk")) == 0),
            "left_anti",
        )
        .select(*cols)
    )
    pp = (
        pp.withColumn("two_up", two_up)
        .withColumn(
            "n1", F.when(F.col("two_up"), F.col("nhalf")).otherwise(F.lit(0))
        )
        .withColumn("n0", F.col("ntot") - F.col("n1"))
    )
    w_pages = (
        W.partitionBy("doc_id")
        .orderBy("page")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pp = pp.withColumn(
        "base0",
        F.coalesce(F.sum(F.col("n0") + F.col("n1")).over(w_pages), F.lit(0)),
    ).withColumn("base1", F.col("base0") + F.col("n0"))

    # the one per-page join; its (doc_id, page) hash partitioning also
    # satisfies the (doc_id, page, side) window below — no extra exchange
    joined = kept.join(
        pp.select("doc_id", "page", "two_up", "base0", "base1"),
        ["doc_id", "page"],
    )
    side = F.when(
        F.col("two_up") & (F.col("x") >= CX), F.lit(1)
    ).otherwise(F.lit(0))
    joined = joined.withColumn("side", side)
    w_rank = W.partitionBy("doc_id", "page", "side").orderBy("y", "x")
    base = F.when(F.col("side") == 1, F.col("base1")).otherwise(F.col("base0"))
    return joined.select(
        "doc_id",
        "kind",
        F.when(F.col("kind") == "text", F.col("norm"))
        .otherwise(F.lit(None))
        .alias("text"),
        "media_ref",
        (base + F.row_number().over(w_rank)).cast("int").alias("order"),
    )
