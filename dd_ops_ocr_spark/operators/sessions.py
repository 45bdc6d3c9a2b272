"""Batch sessionization + PMI collocations over the events/documents
tables.

* ``sessionize``: gap-based sessions per user (a new session starts
  when the time since the previous event exceeds ``gap``), the shape
  Spark's streaming ``F.session_window`` computes online. Classic
  gaps-and-islands: lag per (user, ts), boundary flag, running sum —
  one user shuffle, two co-partitioned window passes, one groupBy.
  Session ids are deterministic (user_id, session_idx).
* ``collocations``: corpus-level PMI-ranked adjacent word pairs
  (collocation extraction — multi-word-expression mining for tokenizer
  vocab curation). PMI = log P(xy) / (P(x)P(y)) restated in the repo's
  integer-exact quantized form via the cross-product trick proven in
  classify.py: pmi_bits = bits(c_xy * N) - bits(c_x * c_y) with
  bits(c) = length(bin(c)) — exactly 0 for independence, positive for
  attraction, engine-exact. One bigram agg + two unigram joins
  (unhinted, vocabulary-sized sides), deterministic top-K order.
  int64 products hold to c * N < 2^63; beyond, lift to
  decimal(38,0)/HUGEINT (sample_stratified precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dd_ops_ocr_spark.operators.classify import _SQL_BITS, _bits, _tokens

GAP_MINUTES = 30
COLLOC_TOP_K = 20
COLLOC_MIN_COUNT = 5


def sessionize(events: DataFrame, gap_minutes: int = GAP_MINUTES) -> DataFrame:
    """(user_id, session_idx, n_events, session_start, session_end,
    duration_sec) — session_idx is 0-based per user in time order."""
    # microsecond-exact integer arithmetic on BOTH engines
    # (unix_timestamp floors to seconds BEFORE subtracting while
    # DuckDB's epoch() keeps fractions and its double->int cast ROUNDS —
    # a measured ±1s duration mismatch and a latent session-split
    # boundary hazard; unix_micros/epoch_us are exact int64 in both)
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)
    prev = F.lag("ts").over(w)
    # unix_micros rejects TIMESTAMP_NTZ (the parquet type); the session
    # timeZone is pinned UTC (session.py:34) so the cast is
    # epoch-identical to DuckDB's naive epoch_us
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    flagged = events.withColumn(
        "new_session",
        (
            prev.isNull() | (us(F.col("ts")) - us(prev) > gap_us)
        ).cast("int"),
    )
    flagged = flagged.withColumn(
        "session_idx",
        (
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - 1
        ).cast("int"),
    )
    return flagged.groupBy("user_id", "session_idx").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr(
            "(unix_micros(cast(max(ts) as timestamp))"
            " - unix_micros(cast(min(ts) as timestamp))) div 1000000"
        )
        .cast("long")
        .alias("duration_sec"),
    )


def collocations(
    docs: DataFrame, top_k: int = COLLOC_TOP_K, min_count: int = COLLOC_MIN_COUNT
) -> DataFrame:
    """Top-k adjacent word pairs by quantized PMI:
    (w1, w2, n_pair, n_w1, n_w2, pmi_bits), ordered deterministically
    (pmi_bits desc, n_pair desc, w1 asc, w2 asc) and cut at top_k.
    Pairs rarer than min_count are dropped first (PMI's classic
    low-count instability)."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("ws"))
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    n_total = toks.select(
        F.sum(F.size("ws")).cast("long").alias("n_total")
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2"
                " THEN transform(sequence(1, size(ws) - 1),"
                "      i -> struct(element_at(ws, i) AS w1,"
                "                  element_at(ws, i + 1) AS w2))"
                " ELSE array() END"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    scored = (
        pc.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            (
                _bits(F.col("n_pair") * F.col("n_total"))
                - _bits(F.col("n_w1") * F.col("n_w2"))
            ).alias("pmi_bits"),
        )
    )
    w = Window.orderBy(
        F.desc("pmi_bits"), F.desc("n_pair"), F.asc("w1"), F.asc("w2")
    )
    # single-partition window over the ALREADY-AGGREGATED pair table
    # (vocabulary-sized, not corpus-sized) — same bounded-state shape as
    # topk_ngrams' deterministic cut
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "w1", "w2", "n_pair", "n_w1", "n_w2", "pmi_bits")
    )


# ------------------------------------------------------------- oracled corpus
# Events sessionize as-is (10k events / 150 users, ~4 min mean gap, so
# 30-min sessions split realistically). Collocations get a PLANTED
# multi-word expression: docs with doc_id % 4 == 1 append
# "new york" (attraction: "york" only ever follows "new"), and the raw
ROLL_HOURS = 24


def rolling_window(events: DataFrame, hours: int = ROLL_HOURS) -> DataFrame:
    """Per event: count and value-sum of the SAME user's events in the
    trailing ``hours`` window — the time-RANGE window frame
    (`rangeBetween` over a numeric order key), the one window surface
    the session/rank/lag family doesn't touch. Rate limiting, trailing
    activity scores, and abuse velocity checks are all this frame.

    Exactness: the order key is integer microseconds (`unix_micros` —
    the sessionize lesson: second-flooring vs rounding diverges between
    engines) and the summed value is integer CENTS (round(value*100)),
    so frame sums are order-independent and the hash gate is real.
    RANGE frames include ALL peers of the current row (SQL standard,
    both engines), so equal-timestamp events see each other — no
    tie-order hazard.

    Scale shape: one user_id shuffle; within a partition both engines
    evaluate the frame as a streaming two-pointer over the sort — O(n)
    per user, state = one window's rows. Task size is bounded by
    events-per-user; a pathological hot key needs (user, day)
    pre-bucketing with a carry-in pass — the bounded.py treatment —
    noted, not built: the win only exists past ~10^7 events per user."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.round(F.col("value") * 100).cast("long")
    span_us = hours * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-span_us, 0)
    )
    return (
        events.select(
            "event_id", "user_id", us.alias("us"), cents.alias("cents")
        )
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).cast("long").alias("n_trailing"),
            F.sum("cents").over(w).cast("long").alias("v_cents_trailing"),
        )
    )


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_window(e)


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_stages(
    events: DataFrame, steps: tuple = FUNNEL_STEPS
) -> DataFrame:
    """(stage, n_users): how many users reached EXACTLY stage k of the
    ordered funnel (0 = none). A user reaches stage k when an ordered
    subsequence step1 < step2 < ... < stepk exists in their events
    (strict timestamp order); greedy earliest-match is provably
    equivalent to the chained-min formulation (t2 = min ts of step2
    AFTER t1, ...), which is what the oracle states with three
    aggregate+join rungs.

    Scale shape: ONE user_id shuffle — per user the funnel walk is a
    fold over the time-sorted (ts, type) array (`F.aggregate`), so no
    per-step join rung touches the corpus (the oracle's 3-join form is
    the clarity statement, not the plan). State per user = its own
    funnel events; a user with none folds from the empty array to
    stage 0 (collect_list skips the non-funnel nulls)."""
    return (
        _funnel_walk(events, steps)
        .select(F.col("w.stage").cast("int").alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def _funnel_walk(events: DataFrame, steps: tuple) -> DataFrame:
    """The one greedy funnel walk both funnel queries consume: one row
    per user with `w` = struct(stage, us, first_us) — the reached
    stage, the timestamp of its completing event, and the timestamp of
    the matched step-1 event (-1 until matched). Shared so the walk
    semantics (strict ts order, earliest-match step advance) cannot
    drift between funnel_stages and conversion_latency."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("event_type").isin(*steps),
                    F.struct(us.alias("us"),
                             F.col("event_type").alias("et")),
                )
            )
        ).alias("seq")
    )
    steps_arr = F.array(*[F.lit(s) for s in steps])
    walk = F.aggregate(
        "seq",
        F.struct(
            F.lit(0).alias("stage"),
            F.lit(-1).cast("long").alias("us"),
            F.lit(-1).cast("long").alias("first_us"),
        ),
        lambda acc, x: F.when(
            (acc["stage"] < F.lit(len(steps)))
            & (x["et"] == F.element_at(steps_arr, acc["stage"] + 1))
            & (x["us"] > acc["us"]),
            F.struct(
                (acc["stage"] + 1).alias("stage"),
                x["us"].alias("us"),
                F.when(acc["stage"] == 0, x["us"])
                 .otherwise(acc["first_us"]).alias("first_us"),
            ),
        ).otherwise(acc),
    )
    return per_user.select(walk.alias("w"))


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_type"
    )
    return funnel_stages(e)


def conversion_latency(
    events: DataFrame, steps: tuple = FUNNEL_STEPS
) -> DataFrame:
    """One row — (n_converted, p50_us, p95_us): how long full-funnel
    users took from first step-1 event to the (greedy) completing
    step-N event. The same walk as `funnel_stages`, additionally
    carrying the first matched timestamp; latency = final − first in
    integer microseconds, quantiles exact-interpolated (the
    event_value_quantiles contract — fine here because the converted
    set is bounded by design; approx_percentile is the unbounded
    twin)."""
    lat = (
        _funnel_walk(events, steps)
        .filter(F.col("w.stage") == len(steps))
        .select((F.col("w.us") - F.col("w.first_us")).alias("lat_us"))
    )
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.expr("percentile(lat_us, 0.5)").alias("p50_us"),
        F.expr("percentile(lat_us, 0.95)").alias("p95_us"),
    )


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_type"
    )
    return conversion_latency(e)


_WEEK_US = 7 * 86_400 * 1_000_000


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_week, week_offset, n_users): the retention triangle —
    users grouped by their first-signup week, counted once per later
    week they were active in (any event type, at-or-after the signup
    instant; offset 0 is the signup week itself).

    Week arithmetic is integer microseconds div week-length — no
    date_trunc, whose week-start convention is an engine knob; the
    epoch anchor is arbitrary but IDENTICAL in both engines, and only
    offsets carry meaning.

    Scale shape: one agg for first-signups (user-cardinality,
    data-dependent -> the activity join stays unhinted), one distinct
    over (user, cohort, offset) — fused into the final count's
    expand-aggregate — and the output is triangle-sized (weeks²), not
    corpus-sized."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_type", us.alias("us"))
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    act = (
        ev.join(signup, "user_id")
        .filter(F.col("us") >= F.col("s_us"))
        .select(
            "user_id",
            F.floor(F.col("s_us") / _WEEK_US).alias("cohort_week"),
            (F.floor(F.col("us") / _WEEK_US)
             - F.floor(F.col("s_us") / _WEEK_US)).alias("week_offset"),
        )
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .select(
            F.col("cohort_week").cast("long").alias("cohort_week"),
            F.col("week_offset").cast("long").alias("week_offset"),
            "n_users",
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_type"
    )
    return retention_cohorts(e)


# ~30-word vocabulary supplies the independent-pair background.

MWE = "new york"


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts")
    return sessionize(e)


def _docs_with_mwe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(4)) == 1,
            F.concat(F.col("text"), F.lit(" " + MWE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return collocations(_docs_with_mwe(spark, sf_dir))


SQL_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {GAP_MINUTES * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
idx AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS INT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec
FROM idx GROUP BY user_id, session_idx
"""

SQL_COLLOCATIONS = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1 THEN text || ' {MWE}' ELSE text END AS text
  FROM documents
),
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \n\t]+'),
                     x -> x <> '') AS ws
  FROM d
),
uni AS (
  SELECT u.w, COUNT(*) AS n_w
  FROM t, UNNEST(ws) AS u(w) GROUP BY u.w
),
tot AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n_total FROM t),
pairs AS (
  SELECT ws[g.i + 1] AS w1, ws[g.i + 2] AS w2
  FROM t, UNNEST(range(0, len(ws) - 1)) AS g(i)
),
pc AS (
  SELECT w1, w2, COUNT(*) AS n_pair
  FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
),
scored AS (
  SELECT pc.w1, pc.w2,
         CAST(pc.n_pair AS BIGINT) AS n_pair,
         CAST(u1.n_w AS BIGINT) AS n_w1,
         CAST(u2.n_w AS BIGINT) AS n_w2,
         ({_SQL_BITS.format(c="pc.n_pair * tot.n_total")})
         - ({_SQL_BITS.format(c="u1.n_w * u2.n_w")}) AS pmi_bits
  FROM pc
  JOIN uni u1 ON pc.w1 = u1.w
  JOIN uni u2 ON pc.w2 = u2.w
  CROSS JOIN tot
)
SELECT CAST(rank AS INT) AS rank, w1, w2, n_pair, n_w1, n_w2, pmi_bits
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_bits DESC, n_pair DESC,
                               w1 ASC, w2 ASC) AS rank
  FROM scored
)
WHERE rank <= {COLLOC_TOP_K}
"""

SQL_ROLLING_WINDOW = f"""
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
       CAST(SUM(cents) OVER w AS BIGINT) AS v_cents_trailing
FROM (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {ROLL_HOURS * 3600 * 1_000_000} PRECEDING
                   AND CURRENT ROW)
"""

# The oracle states the funnel as three chained-min rungs — the
# textbook formulation the array-walk is provably equivalent to
# (greedy earliest-match maximizes the reached stage). ONE fragment
# feeds both funnel oracles so they always encode the same funnel.
_SQL_FUNNEL_RUNGS = f"""s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
  GROUP BY e.user_id
)"""

SQL_FUNNEL_STAGES = f"""
WITH {_SQL_FUNNEL_RUNGS},
u AS (SELECT DISTINCT user_id FROM events)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users
FROM (
  SELECT CASE WHEN s3.user_id IS NOT NULL THEN 3
              WHEN s2.user_id IS NOT NULL THEN 2
              WHEN s1.user_id IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM u
  LEFT JOIN s1 USING (user_id)
  LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
)
GROUP BY stage
"""

SQL_RETENTION_COHORTS = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
signup AS (
  SELECT user_id, MIN(us) AS s_us FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
)
SELECT CAST(s_us // {_WEEK_US} AS BIGINT) AS cohort_week,
       CAST(us // {_WEEK_US} - s_us // {_WEEK_US} AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
FROM ev JOIN signup USING (user_id)
WHERE us >= s_us
GROUP BY 1, 2
"""

SQL_CONVERSION_LATENCY = f"""
WITH {_SQL_FUNNEL_RUNGS}
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       quantile_cont(epoch_us(t3) - epoch_us(t1), 0.5) AS p50_us,
       quantile_cont(epoch_us(t3) - epoch_us(t1), 0.95) AS p95_us
FROM s3 JOIN s1 USING (user_id)
"""

# ---------------------------------------------------------- attribution
#
# The funnel family's missing primitive: each conversion credits a
# TOUCH channel — 'first' (the user's earliest touch strictly before
# the conversion) and 'last' (the latest one). One user shuffle: both
# credits are ignorenulls window folds over (ts, event_id) row order —
# no conversion-to-touch join, no per-channel rung — then one
# output-sized groupBy. The (ts, event_id) composite order makes
# equal-timestamp ties deterministic in both engines; a conversion
# with no prior touch lands in channel '(none)' rather than dropping
# (the report must reconcile to total conversions).

ATTRIB_CONVERSION = FUNNEL_STEPS[-1]


def attribution(events: DataFrame) -> DataFrame:
    """(model['first'|'last'], channel, n_conv) over touch channels =
    every non-conversion event_type."""
    from pyspark.sql.window import Window

    touch = F.when(
        F.col("event_type") != ATTRIB_CONVERSION, F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = events.select(
        "user_id", "ts", "event_id", "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).filter(F.col("event_type") == ATTRIB_CONVERSION)
    first = tagged.select(
        F.lit("first").alias("model"),
        F.coalesce("first_touch", F.lit("(none)")).alias("channel"),
    )
    last = tagged.select(
        F.lit("last").alias("model"),
        F.coalesce("last_touch", F.lit("(none)")).alias("channel"),
    )
    return (
        first.unionByName(last)
        .groupBy("model", "channel")
        .agg(F.count("*").cast("long").alias("n_conv"))
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution(spark.read.parquet(f"{sf_dir}/events.parquet"))


SQL_ATTRIBUTION = f"""
WITH t AS (
  SELECT user_id, event_id, event_type,
         CASE WHEN event_type <> '{ATTRIB_CONVERSION}'
              THEN event_type END AS touch,
         epoch_us(ts) AS us
  FROM events
),
w AS (
  SELECT event_type,
         FIRST_VALUE(touch IGNORE NULLS) OVER win AS first_touch,
         LAST_VALUE(touch IGNORE NULLS) OVER win AS last_touch
  FROM t
  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
conv AS (SELECT * FROM w WHERE event_type = '{ATTRIB_CONVERSION}')
SELECT model, channel, CAST(COUNT(*) AS BIGINT) AS n_conv
FROM (
  SELECT 'first' AS model, COALESCE(first_touch, '(none)') AS channel
  FROM conv
  UNION ALL
  SELECT 'last', COALESCE(last_touch, '(none)') FROM conv
)
GROUP BY model, channel
"""


QUERIES = {
    "session_stats": q_sessionize,
    "collocations": q_collocations,
    "rolling_window": q_rolling_window,
    "funnel_stages": q_funnel_stages,
    "retention_cohorts": q_retention_cohorts,
    "conversion_latency": q_conversion_latency,
    "attribution": q_attribution,
}

ORACLE_SQL = {
    "session_stats": SQL_SESSIONIZE,
    "collocations": SQL_COLLOCATIONS,
    "rolling_window": SQL_ROLLING_WINDOW,
    "funnel_stages": SQL_FUNNEL_STAGES,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "conversion_latency": SQL_CONVERSION_LATENCY,
    "attribution": SQL_ATTRIBUTION,
}
