"""Event-log analytics: conversion funnels and retention cohorts.

The reference's only event-shaped artifact is its idempotent re-fetch log
(fetch.go:55-67); these are the §2.3 window/aggregation capability rows
exercised the way a product-analytics user would — ordered-step funnels
and cohort retention grids over the `events` fixture.

Scale notes (100 TB design):
- The funnel is THREE chained window projections over the SAME
  ``partitionBy(user_id)`` plus a final ``groupBy(user_id)`` — Catalyst
  plans ONE exchange for all four; no per-step self-joins (a naive
  funnel is k-1 self-joins, each a shuffle).
- Retention is two keyed aggregations (per-user first-touch, then the
  cohort grid); the first-touch side is user-keyed and joins the event
  scan on the same key.
- Both outputs are exact integer/timestamp arithmetic — no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog

# Ordered funnel steps; a later step counts only when STRICTLY after the
# user's earliest completion of the previous step (min-over-set, so
# same-ts ties resolve identically in any engine).
FUNNEL_STEPS = ("signup", "view", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered conversion funnel (§2.3 windows / aggregation).

    For each user: t1 = earliest 'signup', t2 = earliest 'view' strictly
    after t1, t3 = earliest 'purchase' strictly after t2, and the stage
    index reached. One exchange: the three step columns are windows over
    the same user partitioning and the closing per-user aggregate reuses
    it.
    """
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id")
    s1, s2, s3 = FUNNEL_STEPS
    t1 = F.min(F.when(F.col("event_type") == s1, F.col("ts"))).over(w)
    e = e.withColumn("t1", t1)
    t2 = F.min(
        F.when((F.col("event_type") == s2) & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    e = e.withColumn("t2", t2)
    t3 = F.min(
        F.when((F.col("event_type") == s3) & (F.col("ts") > F.col("t2")), F.col("ts"))
    ).over(w)
    e = e.withColumn("t3", t3)
    per_user = e.groupBy("user_id").agg(
        F.max("t1").alias("signup_ts"),
        F.max("t2").alias("view_ts"),
        F.max("t3").alias("purchase_ts"),
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("view_ts").isNotNull(), 2)
        .when(F.col("signup_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(
        "user_id",
        "signup_ts",
        "view_ts",
        "purchase_ts",
        stage.cast("int").alias("stage_reached"),
    )


EVENTS_FUNNEL_SQL = f"""
WITH step1 AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[0]}' THEN ts END)
             OVER (PARTITION BY user_id) AS t1,
         ts, event_type
  FROM events
),
step2 AS (
  SELECT user_id, t1,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[1]}' AND ts > t1 THEN ts END)
             OVER (PARTITION BY user_id) AS t2,
         ts, event_type
  FROM step1
),
step3 AS (
  SELECT user_id, t1, t2,
         MIN(CASE WHEN event_type = '{FUNNEL_STEPS[2]}' AND ts > t2 THEN ts END)
             OVER (PARTITION BY user_id) AS t3
  FROM step2
)
SELECT user_id,
       MAX(t1) AS signup_ts,
       MAX(t2) AS view_ts,
       MAX(t3) AS purchase_ts,
       CAST(CASE WHEN MAX(t3) IS NOT NULL THEN 3
                 WHEN MAX(t2) IS NOT NULL THEN 2
                 WHEN MAX(t1) IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS stage_reached
FROM step3
GROUP BY user_id
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid (§2.3 aggregation): users bucketed by
    first-touch day, activity counted by day offset from that cohort.

    Two keyed shuffles: per-user first-touch (user_id), then the cohort
    grid (cohort_day × day_offset — bounded by calendar², tiny). The
    first-touch column is a window over user_id, so the event scan is
    read ONCE — no self-join against a firsts table.
    """
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id")
    e = e.withColumn("cohort_day", F.min(F.to_date("ts")).over(w))
    return (
        e.select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        # DATE stringifies differently across engines (date vs datetime64);
        # pin the grid key to its ISO string on both sides.
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
        )
    )


EVENTS_RETENTION_SQL = """
WITH touched AS (
  SELECT user_id,
         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day,
         CAST(ts AS DATE) AS d
  FROM events
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cohort_day, d) AS INT) AS day_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM touched
GROUP BY 1, 2
"""


# Activity-interval half-width: an event marks the user active for this long.
COALESCE_WINDOW_MIN = 30


def events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merge (§2.3 windows): each event opens a
    30-minute activity interval; overlapping/touching intervals per user
    merge into maximal islands — the canonical uptime/activity-span op.

    Plan: one ``partitionBy(user_id)`` exchange serves both windows (the
    running max-end that detects island starts, and the running sum that
    numbers islands), then the closing per-(user, island) aggregate
    reuses the same hash partitioning. Tie order is pinned with
    (ts, event_id) so the running max is engine-deterministic."""
    e = Catalog(spark, sf_dir).table("events")
    e = e.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("ts") + F.expr(f"INTERVAL {COALESCE_WINDOW_MIN} MINUTES")).alias("end_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max_end = F.max("end_ts").over(w.rowsBetween(Window.unboundedPreceding, -1))
    e = e.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("ts") > prev_max_end), 1).otherwise(0),
    )
    e = e.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        e.groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("island_start"),
            F.max("end_ts").alias("island_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("island").cast("int").alias("island"),
            "island_start",
            "island_end",
            "n_events",
        )
    )


EVENTS_INTERVAL_COALESCE_SQL = f"""
WITH spans AS (
  SELECT user_id, event_id, ts,
         ts + INTERVAL {COALESCE_WINDOW_MIN} MINUTE AS end_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, end_ts,
         CASE WHEN MAX(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                OR ts > MAX(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island,
         event_id
  FROM spans
),
numbered AS (
  SELECT user_id, ts, end_ts,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
)
SELECT user_id,
       CAST(island AS INT) AS island,
       MIN(ts) AS island_start,
       MAX(end_ts) AS island_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, island
"""


ZSCORE_TOPK = 15


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-volume anomaly scoring (§2.3 aggregation as a
    data-quality screen): z-score of each user's event count against the
    population — the bot/spam-account probe a corpus pipeline runs before
    trusting engagement-weighted sampling.

    Plan: one keyed agg to per-user counts, one scalar agg to the global
    moments (decimal-exact sums so accumulation order can't flip the
    hash), a broadcast of the 1-row moments table, and a TakeOrdered
    top-K — no global sort, nothing driver-side. At 100 TB the only
    data-sized exchange is the user-count agg; mean/std derive from
    3 scalars via one fixed IEEE expression both engines share.
    """
    e = Catalog(spark, sf_dir).table("events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    moments = per_user.groupBy().agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("n_events").cast("decimal(18,0)")).alias("sc"),
        F.sum((F.col("n_events") * F.col("n_events")).cast("decimal(38,0)")).alias("scc"),
    )
    nd = F.col("n_users").cast("double")
    sc = F.col("sc").cast("double")
    scc = F.col("scc").cast("double")
    mean = sc / nd
    std = F.sqrt((scc - (sc * sc) / nd) / nd)
    z = (F.col("n_events").cast("double") - mean) / std
    return (
        per_user.join(F.broadcast(moments))
        .select(
            "user_id",
            "n_events",
            z.cast("decimal(18,6)").cast("double").alias("zscore"),
        )
        .orderBy(F.col("zscore").desc(), F.col("user_id"))
        .limit(ZSCORE_TOPK)
    )


EVENTS_ANOMALY_ZSCORE_SQL = f"""
WITH per_user AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(SUM(CAST(n_events AS DECIMAL(18,0))) AS DOUBLE) AS sc,
         CAST(SUM(CAST(n_events * n_events AS DECIMAL(38,0))) AS DOUBLE) AS scc
  FROM per_user
)
SELECT user_id, n_events,
       CAST(CAST((CAST(n_events AS DOUBLE) - sc / nd)
                 / SQRT((scc - (sc * sc) / nd) / nd)
            AS DECIMAL(18,6)) AS DOUBLE) AS zscore
FROM per_user, m
ORDER BY zscore DESC, user_id
LIMIT {ZSCORE_TOPK}
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (§2.3 windows + aggregation): P(next_type | type), the
    behavioral-model fit (and the session-synthesis prior) computed
    straight from the event log.

    ONE user-keyed window exchange produces (type, next_type) pairs via
    lag/lead; the pair counts and the per-source normalizing totals ride
    keyed aggs on the pair output (grouping-key count, dozens of rows).
    Probability = pair/total is a single division of exact integers,
    decimal-pinned. (ts, event_id) orders ties totally so both engines
    see identical sequences.
    """
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    # Normalizer as a WINDOW over the aggregated pairs (≤ |types|² rows),
    # not a groupBy+self-join — a join against a derived aggregate makes
    # Catalyst recompute the whole event-window subtree for the totals
    # branch (two data-sized exchanges instead of one).
    wt = Window.partitionBy("from_type")
    return pairs.withColumn("n_from", F.sum("n_transitions").over(wt)).select(
        "from_type",
        "to_type",
        "n_transitions",
        (F.col("n_transitions").cast("double") / F.col("n_from"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("p_transition"),
    )


EVENTS_TRANSITION_MATRIX_SQL = """
WITH pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions FROM (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS to_type
    FROM events)
  WHERE to_type IS NOT NULL
  GROUP BY 1, 2
), totals AS (
  SELECT from_type, SUM(n_transitions) AS n_from FROM pairs GROUP BY 1
)
SELECT p.from_type, p.to_type, p.n_transitions,
       CAST(CAST(p.n_transitions::DOUBLE / t.n_from AS DECIMAL(18,6)) AS DOUBLE)
         AS p_transition
FROM pairs p JOIN totals t USING (from_type)
"""


PATHS_TOPK = 15


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step behavioral paths (§2.3 windows): the
    event-type trigrams of user journeys, ranked globally — the "what do
    users actually do" query behind funnel design and session synthesis.

    The SAME user-keyed window exchange as events_transition_matrix
    (lead ×2 instead of lag) fans each event into its trigram; the
    global count is one partial-aggregated shuffle over ≤ |types|³ keys
    and the top-K is a TakeOrdered — no global sort. Ties pin on the
    path string.
    """
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.col("event_type").alias("s1"),
            F.lead("event_type", 1).over(w).alias("s2"),
            F.lead("event_type", 2).over(w).alias("s3"),
        )
        .filter(F.col("s3").isNotNull())
        .select(F.concat_ws(">", "s1", "s2", "s3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_journeys"))
        .orderBy(F.col("n_journeys").desc(), F.col("path"))
        .limit(PATHS_TOPK)
    )


EVENTS_TOP_PATHS_SQL = f"""
WITH tri AS (
  SELECT s1 || '>' || s2 || '>' || s3 AS path FROM (
    SELECT event_type AS s1,
           LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
           LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
    FROM events)
  WHERE s3 IS NOT NULL
)
SELECT path, COUNT(*) AS n_journeys
FROM tri
GROUP BY path
ORDER BY n_journeys DESC, path
LIMIT {PATHS_TOPK}
"""


def _islands(e: DataFrame, event_type: str, label: str) -> DataFrame:
    """30-min gap-coalesced activity islands for one event type — the
    events_interval_coalesce chain reused as a building block."""
    s = e.filter(F.col("event_type") == event_type).select(
        "user_id",
        "event_id",
        "ts",
        (F.col("ts") + F.expr(f"INTERVAL {COALESCE_WINDOW_MIN} MINUTES")).alias("end_ts"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max_end = F.max("end_ts").over(w.rowsBetween(Window.unboundedPreceding, -1))
    s = s.withColumn(
        "new_island",
        F.when(prev_max_end.isNull() | (F.col("ts") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return s.groupBy("user_id", "island").agg(
        F.min("ts").alias(f"{label}_start"), F.max("end_ts").alias(f"{label}_end")
    ).select("user_id", F.col("island").cast("int").alias(f"{label}_island"),
             f"{label}_start", f"{label}_end")


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (§2.3 theta/range family, the two-sided
    variant): per-user CLICK activity islands × VIEW activity islands,
    keeping pairs that overlap in time, with the overlap duration — the
    "which engagement spans coincided" primitive (range join probes a
    point against intervals; this joins intervals against intervals).

    Plan: each island set is the interval_coalesce chain (one user
    exchange each); the pair join is an equi-join ON user_id with the
    overlap predicate as a residual — fan-in per user is bounded by that
    user's island count, so the quadratic term is per-key tiny, never
    corpus-wide. At 100 TB both sides bucket by user_id and the join is
    co-located. Overlap length is exact integer micros → pinned seconds.
    """
    e = Catalog(spark, sf_dir).table("events")
    a = _islands(e, "click", "click")
    b = _islands(e, "view", "view")
    ov_start = F.greatest(F.col("click_start"), F.col("view_start"))
    ov_end = F.least(F.col("click_end"), F.col("view_end"))
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("click_start") < F.col("view_end"))
            & (F.col("view_start") < F.col("click_end"))
        )
        .select(
            "user_id",
            "click_island",
            "view_island",
            ((F.unix_micros(ov_end) - F.unix_micros(ov_start)) / 1_000_000)
            .cast("decimal(18,6)")
            .cast("double")
            .alias("overlap_s"),
        )
    )


def _islands_sql(event_type: str, label: str) -> str:
    return f"""
{label}_spans AS (
  SELECT user_id, event_id, ts,
         ts + INTERVAL {COALESCE_WINDOW_MIN} MINUTE AS end_ts
  FROM events WHERE event_type = '{event_type}'
),
{label}_flagged AS (
  SELECT user_id, ts, end_ts, event_id,
         CASE WHEN MAX(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
                OR ts > MAX(end_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM {label}_spans
),
{label}_numbered AS (
  SELECT user_id, ts, end_ts,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM {label}_flagged
),
{label}_islands AS (
  SELECT user_id, CAST(island AS INT) AS {label}_island,
         MIN(ts) AS {label}_start, MAX(end_ts) AS {label}_end
  FROM {label}_numbered GROUP BY user_id, island
)"""


JOIN_INTERVAL_OVERLAP_SQL = f"""
WITH {_islands_sql("click", "click").lstrip()},
{_islands_sql("view", "view").lstrip()}
SELECT a.user_id, a.click_island, b.view_island,
       CAST(CAST((epoch_us(LEAST(a.click_end, b.view_end))
                  - epoch_us(GREATEST(a.click_start, b.view_start))) / 1000000.0
            AS DECIMAL(18,6)) AS DOUBLE) AS overlap_s
FROM click_islands a JOIN view_islands b USING (user_id)
WHERE a.click_start < b.view_end AND b.view_start < a.click_end
"""


def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup (§2.3 aggregation —
    the charter's 'hypertable rollup' example): minute, hour, and day
    continuous aggregates of the event stream in ONE pass, via ROLLUP
    over the truncation hierarchy (day ⊃ hour ⊃ minute).

    Spark lowers the rollup to a single map-side Expand (4 rows per
    input: minute, hour, day, grand total) feeding ONE
    partial-aggregated shuffle — the same cost structure as a
    TimescaleDB continuous-aggregate refresh, with no second pass per
    granularity (the naive form is one groupBy per level = 3 scans).
    grouping_id() pins which level each output row belongs to.
    """
    e = Catalog(spark, sf_dir).table("events")
    t = e.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        F.date_trunc("minute", "ts").alias("minute"),
        "value",
    )
    return (
        t.rollup("day", "hour", "minute")
        .agg(
            # grouping_id() must be computed IN the rollup aggregate
            F.grouping_id().cast("int").alias("level"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select("day", "hour", "minute", "level", "n", "total_value")
    )


EVENTS_TIME_ROLLUP_SQL = """
SELECT date_trunc('day', ts)    AS day,
       date_trunc('hour', ts)   AS hour,
       date_trunc('minute', ts) AS minute,
       CAST(GROUPING(date_trunc('day', ts), date_trunc('hour', ts),
                     date_trunc('minute', ts)) AS INT) AS level,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts),
                 date_trunc('minute', ts))
"""


def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile of the event stream (§2.3 streaming
    support tooling): how late does each event arrive relative to the
    max event-time already seen in its arrival order? This distribution
    IS the watermark-delay decision — the delay bound covering p99 of
    lateness is what ``withWatermark`` should be set to, and this batch
    profile is how it's chosen from history.

    Arrival order = event_id (the append sequence); lateness = running
    max(ts) so far (per user) minus ts, banded into standard delay
    buckets. ONE user-keyed window exchange + a tiny banded rollup.
    Exact integer micros throughout.
    """
    e = Catalog(spark, sf_dir).table("events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late_us = F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts"))
    lateness = F.greatest(late_us, F.lit(0)).alias("late_us")
    banded = e.select(lateness)
    band = (
        F.when(F.col("late_us") == 0, "on-time")
        .when(F.col("late_us") <= 60 * 1_000_000, "<=1m")
        .when(F.col("late_us") <= 300 * 1_000_000, "<=5m")
        .when(F.col("late_us") <= 900 * 1_000_000, "<=15m")
        .when(F.col("late_us") <= 3600 * 1_000_000, "<=1h")
        .otherwise(">1h")
    )
    return (
        banded.select(band.alias("lateness_band"))
        .groupBy("lateness_band")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


EVENTS_LATENESS_PROFILE_SQL = """
WITH l AS (
  SELECT GREATEST(
           COALESCE(epoch_us(MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                    - epoch_us(ts), 0), 0) AS late_us
  FROM events
)
SELECT CASE WHEN late_us = 0 THEN 'on-time'
            -- pre-multiplied literals: DuckDB folds INT32*INT32 in
            -- INT32 and 3600*1000000 overflows (surfaced by the r6
            -- skew-fixture gate on TIMESTAMP-us events)
            WHEN late_us <= 60000000 THEN '<=1m'
            WHEN late_us <= 300000000 THEN '<=5m'
            WHEN late_us <= 900000000 THEN '<=15m'
            WHEN late_us <= 3600000000 THEN '<=1h'
            ELSE '>1h' END AS lateness_band,
       COUNT(*) AS n_events
FROM l
GROUP BY 1
"""


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day (§2.3 windows — the sweep-line
    algorithm): sessionized activity intervals become +1/−1 boundary
    events; a running sum over the time-ordered boundary stream is the
    live concurrency, and its per-day max is the capacity-planning
    number (peak load, license seats, connection pools).

    Plan: sessions come from the audited gap-sessionize shape (one user
    exchange); boundaries are a map-side ×2 expansion; the sweep rides
    ONE global time-ordered window over the boundary stream — at 100 TB
    the stream is session-grain (not event-grain) and the window
    partitions naturally by coarse time bucket with per-bucket offsets
    (documented; the fixture span fits one partition). Tie pin: at equal
    timestamps ends (−1) apply before starts (+1) — touching intervals
    never double-count — and user_id breaks exact (ts, delta) ties.
    """
    from .sessionize import sessionize as _sessionize  # session intervals

    s = _sessionize(spark, sf_dir).select(
        "user_id", "session_start", "session_end"
    )
    starts = s.select(
        F.col("session_start").alias("ts"), F.lit(1).alias("delta"), "user_id"
    )
    ends = s.select(
        F.col("session_end").alias("ts"), F.lit(-1).alias("delta"), "user_id"
    )
    bounds = starts.unionByName(ends)
    w = Window.orderBy("ts", "delta", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = bounds.withColumn("live", F.sum("delta").over(w))
    return (
        swept.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.max("live").alias("peak_concurrency"), F.count(F.lit(1)).alias("n_boundaries"))
    )


EVENTS_PEAK_CONCURRENCY_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
marked AS (
  SELECT user_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us > {{gap}} THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM gaps
),
sessions AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM marked GROUP BY user_id, session_idx
),
bounds AS (
  SELECT session_start AS ts, 1 AS delta, user_id FROM sessions
  UNION ALL
  SELECT session_end AS ts, -1 AS delta, user_id FROM sessions
),
swept AS (
  SELECT ts,
         SUM(delta) OVER (ORDER BY ts, delta, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
  FROM bounds
)
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(MAX(live) AS BIGINT) AS peak_concurrency,
       COUNT(*) AS n_boundaries
FROM swept
GROUP BY 1
"""
EVENTS_PEAK_CONCURRENCY_SQL = EVENTS_PEAK_CONCURRENCY_SQL.replace(
    "{gap}", str(30 * 60 * 1_000_000)
)


MARKOV_ITERS = 3


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain (§2.3
    aggregation — the long-run state mix implied by the transition
    matrix): {MARKOV_ITERS} pinned power-iteration steps of π ← πP from
    the uniform start. Where the users end up if the observed dynamics
    persist — the prior a session synthesizer or load model samples
    from.

    Plan: the matrix is the audited one-exchange transition build,
    eagerly checkpointed (the iterative-lineage discipline — see
    PLANS.md: without truncation each round re-nests the event-window
    subtree); every iterate is |types| rows, each round ONE tiny
    broadcast join + fold. Folds run in from_type order on both engines
    → bit-stable doubles; output decimal-pinned.
    """
    P = events_transition_matrix(spark, sf_dir).localCheckpoint(eager=True)
    types = [
        r.t
        for r in P.select(F.col("from_type").alias("t")).distinct().collect()
    ]
    start = 1.0 / len(types)  # python double == DuckDB 1.0/n (IEEE division)
    pi = spark.createDataFrame(
        [(t, start) for t in sorted(types)], "t string, pi double"
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            P.join(F.broadcast(pi), P["from_type"] == pi["t"])
            .select(
                "to_type",
                "from_type",
                (F.col("p_transition") * F.col("pi")).alias("term"),
            )
            .groupBy("to_type")
            .agg(
                F.array_sort(F.collect_list(F.struct("from_type", "term"))).alias(
                    "s"
                )
            )
            .select(
                F.col("to_type").alias("t"),
                F.expr(
                    "aggregate(s, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
                ).alias("pi"),
            )
            .localCheckpoint(eager=True)
        )
    return pi.select(
        F.col("t").alias("state"),
        F.col("pi").cast("decimal(18,6)").cast("double").alias("pi"),
    )


def _ddb_markov_step(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT p.to_type AS t,
         list_reduce(list_prepend(0.0::DOUBLE,
             list(p.p_transition * {prev}.pi ORDER BY p.from_type)),
           (a, b) -> a + b) AS pi
  FROM pmat p JOIN {prev} ON {prev}.t = p.from_type
  GROUP BY p.to_type
)"""


EVENTS_MARKOV_STATIONARY_SQL = f"""
WITH pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions FROM (
    SELECT event_type AS from_type,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS to_type
    FROM events
  ) WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
pmat AS (
  SELECT from_type, to_type,
         CAST(CAST(CAST(n_transitions AS DOUBLE)
                   / SUM(n_transitions) OVER (PARTITION BY from_type)
              AS DECIMAL(18,6)) AS DOUBLE) AS p_transition
  FROM pairs
),
pi0 AS (
  SELECT DISTINCT from_type AS t,
         1.0::DOUBLE / (SELECT COUNT(DISTINCT from_type) FROM pmat) AS pi
  FROM pmat
),
{_ddb_markov_step('pi0', 'pi1')},
{_ddb_markov_step('pi1', 'pi2')},
{_ddb_markov_step('pi2', 'pi3')}
SELECT t AS state, CAST(CAST(pi AS DECIMAL(18,6)) AS DOUBLE) AS pi FROM pi3
"""


def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile (§2.3 aggregation — the capacity-
    planning heatmap): event volume per (day-of-week, hour-of-day) cell
    with integer-ppm share of total — when the load actually arrives,
    the input to autoscaling schedules and maintenance windows.

    ONE partial-aggregated shuffle over ≤ 168 cells; the share rides the
    aggregated rows against a 1-row broadcast total. dayofweek is pinned
    to ISO (1=Monday) on both engines via the weekday formula."""
    e = Catalog(spark, sf_dir).table("events")
    # Spark dayofweek: 1=Sunday..7=Saturday → ISO 1=Monday..7=Sunday
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    cells = e.groupBy(
        iso_dow.alias("iso_dow"), F.hour("ts").cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    total = cells.agg(F.sum("n").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "iso_dow",
        "hour",
        "n",
        F.expr("n * 1000000 div total").alias("share_ppm"),
    )


EVENTS_HOURLY_SEASONALITY_SQL = """
WITH cells AS (
  SELECT CAST(isodow(ts) AS INT) AS iso_dow,
         CAST(hour(ts) AS INT) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT iso_dow, hour, n,
       CAST(n * 1000000 // (SELECT SUM(n) FROM cells) AS BIGINT) AS share_ppm
FROM cells
"""


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve (§2.3 aggregation — the revenue twin
    of events_retention): customers cohorted by first-order month;
    cumulative revenue cents per cohort at each month offset — the LTV
    trajectory payback models read. Exact integer cents throughout.

    Plan: first-touch month via one customer-keyed min-aggregate joined
    back (broadcast — customer-grain), (cohort × offset) partial-agg
    shuffle, then the running cumulative rides ONE window per cohort
    over the tiny grid."""
    o = Catalog(spark, sf_dir).table("orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    first = o.groupBy("o_custkey").agg(F.min(midx).alias("cohort_m"))
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    grid = (
        o.select("o_custkey", midx.alias("m"), cents.alias("cents"))
        .join(F.broadcast(first), "o_custkey")
        .groupBy("cohort_m", (F.col("m") - F.col("cohort_m")).alias("offset"))
        .agg(F.sum("cents").alias("rev_cents"), F.countDistinct("o_custkey").alias("n_active"))
    )
    w = Window.partitionBy("cohort_m").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        F.concat_ws(
            "-",
            F.format_string("%04d", F.expr("cohort_m div 12").cast("int")),
            F.format_string("%02d", (F.col("cohort_m") % 12 + 1).cast("int")),
        ).alias("cohort"),
        F.col("offset").cast("int").alias("offset_months"),
        "n_active",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_rev_cents"),
    )


ORDERS_COHORT_LTV_SQL = """
WITH m AS (
  SELECT o_custkey,
         (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS m,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT o_custkey, MIN(m) AS cohort_m FROM m GROUP BY o_custkey),
grid AS (
  SELECT f.cohort_m, x.m - f.cohort_m AS off_m,
         CAST(SUM(x.cents) AS BIGINT) AS rev_cents,
         COUNT(DISTINCT x.o_custkey) AS n_active
  FROM m x JOIN first f ON f.o_custkey = x.o_custkey
  GROUP BY 1, 2
)
SELECT printf('%04d-%02d', cohort_m // 12, cohort_m % 12 + 1) AS cohort,
       CAST(off_m AS INT) AS offset_months,
       n_active, rev_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY off_m
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_rev_cents
FROM grid
"""


SLO_WINDOW_H = 6


def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate monitor (§2.3 windows — the SRE
    error-budget alerting pattern): per hour, the error rate over the
    hour itself and over the trailing {SLO_WINDOW_H}-hour window, plus
    the burn ratio and the page condition (short-window rate > 2× the
    long-window rate — a fast burn against a slow baseline). Two window
    lengths is what separates a blip from a budget fire.

    Plan: ONE partial-aggregated shuffle to the hour grain; both rates
    and the trailing sums ride RANGE frames over the tiny hourly table
    (value-based frames bridge missing hours correctly — a ROWS frame
    would silently span gaps). Integer ppm arithmetic end to end."""
    e = Catalog(spark, sf_dir).table("events")
    h = F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000).cast("long")
    hourly = e.groupBy(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
    )
    w6 = Window.orderBy("h").rangeBetween(-(SLO_WINDOW_H - 1), 0)
    rated = (
        hourly.withColumn("ev6", F.sum("n_events").over(w6))
        .withColumn("er6", F.sum("n_errors").over(w6))
        .select(
            "h",
            "n_events",
            "n_errors",
            F.expr("n_errors * 1000000 div n_events").alias("rate_1h_ppm"),
            F.expr("er6 * 1000000 div ev6").alias(f"rate_{SLO_WINDOW_H}h_ppm"),
        )
    )
    return rated.withColumn(
        "fast_burn",
        F.col("rate_1h_ppm") > 2 * F.col(f"rate_{SLO_WINDOW_H}h_ppm"),
    )


EVENTS_SLO_BURN_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS h,
         COUNT(*) AS n_events,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
  FROM events GROUP BY 1
),
rated AS (
  SELECT h, n_events, CAST(n_errors AS BIGINT) AS n_errors,
         CAST(n_errors AS BIGINT) * 1000000 // n_events AS rate_1h_ppm,
         CAST(SUM(n_errors) OVER (ORDER BY h RANGE BETWEEN {SLO_WINDOW_H - 1}
                                  PRECEDING AND CURRENT ROW) AS BIGINT)
           * 1000000
           // CAST(SUM(n_events) OVER (ORDER BY h RANGE BETWEEN {SLO_WINDOW_H - 1}
                                       PRECEDING AND CURRENT ROW) AS BIGINT)
           AS rate_{SLO_WINDOW_H}h_ppm
  FROM hourly
)
SELECT h, n_events, n_errors, rate_1h_ppm, rate_{SLO_WINDOW_H}h_ppm,
       rate_1h_ppm > 2 * rate_{SLO_WINDOW_H}h_ppm AS fast_burn
FROM rated
"""


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the hourly error stream (§2.3
    aggregation — the classic sequential drift detector): the one-sided
    cumulative sum s_t = max(0, s_{t-1} + err_t − k) with drift
    allowance k, alarming when s_t ≥ 5k. Unlike the SLO burn ratio
    (level alarm), CUSUM accumulates small persistent shifts — the
    detector that catches a slow regression long before any single
    window looks bad.

    The recurrence resets at zero, so no window expresses it (same
    class as Holt): the hour grain folds through a STRUCT accumulator
    that carries the running state AND emits the per-hour trace, then
    explodes back to rows. ALL-INTEGER arithmetic (counts vs the
    integer allowance k = ⌊total/n⌋+1) — exact on any engine; the
    oracle replays the recursion with a recursive CTE. Corpus-sized
    work is the one hour-grain aggregate; the fold runs over ≤ n_hours
    elements row-locally."""
    e = Catalog(spark, sf_dir).table("events")
    h = F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000).cast("long")
    hourly = e.groupBy(h.alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("err")
    )
    params = hourly.agg(
        (F.expr("sum(err) div count(1)") + 1).alias("k"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    series = (
        hourly.agg(F.array_sort(F.collect_list(F.struct("h", "err"))).alias("s"))
        .crossJoin(F.broadcast(params))
    )
    fold = (
        "aggregate(s, "
        "named_struct('c', CAST(0 AS BIGINT), 'rows', "
        "  CAST(array() AS array<struct<h:bigint,err:bigint,cusum:bigint>>)), "
        "(acc, x) -> named_struct("
        "  'c', greatest(CAST(0 AS BIGINT), acc.c + x.err - k), "
        "  'rows', concat(acc.rows, array(named_struct("
        "     'h', x.h, 'err', CAST(x.err AS BIGINT), "
        "     'cusum', greatest(CAST(0 AS BIGINT), acc.c + x.err - k))))))"
    )
    return (
        series.select("k", F.explode(F.expr(f"({fold}).rows")).alias("r"))
        .select(
            F.col("r.h").alias("h"),
            F.col("r.err").alias("n_errors"),
            "k",
            F.col("r.cusum").alias("cusum"),
            (F.col("r.cusum") >= 5 * F.col("k")).alias("alarm"),
        )
    )


EVENTS_CUSUM_CHANGEPOINT_SQL = """
WITH RECURSIVE hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS h,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS err
  FROM events GROUP BY 1
),
params AS (
  SELECT CAST(SUM(err) // COUNT(*) + 1 AS BIGINT) AS k FROM hourly
),
ordered AS (
  SELECT h, err, ROW_NUMBER() OVER (ORDER BY h) AS i FROM hourly
),
step(i, h, err, cusum) AS (
  SELECT o.i, o.h, o.err,
         GREATEST(0, o.err - (SELECT k FROM params))
  FROM ordered o WHERE o.i = 1
  UNION ALL
  SELECT o.i, o.h, o.err,
         GREATEST(0, s.cusum + o.err - (SELECT k FROM params))
  FROM step s JOIN ordered o ON o.i = s.i + 1
)
SELECT h, err AS n_errors, (SELECT k FROM params) AS k, cusum,
       cusum >= 5 * (SELECT k FROM params) AS alarm
FROM step
"""


INCIDENT_GAP_US = 30 * 60 * 1_000_000  # errors within 30 min = one incident
_DAY_US = 86_400_000_000  # gap-detection bucket width (1 UTC day)


def _error_islands(df: DataFrame) -> DataFrame:
    """Distributed gaps-and-islands over an event stream with GLOBAL
    incident numbering — the r3-advice fix for the unpartitioned
    ``Window.orderBy(ts, event_id)`` that forced the whole error stream
    through one task.

    Partitioned plan: events bucket by UTC day; within-bucket gap flags
    come from a day-partitioned lag window (parallel); the cross-bucket
    boundary (first event of each day vs the previous NON-EMPTY day's
    last event) and the global incident-count offset per bucket are
    resolved on the day-level summary — |days| rows, so the one
    remaining unpartitioned window is over a table that grows with the
    calendar, not the data (36.5k rows per century; at 100 TB this is
    the standard two-level sessionization and the day summary would be
    driver-trivial). Global inc_id = per-bucket running flag sum + the
    bucket's offset — identical numbering to the single-window form,
    which the DuckDB oracles still use (same result, different plan).

    Returns the input columns plus ``us`` (epoch micros) and ``inc_id``.
    """
    wd = Window.partitionBy("day").orderBy("ts", "event_id")
    marked = (
        df.withColumn("us", F.unix_micros(F.col("ts")))
        .withColumn("day", F.expr(f"unix_micros(ts) div {_DAY_US}"))
        .withColumn("prev_us", F.lag("us").over(wd))
        .withColumn(
            "new_inc_local",
            F.when(
                F.col("us") - F.col("prev_us") > INCIDENT_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("rn", F.row_number().over(wd))
    )
    summary = marked.groupBy("day").agg(
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.sum(F.when(F.col("rn") > 1, F.col("new_inc_local")).otherwise(0)).alias(
            "internal_new"
        ),
    )
    ws = Window.orderBy("day")
    boundaries = (
        summary.withColumn("prev_last_us", F.lag("last_us").over(ws))
        .withColumn(
            "first_flag",
            F.when(
                F.col("prev_last_us").isNull()
                | (F.col("first_us") - F.col("prev_last_us") > INCIDENT_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("bucket_new", F.col("internal_new") + F.col("first_flag"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bucket_new").over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("day", "first_flag", "offset")
    )
    return (
        marked.join(F.broadcast(boundaries), "day")
        .withColumn(
            "new_inc",
            F.when(F.col("rn") == 1, F.col("first_flag")).otherwise(
                F.col("new_inc_local")
            ),
        )
        .withColumn(
            "inc_id",
            (
                F.col("offset")
                + F.sum("new_inc").over(
                    wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            ).cast("bigint"),
        )
        .drop("day", "prev_us", "new_inc_local", "rn", "first_flag", "offset", "new_inc")
    )


def events_incident_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability read-out (§2.3 windows — MTTR/MTBF from the raw error
    stream): error events within {INCIDENT_GAP_US//60_000_000} minutes
    of each other coalesce into INCIDENTS (the gaps-and-islands shape);
    the report is one row — incident count, mean incident duration
    (≈ MTTR) and mean gap between consecutive incident starts (≈ MTBF),
    in exact integer seconds. The ops-dashboard twin of the SLO burn
    monitor: burn says "paging now", MTTR/MTBF say how the quarter went.

    Plan: day-bucketed gaps-and-islands over ERROR events only (filter
    pushed to the scan — the stream is error-sized, not event-sized;
    see ``_error_islands`` for the partitioned numbering), per-incident
    min/max agg, then a lag window + 1-row closing agg on the incident
    grain. Integer micros → seconds via `div` end to end."""
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type") == "error"
    )
    marked = _error_islands(e)
    incidents = marked.groupBy("inc_id").agg(
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.count(F.lit(1)).alias("n_errors"),
    )
    w_inc = Window.orderBy("start_us")
    with_gap = incidents.withColumn(
        "gap_us", F.col("start_us") - F.lag("end_us").over(w_inc)
    )
    return with_gap.agg(
        F.count(F.lit(1)).alias("n_incidents"),
        F.sum("n_errors").alias("n_error_events"),
        F.expr("sum(end_us - start_us) div count(1) div 1000000").alias(
            "mean_duration_s"
        ),
        F.expr(
            "sum(gap_us) div greatest(count(gap_us), 1) div 1000000"
        ).alias("mean_gap_s"),
        F.expr("max(end_us - start_us) div 1000000").alias("max_duration_s"),
    )


EVENTS_INCIDENT_MTTR_SQL = f"""
WITH err AS (
  SELECT ts, event_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error'
),
marked AS (
  SELECT us,
         CASE WHEN us - LAG(us) OVER (ORDER BY ts, event_id) IS NULL
                OR us - LAG(us) OVER (ORDER BY ts, event_id) > {INCIDENT_GAP_US}
              THEN 1 ELSE 0 END AS new_inc,
         ts, event_id
  FROM err
),
islands AS (
  SELECT us,
         SUM(new_inc) OVER (ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS inc_id
  FROM marked
),
incidents AS (
  SELECT inc_id, MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n_errors
  FROM islands GROUP BY inc_id
),
with_gap AS (
  SELECT *, start_us - LAG(end_us) OVER (ORDER BY start_us) AS gap_us
  FROM incidents
)
SELECT COUNT(*) AS n_incidents,
       CAST(SUM(n_errors) AS BIGINT) AS n_error_events,
       CAST(SUM(end_us - start_us) AS BIGINT) // COUNT(*) // 1000000
         AS mean_duration_s,
       CAST(SUM(gap_us) AS BIGINT) // GREATEST(COUNT(gap_us), 1) // 1000000
         AS mean_gap_s,
       CAST(MAX(end_us - start_us) AS BIGINT) // 1000000 AS max_duration_s
FROM with_gap
"""


ACF_LAGS = (1, 24, 168)  # hour, daily cycle, weekly cycle


def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-volume series at lags
    {ACF_LAGS} (§2.3 aggregation — the seasonality diagnostic): ACF(24)
    spiking says "daily cycle", ACF(168) "weekly cycle" — the check run
    before committing to seasonal forecast baselines
    (orders_seasonal_naive_eval) or capacity schedules
    (events_hourly_seasonality).

    Plan: ONE hour-grain aggregate; per lag, a self-equi-join on
    h = h + k over the tiny hourly table pairs x_t with x_{t+k}; the
    Pearson r per lag comes from exact integer moment sums in one
    closing pass (the agg_stats_moments tree). Hour-grain work
    throughout — the corpus is touched once."""
    e = Catalog(spark, sf_dir).table("events")
    h = F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000).cast("long")
    hourly = e.groupBy(h.alias("h")).agg(F.count(F.lit(1)).alias("x"))
    hourly = hourly.localCheckpoint(eager=True)
    out = None
    for k in ACF_LAGS:
        a = hourly.select(F.col("h").alias("ha"), F.col("x").alias("xa"))
        b = hourly.select((F.col("h") - k).alias("ha"), F.col("x").alias("xb"))
        sums = (
            a.join(b, "ha")
            .agg(
                F.lit(k).alias("lag_h"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("xa").alias("sx"),
                F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
                F.sum("xb").alias("sy"),
                F.sum(F.col("xb") * F.col("xb")).alias("syy"),
                F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            )
        )
        out = sums if out is None else out.unionByName(sums)
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    acf = (sxy - (sx * sy) / n) / (
        F.sqrt(sxx - (sx * sx) / n) * F.sqrt(syy - (sy * sy) / n)
    )
    return out.select(
        "lag_h",
        "n_pairs",
        acf.cast("decimal(18,6)").cast("double").alias("acf"),
    )


def _ddb_acf_lag(k: int) -> str:
    return f"""
  SELECT {k} AS lag_h, COUNT(*) AS n_pairs,
         CAST(SUM(a.x) AS BIGINT) AS sx, CAST(SUM(a.x*a.x) AS BIGINT) AS sxx,
         CAST(SUM(b.x) AS BIGINT) AS sy, CAST(SUM(b.x*b.x) AS BIGINT) AS syy,
         CAST(SUM(a.x*b.x) AS BIGINT) AS sxy
  FROM hourly a JOIN hourly b ON b.h = a.h + {k}"""


EVENTS_AUTOCORRELATION_SQL = f"""
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS x
  FROM events GROUP BY 1
),
sums AS ({" UNION ALL ".join(_ddb_acf_lag(k) for k in ACF_LAGS)}),
d AS (
  SELECT lag_h, n_pairs, CAST(n_pairs AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sy AS DOUBLE) AS syd, CAST(syy AS DOUBLE) AS syyd,
         CAST(sxy AS DOUBLE) AS sxyd
  FROM sums
)
SELECT lag_h, n_pairs,
       CAST(CAST((sxyd - (sxd * syd) / nd)
                 / (SQRT(sxxd - (sxd * sxd) / nd) * SQRT(syyd - (syd * syd) / nd))
            AS DECIMAL(18,6)) AS DOUBLE) AS acf
FROM d
"""


# ─── Multi-touch marketing attribution ─────────────────────────────────────

ATTR_WINDOW_US = 3 * 86_400 * 1_000_000  # 3-day lookback before each purchase
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last/linear-touch attribution (§2.3 events family — the
    marketing-analytics workhorse): for every purchase, the same user's
    non-purchase events in the 3-day lookback window are its TOUCHES;
    each channel (event_type) is credited under three standard models
    at once — first-touch, last-touch, and linear (1/n per touch).

    Linear credit stays exact: each purchase contributes
    1000·ch_touches div n_touches milli-credits (integer floor on
    non-negatives — never a float fold across purchases). First/last
    pin their tie-breaks on (ts, event_id).

    Plan (r11 second re-plan — running-count/as-of form, Ω(pair) →
    O(n log n)): every per-purchase statistic this query needs is a
    DIFFERENCE OF RUNNING COUNTS at the two window boundaries, so the
    quadratic (purchase × touches-in-band) intermediate never needs to
    exist. The first re-plan (grid-bucketed equi-join on
    (user, time-cell)) bounded the per-hot-key fan-IN but still
    materialized every true (purchase, touch) pair — and under Zipf the
    head user's pair count is itself quadratic (measured sf1-Zipf,
    isolated: raw user-keyed join 473 s, grid join 300 s, this plan
    ~10 s). Here:

    - ch_n(p, c)   = ccnt_c(p_us) − ccnt_c(p_us − W), where ccnt_c is
      the per-(user, channel) running touch count — evaluated by
      sort-MERGING boundary-probe rows into the touch stream (probes
      sort BEFORE equal-time touches, giving the strictly-before count,
      which is exactly the [P−W, P) window: t_us = P−W counts, t_us = P
      does not);
    - n_touches(p) = gcnt(p_us) − gcnt(p_us − W) on the per-user stream;
    - the FIRST touch in the window is the running min (t_us, t_id)
      struct at-or-after the LO probe (descending merge, equal-time
      touches visible to the probe), the LAST is the running max
      strictly-before the HI probe (ascending merge) — both guarded by
      n_touches > 0, which guarantees they land inside the window;
    - per-purchase reassembly is one groupBy(p_id) pivot of the probe
      rows; the channel rollup is unchanged.

    Volumes: touches + 2 probes/purchase on the user stream, touches +
    2·|channels| probes/purchase on the (user, channel) stream — linear
    in the input at every key, hot users included (a Zipf-head user
    costs one per-key SORT, never a pair join). The probe fan-out
    |channels| is the event-type alphabet (broadcast nested-loop over a
    ≤|types|-row frame), not a data-sized explode."""
    e = Catalog(spark, sf_dir).table("events")
    us = F.unix_micros(F.col("ts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), us.alias("p_us")
    )
    t = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("t_id"),
        us.alias("t_us"),
    )
    # one probe row per (purchase, boundary): bk 0 = window start
    # (p_us − W, inclusive side), bk 1 = window end (p_us, exclusive)
    probes = p.select(
        "user_id",
        "p_id",
        F.explode(
            F.array(
                F.struct(
                    (F.col("p_us") - F.lit(ATTR_WINDOW_US)).alias("b_us"),
                    F.lit(0).alias("bk"),
                ),
                F.struct(F.col("p_us").alias("b_us"), F.lit(1).alias("bk")),
            )
        ).alias("b"),
    ).select("user_id", "p_id", F.col("b.b_us").alias("b_us"), F.col("b.bk").alias("bk"))

    # ---- per-user stream: global counts + first/last touch structs ----
    tg = t.select(
        "user_id",
        "t_us",
        "t_id",
        "channel",
        F.lit(1).alias("is_t"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("int").alias("bk"),
    )
    pg = probes.select(
        "user_id",
        F.col("b_us").alias("t_us"),
        F.lit(None).cast("long").alias("t_id"),
        F.lit(None).cast("string").alias("channel"),
        F.lit(0).alias("is_t"),
        "p_id",
        "bk",
    )
    g = tg.unionByName(pg)
    # ascending: probes (is_t 0) sort before equal-time touches → a
    # probe at X sees exactly the touches with t_us < X. t_id breaks
    # touch ties; probe rows' null t_id sorts first among probes at the
    # same instant (their relative order is immaterial — they read, not
    # write, the carried state).
    w_asc = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("t_us"), F.asc("is_t"), F.asc("t_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # descending: touches (is_t 1 → desc puts them first) at the same
    # instant ARE visible to the probe → running min = first touch
    # AT-or-after the probe time (the inclusive window-start side).
    w_desc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t_us"), F.desc("is_t"), F.desc("t_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch_struct = F.when(
        F.col("is_t") == 1, F.struct("t_us", "t_id", "channel")
    )
    g2 = (
        g.withColumn("gcnt", F.sum("is_t").over(w_asc))
        .withColumn("last_before", F.max(touch_struct).over(w_asc))
        .withColumn("first_from", F.min(touch_struct).over(w_desc))
    )
    per_p = (
        g2.filter(F.col("is_t") == 0)
        .groupBy("p_id")
        .agg(
            F.max(F.when(F.col("bk") == 0, F.col("gcnt"))).alias("g_lo"),
            F.max(F.when(F.col("bk") == 1, F.col("gcnt"))).alias("g_hi"),
            F.max(F.when(F.col("bk") == 0, F.col("first_from"))).alias("first_s"),
            F.max(F.when(F.col("bk") == 1, F.col("last_before"))).alias("last_s"),
        )
        .filter(F.col("g_hi") > F.col("g_lo"))
        .select(
            "p_id",
            (F.col("g_hi") - F.col("g_lo")).alias("n_touches"),
            F.col("first_s.channel").alias("first_channel"),
            F.col("last_s.channel").alias("last_channel"),
        )
    )

    # ---- per-(user, channel) stream: windowed per-channel counts ----
    channels = t.select("channel").distinct()
    pc = probes.crossJoin(F.broadcast(channels))
    tc = t.select(
        "user_id",
        "channel",
        "t_us",
        "t_id",
        F.lit(1).alias("is_t"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("int").alias("bk"),
    )
    pcu = pc.select(
        "user_id",
        "channel",
        F.col("b_us").alias("t_us"),
        F.lit(None).cast("long").alias("t_id"),
        F.lit(0).alias("is_t"),
        "p_id",
        "bk",
    )
    w_c = (
        Window.partitionBy("user_id", "channel")
        .orderBy(F.asc("t_us"), F.asc("is_t"), F.asc("t_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c2 = tc.unionByName(pcu).withColumn("ccnt", F.sum("is_t").over(w_c))
    per_pc = (
        c2.filter(F.col("is_t") == 0)
        .groupBy("p_id", "channel")
        .agg(
            (
                F.max(F.when(F.col("bk") == 1, F.col("ccnt")))
                - F.max(F.when(F.col("bk") == 0, F.col("ccnt")))
            ).alias("ch_n")
        )
        .filter(F.col("ch_n") > 0)
        .join(per_p, "p_id")
        .select(
            "p_id",
            "channel",
            "ch_n",
            (F.col("channel") == F.col("first_channel")).cast("int").alias("is_first"),
            (F.col("channel") == F.col("last_channel")).cast("int").alias("is_last"),
            "n_touches",
        )
    )
    return (
        per_pc.groupBy("channel")
        .agg(
            F.sum("is_first").alias("n_first_touch"),
            F.sum("is_last").alias("n_last_touch"),
            F.sum(F.expr("1000 * ch_n div n_touches")).alias(
                "linear_credit_milli"
            ),
            F.countDistinct("p_id").alias("n_touched_conversions"),
        )
    )


EVENTS_ATTRIBUTION_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_type AS channel, event_id AS t_id, epoch_us(ts) AS t_us
  FROM events WHERE event_type <> 'purchase'
),
j AS (
  SELECT p.p_id, t.channel, t.t_id, t.t_us
  FROM p JOIN t USING (user_id)
  WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - {ATTR_WINDOW_US}
),
marked AS (
  SELECT p_id, channel,
         ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us ASC, t_id ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_us DESC, t_id DESC) AS rl,
         COUNT(*) OVER (PARTITION BY p_id) AS n_touches
  FROM j
),
per_pc AS (
  SELECT p_id, channel, COUNT(*) AS ch_n,
         MAX(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS is_first,
         MAX(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS is_last,
         MAX(n_touches) AS n_touches
  FROM marked GROUP BY 1, 2
)
SELECT channel,
       CAST(SUM(is_first) AS BIGINT) AS n_first_touch,
       CAST(SUM(is_last) AS BIGINT) AS n_last_touch,
       CAST(SUM(1000 * ch_n // n_touches) AS BIGINT) AS linear_credit_milli,
       COUNT(DISTINCT p_id) AS n_touched_conversions
FROM per_pc
GROUP BY channel
"""


MAD_K = 3.0


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type anomaly screen via median / MAD (§2.3 aggregation
    as data quality): events whose value sits more than {MAD_K}·MAD from
    the per-type median. The heavy-tail-safe twin of
    ``events_anomaly_zscore`` — one extreme bot value shifts a mean/std
    gate arbitrarily but moves the median/MAD gate not at all, which is
    why curation pipelines screen engagement signals with MAD.

    Exactness: "median" here is the LOWER median — the element at rank
    ⌊(n+1)/2⌋ of the per-type value sort — an order STATISTIC, not an
    interpolation, so the pinned number is a value that exists in the
    data and no cross-engine float arithmetic is involved. Deviations
    |v − med| are single IEEE subtractions both engines share.

    Plan: two keyed window sorts (value rank per type; deviation rank
    per type) and one keyed count agg — the per-type sort is the
    irreducible cost of an exact order statistic at 100 TB; both medians
    broadcast back (one row per type). Nothing driver-side.
    """
    e = Catalog(spark, sf_dir).table("events").select("event_type", "event_id", "value")
    w_rk = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_all = Window.partitionBy("event_type")
    med = (
        e.withColumn("rk", F.row_number().over(w_rk))
        .withColumn("cnt", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rk = (cnt + 1) div 2"))
        .select("event_type", F.col("value").alias("med"))
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    w_drk = Window.partitionBy("event_type").orderBy("adev", "event_id")
    mad = (
        dev.withColumn("rk", F.row_number().over(w_drk))
        .withColumn("cnt", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rk = (cnt + 1) div 2"))
        .select("event_type", F.col("adev").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("adev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0)
            ).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


EVENTS_ANOMALY_MAD_SQL = f"""
WITH e AS (
  SELECT event_type, event_id, value FROM events
), med AS (
  SELECT event_type, value AS med FROM (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM e
  ) WHERE rk = (cnt + 1) // 2
), dev AS (
  SELECT e.event_type, e.event_id, e.value, med.med,
         ABS(e.value - med.med) AS adev
  FROM e JOIN med USING (event_type)
), mad AS (
  SELECT event_type, adev AS mad FROM (
    SELECT event_type, adev,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rk,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM dev
  ) WHERE rk = (cnt + 1) // 2
)
SELECT dev.event_type,
       MIN(dev.med) AS med,
       MIN(mad.mad) AS mad,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN dev.adev > CAST({MAD_K} AS DOUBLE) * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
ORDER BY dev.event_type
"""


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap Jaccard between event types (§2.3 set-style
    aggregation — "do purchasers also click?" for k types → k·(k−1)/2
    pairs): |users(A) ∩ users(B)| / |users(A) ∪ users(B)| in exact ppm.

    Plan: distinct (event_type, user_id) is one keyed agg; the
    intersection is a self-equi-join keyed by user_id (at 100 TB the
    fan-out per user is ≤ k rows, so the join output is ≤ k²/2 · users —
    bounded by the TYPE cardinality, not data volume); set sizes attach
    broadcast (k rows). Union via |A|+|B|−|A∩B| — no second join.
    """
    e = Catalog(spark, sf_dir).table("events")
    tu = e.select("event_type", "user_id").distinct()
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("nu").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("nu").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr("n_both * 1000000 div (n_a + n_b - n_both)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("type_a", "type_b")
    )


EVENTS_AUDIENCE_OVERLAP_SQL = """
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
),
sizes AS (
  SELECT event_type, COUNT(*) AS nu FROM tu GROUP BY event_type
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.nu AS n_a, sb.nu AS n_b, n_both,
       n_both * 1000000 // (sa.nu + sb.nu - n_both) AS jaccard_ppm
FROM inter
JOIN sizes sa ON type_a = sa.event_type
JOIN sizes sb ON type_b = sb.event_type
ORDER BY type_a, type_b
"""


PATTERN_WINDOW_MIN = 30


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence pattern match (§2.3 events — the
    MATCH_RECOGNIZE / Flink-CEP capability): for every 'view', match the
    pattern  VIEW (¬ERROR)* PURCHASE  within {PATTERN_WINDOW_MIN}
    minutes, same user — i.e. the FIRST purchase strictly after the
    view, valid only if no error fired strictly between them and the
    purchase landed inside the window. The funnel (events_funnel)
    aggregates stage reach per user; this is the per-occurrence pattern
    stream a CEP engine emits.

    Plan: ONE user-keyed exchange — the events union sorts descending in
    time and two carries (nearest later purchase, nearest later error)
    ride the same window; the pattern predicate is then row-local. No
    joins, no per-pair materialization: |events| rows through a sort,
    the same shape as the as-of family. Determinism: equal-ts purchases
    pin to the highest event_id; same-ts-as-view events are excluded by
    the kind sort rank (strict > semantics on both pattern edges).
    """
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type").isin("view", "purchase", "error")
    )
    rows = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias("p_id"),
        F.when(F.col("event_type") == "purchase", F.unix_micros("ts")).alias("p_us"),
        F.when(F.col("event_type") == "error", F.unix_micros("ts")).alias("e_us"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_view"),
    )
    # descending time; views (kind 0) first at equal ts so same-ts
    # purchases/errors stay OUT of the view's frame (strict >); equal-ts
    # purchases order by event_id ASC so last() carries the MAX id
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = rows.select(
        "user_id",
        "ts",
        "event_id",
        "is_view",
        F.last("p_id", ignorenulls=True).over(w).alias("np_id"),
        F.last("p_us", ignorenulls=True).over(w).alias("np_us"),
        F.last("e_us", ignorenulls=True).over(w).alias("ne_us"),
    )
    v_us = F.unix_micros("ts")
    in_window = F.col("np_us") - v_us <= PATTERN_WINDOW_MIN * 60 * 1_000_000
    no_error_between = F.col("ne_us").isNull() | (F.col("ne_us") >= F.col("np_us"))
    matched = F.col("np_us").isNotNull() & in_window & no_error_between
    return (
        carried.filter(F.col("is_view") == 1)
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
            matched.alias("matched"),
            F.when(matched, F.col("np_id")).alias("purchase_id"),
            F.when(matched, F.col("np_us") - v_us).cast("bigint").alias("latency_us"),
        )
    )


EVENTS_PATTERN_MATCH_SQL = f"""
WITH v AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us FROM events WHERE event_type = 'view'),
p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
er AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'error'),
np AS (
  SELECT v.event_id AS view_id, p.event_id AS p_id, p.us AS p_us, v.us AS v_us,
         ROW_NUMBER() OVER (PARTITION BY v.event_id
                            ORDER BY p.ts ASC, p.event_id DESC) AS rn
  FROM v JOIN p ON v.user_id = p.user_id AND p.us > v.us
),
sel AS (SELECT view_id, p_id, p_us, v_us FROM np WHERE rn = 1),
flagged AS (
  SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
         s.p_id, s.p_us, v.us AS v_us,
         s.p_id IS NOT NULL
           AND s.p_us - v.us <= {PATTERN_WINDOW_MIN} * 60 * 1000000
           AND NOT EXISTS (SELECT 1 FROM er
                           WHERE er.user_id = v.user_id
                             AND er.us > v.us AND er.us < s.p_us) AS matched
  FROM v LEFT JOIN sel s ON s.view_id = v.event_id
)
SELECT view_id, user_id, view_ts, matched,
       CASE WHEN matched THEN p_id END AS purchase_id,
       CAST(CASE WHEN matched THEN p_us - v_us END AS BIGINT) AS latency_us
FROM flagged
"""


# Sequenced gate variant (large-SF gates only; the driver keeps the
# one-shot string above). The one-shot oracle's `np` CTE is v×p per
# user — quadratic on a Zipfian user key (the sf1-Zipf hub user owns
# ~44k views × ~4k purchases → billions of join rows; the r8 gate
# measured it filling 75 GB of spill ALONE). This form states the same
# pattern as one descending-time carry per user — the linear shape the
# Spark plan uses — and result-equality against the independent
# one-shot oracle is pinned at sf0.01 by
# tests/test_round8_ops.py::test_pattern_match_gate_oracle_parity.
# Sort semantics mirrored exactly: (ts DESC, kind ASC, event_id ASC)
# keeps same-ts purchases/errors OUT of the view's frame (strict >)
# and carries the MAX event_id across equal-ts purchases.
EVENTS_PATTERN_MATCH_SQL_STEPS = [
    f"""
WITH rows_ AS (
  SELECT user_id, ts, epoch_us(ts) AS us, event_id,
         CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind,
         CASE WHEN event_type = 'purchase' THEN event_id END AS p_id,
         CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_us,
         CASE WHEN event_type = 'error' THEN epoch_us(ts) END AS e_us,
         event_type = 'view' AS is_view
  FROM events WHERE event_type IN ('view', 'purchase', 'error')
),
carried AS (
  SELECT user_id, ts, us, event_id, is_view,
         LAST_VALUE(p_id IGNORE NULLS) OVER w AS np_id,
         LAST_VALUE(p_us IGNORE NULLS) OVER w AS np_us,
         LAST_VALUE(e_us IGNORE NULLS) OVER w AS ne_us
  FROM rows_
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, kind ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
flagged AS (
  SELECT event_id AS view_id, user_id, ts AS view_ts, np_id, np_us, us AS v_us,
         np_us IS NOT NULL
           AND np_us - us <= {PATTERN_WINDOW_MIN} * 60 * 1000000
           AND (ne_us IS NULL OR ne_us >= np_us) AS matched
  FROM carried WHERE is_view
)
SELECT view_id, user_id, view_ts, matched,
       CASE WHEN matched THEN np_id END AS purchase_id,
       CAST(CASE WHEN matched THEN np_us - v_us END AS BIGINT) AS latency_us
FROM flagged
"""
]


SEASONAL_MAD_K = 3


def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly screen (§2.3 — the composition
    events_anomaly_mad cannot express): hourly error counts compared to
    the MEDIAN for the same (day-of-week, hour-of-day) cell across the
    observed weeks, flagged when the residual exceeds {SEASONAL_MAD_K}×
    that cell's MAD. A plain global MAD gate fires every nightly peak as
    an "anomaly"; conditioning on the weekly seasonal cell is the
    standard fix (same residual-vs-seasonal-profile shape as an STL
    screen, without the transcendental smoothing an oracle can't pin).

    Exactness: counts are integers; both medians are LOWER-median order
    statistics (rank ⌊(n+1)/2⌋ — values that exist in the data); the
    gate is the cross-multiplied integer compare |resid| > K·MAD. No
    float appears anywhere. Plan: one hourly pre-agg (the fact-stream
    shuffle), then every window runs on the 168-cell × weeks grain —
    dimension-sized, the aggregate-first discipline.
    """
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type") == "error"
    )
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "hour_ts",
            "n",
            F.dayofweek("hour_ts").alias("dow"),
            F.hour("hour_ts").alias("hod"),
        )
    )
    w_rk = Window.partitionBy("dow", "hod").orderBy("n", "hour_ts")
    w_all = Window.partitionBy("dow", "hod")
    med = (
        hourly.withColumn("rk", F.row_number().over(w_rk))
        .withColumn("cnt", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rk = (cnt + 1) div 2"))
        .select("dow", "hod", F.col("n").alias("med"))
    )
    resid = hourly.join(med, ["dow", "hod"]).withColumn(
        "aresid", F.abs(F.col("n") - F.col("med"))
    )
    w_drk = Window.partitionBy("dow", "hod").orderBy("aresid", "hour_ts")
    mad = (
        resid.withColumn("rk", F.row_number().over(w_drk))
        .withColumn("cnt", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rk = (cnt + 1) div 2"))
        .select("dow", "hod", F.col("aresid").alias("mad"))
    )
    return (
        resid.join(mad, ["dow", "hod"])
        .filter(F.col("aresid") > SEASONAL_MAD_K * F.col("mad"))
        .select(
            "hour_ts",
            F.col("dow").cast("int").alias("dow"),
            F.col("hod").cast("int").alias("hod"),
            "n",
            "med",
            F.col("mad").cast("bigint").alias("mad"),
            (F.col("n") - F.col("med")).cast("bigint").alias("residual"),
        )
        .orderBy("hour_ts")
    )


EVENTS_SEASONAL_ANOMALY_SQL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
         dayofweek(date_trunc('hour', ts)) + 1 AS dow,
         hour(date_trunc('hour', ts)) AS hod
  FROM events WHERE event_type = 'error'
  GROUP BY 1
),
med AS (
  SELECT dow, hod, n AS med FROM (
    SELECT dow, hod, n,
           ROW_NUMBER() OVER (PARTITION BY dow, hod ORDER BY n, hour_ts) AS rk,
           COUNT(*) OVER (PARTITION BY dow, hod) AS cnt
    FROM hourly)
  WHERE rk = (cnt + 1) // 2
),
resid AS (
  SELECT h.*, m.med, ABS(h.n - m.med) AS aresid
  FROM hourly h JOIN med m USING (dow, hod)
),
mad AS (
  SELECT dow, hod, aresid AS mad FROM (
    SELECT dow, hod, aresid,
           ROW_NUMBER() OVER (PARTITION BY dow, hod ORDER BY aresid, hour_ts) AS rk,
           COUNT(*) OVER (PARTITION BY dow, hod) AS cnt
    FROM resid)
  WHERE rk = (cnt + 1) // 2
)
SELECT r.hour_ts, CAST(r.dow AS INT) AS dow, CAST(r.hod AS INT) AS hod,
       r.n, r.med, CAST(d.mad AS BIGINT) AS mad,
       CAST(r.n - r.med AS BIGINT) AS residual
FROM resid r JOIN mad d USING (dow, hod)
WHERE r.aresid > {SEASONAL_MAD_K} * d.mad
ORDER BY r.hour_ts
"""


GRID_CELL_US = 3_600_000_000  # 1-hour grid cells for the keyless interval join


def events_purchases_during_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases that landed inside an error INCIDENT window (§2.3 theta/
    range family — the KEYLESS interval join): incidents have no user
    key to co-locate on, so the scale-correct plan is GRID BUCKETING —
    explode each incident onto the 1-hour cells it covers (map-side,
    bounded by duration/cell), put each purchase in its own cell, and
    the candidate join becomes an EQUI-join on the cell id with the
    exact containment predicate as a residual. A broadcast works when
    the incident table is small; the grid join is the plan that
    survives when it is NOT — the same interval-join technique database
    engines implement internally, spelled out as a Spark plan (a point
    lives in exactly one cell, so no pair dedup is needed).

    Output: per incident — bounds, duration, and how many purchases (and
    how much value) arrived while it was open; incidents with zero
    purchases survive via the left join (the interesting rows for a
    "did the outage cost us" readout). Integer-exact: bounds and
    durations in epoch micros, value as exact cents.
    """
    e = Catalog(spark, sf_dir).table("events")
    err = e.filter(F.col("event_type") == "error")
    incidents = (
        _error_islands(err)
        .groupBy("inc_id")
        .agg(
            F.min("us").alias("start_us"),
            (F.max("us") + INCIDENT_GAP_US).alias("end_us"),
        )
    )
    cells = incidents.select(
        "inc_id",
        "start_us",
        "end_us",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {GRID_CELL_US}"),
                F.expr(f"end_us div {GRID_CELL_US}"),
            )
        ).alias("cell"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.unix_micros("ts").alias("p_us"),
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.expr(f"unix_micros(ts) div {GRID_CELL_US}").alias("cell"),
    )
    hits = (
        cells.join(p, "cell")
        .filter((F.col("p_us") >= F.col("start_us")) & (F.col("p_us") < F.col("end_us")))
        .groupBy("inc_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("v").alias("v_sum"),
        )
    )
    return (
        incidents.join(hits, "inc_id", "left")
        .select(
            "inc_id",
            "start_us",
            "end_us",
            F.expr(f"(end_us - start_us) div 1000000").alias("duration_s"),
            F.coalesce("n_purchases", F.lit(0)).cast("int").alias("n_purchases"),
            F.coalesce(F.col("v_sum"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("purchase_value"),
        )
        .orderBy("inc_id")
    )


EVENTS_PURCHASES_DURING_INCIDENTS_SQL = f"""
WITH err AS (
  SELECT event_id, ts, epoch_us(ts) AS us FROM events WHERE event_type = 'error'
),
marked AS (
  SELECT us,
         CASE WHEN LAG(us) OVER (ORDER BY ts, event_id) IS NULL
                OR us - LAG(us) OVER (ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_inc,
         ts, event_id
  FROM err
),
numbered AS (
  SELECT us, CAST(SUM(new_inc) OVER (ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS inc_id
  FROM marked
),
incidents AS (
  SELECT inc_id, MIN(us) AS start_us, MAX(us) + 1800000000 AS end_us
  FROM numbered GROUP BY inc_id
),
p AS (
  SELECT event_id AS p_id, epoch_us(ts) AS p_us,
         CAST(value AS DECIMAL(18,2)) AS v,
         epoch_us(ts) // {GRID_CELL_US} AS cell
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT inc_id, start_us, end_us,
         UNNEST(generate_series(start_us // {GRID_CELL_US},
                                end_us // {GRID_CELL_US})) AS cell
  FROM incidents
),
hits AS (
  SELECT c.inc_id, COUNT(*) AS n_purchases, SUM(p.v) AS v_sum
  FROM cells c JOIN p USING (cell)
  WHERE p.p_us >= c.start_us AND p.p_us < c.end_us
  GROUP BY c.inc_id
)
SELECT i.inc_id, i.start_us, i.end_us,
       (i.end_us - i.start_us) // 1000000 AS duration_s,
       CAST(COALESCE(h.n_purchases, 0) AS INT) AS n_purchases,
       CAST(COALESCE(h.v_sum, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
FROM incidents i LEFT JOIN hits h USING (inc_id)
ORDER BY i.inc_id
"""


HAAR_LEVELS = 3


def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet detail-energy profile of the daily value series —
    the multi-resolution screen that says WHICH timescale carries the
    variance (day-to-day jitter vs 2-day vs 4-day swings), the
    decomposition step behind wavelet denoising and changepoint
    localization. Level ℓ pairs adjacent 2^(ℓ−1)-day block sums and
    measures Σ(left−right)²/4^ℓ.

    Exactness: the series is floor-cents-quantized BEFORE summation
    (raw-float column invariant), block sums and the squared-difference
    numerator stay BIGINT, and each level divides ONCE at the end —
    dyadic denominators, bit-stable. Missing days contribute zero on
    both engines by construction (absent rows simply don't add).

    Plan: one (day)-keyed partial agg builds the daily grain (|days|
    rows); each level is ONE keyed agg over that tiny grain (block id =
    rel-day div 2^ℓ) — corpus scanned once, levels cost |days| each.
    At 100 TB the daily grain is still calendar-bounded.
    """
    e = Catalog(spark, sf_dir).table("events")
    daily = (
        e.groupBy(F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"))
        .agg(F.sum(F.expr("CAST(FLOOR(value * 100) AS BIGINT)")).alias("v"))
    )
    daily = daily.crossJoin(
        F.broadcast(daily.agg(F.min("d").alias("d0")))
    ).select((F.col("d") - F.col("d0")).alias("dr"), "v")
    daily = daily.localCheckpoint(eager=True)
    out = None
    for lvl in range(1, HAAR_LEVELS + 1):
        half = 2 ** (lvl - 1)
        block = (F.col("dr") / (2 * half)).cast("long")
        parity = ((F.col("dr") / half).cast("long") % 2)
        lv = (
            daily.groupBy(block.alias("b"))
            .agg(
                F.sum(F.when(parity == 0, F.col("v")).otherwise(F.lit(0))).alias("l"),
                F.sum(F.when(parity == 1, F.col("v")).otherwise(F.lit(0))).alias("r"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum(
                    (F.col("l") - F.col("r")) * (F.col("l") - F.col("r"))
                ).alias("detail_num"),
            )
            .select(
                F.lit(lvl).cast("int").alias("level"),
                "n_blocks",
                "detail_num",
                # NO decimal pin here — it would be the bug: at sf1 the
                # energy × 10^6 exceeds 2^53, so a double→DECIMAL(x,6)
                # conversion must round, and the r8 sf1-Zipf gate caught
                # it rounding DIFFERENTLY per engine (and per Spark
                # codepath: 226346298304.75 vs .75003). The denominator
                # is dyadic (4^lvl) and int64→double conversion is
                # IEEE round-to-nearest in both engines, so the PLAIN
                # double division is itself deterministic cross-engine
                # at every magnitude.
                (F.col("detail_num") / F.lit(float(4 ** lvl)))
                .alias("detail_energy"),
            )
        )
        out = lv if out is None else out.unionByName(lv)
    return out


def _haar_level_sql(lvl: int) -> str:
    half = 2 ** (lvl - 1)
    return f"""
  SELECT {lvl} AS level,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM((l - r) * (l - r)) AS BIGINT) AS detail_num,
         CAST(SUM((l - r) * (l - r)) AS BIGINT)
              / CAST({float(4 ** lvl)} AS DOUBLE)
           AS detail_energy
  FROM (
    SELECT dr // {2 * half} AS b,
           CAST(SUM(CASE WHEN (dr // {half}) % 2 = 0 THEN v ELSE 0 END)
                AS BIGINT) AS l,
           CAST(SUM(CASE WHEN (dr // {half}) % 2 = 1 THEN v ELSE 0 END)
                AS BIGINT) AS r
    FROM rel GROUP BY dr // {2 * half}
  )"""


EVENTS_HAAR_ENERGY_SQL = (
    """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1
),
rel AS MATERIALIZED (
  SELECT d - (SELECT MIN(d) FROM daily) AS dr, v FROM daily
)
"""
    + " UNION ALL ".join(_haar_level_sql(l) for l in range(1, HAAR_LEVELS + 1))
)


def events_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument + PARTITION BY (the Spark-4
    table-function input surface the lateral UDTFs don't cover): the
    engine partitions the input relation BY KEY and feeds each
    partition's rows to one UDTF instance — ``eval`` accumulates,
    ``terminate`` emits the per-key summary. This is the imperative
    per-group aggregator escape hatch (real parsers, sessionizers,
    stateful scoring) with the JOIN/SHUFFLE handled declaratively by
    the planner.

    Summary computed imperatively per user: event count, span of
    epoch-micros timestamps. The declarative twin is a plain groupBy —
    which IS the oracle, so the green row proves the table-arg
    partitioning delivers every row to exactly one instance, once.

    Scale: per-key state only (two longs + a count), key-parallel
    across executors; Arrow-batched row feed.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n bigint, first_us bigint, last_us bigint, span_us bigint")
    class UserSpan:
        def __init__(self):
            self._uid = None
            self._n = 0
            self._first = None
            self._last = None

        def eval(self, row):
            self._uid = row["user_id"]
            us = row["us"]
            self._n += 1
            self._first = us if self._first is None else min(self._first, us)
            self._last = us if self._last is None else max(self._last, us)

        def terminate(self):
            if self._uid is not None:
                yield (
                    self._uid,
                    self._n,
                    self._first,
                    self._last,
                    self._last - self._first,
                )

    spark.udtf.register("user_span_udtf", UserSpan)
    Catalog(spark, sf_dir).table("events").createOrReplaceTempView(
        "__events_for_udtf"
    )
    return spark.sql(
        "SELECT * FROM user_span_udtf("
        "  TABLE(SELECT user_id, unix_micros(ts) AS us FROM __events_for_udtf)"
        "  PARTITION BY user_id)"
    )


EVENTS_UDTF_TABLE_ARG_SQL = """
SELECT user_id,
       COUNT(*) AS n,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
       CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS BIGINT) AS span_us
FROM events
GROUP BY user_id
"""
