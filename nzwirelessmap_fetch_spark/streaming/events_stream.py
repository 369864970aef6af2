"""Structured Streaming operators (SURVEY.md §2.3 streaming row — absent in
the batch-only reference; first-class here).

Both operators run the parquet fixture through a REAL streaming query
(file source → watermark → stateful agg → memory sink, driven to completion
with ``processAllAvailable``) so the registry exercises the streaming
engine, not a batch re-phrasing.

Determinism: with a single source file the stream is one data micro-batch
plus a no-data finalization batch; append mode then emits exactly the
windows with ``window.end <= max(ts) - delay`` — a closed-form condition
the DuckDB oracle states directly.

At scale the same code runs on a directory of arriving files / Kafka topic;
state store + watermark semantics are unchanged.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_conf

WATERMARK = "10 minutes"
WINDOW = "5 minutes"
_query_counter = itertools.count()

_RAW_EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # parquet TIMESTAMP(NANOS) as int64
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UTC pin mirrors catalog.Catalog.__post_init__ — streaming reads
    # bypass the Catalog, and the driver's session may not be UTC.
    from ..catalog import SCHEMAS, parquet_ts_unit

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        # directory-shaped table (multi-file fixtures, e.g. the sf1
        # scaling replica): stream the directory itself. A
        # pathGlobFilter would match FILE names inside it — with the
        # old sf_dir + glob formulation a directory layout silently
        # matched ZERO files and the stream ran empty (caught by the
        # r6 sf1 sweep's impossible 0.2 s timings).
        def reader(schema):
            return spark.readStream.schema(schema).parquet(path)

    else:

        def reader(schema):
            return (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir)
            )

    if parquet_ts_unit(path, "ts") != "ns":
        # TIMESTAMP(MICROS) fixtures: plain typed read, no truncation.
        return reader(SCHEMAS["events"])
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = reader(_RAW_EVENTS)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


# State-store instances per stateful operator. This is a STATE-VOLUME
# knob, not a core-count knob: each instance costs a per-micro-batch
# commit (and for Pandas-state ops a Python worker round-trip), so at
# fixture volume 8 instances run ~3× faster than 32 while production
# deployments size it to keep per-instance state in memory. Fixed at
# checkpoint creation in real pipelines — choose for peak state, not CPUs.
STREAM_STATE_PARTITIONS = 8


def _state_partitions_for(sf_dir: str) -> int:
    """Size state-store instances from the INPUT VOLUME — the r6 sf1
    sweep measured the Pandas-state op at 22.6 s with the fixture-pinned
    8 instances on 10× data vs 10.6 s at 16/32 (per-instance Arrow
    round-trips dominate once per-key state grows). One instance per
    ~1 MB of event bytes, clamped to [8, 64]; at sf0.1 (2 MB) this
    resolves to the measured-optimal 8, at the sf1 replica (21 MB) to
    ~20. Production pins
    this at checkpoint creation; re-sizing an EXISTING checkpoint's
    state requires an offline repartition, which is why the rule keys
    on stable input volume, not core count."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        nbytes = sum(
            e.stat().st_size for e in os.scandir(path) if e.is_file()
        )
    else:
        nbytes = os.path.getsize(path)
    return max(8, min(64, nbytes // (1 << 20)))


# Per-run micro-batch attribution, filled by _run_to_completion from the
# engine's own StreamingQueryProgress (r10 verdict directive #3: the
# sf1-Zipf streaming tail needs MEASURED batch/state breakdowns before
# any re-plan). Read-only diagnostics — tools/attr_streaming_tail.py
# consumes it; nothing in the query path depends on it.
LAST_RUN_METRICS: dict = {}


def _run_to_completion(
    agg: DataFrame,
    spark: SparkSession,
    mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    name = f"stream_out_{next(_query_counter)}"
    with session_conf(
        spark,
        "spark.sql.shuffle.partitions",
        str(state_partitions or STREAM_STATE_PARTITIONS),
    ):
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            progress = [p for p in (q.recentProgress or []) if p]
            last = q.lastProgress or {}
            q.stop()
    # recentProgress retains only the newest
    # spark.sql.streaming.numRecentProgressUpdates (default 100)
    # batches; on longer runs record how many fell off rather than
    # silently under-reporting (no-silent-caps rule)
    total_batches = int(last.get("batchId", -1)) + 1
    LAST_RUN_METRICS.clear()
    LAST_RUN_METRICS.update(
        {
            "n_batches": max(len(progress), total_batches),
            "batches_dropped_from_progress": max(
                0, total_batches - len(progress)
            ),
            "batches": [
                {
                    "batch_id": p.get("batchId"),
                    "input_rows": p.get("numInputRows"),
                    "duration_ms": p.get("durationMs"),
                    "state": [
                        {
                            "operator": s.get("operatorName"),
                            "total_state_rows": s.get("numRowsTotal"),
                            "updated_rows": s.get("numRowsUpdated"),
                            "removed_rows": s.get("numRowsRemoved"),
                            "commit_ms": s.get("commitTimeMs"),
                            "memory_bytes": s.get("memoryUsedBytes"),
                        }
                        for s in p.get("stateOperators", [])
                    ],
                }
                for p in progress
            ],
        }
    )
    # the frame keeps the memory sink it reads; the view would keep every
    # run's output on the driver for the whole session
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type with a 10-minute watermark;
    append mode emits only watermark-finalized windows."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = _run_to_completion(agg, spark)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


STREAM_WINDOWED_COUNTS_SQL = """
WITH b AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS ws
  FROM events
),
mx AS (SELECT MAX(ts) AS mt FROM events)
SELECT ws                          AS window_start,
       ws + INTERVAL 5 MINUTE      AS window_end,
       event_type,
       COUNT(*)                    AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b, mx
WHERE ws + INTERVAL 5 MINUTE <= mt - INTERVAL 10 MINUTE
GROUP BY ws, event_type
"""


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming ``session_window`` (30-minute gap) per user —
    the streaming twin of operators/sessionize.py. Oracle-checked: with a
    complete input, append-mode emission has the closed form "session end
    ≤ final watermark" (STREAM_SESSION_WINDOWS_SQL)."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_completion(agg, spark)
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "user_id",
        "n_events",
    )


IDLE_TIMEOUT_MS = 30 * 60 * 1000  # 30-minute per-user idle timeout

_USER_STATS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_types", T.IntegerType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)
# State: (event count, last event time in epoch-micros, distinct types seen).
_USER_STATS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("types", T.ArrayType(T.StringType())),
    ]
)


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running stats, emitted when the user goes idle for 30 minutes of EVENT
    time (GroupStateTimeout.EventTimeTimeout against the watermark).

    This is the operator shape Spark's built-ins can't express — arbitrary
    per-key state (here a distinct-type set) with custom emission policy —
    and the template for per-key training-data accumulators at 100 TB:
    state lives in the executor state store partitioned by user_id, data
    arrives as Arrow batches, nothing touches the driver.

    Deterministic contract (single fixture file ⇒ one data micro-batch +
    one finalization batch): a user emits iff
    ``last_ts + 30 min < max(ts) - watermark_delay`` — stated directly by
    the DuckDB oracle. Integer/timestamp outputs only, so no float-order
    nondeterminism across Arrow chunk boundaries."""
    import pandas as pd  # local import: Arrow path only

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            n, last_us, types = state.get
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [len(types)],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            state.remove()
            return
        n, last_us, types = (0, 0, []) if not state.exists else state.get
        seen = set(types)
        for pdf in pdf_iter:
            n += len(pdf)
            last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
            seen.update(pdf["event_type"])
        state.update((n, last_us, sorted(seen)))
        state.setTimeoutTimestamp(last_us // 1000 + IDLE_TIMEOUT_MS)

    events = _event_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    agg = events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_USER_STATS_OUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    return _run_to_completion(
        agg, spark, state_partitions=_state_partitions_for(sf_dir)
    )


STREAM_STATEFUL_USER_STATS_SQL = """
WITH mx AS (SELECT MAX(ts) AS mt FROM events),
agg AS (
  SELECT user_id,
         COUNT(*)                   AS n_events,
         CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
         MAX(ts)                    AS last_ts
  FROM events
  GROUP BY user_id
)
SELECT user_id, n_events, n_types, last_ts
FROM agg, mx
WHERE last_ts + INTERVAL 30 MINUTE < mt - INTERVAL 10 MINUTE
"""


JOIN_LOOKBACK = "30 minutes"
# Grid cell for the stream-join equality key = the lookback width (r11,
# from the measured sf1-Zipf attribution): the symmetric hash join
# probes state per EQUALITY key, so with user_id alone the Zipf-head
# user's purchases × clicks (10,183 × 51,034 ≈ 520 M probe pairs at
# sf1-Zipf) ran through one state partition — 225 s of the 228 s wall
# was that single addBatch. Adding a time-cell to the key bounds probes
# per (user, cell) to the band-adjacent rows. The CLICK side explodes
# onto its 2 candidate cells {cell(c), cell(c)+1} (a matching purchase
# has cell(p) ∈ that set, and each (p, c) pair matches via exactly one
# copy); the PURCHASE side keeps its single home cell, so left-outer
# null emission stays one row per unmatched purchase. Click state
# doubles (2 copies) — the scale-correct trade.
JOIN_CELL_US = 30 * 60 * 1_000_000


def _join_sides(ev: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Watermarked purchase/click sides for the stream-stream joins,
    keyed on (user, time-cell) — see JOIN_CELL_US."""
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.expr(f"unix_micros(ts) div {JOIN_CELL_US}").alias("p_cell"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.explode(
                F.array(
                    F.expr(f"unix_micros(ts) div {JOIN_CELL_US}"),
                    F.expr(f"unix_micros(ts) div {JOIN_CELL_US} + 1"),
                )
            ).alias("c_cell"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    return p, c


def _join_cond():
    return (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_cell") == F.col("c_cell"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_LOOKBACK}"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to the same
    user's clicks in the preceding 30 minutes of event time.

    Both sides carry a watermark and the join predicate bounds event-time
    distance, so Spark can size the join state: click state is droppable
    once the purchase-side watermark passes ts + 30 min — at 100 TB of
    events/day this is what makes the join runnable at all (unbounded
    stream-stream joins must keep EVERYTHING). Inner-join matches emit as
    soon as both rows have arrived, so the complete fixture yields exactly
    the batch interval-join result — the oracle states it directly.

    r11: the equality key is (user, time-cell), not user alone — see
    JOIN_CELL_US for the measured sf1-Zipf justification (520 M
    single-partition state probes for the head user with a user-only
    key; 225 s of the 228 s wall in one addBatch)."""
    ev = _event_stream(spark, sf_dir)
    p, c = _join_sides(ev)
    joined = p.join(c, _join_cond(), "inner").select(
        "p_event_id", "c_event_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts"
    )
    return _run_to_completion(joined, spark)


STREAM_STREAM_JOIN_SQL = """
SELECT p.event_id AS p_event_id,
       c.event_id AS c_event_id,
       p.user_id  AS user_id,
       p.ts       AS p_ts,
       c.ts       AS c_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
"""


def stream_to_versioned_sink(
    spark: SparkSession, sf_dir: str, out_root: str
) -> dict:
    """``foreachBatch`` bridge: the streaming plan feeds the SAME versioned
    artifact layer batch pipelines use (sinks/writers.py P15/P18) — each
    non-empty micro-batch is one publish of ``events_counts/batch=<id>``
    NDJSON (``latest`` refreshed first, the logged commit last), so
    downstream consumers of the reference's artifact contract can't tell
    streaming wrote it.

    ``foreachBatch`` hands the sink a NORMAL DataFrame per micro-batch:
    any batch writer (JDBC, bucketed table, MERGE) plugs in unchanged.
    Batch id gives exactly-once bookkeeping: a replayed batch id whose
    version is already committed is skipped, so a restarted query leaves
    one log entry per batch (the reference's marker semantics, per
    micro-batch). Returns {batches, rows} written by this call."""
    from ..sinks.writers import VersionedArtifactSink

    sink = VersionedArtifactSink(out_root)
    seen = {"batches": 0, "rows": 0}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # count() first: a stateful batch must consume every partition
        # (Spark validates the state-store commits), even when skipped
        n = batch_df.count()
        version = f"batch={batch_id}"
        if n == 0 or sink.exists("events_counts", version):
            return
        sink.write_versioned_ndjson(batch_df, "events_counts", version)
        seen["batches"] += 1
        seen["rows"] += n

    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return seen


# Append-mode emission of streaming session windows has a closed form with
# a complete input: a session (30-min-gap merge) emits iff its window end
# (last event + gap) is at or below the final watermark (max ts − delay).
# That makes the "non-SQL-expressible" stateful op oracle-checkable after
# all — the CTE below is the batch sessionize logic plus that filter.
STREAM_SESSION_WINDOWS_SQL = """
WITH gaps AS (
  SELECT user_id, event_id, ts,
         epoch_us(ts) - LAG(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts,
         SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM gaps
),
sessions AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events
  FROM marked GROUP BY user_id, session_idx
),
mx AS (SELECT MAX(ts) AS mt FROM events)
SELECT session_start, session_end, user_id, n_events
FROM sessions, mx
WHERE session_end <= mt - INTERVAL 10 MINUTE
"""


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on
    event_id — the ingestion guard every at-least-once pipeline needs
    (Kafka redeliveries, retried uploads). State = one entry per key seen
    within the watermark horizon, evicted as the watermark advances —
    bounded state, unlike batch dedup which must see everything.
    (Plain ``dropDuplicates`` on a non-event-time subset would keep state
    for every distinct key FOREVER — the watermark only evicts when the
    subset includes the event-time column or via the WithinWatermark
    variant, which is the point of this operator.)

    Output pins only the key column: for duplicate keys the streaming
    engine keeps the FIRST-processed row, which is partition-order
    dependent — key identity is the deterministic contract (oracle:
    SELECT DISTINCT event_id; exact as long as duplicate deliveries land
    within one watermark horizon, the at-least-once redelivery model)."""
    deduped = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return _run_to_completion(deduped, spark)


STREAM_DEDUP_EVENTS_SQL = """
SELECT DISTINCT event_id FROM events
"""


def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping 10-minute windows sliding every 5 minutes per event_type
    (the streaming twin of plans.relational.agg_sliding_windows): each
    event enters width/slide = 2 window states; append mode emits a
    window once the watermark passes its end. State is bounded by
    (watermark + width) / slide windows per key — the overlap factor
    multiplies state size, not the emission contract."""
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    out = _run_to_completion(agg, spark)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


# Append-mode closed form with a complete input: the final watermark is
# max(ts) - 10min, and a window is emitted iff window_end <= watermark.
# Each event expands to its two hopping windows on the 5-minute grid.
STREAM_SLIDING_COUNTS_SQL = """
WITH expanded AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000
                        - k * 300000000) AS ws
  FROM events
  CROSS JOIN (SELECT UNNEST([0, 1]) AS k) ks
),
mx AS (SELECT MAX(ts) AS mt FROM events)
SELECT ws                           AS window_start,
       ws + INTERVAL 10 MINUTE      AS window_end,
       event_type,
       COUNT(*)                     AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded, mx
WHERE ws + INTERVAL 10 MINUTE <= mt - INTERVAL 10 MINUTE
GROUP BY ws, event_type
"""


def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch (§2.3 streaming × §2.3 sketch family):
    the running user-frequency sketch maintained over the event stream in
    COMPLETE output mode — the watermark-free bounded-state case.

    Every other unwindowed streaming aggregation grows state with key
    cardinality and needs a watermark to stay bounded; a mergeable
    sketch's state is FIXED at d·w = 2048 cells no matter how long the
    stream runs or how many distinct users appear — cell counts are
    associative sums, so micro-batches merge by addition. This is the
    production shape for "top talkers since launch" dashboards: the
    sketch IS the state, snapshot each micro-batch.

    Deterministic oracle: cell counts are order-independent sums, so the
    batch replay (same md5-slice hashing in DuckDB) produces the
    identical 2048-cell table regardless of micro-batch boundaries.
    """
    from ..operators.sketches import cms_cell_counts

    agg = cms_cell_counts(_event_stream(spark, sf_dir))
    # complete mode snapshots the whole (bounded) sketch each micro-batch
    return _run_to_completion(agg, spark, mode="complete")


def _stream_cms_cells_sql() -> str:
    from ..operators.sketches import CMS_DEPTH, CMS_WIDTH

    rows = ",".join(str(i) for i in range(CMS_DEPTH))
    return f"""
SELECT r,
       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8*r, 8))::BIGINT
         % {CMS_WIDTH} AS c,
       COUNT(*) AS cnt
FROM events CROSS JOIN (SELECT UNNEST([{rows}]) AS r) rs
GROUP BY 1, 2
"""


STREAM_CMS_CELLS_SQL = _stream_cms_cells_sql()


def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per tumbling window — the CHAINED-stateful
    pattern: streaming aggregations cannot hold a COUNT(DISTINCT) (state
    would be a per-group set with no merge-discard bound), so the distinct
    runs as its own upstream stateful operator: watermark →
    dropDuplicates on (event_type, user_id, window) → windowed count of
    the survivors. Two state stores, each with a watermark-driven
    eviction bound: the dedup store holds one row per distinct key per
    in-flight window, the agg store one counter per (window, type).

    This multi-stateful chain (dedup feeding an event-time aggregation in
    one query) is the load-bearing capability — the same shape implements
    exact sessionized uniques and first-touch attribution. At scale the
    dedup store dominates; STREAM_STATE_PARTITIONS sizes to ITS volume.
    """
    s = _event_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    dedup = s.select(
        "ts", "user_id", "event_type", F.window("ts", WINDOW).alias("w")
    ).dropDuplicates(["event_type", "user_id", "w"])
    agg = dedup.groupBy("w", "event_type").agg(
        F.count(F.lit(1)).alias("distinct_users")
    )
    out = _run_to_completion(agg, spark)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "distinct_users",
    )


STREAM_WINDOWED_DISTINCT_SQL = """
WITH b AS (
  SELECT event_type, user_id,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS ws
  FROM events
),
mx AS (SELECT MAX(ts) AS mt FROM events)
SELECT ws                          AS window_start,
       ws + INTERVAL 5 MINUTE      AS window_end,
       event_type,
       COUNT(DISTINCT user_id)     AS distinct_users
FROM b, mx
WHERE ws + INTERVAL 5 MINUTE <= mt - INTERVAL 10 MINUTE
GROUP BY ws, event_type
"""


UPSERT_STAGE_FILES = 4


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE sink via ``foreachBatch`` (§2.3 streaming +
    P18 sink semantics): events are staged into {UPSERT_STAGE_FILES}
    files and streamed with ``maxFilesPerTrigger=1``, so the query runs
    REAL multiple micro-batches; each batch upserts into a versioned
    parquet target — per-user event counts ACCUMULATE (additive merge)
    and the (event_type, value, ts) payload is last-write-wins by
    (ts, event_id).

    Both merge functions are commutative/associative over batches
    (count-sum; argmax by a total order), so the FINAL state is
    independent of micro-batch arrival order — which is what makes an
    exact oracle possible and is exactly the property a production
    upsert sink needs for restart/replay safety (re-offering a batch id
    with MAX-merge is idempotent; the count accumulator relies on the
    file source's exactly-once batch planning).

    Plan, per batch: one keyed agg (user_id) on batch data + one keyed
    outer merge against the current state — state table is user-sized,
    not event-sized. Each version lands as its own parquet dir
    (marker-last layout via path naming), the reference's idempotent
    versioned-artifact contract applied to streaming state.
    """
    import shutil
    import tempfile

    stage_root = tempfile.mkdtemp(prefix="upsert_stage_")
    state_root = f"{stage_root}/state"
    try:
        # deterministic staging: split by user_id range so file contents
        # (though not batch order) are stable; order-independence of the
        # merge makes batch order irrelevant to the final state
        from ..catalog import Catalog

        ev = Catalog(spark, sf_dir).table("events")
        ev.withColumn(
            "shard", F.pmod(F.col("user_id"), F.lit(UPSERT_STAGE_FILES))
        ).repartition(UPSERT_STAGE_FILES, "shard").drop("shard").write.parquet(
            f"{stage_root}/src"
        )

        from ..catalog import SCHEMAS

        src = (
            spark.readStream.schema(SCHEMAS["events"])
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{stage_root}/src")
        )

        versions = {"n": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_state = batch_df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max(F.struct("ts", "event_id", "event_type", "value")).alias(
                    "last"
                ),
            )
            prev = versions["n"]
            if prev > 0:
                cur = spark.read.parquet(f"{state_root}/v{prev}")
                merged = (
                    cur.select(
                        "user_id",
                        F.col("n_events").alias("n0"),
                        F.col("last").alias("l0"),
                    )
                    .join(
                        batch_state.select(
                            "user_id",
                            F.col("n_events").alias("n1"),
                            F.col("last").alias("l1"),
                        ),
                        "user_id",
                        "full_outer",
                    )
                    .select(
                        "user_id",
                        (
                            F.coalesce(F.col("n0"), F.lit(0))
                            + F.coalesce(F.col("n1"), F.lit(0))
                        ).alias("n_events"),
                        F.greatest(F.col("l0"), F.col("l1")).alias("last"),
                    )
                )
            else:
                merged = batch_state
            merged.write.parquet(f"{state_root}/v{prev + 1}")
            versions["n"] = prev + 1

        q = src.writeStream.foreachBatch(merge_batch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        final = spark.read.parquet(f"{state_root}/v{versions['n']}")
        out = final.select(
            "user_id",
            "n_events",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_type"),
            F.col("last.value").alias("last_value"),
        ).orderBy("user_id")
        # materialize before the staging dir disappears
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)


STREAM_FOREACHBATCH_UPSERT_SQL = """
WITH r AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id, CAST(n AS BIGINT) AS n_events, ts AS last_ts,
       event_id AS last_event_id, event_type AS last_type,
       value AS last_value
FROM r WHERE rk = 1 ORDER BY user_id
"""


TOPK_PER_WINDOW = 3


def stream_watermark_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-{TOPK_PER_WINDOW} event types by count, finalized
    at the watermark — the streaming leaderboard (trending topics,
    hottest endpoints per 5-minute bucket). Ranking needs ALL of a
    window's groups, so it cannot run inside the streaming agg; the
    correct composition is watermark-finalized append output → per-
    window rank in the downstream batch step (the same
    stream-then-finalize split stream_cms_cells uses). The streaming
    stage keeps bounded per-(window, type) state; the rank runs on
    closed windows only, so it never re-ranks a window twice.

    Ties pin (n DESC, event_type ASC) — total order, oracle-replayable.
    """
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_completion(agg, spark)
    w = Window.partitionBy("window").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        out.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOPK_PER_WINDOW)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "rk",
            "event_type",
            "n",
        )
    )


STREAM_WATERMARK_TOPK_SQL = f"""
WITH b AS (
  SELECT event_type,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS ws
  FROM events
),
mx AS (SELECT MAX(ts) AS mt FROM events),
counts AS (
  SELECT ws, event_type, COUNT(*) AS n
  FROM b, mx
  WHERE ws + INTERVAL 5 MINUTE <= mt - INTERVAL 10 MINUTE
  GROUP BY ws, event_type
)
SELECT ws AS window_start, ws + INTERVAL 5 MINUTE AS window_end,
       CAST(rk AS INT) AS rk, event_type, n
FROM (SELECT ws, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, event_type ASC) AS rk
      FROM counts)
WHERE rk <= {TOPK_PER_WINDOW}
"""


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the inner join's
    (stream_stream_join) null-emitting sibling, and a genuinely
    different state machine: an unmatched purchase cannot emit when it
    arrives (a matching click may still come), so the engine holds it
    and emits the null row only when the watermark proves no match can
    arrive. The condition c_ts ≤ p_ts means a purchase can still match
    while p_ts > watermark (future clicks all have c_ts > watermark),
    so Spark evicts left-side state exactly when the global watermark —
    min of both streams' (max event ts − delay) — passes p_ts. With a
    complete bounded input the emission rule is therefore closed-form,
    and the oracle states it directly:

      matched pairs: always emitted (as soon as both rows arrived);
      unmatched purchases: emitted with NULL click iff
        p_ts ≤ min(max click ts, max purchase ts) − watermark delay
      (later unmatched purchases stay in state when the stream ends —
      the cutoff splits the fixture exactly, verified row-by-row).

    At 100 TB the same watermark bound is what makes outer stream joins
    runnable at all: state is droppable, null emission is prompt, and
    no unbounded "wait forever" set accumulates.

    r11: same (user, time-cell) equality key as the inner join (see
    JOIN_CELL_US) — the CLICK side carries the 2-cell explode, so each
    purchase stays a single left row and the null-emission rule above
    is untouched: an unmatched purchase emits exactly ONE null row.
    """
    ev = _event_stream(spark, sf_dir)
    p, c = _join_sides(ev)
    joined = p.join(
        c,
        _join_cond(),
        "left_outer",
    ).select(
        "p_event_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "c_event_id",
        "c_ts",
    )
    return _run_to_completion(joined, spark)


STREAM_LEFT_OUTER_JOIN_SQL = """
WITH p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS c_event_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 10 MINUTE AS w
),
matched AS (
  SELECT p.p_event_id, p.user_id, p.p_ts, c.c_event_id, c.c_ts
  FROM p JOIN c ON p.user_id = c.user_id
               AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
               AND c.c_ts <= p.p_ts
)
SELECT * FROM matched
UNION ALL
SELECT p.p_event_id, p.user_id, p.p_ts,
       CAST(NULL AS BIGINT) AS c_event_id, CAST(NULL AS TIMESTAMP) AS c_ts
FROM p, wm
WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                  AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts)
  AND p.p_ts <= wm.w
"""


def stream_complete_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming aggregation — the third output-mode
    member (append covers finalized windows, update covers foreachBatch;
    COMPLETE re-emits the ENTIRE result table every micro-batch, the
    mode live dashboards consume). Running per-type totals with no
    watermark: complete mode keeps all groups in state by design, which
    is exactly why it is reserved for small-cardinality aggregates —
    the |event-types|-row state here is the legitimate use, and the
    anti-pattern (complete mode over an unbounded key) is what the
    append-mode operators exist to avoid.

    With a bounded input the final emission equals the batch aggregate —
    the oracle states it directly.
    """
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    out = _run_to_completion(agg, spark, mode="complete")
    return out.orderBy("event_type")


STREAM_COMPLETE_TOTALS_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(ts) AS last_ts
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-output-mode streaming aggregation — completing the output-
    mode triple (append: watermark-finalized only; complete: full table
    re-emission; UPDATE: only the groups whose value CHANGED this
    micro-batch — the mode incremental dashboards and changelog sinks
    consume, and the smallest-write option when few keys move per
    batch). Per-type event counts, no watermark: update mode emits each
    touched group's new value every batch.

    Determinism with a bounded single-file input: one data micro-batch
    touches every group exactly once (plus a no-op finalization batch),
    so the memory sink holds each group's final value once — equal to
    the batch aggregate, which the oracle states directly. A multi-file
    arrival order would interleave intermediate values; the FINAL state
    per group is order-independent either way.
    """
    agg = (
        _event_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
        )
    )
    out = _run_to_completion(agg, spark, mode="update")
    return out.orderBy("event_type")


STREAM_UPDATE_MODE_COUNTS_SQL = """
SELECT event_type, COUNT(*) AS n, MIN(ts) AS first_ts
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def stream_jvm_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-side twin of ``stream_transform_with_state`` (r6 verdict
    directive #10): the SAME per-user running-totals contract — event
    count, exact floor-cents sum, last event-time micros — maintained in
    the JVM state store by an unbounded UPDATE-mode streaming
    aggregation. Zero Python in the hot path: no state server, no
    protobuf, no Arrow worker — every accumulator is a codegen'd
    ``count``/``sum``/``max`` over the state store, which is exactly
    how a 100 TB per-key accumulator should be written WHEN the
    per-key logic is expressible as built-in aggregates (reach for
    transformWithState/applyInPandasWithState only past that line).

    floor(value·100) runs as integer SQL before the agg so the state is
    BIGINT-exact; last_us is event-time micros (matches the gated TWS
    entry's output row for row).

    Determinism: the final per-user state of an associative aggregation
    is micro-batch-split independent; the oracle states it directly."""
    agg = (
        _event_stream(spark, sf_dir)
        .select(
            "user_id",
            F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
            (F.unix_micros("ts")).alias("us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
            F.max("us").alias("last_us"),
        )
    )
    return _run_to_completion(agg, spark, mode="update")


STREAM_JVM_RUNNING_TOTALS_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       MAX(epoch_us(ts)) AS last_us
FROM events
GROUP BY user_id
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the remaining Structured Streaming join type
    (stream-stream inner/outer are covered by ``stream_stream_join`` /
    ``stream_left_outer_join``): the event stream enriched against a
    STATIC dimension (customer market segment, batch-read) before a
    watermarked tumbling aggregation per (window, segment).

    Semantics worth pinning: a static side is re-read per micro-batch
    and needs NO watermark or state — Spark plans it as a plain
    (broadcastable) join under the streaming aggregation, which is the
    standard dimension-enrichment shape at 100 TB (static dim in the
    state-free fast path, only the aggregation holds state). Append
    mode emits watermark-finalized windows, same closed form as
    ``stream_windowed_counts``.
    """
    from ..catalog import Catalog

    dim = (
        Catalog(spark, sf_dir)
        .table("customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .join(F.broadcast(dim), "user_id")  # static side: stateless
        .groupBy(F.window("ts", WINDOW), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
    )
    out = _run_to_completion(agg, spark)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "c_mktsegment",
        "n",
        "total_value",
    )


STREAM_STATIC_JOIN_SQL = """
WITH b AS (
  SELECT c.c_mktsegment, e.value,
         make_timestamp((epoch_us(e.ts) // 300000000) * 300000000) AS ws
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
),
mx AS (SELECT MAX(ts) AS mt FROM events)
SELECT ws                          AS window_start,
       ws + INTERVAL 5 MINUTE      AS window_end,
       c_mktsegment,
       COUNT(*)                    AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b, mx
WHERE ws + INTERVAL 5 MINUTE <= mt - INTERVAL 10 MINUTE
GROUP BY ws, c_mktsegment
"""


_TWS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (typed state primitives via a
    StatefulProcessorHandle: ValueState/ListState/MapState + timers,
    RocksDB-backed): per-user running totals held in a ValueState and
    re-emitted each micro-batch in update mode.

    Why cover BOTH stateful APIs: applyInPandasWithState is the 3.x
    shape (one blob state, GroupStateTimeout); transformWithState is
    where Spark's arbitrary-state roadmap lives (state schema evolution,
    multiple typed states per key, processing/event-time timers) — a
    100 TB per-key accumulator written today should target this API.

    Determinism: integer state only (event count, exact value cents,
    max event-time micros); one data micro-batch over the bounded
    fixture ⇒ each user's single update equals the batch aggregate,
    which the oracle states directly.

    ENVIRONMENT-GATED (not in the registry). Upstream constraint,
    pinned precisely (r6 verdict directive #10): every state-server
    round trip (ValueState/ListState/MapState get/update, timers,
    implicit-key set) is serialized by
    ``pyspark/sql/streaming/stateful_processor_api_client.py`` as
    ``pyspark.sql.streaming.proto.StateMessage_pb2`` messages over a
    local socket to the JVM; ``StateMessage_pb2`` is protoc-generated
    code that needs the ``google.protobuf`` RUNTIME, absent here and
    uninstallable (no network). A protobuf-free shim would have to
    re-implement the protobuf wire format against generated descriptors
    — rejected as unmaintainable against pyspark upgrades. A JVM-side
    ``transformWithState`` twin in the Scala sense is NOT expressible
    from Python (it requires compiling a Scala StatefulProcessor).
    What IS expressible JVM-side — and registered as the twin — is
    ``stream_jvm_running_totals``: the SAME per-user running-totals
    semantics as this entry, held in the JVM state store by an
    unbounded update-mode aggregation (zero Python in the hot path).
    This entry runs wherever protobuf is installed; the gate (and this
    note) is verified by ``tests/test_stream_checkpoint.py``."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf (its state-"
            "server wire protocol); pip install protobuf — absent in this "
            "container, see suite_registration.py note"
        ) from exc
    import pandas as pd  # local import: Arrow path only

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT, last_us BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents, last_us = (
                self._state.get() if self._state.exists() else (0, 0, 0)
            )
            import math

            for pdf in rows:
                n += len(pdf)
                # floor, not round: round-half ties diverge between
                # Python (half-even) and SQL (half-away); floor of the
                # same IEEE double is identical everywhere
                cents += int(
                    (pdf["value"].map(lambda v: math.floor(v * 100))).sum()
                )
                last_us = max(
                    last_us, int(pdf["ts"].astype("int64").max()) // 1000
                )
            self._state.update((n, cents, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    with session_conf(
        spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ):
        agg = (
            _event_stream(spark, sf_dir)
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=RunningTotals(),
                outputStructType=_TWS_OUT,
                outputMode="Update",
                timeMode="None",
            )
        )
        return _run_to_completion(agg, spark, mode="update")


STREAM_TRANSFORM_WITH_STATE_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       MAX(epoch_us(ts)) AS last_us
FROM events
GROUP BY user_id
"""


def merge_user_stats_batch(
    sink, batch: DataFrame, batch_id: int, max_retries: int = 3
) -> None:
    """One micro-batch of the streaming CDC merge (extracted from
    ``stream_foreach_batch_merge`` so retry idempotence is unit-testable).

    The txn LOG is the single commit protocol (r6 verdict directive
    #5): batch N commits version N+1 through ``merge_into``'s logged,
    optimistic-concurrency-checked commit, so

    - **replay** (foreachBatch is at-least-once): the version token in
      the LOG — not pointer arithmetic — decides; a re-delivered batch
      whose version is already committed is a no-op. ``recover()``
      first reconciles a pointer left stale by a crash between log
      append and pointer flip, so a replayed batch never merges onto a
      pre-commit base.
    - **concurrency**: the base version is resolved ONCE per attempt
      and PINNED through ``merge_into(base_version=...)`` (r7 ADVICE:
      merge_into re-resolving 'latest' itself left a lost-update
      window — a writer landing between the batch's base read and the
      merge's internal resolve would have its increments silently
      folded over). The conflict check therefore covers exactly the
      snapshot the delta was computed against; on
      ``SnapshotConflictError`` the batch re-reads the new base and
      re-merges (bounded retries) — never a blind overwrite."""
    from ..sinks.writers import SnapshotConflictError

    version = str(batch_id + 1)
    sink.recover("user_stats")
    if sink.is_committed("user_stats", version):
        return  # replay: this batch's commit is already in the log
    delta = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("d_n"),
        F.sum(F.expr("cast(floor(value * 100) as bigint)")).alias("d_cents"),
    )
    for attempt in range(max_retries + 1):
        base_version = sink.resolve("user_stats")
        base = sink.read_version(batch.sparkSession, "user_stats", base_version)
        # the change set covers ONLY the batch's users (right join keeps
        # delta rows, folds in any existing base totals); untouched base
        # rows survive through merge_into's anti-join ∪ — the true MERGE
        # WHEN MATCHED / NOT MATCHED shape
        changes = base.join(delta, "user_id", "right_outer").select(
            "user_id",
            (F.coalesce("n", F.lit(0)) + F.col("d_n")).alias("n"),
            (F.coalesce("total_cents", F.lit(0)) + F.col("d_cents")).alias(
                "total_cents"
            ),
        )
        try:
            sink.merge_into(
                batch.sparkSession,
                "user_stats",
                changes,
                "user_id",
                version,
                base_version=base_version,
            )
            return
        except SnapshotConflictError:
            if attempt == max_retries:
                raise
            # concurrent committer moved latest: recompute on the new base


def stream_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into the at-rest snapshot store: ``foreachBatch``
    applies each micro-batch's per-user deltas to the versioned parquet
    table via ``SnapshotParquetTable.merge_into``-style read-merge-write
    (one new version per batch, pointer flipped marker-last) — the
    standard "stream upserts a serving table" pattern that a real table
    format runs as MERGE INTO per batch.

    Determinism: per-user (count, cents-sum) accumulation is associative
    and commutative, so the FINAL at-rest state is independent of how the
    file source splits micro-batches; the oracle recomputes it from the
    complete input. Each call starts a fresh store root (the query is
    re-runnable; versions are per-run artifacts, the final state is the
    contract).

    Scale: each batch's delta is one keyed partial agg; the merge is a
    full-outer join on the user key — at 100 TB both sides are keyed by
    user_id, and a bucketed base table makes the join exchange-free on
    the base side. No collect, no driver state."""
    import tempfile

    from ..sinks.writers import SnapshotParquetTable

    sink = SnapshotParquetTable(tempfile.mkdtemp(prefix="stream-merge-"))
    schema = "user_id long, n bigint, total_cents bigint"
    sink.write_version(
        spark.createDataFrame([], schema), "user_stats", "0"
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        merge_user_stats_batch(sink, batch, batch_id)

    stream = _event_stream(spark, sf_dir).select("user_id", "value")
    with session_conf(
        spark, "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    ):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="stream-merge-ckpt-")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return sink.read_version(spark, "user_stats", "latest")


STREAM_FOREACH_BATCH_MERGE_SQL = """
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
"""
