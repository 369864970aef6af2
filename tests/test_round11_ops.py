"""Round-11 operator tests: SimHash pair-stream memoization and the
grid-bucketed events_attribution re-plan. The shard-layout tests live in
``tests/test_gate_tools.py``."""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE


def test_simhash_pairs_distinct(spark):
    """The memoized SimHash pair stream is DISTINCT by construction
    (the candidate build dedups before the radius filter) — the quality
    eval dropped its defensive .distinct() on the strength of this pin."""
    from nzwirelessmap_fetch_spark.operators.dedup import _verified_simhash_pairs

    pairs = _verified_simhash_pairs(spark, SF_SMOKE)
    n = pairs.count()
    nd = pairs.select("doc_a", "doc_b").distinct().count()
    assert n == nd and n > 0


def test_simhash_memo_shares_one_frame(spark):
    """All three family consumers must read the SAME checkpointed frame —
    the r10 verdict's ~943 s sf1-Zipf finding was three derivations of
    substantially the same 78.8 M-pair result."""
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _verified_simhash_pairs,
        dedup_simhash_hamming,
    )

    a = _verified_simhash_pairs(spark, SF_SMOKE)
    b = dedup_simhash_hamming(spark, SF_SMOKE)
    assert a is b
    key = (spark.sparkContext.applicationId, SF_SMOKE, ())
    assert memo.entries("simhash_pair") == {key: a}


def test_attribution_boundary_edges_match_oracle(spark, tmp_path):
    """The r11 running-count attribution plan rests on boundary
    strictness: a touch AT p_us − W is inside the window, a touch AT
    p_us is not, and first/last tie-break on (t_us, t_id). The fixture
    rarely lands touches exactly on a boundary, so this builds a
    crafted events table exercising every edge — boundary-equal touches
    on both sides, same-instant ties resolved by event_id, a purchase
    with zero touches in window, multi-channel credit splits — and
    pins the DataFrame plan to the (quadratic, obviously-correct)
    DuckDB oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        ATTR_WINDOW_US,
        EVENTS_ATTRIBUTION_SQL,
        events_attribution,
    )
    from .oracle import compare

    W = ATTR_WINDOW_US
    base = 1_700_000_000_000_000  # epoch micros
    rows = []  # (event_id, user_id, event_type, ts_us, value)

    def ev(eid, uid, etype, ts_us):
        rows.append((eid, uid, etype, ts_us, 1.0))

    # user 1: purchase at base+W; touches AT the lo boundary (IN),
    # just inside, AT the hi boundary (OUT), after (OUT)
    ev(100, 1, "purchase", base + W)
    ev(1, 1, "view", base)            # == p_us − W → counts
    ev(2, 1, "click", base + 5)
    ev(3, 1, "view", base + W)        # == p_us → excluded
    ev(4, 1, "click", base + W + 5)   # after → excluded
    # user 2: same-instant ties — first/last must pick by event_id
    ev(200, 2, "purchase", base + W)
    ev(10, 2, "view", base + 7)
    ev(11, 2, "click", base + 7)      # same t_us, larger id → later
    ev(12, 2, "add", base + 9)
    ev(13, 2, "login", base + 9)
    # user 3: purchase with no touches in window
    ev(300, 3, "purchase", base + 3 * W)
    ev(20, 3, "view", base)           # far before the window
    # user 4: two purchases sharing touches; uneven channel mix
    ev(400, 4, "purchase", base + W + 50)
    ev(401, 4, "purchase", base + W + 60)
    ev(30, 4, "view", base + 100)
    ev(31, 4, "view", base + 200)
    ev(32, 4, "click", base + 300)

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "ts": pa.array(
                [r[3] for r in rows], pa.timestamp("us")
            ),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, f"{sf_dir}/events.parquet")

    got = events_attribution(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    compare(got, con, EVENTS_ATTRIBUTION_SQL)


def test_stream_join_cells_cover_band_once(spark):
    """The r11 stream-join key adds a time-cell: clicks explode onto
    {cell(c), cell(c)+1} and any matching purchase (c_ts ∈ [p_ts − W,
    p_ts]) has cell(p) in that set — each (purchase, click) pair
    matches via EXACTLY one exploded copy. Pins the covering/uniqueness
    arithmetic the no-dup claim rests on, batch-side (cheap)."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.catalog import Catalog
    from nzwirelessmap_fetch_spark.streaming.events_stream import JOIN_CELL_US

    e = Catalog(spark, SF_SMOKE).table("events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.unix_micros("ts").alias("p_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"), F.unix_micros("ts").alias("c_us")
    )
    pairs = p.join(c, "user_id").filter(
        (F.col("c_us") <= F.col("p_us"))
        & (F.col("c_us") >= F.col("p_us") - JOIN_CELL_US)
    )
    covered = pairs.withColumn(
        "n_match",
        (
            F.expr(f"p_us div {JOIN_CELL_US}") == F.expr(f"c_us div {JOIN_CELL_US}")
        ).cast("int")
        + (
            F.expr(f"p_us div {JOIN_CELL_US}")
            == F.expr(f"c_us div {JOIN_CELL_US} + 1")
        ).cast("int"),
    )
    assert covered.filter(F.col("n_match") != 1).count() == 0
    assert covered.count() > 0


def test_simhash_pairs_ordered_and_bounded(spark):
    """Every memoized pair satisfies doc_a < doc_b and hamming ≤ 3 —
    the invariants the pigeonhole banding proof needs."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.operators.dedup import (
        HAMMING_MAX,
        _verified_simhash_pairs,
    )

    bad = (
        _verified_simhash_pairs(spark, SF_SMOKE)
        .filter(
            (F.col("doc_a") >= F.col("doc_b"))
            | (F.col("hamming") > HAMMING_MAX)
        )
        .count()
    )
    assert bad == 0


def test_simhash_min_intact_band_matches_bruteforce(spark):
    """The r11 pair build emits each candidate from its SMALLEST intact
    band instead of paying a .distinct() Exchange over the candidate
    stream. Equivalence pin: the memoized pair set must equal the
    brute-force all-pairs Hamming-≤3 set computed directly from the
    signatures (quadratic — test-only, tiny fixture)."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.operators.dedup import (
        HAMMING_MAX,
        _verified_simhash_pairs,
        dedup_simhash,
    )

    sigs = dedup_simhash(spark, SF_SMOKE).select("doc_id", "simhash")
    a = sigs.alias("a")
    b = sigs.alias("b")
    truth = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )
    built = _verified_simhash_pairs(spark, SF_SMOKE)
    assert built.count() == truth.count() > 0
    assert built.exceptAll(truth).count() == 0
    assert truth.exceptAll(built).count() == 0
