"""Streaming checkpoint/restart: exactly-once resume across process-level
query restarts — the durability half of the streaming story (the registry
queries pin semantics on a complete input; this pins recovery).

A file-source → parquet-sink query with a checkpointLocation is run to
completion on batch A, stopped, handed batch B, and restarted with the
SAME checkpoint + sink. The WAL must replay nothing: the sink ends with
exactly A ∪ B. A third no-new-data restart must add nothing."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F


def _run_stream(spark, src, sink, ckpt):
    q = (
        spark.readStream.schema("k long, v string")
        .parquet(src)
        .withColumn("tagged", F.concat(F.col("v"), F.lit(":seen")))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_exactly_once_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    pathlib.Path(src).mkdir()

    batch_a = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id")).alias("v")
    )
    batch_a.coalesce(1).write.mode("append").parquet(src)
    _run_stream(spark, src, sink, ckpt)
    assert spark.read.parquet(sink).count() == 100

    batch_b = spark.range(100, 140).select(
        F.col("id").alias("k"), F.concat(F.lit("b"), F.col("id")).alias("v")
    )
    batch_b.coalesce(1).write.mode("append").parquet(src)
    _run_stream(spark, src, sink, ckpt)
    out = spark.read.parquet(sink)
    # exactly-once: batch A NOT reprocessed, batch B fully present
    assert out.count() == 140
    assert out.filter(F.col("v").startswith("b")).count() == 40
    assert out.select("k").distinct().count() == 140

    # idle restart: committed offsets stand, nothing re-emitted
    _run_stream(spark, src, sink, ckpt)
    assert spark.read.parquet(sink).count() == 140


def test_foreachbatch_upsert_conserves_mass(spark):
    """The multi-batch MERGE must neither drop nor double-count: per-user
    counts sum to the corpus event count, and the last-write-wins payload
    matches the global argmax."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.catalog import Catalog
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_foreachbatch_upsert,
    )
    from tests.conftest import SF_SMOKE

    out = stream_foreachbatch_upsert(spark, SF_SMOKE)
    ev = Catalog(spark, SF_SMOKE).table("events")
    rows = out.collect()
    assert sum(r.n_events for r in rows) == ev.count()
    assert len(rows) == ev.select("user_id").distinct().count()
    # spot-check one user's last event against a batch recompute
    u = rows[0]
    last = (
        ev.filter(F.col("user_id") == u.user_id)
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .collect()[0]
    )
    assert (u.last_event_id, u.last_type) == (last.event_id, last.event_type)



def test_memory_sink_views_do_not_pile_up(spark):
    """Each run's memory-sink view is dropped once its frame is taken:
    the frame still answers, and the session lists no ``stream_out_*``
    view holding a finished run's output on the driver."""
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_complete_totals,
    )
    from tests.conftest import SF_SMOKE

    first = stream_complete_totals(spark, SF_SMOKE)
    second = stream_complete_totals(spark, SF_SMOKE)
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")]
    assert left == []
    rows = first.collect()
    assert rows and second.collect() == rows
    assert first.groupBy("event_type").count().count() == len(rows)
    assert len(second.toPandas()) == len(rows)

def test_transform_with_state_gated_or_green(spark):
    """Spark 4 transformWithStateInPandas: environment-gated on
    google.protobuf (the state-server wire protocol). Where the dep
    exists the op must match its oracle; here it must fail loudly with
    the install recipe, never crash the stream opaquely."""
    import duckdb
    import pytest

    from tests.conftest import SF_CORRECT
    from tests.oracle import compare
    from nzwirelessmap_fetch_spark.catalog import TABLES
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        STREAM_TRANSFORM_WITH_STATE_SQL,
        stream_transform_with_state,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            stream_transform_with_state(spark, SF_CORRECT)
        pytest.skip("google.protobuf not in container — gate verified")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    compare(
        stream_transform_with_state(spark, SF_CORRECT),
        con,
        STREAM_TRANSFORM_WITH_STATE_SQL,
    )
