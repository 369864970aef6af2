"""Certify the multi-part txn-log checkpoint from its REAL consumer at
steady state (r10 verdict directive #5).

The byte/dirent growth laws were probe-measured by
scaling_checkpoint_bytes.py (deleted; it is in git history) against the
raw protocol; this tool drives the LIVE path instead: a Structured
Streaming query (rate-micro-batch source → foreachBatch →
merge_user_stats_batch → merge_into → write_version → _maybe_checkpoint)
commits ≥10³ MERGE versions into one table, with

  - read-cost flatness sampled from a FRESH reader at ¼, ½ and ¾ of
    the run and at its last batch (resolve('latest') + one
    version_as_of — cold state reconstruction, checkpoint-backed);
  - cumulative checkpoint bytes accumulated from the live writes
    (every _link_atomic payload — parts, manifests, pointers);
  - ONE induced crash mid-stream: at commit CRASH_AT the checkpoint
    part write raises, the streaming query dies mid-commit-path, and
    the run RESTARTS the query from its checkpointLocation — the
    replayed batch must no-op through the log's version token and the
    stream must run on to completion with exact final state.

Final state is verified against the closed form over the deterministic
rate-micro-batch input (value = 0..rows-1, user_id = value % N_USERS,
cents = (value % 997) · 25 — the /4.0 value is dyadic-exact in
binary floating point, so floor sees an exact integer regardless of
how Catalyst fuses or folds the expression chain).

Usage: python tools/scaling_checkpoint_live.py [N_BATCHES] [OUT.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nzwirelessmap_fetch_spark.session import get_spark  # noqa: E402
from nzwirelessmap_fetch_spark.sinks import writers as W  # noqa: E402
from nzwirelessmap_fetch_spark.streaming.events_stream import (  # noqa: E402
    merge_user_stats_batch,
)

N_USERS = 500
ROWS_PER_BATCH = 200


def sample_points(n_batches: int) -> frozenset[int]:
    """Commit counts (batch_id + 1) at which read cost is sampled: ¼, ½
    and ¾ of the run and always its last batch, so a short run samples
    too."""
    return frozenset(n_batches * k // 4 for k in (1, 2, 3, 4)) - {0}


class _InducedCrash(Exception):
    """Exception-derived (unlike the pytest sweep's BaseException) so it
    propagates cleanly through the Py4J foreachBatch callback and fails
    the streaming query instead of killing the callback thread; the
    commit path catches only SnapshotConflictError and narrow IO
    errors, so nothing swallows it before the engine sees it."""


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    crash_at = n_batches // 3
    spark = get_spark("ckpt_live", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    root = tempfile.mkdtemp(prefix="ckpt-live-")
    ckpt = tempfile.mkdtemp(prefix="ckpt-live-stream-")
    sink = W.SnapshotParquetTable(root)
    sink.write_version(
        spark.createDataFrame([], "user_id long, n bigint, total_cents bigint"),
        "user_stats",
        "0",
    )

    # ---- live instrumentation -------------------------------------------
    bytes_box = {"cum": 0, "writes": 0}
    orig_link = W.SnapshotParquetTable._link_atomic
    crash_box = {"armed": True, "fired": False}
    orig_part = W.SnapshotParquetTable._write_part

    def counting_link(self, table, obj, name):
        bytes_box["cum"] += len(json.dumps(obj))
        bytes_box["writes"] += 1
        return orig_link(self, table, obj, name)

    def crashing_part(self, table, lo, hi, rows):
        if crash_box["armed"] and hi >= crash_at:
            crash_box["armed"] = False
            crash_box["fired"] = True
            raise _InducedCrash(f"induced checkpoint crash at seq {hi}")
        return orig_part(self, table, lo, hi, rows)

    W.SnapshotParquetTable._link_atomic = counting_link
    W.SnapshotParquetTable._write_part = crashing_part

    samples: list[dict] = []
    sample_at = sample_points(n_batches)
    t_run0 = time.perf_counter()

    def maybe_sample(batch_id: int) -> None:
        if batch_id + 1 not in sample_at:
            return
        reader = W.SnapshotParquetTable(root)  # cold: no in-process state
        t0 = time.perf_counter()
        latest = reader.resolve("user_stats")
        t_resolve = time.perf_counter() - t0
        t0 = time.perf_counter()
        reader.version_as_of("user_stats", "2100-01-01T00:00:00.000000Z")
        t_asof = time.perf_counter() - t0
        n_dirents = len(os.listdir(os.path.join(root, "user_stats", "_log")))
        samples.append(
            {
                "commits": batch_id + 1,
                "latest": latest,
                "resolve_ms": round(t_resolve * 1e3, 2),
                "version_as_of_ms": round(t_asof * 1e3, 2),
                "ckpt_cum_bytes": bytes_box["cum"],
                "ckpt_writes": bytes_box["writes"],
                "log_dirents": n_dirents,
                "elapsed_s": round(time.perf_counter() - t_run0, 1),
            }
        )
        print(json.dumps(samples[-1]), flush=True)

    def apply_batch(batch, batch_id: int) -> None:
        rows = batch.select(
            (F.col("value") % N_USERS).alias("user_id"),
            # /4.0 is exact in binary FP: floor(value·100) then hits an
            # exact integer under EVERY expression fusing Catalyst may pick
            # (a /100.0 value here tripped constant-folding boundary skew
            # between the live path and the closed form below)
            ((F.col("value") % 997) / 4.0).alias("value"),
        )
        merge_user_stats_batch(sink, rows, batch_id)
        maybe_sample(batch_id)

    def start_query():
        return (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", ROWS_PER_BATCH)
            .option("numPartitions", 2)
            .load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def run_until(q, target: int) -> str | None:
        """Poll until `target` commits or the query dies; return error text."""
        while True:
            if not q.isActive:
                return q.exception() or "stopped"
            lp = q.lastProgress
            if lp and lp.get("batchId", -1) + 1 >= target:
                q.stop()
                q.awaitTermination()
                return None
            time.sleep(0.2)

    import atexit

    # temp roots removed even on assertion/mismatch exits — leaked
    # multi-GB roots would skew the disk-free-derived admission budget
    # of later gate runs on this box
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)

    report: dict = {
        "n_batches": n_batches,
        "crash_at": crash_at,
        "rows_per_batch": ROWS_PER_BATCH,
        "n_users": N_USERS,
        "checkpoint_interval": W.SnapshotParquetTable.CHECKPOINT_INTERVAL,
    }

    try:
        q = start_query()
        err = run_until(q, n_batches)
        assert err is not None and crash_box["fired"], (
            "expected the induced crash to kill the query mid-run; "
            f"err={err!r} fired={crash_box['fired']}"
        )
        report["crash"] = {
            "fired_at_seq": crash_at,
            "query_error": str(err)[:200],
        }
        # Recovery exactly as a restarted job would: reconcile any stale
        # pointer, then restart the SAME query from its checkpoint — the
        # engine re-offers the in-flight batch; the log's version token
        # makes the replay a no-op if its commit already landed.
        pre = W.SnapshotParquetTable(root)
        pre.recover("user_stats")
        seq_at_recovery = len(pre.log_entries("user_stats"))
        report["crash"]["committed_at_recovery"] = seq_at_recovery
        q = start_query()
        err = run_until(q, n_batches)
        assert err is None, f"post-recovery run failed: {err}"
    finally:
        W.SnapshotParquetTable._link_atomic = orig_link
        W.SnapshotParquetTable._write_part = orig_part

    # ---- final-state verification (closed form over the rate input) ----
    final = W.SnapshotParquetTable(root)
    entries = final.log_entries("user_stats")
    n_commits = len(entries)
    n_rows = (n_commits - 1) * ROWS_PER_BATCH  # commit 1 seeded the empty table
    expect = (
        spark.range(n_rows)
        .select(
            (F.col("id") % N_USERS).alias("user_id"),
            F.expr("cast((id % 997) * 25 as bigint)").alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
    )
    got = final.read_version(spark, "user_stats", "latest").select(
        "user_id", F.col("n").alias("g_n"), F.col("total_cents").alias("g_cents")
    )
    mismatches = (
        got.join(expect, "user_id", "full_outer")
        .filter(
            F.col("g_n").isNull()
            | F.col("n").isNull()
            | (F.col("g_n") != F.col("n"))
            | (F.col("g_cents") != F.col("total_cents"))
        )
        .count()
        if n_rows
        else 0
    )
    report.update(
        {
            "final_commits": n_commits,
            "final_rows_delivered": n_rows,
            "state_mismatch_rows": mismatches,
            "samples": samples,
            "ckpt_cum_bytes": bytes_box["cum"],
            "ckpt_writes": bytes_box["writes"],
            "wall_s": round(time.perf_counter() - t_run0, 1),
        }
    )
    text = json.dumps(report, indent=1)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
