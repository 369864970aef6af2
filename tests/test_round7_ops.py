"""Round-7 tests: adaptive prefix order, txn-log concurrency, and the
round-7 operators (executing compaction, schema evolution)."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_adaptive_prefix_order_probe_and_identity(spark):
    """order="auto" (r6 directive #2): the df-skew probe picks hash
    order on the flat smoke fixture (measured max/p99 ≈ 1.1, threshold
    8), memoizes the decision per (app, corpus, max_df), and all three
    orders produce row-identical pair sets."""
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _containment_pairs,
        _verified_jaccard_pairs,
    )

    families = ("jaccard_pairs", "containment_pairs", "prefix_order")
    for family in families:
        memo.reset(family)
    app = spark.sparkContext.applicationId

    auto = {
        tuple(r)
        for r in _verified_jaccard_pairs(spark, SF_SMOKE, order="auto")
        .select("doc_a", "doc_b")
        .collect()
    }
    # flat synthetic corpus → hash order (no df join-back)
    assert memo.entries("prefix_order") == {(app, SF_SMOKE, None): "hash"}
    # the auto build is stored under its RESOLVED order key
    assert list(memo.entries("jaccard_pairs")) == [(app, SF_SMOKE, (None, "hash"))]

    for order in ("df", "hash"):
        explicit = {
            tuple(r)
            for r in _verified_jaccard_pairs(spark, SF_SMOKE, order=order)
            .select("doc_a", "doc_b")
            .collect()
        }
        assert explicit == auto, f"order={order} changed the pair set"

    c_auto = {
        tuple(r)
        for r in _containment_pairs(spark, SF_SMOKE, order="auto")
        .select("doc_a", "doc_b")
        .collect()
    }
    c_df = {
        tuple(r)
        for r in _containment_pairs(spark, SF_SMOKE, order="df")
        .select("doc_a", "doc_b")
        .collect()
    }
    assert c_auto == c_df
    for family in families:
        memo.reset(family)


def test_txn_log_seq_allocation_is_atomic(tmp_path, spark):
    """Two unchecked writers committing concurrently must never share a
    log seq (r6 ADVICE: the glob count is a hint, O_EXCL the arbiter) —
    both commits appear in the log with distinct seq numbers."""
    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    sink = SnapshotParquetTable(tmp_path)
    base = spark.range(3).select(F.col("id").alias("k"))
    sink.write_version(base, "t", "1", commit_ts="2024-01-01T00:00:00.000000Z")

    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def commit(version: str) -> None:
        try:
            barrier.wait(timeout=30)
            sink.write_version(
                base, "t", version, commit_ts=f"2024-01-02T00:00:00.00000{version}Z"
            )
        except Exception as exc:  # pragma: no cover - surfaced below
            errs.append(exc)

    ts = [threading.Thread(target=commit, args=(v,)) for v in ("2", "3")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=120)
    assert not errs
    entries = sink.log_entries("t")
    seqs = [e["seq"] for e in entries]
    assert len(seqs) == len(set(seqs)) == 3
    assert {e["version"] for e in entries} == {"1", "2", "3"}
    # files on disk agree with the parsed log (no overwritten entry)
    files = sorted(p.name for p in (tmp_path / "t" / "_log").iterdir())
    assert len(files) == 3


def test_optimize_compacts_and_preserves_content(tmp_path, spark):
    """OPTIMIZE (r6 directive #4): file count drops to the byte-sized
    target, content manifest is bit-identical before/after, the commit
    is logged with op='optimize', and a concurrent committer makes a
    stale OPTIMIZE abort (never the reverse)."""
    from nzwirelessmap_fetch_spark.catalog import Catalog
    from nzwirelessmap_fetch_spark.operators.sketches import orders_merkle_manifest
    from nzwirelessmap_fetch_spark.sinks.writers import (
        SnapshotConflictError,
        SnapshotParquetTable,
    )

    sink = SnapshotParquetTable(tmp_path)
    o = Catalog(spark, SF_SMOKE).table("orders")
    sink.write_version(o.repartition(16), "orders", "1")
    assert len(sink.data_files("orders", "1")) == 16

    stats = sink.optimize(
        spark, "orders", "2", cluster_by=["o_orderdate", "o_orderkey"]
    )
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1  # smoke orders ≪ 128 MB
    assert len(sink.data_files("orders", "2")) == 1
    assert sink.resolve("orders") == "2"
    log = {e["version"]: e for e in sink.log_entries("orders")}
    assert log["2"]["op"] == "optimize"
    assert log["2"]["read_set"] == ["orders@1"]

    before = {
        r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"])
        for r in orders_merkle_manifest(
            sink.read_version(spark, "orders", "1")
        ).collect()
    }
    after = {
        r["bucket"]: (r["n_rows"], r["xor_fp"], r["sum_fp"])
        for r in orders_merkle_manifest(
            sink.read_version(spark, "orders", "latest")
        ).collect()
    }
    assert before == after  # pure rewrite: layout changed, content didn't

    # a writer that lands between OPTIMIZE's snapshot read and commit
    # wins; the stale compaction aborts
    class Racer(SnapshotParquetTable):
        def resolve(self, table, version="latest"):
            v = super().resolve(table, version)
            if not getattr(self, "_raced", False) and version == "latest":
                self._raced = True
                sink.write_version(
                    sink.read_version(spark, "orders", "latest"), "orders", "3"
                )
            return v

    with pytest.raises(SnapshotConflictError):
        Racer(tmp_path).optimize(spark, "orders", "4")
    assert sink.resolve("orders") == "3"  # the ingest writer's commit stands


def test_schema_evolution_rejects_incompatible_changes(tmp_path, spark):
    """Directive #6's negative space: a type change on an existing
    column is rejected, a column drop needs the explicit opt-in, and
    additive evolution commits with the delta logged."""
    from nzwirelessmap_fetch_spark.sinks.writers import (
        SchemaEvolutionError,
        SnapshotParquetTable,
    )

    sink = SnapshotParquetTable(tmp_path)
    base = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    sink.write_version(base, "t", "1")

    # type change: v bigint -> string
    with pytest.raises(SchemaEvolutionError, match="type change"):
        sink.write_version(
            base.withColumn("v", F.col("v").cast("string")), "t", "2"
        )
    # column drop without opt-in
    with pytest.raises(SchemaEvolutionError, match="drops column"):
        sink.write_version(base.select("k"), "t", "2")
    # neither rejected attempt moved the pointer or logged a commit
    assert sink.resolve("t") == "1"
    assert len(sink.log_entries("t")) == 1

    # additive evolution commits and logs the delta
    sink.write_version(base.withColumn("w", F.lit("x")), "t", "2")
    e2 = sink.log_entries("t")[-1]
    assert e2["schema_added"] == ["w"] and e2["schema_dropped"] == []

    # opt-in drop commits and logs it
    sink.write_version(base.select("k", "v"), "t", "3", allow_column_drop=True)
    e3 = sink.log_entries("t")[-1]
    assert e3["schema_dropped"] == ["w"]

    # merge_into with a new column: base rows read NULL, change rows set
    changes = spark.range(2).select(
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("v"),
        F.lit("c").alias("tag"),
    )
    sink.merge_into(spark, "t", changes, "k", "4")
    v4 = sink.read_version(spark, "t", "4")
    rows = {r["k"]: (r["v"], r["tag"]) for r in v4.collect()}
    assert rows[0] == (0, "c") and rows[1] == (100, "c")
    assert rows[2] == (20, None)  # pre-evolution row: NULL in the new column


def test_stream_merge_log_is_commit_protocol(tmp_path, spark):
    """Directive #5: the streaming MERGE's idempotence token is the
    version IN THE LOG (replay no-op), a stale pointer from a crash
    between log append and flip is repaired before merging, and a
    concurrent committer forces a retry that lands on the new base —
    all commits visible in _log/."""
    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        merge_user_stats_batch,
    )

    sink = SnapshotParquetTable(tmp_path)
    schema = "user_id long, n bigint, total_cents bigint"
    sink.write_version(spark.createDataFrame([], schema), "user_stats", "0")
    batch0 = spark.createDataFrame(
        [(1, 1.0), (1, 2.5), (2, 10.0)], "user_id long, value double"
    )
    merge_user_stats_batch(sink, batch0, 0)
    assert sink.is_committed("user_stats", "1")

    # crash window: pointer rewound to pre-commit while the log has v1 —
    # a replayed batch repairs the pointer and still no-ops
    (tmp_path / "user_stats" / "_latest").write_text("0")
    merge_user_stats_batch(sink, batch0, 0)
    assert sink.resolve("user_stats") == "1"  # recovered, not re-applied
    rows = {
        r["user_id"]: (r["n"], r["total_cents"])
        for r in sink.read_version(spark, "user_stats", "latest").collect()
    }
    assert rows == {1: (2, 350), 2: (1, 1000)}  # applied exactly once

    # concurrent writer landing AFTER the batch resolves its base but
    # BEFORE its commit — and touching an OVERLAPPING key (user 2), the
    # exact lost-update window the r7 ADVICE flagged: without the
    # pinned base_version the batch's stale fold would silently
    # overwrite the racer's totals. The pin forces a
    # SnapshotConflictError; the retry recomputes on the new base.
    class Racer(SnapshotParquetTable):
        def resolve(self, table, version="latest"):
            v = super().resolve(table, version)
            if not getattr(self, "_raced", False) and version == "latest":
                self._raced = True
                sink.merge_into(
                    spark,
                    "user_stats",
                    spark.createDataFrame([(99, 1, 100), (2, 5, 5000)], schema),
                    "user_id",
                    "ingest-1",
                )
            return v

    batch1 = spark.createDataFrame([(2, 0.5)], "user_id long, value double")
    merge_user_stats_batch(Racer(tmp_path), batch1, 1)
    versions = [e["version"] for e in sink.log_entries("user_stats")]
    assert versions == ["0", "1", "ingest-1", "2"]
    rows = {
        r["user_id"]: (r["n"], r["total_cents"])
        for r in sink.read_version(spark, "user_stats", "latest").collect()
    }
    # batch1's delta (+1 event, +50 cents for user 2) folded ON TOP of
    # the concurrent ingest's (5, 5000) — no lost update on either side
    assert rows == {1: (2, 350), 2: (6, 5050), 99: (1, 100)}


def test_png_palette_roundtrip_and_trns():
    """Directive #7: color-type-3 (palette) PNG decodes through the
    stdlib codec — PLTE lookup is pixel-exact for every row filter,
    tRNS produces RGBA with spec-default opaque tails, and malformed
    palettes fail loudly."""
    from nzwirelessmap_fetch_spark.functions import png

    w, h = 23, 11
    palette = [(i * 7 % 256, i * 31 % 256, 255 - i) for i in range(16)]
    indices = bytes((x * y + x) % 16 for y in range(h) for x in range(w))
    for ftype in range(5):
        blob = png.encode_png_palette(indices, w, h, palette, filter_type=ftype)
        dw, dh, ch, raw = png.decode_png(blob)
        assert (dw, dh, ch) == (w, h, 3)
        expect = b"".join(bytes(palette[i]) for i in indices)
        assert raw == expect, f"palette mismatch at filter {ftype}"

    # tRNS: alpha table shorter than the palette → tail is opaque
    trns = [0, 128, 255]
    blob = png.encode_png_palette(indices, w, h, palette, trns=trns)
    dw, dh, ch, raw = png.decode_png(blob)
    assert ch == 4
    for i, idx in enumerate(indices):
        r, g, b, a = raw[i * 4 : i * 4 + 4]
        assert (r, g, b) == palette[idx]
        assert a == (trns[idx] if idx < len(trns) else 255)

    # decode_image's stdlib branch handles palette PNGs now
    from nzwirelessmap_fetch_spark.operators.multimodal import decode_image

    feats = decode_image(blob)
    assert (feats["width"], feats["height"]) == (w, h)

    # out-of-range index → loud failure, not garbage pixels
    bad = png.encode_png_palette(bytes([3]) * 4, 2, 2, palette[:4])
    bad = bad.replace(b"PLTE" + b"".join(bytes(p) for p in palette[:4]),
                      b"PLTE" + b"".join(bytes(p) for p in palette[:2]))
    # (re-chunked blob has a stale CRC → either error is acceptable)
    with pytest.raises(ValueError):
        png.decode_png(bad)


def test_restore_and_vacuum_lifecycle(tmp_path, spark):
    """RESTORE commits the old content FORWARD (history intact, parent
    chain unbroken); VACUUM removes orphaned and expired data dirs while
    the log and the retention window survive."""
    from nzwirelessmap_fetch_spark.sinks.writers import SnapshotParquetTable

    sink = SnapshotParquetTable(tmp_path)
    v1 = spark.range(3).select(F.col("id").alias("k"))
    v2 = spark.range(5).select(F.col("id").alias("k"))
    sink.write_version(v1, "t", "1", commit_ts="2024-01-01T00:00:00.000000Z")
    sink.write_version(v2, "t", "2", commit_ts="2024-01-02T00:00:00.000000Z")

    sink.restore(spark, "t", "1", "3", commit_ts="2024-01-03T00:00:00.000000Z")
    assert sink.resolve("t") == "3"
    assert sink.read_version(spark, "t", "latest").count() == 3  # v1 content
    e3 = sink.log_entries("t")[-1]
    assert e3["op"] == "restore" and e3["parent"] == "2"
    assert e3["read_set"] == ["t@1"]
    # the "mistake" (v2) is still time-travelable
    assert sink.read_as_of(spark, "t", "2024-01-02T12:00:00.000000Z").count() == 5

    # orphan: a data dir with no log entry (a crashed/aborted commit).
    # Since r9 a YOUNG orphan survives the default vacuum — it is
    # indistinguishable from a commit in flight (data lands before the
    # log append), so only the grace window separates garbage from a
    # racing writer. grace=0 restores the crashed-commit cleanup.
    v2.write.mode("overwrite").parquet(str(tmp_path / "t" / "v=99"))
    stats = sink.vacuum("t", keep_latest=2)
    assert stats["removed_orphans"] == []        # young: possibly in flight
    assert "99" in stats["kept"]
    stats = sink.vacuum("t", keep_latest=2, orphan_grace_sec=0)
    assert stats["removed_orphans"] == ["99"]
    assert stats["removed_expired"] == []        # "1" went in the first pass
    assert sorted(stats["kept"]) == ["2", "3"]
    # log is intact (audit trail permanent), retained versions readable
    assert [e["version"] for e in sink.log_entries("t")] == ["1", "2", "3"]
    assert sink.read_version(spark, "t", "2").count() == 5
    assert sink.read_version(spark, "t", "latest").count() == 3
    # vacuumed version's data is gone
    assert not (tmp_path / "t" / "v=1").exists()
