"""Local stand-in for the driver's correctness gate.

Runs registry queries at sf0.01 against their DuckDB oracles with
per-query wall-clock, mirroring CORRECTNESS_r{N}.json (row count +
sorted column names + order-insensitive value hash). Like the driver, it
never clears the cache between entries: an entry after which Spark's
cache manager is not empty left a frame no code releases, and is
recorded ``unowned_cache: true`` and counted as failing. Use to
pre-flight a round:

    python tools/check_queries.py                 # whole registry
    python tools/check_queries.py multimodal_features stream_dedup_events
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from nzwirelessmap_fetch_spark.catalog import TABLES
from nzwirelessmap_fetch_spark.functions import memo
from nzwirelessmap_fetch_spark.session import get_spark
from tests.oracle import frame_fingerprint

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def _unowned_cache(spark, row: dict) -> bool:
    """Flag ``row`` if the entry left a frame in the cache manager, then
    clear it so the next entry is judged on its own frames."""
    if spark._jsparkSession.sharedState().cacheManager().isEmpty():
        return False
    row["unowned_cache"] = True
    spark.catalog.clearCache()
    return True


def attribute(name: str, row: dict, before: dict, shared_builds: dict) -> None:
    """Shared-build attribution for entry ``name``, which ran under the
    job group ``name``: the memo keys it built or hit go to
    ``row["memo_keys"]`` (the sharded gate co-shards entries that share
    one), and the seconds of every top-level memo build recorded since
    the snapshot ``before`` go to ``shared_builds``, keyed like bench.py's
    ``shared_*`` lines."""
    keys = memo.touched(name)
    if keys:
        row["memo_keys"] = keys
    for line, secs in memo.build_lines(before).items():
        shared_builds[line] = round(shared_builds.get(line, 0.0) + secs, 2)


def main(names: list[str]) -> int:
    import __spark_entry__ as entrymod

    from nzwirelessmap_fetch_spark.plans import registry

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # Large-SF gates opt into the SEQUENCED oracles (one heavy pipeline
    # per statement → peak spill is one pipeline's, not their sum). The
    # default gate mirrors the driver exactly: one-shot strings only.
    seq_mode = os.environ.get("SPARK_GRAFT_ORACLE_SEQ") == "1"
    seq_oracles = registry.oracle_gate_steps() if seq_mode else {}
    profiles = registry.scale_profiles()

    if not names:
        names = list(qs)

    spark = get_spark("check-queries", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    # Large-SF gates: without a limit DuckDB grows unbounded on the
    # quadratic oracles (the sf1 CC oracle hit 46 GB and drew the OOM
    # killer); with a limit it spills to temp instead. Opt-in via env so
    # the small default gate keeps zero-config behavior.
    mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM")
    if mem:
        spill = f"/tmp/duckdb_spill_{os.getpid()}"
        os.makedirs(spill, exist_ok=True)
        con.execute(f"PRAGMA memory_limit='{mem}'")
        con.execute(f"PRAGMA temp_directory='{spill}'")
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        # directory-shaped tables (multi-file replicas): DuckDB needs a glob
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')"
        )

    shared_builds: dict[str, float] = {}

    # admission-budget header (r10 ADVICE): snapshot at run START —
    # the budget derives from free disk, which mid-run spill churn
    # moves by tens of GB; an end-of-run probe would record a budget
    # the passing rows were never admitted under
    from nzwirelessmap_fetch_spark.functions.admission import budget_report

    admission_header = budget_report()

    results: dict[str, dict] = {}
    failures = 0
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        before = memo.records()
        t0 = time.monotonic()
        row: dict = {}
        try:
            try:
                left = qs[name](spark, SF_DIR).toPandas()
            except Exception as ce:  # noqa: BLE001
                if "maxResultSize" not in str(ce):
                    raise
                # Output-sized resource bound: the PLAN completed
                # distributed; only collecting the result to one driver
                # exceeds the budget (at 100 TB this result goes to a
                # sink, never a driver). Adjudicate by CONTENT in-engine
                # (r8 verdict directive #4): both engines reduce the
                # full result to (n_rows, hash_sum, hash_xor) — an
                # order-insensitive 60-bit row-hash aggregate — so
                # nothing is materialized driver-side and a wrong-
                # content-right-cardinality plan bug still fails. Falls
                # back to count parity only for column types without an
                # engine-portable canonical form.
                from nzwirelessmap_fetch_spark.functions.content_hash import (
                    ContentHashUnsupported,
                    content_fingerprint,
                    content_fingerprint_sql,
                )

                sdf = qs[name](spark, SF_DIR)
                try:
                    sfp = content_fingerprint(sdf).collect()[0]
                    n_spark = int(sfp["n_rows"])
                except ContentHashUnsupported:
                    sfp = None
                    n_spark = sdf.count()
                t_spark_bounded = time.monotonic() - t0
                stmts = list(seq_oracles.get(name) or [])
                if not stmts and name in oracles:
                    stmts = [oracles[name]]
                if seq_mode and stmts:
                    from tools.oracle_cache import sequenced

                    stmts = sequenced(name, stmts) or stmts
                if stmts:
                    for step in stmts[:-1]:
                        con.execute(step)
                    ofp = None
                    if sfp is not None:
                        desc = con.execute(f"DESCRIBE {stmts[-1]}").fetchall()
                        try:
                            osql = content_fingerprint_sql(
                                stmts[-1], [(d[0], d[1]) for d in desc]
                            )
                            ofp = con.execute(osql).fetchone()
                        except ContentHashUnsupported:
                            ofp = None
                    if ofp is not None:
                        n_oracle = int(ofp[0])
                        row = {
                            "output_bounded": True,
                            "rows_match": n_spark == n_oracle,
                            "schema_match": sorted(sdf.columns)
                            == sorted(d[0] for d in desc),
                            "content_hash_match": (
                                str(sfp["hash_sum"]),
                                int(sfp["hash_xor"]),
                            )
                            == (str(ofp[1]), int(ofp[2])),
                            "spark_rows": n_spark,
                            "oracle_rows": n_oracle,
                            "note": "result exceeds the driver collect "
                            "budget; adjudicated by in-engine content "
                            "hash (order-insensitive row-hash sum/xor "
                            "computed distributively on both sides)",
                            "total_sec": round(time.monotonic() - t0, 2),
                        }
                    else:
                        n_oracle = con.execute(
                            f"SELECT COUNT(*) FROM ({stmts[-1]})"
                        ).fetchone()[0]
                        row = {
                            "output_bounded": True,
                            "rows_match": n_spark == n_oracle,
                            "spark_rows": n_spark,
                            "oracle_rows": int(n_oracle),
                            "note": "result exceeds the driver collect "
                            "budget; adjudicated as count parity (a "
                            "column type lacks an engine-portable "
                            "canonical form for the content hash)",
                            "total_sec": round(time.monotonic() - t0, 2),
                        }
                else:
                    row = {
                        "output_bounded": True,
                        "spark_rows": n_spark,
                        "rows_only": True,
                        "total_sec": round(time.monotonic() - t0, 2),
                    }
                row["spark_sec"] = round(t_spark_bounded, 2)
                results[name] = row
                attribute(name, row, before, shared_builds)
                # schema_match participates in the verdict wherever it
                # was computed (r9 ADVICE: a column-rename-only
                # divergence that keeps sorted-name positions must not
                # pass the content-hash path green)
                leaked = _unowned_cache(spark, row)
                if (
                    leaked
                    or not row.get("rows_match", True)
                    or not row.get("content_hash_match", True)
                    or not row.get("schema_match", True)
                ):
                    failures += 1
                print(f"{name}: {json.dumps(row)}", flush=True)
                continue
            t_spark = time.monotonic() - t0
            statements = None
            if name in seq_oracles:
                statements = list(seq_oracles[name])
            elif name in oracles:
                statements = [oracles[name]]
            if statements is not None and seq_mode:
                # Swap the shared quadratic inter CTE for the
                # once-per-connection cache (tools/oracle_cache.py);
                # non-eligible entries run their statements unchanged.
                from tools.oracle_cache import sequenced

                cached = sequenced(name, statements)
                if cached is not None:
                    statements = cached
            if statements is not None:
                for step in statements[:-1]:
                    con.execute(step)
                right = con.execute(statements[-1]).df()
            else:
                right = None
            if right is not None:
                ln, lc, lh = frame_fingerprint(left)
                rn, rc, rh = frame_fingerprint(right)
                row = {
                    "rows_match": ln == rn,
                    "schema_match": lc == rc,
                    "hash_match": lh == rh,
                    "spark_rows": ln,
                    "oracle_rows": rn,
                }
                if name in seq_oracles or len(statements) > 1:
                    row["oracle_mode"] = "sequenced"
            else:
                row = {"spark_rows": len(left), "rows_only": True}
            row["spark_sec"] = round(t_spark, 2)
            row["total_sec"] = round(time.monotonic() - t0, 2)
        except Exception as e:  # noqa: BLE001 — mirror the driver's err field
            if type(e).__name__ == "ExactMeasureBoundError":
                # Structured adjudication (r7 verdict directive #3): the
                # plan's own admission guard measured the exact measure's
                # fan-out OVER budget and refused before the catastrophic
                # shuffle — record the measurement and the oracle-checked
                # scale twin whose green row stands in at this SF.
                row = {
                    "bounded": True,
                    "note": str(e)[:400],
                    "scale_twin": (profiles.get(name) or {}).get("scale_twin"),
                    "total_sec": round(time.monotonic() - t0, 2),
                }
            else:
                row = {"err": f"{type(e).__name__}: {e}"[:300],
                       "total_sec": round(time.monotonic() - t0, 2)}
        attribute(name, row, before, shared_builds)
        leaked = _unowned_cache(spark, row)
        ok = row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
        if leaked or (not ok and not row.get("rows_only") and not row.get("bounded")):
            failures += 1
        results[name] = row
        print(f"{name}: {json.dumps(row)}", flush=True)

    bounded = sum(1 for r in results.values() if r.get("bounded"))
    unowned = sum(1 for r in results.values() if r.get("unowned_cache"))
    print(
        f"\n{len(names)} checked, {failures} failing"
        + (f", {bounded} budget-bounded (twin-adjudicated)" if bounded else "")
        + (f", {unowned} with unowned_cache" if unowned else "")
    )
    out = os.environ.get("SPARK_GRAFT_CHECK_OUT")
    if out:
        if shared_builds:
            results["_shared_builds"] = shared_builds
        # run-start snapshot (see above): cross-run verdict flips
        # (pass ↔ bounded refusal) stay explainable from artifacts alone
        results["_admission"] = admission_header
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
