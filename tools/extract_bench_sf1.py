"""Extract the Spark-side-only per-entry bench bar from sf1 gate
artifacts (r9 verdict directive #2).

The sf1 correctness gates record `total_sec` per entry, dominated by
DuckDB oracle + fingerprint time — engine-side regressions at the 100×
scale were invisible (the adaptive-K IVF trade was only measurable at
sf0.1). Since r10 every check_queries row also records `spark_sec`:
the Spark collect (or in-engine fingerprint) time alone. This tool
lifts those into BENCH_SF1.json, a per-entry bar to be held like
BENCH_FULL on future plan changes.

    python tools/extract_bench_sf1.py BENCH_SF1.json \
        uniform=CORRECTNESS_SF1_FULL.json zipf=CORRECTNESS_SF1_SKEW_FULL.json

Shared-build attribution: every check_queries artifact carries a
"_shared_builds" sidecar — the build seconds of each memoized substrate
that the memo recorded (functions/memo.py), per shard process, keyed
``shared_<family>_build[_capped]`` like bench.py's lines. This tool
surfaces it as explicit shared_* lines per shape, so cross-round
comparison can subtract the build from whichever consumer line absorbed
it instead of diffing opaque family sums.
"""

from __future__ import annotations

import json
import sys

# The headline families the r9 verdict names for the sf1 bar (shared
# builds surface inside their first consumer — see module docstring).
HEADLINE_PREFIXES = (
    "p2p_links", "dedup_", "sim_", "corpus_", "graph_", "table_txn_",
)


def main(out: str, sources: list[str]) -> int:
    bench: dict = {"metric": "sf1_spark_side_sec", "sf": 1.0, "shapes": {}}
    for spec in sources:
        label, path = spec.split("=", 1) if "=" in spec else (spec, spec)
        with open(path) as f:
            rows = json.load(f)
        # sidecars: direct check_queries artifacts carry flat
        # _shared_builds/_admission keys; merged sharded artifacts nest
        # them per shard under _sidecars
        shared = rows.pop("_shared_builds", {})
        admission = rows.pop("_admission", None) or {}
        if admission:
            admission = {"direct": admission}
        for src, sc in rows.pop("_sidecars", {}).items():
            for build, sec in sc.get("_shared_builds", {}).items():
                shared[f"{src}:{build}"] = sec
            if sc.get("_admission"):
                admission[src] = sc["_admission"]
        admission = admission or None
        entries = {
            n: r["spark_sec"]
            for n, r in sorted(rows.items())
            if isinstance(r, dict) and "spark_sec" in r
        }
        headline = {
            n: s for n, s in entries.items()
            if n.startswith(HEADLINE_PREFIXES)
        }
        missing = sorted(
            n for n, r in rows.items()
            if isinstance(r, dict) and "spark_sec" not in r
        )
        bench["shapes"][label] = {
            "source": path,
            "n_timed": len(entries),
            "total_spark_sec": round(sum(entries.values()), 2),
            "headline_total_sec": round(sum(headline.values()), 2),
            "headline": headline,
            "entries": entries,
            # measured cache-miss build seconds per memoized substrate,
            # per shard process (see module docstring)
            "shared_builds": shared,
            "admission": admission,
            # no silent caps: rows without a Spark-side timing are the
            # bounded refusals / errored rows — named, not dropped
            "untimed": missing,
        }
    with open(out, "w") as f:
        json.dump(bench, f, indent=1, sort_keys=True)
    for label, shape in bench["shapes"].items():
        print(
            f"{label}: {shape['n_timed']} timed, "
            f"spark-side total {shape['total_spark_sec']}s "
            f"(headline {shape['headline_total_sec']}s), "
            f"{len(shape['untimed'])} untimed"
        )
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2:]))
