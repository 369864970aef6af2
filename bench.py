"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixture) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end into the no-op sink (full projection runs,
nothing materializes on the driver) — the same execution profile a cluster
job has, so these numbers track shuffle/scan cost, not driver collect cost.
Each memoized substrate build is its own ``shared_<family>_build`` line
(see :func:`time_queries`); ``value`` is the sum of all lines.

Output-size contract: a reader of this output keeps only the last ~2000
bytes of stdout and parses the final JSON line out of that window, so the
printed line is SIZE-CAPPED: it always carries metric/value/unit/sf plus
the slowest queries that fit in the budget. The COMPLETE per-query map,
stamped with the CPU count, is written next to this file as
BENCH_FULL_c{cpus}.json and as BENCH_FULL.json (the alias the line echoes
under "full"). Entries whose exact measure the host's pair budget refuses
are listed under "refused" (their count, if the names do not fit) instead
of ending the run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from nzwirelessmap_fetch_spark.functions import memo  # noqa: E402
from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError  # noqa: E402
from nzwirelessmap_fetch_spark.plans import registry  # noqa: E402
from nzwirelessmap_fetch_spark.session import get_spark  # noqa: E402


RETRY_OVER_S = 2.5


def time_queries(
    spark: SparkSession, sf_dir: str, queries: dict[str, Callable]
) -> tuple[dict[str, float], list[str], list[str]]:
    """Time each query into the no-op sink under a Spark job group named
    after it; return ``(timings, retried, refused)``.

    A memoized substrate (functions/memo.py) is built by whichever of
    its consumers runs first. Each top-level build the memo records
    during a run is moved out of that run's line into its own
    ``shared_<family>_build[_capped]`` line, so a consumer line measures
    the consumer's own work and the suite total holds every build once.

    An exact measure whose pre-flight exceeds the host's pair budget
    raises ExactMeasureBoundError before its pair join runs: it is
    listed under ``refused`` (never timed, never retried).

    Host-load guard (BASELINE.md documents ±3× swings): a query whose
    first timing exceeds RETRY_OVER_S gets ONE retry and keeps the min.
    A retry is a memo hit, and any build it does pay is taken out of its
    time too, so a retry never drops a build from the total."""
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    shared: dict[str, float] = {}

    def run_one(name: str, fn: Callable, builds_into: dict[str, float]) -> float:
        sc.setJobGroup(name, name)
        before = memo.records()
        start = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        finally:
            builds = memo.build_lines(before)
            for line, secs in builds.items():
                builds_into[line] = builds_into.get(line, 0.0) + secs
        return round(time.perf_counter() - start - sum(builds.values()), 3)

    refused = []
    for name, fn in sorted(queries.items()):
        try:
            timings[name] = run_one(name, fn, shared)
        except ExactMeasureBoundError:
            refused.append(name)
    retried = []
    for name, fn in sorted(queries.items()):
        if name not in refused and timings[name] > RETRY_OVER_S:
            retried.append(name)
            timings[name] = min(timings[name], run_one(name, fn, {}))
    timings.update((line, round(secs, 3)) for line, secs in shared.items())
    return timings, retried, refused


def main() -> None:
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")

    # warm the JVM + parquet footer cache so per-query numbers measure the
    # query, not session startup
    spark.range(1000).count()
    # two more one-time costs would land on whichever query hits them
    # first: the Arrow Python worker pool (first pandas-UDF query) and
    # streaming-engine start-up (first writeStream). Pay both here.
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    wq = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    wq.awaitTermination()

    timings, retried, refused = time_queries(spark, sf_dir, registry.queries())

    total = round(sum(timings.values()), 3)
    cpus = spark.sparkContext.defaultParallelism
    full_payload = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "elapsed_s": round(time.perf_counter() - t_start, 3),
        "retried": retried,
        "refused": refused,
        "n_queries": len(timings),
    }
    # The per-CPU file keeps each core count's map (an 8-core run never
    # overwrites the 32-core one); the plain name aliases the latest run.
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in (f"BENCH_FULL_c{cpus}.json", "BENCH_FULL.json"):
        with open(os.path.join(here, fname), "w") as fh:
            json.dump({**full_payload, "cpus": cpus}, fh, indent=1, sort_keys=True)
            fh.write("\n")

    # Size-capped stdout line (see module docstring): headline numbers plus
    # as many of the SLOWEST queries as fit. Slowest-first is the right
    # truncation — the expensive tail is what BASELINE.md compares;
    # sub-second queries carry no signal a total doesn't already carry.
    LINE_BUDGET = 1800
    compact = dict(full_payload)
    compact["full"] = "BENCH_FULL.json"
    compact["queries"] = {}
    compact["queries_omitted"] = len(timings)
    by_cost = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for name, secs in by_cost:
        trial = dict(compact)
        trial["queries"] = {**compact["queries"], name: secs}
        trial["queries_omitted"] = len(timings) - len(trial["queries"])
        if len(json.dumps(trial)) > LINE_BUDGET:
            break
        compact = trial
    if len(json.dumps(compact)) > LINE_BUDGET:  # pathological: counts, not lists
        compact["retried"] = len(retried)
        compact["refused"] = len(refused)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
