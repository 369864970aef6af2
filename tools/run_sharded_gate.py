"""Sharded full-registry oracle gate for large fixtures.

Runs tools/check_queries.py as N shards (one process's DuckDB side of a
quadratic oracle peaks ~50 GB unbounded, and N concurrent 48 g Spark
drivers oversubscribe the box — both knobs are set per shard below),
then merges with tools/merge_sf1_artifacts.py.

- **Memo co-sharding**: an in-process memoized substrate
  (functions/memo.py) is rebuilt by every shard that holds one of its
  readers, so entries that share one must ride in ONE shard. Which
  entries share which substrate is recorded, not kept by hand: the gate
  first runs each entry's registry call at the smoke fixture under its
  own job group, in a child process, reads the memo keys it built or
  hit (``memo.touched``) and union-finds the entries that touched the
  same key. No oracle runs and no result is collected.
- **H/L shard layout**: shard 0 (the H shard) owns every entry whose
  oracle carries the full-postings quadratic shingle join
  (``tools.oracle_cache.eligible()``), plus every memo group chained to
  one — it builds the per-connection ``inter`` cache ONCE and never
  contends with another copy of the Σdf² spill; the remaining units
  balance across the L shards.
- **Orphan spill reaping on start**: check_queries points DuckDB's
  temp_directory at /tmp/duckdb_spill_<pid>; a killed gate process
  leaves the dir behind (a 47 GB orphan once cost an entry a
  no-space-left death). Any spill dir whose owning pid is dead is
  removed before shards launch.

    python tools/run_sharded_gate.py SF_DIR OUT.json [--shards N]
"""

from __future__ import annotations

import glob
import multiprocessing
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def reap_orphan_spill_dirs() -> list[str]:
    """Delete /tmp/duckdb_spill_<pid> dirs whose pid is no longer
    alive. Live gate processes keep their spill; everything else is
    leaked disk in the exact place the shards are about to spill."""
    reaped = []
    for d in glob.glob("/tmp/duckdb_spill_*"):
        try:
            pid = int(d.rsplit("_", 1)[-1])
        except ValueError:
            continue
        try:
            os.kill(pid, 0)  # signal 0: existence probe only
            continue  # owner alive — in use
        except ProcessLookupError:
            pass
        except PermissionError:
            continue  # alive under another uid
        shutil.rmtree(d, ignore_errors=True)
        reaped.append(d)
    return reaped


def touched_keys(spark, names: list[str]) -> dict[str, list[str]]:
    """Run each entry's registry call at the smoke fixture under a job
    group named after it and return the memo keys the call built or
    hit. The calls build their plans and memoized substrates; nothing
    is collected. A call that raises is reported and keeps the keys it
    touched first."""
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.plans import registry
    from tests.conftest import SF_SMOKE

    queries = registry.queries()
    keys = {}
    try:
        for n in names:
            spark.sparkContext.setJobGroup(n, n)
            try:
                queries[n](spark, SF_SMOKE)
            except Exception as e:  # noqa: BLE001 — the other entries still run
                print(f"{n}: {type(e).__name__}: {e}"[:300], file=sys.stderr)
            keys[n] = memo.touched(n)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    return keys


def _touched_keys_in_session(names: list[str]) -> dict[str, list[str]]:
    from nzwirelessmap_fetch_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("gate-memo-keys", cpus=cpus)
    try:
        return touched_keys(spark, names)
    finally:
        spark.stop()


def record_memo_keys(names: list[str]) -> dict[str, list[str]]:
    """:func:`touched_keys` for ``names`` in a spawned child process, so
    the gate holds no JVM while its shards run."""
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply(_touched_keys_in_session, (names,))


def _memo_groups(
    names: list[str], memo_keys: dict[str, list[str]]
) -> dict[str, int]:
    """Union-find over the recorded memo keys restricted to `names`: map
    each entry that touched a key to a group id (entries that touched
    the same key share a group)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict[str, str] = {}  # memo key -> first entry that touched it
    for n in names:
        for key in memo_keys.get(n, ()):
            parent.setdefault(n, n)
            if key in first:
                parent[find(n)] = find(first[key])
            else:
                first[key] = n
    roots: dict[str, int] = {}
    out: dict[str, int] = {}
    for n in parent:
        r = find(n)
        out[n] = roots.setdefault(r, len(roots))
    return out


def shard_layout(
    names: list[str], n_shards: int, memo_keys: dict[str, list[str]] | None = None
) -> list[list[str]]:
    """H/L layout with memo co-sharding over ``memo_keys`` (entry → the
    memo keys it touched, from :func:`record_memo_keys`; an entry with
    none rides alone): shard 0 gets every inter-cache-eligible
    (quadratic shingle-join oracle) entry PLUS any memo group chained to
    one; remaining memo groups ride whole on the least-loaded L shard;
    loose light entries balance round-robin. With n_shards == 1
    everything runs in one process."""
    from tools.oracle_cache import eligible

    if n_shards <= 1:
        return [list(names)]
    heavy_names = eligible()
    group_of = _memo_groups(names, memo_keys or {})
    n_groups = max(group_of.values(), default=-1) + 1
    group_members: list[list[str]] = [[] for _ in range(n_groups)]
    for n in names:
        if n in group_of:
            group_members[group_of[n]].append(n)
    heavy_groups = {
        g for g, members in enumerate(group_members)
        if any(m in heavy_names for m in members)
    }
    heavy, light_units = [], []
    seen_groups: set[int] = set()
    for n in names:
        g = group_of.get(n)
        if n in heavy_names or (g is not None and g in heavy_groups):
            heavy.append(n)
        elif g is not None:
            if g not in seen_groups:
                seen_groups.add(g)
                light_units.append(group_members[g])
        else:
            light_units.append([n])
    # whole-unit greedy balance over the L shards (largest first)
    lshards: list[list[str]] = [[] for _ in range(n_shards - 1)]
    for unit in sorted(light_units, key=len, reverse=True):
        min(lshards, key=len).extend(unit)
    shards = [heavy] + lshards
    # drop empty shards (r10 ADVICE: a names subset with no eligible
    # entries, or n_shards-1 exceeding the light-entry count, produced
    # an empty argv — and check_queries treats empty argv as "run the
    # FULL registry", silently re-running ~326 entries in contention
    # with the real shards)
    return [s for s in shards if s]


def main(argv: list[str]) -> int:
    sf_dir, out = argv[0], argv[1]
    n_shards = int(argv[argv.index("--shards") + 1]) if "--shards" in argv else 3

    reaped = reap_orphan_spill_dirs()
    if reaped:
        print(f"reaped {len(reaped)} orphan spill dirs: {reaped}", flush=True)

    import __spark_entry__ as entrymod

    from tools.oracle_cache import eligible

    names = list(entrymod.queries())
    t0 = time.monotonic()
    memo_keys = record_memo_keys(names)
    print(f"memo keys recorded in {time.monotonic() - t0:.0f}s", flush=True)
    shards = shard_layout(names, n_shards, memo_keys)
    heavy_names = eligible()
    procs = []
    shard_files = []
    for i, shard in enumerate(shards):
        env = dict(
            os.environ,
            SPARK_GRAFT_CHECK_SF=sf_dir,
            SPARK_GRAFT_CHECK_OUT=os.path.join(REPO, f".gate_shard{i}.json"),
            SPARK_GRAFT_DUCKDB_MEM="24GB",
            SPARK_GRAFT_DRIVER_MEM="20g",
            SPARK_GRAFT_CPUS="10",
            SPARK_GRAFT_ORACLE_SEQ="1",
        )
        shard_files.append(env["SPARK_GRAFT_CHECK_OUT"])
        log = open(os.path.join(REPO, f".gate_shard{i}.log"), "w")
        procs.append(
            (
                subprocess.Popen(
                    [sys.executable, os.path.join(REPO, "tools/check_queries.py")]
                    + shard,
                    env=env,
                    stdout=log,
                    stderr=subprocess.STDOUT,
                    cwd=REPO,
                ),
                log,
            )
        )
        # label by CONTENT, not index: when the heavy shard is empty it
        # is dropped from the layout, so shard 0 may be an L shard
        kind = "H" if any(n in heavy_names for n in shard) else "L"
        print(
            f"shard {i} ({kind}): {len(shard)} queries, pid {procs[-1][0].pid}",
            flush=True,
        )
    t0 = time.monotonic()
    rcs = []
    for i, (p, log) in enumerate(procs):
        rcs.append(p.wait())
        log.close()
        print(
            f"shard {i} exit {rcs[-1]} after {time.monotonic() - t0:.0f}s",
            flush=True,
        )
    # merge (logs as fallback for shards killed before writing JSON)
    sources = [
        f if os.path.exists(f) else f"log:{f.replace('.json', '.log')}"
        for f in shard_files
    ]
    merge = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/merge_sf1_artifacts.py"), out]
        + sources,
        cwd=REPO,
    )
    return merge.returncode


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
