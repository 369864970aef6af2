"""Sharded full-registry oracle gate for large fixtures.

Runs tools/check_queries.py as N shards (one process's DuckDB side of a
quadratic oracle peaks ~50 GB unbounded, and N concurrent 48 g Spark
drivers oversubscribe the box — both knobs are set per shard below),
then merges with tools/merge_sf1_artifacts.py.

- **Memo co-sharding**: an in-process memoized substrate
  (functions/memo.py) is rebuilt by every shard that holds one of its
  readers, so entries that share one must ride in ONE shard. Which
  entries share which substrate is recorded, not kept by hand: the gate
  first runs check_queries over the names at the smoke fixture, whose
  rows list the memo keys each entry built or hit, and union-finds the
  entries that touched the same key.
- **H/L shard layout**: shard 0 (the H shard) owns every entry whose
  oracle carries the full-postings quadratic shingle join
  (``tools.oracle_cache.ELIGIBLE``), plus every memo group chained to
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
import json
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


def record_memo_keys(names: list[str]) -> dict[str, list[str]]:
    """Run check_queries over ``names`` at the smoke fixture and return
    the memo keys each entry built or hit (its rows' ``memo_keys``)."""
    from tests.conftest import SF_SMOKE

    out = os.path.join(REPO, ".gate_memo_keys.json")
    env = dict(os.environ, SPARK_GRAFT_CHECK_SF=SF_SMOKE, SPARK_GRAFT_CHECK_OUT=out)
    with open(os.path.join(REPO, ".gate_memo_keys.log"), "w") as log:
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/check_queries.py")] + names,
            env=env, stdout=log, stderr=subprocess.STDOUT, cwd=REPO,
        )
    with open(out) as f:
        rows = json.load(f)
    return {n: rows[n].get("memo_keys", []) for n in names if n in rows}


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
    from tools.oracle_cache import ELIGIBLE

    if n_shards <= 1:
        return [list(names)]
    group_of = _memo_groups(names, memo_keys or {})
    n_groups = max(group_of.values(), default=-1) + 1
    group_members: list[list[str]] = [[] for _ in range(n_groups)]
    for n in names:
        if n in group_of:
            group_members[group_of[n]].append(n)
    heavy_groups = {
        g for g, members in enumerate(group_members)
        if any(m in ELIGIBLE for m in members)
    }
    heavy, light_units = [], []
    seen_groups: set[int] = set()
    for n in names:
        g = group_of.get(n)
        if n in ELIGIBLE or (g is not None and g in heavy_groups):
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
    # drop empty shards (r10 ADVICE: a names subset with no ELIGIBLE
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

    names = list(entrymod.queries())
    shards = shard_layout(names, n_shards, record_memo_keys(names))
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
        from tools.oracle_cache import ELIGIBLE as _EL

        kind = "H" if any(n in _EL for n in shard) else "L"
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
