"""Sharded full-registry oracle gate for large fixtures (r7 verdict
directive #2: the sf1 gate must also run on the REALISTIC Zipf corpus).

Runs tools/check_queries.py as N shards (memory notes: one process's
DuckDB side of a quadratic oracle peaks ~50 GB unbounded, and N
concurrent 48 g Spark drivers oversubscribe the box — both knobs are
set per shard below), then merges with tools/merge_sf1_artifacts.py.

Two gate-operations lessons from the r9 sf1 runs are ENCODED here
rather than left as operator knowledge (r9 verdict directive #7):

- **H/L shard layout by default**: shard 0 (the H shard) owns every
  entry whose oracle carries the full-postings quadratic shingle join
  (``tools.oracle_cache.ELIGIBLE``) — it builds the per-connection
  ``inter`` cache ONCE and never contends with another copy of the
  Σdf² spill; the remaining entries round-robin across the L shards.
  No ``SPARK_GRAFT_ORACLE_LOCK`` anywhere: with the heavy oracles
  isolated on one process the lock only serializes (measured r9: a
  lock on round-robin shards collapsed throughput to ~zero behind one
  20-minute quadratic build).
- **Orphan spill reaping on start**: check_queries points DuckDB's
  temp_directory at /tmp/duckdb_spill_<pid>; a killed gate process
  leaves the dir behind (a 47 GB orphan cost one r9 entry a
  no-space-left death). Any spill dir whose owning pid is dead is
  removed before shards launch.

    python tools/run_sharded_gate.py SF_DIR OUT.json [--shards N]
"""

from __future__ import annotations

import glob
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


# Entries that consume the same heavy per-PROCESS memoized substrate
# (functions/memo.py families: eager-checkpoint pair frames /
# power-iteration trajectories). Kept by hand; each comment names the
# memo family. Shard
# isolation defeats an in-process memo — each shard that holds any
# member rebuilds the whole substrate (r10 verdict directive #6) — so
# members of a family must ride in ONE shard. dedup_simhash_quality_eval
# consumes BOTH the simhash and jaccard substrates, chaining those two
# families into one group that lands on the H shard with the
# oracle-cache-eligible truth entries.
MEMO_FAMILIES: list[set[str]] = [
    {  # memo family "simhash_pairs" (operators/dedup.py)
        "dedup_simhash_hamming",
        "dedup_simhash_content_hash",
        "dedup_simhash_quality_eval",
    },
    {  # memo families "winnow_fingerprints" + "winnow_pairs" (operators/text.py)
        "corpus_winnowing",
        "corpus_winnowing_capped",
        "corpus_winnowing_cap_eval",
    },
    {  # memo family "containment_pairs" (operators/dedup.py)
        "corpus_containment",
        "corpus_containment_capped",
        "corpus_containment_cap_eval",
    },
    {  # memo family "pca" (operators/sketches.py)
        "embedding_principal_component",
        "embedding_abtt_residual",
        "embedding_pca_top2",
        "embedding_whitening",
    },
    {  # memo family "jaccard_pairs" (operators/dedup.py) — including the
        # 11 graph entries that reach it through _jaccard_edges
        # (operators/graph.py). Today every one of those is also
        # oracle-cache ELIGIBLE (so they ride the H shard regardless);
        # listing them here keeps the one-shard-per-memo invariant true
        # even if the ELIGIBLE set changes.
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_capped",
        "dedup_lsh_quality_eval",
        "dedup_simhash_quality_eval",
        "dedup_snm_quality_eval",
        "dedup_snm_multipass_eval",
        "dedup_connected_components",
        "dedup_cc_star",
        "corpus_canonical_picks",
        "graph_pagerank",
        "graph_bfs_levels",
        "graph_triangle_count",
        "graph_assortativity",
        "graph_kcore",
        "graph_modularity",
        "graph_louvain_one_level",
        "graph_louvain_two_level",
        "graph_louvain_converged",
        "graph_community_label_prop",
        "graph_random_walks",
    },
    {  # memo family "lsh_banded" (operators/similarity.py): the verified
        # pair stream and the ranked kNN adjacency built over it
        "sim_lsh_banded",
        "sim_knn_graph",
        "embedding_knn_outliers",
        "sim_graph_greedy_search",
        "sim_graph_beam_search",
        "corpus_submodular_select",
        "sim_maxsim_pruned",
        "ml_knn_classifier_eval",
    },
    {  # memo family "ivf_cells" (operators/similarity.py): the seed-
        # centroid cell assignment; the last two read it through sim_ivf
        "sim_ivf",
        "sim_ivf_pq",
        "corpus_semdedup",
        "sim_ivf_recall_eval",
        "sim_rrf_fusion",
    },
]


def _memo_groups(names: list[str]) -> dict[str, int]:
    """Union-find over MEMO_FAMILIES restricted to `names`: map each
    member to a group id (families sharing a member merge)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    present = set(names)
    for fam in MEMO_FAMILIES:
        members = [n for n in fam if n in present]
        for n in members:
            parent.setdefault(n, n)
        for a, b in zip(members, members[1:]):
            parent[find(a)] = find(b)
    roots: dict[str, int] = {}
    out: dict[str, int] = {}
    for n in parent:
        r = find(n)
        out[n] = roots.setdefault(r, len(roots))
    return out


def shard_layout(names: list[str], n_shards: int) -> list[list[str]]:
    """H/L layout with memo-family co-sharding: shard 0 gets every
    inter-cache-eligible (quadratic shingle-join oracle) entry PLUS any
    memo family chained to one; remaining memo families ride whole on
    the least-loaded L shard; loose light entries balance round-robin.
    With n_shards == 1 everything runs in one process."""
    from tools.oracle_cache import ELIGIBLE

    if n_shards <= 1:
        return [list(names)]
    group_of = _memo_groups(names)
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
    shards = shard_layout(names, n_shards)
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
            SPARK_GRAFT_ATTR_SHARED="1",
        )
        env.pop("SPARK_GRAFT_ORACLE_LOCK", None)  # see module docstring
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
