"""The gate and bench tools: the sharded gate's layout and spill
reaping, the exact-Jaccard oracle prelude its inter cache matches, the
sf1 artifact merge and bench extraction, and the shared memo builds
that bench.py and check_queries.py attribute from the memo's record
(functions/memo.py)."""

from __future__ import annotations

import os

import pytest

from nzwirelessmap_fetch_spark.functions import memo
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _without_job_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------ shard layout


def test_shard_layout_heavy_light_partition():
    """Shard 0 gets exactly the inter-cache-eligible (quadratic oracle)
    entries; the rest round-robin; the layout is a partition of the
    input; n_shards=1 degenerates to one shard."""
    from tools.oracle_cache import eligible
    from tools.run_sharded_gate import shard_layout

    heavy = sorted(eligible())[:3]
    assert heavy, "fixture assumption: some eligible entries exist"
    names = heavy + [f"light_{i}" for i in range(10)]

    shards = shard_layout(names, 4)
    assert shards[0] == heavy
    flat = [n for s in shards for n in s]
    assert sorted(flat) == sorted(names)  # partition: no dupes, no drops
    assert all(n.startswith("light_") for s in shards[1:] for n in s)

    assert shard_layout(names, 1) == [names]


def test_shard_layout_never_empty():
    """r10 ADVICE: an empty shard's argv makes check_queries run the
    FULL registry; shard_layout must drop empty shards instead."""
    from tools.run_sharded_gate import shard_layout

    # no eligible names → the H shard would be empty
    shards = shard_layout(["not_eligible_a", "not_eligible_b"], 3)
    assert all(shards)
    assert sorted(n for s in shards for n in s) == [
        "not_eligible_a",
        "not_eligible_b",
    ]
    # more shards than light entries → trailing empties dropped
    shards = shard_layout(["not_eligible_a"], 5)
    assert all(shards) and sum(len(s) for s in shards) == 1


def test_shard_layout_co_shards_memo_families(spark):
    """Shard isolation defeats the in-process memoized substrates, so the
    entries that touched one memo key ride in ONE shard, on a map
    recorded in this session the way the gate records it
    (``touched_keys``: each registry call alone under its job group).
    The links run through nested calls (``sim_rrf_fusion`` reads the IVF
    cells through ``sim_ivf``) and through a shared helper substrate
    (capped Jaccard and capped containment resolve one
    ``prefix_order``); the simhash family, chained to an
    oracle-cache-eligible entry, lands on the H shard."""
    from nzwirelessmap_fetch_spark.operators.dedup import JACCARD_MAX_DF
    from tools.run_sharded_gate import shard_layout, touched_keys

    names = [
        "dedup_simhash_hamming",
        "dedup_simhash_content_hash",
        "dedup_simhash_quality_eval",
        "dedup_ngram_jaccard_capped",
        "corpus_containment_capped",
        "sim_ivf",
        "sim_rrf_fusion",
    ]
    memo.reset()
    keys = touched_keys(spark, names)
    shards = shard_layout(names, 3, keys)
    assert sorted(n for s in shards for n in s) == sorted(names)
    shard_of = {n: i for i, s in enumerate(shards) for n in s}
    by_key: dict[str, set[int]] = {}
    for n, ks in keys.items():
        for k in ks:
            by_key.setdefault(k, set()).add(shard_of[n])
    assert by_key and all(len(s) == 1 for s in by_key.values()), by_key
    assert "ivf_cells:()" in set(keys["sim_ivf"]) & set(keys["sim_rrf_fusion"])
    prefix = f"prefix_order:{JACCARD_MAX_DF!r}"
    assert prefix in keys["dedup_ngram_jaccard_capped"]
    assert prefix in keys["corpus_containment_capped"]
    assert shard_of["sim_rrf_fusion"] == shard_of["sim_ivf"]
    assert shard_of["corpus_containment_capped"] == shard_of["dedup_ngram_jaccard_capped"]
    assert {shard_of[n] for n in names[:3]} == {0}
    memo.reset()


# ---------------------------------------------- oracle prelude and cache

# the entries whose oracle carries the full-postings Σdf² join
_FULL_POSTINGS = {
    "corpus_canonical_picks", "corpus_containment", "corpus_containment_cap_eval",
    "dedup_cc_star", "dedup_connected_components", "dedup_lsh_quality_eval",
    "dedup_ngram_jaccard", "dedup_simhash_quality_eval", "dedup_snm_multipass_eval",
    "dedup_snm_quality_eval", "graph_assortativity", "graph_bfs_levels",
    "graph_community_label_prop", "graph_kcore", "graph_louvain_converged",
    "graph_louvain_one_level", "graph_louvain_two_level", "graph_modularity",
    "graph_pagerank", "graph_random_walks", "graph_triangle_count",
}


def test_jaccard_oracles_share_one_prelude():
    """Every oracle text (one-shot or gate step) that carries a shingle
    pair join carries it inside the shared exact-Jaccard prelude,
    verbatim; the package spells the shingle CTE and the pair join once
    and no Jaccard threshold literal; and the inter cache's eligible
    set, derived from the prelude, is the full-postings entries, with
    the df-capped twins left out."""
    import glob
    import re

    from nzwirelessmap_fetch_spark.operators.dedup import _INTER_CTES, _INTER_CTES_CAPPED
    from nzwirelessmap_fetch_spark.plans import registry
    from tools.oracle_cache import eligible

    pair_join = re.compile(r"FROM (\w+) a JOIN \1 b USING \(shingle\)")
    texts = {n: [sql] for n, sql in registry.oracle_sql().items()}
    for n, steps in registry.oracle_gate_steps().items():
        texts.setdefault(n, []).extend(steps)
    carriers = set()
    for n, ts in texts.items():
        for t in ts:
            joins = len(pair_join.findall(t))
            assert joins == t.count(_INTER_CTES) + t.count(_INTER_CTES_CAPPED), n
            if joins:
                carriers.add(n)
    capped = {"dedup_ngram_jaccard_capped", "corpus_containment_capped"}
    assert carriers == _FULL_POSTINGS | capped

    source = "".join(
        open(p).read()
        for p in glob.glob(f"{REPO}/nzwirelessmap_fetch_spark/**/*.py", recursive=True)
    )
    assert source.count("i -> w[i] || ' ' || w[i+1])) AS shingle") == 1
    assert len(pair_join.findall(source)) == 1
    assert "n_inter) >= 0.5" not in source

    assert eligible() == _FULL_POSTINGS
    assert not capped & eligible()


# ------------------------------------------------------ gate processes


def test_reap_orphan_spill_dirs(tmp_path, monkeypatch):
    """Dead-pid spill dirs are reaped; live-pid and non-numeric-suffix
    dirs are kept."""
    import subprocess
    import sys as _sys

    from tools import run_sharded_gate as G

    dead = subprocess.Popen([_sys.executable, "-c", "pass"])
    dead.wait()

    d_dead = tmp_path / f"duckdb_spill_{dead.pid}"
    d_live = tmp_path / f"duckdb_spill_{__import__('os').getpid()}"
    d_junk = tmp_path / "duckdb_spill_manual"
    for d in (d_dead, d_live, d_junk):
        d.mkdir()
        (d / "block").write_bytes(b"x")

    monkeypatch.setattr(
        G.glob, "glob", lambda pat: [str(d_dead), str(d_live), str(d_junk)]
    )
    reaped = G.reap_orphan_spill_dirs()
    assert reaped == [str(d_dead)]
    assert not d_dead.exists()
    assert d_live.exists() and d_junk.exists()


def test_merge_adjudication_rules(tmp_path):
    """r9 ADVICE: (a) a schema mismatch fails an output-bounded row even
    when its content hash matches; (b) a bounded row's scale twin may
    itself be adjudicated via the output-bounded content-hash path."""
    import json
    import subprocess
    import sys

    # real registry names, so the tool's name validation passes
    def run(rows):
        src = tmp_path / "shard.json"
        out = tmp_path / "merged.json"
        src.write_text(json.dumps(rows))
        rc = subprocess.run(
            [sys.executable, "tools/merge_sf1_artifacts.py", str(out), str(src)],
            capture_output=True, text=True, cwd=REPO,
        )
        return rc.returncode, rc.stdout

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    cb_green = {"output_bounded": True, "rows_match": True,
                "schema_match": True, "content_hash_match": True}

    # (a) rename-only divergence on the content-hash path must FAIL
    rc, _ = run({"dedup_exact": {**cb_green, "schema_match": False},
                 "p2p_links": green})
    assert rc == 1
    rc, _ = run({"dedup_exact": cb_green, "p2p_links": green})
    assert rc == 0

    # (b) a bounded row leaning on a content-hash-adjudicated twin passes
    rc, _ = run({
        "dedup_ngram_jaccard": {"bounded": True,
                                "scale_twin": "dedup_ngram_jaccard_capped"},
        "dedup_ngram_jaccard_capped": cb_green,
    })
    assert rc == 0
    # ...but not on a twin whose own schema mismatched
    rc, _ = run({
        "dedup_ngram_jaccard": {"bounded": True,
                                "scale_twin": "dedup_ngram_jaccard_capped"},
        "dedup_ngram_jaccard_capped": {**cb_green, "schema_match": False},
    })
    assert rc == 1

    # (c) a green row — by EITHER adjudication method — never loses to
    # a later source's errored re-run
    def run2(rows_a, rows_b):
        a, b = tmp_path / "a.json", tmp_path / "b.json"
        out = tmp_path / "merged.json"
        a.write_text(json.dumps(rows_a))
        b.write_text(json.dumps(rows_b))
        rc = subprocess.run(
            [sys.executable, "tools/merge_sf1_artifacts.py",
             str(out), str(a), str(b)],
            capture_output=True, text=True, cwd=REPO,
        )
        return rc.returncode

    assert run2({"p2p_links": green},
                {"p2p_links": {"err": "OOM"}}) == 0
    assert run2({"dedup_exact": cb_green, "p2p_links": green},
                {"dedup_exact": {"err": "OOM"}}) == 0
    # a NON-green prior row IS refreshed by the later source
    assert run2({"p2p_links": {"rows_match": False}},
                {"p2p_links": green}) == 0
    assert run2({"p2p_links": green},
                {"p2p_links": {"rows_match": False, "schema_match": True,
                               "hash_match": False}}) == 1


def test_extract_bench_sf1_shapes(tmp_path, capsys):
    """The sf1 bench extractor lifts spark_sec per entry, computes the
    headline subset by family prefix, and NAMES untimed rows (bounded
    refusals) instead of dropping them silently."""
    import json as _json

    from tools.extract_bench_sf1 import main as extract

    art = {
        "p2p_links": {"spark_sec": 1.5, "total_sec": 9.0},
        "dedup_exact": {"spark_sec": 2.0, "total_sec": 4.0},
        "agg_rollup": {"spark_sec": 0.5, "total_sec": 1.0},
        "corpus_winnowing": {"bounded": True, "total_sec": 0.1},  # refusal
        "_meta": "not-a-dict-row-guard",
    }
    src = tmp_path / "uniform.json"
    src.write_text(_json.dumps(art))
    out = tmp_path / "BENCH_SF1.json"

    assert extract(str(out), [f"uniform={src}"]) == 0
    got = _json.loads(out.read_text())
    shape = got["shapes"]["uniform"]
    assert shape["n_timed"] == 3
    assert shape["total_spark_sec"] == 4.0
    assert shape["headline"] == {"p2p_links": 1.5, "dedup_exact": 2.0}
    assert shape["headline_total_sec"] == 3.5
    assert shape["untimed"] == ["corpus_winnowing"]


# ------------------------------------------------------ shared memo builds


def test_bench_moves_every_build_to_a_shared_line(spark, monkeypatch):
    """bench.py's timing loop takes each top-level memo build out of the
    consumer that paid for it and into ``shared_<family>_build``: with
    every entry retried (``RETRY_OVER_S`` = 0, each retry a memo hit),
    the IVF k-means and snapshot builds stay in the suite total."""
    import bench
    from nzwirelessmap_fetch_spark.plans import registry

    names = [
        "dedup_ngram_jaccard",
        "dedup_ngram_jaccard_capped",
        "sim_ivf_kmeans",
        "table_txn_log",
    ]
    entries = registry.queries()
    monkeypatch.setattr(bench, "RETRY_OVER_S", 0)
    memo.reset()
    try:
        timings, retried, refused = bench.time_queries(
            spark, SF_SMOKE, {n: entries[n] for n in names}
        )
    finally:
        _without_job_group(spark)
    assert retried == names and refused == []
    builds = memo.build_lines({})
    for line in (
        "shared_jaccard_pair_build",
        "shared_jaccard_pair_build_capped",
        "shared_ivf_kmeans_build",
        "shared_snapshot_build",
    ):
        assert line in timings and line in builds, line
    # every top-level build sits in its shared line, and no other line
    # holds build seconds: the non-consumer lines are exactly the builds
    assert set(timings) == set(names) | set(builds)
    for line, secs in builds.items():
        assert timings[line] == pytest.approx(secs, abs=1e-3), line
    assert {r.group for r in memo.records().values() if not r.nested} <= set(names)
    # after the retries, the suite total still holds every build once
    consumers = sum(timings[n] for n in names)
    assert sum(timings.values()) - consumers == pytest.approx(
        sum(builds.values()), abs=0.01
    )
    assert builds["shared_ivf_kmeans_build"] > 0 < builds["shared_snapshot_build"]
    memo.reset()


def test_new_memo_family_needs_no_tool_edit(spark, monkeypatch):
    """A family the tools have never seen gets a bench line, a
    ``_shared_builds`` entry and a shard group from its ``memo(...)``
    call alone. Its one-second build lands in the shared line, not in
    the consumer that ran first."""
    import time

    import bench
    from tools.check_queries import attribute
    from tools.run_sharded_gate import shard_layout

    def slow_build() -> str:
        time.sleep(1.0)
        return "built"

    def consumer(spark, sf_dir):
        memo.memo("tool_probe", spark, sf_dir, (), slow_build)
        return spark.range(1)

    def loose(spark, sf_dir):
        return spark.range(1)

    monkeypatch.setattr(bench, "RETRY_OVER_S", float("inf"))
    queries = {"probe_a": consumer, "probe_b": consumer, "probe_c": loose}
    memo.reset("tool_probe")
    try:
        timings, _, _ = bench.time_queries(spark, SF_SMOKE, queries)
    finally:
        _without_job_group(spark)
    assert timings["shared_tool_probe_build"] >= 1.0
    assert timings["probe_a"] < 1.0 and timings["probe_b"] < 1.0

    memo.reset("tool_probe")
    shared: dict[str, float] = {}
    keys = {}
    try:
        for name, fn in queries.items():
            spark.sparkContext.setJobGroup(name, name)
            row: dict = {}
            before = memo.records()
            fn(spark, SF_SMOKE)
            attribute(name, row, before, shared)
            keys[name] = row.get("memo_keys", [])
    finally:
        _without_job_group(spark)
    assert shared["shared_tool_probe_build"] >= 1.0
    assert keys == {"probe_a": ["tool_probe:()"], "probe_b": ["tool_probe:()"], "probe_c": []}
    shards = shard_layout(["probe_a", "probe_c", "probe_b"], 3, keys)
    shard_of = {n: i for i, s in enumerate(shards) for n in s}
    assert shard_of["probe_a"] == shard_of["probe_b"] != shard_of["probe_c"]
    memo.reset("tool_probe")
