"""The session memo (functions/memo.py): one live corpus per family,
release frees checkpoint storage and temp dirs, failed builds store
nothing."""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import pytest

from nzwirelessmap_fetch_spark.functions import memo
from tests.conftest import SF_SMOKE


def _live_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


def _checkpoint_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def _eventually(pred, timeout_s: float = 20.0) -> bool:
    """Block removal is asynchronous (unpersist(blocking=False))."""
    deadline = time.monotonic() + timeout_s
    while not pred():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.2)
    return True


def _aliases(tmp_path, n: int) -> list[str]:
    out = []
    for i in range(n):
        alias = tmp_path / f"alias{i}"
        alias.symlink_to(SF_SMOKE, target_is_directory=True)
        out.append(str(alias))
    return out


def test_hit_miss_and_eviction_contract(spark):
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            return tag

        return run

    memo.reset("contract")
    try:
        assert memo.memo("contract", spark, "sfA", 1, build("a1")) == "a1"
        assert memo.memo("contract", spark, "sfA", 1, build("again")) == "a1"
        # other params under the same corpus coexist
        assert memo.memo("contract", spark, "sfA", 2, build("a2")) == "a2"
        assert len(memo.entries("contract")) == 2
        # a new corpus releases every entry of the old one
        assert memo.memo("contract", spark, "sfB", 1, build("b1")) == "b1"
        assert [k[1:] for k in memo.entries("contract")] == [("sfB", 1)]
        assert builds == ["a1", "a2", "b1"]
    finally:
        memo.reset("contract")
    assert memo.entries("contract") == {}


def test_failed_build_stores_nothing(spark):
    def boom():
        raise RuntimeError("build failed")

    memo.reset("failing")
    with pytest.raises(RuntimeError):
        memo.memo("failing", spark, SF_SMOKE, (), boom)
    assert memo.entries("failing") == {}
    assert not [k for k in memo.records() if k[0] == "failing"]
    assert memo.memo("failing", spark, SF_SMOKE, (), lambda: "ok") == "ok"
    memo.reset("failing")


def _family_records(family: str) -> dict:
    return {k: r for (fam, k), r in memo.records().items() if fam == family}


def test_record_keeps_builder_and_hit_groups(spark):
    """A build records its job group and seconds; 100 hits under one
    group add that group and nothing else."""
    sc = spark.sparkContext
    memo.reset("recorded")
    try:
        sc.setJobGroup("builder", "builder")
        memo.memo("recorded", spark, SF_SMOKE, (), lambda: time.sleep(0.05) or "v")
        sc.setJobGroup("reader", "reader")
        for _ in range(100):
            assert memo.memo("recorded", spark, SF_SMOKE, (), lambda: "rebuilt") == "v"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (record,) = _family_records("recorded").values()
    assert record.group == "builder" and record.build_s >= 0.05
    assert record.hits == {"reader"} and not record.nested
    assert memo.touched("reader") == memo.touched("builder") == ["recorded:()"]
    memo.reset("recorded")


def test_nested_build_is_marked_and_gets_no_line(spark):
    """``winnow_fingerprints`` builds inside the ``winnow`` build: it is
    recorded nested, and only the outer build gets a shared line (its
    seconds already hold the inner build's)."""
    from nzwirelessmap_fetch_spark.operators.text import _winnow_pairs

    memo.reset("winnow")
    memo.reset("winnow_fingerprints")
    before = memo.records()
    _winnow_pairs(spark, SF_SMOKE, max_df=None)
    (inner,) = _family_records("winnow_fingerprints").values()
    (outer,) = _family_records("winnow").values()
    assert inner.nested and not outer.nested
    assert outer.build_s >= inner.build_s
    lines = memo.build_lines(before)
    assert lines == {"shared_winnow_build": outer.build_s}
    memo.reset("winnow")
    memo.reset("winnow_fingerprints")


def test_record_goes_with_its_entry(spark):
    """Eviction (a new corpus) and ``reset()`` drop the record with the
    entry, so a long session keeps records for live entries only."""
    memo.reset("bounded")
    memo.memo("bounded", spark, "sfA", (1,), lambda: "a")
    memo.memo("bounded", spark, "sfB", (1,), lambda: "b")
    assert [k[1] for k in _family_records("bounded")] == ["sfB"]
    assert memo.build_lines({}).get("shared_bounded_build_capped") is not None
    memo.reset()
    assert memo.records() == {}


def test_two_aliases_leave_one_live_jaccard_checkpoint(spark, tmp_path):
    """Each path alias is a new sf_dir: the second build releases the
    first one's localCheckpoint blocks, which unpersist()/clearCache()
    alone leave in storage."""
    from nzwirelessmap_fetch_spark.operators.dedup import _verified_jaccard_pairs

    memo.reset()
    before = _live_rdd_ids(spark)
    ids = [
        _checkpoint_id(_verified_jaccard_pairs(spark, alias))
        for alias in _aliases(tmp_path, 2)
    ]
    assert ids[0] != ids[1]
    assert _eventually(lambda: _live_rdd_ids(spark) - before == {ids[1]})
    assert len(memo.entries("jaccard_pair")) == 1
    memo.reset()
    assert _eventually(lambda: not (_live_rdd_ids(spark) - before))


def test_reset_frees_every_memo_storage(spark):
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _containment_pairs,
        _verified_jaccard_pairs,
        _verified_simhash_pairs,
    )
    from nzwirelessmap_fetch_spark.operators.similarity import (
        _ivf_cells,
        _knn_ranked,
        sim_ivf_kmeans,
        sim_lsh_banded,
    )
    from nzwirelessmap_fetch_spark.operators.text import _winnow_pairs

    memo.reset()
    frames = [
        _verified_jaccard_pairs(spark, SF_SMOKE),
        _containment_pairs(spark, SF_SMOKE),
        _verified_simhash_pairs(spark, SF_SMOKE),
        _winnow_pairs(spark, SF_SMOKE, max_df=None),
        sim_lsh_banded(spark, SF_SMOKE),
        _knn_ranked(spark, SF_SMOKE),
        _ivf_cells(spark, SF_SMOKE)[0],
        sim_ivf_kmeans(spark, SF_SMOKE),
    ]
    for frame in frames:
        frame.count()
    held = set()
    for frame in frames:
        leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                held.add(leaf.rdd().id())
    # the winnow fingerprints are a checkpoint too, read by the pair build
    fp, _n_docs = memo.entries("winnow_fingerprints")[
        (spark.sparkContext.applicationId, SF_SMOKE, ())
    ]
    held.add(_checkpoint_id(fp))
    assert held <= _live_rdd_ids(spark)
    memo.reset()
    assert all(
        memo.entries(f) == {}
        for f in (
            "jaccard_pair",
            "containment",
            "lsh_banded",
            "winnow_fingerprints",
            "ivf_cells",
            "ivf_kmeans",
        )
    )
    assert _eventually(lambda: not (held & _live_rdd_ids(spark)))


def test_ivf_family_owns_one_checkpoint_and_a_hit_is_free(spark):
    """The IVF consumers read one ``ivf_cells`` checkpoint. Run the way
    the correctness gate runs them (registry call, then ``toPandas()``,
    one job group each) from a reset memo: the family holds one entry, the
    registry calls of ``sim_ivf`` and ``sim_ivf_pq`` run no Spark job
    (each counted the corpus for K when it built its own assignment),
    and no entry leaves a frame in the cache manager."""
    from nzwirelessmap_fetch_spark.plans import registry

    entries = registry.queries()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    memo.reset()
    build_jobs = {}
    try:
        for name in (
            "corpus_semdedup",
            "sim_ivf",
            "sim_ivf_pq",
            "sim_ivf_recall_eval",
        ):
            group = f"ivf_family_{name}"
            sc.setJobGroup(f"{group}:build", name)
            df = entries[name](spark, SF_SMOKE)
            build_jobs[name] = len(tracker.getJobIdsForGroup(f"{group}:build"))
            sc.setJobGroup(group, name)
            assert len(df.toPandas()) > 0, name
            assert cache.isEmpty(), name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert build_jobs["sim_ivf"] == build_jobs["sim_ivf_pq"] == 0, build_jobs
    (value,) = memo.entries("ivf_cells").values()
    assert _checkpoint_id(value[0]) in _live_rdd_ids(spark)
    memo.reset("ivf_cells")


def test_ivf_kmeans_trains_once_per_session(spark):
    """``sim_ivf_kmeans`` memoizes its trained centroid checkpoint and
    n_probe in family ``ivf_kmeans``: a second registry call in one
    session runs no Spark job (the first trains: count, two Lloyd
    iterations, the checkpoint), both calls return the same rows, and
    the cache manager stays empty."""
    from nzwirelessmap_fetch_spark.operators.similarity import sim_ivf_kmeans

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    memo.reset("ivf_kmeans")
    build_jobs, rows = [], []
    try:
        for i in range(2):
            group = f"ivf_kmeans_call{i}"
            sc.setJobGroup(f"{group}:build", "sim_ivf_kmeans")
            df = sim_ivf_kmeans(spark, SF_SMOKE)
            build_jobs.append(len(tracker.getJobIdsForGroup(f"{group}:build")))
            sc.setJobGroup(group, "sim_ivf_kmeans")
            rows.append(sorted(map(tuple, df.collect())))
            assert cache.isEmpty()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert build_jobs[0] > 0 and build_jobs[1] == 0, build_jobs
    assert rows[0] == rows[1] and rows[0]
    ((cents, n_probe),) = memo.entries("ivf_kmeans").values()
    assert _checkpoint_id(cents) in _live_rdd_ids(spark) and n_probe >= 4
    memo.reset("ivf_kmeans")


def test_pca_family_owns_no_storage_and_stays_cheap(spark):
    """The four PC entries share one ``pc`` entry of driver values: a
    cold ``embedding_pca_top2`` is the Gram pass plus its action, the
    entries leave no persisted RDD behind, and the entry holds no frame
    (the Spark power iteration took ~88 jobs and kept its checkpoints)."""
    from pyspark.sql import DataFrame

    from nzwirelessmap_fetch_spark.operators import sketches

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    memo.reset()
    before = _live_rdd_ids(spark)
    jobs = {}
    try:
        for name in (
            "embedding_pca_top2",
            "embedding_principal_component",
            "embedding_abtt_residual",
            "embedding_whitening",
        ):
            group = f"pca_family_{name}"
            sc.setJobGroup(group, name)
            getattr(sketches, name)(spark, SF_SMOKE).toPandas()
            jobs[name] = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["embedding_pca_top2"] <= 8, jobs
    assert not (_live_rdd_ids(spark) - before)
    (value,) = memo.entries("pc").values()
    v1, lam1, v2, lam2 = value
    assert not any(isinstance(x, DataFrame) for x in value)
    assert all(type(x) is float for x in [*v1, lam1, *v2, lam2])
    assert len(v1) == len(v2) == sketches._PC_DIM

def test_stopped_application_entry_dropped_without_jvm_call(spark):
    """An entry keyed by another applicationId is dropped on the next
    miss, and its frame is not touched (the JVM it lived in is gone)."""
    frame = spark.range(10).localCheckpoint(eager=True)
    stopped = SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId="app-stopped", getLocalProperty=lambda _key: None
        )
    )
    memo.reset("stopped")
    memo.memo("stopped", stopped, SF_SMOKE, (), lambda: frame)
    memo.memo("stopped", spark, SF_SMOKE, (), lambda: "fresh")
    assert list(memo.entries("stopped").values()) == ["fresh"]
    assert _checkpoint_id(frame) in _live_rdd_ids(spark)
    memo.reset("stopped")
    frame._jdf.queryExecution().analyzed().rdd().unpersist(True)


def test_evicting_snapshot_root_removes_its_temp_dir(spark, tmp_path):
    from nzwirelessmap_fetch_spark.plans.relational import table_diff_versions

    memo.reset("snapshot")
    first, second = _aliases(tmp_path, 2)
    table_diff_versions(spark, first).count()
    (root1,) = memo.entries("snapshot").values()
    assert os.path.isdir(root1)
    table_diff_versions(spark, second).count()
    (root2,) = memo.entries("snapshot").values()
    assert not os.path.exists(root1) and os.path.isdir(root2)
    memo.reset("snapshot")
    assert not os.path.exists(root2)


def _staged_files(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


def test_stage_memos_hold_what_they_stage(spark):
    """The ORC, partitioned and schema-merge round trips write their
    staged files inside the memo build, so the build line holds the
    write and a second call in the session reads the same files back
    without rewriting them."""
    from nzwirelessmap_fetch_spark.plans import relational

    calls = {
        "orc_stage": relational.format_orc_roundtrip,
        "parted_stage": relational.format_partitioned_roundtrip,
        "merge_stage": relational.format_schema_merge_roundtrip,
    }
    for family, fn in calls.items():
        memo.reset(family)
        before = memo.records()
        first = set(fn(spark, SF_SMOKE).collect())
        assert memo.build_lines(before)[f"shared_{family}_build"] > 0
        (root,) = memo.entries(family).values()
        staged = _staged_files(root)
        assert staged, family
        assert set(fn(spark, SF_SMOKE).collect()) == first
        assert _staged_files(root) == staged, family
        memo.reset(family)
        assert not os.path.exists(root)
