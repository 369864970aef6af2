"""The shingle-set pair builds (operators/dedup.py): the Jaccard and
containment builds share one sets fill whose action also yields the
df-skew probe and both admission pre-flights, and the corpus-adaptive
prefix order never changes a pair set."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.functions import memo
from tests.conftest import SF_SMOKE


def _pairs(frame) -> set:
    return {tuple(r) for r in frame.select("doc_a", "doc_b").collect()}


def test_adaptive_prefix_order_probe_and_identity(spark):
    """order="auto" (r6 directive #2): the df-skew probe picks hash
    order on the flat smoke fixture (measured max/p99 ≈ 1.1, threshold
    8), memoizes the decision per (app, corpus, max_df), and all three
    orders produce row-identical pair sets."""
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _containment_pairs,
        _verified_jaccard_pairs,
    )

    families = ("jaccard_pair", "containment", "prefix_order")
    for family in families:
        memo.reset(family)
    app = spark.sparkContext.applicationId

    auto = _pairs(_verified_jaccard_pairs(spark, SF_SMOKE, order="auto"))
    # flat synthetic corpus → hash order (no df join-back)
    assert memo.entries("prefix_order") == {(app, SF_SMOKE, None): "hash"}
    # the auto build is stored under its RESOLVED order key
    assert list(memo.entries("jaccard_pair")) == [(app, SF_SMOKE, (None, "hash"))]

    for order in ("df", "hash"):
        explicit = _pairs(_verified_jaccard_pairs(spark, SF_SMOKE, order=order))
        assert explicit == auto, f"order={order} changed the pair set"

    c_auto = _pairs(_containment_pairs(spark, SF_SMOKE, order="auto"))
    c_df = _pairs(_containment_pairs(spark, SF_SMOKE, order="df"))
    assert c_auto == c_df
    for family in families:
        memo.reset(family)


def test_prefix_order_probe_empty_corpus(spark):
    """r7 ADVICE: order='auto' on an EMPTY shingle table resolves to
    hash order with zero guard sums, not a TypeError on the NULL
    aggregates."""
    from nzwirelessmap_fetch_spark.operators.dedup import _ordered_sets, _SetStats

    sh = spark.createDataFrame([], "doc_id long, h long")
    order, sets, stats = _ordered_sets(sh, "auto")
    try:
        assert order == "hash"
        assert stats == _SetStats(mx=0, p99=1, jaccard_rows=0, containment_rows=0)
        assert sets.count() == 0
    finally:
        sets.unpersist()


def test_cold_jaccard_build_is_one_fill_and_one_checkpoint(spark):
    """A cold ``dedup_ngram_jaccard`` (probe miss, pair miss) fills its
    sets in the probe's own action and then checkpoints: ≤ 12 jobs under
    its build group (20 when the probe, the fill, the pre-flight and the
    candidate persist each ran an action), and nothing left in the cache
    manager."""
    from nzwirelessmap_fetch_spark.plans import registry

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cache = spark._jsparkSession.sharedState().cacheManager()
    memo.reset()
    group = "pair_builds_cold_jaccard"
    try:
        sc.setJobGroup(f"{group}:build", "dedup_ngram_jaccard")
        df = registry.queries()["dedup_ngram_jaccard"](spark, SF_SMOKE)
        build_jobs = len(tracker.getJobIdsForGroup(f"{group}:build"))
        sc.setJobGroup(group, "dedup_ngram_jaccard")
        assert len(df.toPandas()) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert build_jobs <= 12, build_jobs
    assert cache.isEmpty()
    memo.reset()


@pytest.mark.parametrize("order", ["hash", "df"])
def test_fill_stats_equal_standalone_guard_definitions(spark, order):
    """The fill's ``jaccard_rows`` is Σ_h cnt_prefix(h)² over the
    Jaccard prefixes and its ``containment_rows`` is the ``pc ⋈ qc``
    probe-prefix × posting fan-out — each computed here the standalone
    way over the same sets. The df-ordered sets are sorted by
    (df, h)."""
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _hashed_shingles,
        _ordered_sets,
    )

    sh = _hashed_shingles(spark, SF_SMOKE, None)
    resolved, sets, stats = _ordered_sets(sh, order)
    try:
        assert resolved == order
        n = F.col("n")
        prefixes = sets.select(
            F.explode(
                F.slice("hs", 1, (n - F.ceil(n * F.lit(0.5)) + 1).cast("int"))
            ).alias("h")
        )
        s2 = (
            prefixes.groupBy("h").count()
            .agg(F.sum(F.col("count") * F.col("count")))
            .first()[0]
        )
        pc = sets.select(
            F.explode(F.slice("hs", 1, (F.floor(n / 5) + 1).cast("int"))).alias("h")
        ).groupBy("h").agg(F.count(F.lit(1)).alias("ca"))
        qc = sets.select(F.explode("hs").alias("h")).groupBy("h").agg(
            F.count(F.lit(1)).alias("cb")
        )
        fanout = pc.join(qc, "h").agg(F.sum(F.col("ca") * F.col("cb"))).first()[0]
        assert (stats.jaccard_rows, stats.containment_rows) == (s2, fanout)
        assert stats.jaccard_rows > 0 and stats.containment_rows > 0

        rows = sh.collect()
        df = {}
        for r in rows:
            df[r["h"]] = df.get(r["h"], 0) + 1
        key = (lambda h: (df[h], h)) if order == "df" else (lambda h: h)
        for r in sets.collect():
            assert list(r["hs"]) == sorted(r["hs"], key=key)
            assert r["n"] == len(r["hs"])
        assert stats.mx == max(df.values())
    finally:
        sets.unpersist()


def test_admission_guard_refuses_and_leaves_no_persisted_frame(spark, monkeypatch):
    """With a one-row budget both exact builds refuse with
    ``ExactMeasureBoundError`` naming their capped twin — on the probe's
    fill (prefix-order miss) and on a fill of their own (prefix-order
    hit) — store no pair entry, and leave nothing in the cache
    manager."""
    from nzwirelessmap_fetch_spark.operators.dedup import (
        corpus_containment,
        dedup_ngram_jaccard,
    )
    from nzwirelessmap_fetch_spark.operators.text import ExactMeasureBoundError

    cache = spark._jsparkSession.sharedState().cacheManager()
    memo.reset()
    monkeypatch.setenv("SPARK_GRAFT_EXACT_PAIR_BUDGET", "1")
    for entry, twin in (
        (dedup_ngram_jaccard, "dedup_ngram_jaccard_capped"),
        (corpus_containment, "corpus_containment_capped"),
    ):
        with pytest.raises(ExactMeasureBoundError, match=twin):
            entry(spark, SF_SMOKE)
        assert cache.isEmpty(), entry.__name__
    assert len(memo.entries("prefix_order")) == 1
    assert memo.entries("jaccard_pair") == memo.entries("containment") == {}
    monkeypatch.delenv("SPARK_GRAFT_EXACT_PAIR_BUDGET")
    assert dedup_ngram_jaccard(spark, SF_SMOKE).count() > 0
    assert cache.isEmpty()
    memo.reset()
