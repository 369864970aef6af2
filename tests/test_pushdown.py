"""Scan-efficiency pins: predicate pushdown, column pruning, and
whole-stage codegen must actually reach the physical plan (SURVEY.md §4 —
the reference got these from SQLite's planner; here Catalyst provides them,
and these tests keep refactors from silently breaking that).

At 100 TB these are the difference between reading row groups that match a
filter and reading the table: a scan that pulls all 16 lineitem columns for
a 2-column projection is a bug even when results are correct.
"""

from __future__ import annotations

from tests.conftest import SF_CORRECT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .filter("l_orderkey < 100")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)" in plan


def test_parquet_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .filter("l_orderkey < 100")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    # ReadSchema carries ONLY the projected+filtered columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_scans_are_pruned(spark):
    """The 8-way flagship join must not scan any full-width table.

    Parses the ``FileScan parquet [attrs]`` output list (the ReadSchema
    display string is truncated by Spark and can't be counted)."""
    import re

    from nzwirelessmap_fetch_spark.plans.flagship import flagship

    plan = _plan(flagship(spark, SF_CORRECT))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 8  # 8 relation instances
    for cols in scans:
        n_cols = len(cols.split(","))
        assert n_cols <= 6, f"flagship scan reads {n_cols} columns: {cols}"


def test_whole_stage_codegen_covers_agg(spark):
    df = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )
    df.collect()  # AQE finalizes (and codegen-compiles) only on execution
    assert "*(" in _plan(df), "aggregation fell out of whole-stage codegen"


def test_ilike_prefix_pushdown_helper(spark):
    """compat.sqlite_like adds a raw-column prefix disjunction for 1-char
    patterns so the scan can skip row groups even though ilike itself
    (StartsWith(lower(col))) can't push."""
    from nzwirelessmap_fetch_spark.plans.flagship import flagship

    plan = _plan(flagship(spark, SF_CORRECT))
    assert "Or(StringStartsWith(p_type,S),StringStartsWith(p_type,s))" in plan


def test_no_corpus_sized_broadcast_hints():
    """Pin the round-2 fix for the n-gram Jaccard scale hazard: dedup
    operators must not carry unconditional ``F.broadcast`` hints — the
    verification side table is corpus-sized (doc → full shingle-hash set)
    and a forced broadcast must fit on the driver and every executor,
    which cannot hold at 100 TB. Keyed joins + AQE (which elects a
    broadcast on its own when the ACTUAL size is small) are the contract."""
    import pathlib

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "nzwirelessmap_fetch_spark"
        / "operators"
        / "dedup.py"
    ).read_text()
    assert "broadcast(" not in src


def test_no_unguarded_driver_materialization():
    """Pin the README scale claim: `.collect()`/`.toPandas()` appear in the
    engine exactly six times, all bounded — the row-budget-guarded
    single-array JSON writer (P17 bug-compat), the N_QUERIES-row query-set
    fetch in the numpy top-k (the broadcast side of a top-k, not data),
    the |event-types|-row state-list fetch seeding the Markov power
    iteration (the matrix dimension, never data), the 2-row corpus-totals
    fetch in DSIR scoring (two scalars from ONE pass over the persisted
    bigram stream — r4, replacing two full-corpus count() jobs), the
    dim² = 4,096-cell Gram matrix the PCA power iterations run on (fixed
    by the embedding width, never corpus-sized), and the
    `.limit(n).collect()` display path of the run_query CLI. Any new
    driver-side materialization must be justified here by name."""
    import pathlib

    import collections
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "nzwirelessmap_fetch_spark"
    hits: collections.Counter = collections.Counter()
    for p in sorted(root.rglob("*.py")):
        src = p.read_text()
        hits[str(p.relative_to(root))] += src.count(".collect()") + src.count(
            ".toPandas()"
        )
    nonzero = {k: v for k, v in hits.items() if v}
    assert nonzero == {
        "operators/events_analytics.py": 1,
        "operators/similarity.py": 1,
        "operators/sketches.py": 1,
        "operators/text.py": 1,
        "run_query.py": 1,
        "sinks/writers.py": 1,
    }, f"unexpected driver-side materialization: {nonzero}"


def test_ilike_shadow_column_pushes_multichar_prefix(spark, tmp_path):
    """Multi-char case-insensitive prefixes can't push down through
    lower(); a stored lowercase shadow column turns them into a raw
    StartsWith the scan can skip row groups on."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.functions.compat import (
        ilike_shadow_name,
        sqlite_like_indexed,
        with_ilike_shadow,
    )

    src = spark.read.parquet(f"{SF_CORRECT}/part.parquet")
    path = str(tmp_path / "part_shadow")
    with_ilike_shadow(src, "p_type").write.parquet(path)

    t = spark.read.parquet(path)
    df = t.filter(sqlite_like_indexed("p_type", "PRO%")).select("p_partkey", "p_type")
    plan = _plan(df)
    assert f"StringStartsWith({ilike_shadow_name('p_type')},pro)" in plan
    # semantics unchanged vs the plain ilike predicate
    want = t.filter(F.col("p_type").ilike("PRO%")).count()
    assert df.count() == want and want > 0
    # non-prefix patterns fall back to plain ilike (no bogus pushdown)
    fb = t.filter(sqlite_like_indexed("p_type", "%STEEL"))
    assert "StringStartsWith" not in _plan(fb)


def test_partition_pruning(spark, tmp_path):
    """Hive-partitioned layout must prune at planning time: a filter on
    the partition column shows up in PartitionFilters and non-matching
    directories are never scanned. At 100 TB this is the difference
    between reading one day and reading the lake."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.catalog import Catalog

    src = Catalog(spark, SF_CORRECT).table("events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    src.write.partitionBy("day").parquet(path)

    t = spark.read.parquet(path)
    df = t.filter(F.col("day") == "2024-01-02").select("event_id", "value")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(day" in plan
    # the full-scan row count differs -> pruning actually dropped data
    assert df.count() == src.filter(F.col("day") == "2024-01-02").count()


def test_scd2_single_exchange(spark):
    """Both window passes (lag change-detect, lead interval-close) sort
    by the same key — Catalyst must schedule ONE shuffle, not two."""
    from nzwirelessmap_fetch_spark.operators.sessionize import events_scd2

    plan = _plan(events_scd2(spark, SF_CORRECT))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning(spark, tmp_path):
    """A filtered dim joined to a hive-partitioned fact must inject a
    runtime pruning subquery (DPP): only partitions whose keys survive
    the dim filter are scanned. At 100 TB this is how a date-dim filter
    avoids reading the whole fact lake even though the fact-side
    predicate is not known until runtime."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.catalog import Catalog

    src = Catalog(spark, SF_CORRECT).table("events").withColumn(
        "day", F.to_date("ts")
    )
    src.write.partitionBy("day").parquet(str(tmp_path / "e"))
    days = (
        src.select(F.col("day").alias("d"))
        .distinct()
        .withColumn("tag", (F.dayofmonth("d") % 7 == 0).cast("int"))
    )
    days.write.parquet(str(tmp_path / "d"))

    fact = spark.read.parquet(str(tmp_path / "e"))
    dim = spark.read.parquet(str(tmp_path / "d")).filter("tag = 1")
    j = fact.join(dim, fact.day == dim.d).groupBy("day").count()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), "no DPP subquery injected"
    # and the pruned result is still correct
    keep = {r.d for r in dim.collect()}
    want = src.filter(F.col("day").isin(keep)).count()
    assert sum(r["count"] for r in j.collect()) == want


def test_runtime_bloom_filter_injection(spark):
    """With a selective creation-side filter and shuffle-join sides,
    Catalyst must inject a bloom-filter runtime filter on the probe side
    (`might_contain` in the optimized plan) — the shuffle-join analog of
    DPP that drops non-matching fact rows BEFORE the exchange. Thresholds
    are lowered because fixture tables are far below the 10 GB production
    default; the injection rule itself is what's pinned."""
    from pyspark.sql import functions as F

    from nzwirelessmap_fetch_spark.catalog import Catalog

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1B",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        li = Catalog(spark, SF_CORRECT).table("lineitem")
        sup = Catalog(spark, SF_CORRECT).table("supplier").filter("s_acctbal > 9000")
        j = li.join(sup, li.l_suppkey == sup.s_suppkey).groupBy("s_nationkey").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, "no runtime bloom filter injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
