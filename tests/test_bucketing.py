"""Bucketed co-located join: the Spark equivalent of the reference's
secondary indexes (SURVEY.md §2.1 P11 — `AccessExporter#createIndexes`
recreates every Access index so SQLite can do index nested-loop joins).

Spark has no secondary indexes; the pre-organization that buys the same
join locality is bucketing: both sides written `bucketBy(N, key)` means a
sort-merge join reads matching buckets directly — ZERO shuffle exchanges
at any scale. At 100 TB this is the difference between re-shuffling the
fact table on every join and shuffling it once at write time.
"""

from __future__ import annotations

import pytest

from nzwirelessmap_fetch_spark.sinks.writers import write_bucketed_table
from tests.conftest import SF_CORRECT

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    customer = spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
    for df, name, key in [
        (orders, "orders_bkt", "o_custkey"),
        (customer, "customer_bkt", "c_custkey"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(df, name, N_BUCKETS, key=key)
    yield
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_bkt").join(
            spark.table("customer_bkt"),
            spark.table("orders_bkt").o_custkey
            == spark.table("customer_bkt").c_custkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"

        # same join WITHOUT bucketing must shuffle — proves the assertion
        # above is measuring bucketing, not a trivial plan
        o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
        c = spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
        plain = o.join(c, o.o_custkey == c.c_custkey)
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan_plain

        assert joined.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_ivf_index_at_rest_aggregates_without_shuffle(spark):
    """The ANN story at 100 TB: the IVF assignment written
    ``bucketBy(cell)`` IS the inverted file — cell-keyed work (posting-
    list stats, per-cell probes) then runs with NO exchange, because the
    bucketed scan already provides the hash distribution. The frame
    bucketed is the shared ``_ivf_cells`` substrate the IVF entries
    read."""
    from nzwirelessmap_fetch_spark.operators.similarity import _ivf_cells

    assigned, _n, _k, _p = _ivf_cells(spark, SF_CORRECT)
    spark.sql("DROP TABLE IF EXISTS ivf_at_rest")
    try:
        write_bucketed_table(assigned, "ivf_at_rest", N_BUCKETS, key="cell")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            stats = spark.table("ivf_at_rest").groupBy("cell").count()
            plan = stats._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, f"bucketed IVF scan still shuffles:\n{plan}"
            # control: the same aggregate over the unbucketed frame shuffles
            plain = assigned.groupBy("cell").count()
            assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()
            assert stats.count() == plain.count() > 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_at_rest")
