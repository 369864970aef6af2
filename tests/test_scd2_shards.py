"""join_scd2_lookup + corpus_shuffle_shards properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.catalog import Catalog
from nzwirelessmap_fetch_spark.operators.sessionize import join_scd2_lookup
from nzwirelessmap_fetch_spark.operators.text import N_SHARDS, corpus_shuffle_shards
from tests.conftest import SF_SMOKE


def test_scd2_lookup_row_count_equals_fact_count(spark):
    """Intervals partition each user's timeline, so the left join is
    1:≤1 — output rows == purchase rows exactly (no fan-out, no loss)."""
    e = Catalog(spark, SF_SMOKE).table("events")
    n_purchases = e.filter(F.col("event_type") == "purchase").count()
    out = join_scd2_lookup(spark, SF_SMOKE)
    assert out.count() == n_purchases
    # any matched state is a browse state, never 'purchase'
    assert (
        out.filter(F.col("state_at_purchase") == "purchase").count() == 0
    )


def test_scd2_lookup_state_is_latest_browse_event(spark):
    """Spot-check the semantic: state_at_purchase equals the event_type
    of the latest non-purchase event at-or-before the purchase ts."""
    e = Catalog(spark, SF_SMOKE).table("events")
    out = join_scd2_lookup(spark, SF_SMOKE).orderBy("event_id").limit(20).collect()
    browse = (
        e.filter(F.col("event_type") != "purchase")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    for r in out:
        prior = [
            b
            for b in browse
            if b.user_id == r.user_id and b.ts <= r.ts
        ]
        if not prior:
            assert r.state_at_purchase is None
        else:
            latest = max(prior, key=lambda b: (b.ts, b.event_id))
            assert r.state_at_purchase == latest.event_type


def test_shuffle_shards_is_permutation(spark):
    d = Catalog(spark, SF_SMOKE).table("documents")
    out = corpus_shuffle_shards(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == d.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < N_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    # positions within each shard are exactly 1..len (dense ranks)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_shuffle_shards_stable_under_repartition(spark):
    a = {(r.doc_id, r.shard, r.pos) for r in corpus_shuffle_shards(spark, SF_SMOKE).collect()}
    b = {
        (r.doc_id, r.shard, r.pos)
        for r in corpus_shuffle_shards(spark, SF_SMOKE).repartition(7).collect()
    }
    assert a == b


def test_scd2_lookup_plans_equi_join_not_nested_loop(spark):
    """The containment residual must ride the user_id equi-join —
    a BroadcastNestedLoopJoin here would be the corpus×corpus range-join
    anti-pattern the docstring warns about."""
    plan = (
        join_scd2_lookup(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_token_budget_quotas_sum_exactly(spark):
    from nzwirelessmap_fetch_spark.operators.text import (
        TOKEN_BUDGET,
        corpus_token_budget_mix,
    )

    rows = corpus_token_budget_mix(spark, SF_SMOKE).collect()
    assert sum(r.quota for r in rows) == TOKEN_BUDGET
    for r in rows:
        assert r.quota in (r.floor_quota, r.floor_quota + 1)


def test_bigram_lm_probabilities_coherent(spark):
    from nzwirelessmap_fetch_spark.operators.text import (
        LM_TOP_SUCCESSORS,
        text_bigram_lm,
    )

    rows = text_bigram_lm(spark, SF_SMOKE).collect()
    assert rows
    by_w1: dict[str, list] = {}
    for r in rows:
        assert 1 <= r.rk <= LM_TOP_SUCCESSORS
        assert 0 <= r.p_ppm <= 1_000_000
        assert r.n <= r.total
        by_w1.setdefault(r.w1, []).append(r)
    for w1, succ in by_w1.items():
        # ranks are dense from 1 and counts non-increasing in rank order
        succ.sort(key=lambda r: r.rk)
        assert [r.rk for r in succ] == list(range(1, len(succ) + 1))
        assert all(a.n >= b.n for a, b in zip(succ, succ[1:]))
        # top successors cannot exceed the word's total mass
        assert sum(r.p_ppm for r in succ) <= 1_000_000


def test_survival_km_monotone_decreasing(spark):
    from nzwirelessmap_fetch_spark.plans.stats import events_survival_km

    rows = sorted(events_survival_km(spark, SF_SMOKE).collect(), key=lambda r: r.d)
    assert rows
    prev = 1.0
    for r in rows:
        assert 0.0 <= r.survival <= prev + 1e-12  # S(d) non-increasing from 1
        assert 0 < r.n_deaths <= r.n_at_risk
        prev = r.survival


def test_seasonal_naive_errors_consistent(spark):
    from nzwirelessmap_fetch_spark.plans.stats import orders_seasonal_naive_eval

    rows = orders_seasonal_naive_eval(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.abs_err_cents == abs(r.actual_cents - r.forecast_cents)
        assert r.ape_ppm == r.abs_err_cents * 1_000_000 // max(r.actual_cents, 1)


def test_markov_stationary_is_distribution(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        events_markov_stationary,
    )

    rows = events_markov_stationary(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r.pi for r in rows)
    assert abs(total - 1.0) < 1e-4  # row-stochastic P preserves mass
    assert all(r.pi >= 0 for r in rows)


def test_markov_oracle_follows_iterations(spark, monkeypatch):
    """The oracle generates one power step per ``MARKOV_ITERS``: at 1
    and at 4 steps the engine hash-matches the oracle built for that
    count, and the two answers differ."""
    import duckdb

    from nzwirelessmap_fetch_spark.operators import events_analytics as ea
    from tests.oracle import compare, frame_fingerprint

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_SMOKE}/events.parquet')"
    )
    answers = set()
    for iters in (1, 4):
        monkeypatch.setattr(ea, "MARKOV_ITERS", iters)
        sql = ea._events_markov_stationary_sql(iters)
        compare(ea.events_markov_stationary(spark, SF_SMOKE), con, sql)
        answers.add(frame_fingerprint(con.execute(sql).df()))
    con.close()
    assert len(answers) == 2


def test_ks_test_bounds(spark):
    from nzwirelessmap_fetch_spark.plans.stats import events_ks_test

    (r,) = events_ks_test(spark, SF_SMOKE).collect()
    assert 0 <= r.d_ppm <= 1_000_000
    assert r.gap_num <= r.n_a * r.n_b
