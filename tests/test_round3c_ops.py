"""Round-3 continuation batch C: merkle manifests, HITS, kNN outliers,
epoch upsampling, linear quality gate, multiplier bootstrap. Property
tests beyond the oracle gate — the oracle pins engine parity; these pin
the SEMANTICS."""

from __future__ import annotations

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.catalog import Catalog
from nzwirelessmap_fetch_spark.operators.graph import HITS_TOPK, graph_hits
from nzwirelessmap_fetch_spark.operators.similarity import (
    OUTLIER_BOTTOM_K,
    embedding_knn_outliers,
)
from nzwirelessmap_fetch_spark.operators.sketches import (
    MERKLE_BUCKETS,
    table_merkle_checksum,
)
from nzwirelessmap_fetch_spark.operators.text import (
    corpus_epoch_upsample,
    corpus_quality_logit,
)
from nzwirelessmap_fetch_spark.plans.stats import (
    BOOT_REPLICATES,
    events_bootstrap_ci,
)
from tests.conftest import SF_SMOKE


def test_merkle_manifest_covers_table_and_is_layout_stable(spark):
    rows = table_merkle_checksum(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= MERKLE_BUCKETS
    n_orders = Catalog(spark, SF_SMOKE).table("orders").count()
    assert sum(r.n_rows for r in rows) == n_orders
    # the manifest is a pure content function: a re-run (different task
    # scheduling, same data) must reproduce every fingerprint
    again = {r.bucket: (r.n_rows, r.xor_fp, r.sum_fp)
             for r in table_merkle_checksum(spark, SF_SMOKE).collect()}
    assert {r.bucket: (r.n_rows, r.xor_fp, r.sum_fp) for r in rows} == again


def test_hits_authority_ranking(spark):
    rows = graph_hits(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= HITS_TOPK
    scores = [r.auth2 for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        # a2 sums h2 over the part's buyers; every h2 ≥ the buyer's own
        # out-degree ≥ 1, so a2 ≥ a1 ≥ n_buyers ≥ 1
        assert r.auth2 >= r.auth1 >= r.n_buyers >= 1


def test_knn_outliers_ascending_and_isolated_first(spark):
    rows = embedding_knn_outliers(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= OUTLIER_BOTTOM_K
    scores = [r.knn_sim_micro for r in rows]
    assert scores == sorted(scores)
    for r in rows:
        assert (r.n_neighbors == 0) == (r.knn_sim_micro == 0)


def test_epoch_upsample_plan_invariants(spark):
    rows = corpus_epoch_upsample(spark, SF_SMOKE).collect()
    assert rows
    mx = max(r.src_tokens for r in rows)
    for r in rows:
        assert r.full_epochs >= 1
        assert r.residual_budget == mx % r.src_tokens
        assert r.residual_tokens <= r.residual_budget
        assert r.planned_tokens <= mx
        if r.src_tokens == mx:
            assert r.full_epochs == 1 and r.residual_docs == 0


def test_quality_logit_gate_consistency(spark):
    rows = corpus_quality_logit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.stop_milli <= 1000
        assert 0 <= r.distinct_milli <= 1000
        assert r.keep == (r.logit_milli >= 0)


def test_bootstrap_ci_brackets(spark):
    r = events_bootstrap_ci(spark, SF_SMOKE).collect()[0]
    assert r.n_purchases > 0
    assert r.replicates == BOOT_REPLICATES
    assert r.ci_lo <= r.ci_hi
    # a mean-one multiplier bootstrap of a positive variable stays positive
    assert r.ci_lo > 0


def test_canonical_picks_keep_the_best_member(spark):
    from nzwirelessmap_fetch_spark.operators.dedup import dedup_connected_components
    from nzwirelessmap_fetch_spark.operators.text import corpus_quality_logit
    from nzwirelessmap_fetch_spark.plans.corpus_pipeline import corpus_canonical_picks

    picks = {r.component_id: r for r in corpus_canonical_picks(spark, SF_SMOKE).collect()}
    assert picks
    cc = dedup_connected_components(spark, SF_SMOKE).collect()
    logit = {r.doc_id: r.logit_milli for r in corpus_quality_logit(spark, SF_SMOKE).collect()}
    members: dict[int, list[int]] = {}
    for r in cc:
        members.setdefault(r.component_id, []).append(r.doc_id)
    for comp, docs in members.items():
        p = picks[comp]
        assert p.n_members == len(docs)
        assert p.n_dropped == len(docs) - 1
        best = max(docs, key=lambda d: (logit[d], -d))
        assert p.kept_doc == best and p.kept_logit == logit[best]


def test_label_prop_communities_partition_the_edge_nodes(spark):
    from nzwirelessmap_fetch_spark.operators.graph import graph_community_label_prop

    rows = graph_community_label_prop(spark, SF_SMOKE).collect()
    assert rows
    nodes = {r.doc_id for r in rows}
    sizes: dict[int, int] = {}
    for r in rows:
        sizes[r.community] = sizes.get(r.community, 0) + 1
    for r in rows:
        assert r.community_size == sizes[r.community]
        assert r.community in nodes  # labels propagate from real node ids


def test_asof_nearest_click_minimizes_abs_delta(spark):
    from nzwirelessmap_fetch_spark.operators.asof import asof_nearest_click

    ev = Catalog(spark, SF_SMOKE).table("events").collect()
    clicks: dict[int, list] = {}
    for r in ev:
        if r.event_type == "click":
            clicks.setdefault(r.user_id, []).append(r)
    out = asof_nearest_click(spark, SF_SMOKE).collect()
    purchases = [r for r in ev if r.event_type == "purchase"]
    assert len(out) == len(purchases)
    by_id = {r.event_id: r for r in out}
    for p in purchases:
        got = by_id[p.event_id]
        cs = clicks.get(p.user_id, [])
        if not cs:
            assert got.click_id is None and got.delta_us is None
            continue
        # oracle-in-miniature: |Δ| asc, backward preferred, click_id desc
        def us(td):  # exact integer microseconds (total_seconds() is lossy)
            return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

        best = min(
            cs,
            key=lambda c: (
                abs(us(c.ts - p.ts)),
                0 if c.ts <= p.ts else 1,
                -c.event_id,
            ),
        )
        assert got.click_id == best.event_id
        assert got.delta_us == us(best.ts - p.ts)


def test_stream_watermark_topk_ranks(spark):
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        TOPK_PER_WINDOW,
        stream_watermark_topk,
    )

    rows = stream_watermark_topk(spark, SF_SMOKE).collect()
    assert rows
    per_win: dict = {}
    for r in rows:
        per_win.setdefault(r.window_start, []).append(r)
    for win_rows in per_win.values():
        win_rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in win_rows] == list(range(1, len(win_rows) + 1))
        assert len(win_rows) <= TOPK_PER_WINDOW
        ns = [r.n for r in win_rows]
        assert ns == sorted(ns, reverse=True)


def test_weighted_median_crosscheck(spark):
    from nzwirelessmap_fetch_spark.plans.stats import agg_weighted_median

    li = Catalog(spark, SF_SMOKE).table("lineitem").collect()
    groups: dict[str, list] = {}
    for r in li:
        groups.setdefault(r.l_returnflag, []).append(
            (round(r.l_extendedprice, 2), int(round(r.l_quantity * 100)))
        )
    out = {r.l_returnflag: r for r in agg_weighted_median(spark, SF_SMOKE).collect()}
    for flag, pts in groups.items():
        pts.sort()
        total = sum(w for _, w in pts)
        cum = 0
        for x, w in pts:
            cum += w
            if 2 * cum >= total:
                expected = x
                break
        assert abs(out[flag].weighted_median - expected) < 1e-9
        assert out[flag].total_centi_qty == total


def test_pattern_match_semantics(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        PATTERN_WINDOW_MIN,
        events_pattern_match,
    )

    ev = Catalog(spark, SF_SMOKE).table("events").collect()
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    out = {r.view_id: r for r in events_pattern_match(spark, SF_SMOKE).collect()}
    views = [r for r in ev if r.event_type == "view"]
    assert len(out) == len(views)
    lim = PATTERN_WINDOW_MIN * 60
    for v in views:
        rows = by_user[v.user_id]
        later_p = [r for r in rows if r.event_type == "purchase" and r.ts > v.ts]
        got = out[v.event_id]
        if not later_p:
            assert not got.matched and got.purchase_id is None
            continue
        first_ts = min(r.ts for r in later_p)
        first = max(r.event_id for r in later_p if r.ts == first_ts)
        errors_between = [
            r for r in rows
            if r.event_type == "error" and v.ts < r.ts < first_ts
        ]
        expect = (
            (first_ts - v.ts).total_seconds() <= lim and not errors_between
        )
        assert got.matched == expect
        if expect:
            assert got.purchase_id == first


def test_percentile_cont_brackets_disc(spark):
    from nzwirelessmap_fetch_spark.plans.stats import agg_percentile_cont

    for r in agg_percentile_cont(spark, SF_SMOKE).collect():
        assert r.lo_stat <= r.p90_cont <= r.hi_stat
        assert r.n > 0


def test_left_outer_stream_join_covers_inner_plus_nulls(spark):
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_left_outer_join,
        stream_stream_join,
    )

    outer = stream_left_outer_join(spark, SF_SMOKE).collect()
    inner = stream_stream_join(spark, SF_SMOKE).collect()
    matched = {(r.p_event_id, r.c_event_id) for r in outer if r.c_event_id is not None}
    assert matched == {(r.p_event_id, r.c_event_id) for r in inner}
    for r in outer:
        if r.c_event_id is None:
            assert r.c_ts is None
        else:
            assert r.c_ts <= r.p_ts


def test_seasonal_anomaly_gate(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        SEASONAL_MAD_K,
        events_seasonal_anomaly,
    )

    rows = events_seasonal_anomaly(spark, SF_SMOKE).collect()
    for r in rows:
        assert abs(r.residual) > SEASONAL_MAD_K * r.mad
        assert r.n - r.med == r.residual
        assert 1 <= r.dow <= 7 and 0 <= r.hod <= 23


def test_ar1_fit_shapes(spark):
    from nzwirelessmap_fetch_spark.plans.stats import events_ar1_fit

    rows = events_ar1_fit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_pairs > 0
        assert 0.0 <= r.r2 <= 1.0 + 1e-9


def test_semdedup_drop_rules(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        SEMDEDUP_TAU,
        corpus_semdedup,
    )

    rows = corpus_semdedup(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.kept_rep < r.dropped_vec          # greedy min-id keeps
        assert r.max_cos >= SEMDEDUP_TAU
        assert r.n_partners >= 1
    # a dropped vector must never be someone's kept representative
    # UNLESS it also survives as a keeper for a larger partner — greedy
    # min-id allows chains; what it forbids is dropping below the rep:
    dropped = {r.dropped_vec for r in rows}
    for r in rows:
        if r.kept_rep in dropped:
            # rep itself dropped ⇒ its own rep is even smaller
            rep_row = next(x for x in rows if x.dropped_vec == r.kept_rep)
            assert rep_row.kept_rep < r.kept_rep


def test_ivf_recall_bounds(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        TOP_K,
        sim_ivf_recall_eval,
    )

    rows = sim_ivf_recall_eval(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.hits <= r.k <= TOP_K
        assert r.recall_ppm == r.hits * 1_000_000 // r.k


def test_complete_mode_equals_batch(spark):
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_complete_totals,
    )

    got = {r.event_type: r.n for r in stream_complete_totals(spark, SF_SMOKE).collect()}
    want = {
        r.event_type: r.n
        for r in Catalog(spark, SF_SMOKE)
        .table("events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_dsir_affinity_excludes_target_and_is_ranked(spark):
    from nzwirelessmap_fetch_spark.operators.text import (
        BENCHMARK_SOURCE,
        corpus_dsir_affinity,
    )

    rows = corpus_dsir_affinity(spark, SF_SMOKE).collect()
    assert rows
    target_ids = {
        r.doc_id
        for r in Catalog(spark, SF_SMOKE)
        .table("documents")
        .filter(F.col("source") == BENCHMARK_SOURCE)
        .collect()
    }
    assert not ({r.doc_id for r in rows} & target_ids)
    scores = [r.affinity_ppm for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_corr_matrix_bounds_and_symmetric_inputs(spark):
    from nzwirelessmap_fetch_spark.plans.stats import _CORR_COLS, agg_corr_matrix

    rows = agg_corr_matrix(spark, SF_SMOKE).collect()
    assert len(rows) == len(_CORR_COLS) * (len(_CORR_COLS) - 1) // 2
    for r in rows:
        assert -1.0 - 1e-9 <= r.pearson_r <= 1.0 + 1e-9
        # upper triangle in declaration order, never a self-pair
        assert _CORR_COLS.index(r.col_a) < _CORR_COLS.index(r.col_b)
        assert r.n_rows > 0


def test_repeat_purchase_interval_median(spark):
    from nzwirelessmap_fetch_spark.plans.stats import orders_repeat_purchase_interval

    rows = orders_repeat_purchase_interval(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.median_gap_days >= 0
        assert r.n_gaps > 0


def test_update_mode_equals_batch(spark):
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        stream_update_mode_counts,
    )

    got = {r.event_type: r.n for r in stream_update_mode_counts(spark, SF_SMOKE).collect()}
    want = {
        r.event_type: r.n
        for r in Catalog(spark, SF_SMOKE)
        .table("events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_greedy_graph_search_improves_on_entry(spark):
    from nzwirelessmap_fetch_spark.functions.vectors import cosine
    from nzwirelessmap_fetch_spark.operators.similarity import (
        N_QUERIES,
        sim_graph_greedy_search,
    )

    rows = sim_graph_greedy_search(spark, SF_SMOKE).collect()
    assert len(rows) == N_QUERIES
    e = Catalog(spark, SF_SMOKE).table("embeddings")
    # entry node = smallest graph node id; best_cos must be ≥ the entry
    # similarity (the hop-0 baseline the descent starts from)
    entry_id = min(r.best_node for r in rows) if rows else None
    for r in rows:
        assert r.best_cos is not None
    q = {r.vec_id: r.embedding for r in e.filter(F.col("vec_id") < N_QUERIES).collect()}
    emb = {r.vec_id: r.embedding for r in e.collect()}

    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v)))

    for r in rows:
        assert abs(cos(q[r.q_id], emb[r.best_node]) - r.best_cos) < 1e-6


def test_beam_search_dominates_greedy(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        BEAM_WIDTH,
        sim_graph_beam_search,
        sim_graph_greedy_search,
    )

    beam = sim_graph_beam_search(spark, SF_SMOKE).collect()
    greedy = {r.q_id: r.best_cos for r in sim_graph_greedy_search(spark, SF_SMOKE).collect()}
    best_per_q: dict = {}
    for r in beam:
        assert 1 <= r.rk <= BEAM_WIDTH
        best_per_q.setdefault(r.q_id, r.best_cos)
        best_per_q[r.q_id] = max(best_per_q[r.q_id], r.best_cos)
    for q_id, g in greedy.items():
        # a width-B beam explores a superset of the greedy path's
        # candidates hop-for-hop, so its best can never be worse
        assert best_per_q[q_id] >= g - 1e-12


def test_abc_migration_is_a_partition_of_parts(spark):
    from nzwirelessmap_fetch_spark.plans.stats import parts_abc_migration

    rows = parts_abc_migration(spark, SF_SMOKE).collect()
    assert rows
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    n_parts = li.select("l_partkey").distinct().count()
    assert sum(r.n_parts for r in rows) == n_parts
    for r in rows:
        assert r.class_p1 in {"A", "B", "C", "-"}
        assert r.class_p2 in {"A", "B", "C", "-"}
        assert not (r.class_p1 == "-" and r.class_p2 == "-")


def test_holt_winters_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.plans.stats import (
        HW_ALPHA,
        HW_BETA,
        HW_GAMMA,
        HW_PERIOD,
        orders_holt_winters,
    )

    daily = (
        Catalog(spark, SF_SMOKE)
        .table("orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .orderBy("d")
        .collect()
    )
    ys = [float(r.y) for r in daily]
    p = HW_PERIOD
    l = sum(ys[:p]) / p
    b = 0.0
    ses = [y - l for y in ys[:p]]
    for t in range(p, len(ys)):
        s_old = ses[t % p]
        l_new = HW_ALPHA * (ys[t] - s_old) + (1 - HW_ALPHA) * (l + b)
        b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
        ses[t % p] = HW_GAMMA * (ys[t] - l_new) + (1 - HW_GAMMA) * s_old
        l = l_new
    out = orders_holt_winters(spark, SF_SMOKE).collect()
    got = {(r.component, r.idx): r.value for r in out}
    assert len(out) == 2 + p
    assert all(r.n_days == len(ys) for r in out)
    assert abs(got[("level", 0)] - l) < 1e-6
    assert abs(got[("trend", 0)] - b) < 1e-6
    for i in range(p):
        assert abs(got[("seasonal", i)] - ses[i]) < 1e-6


def test_submodular_gains_decrease_and_replay(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        SUBMOD_ROUNDS,
        corpus_submodular_select,
        sim_lsh_banded,
    )

    rows = corpus_submodular_select(spark, SF_SMOKE).collect()
    assert len(rows) == SUBMOD_ROUNDS
    gains = [r.coverage_gain_micro for r in rows]
    # submodularity: greedy marginal gains are non-increasing
    assert gains == sorted(gains, reverse=True)
    assert len({r.selected_vec for r in rows}) == SUBMOD_ROUNDS
    # python replay of the greedy trajectory over the same quantized graph
    pairs = sim_lsh_banded(spark, SF_SMOKE).collect()
    nodes = {r.vec_id for r in
             Catalog(spark, SF_SMOKE).table("embeddings").select("vec_id").collect()}
    edges: dict[int, dict[int, int]] = {n: {n: 1_000_000} for n in nodes}
    import math
    for p in pairs:
        w = math.floor(p.cos * 1_000_000)
        edges[p.vec_a][p.vec_b] = w
        edges[p.vec_b][p.vec_a] = w
    best = {n: 0 for n in nodes}
    for r in rows:
        expect_gain, expect_sel = max(
            (sum(max(w - best[v], 0) for v, w in edges[u].items()), -u)
            for u in nodes
        )
        assert (r.selected_vec, r.coverage_gain_micro) == (-expect_sel, expect_gain)
        for v, w in edges[-expect_sel].items():
            best[v] = max(best[v], w)


def test_grid_interval_join_matches_naive(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        events_purchases_during_incidents,
    )

    out = events_purchases_during_incidents(spark, SF_SMOKE).collect()
    assert out
    ev = Catalog(spark, SF_SMOKE).table("events").collect()
    purchases = [(r.ts, r.value) for r in ev if r.event_type == "purchase"]

    def us(ts):
        import calendar
        return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond

    for r in out:
        naive = [
            v for ts, v in purchases if r.start_us <= us(ts) < r.end_us
        ]
        assert r.n_purchases == len(naive)
        assert abs(r.purchase_value - sum(round(v, 2) for v in naive)) < 1e-6
        assert r.duration_s == (r.end_us - r.start_us) // 1_000_000


def test_simhash_eval_count_identities(spark):
    from nzwirelessmap_fetch_spark.operators.dedup import dedup_simhash_quality_eval

    r = dedup_simhash_quality_eval(spark, SF_SMOKE).collect()[0]
    assert 0 <= r.n_hits <= min(r.n_candidates, r.n_true_pairs)
    if r.n_candidates:
        assert abs(r.precision - r.n_hits / r.n_candidates) < 1e-6
    if r.n_true_pairs:
        assert abs(r.recall - r.n_hits / r.n_true_pairs) < 1e-6
