"""Round-3 continuation batch: binary-Hamming ANN, k-core, link
prediction, readability, containment, mergeable histogram quantiles,
scene cuts. Property tests beyond the oracle gate — the oracle pins
engine parity; these pin the SEMANTICS."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.catalog import Catalog
from nzwirelessmap_fetch_spark.operators.dedup import (
    CONTAIN_DEN,
    CONTAIN_NUM,
    corpus_containment,
)
from nzwirelessmap_fetch_spark.operators.graph import (
    K_CORE_K,
    graph_kcore,
    graph_link_prediction,
)
from nzwirelessmap_fetch_spark.operators.multimodal import (
    CUT_LUM_DELTA,
    FRAME_SAMPLES,
    multimodal_scene_cuts,
)
from nzwirelessmap_fetch_spark.operators.similarity import (
    TOP_K,
    sim_binary_hamming_rerank,
    sim_topk_bruteforce,
)
from nzwirelessmap_fetch_spark.operators.sketches import (
    HIST_BIN_W,
    agg_quantile_partition_merge,
)
from nzwirelessmap_fetch_spark.operators.text import text_readability
from tests.conftest import SF_SMOKE


def test_binary_hamming_recall_vs_bruteforce(spark):
    """The quantized index must agree with exact search on most of the
    top-k — the recall contract that makes 1-bit codes usable. Fixture
    recall is deterministic; the bound is a regression floor."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim_topk_bruteforce(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in sim_binary_hamming_rerank(spark, SF_SMOKE).collect()
    }
    assert len(approx) == len(exact)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"binary-code recall collapsed: {recall:.2f}"


def test_binary_hamming_rank_is_dense_per_query(spark):
    rows = sim_binary_hamming_rerank(spark, SF_SMOKE).collect()
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, TOP_K + 1)), q


def test_kcore_members_have_core_degree(spark):
    """Every surviving node's degree within the surviving subgraph is
    ≥ k — the defining k-core invariant (peeling can't strand a node
    below k after the final round on this fixture)."""
    out = graph_kcore(spark, SF_SMOKE)
    assert out.filter(F.col("core_deg") < K_CORE_K).count() == 0


def test_link_prediction_pairs_are_nonedges(spark):
    """Predicted pairs must not already be co-purchase edges, scores in
    (0, 1], ranks dense from 1."""
    rows = graph_link_prediction(spark, SF_SMOKE).collect()
    assert rows, "fixture produced no open wedges"
    ranks = sorted(r.rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.part_a < r.part_b
        assert 0 < r.neighbor_jaccard <= 1
        assert r.cn <= min(r.deg_a, r.deg_b)


def test_readability_matches_python_replay(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(20).collect()
    got = {
        r.doc_id: r
        for r in text_readability(spark, SF_SMOKE).collect()
    }
    import re

    for d in docs:
        letters = len(re.sub(r"[^A-Za-z]", "", d.text))
        words = max(len(d.text.split(" ")), 1)
        sentences = max(len(re.findall(r"[.!?]+", d.text)), 1)
        cli = (5880 * letters - 29600 * sentences - 15800 * words) / words
        r = got[d.doc_id]
        assert r.n_letters == letters and r.n_words == words
        assert r.cli_milli == int(cli // 1)  # floor
        assert r.n_sentences == sentences


def test_containment_bounds_and_symmetry(spark):
    rows = corpus_containment(spark, SF_SMOKE).collect()
    assert rows, "fixture has no contained near-dups"
    pairs = {(r.doc_a, r.doc_b): r for r in rows}
    for r in rows:
        assert r.n_inter * CONTAIN_DEN >= r.n_a * CONTAIN_NUM
        assert r.n_inter <= min(r.n_a, r.n_b)
        assert r.is_subset == (r.n_inter == r.n_a)
        # equal-size mutual containment must appear in both directions
        if r.n_a == r.n_b:
            assert (r.doc_b, r.doc_a) in pairs


def test_quantile_merge_brackets_exact_percentile(spark):
    """The histogram answer must bracket the true discrete percentile
    within its bin — the one-bin-width error bound the docstring
    promises."""
    li = Catalog(spark, SF_SMOKE).table("lineitem")
    n = li.count()
    vals = sorted(r.l_extendedprice for r in li.select("l_extendedprice").collect())
    out = {r.q: r for r in agg_quantile_partition_merge(spark, SF_SMOKE).collect()}
    assert set(out) == {50, 90, 99}
    for q, r in out.items():
        assert r.n_total == n
        exact = vals[(q * n + 99) // 100 - 1]  # rank ceil(q·n/100), 1-based
        assert r.quantile_lo <= exact < r.quantile_hi
        assert r.quantile_hi - r.quantile_lo == HIST_BIN_W


def test_scene_cuts_match_python_replay(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(15).collect()
    got = {r.doc_id: r for r in multimodal_scene_cuts(spark, SF_SMOKE).collect()}
    for d in docs:
        data = d.text.encode("utf-8")
        if not data:
            assert d.doc_id not in got
            continue
        frames = [data[i : i + FRAME_SAMPLES] for i in range(0, len(data), FRAME_SAMPLES)]
        lums = [sum(f) // len(f) for f in frames]
        cuts = [
            i
            for i in range(1, len(lums))
            if abs(lums[i] - lums[i - 1]) >= CUT_LUM_DELTA
        ]
        r = got[d.doc_id]
        assert r.n_frames == len(frames)
        assert r.n_cuts == len(cuts)
        assert r.n_scenes == len(cuts) + 1
        assert r.first_cut_idx == (cuts[0] if cuts else -1)
        assert r.mean_lum == sum(lums) // len(lums)


def test_mannwhitney_u_identity(spark):
    from nzwirelessmap_fetch_spark.plans.stats import events_mannwhitney

    r = events_mannwhitney(spark, SF_SMOKE).collect()[0]
    # U_a + U_b = n_a·n_b is the defining identity of the rank-sum pair
    assert r.two_u_a + r.two_u_b == 2 * r.n_a * r.n_b
    assert r.tie_term >= 0
    n_purch = (
        Catalog(spark, SF_SMOKE)
        .table("events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert r.n_a + r.n_b == n_purch


def test_chi_square_grid_shape(spark):
    from nzwirelessmap_fetch_spark.plans.stats import orders_chi_square

    r = orders_chi_square(spark, SF_SMOKE).collect()[0]
    o = Catalog(spark, SF_SMOKE).table("orders")
    n_p = o.select("o_orderpriority").distinct().count()
    n_s = o.select("o_orderstatus").distinct().count()
    assert r.n_cells == n_p * n_s
    assert r.dof == (n_p - 1) * (n_s - 1)
    assert r.chi2_milli >= 0
    assert r.n_orders == o.count()


def test_winnowing_pair_invariants(spark):
    from nzwirelessmap_fetch_spark.operators.text import corpus_winnowing

    rows = corpus_winnowing(spark, SF_SMOKE).collect()
    assert rows, "fixture corpus has no ≥50%-overlap pairs"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.n_shared <= min(r.n_fp_a, r.n_fp_b)
        assert 2 * r.n_shared >= min(r.n_fp_a, r.n_fp_b)
        assert 0 < r.containment_est <= 1


def test_rrf_scores_replay(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        RRF_K,
        sim_rrf_fusion,
    )

    rows = sim_rrf_fusion(spark, SF_SMOKE).collect()
    for r in rows:
        want = 0.0
        if r.r_ivf is not None:
            want += 1.0 / (RRF_K + r.r_ivf)
        if r.r_ham is not None:
            want += 1.0 / (RRF_K + r.r_ham)
        assert abs(r.rrf - want) < 1e-9
        assert r.r_ivf is not None or r.r_ham is not None
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.fused_rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hilbert_tiles_replay_textbook_walk(spark):
    """The engine's packed-fold Hilbert key must reproduce the textbook
    xy2d walk: recompute every row's tile in Python and compare tile
    histograms exactly."""
    from nzwirelessmap_fetch_spark.plans.relational import (
        HILBERT_N,
        HILBERT_TILE_SHIFT,
        layout_hilbert_key,
    )

    def xy2d(x: int, y: int) -> int:
        d, s = 0, HILBERT_N // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    li = (
        Catalog(spark, SF_SMOKE)
        .table("lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    )
    want: dict[int, int] = {}
    for r in li:
        t = xy2d(r.l_partkey % HILBERT_N, r.l_suppkey % HILBERT_N) >> HILBERT_TILE_SHIFT
        want[t] = want.get(t, 0) + 1
    got = {r.h_tile: r.n_rows for r in layout_hilbert_key(spark, SF_SMOKE).collect()}
    assert got == want


def test_attribution_credit_conservation(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        events_attribution,
    )

    rows = events_attribution(spark, SF_SMOKE).collect()
    assert rows
    n_first = sum(r.n_first_touch for r in rows)
    n_last = sum(r.n_last_touch for r in rows)
    # every touched conversion has exactly one first and one last touch
    assert n_first == n_last
    # linear credit floors at the purchase level, so totals stay within
    # 1000 per touched conversion (and above 1000·(1 − channels/touches))
    assert sum(r.linear_credit_milli for r in rows) <= 1000 * n_first


def test_audio_vad_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.multimodal import (
        VAD_ENERGY_MIN,
        multimodal_audio_vad,
    )

    docs = Catalog(spark, SF_SMOKE).table("documents").limit(15).collect()
    got = {r.doc_id: r for r in multimodal_audio_vad(spark, SF_SMOKE).collect()}
    for d in docs:
        data = d.text.encode("utf-8")
        if not data:
            continue
        energies = [
            sum(b * b for b in data[i : i + FRAME_SAMPLES])
            for i in range(0, len(data), FRAME_SAMPLES)
        ]
        active = [e >= VAD_ENERGY_MIN for e in energies]
        segs, run = [], 0
        for a in active:
            run = run + 1 if a else (segs.append(run) or 0 if run else 0)
        if run:
            segs.append(run)
        r = got[d.doc_id]
        assert r.n_frames == len(energies)
        assert r.n_active == sum(active)
        assert r.n_segments == len(segs)
        assert r.longest_segment == (max(segs) if segs else 0)
        assert r.first_active_idx == (active.index(True) if any(active) else -1)
