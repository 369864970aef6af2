"""Round-4c operators: t-closeness, LOO target encoding, histogram
quantile binning, MaxSim late interaction, Croston intermittent demand.

Each test replays the operator's defining property in plain Python on a
sample (independent of BOTH engines) — the gate already covers
engine-vs-engine.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from nzwirelessmap_fetch_spark.catalog import Catalog
from nzwirelessmap_fetch_spark.operators.mlprep import (
    HIST_WIDTH,
    N_BINS,
    ml_quantile_binning,
    ml_target_encode_loo,
)
from nzwirelessmap_fetch_spark.operators.similarity import (
    MV_GROUP,
    MV_N_QUERIES,
    MV_TOP_K,
    sim_maxsim_late_interaction,
)
from nzwirelessmap_fetch_spark.plans.stats import (
    CROSTON_PART_MOD,
    T_CLOSE_PPM,
    agg_t_closeness,
    parts_croston_demand,
)
from tests.conftest import SF_CORRECT, SF_SMOKE


def _cents(x: float) -> int:
    from decimal import Decimal

    return int(Decimal(str(x)).quantize(Decimal("0.01")) * 100)


def test_t_closeness_matches_python_replay(spark):
    cust = (
        Catalog(spark, SF_CORRECT)
        .table("customer")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    buckets = [
        (r["c_nationkey"], r["c_mktsegment"], math.floor(_cents(r["c_acctbal"]) / 250_000.0))
        for r in cust
    ]
    big_n = len(buckets)
    glob = Counter(b for _, _, b in buckets)
    per_group = defaultdict(Counter)
    for nk, seg, b in buckets:
        per_group[(nk, seg)][b] += 1
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in agg_t_closeness(spark, SF_CORRECT).collect()
    }
    assert len(got) == len(per_group)
    for key, cnts in per_group.items():
        n_g = sum(cnts.values())
        num = sum(abs(cnts.get(b, 0) * big_n - gc * n_g) for b, gc in glob.items())
        tvd_ppm = num * 1_000_000 // (2 * n_g * big_n)
        row = got[key]
        assert row["n"] == n_g
        assert row["tvd_ppm"] == tvd_ppm
        assert row["t_close"] == (tvd_ppm <= T_CLOSE_PPM)


def test_target_encode_loo_matches_python_replay(spark):
    orders = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .collect()
    )
    sums: Counter = Counter()
    ns: Counter = Counter()
    y = {}
    for r in orders:
        c = _cents(r["o_totalprice"])
        y[r["o_orderkey"]] = (r["o_orderpriority"], c)
        sums[r["o_orderpriority"]] += c
        ns[r["o_orderpriority"]] += 1
    got = {r["o_orderkey"]: r for r in ml_target_encode_loo(spark, SF_CORRECT).collect()}
    assert len(got) == len(orders)
    for ok, (cat, c) in y.items():
        row = got[ok]
        assert row["category"] == cat and row["y_cents"] == c
        if ns[cat] > 1:
            assert row["loo_enc_cents"] == (sums[cat] - c) // (ns[cat] - 1)
        else:
            assert row["loo_enc_cents"] is None


def test_quantile_binning_edges_and_monotonicity(spark):
    rows = ml_quantile_binning(spark, SF_CORRECT).collect()
    n = len(rows)
    # python replay of the histogram-sketch edges
    hist = Counter(r["cents"] // HIST_WIDTH for r in rows)
    cum, acc = {}, 0
    for hb in sorted(hist):
        acc += hist[hb]
        cum[hb] = acc
    edges = []
    for k in range(1, N_BINS):
        thr = math.ceil(k * n / N_BINS)
        edges.append(min(hb for hb, c in cum.items() if c >= thr))
    for r in rows:
        hb = r["cents"] // HIST_WIDTH
        assert r["bin"] == sum(1 for e in edges if e <= hb)
    # equi-depth up to bucket granularity: every bin within ±1 histogram
    # bucket's worth of rows of n/N_BINS
    sizes = Counter(r["bin"] for r in rows)
    slack = max(hist.values())
    for b in range(N_BINS):
        assert abs(sizes.get(b, 0) - n / N_BINS) <= 2 * slack


def test_maxsim_matches_numpy_replay(spark):
    import numpy as np

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in Catalog(spark, SF_CORRECT).table("embeddings").collect()
    }
    docs = defaultdict(list)
    for vid, v in emb.items():
        docs[vid // MV_GROUP].append((vid, v))
    q_id = 1
    scores = {}
    for d_id, toks in docs.items():
        if d_id < MV_N_QUERIES:
            continue
        s = 0.0
        for qvid, qv in sorted(docs[q_id]):
            best = max(
                float(qv @ dv) / (np.linalg.norm(qv) * np.linalg.norm(dv))
                for _, dv in toks
            )
            s += best
        scores[d_id] = s
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:MV_TOP_K]
    got = (
        sim_maxsim_late_interaction(spark, SF_CORRECT)
        .filter(F.col("q_id") == q_id)
        .orderBy("rank")
        .collect()
    )
    assert [r["d_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert abs(r["maxsim"] - s) < 1e-9


def test_croston_matches_python_replay(spark):
    li = (
        Catalog(spark, SF_CORRECT)
        .table("lineitem")
        .filter((F.col("l_partkey") % CROSTON_PART_MOD) == 0)
        .select("l_partkey", "l_shipdate", F.col("l_quantity").cast("long").alias("q"))
        .collect()
    )
    daily = defaultdict(Counter)
    for r in li:
        daily[r["l_partkey"]][r["l_shipdate"].toordinal()] += r["q"]
    got = {r["l_partkey"]: r for r in parts_croston_demand(spark, SF_CORRECT).collect()}
    expect_keys = {pk for pk, d in daily.items() if len(d) >= 3}
    assert set(got) == expect_keys
    for pk in expect_keys:
        pts = sorted(daily[pk].items())
        s = float(pts[0][1])
        i = float(pts[1][0] - pts[0][0])
        for j in range(2, len(pts)):
            s = 0.5 * pts[j][1] + 0.5 * s
            i = 0.5 * (pts[j][0] - pts[j - 1][0]) + 0.5 * i
        row = got[pk]
        assert row["n_demand_days"] == len(pts)
        assert abs(row["size_level"] - s) < 1e-6
        assert abs(row["interval_level"] - i) < 1e-6
        assert abs(row["demand_per_day"] - s / i) < 1e-6


def test_bpe_merge_step_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.text import text_bpe_merge_step

    docs = dict(
        Catalog(spark, SF_CORRECT)
        .table("documents")
        .select("doc_id", "text")
        .collect()
    )
    # python replay: argmax adjacent char pair, then greedy one-round merge
    pair_counts: Counter = Counter()
    for text in docs.values():
        for w in text.split(" "):
            for i in range(len(w) - 1):
                pair_counts[w[i : i + 2]] += 1
    top = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    got = {r["doc_id"]: r for r in text_bpe_merge_step(spark, SF_CORRECT).collect()}
    assert len(got) == len(docs)
    assert all(r["merge_pair"] == top for r in got.values())
    total_merges = 0
    for doc_id, text in docs.items():
        n_chars = sum(len(w) for w in text.split(" "))
        merges = sum(
            (len(w) - len(w.replace(top, ""))) // 2 for w in text.split(" ")
        )
        row = got[doc_id]
        assert row["n_base_tokens"] == n_chars
        assert row["n_merges"] == merges
        assert row["n_tokens_after"] == n_chars - merges
        total_merges += merges
    assert total_merges > 0  # the argmax pair must actually land on the fixture


def test_soft_weights_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.dedup import dedup_soft_weights

    texts = dict(
        Catalog(spark, SF_CORRECT).table("documents").select("doc_id", "text").collect()
    )
    sizes = Counter(texts.values())
    got = {r["doc_id"]: r for r in dedup_soft_weights(spark, SF_CORRECT).collect()}
    assert len(got) == len(texts)
    for doc_id, text in texts.items():
        row = got[doc_id]
        assert row["cluster_size"] == sizes[text]
        assert row["weight_ppm"] == 1_000_000 // sizes[text]
    # weight bounds: ppm in (0, 1_000_000]; singletons get full weight
    assert all(0 < r["weight_ppm"] <= 1_000_000 for r in got.values())
    assert all(
        r["weight_ppm"] == 1_000_000
        for r in got.values()
        if r["cluster_size"] == 1
    )


def test_partitioned_roundtrip_prunes_partitions(spark):
    from nzwirelessmap_fetch_spark.plans.relational import (
        format_partitioned_roundtrip,
    )

    df = format_partitioned_roundtrip(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderpriority" in plan, plan[:2000]
    rows = df.collect()
    assert rows and all(r["o_orderpriority"] == "1-URGENT" for r in rows)
    # pruned read-back must equal a direct filter on the original table
    orig = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    assert sum(r["n_orders"] for r in rows) == orig


def test_haar_energy_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.events_analytics import (
        HAAR_LEVELS,
        events_haar_energy,
    )

    ev = (
        Catalog(spark, SF_CORRECT)
        .table("events")
        .select(F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"),
                F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("v"))
        .collect()
    )
    daily: Counter = Counter()
    for r in ev:
        daily[r["d"]] += r["v"]
    d0 = min(daily)
    rel = {d - d0: v for d, v in daily.items()}
    got = {r["level"]: r for r in events_haar_energy(spark, SF_CORRECT).collect()}
    assert set(got) == set(range(1, HAAR_LEVELS + 1))
    for lvl in range(1, HAAR_LEVELS + 1):
        half = 2 ** (lvl - 1)
        blocks = defaultdict(lambda: [0, 0])
        for dr, v in rel.items():
            blocks[dr // (2 * half)][(dr // half) % 2] += v
        num = sum((l - r) ** 2 for l, r in blocks.values())
        row = got[lvl]
        assert row["n_blocks"] == len(blocks)
        assert row["detail_num"] == num
        assert abs(row["detail_energy"] - num / 4 ** lvl) < 1e-5


def test_feature_hashing_matches_python_replay(spark):
    import hashlib

    from nzwirelessmap_fetch_spark.operators.mlprep import (
        HASH_DIM,
        ml_feature_hashing,
    )

    texts = dict(
        Catalog(spark, SF_CORRECT)
        .table("documents")
        .limit(40)
        .select("doc_id", "text")
        .collect()
    )
    got = {
        r["doc_id"]: r
        for r in ml_feature_hashing(spark, SF_CORRECT)
        .filter(F.col("doc_id").isin(*texts))
        .collect()
    }
    for doc_id, text in texts.items():
        toks = text.split(" ")
        vec = [0] * HASH_DIM
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % HASH_DIM
            vec[b] += 1
        row = got[doc_id]
        counts = [int(x) for x in row["feature_counts"].split(",")]
        assert counts == vec
        assert row["n_tokens"] == len(toks)
        assert sum(counts) == len(toks)  # mass conservation


def test_feature_hashing_null_text_renders_identically(spark, tmp_path):
    """NULL text renders as the same cell on both engines (a NULL
    string), and every cell is a scalar a pandas row canonicalizer can
    sort and hash — an ``array<int>`` cell cannot."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nzwirelessmap_fetch_spark.operators.mlprep import (
        ML_FEATURE_HASHING_SQL,
        ml_feature_hashing,
    )

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": ["a b a", None, "x"],
                "lang": ["en"] * 3,
                "source": ["s"] * 3,
                "n_chars": pa.array([5, None, 1], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    pdf = ml_feature_hashing(spark, str(tmp_path)).toPandas()
    pd.util.hash_pandas_object(pdf.sort_values(list(pdf.columns)), index=False)
    got = dict(zip(pdf["doc_id"], pdf["feature_counts"]))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    want = dict(
        con.execute(
            f"SELECT doc_id, feature_counts FROM ({ML_FEATURE_HASHING_SQL})"
        ).fetchall()
    )
    con.close()
    assert got == want
    assert got[2] is None


def test_standard_scaler_matches_python_replay(spark):
    import statistics

    from nzwirelessmap_fetch_spark.operators.mlprep import ml_standard_scaler

    got = {r["o_orderkey"]: r for r in ml_standard_scaler(spark, SF_CORRECT).collect()}
    vs = [r["v"] for r in got.values()]
    n = len(vs)
    mean = sum(vs) / n
    var = sum(v * v for v in vs) / n - mean * mean
    sd = var ** 0.5
    for r in got.values():
        assert abs(r["z_score"] - (r["v"] - mean) / sd) < 1e-5
    # standardization invariants: mean ≈ 0, sd ≈ 1 over the output
    zs = [r["z_score"] for r in got.values()]
    assert abs(sum(zs) / n) < 1e-3
    assert abs(statistics.pstdev(zs) - 1.0) < 1e-3


def test_auc_roc_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.mlprep import AUC_BUCKET, ml_auc_roc

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    scored = [
        (r["o_orderpriority"] == "1-URGENT", _cents(r["o_totalprice"]) // AUC_BUCKET)
        for r in rows
    ]
    pos = sorted(hb for p, hb in scored if p)
    neg = sorted(hb for p, hb in scored if not p)
    import bisect

    u2 = 0
    for hb in pos:
        below = bisect.bisect_left(neg, hb)
        ties = bisect.bisect_right(neg, hb) - below
        u2 += 2 * below + ties
    got = ml_auc_roc(spark, SF_CORRECT).collect()[0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    expect_ppm = u2 * 1_000_000 // (2 * len(pos) * len(neg))
    assert got["auc_ppm"] == expect_ppm
    # value-independence sanity: urgency is not priced, AUC near 1/2
    assert 400_000 < got["auc_ppm"] < 600_000


def test_knn_classifier_eval_matches_graph_replay(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        ml_knn_classifier_eval,
        sim_knn_graph,
    )

    labels = dict(
        Catalog(spark, SF_CORRECT)
        .table("embeddings")
        .select("vec_id", "label")
        .collect()
    )
    edges = sim_knn_graph(spark, SF_CORRECT).select("vec_a", "vec_b").collect()
    nbrs = defaultdict(list)
    for r in edges:
        nbrs[r["vec_a"]].append(r["vec_b"])
        nbrs[r["vec_b"]].append(r["vec_a"])
    per_class = defaultdict(lambda: [0, 0])
    for node, ns in nbrs.items():
        votes = Counter(labels[n] for n in ns)
        best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        own = labels[node]
        per_class[own][0] += 1
        per_class[own][1] += int(best == own)
    got = {r["label"]: r for r in ml_knn_classifier_eval(spark, SF_CORRECT).collect()}
    assert set(got) == set(per_class)
    for lbl, (n, c) in per_class.items():
        row = got[lbl]
        assert row["n_nodes"] == n and row["n_correct"] == c
        assert row["acc_ppm"] == c * 1_000_000 // n


def test_lsh_banded_family_leaves_no_unowned_cache(spark):
    """Run driver-style (toPandas, no clearCache between entries), the
    eight entries on the banded-LSH substrate and every entry that reads
    a frame more than once leave the cache manager empty: shared frames
    are eager checkpoints or memo-owned, and a builder that persists
    releases the frame before it returns."""
    from nzwirelessmap_fetch_spark.plans import registry

    entries = registry.queries()
    spark.catalog.clearCache()
    for name in (
        "sim_lsh_banded",
        "sim_knn_graph",
        "embedding_knn_outliers",
        "sim_graph_greedy_search",
        "sim_graph_beam_search",
        "corpus_submodular_select",
        "sim_maxsim_pruned",
        "ml_knn_classifier_eval",
        "agg_histogram_drift",
        "corpus_source_overlap",
        "corpus_span_scrub",
        "corpus_winnowing_cap_eval",
        "text_lm_novelty",
        "text_collocations_dice",
        "corpus_oov_rate",
        "corpus_dsir_affinity",
        "text_kneser_ney_bigram",
        "multimodal_phash_dedup",
        "graph_link_prediction",
        "events_autocorrelation",
        "events_audience_overlap",
        "events_haar_energy",
        "sim_lsh_bucketed",
        "sim_lsh_multiprobe",
        "sim_ivf_kmeans",
    ):
        assert len(entries[name](spark, SF_SMOKE).toPandas()) > 0, name
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_window_cume_nth_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.plans.relational import window_cume_nth

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r["o_custkey"]].append(
            (r["o_orderdate"], r["o_orderkey"], _cents(r["o_totalprice"]))
        )
    got = {r["o_orderkey"]: r for r in window_cume_nth(spark, SF_CORRECT).collect()}
    for cust, os_ in by_cust.items():
        os_.sort()
        n = len(os_)
        for i, (d, ok, c) in enumerate(os_):
            row = got[ok]
            assert row["cents"] == c
            assert row["cume_ppm"] == (i + 1) * 1_000_000 // n
            expect_second = os_[1][2] if i >= 1 and n >= 2 else None
            assert row["second_order_cents"] == expect_second
            expect_next = os_[i + 1][0] if i + 1 < n else None
            assert row["next_order_date"] == expect_next


def test_mrr_eval_matches_topk_replay(spark):
    from nzwirelessmap_fetch_spark.operators.similarity import (
        ml_mrr_eval,
        sim_topk_bruteforce,
    )

    labels = dict(
        Catalog(spark, SF_CORRECT)
        .table("embeddings")
        .select("vec_id", "label")
        .collect()
    )
    tk = defaultdict(list)
    for r in sim_topk_bruteforce(spark, SF_CORRECT).collect():
        tk[r["q_id"]].append((r["rank"], r["vec_id"]))
    got = {r["q_id"]: r for r in ml_mrr_eval(spark, SF_CORRECT).collect()}
    assert set(got) == set(tk)
    for q, lst in tk.items():
        hits = [rk for rk, v in sorted(lst) if labels[v] == labels[q]]
        row = got[q]
        assert row["q_label"] == labels[q]
        if hits:
            assert row["first_hit_rank"] == hits[0]
            assert row["rr_ppm"] == 1_000_000 // hits[0]
        else:
            assert row["first_hit_rank"] is None and row["rr_ppm"] == 0


def test_best_split_stump_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.mlprep import ml_best_split_stump

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("lineitem")
        .select(F.col("l_quantity").cast("long").alias("q"), "l_extendedprice")
        .collect()
    )
    hist = defaultdict(lambda: [0, 0])
    for r in rows:
        hist[r["q"]][0] += 1
        hist[r["q"]][1] += _cents(r["l_extendedprice"])
    qs = sorted(hist)
    nt = sum(v[0] for v in hist.values())
    st = sum(v[1] for v in hist.values())
    best = None
    nl = sl = 0
    for q in qs:
        nl += hist[q][0]
        sl += hist[q][1]
        if nl >= nt:
            continue
        score = sl * sl / nl + (st - sl) ** 2 / (nt - nl)
        if best is None or score > best[0]:
            best = (score, q, nl, sl)
    got = ml_best_split_stump(spark, SF_CORRECT).collect()[0]
    _, q, nl, sl = best
    assert got["split_q"] == q
    assert got["n_left"] == nl and got["n_right"] == nt - nl
    assert got["mean_left_cents"] == sl // nl
    assert got["mean_right_cents"] == (st - sl) // (nt - nl)
    # engine computes float(sl²)/nl (DECIMAL→DOUBLE rounds the square
    # first); python divides the exact integer — compare relatively
    # gain is a small difference of huge scores, so ulp noise scales
    # with the scores (~1e18 here), not the gain
    expect_gain = best[0] - st * st / nt
    assert abs(got["gain"] - expect_gain) <= 1e-12 * best[0]
    assert got["gain"] >= 0  # a split never increases SSE


def test_xyz_classes_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.plans.stats import (
        XYZ_X_PPM,
        XYZ_Y_PPM,
        parts_xyz_classes,
    )

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("lineitem")
        .select("l_partkey", "l_shipdate", F.col("l_quantity").cast("long").alias("v"))
        .collect()
    )
    weekly = defaultdict(Counter)
    for r in rows:
        weekly[r["l_partkey"]][(r["l_shipdate"].toordinal() - 719163) // 7] += r["v"]
    wmin = min(w for d in weekly.values() for w in d)
    wmax = max(w for d in weekly.values() for w in d)
    span = wmax - wmin + 1
    got = {r["l_partkey"]: r for r in parts_xyz_classes(spark, SF_CORRECT).collect()}
    assert set(got) == set(weekly)
    for pk, d in weekly.items():
        s = sum(d.values())
        q2 = sum(v * v for v in d.values())
        mean = s / span
        var = q2 / span - mean * mean
        cv_ppm = math.floor(1_000_000 * math.sqrt(var) / mean)
        row = got[pk]
        assert row["n_active_weeks"] == len(d)
        assert row["s_qty"] == s
        assert row["cv_ppm"] == cv_ppm
        expect = "X" if cv_ppm < XYZ_X_PPM else ("Y" if cv_ppm < XYZ_Y_PPM else "Z")
        assert row["xyz_class"] == expect


def test_kneser_ney_sums_to_one_and_matches_replay(spark):
    from nzwirelessmap_fetch_spark.operators.text import (
        KN_TOP,
        text_kneser_ney_bigram,
    )

    texts = [
        r["text"] for r in Catalog(spark, SF_CORRECT).table("documents").collect()
    ]
    big: Counter = Counter()
    for t in texts:
        w = t.split(" ")
        for i in range(len(w) - 1):
            big[(w[i], w[i + 1])] += 1
    c1: Counter = Counter()
    fanout: Counter = Counter()
    ncont: Counter = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        fanout[w1] += 1
        ncont[w2] += 1
    nbig = len(big)
    D = 0.75

    def kn(w1, w2):
        return max(big[(w1, w2)] - D, 0.0) / c1[w1] + D * fanout[w1] / c1[w1] * (
            ncont[w2] / nbig
        )

    got = text_kneser_ney_bigram(spark, SF_CORRECT).collect()
    assert len(got) == KN_TOP
    for r in got:
        assert abs(r["kn_prob"] - kn(r["w1"], r["w2"])) < 1e-12
        assert r["c12"] == big[(r["w1"], r["w2"])]
    # the interpolation's defining invariant: per context w1,
    # Σ_{w2 ∈ vocab-with-continuation} p_KN(w2|w1) == 1
    w1 = got[0]["w1"]
    total = sum(kn(w1, w2) for w2 in ncont)
    assert abs(total - 1.0) < 1e-9


def test_lift_gains_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.mlprep import (
        HIST_WIDTH,
        N_BINS,
        ml_lift_gains_table,
    )

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    pop = [
        (r["o_orderpriority"] == "1-URGENT", _cents(r["o_totalprice"]) // HIST_WIDTH)
        for r in rows
    ]
    n = len(pop)
    hist = Counter(hb for _, hb in pop)
    cum, acc = {}, 0
    for hb in sorted(hist):
        acc += hist[hb]
        cum[hb] = acc
    edges = [
        min(hb for hb, c in cum.items() if c >= math.ceil(k * n / N_BINS))
        for k in range(1, N_BINS)
    ]
    per_bin = defaultdict(lambda: [0, 0])
    for resp, hb in pop:
        b = sum(1 for e in edges if e <= hb)
        per_bin[b][0] += 1
        per_bin[b][1] += int(resp)
    nt = sum(v[0] for v in per_bin.values())
    rt = sum(v[1] for v in per_bin.values())
    got = {r["bin"]: r for r in ml_lift_gains_table(spark, SF_CORRECT).collect()}
    assert set(got) == set(per_bin)
    cn = cr = 0
    for b in sorted(per_bin, reverse=True):
        cn += per_bin[b][0]
        cr += per_bin[b][1]
        row = got[b]
        assert row["n"] == per_bin[b][0] and row["r"] == per_bin[b][1]
        assert row["resp_ppm"] == per_bin[b][1] * 1_000_000 // per_bin[b][0]
        assert row["cum_gain_ppm"] == cr * 1_000_000 // rt
        assert row["cum_lift_ppm"] == cr * nt * 1_000_000 // (cn * rt)
    # gains are monotone: the bottom decile closes at 100%
    assert got[min(per_bin)]["cum_gain_ppm"] == 1_000_000


def test_source_diversity_matches_python_replay(spark):
    from nzwirelessmap_fetch_spark.operators.text import corpus_source_diversity

    rows = (
        Catalog(spark, SF_CORRECT)
        .table("documents")
        .select("lang", "source")
        .collect()
    )
    per = defaultdict(Counter)
    for r in rows:
        per[r["lang"]][r["source"]] += 1
    got = {r["lang"]: r for r in corpus_source_diversity(spark, SF_CORRECT).collect()}
    assert set(got) == set(per)
    for lang, cnts in per.items():
        n = sum(cnts.values())
        sq = sum(c * c for c in cnts.values())
        row = got[lang]
        assert row["n_docs"] == n and row["n_sources"] == len(cnts)
        assert row["eff_sources_ppm"] == n * n * 1_000_000 // sq
        # bounds: 1 ≤ effective sources ≤ observed sources
        assert 1_000_000 <= row["eff_sources_ppm"] <= len(cnts) * 1_000_000


def test_schema_merge_roundtrip_null_bucket(spark):
    from nzwirelessmap_fetch_spark.plans.relational import (
        format_schema_merge_roundtrip,
    )

    rows = format_schema_merge_roundtrip(spark, SF_CORRECT).collect()
    null_bucket = [r for r in rows if r["o_orderpriority"] is None]
    assert len(null_bucket) == 1
    early = (
        Catalog(spark, SF_CORRECT)
        .table("orders")
        .filter(F.year("o_orderdate") <= 1997)
        .count()
    )
    # the NULL bucket holds exactly the pre-evolution batch
    assert null_bucket[0]["n_orders"] == early
    assert sum(r["n_orders"] for r in rows) == Catalog(
        spark, SF_CORRECT
    ).table("orders").count()


def test_observe_metrics_on_flagship(spark):
    """Spark's observability surface: `df.observe` attaches named
    aggregate metrics to a plan and reports them with the action —
    the zero-extra-pass way a production pipeline audits row counts
    and value bounds (a second count() would rescan 100 TB)."""
    from pyspark.sql import Observation

    from nzwirelessmap_fetch_spark.plans.flagship import flagship

    obs = Observation("flagship_audit")
    df = flagship(spark, SF_CORRECT).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.min("quantity").alias("min_qty"),
    )
    n = df.count()
    got = obs.get
    assert got["rows"] == n > 0
    assert got["min_qty"] is None or got["min_qty"] >= 0


def test_maxsim_pruned_subset_of_exact_candidates(spark):
    """The pruned ranking must (a) only contain LSH-candidate docs and
    (b) agree with the exact MaxSim score on every (q, d) it emits —
    pruning changes WHICH docs compete, never their scores."""
    from nzwirelessmap_fetch_spark.operators.similarity import (
        sim_maxsim_late_interaction,
        sim_maxsim_pruned,
    )

    exact = {
        (r["q_id"], r["d_id"]): r["maxsim"]
        for r in sim_maxsim_late_interaction(spark, SF_CORRECT).collect()
    }
    # exact top-k only has k rows per q; recompute full scores for pairs
    # the pruned variant emits but exact top-k cut off
    pruned = sim_maxsim_pruned(spark, SF_CORRECT).collect()
    assert pruned
    import numpy as np

    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in Catalog(spark, SF_CORRECT).table("embeddings").collect()
    }
    docs = defaultdict(list)
    for vid, v in emb.items():
        docs[vid // MV_GROUP].append((vid, v))

    def maxsim(q_id, d_id):
        s = 0.0
        for _, qv in sorted(docs[q_id]):
            s += max(
                float(qv @ dv) / (np.linalg.norm(qv) * np.linalg.norm(dv))
                for _, dv in docs[d_id]
            )
        return s

    for r in pruned:
        assert r["d_id"] >= MV_N_QUERIES and r["q_id"] < MV_N_QUERIES
        expect = exact.get((r["q_id"], r["d_id"]), None)
        if expect is None:
            expect = maxsim(r["q_id"], r["d_id"])
        assert abs(r["maxsim"] - expect) < 1e-9
