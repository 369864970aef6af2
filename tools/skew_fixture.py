"""Zipfian-skew stress fixture (r6 verdict directive #1).

Every round-5 plan decision (containment prefix order, winnowing
count-agg vs array-verify, AQE-elected broadcasts) was measured on a
near-uniform, vocabulary-saturated fixture — 31 distinct words, log-log
slope ≈ -0.16 at sf0.1. Real 100 TB corpora are Zipfian (slope ≈ -1);
PLANS.md itself flags df-ordering as "the knob to revisit on a Zipfian
corpus". This tool builds the corpus that settles it:

- ``documents``: same row count/length shape as sf0.1 (5000 docs,
  ~50 words each) but words drawn Zipf(s=1.1) from a 20k-term
  vocabulary — head terms appear in nearly every document (the "of
  the" regime that makes inverted-index fan-out quadratic), the tail
  is a long sparse discriminating set. ~6% of docs are perturbed
  copies of earlier docs (planted near-dups, so pair-finders have
  real positives under skew). Hub-heavy similarity graph falls out
  automatically: head-shingle co-occurrence makes a few docs adjacent
  to thousands.
- ``events``: 100k rows with Zipf(s=1.2) ``user_id`` over 2000 users
  (top user owns ~8% of all events — the skewed group/join key case)
  and a skewed event_type mix.
- ``embeddings``: 2000 x 64 with 70% of points in 5 tight clusters
  (sizes 800/350/200/100/50) — hub LSH buckets / IVF cells — and 30%
  background uniform.
- remaining tables byte-copied from sf0.1 so Catalog paths resolve.

Deterministic (seeded numpy; no wall-clock), written once under
``.skew_fixture/`` (gitignored).

Usage:
    python tools/skew_fixture.py            # build + print corpus stats
    python tools/skew_fixture.py --measure  # build + time the plan-choice
                                            #   family at sf0.1 vs skew
    python tools/skew_fixture.py --variants # build + time both pair builds
                                            #   under hash/df/auto prefix
                                            #   order; row sets must match
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = "/root/testdata/sf0.1"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".skew_fixture"
)

# bumped when the generator changes so stale corpora rebuild
_FIXTURE_VERSION = "v2-stopword-head"

N_DOCS = 5000
VOCAB = 20_000
ZIPF_S = 1.1
NEAR_DUP_FRAC = 0.06
N_EVENTS = 100_000
N_USERS = 2000
EVENT_ZIPF_S = 1.2
N_VECS = 2000
DIM = 64
CLUSTER_SIZES = (800, 350, 200, 100, 50)

COPY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
]


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _zipf_words(vocab: int) -> "np.ndarray":
    """Vocabulary with the HEAD ranks mapped to the engine's actual
    stopword list (r8 verdict directive #3): the head of a real Zipf
    corpus IS function words — 'the, of, and...' — so a realistic skew
    fixture must carry them, and without them the quality gate's
    stop-ratio floor rejected 100% of synthetic docs, leaving
    corpus_dedup_pipeline a vacuous 0-row agreement at the 100× gate.
    Tail ranks keep the synthetic t<rank> names."""
    from nzwirelessmap_fetch_spark.operators.text import STOPWORDS

    names = list(STOPWORDS) + [
        f"t{r}" for r in range(len(STOPWORDS) + 1, vocab + 1)
    ]
    return np.array(names)


def build(force: bool = False) -> None:
    marker = os.path.join(OUT, "_built")
    if (
        os.path.exists(marker)
        and open(marker).read().strip() == _FIXTURE_VERSION
        and not force
    ):
        return
    if os.path.exists(OUT):
        shutil.rmtree(OUT)
    os.makedirs(OUT)
    rng = np.random.RandomState(1106)

    # --- documents: Zipf words, lognormal lengths, planted near-dups ---
    probs = _zipf_probs(VOCAB, ZIPF_S)
    words = _zipf_words(VOCAB)
    lengths = np.clip(
        rng.lognormal(mean=np.log(45), sigma=0.5, size=N_DOCS), 8, 120
    ).astype(int)
    docs: list[list[str]] = []
    for i in range(N_DOCS):
        if docs and rng.rand() < NEAR_DUP_FRAC:
            # perturbed copy of a random earlier doc: drop one word,
            # substitute ~5% — Jaccard stays well above 0.5
            src = list(docs[rng.randint(len(docs))])
            if len(src) > 9:
                del src[rng.randint(len(src))]
            for _ in range(max(1, len(src) // 20)):
                src[rng.randint(len(src))] = words[
                    rng.choice(VOCAB, p=probs)
                ]
            docs.append(src)
        else:
            docs.append(list(words[rng.choice(VOCAB, size=lengths[i], p=probs)]))
    texts = [" ".join(d) for d in docs]
    langs = rng.choice(["en", "de", "fr", "mi"], size=N_DOCS, p=[0.7, 0.15, 0.1, 0.05])
    sources = np.array([f"src{j}" for j in rng.zipf(1.5, size=N_DOCS) % 20])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCS), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(OUT, "documents.parquet"),
    )

    # --- events: Zipf user_id (hub users), skewed type mix ---
    uprobs = _zipf_probs(N_USERS, EVENT_ZIPF_S)
    user_id = rng.choice(N_USERS, size=N_EVENTS, p=uprobs).astype("int64")
    etypes = np.array(["view", "click", "add", "purchase", "refund", "login"])
    etype = etypes[
        rng.choice(6, size=N_EVENTS, p=[0.55, 0.25, 0.1, 0.05, 0.01, 0.04])
    ]
    base = np.datetime64("2024-01-01T00:00:00")
    ts = base + rng.randint(0, 30 * 86400, size=N_EVENTS).astype("timedelta64[s]")
    value = np.round(rng.lognormal(1.0, 1.0, size=N_EVENTS), 4)
    # props carries the driver fixture's contract key `k` (the variant
    # ops construct JSON around $.k — a fixture without it nulls the
    # whole constructed document), plus extra keys for heterogeneity
    props = np.array(
        [
            json.dumps({"k": int(u % 100), "p": int(u % 7), "ab": bool(u % 2)})
            for u in user_id
        ]
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(N_EVENTS), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]")),
                "user_id": pa.array(user_id),
                "event_type": pa.array(etype, pa.string()),
                "value": pa.array(value, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        ),
        os.path.join(OUT, "events.parquet"),
    )

    # --- embeddings: 5 hub clusters + uniform background ---
    vecs = np.empty((N_VECS, DIM), dtype="float32")
    labels = np.empty(N_VECS, dtype="int32")
    pos = 0
    for ci, sz in enumerate(CLUSTER_SIZES):
        center = rng.randn(DIM)
        center /= np.linalg.norm(center)
        pts = center[None, :] + 0.08 * rng.randn(sz, DIM)
        vecs[pos : pos + sz] = pts
        labels[pos : pos + sz] = ci
        pos += sz
    rest = N_VECS - pos
    vecs[pos:] = rng.randn(rest, DIM) / np.sqrt(DIM)
    labels[pos:] = 99
    perm = rng.permutation(N_VECS)
    vecs, labels = vecs[perm], labels[perm]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(OUT, "embeddings.parquet"),
    )

    for t in COPY_TABLES:
        src = os.path.join(SF01, f"{t}.parquet")
        dst = os.path.join(OUT, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)

    open(marker, "w").write(_FIXTURE_VERSION)


def corpus_stats() -> None:
    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"""
        WITH w AS (SELECT unnest(string_split(text,' ')) AS w
                   FROM read_parquet('{OUT}/documents.parquet'))
        SELECT w, count(*) c FROM w GROUP BY w ORDER BY c DESC
        """
    ).df()
    c = df.c.values.astype(float)
    r = np.arange(1, min(len(c), 200) + 1)
    slope = np.polyfit(np.log(r), np.log(c[: len(r)]), 1)[0]
    sh = con.execute(
        f"""
        WITH w AS (SELECT doc_id, string_split(text,' ') AS w
                   FROM read_parquet('{OUT}/documents.parquet')),
        sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
                 generate_series(1, len(w)-1), i -> w[i]||' '||w[i+1])) AS s
               FROM w WHERE len(w) >= 2),
        df AS (SELECT s, count(*) d FROM sh GROUP BY s)
        SELECT count(*) AS vocab, sum(d) AS postings, sum(d*d) AS sum_df2,
               max(d) AS max_df,
               quantile_cont(d, 0.99) AS p99_df, avg(d) AS mean_df
        FROM df
        """
    ).df()
    ev = con.execute(
        f"""
        WITH u AS (SELECT user_id, count(*) c
                   FROM read_parquet('{OUT}/events.parquet') GROUP BY 1)
        SELECT max(c)::DOUBLE / sum(c) AS top_user_share, count(*) AS users
        FROM u
        """
    ).df()
    print(f"word vocab={len(df)}  log-log slope(top200)={slope:.2f}")
    print("shingle df stats:", sh.to_dict("records")[0])
    print("events:", ev.to_dict("records")[0])


# the fixture-tuned plan-choice family + linear-regime references
MEASURE_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "corpus_containment",
    "corpus_containment_capped",
    "corpus_winnowing",
    "corpus_winnowing_capped",
    "dedup_minhash_lsh",
    "dedup_simhash_hamming",
    "sim_lsh_banded",
    "sim_topk_ivf",
    "graph_link_prediction",
    "join_skew_salted",
    "sessionize",
    "text_stats",
    "dedup_exact",
]


def measure() -> None:
    import __spark_entry__ as entrymod

    from nzwirelessmap_fetch_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark(
        "skew-measure", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    )
    rows = []
    for name in MEASURE_QUERIES:
        if name not in qs:
            print(f"!! {name} not in registry", flush=True)
            continue
        times = {}
        for tag, sf in (("sf0.1", SF01), ("skew", OUT)):
            t0 = time.monotonic()
            n = qs[name](spark, sf).count()
            times[tag] = time.monotonic() - t0
            times[f"{tag}_rows"] = n
            spark.catalog.clearCache()
        rows.append((name, times))
        print(
            f"{name}: sf0.1 {times['sf0.1']:.2f}s ({times['sf0.1_rows']} rows)"
            f" | skew {times['skew']:.2f}s ({times['skew_rows']} rows)"
            f" | ratio {times['skew'] / times['sf0.1']:.2f}x",
            flush=True,
        )
    print("\n| query | sf0.1 s | skew s | skew/sf0.1 | skew rows |")
    print("|---|---|---|---|---|")
    for name, t in rows:
        print(
            f"| {name} | {t['sf0.1']:.2f} | {t['skew']:.2f} "
            f"| {t['skew'] / t['sf0.1']:.2f}x | {t['skew_rows']} |"
        )
    spark.stop()


def variants() -> None:
    """The r6 re-adjudication proper: hash-order vs df-ascending prefix
    order for BOTH pair builds, on BOTH fixtures (near-uniform sf0.1 and
    the Zipfian skew corpus), plus the cold ``order="auto"`` build (df-skew
    probe included) and the order it resolved to. Best-of-2 per cell;
    the three orders must return the same row SET per build and fixture."""
    from nzwirelessmap_fetch_spark.functions import memo
    from nzwirelessmap_fetch_spark.operators.dedup import (
        _containment_pairs,
        _verified_jaccard_pairs,
    )
    from nzwirelessmap_fetch_spark.session import get_spark

    spark = get_spark(
        "skew-variants", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    )
    app = spark.sparkContext.applicationId
    builds = {
        "containment": ("containment", _containment_pairs),
        "jaccard": ("jaccard_pair", _verified_jaccard_pairs),
    }
    print("| build | fixture | order | resolved | best-of-2 s | rows |")
    print("|---|---|---|---|---|---|")
    for bname, (family, fn) in builds.items():
        for tag, sf in (("sf0.1", SF01), ("skew", OUT)):
            row_sets = {}
            for order in ("hash", "df", "auto"):
                best = float("inf")
                for _ in range(2):
                    # reset so no run is a ~0 s memo hit (and "auto"
                    # re-probes); reset() also frees the superseded
                    # localCheckpoint blocks
                    memo.reset(family)
                    memo.reset("prefix_order")
                    t0 = time.monotonic()
                    rows = set(map(tuple, fn(spark, sf, order=order).collect()))
                    best = min(best, time.monotonic() - t0)
                row_sets[order] = rows
                resolved = memo.entries("prefix_order").get((app, sf, None), order)
                print(
                    f"| {bname} | {tag} | {order} | {resolved} | {best:.2f} "
                    f"| {len(rows)} |",
                    flush=True,
                )
            if not row_sets["hash"] == row_sets["df"] == row_sets["auto"]:
                raise SystemExit(f"order variant changed {bname}@{tag} results!")
    memo.reset()
    spark.stop()


# ─── sf1 decade of the Zipf corpus (r7 verdict directive #2) ─────────────────
# The r7 sf1 full gate ran only on the uniform ×10 replica fixture, whose
# saturated vocabulary makes three rows vacuous 0-row agreements and two
# Σdf² measures resource-bounded. This builds the REALISTIC shape at the
# same scale: 10× docs/events/vectors with Zipfian words over a vocab
# grown per Heaps' law (20k → 100k ≈ 20k·10^0.7), planted near-dups, hub
# users, and hub embedding clusters; TPC-H tables come from the existing
# .scaling_sf1 ×10 replicas so every Catalog path resolves at sf1 scale.

OUT_SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".skew_fixture_sf1",
)
SF1_TPCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling_sf1"
)
SF1_SCALE = 10
VOCAB_SF1 = 100_000


def build_sf1(force: bool = False) -> None:
    marker = os.path.join(OUT_SF1, "_built")
    if (
        os.path.exists(marker)
        and open(marker).read().strip() == _FIXTURE_VERSION
        and not force
    ):
        return
    if not os.path.exists(os.path.join(SF1_TPCH, "_built")):
        raise SystemExit(
            "run tools/scaling_sf1.py first (needs the ×10 TPC-H replicas)"
        )
    if os.path.exists(OUT_SF1):
        shutil.rmtree(OUT_SF1)
    os.makedirs(OUT_SF1)
    rng = np.random.RandomState(8106)
    n_docs = N_DOCS * SF1_SCALE

    # --- documents: vectorized Zipf draws (50k docs × ~50 words would be
    # minutes with per-doc rng.choice(p=...); one cumsum + searchsorted
    # over ALL draws is seconds) ---
    probs = _zipf_probs(VOCAB_SF1, ZIPF_S)
    cum = np.cumsum(probs)
    words = _zipf_words(VOCAB_SF1)
    lengths = np.clip(
        rng.lognormal(mean=np.log(45), sigma=0.5, size=n_docs), 8, 120
    ).astype(int)
    flat = words[np.searchsorted(cum, rng.rand(int(lengths.sum())))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs: list[list[str]] = []
    for i in range(n_docs):
        if docs and rng.rand() < NEAR_DUP_FRAC:
            src = list(docs[rng.randint(len(docs))])
            if len(src) > 9:
                del src[rng.randint(len(src))]
            for _ in range(max(1, len(src) // 20)):
                src[rng.randint(len(src))] = words[
                    np.searchsorted(cum, rng.rand())
                ]
            docs.append(src)
        else:
            docs.append(list(flat[bounds[i] : bounds[i + 1]]))
    texts = [" ".join(d) for d in docs]
    langs = rng.choice(
        ["en", "de", "fr", "mi"], size=n_docs, p=[0.7, 0.15, 0.1, 0.05]
    )
    sources = np.array([f"src{j}" for j in rng.zipf(1.5, size=n_docs) % 20])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(OUT_SF1, "documents.parquet"),
    )

    # --- events: 1M rows, Zipf users over 20k ---
    n_events = N_EVENTS * SF1_SCALE
    n_users = N_USERS * SF1_SCALE
    ucum = np.cumsum(_zipf_probs(n_users, EVENT_ZIPF_S))
    user_id = np.searchsorted(ucum, rng.rand(n_events)).astype("int64")
    etypes = np.array(["view", "click", "add", "purchase", "refund", "login"])
    etype = etypes[
        rng.choice(6, size=n_events, p=[0.55, 0.25, 0.1, 0.05, 0.01, 0.04])
    ]
    base = np.datetime64("2024-01-01T00:00:00")
    ts = base + rng.randint(0, 30 * 86400, size=n_events).astype("timedelta64[s]")
    value = np.round(rng.lognormal(1.0, 1.0, size=n_events), 4)
    props = np.array(
        [
            json.dumps({"k": int(u % 100), "p": int(u % 7), "ab": bool(u % 2)})
            for u in user_id
        ]
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_events), pa.int64()),
                "ts": pa.array(ts.astype("datetime64[us]")),
                "user_id": pa.array(user_id),
                "event_type": pa.array(etype, pa.string()),
                "value": pa.array(value, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        ),
        os.path.join(OUT_SF1, "events.parquet"),
    )

    # --- embeddings: 20k × 64, hub clusters scaled ×10 ---
    n_vecs = N_VECS * SF1_SCALE
    cluster_sizes = tuple(s * SF1_SCALE for s in CLUSTER_SIZES)
    vecs = np.empty((n_vecs, DIM), dtype="float32")
    labels = np.empty(n_vecs, dtype="int32")
    pos = 0
    for ci, sz in enumerate(cluster_sizes):
        center = rng.randn(DIM)
        center /= np.linalg.norm(center)
        pts = center[None, :] + 0.08 * rng.randn(sz, DIM)
        vecs[pos : pos + sz] = pts
        labels[pos : pos + sz] = ci
        pos += sz
    rest = n_vecs - pos
    vecs[pos:] = rng.randn(rest, DIM) / np.sqrt(DIM)
    labels[pos:] = 99
    perm = rng.permutation(n_vecs)
    vecs, labels = vecs[perm], labels[perm]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(
                    [v.tolist() for v in vecs], pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(OUT_SF1, "embeddings.parquet"),
    )

    for t in COPY_TABLES:
        src = os.path.join(SF1_TPCH, f"{t}.parquet")
        dst = os.path.join(OUT_SF1, f"{t}.parquet")
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)

    open(marker, "w").write(_FIXTURE_VERSION)


if __name__ == "__main__":
    if "--sf1" in sys.argv:
        build_sf1(force="--force" in sys.argv)
        print(f"sf1 Zipf corpus at {OUT_SF1}")
        raise SystemExit(0)
    build(force="--force" in sys.argv)
    corpus_stats()
    if "--measure" in sys.argv:
        measure()
    if "--variants" in sys.argv:
        variants()
