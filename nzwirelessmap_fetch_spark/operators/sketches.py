"""Mergeable-sketch & sampling operators (SURVEY.md §2.3 sketch family,
§2.4 corpus ops): count-min heavy-hitter estimation, deterministic
weighted sampling, and the inverted-index build.

These extend the sketch surface beyond HLL (`agg_approx_distinct`),
percentile sketches (`agg_approx_quantiles`) and the Bloom semi-join
(`agg_bloom_semijoin`): the count-min sketch is the point-frequency
member of the family — fixed O(d·w) state per stream regardless of key
cardinality, mergeable across partitions by cell-wise addition.

Cross-engine determinism discipline (relational.py header): every hash
is md5-substring-derived so DuckDB replays the sketch BIT-FOR-BIT —
the oracle checks the actual estimates, not a tolerance band. Integer
arithmetic only in pinned outputs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.memo import memo

# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4    # d independent hash rows (md5 hex slices 1-8, 9-16, 17-24, 25-32)
CMS_WIDTH = 512  # w counters per row
CMS_TOPK = 20    # report the top-K exact heavy hitters with their estimates


def _cms_col(key: Column, row: int) -> Column:
    """Column index of ``key`` in sketch row ``row``: disjoint 8-hex-char
    slices of one md5 give CMS_DEPTH independent 32-bit hashes per key
    for the cost of a single digest."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1 + 8 * row, 8), 16, 10)
        .cast("long")
        % CMS_WIDTH
    )


def _cms_cells(key: Column) -> Column:
    """Array of the d (row, col) sketch cells a key contributes to."""
    return F.array(
        *[
            F.struct(F.lit(i).alias("r"), _cms_col(key, i).alias("c"))
            for i in range(CMS_DEPTH)
        ]
    )


def cms_cell_counts(df: DataFrame, key: str = "user_id") -> DataFrame:
    """The sketch build: explode each row into its d cells, count per
    cell — ONE partial-aggregated shuffle over d·w fixed cells. Shared by
    the batch query, the streaming query, and the property tests so the
    three sketches can never silently diverge."""
    return (
        df.select(F.explode(_cms_cells(F.col(key))).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the event stream's user_id frequencies,
    probed at the exact top-20 users (§2.3 sketch family: the
    point-frequency sketch; CMS estimate ≥ exact always, overshoot =
    collision mass).

    Scale plan: the sketch build is ONE partial-aggregated shuffle whose
    key space is d·w = 2048 cells — state is FIXED no matter how many
    distinct users exist (the entire point vs an exact groupBy at 100 TB:
    the shuffle carries 2048 longs, not n_users rows). The probe side
    broadcasts the 2048-cell table against the candidate keys. The exact
    top-K here exists only to give the oracle a deterministic probe set;
    a production rollup keeps just the sketch.

    Oracle: DuckDB replays the identical md5-slice hashing, so estimates
    (not bounds) are compared — a drifting cell flips the hash.
    """
    e = Catalog(spark, sf_dir).table("events")
    counters = cms_cell_counts(e)
    # deterministic probe set: exact top-K users (count desc, user_id asc)
    top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("user_id"))
        .limit(CMS_TOPK)
    )
    # probe: explode each candidate into its d (row, col) coordinates and
    # hit the 2048-cell table with ONE broadcast equi-join (a per-row
    # filtered join would build d separate counter subtrees), then MIN
    # over the d matched cells. Every coordinate exists in the sketch by
    # construction (the key contributed to it), so the inner join keeps
    # exactly d rows per candidate.
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(_cms_cells(F.col("user_id"))).alias("cell"),
    ).select("user_id", "exact_n", F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
    est = (
        probes.join(F.broadcast(counters), ["r", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overshoot"),
    )


AGG_CMS_HEAVY_HITTERS_SQL = f"""
WITH counters AS (
  SELECT r, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1 + 8*r, 8))::BIGINT
            % {CMS_WIDTH} AS c, COUNT(*) AS cnt
  FROM events CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS r) rs
  GROUP BY 1, 2
), top AS (
  SELECT user_id, COUNT(*) AS exact_n
  FROM events GROUP BY user_id
  ORDER BY exact_n DESC, user_id LIMIT {CMS_TOPK}
), probed AS (
  SELECT t.user_id, t.exact_n,
         MIN(cn.cnt) AS cms_est
  FROM top t
  JOIN counters cn
    ON cn.c = ('0x' || substr(md5(CAST(t.user_id AS VARCHAR)), 1 + 8*cn.r, 8))::BIGINT
               % {CMS_WIDTH}
  GROUP BY t.user_id, t.exact_n
)
SELECT user_id, exact_n, cms_est, cms_est - exact_n AS overshoot
FROM probed
"""


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (integer A-Res variant)
# ---------------------------------------------------------------------------

SAMPLE_K = 100
_HASH_HEX = 12  # 48-bit uniform — exact in BIGINT and in IEEE double


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional deterministic sample of documents (§2.4 data
    mixing): priority = hash48(doc_id) DIV weight, keep the K smallest.
    A doc with twice the weight halves its priority — the integer-exact
    cousin of A-Res reservoir sampling (priority u^(1/w) needs pow; the
    DIV form keeps the pinned output transcendental-free and bit-stable
    cross-engine).

    Scale plan: priority is a row-local projection; the top-K is a
    TakeOrdered (per-partition heaps + driver merge of K·n_partitions
    rows), never a global sort. Content-keyed hashing makes the sample
    stable under re-partitioning and re-runs — the reproducibility
    contract a training-mix builder needs.
    """
    d = Catalog(spark, sf_dir).table("documents")
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr(
                f"cast(conv(substring(md5(cast(doc_id as string)), 1, {_HASH_HEX}), 16, 10)"
                " as bigint) div greatest(cast(n_chars as bigint), 1)"
            ).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(SAMPLE_K)
    )


CORPUS_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, {_HASH_HEX}))::BIGINT
       // GREATEST(CAST(n_chars AS BIGINT), 1) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {SAMPLE_K}
"""


# ---------------------------------------------------------------------------
# Inverted index build
# ---------------------------------------------------------------------------

_MIN_DF = 20        # emit only terms seen in ≥ this many docs
_POSTINGS_K = 10    # bounded postings prefix per term


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus (§2.4 corpus ops): term →
    document frequency + the first K postings — the search-index build
    and the substrate for posting-list joins (corpus_contamination).

    State discipline (the agg_string_agg rule): postings are rank-limited
    to K BEFORE collecting, so per-group state is bounded — an unbounded
    collect_list over a stopword's postings is the 100 TB OOM. Plan:
    row-local tokenize/explode (map-side fan-out), one (term, doc_id)
    distinct exchange, the rank window rides the same partitioning, one
    final per-term aggregation.
    """
    d = Catalog(spark, sf_dir).table("documents")
    term_doc = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("term"), "doc_id")
        .filter(F.length("term") >= 3)
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = term_doc.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("rn") <= _POSTINGS_K, F.col("doc_id")))
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_prefix"),
        )
        .filter(F.col("df") >= _MIN_DF)
    )


TEXT_INVERTED_INDEX_SQL = f"""
WITH term_doc AS (
  SELECT DISTINCT term, doc_id
  FROM (SELECT UNNEST(string_split(text, ' ')) AS term, doc_id FROM documents)
  WHERE LENGTH(term) >= 3
), ranked AS (
  SELECT term, doc_id,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM term_doc
)
SELECT term, COUNT(*) AS df,
       STRING_AGG(CASE WHEN rn <= {_POSTINGS_K} THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS postings_prefix
FROM ranked
GROUP BY term
HAVING COUNT(*) >= {_MIN_DF}
"""


# ---------------------------------------------------------------------------
# One-pass column profiler
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-profiling rollup over lineitem's numeric columns
    (§2.3 aggregation/profiling): null count, distinct count, min, max —
    the schema-drift / data-quality probe a training pipeline runs before
    ingesting a new drop.

    Plan: ONE scan — stack() unpivots the four columns map-side (an
    Expand of 4 rows per input row), then a single partial-aggregated
    shuffle with 4 groups. The naive per-column loop is 4 scans; at
    100 TB the one-pass shape is the difference between a profiling job
    and four. Values pin through DECIMAL(18,2) (exact for these
    2-decimal fixtures) so min/max are hash-stable doubles.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    pairs = ", ".join(
        f"'{c}', cast({c} as decimal(18,2))" for c in _PROFILE_COLS
    )
    unpivoted = li.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {pairs}) as (col_name, val)")
    )
    return (
        unpivoted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").isNull().cast("int")).alias("n_null"),
            F.countDistinct("val").alias("n_distinct"),
            F.min("val").cast("double").alias("min_val"),
            F.max("val").cast("double").alias("max_val"),
        )
    )


TABLE_PROFILE_SQL = """
WITH unpivoted AS (
  SELECT u.col_name, u.val
  FROM lineitem,
  LATERAL (SELECT UNNEST(['l_quantity','l_extendedprice','l_discount','l_tax'])
                  AS col_name,
                  UNNEST([CAST(l_quantity AS DECIMAL(18,2)),
                          CAST(l_extendedprice AS DECIMAL(18,2)),
                          CAST(l_discount AS DECIMAL(18,2)),
                          CAST(l_tax AS DECIMAL(18,2))]) AS val) u
)
SELECT col_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT val) AS n_distinct,
       CAST(MIN(val) AS DOUBLE) AS min_val,
       CAST(MAX(val) AS DOUBLE) AS max_val
FROM unpivoted
GROUP BY col_name
"""


# ---------------------------------------------------------------------------
# Per-label embedding centroids
# ---------------------------------------------------------------------------

def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class centroids of the embedding table (§2.4 similarity substrate):
    the per-label mean vector, emitted as (label, dim, mean_val) rows —
    the nearest-class-mean classifier / cluster-drift monitor primitive.

    Exactness: components quantize to 1e-8 fixed point BEFORE summation —
    ``floor(double(x) · 1e8)`` is bit-identical in any IEEE engine (the
    float→DECIMAL cast is NOT: Spark rounds via the double's shortest
    string, DuckDB from the exact binary value, and the two disagree on
    boundary values) — so the sum is an exact BIGINT and the mean one
    shared double expression. Plan: posexplode is map-side fan-out
    (|vecs|·64 narrow rows), then ONE partial-aggregated shuffle on the
    (label, dim) key — 64·|labels| groups. Emitting rows (not arrays)
    avoids a second per-label collect exchange; downstream consumers of
    a centroid MATRIX pivot these few rows, not the data.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1e8)).cast("long").alias("fx"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("fx").alias("sfx"))
        .select(
            "label",
            "dim",
            "n_vecs",
            # FLOOR at the 1e-8 grain instead of a DECIMAL cast: the
            # double→DECIMAL rounding disagrees between engines on
            # boundary values (triggered by negative components — the r6
            # skew gate caught a 1-ulp drift); floor(one shared double
            # division) is bit-identical everywhere
            (
                F.floor(F.col("sfx").cast("double") / F.col("n_vecs")).cast(
                    "double"
                )
                / F.lit(1e8)
            ).alias("mean_val"),
        )
    )


EMBEDDING_LABEL_CENTROIDS_SQL = """
WITH exploded AS (
  SELECT label, u.dim - 1 AS dim,
         CAST(FLOOR(CAST(u.x AS DOUBLE) * 100000000.0) AS BIGINT) AS fx
  FROM embeddings,
  LATERAL (SELECT UNNEST(embedding) AS x,
                  UNNEST(generate_series(1, len(embedding))) AS dim) u
)
SELECT label, dim, COUNT(*) AS n_vecs,
       CAST(FLOOR(CAST(SUM(fx) AS DOUBLE) / COUNT(*)) AS DOUBLE)
         / 100000000.0 AS mean_val
FROM exploded
GROUP BY label, dim
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
# CONTENT-KEYED query workload (r8 verdict directive #3): terms are
# picked by document-frequency RANK over the corpus itself — rank 1 is
# the most-common term, ties broken by term ASC — so the workload exists
# on ANY corpus (the r8 sf1 fixtures were vocabulary-disjoint from the
# old hard-coded terms and the entry agreed on 0 rows at the 100× gate,
# proving the plan ran but adjudicating nothing). Query 0 = head terms,
# query 1 mixes head with tail (the idf-separation probe the old 'dup'
# query was), query 2 spans the middle and the tail. Both engines
# derive the identical rank table, so the oracle replays the workload
# from the same corpus bytes.
BM25_QUERY_RANKS = [
    (0, 1), (0, 2), (0, 3),
    (1, 5), (1, 29),
    (2, 16), (2, 30), (2, 31),
]
BM25_MAX_RANK = max(r for _, r in BM25_QUERY_RANKS)


def corpus_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (§2.4 corpus ops): per-query
    top-k documents under the Robertson/Okapi weighting — the classic
    lexical-retrieval sibling of the embedding similarity family, and the
    scoring half of a contamination/attribution pipeline (find the
    training docs that "answer" an eval query).

    Weighting: tf-saturation term  tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
    times the Robertson–Spärck-Jones idf ratio  (N-df+0.5)/(df+0.5) kept
    UN-LOGGED: the oracle discipline bans transcendentals in pinned
    outputs (ln() is not guaranteed bit-identical across engines), and
    the log is monotone per term, so single-term ranking is unchanged;
    at deploy time it's a one-line swap. All arithmetic is IEEE double
    with a pinned evaluation order, and per-document scores sum via a
    term-ordered left fold — bit-identical in any IEEE engine.

    Plan shape at 100 TB: tokenize/explode is map-side; the corpus-sized
    exchanges are the (doc, term) tf aggregation (the inverted-index
    build — combiner-friendly, and the price of a workload DERIVED from
    the corpus instead of hard-coded) and the final per-query top-k. The
    df table is vocab-sized; the rank pick is a distributed top-k
    (orderBy + limit = TakeOrderedAndProject — no global sort) and the
    query table stays tiny and broadcast; dl rides the token rows so no
    per-doc side join is needed. With an inverted index at rest
    (text_inverted_index) the tf pass becomes a posting-list scan.
    """
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    base = toks.select("doc_id", F.size("t").alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    tf = (
        toks.select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    # df-rank workload derivation: distributed top-MAX_RANK, then a
    # row_number over the (≤ MAX_RANK)-row result — bounded window
    top = df.orderBy(F.desc("df"), F.asc("term")).limit(BM25_MAX_RANK)
    rw = Window.orderBy(F.desc("df"), F.asc("term"))
    ranked = top.withColumn("rank", F.row_number().over(rw))
    qr = spark.createDataFrame(BM25_QUERY_RANKS, "query_id int, rank int")
    q = qr.join(ranked, "rank").select("query_id", "term")
    tf = tf.join(
        F.broadcast(q.select("term").distinct()), "term"
    )  # semi-filter the posting stream to the derived workload

    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    idf = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    denom = tfd + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * (dld / (F.col("sum_dl") / F.col("n_docs")))
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("score_t", idf * ((tfd * F.lit(2.2)) / denom))
    )
    doc_scores = (
        scored.groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "score_t"))).alias("s"))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "aggregate(s, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.score_t)"
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        doc_scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


_BM25_RANK_VALUES = ", ".join(f"({qid}, {r})" for qid, r in BM25_QUERY_RANKS)

CORPUS_BM25_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
base AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl
  FROM base
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
    SELECT doc_id, len(t) AS dl, UNNEST(t) AS term FROM toks)
  GROUP BY doc_id, dl, term
),
df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
ranked AS (
  SELECT term, rank FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS rank
    FROM df) WHERE rank <= {BM25_MAX_RANK}
),
qr(query_id, rank) AS (VALUES {_BM25_RANK_VALUES}),
q AS (SELECT query_id, term FROM qr JOIN ranked USING (rank)),
scored AS (
  SELECT q.query_id, tf.doc_id, tf.term,
         ((s.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
               * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                  * (CAST(tf.dl AS DOUBLE) / (s.sum_dl / s.n_docs))))) AS score_t
  FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats s
),
doc_scores AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(score_t ORDER BY term)),
                     (a, b) -> a + b) AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM doc_scores)
WHERE rank <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Principal components (power iteration on the Gram matrix)
# ---------------------------------------------------------------------------

_PC_DIM = 64
_PC_SCALE = 1.0e12
# G·v products: _PC_ITERS-1 normalized steps + the Rayleigh step. The
# REAL convergence knob (r4): the DuckDB trajectory chain is generated
# from this constant (``_ddb_power``), so raising it changes BOTH engines
# identically and the oracle keeps replaying the exact trajectory.
# 6 products ≈ (λ₂/λ₁)⁵ residual decay — exact on a separated spectrum
# (pinned in tests/test_pc_convergence.py); on the near-isotropic
# fixture (λ₂/λ₁ ≈ 0.98) the iterate remains a documented
# dominant-subspace blend, as the docstring states.
_PC_ITERS = 6


def embedding_principal_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power iteration toward the top principal direction of the
    embedding corpus on the Gram matrix G = Σ x xᵀ — the one-component
    PCA that anchors whitening, ABTT ("all-but-the-top") embedding
    cleanup, and drift monitoring over training corpora.

    The operator contract is the ITERATE, not the limit: exactly
    _PC_ITERS G·v products from the all-ones start (convergence rate
    (λ₂/λ₁)^k — the synthetic fixture is near-isotropic, λ₂/λ₁ ≈ 0.98,
    so even many steps return a dominant-subspace blend there;
    _PC_ITERS is the REAL production knob — the DuckDB chain is
    generated from it, so both engines move together — and on a
    separated spectrum the residual bound is pinned in
    tests/test_pc_convergence.py). What IS pinned here: every step is
    bit-exact and the oracle replays the full trajectory, loadings and
    eigenvalue.

    Two-phase plan (``_top2_components``):
    1. GRAM ACCUMULATION (the only corpus-sized work and the only Spark
       work): every vector fans out its 64×64 products map-side; one
       partial-aggregated shuffle over the FIXED 4096 (i,j) cells —
       state is dim², never corpus-sized, the same mergeable-sketch
       discipline as the CMS. Products are quantized floor(xᵢ·xⱼ·10¹²)
       BIGINT *before* the sum (double multiply + floor is bit-identical
       in any IEEE engine, and integer sums are order-free) — the
       float-sum-order trap cannot touch the hash. The 4096 cells are
       collected to the driver: bounded by construction at any corpus
       size.
    2. POWER ITERATION on the driver over the collected matrix: w = G·v
       as a j-ordered left fold per row, normalization as an i-ordered
       fold of w² under one sqrt (IEEE-correctly-rounded), then the
       Rayleigh quotient λ = v·(G·v) on the last product. Each fold and
       each product keeps the order and operands of the DuckDB chain
       (``_ddb_power``), so the oracle replays loadings AND eigenvalue
       bit-for-bit.

    Output: one row per dimension (dim, loading of the unit principal
    vector, shared eigval column) — literal rows from the memoized value.
    """
    v1, lam1, _, _ = _top2_components(spark, sf_dir)
    return _loadings(spark, v1, lam1)


def _top2_components(spark: SparkSession, sf_dir: str):
    """The top two principal components as driver values ``(v1, lam1,
    v2, lam2)``: unit loadings in dim order and their eigenvalues.

    Memoized in the ``pc`` family (functions.memo), the one substrate of
    the four PC entries (principal component, ABTT residual, PCA top-2,
    whitening): the corpus is scanned once per session and a hit runs no
    job. The value is plain Python floats, so it holds no Spark storage.
    bench.py times the build as its ``shared_pc_build`` line."""
    return memo("pc", spark, sf_dir, (), lambda: _build_top2(spark, sf_dir))


def _build_top2(spark: SparkSession, sf_dir: str):
    """Gram pass, then component 1 by power iteration and component 2 by
    Hotelling deflation G₂ = G − λ₁·v₁v₁ᵀ and a second iteration.

    Round-robin pre-split: the embeddings table is one parquet file at
    bench SF and the dim² fan-out (4096 rows per vector) would
    otherwise run on a single task (the one-file-scan lesson)."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = Catalog(spark, sf_dir).table("embeddings").repartition(width)
    pairs = (
        e.select(F.posexplode("embedding").alias("i", "xi"), "embedding")
        .select(
            "i",
            F.col("xi").cast("double").alias("xi"),
            F.posexplode("embedding").alias("j", "xj"),
        )
        .select(
            "i",
            "j",
            F.floor(F.col("xi") * F.col("xj").cast("double") * F.lit(_PC_SCALE))
            .cast("long")
            .alias("q"),
        )
    )
    cells = (
        pairs.groupBy("i", "j")
        .agg(F.sum("q").alias("gq"))
        .select("i", "j", (F.col("gq").cast("double") / F.lit(_PC_SCALE)).alias("g"))
        .collect()
    )
    if not cells:  # empty corpus: no component, as the oracle's empty joins
        return [], 0.0, [], 0.0
    g = [[0.0] * _PC_DIM for _ in range(_PC_DIM)]
    for i, j, gij in cells:
        g[i][j] = gij
    v1, lam1 = _power_iterate(g)
    # the oracle's deflation expression g − λ·vᵢ·vⱼ, left to right
    g2 = [
        [gij - lam1 * v1[i] * v1[j] for j, gij in enumerate(row)]
        for i, row in enumerate(g)
    ]
    v2, lam2 = _power_iterate(g2)
    return v1, lam1, v2, lam2


def _fold(terms) -> float:
    """Left fold from 0.0 in the given order — the driver twin of
    ``list_reduce(list_prepend(0.0, list(... ORDER BY k)), (a, b) -> a + b)``
    (``sum`` is not: Python 3.12 made it a compensated sum)."""
    acc = 0.0
    for t in terms:
        acc += t
    return acc


def _power_iterate(g: list[list[float]]) -> tuple[list[float], float]:
    """_PC_ITERS G·v products on a dense dim×dim matrix from the all-ones
    start: returns (unit vector in dim order, Rayleigh quotient)."""

    def matvec(v: list[float]) -> list[float]:
        return [_fold(gij * vj for gij, vj in zip(row, v)) for row in g]

    def normalized(w: list[float]) -> list[float]:
        nrm = math.sqrt(_fold(wi * wi for wi in w))
        return [wi / nrm for wi in w]

    v = [1.0] * _PC_DIM
    for _ in range(_PC_ITERS - 1):
        v = normalized(matvec(v))
    w = matvec(v)
    return normalized(w), _fold(vi * wi for vi, wi in zip(v, w))


def _loadings(spark: SparkSession, v: list[float], lam: float) -> DataFrame:
    """(dim, loading, eigval) literal rows from a generator over one
    literal array: building them runs no job, and reading them starts no
    Python worker (``createDataFrame`` does). The cast types the empty
    corpus's element-less array."""
    return (
        spark.range(1)
        .select(F.posexplode(F.array(*map(F.lit, v))).alias("dim", "loading"))
        .select("dim", F.col("loading").cast("double").alias("loading"), F.lit(lam).alias("eigval"))
    )


def _ddb_matvec(gram: str, v: str, out: str) -> str:
    """DuckDB CTE twin of ``matvec``: j-ordered fold per Gram row.

    MATERIALIZED: DuckDB inlines plain CTEs at every reference site, and
    the trajectory chain references each iterate twice (norm + output) —
    at _PC_ITERS=6 that inlining is 2^12 scans of the parquet source
    (observed as "Too many open files"). Materializing pins each
    64-row iterate once."""
    return f"""{out} AS MATERIALIZED (
  SELECT g.i,
         list_reduce(list_prepend(0.0::DOUBLE, list(g.g * {v}.v ORDER BY g.j)),
                     (a, b) -> a + b) AS w
  FROM {gram} g JOIN {v} ON g.j = {v}.j
  GROUP BY g.i
)"""


def _ddb_normalize(w: str, out: str) -> str:
    return f"""{out}_nrm AS (
  SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(w * w ORDER BY i)),
                          (a, b) -> a + b)) AS nrm
  FROM {w}
),
{out} AS MATERIALIZED (
  SELECT i AS j, w / nrm AS v FROM {w}, {out}_nrm
)"""


def _ddb_power(gram: str, tag: str) -> str:
    """Full ``_PC_ITERS``-product trajectory CTE chain over matrix table
    ``gram``: defines ``v0{tag}..v{_PC_ITERS}{tag}`` and ``lam{tag}``
    (Rayleigh quotient from the last unnormalized product). Generated
    from the same constant the driver loop uses, so the iteration knob
    moves both engines in lockstep."""
    n = _PC_ITERS
    parts = [
        f"""v0{tag} AS (
  SELECT i AS j, 1.0::DOUBLE AS v FROM generate_series(0, {_PC_DIM - 1}) t(i))"""
    ]
    for k in range(1, n):
        parts.append(_ddb_matvec(gram, f"v{k - 1}{tag}", f"w{k}{tag}"))
        parts.append(_ddb_normalize(f"w{k}{tag}", f"v{k}{tag}"))
    parts.append(_ddb_matvec(gram, f"v{n - 1}{tag}", f"w{n}{tag}"))
    parts.append(
        f"""lam{tag} AS (
  SELECT list_reduce(list_prepend(0.0::DOUBLE,
           list(v{n - 1}{tag}.v * w{n}{tag}.w ORDER BY w{n}{tag}.i)),
         (a, b) -> a + b) AS eigval
  FROM w{n}{tag} JOIN v{n - 1}{tag} ON w{n}{tag}.i = v{n - 1}{tag}.j
)"""
    )
    parts.append(_ddb_normalize(f"w{n}{tag}", f"v{n}{tag}"))
    return ",\n".join(parts)


# Name of the final (unit) trajectory vector CTE — "v6" at 6 products.
_VL = f"v{_PC_ITERS}"

_DDB_PC_GRAM = f"""pairs AS (
  SELECT ii.i, jj.j,
         CAST(floor(CAST(e.embedding[ii.i + 1] AS DOUBLE)
                    * CAST(e.embedding[jj.j + 1] AS DOUBLE)
                    * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS q
  FROM embeddings e,
       generate_series(0, {_PC_DIM - 1}) ii(i),
       generate_series(0, {_PC_DIM - 1}) jj(j)
),
gram AS MATERIALIZED (
  SELECT i, j,
         CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE)
           / CAST(1000000000000 AS DOUBLE) AS g
  FROM pairs GROUP BY i, j
)"""

# Both components: trajectory ``a`` on the Gram, the deflated matrix,
# trajectory ``b`` on it (``embedding_pca_top2`` and whitening).
_DDB_PC_TOP2 = f"""{_DDB_PC_GRAM},
{_ddb_power('gram', 'a')},
gram2 AS MATERIALIZED (
  SELECT g.i, g.j, g.g - lama.eigval * a.v * b.v AS g
  FROM gram g
  JOIN {_VL}a a ON a.j = g.i
  JOIN {_VL}a b ON b.j = g.j
  CROSS JOIN lama
),
{_ddb_power('gram2', 'b')}"""


EMBEDDING_PRINCIPAL_COMPONENT_SQL = f"""
WITH {_DDB_PC_GRAM},
{_ddb_power('gram', '')}
SELECT CAST({_VL}.j AS INT) AS dim, {_VL}.v AS loading, lam.eigval
FROM {_VL}, lam
"""


def embedding_abtt_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABTT ("all-but-the-top") cleanup profile: project every embedding
    onto the corpus principal direction and report the residual — the
    standard post-processing that strips the dominant common component
    from embedding spaces (Mu & Viswanath, ICLR 2018) before similarity
    search. Composes ``_top2_components``: the Gram pass is the SAME one
    shuffle; the per-vector projection is a row-local fold against the
    unit vector as a literal array (64 doubles).

    Per-vector scalars only (projection coefficient, norm before/after)
    — the cleaned vectors themselves would be written columnar at rest;
    emitting scalars keeps the audit (and the oracle) change-sized.
    All folds run in dim order on both engines: bit-exact doubles.
    """
    v1, _, _, _ = _top2_components(spark, sf_dir)
    e = Catalog(spark, sf_dir).table("embeddings")
    x_d = "CAST(element_at(embedding, d + 1) AS DOUBLE)"
    pv_d = "element_at(pv, d + 1)"
    base = (
        e.select("vec_id", "embedding", F.array(*map(F.lit, v1)).alias("pv"))
        .withColumn(
            "proj_coeff",
            F.expr(
                f"aggregate(sequence(0, {_PC_DIM - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, d) -> acc + {x_d} * {pv_d})"
            ),
        )
        .withColumn(
            "norm_before",
            F.sqrt(
                F.expr(
                    f"aggregate(sequence(0, {_PC_DIM - 1}), CAST(0.0 AS DOUBLE), "
                    f"(acc, d) -> acc + {x_d} * {x_d})"
                )
            ),
        )
    )
    return base.select(
        "vec_id",
        "proj_coeff",
        "norm_before",
        F.sqrt(
            F.expr(
                f"aggregate(sequence(0, {_PC_DIM - 1}), CAST(0.0 AS DOUBLE), "
                f"(acc, d) -> acc + ({x_d} - proj_coeff * {pv_d}) "
                f"* ({x_d} - proj_coeff * {pv_d}))"
            )
        ).alias("norm_after"),
    )


EMBEDDING_ABTT_RESIDUAL_SQL = f"""
WITH {_DDB_PC_GRAM},
{_ddb_power('gram', '')},
pvec AS (SELECT list(v ORDER BY j) AS pv FROM {_VL}),
base AS (
  SELECT e.vec_id, e.embedding, pv,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, {_PC_DIM}),
                            d -> CAST(e.embedding[d + 1] AS DOUBLE) * pv[d + 1])),
           (a, b) -> a + b) AS proj_coeff,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, {_PC_DIM}),
                            d -> CAST(e.embedding[d + 1] AS DOUBLE)
                                 * CAST(e.embedding[d + 1] AS DOUBLE))),
           (a, b) -> a + b)) AS norm_before
  FROM embeddings e, pvec
)
SELECT vec_id, proj_coeff, norm_before,
       sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(0, {_PC_DIM}),
             d -> (CAST(embedding[d + 1] AS DOUBLE) - proj_coeff * pv[d + 1])
                  * (CAST(embedding[d + 1] AS DOUBLE) - proj_coeff * pv[d + 1]))),
         (a, b) -> a + b)) AS norm_after
FROM base
"""


def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions via Hotelling DEFLATION: component 1 is
    the plain power iterate; component 2 power-iterates the deflated
    matrix G₂ = G − λ₁·v₁v₁ᵀ, which zeroes v₁'s spectral mass so the
    iterate converges toward the next direction — the standard sequential
    route to k-component PCA/whitening when k is small.

    The corpus is touched ONCE (the shared Gram pass); deflation and the
    second trajectory run on the driver over the collected 4096-cell
    matrix — adding components never costs another corpus scan. The
    deflation expression g − λ·vᵢ·vⱼ and every fold keep pinned order, so
    the oracle replays BOTH trajectories bit-for-bit.

    Output: (component 1|2, dim, loading, eigval).
    """
    v1, lam1, v2, lam2 = _top2_components(spark, sf_dir)
    return (
        _loadings(spark, v1, lam1).select(F.lit(1).alias("component"), "*")
        .unionByName(_loadings(spark, v2, lam2).select(F.lit(2).alias("component"), "*"))
    )


EMBEDDING_PCA_TOP2_SQL = f"""
WITH {_DDB_PC_TOP2}
SELECT 1 AS component, CAST({_VL}a.j AS INT) AS dim, {_VL}a.v AS loading, lama.eigval
FROM {_VL}a, lama
UNION ALL
SELECT 2 AS component, CAST({_VL}b.j AS INT) AS dim, {_VL}b.v AS loading, lamb.eigval
FROM {_VL}b, lamb
"""


def agg_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count rollup (§2.3 sketch family — the
    incremental-rollup-table pattern): per-DAY Datasketches HLL sketches
    of active users are built in one pass, stored as mergeable binary
    state, then WEEKLY cardinality comes from ``hll_union_agg`` over the
    daily sketches — never re-reading the raw events. This is the plan
    behind every "daily rollup, arbitrary-window distinct" serving table
    at 100 TB: the second level aggregates kilobyte sketches, so weekly /
    monthly / YTD uniques cost O(days), not O(events), and late
    partitions merge in by union.

    Both levels are map-side-combining single-shuffle aggs. The exact
    weekly distinct (one extra expand shuffle, fixture-cheap) exists to
    state the oracle contract: the merged estimate must land within 5%
    of exact — at daily-user cardinalities the sketch is in sparse mode
    and typically exact, and a drifting estimator flips the boolean.
    """
    e = Catalog(spark, sf_dir).table("events")
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    daily = e.groupBy(week.alias("week"), day.alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = e.groupBy(week.alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return weekly.join(exact, "week").select(
        "week",
        "n_days",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_within_5pct"),
    )


AGG_HLL_PARTITION_MERGE_SQL = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
       COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_within_5pct
FROM events
GROUP BY 1
"""


def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening coordinates (§2.4 similarity substrate — the
    preprocessing that equalizes variance before cosine/dot retrieval):
    per vector, project onto the two pinned principal directions and
    scale each coordinate by 1/sqrt(λ) — whitened coordinates have unit
    variance along each component, removing the dominant directions'
    outsized pull on distances (the retrieval twin of ABTT's removal).

    Composes ``_top2_components``: the corpus is touched once by the
    shared Gram pass; both directions ride as literal arrays and both
    eigenvalues as literals, and the per-vector work is two row-local
    dim-ordered folds — zero additional shuffles, output is one row per
    vector. sqrt is IEEE-correctly-rounded (allowed in pinned outputs);
    fold order pinned on both engines.
    """
    v1, lam1, v2, lam2 = _top2_components(spark, sf_dir)
    e = Catalog(spark, sf_dir).table("embeddings")
    x_d = "CAST(element_at(embedding, d + 1) AS DOUBLE)"

    def proj(pv: str) -> str:
        return (
            f"aggregate(sequence(0, {_PC_DIM - 1}), CAST(0.0 AS DOUBLE), "
            f"(acc, d) -> acc + {x_d} * element_at({pv}, d + 1))"
        )

    return e.select(
        "vec_id",
        "embedding",
        F.array(*map(F.lit, v1)).alias("pv1"),
        F.array(*map(F.lit, v2)).alias("pv2"),
    ).select(
        "vec_id",
        F.expr(proj("pv1")).alias("proj1"),
        F.expr(proj("pv2")).alias("proj2"),
        (F.expr(proj("pv1")) / F.sqrt(F.lit(lam1))).alias("white1"),
        (F.expr(proj("pv2")) / F.sqrt(F.lit(lam2))).alias("white2"),
    )


EMBEDDING_WHITENING_SQL = f"""
WITH {_DDB_PC_TOP2},
ctx AS (
  SELECT (SELECT list(v ORDER BY j) FROM {_VL}a) AS pv1,
         (SELECT list(v ORDER BY j) FROM {_VL}b) AS pv2,
         (SELECT eigval FROM lama) AS lam1,
         (SELECT eigval FROM lamb) AS lam2
),
base AS (
  SELECT e.vec_id,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, {_PC_DIM}),
                            d -> CAST(e.embedding[d + 1] AS DOUBLE) * pv1[d + 1])),
           (a, b) -> a + b) AS proj1,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, {_PC_DIM}),
                            d -> CAST(e.embedding[d + 1] AS DOUBLE) * pv2[d + 1])),
           (a, b) -> a + b) AS proj2,
         lam1, lam2
  FROM embeddings e, ctx
)
SELECT vec_id, proj1, proj2,
       proj1 / sqrt(lam1) AS white1,
       proj2 / sqrt(lam2) AS white2
FROM base
"""


def table_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (§2.3 profiling — the dbt-test /
    expectations primitive): evaluate a constraint suite over
    orders/lineitem and emit one row per constraint with its violation
    count — NOT NULL, primary-key uniqueness, referential integrity
    (orphaned lineitems), and domain rules. The report a pipeline gates
    a publish on.

    Plan shape per constraint class: null/domain checks fold into ONE
    conditional-aggregate scan (map-side combining, zero extra
    shuffles); PK uniqueness is one keyed count-having pass; the FK
    orphan check is a left-anti join keyed on the FK — each the minimal
    shuffle its semantic needs, and the union of 1-row results is
    driver-free. At 100 TB the anti-join prunes with a Bloom/runtime
    filter (agg_bloom_semijoin is the explicit form).
    """
    o = Catalog(spark, sf_dir).table("orders")
    li = Catalog(spark, sf_dir).table("lineitem")

    def one(name: str, cnt) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    scan_checks = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nn"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("dom"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).alias("enum_v"),
    )
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("violations"))
    )
    orphans = (
        li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    return (
        one("orders.o_custkey NOT NULL", scan_checks.select(F.col("nn").alias("violations")))
        .unionByName(
            one(
                "orders.o_totalprice > 0",
                scan_checks.select(F.col("dom").alias("violations")),
            )
        )
        .unionByName(
            one(
                "orders.o_orderstatus IN (O,F,P)",
                scan_checks.select(F.col("enum_v").alias("violations")),
            )
        )
        .unionByName(one("orders.o_orderkey UNIQUE", dup_pk))
        .unionByName(one("lineitem.l_orderkey FK orders", orphans))
    )


TABLE_CONSTRAINT_CHECK_SQL = """
SELECT 'orders.o_custkey NOT NULL' AS check_name,
       COUNT(*) FILTER (o_custkey IS NULL) AS violations FROM orders
UNION ALL
SELECT 'orders.o_totalprice > 0',
       COUNT(*) FILTER (o_totalprice <= 0) FROM orders
UNION ALL
SELECT 'orders.o_orderstatus IN (O,F,P)',
       COUNT(*) FILTER (o_orderstatus NOT IN ('O','F','P')) FROM orders
UNION ALL
SELECT 'orders.o_orderkey UNIQUE',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'lineitem.l_orderkey FK orders',
       COUNT(*)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
"""


# ─── Mergeable histogram quantiles (the t-digest/KLL serving pattern) ──────

HIST_SHARDS = 16    # simulated per-partition summary shards (l_orderkey mod)
HIST_BIN_W = 2000   # equi-width bin size on l_extendedprice (~52 live bins)
HIST_QS = (50, 90, 99)


def agg_quantile_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable quantile rollup (§2.3 sketch family — the
    mergeable-summary sibling of agg_hll_partition_merge): each shard
    (stand-in for a partition/day) reduces its rows to an equi-width
    HISTOGRAM of l_extendedprice; shards then merge by adding bin counts
    — an associative, commutative merge, so arbitrary shard subsets
    re-aggregate without touching raw rows; quantiles read off the merged
    cumulative distribution with error bounded by one bin width. This is
    how percentile serving tables work at 100 TB: kilobyte histograms
    per partition, O(partitions) merge, never O(rows) re-scan.

    Exactness discipline: the bin id is floor(price / W) on the SAME
    double both engines compute (single IEEE divide, exact floor), the
    rank threshold ceil(q·N/100) is pure integer arithmetic
    ((q·N + 99) div 100 on non-negatives), and the selected quantile is
    a BIN EDGE (bin·W, an integer) — no float quantile interpolation to
    diverge on. Both aggregation levels are map-side-combining keyed
    shuffles; the merged histogram (~52 rows) is the only thing the
    final window touches."""
    li = Catalog(spark, sf_dir).table("lineitem")
    binned = li.select(
        F.pmod(F.col("l_orderkey"), F.lit(HIST_SHARDS)).alias("shard"),
        F.floor(F.col("l_extendedprice") / F.lit(float(HIST_BIN_W)))
        .cast("bigint")
        .alias("bin"),
    )
    # level 1: per-shard partial histograms (the stored summaries)
    partial = binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # level 2: merge = add counts per bin across shards
    merged = partial.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n_total", F.sum("cnt").over(Window.partitionBy())
    )
    qs = spark.createDataFrame([(q,) for q in HIST_QS], "q int")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .filter(
            F.col("cum")
            >= F.expr("(q * n_total + 99) div 100")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("q").orderBy(F.asc("bin"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return hit.select(
        "q",
        "n_total",
        F.col("bin").alias("bin_idx"),
        (F.col("bin") * HIST_BIN_W).alias("quantile_lo"),
        ((F.col("bin") + 1) * HIST_BIN_W).alias("quantile_hi"),
        F.col("cum").alias("cum_count"),
    )


AGG_QUANTILE_PARTITION_MERGE_SQL = f"""
WITH binned AS (
  SELECT l_orderkey % {HIST_SHARDS} AS shard,
         CAST(FLOOR(l_extendedprice / CAST({HIST_BIN_W} AS DOUBLE)) AS BIGINT)
           AS bin
  FROM lineitem
),
partial AS (
  SELECT shard, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2
),
merged AS (
  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM partial GROUP BY bin
),
cum AS (
  SELECT bin, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
  FROM merged
),
hit AS (
  SELECT q.q, cum.n_total, cum.bin, cum.cum,
         ROW_NUMBER() OVER (PARTITION BY q.q ORDER BY cum.bin ASC) AS rn
  FROM cum CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in HIST_QS)}]) AS q) q
  WHERE cum.cum >= (q.q * cum.n_total + 99) // 100
)
SELECT CAST(q AS INT) AS q, n_total, bin AS bin_idx,
       bin * {HIST_BIN_W} AS quantile_lo,
       (bin + 1) * {HIST_BIN_W} AS quantile_hi,
       cum AS cum_count
FROM hit WHERE rn = 1
"""


DDSK_Q_PCT = 95  # target percentile for the readout


def agg_ddsketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-bucket (DDSketch-shaped) mergeable quantiles per event
    type: values quantize to integer cents, buckets are powers of two
    (bucket = bit-length of cents), and p{DDSK_Q_PCT} is read from the
    cumulative bucket histogram. The RELATIVE-error twin of
    ``agg_quantile_partition_merge`` (equi-width = absolute error):
    long-tail latency/value distributions keep bounded γ-relative error
    with a handful of buckets, and partial histograms from any number of
    partitions/days merge by bucket-count addition — the property that
    makes the sketch a rollup-table citizen at 100 TB.

    Exactness: bit-length via length(bin(k)) on an exact integer — no
    log2 (transcendental) anywhere; the rank ⌈p·n/100⌉ and the bucket
    upper bound 2^b − 1 are integer arithmetic; the estimate returns to
    value units by a single shared double division.

    Plan: one keyed agg to (type, bucket) counts — bucket cardinality is
    ~40 for the whole double range, so the cumulative window runs on a
    tiny table; no data-sized sort anywhere (the win over the exact
    median's per-type sort in ``events_anomaly_mad``).
    """
    e = Catalog(spark, sf_dir).table("events")
    cents = F.expr("CAST(FLOOR(value * 100) AS BIGINT)")
    hist = (
        e.select("event_type", F.length(F.bin(cents)).cast("int").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    ranked = (
        hist.withColumn("cum", F.sum("bn").over(w_cum))
        .withColumn("n", F.sum("bn").over(w_all))
        .withColumn("rank", F.expr(f"({DDSK_Q_PCT} * n + 99) div 100"))
        .filter(F.col("cum") >= F.col("rank"))
    )
    w_pick = Window.partitionBy("event_type").orderBy("bucket")
    return (
        ranked.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "n",
            F.col("bucket").alias("p95_bucket"),
            F.expr("CAST(POW(2, bucket) AS BIGINT) - 1").alias("p95_upper_cents"),
            (
                (F.expr("CAST(POW(2, bucket) AS BIGINT) - 1").cast("double"))
                / F.lit(100.0)
            ).alias("p95_upper_value"),
        )
        .orderBy("event_type")
    )


AGG_DDSKETCH_QUANTILE_SQL = f"""
WITH hist AS (
  SELECT event_type,
         CAST(LENGTH(printf('%b', CAST(FLOOR(value * 100) AS BIGINT))) AS INT)
           AS bucket,
         COUNT(*) AS bn
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, bucket, bn,
         SUM(bn) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(bn) OVER (PARTITION BY event_type) AS n
  FROM hist
),
hit AS (
  SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
  FROM ranked
  WHERE cum >= ({DDSK_Q_PCT} * n + 99) // 100
)
SELECT event_type, n,
       bucket AS p95_bucket,
       CAST(2 ** bucket AS BIGINT) - 1 AS p95_upper_cents,
       CAST(CAST(2 ** bucket AS BIGINT) - 1 AS DOUBLE) / CAST(100 AS DOUBLE)
         AS p95_upper_value
FROM hit WHERE rn = 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Partition-level content checksums (replica / pipeline validation)
# ---------------------------------------------------------------------------

MERKLE_BUCKETS = 64


def table_merkle_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed content-checksum manifest over orders (§2.3 data-quality
    family): hash-partition rows into {MERKLE_BUCKETS} buckets by key and
    emit per-bucket (row count, XOR of row fingerprints, modular sum of
    row fingerprints). Two replicas — or a pipeline before/after a
    migration — compare manifests and locate divergent key ranges
    WITHOUT moving data: at 100 TB this is the only affordable
    cross-cluster equality check (64 rows cross the wire, not the
    table), and the first-divergent-bucket result bounds the re-scan to
    1/{MERKLE_BUCKETS} of the keyspace (recurse for Merkle-tree drill-
    down). XOR and modular sum are both order- and partition-layout-
    insensitive, so the manifest is stable under repartitioning, AQE
    re-plans, and engine choice.

    Exactness: the row fingerprint hashes a canonical string of
    key + int columns + money floored to BIGINT cents — no raw
    double-to-string formatting (engine-dependent) anywhere. The
    modular sum runs in DECIMAL(38,0) (cannot overflow: 2^60 · row
    count ≪ 10^38), alongside the overflow-free XOR.
    """
    o = Catalog(spark, sf_dir).table("orders")
    return orders_merkle_manifest(o).orderBy("bucket")


def orders_merkle_manifest(o: DataFrame) -> DataFrame:
    """The bucketed (n_rows, xor_fp, sum_fp) content manifest of an
    orders-shaped frame — shared by ``table_merkle_checksum`` and the
    OPTIMIZE round-trip's content-invariance proof (any at-rest copy of
    orders must produce the identical manifest)."""
    from ..functions.hashing import md5_long60

    cents = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        cents.cast("string"),
    )
    return (
        o.select(
            (md5_long60(F.col("o_orderkey").cast("string")) % MERKLE_BUCKETS)
            .cast("int")
            .alias("bucket"),
            md5_long60(row_str).alias("row_h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(row_h)").alias("xor_fp"),
            # stringified: DECIMAL(38,0) survives every engine's pandas
            # bridge as exact digits (DuckDB's DECIMAL>18 → float64 kills
            # a numeric comparison)
            F.sum(F.col("row_h").cast("decimal(38,0)")).cast("string").alias("sum_fp"),
        )
    )


TABLE_MERKLE_CHECKSUM_SQL = f"""
WITH rows_h AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
              % {MERKLE_BUCKETS} AS INT) AS bucket,
         ('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' ||
             CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)
         ), 1, 15))::BIGINT AS row_h
  FROM orders
)
SELECT bucket, COUNT(*) AS n_rows, bit_xor(row_h) AS xor_fp,
       CAST(SUM(CAST(row_h AS DECIMAL(38,0))) AS VARCHAR) AS sum_fp
FROM rows_h
GROUP BY bucket
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding dimensionality cut)
# ---------------------------------------------------------------------------

JL_IN_DIM = 64   # fixture embedding width
JL_OUT_DIM = 8   # projected width (JL distance distortion ~ sqrt(ln n / k))


def _jl_sign(i: int, j: int) -> int:
    """Deterministic Rademacher ±1 from md5 parity — the same digest
    recipe as ``functions.hashing.md5_long``, evaluated ONCE at plan
    build (the matrix is data-independent, so hashing per row would be
    512 pointless digests per vector)."""
    import hashlib

    h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
    return 1 if int(h[:8], 16) % 2 == 0 else -1


_JL_SIGNS = [
    [_jl_sign(i, j) for i in range(JL_IN_DIM)] for j in range(JL_OUT_DIM)
]


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sparse random projection 64 → 8 dims with a
    Rademacher ±1 matrix (Achlioptas 2001): the cheap data-independent
    dimensionality cut a 100 TB embedding pipeline applies before ANN
    candidate generation — per-row dot products against a FIXED sign
    matrix, zero shuffles, linear scan, no training pass (vs PCA's
    corpus-wide Gram iteration in ``embedding_pca_top2``).

    Inputs are quantized ``floor(x·1e6)`` → BIGINT BEFORE summation
    (float-sum order is engine-dependent; integer sums are not), so the
    oracle replays the projection bit-for-bit. The sign matrix derives
    from md5 parity computed at plan-build time; the oracle SQL inlines
    the same literals from the same Python constant.
    """
    e = Catalog(spark, sf_dir).table("embeddings")
    sel = [F.col("vec_id"), F.col("label")]
    for j in range(JL_OUT_DIM):
        arr = "array(" + ",".join(f"{s}L" for s in _JL_SIGNS[j]) + ")"
        sel.append(
            F.expr(
                f"aggregate(zip_with(embedding, {arr}, "
                "(x, s) -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * s), "
                "0L, (a, b) -> a + b)"
            ).alias(f"p{j}")
        )
    return e.select(*sel)


def _jl_oracle() -> str:
    cols = []
    for j in range(JL_OUT_DIM):
        arr = "[" + ",".join(str(s) for s in _JL_SIGNS[j]) + "]"
        cols.append(
            f"CAST(list_sum(list_transform(range(1, {JL_IN_DIM + 1}), "
            f"i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)"
            f" * ({arr}::BIGINT[])[i])) AS BIGINT) AS p{j}"
        )
    return (
        "SELECT vec_id, label, " + ", ".join(cols) + " FROM embeddings"
    )


EMBEDDING_RANDOM_PROJECTION_SQL = _jl_oracle()


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 256  # sketch size: relative error ~ 1/sqrt(k-2) ≈ 6.3%
_H_SPACE = 1 << 60  # md5_long60 hash domain


def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002) —
    the MERGEABLE distinct estimator whose state is k hash values, and
    (unlike HLL implementations) is bit-reproducible across engines:
    md5-derived hashes mean DuckDB replays the EXACT estimate, so the
    oracle pins the sketch's arithmetic, not a tolerance band.

    Estimator: with h uniform on [0, 2^60), the k-th smallest distinct
    hash h_k estimates density k/n ≈ h_k/2^60 → n̂ = (k-1)·2^60 / h_k
    (the unbiased k-1 form). When fewer than k distinct values exist the
    sketch IS the exact distinct set (n̂ = |sketch|) — the fixture's
    smallest SF exercises that branch.

    Merge property (the reason production distinct-counts are sketches):
    bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)). Proven
    in-query: per-priority bottom-k sketches (5 independent sketches)
    merge into exactly the global sketch's estimate — `est_ppm` and
    `est_merged_ppm` are asserted equal by the oracle hash.

    Plan: one distinct-hash agg (keyed shuffle with map-side combine),
    then TakeOrdered k (per-partition bottom-k, merged once — bounded
    driver state); the per-group path is a window rank over the same
    aggregated stream. Nothing driver-side scales with row count."""
    o = Catalog(spark, sf_dir).table("orders")
    h = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    distinct_h = h.select("h").distinct()
    n_exact = distinct_h.count()  # scalar for the error column (bounded)
    bottom = distinct_h.orderBy("h").limit(KMV_K)
    direct = bottom.agg(
        F.count(F.lit(1)).alias("kk"), F.max("h").alias("hk")
    )
    # per-group sketches, then merge: union the 5 bottom-k sets and
    # re-take bottom-k — the sketch algebra a combiner tree runs
    grp_h = h.distinct()
    w = Window.partitionBy("grp").orderBy("h")
    grp_bottom = (
        grp_h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("h")
        .distinct()
    )
    merged = (
        grp_bottom.orderBy("h")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).alias("kk_m"), F.max("h").alias("hk_m"))
    )
    def _est(kk: str, hk: str) -> str:
        return (
            f"if({kk} < {KMV_K}, {kk}, "
            f"cast(cast({kk} - 1 as decimal(38,0)) * {_H_SPACE} div {hk} as bigint))"
        )

    return (
        direct.crossJoin(F.broadcast(merged))
        .select(
            F.lit(KMV_K).alias("k"),
            F.lit(n_exact).cast("long").alias("n_exact"),
            F.expr(_est("kk", "hk")).alias("est"),
            F.expr(_est("kk_m", "hk_m")).alias("est_merged"),
        )
        .select(
            "k",
            "n_exact",
            "est",
            "est_merged",
            F.expr(
                f"abs(est - n_exact) * 1000000L div greatest(n_exact, 1)"
            ).alias("err_ppm"),
        )
    )


AGG_KMV_DISTINCT_SQL = f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS grp,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
),
dh AS (SELECT DISTINCT h FROM h),
bk AS (SELECT h FROM dh ORDER BY h LIMIT {KMV_K}),
direct AS (SELECT COUNT(*) AS kk, MAX(h) AS hk FROM bk),
grp_bottom AS (
  SELECT DISTINCT h FROM (
    SELECT h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM h)
  WHERE rn <= {KMV_K}
),
mg AS (
  SELECT COUNT(*) AS kk_m, MAX(h) AS hk_m
  FROM (SELECT h FROM grp_bottom ORDER BY h LIMIT {KMV_K})
),
ne AS (SELECT COUNT(*) AS n_exact FROM dh)
SELECT {KMV_K} AS k,
       CAST(n_exact AS BIGINT) AS n_exact,
       CASE WHEN kk < {KMV_K} THEN kk
            ELSE CAST(CAST(kk - 1 AS HUGEINT) * {_H_SPACE} // hk AS BIGINT)
       END AS est,
       CASE WHEN kk_m < {KMV_K} THEN kk_m
            ELSE CAST(CAST(kk_m - 1 AS HUGEINT) * {_H_SPACE} // hk_m AS BIGINT)
       END AS est_merged,
       ABS((CASE WHEN kk < {KMV_K} THEN kk
            ELSE CAST(CAST(kk - 1 AS HUGEINT) * {_H_SPACE} // hk AS BIGINT) END)
           - n_exact) * 1000000 // GREATEST(n_exact, 1) AS err_ppm
FROM direct CROSS JOIN mg CROSS JOIN ne
"""
