"""Tabular feature-preparation operators for training pipelines
(SURVEY.md §2.4 extension surface): categorical target encoding and
quantile feature binning.

Not in the reference (its pipeline ends at a JSON artifact — fetch.go:
143-157); these are the ops a feature-engineering stage runs between the
relational layer and model training, charter-mandated alongside the
dedup/quality families.

- ml_target_encode_loo  leave-one-out target (mean) encoding of a
                        categorical column — the leakage-safe variant:
                        each row's encoding excludes its own target.
- ml_quantile_binning   equi-depth (decile) discretization of a numeric
                        feature via a fixed-width histogram sketch —
                        the single-pass, merge-friendly shape every
                        production binner (LightGBM, BigQuery
                        APPROX_QUANTILES) actually uses, instead of a
                        global sort.
- ml_feature_hashing    the hashing trick: fixed-dim token-count
                        vectors with md5-derived buckets — no
                        vocabulary state, zero-shuffle row-local.
- ml_standard_scaler    z-score standardization from exact decimal
                        moment sums (sketch pass + apply pass).

Scale design: target encoding is ONE category-keyed partial agg joined
back as a broadcast (|categories| rows); binning is one domain-bounded
histogram agg, a tiny single-task cumulative pass over ≤ |domain|
aggregated rows (the agg_weighted_median crossing idiom), and a
row-local bucket-search assignment — the corpus is scanned twice, never
sorted, and nothing driver-side scales with row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog

N_BINS = 10          # deciles
HIST_WIDTH = 1_000   # histogram bucket width in cents ($10.00)


def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of ``o_orderpriority`` against the
    order-value target: each order's encoding is the mean target of the
    OTHER orders in its category — the standard leakage guard (a row
    must not see its own label through the feature; naive mean encoding
    is a textbook target leak).

    Exactness: cents-integer sums; LOO mean = (Σ_g − y_i) div (n_g − 1)
    stays in integer cents (singleton categories — impossible to encode
    without self-leak — yield NULL, the explicit "needs prior" marker).

    Plan: ONE category-keyed partial-aggregated shuffle produces
    (Σ_g, n_g); the per-row encode is a broadcast join (|categories|
    rows) plus row-local integer arithmetic — at 100 TB the corpus
    streams through map-side-only work after one tiny agg.
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("category"),
        cents.alias("y_cents"),
    )
    stats = base.groupBy("category").agg(
        F.sum("y_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return base.join(F.broadcast(stats), "category").select(
        "o_orderkey",
        "category",
        "y_cents",
        F.when(
            F.col("n") > 1,
            F.expr("(s - y_cents) div (n - 1)"),
        ).alias("loo_enc_cents"),
    )


ML_TARGET_ENCODE_LOO_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS category,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y_cents
  FROM orders
),
stats AS (
  SELECT category, CAST(SUM(y_cents) AS BIGINT) AS s, COUNT(*) AS n
  FROM base GROUP BY category
)
SELECT b.o_orderkey, b.category, b.y_cents,
       CASE WHEN st.n > 1 THEN (st.s - b.y_cents) // (st.n - 1) END
         AS loo_enc_cents
FROM base b JOIN stats st USING (category)
"""


def ml_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile binning of order value via a fixed-width
    histogram sketch: quantize cents to $10 histogram buckets, take ONE
    domain-bounded count agg, find where the cumulative count crosses
    each ⌈k·n/10⌉ rank (percentile_disc semantics at bucket
    granularity), and assign every row its bin by counting edges ≤ its
    own bucket. This is how production binners discretize at scale —
    the histogram is a mergeable sketch (map-side partial counts), so
    there is no global sort and no per-row window; a narrower
    ``HIST_WIDTH`` trades sketch size for edge resolution.

    Plan: shuffle #1 carries ≤ |price-domain/width| histogram rows; the
    cumulative crossing runs over those aggregated rows only (the
    agg_weighted_median idiom); edges collect into a ≤ 9-element array
    broadcast to a row-local ``size(filter(...))`` bucket search.
    Integer end-to-end — the hash cannot drift.
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(
        "o_orderkey", cents.alias("cents"), (cents / HIST_WIDTH).cast("long").alias("hb")
    )
    hist = base.groupBy("hb").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("hb"))
    ).crossJoin(F.broadcast(base.agg(F.count(F.lit(1)).alias("n"))))
    ranks = spark.range(1, N_BINS).select(F.col("id").alias("k"))
    edges = (
        cum.join(
            F.broadcast(ranks),
            F.col("cum") >= F.ceil(F.col("k") * F.col("n") / N_BINS),
        )
        .groupBy("k")
        .agg(F.min("hb").alias("edge"))
    )
    edge_arr = edges.agg(
        F.array_sort(F.collect_list(F.struct("k", "edge"))).alias("es")
    ).select(F.expr("transform(es, x -> x.edge)").alias("edge_arr"))
    return base.crossJoin(F.broadcast(edge_arr)).select(
        "o_orderkey",
        "cents",
        F.expr("size(filter(edge_arr, e -> e <= hb))").cast("int").alias("bin"),
    )


ML_QUANTILE_BINNING_SQL = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {HIST_WIDTH} AS hb
  FROM orders
),
hist AS (SELECT hb, COUNT(*) AS cnt FROM base GROUP BY hb),
cum AS (
  SELECT hb, SUM(cnt) OVER (ORDER BY hb) AS cum,
         (SELECT COUNT(*) FROM base) AS n
  FROM hist
),
edges AS (
  SELECT k, CAST(MIN(hb) AS BIGINT) AS edge
  FROM cum JOIN range(1, {N_BINS}) r(k)
    ON cum >= CEIL(k * n / {N_BINS}.0)
  GROUP BY k
),
earr AS (SELECT list(edge ORDER BY k) AS edge_arr FROM edges)
SELECT b.o_orderkey, b.cents,
       CAST(LEN(list_filter(e.edge_arr, x -> x <= b.hb)) AS INT) AS bin
FROM base b CROSS JOIN earr e
"""


HASH_DIM = 16  # feature-hashing bucket count


def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (fastText / Vowpal Wabbit feature layer): each
    document becomes a fixed ``HASH_DIM``-dimensional token-count vector
    with bucket = md5-derived hash mod dim — no vocabulary pass, no
    dictionary state, collision-tolerant by design. The layer every
    linear-model text pipeline runs between raw text and training.

    The vector ships as its comma-joined counts ('3,0,1,…') on both
    sides (``array_join`` / DuckDB ``array_to_string``): an ``array<int>``
    cell is unhashable for a pandas row canonicalizer. NULL text yields
    a NULL string on both sides (the fold and the join both propagate
    NULL).

    Bucket hash: first 8 hex chars of md5(token) as an unsigned int mod
    ``HASH_DIM`` — both engines derive it bit-identically (same idiom as
    the corpus shingle keys). Plan: row-local — tokens explode INSIDE
    the array fold, never into rows; at 100 TB this is pure map-side
    codegen after the scan (the only exchange is the small-fixture
    round-robin that ``table_parallel`` may add, see the r11 note).

    r11 (guide §1.2 per-task work): the original expression filtered the
    token array once PER BUCKET (``transform(sequence(0,15), k ->
    size(filter(tokens, t -> md5-bucket(t) = k)))``) — HASH_DIM md5
    evaluations per token. Rewritten as one bucket pass (md5 once per
    token) folded into the count array with integer increments; counts
    are identical by construction (same bucket value, same k order).
    The scan rides ``table_parallel`` — the md5 fold is pure scan-side
    compute, serialized on ONE task by the single-row-group fixture
    files (same class as the simhash signature pass).
    """
    d = Catalog(spark, sf_dir).table_parallel("documents")
    bucket = f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {HASH_DIM}"
    vec = f"""
      array_join(
        aggregate(
          transform(split(text, ' '), t -> {bucket}),
          array_repeat(0, {HASH_DIM}),
          (acc, b) -> transform(acc, (x, i) -> IF(i = b, x + 1, x))),
        ',')
    """
    return d.select(
        "doc_id",
        F.expr(vec).alias("feature_counts"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )


ML_FEATURE_HASHING_SQL = f"""
SELECT doc_id,
       array_to_string(list_transform(range(0, {HASH_DIM}), k ->
         CAST(LEN(list_filter(string_split(text, ' '),
                  t -> ('0x' || substr(md5(t), 1, 8))::BIGINT
                       % {HASH_DIM} = k)) AS INT)), ',') AS feature_counts,
       CAST(LEN(string_split(text, ' ')) AS INT) AS n_tokens
FROM documents
"""


def ml_standard_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization of a numeric feature — the default
    feature-prep transform before any distance-based or linear model.
    Mean and population std come from EXACT decimal cent sums (the
    agg_stats_moments discipline), so the per-row scaled value is one
    fixed IEEE expression over exact integers — bit-stable across
    engines and partitionings.

    Plan: ONE global agg (2 integers) broadcast back over the corpus
    scan; the transform is row-local. The two-pass shape is what every
    production scaler does at scale (sketch pass + apply pass).
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select("o_orderkey", cents.alias("v"))
    vd = F.col("v").cast("decimal(38,0)")
    stats = base.agg(
        F.sum("v").alias("s"),
        F.sum(vd * vd).cast("decimal(38,0)").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    z = (
        "(CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / "
        "sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) "
        " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) "
        "   * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    return base.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        "v",
        F.expr(z).cast("decimal(18,6)").cast("double").alias("z_score"),
    )


ML_STANDARD_SCALER_SQL = """
WITH base AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM orders
),
stats AS (
  SELECT CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS s2,
         COUNT(*) AS n
  FROM base
)
SELECT b.o_orderkey, b.v,
       CAST(CAST(
         (CAST(b.v AS DOUBLE) - CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)) /
         sqrt(CAST(st.s2 AS DOUBLE) / CAST(st.n AS DOUBLE)
              - (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE))
                * (CAST(st.s AS DOUBLE) / CAST(st.n AS DOUBLE)))
       AS DECIMAL(18,6)) AS DOUBLE) AS z_score
FROM base b CROSS JOIN stats st
"""


AUC_BUCKET = 10_000  # score-histogram bucket width in cents ($100)


def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC over a bucketed score histogram — the ranking
    metric every classifier eval reports, computed via the rank-sum
    (Mann-Whitney U) identity instead of a curve sweep:
    AUC = P(score⁺ > score⁻) + ½·P(tie). Scores quantize to
    ``AUC_BUCKET``-wide buckets first (the large-scale AUC recipe —
    a bounded histogram instead of a global sort), ties share a bucket
    and contribute the ½ term exactly.

    All-integer: 2·U = Σ_b n_pos(b)·(2·cum_neg(<b) + n_neg(b)), one ppm
    division at the end. Plan: ONE domain-bounded histogram agg, a
    cumulative pass over those aggregated rows only, one scalar rollup —
    the corpus is scanned once; nothing scales beyond |score domain|.

    Fixture task: does order value rank 1-URGENT orders above the rest
    (it should not — AUC ≈ ½ is itself the check that priorities are
    value-independent).
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(
        (F.col("o_orderpriority") == "1-URGENT").alias("pos"),
        (cents / AUC_BUCKET).cast("long").alias("hb"),
    )
    hist = base.groupBy("hb").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("nn"),
    )
    cum = hist.withColumn(
        "cneg",
        F.sum("nn").over(Window.orderBy("hb")) - F.col("nn"),
    )
    return cum.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cneg") + F.col("nn"))).alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        F.expr("u2 * 1000000L div (2 * n_pos * n_neg)").alias("auc_ppm"),
    )


ML_AUC_ROC_SQL = f"""
WITH base AS (
  SELECT o_orderpriority = '1-URGENT' AS pos,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {AUC_BUCKET} AS hb
  FROM orders
),
hist AS (
  SELECT hb,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM base GROUP BY hb
),
cum AS (
  SELECT np, nn,
         CAST(SUM(nn) OVER (ORDER BY hb) AS BIGINT) - nn AS cneg
  FROM hist
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(np * (2 * cneg + nn)) AS BIGINT) * 1000000
         // (2 * CAST(SUM(np) AS BIGINT) * CAST(SUM(nn) AS BIGINT)) AS auc_ppm
FROM cum
"""


def ml_best_split_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram best-split finding — THE inner loop of every
    gradient-boosted-tree trainer (XGBoost/LightGBM grow trees by
    scanning a feature histogram for the threshold maximizing variance
    reduction): fit a depth-1 regression stump predicting line revenue
    from quantity. For threshold t, the split score is
    S_L²/n_L + S_R²/n_R (the Σy² term cancels in comparisons); gain is
    the variance reduction vs the root.

    Exactness: per-quantity sums stay integer cents; squares go through
    DECIMAL(38,0) (the BIGINT square overflows — the standard-scaler
    lesson); each candidate's score is ONE fixed IEEE expression over
    exact integers, so the argmax (score DESC, t ASC) is engine-stable.

    Plan: ONE feature-keyed agg collapses the corpus to ≤ |quantity
    domain| rows (the LightGBM histogram); cumulative sums, candidate
    scoring, and the argmax all run on that aggregated grain. At 100 TB
    the histogram is a mergeable map-side sketch — the corpus is
    scanned once, exactly like the production trainers.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    hist = (
        li.select(F.col("l_quantity").cast("long").alias("q"), cents.alias("y"))
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("s"))
    )
    w = Window.orderBy("q")
    cum = (
        hist.select(
            "q",
            F.sum("n").over(w).alias("nl"),
            F.sum("s").over(w).alias("sl"),
        )
        .crossJoin(
            F.broadcast(
                hist.agg(
                    F.sum("n").alias("nt"), F.sum("s").alias("st")
                )
            )
        )
        .filter(F.col("nl") < F.col("nt"))  # both sides non-empty
    )
    sq = (
        "CAST(CAST({x} AS DECIMAL(38,0)) * CAST({x} AS DECIMAL(38,0)) AS DOUBLE)"
    )
    score = (
        f"{sq.format(x='sl')} / CAST(nl AS DOUBLE) + "
        f"{sq.format(x='st - sl')} / CAST(nt - nl AS DOUBLE)"
    )
    root = f"{sq.format(x='st')} / CAST(nt AS DOUBLE)"
    scored = cum.select(
        F.col("q").alias("split_q"),
        F.col("nl").alias("n_left"),
        (F.col("nt") - F.col("nl")).alias("n_right"),
        F.expr("sl div nl").alias("mean_left_cents"),
        F.expr("(st - sl) div (nt - nl)").alias("mean_right_cents"),
        F.expr(f"({score}) - ({root})")
        .cast("decimal(28,4)")
        .cast("double")
        .alias("gain"),
        F.expr(score).alias("raw_score"),
    )
    wbest = Window.orderBy(F.desc("raw_score"), F.asc("split_q"))
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "split_q",
            "n_left",
            "n_right",
            "mean_left_cents",
            "mean_right_cents",
            "gain",
        )
    )


ML_BEST_SPLIT_STUMP_SQL = """
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         COUNT(*) AS n,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS s
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st FROM hist
),
cum AS (
  SELECT q,
         CAST(SUM(n) OVER (ORDER BY q) AS BIGINT) AS nl,
         CAST(SUM(s) OVER (ORDER BY q) AS BIGINT) AS sl,
         t.nt, t.st
  FROM hist CROSS JOIN tot t
),
scored AS (
  SELECT q AS split_q, nl AS n_left, nt - nl AS n_right,
         sl // nl AS mean_left_cents,
         (st - sl) // (nt - nl) AS mean_right_cents,
         CAST(CAST(
           CAST(CAST(sl AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(nl AS DOUBLE)
           + CAST(CAST(st - sl AS DECIMAL(38,0)) * CAST(st - sl AS DECIMAL(38,0))
                  AS DOUBLE) / CAST(nt - nl AS DOUBLE)
           - CAST(CAST(st AS DECIMAL(38,0)) * CAST(st AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(nt AS DOUBLE)
         AS DECIMAL(28,4)) AS DOUBLE) AS gain,
         CAST(CAST(sl AS DECIMAL(38,0)) * CAST(sl AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(nl AS DOUBLE)
         + CAST(CAST(st - sl AS DECIMAL(38,0)) * CAST(st - sl AS DECIMAL(38,0))
                AS DOUBLE) / CAST(nt - nl AS DOUBLE) AS raw_score
  FROM cum WHERE nl < nt
)
SELECT split_q, n_left, n_right, mean_left_cents, mean_right_cents, gain
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY raw_score DESC, split_q ASC) AS rk
  FROM scored
) WHERE rk = 1
"""


def ml_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & gains table — the third classic model-eval readout
    (with AUC and MRR): bucket the population into score deciles via
    the same histogram sketch as ``ml_quantile_binning``, then report
    per-decile response rate and TOP-DOWN cumulative gains/lift — "the
    top 20% of scores captures X% of responders at Y× random". The
    campaign-targeting readout every scoring model ships with.

    All-integer: counts, ppm response rates, and cumulative
    gain/lift ratios divide exactly once each. Plan: the corpus
    collapses to the score-domain histogram; decile edges, bin
    assignment, and the 10-row cumulative pass ride aggregated grains
    (the binning/AUC discipline — no global sort anywhere).
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(
        (F.col("o_orderpriority") == "1-URGENT").alias("resp"),
        cents.alias("cents"),
        (cents / HIST_WIDTH).cast("long").alias("hb"),
    )
    hist = base.groupBy("hb").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("hb"))
    ).crossJoin(F.broadcast(base.agg(F.count(F.lit(1)).alias("n"))))
    ranks = spark.range(1, N_BINS).select(F.col("id").alias("k"))
    edges = (
        cum.join(
            F.broadcast(ranks),
            F.col("cum") >= F.ceil(F.col("k") * F.col("n") / N_BINS),
        )
        .groupBy("k")
        .agg(F.min("hb").alias("edge"))
    )
    edge_arr = edges.agg(
        F.array_sort(F.collect_list(F.struct("k", "edge"))).alias("es")
    ).select(F.expr("transform(es, x -> x.edge)").alias("edge_arr"))
    binned = base.crossJoin(F.broadcast(edge_arr)).select(
        "resp",
        F.expr("size(filter(edge_arr, e -> e <= hb))").cast("int").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("resp"), 1).otherwise(0)).alias("r"),
    )
    wtop = Window.orderBy(F.desc("bin"))  # decile 9 = highest scores first
    return (
        per_bin.withColumn("cum_n", F.sum("n").over(wtop))
        .withColumn("cum_r", F.sum("r").over(wtop))
        .crossJoin(
            F.broadcast(
                per_bin.agg(F.sum("n").alias("nt"), F.sum("r").alias("rt"))
            )
        )
        .select(
            "bin",
            "n",
            "r",
            F.expr("r * 1000000L div n").alias("resp_ppm"),
            F.expr("cum_r * 1000000L div rt").alias("cum_gain_ppm"),
            # decimal(38,0) arithmetic: cum_r·nt·1e6 overflows int64 once
            # nt ≳ 3M rows (silent wrap in non-ANSI Spark vs a DuckDB
            # raise — the engines would diverge exactly at scale); the
            # 128-bit intermediate holds to ~1e26 and IntegralDivide
            # returns the bigint ppm
            F.expr(
                "cast(cast(cum_r as decimal(38,0)) * nt * 1000000 "
                "div (cast(cum_n as decimal(38,0)) * rt) as bigint)"
            ).alias("cum_lift_ppm"),
        )
    )


ML_LIFT_GAINS_TABLE_SQL = f"""
WITH base AS (
  SELECT o_orderpriority = '1-URGENT' AS resp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           // {HIST_WIDTH} AS hb
  FROM orders
),
hist AS (SELECT hb, COUNT(*) AS cnt FROM base GROUP BY hb),
cum AS (
  SELECT hb, SUM(cnt) OVER (ORDER BY hb) AS cum,
         (SELECT COUNT(*) FROM base) AS n
  FROM hist
),
edges AS (
  SELECT k, CAST(MIN(hb) AS BIGINT) AS edge
  FROM cum JOIN range(1, {N_BINS}) r(k)
    ON cum >= CEIL(k * n / {N_BINS}.0)
  GROUP BY k
),
earr AS (SELECT list(edge ORDER BY k) AS edge_arr FROM edges),
binned AS (
  SELECT b.resp,
         CAST(LEN(list_filter(e.edge_arr, x -> x <= b.hb)) AS INT) AS bin
  FROM base b CROSS JOIN earr e
),
per_bin AS (
  SELECT bin, COUNT(*) AS n,
         CAST(SUM(CASE WHEN resp THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(r) AS BIGINT) AS rt
  FROM per_bin
)
SELECT p.bin, p.n, p.r,
       p.r * 1000000 // p.n AS resp_ppm,
       CAST(SUM(p.r) OVER (ORDER BY p.bin DESC) AS BIGINT) * 1000000 // t.rt
         AS cum_gain_ppm,
       CAST(CAST(SUM(p.r) OVER (ORDER BY p.bin DESC) AS HUGEINT) * t.nt * 1000000
         // (CAST(SUM(p.n) OVER (ORDER BY p.bin DESC) AS HUGEINT) * t.rt)
         AS BIGINT) AS cum_lift_ppm
FROM per_bin p CROSS JOIN tot t
"""


# ─── Calibration / reliability table ────────────────────────────────────────

CAL_BINS = 10  # reliability-diagram bins over [0, 1)


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table + per-bin ECE contribution — the calibration
    eval that completes the model-eval family (AUC ranks, lift/gains
    targets, THIS answers "do predicted probabilities mean anything?").

    Deterministic pseudo-model (both engines replay it exactly): the
    predicted probability is ``(price-cents mod 101)/100`` — a score
    decorrelated from the label by construction, so the table itself
    demonstrates miscalibration detection. Bins are p̂-deciles; per bin:
    count, mean predicted (ppm), observed positive rate (ppm), |gap|
    (ppm), and the bin's weighted ECE term (ppm of total rows).

    Plan: ONE groupBy over ≤ CAL_BINS keys with map-side combine — the
    corpus is scanned once; every downstream row count is bounded by
    the bin domain, never by data volume. All-integer ppm arithmetic
    (the decimal-cast discipline), no floats until nothing is summed.
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    p_pct = cents % 101  # 0..100 pseudo-probability (percent)
    base = o.select(
        p_pct.alias("p_pct"),
        (F.col("o_orderpriority") == "1-URGENT").alias("pos"),
    )
    per_bin = (
        base.groupBy(
            F.least(F.col("p_pct") * CAL_BINS / 101, F.lit(CAL_BINS - 1))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_pct").alias("sum_p_pct"),
            F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("n_pos"),
        )
    )
    tot = per_bin.agg(F.sum("n").alias("nt"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("sum_p_pct * 10000L div n").alias("pred_ppm"),
            F.expr("n_pos * 1000000L div n").alias("obs_ppm"),
            F.expr(
                "abs(sum_p_pct * 10000L div n - n_pos * 1000000L div n)"
            ).alias("gap_ppm"),
            F.expr(
                "cast(cast(abs(sum_p_pct * 10000L div n - n_pos * 1000000L div n)"
                " as decimal(38,0)) * n div nt as bigint)"
            ).alias("ece_term_ppm"),
        )
    )


ML_CALIBRATION_BINS_SQL = f"""
WITH base AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) % 101
           AS p_pct,
         o_orderpriority = '1-URGENT' AS pos
  FROM orders
),
per_bin AS (
  SELECT LEAST(p_pct * {CAL_BINS} // 101, {CAL_BINS - 1}) AS bin,
         COUNT(*) AS n,
         CAST(SUM(p_pct) AS BIGINT) AS sum_p_pct,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM per_bin)
SELECT bin, n, n_pos,
       sum_p_pct * 10000 // n AS pred_ppm,
       n_pos * 1000000 // n AS obs_ppm,
       ABS(sum_p_pct * 10000 // n - n_pos * 1000000 // n) AS gap_ppm,
       CAST(CAST(ABS(sum_p_pct * 10000 // n - n_pos * 1000000 // n) AS HUGEINT)
            * n // nt AS BIGINT) AS ece_term_ppm
FROM per_bin CROSS JOIN tot
"""


def agg_pandas_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (the vectorized UDAF surface — usable in
    ``groupBy().agg`` and OVER windows, unlike applyInPandas): exact
    lower-median of order cents per priority, computed in numpy on
    Arrow-delivered int64 batches.

    Integer discipline: the group's cents arrive as int64; the lower
    median (element at (n−1)//2 of the sorted array) is an ELEMENT of
    the input, so no interpolation float ever exists — DuckDB's
    quantile_disc replays it exactly.

    Scale: Spark's partial-aggregation machinery does NOT apply to
    GROUPED_AGG UDFs (each group's values collect to one executor) —
    fine at |group| ≲ memory, the documented contract; for unbounded
    groups use the histogram-sketch median (`agg_weighted_median`)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the type-hint form can't see through this
    # module's `from __future__ import annotations` (hints arrive as
    # strings and the GROUPED_AGG signature check rejects them)
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def lower_median(v):
        import numpy as np

        a = np.sort(v.to_numpy(dtype="int64"))
        return int(a[(len(a) - 1) // 2])

    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(
        F.col("o_orderpriority").alias("priority"), cents.alias("cents")
    )
    # GROUPED_AGG UDFs can't mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — the UDAF owns the agg alone
    return base.groupBy("priority").agg(
        lower_median("cents").alias("median_cents")
    )


AGG_PANDAS_GROUPED_UDAF_SQL = """
WITH c AS (
  SELECT o_orderpriority AS priority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
ranked AS (
  SELECT priority, cents,
         ROW_NUMBER() OVER (PARTITION BY priority ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY priority) AS n
  FROM c
)
SELECT priority, cents AS median_cents
FROM ranked WHERE rn = (n - 1) // 2 + 1
"""
