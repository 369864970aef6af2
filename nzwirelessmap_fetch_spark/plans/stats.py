"""Statistical & exotic aggregate family (SURVEY.md §2.3 aggregation rows).

The reference's SQLite layer exposes the full SQL aggregate surface
(fetch.go:222 delegates arbitrary SELECTs); this module covers the
aggregate classes the relational suite had not yet pinned: second-moment
statistics (variance / correlation), bitwise aggregates, ordered string
aggregation (LISTAGG), and deterministic MODE.

Cross-engine exactness discipline (see relational.py header):
- Moment sums go through DECIMAL so summation order cannot flip the hash;
  the *final* mean/var/corr arithmetic is a single fixed IEEE expression
  over those exact sums (+,-,*,/ and sqrt are correctly rounded, so two
  engines evaluating the identical tree agree bit-for-bit).
- Mode ties break on the smallest group value — total order, no
  engine-dependent arbitrary pick.
- String aggregation bounds per-group state by rank-filtering to the
  first K members BEFORE collecting (collect_list over an unbounded group
  is the classic OOM at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog


def _pin(c: Column) -> Column:
    """Normalize a double for the driver's stringified hash."""
    return c.cast("decimal(18,6)").cast("double")


# ---------------------------------------------------------------------------
# Second-moment statistics from exact decimal sums
# ---------------------------------------------------------------------------

def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag mean / population variance / Pearson correlation of
    (l_quantity, l_extendedprice) — the stats-aggregate capability row
    (reference users run avg/var/corr through the SQLite layer,
    fetch.go:222).

    Plan: ONE partial-aggregated shuffle produces the six exact decimal
    moment sums (n, Σx, Σx², Σy, Σy², Σxy); the derived statistics are a
    per-row projection over 6 values per group. At 100 TB this is the
    map-side-combine shape — the shuffle carries 6 decimals per key, not
    rows. Built-in var_pop/corr would be double-accumulation
    (order-dependent, hash-unstable cross-engine); the decimal-moment
    formulation is exact, so both engines derive identical doubles.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
        F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # Identical IEEE expression trees on both sides → identical bits.
    mean_x = sx / n
    var_x = (sxx - (sx * sx) / n) / n
    var_y = (syy - (sy * sy) / n) / n
    corr = (sxy - (sx * sy) / n) / (
        F.sqrt(sxx - (sx * sx) / n) * F.sqrt(syy - (sy * sy) / n)
    )
    return sums.select(
        "l_returnflag",
        "n",
        _pin(mean_x).alias("mean_qty"),
        _pin(var_x).alias("var_qty"),
        _pin(var_y).alias("var_price"),
        _pin(corr).alias("corr_qty_price"),
    )


AGG_STATS_MOMENTS_SQL = """
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(sy AS DOUBLE) AS syd,
         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
  FROM sums
)
SELECT l_returnflag, n,
       CAST(CAST(sxd / nd AS DECIMAL(18,6)) AS DOUBLE) AS mean_qty,
       CAST(CAST((sxxd - (sxd * sxd) / nd) / nd AS DECIMAL(18,6)) AS DOUBLE) AS var_qty,
       CAST(CAST((syyd - (syd * syd) / nd) / nd AS DECIMAL(18,6)) AS DOUBLE) AS var_price,
       CAST(CAST((sxyd - (sxd * syd) / nd)
                 / (SQRT(sxxd - (sxd * sxd) / nd) * SQRT(syyd - (syd * syd) / nd))
            AS DECIMAL(18,6)) AS DOUBLE) AS corr_qty_price
FROM d
"""


# ---------------------------------------------------------------------------
# Bitwise aggregates
# ---------------------------------------------------------------------------

def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIT_AND / BIT_OR / BIT_XOR over the order keys per priority class —
    the bitwise-aggregate capability row (set-membership masks, feature
    flags rolled up per key).

    Bitwise aggregates are associative+commutative on integers, so they
    map-side combine perfectly: one shuffle, 3 longs per key. Exact
    integer math — hash-stable by construction.
    """
    o = Catalog(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("bit_and(o_orderkey)").alias("keys_and"),
        F.expr("bit_or(o_orderkey)").alias("keys_or"),
        F.expr("bit_xor(o_orderkey)").alias("keys_xor"),
        F.count(F.lit(1)).alias("n"),
    )


AGG_BITWISE_SQL = """
SELECT o_orderpriority,
       BIT_AND(o_orderkey) AS keys_and,
       BIT_OR(o_orderkey)  AS keys_or,
       BIT_XOR(o_orderkey) AS keys_xor,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG / STRING_AGG)
# ---------------------------------------------------------------------------

_LISTAGG_K = 50


def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordered, bounded LISTAGG of customer names (the
    STRING_AGG / GROUP_CONCAT capability row — SQLite exposes
    group_concat through the reference's query layer).

    State discipline for 100 TB: an unbounded collect_list is the classic
    aggregation OOM, so membership is rank-limited FIRST (row_number ≤ K
    inside the nation partition — one window exchange), and only the
    surviving K rows per group are collected. The final collect therefore
    carries ≤ K·n_groups rows. Sort-before-concat makes the string
    deterministic.
    """
    c = Catalog(spark, sf_dir).table("customer")
    n = Catalog(spark, sf_dir).table("nation")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner"
    ).select("n_name", "c_name")
    w = Window.partitionBy("n_name").orderBy("c_name")
    ranked = joined.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _LISTAGG_K
    )
    return ranked.groupBy("n_name").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("first_names"),
        F.count(F.lit(1)).alias("n_listed"),
    )


AGG_STRING_AGG_SQL = f"""
WITH ranked AS (
  SELECT n_name, c_name,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_name) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       STRING_AGG(c_name, ',' ORDER BY c_name) AS first_names,
       COUNT(*) AS n_listed
FROM ranked WHERE rn <= {_LISTAGG_K}
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Deterministic MODE
# ---------------------------------------------------------------------------

def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent order priority per order status, ties broken by the
    smallest priority string (the MODE capability row).

    Built-in ``mode()`` is tie-nondeterministic in both engines, so the
    pinned formulation is count-then-rank: one keyed aggregation builds
    (status, priority) counts, then a tiny window (n_status × n_priority
    rows — dozens, not data-sized) picks the deterministic argmax. The
    expensive exchange is the count; the window runs on aggregated data.
    """
    o = Catalog(spark, sf_dir).table("orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


AGG_MODE_SQL = """
WITH counts AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), ranked AS (
  SELECT o_orderstatus, o_orderpriority, cnt,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority) AS rn
  FROM counts
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Robust statistics: median absolute deviation
# ---------------------------------------------------------------------------

MAD_OUTLIER_K = 3  # |dev| > K * MAD flags an outlier


def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / MAD / outlier count of event values per type — the robust
    twin of events_anomaly_zscore (mean/std break under the heavy tails
    a z-score is supposed to find; median/MAD don't).

    Three passes over events, each a small-key aggregation with map-side
    combine, stitched with broadcasts of the tiny per-type stats: median
    per type → |dev| vs the broadcast median → MAD per type → outlier
    count vs the broadcast MAD. At 100 TB the exact group-gathering
    percentile swaps for approx_percentile (agg_quantiles documents the
    same trade); the pass structure is unchanged.

    Exactness: values go through DECIMAL(18,2) so the interpolated
    median is arithmetic on exact inputs — the identical IEEE expression
    both engines evaluate (the agg_quantiles parity precedent).
    """
    e = Catalog(spark, sf_dir).table("events").select(
        "event_type", F.col("value").cast("decimal(18,2)").cast("double").alias("v")
    )
    med = e.groupBy("event_type").agg(
        F.expr("percentile(v, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("v") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("med_raw"),
            F.max("mad").alias("mad_raw"),
            F.sum(
                (F.col("adev") > MAD_OUTLIER_K * F.col("mad")).cast("int")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            _pin(F.col("med_raw")).alias("med_value"),
            _pin(F.col("mad_raw")).alias("mad_value"),
            "n_outliers",
        )
    )


AGG_ROBUST_MAD_SQL = f"""
WITH e AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
  FROM events
),
med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS med, COUNT(*) AS n
  FROM e GROUP BY event_type
),
dev AS (
  SELECT e.event_type, ABS(e.v - m.med) AS adev, m.med, m.n
  FROM e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       MAX(d.n) AS n,
       CAST(CAST(MAX(d.med) AS DECIMAL(18,6)) AS DOUBLE) AS med_value,
       CAST(CAST(MAX(m.mad) AS DECIMAL(18,6)) AS DOUBLE) AS mad_value,
       CAST(SUM(CASE WHEN d.adev > {MAD_OUTLIER_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


# ---------------------------------------------------------------------------
# Regression aggregates (REGR_SLOPE / REGR_INTERCEPT / R²) from exact sums
# ---------------------------------------------------------------------------

def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares line of l_extendedprice on l_quantity per return
    flag — the REGR_* aggregate family (slope, intercept, R²), derived
    from the SAME six exact decimal moment sums as agg_stats_moments:
    one partial-aggregated shuffle carrying 6 decimals per key, then a
    per-group scalar projection. Built-in regr_slope/regr_intercept are
    double-accumulation (order-dependent); the decimal-moment form is
    exact, so both engines evaluate an identical IEEE tree.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum((x * x).cast("decimal(38,4)")).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum((y * y).cast("decimal(38,4)")).alias("syy"),
        F.sum((x * y).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = sxy - (sx * sy) / n      # n·cov and n·var cancel in the ratio
    varx_n = sxx - (sx * sx) / n
    vary_n = syy - (sy * sy) / n
    slope = cov_n / varx_n
    intercept = (sy - slope * sx) / n
    r2 = (cov_n * cov_n) / (varx_n * vary_n)
    return sums.select(
        "l_returnflag",
        "n",
        _pin(slope).alias("slope"),
        _pin(intercept).alias("intercept"),
        _pin(r2).alias("r2"),
    )


AGG_REGRESSION_SQL = """
WITH sums AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
  FROM lineitem GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sxx AS DOUBLE) AS sxxd, CAST(sy AS DOUBLE) AS syd,
         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
  FROM sums
), t AS (
  SELECT l_returnflag, n, nd, sxd, syd,
         sxyd - (sxd * syd) / nd AS cov_n,
         sxxd - (sxd * sxd) / nd AS varx_n,
         syyd - (syd * syd) / nd AS vary_n
  FROM d
)
SELECT l_returnflag, n,
       CAST(CAST(cov_n / varx_n AS DECIMAL(18,6)) AS DOUBLE) AS slope,
       CAST(CAST((syd - (cov_n / varx_n) * sxd) / nd AS DECIMAL(18,6)) AS DOUBLE)
         AS intercept,
       CAST(CAST((cov_n * cov_n) / (varx_n * vary_n) AS DECIMAL(18,6)) AS DOUBLE)
         AS r2
FROM t
"""


# ---------------------------------------------------------------------------
# Gini impurity (log-free diversity)
# ---------------------------------------------------------------------------

def agg_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language SOURCE diversity as Gini impurity, 1 − Σpᵢ² — the
    data-mixing health metric (is each language slice drawing from many
    sources or dominated by one?). Gini is the log-free twin of Shannon
    entropy: rational arithmetic on exact counts, so it obeys the
    no-transcendentals pinning rule where entropy couldn't.

    Two keyed aggregations, both map-side-combining: (lang, source)
    counts — bounded by the label-pair cardinality — then the per-lang
    fold of Σnᵢ² and N. The impurity is one fixed expression over two
    exact integers: 1 − Σnᵢ²/N², identical IEEE tree both engines.
    """
    d = Catalog(spark, sf_dir).table("documents")
    pair = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    per_lang = pair.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    gini = F.lit(1.0) - F.col("sum_sq").cast("double") / (
        F.col("n_docs").cast("double") * F.col("n_docs").cast("double")
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "n_sources",
        gini.cast("decimal(18,6)").cast("double").alias("gini_impurity"),
    )


AGG_GINI_IMPURITY_SQL = """
WITH pair AS (
  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_sources,
       CAST(CAST(1.0 - CAST(SUM(n*n) AS DOUBLE)
                       / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS gini_impurity
FROM pair
GROUP BY lang
"""


K_ANON = 5


def agg_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (data-governance surface of the curation
    pipeline): group the table by its quasi-identifier tuple —
    (nation, market segment, high-balance flag), the columns an attacker
    could link against external data — and flag every group smaller than
    k=5. A release is k-anonymous iff NO flagged groups remain; the
    flagged rows are exactly what a suppression/generalization pass must
    fix, so this operator is both the audit and the worklist.

    Plan: ONE partial-aggregated group-by (the QI tuple is the shuffle
    key, |groups| is bounded by the QI domain, not the table), flags are
    row-local on the aggregated rows. The same shape audits any PII
    release at 100 TB — the shuffle carries one row per QI combination.
    """
    c = Catalog(spark, sf_dir).table("customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            (F.col("c_acctbal") >= 5000.0).alias("high_balance"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "high_balance",
            "n",
            (F.col("n") >= K_ANON).alias("k_anonymous"),
        )
    )


AGG_K_ANONYMITY_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       c_acctbal >= 5000.0 AS high_balance,
       COUNT(*) AS n,
       COUNT(*) >= {K_ANON} AS k_anonymous
FROM customer
GROUP BY c_nationkey, c_mktsegment, c_acctbal >= 5000.0
"""


# ---------------------------------------------------------------------------
# A/B experiment read-out: hash-bucketed arms + Welch t from exact sums
# ---------------------------------------------------------------------------

def events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment read-out (§2.3 aggregation — the experimentation
    primitive): users are hash-bucketed into two arms exactly as real
    assignment services do (md5(user) mod 2 — sticky, uniform, no
    assignment table to join), and the purchase-value difference is
    summarized as a Welch t statistic computed from exact decimal sums.

    ONE map-side-combining pass produces both arms' (n, Σx, Σx²) via
    conditional aggregates — no second scan, no join; the t statistic is
    a fixed IEEE expression over six exact values (sqrt is correctly
    rounded — transcendental-free, so the pinned output hash-matches).
    The p-value lookup (a CDF) is deliberately NOT here: that belongs to
    the (tiny) reporting layer, not the corpus scan.
    """
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type") == "purchase"
    )
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    x = F.col("value").cast("decimal(18,2)")
    in_a = arm == 0
    sums = e.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~in_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(in_a, x).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("sx_a"),
        F.sum(F.when(~in_a, x).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("sx_b"),
        F.sum(
            F.when(in_a, (x * x).cast("decimal(38,4)")).otherwise(
                F.lit(0).cast("decimal(38,4)")
            )
        ).alias("sxx_a"),
        F.sum(
            F.when(~in_a, (x * x).cast("decimal(38,4)")).otherwise(
                F.lit(0).cast("decimal(38,4)")
            )
        ).alias("sxx_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("sx_a").cast("double")
    sb = F.col("sx_b").cast("double")
    qa = F.col("sxx_a").cast("double")
    qb = F.col("sxx_b").cast("double")
    mean_a = sa / na
    mean_b = sb / nb
    # sample (n-1) variances; identical expression tree in the oracle
    var_a = (qa - (sa * sa) / na) / (na - 1)
    var_b = (qb - (sb * sb) / nb) / (nb - 1)
    t = (mean_a - mean_b) / F.sqrt(var_a / na + var_b / nb)
    return sums.select(
        "n_a",
        "n_b",
        _pin(mean_a).alias("mean_a"),
        _pin(mean_b).alias("mean_b"),
        _pin(var_a).alias("var_a"),
        _pin(var_b).alias("var_b"),
        _pin(t).alias("t_welch"),
    )


EVENTS_AB_TTEST_SQL = """
WITH p AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         CAST(value AS DECIMAL(18,2)) AS x
  FROM events WHERE event_type = 'purchase'
),
sums AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN arm = 0 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_a,
         SUM(CASE WHEN arm <> 0 THEN x ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_b,
         SUM(CASE WHEN arm = 0 THEN CAST(x * x AS DECIMAL(38,4))
                  ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxx_a,
         SUM(CASE WHEN arm <> 0 THEN CAST(x * x AS DECIMAL(38,4))
                  ELSE CAST(0 AS DECIMAL(38,4)) END) AS sxx_b
  FROM p
),
d AS (
  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(sx_a AS DOUBLE) AS sad, CAST(sx_b AS DOUBLE) AS sbd,
         CAST(sxx_a AS DOUBLE) AS qad, CAST(sxx_b AS DOUBLE) AS qbd
  FROM sums
)
SELECT n_a, n_b,
       CAST(CAST(sad / nad AS DECIMAL(18,6)) AS DOUBLE) AS mean_a,
       CAST(CAST(sbd / nbd AS DECIMAL(18,6)) AS DOUBLE) AS mean_b,
       CAST(CAST((qad - (sad * sad) / nad) / (nad - 1) AS DECIMAL(18,6)) AS DOUBLE) AS var_a,
       CAST(CAST((qbd - (sbd * sbd) / nbd) / (nbd - 1) AS DECIMAL(18,6)) AS DOUBLE) AS var_b,
       CAST(CAST((sad / nad - sbd / nbd)
                 / SQRT(((qad - (sad * sad) / nad) / (nad - 1)) / nad
                        + ((qbd - (sbd * sbd) / nbd) / (nbd - 1)) / nbd)
            AS DECIMAL(18,6)) AS DOUBLE) AS t_welch
FROM d
"""


# ---------------------------------------------------------------------------
# Distribution-drift monitor: month-over-month histogram L1 distance
# ---------------------------------------------------------------------------

def agg_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (§2.3 profiling — the data-drift check
    every production feature pipeline schedules): per month, the
    o_totalprice equi-width histogram as integer-ppm shares; drift =
    the L1 distance (total variation ×2) between consecutive months'
    share vectors. The transcendental-free sibling of PSI/KL (whose logs
    would break the exact-hash contract) — same monotone "distributions
    diverged" signal, same alerting threshold workflow.

    Plan: ONE (month, bin) partial-aggregated shuffle over ≤ months·bins
    groups; the dense grid is manufactured map-side (sequence+explode
    over the observed month span — same trick as events_gap_fill) so
    empty bins contribute their share to the L1 sum; the
    previous-month share arrives via ONE lag window partitioned by bin;
    the closing per-month rollup rides ≤ grid rows. Integer ppm shares
    make the whole chain exact.
    """
    from .relational import HIST_BINS, HIST_HI, HIST_LO

    o = Catalog(spark, sf_dir).table("orders")
    step = (HIST_HI - HIST_LO) / HIST_BINS
    raw = F.floor((F.col("o_totalprice") - HIST_LO) / step)
    bin_ = F.greatest(F.lit(0), F.least(F.lit(HIST_BINS - 1), raw)).cast("int")
    # month index = months since epoch — integer, lag-safe across years
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    counts = (
        o.select(midx.alias("m"), bin_.alias("bin"))
        .groupBy("m", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = counts.agg(
        F.min("m").alias("m_lo"), F.max("m").alias("m_hi")
    )
    grid = span.select(
        F.explode(F.sequence("m_lo", "m_hi")).alias("m")
    ).crossJoin(
        spark.range(HIST_BINS).select(F.col("id").cast("int").alias("bin"))
    )
    dense = grid.join(counts, ["m", "bin"], "left").select(
        "m", "bin", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    shared = dense.withColumn(
        "share_ppm",
        F.expr("n * 1000000 div greatest(sum(n) over (partition by m), 1)"),
    )
    w_lag = Window.partitionBy("bin").orderBy("m")
    diffs = shared.withColumn(
        "prev_share", F.lag("share_ppm").over(w_lag)
    ).filter(F.col("prev_share").isNotNull())
    return (
        diffs.groupBy("m")
        .agg(
            F.sum(F.abs(F.col("share_ppm") - F.col("prev_share"))).alias(
                "l1_drift_ppm"
            ),
            F.sum("n").alias("n_rows"),
        )
        .select(
            F.concat_ws(
                "-",
                F.format_string("%04d", F.expr("m div 12").cast("int")),
                F.format_string("%02d", (F.col("m") % 12 + 1).cast("int")),
            ).alias("month"),
            "l1_drift_ppm",
            "n_rows",
        )
    )


AGG_HISTOGRAM_DRIFT_SQL = """
WITH counts AS (
  SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS m,
         CAST(GREATEST(0, LEAST(11, FLOOR((o_totalprice - 0.0) / 50000.0))) AS INT) AS bin,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
span AS (SELECT MIN(m) AS m_lo, MAX(m) AS m_hi FROM counts),
grid AS (
  SELECT UNNEST(generate_series(m_lo, m_hi)) AS m FROM span
),
dense AS (
  SELECT g.m, b.bin, COALESCE(c.n, 0) AS n
  FROM grid g
  CROSS JOIN (SELECT UNNEST(generate_series(0, 11)) AS bin) b
  LEFT JOIN counts c ON c.m = g.m AND c.bin = b.bin
),
shared AS (
  SELECT m, bin, n,
         n * 1000000 // GREATEST(SUM(n) OVER (PARTITION BY m), 1) AS share_ppm
  FROM dense
),
diffs AS (
  SELECT m, bin, n, share_ppm,
         LAG(share_ppm) OVER (PARTITION BY bin ORDER BY m) AS prev_share
  FROM shared
)
SELECT printf('%04d-%02d', m // 12, m % 12 + 1) AS month,
       CAST(SUM(ABS(share_ppm - prev_share)) AS BIGINT) AS l1_drift_ppm,
       CAST(SUM(n) AS BIGINT) AS n_rows
FROM diffs WHERE prev_share IS NOT NULL
GROUP BY m
"""


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier over time-to-first-error
# ---------------------------------------------------------------------------

def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (§2.3 aggregation — churn/reliability
    analytics): time-to-first-`error` per user in days, right-censored at
    the user's last observed event; the curve S(d) = Π_{d'≤d} (1 − deaths
    /at-risk) over death times. The estimator behind every retention and
    time-to-failure read-out.

    Plan: ONE user-keyed aggregate builds (duration, observed); a
    duration-grain rollup is then tiny (≤ observed-span days), and both
    the reverse-cumulative at-risk count and the ordered product ride
    windows over THAT aggregated table. Censor-only durations multiply
    S by exactly 1, so the product runs over death times only — but
    their population still leaves the risk set via the reverse cumsum.
    Determinism: the cumulative product is a fold over an array_sort'd
    (duration, factor) list — same order both engines, bit-equal
    doubles from exact integer ratios.
    """
    e = Catalog(spark, sf_dir).table("events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("err_ts"),
    )
    durations = per_user.select(
        F.datediff(
            F.coalesce(F.col("err_ts"), F.col("last_ts")), F.col("first_ts")
        ).alias("d"),
        F.col("err_ts").isNotNull().alias("observed"),
    )
    grain = durations.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("n_deaths"),
    )
    w_risk = Window.orderBy("d").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    risk = grain.withColumn("n_at_risk", F.sum("n_total").over(w_risk)).filter(
        F.col("n_deaths") > 0
    )
    factor = F.lit(1.0) - F.col("n_deaths").cast("double") / F.col(
        "n_at_risk"
    ).cast("double")
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risk.withColumn("f", factor)
        .withColumn("fs", F.collect_list(F.struct("d", "f")).over(w_all))
        .select(
            "d",
            "n_at_risk",
            "n_deaths",
            _pin(
                F.expr(
                    "aggregate(array_sort(fs), CAST(1.0 AS DOUBLE), "
                    "(acc, x) -> acc * x.f)"
                )
            ).alias("survival"),
        )
    )


EVENTS_SURVIVAL_KM_SQL = """
WITH per_user AS (
  SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         MIN(CASE WHEN event_type = 'error' THEN ts END) AS err_ts
  FROM events GROUP BY user_id
),
durations AS (
  SELECT date_diff('day', CAST(first_ts AS DATE),
                   CAST(COALESCE(err_ts, last_ts) AS DATE)) AS d,
         err_ts IS NOT NULL AS observed
  FROM per_user
),
grain AS (
  SELECT d, COUNT(*) AS n_total,
         SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS n_deaths
  FROM durations GROUP BY d
),
risk AS (
  SELECT d, n_deaths,
         SUM(n_total) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS n_at_risk
  FROM grain
),
deaths AS (
  SELECT d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
         CAST(n_deaths AS BIGINT) AS n_deaths,
         1.0::DOUBLE - CAST(n_deaths AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS f
  FROM risk WHERE n_deaths > 0
)
SELECT d, n_at_risk, n_deaths,
       CAST(CAST(list_reduce(
         list_prepend(1.0::DOUBLE,
           list(f) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
         (a, b) -> a * b) AS DECIMAL(18,6)) AS DOUBLE) AS survival
FROM deaths
"""


# ---------------------------------------------------------------------------
# Forecast backtest: seasonal-naive baseline with integer-cent errors
# ---------------------------------------------------------------------------

def orders_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting backtest (§2.3 aggregation — the time-series baseline
    every demand-planning pipeline evaluates against): monthly revenue
    forecast by the seasonal-naive rule ŷ(m) = y(m−12), with per-month
    absolute error and APE in ppm. Beating this baseline is the
    admission bar for any real model; the backtest harness (groupBy to
    the grain, lag the season, score) is identical for fancier models.

    Plan: one partial-aggregated shuffle to monthly totals (exact cents
    via DECIMAL→BIGINT — float month sums would drift cross-engine),
    one lag-12 window over ≤ n_months rows. Integer arithmetic end to
    end."""
    o = Catalog(spark, sf_dir).table("orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    monthly = o.groupBy(midx.alias("m")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("m")
    scored = monthly.withColumn("forecast_cents", F.lag("cents", 12).over(w)).filter(
        F.col("forecast_cents").isNotNull()
    )
    abs_err = F.abs(F.col("cents") - F.col("forecast_cents"))
    return scored.select(
        F.concat_ws(
            "-",
            F.format_string("%04d", F.expr("m div 12").cast("int")),
            F.format_string("%02d", (F.col("m") % 12 + 1).cast("int")),
        ).alias("month"),
        F.col("cents").alias("actual_cents"),
        "forecast_cents",
        abs_err.alias("abs_err_cents"),
        F.expr(
            "abs(cents - forecast_cents) * 1000000 div greatest(cents, 1)"
        ).alias("ape_ppm"),
    )


ORDERS_SEASONAL_NAIVE_EVAL_SQL = """
WITH monthly AS (
  SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
scored AS (
  SELECT m, cents, LAG(cents, 12) OVER (ORDER BY m) AS forecast_cents
  FROM monthly
)
SELECT printf('%04d-%02d', m // 12, m % 12 + 1) AS month,
       cents AS actual_cents, forecast_cents,
       ABS(cents - forecast_cents) AS abs_err_cents,
       ABS(cents - forecast_cents) * 1000000 // GREATEST(cents, 1) AS ape_ppm
FROM scored WHERE forecast_cents IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Customer RFM segmentation + Pareto/ABC classification
# ---------------------------------------------------------------------------

RFM_BUCKETS = 5


def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (§2.3 windows/aggregation — the
    marketing-analytics staple): per customer, Recency (days since last
    order, against the corpus max date), Frequency (order count) and
    Monetary (exact cents), each scored into {RFM_BUCKETS} ntile buckets;
    the concatenated RFM code is the segment key campaigns target.

    Plan: one customer-keyed aggregate; the corpus max date is a 1-row
    broadcast; the three ntiles ride ONE global window exchange over the
    aggregated (|customers|-row) table — fine at dimension scale. For a
    100 TB *event-grain* RFM the global ntile would become the
    bottleneck: swap in approx_percentile cut-points broadcast against
    the same aggregate (same output contract, sketch-graded buckets).
    Ntile order pins ties by customer key, so buckets are deterministic.
    """
    o = Catalog(spark, sf_dir).table("orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("monetary_cents"),
    )
    maxd = o.agg(F.max("o_orderdate").alias("corpus_max"))
    base = per_cust.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("corpus_max"), F.col("last_order")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey"))
    return base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(RFM_BUCKETS).over(w_r).alias("r_score"),
        F.ntile(RFM_BUCKETS).over(w_f).alias("f_score"),
        F.ntile(RFM_BUCKETS).over(w_m).alias("m_score"),
    ).withColumn(
        "rfm",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


ORDERS_RFM_SEGMENTATION_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
base AS (
  SELECT o_custkey,
         date_diff('day', last_order, (SELECT MAX(o_orderdate) FROM orders))
           AS recency_days,
         frequency, monetary_cents
  FROM per_cust
)
SELECT o_custkey, CAST(recency_days AS INT) AS recency_days, frequency,
       monetary_cents,
       NTILE({RFM_BUCKETS}) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
       NTILE({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
       NTILE({RFM_BUCKETS}) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score,
       NTILE({RFM_BUCKETS}) OVER (ORDER BY recency_days ASC, o_custkey ASC) || '' ||
       NTILE({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, o_custkey ASC) || '' ||
       NTILE({RFM_BUCKETS}) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS rfm
FROM base
"""


ABC_A_PPM = 700_000  # cumulative-share class edges (ppm of total revenue)
ABC_B_PPM = 900_000


def parts_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification (§2.3 windows — inventory analytics):
    parts ranked by revenue; class A = parts covering the first
    {ABC_A_PPM/10000:.0f}% of cumulative revenue, B to
    {ABC_B_PPM/10000:.0f}%, C the tail. The 80/20 report behind stock
    and curation prioritization (same shape prioritizes which dup
    clusters or domains to clean first).

    Plan: one partkey-keyed aggregate (exact cents); the cumulative
    share rides one global window over the aggregated part table —
    dimension-sized, not fact-sized. Integer ppm arithmetic; ties pinned
    by partkey. The class edge uses the PREVIOUS row's cumulative share
    (classic ABC: a part belongs to A if the revenue BEFORE it has not
    yet reached the A edge), keeping every class non-empty even when one
    part dominates."""
    li = Catalog(spark, sf_dir).table("lineitem")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy(F.desc("rev_cents"), F.asc("l_partkey"))
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = rev.agg(F.sum("rev_cents").alias("total_cents"))
    ranked = (
        rev.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("cum_cents", F.sum("rev_cents").over(w_cum))
        .withColumn(
            "cum_ppm",
            F.expr("cum_cents * 1000000 div greatest(total_cents, 1)"),
        )
        .withColumn(
            "prev_ppm",
            F.expr("(cum_cents - rev_cents) * 1000000 div greatest(total_cents, 1)"),
        )
    )
    cls = (
        F.when(F.col("prev_ppm") < ABC_A_PPM, "A")
        .when(F.col("prev_ppm") < ABC_B_PPM, "B")
        .otherwise("C")
    )
    return ranked.select(
        "l_partkey", "rev_cents", "rank", "cum_ppm", cls.alias("abc_class")
    )


PARTS_PARETO_ABC_SQL = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, rev_cents,
         CAST(ROW_NUMBER() OVER (ORDER BY rev_cents DESC, l_partkey ASC) AS INT)
           AS rank,
         SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents,
         (SELECT SUM(rev_cents) FROM rev) AS total_cents
  FROM rev
)
SELECT l_partkey, rev_cents, rank,
       CAST(cum_cents * 1000000 // GREATEST(total_cents, 1) AS BIGINT) AS cum_ppm,
       CASE WHEN (cum_cents - rev_cents) * 1000000 // GREATEST(total_cents, 1)
                 < {ABC_A_PPM} THEN 'A'
            WHEN (cum_cents - rev_cents) * 1000000 // GREATEST(total_cents, 1)
                 < {ABC_B_PPM} THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


# ---------------------------------------------------------------------------
# Market-basket association rules over order line items
# ---------------------------------------------------------------------------

BASKET_TOP_K = 50


def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (§2.3 aggregation — the market-basket
    staple): for part pairs co-purchased in the same order, support,
    confidence and lift in integer ppm; the top-{BASKET_TOP_K} rules by
    support. The Apriori first level — and on a corpus, the same shape
    mines co-occurring domains/tags for curation.

    Plan: the pair space comes from an order-keyed SELF-join whose
    fan-in is bounded by basket size (|items|² per order, never corpus²)
    — the equi-join on l_orderkey is the scale guard; item supports are
    one keyed agg broadcast back onto the (small) rule table; TakeOrdered
    bounds the output. Integer-ppm arithmetic end to end: lift > 1e6
    means positively associated."""
    li = Catalog(spark, sf_dir).table("lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    a, b = items.alias("a"), items.alias("b")
    pair_counts = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    item_counts = items.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    ca = item_counts.select(
        F.col("part").alias("part_a"), F.col("n_item").alias("n_a")
    )
    cb = item_counts.select(
        F.col("part").alias("part_b"), F.col("n_item").alias("n_b")
    )
    rules = (
        pair_counts.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(f"n_ab * 1000000 div {n_orders}").alias("support_ppm"),
            F.expr("n_ab * 1000000 div n_a").alias("confidence_ppm"),
            F.expr(
                f"(n_ab * 1000000 div n_a) * 1000000 div "
                f"greatest(n_b * 1000000 div {n_orders}, 1)"
            ).alias("lift_ppm"),
        )
    )
    return rules.orderBy(
        F.desc("n_ab"), F.asc("part_a"), F.asc("part_b")
    ).limit(BASKET_TOP_K)


ORDERS_MARKET_BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
item_counts AS (
  SELECT l_partkey AS part, COUNT(*) AS n_item FROM items GROUP BY 1
)
SELECT part_a, part_b, n_ab,
       ca.n_item AS n_a, cb.n_item AS n_b,
       n_ab * 1000000 // (SELECT n FROM n_orders) AS support_ppm,
       n_ab * 1000000 // ca.n_item AS confidence_ppm,
       (n_ab * 1000000 // ca.n_item) * 1000000
         // GREATEST(cb.n_item * 1000000 // (SELECT n FROM n_orders), 1) AS lift_ppm
FROM pair_counts
JOIN item_counts ca ON ca.part = part_a
JOIN item_counts cb ON cb.part = part_b
ORDER BY n_ab DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP_K}
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in ppm — constants of the law, precomputed so the
# runtime stays transcendental-free (the exact-hash contract).
_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910,
                5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757}


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (§2.3 profiling — the classic
    fraud/fabrication screen on financial columns): the distribution of
    leading digits of order totals vs the Benford expectation, with
    per-digit deviation in ppm. Naturally-occurring multi-scale amounts
    follow the law; fabricated or capped data shows up as fat deviation
    on specific digits.

    Plan: leading digit is a row-local string head over exact cents; ONE
    9-group partial-aggregated shuffle; expectations are literal
    constants (log10 precomputed — nothing transcendental executes).
    """
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    benford = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div total").alias("share_ppm"),
            benford[F.col("digit")].alias("benford_ppm"),
        )
        .withColumn(
            "deviation_ppm", F.abs(F.col("share_ppm") - F.col("benford_ppm"))
        )
    )


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
)

ORDERS_BENFORD_AUDIT_SQL = f"""
WITH counts AS (
  SELECT CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n
  FROM orders GROUP BY 1
)
SELECT digit, n,
       CAST(n * 1000000 // (SELECT SUM(n) FROM counts) AS BIGINT) AS share_ppm,
       CASE digit {_BENFORD_CASE} END AS benford_ppm,
       CAST(ABS(n * 1000000 // (SELECT SUM(n) FROM counts)
                - CASE digit {_BENFORD_CASE} END) AS BIGINT) AS deviation_ppm
FROM counts
"""


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic (exact integer ECDFs)
# ---------------------------------------------------------------------------

def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance (§2.3 aggregation — the
    distribution-equality companion of events_ab_ttest): D = max over
    the pooled support of |ECDF_A − ECDF_B| for purchase values across
    the same hash-bucketed A/B arms. The mean can match while shapes
    diverge — KS is the detector for that.

    EXACT arithmetic throughout: per-value arm counts (one keyed agg),
    running cumulative counts via one value-ordered window over the
    (distinct-value-sized) aggregated table, and the ECDF gap compared
    as cross-multiplied BIGINTs |cum_a·n_b − cum_b·n_a| — no division
    until the final reported ppm. Argmax tie pins to the smallest
    value. At 100 TB the distinct-value grain (not the event grain)
    carries the window — value distributions are low-cardinality after
    quantization, and the fallback is binning first (agg_histogram's
    shape)."""
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type") == "purchase"
    )
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    v = F.col("value").cast("decimal(18,2)")
    per_val = e.select(arm.alias("arm"), v.alias("v")).groupBy("v").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("arm") != 0, 1).otherwise(0)).alias("cb"),
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_val.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    gaps = (
        per_val.crossJoin(F.broadcast(tot))
        .withColumn("cum_a", F.sum("ca").over(w_cum))
        .withColumn("cum_b", F.sum("cb").over(w_cum))
        .withColumn(
            "gap_num", F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
        )
    )
    return (
        gaps.orderBy(F.desc("gap_num"), F.asc("v"))
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.col("v").cast("double").alias("at_value"),
            "gap_num",
            F.expr("gap_num * 1000000 div (n_a * n_b)").alias("d_ppm"),
        )
    )


EVENTS_KS_TEST_SQL = """
WITH p AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
),
per_val AS (
  SELECT v,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS cb
  FROM p GROUP BY v
),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM per_val),
gaps AS (
  SELECT v, t.n_a, t.n_b,
         CAST(SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cum_b
  FROM per_val, tot t
)
SELECT n_a, n_b, CAST(v AS DOUBLE) AS at_value,
       ABS(cum_a * n_b - cum_b * n_a) AS gap_num,
       ABS(cum_a * n_b - cum_b * n_a) * 1000000 // (n_a * n_b) AS d_ppm
FROM gaps
ORDER BY gap_num DESC, v ASC
LIMIT 1
"""


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing as a pinned fold
# ---------------------------------------------------------------------------

def orders_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing over monthly revenue (§2.3
    aggregation — the recursive time-series smoother): level/trend state
    threaded through every month with α=β=1/2, plus the one-step-ahead
    forecast. The recurrence l_t = αy_t + (1−α)(l_{t−1}+b_{t−1}) cannot
    be phrased as a window (each step depends on the previous OUTPUT) —
    the engine answer is a higher-order fold with a STRUCT accumulator
    over the ordered month array, the same escape hatch as pack_bins'
    bin-state threading but fully declarative.

    Plan: one shuffle to monthly totals; the series (≤ n_months values)
    folds row-locally after an array_sort'd collect — months-grain
    state, corpus never re-scanned. α=β=1/2 are exact halves and the
    fold inlines an identical expression tree on both engines →
    bit-stable doubles. Init: l₀ = y₁, b₀ = y₂ − y₁ (textbook)."""
    o = Catalog(spark, sf_dir).table("orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("int")
    monthly = o.groupBy(midx.alias("m")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .cast("double")
        .alias("v")
    )
    series = monthly.agg(
        F.array_sort(F.collect_list(F.struct("m", "v"))).alias("s")
    ).select(F.expr("transform(s, x -> x.v)").alias("vals"))
    new_l = "0.5D * x + 0.5D * (acc.l + acc.b)"
    fold = (
        f"aggregate(slice(vals, 3, greatest(size(vals) - 2, 0)), "
        f"named_struct('l', element_at(vals, 1), "
        f"             'b', element_at(vals, 2) - element_at(vals, 1)), "
        f"(acc, x) -> named_struct("
        f"  'l', {new_l}, "
        f"  'b', 0.5D * (({new_l}) - acc.l) + 0.5D * acc.b))"
    )
    return series.select(
        F.expr("size(vals)").alias("n_months"),
        _pin(F.expr(f"({fold}).l")).alias("level"),
        _pin(F.expr(f"({fold}).b")).alias("trend"),
        _pin(F.expr(f"({fold}).l + ({fold}).b")).alias("forecast_next"),
    )


# The recursion is replayed with a recursive CTE threading (l, b) state
# month by month (the pack_bins_ffd oracle precedent). A list_reduce
# formulation was tried first and REJECTED: DuckDB's list_reduce with a
# struct accumulator over ≥3 elements diverged from the left fold
# (verified: fold of [10,12,14,13,11] gave b=0.5703 vs the hand-traced
# 0.59375, while single steps were correct) — the CTE is unambiguous.
_DDB_HOLT_NEW_L = "0.5*vals[i+1] + 0.5*(l + b)"

ORDERS_HOLT_LINEAR_SQL = f"""
WITH RECURSIVE monthly AS (
  SELECT (YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS m,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
              AS DOUBLE) AS v
  FROM orders GROUP BY 1
),
series AS (
  SELECT list(v ORDER BY m) AS vals FROM monthly
),
step(i, l, b) AS (
  SELECT 2, vals[1], vals[2] - vals[1] FROM series
  UNION ALL
  SELECT i + 1,
         {_DDB_HOLT_NEW_L},
         0.5*(({_DDB_HOLT_NEW_L}) - l) + 0.5*b
  FROM step, series WHERE i < LEN(vals)
)
SELECT (SELECT CAST(LEN(vals) AS INT) FROM series) AS n_months,
       CAST(CAST(l AS DECIMAL(18,6)) AS DOUBLE) AS level,
       CAST(CAST(b AS DECIMAL(18,6)) AS DOUBLE) AS trend,
       CAST(CAST(l + b AS DECIMAL(18,6)) AS DOUBLE) AS forecast_next
FROM step ORDER BY i DESC LIMIT 1
"""


# ---------------------------------------------------------------------------
# Winsorized / trimmed means with exact percentile edges
# ---------------------------------------------------------------------------

WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means per order priority (§2.3 aggregation
    — the outlier-robust estimators that keep a fat-tailed metric's
    average honest): values are clamped to (winsorized) or dropped
    outside (trimmed) the exact [p{WINSOR_LO_PCT}, p{WINSOR_HI_PCT}]
    band, with percentile_disc-semantics edges (values that EXIST in the
    data — no interpolation artifacts).

    Plan: one rank window per group gives position; edges are the min
    value at ⌈p·n⌉ cumulative rank (the agg_percentile_disc shape),
    joined back as a broadcast of ≤ |groups| rows; clamp is row-local;
    the means come from exact DECIMAL cent sums divided in one pinned
    IEEE tree. At 100 TB the exact edges swap for approx_percentile
    cut-points — same downstream plan."""
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    base = o.select(F.col("o_orderpriority").alias("grp"), cents.alias("v"))
    # rank by value only — ties share the same v, so edge extraction by
    # cumulative position is deterministic regardless of tie order
    w_pos = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = base.withColumn("pos", F.count(F.lit(1)).over(w_pos)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    )
    edges = (
        ranked.filter(F.col("pos") >= F.ceil(F.col("n") * WINSOR_LO_PCT / 100))
        .groupBy("grp")
        .agg(F.min("v").alias("p_lo"))
        .join(
            ranked.filter(F.col("pos") >= F.ceil(F.col("n") * WINSOR_HI_PCT / 100))
            .groupBy("grp")
            .agg(F.min("v").alias("p_hi")),
            "grp",
        )
    )
    clamped = base.join(F.broadcast(edges), "grp").select(
        "grp",
        "v",
        "p_lo",
        "p_hi",
        F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("v"))).alias("w"),
    )
    agg = clamped.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("p_lo").alias("p_lo_cents"),
        F.first("p_hi").alias("p_hi_cents"),
        F.sum("v").alias("sum_cents"),
        F.sum("w").alias("winsor_sum_cents"),
        F.sum(F.when(F.col("v").between(F.col("p_lo"), F.col("p_hi")), F.col("v"))).alias(
            "trim_sum_cents"
        ),
        F.sum(
            F.when(F.col("v").between(F.col("p_lo"), F.col("p_hi")), 1).otherwise(0)
        ).alias("n_kept"),
    )
    return agg.select(
        "grp",
        "n",
        "p_lo_cents",
        "p_hi_cents",
        _pin(F.col("sum_cents").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        _pin(
            F.col("winsor_sum_cents").cast("double") / F.col("n").cast("double")
        ).alias("winsorized_mean_cents"),
        _pin(
            F.col("trim_sum_cents").cast("double") / F.col("n_kept").cast("double")
        ).alias("trimmed_mean_cents"),
    )


AGG_WINSORIZED_MEAN_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM orders
),
ranked AS (
  SELECT grp, v,
         COUNT(*) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM base
),
edges AS (
  SELECT lo.grp, lo.p_lo, hi.p_hi FROM
    (SELECT grp, MIN(v) AS p_lo FROM ranked
     WHERE pos >= CEIL(n * {WINSOR_LO_PCT} / 100.0) GROUP BY grp) lo
  JOIN
    (SELECT grp, MIN(v) AS p_hi FROM ranked
     WHERE pos >= CEIL(n * {WINSOR_HI_PCT} / 100.0) GROUP BY grp) hi
  USING (grp)
),
clamped AS (
  SELECT b.grp, b.v, e.p_lo, e.p_hi,
         GREATEST(e.p_lo, LEAST(e.p_hi, b.v)) AS w
  FROM base b JOIN edges e ON e.grp = b.grp
),
agg AS (
  SELECT grp, COUNT(*) AS n,
         ANY_VALUE(p_lo) AS p_lo_cents, ANY_VALUE(p_hi) AS p_hi_cents,
         CAST(SUM(v) AS BIGINT) AS sum_cents,
         CAST(SUM(w) AS BIGINT) AS winsor_sum_cents,
         CAST(SUM(CASE WHEN v BETWEEN p_lo AND p_hi THEN v END) AS BIGINT)
           AS trim_sum_cents,
         SUM(CASE WHEN v BETWEEN p_lo AND p_hi THEN 1 ELSE 0 END) AS n_kept
  FROM clamped GROUP BY grp
)
SELECT grp, n, p_lo_cents, p_hi_cents,
       CAST(CAST(CAST(sum_cents AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS mean_cents,
       CAST(CAST(CAST(winsor_sum_cents AS DOUBLE) / CAST(n AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS winsorized_mean_cents,
       CAST(CAST(CAST(trim_sum_cents AS DOUBLE) / CAST(n_kept AS DOUBLE)
            AS DECIMAL(18,6)) AS DOUBLE) AS trimmed_mean_cents
FROM agg
"""


# ---------------------------------------------------------------------------
# l-diversity audit (companion of agg_k_anonymity)
# ---------------------------------------------------------------------------

L_DIVERSE = 3


def agg_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (§2.3 governance — the attribute-disclosure
    companion of agg_k_anonymity): k-anonymity stops identity linkage
    but a uniform group still leaks its sensitive value ("every customer
    in this QI cell is BUILDING segment... wait, that IS the QI" — here
    the sensitive attribute is the balance quartile); l-diversity
    requires ≥ {L_DIVERSE} distinct sensitive values per QI group. The
    audit emits per-group distinct counts and the violation flag — both
    report and suppression worklist, like its k- sibling.

    Plan: same ONE QI-keyed partial-aggregated shuffle; the distinct
    count of the sensitive attribute rides the same aggregation
    (count_distinct expands, still QI-domain-bounded). The sensitive
    bucket is an exact integer quartile of acctbal cents.
    """
    c = Catalog(spark, sf_dir).table("customer")
    # explicit FLOOR on both engines: a bare double→int cast TRUNCATES
    # in Spark but ROUNDS in DuckDB — divergent on every non-boundary
    # value (found by the gate)
    sensitive = F.floor(
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
        / F.lit(250_000.0)
    )  # ~quartile-width balance buckets (2500.00 each)
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(sensitive).alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "l_distinct",
            (F.col("l_distinct") >= L_DIVERSE).alias("l_diverse"),
        )
    )


AGG_L_DIVERSITY_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS n,
       COUNT(DISTINCT FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                            / 250000.0)) AS l_distinct,
       COUNT(DISTINCT FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                            / 250000.0)) >= 3 AS l_diverse
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


T_CLOSE_PPM = 200_000  # t = 0.20, the classic t-closeness threshold


def agg_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (§2.3 governance — the third leg of the
    k-anonymity / l-diversity / t-closeness privacy triple): l-diversity
    stops uniform groups but a group whose sensitive distribution is
    merely SKEWED vs the population still leaks ("this QI cell is 90%
    bottom-quartile balances — population is 25%"). t-closeness bounds
    the distance between each QI group's sensitive-value distribution
    and the global one; here the distance is total variation
    TVD = ½·Σ_b |p_g(b) − p(b)| over the same balance-quartile buckets
    as ``agg_l_diversity``.

    Exactness: TVD = (Σ_b |cnt_gb·N − glob_b·n_g|) / (2·n_g·N) — all
    integer until one final ppm integer division, so the hash cannot
    drift. Plan: two QI/bucket-keyed partial aggs + one bucket-domain
    broadcast nested-loop (|buckets| ≈ 5 rows) so absent buckets still
    contribute |0 − glob_b·n_g|; per-QI rollup is a second tiny keyed
    agg. At 100 TB the shuffles carry one row per (QI, bucket) — the
    audit never rescans the corpus.
    """
    c = Catalog(spark, sf_dir).table("customer")
    sb = F.floor(
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
        / F.lit(250_000.0)
    ).alias("sb")
    base = c.select("c_nationkey", "c_mktsegment", sb)
    gb = base.groupBy("c_nationkey", "c_mktsegment", "sb").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grp = base.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_g")
    )
    glob = base.groupBy("sb").agg(F.count(F.lit(1)).alias("gcnt"))
    tot = base.agg(F.count(F.lit(1)).alias("big_n"))
    dom = grp.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(tot))
    j = dom.join(gb, ["c_nationkey", "c_mktsegment", "sb"], "left").select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        "big_n",
        F.abs(
            F.coalesce(F.col("cnt"), F.lit(0)) * F.col("big_n")
            - F.col("gcnt") * F.col("n_g")
        ).alias("dev"),
    )
    return (
        j.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.first("n_g").alias("n"),
            F.expr(
                "sum(dev) * 1000000L div (2 * first(n_g) * first(big_n))"
            ).alias("tvd_ppm"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n",
            "tvd_ppm",
            (F.col("tvd_ppm") <= T_CLOSE_PPM).alias("t_close"),
        )
    )


AGG_T_CLOSENESS_SQL = f"""
WITH b AS (
  SELECT c_nationkey, c_mktsegment,
         FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               / 250000.0) AS sb
  FROM customer
),
gb AS (
  SELECT c_nationkey, c_mktsegment, sb, COUNT(*) AS cnt
  FROM b GROUP BY c_nationkey, c_mktsegment, sb
),
grp AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_g
  FROM b GROUP BY c_nationkey, c_mktsegment
),
gdist AS (SELECT sb, COUNT(*) AS gcnt FROM b GROUP BY sb),
tot AS (SELECT COUNT(*) AS big_n FROM b),
j AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, t.big_n,
         ABS(COALESCE(gb.cnt, 0) * t.big_n - gl.gcnt * g.n_g) AS dev
  FROM grp g CROSS JOIN gdist gl CROSS JOIN tot t
  LEFT JOIN gb ON gb.c_nationkey = g.c_nationkey
              AND gb.c_mktsegment = g.c_mktsegment AND gb.sb = gl.sb
)
SELECT c_nationkey, c_mktsegment,
       CAST(ANY_VALUE(n_g) AS BIGINT) AS n,
       CAST(CAST(SUM(dev) AS BIGINT) * 1000000
            // (2 * ANY_VALUE(n_g) * ANY_VALUE(big_n)) AS BIGINT) AS tvd_ppm,
       CAST(CAST(SUM(dev) AS BIGINT) * 1000000
            // (2 * ANY_VALUE(n_g) * ANY_VALUE(big_n)) AS BIGINT)
         <= {T_CLOSE_PPM} AS t_close
FROM j
GROUP BY c_nationkey, c_mktsegment
"""


# ---------------------------------------------------------------------------
# Numeric tolerance band join
# ---------------------------------------------------------------------------

BAND_EPS_CENTS = 1_000  # ±10.00 balance tolerance


def join_band_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric tolerance (band) join (§2.3 joins — the fuzzy numeric
    reconciliation shape): supplier × customer pairs whose account
    balances agree within ±{BAND_EPS_CENTS} cents. The naive form is a
    theta join (|a−b| ≤ ε → broadcast nested loop, corpus×corpus at
    scale); the scalable form buckets both sides at ε width and explodes
    the SMALLER side into its 3 adjacent buckets — candidates become an
    EQUI-join on bucket id (hash-partitioned, per-key bounded by local
    density) and one row-local |diff| verify. The same pattern serves
    timestamp-tolerance reconciliation and near-equal measurement joins.

    Exact integer cents end to end; pair output pins both keys."""
    s = Catalog(spark, sf_dir).table("supplier")
    c = Catalog(spark, sf_dir).table("customer")
    s_cents = (F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
    c_cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    sb = s.select(
        "s_suppkey",
        s_cents.alias("s_cents"),
        F.explode(
            F.array(
                *[
                    (F.floor(s_cents / BAND_EPS_CENTS) + d).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    cb = c.select(
        "c_custkey",
        c_cents.alias("c_cents"),
        F.floor(c_cents / BAND_EPS_CENTS).cast("long").alias("bucket"),
    )
    return (
        sb.join(cb, "bucket")
        .filter(F.abs(F.col("s_cents") - F.col("c_cents")) <= BAND_EPS_CENTS)
        .select(
            "s_suppkey",
            "c_custkey",
            "s_cents",
            "c_cents",
            F.abs(F.col("s_cents") - F.col("c_cents")).alias("diff_cents"),
        )
        .distinct()
    )


JOIN_BAND_NUMERIC_SQL = f"""
WITH s AS (
  SELECT s_suppkey,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_cents
  FROM supplier
),
c AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c_cents
  FROM customer
)
SELECT DISTINCT s_suppkey, c_custkey, s_cents, c_cents,
       ABS(s_cents - c_cents) AS diff_cents
FROM s JOIN c ON ABS(s_cents - c_cents) <= {BAND_EPS_CENTS}
"""


# ---------------------------------------------------------------------------
# Market concentration: Gini coefficient + Herfindahl index
# ---------------------------------------------------------------------------

def orders_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration metrics over customers (§2.3 aggregation —
    the inequality read-out behind "top-N% of customers drive M% of
    revenue"): the Gini coefficient from the sorted-cumulative closed
    form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n, and the Herfindahl–Hirschman
    index Σshareᵢ² (the antitrust concentration metric; 1/HHI is the
    "effective number of customers"). The same pair measures corpus
    domain concentration before training-mix decisions.

    Plan: one customer-keyed aggregate (exact cents); the rank index
    rides ONE window over the aggregated customer table; Σi·xᵢ and
    Σx·x are exact BIGINT sums in a single closing pass — the final
    doubles come from one pinned IEEE tree each. Ranks pin ties by
    customer key (any total order yields the same Gini for tied
    values)."""
    o = Catalog(spark, sf_dir).table("orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w).cast("long"))
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
        F.sum(
            (F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    sxx = F.col("sxx").cast("double")
    gini = (F.lit(2.0) * six) / (n * sx) - (n + F.lit(1.0)) / n
    hhi = sxx / (sx * sx)
    return sums.select(
        "n",
        F.col("sx").alias("total_cents"),
        _pin(gini).alias("gini"),
        _pin(hhi).alias("hhi"),
        _pin(F.lit(1.0) / hhi).alias("effective_customers"),
    )


ORDERS_MARKET_CONCENTRATION_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
  FROM rev
),
sums AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(cents) AS BIGINT) AS sx,
         CAST(SUM(i * cents) AS BIGINT) AS six,
         SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sxx
  FROM ranked
),
d AS (
  SELECT n, sx,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(six AS DOUBLE) AS sixd, CAST(sxx AS DOUBLE) AS sxxd
  FROM sums
)
SELECT n, sx AS total_cents,
       CAST(CAST((2.0 * sixd) / (nd * sxd) - (nd + 1.0) / nd
            AS DECIMAL(18,6)) AS DOUBLE) AS gini,
       CAST(CAST(sxxd / (sxd * sxd) AS DECIMAL(18,6)) AS DOUBLE) AS hhi,
       CAST(CAST(1.0 / (sxxd / (sxd * sxd)) AS DECIMAL(18,6)) AS DOUBLE)
         AS effective_customers
FROM d
"""


# ---------------------------------------------------------------------------
# Open-order aging report
# ---------------------------------------------------------------------------

AGING_EDGES_DAYS = (30, 60, 90)


def orders_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable-style aging report (§2.3 aggregation — the
    finance classic): OPEN orders bucketed by age at the corpus max
    date into 0-30/31-60/61-90/90+ day bands, with counts and exact
    open-value cents per (priority, band). The same shape ages unclosed
    tickets, stale documents, or unprocessed queue items.

    Plan: status filter pushes to the scan; age is a row-local datediff
    against the 1-row broadcast max date; ONE partial-aggregated shuffle
    over (priority × 4 bands)."""
    o = Catalog(spark, sf_dir).table("orders")
    maxd = o.agg(F.max("o_orderdate").alias("maxd"))
    aged = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(maxd))
        .withColumn("age_d", F.datediff(F.col("maxd"), F.col("o_orderdate")))
    )
    e1, e2, e3 = AGING_EDGES_DAYS
    band = (
        F.when(F.col("age_d") <= e1, "0-30")
        .when(F.col("age_d") <= e2, "31-60")
        .when(F.col("age_d") <= e3, "61-90")
        .otherwise("90+")
    )
    return (
        aged.groupBy(F.col("o_orderpriority").alias("priority"), band.alias("age_band"))
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
            ).alias("open_cents"),
        )
    )


ORDERS_AGING_REPORT_SQL = f"""
WITH maxd AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
aged AS (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, (SELECT maxd FROM maxd)) AS age_d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT o_orderpriority AS priority,
       CASE WHEN age_d <= {AGING_EDGES_DAYS[0]} THEN '0-30'
            WHEN age_d <= {AGING_EDGES_DAYS[1]} THEN '31-60'
            WHEN age_d <= {AGING_EDGES_DAYS[2]} THEN '61-90'
            ELSE '90+' END AS age_band,
       COUNT(*) AS n_open,
       CAST(SUM(cents) AS BIGINT) AS open_cents
FROM aged
GROUP BY 1, 2
"""


# ─── Mann-Whitney U (rank-sum A/B read-out) ────────────────────────────────


def events_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (§2.3 aggregation — the
    nonparametric sibling of events_ab_ttest): same sticky md5-mod-2 arm
    assignment, but the read-out compares purchase-value RANKS, immune
    to the heavy right tail that drags a Welch t around. The standard
    pairing on revenue metrics: t for the mean shift, U for the
    distribution shift.

    Exactness discipline: pooled ranks never materialize per row —
    grouping by distinct value gives tie counts, a cumulative window
    gives each value's rank block, and DOUBLED rank sums keep midranks
    integral: 2·R_a = Σ_v n_a(v)·(2·cum_before(v) + t(v) + 1), all
    BIGINT. 2·U, the tie term Σ(t³−t), and both arm sizes are exact
    integers; only the closing z statistic (one sqrt — correctly
    rounded, allowed) is a pinned double.

    Plan: ONE map-side-combining agg by value → a cumulative window over
    the distinct-value spine (range-partitioned sort at scale; distinct
    revenue points ≪ rows) → one scalar fold. The corpus is scanned
    once."""
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type") == "purchase"
    )
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    per_v = e.groupBy("value").agg(
        F.sum(F.when(arm == 0, 1).otherwise(0)).alias("na_v"),
        F.sum(F.when(arm != 0, 1).otherwise(0)).alias("nb_v"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn(
        "cum_before", F.coalesce(F.sum(F.col("na_v") + F.col("nb_v")).over(w), F.lit(0))
    ).withColumn("t", F.col("na_v") + F.col("nb_v"))
    sums = ranked.agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nb_v").alias("n_b"),
        F.sum(
            F.col("na_v") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("two_r_a"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    two_u_a = F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1)
    u_a = two_u_a.cast("double") / 2
    mu = na * nb / 2
    sigma = F.sqrt(
        na * nb / 12 * ((nn + 1) - F.col("tie_term").cast("double") / (nn * (nn - 1)))
    )
    return sums.select(
        "n_a",
        "n_b",
        two_u_a.alias("two_u_a"),
        (2 * F.col("n_a") * F.col("n_b") - two_u_a).alias("two_u_b"),
        F.col("tie_term").alias("tie_term"),
        _pin((u_a - mu) / sigma).alias("z"),
    )


EVENTS_MANNWHITNEY_SQL = """
WITH p AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         value
  FROM events WHERE event_type = 'purchase'
),
per_v AS (
  SELECT value,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na_v,
         CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb_v
  FROM p GROUP BY value
),
ranked AS (
  SELECT na_v, nb_v, na_v + nb_v AS t,
         CAST(COALESCE(SUM(na_v + nb_v) OVER (ORDER BY value
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM per_v
),
sums AS (
  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
         CAST(SUM(nb_v) AS BIGINT) AS n_b,
         CAST(SUM(na_v * (2 * cum_before + t + 1)) AS BIGINT) AS two_r_a,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
  FROM ranked
),
d AS (
  SELECT n_a, n_b, tie_term,
         two_r_a - n_a * (n_a + 1) AS two_u_a,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(tie_term AS DOUBLE) AS tied
  FROM sums
)
SELECT n_a, n_b, two_u_a,
       2 * n_a * n_b - two_u_a AS two_u_b,
       tie_term,
       CAST(CAST(
         (CAST(two_u_a AS DOUBLE) / 2 - nad * nbd / 2)
         / SQRT(nad * nbd / 12 *
                ((nad + nbd + 1) - tied / ((nad + nbd) * (nad + nbd - 1))))
       AS DECIMAL(18,6)) AS DOUBLE) AS z
FROM d
"""


# ─── Chi-square test of independence ───────────────────────────────────────

CHI2_CRITICAL_DOF8_MILLI = 15507  # χ²₀.₀₅ with dof = (5−1)(3−1) = 8, milli-units


def orders_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of o_orderpriority × o_orderstatus
    (§2.3 aggregation — the categorical-association probe): are order
    priorities distributed the same across statuses? The workhorse
    pre-check before slicing metrics by a categorical pair.

    The full r×c grid INCLUDING zero-observed cells enters the statistic
    (E > 0 contributes even when O = 0): the grid is the cross join of
    the two observed margins — both tiny and broadcast. O, row/col
    totals and N are exact integers from ONE corpus scan (the margins
    re-aggregate the cell counts, not the corpus); χ² = Σ(O−E)²/E is a
    fixed IEEE expression over integers, pinned. The reject flag
    compares INTEGER milli-units — floor(1000·χ²) vs the pinned χ²₍.05,8₎
    critical constant — so the boolean cannot flip on a last-ulp
    difference between engines."""
    o = Catalog(spark, sf_dir).table("orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("obs")
    )
    rows = cells.groupBy("o_orderpriority").agg(F.sum("obs").alias("row_n"))
    cols = cells.groupBy("o_orderstatus").agg(F.sum("obs").alias("col_n"))
    total = cells.agg(F.sum("obs").alias("n"))
    grid = (
        rows.crossJoin(F.broadcast(cols))
        .join(cells, ["o_orderpriority", "o_orderstatus"], "left")
        .withColumn("obs", F.coalesce(F.col("obs"), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    e_exp = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    dev = F.col("obs").cast("double") - e_exp
    # fold-order-pinned float sum (the collect_list/array_sort twin of the
    # oracle's list(x ORDER BY ...) — 15 cells, so driver-side size is nil)
    per_cell = grid.select(
        "o_orderpriority", "o_orderstatus", "n", (dev * dev / e_exp).alias("x")
    )
    chi2 = F.expr(
        "aggregate(array_sort(collect_list("
        "struct(o_orderpriority, o_orderstatus, x))), "
        "cast(0.0 as double), (acc, s) -> acc + s.x)"
    )
    out = per_cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("n_orders"),
        F.floor(chi2 * 1000).cast("bigint").alias("chi2_milli"),
    )
    ndist = (
        (F.countDistinct("o_orderpriority") - 1)
        * (F.countDistinct("o_orderstatus") - 1)
    )
    dof = o.agg(ndist.alias("dof"))
    return out.crossJoin(F.broadcast(dof)).select(
        "n_cells",
        "n_orders",
        F.col("dof").cast("int").alias("dof"),
        "chi2_milli",
        (F.col("chi2_milli") > CHI2_CRITICAL_DOF8_MILLI).alias(
            "reject_independence_05"
        ),
    )


ORDERS_CHI_SQUARE_SQL = f"""
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS obs
  FROM orders GROUP BY 1, 2
),
r AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
c AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
grid AS (
  SELECT r.o_orderpriority, c.o_orderstatus, r.row_n, c.col_n, t.n,
         CAST(COALESCE(cells.obs, 0) AS BIGINT) AS obs
  FROM r CROSS JOIN c CROSS JOIN t
  LEFT JOIN cells USING (o_orderpriority, o_orderstatus)
),
per_cell AS (
  SELECT o_orderpriority, o_orderstatus, n,
         (CAST(obs AS DOUBLE) -
            CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
         * (CAST(obs AS DOUBLE) -
            CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
         / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(n AS DOUBLE))
           AS x
  FROM grid
),
agg AS (
  SELECT COUNT(*) AS n_cells, MAX(n) AS n_orders,
         CAST(FLOOR(1000 * list_reduce(
           list_prepend(0.0::DOUBLE,
             list(x ORDER BY o_orderpriority, o_orderstatus)),
           (a, b) -> a + b)) AS BIGINT) AS chi2_milli
  FROM per_cell
),
dof AS (
  SELECT (COUNT(DISTINCT o_orderpriority) - 1)
         * (COUNT(DISTINCT o_orderstatus) - 1) AS dof
  FROM orders
)
SELECT n_cells, n_orders, CAST(dof AS INT) AS dof, chi2_milli,
       chi2_milli > {CHI2_CRITICAL_DOF8_MILLI} AS reject_independence_05
FROM agg CROSS JOIN dof
"""


def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types on ``value`` (§2.3
    aggregation as experiment read-out — the k-group generalization of
    ``events_ab_ttest``: does event type explain value variance?).

    Exactness: values quantize to integer cents; per-group S=Σk, Q=Σk²
    are DECIMAL-exact; the only float arithmetic is S_g²/n_g per group
    (one shared IEEE division from exact integers) and the k-term sum of
    those — pinned with the fold-order trick (aggregate over
    array_sort(collect_list(...)), the oracle's list(ORDER BY) twin).
    SSB/SSW then F are a fixed expression tree both engines share;
    f_milli floors ×1000 so the pinned value is integral.

    Plan: ONE keyed agg to k group-moment rows (map-side combine does
    the work), then a k-row driver-safe fold — nothing else touches the
    data. The archetype of 100 TB statistics: all mass in partial aggs.
    """
    e = Catalog(spark, sf_dir).table("events")
    cents = F.expr("CAST(FLOOR(value * 100) AS BIGINT)")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(cents.cast("decimal(28,0)")).alias("sg"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("qg"),
    )
    # t_g = S_g²/n_g in double from exact integers
    t = (
        F.col("sg").cast("double") * F.col("sg").cast("double")
        / F.col("ng").cast("double")
    )
    per_group = g.select("event_type", "ng", "sg", "qg", t.alias("t"))
    folded = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(event_type, t))), "
            "cast(0.0 as double), (acc, s) -> acc + s.t)"
        ).alias("sum_t"),
    )
    ssb = F.col("sum_t") - (
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    ssw = F.col("q").cast("double") - F.col("sum_t")
    fstat = (ssb / (F.col("k") - 1).cast("double")) / (
        ssw / (F.col("n") - F.col("k")).cast("double")
    )
    return folded.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_events"),
        F.floor(ssb / F.lit(10000.0)).cast("bigint").alias("ssb_units"),
        F.floor(ssw / F.lit(10000.0)).cast("bigint").alias("ssw_units"),
        F.floor(fstat * 1000).cast("bigint").alias("f_milli"),
    )


EVENTS_ANOVA_F_SQL = """
WITH g AS (
  SELECT event_type, COUNT(*) AS ng,
         SUM(CAST(CAST(FLOOR(value * 100) AS BIGINT) AS DECIMAL(28,0))) AS sg,
         SUM(CAST(CAST(FLOOR(value * 100) AS BIGINT)
                  * CAST(FLOOR(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS qg
  FROM events GROUP BY event_type
),
per AS (
  SELECT event_type, ng, sg, qg,
         CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS t
  FROM g
),
folded AS (
  SELECT CAST(COUNT(*) AS INT) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(sg) AS DECIMAL(38,0)) AS s,
         CAST(SUM(qg) AS DECIMAL(38,0)) AS q,
         list_reduce(list(t ORDER BY event_type),
                     (acc, x) -> acc + x) AS sum_t
  FROM per
)
SELECT k AS k_groups, n AS n_events,
       CAST(FLOOR((sum_t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS BIGINT)
         AS ssb_units,
       CAST(FLOOR((CAST(q AS DOUBLE) - sum_t) / CAST(10000 AS DOUBLE)) AS BIGINT)
         AS ssw_units,
       CAST(FLOOR(((sum_t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                  / ((CAST(q AS DOUBLE) - sum_t) / CAST(n - k AS DOUBLE))
                  * CAST(1000 AS DOUBLE)) AS BIGINT) AS f_milli
FROM folded
"""


# ---------------------------------------------------------------------------
# Deterministic multiplier bootstrap (A/B-grade uncertainty at scale)
# ---------------------------------------------------------------------------

BOOT_REPLICATES = 64
BOOT_LO_RANK = 4    # ceil(0.05 · 64) → 5th-percentile order statistic
BOOT_HI_RANK = 61   # ceil(0.95 · 64) → 95th-percentile order statistic


def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean purchase value (§2.3
    aggregation — the uncertainty companion to events_ab_ttest, for
    statistics with no closed-form variance): {BOOT_REPLICATES}
    multiplier-bootstrap replicates, each re-weighting every purchase by
    a deterministic hash-derived integer w ∈ {{0, 1, 2}} with
    P = (¼, ½, ¼) — mean 1, so each replicate is an unbiased resample —
    then the 5th/95th percentile order statistics of the replicate means
    bracket the point estimate. Hash-derived weights replace RNG state:
    the interval is reproducible across engines, retries, and partition
    layouts, which rand()-seeded bootstraps are not.

    Plan: ONE scan; explode(sequence(0, B-1)) fans each purchase to its
    B (replicate, weight) contributions MAP-SIDE into a partial agg
    keyed by replicate — B rows per partition cross the wire, the
    classic distributed-bootstrap plan (each executor owns complete
    partial sums, never resampled row copies). The replicate means are
    B-row arithmetic; percentile picks are ROW_NUMBER on B rows.
    Exactness: weighted sums accumulate in DECIMAL (weights and cents
    integers), each mean is one IEEE division of exact values, and the
    order-statistic pick totals on (mean, replicate id).
    """
    e = (
        Catalog(spark, sf_dir)
        .table("events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").cast("string").alias("eid"),
                F.col("value").cast("decimal(18,2)").alias("x"))
    )
    rep = e.select(
        "eid", "x", F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPLICATES - 1))).alias("b")
    )
    h4 = (
        F.conv(F.substring(F.md5(F.concat_ws(":", F.col("eid"), F.col("b").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 4
    )
    w = F.when(h4 == 0, 0).when(h4 == 3, 2).otherwise(1).cast("long")
    means = (
        rep.select("b", "x", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("x") * F.col("w").cast("decimal(18,0)")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "b",
            (F.col("swx").cast("double") / F.col("sw").cast("double")).alias("m"),
        )
    )
    rn = F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("m", "b"))
    picks = means.withColumn("rn", rn).agg(
        F.max(F.when(F.col("rn") == BOOT_LO_RANK, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == BOOT_HI_RANK, F.col("m"))).alias("ci_hi"),
    )
    point = e.agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mean_value"),
    )
    return point.crossJoin(picks).select(
        "n_purchases",
        F.lit(BOOT_REPLICATES).cast("int").alias("replicates"),
        _pin(F.col("mean_value")).alias("mean_value"),
        _pin(F.col("ci_lo")).alias("ci_lo"),
        _pin(F.col("ci_hi")).alias("ci_hi"),
    )


EVENTS_BOOTSTRAP_CI_SQL = f"""
WITH e AS (
  SELECT CAST(event_id AS VARCHAR) AS eid, CAST(value AS DECIMAL(18,2)) AS x
  FROM events WHERE event_type = 'purchase'
),
rep AS (
  SELECT eid, x, b,
         ('0x' || substr(md5(eid || ':' || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 4 AS h4
  FROM e, (SELECT UNNEST(generate_series(0, {BOOT_REPLICATES - 1})) AS b)
),
means AS (
  SELECT b,
         CAST(SUM(x * CAST(CASE WHEN h4 = 0 THEN 0 WHEN h4 = 3 THEN 2 ELSE 1 END
                           AS DECIMAL(18,0))) AS DOUBLE)
         / CAST(SUM(CASE WHEN h4 = 0 THEN 0 WHEN h4 = 3 THEN 2 ELSE 1 END) AS DOUBLE) AS m
  FROM rep GROUP BY b
),
ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM means),
picks AS (
  SELECT MAX(CASE WHEN rn = {BOOT_LO_RANK} THEN m END) AS ci_lo,
         MAX(CASE WHEN rn = {BOOT_HI_RANK} THEN m END) AS ci_hi
  FROM ranked
),
point AS (
  SELECT COUNT(*) AS n_purchases,
         CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mean_value
  FROM e
)
SELECT n_purchases, CAST({BOOT_REPLICATES} AS INT) AS replicates,
       CAST(CAST(mean_value AS DECIMAL(18,6)) AS DOUBLE) AS mean_value,
       CAST(CAST(ci_lo AS DECIMAL(18,6)) AS DOUBLE) AS ci_lo,
       CAST(CAST(ci_hi AS DECIMAL(18,6)) AS DOUBLE) AS ci_hi
FROM point, picks
"""


# ---------------------------------------------------------------------------
# Weighted median (lower) from integer cumulative weights
# ---------------------------------------------------------------------------

def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (§2.3 aggregation —
    the weighted-percentile member of the quantile family; plain
    percentile_disc treats a 1-unit and a 50-unit line the same, which
    inventory-value questions must not). Lower weighted median: the
    smallest price whose cumulative quantity reaches half the total —
    a deterministic order statistic, NOT an interpolation.

    Exactness: weights ride as integer centi-units and the crossing test
    is the cross-multiplied 2·cum ≥ total compare — no division, no
    floats until the final value cast. Plan: pre-aggregate per distinct
    (flag, price) FIRST (one partial-agg shuffle, collapsing duplicate
    prices), then the cumulative window runs over |distinct prices| rows
    per flag, not |lineitem| — the same collapse a 100 TB run needs to
    keep window state bounded.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    per_price = (
        li.select(
            "l_returnflag",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("x"),
            (F.col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("w"),
        )
        .groupBy("l_returnflag", "x")
        .agg(F.sum("w").alias("wx"))
    )
    wcum = Window.partitionBy("l_returnflag").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("l_returnflag")
    cum = per_price.select(
        "l_returnflag",
        "x",
        F.sum("wx").over(wcum).alias("cum"),
        F.sum("wx").over(wall).alias("total"),
    )
    return (
        cum.filter(F.col("cum") * 2 >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("x").cast("double").alias("weighted_median"),
            F.max("total").alias("total_centi_qty"),
        )
        .orderBy("l_returnflag")
    )


AGG_WEIGHTED_MEDIAN_SQL = """
WITH per_price AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS wx
  FROM lineitem
  GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, x,
         SUM(wx) OVER (PARTITION BY l_returnflag ORDER BY x
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wx) OVER (PARTITION BY l_returnflag) AS total
  FROM per_price
)
SELECT l_returnflag,
       CAST(MIN(x) AS DOUBLE) AS weighted_median,
       CAST(MAX(total) AS BIGINT) AS total_centi_qty
FROM cum
WHERE cum * 2 >= total
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Interpolated percentile (PERCENTILE_CONT) from exact order statistics
# ---------------------------------------------------------------------------

PCTL_NUM, PCTL_DEN = 9, 10  # p = 0.9


def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT(0.9) of o_totalprice per order status — the
    INTERPOLATED member of the quantile family (percentile_disc picks an
    existing row; _cont blends the two bracketing order statistics,
    which is what latency SLOs and price bands usually specify).

    Exactness discipline: the bracketing positions are pure integer
    arithmetic — k = ((n−1)·{PCTL_NUM}) div {PCTL_DEN} (0-based) with
    remainder r — and the two order statistics are exact decimals picked
    by rank; the single interpolation
    lo + (hi − lo) · r/{PCTL_DEN} is one fixed IEEE expression over
    exact values, identical on both engines. Plan: one rank window per
    status partition + a conditional 2-row aggregate — no sort of the
    output, no approximation.
    """
    o = Catalog(spark, sf_dir).table("orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    w = Window.partitionBy("o_orderstatus").orderBy("x")
    ranked = (
        o.select("o_orderstatus", x.alias("x"))
        .withColumn("rk", F.row_number().over(w))  # 1-based
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("o_orderstatus")))
    )
    k = F.expr(f"(n - 1) * {PCTL_NUM} div {PCTL_DEN}")  # 0-based lower index
    r = F.expr(f"(n - 1) * {PCTL_NUM} % {PCTL_DEN}")
    picked = ranked.select(
        "o_orderstatus",
        "n",
        F.when(F.col("rk") == k + 1, F.col("x")).alias("lo"),
        F.when(F.col("rk") == F.least(k + 2, F.col("n")), F.col("x")).alias("hi"),
        r.alias("rem"),
    )
    agg = picked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n"),
        F.max("lo").cast("double").alias("lo"),
        F.max("hi").cast("double").alias("hi"),
        F.max("rem").alias("rem"),
    )
    p90 = F.col("lo") + (F.col("hi") - F.col("lo")) * F.col("rem") / F.lit(
        float(PCTL_DEN)
    )
    return agg.select(
        "o_orderstatus",
        F.col("n").cast("bigint").alias("n"),
        _pin(p90).alias("p90_cont"),
        F.col("lo").alias("lo_stat"),
        F.col("hi").alias("hi_stat"),
    ).orderBy("o_orderstatus")


AGG_PERCENTILE_CONT_SQL = f"""
WITH ranked AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS x,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY x) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
),
picked AS (
  SELECT o_orderstatus, n,
         CASE WHEN rk = (n - 1) * {PCTL_NUM} // {PCTL_DEN} + 1 THEN x END AS lo,
         CASE WHEN rk = LEAST((n - 1) * {PCTL_NUM} // {PCTL_DEN} + 2, n) THEN x END AS hi,
         (n - 1) * {PCTL_NUM} % {PCTL_DEN} AS rem
  FROM ranked
),
agg AS (
  SELECT o_orderstatus, MAX(n) AS n,
         CAST(MAX(lo) AS DOUBLE) AS lo, CAST(MAX(hi) AS DOUBLE) AS hi,
         MAX(rem) AS rem
  FROM picked GROUP BY o_orderstatus
)
SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
       CAST(CAST(lo + (hi - lo) * rem / CAST({PCTL_DEN} AS DOUBLE) AS DECIMAL(18,6))
            AS DOUBLE) AS p90_cont,
       lo AS lo_stat, hi AS hi_stat
FROM agg ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# AR(1) fit per event type (time-series autoregression)
# ---------------------------------------------------------------------------

def events_ar1_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order autoregression fit per event type (§2.3 time-series):
    regress the hourly event count on the previous CONSECUTIVE hour's
    count — slope φ is the persistence coefficient (φ→1 = trending/
    self-exciting, φ→0 = memoryless), the one-parameter forecast model
    and the basis of Holt/ARIMA diagnostics. events_autocorrelation
    reports the lag correlations; this fits the regression line those
    correlations imply, with intercept and R².

    Exactness: counts are integers, so ALL five moment sums are exact
    BIGINT arithmetic — no decimal casts needed — and the slope/
    intercept/R² expressions are one shared IEEE tree over exact values
    (the agg_regression discipline on the time-series grain). Hour
    pairs with a gap between them are EXCLUDED (lag-1 regression on
    non-consecutive samples is not AR(1)); the consecutiveness test is
    an integer epoch-hour difference. Plan: one fact-stream pre-agg,
    then windows and sums on the hourly grain.
    """
    e = Catalog(spark, sf_dir).table("events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    pairs = (
        hourly.withColumn("prev_n", F.lag("n").over(w))
        .withColumn("prev_ts", F.lag("hour_ts").over(w))
        .filter(
            F.col("prev_n").isNotNull()
            & (
                F.unix_micros("hour_ts") - F.unix_micros("prev_ts")
                == 3_600_000_000
            )
        )
        .select("event_type", F.col("prev_n").alias("x"), F.col("n").alias("y"))
    )
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = sxy - (sx * sy) / n
    varx_n = sxx - (sx * sx) / n
    vary_n = syy - (sy * sy) / n
    phi = cov_n / varx_n
    return sums.select(
        "event_type",
        "n_pairs",
        _pin(phi).alias("phi"),
        _pin((sy - phi * sx) / n).alias("intercept"),
        _pin((cov_n * cov_n) / (varx_n * vary_n)).alias("r2"),
    ).orderBy("event_type")


EVENTS_AR1_FIT_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT event_type, x, y FROM (
    SELECT event_type, hour_ts, n AS y,
           LAG(n) OVER (PARTITION BY event_type ORDER BY hour_ts) AS x,
           LAG(hour_ts) OVER (PARTITION BY event_type ORDER BY hour_ts) AS prev_ts
    FROM hourly)
  WHERE x IS NOT NULL AND epoch_us(hour_ts) - epoch_us(prev_ts) = 3600000000
),
sums AS (
  SELECT event_type, COUNT(*) AS n_pairs,
         SUM(x) AS sx, SUM(x * x) AS sxx,
         SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY event_type
),
d AS (
  SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
         CAST(n_pairs AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
         CAST(sxx AS DOUBLE) AS sxx, CAST(sy AS DOUBLE) AS sy,
         CAST(syy AS DOUBLE) AS syy, CAST(sxy AS DOUBLE) AS sxy
  FROM sums
)
SELECT event_type, n_pairs,
       CAST(CAST((sxy - sx * sy / n) / (sxx - sx * sx / n) AS DECIMAL(18,6)) AS DOUBLE) AS phi,
       CAST(CAST((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
            AS DECIMAL(18,6)) AS DOUBLE) AS intercept,
       CAST(CAST((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n))
            AS DECIMAL(18,6)) AS DOUBLE) AS r2
FROM d ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Full pairwise correlation matrix in one pass
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX of lineitem's four numeric
    columns (§2.3 stats — the feature-screening step before any
    modeling: which raw signals are redundant). agg_stats_moments pins
    one pair; this computes all C(4,2)=6 in ONE scan — 4 sums, 4
    squared sums, 6 cross sums, all exact decimals, then each corr is
    the shared IEEE expression over exact values. The naive per-pair
    loop is 6 scans; at 100 TB one-pass moment collection is the
    difference between a screening query and six.

    Output is the upper triangle as rows (col_a < col_b) — the tidy
    form downstream tooling joins against.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    d = {c: F.col(c).cast("decimal(18,2)") for c in _CORR_COLS}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(d[c]).alias(f"s_{c}"))
        aggs.append(F.sum((d[c] * d[c]).cast("decimal(38,4)")).alias(f"ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum((d[a] * d[b]).cast("decimal(38,4)")).alias(f"sx_{a}_{b}"))
    sums = li.agg(*aggs)
    n = F.col("n").cast("double")

    def corr(a: str, b: str) -> Column:
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        qa = F.col(f"ss_{a}").cast("double")
        qb = F.col(f"ss_{b}").cast("double")
        sab = F.col(f"sx_{a}_{b}").cast("double")
        cov = sab - sa * sb / n
        return cov / F.sqrt((qa - sa * sa / n) * (qb - sb * sb / n))

    rows = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            _pin(corr(a, b)).alias("pearson_r"),
        )
        for a, b in pairs
    ]
    return (
        sums.select(F.explode(F.array(*rows)).alias("r"), "n")
        .select("r.col_a", "r.col_b", "r.pearson_r", F.col("n").alias("n_rows"))
        .orderBy("col_a", "col_b")
    )


def _corr_matrix_sql() -> str:
    cols = _CORR_COLS
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    sums = ["COUNT(*) AS n"]
    for c in cols:
        sums.append(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{c}")
        sums.append(
            f"SUM(CAST(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_{c}"
        )
    for a, b in pairs:
        sums.append(
            f"SUM(CAST(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sx_{a}_{b}"
        )
    branches = []
    for a, b in pairs:
        e = (
            f"(CAST(sx_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / CAST(n AS DOUBLE))"
            f" / sqrt((CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) / CAST(n AS DOUBLE))"
            f" * (CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / CAST(n AS DOUBLE)))"
        )
        branches.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
            f" CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE) AS pearson_r,"
            f" CAST(n AS BIGINT) AS n_rows FROM sums"
        )
    return (
        "WITH sums AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(branches)
        + "\nORDER BY col_a, col_b"
    )


AGG_CORR_MATRIX_SQL = _corr_matrix_sql()


# ---------------------------------------------------------------------------
# Repeat-purchase interval (inter-order gap median per segment)
# ---------------------------------------------------------------------------

def orders_repeat_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median days between a customer's consecutive orders, per market
    segment (§2.3 — the repeat-purchase cadence metric behind
    replenishment forecasting and churn alarms; the per-customer twin of
    events_retention's cohort view).

    Exactness: gaps are integer days — epoch-µs difference floor-divided
    on BOTH engines (positive values, so div/// agree) — and the segment
    median is the LOWER-median order statistic over the integer gaps,
    picked by rank. Plan: one customer-keyed window (lag) on the orders
    grain, a broadcast-sized customer→segment join, then the median
    rank windows run per segment over |gaps| rows.
    """
    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev_dt", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_dt").isNotNull())
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr(
                "(unix_micros(o_orderdate) - unix_micros(prev_dt)) div 86400000000"
            ).alias("gap_days"),
        )
        .join(c, F.col("o_custkey") == c.c_custkey)
    )
    w_rk = Window.partitionBy("c_mktsegment").orderBy("gap_days", "o_orderkey")
    w_all = Window.partitionBy("c_mktsegment")
    return (
        gaps.withColumn("rk", F.row_number().over(w_rk))
        .withColumn("cnt", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rk = (cnt + 1) div 2"))
        .select(
            "c_mktsegment",
            F.col("gap_days").alias("median_gap_days"),
            F.col("cnt").alias("n_gaps"),
        )
        .orderBy("c_mktsegment")
    )


ORDERS_REPEAT_PURCHASE_INTERVAL_SQL = """
WITH gaps AS (
  SELECT o_custkey, o_orderkey,
         (epoch_us(o_orderdate) - epoch_us(prev_dt)) // 86400000000 AS gap_days
  FROM (
    SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS prev_dt
    FROM orders)
  WHERE prev_dt IS NOT NULL
),
seg AS (
  SELECT g.*, c.c_mktsegment
  FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
),
ranked AS (
  SELECT c_mktsegment, gap_days, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY gap_days, o_orderkey) AS rk,
         COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
  FROM seg
)
SELECT c_mktsegment, gap_days AS median_gap_days, cnt AS n_gaps
FROM ranked
WHERE rk = (cnt + 1) // 2
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# ABC class migration between two periods
# ---------------------------------------------------------------------------

ABC_PERIOD_SPLIT = "1998-01-01"  # period 1 before, period 2 from here


def parts_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC class MIGRATION matrix (§2.3 — the period-over-period follow-up
    to parts_pareto_abc every inventory review runs: which parts moved
    between A/B/C classes, and how much revenue moved with them).
    Classes are computed independently per period with the identical
    prev-cumulative-share rule, FULL-joined on part (a part absent from
    a period classifies as '-'), then rolled up to the 4×4 transition
    matrix with revenue deltas.

    Exactness: the per-period classifier is the pareto_abc integer-ppm
    pipeline verbatim; the migration rollup is counts and cent sums.
    Plan: two part-keyed aggs (one per period — a single scan splits via
    conditional aggregation), two dimension-sized rank windows, one
    part-keyed full join, one 16-row rollup.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    split = F.to_timestamp(F.lit(ABC_PERIOD_SPLIT))
    cents = F.col("l_extendedprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    rev = li.groupBy("l_partkey").agg(
        (F.sum(F.when(F.col("l_shipdate") < split, cents).otherwise(zero)) * 100)
        .cast("long")
        .alias("rev1"),
        (F.sum(F.when(F.col("l_shipdate") >= split, cents).otherwise(zero)) * 100)
        .cast("long")
        .alias("rev2"),
    )

    def classify(col: str) -> DataFrame:
        period = rev.filter(F.col(col) > 0).select("l_partkey", F.col(col).alias("rc"))
        total = period.agg(F.sum("rc").alias("tot"))
        w = Window.orderBy(F.desc("rc"), F.asc("l_partkey"))
        w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked = (
            period.crossJoin(F.broadcast(total))
            .withColumn("cum", F.sum("rc").over(w_cum))
            .withColumn("prev_ppm", F.expr("(cum - rc) * 1000000 div greatest(tot, 1)"))
        )
        cls = (
            F.when(F.col("prev_ppm") < 800000, "A")
            .when(F.col("prev_ppm") < 950000, "B")
            .otherwise("C")
        )
        return ranked.select("l_partkey", cls.alias(f"cls_{col}"), F.col("rc").alias(f"c_{col}"))

    p1 = classify("rev1")
    p2 = classify("rev2")
    joined = p1.join(p2, "l_partkey", "full").select(
        F.coalesce("cls_rev1", F.lit("-")).alias("class_p1"),
        F.coalesce("cls_rev2", F.lit("-")).alias("class_p2"),
        F.coalesce("c_rev1", F.lit(0)).alias("c1"),
        F.coalesce("c_rev2", F.lit(0)).alias("c2"),
    )
    return (
        joined.groupBy("class_p1", "class_p2")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("c1").alias("rev_p1_cents"),
            F.sum("c2").alias("rev_p2_cents"),
        )
        .orderBy("class_p1", "class_p2")
    )


ABC_MIGRATION_SQL = f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '{ABC_PERIOD_SPLIT} 00:00:00'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS rev1,
         CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '{ABC_PERIOD_SPLIT} 00:00:00'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS rev2
  FROM lineitem GROUP BY l_partkey
),
p1 AS (
  SELECT l_partkey,
         CASE WHEN prev_ppm < 800000 THEN 'A'
              WHEN prev_ppm < 950000 THEN 'B' ELSE 'C' END AS cls,
         rc
  FROM (
    SELECT l_partkey, rc,
           (SUM(rc) OVER (ORDER BY rc DESC, l_partkey ASC ROWS UNBOUNDED PRECEDING) - rc)
             * 1000000 // GREATEST(SUM(rc) OVER (), 1) AS prev_ppm
    FROM (SELECT l_partkey, rev1 AS rc FROM rev WHERE rev1 > 0))
),
p2 AS (
  SELECT l_partkey,
         CASE WHEN prev_ppm < 800000 THEN 'A'
              WHEN prev_ppm < 950000 THEN 'B' ELSE 'C' END AS cls,
         rc
  FROM (
    SELECT l_partkey, rc,
           (SUM(rc) OVER (ORDER BY rc DESC, l_partkey ASC ROWS UNBOUNDED PRECEDING) - rc)
             * 1000000 // GREATEST(SUM(rc) OVER (), 1) AS prev_ppm
    FROM (SELECT l_partkey, rev2 AS rc FROM rev WHERE rev2 > 0))
)
SELECT COALESCE(p1.cls, '-') AS class_p1,
       COALESCE(p2.cls, '-') AS class_p2,
       COUNT(*) AS n_parts,
       CAST(SUM(COALESCE(p1.rc, 0)) AS BIGINT) AS rev_p1_cents,
       CAST(SUM(COALESCE(p2.rc, 0)) AS BIGINT) AS rev_p2_cents
FROM p1 FULL JOIN p2 USING (l_partkey)
GROUP BY 1, 2
ORDER BY class_p1, class_p2
"""


# ---------------------------------------------------------------------------
# Additive Holt-Winters (level + trend + weekly seasonality)
# ---------------------------------------------------------------------------

HW_PERIOD = 7  # weekly seasonality over the daily order series
# exact binary fractions: every smoothing multiply is an exact IEEE op
HW_ALPHA = 0.5
HW_BETA = 0.25
HW_GAMMA = 0.25


def orders_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters over the daily order-count series (§2.3
    time series — the seasonal member of the exponential-smoothing
    family; orders_holt_linear holds level+trend, this adds the
    {HW_PERIOD}-slot seasonal state): l, b, s[t mod {HW_PERIOD}] update
    per day with α={HW_ALPHA}, β={HW_BETA}, γ={HW_GAMMA}. Output is the
    fitted end state — level, trend, and the seasonal profile — the
    inputs of the h-step forecast l + h·b + s[(t+h) mod {HW_PERIOD}].

    Exactness: a stateful float recurrence is order-defined, so BOTH
    engines replay the identical sequential fold — Spark as an
    ``aggregate()`` over the array_sort'd daily series (the float-fold
    pinning invariant), DuckDB as a recursive CTE (the
    struct-accumulator ``list_reduce`` is NOT reliable — ROADMAP
    invariant, found by orders_holt_linear). The smoothing constants
    are exact binary fractions, so each step is the same finite set of
    exactly-representable IEEE ops on both sides. Plan: one day-grain
    pre-agg, then the fold runs over the ~|days| array in a single
    task — the series is dimension-sized, which is the only regime a
    sequential recurrence can run in anyway.
    """
    o = Catalog(spark, sf_dir).table("orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    packed = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("sd")
    ).select(F.expr("transform(sd, x -> cast(x.y as double))").alias("ys"))
    p = HW_PERIOD
    fold = F.expr(
        f"""
        aggregate(
          sequence({p}, size(ys) - 1),
          named_struct(
            'l', aggregate(slice(ys, 1, {p}), cast(0.0 as double), (a, x) -> a + x) / {p},
            'b', cast(0.0 as double),
            'ses', transform(slice(ys, 1, {p}),
                     x -> x - aggregate(slice(ys, 1, {p}), cast(0.0 as double), (a, v) -> a + v) / {p})
          ),
          (acc, t) -> named_struct(
            'l', {HW_ALPHA} * (ys[t] - acc.ses[t % {p}]) + {1 - HW_ALPHA} * (acc.l + acc.b),
            'b', {HW_BETA} * (({HW_ALPHA} * (ys[t] - acc.ses[t % {p}]) + {1 - HW_ALPHA} * (acc.l + acc.b)) - acc.l)
                 + {1 - HW_BETA} * acc.b,
            'ses', concat(
              slice(acc.ses, 1, t % {p}),
              array({HW_GAMMA} * (ys[t] - ({HW_ALPHA} * (ys[t] - acc.ses[t % {p}]) + {1 - HW_ALPHA} * (acc.l + acc.b)))
                    + {1 - HW_GAMMA} * acc.ses[t % {p}]),
              slice(acc.ses, t % {p} + 2, {p} - t % {p} - 1))
          )
        )
        """
    )
    state = packed.select(fold.alias("st"), F.size("ys").cast("bigint").alias("n_days"))
    rows = [
        F.struct(F.lit("level").alias("component"), F.lit(0).alias("idx"),
                 _pin(F.col("st.l")).alias("value")),
        F.struct(F.lit("trend").alias("component"), F.lit(0).alias("idx"),
                 _pin(F.col("st.b")).alias("value")),
    ] + [
        F.struct(F.lit("seasonal").alias("component"), F.lit(i).alias("idx"),
                 _pin(F.col("st.ses")[i]).alias("value"))
        for i in range(HW_PERIOD)
    ]
    return (
        state.select(F.explode(F.array(*rows)).alias("r"), "n_days")
        .select("r.component", "r.idx", "r.value", "n_days")
        .orderBy("component", "idx")
    )


ORDERS_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT date_trunc('day', o_orderdate) AS d, CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders GROUP BY 1
),
idx AS (
  SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily
),
nn AS (SELECT COUNT(*) AS n FROM idx),
l0 AS (
  SELECT SUM(y) / {HW_PERIOD} AS l0 FROM idx WHERE i <= {HW_PERIOD}
),
init AS (
  SELECT CAST({HW_PERIOD} AS BIGINT) AS t, l0.l0 AS l, CAST(0.0 AS DOUBLE) AS b,
         (SELECT list(y - l0.l0 ORDER BY i) FROM idx WHERE i <= {HW_PERIOD}) AS ses
  FROM l0
),
step(t, l, b, ses) AS (
  SELECT t, l, b, ses FROM init
  UNION ALL
  SELECT s.t + 1,
         {HW_ALPHA} * (d.y - s.ses[(s.t % {HW_PERIOD}) + 1]) + {1 - HW_ALPHA} * (s.l + s.b),
         {HW_BETA} * (({HW_ALPHA} * (d.y - s.ses[(s.t % {HW_PERIOD}) + 1]) + {1 - HW_ALPHA} * (s.l + s.b)) - s.l)
           + {1 - HW_BETA} * s.b,
         s.ses[1:(s.t % {HW_PERIOD})]
           || [{HW_GAMMA} * (d.y - ({HW_ALPHA} * (d.y - s.ses[(s.t % {HW_PERIOD}) + 1]) + {1 - HW_ALPHA} * (s.l + s.b)))
               + {1 - HW_GAMMA} * s.ses[(s.t % {HW_PERIOD}) + 1]]
           || s.ses[(s.t % {HW_PERIOD}) + 2 : {HW_PERIOD}]
  FROM step s
  JOIN idx d ON d.i = s.t + 1
  JOIN nn ON s.t < nn.n
),
final AS (SELECT * FROM step, nn WHERE t = nn.n),
rows AS (
  SELECT 'level' AS component, 0 AS idx,
         CAST(CAST(l AS DECIMAL(18,6)) AS DOUBLE) AS value, n AS n_days FROM final
  UNION ALL
  SELECT 'trend', 0, CAST(CAST(b AS DECIMAL(18,6)) AS DOUBLE), n FROM final
  UNION ALL
  SELECT 'seasonal', g.g,
         CAST(CAST(f.ses[g.g + 1] AS DECIMAL(18,6)) AS DOUBLE), f.n
  FROM final f, (SELECT UNNEST(generate_series(0, {HW_PERIOD - 1})) AS g) g
)
SELECT component, CAST(idx AS INT) AS idx, value, CAST(n_days AS BIGINT) AS n_days
FROM rows ORDER BY component, idx
"""


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecasting
# ---------------------------------------------------------------------------

CROSTON_PART_MOD = 199  # sparse part subset: l_partkey % 199 == 0


def parts_croston_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) for intermittent demand — the forecasting
    family member Holt/Holt-Winters cannot serve: a slow-moving part
    sells on a few scattered days, so smoothing the raw series just
    decays toward zero between demands. Croston smooths TWO series per
    part — nonzero demand sizes z_j and inter-demand intervals q_j
    (days) — with α=1/2 and forecasts demand-per-day as s/i.

    Recurrence (inherently sequential per part — the holt_linear escape
    hatch): s_j = αz_j + (1−α)s, i_j = αq_j + (1−α)i, init s = z₁,
    i = q₂, updates j = 3..n; parts need ≥ 3 demand days. Demand is
    pre-aggregated per (part, day), so the fold order (day ascending)
    is unique — no tie ambiguity can flip the hash. α=1/2 is an exact
    half; the fold inlines the identical IEEE tree on both engines
    (oracle replays it with a per-part recursive CTE, MATERIALIZED per
    the DuckDB-inlining invariant).

    Plan: one (part, day)-keyed partial agg, one part-keyed collect of
    that part's ≤ |demand-days| rows, then a row-local fold — the
    classic scale shape: parts are the parallel unit, no global state.

    Reference scope: forecasting generalizes the reference's SQL-layer
    analytics surface (fetch.go:222).
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    daily = (
        li.filter((F.col("l_partkey") % CROSTON_PART_MOD) == 0)
        .groupBy(
            "l_partkey",
            F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")).alias("d"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("z"))
    )
    series = daily.groupBy("l_partkey").agg(
        F.array_sort(F.collect_list(F.struct("d", "z"))).alias("arr")
    )
    fold = """
      aggregate(
        sequence(3, size(arr)),
        named_struct('s', CAST(element_at(arr, 1).z AS DOUBLE),
                     'i', CAST(element_at(arr, 2).d - element_at(arr, 1).d AS DOUBLE)),
        (acc, j) -> named_struct(
          's', 0.5D * CAST(element_at(arr, j).z AS DOUBLE) + 0.5D * acc.s,
          'i', 0.5D * CAST(element_at(arr, j).d - element_at(arr, j - 1).d AS DOUBLE)
               + 0.5D * acc.i))
    """
    return (
        series.filter(F.expr("size(arr) >= 3"))
        .select(
            "l_partkey",
            F.expr("size(arr)").cast("int").alias("n_demand_days"),
            F.expr(f"({fold}).s").alias("raw_s"),
            F.expr(f"({fold}).i").alias("raw_i"),
        )
        .select(
            "l_partkey",
            "n_demand_days",
            _pin(F.col("raw_s")).alias("size_level"),
            _pin(F.col("raw_i")).alias("interval_level"),
            _pin(F.col("raw_s") / F.col("raw_i")).alias("demand_per_day"),
        )
    )


PARTS_CROSTON_DEMAND_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT l_partkey, date_diff('day', DATE '1970-01-01', l_shipdate) AS d,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
  FROM lineitem
  WHERE l_partkey % {CROSTON_PART_MOD} = 0
  GROUP BY l_partkey, date_diff('day', DATE '1970-01-01', l_shipdate)
),
series AS MATERIALIZED (
  SELECT l_partkey, list(d ORDER BY d) AS ds, list(z ORDER BY d) AS zs
  FROM daily GROUP BY l_partkey HAVING COUNT(*) >= 3
),
step(l_partkey, j, s, i) AS (
  SELECT l_partkey, 2,
         CAST(zs[1] AS DOUBLE),
         CAST(ds[2] - ds[1] AS DOUBLE)
  FROM series
  UNION ALL
  SELECT st.l_partkey, st.j + 1,
         0.5 * CAST(se.zs[st.j + 1] AS DOUBLE) + 0.5 * st.s,
         0.5 * CAST(se.ds[st.j + 1] - se.ds[st.j] AS DOUBLE) + 0.5 * st.i
  FROM step st JOIN series se USING (l_partkey)
  WHERE st.j < LEN(se.ds)
),
final AS (
  SELECT st.l_partkey, st.s, st.i, CAST(LEN(se.ds) AS INT) AS n_demand_days
  FROM step st
  JOIN series se ON se.l_partkey = st.l_partkey AND st.j = LEN(se.ds)
)
SELECT l_partkey, n_demand_days,
       CAST(CAST(s AS DECIMAL(18,6)) AS DOUBLE) AS size_level,
       CAST(CAST(i AS DECIMAL(18,6)) AS DOUBLE) AS interval_level,
       CAST(CAST(s / i AS DECIMAL(18,6)) AS DOUBLE) AS demand_per_day
FROM final
"""


XYZ_X_PPM = 500_000    # CV < 0.5  → X (stable demand)
XYZ_Y_PPM = 1_000_000  # CV < 1.0  → Y (variable); else Z (erratic)


def parts_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the second axis of the
    ABC-XYZ inventory matrix (``parts_pareto_abc`` is the first): each
    part's weekly-demand coefficient of variation over the corpus'
    full week span, classed X (CV<{XYZ_X_PPM} ppm), Y, Z. ABC says
    what a part is WORTH; XYZ says how PREDICTABLE it is — the matrix
    drives safety-stock and forecasting-method choice (X→Croston/Holt,
    Z→reorder point).

    Zero-weeks need no calendar spine: weeks with no sales contribute
    nothing to Σx or Σx², so mean = S/W and E[x²] = Q/W over the
    global span W are exact with only the active-week rows. All sums
    integer; CV = sqrt(var)/mean is one IEEE tree (sqrt allowed),
    ppm-floored.

    Plan: one (part, week) agg, one part-keyed rollup, a 1-row global
    span broadcast — two keyed exchanges total, both aggregated-grain.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    week = (
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")) / 7
    ).cast("long")
    weekly = li.groupBy(F.col("l_partkey"), week.alias("wk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("v")
    )
    span = weekly.agg(
        (F.max("wk") - F.min("wk") + 1).alias("w_span")
    )
    per_part = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_active_weeks"),
        F.sum("v").alias("s_qty"),
        F.sum(F.col("v") * F.col("v")).alias("q2"),
    )
    cv = (
        "floor(1000000D * sqrt("
        "  CAST(q2 AS DOUBLE) / CAST(w_span AS DOUBLE)"
        "  - (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))"
        "    * (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))"
        ") / (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE)))"
    )
    return per_part.crossJoin(F.broadcast(span)).select(
        "l_partkey",
        "n_active_weeks",
        "s_qty",
        F.expr(cv).cast("long").alias("cv_ppm"),
        F.expr(
            f"CASE WHEN {cv} < {XYZ_X_PPM} THEN 'X' "
            f"WHEN {cv} < {XYZ_Y_PPM} THEN 'Y' ELSE 'Z' END"
        ).alias("xyz_class"),
    )


PARTS_XYZ_CLASSES_SQL = f"""
WITH weekly AS (
  SELECT l_partkey,
         date_diff('day', DATE '1970-01-01', l_shipdate) // 7 AS wk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS v
  FROM lineitem GROUP BY 1, 2
),
span AS (SELECT MAX(wk) - MIN(wk) + 1 AS w_span FROM weekly),
per_part AS (
  SELECT l_partkey, COUNT(*) AS n_active_weeks,
         CAST(SUM(v) AS BIGINT) AS s_qty,
         CAST(SUM(v * v) AS BIGINT) AS q2
  FROM weekly GROUP BY l_partkey
)
SELECT l_partkey, n_active_weeks, s_qty,
       CAST(FLOOR(1000000 * sqrt(
         CAST(q2 AS DOUBLE) / CAST(w_span AS DOUBLE)
         - (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
           * (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
       ) / (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))) AS BIGINT)
         AS cv_ppm,
       CASE WHEN FLOOR(1000000 * sqrt(
         CAST(q2 AS DOUBLE) / CAST(w_span AS DOUBLE)
         - (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
           * (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
       ) / (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))) < {XYZ_X_PPM}
            THEN 'X'
            WHEN FLOOR(1000000 * sqrt(
         CAST(q2 AS DOUBLE) / CAST(w_span AS DOUBLE)
         - (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
           * (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))
       ) / (CAST(s_qty AS DOUBLE) / CAST(w_span AS DOUBLE))) < {XYZ_Y_PPM}
            THEN 'Y' ELSE 'Z' END AS xyz_class
FROM per_part CROSS JOIN span
"""
