"""Relational operator parity suite (SURVEY.md §2.2 / §2.3).

The reference delegates its entire query surface to SQLite (fetch.go:222), so
"parity" means the engine can answer the same *class* of relational queries.
Each function here exercises one §2.3 capability row on the fixture tables,
paired with a DuckDB oracle (same column aliases — the driver hashes by
sorted column name).

Cross-engine exactness discipline:
- double aggregates go through ``CAST(x AS DECIMAL(18,2))`` before SUM on
  BOTH sides, then cast back to double — decimal arithmetic is exact, so the
  hash can't be flipped by summation order (SURVEY.md §7.4.2 analog).
- DuckDB ``SUM(BIGINT)`` returns HUGEINT and ``length()`` returns BIGINT —
  oracles cast to the Spark-side type explicitly.
- windows / top-k always order by a unique key suffix for determinism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.memo import memo, temp_dir


def _dec(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# Aggregation (hash agg, partial/map-side combine happens automatically)
# ---------------------------------------------------------------------------

def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → hash aggregate with 6 aggregates.

    At scale: partial aggregation map-side, 6 groups total → the shuffle
    moves O(groups × partitions) rows, not O(data).
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.filter(li.l_shipdate <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
            .alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


AGG_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE)                                             AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + min/max per group (distinct agg → expand+two-phase)."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


AGG_DISTINCT_STATS_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       MIN(o_totalprice)         AS min_price,
       MAX(o_totalprice)         AS max_price,
       COUNT(*)                  AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (superset of the reference's agg surface —
    SQLite would answer these; SURVEY.md §2.3 aggregation row)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


AGG_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT)  AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (conditional aggregation in the oracle)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


AGG_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_open,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""


def agg_conditional_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN bucketing + aggregation (scalar conditional surface)."""
    c = Catalog(spark, sf_dir).table("customer")
    bucket = (
        F.when(c.c_acctbal < 0, "negative")
        .when(c.c_acctbal < 5000, "low")
        .otherwise("high")
    )
    return (
        c.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


AGG_CONDITIONAL_BUCKETS_SQL = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS bucket,
       COUNT(*)       AS n,
       MIN(c_acctbal) AS min_bal,
       MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Joins beyond the flagship (semi / anti / outer / cross / range)
# ---------------------------------------------------------------------------

def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS). The reference's idempotency gate is a degenerate
    anti-join against existing outputs (fetch.go:59-67, SURVEY.md §2.3)."""
    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS) — the P3 idempotency-gate shape."""
    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders, then count
    (COUNT(col) skips the NULLs the outer join introduced)."""
    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


JOIN_LEFT_OUTER_AGG_SQL = """
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
"""


def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — only ever sane between tiny relations; Catalyst
    turns it into BroadcastNestedLoopJoin."""
    cat = Catalog(spark, sf_dir)
    r = cat.table("region")
    seg = cat.table("customer").select("c_mktsegment").distinct()
    return r.crossJoin(seg).select("r_name", "c_mktsegment")


JOIN_CROSS_SMALL_SQL = """
SELECT r_name, c_mktsegment
FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) s
"""


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (SURVEY.md §2.3 "theta/range" row — absent in the
    reference, standard here): part sizes against a bucket dimension on
    ``lo <= p_size < hi``. The bucket side is tiny → broadcast nested loop;
    at 100 TB the fact side streams through without a shuffle.
    """
    cat = Catalog(spark, sf_dir)
    p = cat.table("part")
    buckets = spark.createDataFrame(
        [("tiny", 0, 10), ("small", 10, 20), ("medium", 20, 35), ("large", 35, 100)],
        "bucket string, lo int, hi int",
    )
    return (
        p.join(
            F.broadcast(buckets),
            (p.p_size >= buckets.lo) & (p.p_size < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
    )


JOIN_RANGE_SQL = """
SELECT b.bucket,
       COUNT(*)      AS n_parts,
       MIN(p.p_size) AS min_size,
       MAX(p.p_size) AS max_size
FROM part p
JOIN (VALUES ('tiny', 0, 10), ('small', 10, 20), ('medium', 20, 35), ('large', 35, 100))
     b(bucket, lo, hi)
  ON p.p_size >= b.lo AND p.p_size < b.hi
GROUP BY b.bucket
"""


# ---------------------------------------------------------------------------
# Set operators / distinct
# ---------------------------------------------------------------------------

def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one result, tagged."""
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = cat.table("supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    cust_only = c.exceptAll(s).withColumn("tag", F.lit("cust_only"))
    return both.unionAll(cust_only).select("tag", "nationkey")


SET_OPS_SQL = """
SELECT 'both' AS tag, nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'cust_only' AS tag, nationkey FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier)
"""


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — the one operator the reference *documents* but never runs
    (select_point_to_point_links.sql:69, SURVEY.md Q13)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


DISTINCT_PAIRS_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject — O(k) per partition then a
    single-driver merge, never a full sort at scale. Unique-key tiebreak for
    determinism."""
    o = Catalog(spark, sf_dir).table("orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


TOPK_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_top3_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group via row_number (the scalable top-k pattern: one
    shuffle on the partition key, no global sort)."""
    c = Catalog(spark, sf_dir).table("customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


WINDOW_TOP3_PER_NATION_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer)
WHERE rn <= 3
"""


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per supplier (frame = unbounded preceding → current row).
    Decimal accumulation keeps both engines bit-identical."""
    li = Catalog(spark, sf_dir).table("lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        # l_quantity LAST: the synthetic fixture carries duplicate
        # (orderkey, linenumber) rows, so the triple is NOT a total
        # order — tied rows' running sums were engine-order-dependent
        # (caught by the r6 skew-fixture full gate; the order-insensitive
        # hash still differs because {p+a, p+a+b} ≠ {p+b, p+a+b} unless
        # a = b, which appending the summed column itself guarantees).
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(_dec("l_quantity")).over(w).cast("double").alias("running_qty"),
    )


WINDOW_RUNNING_SUM_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_qty
FROM lineitem
"""


def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — inter-event gap per user in microseconds (exact integers on
    both engines via epoch-micros)."""
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


WINDOW_LAG_GAP_SQL = """
SELECT user_id, event_id,
       epoch_us(ts) - LAG(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
FROM events
"""


# ---------------------------------------------------------------------------
# Scalar function surfaces: string / date / json
# ---------------------------------------------------------------------------

def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function parity (reference uses only trim —
    select_point_to_point_links.sql:12-47; the rest is the engine's standard
    surface, SURVEY.md §2.3)."""
    p = Catalog(spark, sf_dir).table("part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.instr(F.col("p_name"), "a").cast("int").alias("a_pos"),
        F.size(F.split("p_name", " ")).cast("int").alias("n_words"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.trim(F.col("p_name")).alias("trimmed"),
        F.lpad("p_brand", 12, "*").alias("padded"),
    )


STRING_FUNCS_SQL = """
SELECT p_partkey,
       UPPER(p_name)                      AS up_name,
       LOWER(p_brand)                     AS lo_brand,
       CAST(LENGTH(p_name) AS INT)        AS name_len,
       SUBSTRING(p_name, 1, 5)            AS name5,
       CONCAT_WS('-', p_brand, p_type)    AS brand_type,
       CAST(STRPOS(p_name, 'a') AS INT)   AS a_pos,
       CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INT) AS n_words,
       REPLACE(p_type, ' ', '_')          AS type_snake,
       TRIM(p_name)                       AS trimmed,
       LPAD(p_brand, 12, '*')             AS padded
FROM part
"""


def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (reference parses RFC1123 → formats RFC3339 on the
    driver, fetch.go:48,183; engine-side this is to_timestamp/date_format)."""
    o = Catalog(spark, sf_dir).table("orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),  # 1 = Sunday
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


DATE_FUNCS_SQL = """
SELECT o_orderkey,
       CAST(EXTRACT(YEAR  FROM o_orderdate) AS INT) AS yr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
       CAST(EXTRACT(DAY   FROM o_orderdate) AS INT) AS dom,
       CAST(DAYOFWEEK(o_orderdate) + 1 AS INT)      AS dow,
       DATE_TRUNC('month', o_orderdate)             AS month_start,
       STRFTIME(o_orderdate, '%Y-%m')               AS ym
FROM orders
"""


def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events ``props`` column (reference's JSON
    surface is encode-only, csv2json2.py:3; decode is standard engine
    capability)."""
    e = Catalog(spark, sf_dir).table("events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_id", "event_type", k.alias("k_val"))
        .filter(F.col("k_val").isNotNull())
    )


JSON_FUNCS_SQL = """
SELECT event_id, event_type, CAST(props->>'k' AS BIGINT) AS k_val
FROM events
WHERE props->>'k' IS NOT NULL
"""


def xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface (Spark 4 promoted spark-xml into core): structured
    extraction with ``from_xml`` against an explicit schema AND the
    XPath function family (``xpath_string``/``xpath_long``) over the
    same document — the two decode paths a feed-ingest pipeline picks
    between (schema-checked struct vs ad-hoc path probes).

    The document is built deterministically from orders columns
    (integers and enum strings only — no float-to-text hazards). The
    oracle replays extraction with regexp tag-picking; the CONTRACT is
    the extracted values, which both engines state exactly.

    Cost containment, measured: JVM XML decode is ~100 µs/row × 3
    parse sites, AND the javax XPath machinery contends across threads
    in one JVM (32-way parallelism bought almost nothing: 12–45 s for
    150k rows at sf0.1). Two mitigations: an explicit round-robin
    pre-split (the one-file-scan lesson — without it the parse
    serializes on ONE task) and a deterministic 10% key slice (the
    capability contract is the decode semantics, not a full-table scan;
    at 100 TB you'd decode XML once into parquet, never per-query).
    The oracle replays the same slice."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    o = (
        Catalog(spark, sf_dir)
        .table("orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .repartition(width)
    )
    cents = F.floor(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    xml = F.concat(
        F.lit("<o><id>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</id><st>"),
        F.col("o_orderstatus"),
        F.lit("</st><cents>"),
        cents.cast("string"),
        F.lit("</cents></o>"),
    )
    return o.select(
        "o_orderkey",
        xml.alias("doc"),
    ).select(
        "o_orderkey",
        F.col("doc"),
        F.from_xml("doc", "id BIGINT, st STRING, cents BIGINT").alias("p"),
        F.xpath_string("doc", F.lit("/o/st")).alias("xp_status"),
        F.xpath_long("doc", F.lit("/o/cents")).alias("xp_cents"),
    ).select(
        "o_orderkey",
        F.col("p.id").alias("xml_id"),
        F.col("p.st").alias("xml_status"),
        F.col("p.cents").alias("xml_cents"),
        "xp_status",
        "xp_cents",
        (F.col("p.id") == F.col("o_orderkey")).alias("roundtrip_ok"),
    )


XML_FUNCS_SQL = """
WITH built AS (
  SELECT o_orderkey,
         o_orderstatus AS st,
         CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders
  WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey,
       o_orderkey AS xml_id,
       st AS xml_status,
       cents AS xml_cents,
       st AS xp_status,
       cents AS xp_cents,
       TRUE AS roundtrip_ok
FROM built
"""


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery join (SQL:2016 / Spark 3.2+): for
    each nation, the single highest-balance customer via a correlated
    ORDER BY … LIMIT 1 subquery in the FROM clause — the per-row
    dependent-join form Catalyst must DECORRELATE into a ranked window
    (a per-row re-execution would be O(|nation|·|customer|) and is
    exactly what the optimizer exists to eliminate; the oracle runs
    DuckDB's native LATERAL, so the same declarative text is checked
    against an independent correlated-join implementation)."""
    Catalog(spark, sf_dir).register_views(("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC LIMIT 1
        ) t
        """
    )


JOIN_LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
  SELECT c_name, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name ASC LIMIT 1
) t
"""


def json_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type surface: ``parse_json`` → binary variant →
    typed path extraction (``variant_get``), missing-path null semantics
    (``try_variant_get``), and per-row ``schema_of_variant`` over
    HETEROGENEOUS documents — the open-schema JSON answer that replaces
    string re-parsing per access (the variant encodes once; each
    extraction is a binary walk, not a JSON parse — the 100 TB reason
    the type exists).

    Heterogeneity is real, not decorative: purchase events carry an
    extra ``amt_cents`` field, so ``schema_of_variant`` differs by row
    shape and ``try_variant_get`` exercises both present and absent
    paths. The oracle replays extraction with DuckDB's JSON operators
    and maps the two shapes to Spark's canonical schema strings."""
    e = Catalog(spark, sf_dir).table("events")
    amt = F.floor(F.col("value").cast("decimal(18,2)") * 100).cast("long")
    js = F.concat(
        F.lit('{"t":"'),
        F.col("event_type"),
        F.lit('","k":'),
        F.get_json_object("props", "$.k"),
        F.when(
            F.col("event_type") == "purchase",
            F.concat(F.lit(',"amt_cents":'), amt.cast("string")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    v = F.parse_json(js)
    return e.select(
        "event_id",
        v.alias("v"),
    ).select(
        "event_id",
        F.variant_get("v", "$.t", "string").alias("t"),
        F.variant_get("v", "$.k", "bigint").alias("k_val"),
        F.try_variant_get("v", "$.amt_cents", "bigint").alias("amt_cents"),
        F.try_variant_get("v", "$.missing", "string").alias("absent"),
        F.schema_of_variant(F.col("v")).alias("shape"),
    )


JSON_VARIANT_FUNCS_SQL = """
WITH built AS (
  SELECT event_id, event_type,
         CAST(props->>'k' AS BIGINT) AS k_val,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
         END AS amt_cents
  FROM events
)
SELECT event_id,
       event_type AS t,
       k_val,
       amt_cents,
       CAST(NULL AS VARCHAR) AS absent,
       CASE WHEN event_type = 'purchase'
            THEN 'OBJECT<amt_cents: BIGINT, k: BIGINT, t: STRING>'
            ELSE 'OBJECT<k: BIGINT, t: STRING>'
       END AS shape
FROM built
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) pinned to ≤5% of exact.

    Sketches, not exact counts, are the 100 TB path for cardinality (fixed
    ~kB state per group vs an expand + two-phase distinct shuffle). HLL
    output is estimator-specific, so the oracle contract is a tolerance
    bound: the query emits the exact count plus a boolean that the rsd=0.02
    sketch landed within 5%; the oracle emits the exact count plus TRUE.
    A drifting estimator flips the hash and fails the gate."""
    o = Catalog(spark, sf_dir).table("orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        )
        .select(
            "o_orderpriority",
            "n_customers",
            (
                F.abs(F.col("approx") - F.col("n_customers"))
                <= 0.05 * F.col("n_customers")
            ).alias("approx_within_5pct"),
        )
    )


AGG_APPROX_DISTINCT_SQL = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_customers,
       TRUE AS approx_within_5pct
FROM orders
GROUP BY o_orderpriority
"""


N_SALTS = 8


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join: manual key salting (SURVEY.md §2.3 /
    charter "salting for skew").

    The hot-key problem at 100 TB: one customer with 10⁹ orders lands an
    entire join key's rows on one reducer. The manual fix demonstrated
    here: fact rows pick a deterministic salt in [0, 8), the dim side is
    replicated ×8 (explode of a literal array — tiny, dim-sized), and the
    join key becomes (custkey, salt), spreading each hot key over 8
    reducers. Result set is provably identical to the unsalted join — the
    oracle IS the plain join. AQE's skewJoin does this adaptively for
    sort-merge joins; the manual form is the portable fallback (works for
    any join type, any engine version) and composes with bucketing."""
    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").withColumn(
        "salt", F.pmod(F.col("o_orderkey"), F.lit(N_SALTS)).cast("int")
    )
    c = cat.table("customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))
    )
    return (
        o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


JOIN_SKEW_SALTED_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 (returnflag × linestatus) combinations in
    one pass — Catalyst expands to a single Expand + hash aggregate, so at
    scale this is one shuffle, not 4 queries."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            "g_flag",
            "g_status",
            "l_returnflag",
            "l_linestatus",
            "n",
            "sum_qty",
        )
    )


AGG_CUBE_SQL = """
SELECT CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT)  AS g_status,
       l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function surface (§2.3 math row): rounding families, sign,
    modulo, pow/sqrt — all JVM built-ins inside one projection (one scan, zero
    shuffles). Only correctly-rounded IEEE-754 ops are pinned (+,-,*,/,
    sqrt, integer pow): transcendentals (ln, log10, trig) are
    implementation-defined in the last ulp (JVM Math vs C libm), so they
    can't be hash-compared cross-engine and are exercised without
    value-pinning in unit tests instead."""
    li = Catalog(spark, sf_dir).table("lineitem").filter(F.col("l_orderkey") < 1000)
    x = F.col("l_extendedprice").cast("double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(x, 1).alias("round1"),
        F.floor(x).cast("long").alias("floor_x"),
        F.ceil(x).cast("long").alias("ceil_x"),
        F.abs(x - F.lit(1000.0)).alias("abs_shift"),
        F.signum(x - F.lit(30000.0)).alias("sign_shift"),
        F.pmod(F.col("l_orderkey"), F.lit(97)).cast("long").alias("mod97"),
        F.sqrt(x).alias("sqrt_x"),
        F.pow(F.col("l_quantity").cast("double"), F.lit(2.0)).alias("qty_sq"),
        F.greatest(F.col("l_tax"), F.col("l_discount")).cast("double").alias("max_rate"),
        F.least(F.col("l_tax"), F.col("l_discount")).cast("double").alias("min_rate"),
    )


MATH_FUNCS_SQL = """
SELECT l_orderkey, l_linenumber,
       ROUND(CAST(l_extendedprice AS DOUBLE), 1)       AS round1,
       CAST(FLOOR(l_extendedprice) AS BIGINT)          AS floor_x,
       CAST(CEIL(l_extendedprice) AS BIGINT)           AS ceil_x,
       ABS(CAST(l_extendedprice AS DOUBLE) - 1000.0)   AS abs_shift,
       CAST(SIGN(CAST(l_extendedprice AS DOUBLE) - 30000.0) AS DOUBLE) AS sign_shift,
       CAST(l_orderkey % 97 AS BIGINT)                 AS mod97,
       SQRT(CAST(l_extendedprice AS DOUBLE))           AS sqrt_x,
       POW(CAST(l_quantity AS DOUBLE), 2.0)            AS qty_sq,
       CAST(GREATEST(l_tax, l_discount) AS DOUBLE)     AS max_rate,
       CAST(LEAST(l_tax, l_discount) AS DOUBLE)        AS min_rate
FROM lineitem
WHERE l_orderkey < 1000
"""


def grouped_pandas_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via ``applyInPandas`` (§2.3 UDF/UDAF row): per
    nation, the 3 highest-balance customers, computed inside an Arrow
    batch per group with pandas.

    Selection-only logic (sort + head — no float arithmetic), so the
    result is bit-exact against the window-function oracle. This is the
    escape hatch for per-group logic Spark expressions can't state
    (sklearn fits, scipy tests, custom rankers): one shuffle keyed by the
    group column, then pure Python per group, Arrow both ways. Groups must
    fit in executor memory — at 100 TB that means pre-aggregating or
    salting mega-groups first (see join_skew_salted)."""
    import pandas as pd

    c = Catalog(spark, sf_dir).table("customer")

    def top3(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(3)
        out = out.assign(rank=range(1, len(out) + 1))
        return out[["c_nationkey", "c_custkey", "c_acctbal", "rank"]]

    return c.groupBy("c_nationkey").applyInPandas(
        top3, "c_nationkey long, c_custkey long, c_acctbal double, rank int"
    )


GROUPED_PANDAS_TOPK_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal, CAST(rank AS INT) AS rank FROM (
  SELECT c_nationkey, c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer)
WHERE rank <= 3
"""


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame window (§2.3 windows): per-customer count and quantity
    of orders in the trailing 30-value window of o_totalprice-rank — here a
    literal RANGE BETWEEN over an integer order key offset, the frame type
    rowsBetween can't express (peers by VALUE distance, not row count).
    At scale the same one-shuffle window shape as the row-frame ops."""
    o = Catalog(spark, sf_dir).table("orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderkey"))
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_recent"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("recent_total"),
    )


WINDOW_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w AS n_recent,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS recent_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
"""


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based MERGE (upsert): apply a change set to a base table —
    the incremental-refresh primitive every versioned pipeline needs
    (the reference's whole-run memoization P3 is the degenerate
    all-or-nothing form; this is the row-level form).

    Change set (deterministic, derived from the fixture): every order with
    ``o_orderkey % 10 = 0`` gets a 10% price increase (update), and a
    synthetic order per nation-key (insert). MERGE = changes ∪ (base ⟕anti
    changes): one keyed shuffle each side; with both sides bucketed by the
    merge key this is exchange-free. Without a table format this writes a
    new snapshot — Delta/Iceberg MERGE INTO replaces the rewrite with a
    log commit, same logical plan."""
    o = Catalog(spark, sf_dir).table("orders")
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(1.1).cast("decimal(4,2)"))
        .cast("double")
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    inserts = (
        Catalog(spark, sf_dir)
        .table("nation")
        .select(
            (F.lit(9_000_000_000) + F.col("n_nationkey").cast("long")).alias(
                "o_orderkey"
            ),
            F.lit(1).cast("long").alias("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0.0).alias("o_totalprice"),
            F.lit("5-LOW").alias("o_orderpriority"),
        )
    )
    changes = updates.unionByName(inserts)
    base_kept = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    ).join(changes.select("o_orderkey"), "o_orderkey", "left_anti")
    return base_kept.unionByName(changes)


MERGE_UPSERT_SQL = """
WITH updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(4,2)) AS DOUBLE)
           AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0
),
inserts AS (
  SELECT 9000000000 + n_nationkey AS o_orderkey,
         CAST(1 AS BIGINT) AS o_custkey,
         'N' AS o_orderstatus,
         0.0 AS o_totalprice,
         '5-LOW' AS o_orderpriority
  FROM nation
),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
UNION ALL
SELECT * FROM changes
"""


# ---------------------------------------------------------------------------
# Round-2 additions: exact quantiles, subquery forms, distribution windows
# ---------------------------------------------------------------------------

def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (§2.3 aggregation): the distribution
    stats (p25/median/p75/p95) a data-quality dashboard reads.

    ``percentile()`` is Spark's exact linear-interpolation aggregate —
    the same type-7 interpolation DuckDB's ``quantile_cont`` uses, so the
    oracle matches bit-for-bit after the decimal pin. At 100 TB the
    exact form gathers per-group values; the sketch twin
    (``approx_percentile``, same API shape) is the scale path — exact
    here because the oracle can only replay exact math."""
    li = Catalog(spark, sf_dir).table("lineitem")

    def pin(c: Column) -> Column:
        return c.cast("decimal(18,6)").cast("double")

    # one percentile aggregate with an array of targets: ONE gather
    # buffer per group, not four
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.expr(
                "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))"
            ).alias("ps"),
        )
        .select(
            "l_returnflag",
            "n",
            pin(F.col("ps")[0]).alias("p25"),
            pin(F.col("ps")[1]).alias("p50"),
            pin(F.col("ps")[2]).alias("p75"),
            pin(F.col("ps")[3]).alias("p95"),
        )
    )


AGG_QUANTILES_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(CAST(quantile_cont(l_extendedprice, 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS p25,
       CAST(CAST(quantile_cont(l_extendedprice, 0.5)  AS DECIMAL(18,6)) AS DOUBLE) AS p50,
       CAST(CAST(quantile_cont(l_extendedprice, 0.75) AS DECIMAL(18,6)) AS DOUBLE) AS p75,
       CAST(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(18,6)) AS DOUBLE) AS p95
FROM lineitem
GROUP BY l_returnflag
"""


# One SQL text, two engines: the subquery surface (scalar, correlated
# EXISTS, IN) is plain ANSI, so the Spark side IS the oracle text run
# through spark.sql — Catalyst decorrelates the EXISTS into a left-semi
# join and turns IN into a semi join against the broadcast dim.
SUBQUERY_OPS_SQL = """
SELECT c.c_custkey, c.c_acctbal, c.c_nationkey
FROM customer c
WHERE c.c_acctbal > 0.9 * (SELECT MAX(c2.c_acctbal) FROM customer c2)
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
"""


def subquery_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery forms (§2.3): scalar subquery threshold, correlated
    EXISTS, uncorrelated IN — one query exercising Catalyst's subquery
    decorrelation (RewriteCorrelatedScalarSubquery / RewritePredicate-
    Subquery). The scalar threshold uses MAX (order-free, exact) so the
    cross-engine hash can't wobble on float summation order."""
    Catalog(spark, sf_dir).register_views(("customer", "orders", "nation"))
    return spark.sql(SUBQUERY_OPS_SQL)


def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (§2.3 windows): ntile quartiles,
    percent_rank, cume_dist per priority class — deterministic because
    the ordering key is unique. percent_rank/cume_dist are single IEEE
    divisions of exact integers, identical across engines."""
    o = Catalog(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


WINDOW_NTILE_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
"""


def agg_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) time windows in batch (§2.3 windows): 10-minute
    windows every 5 minutes over events — each event lands in exactly
    width/slide = 2 windows. Spark's ``window()`` expands assignments
    map-side (an Expand of 2 rows per event), then ONE partial-aggregated
    shuffle on (window, type) — the same plan a 100 TB backfill of a
    streaming dashboard runs. Decimal-sum-then-double keeps the float
    aggregate order-free for the oracle."""
    e = Catalog(spark, sf_dir).table("events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


# Window starts sit on the 5-minute slide grid (epoch-anchored, same as
# Spark); every event belongs to starts {floor5(t), floor5(t) - 5min}.
AGG_SLIDING_WINDOWS_SQL = """
WITH expanded AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 300000000) * 300000000
                        - k * 300000000) AS ws
  FROM events
  CROSS JOIN (SELECT UNNEST([0, 1]) AS k) ks
)
SELECT ws                           AS window_start,
       ws + INTERVAL 10 MINUTE      AS window_end,
       event_type,
       COUNT(*)                     AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY ws, event_type
"""


def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch pinned inside an exact rank band — the
    scale twin of agg_quantiles, same oracle contract as
    agg_approx_distinct: sketches are the 100 TB path (bounded state per
    group vs gathering the group's values), their outputs are estimator-
    specific, so the pinned output is the EXACT median plus a boolean
    that the sketch landed inside the exact [p45, p55] rank band — 10×
    looser than the sketch's 1/1000 rank-error bound, so only a broken
    estimator flips it."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.45, 0.5, 0.55))"
            ).alias("ps"),
            F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx"),
        )
        .select(
            "l_returnflag",
            F.col("ps")[1].cast("decimal(18,6)").cast("double").alias("p50"),
            (
                (F.col("approx") >= F.col("ps")[0])
                & (F.col("approx") <= F.col("ps")[2])
            ).alias("approx_in_band"),
        )
    )


AGG_APPROX_QUANTILES_SQL = """
SELECT l_returnflag,
       CAST(CAST(quantile_cont(l_extendedprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50,
       TRUE AS approx_in_band
FROM lineitem
GROUP BY l_returnflag
"""


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function coverage (§2.3 array fns): slice/join,
    membership + position, union/intersect/except cardinalities (Spark's
    set-style array ops dedup, so the pinned outputs are *kind* counts),
    order statistics via array_sort, and a transform-fold max. All
    row-local — zero shuffles."""
    from ..operators.text import STOPWORDS

    d = Catalog(spark, sf_dir).table("documents")
    toks = F.split("text", " ")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return d.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 3), "_").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_position(toks, "the").cast("int").alias("pos_the"),
        F.size(F.array_distinct(F.concat(toks, stop))).cast("int").alias("n_union_kinds"),
        F.size(F.array_intersect(toks, stop)).cast("int").alias("n_stop_kinds"),
        F.size(F.array_except(toks, stop)).cast("int").alias("n_nonstop_kinds"),
        F.element_at(F.array_sort(toks), 1).alias("min_tok"),
        F.element_at(F.array_sort(toks), -1).alias("max_tok"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).cast("int").alias("longest_tok"),
    )


def _sql_quote_list(items) -> str:
    return "[" + ", ".join(f"'{s}'" for s in items) + "]"


def _array_funcs_sql() -> str:
    from ..operators.text import STOPWORDS

    stop = _sql_quote_list(STOPWORDS)
    return f"""
WITH tokd AS (
  SELECT doc_id, string_split(text, ' ') AS t, {stop} AS stop FROM documents
)
SELECT doc_id,
       array_to_string(t[1:3], '_') AS first3,
       list_contains(t, 'the') AS has_the,
       CAST(COALESCE(list_position(t, 'the'), 0) AS INT) AS pos_the,
       CAST(LEN(list_distinct(list_concat(t, stop))) AS INT) AS n_union_kinds,
       CAST(LEN(list_distinct(list_filter(t, x -> list_contains(stop, x)))) AS INT)
         AS n_stop_kinds,
       CAST(LEN(list_distinct(list_filter(t, x -> NOT list_contains(stop, x)))) AS INT)
         AS n_nonstop_kinds,
       list_sort(t)[1] AS min_tok,
       list_sort(t)[-1] AS max_tok,
       CAST(list_max(list_transform(t, x -> LENGTH(x))) AS INT) AS longest_tok
FROM tokd
"""


ARRAY_FUNCS_SQL = _array_funcs_sql()


HIST_LO, HIST_HI, HIST_BINS = 0.0, 600000.0, 12


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (§2.3 aggregation): one floor expression and
    one partial-aggregated shuffle of ≤ bins+2 groups — the profile/
    dashboard staple. Out-of-range values clamp into edge bins so the
    bin count is fixed regardless of data drift."""
    o = Catalog(spark, sf_dir).table("orders")
    step = (HIST_HI - HIST_LO) / HIST_BINS
    raw = F.floor((F.col("o_totalprice") - HIST_LO) / step)
    bin_ = F.greatest(F.lit(0), F.least(F.lit(HIST_BINS - 1), raw)).cast("int")
    return (
        o.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (HIST_LO + F.col("bin") * step).alias("bin_lo"),
            (HIST_LO + (F.col("bin") + 1) * step).alias("bin_hi"),
            "n",
        )
    )


AGG_HISTOGRAM_SQL = f"""
WITH binned AS (
  SELECT CAST(GREATEST(0, LEAST({HIST_BINS - 1},
           FLOOR((o_totalprice - {HIST_LO}) / {(HIST_HI - HIST_LO) / HIST_BINS})))
         AS INT) AS bin
  FROM orders
)
SELECT bin,
       CAST({HIST_LO} + bin * {(HIST_HI - HIST_LO) / HIST_BINS} AS DOUBLE)
         AS bin_lo,
       CAST({HIST_LO} + (bin + 1) * {(HIST_HI - HIST_LO) / HIST_BINS} AS DOUBLE)
         AS bin_hi,
       COUNT(*) AS n
FROM binned
GROUP BY bin
"""


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a running frame (§2.3
    windows) — frame semantics are the classic silent-wrong-answer
    hazard (last_value over the default frame is the CURRENT row), so
    the pinned query uses an explicit full-partition frame on a unique
    order key."""
    o = Catalog(spark, sf_dir).table("orders")
    full = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_totalprice").over(full).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(full).alias("third_price"),
    )


WINDOW_FIRST_LAST_SQL = """
SELECT o_orderkey, o_orderpriority,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice)  OVER w AS last_price,
       NTH_VALUE(o_totalprice, 3) OVER w AS third_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map scalar-function coverage (§2.3 map fns): JSON → typed map,
    key enumeration/membership, value extraction, and map construction
    via map_from_arrays. The oracle replays everything through DuckDB's
    JSON functions — the map is the Spark-side representation, the
    semantics are engine-neutral. Zero shuffles."""
    e = Catalog(spark, sf_dir).table("events")
    m = F.from_json("props", "map<string,string>")
    m2 = F.map_from_arrays(F.array(F.lit("type")), F.array(F.col("event_type")))
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        F.element_at(m, "k").cast("int").alias("k_val"),
        F.array_contains(F.map_keys(m), "k").alias("has_k"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m2, "type").alias("type_copy"),
    )


MAP_FUNCS_SQL = """
SELECT event_id,
       CAST(LEN(json_keys(props)) AS INT) AS n_keys,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
       list_contains(json_keys(props), 'k') AS has_k,
       array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
       event_type AS type_copy
FROM events
"""


SALIENT_TOP_N = 3
SALIENT_SCALE = 1_000_000


def corpus_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-shaped salient-term extraction, integer-exact: per document
    the top 3 terms by ``tf * 1e6 // df`` (frequency in the doc, rare in
    the corpus — the keyword/topic signal), ties broken by term. The
    floor-divided integer score replaces log-idf so both engines replay
    the ranking bit-for-bit (no transcendentals in pinned outputs).

    Plan: explode → partial-agg (doc, term) tf → term-level df reuses the
    SAME aggregate output (one extra ≤|vocab|-row shuffle) → keyed join
    (AQE broadcasts the df side when it's actually small) → per-doc
    row_number. The classic inverted-index aggregation cascade; every
    stage partial-aggregates before it shuffles."""
    d = Catalog(spark, sf_dir).table("documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.expr(f"(tf * {SALIENT_SCALE}L) div df")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SALIENT_TOP_N)
        .select("doc_id", "term", "tf", "df", "score", F.col("rn").cast("int").alias("rn"))
    )


CORPUS_SALIENT_TERMS_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         (tf.tf * {SALIENT_SCALE}) // dfreq.df AS score
  FROM tf JOIN dfreq USING (term)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= {SALIENT_TOP_N}
"""


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (§2.3 reshaping, the inverse of agg_pivot): the
    per-flag quantity/price columns of a wide aggregate become (measure,
    value) rows. Spark's ``unpivot`` lowers to an Expand (map-side row
    fan-out, same as sliding windows) — no shuffle beyond the feeding
    aggregate."""
    li = Catalog(spark, sf_dir).table("lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("price"),
        F.sum(_dec("l_discount")).cast("double").alias("disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


AGG_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)      AS disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value
FROM wide UNPIVOT (value FOR measure IN (qty, price, disc))
"""


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic pins (§2.3 predicates): NULL propagation through
    comparisons, null-safe equality (``<=>`` / IS NOT DISTINCT FROM),
    coalesce/nullif, and NULL behavior in aggregates COUNT vs SUM — the
    silent-divergence corners between engines, stated once and
    hash-pinned. NULLs are manufactured deterministically (every 7th
    key) so ~14% of rows exercise each NULL branch regardless of
    fixture values."""
    c = Catalog(spark, sf_dir).table("customer")
    maybe = F.when(F.col("c_custkey") % 7 != 0, F.col("c_acctbal"))
    return (
        c.select(
            "c_custkey",
            maybe.alias("maybe_bal"),
            (maybe > 0).alias("cmp_null_prop"),           # NULL where maybe is NULL
            maybe.eqNullSafe(F.lit(None).cast("double")).alias("is_null_safe"),
            F.coalesce(maybe, F.lit(-1.0)).alias("coalesced"),
        )
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("maybe_bal").alias("n_nonnull"),       # COUNT skips NULLs
            F.sum(F.when(F.col("cmp_null_prop").isNull(), 1).otherwise(0)).alias(
                "n_null_cmp"
            ),
            F.sum(F.when(F.col("is_null_safe"), 1).otherwise(0)).alias("n_nullsafe_true"),
            F.min("coalesced").alias("min_coalesced"),
        )
    )


NULL_SEMANTICS_SQL = """
WITH base AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal END AS maybe_bal
  FROM customer
),
marked AS (
  SELECT c_custkey, maybe_bal,
         (maybe_bal > 0) AS cmp_null_prop,
         (maybe_bal IS NOT DISTINCT FROM CAST(NULL AS DOUBLE)) AS is_null_safe,
         COALESCE(maybe_bal, -1.0) AS coalesced
  FROM base
)
SELECT COUNT(*) AS n_rows,
       COUNT(maybe_bal) AS n_nonnull,
       CAST(SUM(CASE WHEN cmp_null_prop IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_cmp,
       CAST(SUM(CASE WHEN is_null_safe THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nullsafe_true,
       MIN(coalesced) AS min_coalesced
FROM marked
"""


BLOOM_BITS = 4096  # m: filter width; k=2 md5-derived hash functions


def _bloom_hashes(key: Column) -> tuple[Column, Column]:
    s = key.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % BLOOM_BITS
    h2 = F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long") % BLOOM_BITS
    return h1, h2


def agg_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning (§2.3 sketch family, the join twin
    of the HLL/percentile sketches): build a Bloom filter over the fact
    side's keys, probe it on the dimension — the explicit form of the
    runtime row-group filter AQE injects for shuffle joins, and the
    100 TB trick for cutting a dimension scan before an expensive join.

    The filter is built from first principles (k=2 md5-derived bit
    indices, m=4096; the set-bit set aggregates to ≤ m rows and
    broadcasts) so BOTH engines replay it bit-for-bit — unlike an opaque
    sketch, even the false-positive count is oracle-exact. The pinned row
    states the Bloom contract: zero false negatives, and the exact FP
    count among non-matching keys. The build side is the 'F'-status
    subset so non-matching probe keys actually exist (the full key set
    matches every customer at fixture scale — vacuous)."""
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer")
    o = cat.table("orders").filter(F.col("o_orderstatus") == "F")
    oh1, oh2 = _bloom_hashes(F.col("o_custkey"))
    set_bits = (
        o.select(F.explode(F.array(oh1, oh2)).alias("bit")).distinct()
    )  # ≤ m rows — broadcasts at any fact-table scale
    ch1, ch2 = _bloom_hashes(F.col("c_custkey"))
    probed = (
        c.select("c_custkey", ch1.alias("h1"), ch2.alias("h2"))
        .join(
            F.broadcast(set_bits.select(F.col("bit").alias("b1"))),
            F.col("h1") == F.col("b1"),
            "left",
        )
        .join(
            F.broadcast(set_bits.select(F.col("bit").alias("b2"))),
            F.col("h2") == F.col("b2"),
            "left",
        )
        .withColumn("in_bloom", F.col("b1").isNotNull() & F.col("b2").isNotNull())
        .join(
            o.select("o_custkey").distinct(),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .withColumn("in_exact", F.col("o_custkey").isNotNull())
    )
    return probed.groupBy().agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("in_exact").cast("int")).alias("n_exact"),
        F.sum((F.col("in_exact") & ~F.col("in_bloom")).cast("int")).alias(
            "n_false_negatives"
        ),
        F.sum((~F.col("in_exact") & F.col("in_bloom")).cast("int")).alias(
            "n_false_positives"
        ),
    )


AGG_BLOOM_SEMIJOIN_SQL = f"""
WITH fo AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
set_bits AS (
  SELECT DISTINCT bit FROM (
    SELECT UNNEST([
      ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % {BLOOM_BITS},
      ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 9, 8))::BIGINT % {BLOOM_BITS}
    ]) AS bit
    FROM fo
  )
),
flags AS (
  SELECT c.c_custkey,
         EXISTS (SELECT 1 FROM set_bits s WHERE s.bit =
           ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 1, 8))::BIGINT % {BLOOM_BITS})
         AND
         EXISTS (SELECT 1 FROM set_bits s WHERE s.bit =
           ('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)), 9, 8))::BIGINT % {BLOOM_BITS})
           AS in_bloom,
         EXISTS (SELECT 1 FROM fo o WHERE o.o_custkey = c.c_custkey)
           AS in_exact
  FROM customer c
)
SELECT COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN in_exact AND NOT in_bloom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_negatives,
       CAST(SUM(CASE WHEN NOT in_exact AND in_bloom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positives
FROM flags
"""


def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (§2.3 set ops, ALL variants): INTERSECT ALL
    keeps min(countA, countB) copies, EXCEPT ALL keeps countA − countB —
    semantics the distinct-input set_ops entry can't exercise. Folded to
    (tag, key, n) counts so the pinned result stays small while the
    multiset arithmetic is fully visible."""
    li = Catalog(spark, sf_dir).table("lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select("l_suppkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    inter = a.intersectAll(b).withColumn("tag", F.lit("intersect_all"))
    diff = a.exceptAll(b).withColumn("tag", F.lit("except_all"))
    return (
        inter.unionByName(diff)
        .groupBy("tag", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SET_OPS_MULTISET_SQL = """
WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_linenumber <= 2),
b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
inter AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
diff  AS (SELECT l_suppkey FROM a EXCEPT ALL    SELECT l_suppkey FROM b)
SELECT 'intersect_all' AS tag, l_suppkey, COUNT(*) AS n FROM inter GROUP BY 2
UNION ALL
SELECT 'except_all' AS tag, l_suppkey, COUNT(*) AS n FROM diff GROUP BY 2
"""


# One SQL text, two engines (the subquery_ops pattern): explicit GROUPING
# SETS — the general form rollup/cube specialize.
AGG_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (§2.3 grouping sets — the general form;
    agg_rollup/agg_cube pin the specializations): per-flag totals,
    per-status totals, and the grand total in one Expand pass, with
    GROUPING() markers disambiguating the NULL grouping keys."""
    Catalog(spark, sf_dir).register_views(("lineitem",))
    return spark.sql(AGG_GROUPING_SETS_SQL)


def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler (§2.3 aggregation / skew diagnostics): the
    distribution of per-key row counts an engineer reads BEFORE picking a
    join strategy (broadcast vs salt vs AQE skew split) — the diagnostic
    twin of join_skew_salted.

    Plan: one partial-aggregated shuffle builds per-key counts, then a
    single-group percentile gathers only the O(n_keys) count column. At
    100 TB the second step swaps to approx_percentile (same API shape);
    exact here because the oracle can only replay exact math."""
    li = Catalog(spark, sf_dir).table("lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))

    def pin(c: Column) -> Column:
        return c.cast("decimal(18,6)").cast("double")

    return counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("n").alias("min_rows"),
        F.max("n").alias("max_rows"),
        F.expr("percentile(n, array(0.5, 0.9, 0.99))").alias("ps"),
    ).select(
        "n_keys",
        "min_rows",
        "max_rows",
        pin(F.col("ps")[0]).alias("p50_rows"),
        pin(F.col("ps")[1]).alias("p90_rows"),
        pin(F.col("ps")[2]).alias("p99_rows"),
    )


AGG_KEY_SKEW_PROFILE_SQL = """
WITH counts AS (
  SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey
)
SELECT COUNT(*) AS n_keys,
       MIN(n) AS min_rows,
       MAX(n) AS max_rows,
       CAST(CAST(quantile_cont(n, 0.5)  AS DECIMAL(18,6)) AS DOUBLE) AS p50_rows,
       CAST(CAST(quantile_cont(n, 0.9)  AS DECIMAL(18,6)) AS DOUBLE) AS p90_rows,
       CAST(CAST(quantile_cont(n, 0.99) AS DECIMAL(18,6)) AS DOUBLE) AS p99_rows
FROM counts
"""


def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (§2.3 windows): percent_rank, cume_dist, and
    a ratio-to-partition-total share — the percentile-position trio that
    complements window_ntile's equi-height bucketing.

    Both engines define percent_rank = (rank-1)/(rows-1) and cume_dist =
    (peers ≤ current)/rows; the inputs are exact integers, and IEEE
    division of identical integers is bit-identical, so no decimal pin is
    needed. The share denominator IS a float sum, so it gets the
    decimal-sum-then-double pin. One exchange: all three windows and the
    per-partition total share the o_orderpriority partitioning."""
    o = Catalog(spark, sf_dir).table("orders")
    wp = Window.partitionBy("o_orderpriority")
    w = wp.orderBy("o_totalprice", "o_orderkey")
    total = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wp)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        (F.col("o_totalprice").cast("decimal(18,2)") / total)
        .cast("decimal(18,9)")
        .cast("double")
        .alias("share"),
    )


WINDOW_PERCENT_RANK_SQL = """
SELECT o_orderkey, o_orderpriority,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                 / SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_orderpriority)
            AS DECIMAL(18,9)) AS DOUBLE) AS share
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation join (§2.3 joins, the missing outer
    variant): every third customer vs the F-status order population,
    classified both/left_only/right_only — the two-sided diff shape used
    to reconcile a dimension snapshot against observed fact keys.

    Both inputs shrink BEFORE the join (filter + distinct push down to
    the scans), then one keyed shuffle joins them; the classification is
    a null-pattern projection and the rollup a 3-group agg. Full outer
    can't broadcast (both sides must be preserved), so the shuffle join
    is the correct 100 TB plan — AQE coalesces the post-join partitions.
    """
    cat = Catalog(spark, sf_dir)
    c = cat.table("customer").filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_acctbal"
    )
    o = (
        cat.table("orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .distinct()
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    status = (
        F.when(F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(), "both")
        .when(F.col("c_custkey").isNotNull(), "left_only")
        .otherwise("right_only")
    )
    return (
        joined.select(
            status.alias("match_status"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        )
        .groupBy("match_status")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("bal").cast("double").alias("sum_acctbal"),
        )
    )


JOIN_FULL_OUTER_SQL = """
WITH c AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0
), o AS (
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
SELECT CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
            WHEN c_custkey IS NOT NULL THEN 'left_only'
            ELSE 'right_only' END AS match_status,
       COUNT(*) AS n_keys,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
GROUP BY 1
"""


ZORDER_BITS = 16   # bits interleaved per dimension → 32-bit Z-value
ZTILE_SHIFT = 14   # tile id = z >> 14: 256 tiles at sf0.01 key ranges, grows with scale


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key + tile profile (§2.3 data layout):
    bit-interleave (l_partkey, l_suppkey) into one 32-bit Z-value and
    profile the 256 top-level Z-tiles — the multi-column clustering
    primitive behind Delta/Iceberg OPTIMIZE ZORDER. Rows sorted by this
    key co-locate 2-D neighborhoods, so a scan filtered on EITHER column
    touches O(√tiles) files instead of all of them; the tile profile
    (min/max of both keys per tile) is exactly the file-skipping metadata
    such a layout yields at 100 TB.

    Pure integer bit arithmetic — row-local, zero shuffles until the
    256-group rollup; bit-identical cross-engine. The interleave is the
    classic MASK-SPREAD ladder (x|x<<8 &…, 4 shift-and-mask rounds per
    key), not a 16-iteration ``aggregate`` lambda: the fold built a
    16-element array per row and ran a higher-order function over it —
    measured 3.8 s at sf0.1 vs ~1 s for the straight-line codegen'd
    ladder computing the identical value (equivalence pinned in
    tests/test_round4b_ops.py).
    """
    li = Catalog(spark, sf_dir).table("lineitem")

    def spread(col: str) -> F.Column:
        x = F.expr(f"CAST({col} % 65536 AS BIGINT)")
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                            (2, 0x33333333), (1, 0x55555555)):
            x = F.shiftleft(x, shift).bitwiseOR(x).bitwiseAND(F.lit(mask).cast("bigint"))
        return x

    z = spread("l_partkey") + F.shiftleft(spread("l_suppkey"), 1)
    return (
        li.select(
            F.shiftright(z, ZTILE_SHIFT).cast("int").alias("z_tile"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("z_tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


LAYOUT_ZORDER_KEY_SQL = f"""
WITH s0 AS (
  SELECT l_partkey, l_suppkey,
         CAST(l_partkey % 65536 AS BIGINT) AS px,
         CAST(l_suppkey % 65536 AS BIGINT) AS sx
  FROM lineitem
),
s1 AS (SELECT *, ((px << 8) | px) & 16711935 AS p1,
                 ((sx << 8) | sx) & 16711935 AS s1_ FROM s0),
s2 AS (SELECT *, ((p1 << 4) | p1) & 252645135 AS p2,
                 ((s1_ << 4) | s1_) & 252645135 AS s2_ FROM s1),
s3 AS (SELECT *, ((p2 << 2) | p2) & 858993459 AS p3,
                 ((s2_ << 2) | s2_) & 858993459 AS s3_ FROM s2),
s4 AS (SELECT *, ((p3 << 1) | p3) & 1431655765 AS p4,
                 ((s3_ << 1) | s3_) & 1431655765 AS s4_ FROM s3),
z AS (
  SELECT l_partkey, l_suppkey, p4 + (s4_ << 1) AS zval FROM s4
)
SELECT CAST(zval >> {ZTILE_SHIFT} AS INT) AS z_tile,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_part,
       MAX(l_partkey) AS max_part,
       MIN(l_suppkey) AS min_supp,
       MAX(l_suppkey) AS max_supp
FROM z
GROUP BY 1
"""


def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (§2.3 aggregation): the actual data value at
    each quantile rank — the percentile_disc/quantile_disc semantic,
    where agg_quantiles is the interpolated (_cont) twin. Discrete
    selection sidesteps interpolation arithmetic entirely (the returned
    value EXISTS in the data), which is why production SLO dashboards
    prefer it: a p99 latency that was never observed is an artifact.

    Formulation: min value whose cumulative row rank reaches ⌈p·n⌉,
    via one rank window per group + conditional MIN — one keyed
    exchange, aggregates ride the same partitioning.
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    n = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    def disc(p: float, name: str):
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")), F.col("v"))
        ).alias(name)
    return ranked.groupBy("l_returnflag").agg(
        F.max("n").alias("n"),
        disc(0.25, "p25_disc"),
        disc(0.50, "p50_disc"),
        disc(0.95, "p95_disc"),
    )


AGG_PERCENTILE_DISC_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n,
       quantile_disc(l_extendedprice, 0.25) AS p25_disc,
       quantile_disc(l_extendedprice, 0.5)  AS p50_disc,
       quantile_disc(l_extendedprice, 0.95) AS p95_disc
FROM lineitem
GROUP BY l_returnflag
"""


ROLLING_DISTINCT_DAYS = 7


def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (§2.3 aggregation —
    the DAU/WAU shape). COUNT(DISTINCT) does not merge across windows,
    so the rolling set is computed by fanning each (day, user) pair into
    the 7 window-ends it supports (map-side sequence+explode on the
    DEDUPLICATED day grain, not raw events) and counting distinct per
    window end — the standard exact formulation; an HLL-sketch merge is
    the at-scale drop-in (agg_approx_distinct documents the trade).

    Exchanges: day-grain dedup (1), windowed distinct (2) — both keyed,
    partial-aggregated; the ×7 fan-out happens AFTER dedup so it scales
    with active (day × user), not event volume.
    """
    e = Catalog(spark, sf_dir).table("events")
    day_user = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    fanned = day_user.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {ROLLING_DISTINCT_DAYS - 1}))")
        ).alias("window_end"),
        "user_id",
    )
    # per window end: distinct users active in [end-6, end]
    out = fanned.groupBy("window_end").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = day_user.groupBy(F.col("day").alias("window_end")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    return (
        out.join(dau, "window_end", "inner")  # only ends that are real days
        .select(
            F.date_format("window_end", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
        )
    )


EVENTS_ROLLING_DISTINCT_SQL = f"""
WITH day_user AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
fanned AS (
  SELECT CAST(unnest(generate_series(day, day + INTERVAL {ROLLING_DISTINCT_DAYS - 1} DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS window_end,
         user_id
  FROM day_user
),
wau AS (
  SELECT window_end, COUNT(DISTINCT user_id) AS wau FROM fanned GROUP BY 1
),
dau AS (
  SELECT day AS window_end, COUNT(DISTINCT user_id) AS dau FROM day_user GROUP BY 1
)
SELECT strftime(w.window_end, '%Y-%m-%d') AS day, d.dau, w.wau
FROM wau w JOIN dau d USING (window_end)
"""


def window_rank_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function tie semantics pinned (§2.3 windows): RANK (gaps
    after ties) vs DENSE_RANK (no gaps) over the heavily-tied
    l_quantity column, rolled up per tie group — the query that makes
    the difference between the three ranking functions auditable (a
    report that silently swaps rank for dense_rank shifts every
    position after the first tie).

    One keyed window exchange; the per-(flag, quantity) rollup rides the
    same partitioning. Tie groups collapse to one row each, so the
    output is |flags|·|distinct quantities| — audit-sized, not
    data-sized. row_number is EXCLUDED deliberately: it is
    tie-nondeterministic without a total order, which is itself part of
    the pinned lesson (the other window queries always tie-break).
    """
    li = Catalog(spark, sf_dir).table("lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").alias("qty"),  # integral-valued double: hash-stable as-is
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )
    return (
        ranked.groupBy("l_returnflag", "qty")
        .agg(
            F.count(F.lit(1)).alias("tie_size"),
            F.min("rnk").alias("rank_pos"),
            F.min("drnk").cast("int").alias("dense_pos"),
        )
    )


WINDOW_RANK_TIES_SQL = """
WITH ranked AS (
  SELECT l_returnflag,
         l_quantity AS qty,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rnk,
         DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS drnk
  FROM lineitem
)
SELECT l_returnflag, qty,
       COUNT(*) AS tie_size,
       MIN(rnk) AS rank_pos,
       CAST(MIN(drnk) AS INT) AS dense_pos
FROM ranked
GROUP BY l_returnflag, qty
"""


def _orders_change_set(spark: SparkSession, sf_dir: str):
    """The deterministic v1→v2 evolution shared by ``table_snapshot_diff``
    and ``agg_incremental_maintenance``: (base, updates, inserts, deletes).
    Updates = 10% price bump on o_orderkey % 10 = 0 (the merge_upsert
    change set), inserts = one synthetic order per nation, deletes =
    base keys with o_orderkey % 13 = 0 (delete wins over update)."""
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    o = Catalog(spark, sf_dir).table("orders").select("o_orderkey", *cols)
    updates = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * F.lit(1.1).cast("decimal(4,2)"))
        .cast("double")
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    inserts = (
        Catalog(spark, sf_dir)
        .table("nation")
        .select(
            (F.lit(9_000_000_000) + F.col("n_nationkey").cast("long")).alias(
                "o_orderkey"
            ),
            F.lit(1).cast("long").alias("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0.0).alias("o_totalprice"),
            F.lit("5-LOW").alias("o_orderpriority"),
        )
    )
    deletes = o.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    return o, updates, inserts, deletes


def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC derivation: compare two versions of a table and
    emit the change stream (insert / update / delete, with a changed-column
    mask and old→new values for the measure) — the inverse of
    ``merge_upsert``: MERGE applies a change set, diff RECOVERS one from
    two snapshots, which is how you bootstrap incremental pipelines over
    sources that only publish full dumps (exactly the reference's
    full-snapshot-per-fetch model, SURVEY §2.1 P3).

    v2 is derived deterministically from the fixture: the merge_upsert
    change set (10% price bump on o_orderkey % 10 = 0, one synthetic
    order per nation) plus deletes of o_orderkey % 13 = 0 — so updates,
    inserts, deletes AND update∩delete precedence (delete wins) are all
    exercised.

    Plan: ONE full-outer join keyed on o_orderkey — both sides shuffle
    once on the key (or zero exchanges with both snapshots bucketed by
    key at rest, sinks/writers.write_bucketed_table); the column compare
    is a row-local null-safe projection, and unchanged rows are dropped
    before anything else sees them, so the output is change-volume-sized,
    not table-sized. At 100 TB that's the only viable shape: never
    materialize the pair table, never collect either snapshot.
    """
    o, v2, cols = _orders_two_snapshots(spark, sf_dir)
    return _snapshot_diff(o, v2, cols)


def _orders_two_snapshots(spark: SparkSession, sf_dir: str):
    """(v1, v2, compared columns): v2 applies the shared change set."""
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    o, updates, inserts, deletes = _orders_change_set(spark, sf_dir)
    changes = updates.unionByName(inserts)
    v2 = (
        o.join(changes.select("o_orderkey"), "o_orderkey", "left_anti")
        .unionByName(changes)
        .join(deletes, "o_orderkey", "left_anti")
    )
    return o, v2, cols


def _snapshot_diff(v1: DataFrame, v2: DataFrame, cols: list[str]) -> DataFrame:
    """Change-stream recovery between two ``o_orderkey``-keyed snapshots:
    one full-outer join, row-local null-safe compare, change-volume-sized
    output. Shared by the in-memory diff and the at-rest
    ``table_diff_versions`` path."""
    b = v1.select(
        F.col("o_orderkey").alias("k_b"),
        *[F.col(c).alias(f"b_{c}") for c in cols],
    )
    n = v2.select(
        F.col("o_orderkey").alias("k_n"),
        *[F.col(c).alias(f"n_{c}") for c in cols],
    )
    j = b.join(n, F.col("k_b") == F.col("k_n"), "full_outer")
    same = [F.col(f"b_{c}").eqNullSafe(F.col(f"n_{c}")) for c in cols]
    all_same = same[0]
    for s in same[1:]:
        all_same = all_same & s
    change_type = (
        F.when(F.col("k_b").isNull(), F.lit("insert"))
        .when(F.col("k_n").isNull(), F.lit("delete"))
        .when(all_same, F.lit(None))
        .otherwise(F.lit("update"))
    )
    # concat_ws skips NULLs in both engines → compact changed-column mask
    mask = F.concat_ws(
        ",", *[F.when(~same[i], F.lit(c)) for i, c in enumerate(cols)]
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col("k_b"), F.col("k_n")).alias("o_orderkey"),
            "change_type",
            F.when(F.col("change_type") == "update", mask).alias("changed_cols"),
            F.col("b_o_totalprice").alias("old_totalprice"),
            F.col("n_o_totalprice").alias("new_totalprice"),
        )
    )


def table_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table_snapshot_diff`` through the AT-REST snapshot layout
    (VERDICT r3 "what's missing" #3): both versions are written as
    parquet snapshots via ``sinks.writers.SnapshotParquetTable``
    (``root/orders/v=N`` + marker-last ``_latest`` pointer), then read
    back — v1 by explicit version pin, v2 through ``@latest`` pointer
    resolution — and diffed with the same one-full-outer-join recovery.
    Identical output to the in-memory diff (the oracle is shared), so
    the green row certifies the time-travel read path end to end:
    write both versions → resolve latest → diff at-rest data.

    No Delta/Iceberg jars in this environment; the layout IS the
    reference's own versioned-artifact time travel (fetch.go:48-53)
    applied to columnar tables."""
    from ..sinks.writers import SnapshotParquetTable

    root = memo("snapshot", spark, sf_dir, "diff", lambda: temp_dir("snapshots-"))
    sink = SnapshotParquetTable(root)
    v1, v2, cols = _orders_two_snapshots(spark, sf_dir)
    sink.write_version(v1, "orders", "1")
    sink.write_version(v2, "orders", "2")
    assert sink.resolve("orders") == "2"  # pointer moved marker-last
    at_rest_v1 = sink.read_version(spark, "orders", "1")
    at_rest_v2 = sink.read_version(spark, "orders", "latest")
    return _snapshot_diff(at_rest_v1, at_rest_v2, cols)


def table_merge_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip through the MERGE WRITER (r4 verdict directive #8):
    v1 = base orders written as a snapshot; v2 is produced ON DISK by
    ``SnapshotParquetTable.merge_into`` (read @latest → join-based MERGE
    with the shared change set → write ``v=2`` → pointer flip), then both
    at-rest versions are read back and diffed. Identical diff to
    ``table_diff_versions`` — which certifies the merge WRITE path:
    every update/insert/delete the oracle derives must have survived a
    parquet round trip that only exists because the merge committed.
    """
    from ..sinks.writers import SnapshotParquetTable

    root = memo("snapshot", spark, sf_dir, "merge", lambda: temp_dir("snapshots-merge-"))
    sink = SnapshotParquetTable(root)
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    o, updates, inserts, deletes = _orders_change_set(spark, sf_dir)
    sink.write_version(o, "orders", "1")
    sink.merge_into(
        spark,
        "orders",
        updates.unionByName(inserts),
        "o_orderkey",
        "2",
        deletes=deletes,
    )
    assert sink.resolve("orders") == "2"  # merge committed, pointer flipped
    at_rest_v1 = sink.read_version(spark, "orders", "1")
    at_rest_v2 = sink.read_version(spark, "orders", "latest")
    return _snapshot_diff(at_rest_v1, at_rest_v2, cols)


def table_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log audit over two LOGGED commits (r6 verdict
    directive #4): v1 = base orders committed with op='write', v2
    committed by ``merge_into`` (op='merge', read-set ``orders@1``,
    optimistic-concurrency checked). The output joins the JSON commit
    log read back from disk with (a) per-version at-rest row counts and
    (b) the insert/update/delete counts of the diff BETWEEN the two
    logged commits, plus the timestamp-time-travel resolution at a
    mid-point instant (``read_as_of`` → v1). The oracle recomputes every
    column from the fixture relations + the pinned commit constants —
    so the green row certifies the log's content, the commit ordering
    (parent chain), and as-of resolution end to end.

    Scale: the log is commit-count-sized METADATA (two dicts here) —
    reading it driver-side is the same bounded-domain pattern a real
    table format's snapshot manager uses; row counts and diff counts
    are distributed aggregates over the at-rest parquet, never
    collected."""
    from ..sinks.writers import SnapshotParquetTable

    ts1 = "2024-01-01T00:00:00.000000Z"
    ts2 = "2024-01-02T00:00:00.000000Z"
    mid = "2024-01-01T12:00:00.000000Z"
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

    def build() -> str:
        root = temp_dir("snapshots-txn-")
        sink = SnapshotParquetTable(root)
        o, updates, inserts, deletes = _orders_change_set(spark, sf_dir)
        # the log APPENDS (commits are history, not state), so the build
        # runs once per (session, sf) — re-runs read the same two commits
        sink.write_version(o, "orders", "1", commit_ts=ts1)
        sink.merge_into(
            spark,
            "orders",
            updates.unionByName(inserts),
            "o_orderkey",
            "2",
            deletes=deletes,
            commit_ts=ts2,
        )
        return root

    sink = SnapshotParquetTable(memo("snapshot", spark, sf_dir, "txn", build))
    entries = sink.log_entries("orders")
    assert [e["version"] for e in entries] == ["1", "2"]
    log = spark.createDataFrame(
        [
            (
                e["seq"],
                e["version"],
                e["parent"],
                e["op"],
                ",".join(e["read_set"]),
                e["commit_ts"],
            )
            for e in entries
        ],
        "seq int, version string, parent string, op string, "
        "read_set string, commit_ts string",
    )
    v1 = sink.read_version(spark, "orders", "1")
    v2 = sink.read_version(spark, "orders", "latest")
    n_rows = (
        v1.agg(F.count(F.lit(1)).alias("n_rows")).withColumn("version", F.lit("1"))
    ).unionByName(
        v2.agg(F.count(F.lit(1)).alias("n_rows")).withColumn("version", F.lit("2"))
    )
    dc = (
        _snapshot_diff(v1, v2, cols)
        .agg(
            F.sum(F.when(F.col("change_type") == "insert", 1)).alias("n_insert"),
            F.sum(F.when(F.col("change_type") == "update", 1)).alias("n_update"),
            F.sum(F.when(F.col("change_type") == "delete", 1)).alias("n_delete"),
        )
        .withColumn("version", F.lit("2"))
    )
    asof = sink.version_as_of("orders", mid)  # timestamp time travel → '1'
    return (
        log.join(n_rows, "version")
        .join(dc, "version", "left")
        .select(
            "seq",
            "version",
            "parent",
            "op",
            "read_set",
            "commit_ts",
            "n_rows",
            "n_insert",
            "n_update",
            "n_delete",
            (F.col("version") == F.lit(asof)).alias("as_of_mid"),
        )
    )


def table_txn_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed-log read path as an oracle-checked entry (r8 verdict
    directive #6): 12 logged commits (deterministic key-sliced orders
    frames, pinned commit timestamps) force one checkpoint at seq 10;
    the output certifies that the CHECKPOINT + TAIL read path — not a
    replay from seq 0 — resolves latest, timestamp time travel, and the
    at-rest row count of the as-of version. The oracle recomputes the
    row count from the fixture relation and the rest from the pinned
    commit constants, so a checkpoint that resolved wrong (stale
    pointer honored, tail replay skipping an entry, index mis-keyed)
    flips the hash.

    Scale: this read path is the reason checkpointing exists — at the
    10⁵-commit steady state (streaming MERGE sink) resolve/read_as_of
    cost pointer + checkpoint + ≤interval tail files, flat in version
    count (growth row in SCALING.md r9)."""
    from ..sinks.writers import SnapshotParquetTable

    n_commits = 12

    def build() -> str:
        root = temp_dir("snapshots-cp-")
        sink = SnapshotParquetTable(root)
        o = Catalog(spark, sf_dir).table("orders")
        for i in range(n_commits):
            sink.write_version(
                o.filter(F.col("o_orderkey") % n_commits == i).select(
                    "o_orderkey", "o_totalprice"
                ),
                "orders_cp",
                f"v{i}",
                commit_ts=f"2024-01-01T00:00:{i:02d}.000000Z",
            )
        return root

    sink = SnapshotParquetTable(memo("snapshot", spark, sf_dir, "txn-checkpoint", build))
    state = sink._state("orders_cp")
    assert state["base"] == 10, "the seq-10 checkpoint must be read, not replayed"
    cdir = sink._checkpoint_dir("orders_cp")
    cp_files = sum(
        1 for f in cdir.iterdir() if f.name.endswith(".checkpoint.json")
    )
    asof_v = sink.version_as_of("orders_cp", "2024-01-01T00:00:05.500000Z")
    asof_rows = sink.read_as_of(
        spark, "orders_cp", "2024-01-01T00:00:05.500000Z"
    ).count()
    return spark.createDataFrame(
        [
            (
                cp_files,
                int(state["seq"]),
                len(state["index"]),
                sink.resolve("orders_cp"),
                asof_v,
                int(asof_rows),
            )
        ],
        "cp_files int, state_seq int, n_index int, latest_version string, "
        "asof_version string, asof_rows bigint",
    )


TABLE_TXN_CHECKPOINT_SQL = """
SELECT CAST(1 AS INT)  AS cp_files,
       CAST(12 AS INT) AS state_seq,
       CAST(12 AS INT) AS n_index,
       'v11'           AS latest_version,
       'v5'            AS asof_version,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 12 = 5) AS asof_rows
"""


def table_txn_checkpoint_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-part checkpoint WRITE path as an oracle-checked entry (r9
    verdict directive #1): 45 logged commits force 4 checkpoints
    (seq 10/20/30/40). The output certifies the round-10 bounded-write
    mechanics — manifest RETENTION (only CHECKPOINT_KEEP=2 manifests
    survive on disk), the binary-counter PART MERGE (the seq-40
    manifest's parts have coalesced to ONE full-history part: the
    (0,10]+(10,20] merge merged again with (20,30]+(30,40] — so the
    newest manifest references exactly 1 part while seq 30's references
    2), and that the multi-part read path still resolves latest,
    timestamp time travel, and the at-rest as-of row count exactly.
    The oracle recomputes the row count from the fixture relation and
    the rest from the pinned protocol constants, so a wrong merge
    boundary, a retention pass that deleted a live manifest, or a part
    re-assembled out of order flips the hash.

    Scale: cumulative checkpoint metadata is O(V·logV) bytes instead of
    the r9 monolithic O(V²/interval) — growth table in SCALING.md r10
    (5.5 MB vs 280 MB at 10⁴ commits); at the 10⁵-commit streaming-
    MERGE steady state that is the difference between ~65 MB of
    metadata churn and ~5 TB.

    Cost note: only the as-of target version carries Spark-written data
    (the one version the entry READS); the other 44 commits go through
    the raw ``_commit_logged`` protocol — the checkpoint machinery under
    test is identical (it sees only log entries), and the entry stays a
    ~3 s driver-window line instead of 45 Spark write jobs."""
    import json as _json

    from ..sinks.writers import SnapshotParquetTable

    n_commits = 45

    def build() -> str:
        root = temp_dir("snapshots-cpp-")
        sink = SnapshotParquetTable(root)
        o = Catalog(spark, sf_dir).table("orders")
        for i in range(n_commits):
            ts = f"2024-01-01T00:{i // 60:02d}:{i % 60:02d}.000000Z"
            if i == 7:
                sink.write_version(
                    o.filter(F.col("o_orderkey") % n_commits == i).select(
                        "o_orderkey", "o_totalprice"
                    ),
                    "orders_cpp",
                    f"v{i}",
                    commit_ts=ts,
                )
            else:
                sink._commit_logged(
                    "orders_cpp",
                    f"v{i}",
                    [["o_orderkey", "bigint"], ["o_totalprice", "double"]],
                    commit_ts=ts,
                )
        return root

    sink = SnapshotParquetTable(
        memo("snapshot", spark, sf_dir, "txn-checkpoint-parts", build)
    )
    state = sink._state("orders_cpp")
    assert state["base"] == 40, "the seq-40 checkpoint must be read, not replayed"
    cdir = sink._checkpoint_dir("orders_cpp")
    manifests = sorted(
        f.name for f in cdir.iterdir() if f.name.endswith(".checkpoint.json")
    )
    parts_per_manifest = [
        len(_json.loads((cdir / m).read_text())["parts"]) for m in manifests
    ]
    asof_v = sink.version_as_of("orders_cpp", "2024-01-01T00:00:07.500000Z")
    asof_rows = sink.read_as_of(
        spark, "orders_cpp", "2024-01-01T00:00:07.500000Z"
    ).count()
    return spark.createDataFrame(
        [
            (
                len(manifests),
                parts_per_manifest[-2],
                parts_per_manifest[-1],
                int(state["seq"]),
                len(state["index"]),
                sink.resolve("orders_cpp"),
                asof_v,
                int(asof_rows),
            )
        ],
        "manifests_on_disk int, parts_prev_manifest int, "
        "parts_newest_manifest int, state_seq int, n_index int, "
        "latest_version string, asof_version string, asof_rows bigint",
    )


TABLE_TXN_CHECKPOINT_PARTS_SQL = """
SELECT CAST(2 AS INT)  AS manifests_on_disk,
       CAST(2 AS INT)  AS parts_prev_manifest,
       CAST(1 AS INT)  AS parts_newest_manifest,
       CAST(45 AS INT) AS state_seq,
       CAST(45 AS INT) AS n_index,
       'v44'           AS latest_version,
       'v7'            AS asof_version,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 45 = 7) AS asof_rows
"""


TABLE_TXN_LOG_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(4,2)) AS DOUBLE)
           AS o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 10 = 0
),
inserts AS (
  SELECT 9000000000 + n_nationkey AS o_orderkey,
         CAST(1 AS BIGINT) AS o_custkey, 'N' AS o_orderstatus,
         0.0 AS o_totalprice, '5-LOW' AS o_orderpriority
  FROM nation
),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
v2 AS (
  SELECT * FROM (
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
    UNION ALL
    SELECT * FROM changes)
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
),
j AS (
  SELECT b.o_orderkey AS k_b, n.o_orderkey AS k_n,
         b.o_custkey AS b_custkey, n.o_custkey AS n_custkey,
         b.o_orderstatus AS b_status, n.o_orderstatus AS n_status,
         b.o_totalprice AS b_price, n.o_totalprice AS n_price,
         b.o_orderpriority AS b_prio, n.o_orderpriority AS n_prio
  FROM base b FULL OUTER JOIN v2 n ON b.o_orderkey = n.o_orderkey
),
typed AS (
  SELECT CASE WHEN k_b IS NULL THEN 'insert'
              WHEN k_n IS NULL THEN 'delete'
              WHEN (b_custkey IS NOT DISTINCT FROM n_custkey)
               AND (b_status IS NOT DISTINCT FROM n_status)
               AND (b_price IS NOT DISTINCT FROM n_price)
               AND (b_prio IS NOT DISTINCT FROM n_prio) THEN NULL
              ELSE 'update' END AS change_type
  FROM j
),
dc AS (
  SELECT CAST(SUM(CASE WHEN change_type = 'insert' THEN 1 END) AS BIGINT) AS n_insert,
         CAST(SUM(CASE WHEN change_type = 'update' THEN 1 END) AS BIGINT) AS n_update,
         CAST(SUM(CASE WHEN change_type = 'delete' THEN 1 END) AS BIGINT) AS n_delete
  FROM typed WHERE change_type IS NOT NULL
)
SELECT CAST(1 AS INTEGER) AS seq, '1' AS version, CAST(NULL AS VARCHAR) AS parent,
       'write' AS op, '' AS read_set, '2024-01-01T00:00:00.000000Z' AS commit_ts,
       (SELECT COUNT(*) FROM base) AS n_rows,
       CAST(NULL AS BIGINT) AS n_insert, CAST(NULL AS BIGINT) AS n_update,
       CAST(NULL AS BIGINT) AS n_delete, TRUE AS as_of_mid
UNION ALL
SELECT CAST(2 AS INTEGER), '2', '1', 'merge', 'orders@1',
       '2024-01-02T00:00:00.000000Z',
       (SELECT COUNT(*) FROM v2),
       (SELECT n_insert FROM dc), (SELECT n_update FROM dc),
       (SELECT n_delete FROM dc), FALSE
"""


# Fragment count for the optimize round-trip's deliberately-bad v1
# layout. Orders has ≥ 1500 rows at every gate SF, so round-robin
# repartition(64) makes every partition non-empty → exactly 64 data
# files, a constant BOTH engines can pin.
OPTIMIZE_FRAG_FILES = 64


def table_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executing compaction through the txn log (r6 verdict directive
    #4 — the OPTIMIZE half `layout_compaction_plan` only planned):
    v1 = orders deliberately fragmented into {OPTIMIZE_FRAG_FILES}
    small files; ``SnapshotParquetTable.optimize`` reads @latest, sizes
    the target from the version's actual on-disk bytes (128 MB goal →
    1 file at gate scale), clusters by (o_orderdate, o_orderkey)
    (range-repartition + sortWithinPartitions — the ZORDER analog),
    and commits the rewrite as a LOGGED ``op="optimize"`` version with
    the same optimistic-concurrency check as merge.

    The output row set certifies, per version: the commit-log entry
    (op, parent), the at-rest data-file count read back from disk
    (64 → 1 — the compaction actually executed), and the FULL
    ``table_merkle_checksum`` content manifest of the at-rest data —
    the oracle recomputes the manifest ONCE from the orders view, so a
    hash match proves the rewrite changed layout and nothing else.

    Scale: compaction is an embarrassingly parallel rewrite of
    pathological partitions (one task per target file); committing it
    through the log is what makes it safe to run concurrently with
    ingest — the conflict check aborts the OPTIMIZE, never the
    writer."""
    from ..operators.sketches import orders_merkle_manifest
    from ..sinks.writers import SnapshotParquetTable

    def build() -> str:
        root = temp_dir("snapshots-optimize-")
        sink = SnapshotParquetTable(root)
        o = Catalog(spark, sf_dir).table("orders")
        sink.write_version(
            o.repartition(OPTIMIZE_FRAG_FILES),
            "orders",
            "1",
            commit_ts="2024-01-01T00:00:00.000000Z",
        )
        stats = sink.optimize(
            spark,
            "orders",
            "2",
            cluster_by=["o_orderdate", "o_orderkey"],
            commit_ts="2024-01-02T00:00:00.000000Z",
        )
        assert stats["files_before"] == OPTIMIZE_FRAG_FILES
        # The real invariant: compaction hit its computed target.
        assert stats["files_after"] == stats["target_files"]
        # The ORACLE pins n_files = 1 (a VALUES row — it cannot read the
        # snapshot store's byte sizes), which holds while orders' on-disk
        # bytes stay under one 128 MB target file: measured 26.4 MB at
        # sf1 → the pin breaks around sf5 (bound recorded in SCALING.md,
        # round-8 growth table). If the fixture ever outgrows the pin,
        # fail with the fix spelled out rather than a silent hash
        # mismatch (r7 ADVICE).
        if stats["target_files"] != 1:
            raise AssertionError(
                "table_optimize_roundtrip fixture outgrew the 1-file oracle "
                f"pin (target_files={stats['target_files']}, "
                f"bytes_before={stats['bytes_before']}); raise the oracle's "
                "VALUES n_files pin or optimize() target_file_mb together"
            )
        return root

    sink = SnapshotParquetTable(memo("snapshot", spark, sf_dir, "optimize", build))
    entries = {e["version"]: e for e in sink.log_entries("orders")}
    assert entries["2"]["op"] == "optimize"
    assert entries["2"]["parent"] == "1"
    meta = spark.createDataFrame(
        [
            (
                v,
                entries[v]["op"],
                entries[v]["parent"],
                len(sink.data_files("orders", v)),
            )
            for v in ("1", "2")
        ],
        "version string, op string, parent string, n_files int",
    )
    manifests = None
    for v in ("1", "2"):
        m = orders_merkle_manifest(
            sink.read_version(spark, "orders", v)
        ).withColumn("version", F.lit(v))
        manifests = m if manifests is None else manifests.unionByName(m)
    return meta.join(manifests, "version").select(
        "version", "op", "parent", "n_files", "bucket", "n_rows", "xor_fp", "sum_fp"
    )


def _table_optimize_roundtrip_sql() -> str:
    from ..operators.sketches import MERKLE_BUCKETS

    return f"""
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
),
cs AS (
  SELECT bucket, COUNT(*) AS n_rows, bit_xor(row_h) AS xor_fp,
         CAST(SUM(CAST(row_h AS DECIMAL(38,0))) AS VARCHAR) AS sum_fp
  FROM rows_h GROUP BY bucket
),
vers(version, op, parent, n_files) AS (
  VALUES ('1', 'write', NULL, {OPTIMIZE_FRAG_FILES}), ('2', 'optimize', '1', 1)
)
SELECT version, op, parent, CAST(n_files AS INTEGER) AS n_files,
       bucket, n_rows, xor_fp, sum_fp
FROM vers CROSS JOIN cs
"""


def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side schema evolution as a LOGGED commit (r6 verdict
    directive #6 — ``format_schema_merge_roundtrip`` proved the
    read-side mergeSchema half): v1 = base orders (5 columns); v2 is
    committed by ``merge_into`` with a change set CARRYING A NEW COLUMN
    ``o_channel`` ('UPD' on updated rows, 'NEW' on inserts) — the
    commit validates the change (same-name columns must keep their
    type), records ``schema`` + ``schema_added`` in the txn log, and
    base rows read back NULL for the new column.

    The output certifies, per version: the logged schema width and
    added-column delta, the at-rest row count, the populated-new-column
    count (update keys + inserts exactly), and ``read_as_of`` shape on
    each side of the evolution boundary (mid-instant → 5 columns,
    post-commit → 6). Incompatible evolution (type change, column
    drop) is pytest-pinned to raise ``SchemaEvolutionError``.

    Scale: the validation is metadata-only (field lists from the log,
    never a data scan) and runs BEFORE any data file is written — the
    same order a real table format's commit protocol runs it."""
    from ..sinks.writers import SnapshotParquetTable

    ts1 = "2024-01-01T00:00:00.000000Z"
    ts2 = "2024-01-02T00:00:00.000000Z"
    mid = "2024-01-01T12:00:00.000000Z"

    def build() -> str:
        root = temp_dir("snapshots-evolve-")
        sink = SnapshotParquetTable(root)
        o, updates, inserts, _deletes = _orders_change_set(spark, sf_dir)
        sink.write_version(o, "orders", "1", commit_ts=ts1)
        changes = updates.withColumn("o_channel", F.lit("UPD")).unionByName(
            inserts.withColumn("o_channel", F.lit("NEW"))
        )
        sink.merge_into(
            spark, "orders", changes, "o_orderkey", "2", commit_ts=ts2
        )
        return root

    sink = SnapshotParquetTable(memo("snapshot", spark, sf_dir, "evolve", build))
    entries = {e["version"]: e for e in sink.log_entries("orders")}
    assert entries["2"]["schema_added"] == ["o_channel"]
    assert [n for n, _t in entries["2"]["schema"]][:5] == [
        n for n, _t in entries["1"]["schema"]
    ]  # evolution is additive: the old fields survive unchanged
    # read_as_of straddles the boundary: mid-instant sees the
    # pre-evolution shape, post-commit the evolved one
    as_of_cols = {
        "1": len(sink.read_as_of(spark, "orders", mid).columns),
        "2": len(sink.read_as_of(spark, "orders", ts2).columns),
    }
    meta = spark.createDataFrame(
        [
            (
                v,
                entries[v]["op"],
                len(entries[v]["schema"]),
                ",".join(entries[v]["schema_added"]),
                as_of_cols[v],
            )
            for v in ("1", "2")
        ],
        "version string, op string, n_cols int, added_cols string, as_of_cols int",
    )
    per_version = None
    for v in ("1", "2"):
        df = sink.read_version(spark, "orders", v)
        channel = (
            F.count("o_channel")
            if "o_channel" in df.columns
            else F.lit(0).cast("long")
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            channel.alias("n_channel_set"),
        ).withColumn("version", F.lit(v))
        per_version = row if per_version is None else per_version.unionByName(row)
    return meta.join(per_version, "version").select(
        "version",
        "op",
        "n_cols",
        "added_cols",
        "n_rows",
        "n_channel_set",
        "as_of_cols",
    )


TABLE_SCHEMA_EVOLUTION_SQL = """
WITH counts AS (
  SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
         (SELECT COUNT(*) FROM nation) AS n_nation,
         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 0) AS n_upd
)
SELECT '1' AS version, 'write' AS op, CAST(5 AS INTEGER) AS n_cols,
       '' AS added_cols, n_orders AS n_rows,
       CAST(0 AS BIGINT) AS n_channel_set, CAST(5 AS INTEGER) AS as_of_cols
FROM counts
UNION ALL
SELECT '2', 'merge', CAST(6 AS INTEGER), 'o_channel',
       n_orders + n_nation, n_upd + n_nation, CAST(6 AS INTEGER)
FROM counts
"""


def table_restore_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-lifecycle round trip (r7 depth on the directive-#4 family):
    v1 = base orders, v2 = the shared MERGE change set, v3 =
    ``restore`` back to v1's content (a FORWARD ``op="restore"`` commit
    — the pointer never rewinds, v2 stays time-travelable), then
    ``vacuum(keep_latest=2)`` deletes v1's DATA while its log entry
    survives as permanent audit metadata.

    Output: one row per logged commit — (version, op, n_rows,
    data_present). The oracle pins v1 as vacuumed (NULL rows, data
    gone) and recomputes v2/v3 row counts from the fixture, so the
    green row certifies restore content (v3 ≡ base), the log's parent
    chain across all three ops, and vacuum's exact retention cut."""
    from ..sinks.writers import SnapshotParquetTable

    def build() -> str:
        root = temp_dir("snapshots-lifecycle-")
        sink = SnapshotParquetTable(root)
        o, updates, inserts, deletes = _orders_change_set(spark, sf_dir)
        sink.write_version(
            o, "orders", "1", commit_ts="2024-01-01T00:00:00.000000Z"
        )
        sink.merge_into(
            spark,
            "orders",
            updates.unionByName(inserts),
            "o_orderkey",
            "2",
            deletes=deletes,
            commit_ts="2024-01-02T00:00:00.000000Z",
        )
        sink.restore(
            spark, "orders", "1", "3",
            commit_ts="2024-01-03T00:00:00.000000Z",
        )
        stats = sink.vacuum("orders", keep_latest=2)
        assert stats["removed_expired"] == ["1"] and stats["removed_orphans"] == []
        return root

    root = memo("snapshot", spark, sf_dir, "lifecycle", build)
    sink = SnapshotParquetTable(root)
    from pathlib import Path

    out = None
    for e in sink.log_entries("orders"):
        v = e["version"]
        present = (Path(root) / "orders" / f"v={v}").exists()
        if present:
            row = (
                sink.read_version(spark, "orders", v)
                .agg(F.count(F.lit(1)).alias("n_rows"))
                .select(
                    F.lit(v).alias("version"),
                    F.lit(e["op"]).alias("op"),
                    F.col("n_rows"),
                    F.lit(True).alias("data_present"),
                )
            )
        else:
            row = spark.range(1).select(
                F.lit(v).alias("version"),
                F.lit(e["op"]).alias("op"),
                F.lit(None).cast("long").alias("n_rows"),
                F.lit(False).alias("data_present"),
            )
        out = row if out is None else out.unionByName(row)
    return out


TABLE_RESTORE_VACUUM_SQL = """
WITH base AS (
  SELECT o_orderkey FROM orders
),
changed AS (
  SELECT o_orderkey FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT 9000000000 + n_nationkey FROM nation
),
v2n AS (
  SELECT COUNT(*) AS n FROM (
    SELECT o_orderkey FROM (
      SELECT o_orderkey FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)
      UNION ALL
      SELECT o_orderkey FROM changed)
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
  )
)
SELECT '1' AS version, 'write' AS op, CAST(NULL AS BIGINT) AS n_rows,
       FALSE AS data_present
UNION ALL
SELECT '2', 'merge', (SELECT n FROM v2n), TRUE
UNION ALL
SELECT '3', 'restore', (SELECT COUNT(*) FROM base), TRUE
"""


TABLE_SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(4,2)) AS DOUBLE)
           AS o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 10 = 0
),
inserts AS (
  SELECT 9000000000 + n_nationkey AS o_orderkey,
         CAST(1 AS BIGINT) AS o_custkey,
         'N' AS o_orderstatus,
         0.0 AS o_totalprice,
         '5-LOW' AS o_orderpriority
  FROM nation
),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
v2 AS (
  SELECT * FROM (
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
    UNION ALL
    SELECT * FROM changes)
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
),
j AS (
  SELECT b.o_orderkey AS k_b, n.o_orderkey AS k_n,
         b.o_custkey AS b_custkey, n.o_custkey AS n_custkey,
         b.o_orderstatus AS b_status, n.o_orderstatus AS n_status,
         b.o_totalprice AS b_price, n.o_totalprice AS n_price,
         b.o_orderpriority AS b_prio, n.o_orderpriority AS n_prio
  FROM base b FULL OUTER JOIN v2 n ON b.o_orderkey = n.o_orderkey
),
typed AS (
  SELECT *,
         CASE WHEN k_b IS NULL THEN 'insert'
              WHEN k_n IS NULL THEN 'delete'
              WHEN (b_custkey IS NOT DISTINCT FROM n_custkey)
               AND (b_status IS NOT DISTINCT FROM n_status)
               AND (b_price IS NOT DISTINCT FROM n_price)
               AND (b_prio IS NOT DISTINCT FROM n_prio) THEN NULL
              ELSE 'update' END AS change_type
  FROM j
)
SELECT COALESCE(k_b, k_n) AS o_orderkey,
       change_type,
       CASE WHEN change_type = 'update' THEN concat_ws(',',
         CASE WHEN NOT (b_custkey IS NOT DISTINCT FROM n_custkey) THEN 'o_custkey' END,
         CASE WHEN NOT (b_status IS NOT DISTINCT FROM n_status) THEN 'o_orderstatus' END,
         CASE WHEN NOT (b_price IS NOT DISTINCT FROM n_price) THEN 'o_totalprice' END,
         CASE WHEN NOT (b_prio IS NOT DISTINCT FROM n_prio) THEN 'o_orderpriority' END)
       END AS changed_cols,
       b_price AS old_totalprice,
       n_price AS new_totalprice
FROM typed WHERE change_type IS NOT NULL
"""


def agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM): keep a per-priority
    (count, revenue) aggregate current across the v1→v2 snapshot
    evolution by applying ONLY the change stream to the v1 aggregate —
    never rescanning v2. Deltas: insert → (+1, +price), delete →
    (−1, −old price), update → (0, new−old); an updated-then-deleted key
    contributes only its delete (the ``_orders_change_set`` precedence).

    This is the capability that turns the snapshot-diff operator into a
    pipeline: at 100 TB the change stream is ~0.1% of the table, so
    maintenance costs shuffle(changes) instead of scan(v2) — the same
    asymmetry the reference exploits wholesale with its idempotency gate
    (P3: skip everything when nothing changed), applied per row.

    Sums run in DECIMAL(18,4)/(28,4) — exact, order-independent — and
    only the final projection casts to double, so the maintained view is
    BIT-IDENTICAL to recomputation. Scale 4, not 2: updated prices carry
    FOUR decimals (price × 1.10), and rounding a 4-decimal double down to
    scale 2 is the cross-engine half-ulp trap (Spark rounds the shortest
    repr, DuckDB the exact binary); at scale 4 every value is exactly
    representable, so the cast never rounds. The DuckDB oracle IS the
    recomputation (aggregate v2 directly): two different algorithms,
    one hash — the strongest equivalence the gate can state.
    """
    o, updates, inserts, deletes = _orders_change_set(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731

    base_agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(dec("o_totalprice")).alias("s1"),
    )

    upd_eff = updates.join(deletes, "o_orderkey", "left_anti")
    old_vals = o.select("o_orderkey", F.col("o_totalprice").alias("old_price"))
    d_upd = (
        upd_eff.join(old_vals, "o_orderkey")
        .select(
            "o_orderpriority",
            F.lit(0).cast("long").alias("dc"),
            (dec("o_totalprice") - dec("old_price")).alias("dv"),
        )
    )
    d_ins = inserts.select(
        "o_orderpriority",
        F.lit(1).cast("long").alias("dc"),
        dec("o_totalprice").alias("dv"),
    )
    d_del = (
        o.join(deletes, "o_orderkey")
        .select(
            "o_orderpriority",
            F.lit(-1).cast("long").alias("dc"),
            (-dec("o_totalprice")).alias("dv"),
        )
    )
    delta_agg = (
        d_upd.unionByName(d_ins)
        .unionByName(d_del)
        .groupBy("o_orderpriority")
        .agg(F.sum("dc").alias("dn"), F.sum("dv").alias("ds"))
    )

    return (
        base_agg.join(delta_agg, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (F.coalesce("n1", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_orders"),
            (
                F.coalesce(F.col("s1"), F.lit(0).cast("decimal(28,4)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(28,4)"))
            )
            .cast("double")
            .alias("total_price"),
        )
    )


# The oracle RECOMPUTES the aggregate from the materialized v2 snapshot —
# deliberately a different algorithm than the delta maintenance it checks.
AGG_INCREMENTAL_MAINTENANCE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
updates AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(4,2)) AS DOUBLE)
           AS o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 10 = 0
),
inserts AS (
  SELECT 9000000000 + n_nationkey AS o_orderkey,
         CAST(1 AS BIGINT) AS o_custkey,
         'N' AS o_orderstatus,
         0.0 AS o_totalprice,
         '5-LOW' AS o_orderpriority
  FROM nation
),
changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
v2 AS (
  SELECT * FROM (
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
    UNION ALL
    SELECT * FROM changes)
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base WHERE o_orderkey % 13 = 0)
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM v2
GROUP BY o_orderpriority
"""


def agg_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set INTERSECTION cardinality from mergeable sketches via
    inclusion-exclusion: |buyers ∩ clickers| ≈ â + b̂ − û from three
    HLL++ estimates (rsd=0.02) computed in ONE aggregation pass — the
    audience-overlap primitive (set algebra on sketches) that exact
    distinct-counting needs two distinct shuffles and a semi-join for.

    At 100 TB the three sketches are ~kB of mergeable state each and the
    pass is map-side-combining; the exact counts here exist only to state
    the oracle contract (agg_approx_distinct pattern): the query emits
    exact cardinalities plus booleans that each estimate landed inside
    its band — 5% of the union for the three direct estimates, 10% for
    the differenced intersection (subtraction compounds the error).
    A drifting estimator flips a boolean and fails the gate.
    """
    e = Catalog(spark, sf_dir).table("events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pur = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    clk = F.when(F.col("event_type") == "click", F.col("user_id"))
    row = e.agg(
        F.countDistinct(pur).alias("exact_buyers"),
        F.countDistinct(clk).alias("exact_clickers"),
        F.countDistinct("user_id").alias("exact_union"),
        F.approx_count_distinct(pur, 0.02).alias("apx_a"),
        F.approx_count_distinct(clk, 0.02).alias("apx_b"),
        F.approx_count_distinct(F.col("user_id"), 0.02).alias("apx_u"),
    )
    est_int = F.col("apx_a") + F.col("apx_b") - F.col("apx_u")
    exact_int = F.col("exact_buyers") + F.col("exact_clickers") - F.col("exact_union")
    band = lambda err, tol: err <= tol * F.col("exact_union")  # noqa: E731
    return row.select(
        "exact_buyers",
        "exact_clickers",
        "exact_union",
        exact_int.alias("exact_intersection"),
        band(F.abs(F.col("apx_a") - F.col("exact_buyers")), 0.05).alias("a_within_5pct"),
        band(F.abs(F.col("apx_b") - F.col("exact_clickers")), 0.05).alias("b_within_5pct"),
        band(F.abs(F.col("apx_u") - F.col("exact_union")), 0.05).alias("u_within_5pct"),
        band(F.abs(est_int - exact_int), 0.10).alias("intersection_within_10pct"),
    )


AGG_SKETCH_INTERSECTION_SQL = """
WITH e AS (SELECT event_type, user_id FROM events WHERE event_type IN ('purchase', 'click'))
SELECT COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS exact_buyers,
       COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS exact_clickers,
       COUNT(DISTINCT user_id) AS exact_union,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
         + COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
         - COUNT(DISTINCT user_id) AS exact_intersection,
       TRUE AS a_within_5pct,
       TRUE AS b_within_5pct,
       TRUE AS u_within_5pct,
       TRUE AS intersection_within_10pct
FROM e
"""


TARGET_FILE_MB = 128
_EST_ROW_BYTES = 120  # avg serialized orders row (stats-derived constant)


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (the operational twin of
    layout_zorder_key): per month-partition of orders, estimate the
    at-rest size and emit the target file count for a 128 MB file goal —
    the planning pass an OPTIMIZE/compaction job runs before rewriting,
    and the number a partitioned writer needs for
    ``repartition(n, key)``-per-partition output sizing. Small files are
    the silent 100 TB scan killer: a month that should be 8 files of
    128 MB but landed as 3000 × 350 KB costs 3000 footer reads and 3000
    task schedulings per scan.

    Plan: one partial-aggregated group-by on the partition key; byte
    estimation is a stats constant here (a real deployment reads
    per-partition bytes from the table's file listing or Delta/Iceberg
    metadata — same output contract). Integer arithmetic only.
    """
    o = Catalog(spark, sf_dir).table("orders")
    part = F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month")
    target_bytes = TARGET_FILE_MB * 1024 * 1024
    g = o.groupBy(part).agg(F.count(F.lit(1)).alias("n_rows"))
    est_bytes = F.col("n_rows") * F.lit(_EST_ROW_BYTES)
    target_files = F.greatest(
        F.lit(1).cast("long"), F.ceil(est_bytes / F.lit(target_bytes))
    )
    return g.select(
        "month",
        "n_rows",
        est_bytes.alias("est_bytes"),
        target_files.alias("target_files"),
        F.ceil(F.col("n_rows") / target_files).alias("rows_per_file"),
    )


LAYOUT_COMPACTION_PLAN_SQL = f"""
WITH g AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_rows
  FROM orders GROUP BY 1
)
SELECT month, n_rows,
       n_rows * {_EST_ROW_BYTES} AS est_bytes,
       GREATEST(1, CAST(ceil(CAST(n_rows * {_EST_ROW_BYTES} AS DOUBLE)
                             / ({TARGET_FILE_MB} * 1024 * 1024)) AS BIGINT))
         AS target_files,
       CAST(ceil(CAST(n_rows AS DOUBLE)
                 / GREATEST(1, CAST(ceil(CAST(n_rows * {_EST_ROW_BYTES} AS DOUBLE)
                                         / ({TARGET_FILE_MB} * 1024 * 1024)) AS BIGINT)))
            AS BIGINT) AS rows_per_file
FROM g
"""


HILBERT_N = 256         # 256×256 grid (8 bits/dim, 16-bit Hilbert distance)
HILBERT_TILE_SHIFT = 8  # tile id = d >> 8 → 256 tiles
_HILBERT_LEVELS = (128, 64, 32, 16, 8, 4, 2, 1)


def _hilbert_step(st: str, s: str, xor: str, shl: str, shr: str) -> str:
    """One Hilbert xy2d level as a single integer expression over the
    packed accumulator ``st`` = d·2¹⁶ | x·2⁸ | y and level mask ``s``
    (both lambda VARIABLES — referenced, never textually expanded, so
    the 8-level fold stays linear-size). ``xor``/``shl``/``shr`` are the
    engine's spellings: Spark's parser rejects the ``>>`` operator
    inside a lambda body (function spellings required there), DuckDB
    has only the operators."""
    x = f"({shr.format(v=st, n=8)} & 255)"
    y = f"({st} & 255)"
    d = shr.format(v=st, n=16)
    rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
    d2 = f"({d} + {s} * {s} * ({xor.format(a=f'(3 * {rx})', b=ry)}))"
    # rot: ry=0 → transpose (x,y), reflecting both first when rx=1; the
    # reflection s−1−v can go negative mid-walk — & 255 re-normalizes,
    # which the exhaustive 65 536-cell validation run pinned as exact
    nx = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN (({s} - 1 - {y}) & 255) ELSE {y} END) "
        f"ELSE {x} END)"
    )
    ny = (
        f"(CASE WHEN {ry} = 0 THEN "
        f"(CASE WHEN {rx} = 1 THEN (({s} - 1 - {x}) & 255) ELSE {x} END) "
        f"ELSE {y} END)"
    )
    return (
        f"({shl.format(v=d2, n=16)} + {shl.format(v=f'({nx})', n=8)} + {ny})"
    )


def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key + tile profile (§2.3 data layout —
    the locality-superior sibling of layout_zorder_key): map
    (l_partkey mod 256, l_suppkey mod 256) through the Hilbert xy2d
    walk and profile the 256 curve tiles. Hilbert ordering dominates
    Z-order for file skipping: consecutive keys are ALWAYS adjacent
    cells (unit-step locality — no Z-curve seams where the key jumps
    across the grid), so per-tile min/max bounding boxes are tighter
    and a range scan prunes more files. This is the clustering behind
    spatial engines' CLUSTER BY HILBERT.

    The classic bit-twiddling loop (quadrant digit + conditional
    reflect/transpose per level) runs as a FOLD over the 8 bit levels
    with the (d, x, y) state PACKED into one BIGINT (d·2¹⁶ | x·2⁸ | y):
    integer accumulators fold reliably in both engines, where a struct
    accumulator would hit the documented DuckDB left-fold hazard
    (ROADMAP invariants). Validated exhaustively against the textbook
    algorithm over all 65 536 grid cells (bijection + unit-step
    locality) before pinning.

    Row-local integer bit arithmetic, zero shuffles until the 256-group
    rollup — bit-identical cross-engine."""
    li = Catalog(spark, sf_dir).table("lineitem")
    init = (
        f"CAST(((l_partkey % {HILBERT_N}) << 8) + (l_suppkey % {HILBERT_N})"
        " AS BIGINT)"
    )
    step = _hilbert_step(
        "st", "s", "({a} ^ {b})", "shiftleft({v}, {n})", "shiftright({v}, {n})"
    )
    h = F.expr(
        f"""
        shiftright(aggregate(
          array({", ".join(f"CAST({v} AS BIGINT)" for v in _HILBERT_LEVELS)}),
          {init}, (st, s) -> {step}), 16)
        """
    )
    return (
        li.select(
            F.shiftright(h, HILBERT_TILE_SHIFT).cast("int").alias("h_tile"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("h_tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
    )


_HILBERT_DDB_STEP = _hilbert_step(
    "a",
    "b",
    "xor(CAST({a} AS BIGINT), CAST({b} AS BIGINT))",
    "(({v}) << {n})",
    "(({v}) >> {n})",
)

LAYOUT_HILBERT_KEY_SQL = f"""
WITH h AS (
  SELECT l_partkey, l_suppkey,
         list_reduce(
           list_prepend(
             CAST(((l_partkey % {HILBERT_N}) << 8) + (l_suppkey % {HILBERT_N})
                  AS BIGINT),
             [{", ".join(f"CAST({v} AS BIGINT)" for v in _HILBERT_LEVELS)}]),
           (a, b) -> {_HILBERT_DDB_STEP}) >> 16 AS hval
  FROM lineitem
)
SELECT CAST(hval >> {HILBERT_TILE_SHIFT} AS INT) AS h_tile,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_part,
       MAX(l_partkey) AS max_part,
       MIN(l_suppkey) AS min_supp,
       MAX(l_suppkey) AS max_supp
FROM h
GROUP BY 1
"""


# Shared text: Spark 4 executes recursive CTEs natively (SPARK-24497);
# DuckDB runs the IDENTICAL statement, so the oracle is an independent
# engine's answer to the same declarative program, not a re-derivation.
_RECURSIVE_CTE_SQL = """
WITH RECURSIVE walk (c_custkey, anc, depth) AS (
  SELECT c_custkey, c_custkey AS anc, 0 AS depth FROM customer
  UNION ALL
  SELECT w.c_custkey, c.c_custkey AS anc, w.depth + 1 AS depth
  FROM walk w
  JOIN customer c ON c.c_custkey = CAST(FLOOR(w.anc / 10.0) AS BIGINT)
  WHERE w.anc >= 10
)
SELECT c_custkey,
       CAST(MAX(depth) AS INT) AS chain_depth,
       MAX_BY(anc, depth) AS root_key
FROM walk
GROUP BY c_custkey
"""


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (SQL:1999 / Spark 4 native): per-customer ancestor
    walk over the implicit decile tree ``parent(k) = floor(k/10)``,
    joining back to the customer table at every step (the recursion
    terminates when the parent key is absent or the chain reaches the
    root band ``k < 10``) — the iterative-join shape (org charts, BOM
    explosion, graph reachability) that previously required a driver-side
    loop with manual checkpointing (see ``operators/graph.py``); here
    Catalyst runs the fixpoint loop inside ONE logical plan.

    Scale note: each recursion level is an equi-join of the frontier
    against the build side — the frontier SHRINKS ~10× per level (depth
    is log₁₀(maxkey)), so total work is ~1.11× the base scan; no
    level-to-level lineage growth since UnionLoop materializes each
    step. ``FLOOR(x / 10.0)`` (double division) rather than integer
    ``/`` because Spark and DuckDB disagree on what plain ``/`` means on
    integers — double FLOOR is IEEE-identical on both.

    Reference scope: SQL execution stage (fetch.go:219-232) — the query
    surface the reference drives through SQLite, extended to the one
    SQL-standard operator family SQLite's planner also runs natively.
    """
    Catalog(spark, sf_dir).register_views(("customer",))
    return spark.sql(_RECURSIVE_CTE_SQL)


SQL_RECURSIVE_CTE_SQL = _RECURSIVE_CTE_SQL


def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → read → aggregate: certifies the second columnar
    format end to end (projection/predicate pushdown against ORC uses
    the same DataSource V2 path as parquet, so the engine's scan
    discipline carries over unchanged). The lineitem slice is written
    ZLIB-default ORC to a session-scoped temp root, read BACK from ORC,
    and aggregated; the oracle computes the same aggregate from the
    original parquet — a green row therefore proves the ORC round trip
    preserved every value exactly.

    Money stays DECIMAL(18,2) through the ORC file (exact; float
    round-trip would be lossy-by-representation), and the sum is
    emitted in integer cents.

    Reference scope: the reference's pipeline is format-conversion at
    heart (Access → SQLite → CSV/JSON, fetch.go:180-246); ORC is the
    columnar member of that conversion family.
    """

    def build() -> str:
        root = temp_dir("orc-stage-")
        Catalog(spark, sf_dir).table("lineitem").select(
            "l_orderkey",
            "l_returnflag",
            "l_linestatus",
            F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        ).write.orc(f"{root}/lineitem_orc")
        return root

    root = memo("orc_stage", spark, sf_dir, (), build)
    back = spark.read.orc(f"{root}/lineitem_orc")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.floor(F.sum("qty") * 100).cast("long").alias("sum_qty_cents"),
        F.floor(F.sum("price") * 100).cast("long").alias("sum_price_cents"),
    )


FORMAT_ORC_ROUNDTRIP_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100) AS BIGINT)
         AS sum_qty_cents,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100) AS BIGINT)
         AS sum_price_cents
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def format_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write → partition-pruned read-back: orders
    land as ``o_orderpriority=<v>/`` directories (the layout every lake
    table uses for its coarse access dimension), then the read applies a
    partition predicate — Catalyst resolves it against the DIRECTORY
    LISTING, so the scan touches exactly one partition's files
    (PartitionFilters in the plan; pinned in tests/test_round4c_ops).
    A green row proves both directions: the partitioned writer split
    values correctly and partition pruning returned the same answer the
    oracle computes from the unpartitioned original.

    At 100 TB this is THE first-order scan optimization — a pruned
    partition costs zero I/O regardless of table size; the monthly
    rollup inside the kept partition exercises values that round-tripped
    through the partition-directory encoding.

    Reference scope: the reference's versioned artifact layout
    (prism.json/{ts}, fetch.go:48-53) is exactly a partitioned-by-
    version directory scheme; this operator is that idea as a queryable
    table layout.
    """

    def build() -> str:
        root = temp_dir("parted-stage-")
        Catalog(spark, sf_dir).table("orders").select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            "o_orderpriority",
        ).write.partitionBy("o_orderpriority").parquet(f"{root}/orders_parted")
        return root

    root = memo("parted_stage", spark, sf_dir, (), build)
    back = spark.read.parquet(f"{root}/orders_parted").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return back.groupBy(
        "o_orderpriority",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int").alias("ym"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("price") * 100).cast("long").alias("sum_price_cents"),
    )


FORMAT_PARTITIONED_ROUNDTRIP_SQL = """
SELECT o_orderpriority,
       CAST(YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS INT) AS ym,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_price_cents
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority, YEAR(o_orderdate) * 100 + MONTH(o_orderdate)
"""


def window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / nth_value / lead — the remaining window-function
    members (§2.3 windows; the family's other rows cover rank, ntile,
    percent_rank, first/last, lag, running frames). Per customer over
    order-date order: the cumulative distribution of each order, the
    2nd order's value (nth_value with the default growing frame — the
    NULL prefix before row 2 is part of the function's contract), and
    the next order's date via lead.

    Determinism: the ordering key is (o_orderdate, o_orderkey) — unique
    — so every function's output is total-order pinned. cume_dist is a
    small-integer ratio; ppm-quantized for the hash. One customer-keyed
    exchange serves all three functions (same window spec)."""
    o = Catalog(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("cents"),
        # explicit FLOOR: bare double→long casts TRUNCATE in Spark but
        # ROUND in DuckDB (ROADMAP invariant)
        F.floor(F.cume_dist().over(w) * 1_000_000).alias("cume_ppm"),
        F.nth_value(cents, 2).over(w).alias("second_order_cents"),
        F.lead("o_orderdate", 1).over(w).alias("next_order_date"),
    )


WINDOW_CUME_NTH_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       CAST(FLOOR(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_ppm,
       NTH_VALUE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT), 2)
         OVER w AS second_order_cents,
       LEAD(o_orderdate, 1) OVER w AS next_order_date
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def format_schema_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (``mergeSchema``): an early batch of a
    dataset lands WITHOUT a column that later batches carry — the
    normal life of any long-lived lake table — and the read must unify
    the parts (missing column → NULL) without rewriting history. Batch
    1 = orders through 1997 with (key, date, price); batch 2 = the rest
    adding o_orderpriority. The merged read aggregates per priority
    with the NULL bucket holding exactly the batch-1 rows — a green row
    proves the union-by-name semantics AND that no value was disturbed
    crossing the schema boundary.

    At 100 TB this is the painless half of schema evolution (adds are
    metadata-only; renames/retypes need a table format's MERGE).
    Footer unification costs one pass over file METADATA, not data.

    Reference scope: the reference re-derives its schema from each
    monthly Access drop (fetch.go:180-218) — i.e. its schema is
    allowed to drift per version; this operator is that contract on a
    columnar lake layout.
    """

    def build() -> str:
        root = temp_dir("schemamerge-stage-")
        o = Catalog(spark, sf_dir).table("orders").select(
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            "o_orderpriority",
        )
        early = o.filter(F.year("o_orderdate") <= 1997).drop("o_orderpriority")
        early.write.parquet(f"{root}/batch1")
        o.filter(F.year("o_orderdate") > 1997).write.parquet(f"{root}/batch2")
        return root

    root = memo("merge_stage", spark, sf_dir, (), build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/batch1", f"{root}/batch2"
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("price") * 100).cast("long").alias("sum_price_cents"),
    )


FORMAT_SCHEMA_MERGE_ROUNDTRIP_SQL = """
SELECT CASE WHEN YEAR(o_orderdate) <= 1997 THEN NULL
            ELSE o_orderpriority END AS o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_price_cents
FROM orders
GROUP BY CASE WHEN YEAR(o_orderdate) <= 1997 THEN NULL
              ELSE o_orderpriority END
"""


def catalog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep (the engine-surface feature behind every
    "expectation suite": null rates, exact distinct cardinalities,
    value bounds per column) over ``orders`` — one row per column, ONE
    scan: all per-column aggregates compute in a single pass (multiple
    COUNT DISTINCTs expand-node together) and a map-side ``stack``
    unpivots the 1-row aggregate into the per-column report.

    Representation discipline: every min/max is reported as a STRING of
    an integer-exact value (cents for money, epoch-micros for
    timestamps) — double→string and timestamp→string formatting are
    engine-specific, integer strings are not.

    At 100 TB: profile cost = one corpus scan with map-side partials;
    the COUNT DISTINCT expand multiplies rows by |columns| pre-shuffle —
    for very wide tables swap in the KMV sketch (`agg_kmv_distinct`)
    per column, same shape, bounded state."""
    o = Catalog(spark, sf_dir).table("orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    od_us = F.unix_micros("o_orderdate")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # o_orderkey
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("nn_k"),
        F.countDistinct("o_orderkey").alias("nd_k"),
        F.min("o_orderkey").cast("string").alias("mn_k"),
        F.max("o_orderkey").cast("string").alias("mx_k"),
        # o_custkey
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("nn_c"),
        F.countDistinct("o_custkey").alias("nd_c"),
        F.min("o_custkey").cast("string").alias("mn_c"),
        F.max("o_custkey").cast("string").alias("mx_c"),
        # o_orderstatus
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias("nn_s"),
        F.countDistinct("o_orderstatus").alias("nd_s"),
        F.min("o_orderstatus").alias("mn_s"),
        F.max("o_orderstatus").alias("mx_s"),
        # o_totalprice (cents)
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("nn_p"),
        F.countDistinct(cents).alias("nd_p"),
        F.min(cents).cast("string").alias("mn_p"),
        F.max(cents).cast("string").alias("mx_p"),
        # o_orderdate (epoch micros)
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("nn_d"),
        F.countDistinct(od_us).alias("nd_d"),
        F.min(od_us).cast("string").alias("mn_d"),
        F.max(od_us).cast("string").alias("mx_d"),
        # o_orderpriority
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)).alias("nn_o"),
        F.countDistinct("o_orderpriority").alias("nd_o"),
        F.min("o_orderpriority").alias("mn_o"),
        F.max("o_orderpriority").alias("mx_o"),
    )
    return agg.select(
        F.expr(
            "stack(6, "
            "'o_orderkey', nn_k, nd_k, mn_k, mx_k, "
            "'o_custkey', nn_c, nd_c, mn_c, mx_c, "
            "'o_orderstatus', nn_s, nd_s, mn_s, mx_s, "
            "'o_totalprice_cents', nn_p, nd_p, mn_p, mx_p, "
            "'o_orderdate_us', nn_d, nd_d, mn_d, mx_d, "
            "'o_orderpriority', nn_o, nd_o, mn_o, mx_o) "
            "as (column_name, n_null, n_distinct, min_repr, max_repr)"
        ),
        "n_rows",
    )


CATALOG_PROFILE_SQL = """
WITH a AS (
  SELECT COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_k,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd_k,
         CAST(MIN(o_orderkey) AS VARCHAR) AS mn_k,
         CAST(MAX(o_orderkey) AS VARCHAR) AS mx_k,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_c,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd_c,
         CAST(MIN(o_custkey) AS VARCHAR) AS mn_c,
         CAST(MAX(o_custkey) AS VARCHAR) AS mx_c,
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_s,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
         MIN(o_orderstatus) AS mn_s,
         MAX(o_orderstatus) AS mx_s,
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_p,
         CAST(COUNT(DISTINCT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS nd_p,
         CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS VARCHAR) AS mn_p,
         CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS VARCHAR) AS mx_p,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_d,
         CAST(COUNT(DISTINCT epoch_us(o_orderdate)) AS BIGINT) AS nd_d,
         CAST(MIN(epoch_us(o_orderdate)) AS VARCHAR) AS mn_d,
         CAST(MAX(epoch_us(o_orderdate)) AS VARCHAR) AS mx_d,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_o,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_o,
         MIN(o_orderpriority) AS mn_o,
         MAX(o_orderpriority) AS mx_o
  FROM orders
)
SELECT 'o_orderkey' AS column_name, nn_k AS n_null, nd_k AS n_distinct,
       mn_k AS min_repr, mx_k AS max_repr, n_rows FROM a
UNION ALL
SELECT 'o_custkey', nn_c, nd_c, mn_c, mx_c, n_rows FROM a
UNION ALL
SELECT 'o_orderstatus', nn_s, nd_s, mn_s, mx_s, n_rows FROM a
UNION ALL
SELECT 'o_totalprice_cents', nn_p, nd_p, mn_p, mx_p, n_rows FROM a
UNION ALL
SELECT 'o_orderdate_us', nn_d, nd_d, mn_d, mx_d, n_rows FROM a
UNION ALL
SELECT 'o_orderpriority', nn_o, nd_o, mn_o, mx_o, n_rows FROM a
"""


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (`|>` operators — SPARK-49555): the same
    filter → aggregate → filter chain a DataFrame expresses, written as
    a linear pipeline in SQL. Each `|>` stage maps 1:1 onto a logical
    operator, so Catalyst sees the identical plan as the classic
    nested-SELECT form — the oracle IS that classic form, proving the
    surface is pure syntax, not new semantics."""
    Catalog(spark, sf_dir).table("orders").createOrReplaceTempView(
        "__orders_pipe"
    )
    return spark.sql(
        """
        FROM __orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> EXTEND cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)
             AS cents
        |> AGGREGATE COUNT(*) AS n, SUM(cents) AS total_cents
             GROUP BY o_orderpriority
        |> WHERE n > 10
        |> SELECT o_orderpriority AS priority, n, total_cents
        """
    )


SQL_PIPE_SYNTAX_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
"""


def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 session variables (DECLARE / SET VARIABLE): a threshold
    parameter lives in session state and parameterizes the query text —
    the SQL-scripting surface that replaces string interpolation for
    dashboard/report parameterization. The oracle inlines the same
    constant, so the green row proves variable resolution happens at
    plan time with no semantic drift."""
    spark.sql("DECLARE OR REPLACE VARIABLE __min_cents BIGINT DEFAULT 0")
    spark.sql("SET VARIABLE __min_cents = 15000000")
    Catalog(spark, sf_dir).table("orders").createOrReplaceTempView(
        "__orders_vars"
    )
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, COUNT(*) AS n_big
        FROM __orders_vars
        WHERE cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)
              >= __min_cents
        GROUP BY o_orderpriority
        """
    )


SQL_SESSION_VARIABLES_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_big
FROM orders
WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) >= 15000000
GROUP BY o_orderpriority
"""


def sql_string_collations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string collations (COLLATE UTF8_LCASE): grouping a
    mixed-case key under a case-insensitive collation folds case WITHOUT
    rewriting values through lower() — collation travels with the type,
    so every downstream comparison inherits it. Fixture: priority
    strings case-scrambled by orderkey parity (10 distinct binary
    strings), grouped under UTF8_LCASE back to the 5 logical values.
    The oracle is the explicit lower() rewrite — identical groups prove
    the collation's equivalence classes."""
    Catalog(spark, sf_dir).table("orders").createOrReplaceTempView(
        "__orders_coll"
    )
    return spark.sql(
        """
        WITH scrambled AS (
          SELECT CASE WHEN o_orderkey % 2 = 0
                      THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END
                   COLLATE UTF8_LCASE AS priority_ci
          FROM __orders_coll
        )
        SELECT lower(priority_ci) AS priority, COUNT(*) AS n
        FROM scrambled
        GROUP BY priority_ci
        """
    )


SQL_STRING_COLLATIONS_SQL = """
WITH scrambled AS (
  SELECT CASE WHEN o_orderkey % 2 = 0
              THEN upper(o_orderpriority)
              ELSE lower(o_orderpriority) END AS priority_ci
  FROM orders
)
SELECT lower(priority_ci) AS priority, COUNT(*) AS n
FROM scrambled
GROUP BY lower(priority_ci)
"""
