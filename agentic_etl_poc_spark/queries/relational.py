"""Relational core battery — the SURVEY §2.3 SQL surface, idiomatic Spark.

Covers every construct the reference's canonical plans demonstrate
(reference: prompt.txt:16-78, etl_agent/plan.yaml:22-29 — CTEs, casts,
COALESCE, multi-key LEFT JOIN, cast-in-join-key, GROUP BY + SUM/AVG,
conditional aggregates, ORDER BY) plus the constructs the reference gets
implicitly through DuckDB pass-through SQL (SURVEY §2.3 "not demonstrated"
list): window functions, set ops, semi/anti joins, DISTINCT aggregates,
ROLLUP, top-k, string/math scalar functions.

Determinism idioms (see queries/core.py docstring): decimal-cast sums,
decimal-sum/count averages, bigint-cast integer outputs (DuckDB aggregates
return BIGINT/HUGEINT), total-order tie-breaks.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from agentic_etl_poc_spark.io_tables import read_parquet, table
from agentic_etl_poc_spark.queries.core import register, staged


def _dec(col: str | Column, scale: int = 2, precision: int = 28) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def _dsum(col: str | Column, scale: int = 2, precision: int = 28) -> Column:
    """Order-independent exact sum of a double column, returned as double.

    ``precision`` is a PERFORMANCE knob, not a correctness one: Spark's
    SUM widens the result type by 10 digits, and any decimal wider than
    18 digits leaves the long-backed Tungsten representation for
    BigDecimal (measured 2.5-3x slower on a 600k-row aggregate).  An
    input precision <= 8 keeps the whole sum long-backed.  Use a small
    precision ONLY when the per-row values provably fit (the cast
    rounding — and therefore the result — is identical at any precision;
    overflow would be NULL under ANSI-off, which the oracle would catch
    as a hash mismatch, but don't rely on that: document the bound)."""
    return F.sum(_dec(col, scale, precision)).cast("double")


@register(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    description="TPC-H Q1 shape: scan+filter+groupBy with sum/avg/count "
    "(reference surface: prompt.txt:65-77 GROUP BY + SUM/AVG).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    # Precision bounds (see _dsum): quantity <= 50 -> (4,2); extendedprice
    # <= ~110k -> (8,2); discount <= 0.11 -> (8,6).  All three sums stay
    # long-backed (<= 18-digit result).  The 4/6-decimal PRODUCTS need 12
    # integer+fraction digits per row, so their sums take the BigDecimal
    # path — (12,6) keeps the per-row representation small at least.
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(12,6)"
    )
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(12,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", 2, 4).alias("sum_qty"),
            _dsum("l_extendedprice", 2, 8).alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (_dsum("l_quantity", 2, 4) / n).alias("avg_qty"),
            (_dsum("l_extendedprice", 2, 8) / n).alias("avg_price"),
            (_dsum("l_discount", 6, 8) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q02_cast_coalesce_project",
    oracle="""
SELECT p_partkey,
  CAST(p_size AS BIGINT) AS size_big,
  CAST(CAST(p_retailprice AS DECIMAL(28,2)) AS DOUBLE) AS retail2,
  COALESCE(TRY_CAST(p_brand AS INTEGER), -1) AS brand_as_int,
  CAST(p_type AS VARCHAR) AS type_str
FROM part
WHERE p_size < 30
ORDER BY p_partkey
""",
    description="Projection + CAST(INT/BIGINT/DOUBLE/VARCHAR) + COALESCE + "
    "NULL-on-bad-cast (reference: prompt.txt:18-30, TRY semantics via "
    "spark.sql.ansi.enabled=false — SURVEY §2.3).",
)
def q02_cast_coalesce_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size") < 30)
        .select(
            "p_partkey",
            F.col("p_size").cast("bigint").alias("size_big"),
            F.col("p_retailprice").cast("decimal(28,2)").cast("double").alias("retail2"),
            # ANSI-off cast of 'Brand#13' -> NULL, like DuckDB TRY_CAST
            F.coalesce(F.col("p_brand").cast("int"), F.lit(-1)).alias("brand_as_int"),
            F.col("p_type").cast("string").alias("type_str"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q05_left_join_multikey",
    oracle="""
SELECT c_mktsegment,
  COUNT(o_orderkey) AS open_orders,
  CAST(SUM(CAST(COALESCE(o_totalprice, 0.0) AS DECIMAL(28,2))) AS DOUBLE) AS open_total,
  COUNT(DISTINCT c_custkey) AS customers
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'O'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    description="LEFT JOIN with compound ON (key + literal predicate), "
    "NULL-aware aggregation over unmatched rows (reference: prompt.txt:60-61).",
)
def q05_left_join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"]) & (o["o_orderstatus"] == F.lit("O")),
        "left",
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("open_orders"),
            F.sum(_dec(F.coalesce(F.col("o_totalprice"), F.lit(0.0))))
            .cast("double")
            .alias("open_total"),
            F.countDistinct("c_custkey").alias("customers"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q06_join_cast_key_broadcast",
    oracle="""
SELECT r_name, n_name,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON CAST(c_nationkey AS BIGINT) = CAST(n_nationkey AS BIGINT)
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
    description="Join with CAST in the join key (reference: prompt.txt:62-63) "
    "+ explicit broadcast of small dims (nation 25 rows, region 5 rows) — "
    "the 100 TB plan: fact stays partitioned, dims ship to executors.",
)
def q06_join_cast_key_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(
            F.broadcast(n),
            c["c_nationkey"].cast("bigint") == n["n_nationkey"].cast("bigint"),
        )
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "q07_conditional_agg",
    oracle="""
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(28,2))
                ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE) AS finished_total,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_orders,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(28,2))
                ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE)
    / CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS finished_share
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    description="Conditional aggregates SUM(CASE WHEN ...) "
    "(reference: prompt.txt:69 holiday_sales).",
)
def q07_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    cond_price = F.when(is_f, _dec("o_totalprice")).otherwise(
        F.lit(0).cast("decimal(28,2)")
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cond_price).cast("double").alias("finished_total"),
            F.sum(F.when(is_f, 1).otherwise(0)).cast("bigint").alias("finished_orders"),
            (F.sum(cond_price).cast("double") / _dsum("o_totalprice")).alias(
                "finished_share"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q08_topk_orders",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
""",
    description="Global top-k (ORDER BY ... LIMIT) with total tie-break. "
    "Spark plan: TakeOrderedAndProject — no full sort, no full shuffle.",
)
def q08_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q09_distinct_agg",
    oracle="""
SELECT l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_supp,
  COUNT(DISTINCT l_partkey) AS n_part,
  COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="DISTINCT aggregates (absent from reference surface, free via "
    "pass-through SQL — SURVEY §2.3 'not demonstrated').",
)
def q09_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q10_window_rank",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
    CAST(RANK() OVER w AS BIGINT) AS rnk,
    CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
    description="Ranking window functions, top-N per group.",
)
def q10_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "q12_set_ops",
    oracle="""
SELECT nationkey, 'both' AS tag FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey FROM supplier
) a
UNION ALL
SELECT nationkey, 'customer_only' AS tag FROM (
  SELECT DISTINCT c_nationkey AS nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
) b
UNION ALL
SELECT nationkey, 'supplier_only' AS tag FROM (
  SELECT DISTINCT s_nationkey AS nationkey FROM supplier
  EXCEPT
  SELECT DISTINCT c_nationkey FROM customer
) c
ORDER BY tag, nationkey
""",
    description="Set operations UNION ALL / INTERSECT / EXCEPT.",
)
def q12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    c_only = c.subtract(s).withColumn("tag", F.lit("customer_only"))
    s_only = s.subtract(c).withColumn("tag", F.lit("supplier_only"))
    return both.unionByName(c_only).unionByName(s_only).orderBy("tag", "nationkey")


@register(
    "q13_semi_anti_join",
    oracle="""
SELECT c_nationkey AS nationkey, COUNT(*) AS n, 'has_f_order' AS tag
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
GROUP BY c_nationkey
UNION ALL
SELECT c_nationkey AS nationkey, COUNT(*) AS n, 'no_orders' AS tag
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY tag, nationkey
""",
    description="Semi/anti joins (EXISTS / NOT EXISTS ≡ leftsemi / leftanti).",
)
def q13_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    semi = (
        c.join(
            o.filter(F.col("o_orderstatus") == "F"),
            c["c_custkey"] == o["o_custkey"],
            "leftsemi",
        )
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tag", F.lit("has_f_order"))
    )
    anti = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "leftanti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("tag", F.lit("no_orders"))
    )
    return semi.unionByName(anti).orderBy("tag", "nationkey")


@register(
    "q14_rollup",
    oracle="""
SELECT COALESCE(r_name, '(all)') AS region,
       COALESCE(n_name, '(all)') AS nation,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY region, nation
""",
    description="Hierarchical ROLLUP aggregation (grouping-set family).",
)
def q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum("c_acctbal").alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "n_customers",
            "total_bal",
        )
        .orderBy("region", "nation")
    )


@register(
    "q15_string_funcs",
    oracle="""
SELECT p_partkey,
  UPPER(p_brand) AS brand_upper,
  LOWER(p_type) AS type_lower,
  SUBSTR(p_name, 1, 8) AS name_prefix,
  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
  CONCAT_WS('|', p_brand, p_type) AS brand_type,
  REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
  LPAD(p_brand, 12, '_') AS brand_padded,
  CAST(LEN(STRING_SPLIT(p_name, ' ')) AS BIGINT) AS name_words
FROM part
ORDER BY p_partkey
""",
    description="String scalar functions (upper/lower/substr/length/concat/"
    "regexp_replace/lpad/split).",
)
def q15_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowel"),
        F.lpad("p_brand", 12, "_").alias("brand_padded"),
        F.size(F.split(F.col("p_name"), " ")).cast("bigint").alias("name_words"),
    ).orderBy("p_partkey")


@register(
    "q16_math_funcs",
    oracle="""
SELECT c_custkey,
  ABS(c_acctbal) AS abs_bal,
  CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
  CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
  SQRT(ABS(c_acctbal)) AS sqrt_bal,
  c_acctbal * c_acctbal AS bal_sq,
  CAST(SIGN(c_acctbal) AS DOUBLE) AS sign_bal,
  GREATEST(c_acctbal, 0.0) AS pos_part,
  LEAST(c_acctbal, 0.0) AS neg_part
FROM customer
ORDER BY c_custkey
""",
    description="Math scalar functions (abs/floor/ceil/sqrt/sign/greatest/"
    "least) — only IEEE-deterministic ops, so both engines agree bit-for-bit.",
)
def q16_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.abs(bal).alias("abs_bal"),
        F.floor(bal).cast("bigint").alias("floor_bal"),
        F.ceil(bal).cast("bigint").alias("ceil_bal"),
        F.sqrt(F.abs(bal)).alias("sqrt_bal"),
        (bal * bal).alias("bal_sq"),
        F.signum(bal).cast("double").alias("sign_bal"),
        F.greatest(bal, F.lit(0.0)).alias("pos_part"),
        F.least(bal, F.lit(0.0)).alias("neg_part"),
    ).orderBy("c_custkey")


@register(
    "q21_cube_grouping",
    oracle="""
SELECT COALESCE(c_mktsegment, '(all)') AS segment,
       COALESCE(o_orderpriority, '(all)') AS priority,
       CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE(c_mktsegment, o_orderpriority)
ORDER BY gid, segment, priority
""",
    description="CUBE over (segment, priority) with the GROUPING bitmask — "
    "the full grouping-set family beyond q14's ROLLUP.  Spark expands the "
    "cube into grouping sets in one aggregation pass (Expand + partial "
    "hash agg), no per-set rescans.",
)
def q21_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return (
        j.cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice").alias("total_price"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "gid",
            "n_orders",
            "total_price",
        )
        .orderBy("gid", "segment", "priority")
    )


@register(
    "q22_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.75) AS q75,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Exact percentiles (continuous interpolation).  Safe to "
    "hash-compare because l_quantity is integer-valued and quartile "
    "fractions are dyadic, so the interpolated values are exactly "
    "representable doubles on both engines regardless of formula shape.  "
    "At 100 TB the exact sort-based percentile gives way to "
    "approx_percentile (q23's sketch family).",
)
def q22_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(q, F.lit(0.25)).alias("q25"),
            F.percentile(q, F.lit(0.5)).alias("median_qty"),
            F.percentile(q, F.lit(0.75)).alias("q75"),
            F.min(q).alias("min_qty"),
            F.max(q).alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q23_approx_distinct",
    oracle="""
SELECT l_returnflag,
  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_nd,
  TRUE AS approx_within_bound
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Approximate aggregates: approx_count_distinct (HLL++, "
    "rsd=0.02) checked against the exact distinct count.  The HLL estimate "
    "itself is engine-specific (DuckDB's sketch differs), so the checked "
    "surface is deterministic: the exact NDV plus a boolean asserting the "
    "sketch landed within 5x the configured rsd (0.10) — the oracle emits TRUE, "
    "so a drifting sketch fails the hash-match.  At 100 TB the sketch is "
    "mergeable map-side state (no shuffle of keys), which is the entire "
    "point vs COUNT(DISTINCT).  rsd=0.02 (not 0.01): sketch update cost "
    "scales with register count and the higher precision was 5x slower for "
    "no extra assertion strength.",
)
def q23_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # Two separate aggregations joined on the 3-row group key.  Mixing a
    # DISTINCT aggregate with approx_count_distinct in ONE agg makes
    # Catalyst Expand every row for both paths and allocate an HLL sketch
    # per (flag, orderkey) PARTIAL group in the distinct path — at rsd=0.01
    # that is ~100k sketches of 2^16 registers each, pure GC thrash.
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_nd")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_nd")
    )
    return (
        approx.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("exact_nd").cast("bigint").alias("exact_nd"),
            (
                F.abs(F.col("approx_nd") - F.col("exact_nd"))
                / F.col("exact_nd").cast("double")
                <= F.lit(0.10)
            ).alias("approx_within_bound"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q25_pivot_unpivot",
    oracle="""
WITH pivoted AS (
  SELECT c_mktsegment,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
         THEN CAST(o_totalprice AS DECIMAL(28,2)) END) AS DOUBLE) AS urgent,
    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'
         THEN CAST(o_totalprice AS DECIMAL(28,2)) END) AS DOUBLE) AS high,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
         THEN CAST(o_totalprice AS DECIMAL(28,2)) END) AS DOUBLE) AS medium
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment
)
SELECT c_mktsegment, prio, amount FROM (
  SELECT c_mktsegment, 'urgent' AS prio, urgent AS amount FROM pivoted
  UNION ALL SELECT c_mktsegment, 'high', high FROM pivoted
  UNION ALL SELECT c_mktsegment, 'medium', medium FROM pivoted
)
WHERE amount IS NOT NULL
ORDER BY c_mktsegment, prio
""",
    description="PIVOT (wide per-priority totals via groupBy().pivot() with "
    "explicit value list — one aggregation pass, no per-value scans) then "
    "UNPIVOT back to long form (unpivot/stack, zero-shuffle Expand).  The "
    "explicit pivot value list matters at scale: without it Spark runs an "
    "extra distinct-values job over the fact table.",
)
def q25_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    wide = (
        j.groupBy("c_mktsegment")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(_dsum("o_totalprice"))
        .withColumnRenamed("1-URGENT", "urgent")
        .withColumnRenamed("2-HIGH", "high")
        .withColumnRenamed("3-MEDIUM", "medium")
    )
    return (
        wide.unpivot(
            ids=["c_mktsegment"],
            values=["urgent", "high", "medium"],
            variableColumnName="prio",
            valueColumnName="amount",
        )
        .filter(F.col("amount").isNotNull())
        .orderBy("c_mktsegment", "prio")
    )


@register(
    "q27_correlated_subquery",
    oracle="""
SELECT c_custkey, c_acctbal,
  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
  AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
ORDER BY c_custkey
""",
    description="Correlated subqueries: EXISTS predicate, correlated scalar "
    "COUNT, and an uncorrelated scalar AVG threshold.  Catalyst de-"
    "correlates these into joins (left-semi for EXISTS, aggregate+join for "
    "the scalar) — no per-row re-execution, unlike a naive evaluator.  "
    "AVG over doubles is hash-safe here because it only gates a filter on "
    "values far from the threshold, never lands in the output.",
)
def q27_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q27_{name}")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal,
          (SELECT COUNT(*) FROM q27_orders WHERE o_custkey = c_custkey)
            AS n_orders
        FROM q27_customer
        WHERE EXISTS (SELECT 1 FROM q27_orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
          AND c_acctbal > (SELECT AVG(c_acctbal) FROM q27_customer)
        ORDER BY c_custkey
        """
    )


@register(
    "q28_array_map_agg",
    oracle="""
SELECT n_name,
  array_to_string(list_transform(list(c_custkey ORDER BY c_custkey)[1:5],
       x -> CAST(x AS VARCHAR)), ',') AS first_custkeys,
  CAST(len(list(c_custkey)) AS BIGINT) AS n_customers,
  CAST(list_sum(list_transform(list(c_acctbal ORDER BY c_custkey)[1:5],
       x -> CAST(x AS DECIMAL(28,2)))) AS DOUBLE) AS top5_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    description="Array aggregation functions: per-group ordered collect "
    "(sorted for determinism — bare collect_list order is partition-"
    "dependent), array slice, and an exact decimal fold over the slice.  "
    "The array column is emitted as a comma-joined STRING: the driver's "
    "canonicalizer sorts/hashes pandas cells and dies on list cells "
    "(unhashable), so battery outputs are scalars-only by rule (enforced "
    "by tests/test_battery_contract.py).  The scale warning is explicit: "
    "collecting a group into an array is bounded-group-size work (top-5 "
    "here); unbounded groups need windows.",
)
def q28_array_map_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    pairs = F.array_sort(
        F.collect_list(F.struct("c_custkey", "c_acctbal"))
    )
    top5 = F.slice(pairs, 1, 5)
    top5_bal = (
        F.aggregate(
            F.transform(top5, lambda s: s["c_acctbal"].cast("decimal(28,2)")),
            F.lit(0).cast("decimal(28,2)"),
            # decimal + widens precision per step; re-cast keeps the
            # accumulator type fixed (exact: 5 values of acctbal magnitude)
            lambda acc, x: (acc + x).cast("decimal(28,2)"),
        )
        .cast("double")
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(top5, lambda s: s["c_custkey"].cast("string")), ","
            ).alias("first_custkeys"),
            F.size(pairs).cast("bigint").alias("n_customers"),
            top5_bal.alias("top5_bal"),
        )
        .orderBy("n_name")
    )


@register(
    "q29_range_frame_interval",
    oracle="""
SELECT o_orderkey, o_custkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
  CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
       RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS BIGINT)
    AS orders_trailing_30d
FROM orders
WHERE o_custkey < 100
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    description="RANGE window frame over event time (trailing 30-day count "
    "per customer) + date interval arithmetic — the value-based frame "
    "family q11's ROWS frame doesn't cover.",
)
def q29_range_frame_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    o.createOrReplaceTempView("q29_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
          date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
          date_format(o_orderdate + INTERVAL 90 DAY, 'yyyy-MM-dd') AS due_date,
          CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
               AS BIGINT) AS orders_trailing_30d
        FROM q29_orders
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    )


@register(
    "q30_null_semantics",
    oracle="""
WITH x AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS p1,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END AS p2
  FROM orders WHERE o_orderkey < 2000
)
SELECT o_orderkey, p1, p2,
  (p1 IS NOT DISTINCT FROM p2) AS null_safe_eq,
  (p1 IS DISTINCT FROM p2) AS null_safe_ne,
  CAST((p1 = p2) AS VARCHAR) AS plain_eq_3vl,
  COALESCE(p1, p2, '(none)') AS first_known
FROM x
ORDER BY o_orderkey
""",
    description="NULL semantics: null-safe equality (IS [NOT] DISTINCT "
    "FROM / <=>), three-valued logic of plain = rendered explicitly "
    "(true/false/NULL), and COALESCE chains — the comparison family "
    "everything from dedup keys to SCD joins depends on.",
)
def q30_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    p1 = F.when(F.col("o_orderkey") % 3 == 0, None).otherwise(
        F.col("o_orderpriority")
    )
    p2 = F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(
        F.col("o_orderpriority")
    )
    x = o.select("o_orderkey", p1.alias("p1"), p2.alias("p2"))
    return x.select(
        "o_orderkey",
        "p1",
        "p2",
        F.col("p1").eqNullSafe(F.col("p2")).alias("null_safe_eq"),
        (~F.col("p1").eqNullSafe(F.col("p2"))).alias("null_safe_ne"),
        (F.col("p1") == F.col("p2")).cast("string").alias("plain_eq_3vl"),
        F.coalesce("p1", "p2", F.lit("(none)")).alias("first_known"),
    ).orderBy("o_orderkey")


@register(
    "q32_histogram",
    oracle="""
WITH binned AS (
  SELECT LEAST(CAST(floor((o_totalprice - 0.0) / 60000.0) AS BIGINT), 9)
           AS bucket
  FROM orders
)
SELECT bucket,
       CAST(bucket * 60000.0 AS DOUBLE) AS bucket_lo,
       CAST((bucket + 1) * 60000.0 AS DOUBLE) AS bucket_hi,
       COUNT(*) AS n
FROM binned
GROUP BY bucket
ORDER BY bucket
""",
    description="Fixed-width histogram (10 bins over order totals) via "
    "floor arithmetic — the distribution-profiling aggregate.  Binning is "
    "a map-side projection; one shuffle carries 10 partial counts per "
    "partition regardless of data volume, so the histogram of 100 TB "
    "costs one scan.",
)
def q32_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    width = 60000.0
    bucket = F.least(
        F.floor((F.col("o_totalprice") - 0.0) / width).cast("bigint"), F.lit(9)
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(0.0) + F.col("bucket") * width).alias("bucket_lo"),
            (F.lit(0.0) + (F.col("bucket") + 1) * width).alias("bucket_hi"),
            "n",
        )
        .orderBy("bucket")
    )


@register(
    "q34_full_outer_reconcile",
    oracle="""
WITH o_daily AS (
  SELECT o_orderdate AS d, COUNT(*) AS n_orders
  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 11 = 0
  GROUP BY 1
),
l_daily AS (
  SELECT l_shipdate AS d, COUNT(*) AS n_ships
  FROM lineitem WHERE l_returnflag = 'R' AND l_orderkey % 13 = 0
  GROUP BY 1
)
SELECT strftime(COALESCE(o.d, l.d), '%Y-%m-%d') AS day,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(l.n_ships, 0) AS n_ships,
       CASE WHEN o.d IS NULL THEN 'ships_only'
            WHEN l.d IS NULL THEN 'orders_only'
            ELSE 'both' END AS presence
FROM o_daily o FULL OUTER JOIN l_daily l ON o.d = l.d
ORDER BY day
""",
    description="FULL OUTER JOIN reconciliation of two sparse daily "
    "aggregates — rows surviving from either side with COALESCEd keys and "
    "a presence flag: the audit/recon query shape (orders vs shipments).  "
    "Completes the join-type family: inner, left (q05), semi/anti (q13), "
    "cross (s01), as-of (q18), range (q19), full outer.",
)
def q34_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderkey") % 11 == 0)
        )
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_orderkey") % 13 == 0))
        .groupBy(F.col("l_shipdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_ships"))
    )
    oa, la = o.alias("o"), li.alias("l")
    presence = (
        F.when(F.col("o.d").isNull(), "ships_only")
        .when(F.col("l.d").isNull(), "orders_only")
        .otherwise("both")
    )
    return (
        oa.join(la, F.col("o.d") == F.col("l.d"), "full_outer")
        .select(
            F.date_format(F.coalesce(F.col("o.d"), F.col("l.d")), "yyyy-MM-dd")
            .alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
            presence.alias("presence"),
        )
        .orderBy("day")
    )


@register(
    "q35_not_in_null_trap",
    oracle="""
WITH keys AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_orderkey < 5000
)
SELECT 'not_in' AS variant, COUNT(*) AS n
FROM customer WHERE c_custkey NOT IN (SELECT k FROM keys)
UNION ALL
SELECT 'not_exists', COUNT(*)
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = c.c_custkey)
ORDER BY variant
""",
    description="The NOT IN null trap, side by side: one NULL in the "
    "subquery makes NOT IN return zero rows (three-valued logic), while "
    "NOT EXISTS gives the intended anti-join.  Physically this is Spark's "
    "null-aware anti join vs a plain left-anti — both engines implement "
    "the same ANSI semantics, verified by the paired counts.",
)
def q35_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("q35_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("q35_customer")
    return spark.sql(
        """
        WITH keys AS (
          SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
          FROM q35_orders WHERE o_orderkey < 5000
        )
        SELECT 'not_in' AS variant, COUNT(*) AS n
        FROM q35_customer WHERE c_custkey NOT IN (SELECT k FROM keys)
        UNION ALL
        SELECT 'not_exists', COUNT(*)
        FROM q35_customer c
        WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = c.c_custkey)
        ORDER BY variant
        """
    )


@register(
    "q36_explode_outer",
    oracle="""
WITH parts AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 5 = 0 THEN []
              ELSE string_split(p_name, ' ') END AS words
  FROM part WHERE p_partkey < 300
),
inner_exploded AS (
  SELECT p_partkey, unnest(words) AS word FROM parts
),
outer_exploded AS (
  SELECT p.p_partkey, w.word
  FROM parts p LEFT JOIN inner_exploded w ON p.p_partkey = w.p_partkey
)
SELECT 'inner' AS mode, COUNT(*) AS n_rows,
       COUNT(DISTINCT p_partkey) AS n_parts
FROM inner_exploded
UNION ALL
SELECT 'outer', COUNT(*), COUNT(DISTINCT p_partkey)
FROM outer_exploded
ORDER BY mode
""",
    description="explode vs explode_outer semantics: inner explode DROPS "
    "rows whose array is empty (every 5th part here), explode_outer keeps "
    "them with a NULL element — the row-preservation contract that "
    "matters when flattening optional nested data (a dropped parent row "
    "is silent data loss).  Verified via per-mode row and parent counts.",
)
def q36_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    words = F.when(
        F.col("p_partkey") % 5 == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.col("p_name"), " "))
    parts = p.select("p_partkey", words.alias("words"))
    inner = parts.select("p_partkey", F.explode("words").alias("word"))
    outer = parts.select("p_partkey", F.explode_outer("words").alias("word"))

    def summarize(df: DataFrame, mode: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("p_partkey").alias("n_parts"),
        ).select(F.lit(mode).alias("mode"), "n_rows", "n_parts")

    return summarize(inner, "inner").unionByName(
        summarize(outer, "outer")
    ).orderBy("mode")


@register(
    "q37_map_functions",
    oracle="""
WITH m AS (
  SELECT p_partkey,
         map(['size', 'retail_cents'],
             [CAST(p_size AS BIGINT), CAST(round(p_retailprice * 100) AS BIGINT)])
           AS attrs
  FROM part WHERE p_partkey < 300
)
SELECT p_partkey,
       element_at(attrs, 'size')[1] AS size_attr,
       element_at(attrs, 'retail_cents')[1] AS retail_cents,
       CAST(cardinality(attrs) AS INT) AS n_keys,
       map_keys(attrs)[1] AS first_key
FROM m
ORDER BY p_partkey
""",
    description="MAP column functions: construct (create_map), scalar "
    "lookup (element_at), cardinality, key enumeration — the attribute-bag "
    "type for sparse/evolving per-row metadata.  Dialect note the oracle "
    "encodes: DuckDB's map element access yields a LIST ([] on miss) where "
    "Spark yields a scalar (NULL on miss) — the [1] extraction reconciles "
    "them.  retail_cents is rounded to integer cents so the map value "
    "array is uniformly BIGINT in both engines.",
)
def q37_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    attrs = F.create_map(
        F.lit("size"),
        F.col("p_size").cast("bigint"),
        F.lit("retail_cents"),
        F.round(F.col("p_retailprice") * 100).cast("bigint"),
    )
    m = p.select("p_partkey", attrs.alias("attrs"))
    return m.select(
        "p_partkey",
        F.element_at(F.col("attrs"), F.lit("size")).alias("size_attr"),
        F.element_at(F.col("attrs"), F.lit("retail_cents")).alias(
            "retail_cents"
        ),
        F.size("attrs").alias("n_keys"),
        F.map_keys(F.col("attrs")).getItem(0).alias("first_key"),
    ).orderBy("p_partkey")


@register(
    "q38_string_agg",
    oracle="""
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
""",
    description="Ordered string aggregation (string_agg / listagg): "
    "per-region CSV of nation names.  Spark expresses it as "
    "array_join(array_sort(collect_list())) — the explicit sort is what "
    "makes the concatenation deterministic (bare collect order is "
    "partition-dependent), same reason DuckDB's ORDER BY clause exists.",
)
def q38_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


@register(
    "q39_regexp_groups",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 1) AS finish,
       regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 2) AS material,
       regexp_extract(p_type, '^(\\w+) (\\w+) (\\w+)$', 3) AS metal,
       CAST(regexp_matches(p_type, '^(\\w+) (\\w+) (\\w+)$') AS BOOLEAN)
         AS well_formed
FROM part WHERE p_partkey < 500
ORDER BY p_partkey
""",
    description="Regex capture-group extraction (parse structured codes "
    "out of freetext columns) + a well-formedness predicate — the "
    "column-splitting workhorse of ingest cleanup.  Pure JVM regex, "
    "map-side.",
)
def q39_regexp_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    pat = r"^(\w+) (\w+) (\w+)$"
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", pat, 1).alias("finish"),
        F.regexp_extract("p_type", pat, 2).alias("material"),
        F.regexp_extract("p_type", pat, 3).alias("metal"),
        F.col("p_type").rlike(pat).alias("well_formed"),
    ).orderBy("p_partkey")


@register(
    "q40_union_by_name",
    oracle="""
WITH a AS (
  SELECT n_nationkey AS entity_id, n_name AS name, 'nation' AS kind
  FROM nation
),
b AS (
  SELECT r_regionkey AS entity_id, r_name AS name,
         CAST(r_regionkey * 100 AS BIGINT) AS extra_code
  FROM region
)
SELECT entity_id, name,
       COALESCE(kind, '(none)') AS kind,
       COALESCE(extra_code, -1) AS extra_code
FROM (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
ORDER BY kind, entity_id
""",
    description="Schema-flexible union (unionByName with "
    "allowMissingColumns / UNION ALL BY NAME): sides contribute different "
    "column sets, matched by NAME not position, missing columns "
    "null-filled — the append-heterogeneous-batches operator positional "
    "UNION silently corrupts.",
)
def q40_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("entity_id"),
        F.col("n_name").alias("name"),
        F.lit("nation").alias("kind"),
    )
    r = table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("entity_id"),
        F.col("r_name").alias("name"),
        (F.col("r_regionkey") * 100).cast("bigint").alias("extra_code"),
    )
    u = n.unionByName(r, allowMissingColumns=True)
    return u.select(
        "entity_id",
        "name",
        F.coalesce("kind", F.lit("(none)")).alias("kind"),
        F.coalesce("extra_code", F.lit(-1)).alias("extra_code"),
    ).orderBy("kind", "entity_id")


@register(
    "q41_set_ops_all",
    oracle="""
WITH a AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0),
b AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0)
SELECT 'intersect_all' AS op, p, COUNT(*) AS n FROM (
  SELECT p FROM a INTERSECT ALL SELECT p FROM b
) GROUP BY p
UNION ALL
SELECT 'except_all', p, COUNT(*) FROM (
  SELECT p FROM a EXCEPT ALL SELECT p FROM b
) GROUP BY p
ORDER BY op, p
""",
    description="Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL — "
    "intersectAll/exceptAll): multiplicities are min(m,n) and max(m-n,0) "
    "per value, vs q12's distinct set semantics.  The difference is what "
    "makes EXCEPT ALL usable as a row-level diff between two loads of the "
    "same table (each surplus duplicate surfaces once).",
)
def q41_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderpriority").alias("p")
    )
    b = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderpriority").alias("p")
    )

    def counted(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("p").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "p", "n"
        )

    return counted(a.intersectAll(b), "intersect_all").unionByName(
        counted(a.exceptAll(b), "except_all")
    ).orderBy("op", "p")


@register(
    "q43_rank_family",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       ntile(4) OVER w AS quartile
FROM orders
WHERE o_custkey < 40
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
ORDER BY o_custkey, o_totalprice, o_orderkey
""",
    description="The remaining analytic rank family beyond q10's "
    "row_number/rank/dense_rank: percent_rank ((rank-1)/(n-1)), cume_dist, "
    "and ntile quartiles — distribution-position analytics.  The total "
    "ORDER BY tie-break (price, then key) keeps every rank deterministic; "
    "the divisions are the same two integers in both engines, so the "
    "doubles match bit-for-bit.",
)
def q43_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 40)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_custkey", "o_totalprice", "o_orderkey")


@register(
    "q44_arg_extremes",
    oracle="""
SELECT c_mktsegment,
       arg_max(o_orderkey, o_totalprice * 1000000 + o_orderkey)
         AS priciest_order,
       arg_min(o_orderkey, o_totalprice * 1000000 + o_orderkey)
         AS cheapest_order,
       MAX(o_totalprice) AS max_price,
       MIN(o_totalprice) AS min_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    description="Argmax/argmin aggregates (max_by/min_by, arg_max/arg_min): "
    "which ORDER is the priciest per segment, in one aggregation pass — no "
    "self-join back, no window.  Ties are broken deterministically by "
    "folding the unique order key into the ordering scalar (price in "
    "micro-units + key stays exact in a double far below 2^53); DuckDB's "
    "arg_max has no lexicographic form, so the scalar IS the portable "
    "spelling.",
)
def q44_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    ordkey = F.col("o_totalprice") * 1000000 + F.col("o_orderkey")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.max_by("o_orderkey", ordkey).alias("priciest_order"),
            F.min_by("o_orderkey", ordkey).alias("cheapest_order"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_totalprice").alias("min_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q45_grouping_sets",
    oracle="""
SELECT COALESCE(n_name, '(all)') AS nation,
       COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), '(all)') AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, EXTRACT(year FROM o_orderdate)),
                        (n_name), (EXTRACT(year FROM o_orderdate)))
ORDER BY nation, order_year
""",
    description="Explicit GROUPING SETS (beyond ROLLUP q14 / CUBE q21): "
    "three chosen aggregation granularities in ONE pass — Spark expands "
    "them in a single Expand+HashAggregate, i.e. one scan and one "
    "shuffle instead of three scans unioned.  The year is re-rendered "
    "to string so the COALESCE '(all)' sentinel types identically in "
    "both engines.",
)
def q45_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.io_tables import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation"))
    return spark.sql(
        """
SELECT COALESCE(n_name, '(all)') AS nation,
       COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS STRING), '(all)') AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, EXTRACT(year FROM o_orderdate)),
                        (n_name), (EXTRACT(year FROM o_orderdate)))
ORDER BY nation, order_year
"""
    )


@register(
    "q46_ignore_nulls_fill",
    oracle="""
WITH flagged AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CASE WHEN o_orderpriority = '1-URGENT' THEN o_orderkey END AS urgent_key
  FROM orders WHERE o_custkey < 200
)
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       last_value(urgent_key IGNORE NULLS) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_urgent_key
FROM flagged
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    description="IGNORE NULLS window fill: carry the most recent non-null "
    "value forward within each ordered partition (the forward-fill / "
    "last-observation-carried-forward primitive; q31's gap-fill joins a "
    "calendar, this fills over EXISTING rows).  Spark spells it "
    "F.last(col, ignorenulls=True); both engines evaluate one window "
    "pass, no self-join.",
)
def q46_ignore_nulls_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    urgent = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_orderkey")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.last(urgent, ignorenulls=True).over(w).alias("last_urgent_key"),
        )
        .orderBy("o_custkey", "order_date", "o_orderkey")
    )


@register(
    "q47_bitwise_agg",
    oracle="""
SELECT l_returnflag,
       bit_or(CAST(l_linenumber AS BIGINT)) AS flags_or,
       bit_and(CAST(l_linenumber AS BIGINT)) AS flags_and,
       bit_xor(CAST(l_linenumber AS BIGINT)) AS flags_xor,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Bitwise aggregates (bit_or/bit_and/bit_xor) — the "
    "flag-set union/intersection idiom (e.g. merging permission or "
    "feature bitmasks per key).  Fully map-side combinable: associative "
    "and commutative, so the shuffle carries one partial per group per "
    "partition.",
)
def q47_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = F.col("l_linenumber").cast("bigint")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bit_or(v).alias("flags_or"),
            F.bit_and(v).alias("flags_and"),
            F.bit_xor(v).alias("flags_xor"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q48_shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1997-01-01'
  AND l_shipdate > DATE '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    description="TPC-H Q3 (shipping priority): segment-filtered customer "
    "x orders x lineitem 3-way join, decimal-exact revenue agg, top-10. "
    "The scale shape: both filters push into the parquet scans BEFORE "
    "the joins, customer (post-filter) broadcasts, and the final top-k "
    "is TakeOrderedAndProject — no global sort of the aggregate.",
)
def q48_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    revenue = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, 12)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("order_date"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q49_latest_record_dedup",
    oracle="""
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
)
SELECT o_custkey,
       o_orderkey AS latest_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date,
       o_totalprice AS latest_totalprice
FROM ranked WHERE rn = 1
ORDER BY o_custkey
""",
    description="Latest-record-wins dedup (CDC compaction / SCD1): "
    "row_number over (key ORDER BY ts DESC, id DESC) = 1 — the standard "
    "one-shuffle way to reduce a change stream to current state.  q33 "
    "keeps full SCD2 history; this keeps only the head.  At scale the "
    "single window shuffle on the key replaces a self-join max + "
    "re-join.",
)
def q49_latest_record_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_order_date"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
        .orderBy("o_custkey")
    )


@register(
    "q50_higher_order_funcs",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
)
SELECT doc_id,
  CAST(len(list_filter(ws, x -> length(x) > 4)) AS BIGINT) AS n_long,
  CAST(list_max(list_prepend(0, list_transform(ws, x -> length(x))))
       AS BIGINT) AS max_token_len,
  -- list_max, not list_reduce: DuckDB's vectorized list_reduce misaligns
  -- accumulator values across rows in large batches (verified: single-row
  -- probes agree, full-table runs shuffle results between rows).  The
  -- Spark side keeps the genuine F.aggregate fold; max == fold-of-max.
  CAST(CASE WHEN len(list_filter(ws, x -> x = 'spark')) > 0
       THEN 1 ELSE 0 END AS BOOLEAN) AS has_spark,
  CAST(CASE WHEN len(list_filter(ws, x -> length(x) = 0)) = 0
       THEN 1 ELSE 0 END AS BOOLEAN) AS all_nonempty,
  COALESCE(array_to_string(list_sort(list_distinct(
       list_filter(ws, x -> length(x) >= 6))), ','), '') AS long_vocab
  -- COALESCE: DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
FROM w
ORDER BY doc_id
""",
    description="Higher-order array functions as first-class relational "
    "surface: filter, fold (reduce/aggregate), exists, forall, and a "
    "sorted-distinct projection — all evaluated ARRAY-SIDE in one "
    "projection, zero shuffles, zero explodes.  (exists/forall are "
    "spelled as filter-counts in both engines so the boolean logic is "
    "identical.)  The fold runs left-to-right in both engines, so even "
    "non-commutative accumulators would agree.",
)
def q50_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    lens = F.transform(F.col("ws"), lambda x: F.length(x))
    return d.select(
        "doc_id",
        F.size(F.filter(F.col("ws"), lambda x: F.length(x) > 4))
        .cast("bigint")
        .alias("n_long"),
        F.aggregate(
            lens,
            F.lit(0),
            lambda acc, x: F.when(x > acc, x).otherwise(acc),
        )
        .cast("bigint")
        .alias("max_token_len"),
        (F.size(F.filter(F.col("ws"), lambda x: x == "spark")) > 0).alias(
            "has_spark"
        ),
        (F.size(F.filter(F.col("ws"), lambda x: F.length(x) == 0)) == 0).alias(
            "all_nonempty"
        ),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter(F.col("ws"), lambda x: F.length(x) >= 6)
                )
            ),
            ",",
        ).alias("long_vocab"),
    ).orderBy("doc_id")


@register(
    "q51_salted_skew_agg",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Skew-safe two-stage aggregation: stage 1 aggregates by "
    "(key, salt) — a deterministic hash-derived salt spreads each hot "
    "key over N partitions — stage 2 merges the partials by key.  The "
    "oracle is the PLAIN single-stage GROUP BY: the point of the query "
    "is proving the salted decomposition is semantically invisible "
    "(counts add, decimal sums add, maxes max).  l_returnflag has 3 "
    "values across all of lineitem — exactly the cardinality collapse "
    "where one reducer would own a third of 100 TB without salting.  "
    "(AQE skew-split handles moderate skew; explicit salting is the "
    "escape hatch when one KEY exceeds an executor.)",
)
def q51_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.operators.scale import salt_column

    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "__salt", salt_column(F.col("l_orderkey"), F.col("l_linenumber"), parts=16)
    )
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(_dec("l_quantity", 2, 4)).alias("psum"),  # qty <= 50: long-backed
        F.max("l_extendedprice").alias("pmax"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            F.sum("psum").cast("double").alias("sum_qty"),
            F.max("pmax").cast("double").alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q54_recursive_year_ladder",
    oracle="""
WITH RECURSIVE years(m, hi) AS (
  -- the max bound rides along in the recursion so the stop condition is
  -- a column compare, not a scalar subquery re-executed every step
  SELECT date_trunc('year', MIN(o_orderdate)),
         date_trunc('year', MAX(o_orderdate)) FROM orders
  UNION ALL
  SELECT m + INTERVAL 1 YEAR, hi FROM years WHERE m < hi
)
SELECT strftime(m, '%Y') AS year,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
FROM years
LEFT JOIN (
  SELECT date_trunc('year', o_orderdate) AS om, COUNT(*) AS n
  FROM orders GROUP BY om
) c ON c.om = years.m
ORDER BY year
""",
    description="Recursive CTE (new in Spark 4): a year ladder generated "
    "by recursion from min to max order date, left-joined to per-year "
    "counts so empty years surface as zeros (each recursion step is a sequential Spark job, so the ladder is deliberately COARSE — recursion depth, not data size, is the cost driver) — the recursion-as-series "
    "twin of q31's sequence()-based gap fill, proving the iterative SQL "
    "surface matches the oracle's recursion semantics (row-per-step, "
    "UNION ALL, correlated stop condition).",
)
def q54_recursive_year_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.io_tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
WITH RECURSIVE years(m, hi) AS (
  SELECT date_trunc('year', MIN(o_orderdate)),
         date_trunc('year', MAX(o_orderdate)) FROM orders
  UNION ALL
  SELECT m + INTERVAL 1 YEAR, hi FROM years WHERE m < hi
)
SELECT date_format(m, 'yyyy') AS year,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
FROM years
LEFT JOIN (
  SELECT date_trunc('year', o_orderdate) AS om, COUNT(*) AS n
  FROM orders GROUP BY om
) c ON c.om = years.m
ORDER BY year
"""
    )


@register(
    "q55_lateral_topn",
    oracle="""
SELECT r.r_name, t.n_name, t.n_customers
FROM region r,
LATERAL (
  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, n.n_name
  LIMIT 2
) t
ORDER BY r.r_name, t.n_customers DESC, t.n_name
""",
    description="LATERAL correlated subquery (per-row top-N without a "
    "window): for every region, the two nations with the most customers "
    "— the 'top-N per group as a join' spelling.  Catalyst decorrelates "
    "the lateral into a join + per-group limit; the window spelling "
    "(q10/q49) is usually the faster plan at scale, and having BOTH "
    "oracle-verified pins their equivalence.",
)
def q55_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.io_tables import register_views

    register_views(spark, sf_dir, ("region", "nation", "customer"))
    return spark.sql(
        """
SELECT r.r_name, t.n_name, t.n_customers
FROM region r,
LATERAL (
  SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, n.n_name
  LIMIT 2
) t
ORDER BY r.r_name, t.n_customers DESC, t.n_name
"""
    )


@register(
    "q56_local_supplier_volume",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1994-01-01'
  AND o_orderdate < DATE '1996-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    description="TPC-H Q5 (local supplier volume): a SIX-way join — "
    "lineitem x orders x customer x supplier x nation x region — with "
    "the customer-nation = supplier-nation co-location constraint.  The "
    "scale shape: the date filter pushes into the orders scan and the "
    "region filter prunes nation/region BEFORE they broadcast; the only "
    "big-big joins are lineitem-orders and the suppkey join, both keyed "
    "on the fact table's own keys; everything else rides broadcasts.  "
    "Decimal-exact revenue, total-order output.",
)
def q56_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, 12)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q57_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1997-01-01'
  AND o_orderdate <  DATE '1997-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    description="TPC-H Q10 (returned-item reporting, adapted to the "
    "fixture schema): one quarter of orders x returned lineitems x "
    "customer x nation, decimal-exact lost-revenue per customer, "
    "top-20.  Scale shape: the returnflag and date predicates push "
    "into both fact scans BEFORE the join (the quarter prunes orders "
    "to ~4% of rows), nation broadcasts, and the top-k is "
    "TakeOrderedAndProject — never a global sort of the aggregate "
    "(reference: transform.sql pass-through surface, SURVEY §2.3 — "
    "DuckDB would plan this the same way; Spark must not do worse).",
)
def q57_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    revenue = _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, 12)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            revenue.alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q58_forecast_revenue",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
            AS DOUBLE) AS promo_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1997-01-01'
  AND l_shipdate <  DATE '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    description="TPC-H Q6 (forecasting revenue change): pure scan-side "
    "selection — a year of shipments, a discount band, a quantity cap — "
    "then one decimal-exact scalar aggregate.  The per-row product is "
    "IEEE double (bit-identical in both engines) cast to decimal before "
    "summing, so the global sum is order-independent.  Scale shape: "
    "ALL three predicates reach the parquet reader (PushedFilters + "
    "min/max row-group pruning on l_shipdate); the aggregate is "
    "map-side partial + one scalar exchange — the canonical "
    "full-scan-to-one-number query.",
)
def q58_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"), 6, 12).alias(
            "promo_revenue"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@register(
    "q59_salted_skew_join",
    oracle="""
WITH dim AS (
  SELECT DISTINCT l_returnflag AS flag,
         'class_' || l_returnflag AS flag_class
  FROM lineitem
)
SELECT d.flag_class,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN dim d ON d.flag = l.l_returnflag
GROUP BY d.flag_class
ORDER BY d.flag_class
""",
    description="Skew-safe SALTED JOIN (the join twin of q51's salted "
    "aggregation): the fact side carries a deterministic hash salt, the "
    "dim side is replicated once per salt value (explode over "
    "sequence), and the join key becomes (key, salt) — 3 hot returnflag "
    "values spread over 3x16 shuffle groups instead of 3.  A "
    "SHUFFLE_HASH hint forces the shuffle path (broadcasting a 3-row "
    "dim would of course win here; the entry exists for the regime "
    "where BOTH sides are too big to broadcast and one key exceeds an "
    "executor — AQE skew-split handles moderate skew, explicit salting "
    "is the escape hatch).  The oracle is the PLAIN join: the salted "
    "decomposition must be semantically invisible.",
)
def q59_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from agentic_etl_poc_spark.operators.scale import salt_column

    PARTS = 16
    li = table(spark, sf_dir, "lineitem")
    dim = (
        li.select(F.col("l_returnflag").alias("flag"))
        .distinct()
        .withColumn("flag_class", F.concat(F.lit("class_"), F.col("flag")))
    )
    salted = li.withColumn(
        "__salt",
        salt_column(F.col("l_orderkey"), F.col("l_linenumber"), parts=PARTS),
    )
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(PARTS - 1)))
    )
    joined = salted.join(
        dim_rep.hint("shuffle_hash"),
        (salted["l_returnflag"] == dim_rep["flag"])
        & (salted["__salt"] == dim_rep["__salt"]),
    )
    return (
        joined.groupBy("flag_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            _dsum("l_quantity", 2, 4).alias("sum_qty"),
        )
        .orderBy("flag_class")
    )


@register(
    "q60_dynamic_partition_pruning",
    oracle="""
SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
FROM orders
WHERE year(o_orderdate) = 1997
GROUP BY 1
ORDER BY month
""",
    description="Dynamic partition pruning made battery-visible: orders "
    "is staged ONCE per data dir as a parquet table PARTITIONED BY order "
    "year alongside a tiny year-dimension table; the query joins fact to "
    "the dim filtered on a dim-side attribute (year_tag = 'Y1997'), so "
    "the fact's pruning predicate is only known AT RUNTIME — Catalyst "
    "inserts a dynamicpruningexpression into the fact scan's partition "
    "filters (asserted by a plan-shape test), reusing the dim's "
    "broadcast as the subquery, and the scan reads ONE year's partition "
    "directory instead of all of them.  At 100 TB, date-partitioned "
    "facts joined through filtered dims are THE warehouse access path; "
    "DPP is what turns those joins into partition-local scans.  Oracle: "
    "the same aggregate over the unpartitioned source with the year "
    "predicate applied statically.",
)
def q60_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage(root: str) -> None:
        o = table(spark, sf_dir, "orders")
        o.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
            "o_year"
        ).parquet(f"{root}/orders_by_year")
        (
            o.select(F.year("o_orderdate").alias("year"))
            .distinct()
            .withColumn("year_tag", F.concat(F.lit("Y"), F.col("year")))
            .coalesce(1)
            .write.parquet(f"{root}/year_dim")
        )

    root = staged(sf_dir, "q60", ["orders"], stage)
    fact = read_parquet(spark, f"{root}/orders_by_year")
    dim = read_parquet(spark, f"{root}/year_dim").filter(
        F.col("year_tag") == "Y1997"
    )
    return (
        fact.join(F.broadcast(dim), fact["o_year"] == dim["year"])
        .groupBy(F.month("o_orderdate").cast("bigint").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            _dsum("o_totalprice", 6, 12).alias("total"),
        )
        .orderBy("month")
    )


@register(
    "q61_small_quantity_avg",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
            / 7.0 AS DOUBLE) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND p_size <= 15
  AND l_quantity < 0.2 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = p_partkey)
""",
    description="TPC-H Q17 shape (small-quantity-order revenue, adapted "
    "to the fixture schema: p_size<=15 stands in for p_container): a "
    "correlated AGGREGATE subquery — each lineitem survives only if its "
    "quantity is below 20% of that part's average quantity.  Written as "
    "the correlated form on BOTH engines so the battery pins the "
    "decorrelation Catalyst must perform: the subquery becomes ONE "
    "per-partkey aggregate over lineitem joined back to the filtered "
    "fact — never per-row re-execution (q27 covers scalar correlation; "
    "this is the aggregate-then-rejoin case real workloads hit "
    "constantly).  Hash-safe despite AVG-over-double: l_quantity is "
    "integer-valued (1..50), so the double SUM feeding AVG is exact in "
    "any order and the IEEE divide + 0.2 multiply are bit-identical "
    "across engines; the output revenue is a decimal-exact sum.  Scale "
    "shape: the brand/size predicate prunes part BEFORE either join, "
    "the pruned part side broadcasts into both the fact filter and the "
    "per-part average (Catalyst pushes the join down), and the final "
    "aggregate is a scalar map-side reduce.",
)
def q61_small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q61_{name}")
    return spark.sql(
        """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
                    AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM q61_lineitem
        JOIN q61_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND p_size <= 15
          AND l_quantity < 0.2 * (SELECT AVG(l2.l_quantity)
                                  FROM q61_lineitem l2
                                  WHERE l2.l_partkey = p_partkey)
        """
    )


@register(
    "q62_large_volume_customers",
    oracle="""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
""",
    description="TPC-H Q18 (large-volume customers): membership in an "
    "IN-subquery whose body is a grouped HAVING aggregate over the SAME "
    "fact table — the classic self-referential filter.  Catalyst plans "
    "the subquery as ONE aggregation of lineitem reduced to qualifying "
    "orderkeys joined back as a left-semi join (never re-executing per "
    "row), then the survivors re-aggregate with customer/orders context. "
    "Decimal-exact quantity sums on both sides of the HAVING threshold "
    "so membership cannot drift between engines; the date lands as a "
    "formatted string (raw DATE/TIMESTAMP dtypes skew between Spark and "
    "DuckDB pandas rendering).  Scale shape: both lineitem passes are "
    "map-side partial aggregations keyed on l_orderkey; the semi-join "
    "key set (~0.3% of orders at the 250 threshold) broadcasts; top-20 "
    "is TakeOrderedAndProject.",
)
def q62_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders", "lineitem"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q62_{name}")
    return spark.sql(
        """
        SELECT c_custkey, c_name, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE)
                 AS sum_qty
        FROM q62_customer
        JOIN q62_orders   ON c_custkey = o_custkey
        JOIN q62_lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM q62_lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 250
        )
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
        """
    )


@register(
    "q63_suppliers_kept_waiting",
    oracle="""
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 75 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    description="TPC-H Q21 shape (suppliers who kept orders waiting, "
    "adapted: 'late' = shipped >75 days after the order date, since the "
    "fixture lacks commit/receipt dates): the hardest decorrelation "
    "pattern in the TPC-H suite — an EXISTS (another supplier "
    "participated in the order) AND a NOT EXISTS (no OTHER supplier was "
    "ALSO late) against the same fact, the second one correlating on "
    "BOTH the outer lineitem's orderkey and the outer ORDER's date.  "
    "Catalyst must plan these as one left-semi and one left-anti join "
    "keyed on l_orderkey — per-row re-execution would scan lineitem "
    "twice per late item.  Written correlated on both engines so the "
    "oracle hash pins the decorrelated semantics (the NULL-free "
    "anti-join here is safe: l_suppkey/l_shipdate are non-null).  Scale "
    "shape: all three lineitem branches shuffle once on l_orderkey "
    "(co-partitioned joins), the 100-row supplier dim broadcasts, and "
    "the status/lateness predicates push into the scans.",
)
def q63_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("supplier", "orders", "lineitem"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q63_{name}")
    return spark.sql(
        """
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM q63_supplier
        JOIN q63_lineitem l1 ON l1.l_suppkey = s_suppkey
        JOIN q63_orders o    ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
          AND EXISTS (SELECT 1 FROM q63_lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM q63_lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate >
                                o.o_orderdate + INTERVAL 75 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


@register(
    "q64_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    description="TPC-H Q13 (customer distribution, adapted: the "
    "order-comment NOT LIKE filter becomes an order-priority exclusion "
    "since the fixture has no comments): how many customers placed "
    "0, 1, 2, ... qualifying orders — the double-aggregation histogram "
    "whose OUTER join is load-bearing (customers with zero orders must "
    "appear in the 0 bucket; an inner join silently drops them, the "
    "classic Q13 trap).  COUNT(o_orderkey) — not COUNT(*) — over the "
    "null-extended rows is what makes the zero bucket exact.  Scale "
    "shape: the priority predicate lands INSIDE the join condition "
    "(filtering before the join would turn matched-but-excluded "
    "customers into dropped rows instead of zero-count rows — "
    "semantics, not style), the first aggregate shuffles once on "
    "c_custkey, and the second histogram aggregate reduces ~order-"
    "count-distinct rows — tiny.",
)
def q64_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q65_bucketed_colocated_join",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
ORDER BY nation
""",
    description="BUCKETED co-located join — the zero-shuffle join layout "
    "100 TB warehouses are built on: orders and customer are staged once "
    "per (session, fixture) as bucketed+sorted tables (bucketBy(8, "
    "custkey), external path, fixture-fingerprinted tag so regenerated "
    "fixtures restage under a fresh name), and the fact-dim join then "
    "needs NO exchange on either side — both scans already deliver "
    "hashpartitioning(custkey, 8), so the SortMergeJoin consumes them "
    "in place and the ONLY exchange in the whole plan is the post-join "
    "re-key for the nation aggregate (plan-shape-asserted in "
    "tests/test_plan_shapes.py; the merge hint pins SMJ so AQE's "
    "broadcast of the small fixture dim doesn't mask the bucketing — "
    "at warehouse scale NEITHER side broadcasts and bucketing is the "
    "only thing standing between you and reshuffling 100 TB per join). "
    "The catalog note that matters operationally: bucket METADATA lives "
    "in the session catalog (in-memory here), so each new session "
    "re-registers the tables; with a shared metastore the staging is "
    "write-once.  Oracle: the same join/aggregate over the plain "
    "parquet — bucketing must be semantically invisible.",
)
def q65_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    def stage(root: str) -> None:
        tag = os.path.basename(root)
        for src, key, sub in (
            ("orders", "o_custkey", "orders"),
            ("customer", "c_custkey", "cust"),
        ):
            if not spark.catalog.tableExists(f"q65_{sub}_{tag}"):
                # files written under another session lack this
                # session's catalog metadata
                shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
                (
                    table(spark, sf_dir, src)
                    .write.bucketBy(8, key)
                    .sortBy(key)
                    .option("path", os.path.join(root, sub))
                    .saveAsTable(f"q65_{sub}_{tag}")
                )

    root = staged(sf_dir, "q65", ["orders", "customer"], stage)
    # the bucket spec lives in the session catalog: a session that did
    # not build the copy registers it again
    stage(root)
    tag = os.path.basename(root)
    t_orders, t_cust = f"q65_orders_{tag}", f"q65_cust_{tag}"
    j = spark.table(t_orders).hint("merge").join(
        spark.table(t_cust), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        j.groupBy(F.col("c_nationkey").cast("bigint").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            _dsum("o_totalprice", 6, 12).alias("total"),
        )
        .orderBy("nation")
    )


@register(
    "q66_bloom_runtime_filter",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    description="Runtime BLOOM-FILTER join pruning (the row-level "
    "sibling of q60's dynamic partition pruning): a selective dim "
    "filter (urgent orders, ~20%) joined into the fact over a "
    "non-broadcast SortMergeJoin — Spark builds a bloom filter from "
    "the filtered dim's join keys at runtime and injects "
    "might_contain(xxhash64(l_orderkey)) into the FACT SCAN, so "
    "non-matching fact rows die before the shuffle instead of after "
    "the join (tests/test_plan_shapes.py asserts bloom_filter_agg + "
    "might_contain in the optimized plan).  The entry executes under "
    "a scoped conf (applicationSideScanSizeThreshold=0 — the 10 GB "
    "production default exists precisely because the filter only pays "
    "for itself on big scans; at 100 TB the default fires on its own) "
    "and stages the result once per fixture fingerprint, restoring the "
    "session confs — leaving the threshold at 0 session-wide would "
    "inject bloom aggs into every later shuffle join.  The oracle is "
    "the plain join: the filter must be semantically invisible.",
)
def q66_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage(root: str) -> None:
        with bloom_filter_scope(spark):
            bloom_join_frame(spark, sf_dir).write.parquet(f"{root}/result")

    root = staged(sf_dir, "q66", ["lineitem", "orders"], stage)
    return read_parquet(spark, f"{root}/result").orderBy("l_returnflag")


@contextlib.contextmanager
def bloom_filter_scope(spark: SparkSession):
    """Scope the bloom-filter application-side threshold to a block and
    restore it: the 10 GB default exists so the filter only pays for
    itself on big scans; tests/smoke scales must opt in explicitly, and
    leaving it at 0 session-wide would inject bloom aggregates into
    every subsequent shuffle join."""
    keys = {
        # the 10 GB production default: the filter only pays for itself
        # on big scans — smoke scales opt in
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # InjectRuntimeFilter declines when the creation side is
        # broadcastable (a BHJ prunes at the join anyway); a 100 TB dim
        # is NOT broadcastable, so the honest demo disables broadcast
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy join/aggregate the bloom filter injects into (shared by
    the q66 entry and the plan-shape assertion)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # merge hint + scoped broadcast-off: SMJ is the both-sides-big regime
    # this entry models (broadcast dims prune at the join anyway)
    return (
        li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            _dsum("l_extendedprice", 6, 12).alias("revenue"),
        )
    )


@register(
    "q67_variant_extract",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="Spark 4 VARIANT type (the open-format semi-structured "
    "column): event rows are re-serialized to nested JSON in-engine "
    "(to_json over structs), parsed to VARIANT (parse_json), and every "
    "analyzed field is extracted back through typed variant_get paths "
    "('$.who.u' bigint, '$.who.v' double, '$.t' string) alongside a "
    "second VARIANT parsed from the raw props JSON column ('$.k' int). "
    "The oracle aggregates the ORIGINAL columns — so the hash proves "
    "the construct→parse→shred round-trip is lossless, including the "
    "double (JSON shortest-repr rendering parses back bit-exact) and "
    "the decimal totals.  Scale shape: VARIANT's binary encoding makes "
    "path extraction O(field) without re-tokenizing text JSON per "
    "access — the semi-structured scan layout engines shred at the "
    "reader at 100 TB; everything here is one map-side projection plus "
    "one aggregate exchange.",
)
def q67_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.col("user_id").alias("u"), F.col("value").alias("v")
            ).alias("who"),
        )
    )
    v = F.parse_json(doc)
    pk = F.parse_json(F.col("props"))
    shredded = ev.select(
        F.try_variant_get(v, "$.t", "string").alias("t"),
        F.try_variant_get(v, "$.who.u", "bigint").alias("u"),
        F.try_variant_get(v, "$.who.v", "double").alias("val"),
        F.try_variant_get(pk, "$.k", "int").alias("k"),
    )
    return (
        shredded.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("u").cast("bigint").alias("n_users"),
            F.sum(F.col("val").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q68_late_shipment_priority",
    oracle="""
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= DATE '1998-01-01'
  AND l_shipdate <  DATE '1999-01-01'
GROUP BY ship_bucket
ORDER BY ship_bucket
""",
    description="TPC-H Q12 shape (shipping modes and order priority, "
    "adapted: the fixture has no l_shipmode/l_receiptdate, so the "
    "grouping bucket is shipment LATENESS — shipped more than 60 days "
    "after the order date — computed from columns of BOTH join sides). "
    "The pattern is the classic priority cross-tab: one fact-dim join, "
    "a derived group key, and two complementary CASE-sum conditional "
    "aggregates in a single pass (never two filtered scans).  Scale "
    "shape: the ship-year predicate reaches the lineitem scan, the "
    "join shuffles once on orderkey, and both conditional counts fold "
    "into ONE partial aggregate per partition — two output cells, no "
    "second shuffle.",
)
def q68_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.when(late, "LATE").otherwise("ONTIME").alias("ship_bucket"),
            high.alias("is_high"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~F.col("is_high"), 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@register(
    "q69_promo_revenue_share",
    oracle="""
SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                 ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(28,6))) AS DOUBLE)
            AS DOUBLE) AS promo_revenue_pct,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS total_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= DATE '1997-09-01'
  AND l_shipdate <  DATE '1997-10-01'
""",
    description="TPC-H Q14 (promotion effect): one month of shipments "
    "joined to part, and the answer is a RATIO of two conditional "
    "aggregates computed in the same pass — promo revenue over total "
    "revenue.  Determinism: each revenue is a decimal-exact sum of the "
    "IEEE per-row product; the final 100*promo/total is one double "
    "multiply + divide over two bit-identical operands, so both engines "
    "emit the same double.  Scale shape: the month predicate prunes the "
    "fact scan to ~1/80 of rows BEFORE the join, part broadcasts "
    "(200-byte rows x p_partkey count), and the two CASE-sums fold into "
    "one partial aggregate — the entire query is scan -> broadcast-hash "
    "-> one scalar exchange.",
)
def q69_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(28,6)"
    )
    zero = F.lit(0).cast("decimal(28,6)")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
                "double"
            )
            / F.sum(rev).cast("double")
        )
        .cast("double")
        .alias("promo_revenue_pct"),
        F.sum(rev).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )


@register(
    "q70_disjunctive_predicate_join",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
    description="TPC-H Q19 shape (discounted revenue, disjunctive "
    "predicates; p_container/l_shipmode absent from the fixture, so the "
    "three arms select on brand+size+quantity): an OR of three "
    "conjunctive arms, each arm mixing columns from BOTH sides of the "
    "join — the canonical test that the optimizer splits a disjunction "
    "into residual join predicates instead of materializing the full "
    "join.  Catalyst extracts the common join key (p_partkey = "
    "l_partkey), pushes the per-side implied filters (brand IN (...), "
    "quantity ranges) down to the scans, and evaluates the cross-side "
    "disjunction as a post-join filter on the (broadcast) hash join.  "
    "Scale shape: part prunes to three brands before broadcasting; "
    "lineitem's quantity envelope (1..30) reaches the parquet reader "
    "as a pushed range filter.",
)
def q70_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q70_{name}")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM q70_lineitem
        JOIN q70_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
        """
    )


@register(
    "q71_important_part_values",
    oracle="""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_regionkey = 2
  GROUP BY l_partkey, l_suppkey
)
SELECT l_partkey AS partkey, CAST(SUM(value) AS DOUBLE) AS part_value
FROM supply
GROUP BY l_partkey
HAVING CAST(SUM(value) AS DOUBLE) >
       CAST((SELECT SUM(value) FROM supply) AS DOUBLE) / 1000.0
ORDER BY part_value DESC, partkey
LIMIT 50
""",
    description="TPC-H Q11 shape (important stock identification; the "
    "fixture has no partsupp, so the part-supplier link and its value "
    "are DERIVED from lineitem — supplied value per (part, supplier) "
    "restricted to suppliers of one region).  The pattern under test: "
    "a HAVING clause comparing each group's aggregate against an "
    "UNCORRELATED SCALAR SUBQUERY over the same derived table — the "
    "global-threshold filter every 'top fraction of total' workload "
    "uses.  Catalyst evaluates the scalar subquery ONCE (subquery "
    "reuse), not per group.  Determinism: both sides of the HAVING "
    "comparison are decimal-exact sums cast to double then one IEEE "
    "divide — bit-identical operands on both engines, so membership at "
    "the threshold cannot drift.  Scale shape: the region filter cuts "
    "the supplier dim before it broadcasts into the fact; the two-level "
    "aggregation (part+supplier, then part) reuses one shuffle on "
    "l_partkey via partial aggregation.",
)
def q71_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "supplier", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q71_{name}")
    return spark.sql(
        """
        WITH supply AS (
          SELECT l_partkey, l_suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS value
          FROM q71_lineitem
          JOIN q71_supplier ON s_suppkey = l_suppkey
          JOIN q71_nation   ON n_nationkey = s_nationkey
          WHERE n_regionkey = 2
          GROUP BY l_partkey, l_suppkey
        )
        SELECT l_partkey AS partkey, CAST(SUM(value) AS DOUBLE) AS part_value
        FROM supply
        GROUP BY l_partkey
        HAVING CAST(SUM(value) AS DOUBLE) >
               CAST((SELECT SUM(value) FROM supply) AS DOUBLE) / 1000.0
        ORDER BY part_value DESC, partkey
        LIMIT 50
        """
    )


@register(
    "q72_dormant_rich_customers",
    oracle="""
SELECT CAST(c_custkey % 7 AS INT) AS cust_seg,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_custkey % 7 IN (1, 2, 4)
  AND c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*)
    FROM customer c2
    WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 7 IN (1, 2, 4)
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= DATE '2000-01-01'
  )
GROUP BY cust_seg
ORDER BY cust_seg
""",
    description="TPC-H Q22 shape (global sales opportunity; the fixture "
    "has no c_phone, so the 'country code' segment is c_custkey % 7, "
    "and since every fixture customer has SOME order, 'never ordered' "
    "becomes 'no order since 2000' — dormant accounts).  Two "
    "decorrelations in one query: an uncorrelated scalar AVG subquery "
    "(above-average balance threshold, evaluated once and broadcast "
    "into the filter) and a NOT EXISTS anti-join against orders "
    "correlated on custkey AND carrying its own pushed date predicate. "
    "Determinism: the AVG is decimal-sum/count -> one IEEE divide, "
    "bit-identical in both engines, so the > threshold admits the same "
    "customers.  Scale shape: the anti-join shuffles on custkey once "
    "(or broadcasts the pruned recent-orders key set), the scalar "
    "threshold is a map-side partial aggregate, and the final segment "
    "rollup is 3 groups.",
)
def q72_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q72_{name}")
    return spark.sql(
        """
        SELECT CAST(c_custkey % 7 AS INT) AS cust_seg,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS totacctbal
        FROM q72_customer
        WHERE c_custkey % 7 IN (1, 2, 4)
          AND c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
            FROM q72_customer c2
            WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 7 IN (1, 2, 4)
          )
          AND NOT EXISTS (
            SELECT 1 FROM q72_orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= DATE '2000-01-01'
          )
        GROUP BY cust_seg
        ORDER BY cust_seg
        """
    )


@register(
    "q73_parts_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#21'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
""",
    description="TPC-H Q16 shape (parts/supplier relationship; the "
    "part-supplier link is derived from lineitem since the fixture has "
    "no partsupp, and the excluded-supplier predicate is a balance "
    "blacklist instead of a comment LIKE).  The pattern: COUNT(DISTINCT "
    "supplier) per part attribute triple, with a NOT IN subquery whose "
    "inner side is provably non-null (s_suppkey is a key) — the safe "
    "variant of the q35 null-trap, planned as a null-aware anti join.  "
    "Scale shape: the three part predicates prune before the broadcast "
    "join; the distinct-count shuffles once on the group keys with "
    "partial distinct aggregation; the blacklist subquery is a "
    "broadcast anti-join (100-row dim).  Output is fully ordered by "
    "(count, brand, type, size) — a total tie-break.",
)
def q73_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part", "supplier"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q73_{name}")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM q73_lineitem
        JOIN q73_part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#21'
          AND p_type <> 'MEDIUM'
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM q73_supplier WHERE s_acctbal < 0.0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 40
        """
    )


@register(
    "q74_top_supplier_revenue",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01'
    AND l_shipdate <  DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    description="TPC-H Q15 (top supplier): a revenue CTE consumed TWICE "
    "— once joined to the supplier dim, once reduced to its MAX inside "
    "an uncorrelated scalar subquery — with the answer selected by "
    "EQUALITY against that max-of-aggregate.  Equality on an aggregate "
    "is only sound because total_revenue is an exact decimal sum: both "
    "engines derive the identical decimal, so the argmax set (ties "
    "included, per the TPC-H spec) matches exactly — with raw double "
    "sums this query is non-deterministic by construction.  Scale "
    "shape: the quarter predicate prunes the fact before one shuffle "
    "on suppkey; Catalyst evaluates the CTE's two consumers as two "
    "aggregations over the SAME pruned scan (or reuses the exchange "
    "under AQE); the 100-row supplier dim broadcasts.",
)
def q74_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "supplier"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q74_{name}")
    return spark.sql(
        """
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(28,6))) AS total_revenue
          FROM q74_lineitem
          WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate <  DATE '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM q74_supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
        """
    )


@register(
    "q75_part_promotion_suppliers",
    oracle="""
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
      )
      AND l_shipdate >= DATE '1997-01-01'
      AND l_shipdate <  DATE '1998-01-01'
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
  )
  AND s_nationkey IN (
    SELECT n_nationkey FROM nation WHERE n_regionkey = 1
  )
ORDER BY s_name
""",
    description="TPC-H Q20 shape (potential part promotion; without "
    "partsupp the 'significant stock of the promoted part' predicate "
    "becomes 'shipped >300 units of red parts in 1997', derived from "
    "lineitem): THREE nesting levels — an IN whose body contains "
    "another IN (the part-name prefilter) plus a grouped HAVING "
    "aggregate, and a second independent IN (the nation-region "
    "filter) on the outer query.  Catalyst flattens each IN to a "
    "left-semi join: part prunes by name and broadcasts into the "
    "fact scan, the quantity aggregate reduces lineitem to "
    "qualifying suppkeys, and both key sets semi-join against the "
    "100-row supplier dim.  Decimal-exact quantity sums pin the "
    "HAVING membership.  Scale shape: the expensive table is touched "
    "once, with the ship-year predicate and the semi-join's part "
    "filter both pushed to its scan.",
)
def q75_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part", "supplier", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q75_{name}")
    return spark.sql(
        """
        SELECT s_name, s_acctbal
        FROM q75_supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM q75_lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM q75_part WHERE p_name LIKE 'red%'
              )
              AND l_shipdate >= DATE '1997-01-01'
              AND l_shipdate <  DATE '1998-01-01'
            GROUP BY l_suppkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
          )
          AND s_nationkey IN (
            SELECT n_nationkey FROM q75_nation WHERE n_regionkey = 1
          )
        ORDER BY s_name
        """
    )


@register(
    "q76_volume_shipping",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume_dec) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
           AS volume_dec
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
      OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
    AND l_shipdate >= DATE '1995-01-01'
    AND l_shipdate <  DATE '1997-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    description="TPC-H Q7 (volume shipping): the five-way "
    "fact-to-dims join with TWO roles for the nation table (supplier "
    "nation n1, customer nation n2) and a symmetric cross-REGION "
    "disjunction (region pairs rather than single nations so the "
    "pattern survives the sf0.001 fixture) that admits trade in either "
    "direction — the classic "
    "self-join-of-a-dim pattern.  Catalyst aliases the two nation "
    "scans independently, pushes the name disjunction into each "
    "side's broadcast, and the two-year ship window prunes the fact "
    "scan.  Revenue is the decimal-exact sum of the IEEE per-row "
    "product; the year key is cast to INT on both engines (Spark's "
    "year() yields INT, DuckDB's BIGINT — the cast pins the schema "
    "compare).  Scale shape: one shuffle on orderkey for the "
    "orders-customer leg (or broadcast at dim size), all nation/"
    "supplier sides broadcast; the final rollup is tiny (2 nations "
    "x 2 years).",
)
def q76_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("supplier", "lineitem", "orders", "customer", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q76_{name}")
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(volume_dec) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                   AS volume_dec
          FROM q76_supplier
          JOIN q76_lineitem ON s_suppkey = l_suppkey
          JOIN q76_orders   ON o_orderkey = l_orderkey
          JOIN q76_customer ON c_custkey = o_custkey
          JOIN q76_nation n1 ON s_nationkey = n1.n_nationkey
          JOIN q76_nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
              OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0))
            AND l_shipdate >= DATE '1995-01-01'
            AND l_shipdate <  DATE '1997-01-01'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
        """
    )


@register(
    "q77_market_share",
    oracle="""
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_dec
                          ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
            / CAST(SUM(volume_dec) AS DOUBLE) AS DOUBLE) AS mkt_share,
       CAST(SUM(volume_dec) AS DOUBLE) AS total_volume
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
           AS volume_dec,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= DATE '1995-01-01'
    AND o_orderdate <  DATE '1997-01-01'
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    description="TPC-H Q8 (national market share): the widest join in "
    "the suite — an eight-way star with nation in two roles (customer "
    "region gate, supplier nationality) — reduced to the share of one "
    "nation's volume per order year.  The share is a ratio of two "
    "aggregates from the SAME pass (conditional decimal sum over total "
    "decimal sum, one IEEE divide on bit-identical operands), never a "
    "self-join of two grouped results.  Scale shape: part (type "
    "filter) and all dim legs broadcast; the region gate prunes "
    "customers BEFORE the fact join via the pushed r_name filter; the "
    "fact is scanned once with the order-date window pushed through "
    "the orders join; the final rollup is 2 rows.",
)
def q77_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in (
        "part",
        "lineitem",
        "supplier",
        "orders",
        "customer",
        "nation",
        "region",
    ):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q77_{name}")
    return spark.sql(
        """
        SELECT o_year,
               CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume_dec
                                  ELSE CAST(0 AS DECIMAL(28,6)) END)
                         AS DOUBLE)
                    / CAST(SUM(volume_dec) AS DOUBLE) AS DOUBLE)
                 AS mkt_share,
               CAST(SUM(volume_dec) AS DOUBLE) AS total_volume
        FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                   AS volume_dec,
                 n2.n_name AS nation
          FROM q77_part
          JOIN q77_lineitem ON p_partkey = l_partkey
          JOIN q77_supplier ON s_suppkey = l_suppkey
          JOIN q77_orders   ON l_orderkey = o_orderkey
          JOIN q77_customer ON o_custkey = c_custkey
          JOIN q77_nation n1 ON c_nationkey = n1.n_nationkey
          JOIN q77_region   ON n1.n_regionkey = r_regionkey
          JOIN q77_nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= DATE '1995-01-01'
            AND o_orderdate <  DATE '1997-01-01'
            AND p_type = 'STANDARD'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
        """
    )


@register(
    "q78_product_type_profit",
    oracle="""
SELECT nation, o_year, CAST(SUM(amount_dec) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount)
              - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,6))
           AS amount_dec
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    description="TPC-H Q9 shape (product type profit; the fixture has "
    "no partsupp.ps_supplycost, so unit cost is proxied as half the "
    "part's retail price — the expression keeps Q9's defining shape: "
    "revenue minus quantity-scaled cost, computed per lineitem from "
    "columns of THREE different tables).  The per-row arithmetic is "
    "written with the identical parse tree on both engines (IEEE "
    "left-to-right: product, scaled cost, subtract) so each row's "
    "double is bit-identical before the decimal cast makes the group "
    "sum order-independent.  The substring filter on p_name is a "
    "non-sargable LIKE '%..%' — it prunes part AFTER the scan but "
    "BEFORE the broadcast, which is exactly where it belongs.  Scale "
    "shape: fact scanned once; part/supplier/nation broadcast; one "
    "shuffle on orderkey for the orders leg; 25 x 7 output groups.",
)
def q78_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("part", "lineitem", "supplier", "orders", "nation"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q78_{name}")
    return spark.sql(
        """
        SELECT nation, o_year, CAST(SUM(amount_dec) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(year(o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                      - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,6))
                   AS amount_dec
          FROM q78_part
          JOIN q78_lineitem ON p_partkey = l_partkey
          JOIN q78_supplier ON s_suppkey = l_suppkey
          JOIN q78_orders   ON o_orderkey = l_orderkey
          JOIN q78_nation   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%gear%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
        """
    )


@register(
    "q79_min_cost_supplier",
    oracle="""
WITH link AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM part, link, supplier, nation, region
WHERE p_partkey = l_partkey
  AND s_suppkey = l_suppkey
  AND p_type = 'LARGE' AND p_size <= 15
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND min_price = (
    SELECT MIN(l2.min_price)
    FROM link l2, supplier s2, nation n2, region r2
    WHERE l2.l_partkey = p_partkey
      AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'ASIA'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    description="TPC-H Q2 shape (minimum cost supplier; the fixture "
    "has no partsupp, so the part-supplier link is derived from "
    "lineitem with MIN(l_extendedprice) standing in for "
    "ps_supplycost — MIN over doubles involves no arithmetic, so the "
    "derived 'cost' is bit-exact on both engines and safe under the "
    "equality the query turns on).  The defining pattern: a "
    "correlated scalar MIN subquery over the SAME derived link + "
    "dim chain, correlated on the outer part — each surviving row is "
    "the regional argmin for its part, ties included.  Catalyst "
    "decorrelates to one region-filtered min-per-partkey aggregate "
    "joined back on (partkey, price) — never per-row re-execution.  "
    "Scale shape: the link aggregation is the one big shuffle "
    "(partkey+suppkey) and BOTH consumers reuse it; "
    "supplier/nation/region broadcast into each; the part attribute "
    "filters prune before the final join; top-100 is "
    "TakeOrderedAndProject with a four-key total tie-break.",
)
def q79_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "part", "supplier", "nation", "region"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q79_{name}")
    return spark.sql(
        """
        WITH link AS (
          SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
          FROM q79_lineitem
          GROUP BY l_partkey, l_suppkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        FROM q79_part, link, q79_supplier, q79_nation, q79_region
        WHERE p_partkey = l_partkey
          AND s_suppkey = l_suppkey
          AND p_type = 'LARGE' AND p_size <= 15
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND min_price = (
            SELECT MIN(l2.min_price)
            FROM link l2, q79_supplier s2, q79_nation n2, q79_region r2
            WHERE l2.l_partkey = p_partkey
              AND s2.s_suppkey = l2.l_suppkey
              AND s2.s_nationkey = n2.n_nationkey
              AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'ASIA'
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """
    )


@register(
    "q80_aqe_skew_split",
    oracle="""
SELECT CAST(skew_key % 10 AS BIGINT) AS key_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice * (skew_key + 1) AS DECIMAL(28,2)))
            AS DOUBLE) AS weighted_revenue
FROM (
  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
              ELSE l_orderkey % 101 END AS skew_key,
         l_extendedprice
  FROM lineitem
) f
GROUP BY key_band
ORDER BY key_band
""",
    description="AQE automatic SKEW-JOIN splitting (the runtime "
    "complement of q59's manual salting): a fact whose key distribution "
    "is deliberately pathological — one key holds a third of all rows — "
    "sort-merge-joined to a derived weight dim.  Under the scoped AQE "
    "confs, Spark measures the shuffle's actual partition sizes at "
    "runtime, finds the hot partition, and splits it across map-output "
    "ranges while replicating the matching dim partition "
    "(SortMergeJoin(skew=true), asserted in tests/test_plan_shapes.py) "
    "— no salting column, no plan rewrite, no prior knowledge of WHICH "
    "key is hot, which is the operational win over q59 at 100 TB where "
    "the hot key changes day to day.  The smoke-scale scope lowers the "
    "split thresholds (production defaults are 256 MB partitions) and "
    "repartitions the fact to simulate mapper parallelism — skew "
    "splits happen at map-output granularity, and a 100 TB fact has "
    "thousands of mappers where the smoke fixture's scan has one.  "
    "The oracle inlines the weight function: AQE's split must be "
    "semantically invisible.",
)
def q80_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage(root: str) -> None:
        with aqe_skew_scope(spark):
            skew_join_frame(spark, sf_dir).write.parquet(f"{root}/result")

    root = staged(sf_dir, "q80", ["lineitem"], stage)
    return read_parquet(spark, f"{root}/result").orderBy("key_band")


@contextlib.contextmanager
def aqe_skew_scope(spark: SparkSession):
    """Scope the AQE skew-split thresholds to a block and restore them:
    the production defaults (256 MB partition threshold, 64 MB advisory
    target) are sized for real clusters — smoke scales must opt in, and
    leaving kilobyte thresholds session-wide would shred every later
    shuffle into confetti partitions."""
    keys = {
        # SMJ is the both-sides-big regime this entry models
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        # the post-join aggregate re-shuffles anyway; let AQE split even
        # though that inserts the extra exchange
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def skew_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy skewed join/aggregate AQE splits at runtime (shared by
    the q80 entry and the plan-shape assertion).  The repartition(16)
    stands in for mapper parallelism: AQE subdivides a skewed reduce
    partition by MAP-OUTPUT ranges, so a single-mapper smoke scan has
    nothing to split (a 100 TB scan has thousands of mappers)."""
    li = table(spark, sf_dir, "lineitem").repartition(16)
    f = li.select(
        F.when(F.col("l_orderkey") % 3 == 0, 0)
        .otherwise(F.col("l_orderkey") % 101)
        .alias("skew_key"),
        "l_extendedprice",
    )
    dim = spark.range(101).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("factor")
    )
    return (
        f.join(dim.hint("merge"), F.col("skew_key") == F.col("k"))
        .groupBy((F.col("skew_key") % 10).cast("bigint").alias("key_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("l_extendedprice") * F.col("factor")).cast("decimal(28,2)"))
            .cast("double")
            .alias("weighted_revenue"),
        )
    )


@register(
    "q81_sql_variables",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
         AS total_price
FROM orders
JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
GROUP BY o_orderpriority
ORDER BY priority
""",
    description="Spark 4 SQL session VARIABLES + EXECUTE IMMEDIATE (the "
    "SQL-scripting surface a SQL-first deployment parameterizes jobs "
    "with, replacing string interpolation and its injection risk): "
    "DECLARE a typed session variable, SET VAR it, then run a "
    "parameterized statement through EXECUTE IMMEDIATE ... USING — the "
    "variable binds as a literal into the plan, so Catalyst constant- "
    "folds it and the segment predicate pushes into the customer scan "
    "exactly as if it were written inline (the oracle IS the inlined "
    "form; the hash proves parameter binding changes nothing).  Scale "
    "shape: identical to the inlined join — filtered dim broadcasts, "
    "one aggregate on the 5-value priority key.",
)
def q81_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"q81_{name}")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE q81_segment STRING DEFAULT 'BUILDING'"
    )
    spark.sql("SET VAR q81_segment = 'AUTOMOBILE'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority AS priority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                    AS total_price
           FROM q81_orders
           JOIN q81_customer ON c_custkey = o_custkey
           WHERE c_mktsegment = ?
           GROUP BY o_orderpriority
           ORDER BY priority'
        USING q81_segment
        """
    )


@register(
    "q82_compaction_roundtrip",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DECIMAL(28,6))
            AS VARCHAR) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    description="Small-file COMPACTION round-trip, driver-visible: the "
    "events table is staged as a deliberately fragmented dataset (64 "
    "tiny part files — the debris every streaming/incremental sink "
    "accumulates), rewritten by operators/scale.py::compact_parquet "
    "into size-targeted files clustered on event_type "
    "(sortWithinPartitions — better min/max pruning, no global "
    "shuffle), and the entry aggregates the COMPACTED artifact against "
    "the oracle's view of the original table — the hash proves the "
    "rewrite was content-lossless while the entry itself asserts the "
    "file count actually collapsed and the crash-safe swap left no "
    "debris.  Scale shape: compaction is one repartition sized from "
    "on-disk bytes (the 100 TB knob is target_file_bytes), the swap is "
    "O(1) renames, and a crashed rewrite rolls back to the "
    "pre-compaction directory.",
)
def q82_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from agentic_etl_poc_spark.operators.scale import compact_parquet

    def stage(root: str) -> None:
        data = os.path.join(root, "events_fragmented")
        ev = table(spark, sf_dir, "events")
        # 64 tiny files: the fragmentation a per-tick appender leaves
        ev.repartition(64).write.parquet(data)
        stats = compact_parquet(
            spark, data, target_file_bytes=1 * 1024 * 1024,
            sort_by=["event_type"],
        )
        if stats["files_after"] >= stats["files_before"]:
            raise RuntimeError(f"compaction did not reduce files: {stats}")
        leftovers = [
            p for p in os.listdir(root)
            if p.startswith(("compact_", "events_fragmented__precompact"))
        ]
        if leftovers:
            raise RuntimeError(f"compaction left debris: {leftovers}")

    root = staged(sf_dir, "q82", ["events"], stage)
    compacted = read_parquet(spark, f"{root}/events_fragmented")
    return (
        compacted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("decimal(28,6)")
            .cast("string")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q83_parameterized_sql",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
            AS DECIMAL(28,6)) AS VARCHAR) AS total_s
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderstatus = 'O'
GROUP BY ALL
ORDER BY ALL
""",
    description="NAMED-PARAMETER SQL (spark.sql(query, args={...}), the "
    "injection-safe programmatic twin of q81's session-variable surface: "
    "the reference interpolates user values into SQL strings, "
    "etl_agent/tools.py:23-56) plus GROUP BY ALL / ORDER BY ALL "
    "resolution — every non-aggregate output column groups, every output "
    "column orders, the ergonomics both modern engines (Spark 3.4+/"
    "DuckDB) share, so the oracle states the SAME shorthand and the hash "
    "proves both engines resolve ALL to the same column set.  The "
    "parameters bind as typed literals (a date and a string) before "
    "analysis, so Catalyst constant-folds them and the predicate pushes "
    "into the parquet scan exactly as if written inline.  Scale shape: "
    "pushed scan filter, one partial-aggregated shuffle on the 5-value "
    "priority key.",
)
def q83_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    table(spark, sf_dir, "orders").createOrReplaceTempView("q83_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                    AS DECIMAL(28,6)) AS STRING) AS total_s
        FROM q83_orders
        WHERE o_orderdate >= :cutoff AND o_orderstatus = :status
        GROUP BY ALL
        ORDER BY ALL
        """,
        args={
            "cutoff": datetime.datetime(1996, 1, 1),
            "status": "O",
        },
    )
