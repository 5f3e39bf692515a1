"""Batch 3 relational coverage: correlated scalar subqueries (J8), set
operations (§2.7), CUBE / GROUPING SETS (A9 generalized), the SCD2
expire-and-insert shape as a window query (E8), and the math/conditional
scalar surface (§2.8).

The reference expresses J8 as a correlated scalar lookup
(02_Trigger.sql:206-212: fine amount ← book price through a 3-table
chain); Catalyst decorrelates the same SQL into a left-outer aggregate
join — we register the SQL form on purpose to exercise that rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# J8 — correlated scalar subquery, decorrelated by Catalyst.


_J8_SQL = """
    SELECT o_orderkey,
           (SELECT MAX(l_extendedprice) FROM lineitem
            WHERE l_orderkey = o_orderkey) AS max_item_price,
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey = o_orderkey) AS n_items
    FROM orders
    WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
"""


@register("orders_scalar_subquery", _J8_SQL, operators=("J8", "P2"))
def orders_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical SQL text runs on both engines; Spark's plan shows the
    subqueries rewritten to one aggregated left outer join each
    (ReuseSubquery merges the two scans of lineitem)."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_J8_SQL)


# ---------------------------------------------------------------------------
# §2.7 set operations — absent in the reference (grep-verified,
# SURVEY.md §2.7) but part of the engine surface Spark gives for free.


_SETOPS_SQL = """
    SELECT 'both' AS tag, n_name FROM nation
    WHERE n_nationkey IN (
      SELECT c_nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customers_only' AS tag, n_name FROM nation
    WHERE n_nationkey IN (
      SELECT c_nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier)
    ORDER BY tag, n_name
"""


@register("nation_set_ops", _SETOPS_SQL, operators=("SET-OPS", "J4"))
def nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k"))
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k"))
    both = cust_n.intersect(supp_n)          # INTERSECT (distinct)
    cust_only = cust_n.subtract(supp_n)      # EXCEPT (distinct)
    tagged = (
        both.withColumn("tag", F.lit("both"))
        .unionByName(cust_only.withColumn("tag", F.lit("customers_only")))
    )
    return (
        tagged.join(nation, tagged.k == nation.n_nationkey)
        .select("tag", "n_name")
        .orderBy("tag", "n_name")
    )


# ---------------------------------------------------------------------------
# A9 generalized — CUBE with GROUPING() flags. The reference's subtotal
# rows are SQL*Plus COMPUTE artifacts (LQY_query1.txt:36-37); CUBE is
# the engine-level form (rollup_year_quarter covers ROLLUP).


@register(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """,
    operators=("A9", "A1"),
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double").alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "g_status", "g_priority",
                "n_orders", "total_price")
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


_GSETS_SQL = """
    SELECT n_name, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderstatus), ())
    ORDER BY n_name, o_orderstatus
"""


@register("grouping_sets_orders", _GSETS_SQL, operators=("A9", "J1"),
          bench=True)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(_GSETS_SQL)


# ---------------------------------------------------------------------------
# E8 as a query — SCD2 expire-and-insert shape (effective/expiration/
# curr_ind with expiration = next effective − 1 day, open version
# 9999-12-31) built with LEAD, mirroring 06_Type2_DimMembers.sql:65-107.
# The write-side Delta-style apply lives in operators/scd2.py; this is
# the same derivation as a pure plan with a DuckDB oracle.


@register(
    "customer_spend_scd2_versions",
    """
    WITH daily AS (
      SELECT o_custkey AS c_custkey,
             CAST(o_orderdate AS DATE) AS effective_date,
             COUNT(*) AS n_orders,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS day_spend
      FROM orders
      WHERE o_custkey % 100 = 0
      GROUP BY 1, 2
    )
    SELECT c_custkey,
           CAST(effective_date AS VARCHAR) AS effective_date,
           CAST(COALESCE(LEAD(effective_date) OVER (PARTITION BY c_custkey
                                                    ORDER BY effective_date)
                           - 1,
                         DATE '9999-12-31') AS VARCHAR) AS expiration_date,
           CASE WHEN LEAD(effective_date) OVER (PARTITION BY c_custkey
                                                ORDER BY effective_date)
                     IS NULL
                THEN 'Y' ELSE 'N' END AS curr_ind,
           n_orders, day_spend
    FROM daily
    ORDER BY c_custkey, effective_date
    """,
    operators=("E8", "W1", "A1"),
)
def customer_spend_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(F.col("o_custkey") % 100 == 0)
        .groupBy(F.col("o_custkey").alias("c_custkey"),
                 F.to_date("o_orderdate").alias("effective_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("day_spend"))
    )
    w = Window.partitionBy("c_custkey").orderBy("effective_date")
    nxt = F.lead("effective_date").over(w)
    return (
        daily.select(
            "c_custkey",
            F.col("effective_date").cast("string").alias("effective_date"),
            F.coalesce(F.date_sub(nxt, 1),
                       F.lit("9999-12-31").cast("date"))
            .cast("string").alias("expiration_date"),
            F.when(nxt.isNull(), "Y").otherwise("N").alias("curr_ind"),
            "n_orders", "day_spend")
        .orderBy("c_custkey", "effective_date")
    )


# ---------------------------------------------------------------------------
# §2.8 math/conditional scalar surface: ABS/SIGN/MOD/FLOOR/CEIL/SQRT/
# GREATEST/LEAST and the division guard x/NULLIF(y,0)
# (05_InitialLoading.sql:393; LQY_query1.txt:72). Transcendentals
# (LN/POWER) are deliberately excluded from the oracle-matched output:
# libm last-ulp differences between JVM and C++ break bit-exactness.


@register(
    "math_function_surface",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 1000.0) AS abs_v,
           CAST(SIGN(l_discount - 0.05) AS INTEGER) AS sign_v,
           CAST(l_quantity AS BIGINT) % 7 AS mod_v,
           CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS floor_v,
           CAST(CEIL(l_extendedprice / 100) AS BIGINT) AS ceil_v,
           SQRT(l_quantity) AS sqrt_v,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate,
           l_quantity / NULLIF(l_discount, 0) AS guarded_div
    FROM lineitem
    WHERE l_orderkey % 500 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    operators=("MATH-SURFACE", "P4"),
)
def math_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 500 == 0)
        .select(
            "l_orderkey", "l_linenumber",
            F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_v"),
            F.signum(F.col("l_discount") - 0.05).cast("int").alias("sign_v"),
            (F.col("l_quantity").cast("bigint") % 7).alias("mod_v"),
            F.floor(F.col("l_extendedprice") / 100).cast("bigint")
            .alias("floor_v"),
            F.ceil(F.col("l_extendedprice") / 100).cast("bigint")
            .alias("ceil_v"),
            F.sqrt("l_quantity").alias("sqrt_v"),
            F.greatest("l_discount", "l_tax").alias("max_rate"),
            F.least("l_discount", "l_tax").alias("min_rate"),
            (F.col("l_quantity") / F.nullif("l_discount", F.lit(0)))
            .alias("guarded_div"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# P5/J1/W3 over the part dimension: LIKE prefix filter + share-of-total.
# Reference: LIKE predicate 02_InsertMembers.sql:9; RATIO_TO_REPORT
# share-of-total 02_InsertMembers.sql:224-227.


_BRAND_REV = ("CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
              " * (CAST(1 AS DECIMAL(8,6))"
              " - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE)")


@register(
    "brand_revenue_share",
    f"""
    WITH b AS (
      SELECT p_brand, {_BRAND_REV} AS revenue, COUNT(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type LIKE 'ECONOMY%'
      GROUP BY p_brand
    ), tot AS (
      SELECT {_BRAND_REV} AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type LIKE 'ECONOMY%'
    )
    SELECT p_brand, revenue, n_lines, revenue / total AS revenue_share
    FROM b, tot
    ORDER BY p_brand
    """,
    operators=("P5", "J1", "W3", "A1"),
)
def brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total from two exact decimal aggregates (numerator and
    denominator each rounded to 2dp before the double division), so the
    ratio is bit-identical across engines regardless of sum order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(8,6)")
              - F.col("l_discount").cast("decimal(8,6)")))
    lines = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("p_type").like("ECONOMY%"))
    )
    by_brand = lines.groupBy("p_brand").agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))
    total = lines.agg(F.round(F.sum(rev), 2).cast("double").alias("total"))
    return (
        by_brand.crossJoin(F.broadcast(total))
        .select("p_brand", "revenue", "n_lines",
                (F.col("revenue") / F.col("total")).alias("revenue_share"))
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Window-frame surface: explicit ROWS BETWEEN frames (the reference uses
# only default frames, SURVEY.md §2.5; the engine exposes the full frame
# spec) — 7-row trailing moving average + running total over the daily
# order series, plus FIRST/LAST_VALUE.


_FRAMES_SQL = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS amt
      FROM orders GROUP BY 1
    )
    SELECT d, n, amt,
           CAST(ROUND(SUM(CAST(amt AS DECIMAL(18,4))) OVER (
                 ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS amt_7d_sum,
           CAST(SUM(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_running,
           FIRST_VALUE(amt) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING
                                  AND CURRENT ROW) AS amt_week_ago,
           LAST_VALUE(amt) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                                 AND 6 FOLLOWING) AS amt_week_ahead
    FROM daily
    ORDER BY d
"""


@register("daily_order_window_frames", _FRAMES_SQL,
          operators=("W-FRAMES", "W1", "A1"))
def daily_order_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("amt"))
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    wrun = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wfwd = Window.orderBy("d").rowsBetween(0, 6)
    return (
        daily.select(
            "d", "n", "amt",
            F.round(F.sum(F.col("amt").cast("decimal(18,4)")).over(w7), 2)
            .cast("double").alias("amt_7d_sum"),
            F.sum("n").over(wrun).cast("bigint").alias("n_running"),
            F.first("amt").over(w7).alias("amt_week_ago"),
            F.last("amt").over(wfwd).alias("amt_week_ahead"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Percentile / distribution surface: exact interpolated percentiles per
# group (both engines implement the same 1-based (n-1)·p interpolation,
# bit-exact on doubles).


@register(
    "order_price_percentiles",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.50) AS p50,
           quantile_cont(o_totalprice, 0.90) AS p90,
           MAX(o_totalprice) AS p100
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    operators=("A-PERCENTILE", "A1"),
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
             F.percentile("o_totalprice", F.lit(0.50)).alias("p50"),
             F.percentile("o_totalprice", F.lit(0.90)).alias("p90"),
             F.max("o_totalprice").alias("p100"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Array aggregation surface: collect-to-array (made deterministic with
# array_sort — bare collect_list order is partition-dependent), size /
# membership / join back to string. The A7 LISTAGG pattern
# (LQY_query2.txt:31) generalized to real array columns.


@register(
    "order_quantity_arrays",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',')
             AS qty_sorted,
           len(list(l_quantity)) AS n_items,
           list_contains(list(l_quantity), 1.0) AS has_qty1,
           array_to_string(list_sort(list(CAST(l_linenumber AS VARCHAR))), ',')
             AS line_nums
    FROM lineitem
    WHERE l_orderkey % 200 = 0
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    operators=("A7", "ARRAY-OPS", "A1"),
)
def order_quantity_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    # qty_sorted is emitted as a joined string (not a raw array column):
    # the driver's canonicalizer sorts/hashes output columns through
    # pandas, which cannot hash list values. Quantities are whole
    # numbers, so a bigint cast keeps the string form engine-agnostic.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 200 == 0)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_quantity")
                                            .cast("bigint"))), ",")
            .alias("qty_sorted"),
            F.count(F.lit(1)).alias("n_items"),
            F.array_contains(F.collect_list("l_quantity"), 1.0)
            .alias("has_qty1"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("l_linenumber")
                                            .cast("string"))), ",")
            .alias("line_nums"),
        )
        .orderBy("l_orderkey")
    )


# ---------------------------------------------------------------------------
# Scale-operator gates: the skew/sketch operators (operators/skew.py,
# HLL approx-distinct) differentially proven at the driver gate — the
# oracle computes the plain/exact answer, so a hash-green row proves
# the scale path loses nothing.


@register(
    "salted_event_type_counts",
    """
    SELECT event_type,
           COUNT(*) AS count_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    operators=("SKEW-SALTED-AGG", "A1"),
)
def salted_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (partial agg on (key, salt), final
    refold on key — operators/skew.salted_agg) vs the plain GROUP BY
    oracle: the salted plan must be bit-identical, proving the explicit
    skew-spreading path is lossless. Decimal sums keep the refold
    order-independent."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev.select("event_type", "value"), ["event_type"],
        {"count_events": F.count(F.lit(1)),
         "sum_value": F.sum(F.col("value").cast("decimal(20,6)"))},
        n_salts=8)
    return (
        out.select("event_type",
                   F.col("count_events").cast("long").alias("count_events"),
                   F.col("sum_value").cast("double").alias("sum_value"))
        .orderBy("event_type")
    )


@register(
    "approx_distinct_check",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE AS within_5pct
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    operators=("A3-APPROX", "SKETCH-HLL"),
)
def approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx_count_distinct (rsd=0.02) bounded against the exact
    COUNT(DISTINCT): the gate row asserts the sketch lands within 5%
    per group (HLL is deterministic for fixed data, so this is a hard
    gate, not a flaky one). The sketch tier is what a 100 TB distinct
    count uses — fixed-size state instead of a distinct shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_approx"))
    return (
        per.select(
            "o_orderstatus", "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact"))
             <= 0.05 * F.col("n_exact")).alias("within_5pct"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# §2.8 regexp surface — the reference's REGEXP_SUBSTR / REGEXP_COUNT /
# REGEXP_REPLACE usages (LQY_query2.txt:16-19,59-62; 02_InsertMembers.sql:6,34)
# re-expressed with Spark's regexp_* functions and oracle-checked. RE2-safe
# pattern subset only (char classes, quantifiers, anchors) so the Java and
# DuckDB regex engines agree.


@register(
    "regexp_function_surface",
    r"""
    SELECT c_custkey,
           regexp_extract(c_name, '[0-9]+', 0) AS name_digits,
           CAST(len(regexp_extract_all(c_mktsegment, '[AEIOU]+')) AS INTEGER)
             AS vowel_runs,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
           CASE WHEN regexp_matches(c_mktsegment, '^(AUTO|MACH).*')
                THEN 1 ELSE 0 END AS has_keyword,
           regexp_extract(c_name, '([A-Za-z]+)#([0-9]+)', 2) AS name_part2
    FROM customer
    WHERE c_custkey % 10 = 0
    ORDER BY c_custkey
    """,
    operators=("F-REGEXP", "P1"),
)
def regexp_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract (first match / capture group), match counting,
    global replace, and boolean match — the Oracle REGEXP_SUBSTR /
    REGEXP_COUNT / REGEXP_REPLACE / REGEXP_LIKE quartet
    (LQY_query2.txt:16-19, 02_InsertMembers.sql:6,34) on Spark."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"[0-9]+", 0).alias("name_digits"),
            F.size(F.regexp_extract_all("c_mktsegment", F.lit(r"[AEIOU]+"),
                                        0)).cast("int").alias("vowel_runs"),
            F.regexp_replace("c_name", r"[0-9]", "#").alias("name_masked"),
            F.when(F.col("c_mktsegment").rlike(r"^(AUTO|MACH).*"), 1)
            .otherwise(0).alias("has_keyword"),
            F.regexp_extract("c_name", r"([A-Za-z]+)#([0-9]+)", 2)
            .alias("name_part2"),
        )
        .orderBy("c_custkey")
    )


@register(
    "approx_quantile_check",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           quantile_cont(l_extendedprice, 0.5) AS p50_exact,
           TRUE AS within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    operators=("A-PERCENTILE-APPROX", "SKETCH-QUANTILE"),
)
def approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate median bounded against the exact
    percentile: per group, percentile_approx (accuracy 10000 → ~1e-4
    rank error) must land within 1% of the exact interpolated median.
    The sketch tier is the 100 TB path — fixed-size mergeable state
    per group instead of a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"))
    return (
        per.select(
            "l_returnflag", "n_rows",
            F.col("p50_exact").cast("double").alias("p50_exact"),
            (F.abs(F.col("p50_approx") - F.col("p50_exact"))
             <= 0.01 * F.col("p50_exact")).alias("within_1pct"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Data profiling — the pre-training pass a large-scale pipeline runs
# before trusting a table: per-column null and distinct counts in ONE
# scan (single hash aggregate + stack unpivot; never one scan per
# column). Complements the CHECK-rule enforcement in
# operators/validate.py (pytest-gated, SURVEY §2 S2).

_PROFILE_COLS = ("o_custkey", "o_orderdate", "o_orderkey",
                 "o_orderpriority", "o_orderstatus", "o_totalprice")


@register(
    "orders_data_profile",
    "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    ) + "\nORDER BY col_name",
    operators=("PROFILE", "A3", "P4"),
)
def orders_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of orders in one scan: the aggregate computes
    2×|cols| expressions (null count via count(*)−count(col), exact
    distinct via count(distinct col)) and a stack() unpivots them to
    one row per column. The oracle spells the same profile as a
    UNION ALL — 6 scans there, 1 here; at 100 TB that difference is
    the whole point of the operator."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"_n_{c}"),
            F.countDistinct(c).alias(f"_d_{c}"),
        ]
    stacked = ", ".join(f"'{c}', _n_{c}, _d_{c}" for c in _PROFILE_COLS)
    return (
        orders.agg(*aggs)
        .select(F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacked}) "
            "AS (col_name, null_count, n_distinct)"))
        .select("col_name", F.col("null_count").cast("long"),
                F.col("n_distinct").cast("long"))
        .orderBy("col_name")
    )


@register(
    "user_retention_cohorts",
    r"""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE))
               AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    ), sizes AS (
      SELECT cohort_day, COUNT(DISTINCT user_id) AS cohort_size
      FROM firsts GROUP BY cohort_day
    )
    SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(a.day_offset AS INTEGER) AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size
             AS retention
    FROM activity a JOIN sizes s USING (cohort_day)
    GROUP BY a.cohort_day, a.day_offset, s.cohort_size
    ORDER BY cohort_day, day_offset
    """,
    operators=("COHORT-RETENTION", "A1", "A3", "W1", "J1"),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix (daily grain — the testdata's
    events span one month): users grouped by first-activity day; for
    each cohort and day offset, how many distinct users were active
    and what fraction of the cohort that is. Scale shape: the cohort
    assignment is one groupBy(user); the matrix is a two-phase
    distinct-count on (cohort, offset) — no window, no per-user
    state; retention = bigint/bigint division, IEEE-exact."""
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = (events.groupBy("user_id")
              .agg(F.min(day).alias("cohort_day")))
    activity = (events.join(firsts, "user_id")
                .select("user_id", "cohort_day",
                        F.datediff(day, "cohort_day")
                        .cast("int").alias("day_offset"))
                .distinct())
    sizes = (firsts.groupBy("cohort_day")
             .agg(F.countDistinct("user_id").alias("cohort_size")))
    return (
        activity.join(sizes, "cohort_day")
        .groupBy("cohort_day", "day_offset", "cohort_size")
        .agg(F.countDistinct("user_id").cast("bigint")
             .alias("active_users"))
        .select(F.date_format("cohort_day", "yyyy-MM-dd")
                .alias("cohort_day"),
                "day_offset", "active_users",
                F.col("cohort_size").cast("bigint").alias("cohort_size"),
                (F.col("active_users").cast("double")
                 / F.col("cohort_size")).alias("retention"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "parts_ordered_together",
    r"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), counted AS (
      SELECT part_a, part_b, COUNT(*) AS n_orders FROM pairs
      GROUP BY part_a, part_b
    ), ranked AS (
      SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders,
             ROW_NUMBER() OVER (ORDER BY n_orders DESC, part_a, part_b)
               AS rk
      FROM counted
    )
    SELECT part_a, part_b, n_orders, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 20 ORDER BY rk
    """,
    operators=("MARKET-BASKET", "J1", "A1", "O2"),
)
def parts_ordered_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 part pairs appearing
    together in the most orders (the library analogue: books borrowed
    together — the recommendation-seed report). Scale shape: the pair
    self-join is keyed on l_orderkey, so each order only pairs with
    itself (basket-bounded fan-out, ~k² per order for k-item baskets,
    never a global cross join); the count is a two-phase hash
    aggregate on the fixed-width pair key, and only the global top-20
    passes the final single-partition rank (WindowGroupLimit prunes
    per partition first)."""
    from pyspark.sql import Window

    items = (load_table(spark, sf_dir, "lineitem")
             .select("l_orderkey", "l_partkey").distinct())
    a = items.alias("a")
    b = items.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .select(F.col("a.l_partkey").alias("part_a"),
                     F.col("b.l_partkey").alias("part_b")))
    counted = (pairs.groupBy("part_a", "part_b")
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders")))
    w = Window.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
    return (counted.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= 20)
            .orderBy("rk"))


@register(
    "weekly_active_users",
    r"""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), contrib AS (
      SELECT DISTINCT d + CAST(i AS INTEGER) AS wd, user_id
      FROM daily, UNNEST(range(0, 7)) AS t(i)
    ), days AS (
      SELECT DISTINCT d FROM daily
    )
    SELECT strftime(c.wd, '%Y-%m-%d') AS d,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN days dy ON c.wd = dy.d
    GROUP BY c.wd ORDER BY d
    """,
    operators=("ROLLING-DISTINCT", "A3", "J1", "S9"),
)
def weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per observed day (WAU) —
    the rolling-distinct aggregate windows can't express. The
    scale-right shape is CONTRIBUTION EXPLODE: each (day, user) row
    contributes to the 7 window-end days it falls in (bounded 7×
    fan-out, map-side), then one two-phase distinct count per day on
    an EQUI-join — no range join, no per-day rescans, no window over
    user sets."""
    events = load_table(spark, sf_dir, "events")
    daily = (events.select(F.to_date("ts").alias("d"), "user_id")
             .distinct())
    contrib = (daily.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("wd"),
        "user_id").distinct())
    days = daily.select("d").distinct()
    return (
        contrib.join(days, contrib.wd == days.d)
        .groupBy("wd")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
        .select(F.date_format("wd", "yyyy-MM-dd").alias("d"), "wau")
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Distribution-rank family: NTILE / PERCENT_RANK / CUME_DIST — the
# Oracle analytic functions the reference's report queries draw from,
# computed WITHOUT a global single-partition window (two-phase range
# rank, operators/ranking.py on operators/scan.py). The strict (spend DESC, custkey)
# order makes every window double bit-exact cross-engine.


@register(
    "customer_value_deciles",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, spend,
             ROW_NUMBER()   OVER (ORDER BY spend DESC, o_custkey)
               AS global_rank,
             NTILE(10)      OVER (ORDER BY spend DESC, o_custkey)
               AS decile,
             PERCENT_RANK() OVER (ORDER BY spend DESC, o_custkey) AS pr,
             CUME_DIST()    OVER (ORDER BY spend DESC, o_custkey) AS cd
      FROM spend
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           MIN(global_rank) AS first_rank,
           CAST(ROUND(SUM(spend), 2) AS DOUBLE) AS decile_spend,
           MIN(pr) AS min_pr,
           MAX(cd) AS max_cd
    FROM ranked GROUP BY decile ORDER BY decile
    """,
    operators=("W-NTILE", "W-DIST", "W3", "O1", "A1"),
)
def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend deciles with the full distribution-rank family.
    The naive plan is ``ntile(10).over(Window.orderBy(...))`` — an
    Exchange SinglePartition of every customer. This uses the
    two-phase range-rank (``operators/ranking.py`` on
    ``operators/scan.py``): parallel range
    shuffle, driver prefix offsets, per-partition row_number, and
    NTILE/PERCENT_RANK/CUME_DIST as closed-form arithmetic over
    (rank, N) — bit-identical to the window definitions because the
    order is strict. Oracle-side these are NTILE / PERCENT_RANK /
    CUME_DIST literally; min/max per decile keep the float outputs
    order-independent."""
    from ..operators import ranking

    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .alias("spend")))
    ranked = ranking.with_rank_stats(
        spend, [F.col("spend").desc(), F.col("o_custkey")], n_tiles=10)
    return (
        ranked.groupBy(F.col("ntile").alias("decile"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.min("global_rank").alias("first_rank"),
             F.round(F.sum("spend"), 2).cast("double").alias("decile_spend"),
             F.min("percent_rank").alias("min_pr"),
             F.max("cume_dist").alias("max_cd"))
        .orderBy("decile")
    )
