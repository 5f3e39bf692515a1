"""Core operator surface, batch 2: row generators, non-equi joins,
surrogate keys, the scalar-function library (SURVEY.md §2.8), JSON
extraction and sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .core_sql import _dec, _dsum
from .registry import register

# ---------------------------------------------------------------------------
# S9/J6/E1 — date spine via sequence()+explode joined to per-day counts
# with zero-fill. Reference: CONNECT BY LEVEL date spine
# `05_InitialLoading.sql:162-165`, date-equality join `:335`.


@register(
    "date_spine_daily_orders",
    """
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS cal_date
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS amt
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT s.cal_date,
           EXTRACT(YEAR FROM s.cal_date) AS cal_year,
           EXTRACT(MONTH FROM s.cal_date) AS cal_month,
           COALESCE(d.n, 0) AS n_orders,
           COALESCE(d.amt, 0.0) AS order_amt
    FROM spine s LEFT JOIN daily d ON s.cal_date = d.order_date
    ORDER BY s.cal_date
    """,
    operators=("S9", "J6", "J2", "E1", "P4"),
)
def date_spine_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1997-01-01").cast("date"),
                F.lit("1997-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("cal_date")
    )
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum(_dec("o_totalprice")).alias("amt"))
    )
    return (
        spine.join(daily, spine.cal_date == daily.order_date, "left")
        .select(
            "cal_date",
            F.year("cal_date").cast("long").alias("cal_year"),
            F.month("cal_date").cast("long").alias("cal_month"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.coalesce("amt", F.lit(0.0)).alias("order_amt"),
        )
        .orderBy("cal_date")
    )


# ---------------------------------------------------------------------------
# J7 — non-equi range join (validity-window / banding, the discount
# as-of pattern). Reference: `13_InsertSalesAndOrders.sql:42-46`,
# `02_Trigger.sql:396-407`. The band table is tiny → broadcast, so the
# non-equi join is a BroadcastNestedLoop over k bands, not an O(n·m)
# shuffle — exactly how the 65-row Discounts table behaves at scale.


@register(
    "order_price_bands",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('SMALL', 0.0, 50000.0),
             ('MEDIUM', 50000.0, 150000.0),
             ('LARGE', 150000.0, 100000000.0)
    )
    SELECT b.band, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS band_amt
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    ORDER BY b.band
    """,
    operators=("J7", "A1"),
)
def order_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("SMALL", 0.0, 50_000.0), ("MEDIUM", 50_000.0, 150_000.0),
         ("LARGE", 150_000.0, 100_000_000.0)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             _dsum(_dec("o_totalprice")).alias("band_amt"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# S8 — surrogate-key assignment: offset + ROW_NUMBER over a stable
# natural-key order, reproducing `seq_dim_* START WITH 100001`
# (`05_InitialLoading.sql:68-71`). Window over one global ordering is
# fine for dimension-sized inputs; fact-sized keys would use
# zipWithIndex-style per-partition offsets instead.


@register(
    "surrogate_keys_customers",
    """
    SELECT 100000 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS customer_sk,
           c_custkey, c_name
    FROM customer
    ORDER BY customer_sk
    """,
    operators=("S8", "W2"),
)
def surrogate_keys_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_custkey")
    return (
        cust.select(
            (F.lit(100000) + F.row_number().over(w)).cast("long").alias("customer_sk"),
            "c_custkey", "c_name",
        )
        .orderBy("customer_sk")
    )


@register(
    "fact_surrogate_keys_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_keys,
           CAST(100001 AS BIGINT) AS min_key,
           CAST(100000 + COUNT(*) AS BIGINT) AS max_key
    FROM lineitem
    """,
    operators=("S8",),
)
def fact_surrogate_keys_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FACT-scale surrogate path (`surrogate.with_fact_surrogate_key`
    on the `operators/scan.py` two-phase scan,
    reproducing `05_InitialLoading.sql:68-71` sequence semantics at
    fact grain): partition-local row_number + cumulative partition
    offsets — no global single-partition window, the shape the 100×
    design depends on. The gate is layout-independent: the oracle
    states the invariants (distinct keys == rows, min == 100001,
    max == 100000 + n — together: unique AND contiguous AND correctly
    based), and the Spark side measures them on the actually-assigned
    keys over lineitem, the largest fixture table."""
    from ..operators.surrogate import with_fact_surrogate_key

    li = load_table(spark, sf_dir, "lineitem")
    keyed = with_fact_surrogate_key(li, "lineitem_sk")
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lineitem_sk").alias("n_distinct_keys"),
        F.min("lineitem_sk").alias("min_key"),
        F.max("lineitem_sk").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# §2.8 strings — the reference's string surface: UPPER/TRIM/LPAD/
# SUBSTR/REPLACE/concat/split+element_at (address parsing E3).
# Reference: `05_InitialLoading.sql:215-217,256-277`, `01_helpers.sql:48-53`.


@register(
    "string_function_surface",
    """
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS segment_lower,
           TRIM(c_name) AS name_trim,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS custkey_padded,
           'C' || LPAD(CAST(c_custkey AS VARCHAR), 6, '0') AS customer_id,
           REPLACE(c_name, '#', '-') AS name_dashed,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           str_split(c_name, '#')[-1] AS name_suffix,
           LENGTH(c_name) AS name_len
    FROM customer
    ORDER BY c_custkey
    """,
    operators=("P1", "E2", "E3"),
)
def string_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            F.upper("c_name").alias("name_upper"),
            F.lower("c_mktsegment").alias("segment_lower"),
            F.trim(F.col("c_name")).alias("name_trim"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("custkey_padded"),
            F.concat(F.lit("C"), F.lpad(F.col("c_custkey").cast("string"), 6, "0"))
            .alias("customer_id"),
            F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.element_at(F.split("c_name", "#"), -1).alias("name_suffix"),
            F.length("c_name").alias("name_len"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# §2.8 dates — the date-dimension attribute surface (E1):
# year/quarter/month/day, month name, day name, truncations,
# add_months/last_day, datediff. Reference: `05_InitialLoading.sql:177-195`.


@register(
    "date_function_surface",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           EXTRACT(YEAR FROM o_orderdate) AS cal_year,
           EXTRACT(QUARTER FROM o_orderdate) AS cal_quarter,
           EXTRACT(MONTH FROM o_orderdate) AS cal_month,
           EXTRACT(DAY FROM o_orderdate) AS cal_day,
           EXTRACT(DOY FROM o_orderdate) AS day_of_year,
           strftime(o_orderdate, '%A') AS day_name,
           strftime(o_orderdate, '%B') AS month_name,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(date_trunc('year', o_orderdate) AS DATE) AS year_start,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
           CAST(last_day(o_orderdate) AS DATE) AS month_end,
           datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
           CASE WHEN strftime(o_orderdate, '%A') IN ('Saturday', 'Sunday')
                THEN 'N' ELSE 'Y' END AS is_weekday
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    operators=("E1", "P1", "P2"),
)
def date_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        orders.filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            d.cast("date").alias("order_date"),
            F.year(d).cast("long").alias("cal_year"),
            F.quarter(d).cast("long").alias("cal_quarter"),
            F.month(d).cast("long").alias("cal_month"),
            F.dayofmonth(d).cast("long").alias("cal_day"),
            F.dayofyear(d).cast("long").alias("day_of_year"),
            F.date_format(d, "EEEE").alias("day_name"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.date_trunc("month", d).cast("date").alias("month_start"),
            F.date_trunc("year", d).cast("date").alias("year_start"),
            F.add_months(d, 3).alias("plus_3_months"),
            F.last_day(d).alias("month_end"),
            F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date"))
            .cast("long").alias("days_to_eoy"),
            F.when(F.date_format(d, "EEEE").isin("Saturday", "Sunday"), "N")
            .otherwise("Y").alias("is_weekday"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# P3/P5/P6/P7 — IN-list, LIKE, and the reference's dynamic
# multi-value parameter filter (comma-split list → IN).
# Reference: `LQY_query2.txt:58-62,80-81`, `02_InsertMembers.sql:9`.


def filtered_orders(spark: SparkSession, sf_dir: str,
                    priorities_csv: str = "1-URGENT,2-HIGH",
                    segment_like: str = "B%") -> DataFrame:
    """Parameterized plan: csv param → split → isin (P7), LIKE (P5).

    Passing ``'%'`` for either parameter disables that filter (P6),
    mirroring `LQY_query2.txt:80-81`.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    prios = [p.strip() for p in priorities_csv.split(",")]
    out = orders.join(cust, orders.o_custkey == cust.c_custkey)
    if priorities_csv != "%":
        out = out.filter(F.col("o_orderpriority").isin(prios))
    if segment_like != "%":
        out = out.filter(F.col("c_mktsegment").like(segment_like))
    return (
        out.groupBy("o_orderpriority", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority", "c_mktsegment")
    )


@register(
    "param_filter_orders",
    """
    SELECT o_orderpriority, c_mktsegment, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND c_mktsegment LIKE 'B%'
    GROUP BY o_orderpriority, c_mktsegment
    ORDER BY o_orderpriority, c_mktsegment
    """,
    operators=("P3", "P5", "P6", "P7"),
)
def param_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return filtered_orders(spark, sf_dir)


# ---------------------------------------------------------------------------
# E4/P4 — CASE banding + division guard x/NULLIF(y,0).
# Reference: age banding `05_InitialLoading.sql:237-246`, guard `:393`.


@register(
    "acctbal_banding",
    """
    WITH banded AS (
      SELECT CASE WHEN c_acctbal < 0 THEN 'NEGATIVE'
                  WHEN c_acctbal < 3000 THEN 'LOW'
                  WHEN c_acctbal < 7000 THEN 'MEDIUM'
                  ELSE 'HIGH' END AS balance_band,
             c_acctbal, c_custkey
      FROM customer
    ), order_counts AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT b.balance_band,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS band_balance,
           CAST(SUM(COALESCE(oc.n_orders, 0)) AS DOUBLE)
             / NULLIF(COUNT(*), 0) AS avg_orders_per_customer
    FROM banded b LEFT JOIN order_counts oc ON b.c_custkey = oc.o_custkey
    GROUP BY b.balance_band
    ORDER BY b.balance_band
    """,
    operators=("E4", "P4", "J2", "A1"),
)
def acctbal_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("c_acctbal") < 0, "NEGATIVE")
        .when(F.col("c_acctbal") < 3000, "LOW")
        .when(F.col("c_acctbal") < 7000, "MEDIUM")
        .otherwise("HIGH")
    )
    order_counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.withColumn("balance_band", band)
        .join(order_counts, cust.c_custkey == order_counts.o_custkey, "left")
        .groupBy("balance_band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(_dec("c_acctbal")).alias("band_balance"),
            (F.sum(F.coalesce("n_orders", F.lit(0))).cast("double")
             / F.nullif(F.count(F.lit(1)), F.lit(0)))
            .alias("avg_orders_per_customer"),
        )
        .orderBy("balance_band")
    )


# ---------------------------------------------------------------------------
# JSON extraction from the events props column (semi-structured path).


@register(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    operators=("P1", "A1", "JSON"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.min(k).cast("bigint").alias("min_k"),
            F.max(k).cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Batch sessionization over events: gap-based session ids via LAG +
# running SUM — the batch analogue of the streaming session window
# (streaming variant lives in streaming/events.py).


@register(
    "events_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
    operators=("W1", "W2", "A3", "SESSIONIZE"),
    bench=True,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Microsecond diff keeps sub-second precision and works for both
    # TIMESTAMP and TIMESTAMP_NTZ inputs (parquet without isAdjustedToUTC
    # reads as NTZ, which cannot be cast to DOUBLE).
    new_session = F.when(
        prev_ts.isNull()
        | (F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
           > F.lit(1_800_000_000)),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )
