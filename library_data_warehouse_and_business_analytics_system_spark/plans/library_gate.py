"""Driver-gate registration for the three LQY flagship reports.

The reports (plans/library/reports.py, mirroring the reference's
LQY_query1.txt:39-111, LQY_query2.txt:57-215, LQY_query3.txt:62-135)
run on the library star schema, not on the driver's TPC-ish testdata —
so their gate rows read the committed fixture warehouse at
``fixtures/library_dw/`` (built once by
scripts/build_fixture_warehouse.py from the seeded generator + EP2
initial_load) and their DuckDB oracles read the very same parquet via
``read_parquet`` with absolute paths. Both engines therefore see
byte-identical input, and the compare is the driver's usual bit-exact
hash.

The oracle SQL strings are independent translations of the reference
SQL (not of our Spark code); tests/test_library_etl.py imports them so
the pytest differential and the driver gate can never diverge.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..sources.catalog import read_parquet
from .library import (query1, query1_subtotals, query2, query2_subtotals,
                      query3, query3_subtotals)
from .registry import gate_root, register

FIXTURE_DIR = (pathlib.Path(__file__).resolve().parents[2]
               / "fixtures" / "library_dw")

_DW_TABLES = ("dim_date", "dim_book", "dim_members", "dim_suppliers",
              "fact_sales", "fact_purchase", "fact_borrowing")


def load_warehouse(spark: SparkSession) -> dict[str, DataFrame]:
    return {t: read_parquet(spark, str(FIXTURE_DIR / f"{t}.parquet"))
            for t in _DW_TABLES}


def _fixture_ctes(*tables: str) -> str:
    return ",\n".join(
        f"{t} AS (SELECT * FROM "
        f"read_parquet('{FIXTURE_DIR}/{t}.parquet/*.parquet'))"
        for t in tables)


# ---------------------------------------------------------------------------
# Independent DuckDB translations of the reference reports. {yf}/{yt}
# etc. are filled by str.format — pytest reuses these with its own
# parameter sets (tests/test_library_etl.py).

Q1_SQL = """
WITH sales_q AS (
  SELECT d.cal_year AS year, d.cal_quarter AS qtr, b.genre,
         SUM(CAST(fs.line_total AS DECIMAL(18,4))) AS amount,
         SUM(fs.quantity) AS qty
  FROM fact_sales fs
  JOIN dim_date d ON d.dateKey = fs.dateKey
  JOIN dim_book b ON b.bookKey = fs.bookKey
  JOIN dim_members m ON m.memberKey = fs.memberKey
  WHERE d.cal_year BETWEEN {yf} - 1 AND {yt}
    AND ('{g}' = 'ALL' OR UPPER(m.memberGender) = '{g}')
  GROUP BY 1, 2, 3
), genre_year AS (
  SELECT year, genre,
         SUM(CASE WHEN qtr='Q1' THEN amount ELSE 0 END) AS q1_amt,
         SUM(CASE WHEN qtr='Q2' THEN amount ELSE 0 END) AS q2_amt,
         SUM(CASE WHEN qtr='Q3' THEN amount ELSE 0 END) AS q3_amt,
         SUM(CASE WHEN qtr='Q4' THEN amount ELSE 0 END) AS q4_amt,
         SUM(qty) AS tot_qty, SUM(amount) AS tot_amt
  FROM sales_q GROUP BY year, genre
), genre_metrics AS (
  SELECT year, genre, q1_amt, q2_amt, q3_amt, q4_amt,
    CASE WHEN q1_amt=0 THEN NULL
         ELSE ROUND((q2_amt-q1_amt)/NULLIF(q1_amt,0)*100,1) END AS pct_q1_q2,
    CASE WHEN q2_amt=0 THEN NULL
         ELSE ROUND((q3_amt-q2_amt)/NULLIF(q2_amt,0)*100,1) END AS pct_q2_q3,
    CASE WHEN q3_amt=0 THEN NULL
         ELSE ROUND((q4_amt-q3_amt)/NULLIF(q3_amt,0)*100,1) END AS pct_q3_q4,
    tot_qty,
    LAG(tot_qty) OVER (PARTITION BY genre ORDER BY year) AS prev_qty,
    tot_amt,
    LAG(tot_amt) OVER (PARTITION BY genre ORDER BY year) AS prev_amt
  FROM genre_year
), ranked AS (
  SELECT year, genre, q1_amt, q2_amt, q3_amt, q4_amt,
         pct_q1_q2, pct_q2_q3, pct_q3_q4, tot_qty,
         CASE WHEN prev_qty IS NULL OR prev_qty=0 THEN 0
              ELSE ROUND((tot_qty-prev_qty)/prev_qty*100,1) END AS qty_diff_pct,
         tot_amt,
         CASE WHEN prev_amt IS NULL OR prev_amt=0 THEN 0
              ELSE ROUND((tot_amt-prev_amt)/prev_amt*100,1) END AS amt_diff_pct,
         ROW_NUMBER() OVER (PARTITION BY year
                            ORDER BY COALESCE(tot_amt,0) DESC) AS rn
  FROM genre_metrics
  WHERE year BETWEEN {yf} AND {yt}
)
SELECT year, genre,
       CAST(COALESCE(q1_amt,0) AS DOUBLE) AS q1_amt,
       CAST(COALESCE(q2_amt,0) AS DOUBLE) AS q2_amt,
       CAST(COALESCE(q3_amt,0) AS DOUBLE) AS q3_amt,
       CAST(COALESCE(q4_amt,0) AS DOUBLE) AS q4_amt,
       CAST(pct_q1_q2 AS DOUBLE) AS pct_q1_q2,
       CAST(pct_q2_q3 AS DOUBLE) AS pct_q2_q3,
       CAST(pct_q3_q4 AS DOUBLE) AS pct_q3_q4,
       CAST(COALESCE(tot_qty,0) AS BIGINT) AS tot_qty,
       CAST(qty_diff_pct AS DOUBLE) AS qty_diff_pct,
       CAST(COALESCE(tot_amt,0) AS DOUBLE) AS tot_amt,
       CAST(amt_diff_pct AS DOUBLE) AS amt_diff_pct
FROM ranked WHERE rn <= {lim}
ORDER BY year, tot_amt DESC, genre
"""

Q2_SQL = """
WITH p_lines AS (
  SELECT d.cal_year AS year, d.cal_quarter AS quarter,
         CAST(SUBSTRING(d.cal_quarter, 2, 1) AS INT) AS qnum,
         b.genre, fp.purchaseOrderId AS po_id,
         fp.quantity AS line_qty,
         CAST(fp.totalAmount AS DECIMAL(18,4)) AS line_amt
  FROM fact_purchase fp
  JOIN dim_date d ON d.dateKey = fp.dateKey
  JOIN dim_book b ON b.bookKey = fp.bookKey
  JOIN dim_suppliers s ON s.supplierKey = fp.supplierKey
  WHERE d.cal_year BETWEEN {yf} - 1 AND {yt} AND {sup}
), po_tot AS (
  SELECT year, quarter, qnum, po_id,
         SUM(line_amt) AS po_amt, SUM(line_qty) AS po_qty
  FROM p_lines GROUP BY year, quarter, qnum, po_id
), share AS (
  SELECT year, quarter, qnum, po_id, genre, SUM(line_amt) AS g_amt
  FROM p_lines GROUP BY year, quarter, qnum, po_id, genre
), primary_genre AS (
  SELECT year, quarter, qnum, po_id, genre FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY year, quarter, qnum, po_id
      ORDER BY g_amt DESC, genre ASC) AS rn
    FROM share) WHERE rn = 1
), genre_partitioned AS (
  SELECT p.year, p.quarter, p.qnum, p.genre,
         COUNT(DISTINCT p.po_id) AS po_cnt,
         SUM(t.po_amt) AS spend, SUM(t.po_qty) AS qty_pur
  FROM primary_genre p
  JOIN po_tot t USING (year, quarter, qnum, po_id)
  GROUP BY p.year, p.quarter, p.qnum, p.genre
), qtrs AS (
  SELECT DISTINCT year, quarter, qnum FROM p_lines
  WHERE year BETWEEN {yf} AND {yt}
), genres AS (
  SELECT DISTINCT genre FROM dim_book WHERE genre IS NOT NULL
), filled AS (
  SELECT q.year, q.quarter, q.qnum, g.genre,
         COALESCE(p.spend, CAST(0 AS DECIMAL(18,4))) AS spend,
         COALESCE(p.qty_pur, 0) AS qty_pur,
         COALESCE(p.po_cnt, 0) AS po_cnt
  FROM qtrs q CROSS JOIN genres g
  LEFT JOIN genre_partitioned p
    ON p.year = q.year AND p.quarter = q.quarter
   AND p.qnum = q.qnum AND p.genre = g.genre
), kept AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY year, quarter
      ORDER BY spend DESC, genre ASC) AS rn
    FROM filled) WHERE rn <= {topn}
), trend AS (
  -- aov emulates Spark's EXACT decimal division + HALF_UP round in
  -- integer arithmetic: DuckDB promotes decimal division to DOUBLE,
  -- so ROUND(spend / po_cnt, 2) lands on the wrong side of a .005
  -- boundary exactly where the IEEE quotient dips below the true
  -- decimal one (e.g. 156160.27/2 -> 78080.13499999.. -> .13 while
  -- exact HALF_UP gives .14). spend has scale 4, so
  -- cents = (spend*10^4*100 + po_cnt*5000) // (po_cnt*10^4).
  SELECT *, po_cnt AS po_cnt_qtr,
         CASE WHEN COALESCE(po_cnt, 0) = 0 THEN NULL
              ELSE CAST((CAST(spend * 10000 AS HUGEINT) * 100
                         + CAST(po_cnt AS HUGEINT) * 5000)
                        // (CAST(po_cnt AS HUGEINT) * 10000) AS DOUBLE)
                   / 100 END AS aov,
         LAG(spend) OVER (PARTITION BY genre ORDER BY year, qnum) AS prev_spend
  FROM kept
)
SELECT year, quarter, genre,
       CAST(COALESCE(spend, 0) AS DOUBLE) AS spend,
       COALESCE(CAST(
         CASE WHEN year = {yf} AND qnum = 1 THEN 0.0
              WHEN prev_spend IS NULL OR prev_spend = 0 THEN 0.0
              ELSE ROUND((spend - prev_spend)
                         / NULLIF(prev_spend, 0) * 100, 2)
         END AS DOUBLE), 0.0) AS pct_qoq,
       CAST(COALESCE(po_cnt_qtr, 0) AS BIGINT) AS po_cnt_qtr,
       COALESCE(CAST(aov AS DOUBLE), 0.0) AS aov,
       CAST(COALESCE(qty_pur, 0) AS BIGINT) AS qty_pur
FROM trend
WHERE year BETWEEN {yf} AND {yt}
  AND NOT (spend = 0 AND qty_pur = 0 AND po_cnt_qtr = 0)
ORDER BY year, qnum, spend DESC
"""

Q3_SQL = """
WITH joined AS (
  SELECT d.cal_year AS year, d.cal_quarter AS quarter,
         CAST(SUBSTRING(d.cal_quarter, 2, 1) AS INT) AS qnum,
         UPPER(COALESCE(NULLIF(TRIM(m.state), ''), 'UNKNOWN')) AS state,
         CAST(fs.line_total AS DECIMAL(18,4)) AS line_total,
         CAST(fs.quantity AS DECIMAL(18,4))
           * (CAST(0.8 AS DECIMAL(8,4))
              * CAST(COALESCE(b.price, 0) AS DECIMAL(18,4))) AS cost
  FROM fact_sales fs
  JOIN dim_date d ON d.dateKey = fs.dateKey
  JOIN dim_book b ON b.bookKey = fs.bookKey
  JOIN dim_members m ON m.memberKey = fs.memberKey
  WHERE d.cal_year BETWEEN {yf} AND {yt}
), agg AS (
  SELECT year, quarter, qnum, state,
         SUM(line_total) AS total_revenue, SUM(cost) AS total_cost,
         SUM(line_total) - SUM(cost) AS total_gm
  FROM joined WHERE {sp} GROUP BY year, quarter, qnum, state
), f AS (
  SELECT *, CASE WHEN total_revenue = 0 THEN NULL
                 ELSE ROUND(total_gm / NULLIF(total_revenue,0) * 100, 2)
            END AS total_gm_pct
  FROM agg
), q AS (
  SELECT *, ROUND(total_gm_pct - LAG(total_gm_pct) OVER
                  (PARTITION BY state ORDER BY year, qnum), 2) AS gm_pct_qoq
  FROM f
)
SELECT year, quarter, state,
       CAST(total_revenue AS DOUBLE) AS total_revenue,
       CAST(total_cost AS DOUBLE) AS total_cost,
       CAST(total_gm AS DOUBLE) AS total_gm,
       CAST(total_gm_pct AS DOUBLE) AS total_gm_pct,
       CAST(COALESCE(gm_pct_qoq, 0) AS DOUBLE) AS gm_pct_qoq,
       CASE WHEN COALESCE(total_gm_pct, 0) >= {cov} THEN 'Meets Target'
            WHEN COALESCE(total_gm_pct, 0) >= {cov} - 3 THEN 'Near Target'
            ELSE 'Below Target' END AS signal
FROM q ORDER BY year, qnum, state
"""


# ---------------------------------------------------------------------------
# Gate parameter sets: wide enough year ranges that every report branch
# (pivot quarters, QoQ lag across years, universe fill, top-N clip) has
# live data at fixture scale.


@register(
    "lqy_query1",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + Q1_SQL.strip().removeprefix("WITH ").format(
        yf=2018, yt=2022, g="ALL", lim=5),
    operators=("EP1", "A2", "W1", "W2"),
    bench=False,
)
def lqy_query1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query1.txt:39-111 — quarterly top-genre sales report
    (pivot + QoQ pcts + YoY LAG + per-year top-N) on the committed
    fixture warehouse. ``sf_dir`` is ignored: the report's input is
    the star schema, not the driver testdata."""
    return query1(load_warehouse(spark), 2018, 2022, limit=5,
                  gender="ALL")


@register(
    "lqy_query2",
    "WITH " + _fixture_ctes("fact_purchase", "dim_date", "dim_book",
                            "dim_suppliers") + ",\n"
    + Q2_SQL.strip().removeprefix("WITH ").format(yf=2017, yt=2020, topn=5,
                                                  sup="1=1"),
    operators=("EP1", "A5", "O4", "J5"),
    bench=False,
)
def lqy_query2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query2.txt:57-215 — quarterly purchase spend by primary
    genre (per-PO primary-genre attribution, quarter×genre universe
    fill, top-N, QoQ trend) on the committed fixture warehouse."""
    return query2(load_warehouse(spark), 2017, 2020, topn=5)


@register(
    "lqy_query3",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + Q3_SQL.strip().removeprefix("WITH ").format(yf=2016, yt=2020, cov=15,
                                                  sp="1=1"),
    operators=("EP1", "A1", "W1"),
    bench=False,
)
def lqy_query3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query3.txt:62-135 — quarterly gross margin by member state
    (cost model, GM%, QoQ delta, target signal) on the committed
    fixture warehouse."""
    return query3(load_warehouse(spark), 2016, 2020, states_csv="%",
                  target_gm_pct=15.0)


# ---------------------------------------------------------------------------
# Second parameterization per report (VERDICT r5 item 5): the dynamic
# P6 gender branch of q1 (LQY_query1.txt:51) and the multi-value P7
# state-CSV branch of q3 (LQY_query3.txt:72-75) face the driver's
# bit-exact hash, not just the pytest differential.


@register(
    "lqy_query1_f",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + Q1_SQL.strip().removeprefix("WITH ").format(
        yf=2019, yt=2021, g="F", lim=3),
    operators=("EP1", "P6", "A2", "W1", "W2"),
    bench=False,
)
def lqy_query1_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query1.txt:51 — the `&p_gender` dynamic-filter branch
    ACTIVE (gender='F', the non-'ALL' path) with a tighter top-N."""
    return query1(load_warehouse(spark), 2019, 2021, limit=3,
                  gender="F")


@register(
    "lqy_query2_suppliers",
    "WITH " + _fixture_ctes("fact_purchase", "dim_date", "dim_book",
                            "dim_suppliers") + ",\n"
    + Q2_SQL.strip().removeprefix("WITH ").format(
        yf=2017, yt=2020, topn=5,
        sup="UPPER(s.supplierName) IN ('SUPPLIER LIM SDN BHD',"
            "'SUPPLIER WONG SDN BHD','SUPPLIER KUMAR SDN BHD')"),
    operators=("EP1", "P7", "A5", "O4", "J5"),
    bench=False,
)
def lqy_query2_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query2.txt:58-62,81 — the comma-split supplier-name
    parameter filter ACTIVE (P7): purchase lines restrict to the
    listed suppliers before PO/primary-genre attribution; mixed-case
    input normalized like the reference. Completes driver-gate
    coverage of every LQY dynamic-parameter branch."""
    return query2(load_warehouse(spark), 2017, 2020, topn=5,
                  suppliers_csv="Supplier Lim Sdn Bhd,"
                                "Supplier Wong Sdn Bhd,"
                                "Supplier Kumar Sdn Bhd")


@register(
    "lqy_query3_states",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + Q3_SQL.strip().removeprefix("WITH ").format(
        yf=2016, yt=2020, cov=15,
        sp="state IN ('PERLIS','SELANGOR','KEDAH')"),
    operators=("EP1", "P7", "A1", "W1"),
    bench=False,
)
def lqy_query3_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query3.txt:72-75 — the comma-split multi-state parameter
    filter ACTIVE (P7): only the listed states survive to the GM
    aggregation, mixed-case input normalized like the reference."""
    return query3(load_warehouse(spark), 2016, 2020,
                  states_csv="Perlis,Selangor,Kedah",
                  target_gm_pct=15.0)


# ---------------------------------------------------------------------------
# SCD2 apply under the driver hash. The Spark side RUNS the generic
# expire-and-insert operator (operators/scd2.scd2_apply — the
# reference's Prod_Update_DimBook, 06_Type2_DimBook.sql:22-113) on the
# committed dimension with a deterministic update batch both engines
# derive identically; the oracle INDEPENDENTLY derives the intended
# outcome (expired rows, successor versions with continued surrogate
# keys, untouched rows) in plain SQL. A green row therefore certifies
# the write-side transform itself — change detection, the
# GREATEST(effective-1) expiration guard, carried-column propagation,
# first-version inserts, and key continuation — bit-for-bit.

SCD2_DIMBOOK_SQL = """
WITH dim AS (SELECT * FROM read_parquet('{fix}/dim_book.parquet/*.parquet')),
cur AS (
  SELECT *, CAST('0x' || substr(md5('scd2:' || bookId), 1, 6)
                 AS INTEGER) % 5 AS bkt
  FROM dim WHERE curr_ind = 'Y'
), mx AS (SELECT MAX(bookKey) AS mxk FROM dim),
inserts AS (
  SELECT bookId, price + 5.0 AS price, bookStatus,
         title, author, genre, popularity
  FROM cur WHERE bkt = 0
  UNION ALL
  SELECT 'ZZNEW1', 42.5, 'AVAILABLE',
         'BRAND NEW TITLE', 'NEW AUTHOR', 'FICTION', 3.0
), keyed AS (
  SELECT i.*, mx.mxk + ROW_NUMBER() OVER (ORDER BY bookId) AS bookKey
  FROM inserts i, mx
), result AS (
  -- untouched sample (bkt=1): pass through
  SELECT bookKey, bookId, price, bookStatus, title, popularity,
         effective_date, expiration_date, curr_ind
  FROM cur WHERE bkt = 1
  UNION ALL
  -- changed rows: expired, closing the day before the batch
  SELECT bookKey, bookId, price, bookStatus, title, popularity,
         effective_date,
         GREATEST(DATE '2025-02-28', effective_date) AS expiration_date,
         'N' AS curr_ind
  FROM cur WHERE bkt = 0
  UNION ALL
  -- successor versions + the brand-new first version
  SELECT bookKey, bookId, price, bookStatus, title, popularity,
         DATE '2025-03-01' AS effective_date,
         DATE '9999-12-31' AS expiration_date, 'Y' AS curr_ind
  FROM keyed
)
SELECT CAST(bookKey AS BIGINT) AS bookKey, bookId,
       CAST(price AS DOUBLE) AS price, bookStatus, title,
       CAST(popularity AS DOUBLE) AS popularity,
       strftime(effective_date, '%Y-%m-%d') AS effective_date,
       strftime(expiration_date, '%Y-%m-%d') AS expiration_date,
       curr_ind
FROM result ORDER BY bookId, bookKey
"""


@register(
    "scd2_dimbook_apply",
    SCD2_DIMBOOK_SQL.format(fix=FIXTURE_DIR),
    operators=("E8", "S8", "S5"),
    bench=False,
)
def scd2_dimbook_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run scd2_apply on the committed dim_book with a deterministic
    batch: every bucket-0 book gets price+5 (changed → expire+insert),
    bucket-1 books arrive unchanged (must be untouched), and one
    brand-new bookId inserts its first version. Output restricted to
    touched natural keys, date columns formatted for bit-exact
    comparison. ``sf_dir`` is ignored — the input is the fixture
    star schema."""
    import datetime as dt

    from ..functions.text import md5_bucket
    from ..operators.scd2 import scd2_apply

    db = load_warehouse(spark)["dim_book"]
    cur = db.filter(F.col("curr_ind") == "Y")
    bkt = md5_bucket(F.col("bookId"), 5, salt="scd2:")
    changed = (cur.where(bkt == 0)
               .select("bookId", (F.col("price") + 5.0).alias("price"),
                       "bookStatus"))
    unchanged = cur.where(bkt == 1).select("bookId", "price", "bookStatus")
    brand_new = spark.createDataFrame(
        [("ZZNEW1", 42.5, "AVAILABLE", "BRAND NEW TITLE", "NEW AUTHOR",
          "FICTION", 3.0)],
        "bookId string, price double, bookStatus string, title string, "
        "author string, genre string, popularity double")
    updates = (changed.unionByName(unchanged)
               .unionByName(brand_new, allowMissingColumns=True))

    out = scd2_apply(db, updates, "bookId", ["price", "bookStatus"],
                     "bookKey", dt.date(2025, 3, 1),
                     carried=["title", "author", "genre", "popularity"])
    touched = updates.select("bookId").distinct()
    return (
        out.join(F.broadcast(touched), "bookId", "left_semi")
        .select(F.col("bookKey").cast("bigint").alias("bookKey"),
                "bookId", F.col("price").cast("double").alias("price"),
                "bookStatus", "title",
                F.col("popularity").cast("double").alias("popularity"),
                F.date_format("effective_date", "yyyy-MM-dd")
                .alias("effective_date"),
                F.date_format("expiration_date", "yyyy-MM-dd")
                .alias("expiration_date"),
                "curr_ind")
        .orderBy("bookId", "bookKey")
    )


# ---------------------------------------------------------------------------
# MERGE (S5) under the driver hash, on the driver's own orders table:
# the Spark side RUNS operators/merge.merge_upsert (the emulation of
# 07_SubsequentLoading.sql:331-355's Oracle MERGE) with a
# deterministic source both engines derive identically; the oracle
# independently states the intended outcome — updated rows take the
# source value for update columns and keep target values elsewhere,
# unmatched source keys insert with NULL for columns the MERGE's
# INSERT clause doesn't list, untouched rows pass through.

MERGE_ORDERS_SQL = r"""
WITH b AS (
  SELECT *, CAST('0x' || substr(md5('merge:' || CAST(o_orderkey AS VARCHAR)),
                 1, 6) AS INTEGER) % 37 AS bkt
  FROM orders
), result AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM b WHERE bkt = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM b WHERE bkt IN (1, 2)
  UNION ALL
  SELECT o_orderkey + 10000000, NULL::BIGINT, NULL::VARCHAR,
         o_totalprice, NULL::TIMESTAMP, NULL::VARCHAR
  FROM b WHERE bkt = 1
)
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_orderpriority
FROM result ORDER BY o_orderkey
"""


@register(
    "merge_upsert_orders",
    MERGE_ORDERS_SQL,
    operators=("S5", "J9", "E9"),
    bench=False,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_upsert on orders: bucket-0 keys arrive as updates
    (o_totalprice + 10, other columns untouched by the restricted
    update set), bucket-1 keys re-arrive shifted by 10M (unmatched →
    insert with NULLs for unlisted columns), bucket-2 is an untouched
    pass-through sample. Output restricted to touched keys; a green
    row certifies the full-outer merge join's matched/unmatched
    branches and the update-column restriction bit-for-bit."""
    from ..functions.text import md5_bucket
    from ..operators.merge import merge_upsert
    from ..sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    bkt = md5_bucket(F.col("o_orderkey").cast("string"), 37, salt="merge:")
    upd = orders.where(bkt == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 10.0).alias("o_totalprice"))
    ins = orders.where(bkt == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_totalprice")
    merged = merge_upsert(orders, upd.unionByName(ins), ["o_orderkey"],
                          update_cols=["o_totalprice"])
    touched = (orders.where(bkt.isin(0, 1, 2)).select("o_orderkey")
               .unionByName(ins.select("o_orderkey")))
    return (
        merged.join(F.broadcast(touched), "o_orderkey", "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderstatus",
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
                .alias("o_orderdate"),
                "o_orderpriority")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Partition-scoped MERGE (VERDICT r6 item 3) under the driver hash:
# the Spark side RUNS tx_write_parts → tx_merge_parts → tx_read_parts
# against a real partitioned txlog table — the copy-on-write path that
# rewrites ONLY the partitions the delta touches (the reference's
# key-scoped MERGE, 07_SubsequentLoading.sql:331-355, at format
# level). The oracle independently states the outcome: updated keys
# take the new total, inserted keys land in the new 2099 partition
# with their source columns carried, untouched keys pass through.

MERGE_PARTS_SQL = r"""
WITH b AS (
  SELECT *, CAST('0x' || substr(md5('mp:' || CAST(o_orderkey AS VARCHAR)),
                 1, 6) AS INTEGER) % 23 AS bkt
  FROM orders
), result AS (
  SELECT o_orderkey, year(o_orderdate) AS o_year, o_custkey,
         o_totalprice + 10.0 AS o_totalprice
  FROM b WHERE bkt = 0
  UNION ALL
  SELECT o_orderkey, year(o_orderdate), o_custkey, o_totalprice
  FROM b WHERE bkt IN (1, 2)
  UNION ALL
  SELECT o_orderkey + 10000000, 2099, o_custkey, o_totalprice
  FROM b WHERE bkt = 1
)
SELECT o_orderkey, CAST(o_year AS INTEGER) AS o_year, o_custkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM result ORDER BY o_orderkey
"""


@register(
    "merge_parts_orders",
    MERGE_PARTS_SQL,
    operators=("S5", "J9", "E9"),
    bench=False,
)
def merge_parts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx_merge_parts on orders partitioned by order year: bucket-0
    keys arrive as updates (+10 on the restricted update set), bucket-1
    keys re-arrive shifted by 10M into a brand-new 2099 partition
    (inserts carry ALL source columns — Oracle MERGE's INSERT clause),
    bucket-2 is an untouched pass-through sample whose partitions the
    merge never reads or rewrites (pinned by tests/test_txlog_parts).
    A green row certifies staging, the replace_parts commit, and the
    partition-pruned snapshot read bit-for-bit."""
    from ..functions.text import md5_bucket
    from ..sources.catalog import load_table
    from ..sources.txlog import tx_merge_parts, tx_read_parts, tx_write_parts

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"),
        "o_custkey", "o_totalprice")
    root = gate_root("txparts_gate_")
    t = f"{root}/orders"
    tx_write_parts(orders, t, "o_year", mode="overwrite")

    bkt = md5_bucket(F.col("o_orderkey").cast("string"), 23, salt="mp:")
    upd = orders.where(bkt == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 10.0)
    ins = orders.where(bkt == 1).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(2099).alias("o_year"), "o_custkey", "o_totalprice")
    tx_merge_parts(spark, t, upd.unionByName(ins),
                   keys=["o_orderkey"], part_col="o_year",
                   update_cols=["o_totalprice"])

    touched = (orders.where(bkt.isin(0, 1, 2)).select("o_orderkey")
               .unionByName(ins.select("o_orderkey")))
    return (
        tx_read_parts(spark, t)
        .join(F.broadcast(touched), "o_orderkey", "left_semi")
        .select("o_orderkey", F.col("o_year").cast("int").alias("o_year"),
                "o_custkey",
                F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# NOT-EXISTS append (A8/J3 write path) + correlated-UPDATE
# retro-correction (S7) under the driver hash — with merge and SCD2
# above, every write-side transform family in SURVEY §2 now has a
# bit-exact driver-gate row, not only pytest properties.

BORROWING_APPEND_SQL = r"""
WITH fb AS (
  SELECT *, CAST('0x' || substr(md5('ins:' || CAST(dateKey AS VARCHAR)
                 || '-' || CAST(memberKey AS VARCHAR)
                 || '-' || CAST(bookKey AS VARCHAR)), 1, 6)
                 AS INTEGER) % 11 AS bkt
  FROM read_parquet('{fix}/fact_borrowing.parquet/*.parquet')
), result AS (
  -- rows whose keys the delta re-sent (bkt=0): NOT EXISTS drops the
  -- duplicates, the stored row survives once
  SELECT dateKey, memberKey, bookKey, overdueDays, borrowDuration,
         returnRate
  FROM fb WHERE bkt = 0
  UNION ALL
  -- bkt=1 originals stay; their shifted twins are brand-new keys and
  -- append exactly once despite arriving twice in the batch
  SELECT dateKey, memberKey, bookKey, overdueDays, borrowDuration,
         returnRate
  FROM fb WHERE bkt = 1
  UNION ALL
  SELECT dateKey, memberKey + 9000000, bookKey, overdueDays,
         borrowDuration, returnRate
  FROM fb WHERE bkt = 1
)
SELECT dateKey, memberKey, bookKey,
       CAST(CASE WHEN overdueDays > 3 THEN 0 ELSE overdueDays END
            AS BIGINT) AS overdueDays,
       CAST(borrowDuration AS BIGINT) AS borrowDuration,
       CAST(returnRate AS DOUBLE) AS returnRate
FROM result ORDER BY dateKey, memberKey, bookKey
"""


@register(
    "borrowing_not_exists_append",
    BORROWING_APPEND_SQL.format(fix=FIXTURE_DIR),
    operators=("A8", "J3", "S7", "E9"),
    bench=False,
)
def borrowing_not_exists_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insert_not_exists + cap_overdue_days on the committed
    fact_borrowing: bucket-0 keys are re-delivered (must be dropped by
    the NOT-EXISTS anti-join), bucket-1 keys arrive shifted to new
    member keys AND duplicated within the batch (must append exactly
    once), then the correlated-UPDATE recode zeroes overdueDays > 3.
    The oracle independently states the outcome; output restricted to
    touched keys."""
    from ..functions.text import md5_bucket
    from ..operators.merge import insert_not_exists
    from .library.incremental import cap_overdue_days

    fb = load_warehouse(spark)["fact_borrowing"]
    keys = ["dateKey", "memberKey", "bookKey"]
    bkt = md5_bucket(F.concat_ws("-", *keys), 11, salt="ins:")
    redelivered = fb.where(bkt == 0)
    shifted = fb.where(bkt == 1).withColumn(
        "memberKey", F.col("memberKey") + 9_000_000)
    delta = redelivered.unionByName(shifted).unionByName(shifted)
    merged = insert_not_exists(fb, delta, keys)
    corrected = cap_overdue_days(merged, cap=3)
    touched = (fb.where(bkt.isin(0, 1)).select(*keys)
               .unionByName(shifted.select(*keys)))
    return (
        corrected.join(F.broadcast(touched), keys, "left_semi")
        .select("dateKey", "memberKey", "bookKey",
                F.col("overdueDays").cast("bigint").alias("overdueDays"),
                F.col("borrowDuration").cast("bigint")
                .alias("borrowDuration"),
                F.col("returnRate").cast("double").alias("returnRate"))
        .orderBy("dateKey", "memberKey", "bookKey")
    )


# ---------------------------------------------------------------------------
# SQL*Plus COMPUTE subtotal variants (r8 verdict item 6): the
# reference reports PRINT per-break subtotal lines via the SQL*Plus
# presentation layer (LQY_query1.txt:36-37, LQY_query2.txt:53-54,
# LQY_query3.txt:59-60) which the plain gates above don't emit. These
# three gates run plans/library/reports.py::query{1,2,3}_subtotals —
# detail rows + the COMPUTE SUM rows (one rollup pass, grouping-sets
# semantics) — against DuckDB GROUPING SETS oracles over the same
# independently-translated detail SQL. Subtotals are decimal-exact
# sums of the displayed values on both sides, so the compare stays
# the driver's usual bit-exact hash.


Q1_SUBTOTALS_TAIL = """
, totals AS (
  SELECT year, CAST(NULL AS VARCHAR) AS genre,
         CAST(SUM(CAST(q1_amt AS DECIMAL(18,4))) AS DOUBLE) AS q1_amt,
         CAST(SUM(CAST(q2_amt AS DECIMAL(18,4))) AS DOUBLE) AS q2_amt,
         CAST(SUM(CAST(q3_amt AS DECIMAL(18,4))) AS DOUBLE) AS q3_amt,
         CAST(SUM(CAST(q4_amt AS DECIMAL(18,4))) AS DOUBLE) AS q4_amt,
         CAST(NULL AS DOUBLE) AS pct_q1_q2,
         CAST(NULL AS DOUBLE) AS pct_q2_q3,
         CAST(NULL AS DOUBLE) AS pct_q3_q4,
         CAST(SUM(tot_qty) AS BIGINT) AS tot_qty,
         CAST(NULL AS DOUBLE) AS qty_diff_pct,
         CAST(SUM(CAST(tot_amt AS DECIMAL(18,4))) AS DOUBLE) AS tot_amt,
         CAST(NULL AS DOUBLE) AS amt_diff_pct
  FROM detail GROUP BY year
)
, uni AS (
  SELECT *, 'detail' AS row_kind FROM detail
  UNION ALL
  SELECT *, 'total' AS row_kind FROM totals
)
SELECT * FROM uni ORDER BY year, row_kind, tot_amt DESC, genre
"""


@register(
    "lqy_query1_subtotals",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + "detail AS (\n"
    + Q1_SQL.format(yf=2018, yt=2022, g="ALL", lim=5)
    + "\n)" + Q1_SUBTOTALS_TAIL,
    operators=("EP1", "A9", "A2", "W2"),
    bench=False,
)
def lqy_query1_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query1.txt:36-37 — BREAK ON year / COMPUTE SUM OF
    q1..q4_amt tot_qty tot_amt ON year: the report WITH its per-year
    subtotal rows, as a user of the original SQL*Plus output sees it."""
    return query1_subtotals(load_warehouse(spark), 2018, 2022, limit=5,
                            gender="ALL")


Q2_SUBTOTALS_TAIL = """
, det AS (
  SELECT *, CAST(SUBSTRING(quarter, 2, 1) AS INT) AS qnum FROM detail
), totals AS (
  SELECT year,
         CASE WHEN GROUPING(qnum) = 0 THEN 'Q' || qnum END AS quarter,
         CAST(NULL AS VARCHAR) AS genre,
         CAST(SUM(CAST(spend AS DECIMAL(18,4))) AS DOUBLE) AS spend,
         CAST(NULL AS DOUBLE) AS pct_qoq,
         CAST(SUM(po_cnt_qtr) AS BIGINT) AS po_cnt_qtr,
         CAST(NULL AS DOUBLE) AS aov,
         CAST(SUM(qty_pur) AS BIGINT) AS qty_pur,
         CASE WHEN GROUPING(qnum) = 0 THEN 'qtr_total'
              ELSE 'year_total' END AS row_kind
  FROM det GROUP BY GROUPING SETS ((year, qnum), (year))
)
, uni AS (
  SELECT year, quarter, genre, spend, pct_qoq, po_cnt_qtr, aov, qty_pur,
         'detail' AS row_kind
  FROM detail
  UNION ALL
  SELECT * FROM totals
)
SELECT * FROM uni
ORDER BY year, COALESCE(CAST(SUBSTRING(quarter, 2, 1) AS INT), 9),
         row_kind, spend DESC, genre
"""


@register(
    "lqy_query2_subtotals",
    "WITH " + _fixture_ctes("fact_purchase", "dim_date", "dim_book",
                            "dim_suppliers") + ",\n"
    + "detail AS (\n"
    + Q2_SQL.format(yf=2017, yt=2020, topn=5, sup="1=1")
    + "\n)" + Q2_SUBTOTALS_TAIL,
    operators=("EP1", "A9", "A5", "O4"),
    bench=False,
)
def lqy_query2_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query2.txt:53-54 — BREAK ON year, quarter / COMPUTE SUM OF
    spend qty_pur po_cnt_qtr ON year quarter: per-quarter AND per-year
    subtotal rows via one rollup pass (grouping-sets oracle)."""
    return query2_subtotals(load_warehouse(spark), 2017, 2020, topn=5)


Q3_SUBTOTALS_TAIL = """
, det AS (
  SELECT *, CAST(SUBSTRING(quarter, 2, 1) AS INT) AS qnum FROM detail
), totals AS (
  SELECT year,
         CASE WHEN GROUPING(qnum) = 0 THEN 'Q' || qnum END AS quarter,
         CAST(NULL AS VARCHAR) AS state,
         CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE)
           AS total_revenue,
         CAST(SUM(CAST(total_cost AS DECIMAL(18,4))) AS DOUBLE)
           AS total_cost,
         CAST(SUM(CAST(total_gm AS DECIMAL(18,4))) AS DOUBLE) AS total_gm,
         CAST(NULL AS DOUBLE) AS total_gm_pct,
         CAST(NULL AS DOUBLE) AS gm_pct_qoq,
         CAST(NULL AS VARCHAR) AS signal,
         CASE WHEN GROUPING(qnum) = 0 THEN 'qtr_total'
              ELSE 'year_total' END AS row_kind
  FROM det GROUP BY GROUPING SETS ((year, qnum), (year))
)
, uni AS (
  SELECT year, quarter, state, total_revenue, total_cost, total_gm,
         total_gm_pct, gm_pct_qoq, signal, 'detail' AS row_kind
  FROM detail
  UNION ALL
  SELECT * FROM totals
)
SELECT * FROM uni
ORDER BY year, COALESCE(CAST(SUBSTRING(quarter, 2, 1) AS INT), 9),
         row_kind, state
"""


@register(
    "lqy_query3_subtotals",
    "WITH " + _fixture_ctes("fact_sales", "dim_date", "dim_book",
                            "dim_members") + ",\n"
    + "detail AS (\n"
    + Q3_SQL.format(yf=2016, yt=2020, cov=15, sp="1=1")
    + "\n)" + Q3_SUBTOTALS_TAIL,
    operators=("EP1", "A9", "A1", "W1"),
    bench=False,
)
def lqy_query3_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQY_query3.txt:59-60 — BREAK ON year, quarter / COMPUTE SUM OF
    total_revenue total_cost total_gm ON quarter year: the GM report
    with its per-quarter and per-year subtotal rows."""
    return query3_subtotals(load_warehouse(spark), 2016, 2020,
                            states_csv="%", target_gm_pct=15.0)
