"""Relational query catalog (SURVEY.md §2.4): joins, aggregations, windows,
set ops, top-k, grouping sets, range/as-of joins, JSON + scalar functions.

Every query here is a pure DataFrame plan over the TESTDATA tables with a
matching DuckDB oracle (ANSI SQL) in ``ORACLES`` — the driver hash-compares
them at sf0.01.  Conventions that keep the hash comparison stable:

  * every computed/aggregate column is aliased identically in both engines;
  * double aggregates are ROUNDed (2-6 digits) in BOTH engines — IEEE
    addition is non-associative, so unrounded sums of 60k doubles differ in
    the last bits between engines/partitionings;
  * temporal outputs are formatted to strings in both engines;
  * top-k orderings always carry a unique tie-break key so LIMIT is
    deterministic.

Scale notes are per-query docstrings: broadcast hints on small dims,
pre-aggregation before joins where legal, single-shuffle window layouts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ominimo_dynamic_data_pipeline_spark.functions.duck_numeric import duck_round_expr
from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# --- exact money arithmetic ------------------------------------------------
# IEEE double summation is order-dependent, and Spark's round() (shortest-
# repr HALF_UP) disagrees with DuckDB's (binary-value) at exact .xx5
# boundaries — which 2-decimal money data hits constantly.  The fix is
# structural, not cosmetic: aggregate money as DECIMAL (exact, associative,
# order-independent, and what a production pipeline should do with currency
# anyway), cast the exact result to double at the very end.  A single
# decimal->double cast and a single division are correctly-rounded IEEE ops,
# identical across engines.  Sums of integer-valued doubles (quantities,
# counts) are exact in double and need none of this.
#
# Scale bound: decimal(18,2) intermediate sums hold up to ~1e16 — fine
# through sf10; at larger SFs widen to decimal(38,*).


def dec2(name: str):
    """Money column as exact decimal."""
    return F.col(name).cast("decimal(18,2)")


def dsum(expr) -> F.Column:
    """Exact decimal sum surfaced as double."""
    return F.sum(expr).cast("double")


def davg(expr, count_expr=None) -> F.Column:
    """Exact-sum average: decimal sum -> double -> one division."""
    cnt = count_expr if count_expr is not None else F.count(F.lit(1))
    return F.sum(expr).cast("double") / cnt


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# q01 — flagship: TPC-H Q1-style pricing summary.
# Scan -> filter (pushed to parquet) -> partial+final hash agg (one shuffle
# on low-cardinality keys) -> sort.  At 100 TB: map-side combine means the
# shuffle carries ~|groups| rows per task, not data rows.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           -- decimal sums surface as DOUBLE via the exact decimal STRING:
           -- DuckDB's direct DECIMAL->DOUBLE cast divides int128 by
           -- 10^scale in double space and lands 1 ulp off the correctly
           -- rounded value once the sum passes ~16 significant digits
           -- (found by the sf1 full-catalog sweep: sum_charge
           -- ...941590 -> duckdb ...941593 vs spark/python ...94159);
           -- strtod IS correctly rounded in both engines, and Spark's
           -- Decimal.toDouble already is, so only the oracle changes
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    price, disc, tax = dec2("l_extendedprice"), F.col("l_discount").cast("decimal(4,2)"), F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (1 - disc)
    cnt = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum(price).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + tax)).alias("sum_charge"),
            (F.sum("l_quantity") / cnt).alias("avg_qty"),
            davg(price).alias("avg_price"),
            davg(disc).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — shipping-priority style 3-way join + top-k (TPC-H Q3 shape).
# customer is the small side after the segment filter -> broadcast; the
# orders⨝lineitem join shuffles on orderkey.  Deterministic LIMIT via
# (revenue DESC, o_orderkey) tie-break.
# --------------------------------------------------------------------------
@query(
    "q02_top_revenue_orders",
    """
    SELECT o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o.o_orderkey, order_date
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
        )
        .agg(
            dsum(dec2("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(4,2)"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q03 — revenue per nation (TPC-H Q5 shape): 5-way join where region,
# nation, supplier are broadcast dims; only orders⨝lineitem shuffles.
# --------------------------------------------------------------------------
@query(
    "q03_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(dec2("l_extendedprice") * (1 - F.col("l_discount").cast("decimal(4,2)"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# q04 / q05 — semi and anti joins.  Spark's left_semi/left_anti never
# materialize the right side's columns and stop at first match.
# --------------------------------------------------------------------------
@query(
    "q04_customers_with_open_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
          AND o.o_totalprice > 200000
    )
    """,
)
def q04_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q05_customers_without_big_orders",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q05_customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q06 — per-group top-k via row_number window: the canonical "top N per key"
# pattern — one shuffle on the partition key, no global sort.
# --------------------------------------------------------------------------
@query(
    "q06_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def q06_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# --------------------------------------------------------------------------
# q07 — running aggregates + lag/lead over one window layout.  All four
# functions share a single (partition, order) -> ONE shuffle+sort total.
# --------------------------------------------------------------------------
@query(
    "q07_customer_order_running",
    """
    SELECT o_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS VARCHAR) AS DOUBLE) AS running_spend,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS VARCHAR) AS DOUBLE)
               / COUNT(*) OVER w3 AS avg_3
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ),
    w3 AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
    )
    """,
)
def q07_customer_order_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sliding = w.rowsBetween(-2, Window.currentRow)
    price_dec = dec2("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(price_dec).over(run).cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (
            F.sum(price_dec).over(sliding).cast("double")
            / F.count(F.lit(1)).over(sliding)
        ).alias("avg_3"),
    )


# --------------------------------------------------------------------------
# q08 — rank family over a second layout (per-nation customer balances).
# --------------------------------------------------------------------------
@query(
    "q08_customer_balance_ranks",
    """
    SELECT c_custkey, c_nationkey,
           RANK() OVER w AS bal_rank,
           DENSE_RANK() OVER w AS bal_dense_rank,
           NTILE(4) OVER w AS bal_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q08_customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(w).cast("bigint").alias("bal_dense_rank"),
        F.ntile(4).over(w).cast("bigint").alias("bal_quartile"),
    )


# --------------------------------------------------------------------------
# q09 — multi-distinct + plain aggregates per nation (broadcast dim join).
# --------------------------------------------------------------------------
@query(
    "q09_nation_customer_profile",
    """
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c.c_mktsegment) AS n_segments,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_balance,
           MAX(c.c_acctbal) AS max_balance,
           MIN(c.c_acctbal) AS min_balance
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q09_nation_customer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
            davg(dec2("c_acctbal")).alias("avg_balance"),
            F.max("c_acctbal").alias("max_balance"),
            F.min("c_acctbal").alias("min_balance"),
        )
    )


# --------------------------------------------------------------------------
# q10 — ROLLUP hierarchy totals (status -> priority -> grand total).
# NULL group keys are coalesced to 'ALL' in both engines so the hash
# compares; neither key column is null in the data.
# --------------------------------------------------------------------------
@query(
    "q10_order_status_rollup",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q10_order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec2("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# q11 — CUBE over two independent dimensions.
# --------------------------------------------------------------------------
@query(
    "q11_returnflag_status_cube",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q11_returnflag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            duck_round_expr(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "total_qty",
        )
    )


# --------------------------------------------------------------------------
# q12 — set operations: INTERSECT and EXCEPT on key sets.
# --------------------------------------------------------------------------
@query(
    "q12_building_big_spenders",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def q12_building_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(big)


@query(
    "q13_machinery_never_urgent",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q13_machinery_never_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return machinery.exceptAll(urgent).distinct()


# --------------------------------------------------------------------------
# q14 — range (non-equi) join: lineitems shipped >30 days after order date.
# Equi key (orderkey) carries the join; the range predicate is a post-join
# filter, so this stays a sort-merge/hash join, NOT a cross product.
# --------------------------------------------------------------------------
@query(
    "q14_late_shipments",
    """
    SELECT o.o_orderkey,
           COUNT(*) AS late_items,
           ROUND(SUM(l.l_quantity), 2) AS late_qty
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
)
def q14_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(l, cond)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("late_items"),
            duck_round_expr(F.sum("l_quantity"), 2).alias("late_qty"),
        )
    )


# --------------------------------------------------------------------------
# q15 — as-of join: for each purchase event, the user's latest click
# STRICTLY before it (attribution pattern).  DuckDB oracle uses native
# ASOF JOIN.  Spark plan: union both streams and take
# last(click, ignorenulls) over rowsBetween(unboundedPreceding, -1) per
# user — ONE exchange on user_id + one sort, no click x purchase pair
# materialization (a hot user with 10^5 clicks x 10^4 purchases costs
# O(n log n), not O(n*m)).  Sort key (ts, kind, event_id) with purchases
# before clicks at equal ts enforces the STRICT c_ts < p_ts bound, and
# among equal-ts clicks the frame's last row is the max click_id —
# matching ASOF's latest-then-max-id pick.
# --------------------------------------------------------------------------
@query(
    "q15_purchase_click_attribution",
    """
    SELECT p.event_id AS purchase_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           c.event_id AS click_id,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id AND c.ts < p.ts
    """,
)
def q15_purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    # kind 0 = purchase, 1 = click: at equal ts the purchase sorts FIRST,
    # so the preceding-rows frame never includes a same-ts click (strict <).
    kind = F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    click = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = e.select(
        "user_id", "ts", "event_id", kind.alias("kind"), click.alias("click")
    )
    attributed = tagged.withColumn(
        "last_click", F.last("click", ignorenulls=True).over(w)
    )
    return (
        attributed.filter((F.col("kind") == 0) & F.col("last_click").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.col("last_click.click_id").alias("click_id"),
            F.date_format("last_click.c_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "click_ts"
            ),
            "user_id",
        )
    )


# --------------------------------------------------------------------------
# q133 — the GENERIC as-of join operator (operators/joins.py asof_join —
# pandas merge_asof / DuckDB ASOF semantics as a reusable API, where q15
# is the hand-built special case): LEFT semantics (every purchase kept,
# NULL click columns when nothing qualifies) plus a 30-minute tolerance
# (a click older than that is no attribution).  Same scale shape as q15:
# union + ONE (user_id) exchange + one sort, no purchase x click pair
# materialization.  Oracle: native ASOF LEFT JOIN with the tolerance as
# a match-nullifying CASE.
# --------------------------------------------------------------------------
@query(
    "q133_asof_tolerance_attribution",
    """
    SELECT p.event_id AS purchase_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                THEN c.event_id END AS click_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 30 MINUTE
                THEN STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') END AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id AND c.ts < p.ts
    """,
)
def q133_asof_tolerance_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        purchases, clicks, on="ts", by=["user_id"], strict=True,
        tolerance="30 minutes", tiebreak="event_id", suffix="_click",
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "user_id",
        F.col("event_id_click").alias("click_id"),
        F.date_format("ts_click", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


# --------------------------------------------------------------------------
# q134 — the GENERIC binned interval-containment join
# (operators/joins.py point_in_interval_join): orders placed while
# ANOTHER order of the same customer was still open (its span = order
# date .. last shipment).  Plain Spark compiles the non-equi range
# predicate to a per-key cross product; the operator bins the time
# domain (120-day bins ~ the typical span) so the join is EQUI on
# (custkey, bin) with an exact containment filter — O(|P| + 2|I| +
# |pairs|), and each pair emitted once because a point owns exactly one
# bin.  Oracle: DuckDB's native IEJoin on the same predicate.
# --------------------------------------------------------------------------
@query(
    "q134_concurrent_customer_orders",
    """
    WITH spans AS (
        SELECT o.o_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_d,
               CAST(MAX(l.l_shipdate) AS DATE) AS end_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    )
    SELECT p.o_custkey AS custkey,
           p.o_orderkey AS placed_order,
           STRFTIME(p.o_orderdate, '%Y-%m-%d') AS placed_on,
           s.o_orderkey AS open_order,
           STRFTIME(s.start_d, '%Y-%m-%d') AS open_from,
           STRFTIME(s.end_d, '%Y-%m-%d') AS open_until
    FROM orders p JOIN spans s
      ON p.o_custkey = s.o_custkey
     AND p.o_orderkey <> s.o_orderkey
     AND CAST(p.o_orderdate AS DATE) BETWEEN s.start_d AND s.end_d
    """,
)
def q134_concurrent_customer_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        point_in_interval_join,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("start_d"),
            F.max(F.col("l_shipdate").cast("date")).alias("end_d"),
        )
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("open_order"),
            "start_d",
            "end_d",
        )
    )
    pts = o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    pairs = point_in_interval_join(
        pts, spans, "d", "start_d", "end_d", by=["o_custkey"], bin_size=120
    ).filter(F.col("o_orderkey") != F.col("open_order"))
    return pairs.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("placed_order"),
        F.date_format("d", "yyyy-MM-dd").alias("placed_on"),
        "open_order",
        F.date_format("start_d", "yyyy-MM-dd").alias("open_from"),
        F.date_format("end_d", "yyyy-MM-dd").alias("open_until"),
    )


# --------------------------------------------------------------------------
# q137 — POINT-IN-TIME-correct feature retrieval (the feature-store
# pattern behind every training-set build): each purchase (the label
# event) is joined to the user's rolling 7-day click features AS OF the
# latest COMPLETED day strictly before the purchase day — the strict
# as-of bound is the leakage guard (same-day features would leak the
# label's own session).  Features: one narrow daily (user, day) rollup,
# a 7-day RANGE window over the bounded daily frame (never the raw
# events), then operators/joins.py asof_join (one exchange, no pair
# blow-up).  Sums ride DECIMAL so the rolling window is order-exact in
# both engines.  LEFT semantics: first-ever-day purchases keep NULL
# features.
# --------------------------------------------------------------------------
@query(
    "q137_pit_features_for_labels",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               COUNT(*) AS n_clicks,
               SUM(CAST(value AS DECIMAL(18,2))) AS click_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    rolling AS (
        SELECT user_id, day,
               CAST(SUM(n_clicks) OVER w AS BIGINT) AS clicks_7d,
               CAST(SUM(click_value) OVER w AS DOUBLE) AS value_7d
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    ),
    labels AS (
        SELECT event_id AS purchase_id, user_id, CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'purchase'
    )
    SELECT l.purchase_id, l.user_id,
           STRFTIME(l.day, '%Y-%m-%d') AS label_day,
           STRFTIME(r.day, '%Y-%m-%d') AS feature_day,
           r.clicks_7d, ROUND(r.value_7d, 2) AS value_7d
    FROM labels l
    ASOF LEFT JOIN rolling r
      ON r.user_id = l.user_id AND r.day < l.day
    """,
)
def q137_pit_features_for_labels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("click_value"),
        )
    )
    # days-since-epoch ordinal, NOT a timestamp cast: the cast routes
    # through the session timezone, and a DST fall-back day would sit
    # 6d+1h back — outside a seconds-based range frame — silently
    # dropping it from the rolling sum
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    rolling = daily.select(
        "user_id",
        "day",
        F.sum("n_clicks").over(w).cast("bigint").alias("clicks_7d"),
        F.sum("click_value").over(w).cast("double").alias("value_7d"),
    )
    labels = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").cast("date").alias("day"),
    )
    joined = asof_join(
        labels, rolling, on="day", by=["user_id"], strict=True,
        suffix="_feat",
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("label_day"),
        F.date_format("day_feat", "yyyy-MM-dd").alias("feature_day"),
        "clicks_7d",
        duck_round_expr("value_7d", 2).alias("value_7d"),
    )


# --------------------------------------------------------------------------
# q139 — interval-OVERLAP join (operators/joins.py interval_overlap_join,
# the interval x interval sibling of q134's containment): unordered
# pairs of orders of the SAME customer whose active spans intersect —
# concurrency structure, not just point membership.  Same binned equi
# strategy; multiplicity handled WITHOUT a distinct: a pair is kept only
# in its intersection's first bin (max of the two start bins), which
# overlap guarantees both sides cover.  Self-join ordering a < b halves
# the symmetric pairs.  Oracle: DuckDB IEJoin on the raw predicate.
# --------------------------------------------------------------------------
@query(
    "q139_overlapping_order_spans",
    """
    WITH spans AS (
        SELECT o.o_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS start_d,
               CAST(MAX(l.l_shipdate) AS DATE) AS end_d
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(datediff('day',
                GREATEST(a.start_d, b.start_d),
                LEAST(a.end_d, b.end_d)) + 1 AS BIGINT) AS overlap_days
    FROM spans a JOIN spans b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.start_d <= b.end_d AND b.start_d <= a.end_d
     -- mirror the operator: inverted spans (this synthetic data has
     -- orders whose last shipment predates the order date) are
     -- malformed intervals and drop; the raw overlap predicate would
     -- otherwise still fire on some of them
     AND a.end_d >= a.start_d AND b.end_d >= b.start_d
    """,
)
def q139_overlapping_order_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )

    # Shape note (round 10, measured at sf100): auto-routing this query
    # through the bucketed-span layout above a size threshold was BUILT,
    # MEASURED, AND REJECTED — 380.6 s vs 445.1 shuffle-shape, only a
    # 1.17x win, because a catalog query must hand back a frame whose
    # plan survives the scoped subset-co-partition confs, and the eager
    # localCheckpoint that pins it materializes the full 377M-row output
    # (~12 GB of blockmgr that then lives to session end — the exact
    # disk-pressure class the round-10 streaming fix removed).  The
    # layout's real 7.1x (62.7 s reads after a one-time 126 s build)
    # belongs to DEPLOYMENTS that maintain the span table bucketed and
    # consume results inside the conf scope — shipped as q204 +
    # scale.subset_copartition, not as this query's default.
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("start_d"),
            F.max(F.col("l_shipdate").cast("date")).alias("end_d"),
        )
        # BOTH sides of the self-join consume this aggregation; Catalyst
        # does not reliably reuse the exchange across the binned
        # overlap-join's two differently-projected sides, so without a
        # checkpoint the 180M-row lineitem⋈orders build runs TWICE (the
        # q108 loop-invariant pattern; sf30 soak measured 231 s -> ~100 s)
        .localCheckpoint()
    )
    pairs = interval_overlap_join(
        spans,
        spans.select(
            "o_custkey",
            F.col("o_orderkey").alias("order_b"),
            F.col("start_d").alias("b_start"),
            F.col("end_d").alias("b_end"),
        ),
        "start_d", "end_d", "b_start", "b_end",
        by=["o_custkey"], bin_size=120,
    ).filter(F.col("o_orderkey") < F.col("order_b"))
    return pairs.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        "order_b",
        (
            F.datediff(
                F.least("end_d", "b_end"),
                F.greatest("start_d", "b_start"),
            )
            + 1
        )
        .cast("bigint")
        .alias("overlap_days"),
    )


# --------------------------------------------------------------------------
# The bucketed-span overlap implementation behind q204: the span frame
# is written ONCE as a
# custkey-bucketed table, and the binned interval-overlap self-join
# reads it with ZERO exchanges under scale.subset_copartition
# (bucket-only HashPartitioning(custkey) serving the (custkey, bin)
# equi-key — bin is generated per row and can never be a bucket
# column).  Measured at sf100: 445.1 -> 62.7 s read / 126.1 s one-time
# build, hash-identical 377M pairs (BENCH_sf100.json round10 record).
# The result is eagerly localCheckpoint()ed INSIDE the conf scope: the
# plan must execute while the two gating confs are set (a
# lazily-returned frame would re-plan with defaults at action time and
# silently regain the exchange), and checkpointing also frees the
# session confs for whatever runs next.
# --------------------------------------------------------------------------
def _bucketed_overlap_spans(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    import shutil
    from pathlib import Path

    from ominimo_dynamic_data_pipeline_spark.operators.joins import (
        interval_overlap_join,
    )
    from ominimo_dynamic_data_pipeline_spark.operators.scale import (
        subset_copartition,
        write_bucketed,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey", "o_orderkey")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("start_d"),
            F.max(F.col("l_shipdate").cast("date")).alias("end_d"),
        )
    )
    # rebuild every call (sf_dir can change between calls); a previous
    # PROCESS's managed-table files survive in the warehouse dir while
    # its catalog entry did not — clear both before the CREATE
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if wh:
        shutil.rmtree(Path(wh) / table, ignore_errors=True)
    write_bucketed(
        spans, table, "o_custkey", num_buckets=32, sort_col="o_custkey"
    )
    with subset_copartition(spark):
        bucketed = spark.table(table)
        pairs = interval_overlap_join(
            bucketed,
            bucketed.select(
                "o_custkey",
                F.col("o_orderkey").alias("order_b"),
                F.col("start_d").alias("b_start"),
                F.col("end_d").alias("b_end"),
            ),
            "start_d", "end_d", "b_start", "b_end",
            by=["o_custkey"], bin_size=120,
        ).filter(F.col("o_orderkey") < F.col("order_b"))
        out = pairs.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("order_a"),
            "order_b",
            (
                F.datediff(
                    F.least("end_d", "b_end"),
                    F.greatest("start_d", "b_start"),
                )
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        ).localCheckpoint(eager=True)
    return out


# --------------------------------------------------------------------------
# q204 — the bucketed layout as its OWN driver-verified entry, so the
# deployment path (bucketed spans + subset co-partitioning) stays
# hash-verified against the DuckDB oracle at every test scale (sf0.01
# driver gate, sf1 sweep).  Oracle: identical to q139's (same
# semantics, same rows).
# --------------------------------------------------------------------------
@query("q204_overlap_spans_bucketed", ORACLES["q139_overlapping_order_spans"])
def q204_overlap_spans_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucketed_overlap_spans(spark, sf_dir, "q204_spans_bucketed")


# --------------------------------------------------------------------------
# q16 — JSON access on events.props (semi-structured column).
# --------------------------------------------------------------------------
@query(
    "q16_events_json_profile",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q16_events_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        duck_round_expr(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# --------------------------------------------------------------------------
# q17 — string function library over part.
# --------------------------------------------------------------------------
@query(
    "q17_part_string_features",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '(\\d+)', 1) AS INT) AS brand_num,
           UPPER(p_type) AS type_upper,
           SUBSTRING(p_name, 1, 5) AS name_prefix,
           LENGTH(p_name) AS name_len,
           REPLACE(p_name, ' ', '_') AS name_snake,
           SPLIT_PART(p_name, ' ', 1) AS name_first_word,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           TRIM(p_name) AS name_trim
    FROM part
    """,
)
def q17_part_string_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"(\d+)", 1).cast("int").alias("brand_num"),
        F.upper("p_type").alias("type_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("name_first_word"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim("p_name").alias("name_trim"),
    )


# --------------------------------------------------------------------------
# q18 — date/time function library over orders.
# --------------------------------------------------------------------------
@query(
    "q18_order_date_features",
    """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS order_quarter,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
           MIN(STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d')) AS month_start,
           MAX(CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)) AS max_days_since_epoch
    FROM orders
    GROUP BY order_year, order_quarter, order_month
    """,
)
def q18_order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(dec2("o_totalprice")).alias("revenue"),
            F.min(
                F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")
            ).alias("month_start"),
            F.max(
                F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
            ).alias("max_days_since_epoch"),
        )
    )


# --------------------------------------------------------------------------
# q19 — math function library over lineitem (bounded key range so the
# per-row doubles compare exactly; functions rounded to 6 digits to absorb
# last-ulp libm differences between JVM and DuckDB).
# --------------------------------------------------------------------------
@query(
    "q19_lineitem_math_features",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           ROUND(LOG10(l_extendedprice), 6) AS price_log10,
           ROUND(POW(l_discount, 2), 6) AS disc_sq,
           ABS(l_quantity - 25) AS qty_dev,
           CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_kilo_ceil,
           CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def q19_lineitem_math_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        duck_round_expr(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        duck_round_expr(F.log("l_extendedprice"), 6).alias("price_ln"),
        duck_round_expr(F.log10("l_extendedprice"), 6).alias("price_log10"),
        duck_round_expr(F.pow("l_discount", 2), 6).alias("disc_sq"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_kilo_ceil"),
        F.floor(F.col("l_quantity") / 10).alias("qty_decile"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


# --------------------------------------------------------------------------
# q20 — union + distinct across heterogeneous sources.
# --------------------------------------------------------------------------
@query(
    "q20_all_account_keys",
    """
    SELECT DISTINCT entity_key, entity_kind FROM (
        SELECT c_custkey AS entity_key, 'customer' AS entity_kind FROM customer
        WHERE c_acctbal > 9000
        UNION ALL
        SELECT s_suppkey AS entity_key, 'supplier' AS entity_kind FROM supplier
        WHERE s_acctbal > 9000
    )
    """,
)
def q20_all_account_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    cu = c.select(
        F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("entity_kind")
    )
    su = s.select(
        F.col("s_suppkey").alias("entity_key"), F.lit("supplier").alias("entity_kind")
    )
    return cu.unionByName(su).distinct()


# --------------------------------------------------------------------------
# q39 — GROUPING SETS via the SQL front end (every loaded frame is also a
# temp view, so dataflow steps can be plain SQL).  Disjoint single-dim sets
# + grand total — the shape ROLLUP/CUBE (q10/q11) cannot express.
# --------------------------------------------------------------------------
@query(
    "q39_order_grouping_sets",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q39_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
                   AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# q40 — approximate distinct (HyperLogLog++).  At 100 TB this replaces the
# exact shuffle-heavy COUNT(DISTINCT) for profiling.  The raw sketch value
# is engine-specific, so the CHECKED output carries the exact count plus
# ``approx_within_tol`` — Spark asserts its own sketch against its exact
# count (|approx - exact| <= 3*rsd*exact), the oracle computes the exact
# columns and expects the assertion to hold (TRUE) — making the sketch's
# accuracy contract itself hash-verified, not just "it ran".
# --------------------------------------------------------------------------
_Q40_RSD = 0.02


@query(
    "q40_approx_distinct_parts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           COUNT(*) AS n_rows,
           TRUE AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q40_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The sketch and the exact distinct MUST be separate aggregations:
    # mixing countDistinct with approx_count_distinct in one agg makes
    # Spark's distinct-rewrite key the FIRST-level aggregate by
    # (l_returnflag, l_partkey) — and the HLL++ buffer (4 KB at rsd=0.02)
    # is then allocated PER (group, partkey) PAIR, ~2M sketches / ~8 GB
    # of aggregation state at sf1 (measured: 21 s -> 1.3 s from this
    # split).  Separated, the exact side is a plain two-level count
    # (bounded rows, no sketch state) and the sketch side keeps one HLL
    # per group with map-side partials; the 5-row joins broadcast.
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey"
    )
    per_pair = l.groupBy("l_returnflag", "l_partkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    exact = per_pair.groupBy("l_returnflag").agg(
        # COUNT(DISTINCT x) semantics: a NULL partkey group must not
        # count as a distinct part (n_rows still counts its rows)
        F.count(F.when(F.col("l_partkey").isNotNull(), F.lit(1))).alias(
            "exact_parts"
        ),
        F.sum("cnt").alias("n_rows"),
    )
    approx = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=_Q40_RSD).alias("approx_parts")
    )
    joined = exact.join(F.broadcast(approx), "l_returnflag")
    return joined.select(
        "l_returnflag",
        "exact_parts",
        "n_rows",
        (
            F.abs(
                F.col("approx_parts").cast("double")
                - F.col("exact_parts").cast("double")
            )
            <= F.lit(3 * _Q40_RSD) * F.col("exact_parts").cast("double")
        ).alias("approx_within_tol"),
    )


# --------------------------------------------------------------------------
# q59 — conversion funnel: per-user first click then first purchase
# strictly after it; one groupBy on user_id (conditional min aggregates),
# then a global funnel rollup.
# --------------------------------------------------------------------------
@query(
    "q59_conversion_funnel",
    """
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_click) AS n_clicked,
           COUNT(CASE WHEN first_purchase > first_click
                 THEN 1 END) AS n_converted,
           ROUND(COUNT(CASE WHEN first_purchase > first_click THEN 1 END)
                 * 1.0 / NULLIF(COUNT(first_click), 0), 6) AS conversion_rate
    FROM per_user
    """,
)
def q59_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = F.count(
        F.when(F.col("first_purchase") > F.col("first_click"), 1)
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_click").alias("n_clicked"),
        converted.alias("n_converted"),
        duck_round_expr(
            converted / F.nullif(F.count("first_click"), F.lit(0)), 6
        ).alias("conversion_rate"),
    )


# --------------------------------------------------------------------------
# q60 — skew diagnostics: the heavy-hitter keys a salting/AQE decision is
# based on — top-10 users by event count with their share of the total.
# --------------------------------------------------------------------------
@query(
    "q60_skew_diagnostics",
    """
    WITH counts AS (
        SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    ),
    total AS (SELECT SUM(n_events) AS total_events FROM counts)
    SELECT user_id, n_events,
           ROUND(n_events * 1.0 / total_events, 6) AS share
    FROM counts CROSS JOIN total
    ORDER BY n_events DESC, user_id LIMIT 10
    """,
)
def q60_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total_events"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            duck_round_expr(F.col("n_events") / F.col("total_events"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q41 — fuzzy string matching + remaining string library: levenshtein,
# reverse, instr/strpos, translate, repeat.
# --------------------------------------------------------------------------
@query(
    "q41_part_fuzzy_features",
    """
    SELECT p_partkey,
           CAST(levenshtein(p_brand, 'Brand#23') AS BIGINT) AS brand_dist,
           reverse(p_brand) AS brand_rev,
           CAST(strpos(p_name, 'o') AS BIGINT) AS o_pos,
           translate(p_brand, '#', '-') AS brand_dash,
           repeat(p_type, 2) AS type_twice
    FROM part
    WHERE p_partkey <= 500
    """,
)
def q41_part_fuzzy_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", F.lit("Brand#23")).cast("bigint").alias(
            "brand_dist"
        ),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_name", "o").cast("bigint").alias("o_pos"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
        F.repeat("p_type", 2).alias("type_twice"),
    )


# --------------------------------------------------------------------------
# q42 — semi-structured map access: parse events.props into a typed map,
# then map_keys / element_at / cardinality.  from_json is the scale path
# (single parse per row feeding many accesses vs repeated get_json_object).
# --------------------------------------------------------------------------
@query(
    "q42_event_props_map",
    """
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), ',') AS key_list,
           CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE event_id < 2000
    """,
)
def q42_event_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    pm = e.select(
        "event_id", F.from_json("props", "map<string,bigint>").alias("pm")
    )
    return pm.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys("pm")), ",").alias("key_list"),
        F.size(F.map_keys("pm")).cast("bigint").alias("n_keys"),
        F.element_at("pm", "k").alias("k_val"),
    )


# --------------------------------------------------------------------------
# q43 — array function library over embeddings: size, element access,
# min/max, L1 norm via transform+aggregate (all JVM-side HOFs; lambda
# bodies only touch lambda variables, so inline args are safe).
# --------------------------------------------------------------------------
@query(
    "q43_embedding_array_features",
    """
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
           ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> abs(x))), 4) AS l1_norm
    FROM embeddings
    WHERE vec_id < 500
    """,
)
def q43_embedding_array_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    l1 = F.aggregate(
        F.transform(vd, lambda x: F.abs(x)), F.lit(0.0), lambda a, v: a + v
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        duck_round_expr(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        duck_round_expr(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        duck_round_expr(F.array_min("embedding").cast("double"), 6).alias("vmin"),
        duck_round_expr(l1, 4).alias("l1_norm"),
    )


# --------------------------------------------------------------------------
# q45 — RANGE-framed window + first/last_value: per customer, the 30-day
# trailing spend (range frame over the order-date epoch — rows at equal
# distance enter together, unlike ROWS frames) and the first/latest order
# price per key.  One window layout -> one shuffle.
# --------------------------------------------------------------------------
@query(
    "q45_trailing_spend_window",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY epoch(ts)
               RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d_spend,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS latest_price
    FROM (SELECT *, CAST(o_orderdate AS TIMESTAMP) AS ts FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q45_trailing_spend_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp("o_orderdate")
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec2("o_totalprice")).over(w_range).cast("double").alias(
            "trailing_30d_spend"
        ),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_all).alias("latest_price"),
    )


# --------------------------------------------------------------------------
# q46 — pivot (wide conditional aggregation): order counts + revenue per
# priority, one column per order status.  Catalyst compiles pivot to a
# single hash agg with CASE-guarded partials — one shuffle, no per-status
# scans; the oracle uses the equivalent conditional aggregation.
# --------------------------------------------------------------------------
@query(
    "q46_status_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
           CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'F'), 0) AS VARCHAR) AS DOUBLE) AS rev_f,
           CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'O'), 0) AS VARCHAR) AS DOUBLE) AS rev_o,
           CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderstatus = 'P'), 0) AS VARCHAR) AS DOUBLE) AS rev_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q46_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec2("o_totalprice")).alias("rev"),
        )
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce(F.col("F_rev").cast("double"), F.lit(0.0)).alias("rev_f"),
        F.coalesce(F.col("O_rev").cast("double"), F.lit(0.0)).alias("rev_o"),
        F.coalesce(F.col("P_rev").cast("double"), F.lit(0.0)).alias("rev_p"),
    )


# --------------------------------------------------------------------------
# q47 — exact percentiles (linear interpolation): Spark `percentile` and
# DuckDB `quantile_cont` share the definition; a 6-digit round absorbs
# last-ulp interpolation differences.  At 100 TB swap to approx_percentile
# (t-digest) — exact percentile holds per-group values in memory.
# --------------------------------------------------------------------------
@query(
    "q47_price_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q47_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of percentages — a single
    # sort/collection per group instead of four
    pcts = F.percentile(
        "l_extendedprice", F.array(*[F.lit(p) for p in (0.25, 0.50, 0.75, 0.95)])
    )
    return (
        l.groupBy("l_returnflag")
        .agg(pcts.alias("pcts"))
        .select(
            "l_returnflag",
            duck_round_expr(F.col("pcts")[0], 6).alias("p25"),
            duck_round_expr(F.col("pcts")[1], 6).alias("p50"),
            duck_round_expr(F.col("pcts")[2], 6).alias("p75"),
            duck_round_expr(F.col("pcts")[3], 6).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# q48 — statistical aggregates: sample stddev/variance, correlation and
# covariance between quantity and price.  All single-pass partial-agg
# shapes (sum/sum-of-squares/cross-products), shuffle carries one row per
# group.  6-digit round absorbs summation-order ulps.
# --------------------------------------------------------------------------
@query(
    "q48_stats_aggregates",
    """
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
           ROUND(var_samp(l_quantity), 6) AS qty_var,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           ROUND(AVG(l_quantity), 6) AS qty_mean
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q48_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        duck_round_expr(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        duck_round_expr(F.var_samp("l_quantity"), 6).alias("qty_var"),
        duck_round_expr(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        duck_round_expr(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        duck_round_expr(F.avg("l_quantity"), 6).alias("qty_mean"),
    )


# --------------------------------------------------------------------------
# q50 — the reference-parity validation operator AT SCALE, oracle-checked:
# the declarative rule language (operators/validate.py) applied to
# lineitem, emitting per-row verdict + ordered error labels.  The DuckDB
# twin re-states each check's null-permissive semantics; errors surface as
# a comma-joined string so the hash compare stays scalar.  Validation is a
# single narrow codegen'd projection — no shuffle at any scale.
# --------------------------------------------------------------------------
@query(
    "q50_validated_lineitem",
    """
    WITH checked AS (
        SELECT l_orderkey, l_linenumber,
               [
                 CASE WHEN NOT (l_quantity IS NOT NULL)
                      THEN 'l_quantity:must_not_be_null' END,
                 CASE WHEN NOT (l_quantity IS NULL OR l_quantity >= 2)
                      THEN 'l_quantity:must_be_at_least_2.0' END,
                 CASE WHEN NOT (l_quantity IS NULL OR l_quantity <= 49)
                      THEN 'l_quantity:must_be_at_most_49.0' END,
                 CASE WHEN NOT (l_discount IS NULL
                                OR (l_discount >= 0.0 AND l_discount <= 0.08))
                      THEN 'l_discount:must_be_between_0.0_and_0.08' END,
                 CASE WHEN NOT (l_returnflag IS NULL
                                OR regexp_matches(l_returnflag, '^(A|N)$'))
                      THEN 'l_returnflag:must_match_pattern' END
               ] AS raw
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           LEN(list_filter(raw, x -> x IS NOT NULL)) = 0 AS is_valid,
           COALESCE(array_to_string(list_filter(raw, x -> x IS NOT NULL), ','),
                    '') AS errors
    FROM checked
    """,
)
def q50_validated_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.validate import (
        apply_validations,
    )

    l = load_table(spark, sf_dir, "lineitem")
    rules = [
        {"field": "l_quantity", "validations": ["notNull", "min:2", "max:49"]},
        {"field": "l_discount", "validations": ["range:0-0.08"]},
        {"field": "l_returnflag", "validations": ["pattern:^(A|N)$"]},
    ]
    tagged = apply_validations(l, rules).tagged
    return tagged.select(
        "l_orderkey",
        "l_linenumber",
        "is_valid",
        F.concat_ws(",", "validation_errors").alias("errors"),
    )


# --------------------------------------------------------------------------
# q142 — the as-of join's FULL generalized matrix in one call (round-5
# verdict item 6: q133 drives backward+strict+tolerance+tiebreak; this
# drives FORWARD+strict+tolerance+tiebreak on the orders volume table):
# for every order, the customer's NEXT order strictly after it within 90
# days — earliest date wins, smallest orderkey breaks same-date ties
# (forward's tiebreak polarity).  Scale shape unchanged from q133: union
# + ONE (custkey) exchange + one sort, no per-customer pair blowup.
# Oracle: DuckDB has no FORWARD ASOF, so the twin resolves the minimal
# qualifying date per order, then the minimal orderkey at that date —
# exactly the operator's documented forward tiebreak.
# --------------------------------------------------------------------------
@query(
    "q142_next_order_forward_asof",
    """
    WITH nxt AS (
        SELECT a.o_orderkey, MIN(b.o_orderdate) AS next_date
        FROM orders a
        JOIN orders b
          ON b.o_custkey = a.o_custkey
         AND b.o_orderdate > a.o_orderdate
         AND b.o_orderdate <= a.o_orderdate + INTERVAL 90 DAY
        GROUP BY a.o_orderkey
    ),
    pick AS (
        SELECT a.o_orderkey, n.next_date, MIN(b.o_orderkey) AS next_order
        FROM orders a
        JOIN nxt n USING (o_orderkey)
        JOIN orders b
          ON b.o_custkey = a.o_custkey AND b.o_orderdate = n.next_date
        GROUP BY a.o_orderkey, n.next_date
    )
    SELECT o.o_custkey AS custkey,
           o.o_orderkey AS orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS placed_on,
           p.next_order,
           STRFTIME(p.next_date, '%Y-%m-%d') AS next_on
    FROM orders o LEFT JOIN pick p USING (o_orderkey)
    """,
)
def q142_next_order_forward_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ominimo_dynamic_data_pipeline_spark.operators.joins import asof_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        # tolerance arithmetic needs a timestamp `on` column
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    right = o.select("custkey", F.col("orderkey").alias("r_orderkey"), "ts")
    out = asof_join(
        o, right, on="ts", by=["custkey"], direction="forward",
        strict=True, tolerance="90 days", tiebreak="r_orderkey",
        suffix="_next",
    )
    return out.select(
        "custkey",
        "orderkey",
        F.date_format("ts", "yyyy-MM-dd").alias("placed_on"),
        F.col("r_orderkey").alias("next_order"),
        F.date_format("ts_next", "yyyy-MM-dd").alias("next_on"),
    )
