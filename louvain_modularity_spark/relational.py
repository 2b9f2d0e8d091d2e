"""Relational core operators (SURVEY.md §2.7).

Every query here is pure built-in DataFrame API (JVM-side, whole-stage
codegen) and ships a matching DuckDB oracle. Hash-stability rules
(SURVEY.md §5.2): alias every computed column identically in both
dialects; round float aggregates (2 dp for money sums, 6 dp for
ratios/averages); break top-k ties with unique keys; never emit raw
session-timezone-dependent values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .sources import load

# Money/measure columns are exact 2-decimal values; double arithmetic on
# them lands exactly on ROUND midpoints, where Spark (exact BigDecimal
# HALF_UP) and DuckDB (FP-multiply) can disagree by 1 ulp of the grid.
# Hash-stable pattern: cast to DECIMAL, aggregate exactly, ROUND in the
# decimal domain, cast the (now exact) result back to DOUBLE. The same
# shape appears in each oracle: CAST(ROUND(SUM(CAST(..)), 2) AS DOUBLE).


def _dec(col, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _money_sum(expr, ndigits: int = 2):
    return F.round(F.sum(expr), ndigits).cast("double")


# ---------------------------------------------------------------------------
# scans / filters
# ---------------------------------------------------------------------------


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with projection + predicate.

    The filter and the 4-column projection both reach the parquet
    reader (PushedFilters / ReadSchema in .explain) — at 100 TB this is
    the difference between scanning 4 columns of a date-pruned subset
    and scanning the whole table.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_quantity") < 10)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


ORACLE_SCAN_PARQUET = """
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity < 10
"""


def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND / OR / NOT / IN / BETWEEN / LIKE / IS NULL."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").between(5, 15)
        & (
            (F.col("l_discount") > 0.05)
            | (~(F.col("l_linestatus") == F.lit("O")))
        )
        & F.col("l_shipdate").isNotNull()
        & F.col("l_returnflag").like("_")
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity", "l_discount")


ORACLE_FILTER_PRED = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity, l_discount
FROM lineitem
WHERE l_returnflag IN ('A','R')
  AND l_quantity BETWEEN 5 AND 15
  AND (l_discount > 0.05 OR NOT (l_linestatus = 'O'))
  AND l_shipdate IS NOT NULL
  AND l_returnflag LIKE '_'
"""


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------


def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate with HAVING.

    Spark runs this as partial (map-side) + final aggregation
    automatically; the only shuffle moves one row per (flag, status)
    pair per mapper.
    """
    li = load(spark, sf_dir, "lineitem")
    ext = _dec("l_extendedprice")
    qty = _dec("l_quantity")
    disc = _dec("l_discount", 4, 2)
    tax = _dec("l_tax", 4, 2)
    one = F.lit(1).cast("decimal(3,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money_sum(qty).alias("sum_qty"),
            _money_sum(ext).alias("sum_base_price"),
            _money_sum(ext * (one - disc)).alias("sum_disc_price"),
            _money_sum(ext * (one - disc) * (one + tax)).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(ext).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .filter(F.col("count_order") > 10)
    )


ORACLE_AGG_GROUPBY = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                      * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6)      AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 6)       AS avg_disc,
       COUNT(*)                                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
HAVING COUNT(*) > 10
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(distinct) + sum(distinct) per group."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.sum_distinct(F.col("l_suppkey")).cast("long").alias("sum_distinct_supp"),
    )


ORACLE_AGG_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey)            AS n_parts,
       COUNT(DISTINCT l_suppkey)            AS n_supps,
       CAST(SUM(DISTINCT l_suppkey) AS BIGINT) AS sum_distinct_supp
FROM lineitem
GROUP BY l_returnflag
"""


def q_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct (HyperLogLog++) per event_type.

    Oracle: _oracle_approx_cd (r13). The old "HLL estimates are
    engine-specific" reason was over-broad AT THIS CARDINALITY: the
    fixture groups (15/150 distinct users) sit deep in HLL++'s
    LINEAR-COUNTING branch, where the estimate is a pure function of
    how many of the m=512 registers are touched — no rho maxima, no
    bias tables — and Spark's exact conventions were pinned
    empirically (tests/test_coverage.py::test_approx_cd_linear_
    counting_regime): register = top 9 bits of xxhash64(user_id, 42),
    estimate = round(512·ln(512/V)). The regime guard in that test
    fails loudly if a fixture change ever pushes a group toward the
    branch boundary. The exact count is emitted alongside so tests
    can assert the ±5% envelope.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


#: HLL++ geometry behind Spark's default relativeSD=0.05, pinned
#: empirically (probe in test_approx_cd_linear_counting_regime):
#: m = 2^9 registers, register index = top 9 bits of the unsigned
#: xxhash64(user_id, seed 42)
HLL_M = 512
#: 2^55 — dividing the unsigned 64-bit hash by this yields the top
#: 9 bits (DuckDB HUGEINT has no shift, so the oracle divides)
HLL_IDX_DIV = 1 << 55
#: regime guard ceiling: every convention candidate the probe could
#: not reject keeps linear counting through AT LEAST n≈1280 (2.5·m);
#: the guard asserts per-group distinct counts stay ≤ this far-lower
#: line so the oracle can never silently cross the branch
HLL_LC_SAFE_N = 400


def _oracle_approx_cd() -> str:
    """Linear-counting twin of Spark's HLL++ at fixture cardinality:
    distinct (event_type, user_id) → the r12 XXH64 HUGEINT chain
    (graph.py) → top-9-bit register index → V = m − touched →
    round(m·ln(m/V)). Bit-exact because every step is integer except
    the final ln/round, where Java's floor(x+0.5) and DuckDB's
    half-away-from-zero agree for positive non-half values (exact
    .5 is unreachable for m·ln(m/V) doubles). If a group ever touched
    all 512 registers the LN argument hits 0 and DuckDB errors —
    loud, and the regime guard trips long before."""
    from .graph import _sql_layers_to_ctes, _xxh64_long_sql_layers

    layers = _xxh64_long_sql_layers("h", "user_id", "42")
    hctes, last = _sql_layers_to_ctes("du", layers, "x")
    joined = ",\n".join(hctes)
    return f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
{joined},
reg AS (
  SELECT event_type,
         COUNT(DISTINCT (h // {HLL_IDX_DIV})) AS touched,
         COUNT(*) AS exact_users
  FROM {last}
  GROUP BY event_type
)
SELECT event_type,
       CAST(ROUND({HLL_M}.0 * LN({HLL_M}.0 / ({HLL_M} - touched)))
            AS BIGINT) AS approx_users,
       CAST(exact_users AS BIGINT) AS exact_users
FROM reg
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id over orders.

    NULL group keys are coalesced to 'ALL' (the data has no natural
    NULLs) so the hash compare is not hostage to engine NULL-sorting.
    """
    o = load(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            _money_sum(_dec("o_totalprice")).alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "sum_price",
            "gid",
        )
    )


ORACLE_GROUPING_SETS = """
SELECT COALESCE(o_orderstatus, 'ALL')   AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       COUNT(*)                          AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2² grouping combinations."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            _money_sum(_dec("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
        )
    )


ORACLE_CUBE = """
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface: by status, by
    priority, and grand total — no cross combinations."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL')   AS o_orderstatus,
               COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
               COUNT(*) AS n_orders
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


ORACLE_GROUPING_SETS_EXPLICIT = """
SELECT COALESCE(o_orderstatus, 'ALL')   AS o_orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join orders ⋈ customer (sort-merge / shuffled-hash at
    scale; both sides shuffle on custkey — at 100 TB, bucket both
    tables on the key to make it shuffle-free)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .select(
            "o_orderkey",
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
        )
    )


ORACLE_JOIN_INNER = """
SELECT o_orderkey, c_custkey, c_mktsegment, ROUND(o_totalprice, 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join with explicit broadcast of the two dimension
    tables (nation 25 rows, region 5 rows) — no shuffle of the fact
    side at any scale."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(_dec("c_acctbal")).cast("double") / F.count("*"), 6).alias(
                "avg_bal"
            ),
        )
    )


ORACLE_JOIN_BROADCAST = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with no orders (NULL keys)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_orderstatus"
    )


ORACLE_JOIN_OUTER = """
SELECT c_custkey, c_mktsegment, o_orderkey, o_orderstatus
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.nk_c == s.nk_s, "full").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


ORACLE_JOIN_FULL_OUTER = """
WITH c AS (SELECT c_nationkey AS nk_c, COUNT(*) AS n_customers FROM customer GROUP BY 1),
     s AS (SELECT s_nationkey AS nk_s, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
SELECT COALESCE(nk_c, nk_s)        AS nationkey,
       COALESCE(n_customers, 0)    AS n_customers,
       COALESCE(n_suppliers, 0)    AS n_suppliers
FROM c FULL OUTER JOIN s ON nk_c = nk_s
"""


def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence joins: customers with (semi) / without (anti) orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("with_orders").alias("kind"), "n_customers")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_customers"))
        .select(F.lit("without_orders").alias("kind"), "n_customers")
    )
    return semi.unionAll(anti)


ORACLE_JOIN_SEMI_ANTI = """
SELECT 'with_orders' AS kind, COUNT(*) AS n_customers
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'without_orders' AS kind, COUNT(*) AS n_customers
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: events whose value falls inside the
    [min, avg] band of their event_type. The equi key keeps the join
    hash-partitionable; the range predicate is evaluated post-match."""
    ev = load(spark, sf_dir, "events")
    # the band's upper bound is an average — computed via exact decimal
    # sum / count so both engines place borderline rows identically
    bounds = ev.groupBy(F.col("event_type").alias("bt")).agg(
        F.min("value").alias("lo"),
        (F.sum(_dec("value")).cast("double") / F.count("*")).alias("hi"),
    )
    return (
        ev.join(
            bounds,
            (ev.event_type == bounds.bt)
            & (ev.value >= bounds.lo)
            & (ev.value <= bounds.hi),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_in_band"),
            F.round(F.sum(_dec("value")).cast("double") / F.count("*"), 6).alias(
                "avg_in_band"
            ),
        )
    )


ORACLE_JOIN_THETA_RANGE = """
WITH bounds AS (
  SELECT event_type AS bt, MIN(value) AS lo,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS hi
  FROM events GROUP BY 1
)
SELECT event_type, COUNT(*) AS n_in_band,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_in_band
FROM events JOIN bounds
  ON event_type = bt AND value >= lo AND value <= hi
GROUP BY event_type
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event → latest preceding (<=) click of
    the same user.

    Spark has no ASOF JOIN operator; the idiomatic distributed plan is
    a union of both streams sorted per key with a running
    last(click_ts) window — one shuffle on user_id, no range
    explosion. DuckDB oracle uses its native ASOF LEFT JOIN.
    """
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", F.lit(1).alias("is_purchase")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts_us",
        F.lit(0).alias("is_purchase"),
    )
    merged = purchases.unionByName(clicks).withColumn(
        "click_ts_us",
        F.last(
            F.when(F.col("is_purchase") == 0, F.col("ts_us")), ignorenulls=True
        ).over(
            Window.partitionBy("user_id")
            .orderBy("ts_us", "is_purchase")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return merged.filter(F.col("is_purchase") == 1).select(
        "event_id", "user_id", "ts_us", "click_ts_us"
    )


ORACLE_JOIN_ASOF = """
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts) AS ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian product (region × first-5 nations)."""
    r = load(spark, sf_dir, "region").select("r_name")
    n = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 5)
        .select("n_name")
    )
    return r.crossJoin(n)


ORACLE_CROSS_SMALL = """
SELECT r_name, n_name
FROM region CROSS JOIN (SELECT n_name FROM nation WHERE n_nationkey < 5) n
"""


# ---------------------------------------------------------------------------
# windows
# ---------------------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer with row_number / rank / dense_rank.
    Tie-break by o_orderkey keeps the limit deterministic."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


ORACLE_RANK_WINDOW = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS total_price,
         ROW_NUMBER() OVER w AS rn,
         RANK()       OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
) t WHERE rn <= 3
"""


def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + sliding 3-row average per customer."""
    o = load(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    slide = order_w.rowsBetween(-2, Window.currentRow)
    price = _dec("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(price).over(run), 2).cast("double").alias("running_total"),
        F.round(
            F.sum(price).over(slide).cast("double") / F.count("*").over(slide), 6
        ).alias("sliding_avg3"),
    )


ORACLE_WINDOW_FRAME = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_total,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)  AS sliding_avg3
FROM orders
"""


def q_window_laglead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first-in-partition + inter-event gap per user."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("first_value"),
        (F.col("ts_us") - F.lag("ts_us", 1).over(w)).alias("gap_us"),
    )


ORACLE_WINDOW_LAGLEAD = """
SELECT event_id, user_id,
       LAG(value)  OVER w                        AS prev_value,
       LEAD(value) OVER w                        AS next_value,
       FIRST_VALUE(value) OVER w                 AS first_value,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w   AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""


def q_window_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / last_value with an explicit full-partition frame —
    the remaining analytic-window corner (last_value's default frame
    ends at CURRENT ROW, the classic silent-wrong-answer trap; both
    engines here pin the UNBOUNDED frame explicitly so the semantics
    under test are the corrected ones). Per user: the 2nd event's
    value, the final value, and each row's distance from the final
    event — exact integers/2-dp doubles."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.nth_value("value", 2).over(w_full).alias("second_value"),
        F.last("value").over(w_full).alias("final_value"),
        (F.last("ts_us").over(w_full) - F.col("ts_us")).alias("us_before_final"),
    )


ORACLE_WINDOW_NTH = """
SELECT event_id, user_id,
       NTH_VALUE(value, 2) OVER w                    AS second_value,
       LAST_VALUE(value) OVER w                      AS final_value,
       LAST_VALUE(epoch_us(ts)) OVER w - epoch_us(ts) AS us_before_final
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# ---------------------------------------------------------------------------
# sort / limit / set ops / dedup
# ---------------------------------------------------------------------------


def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 (TakeOrderedAndProject — each partition keeps its
    local top-100, the driver merges; no full sort at any scale).
    Unique tie-break (orderkey, linenumber) makes the cut deterministic."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
        .orderBy(F.desc("price"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


ORACLE_SORT_LIMIT = """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY price DESC, l_orderkey, l_linenumber
LIMIT 100
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union all / union distinct / intersect / except over the
    distinct nation-key sets of customers vs suppliers."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).distinct()
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    ).distinct()
    tag = lambda df, kind: df.select(F.lit(kind).alias("kind"), "nationkey")  # noqa: E731
    return (
        tag(c.unionAll(s), "union_all")
        .unionAll(tag(c.union(s).distinct(), "union_distinct"))
        .unionAll(tag(c.intersect(s), "intersect"))
        .unionAll(tag(c.exceptAll(s), "except"))
    )


ORACLE_SET_OPS = """
WITH c AS (SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer),
     s AS (SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier)
SELECT 'union_all' AS kind, nationkey FROM (SELECT nationkey FROM c UNION ALL SELECT nationkey FROM s)
UNION ALL
SELECT 'union_distinct', nationkey FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
UNION ALL
SELECT 'intersect', nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT 'except', nationkey FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup canonicalized: keep the (orderkey, linenumber)-least
    row per (partkey, suppkey). dropDuplicates() keeps an *arbitrary*
    row, which is fine operationally but not hash-checkable — a
    row_number window makes the choice deterministic in both engines."""
    li = load(spark, sf_dir, "lineitem")
    # keeper selection as a map-side-combinable min_by (r11): the
    # row_number window shuffled EVERY lineitem row by (partkey,
    # suppkey) and sorted each group; the aggregate collapses a
    # group's rows to its (orderkey, linenumber)-least survivor
    # inside the scan partition, so only one row per key reaches the
    # exchange — the shape an exact-dedup pass over 100 TB needs.
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min_by(
                F.struct("l_orderkey", "l_linenumber", "l_quantity"),
                F.struct("l_orderkey", "l_linenumber"),
            ).alias("sel")
        )
        .select(
            "l_partkey",
            "l_suppkey",
            "sel.l_orderkey",
            "sel.l_linenumber",
            "sel.l_quantity",
        )
    )


ORACLE_DEDUP_EXACT = """
SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber, l_quantity
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
                               ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
) t WHERE rn = 1
"""


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per return flag —
    the linear-interpolation definition Spark `percentile` and DuckDB
    `quantile_cont` share, computed DISTRIBUTED (r7): the builtin
    grouped `percentile` buffers each flag's entire slice in one
    aggregation task (a third of the fact table per buffer at any
    scale); chunked_group_quantiles ranks the values in range chunks
    and interpolates the two bracketing order statistics per p —
    value-identical, no data-proportional buffer anywhere."""
    from .kernels import chunked_group_quantiles

    li = load(spark, sf_dir, "lineitem")
    price = chunked_group_quantiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [(0.5, "median_price_raw"), (0.9, "p90_price_raw")],
    )
    qty = chunked_group_quantiles(
        li, ["l_returnflag"], "l_quantity", [(0.5, "median_qty_raw")]
    )
    return price.join(qty, "l_returnflag").select(
        "l_returnflag",
        F.round("median_price_raw", 6).alias("median_price"),
        F.round("p90_price_raw", 6).alias("p90_price"),
        F.round("median_qty_raw", 6).alias("median_qty"),
    )


ORACLE_QUANTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       ROUND(quantile_cont(l_quantity, 0.5), 6)      AS median_qty
FROM lineitem
GROUP BY l_returnflag
"""


def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald–Khanna sketch) with the
    exact value alongside. DECLARED rows-only, re-affirmed by the r14
    probe (SURVEY §2.42): the estimate is a function of physical
    partitioning — repartition(7)/repartition(13, col) each shift the
    per-flag value at both oracle scales — so a value-exact oracle
    would pin single-input-split file-layout luck (coalesce(1)
    reproduces today's value bit-for-bit) and flake on any
    maxPartitionBytes / row-group / fetch-order change. The contract
    GK actually keeps under EVERY layout is the rank guarantee
    |rank(est) − 0.5(n−1)| ≤ n/1000 + 1, pinned at both oracle scales
    and under an adversarial re-layout by
    tests/test_analytics.py::test_approx_quantile_gk_envelope_under_any_layout.
    The exact arm runs on the distributed
    bracketing-order-statistic kernel (r7) — the builtin exact
    `percentile` buffered each flag's whole slice (a third of the
    fact table) in one task; the sketch arm is the mergeable
    map-side aggregate it always was."""
    from .kernels import chunked_group_quantiles

    li = load(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_median"),
    )
    exact = chunked_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [(0.5, "exact_median")]
    )
    return approx.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag", "approx_median", "exact_median"
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 bins) over order totals — bin edges
    derived from exact min/max aggregates."""
    o = load(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return (
        o.crossJoin(bounds)
        .select(
            F.least(
                F.floor((F.col("o_totalprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)),
                F.lit(9),
            )
            .cast("int")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_HISTOGRAM = """
WITH bounds AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
SELECT CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)), 9) AS INTEGER) AS bucket,
       COUNT(*) AS n_orders
FROM orders, bounds
GROUP BY 1
"""


def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + correlated subqueries through the SQL surface: customers
    above the global average balance, with their order count."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
               (SELECT COUNT(*) FROM v_orders o WHERE o.o_custkey = c.c_custkey)
                 AS n_orders
        FROM v_customer c
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                                  / COUNT(*) FROM v_customer)
        """
    )


ORACLE_SUBQUERY_SCALAR = """
SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                          / COUNT(*) FROM customer)
"""


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: for every nation, its top-3
    customers by balance — the 'top-k rows per dimension row' shape
    written the declarative way (a lateral derived table with its own
    ORDER BY/LIMIT, not a window over the whole fact). Catalyst
    rewrites the lateral into a partitioned rank under the hood, so
    at scale this is one customer shuffle on nationkey — no per-nation
    query execution survives. Tie-safe: (c_acctbal DESC, c_custkey)
    is a total order."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT n_name, c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
        FROM v_nation, LATERAL (
          SELECT c_custkey, c_name, c_acctbal
          FROM v_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 3
        ) c
        """
    )


ORACLE_LATERAL_TOPK = """
SELECT n_name, c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS acctbal
FROM nation, LATERAL (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 3
) c
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a fixed value list: order counts per priority ×
    status (explicit values keep the output schema static)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .withColumnsRenamed({"F": "n_f", "O": "n_o", "P": "n_p"})
    )


ORACLE_PIVOT_STATUS = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders
GROUP BY o_orderpriority
"""


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style 'latest row per key': the newest event per
    (user_id, event_type), ties broken by event_id — the standard
    changelog-compaction shape.

    The winning row is picked by max_by over the (ts_us, event_id)
    order struct: a map-side-combinable hash aggregate — each input
    partition emits one candidate per key before the single shuffle,
    and nothing is ever sorted. A row_number window (the oracle's
    spelling) would sort every group even with Spark's
    WindowGroupLimit partial top-k. Plan-guarded in
    tests/test_coverage.py."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max_by(
                F.struct("event_id", "ts_us", "value"),
                F.struct("ts_us", "event_id"),
            ).alias("r")
        )
        .select(
            "user_id",
            "event_type",
            F.col("r.event_id").alias("event_id"),
            F.col("r.ts_us").alias("ts_us"),
            F.col("r.value").alias("value"),
        )
    )


ORACLE_LATEST_PER_KEY = """
SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (MERGE INTO) as its engine-level primitive: a full-outer
    join of the base table against a changeset, coalescing updated
    columns — matched keys take the update, unmatched base rows keep
    their values, update-only keys would insert. Changeset here: each
    customer's order spend replaces the account balance where orders
    exist. At scale both sides shuffle on the key once (or are
    co-located by bucketing); this is what table formats execute under
    MERGE."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    upd = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            _money_sum(_dec("o_totalprice")).alias("spend"),
            F.count("*").alias("n_orders"),
        )
    )
    return c.join(upd, "c_custkey", "full").select(
        "c_custkey",
        "c_name",
        F.round(F.coalesce("spend", "c_acctbal"), 2).alias("acctbal"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


ORACLE_MERGE_UPSERT = """
WITH upd AS (
  SELECT o_custkey AS c_custkey,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT c.c_custkey, c.c_name,
       ROUND(COALESCE(u.spend, c.c_acctbal), 2) AS acctbal,
       COALESCE(u.n_orders, 0) AS n_orders
FROM customer c FULL OUTER JOIN upd u USING (c_custkey)
"""


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the shuffle-free big-join layout this
    engine's own docstrings promise at 100 TB (see copurchase_edges):
    write lineitem and orders bucketed 8-ways on the order key, then
    join through the catalog so Spark matches bucket layouts and skips
    BOTH shuffle exchanges (plan-asserted in
    tests/test_coverage.py::test_bucketed_join_no_shuffle).

    Output: per-priority lineitem count + total quantity off the
    bucketed join (quantities are integer-valued, so SUM is exact).

    100 TB shape: bucketing is THE pre-shuffle amortization — pay the
    layout shuffle once at ingest, then every orderkey join (the
    engine's biggest) runs exchange-free; bucket counts must match or
    divide each other for Spark to co-locate."""
    import hashlib

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    t_li, t_o = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    for t, df, key in ((t_li, li, "l_orderkey"), (t_o, o, "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"/root/repo/.tmp/{t}")
            .mode("overwrite")
            .saveAsTable(t)
        )
    j = spark.table(t_li).join(
        spark.table(t_o), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
    )


ORACLE_JOIN_BUCKETED = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(l_quantity) AS BIGINT) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct sketches (Apache DataSketches,
    built into Spark 4): per-event-type distinct-user estimates plus
    the UNION of the per-type sketches as the '__all__' row — the
    re-aggregatable distinct-count pattern (store sketch bytes per
    partition/day, merge on query) that exact COUNT(DISTINCT) cannot
    provide at 100 TB without a full reshuffle.

    rows-only oracle: sketch estimates are engine-specific (DuckDB's
    HLL differs); accuracy (±2% vs exact) and union-consistency are
    asserted in tests/test_coverage.py::test_hll_sketch_accuracy.

    100 TB shape: sketches are fixed-size (2^lgK registers) regardless
    of cardinality; the groupBy moves only sketch bytes with map-side
    combine, and the global row merges K sketches, never raw ids."""
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    per = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    per_type = per.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    total = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    return per_type.unionByName(total)


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile bucketing (ntile),
    percent_rank, cume_dist per nation over customer balances, with a
    total order (balance DESC, custkey) so peer groups are single rows
    and both engines agree bitwise. One shuffle on the partition key."""
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ORACLE_WINDOW_NTILE = """
SELECT c_custkey, c_nationkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
"""

FUZZY_MOD = 97
FUZZY_MAX_DIST = 6


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string join — entity resolution's core primitive: match
    every part name against a small probe set (parts with
    p_partkey % FUZZY_MOD == 0) within Levenshtein distance
    FUZZY_MAX_DIST.

    100 TB shape: the probe side of a fuzzy join is small by nature
    (query names, canonical entities), so it BROADCASTS and the big
    side streams through a nested-loop filter — no shuffle of the
    corpus. For probe sets too big to broadcast, the scale path is
    q-gram blocking (index both sides by character n-grams, same
    inverted-index shape as ngram_jaccard_pairs) before the exact
    distance check."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    probes = p.filter(F.col("p_partkey") % FUZZY_MOD == 0).select(
        F.col("p_partkey").alias("probe_key"), F.col("p_name").alias("probe_name")
    )
    return (
        p.crossJoin(F.broadcast(probes))
        .filter(F.col("p_partkey") != F.col("probe_key"))
        .select(
            "probe_key",
            "p_partkey",
            F.levenshtein("p_name", "probe_name").alias("dist"),
        )
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
    )


ORACLE_FUZZY_JOIN = f"""
SELECT q.p_partkey AS probe_key, p.p_partkey,
       CAST(levenshtein(p.p_name, q.p_name) AS INTEGER) AS dist
FROM part p
CROSS JOIN (SELECT p_partkey, p_name FROM part WHERE p_partkey % {FUZZY_MOD} = 0) q
WHERE p.p_partkey <> q.p_partkey
  AND levenshtein(p.p_name, q.p_name) <= {FUZZY_MAX_DIST}
"""

DAY_US = 86_400_000_000


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with carry-forward — the resampling step
    of metric pipelines: per user, take the last event value of each
    day, generate the full day grid between the user's first and last
    day, and forward-fill missing days from the most recent observed
    value.

    Output: (user_id, day, value) — one row per user per day in span.

    100 TB shape: the daily downsample is one map-side-combinable
    reduction; the grid explode is bounded by span length; the fill is
    one per-user ordered window (users are independent — perfectly
    parallel). No driver-side loops, no cross-user state."""
    # ts_us is the encoding-robust epoch-micros column load() attaches
    # (sources.ts_us_expr) — never do raw arithmetic on the physical ts.
    e = load(spark, sf_dir, "events").select("user_id", "ts_us", "event_id", "value")
    # last-event-of-day via max_by: a map-side-combinable aggregate,
    # not a row_number window (no per-(user,day) sort; same row wins —
    # (ts_us, event_id) is unique). The oracle spells it as row_number;
    # value passes through unchanged so the results are bit-identical.
    daily = (
        e.withColumn("day", (F.col("ts_us") / F.lit(DAY_US)).cast("long"))
        .groupBy("user_id", "day")
        .agg(
            F.max_by("value", F.struct("ts_us", "event_id")).alias("value")
        )
    )
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("value", ignorenulls=True).over(fill).alias("value"),
    )


ORACLE_GAP_FILL = f"""
WITH daily AS (
  SELECT user_id, day, value FROM (
    SELECT user_id,
           CAST(epoch_us(ts) // {DAY_US} AS BIGINT) AS day, value,
           row_number() OVER (PARTITION BY user_id,
                              CAST(epoch_us(ts) // {DAY_US} AS BIGINT)
                              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
SELECT g.user_id, g.day,
       last_value(d.value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day
               ROWS UNBOUNDED PRECEDING) AS value
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch (approx_top_k): the 20 most frequent
    document tokens with estimated counts — the sketch-family member
    for heavy hitters, next to HLL (distinct) and approx_percentile
    (quantiles).

    Oracle: value-exact SQL (r10 upgrade). Two facts make the exact
    top-20 a safe twin: (a) with maxItemsTracked ≫ vocabulary size the
    sketch degenerates to exact counting (pinned by
    tests/test_coverage.py::test_approx_topk_matches_exact), and
    (b) the rank-20/21 boundary is tie-FREE at every test fixture
    (917>913 at sf0.001, 888>886 at sf0.01 — the one condition under
    which the engine-internal tie order could flake a SQL twin), and
    the same test asserts that gap so fixture drift fails locally
    before any driver run could flake. Ties WITHIN the top 20 are
    harmless: the driver's value-hash is row-order-insensitive.

    100 TB shape: the sketch is a bounded map merged associatively —
    one map-side-combined aggregate, no full token shuffle; at real
    cardinalities the tracked-item bound caps memory where an exact
    groupBy+sort would not."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    toks.createOrReplaceTempView("toks_for_topk")
    return spark.sql(
        "SELECT t.item AS token, t.count AS cnt FROM (SELECT"
        " explode(approx_top_k(token, 20, 100000)) AS t FROM toks_for_topk)"
    )


ORACLE_APPROX_TOPK = """
SELECT token, cnt FROM (
  SELECT token, COUNT(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY token
) ORDER BY cnt DESC LIMIT 20
"""


def q_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-to-quantile window family: percent_rank and cume_dist of
    each customer's account balance within its market segment —
    completing the ranking surface next to rank/dense_rank
    (q_window_rank) and ntile (q_window_ntile). Both functions are
    tie-aware (equal balances share a value), so every output value
    depends only on the (segment, balance) HISTOGRAM: min-rank =
    cum_before + 1 and cume-count = cum_before + t. The engine
    therefore never ranks rows (r7): one map-side-combined histogram
    aggregate, a cumulative walk over the histogram (balance-domain-
    sized — it does not grow with row count), and a join back on
    (segment, balance) — where Window.partitionBy(segment) would put
    a fifth of all customers in one sorted partition.
    percent_rank = cum_before/(n−1) (0 when n = 1, Spark's own
    convention); cume_dist = (cum_before + t)/n."""
    c = load(spark, sf_dir, "customer")
    hist = c.groupBy("c_mktsegment", "c_acctbal").agg(F.count("*").alias("t"))
    w_h = (
        Window.partitionBy("c_mktsegment")
        .orderBy("c_acctbal")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = hist.select(
        "c_mktsegment",
        "c_acctbal",
        "t",
        F.coalesce(F.sum("t").over(w_h), F.lit(0)).alias("cum_before"),
    )
    n_seg = hist.groupBy("c_mktsegment").agg(F.sum("t").alias("n"))
    stats = staged.join(F.broadcast(n_seg), "c_mktsegment").select(
        "c_mktsegment",
        "c_acctbal",
        F.round(
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                F.col("cum_before").cast("double") / (F.col("n") - 1).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        F.round(
            (F.col("cum_before") + F.col("t")).cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("cume"),
    )
    return c.select("c_custkey", "c_mktsegment", "c_acctbal").join(
        stats, ["c_mktsegment", "c_acctbal"]
    ).select("c_custkey", "c_mktsegment", "c_acctbal", "pct_rank", "cume")


ORACLE_WINDOW_CUME = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6)    AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: minimize retail price,
    maximize size (Börzsönyi et al., "The Skyline Operator", ICDE
    2001). Distributed-safe shape: the naive formulation is a pairwise
    dominance self-join (O(n²)); instead collapse to the distinct
    (price, size) PAIR DOMAIN with counts (one map-side-combined
    aggregate), keep the max size per price, then a single running-max
    window over the ordered price domain keeps exactly the strictly
    improving staircase. The window input is the price domain, not the
    row count; at extreme scale the staircase merges range-partitioned
    (per-range frontier + prefix max of range maxima)."""
    p = load(spark, sf_dir, "part")
    pairs = (
        p.select(
            F.col("p_retailprice").cast("decimal(12,2)").alias("price"),
            F.col("p_size").alias("size"),
        )
        .groupBy("price", "size")
        .agg(F.count("*").alias("n_parts"))
    )
    best = pairs.groupBy("price").agg(
        F.max("size").alias("size"), F.max_by("n_parts", "size").alias("n_parts")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    return (
        best.withColumn("prev_max", F.max("size").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
        .select(F.col("price").cast("double").alias("price"), "size", "n_parts")
    )


ORACLE_SKYLINE = """
WITH pairs AS (
  SELECT CAST(p_retailprice AS DECIMAL(12,2)) AS price, p_size AS size,
         COUNT(*) AS n_parts
  FROM part GROUP BY 1, 2
),
best AS (
  SELECT price, MAX(size) AS size, arg_max(n_parts, size) AS n_parts
  FROM pairs GROUP BY price
),
fr AS (
  SELECT price, size, n_parts,
         MAX(size) OVER (ORDER BY price
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM best
)
SELECT CAST(price AS DOUBLE) AS price, size, n_parts
FROM fr WHERE prev_max IS NULL OR size > prev_max
"""


def q_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value) per group — built-in
    ``mode()`` leaves ties engine-internal, so the hash-stable
    formulation is count-then-argmax with a pinned tiebreak (highest
    count, then smallest value): two map-side-combined aggregates, no
    window, no sort. The composite numeric argmax key keeps the whole
    thing a plain ``max_by``/``arg_max`` both engines agree on."""
    li = load(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count("*").alias("cnt"))
    )
    key = F.col("cnt") * 1_000_000 - F.col("qty")
    return counts.groupBy("l_returnflag").agg(
        F.max_by("qty", key).alias("mode_qty"),
        F.max("cnt").alias("mode_cnt"),
    )


ORACLE_MODE_AGG = """
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag,
       arg_max(qty, cnt * 1000000 - qty) AS mode_qty,
       MAX(cnt) AS mode_cnt
FROM c GROUP BY l_returnflag
"""


def q_equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of extended prices —
    the optimizer-statistics shape, complementing the equi-width
    q_histogram and the raw q_quantiles. NOT an ntile global sort:
    the nine decile boundaries come from ONE pass of the distributed
    bracketing-order-statistic kernel (r7: the builtin exact
    `percentile` buffered the WHOLE price column in a single
    aggregation task — the last data-proportional buffer in this
    module), broadcast back as a 1-row scalar table, and bucket
    assignment is a pure comparison scan — the data is never
    globally sorted."""
    from .kernels import chunked_exact_quantiles

    li = load(spark, sf_dir, "lineitem")
    qs = chunked_exact_quantiles(
        li,
        "l_extendedprice",
        [(i / 10.0, f"_q{i}") for i in range(1, 10)],
    )
    bucket = sum(
        (F.col("l_extendedprice") > F.col(f"_q{i}")).cast("int")
        for i in range(1, 10)
    )
    return (
        li.crossJoin(F.broadcast(qs))
        .select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


ORACLE_EQUI_DEPTH_HIST = """
WITH qs AS (
  SELECT [quantile_cont(l_extendedprice, 0.1), quantile_cont(l_extendedprice, 0.2),
          quantile_cont(l_extendedprice, 0.3), quantile_cont(l_extendedprice, 0.4),
          quantile_cont(l_extendedprice, 0.5), quantile_cont(l_extendedprice, 0.6),
          quantile_cont(l_extendedprice, 0.7), quantile_cont(l_extendedprice, 0.8),
          quantile_cont(l_extendedprice, 0.9)] AS q
  FROM lineitem
),
b AS (
  SELECT CAST(
           CAST(l_extendedprice > q[1] AS INTEGER) + CAST(l_extendedprice > q[2] AS INTEGER)
         + CAST(l_extendedprice > q[3] AS INTEGER) + CAST(l_extendedprice > q[4] AS INTEGER)
         + CAST(l_extendedprice > q[5] AS INTEGER) + CAST(l_extendedprice > q[6] AS INTEGER)
         + CAST(l_extendedprice > q[7] AS INTEGER) + CAST(l_extendedprice > q[8] AS INTEGER)
         + CAST(l_extendedprice > q[9] AS INTEGER) AS INTEGER) AS bucket,
         l_extendedprice
  FROM lineitem CROSS JOIN qs
)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
FROM b GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# round-5 second batch (SURVEY §2.19): deterministic group sampling and
# multi-dimensional data layout
# ---------------------------------------------------------------------------

#: per-group sample size for the hash-priority reservoir
RESERVOIR_K = 5
#: LCG multiplier/increment (glibc constants) — pseudo-random priority
#: computable identically in any SQL engine, no RNG state
LCG_A = 1_103_515_245
LCG_C = 12_345
LCG_M = 2_147_483_648  # 2^31


def q_reservoir_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (distributed reservoir
    semantics): every row gets a pseudo-random priority from a pure
    LCG hash of its id — no RNG state, so the sample is identical
    on any engine, any partitioning, any retry — and each group keeps
    its k lowest priorities. Here expressed as one keyed window; at
    100 TB the same priority column feeds a per-partition partial
    top-k (groupBy + min_by heap) before the final per-group k —
    rank-based sampling is the pattern that makes 'give me 1000 docs
    per language' a two-aggregate plan instead of a global sort."""
    e = load(spark, sf_dir, "events")
    pri = (F.col("event_id") * LCG_A + LCG_C) % LCG_M
    w = Window.partitionBy("event_type").orderBy("pri", "event_id")
    return (
        e.select("event_type", "event_id", "user_id", "value", pri.alias("pri"))
        .withColumn("smp_rank", F.row_number().over(w))
        .filter(F.col("smp_rank") <= RESERVOIR_K)
        .select(
            "event_type",
            F.col("smp_rank").cast("int").alias("smp_rank"),
            "event_id",
            "user_id",
            "value",
        )
    )


ORACLE_RESERVOIR_GROUP = f"""
WITH pri AS (
  SELECT event_type, event_id, user_id, value,
         (event_id * {LCG_A} + {LCG_C}) % {LCG_M} AS pri
  FROM events
)
SELECT event_type, CAST(smp_rank AS INTEGER) AS smp_rank,
       event_id, user_id, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY pri, event_id) AS smp_rank
  FROM pri
) WHERE smp_rank <= {RESERVOIR_K}
"""


#: Morton-code bit width per dimension and bucket fan-out
ZORDER_BITS = 16
ZORDER_BUCKETS_SHIFT = 26  # z < 2^32 → 64 buckets


def _morton_spark(x, y):
    """Interleave the low 16 bits of x (even positions) and y (odd)."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    return z


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(({x} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({y} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout assignment — the multi-dimension
    clustering trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: bit-
    interleave two scan dimensions (user and value bucket) into one
    sort key so range-partitioned files are simultaneously tight in
    BOTH dimensions and min/max stats prune either predicate. The
    Morton code is a pure JVM-side bit expression (32 shift/mask
    terms, whole-stage-codegen'd, no UDF); the report aggregates
    per-bucket extents — the min/max manifest a writer would emit —
    via one groupBy. At scale the same key feeds
    ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` exactly
    like q_write_shards does for its 1-D key. Measured payoff and the
    two deployment pitfalls (rank-normalize dimensions to equal bit
    budgets; evaluate with quantile cutoffs): scripts/stress_zorder.py
    and SCALE.md §2 — 2/32 files read for a 2-D octant box vs 4/32
    (x-sorted) and 32/32 (unsorted)."""
    e = load(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(1 << ZORDER_BITS)).cast("long")
    y = F.pmod(
        F.round(F.col("value") * 100).cast("long"), F.lit(1 << ZORDER_BITS)
    )
    z = _morton_spark(x, y)
    return (
        e.select(x.alias("x"), y.alias("y"), z.alias("z"))
        .withColumn(
            "bucket", F.shiftright(F.col("z"), ZORDER_BUCKETS_SHIFT).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


ORACLE_ZORDER_LAYOUT = f"""
WITH base AS (
  SELECT user_id % {1 << ZORDER_BITS} AS x,
         CAST(ROUND(value * 100) AS BIGINT) % {1 << ZORDER_BITS} AS y
  FROM events
),
coded AS (
  SELECT x, y, {_morton_sql('x', 'y')} AS z FROM base
)
SELECT CAST(z >> {ZORDER_BUCKETS_SHIFT} AS INTEGER) AS bucket,
       COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max,
       MIN(z) AS z_min, MAX(z) AS z_max
FROM coded GROUP BY 1
"""


#: Bloom filter geometry: m bits as m/32 words (shift < 32 keeps the
#: mask positive and inside every engine's checked-shift range), k=2
BLOOM_M = 4096
BLOOM_NATION = 7


def _bloom_hashes(key):
    h1 = (key * F.lit(2_654_435_761)) % BLOOM_M
    h2 = (key * F.lit(40_503) + F.lit(17)) % BLOOM_M
    return h1, h2


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom-filter build + probe (Bloom 1970) — the
    runtime-filter pattern behind semi-join pushdown: build a 4096-bit
    filter over the dim-side keys (suppliers of one nation) as 128
    32-bit LONG words via ONE explode→bit_or aggregate, broadcast those 128
    rows, and pre-gate the fact scan before any shuffle would happen —
    at 100 TB this is the difference between shuffling every lineitem
    and shuffling ~nation's share + the false positives. Probe is two
    broadcast word lookups + bit tests, all JVM integer arithmetic.
    The report quantifies the gate: rows in, rows passing the filter,
    true members, false positives, and the measured FP rate (exact —
    the whole pipeline is integer-deterministic, so the oracle
    reproduces the filter bit-for-bit)."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == BLOOM_NATION
    )
    h1, h2 = _bloom_hashes(F.col("s_suppkey"))
    words = (
        supp.select(F.explode(F.array(h1, h2)).alias("h"))
        .select(
            (F.col("h") / 32).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    p1, p2 = _bloom_hashes(F.col("l_suppkey"))
    probe = li.select(
        "l_suppkey",
        (p1 / 32).cast("long").alias("w1_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST((l_suppkey * 2654435761) % {BLOOM_M} % 32 AS INT))"
        ).alias("m1"),
        (p2 / 32).cast("long").alias("w2_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT),"
            f" CAST((l_suppkey * 40503 + 17) % {BLOOM_M} % 32 AS INT))"
        ).alias("m2"),
    )
    probed = (
        probe.join(
            F.broadcast(words.select(F.col("word_idx").alias("w1_idx"), F.col("word").alias("w1"))),
            "w1_idx",
            "left",
        )
        .join(
            F.broadcast(words.select(F.col("word_idx").alias("w2_idx"), F.col("word").alias("w2"))),
            "w2_idx",
            "left",
        )
        .join(
            F.broadcast(
                supp.select(F.col("s_suppkey").alias("l_suppkey")).withColumn(
                    "is_member", F.lit(True)
                )
            ),
            "l_suppkey",
            "left",
        )
    )
    passes = (
        F.col("w1").isNotNull()
        & F.col("w2").isNotNull()
        & (F.col("w1").bitwiseAND(F.col("m1")) != 0)
        & (F.col("w2").bitwiseAND(F.col("m2")) != 0)
    )
    member = F.coalesce("is_member", F.lit(False))
    return probed.agg(
        F.count("*").alias("n_rows"),
        F.sum(passes.cast("long")).alias("n_pass"),
        F.sum(member.cast("long")).alias("n_true"),
        F.sum((passes & ~member).cast("long")).alias("n_fp"),
        F.round(
            F.sum((passes & ~member).cast("long"))
            / F.sum((~member).cast("long")),
            6,
        ).alias("fp_rate"),
    )


ORACLE_BLOOM_PREFILTER = f"""
WITH keys AS (
  SELECT s_suppkey FROM supplier WHERE s_nationkey = {BLOOM_NATION}
),
hashes AS (
  SELECT (s_suppkey * 2654435761) % {BLOOM_M} AS h FROM keys
  UNION ALL
  SELECT (s_suppkey * 40503 + 17) % {BLOOM_M} AS h FROM keys
),
words AS (
  SELECT h // 32 AS word_idx,
         bit_or(1::BIGINT << CAST(h % 32 AS INTEGER)) AS word
  FROM hashes GROUP BY 1
),
probe AS (
  SELECT l_suppkey,
         ((l_suppkey * 2654435761) % {BLOOM_M}) // 32 AS w1_idx,
         1::BIGINT << CAST((l_suppkey * 2654435761) % {BLOOM_M} % 32 AS INTEGER) AS m1,
         ((l_suppkey * 40503 + 17) % {BLOOM_M}) // 32 AS w2_idx,
         1::BIGINT << CAST((l_suppkey * 40503 + 17) % {BLOOM_M} % 32 AS INTEGER) AS m2
  FROM lineitem
),
joined AS (
  SELECT p.*, a.word AS w1, b.word AS w2,
         k.s_suppkey IS NOT NULL AS is_member
  FROM probe p
  LEFT JOIN words a ON p.w1_idx = a.word_idx
  LEFT JOIN words b ON p.w2_idx = b.word_idx
  LEFT JOIN keys k ON p.l_suppkey = k.s_suppkey
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN w1 IS NOT NULL AND w2 IS NOT NULL
                      AND (w1 & m1) <> 0 AND (w2 & m2) <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN w1 IS NOT NULL AND w2 IS NOT NULL
                      AND (w1 & m1) <> 0 AND (w2 & m2) <> 0 AND NOT is_member
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       ROUND(SUM(CASE WHEN w1 IS NOT NULL AND w2 IS NOT NULL
                       AND (w1 & m1) <> 0 AND (w2 & m2) <> 0 AND NOT is_member
                      THEN 1 ELSE 0 END)
             / CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS DOUBLE),
             6) AS fp_rate
FROM joined
"""


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.0, SURVEY §2.29)
# ---------------------------------------------------------------------------


def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-operator syntax (Spark 4.0's ``|>`` chains, the
    GoogleSQL pipe proposal): the same filter → derive → aggregate →
    order plan q_agg_groupby expresses relationally, written as a
    linear pipeline — each ``|>`` stage parses to the identical
    Catalyst operator, so pushdown/partial-agg behavior is unchanged
    and the feature is pure surface syntax. Exactness: DECIMAL money
    sum, the repo convention.

    100 TB: identical plan to the DataFrame spelling — the point of
    the demo is that the new syntax costs nothing.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_pipe")
    return spark.sql(
        """
        FROM v_orders_pipe
        |> WHERE o_orderstatus <> 'X'
        |> EXTEND CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(price) AS DOUBLE) AS sum_price,
                     MIN(o_orderkey) AS min_orderkey
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


ORACLE_SQL_PIPE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(o_orderkey) AS min_orderkey
FROM orders
WHERE o_orderstatus <> 'X'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES = {
    "q_scan_parquet": q_scan_parquet,
    "q_subquery_scalar": q_subquery_scalar,
    "q_lateral_topk": q_lateral_topk,
    "q_pivot_status": q_pivot_status,
    "q_quantiles": q_quantiles,
    "q_approx_quantile": q_approx_quantile,
    "q_histogram": q_histogram,
    "q_filter_pred": q_filter_pred,
    "q_agg_groupby": q_agg_groupby,
    "q_agg_distinct": q_agg_distinct,
    "q_approx_cd": q_approx_cd,
    "q_grouping_sets": q_grouping_sets,
    "q_cube": q_cube,
    "q_grouping_sets_explicit": q_grouping_sets_explicit,
    "q_join_inner": q_join_inner,
    "q_join_broadcast": q_join_broadcast,
    "q_join_outer": q_join_outer,
    "q_join_full_outer": q_join_full_outer,
    "q_join_semi_anti": q_join_semi_anti,
    "q_join_theta_range": q_join_theta_range,
    "q_join_asof": q_join_asof,
    "q_cross_small": q_cross_small,
    "q_window_rank": q_window_rank,
    "q_window_frame": q_window_frame,
    "q_window_laglead": q_window_laglead,
    "q_window_nth": q_window_nth,
    "q_sort_limit": q_sort_limit,
    "q_set_ops": q_set_ops,
    "q_dedup_exact": q_dedup_exact,
    "q_latest_per_key": q_latest_per_key,
    "q_merge_upsert": q_merge_upsert,
    "q_join_bucketed": q_join_bucketed,
    "q_hll_sketch": q_hll_sketch,
    "q_window_ntile": q_window_ntile,
    "q_fuzzy_join": q_fuzzy_join,
    "q_gap_fill": q_gap_fill,
    "q_approx_topk": q_approx_topk,
    "q_window_cume": q_window_cume,
    "q_skyline": q_skyline,
    "q_mode_agg": q_mode_agg,
    "q_equi_depth_hist": q_equi_depth_hist,
    "q_reservoir_group": q_reservoir_group,
    "q_zorder_layout": q_zorder_layout,
    "q_bloom_prefilter": q_bloom_prefilter,
    "q_sql_pipe": q_sql_pipe,
}

ORACLES = {
    "q_scan_parquet": ORACLE_SCAN_PARQUET,
    "q_subquery_scalar": ORACLE_SUBQUERY_SCALAR,
    "q_lateral_topk": ORACLE_LATERAL_TOPK,
    "q_pivot_status": ORACLE_PIVOT_STATUS,
    "q_quantiles": ORACLE_QUANTILES,
    "q_histogram": ORACLE_HISTOGRAM,
    # q_approx_quantile: rows-only (sketch estimates are engine-specific)
    "q_approx_cd": _oracle_approx_cd(),
    "q_filter_pred": ORACLE_FILTER_PRED,
    "q_agg_groupby": ORACLE_AGG_GROUPBY,
    "q_agg_distinct": ORACLE_AGG_DISTINCT,
    "q_grouping_sets": ORACLE_GROUPING_SETS,
    "q_cube": ORACLE_CUBE,
    "q_grouping_sets_explicit": ORACLE_GROUPING_SETS_EXPLICIT,
    "q_join_inner": ORACLE_JOIN_INNER,
    "q_join_broadcast": ORACLE_JOIN_BROADCAST,
    "q_join_outer": ORACLE_JOIN_OUTER,
    "q_join_full_outer": ORACLE_JOIN_FULL_OUTER,
    "q_join_semi_anti": ORACLE_JOIN_SEMI_ANTI,
    "q_join_theta_range": ORACLE_JOIN_THETA_RANGE,
    "q_join_asof": ORACLE_JOIN_ASOF,
    "q_cross_small": ORACLE_CROSS_SMALL,
    "q_window_rank": ORACLE_RANK_WINDOW,
    "q_window_frame": ORACLE_WINDOW_FRAME,
    "q_window_laglead": ORACLE_WINDOW_LAGLEAD,
    "q_window_nth": ORACLE_WINDOW_NTH,
    "q_sort_limit": ORACLE_SORT_LIMIT,
    "q_set_ops": ORACLE_SET_OPS,
    "q_dedup_exact": ORACLE_DEDUP_EXACT,
    "q_latest_per_key": ORACLE_LATEST_PER_KEY,
    "q_merge_upsert": ORACLE_MERGE_UPSERT,
    "q_join_bucketed": ORACLE_JOIN_BUCKETED,
    "q_window_ntile": ORACLE_WINDOW_NTILE,
    "q_fuzzy_join": ORACLE_FUZZY_JOIN,
    "q_gap_fill": ORACLE_GAP_FILL,
    "q_window_cume": ORACLE_WINDOW_CUME,
    "q_skyline": ORACLE_SKYLINE,
    "q_mode_agg": ORACLE_MODE_AGG,
    "q_equi_depth_hist": ORACLE_EQUI_DEPTH_HIST,
    "q_reservoir_group": ORACLE_RESERVOIR_GROUP,
    "q_zorder_layout": ORACLE_ZORDER_LAYOUT,
    "q_bloom_prefilter": ORACLE_BLOOM_PREFILTER,
    "q_sql_pipe": ORACLE_SQL_PIPE,
    "q_approx_topk": ORACLE_APPROX_TOPK,
    # q_approx_cd: rows-only (approximate, engine-specific estimates)
    # q_hll_sketch: rows-only (sketch estimates are engine-specific)
}
