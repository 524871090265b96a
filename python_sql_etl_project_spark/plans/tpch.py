"""TPC-H-style analytics over the driver testdata.

These are the engine's headline queries: multi-join star-schema analytics
expressed declaratively so Catalyst plans them (broadcast-hash joins for
the small dims, partial+final hash aggregation, parquet predicate
pushdown + column pruning — the physical behaviors SURVEY §4.2 lists as
"built-in").

Determinism: every floating aggregate is rounded (parallel summation's
low-bit drift vs the serial DuckDB oracle), every top-k has a unique
tiebreaker column in the ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import read_table


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape): scan → filter → grouped agg.

    One shuffle (on the 6-value group key) after a map-side partial
    aggregation; the shipdate filter and the 7-column projection are pushed
    into the parquet scan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= _ts("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-k (TPC-H Q3 shape): selective dim filter →
    join chain → grouped agg → global top-10.

    customer is the small side (filtered on segment) → broadcast-hash
    join; the top-10 is a TakeOrderedAndProject, never a full sort.
    """
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1997-01-01"))
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1997-01-01"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): 6-way join with a
    region→nation semi-filter; every dim side broadcasts, so the only
    shuffle is the final group-by on n_name."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS acctbal,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item report (TPC-H Q10 shape): fact filter → join →
    group-by-customer top-20."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"), "n_name"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )

@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape): EXISTS → LEFT SEMI join.

    The semi join keeps orders with ≥1 late-shipped line without
    duplicating them — Catalyst never materializes the match multiplicity.
    The quarter filter prunes orders before the join (pushed to the scan).
    """
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_revenue_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-change forecast (TPC-H Q6 shape): the purest pushdown test —
    a single selective scan, zero joins, grand aggregate. All four
    predicates must appear as PushedFilters in the parquet scan and the
    ReadSchema must be exactly the 4 referenced columns.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@query(
    "q12_priority_by_linestatus",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (TPC-H Q12 shape): fact-fact equi-join +
    conditional counts (pivot-style CASE aggregation, same family as the
    reference's A1 conditional sum). The lineitem side is pre-filtered to
    one ship-year before the join shuffle.
    """
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT round(
             100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect ratio (TPC-H Q14 shape): one month of lineitem
    broadcast-joined to part (dim-sized build side), then a conditional
    ratio in a single grand aggregate — two sums, one pass.
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier diversity per part group (TPC-H Q16 shape): broadcast dim
    join + COUNT(DISTINCT) — Spark expands distinct aggregation into a
    two-phase (partial-distinct, final) plan automatically.
    """
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey,
           o_orderdate, round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape): HAVING-subquery →
    aggregate-then-SEMI-join. The big-order key set is derived by a
    grouped agg and semi-joined back (never collected to the driver);
    top-100 is a TakeOrdered with o_orderkey as the unique tiebreaker.
    """
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    o = read_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = read_table(spark, sf_dir, "customer")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under OR-of-ANDs predicates (TPC-H Q19 shape):
    the disjunction mixes join-side columns, so it must be evaluated as a
    post-join filter — but the join itself stays a broadcast-hash
    equi-join on partkey (Catalyst splits the conjunctive equi-key out of
    the OR instead of degrading to a nested-loop join).
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & q.between(20, 30))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q22_dormant_rich_customers",
    oracle="""
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (TPC-H Q22 shape): scalar subquery
    (global average, broadcast as a 1-row cross join — never collected)
    + NOT EXISTS as a LEFT ANTI join against order keys, then grouped
    totals per nation.
    """
    c = read_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    o_keys = read_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < threshold
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape): the correlated
    aggregate subquery (``l_quantity < 0.2 * avg per part``)
    DECORRELATED into a per-part aggregate joined back — one aggregation
    + one join instead of a per-row subquery execution. Catalyst performs
    this rewrite for scalar subqueries itself; expressing it directly
    keeps the plan explicit.
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        (0.2 * F.avg("l_quantity")).alias("threshold")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pa_key") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    ),
    order_suppliers AS (
        SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_sup
        FROM lineitem GROUP BY l_orderkey
    ),
    order_late AS (
        SELECT l_orderkey, count(*) AS n_late_sup FROM late GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late
    JOIN supplier ON s_suppkey = late.l_suppkey
    JOIN order_suppliers os ON os.l_orderkey = late.l_orderkey
    JOIN order_late ol ON ol.l_orderkey = late.l_orderkey
    WHERE os.n_sup > 1 AND ol.n_late_sup = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (TPC-H Q21 shape): the classic
    EXISTS (another supplier in the order) + NOT EXISTS (no OTHER late
    supplier) pair, rewritten as per-order supplier/late-supplier counts
    joined back — set-algebra aggregation instead of two correlated
    subqueries, each of which would be its own join at scale anyway.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    s = read_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    order_suppliers = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_sup")
    )
    order_late = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_late_sup")
    )
    return (
        late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(order_suppliers, "l_orderkey")
        .join(order_late, "l_orderkey")
        .filter((F.col("n_sup") > 1) & (F.col("n_late_sup") == 1))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q2_cheapest_supplier_per_nation",
    oracle="""
    WITH ranked AS (
        SELECT n_name, s_suppkey, s_name, s_acctbal,
               row_number() OVER (PARTITION BY n_nationkey
                                  ORDER BY s_acctbal, s_suppkey) AS rn
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
    )
    SELECT n_name, s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM ranked WHERE rn = 1
    ORDER BY n_name
    """,
)
def q2_cheapest_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min per group (TPC-H Q2's correlated MIN shape): the supplier
    with the lowest account balance in each nation, via a per-group
    window with a deterministic key tiebreak — the decorrelated form of
    ``WHERE s_acctbal = (SELECT min(...) WHERE same nation)``.
    """
    from pyspark.sql import Window

    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        s.join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "q7_bination_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           date_part('year', l_shipdate) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE cn.n_name IN ('NATION_0', 'NATION_1')
      AND sn.n_name IN ('NATION_0', 'NATION_1')
      AND cn.n_name <> sn.n_name
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_bination_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border volume (TPC-H Q7 shape): a 5-way join where the SAME
    dimension (nation) joins twice under different roles — customer's
    nation and supplier's nation. Both nation sides and both entity dims
    broadcast; the only large shuffle is lineitem⋈orders.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_0", "NATION_1"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_0", "NATION_1"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n_name AS nation, date_part('year', l_shipdate) AS ship_year,
           CAST(round(sum(
               CAST(l_extendedprice AS DECIMAL(14, 2))
               * (1 - CAST(l_discount AS DECIMAL(4, 2)))
               - CAST(0.6 AS DECIMAL(2, 1)) * CAST(p_retailprice AS DECIMAL(14, 2))
                 * CAST(l_quantity AS DECIMAL(14, 2))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product profit (TPC-H Q9 shape, cost modeled from retail price —
    this schema has no partsupp): revenue minus modeled cost per
    supplier nation and ship year, with a LIKE predicate pushed to the
    part dim before its join.

    Exact decimal arithmetic, as in q11: prices, discounts and
    quantities are 2-decimal values stored as doubles. A double sum's
    low bits depend on the summation order, which follows the join
    strategy, so a profit near a rounding boundary rounded differently
    with auto-broadcast and AQE off (NATION_15/2000 at sf0.001).
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    cost = (
        F.expr("CAST(0.6 AS DECIMAL(2, 1))")
        * F.col("p_retailprice").cast("decimal(14,2)")
        * F.col("l_quantity").cast("decimal(14,2)")
    )
    profit = revenue - cost
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
        .orderBy("nation", "ship_year")
    )


@query(
    "q13_order_count_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count histogram (TPC-H Q13 shape): LEFT OUTER join
    keeping order-less customers (count=0 bucket), then a two-level
    aggregation — count per customer, then distribution over counts.
    ``count(o_orderkey)`` counts non-null keys only, so outer-join nulls
    land in the zero bucket in both engines.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q8_market_share",
    oracle="""
    WITH vol AS (
        SELECT date_part('year', o_orderdate) AS yr,
               l_extendedprice * (1 - l_discount) AS v,
               sn.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation cn ON cn.n_nationkey = c_nationkey
        JOIN region ON r_regionkey = cn.n_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'EUROPE'
    )
    SELECT yr,
           round(sum(CASE WHEN supp_nation = 'NATION_1' THEN v ELSE 0 END)
                 / sum(v), 6) AS mkt_share
    FROM vol GROUP BY yr ORDER BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape): a 7-way star join —
    nation joins twice (customer side filtered through region, supplier
    side labeling the share) — then a conditional-ratio aggregate per
    year. Every dimension broadcasts; lineitem⋈orders is the one real
    shuffle."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select("n_nationkey", "n_regionkey").join(
        r, F.col("r_regionkey") == F.col("n_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    v = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    vol = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(cn, F.col("cn_key") == F.col("c_nationkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(sn, F.col("sn_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            v.alias("v"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("v")).otherwise(0)
    ) / F.sum("v")
    return (
        vol.groupBy("yr").agg(F.round(share, 6).alias("mkt_share")).orderBy("yr")
    )


@query(
    "q11_revenue_concentration",
    oracle="""
    WITH part_rev AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(14, 2))
                   * (1 - CAST(l_discount AS DECIMAL(4, 2)))) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT sum(rev) AS t FROM part_rev)
    SELECT l_partkey, CAST(round(rev, 2) AS DOUBLE) AS part_revenue
    FROM part_rev, total
    WHERE CAST(rev AS DOUBLE) > 0.0002 * CAST(t AS DOUBLE)
    ORDER BY part_revenue DESC, l_partkey
    """,
)
def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (TPC-H Q11 shape): per-key aggregate
    filtered against a GLOBAL scalar aggregate — the scalar is a 1-row
    broadcast cross join, never a collected driver value, so the plan is
    identical at any scale.

    The whole aggregate runs in exact decimal: price and discount are
    2-decimal quantities stored as doubles, so casting each to DECIMAL
    *before* any arithmetic is exact (no double is ever exactly on a
    .xx5 tie), the decimal multiply/sum are exact and order-independent,
    and values that straddle a 2-decimal rounding boundary under
    parallel float summation (observed: 6 of ~2000 parts) hash-match.
    """
    li = read_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    part_rev = li.groupBy("l_partkey").agg(F.sum(v).alias("rev"))
    total = part_rev.agg(F.sum("rev").alias("t"))
    return (
        part_rev.crossJoin(total)
        .filter(
            F.col("rev").cast("double") > 0.0002 * F.col("t").cast("double")
        )
        .select(
            "l_partkey",
            # round in DECIMAL, then cast: both engines round decimals
            # HALF_UP, but DOUBLE rounding is half-even in DuckDB — an
            # exact .5 tie (which decimal sums DO produce) would diverge
            F.round(F.col("rev"), 2).cast("double").alias("part_revenue"),
        )
        .orderBy(F.desc("part_revenue"), "l_partkey")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH srev AS (
        SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    ),
    mx AS (SELECT max(total_rev) AS m FROM srev)
    SELECT s_suppkey, s_name, round(total_rev, 2) AS total_rev
    FROM srev JOIN supplier ON s_suppkey = l_suppkey, mx
    WHERE total_rev = m
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): revenue 'view' → global-max
    scalar → equality join back (keeps ALL ties, unlike a LIMIT 1) —
    the max is a broadcast 1-row join, exactly the decorrelated form of
    ``WHERE total_rev = (SELECT max(...))``."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    srev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_rev"
        )
    )
    mx = srev.agg(F.max("total_rev").alias("m"))
    s = read_table(spark, sf_dir, "supplier")
    return (
        srev.crossJoin(mx)
        .filter(F.col("total_rev") == F.col("m"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_rev", 2).alias("total_rev"))
        .orderBy("s_suppkey")
    )


@query(
    "q20_red_part_suppliers",
    oracle="""
    WITH red_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    ),
    heavy AS (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100
    )
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    ORDER BY s_suppkey
    """,
)
def q20_red_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-join chain (TPC-H Q20 shape): IN-subquery feeding a
    HAVING feeding another IN-subquery — planned as semi-join →
    aggregate-filter → semi-join, each key set staying distributed."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = read_table(spark, sf_dir, "lineitem")
    heavy = (
        li.join(
            p.select("p_partkey"),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        s.join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
