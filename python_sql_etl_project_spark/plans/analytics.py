"""Reference-parity queries, re-expressed over the driver testdata.

Each query maps 1:1 to rows of SURVEY §2's operator inventory (operator
ids cited per query). The reference ran its two analytics SQL strings in
Postgres (``/root/reference/src/bot_ventas.py:39-58``); here the same
shapes run through Catalyst over parquet views — and the remaining
operators (anti-join load filter, orphan repair, keep-first dedup,
coercion filters, lenient casts) become declarative DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranking import ntile_from_rank, sharded_global_row_number
from ..operators.relational import (
    anti_join,
    coercion_filter,
    dedupe_first,
    repair_orphan_keys,
    union_catalogs,
)
from ..registry import query
from ..session import read_table


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# The two bot queries (src/bot_ventas.py:39-58), same shapes on testdata
# ---------------------------------------------------------------------------


@query(
    "ref_daily_cumulative_metrics",
    oracle="""
    SELECT round(sum(CASE WHEN o_orderdate = TIMESTAMP '1996-06-14'
                          THEN o_totalprice ELSE 0 END), 2) AS diaria,
           round(sum(o_totalprice), 2)                      AS acumulado_mes
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-06-01'
      AND o_orderdate <= TIMESTAMP '1996-06-14'
    """,
)
def ref_daily_cumulative_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot query #1 (A1 conditional sum + A2 global sum over P9 range
    predicate, ``/root/reference/src/bot_ventas.py:39-45``): single-pass
    grand aggregate — one partial+final agg, no shuffle of data rows."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= _ts("1996-06-01"))
            & (F.col("o_orderdate") <= _ts("1996-06-14"))
        )
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("o_orderdate") == _ts("1996-06-14"),
                        F.col("o_totalprice"),
                    ).otherwise(0.0)
                ),
                2,
            ).alias("diaria"),
            F.round(F.sum("o_totalprice"), 2).alias("acumulado_mes"),
        )
    )


@query(
    "ref_distributor_report",
    oracle="""
    SELECT COALESCE(c.c_mktsegment, 'Venta Directa') AS nombre_segmento,
           round(sum(l.l_extendedprice), 2)          AS total_prestamos
    FROM lineitem l
    LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
                        AND o.o_orderstatus = 'O'
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-06-01'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1
    ORDER BY total_prestamos DESC, nombre_segmento
    """,
)
def ref_distributor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot query #2 (J2 left-join chain + F1 coalesce + A3 grouped sum +
    O1 sort, ``/root/reference/src/bot_ventas.py:48-58``). The restricted
    orders side makes some fact rows miss → COALESCE null-dimension path,
    exactly the reference's 'Venta Directa' fallback."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-06-01"))
        & (F.col("l_shipdate") < _ts("1996-07-01"))
    )
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = read_table(spark, sf_dir, "customer")
    return (
        # the size threshold / AQE picks each join strategy: a forced
        # broadcast of orders or customer OOMs executors at 100 TB.
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .join(c, o.o_custkey == c.c_custkey, "left")
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("Venta Directa")).alias(
                "nombre_segmento"
            )
        )
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("total_prestamos"))
        .orderBy(F.desc("total_prestamos"), "nombre_segmento")
    )


# ---------------------------------------------------------------------------
# Operator-level parity queries
# ---------------------------------------------------------------------------


@query(
    "ref_orphan_repair",
    oracle="""
    WITH dim AS (
        SELECT p_partkey, p_name FROM part WHERE p_partkey % 10 <> 0
    ),
    missing AS (
        SELECT DISTINCT l_partkey AS p_partkey
        FROM lineitem
        WHERE l_partkey IS NOT NULL
          AND l_partkey NOT IN (SELECT p_partkey FROM dim)
    )
    SELECT p_partkey, p_name FROM dim
    UNION ALL
    SELECT p_partkey, 'Tipo Desconocido (Sistema)' AS p_name FROM missing
    """,
)
def ref_orphan_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-key repair (§2.9, ``/root/reference/src/transform.py:57-76``):
    a deliberately hole-y part catalog is repaired against lineitem's
    foreign keys with 'Tipo Desconocido (Sistema)' dummy rows."""
    dim = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 != 0)
        .select("p_partkey", "p_name")
    )
    fact = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")
    )
    return repair_orphan_keys(
        fact, dim, "p_partkey", {"p_name": "Tipo Desconocido (Sistema)"}
    )


@query(
    "ref_incremental_antijoin",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderkey % 3 <> 0
    """,
)
def ref_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load anti-join (J3/P8, ``/root/reference/src/load.py:47-51``):
    new batch LEFT ANTI JOIN already-loaded PKs. The 'existing' side here
    is a simulated warehouse key scan (orderkeys divisible by 3); the
    engine runs a genuine distributed anti-join, not a driver-side set."""
    o = read_table(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return anti_join(o, existing, "o_orderkey").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@query(
    "ref_dedupe_first",
    oracle="""
    SELECT c_nationkey, c_custkey, c_name
    FROM (
        SELECT c_nationkey, c_custkey, c_name,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_custkey) AS rn
        FROM customer
    )
    WHERE rn = 1
    """,
)
def ref_dedupe_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup (A5,
    ``/root/reference/src/transform.py:79``): one customer per nation under
    an explicit ordering — the window-based semantics SURVEY §7.3 requires
    for oracle-reproducible results."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_name"
    )
    return dedupe_first(c, "c_nationkey", "c_custkey")


@query(
    "ref_union_catalog",
    oracle="""
    SELECT p_partkey, p_name, p_size FROM part WHERE p_size < 10
    UNION ALL
    SELECT p_partkey, p_name, p_size FROM part WHERE p_size >= 45
    """,
)
def ref_union_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-aligned union (U1, ``/root/reference/src/transform.py:76``)."""
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    return union_catalogs(
        p.filter(F.col("p_size") < 10), p.filter(F.col("p_size") >= 45)
    )


@query(
    "ref_projection_rename",
    oracle="""
    SELECT c_custkey AS id_cliente,
           c_name    AS nombre_cliente,
           c_mktsegment AS categoria
    FROM customer
    """,
)
def ref_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename map (P1/P2/F7,
    ``/root/reference/src/transform.py:79,83-87``). Column pruning reaches
    the parquet footer: only 3 of 5 columns are read."""
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id_cliente"),
        F.col("c_name").alias("nombre_cliente"),
        F.col("c_mktsegment").alias("categoria"),
    )


@query(
    "ref_coercion_filter",
    oracle=r"""
    WITH dirty AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END AS raw
        FROM events
    )
    SELECT event_id, k
    FROM (
        SELECT event_id,
               TRY_CAST(regexp_extract(raw, '^\{"k": (\d+)\}$', 1) AS INT) AS k
        FROM dirty
    )
    WHERE k IS NOT NULL
    """,
)
def ref_coercion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coercion filter (P7+F5+F6, ``/root/reference/src/transform.py:61-64``):
    parse-or-null then drop — every 7th row is deliberately corrupted and
    must be dropped, matching ``pd.to_numeric(errors='coerce')`` via the
    session's non-ANSI cast."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props")))
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    parsed = ev.withColumn(
        "k", F.regexp_extract("raw", r'^\{"k": (\d+)\}$', 1).cast("int")
    ).select("event_id", "k")
    return coercion_filter(parsed, "k", "int")


@query(
    "ref_lenient_date_cast",
    oracle="""
    SELECT event_id,
           strftime(TRY_CAST(CASE WHEN event_id % 5 = 0 THEN 'not-a-date'
                                  ELSE strftime(ts, '%Y-%m-%d') END AS DATE),
                    '%Y-%m-%d') AS parsed_date
    FROM events
    """,
)
def ref_lenient_date_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient date parse (F3/F4, ``/root/reference/src/transform.py:114-117``):
    unparseable strings → NULL, not error — ``errors='coerce'`` parity via
    ``spark.sql.ansi.enabled=false``. The parsed DATE is re-formatted to a
    string on output so both engines emit the identical column type
    (Spark's date objects vs DuckDB's datetime64 canonicalize differently
    in downstream hashers)."""
    ev = read_table(spark, sf_dir, "events")
    dirty = F.when(F.col("event_id") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("ts", "yyyy-MM-dd")
    )
    return ev.select(
        "event_id",
        F.date_format(dirty.cast("date"), "yyyy-MM-dd").alias("parsed_date"),
    )


@query(
    "ref_distinct_flags",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def ref_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct values (A4, ``/root/reference/src/transform.py:58``)."""
    return read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@query(
    "ref_status_counts",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def ref_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts (A7, ``/root/reference/src/load.py:53-54``)."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


@query(
    "ref_null_drop",
    oracle="""
    SELECT event_id, cleaned_value
    FROM (
        SELECT event_id,
               CASE WHEN value < 10 THEN NULL ELSE round(value, 2) END AS cleaned_value
        FROM events
    )
    WHERE cleaned_value IS NOT NULL
    """,
)
def ref_null_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-drop (P6, ``/root/reference/src/transform.py:61,120``):
    nullify-then-drop on a quality predicate."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 10, F.lit(None))
        .otherwise(F.round("value", 2))
        .alias("cleaned_value"),
    )
    return ev.na.drop(subset=["cleaned_value"])


# ---------------------------------------------------------------------------
# Window functions & grouping sets (SURVEY §2.5 notes these are required
# for parity semantics and are first-class in the new engine)
# ---------------------------------------------------------------------------


@query(
    "win_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def win_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number window — one shuffle on o_custkey,
    no global sort."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM orders
    """,
)
def win_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per customer (analytic frame). Frame order is made
    unique by the o_orderkey tiebreaker, so the sequential in-frame
    summation is bitwise identical across engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "win_event_gaps",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
    """,
)
def win_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: microseconds between consecutive events per user —
    exact integer arithmetic (epoch micros), no float drift."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )


@query(
    "rollup_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (grouping-sets family — absent in the reference,
    first-class here)."""
    return (
        read_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "win_trailing_7d_revenue",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS d,
               sum(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT d,
           round(rev, 2) AS day_revenue,
           round(sum(rev) OVER (ORDER BY d
                                RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                                          AND CURRENT ROW), 2)
             AS trailing_7d_revenue
    FROM daily
    """,
)
def win_trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-interval window frame: trailing 7-day revenue per day —
    value-based framing (all days within 6 days back), not row-count
    framing, so gaps in the calendar are handled correctly. Daily
    pre-aggregation first: the window then runs over ~days rows, not
    raw orders — at 100 TB the frame input is always the reduced
    series."""
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    # RANGE frame over day-granularity epoch seconds: 6 days back + today
    day_secs = 86400
    w = (
        Window.orderBy(F.unix_timestamp("d"))
        .rangeBetween(-6 * day_secs, Window.currentRow)
    )
    return daily.select(
        "d",
        F.round("rev", 2).alias("day_revenue"),
        F.round(F.sum("rev").over(w), 2).alias("trailing_7d_revenue"),
    )


@query(
    "win_customer_spend_quartiles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, sum(o_totalprice) AS total
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           round(total, 2) AS total_spend,
           CAST(ntile(4) OVER (ORDER BY total, o_custkey) AS INT) AS quartile,
           round(percent_rank() OVER (ORDER BY total, o_custkey), 6)
             AS pct_rank,
           round(cume_dist() OVER (ORDER BY total, o_custkey), 6) AS cume
    FROM spend
    """,
)
def win_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    over per-customer spend, with the customer key as the deterministic
    tiebreaker in every ordering.

    Scale plan (round 8): customer count is FACT-proportional in this
    schema, so the oracle's single global window would funnel every
    customer through one sort task. The engine instead derives all three
    distribution functions from the value-sharded global row_number
    (``operators/ranking.py`` — shard on the spend range, shard-grain
    exclusive prefix, broadcast offsets) plus one broadcast scalar n:
    ntile is the SQL remainder rule on (r, n), percent_rank is
    (r−1)/(n−1), cume_dist is r/n — bit-identical to the window forms
    because the (total, o_custkey) order is tie-free."""
    from ..session import finalize_unpersist

    spend = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total"))
    ).persist()  # read by the n-agg + both passes of the sharded rank
    ranked = sharded_global_row_number(
        spend,
        F.expr("CAST(floor(total) AS BIGINT) div 4096"),
        ["total", "o_custkey"],
    ).crossJoin(spend.agg(F.count(F.lit(1)).alias("n")))
    out = ranked.select(
        "o_custkey",
        F.round("total", 2).alias("total_spend"),
        ntile_from_rank("r", "n", 4).cast("int").alias("quartile"),
        F.round(
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                (F.col("r") - 1).cast("double")
                / (F.col("n") - 1).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        F.round(
            F.col("r").cast("double") / F.col("n").cast("double"), 6
        ).alias("cume"),
    )
    return finalize_unpersist(out, spend)
