"""Advanced relational operators absent from the reference.

The reference's surface stops at equi-joins, plain group-bys and one
ORDER BY (SURVEY §2.3–2.6). These queries add the operator families a
real warehouse needs — as-of (temporal) join, pivot, exact quantiles,
cube — each expressed so Catalyst keeps the heavy side distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranking import (
    ntile_from_rank,
    sharded_global_row_number,
    sharded_global_running,
)
from ..operators.relational import salted_join
from ..registry import query
from ..session import read_table

PIVOT_STATUSES = ("F", "O", "P")


@query(
    "asof_last_order_before_event",
    oracle="""
    WITH tagged AS (
        SELECT o_custkey AS user_id, o_orderdate AS t, o_orderkey,
               NULL::BIGINT AS event_id, 1 AS is_order
        FROM orders
        UNION ALL
        SELECT user_id, ts AS t, NULL::BIGINT AS o_orderkey,
               event_id, 0 AS is_order
        FROM events
    ),
    filled AS (
        SELECT *,
               last_value(CASE WHEN is_order = 1 THEN o_orderkey END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS asof_orderkey,
               last_value(CASE WHEN is_order = 1 THEN t END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS asof_orderdate
        FROM tagged
    )
    SELECT event_id, user_id, t AS ts, asof_orderkey, asof_orderdate
    FROM filled WHERE is_order = 0
    """,
)
def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) join: for every event, the customer's most recent
    order at-or-before the event time.

    Implemented with the scalable union-merge pattern, NOT a range join:
    tag orders and events into one relation, sort per user by (time,
    order-first, orderkey), and carry the last seen order forward with
    ``last(..., ignorenulls)``. One shuffle on user_id + one sort —
    O(n log n) per key — where a naive inequality join is O(events ×
    orders-per-user) and a cluster-killer at 100 TB. Equal-timestamp ties
    resolve order-before-event (<= semantics) and highest orderkey,
    deterministically in both engines.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(1).alias("is_order"),
    )
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
        F.lit(0).alias("is_order"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", F.desc("is_order"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    order_key = F.when(F.col("is_order") == 1, F.col("o_orderkey"))
    order_t = F.when(F.col("is_order") == 1, F.col("t"))
    return (
        o.unionByName(e)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "is_order",
            F.last(order_key, ignorenulls=True).over(w).alias("asof_orderkey"),
            F.last(order_t, ignorenulls=True).over(w).alias("asof_orderdate"),
        )
        .filter(F.col("is_order") == 0)
        .drop("is_order")
    )


@query(
    "rng_events_prior_hour",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           CAST(count(e.event_id) AS BIGINT) AS n_prior,
           round(coalesce(sum(e.value), 0), 2) AS val_prior
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR
     AND e.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def rng_events_prior_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — the batch sibling of the stream-stream
    interval join: for every purchase event, the same user's activity in
    the strictly-preceding hour ``[ts-1h, ts)`` (attribution windows,
    feature backfills). Spark has no native range-join optimizer rule, so
    a naive formulation becomes a per-user nested loop; this is the
    standard *banded* rewrite:

    1. bucket both sides by hour (``floor(epoch/3600)``);
    2. explode the probe side to its 2 admissible buckets (window length
       = band width ⇒ a match lies in bucket b-1 or b — proven, not
       heuristic);
    3. equi-join on ``(user_id, bucket)`` — a plain shuffled hash join —
       and apply the exact interval predicate inside the join.

    Cost is O(events x density of the matching user-hour), never
    all-pairs per user; a hot user-hour is bounded by that user's event
    rate, and the standard salt applies if one user floods an hour. The
    LEFT join keeps zero-activity purchases (count 0 from both exploded
    probe rows — null matches are not counted twice).
    """
    ev = read_table(spark, sf_dir, "events")
    bucket = lambda c: F.floor(F.unix_timestamp(c) / 3600)  # noqa: E731
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", bucket("ts").alias("pb"))
        .withColumn("b", F.explode(F.array(F.col("pb") - 1, F.col("pb"))))
    )
    e = ev.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("e_id"),
        F.col("ts").alias("t"),
        "value",
        bucket("ts").alias("eb"),
    )
    cond = (
        (p["user_id"] == e["e_user"])
        & (p["b"] == e["eb"])
        & (e["t"] >= p["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (e["t"] < p["ts"])
    )
    return (
        p.join(e, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(
            F.count("e_id").cast("bigint").alias("n_prior"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias(
                "val_prior"
            ),
        )
    )


@query(
    "pivot_monthly_status_revenue",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS month,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
             AS status_F,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2)
             AS status_O,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2)
             AS status_P
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def pivot_monthly_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation — the generalization of the
    reference's A1 CASE-sum): monthly revenue per order status as
    columns. Pivot values are pinned explicitly ({PIVOT_STATUSES}) so
    Spark skips the extra distinct-values job AND the output schema is
    stable — both load-bearing at scale."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    pv = (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return pv.select(
        "month",
        *[F.col(s).alias(f"status_{s}") for s in PIVOT_STATUSES],
    )


@query(
    "agg_price_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles per group (``percentile`` — linear interpolation,
    identical to DuckDB's quantile_cont). Exact percentile is a
    sort-based aggregate; at 100 TB the approximate sketch is the right
    default — this query pins the exact path because the oracle gate
    needs bit-stable results. The registered scale sibling is
    ``agg_price_quantiles_approx`` (deterministic histogram sketch,
    hash-gated; ``approx_percentile``'s GK sketch is the in-Spark
    alternative when cross-engine reproducibility is not required).

    All four quantiles come from ONE array-argument ``percentile``
    aggregate (a single per-group value buffer and sort, then four
    interpolations) instead of four independent sort-aggregates —
    identical interpolated values, ~2× less aggregate work (round-7
    rework; measured 5.3 → ~2.5 s at sf0.1)."""
    li = read_table(spark, sf_dir, "lineitem")
    qs = (0.25, 0.50, 0.75, 0.95)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice",
                F.array(*[F.lit(q) for q in qs]),
            ).alias("ps")
        )
        .select(
            "l_returnflag",
            *[
                F.round(F.element_at("ps", i + 1), 4).alias(
                    f"p{int(q * 100)}"
                )
                for i, q in enumerate(qs)
            ],
        )
        .orderBy("l_returnflag")
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass
    (Spark expands to a single Expand + hash aggregate — not 4 scans).
    Complements the existing ROLLUP query to complete the grouping-sets
    family."""
    return (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )

_PROPS_SCHEMA = "STRUCT<k: INT>"


@query(
    "json_props_by_event_type",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           round(avg(CAST(props->>'$.k' AS INT)), 4) AS avg_k,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column access: ``from_json`` with an explicit
    schema (not schema inference, not ``get_json_object`` string probing
    per field) parses ``props`` once into a struct, then plain columnar
    aggregation. At scale the parse happens in the scan stage and the
    struct field is pruned like any column."""
    ev = read_table(spark, sf_dir, "events")
    k = F.from_json("props", _PROPS_SCHEMA)["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_numeric_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_samp(l_quantity), 4) AS qty_var,
           round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_discount), 4)
             AS price_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) —
    single-pass distributed moments with map-side partials, same
    partial+final shape as SUM. Rounded: the merge order of partial
    moments differs between engines in the low bits."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias(
                "price_qty_corr"
            ),
            F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias(
                "price_disc_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "set_active_vs_dormant_custkeys",
    oracle="""
    SELECT 'active_no_highprio' AS segment, c_custkey FROM (
        SELECT DISTINCT o_custkey AS c_custkey FROM orders
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ) t1(c_custkey)
    UNION ALL
    SELECT 'highprio_and_bigbal' AS segment, c_custkey FROM (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    ) t2(c_custkey)
    """,
)
def set_active_vs_dormant_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (EXCEPT / INTERSECT — absent from the reference,
    which only has UNION): customer segments built from key-set algebra.
    Catalyst plans both as aggregated joins (left-anti / left-semi over
    distinct keys), so they scale exactly like the incremental-load
    anti-join."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    all_cust = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    high = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    seg1 = all_cust.exceptAll(high).select(
        F.lit("active_no_highprio").alias("segment"), "c_custkey"
    )
    seg2 = high.intersect(
        c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    ).select(F.lit("highprio_and_bigbal").alias("segment"), "c_custkey")
    return seg1.unionByName(seg2)


@query(
    "date_order_latency",
    oracle="""
    SELECT date_part('year', o_orderdate) AS order_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
             AS avg_ship_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
             AS max_ship_days,
           CAST(sum(CASE WHEN isodow(l_shipdate) IN (6, 7)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_ships
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1
    ORDER BY 1
    """,
)
def date_order_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic family (datediff, year extraction, ISO
    weekday) over the order→ship latency — the temporal expressions a
    warehouse lives on, all codegen'd. (weekday()+1 in Spark equals
    DuckDB's isodow — the one weekday convention both engines share.)"""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    ship_days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    weekend = (F.weekday("l_shipdate") + 1).isin(6, 7)
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg(ship_days), 4).alias("avg_ship_days"),
            F.max(ship_days).cast("bigint").alias("max_ship_days"),
            F.sum(F.when(weekend, 1).otherwise(0))
            .cast("bigint")
            .alias("n_weekend_ships"),
        )
        .orderBy("order_year")
    )


@query(
    "agg_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS hll_within_6pct,
           TRUE AS median_rank_within_1pct
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the ACTUAL 100 TB answer to distinct
    counts and quantiles (HyperLogLog++ and an approximate-percentile
    sketch: bounded memory, one pass, mergeable partials — what the
    streaming sliding-window query and exact-quantile query point to as
    their scale path), gated by the ACCURACY-CONTRACT pattern
    (`agg_hll_audit`'s round-4 fix, applied here in round 5 to erase
    the registry's only oracle-less entry): sketch register layouts are
    engine-private so the ESTIMATES can never cross-engine hash-match,
    but the error bounds they advertise are portable facts the oracle
    can assert as constants.

    Gated columns: the exact distinct-order count, the group size, and
    two booleans — the HLL++ estimate (rsd=2%) lands within 6% (3σ) of
    exact, and the approx median's true RANK lands within 1% of n/2
    (``percentile_approx`` accuracy=10000 guarantees rank error
    ≤ n/10000 — 100× headroom, and the rank contract holds under ANY
    partial-merge order, so the boolean is stable even though the
    sketch value itself may wobble with partitioning). A Spark upgrade
    that degrades either sketch flips a boolean and the hash gate
    names the group.

    Scale shape: one map-side-combinable sketch pass; the exact
    distinct count and the rank-check join-back exist only in this
    audit — production consumers read the estimates alone.
    """
    li = read_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("hll_est"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("apx_med"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    # rank of the approx median within its group: one broadcast of the
    # |groups|-row medians back over the fact
    rank = (
        li.join(F.broadcast(g.select("l_returnflag", "apx_med")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("apx_med"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rank_lt"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("apx_med"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("rank_le"),
        )
    )
    return g.join(rank, "l_returnflag").select(
        "l_returnflag",
        "exact_orders",
        "n",
        (
            F.abs(F.col("hll_est") - F.col("exact_orders")) * 100
            <= F.col("exact_orders") * 6
        ).alias("hll_within_6pct"),
        # Tie-robust rank contract: the returned median value occupies
        # the whole rank interval [rank_lt, rank_le] (rank_lt = strict
        # predecessors, rank_le = including the tie mass at the value);
        # percentile_approx's guarantee is that SOME rank in that
        # interval is within n/10000 of n/2, so assert the interval
        # INTERSECTS [n/2 - n/100 - 1, n/2 + n/100 + 1] instead of
        # pinning rank_le alone — a high-multiplicity price at the
        # median would otherwise push rank_le past the band even when
        # the sketch is within spec. Intersection in integers (×2):
        # 2·rank_lt ≤ n + 2·(n div 100) + 2  AND
        # 2·rank_le ≥ n − 2·(n div 100) − 2.
        (
            (2 * F.col("rank_lt") <= F.col("n") + F.expr("2 * (n div 100) + 2"))
            & (2 * F.col("rank_le") >= F.col("n") - F.expr("2 * (n div 100) + 2"))
        ).alias("median_rank_within_1pct"),
    )


@query(
    "funnel_signup_to_purchase",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN t_signup < t_view THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup_then_view,
           CAST(sum(CASE WHEN t_signup < t_view AND t_view < t_purchase
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_funnel
    FROM stages
    """,
)
def funnel_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (ordered-event sequence matching): users whose
    first signup precedes their first view precedes their first
    purchase. One conditional-min aggregation per user (single shuffle)
    then a grand conditional count — the scalable funnel shape; a
    per-event self-join per stage would be quadratic in events."""
    ev = read_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("view").alias("t_view"),
        first_ts("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_signup"),
        F.sum(F.when(F.col("t_signup") < F.col("t_view"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_signup_then_view"),
        F.sum(
            F.when(
                (F.col("t_signup") < F.col("t_view"))
                & (F.col("t_view") < F.col("t_purchase")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_full_funnel"),
    )


SESSION_GAP_MIN = 30


@query(
    "win_sessionize_events",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id, value,
               sum(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM marked
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
               AS duration_secs,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def win_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap-based): a new session starts after
    {SESSION_GAP_MIN} idle minutes; each session reports its bounds,
    duration, event count and value mass. The batch analog of
    ``strm_session_windows`` — same semantics, derived with two window
    scans over ONE (user_id, ts) partitioning plus the final per-session
    aggregate, so the whole query costs a single shuffle on user_id.
    Duration is integer microsecond arithmetic (identical in both
    engines; no float time math)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    is_start = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    marked = ev.select(
        "user_id", "ts", "event_id", "value", is_start.alias("is_start")
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = marked.withColumn(
        "session_seq", F.sum("is_start").over(w_run)
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    ).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start",
        "session_end",
        # integer `div`, not double division: exact like the oracle's `//`
        F.expr(
            "CAST((unix_micros(session_end) - unix_micros(session_start))"
            " div 1000000 AS BIGINT)"
        ).alias("duration_secs"),
        "n_events",
        "total_value",
    )


@query(
    "jn_salted_priority_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(14, 2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4, 2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def jn_salted_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join routed through :func:`salted_join` — the
    explicit hot-key fallback (``operators/relational.py``) exercised as
    a full query so its semantics-preservation is hash-gated, not just
    unit-tested: the salted plan must produce bit-identical aggregates
    to the oracle's plain join.

    Shape: lineitem rows get a deterministic row-hash salt, orders are
    replicated once per salt value, and the join key becomes
    ``(orderkey, salt)`` — one hot orderkey now spreads over 8 reducers
    instead of funnelling through one. Revenue runs in exact DECIMAL
    until the final round (money-parity rule), so salting's different
    partial-sum grouping cannot shift a low bit.
    """
    v = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", v.alias("rev")
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, o, "l_orderkey", num_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
    )


@query(
    "ts_hourly_rollup_gapfill",
    oracle="""
    WITH ev AS (
        SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
    ),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
    agg AS (
        SELECT h, event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS tv
        FROM ev GROUP BY 1, 2
    )
    SELECT g.h AS hour, g.event_type,
           COALESCE(a.n, 0) AS n_events,
           COALESCE(a.tv, 0.0) AS total_value
    FROM grid g
    LEFT JOIN agg a ON a.h = g.h AND a.event_type = g.event_type
    """,
)
def ts_hourly_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous rollup: hourly per-event-type sums
    over the events stream with GAP FILLING — silent hours materialize
    as explicit zero rows, which is what makes the rollup chartable and
    window-joinable downstream (a naive groupBy just omits them).

    The dense (hour × type) grid is built from two broadcast-scale
    inputs: the min/max span (one row) exploded through ``sequence``,
    cross-joined with the distinct type dimension — bounded at
    |hours|×|types|, independent of event volume. The heavy side is one
    shuffled aggregate of the raw events; the gap-fill left join
    broadcasts the aggregate onto the grid (or vice versa — both sides
    are rollup-sized, and AQE picks). At 100 TB this is the operator a
    time-series store calls a continuous aggregate refresh.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    hours = (
        ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    agg = ev.groupBy("h", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("tv"),
    )
    return (
        grid.join(agg, ["h", "event_type"], "left")
        .select(
            F.col("h").alias("hour"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(F.col("tv"), F.lit(0.0)).alias("total_value"),
        )
    )


@query(
    "gsets_nation_status_revenue",
    oracle="""
    SELECT n.n_name, o.o_orderstatus,
           CAST(grouping(n.n_name) AS INT) AS g_nation,
           CAST(grouping(o.o_orderstatus) AS INT) AS g_status,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY GROUPING SETS ((n.n_name), (o.o_orderstatus), ())
    """,
)
def gsets_nation_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP and CUBE
    specialize: per-nation totals, per-status totals, and the grand
    total in ONE pass (a single Expand + hash aggregate, not three
    scans), with ``grouping()`` flags disambiguating real NULLs from
    subtotal rows. Dim joins (customer, nation) resolve to broadcast
    hash joins under the size threshold; the only full shuffle is the
    aggregate itself.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        n, c.c_nationkey == n.n_nationkey
    )
    return (
        joined.groupingSets(
            [["n_name"], ["o_orderstatus"], []], "n_name", "o_orderstatus"
        )
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "ts_locf_hourly_value",
    oracle="""
    WITH ev AS (
        SELECT date_trunc('hour', ts) AS h, event_type, value FROM events
    ),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
    agg AS (
        -- 4-dp HALF-UP average in integer cents: round(avg(value), 4)
        -- on doubles diverges on exact .5 ties (half-up vs half-even —
        -- observed at sf0.1: 51.51125 -> 51.5113 vs 51.5112); values
        -- are exact 2-dp so the integer form is tie-free and portable
        SELECT h, event_type,
               CAST((20000 * sum(CAST(round(value * 100) AS BIGINT))
                     + 100 * count(*))
                    // (200 * count(*)) AS DOUBLE) / 10000 AS av
        FROM ev GROUP BY 1, 2
    )
    SELECT g.h AS hour, g.event_type,
           last_value(a.av IGNORE NULLS)
             OVER (PARTITION BY g.event_type ORDER BY g.h
                   ROWS UNBOUNDED PRECEDING) AS avg_value_locf
    FROM grid g
    LEFT JOIN agg a ON a.h = g.h AND a.event_type = g.event_type
    """,
)
def ts_locf_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over the gap-filled hourly grid:
    silent hours inherit the series' previous hourly average (the
    standard time-series imputation before charting or feature
    extraction; leading gaps stay NULL in both engines). The per-series
    window orders on the hour — unique within a series, so the fill is
    deterministic. Same bounded grid as the rollup; the ffill is one
    window over rollup-sized (not event-sized) data.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type", "value"
    )
    hours = (
        ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    grid = hours.crossJoin(ev.select("event_type").distinct())
    # integer half-up 4-dp average (see oracle comment): decimal inner
    # product so 20000 x Σcents survives 100 TB row counts; the final
    # quotient is avg x 1e4 — always LONG-safe
    agg = ev.groupBy("h", "event_type").agg(
        F.expr(
            "CAST((CAST(20000 AS DECIMAL(38,0))"
            " * sum(CAST(round(value * 100) AS BIGINT))"
            " + 100 * count(*)) div (200 * count(*)) AS DOUBLE)"
            " / 10000"
        ).alias("av")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(agg, ["h", "event_type"], "left")
        .select(
            F.col("h").alias("hour"),
            "event_type",
            F.last("av", ignorenulls=True).over(w).alias("avg_value_locf"),
        )
    )


@query(
    "win_value_distribution",
    oracle="""
    SELECT event_id, event_type, value,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def win_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank and cume_dist of
    each event's value within its type. The (value, event_id) ordering
    is unique, so ranks are total and both scores are exact small-integer
    ratios — identical across engines by construction. One shuffle on
    event_type; at scale a hot type would take the same salting
    treatment as any skewed window key.
    """
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "win_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    new_per_day AS (
        SELECT d, count(*) AS n_new FROM first_seen GROUP BY d
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new_users,
           CAST(sum(coalesce(n.n_new, 0))
                OVER (ORDER BY days.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_cum_users
    FROM days LEFT JOIN new_per_day n ON n.d = days.d
    """,
)
def win_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative DISTINCT users per day — the growth-curve query whose
    naive form (``COUNT(DISTINCT user) OVER (ORDER BY day)``) either
    isn't supported or degenerates to O(days × users) state. The
    scalable rewrite: distinct is an ARRIVAL property — take each
    user's FIRST day (one shuffle on user_id), count arrivals per day
    (tiny), and run an ordinary running sum over the day grid. State
    per window step is one integer instead of a user set; the same
    rewrite holds for any append-only distinct-over-time curve.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("d"))
    new_per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    days = ev.select("d").distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, "d", "left")
        .select("d", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n_new").cast("bigint").alias("n_new_users"),
            F.sum("n_new").over(w).cast("bigint").alias("n_cum_users"),
        )
    )


#: |z| above which an hour is flagged anomalous.
ZSCORE_THRESHOLD = 2.0


@query(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               round(sum(value), 4) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               count(*) AS n,
               round(sum(x), 4) AS s1,
               round(sum(x * x), 2) AS s2
        FROM hourly GROUP BY event_type
    )
    SELECT hourly.h AS hour, hourly.event_type, hourly.x AS hourly_value,
           round((x - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4)
               AS zscore,
           abs(round((x - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 4))
               > {ZSCORE_THRESHOLD} AS is_anomaly
    FROM hourly JOIN stats USING (event_type)
    """,
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly anomaly flags: z-score of each hour's total value
    against that event type's full-series mean/stddev — the monitoring
    query every event pipeline runs over its rollups.

    Determinism: the per-type moments (n, Σx, Σx²) are rounded BEFORE
    the z-score arithmetic, and every IEEE-754 op downstream (÷, −, ×,
    correctly-rounded sqrt) is bit-identical across engines given
    identical inputs — so the rounded moments make the whole score
    deterministic without any integer contortions. Plan: one shuffle
    to hourly, one tiny per-type aggregate joined back (broadcast at
    any scale — |event types| rows), no window state.
    """
    hourly = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("h"),
            "event_type",
        )
        .agg(F.round(F.sum("value"), 4).alias("x"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("x"), 4).alias("s1"),
        F.round(F.sum(F.col("x") * F.col("x")), 2).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    z = F.round(
        (F.col("x") - mean) / F.sqrt(F.col("s2") / F.col("n") - mean * mean), 4
    )
    return hourly.join(stats, "event_type").select(
        F.col("h").alias("hour"),
        "event_type",
        F.col("x").alias("hourly_value"),
        z.alias("zscore"),
        (F.abs(z) > ZSCORE_THRESHOLD).alias("is_anomaly"),
    )


@query(
    "jn_bucketed_colocated_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(14, 2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4, 2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def jn_bucketed_colocated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CO-LOCATED join strategy end to end: both fact tables are
    written bucketed (and sorted) on the join key, then joined — Spark
    plans a zero-exchange sort-merge join over aligned buckets
    (``tests/test_scale_ops.py::test_bucketed_join_has_no_exchange``
    pins the no-shuffle property; this query hash-gates the SEMANTICS).
    This is the strategy for fact⋈fact joins repeated across a daily
    query fleet: the shuffle is paid once at write time, then every
    downstream join is bucket-local — at 100 TB the difference between
    a full-cluster exchange per query and none. Revenue runs in exact
    DECIMAL until the final round (money-parity rule), so bucket-local
    partial sums cannot shift a low bit.

    Concurrency: the bucketed tables are suffixed with the runner's PID
    (``bq_orders_p1234``) so two processes sharing one
    ``spark-warehouse`` never drop each other's files mid-read — the
    round-11 verdict reproduced exactly that race
    (``FAILED_READ_FILE.FILE_NOT_EXIST`` on the previously fixed-name
    ``bq_orders``) by running the contract concurrently with pytest.
    Dead runners' leftovers (PID no longer alive) are swept on entry so
    the warehouse does not accumulate one table pair per historical PID.
    """
    import os
    import shutil
    from urllib.parse import urlparse

    from ..load.incremental import write_bucketed

    v = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", v.alias("rev"))
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # idempotence across sessions: a fresh in-memory metastore does not
    # know a previous run's managed tables, so DROP alone cannot clear
    # the orphaned warehouse location — remove it explicitly. Our own
    # names are per-PID (see docstring); sweep dead runners' leftovers
    # (legacy unsuffixed names + suffixes whose process is gone).
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    t_li, t_o = f"bq_lineitem_p{os.getpid()}", f"bq_orders_p{os.getpid()}"
    try:
        stale = [
            d
            for d in os.listdir(warehouse)
            if d.startswith(("bq_lineitem", "bq_orders"))
            and (
                "_p" not in d
                or not os.path.exists(f"/proc/{d.rsplit('_p', 1)[1]}")
            )
        ]
    except (OSError, ValueError):
        stale = []
    for t in {t_li, t_o, *stale}:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    write_bucketed(li, t_li, "l_orderkey", num_buckets=16)
    write_bucketed(o, t_o, "l_orderkey", num_buckets=16)
    return (
        spark.table(t_li)
        .join(spark.table(t_o), "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
    )


@query(
    "win_activity_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS anchor
        FROM days
    ),
    islands AS (
        SELECT user_id,
               strftime(min(d), '%Y-%m-%d') AS streak_start,
               strftime(max(d), '%Y-%m-%d') AS streak_end,
               CAST(count(*) AS BIGINT) AS streak_days
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, streak_start, streak_end, streak_days
    FROM islands WHERE streak_days >= 3
    """,
)
def win_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days
    (streaks of 3+ reported) — the canonical retention/streak query,
    via the classic anchor trick: date minus per-user row_number is
    constant exactly within a consecutive run, so one window scan plus
    one group-by finds every island with no self-join and no iteration.
    Distinct-day dedup, the window, and the island aggregate all share
    the user_id partitioning — a single shuffle end to end.
    """
    days = (
        read_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("streak_end"),
            F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 3)
        .drop("anchor")
    )


@query(
    "win_ntile_customer_quartiles",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(14, 2))), 2)
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT o_custkey, revenue,
               ntile(4) OVER (ORDER BY revenue DESC, o_custkey) AS quartile
        FROM rev
    )
    SELECT quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(CAST(revenue AS DECIMAL(16, 2))), 2) AS DOUBLE)
               AS quartile_revenue,
           round(min(revenue), 2) AS min_revenue,
           round(max(revenue), 2) AS max_revenue
    FROM tiled GROUP BY quartile
    """,
)
def win_ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue quartiles via NTILE — the equal-population
    banding primitive (distinct from percent_rank/cume_dist, already
    covered by win_value_distribution): each customer lands in one of 4
    revenue bands, reported as band-level totals. Ordering carries the
    custkey tiebreaker so band boundaries are deterministic cross-engine;
    revenue totals run in exact DECIMAL before the final round.

    Scale plan (round 8): customer grain is fact-proportional, so NTILE
    does NOT ride a global single-partition window — the quartile comes
    from the value-sharded global row_number (``operators/ranking.py``;
    shard = revenue-dollar range, shard-grain prefix, broadcast offsets)
    and the SQL remainder rule on (r, n). Bit-identical to native ntile
    (pinned by tests/test_global_ranking.py), oracle unchanged.
    """
    from ..session import finalize_unpersist

    rev = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("revenue")
        )
    ).persist()  # read by the n-agg + both passes of the sharded rank
    ranked = sharded_global_row_number(
        rev,
        F.expr("CAST(floor(revenue) AS BIGINT) div 4096"),
        [F.desc("revenue"), "o_custkey"],
        shard_desc=True,
    ).crossJoin(rev.agg(F.count(F.lit(1)).alias("n")))
    out = (
        ranked.withColumn(
            "quartile", ntile_from_rank("r", "n", 4).cast("int")
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum(F.col("revenue").cast("decimal(16,2)")), 2)
            .cast("double")
            .alias("quartile_revenue"),
            F.round(F.min("revenue"), 2).alias("min_revenue"),
            F.round(F.max("revenue"), 2).alias("max_revenue"),
        )
    )
    return finalize_unpersist(out, rev)


def _session_concurrency_oracle() -> str:
    """Built from the REGISTERED sessionize oracle so the session
    definition cannot drift between the two queries."""
    from ..registry import ORACLES

    return f"""
    WITH sess AS ({ORACLES["win_sessionize_events"]})
    SELECT a.user_id, a.session_seq,
           CAST(count(b.user_id) AS BIGINT) AS n_concurrent
    FROM sess a
    LEFT JOIN sess b
      ON b.user_id <> a.user_id
     AND b.session_start <= a.session_end
     AND b.session_end >= a.session_start
    GROUP BY a.user_id, a.session_seq
    """


@query("rng_session_concurrency", oracle=_session_concurrency_oracle())
def rng_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (the missing sibling of the point-in-
    interval range join): for every user session, how many OTHER users'
    sessions overlapped it in time — the concurrency curve a capacity
    planner reads. The naive form is an O(n²) theta join (the oracle
    runs exactly that, DuckDB's IEJoin eats it at test scale); the
    engine's plan is the scalable INTERVAL BUCKETING rewrite: each
    session explodes to the hour buckets it spans, candidates come from
    a bucket equi-join, the exact overlap predicate filters candidates,
    and pair-dedup collapses multi-bucket meetings. Candidate volume is
    Σ per-bucket concurrency² — bounded by true concurrency, not by
    corpus size — and every join is an equi-join.

    Session definitions are shared with ``win_sessionize_events`` (same
    registered callable), so the two queries cannot drift.
    """
    from ..registry import QUERIES
    from ..session import finalize_unpersist

    sess = (
        QUERIES["win_sessionize_events"](spark, sf_dir)
        .select("user_id", "session_seq", "session_start", "session_end")
        .persist()
    )
    buckets = sess.select(
        F.col("user_id").alias("u"),
        F.col("session_seq").alias("sq"),
        F.col("session_start").alias("st"),
        F.col("session_end").alias("en"),
        F.explode(
            F.sequence(
                F.date_trunc("hour", "session_start"),
                F.date_trunc("hour", "session_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    a = buckets.select(
        F.col("u").alias("au"), F.col("sq").alias("asq"),
        F.col("st").alias("ast"), F.col("en").alias("aen"), "bucket",
    )
    b = buckets.select(
        F.col("u").alias("bu"), F.col("sq").alias("bsq"),
        F.col("st").alias("bst"), F.col("en").alias("ben"), "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .filter(
            (F.col("au") != F.col("bu"))
            & (F.col("bst") <= F.col("aen"))
            & (F.col("ben") >= F.col("ast"))
        )
        .select("au", "asq", "bu", "bsq")
        .distinct()
    )
    counts = pairs.groupBy("au", "asq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_concurrent")
    )
    out = sess.join(
        counts,
        (sess.user_id == counts.au) & (sess.session_seq == counts.asq),
        "left",
    ).select(
        "user_id",
        "session_seq",
        F.coalesce("n_concurrent", F.lit(0)).cast("bigint").alias(
            "n_concurrent"
        ),
    )
    return finalize_unpersist(out, sess)


#: Symmetric burst-window half-width in microseconds (±5 minutes), and
#: the matching bucket width: band width == bucket width, so a ±w window
#: spans at most the probe's own bucket and its two neighbors.
BURST_HALF_US = 300_000_000


@query(
    "rng_type_burst_neighbors",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type, epoch_us(ts) AS us,
               CAST(value AS DECIMAL(18,2)) AS val
        FROM events
    )
    SELECT a.event_id, a.event_type,
           CAST(count(b.event_id) AS BIGINT) AS n_near,
           CAST(coalesce(sum(b.val), 0) AS DOUBLE) AS val_near
    FROM e a LEFT JOIN e b
      ON b.event_type = a.event_type
     AND b.event_id <> a.event_id
     AND b.us BETWEEN a.us - {BURST_HALF_US} AND a.us + {BURST_HALF_US}
    GROUP BY 1, 2
    """,
)
def rng_type_burst_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYMMETRIC range join — the third shape in the rng_ family after
    the one-sided trailing window (`rng_events_prior_hour`) and the
    interval-overlap join (`rng_session_concurrency`): for every event,
    how many events of the SAME TYPE (any user) landed within ±5
    minutes, and their value mass — the burst/anomaly feature a fraud
    or incident pipeline computes per event.

    The banded rewrite generalizes: a symmetric ±w window with bucket
    width w means a match lies in the probe's bucket b-1, b, or b+1
    (proven: |Δt| ≤ w ⇒ |Δbucket| ≤ 1), so the probe side explodes to
    exactly 3 buckets, candidates come from a plain (type, bucket)
    equi-join, and the exact |Δt| ≤ w predicate plus self-exclusion
    filter inside the join. Each true neighbor's own bucket is unique,
    so no candidate is double-counted across the 3 exploded rows — the
    LEFT join + count over the exploded group is exact without a
    dedup stage. Candidate volume is Σ_bucket n_b² per type — bounded
    by true temporal density, never all-pairs (the oracle runs the
    naive theta join; DuckDB's IEJoin eats it at test scale).

    Cross-engine arithmetic: all comparisons in integer microseconds
    (`unix_micros` / `epoch_us` — both BIGINT); neighbor values are
    cast to DECIMAL(18,2) BEFORE summation so the sum is exact and
    order-independent, then cast to DOUBLE once.

    Scale shape: one shuffle of the 3×-exploded narrow probe rows +
    one of the build side, both on (event_type, bucket); a hot
    (type, bucket) cell is bounded by that type's burst rate, and the
    standard salt applies if one cell floods. At 100 TB this is the
    same plan with more partitions — no broadcast, no skew hazard
    beyond the data's own burstiness.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("value").cast("decimal(18,2)").alias("val"),
        F.expr(f"unix_micros(ts) div {BURST_HALF_US}").alias("b0"),
    )
    probe = base.select(
        "event_id",
        "event_type",
        "us",
        F.explode(
            F.array(F.col("b0") - 1, F.col("b0"), F.col("b0") + 1)
        ).alias("b"),
    )
    build = base.select(
        F.col("event_id").alias("s_id"),
        F.col("event_type").alias("s_type"),
        F.col("us").alias("s_us"),
        F.col("val").alias("s_val"),
        F.col("b0").alias("b"),
    )
    cond = (
        (probe["event_type"] == build["s_type"])
        & (probe["b"] == build["b"])
        & (build["s_id"] != probe["event_id"])
        & (build["s_us"] >= probe["us"] - BURST_HALF_US)
        & (build["s_us"] <= probe["us"] + BURST_HALF_US)
    )
    return (
        probe.join(build, cond, "left")
        .groupBy("event_id", "event_type")
        .agg(
            F.count("s_id").cast("bigint").alias("n_near"),
            F.coalesce(F.sum("s_val"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("val_near"),
        )
    )


@query(
    "jn_basket_brand_pairs",
    oracle="""
    WITH pb AS (
        SELECT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b
        FROM pb a
        JOIN pb b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    )
    SELECT brand_a, brand_b, CAST(count(*) AS BIGINT) AS n_orders
    FROM pairs
    GROUP BY 1, 2
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def jn_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (the pairwise core of frequent-
    itemset/FP-growth workloads): which brand pairs appear together in
    the same order most often. The oracle runs the naive self-join on
    the basket table; the engine's plan is the scalable ARRAY rewrite —
    one groupBy builds each order's sorted distinct-brand basket, pairs
    come from exploding each basket against its own greater-than suffix
    (fan-out bounded by basket cardinality squared, never corpus^2), and
    the pair census is one more map-side-combinable aggregation. The
    basket build reuses the broadcast dim join (brands are a dim-sized
    domain), so the fact is scanned exactly once and shuffles once on
    l_orderkey.
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    pairs = baskets.select(
        F.explode("brands").alias("brand_a"), "brands"
    ).select(
        "brand_a",
        F.explode(F.expr("filter(brands, x -> x > brand_a)")).alias("brand_b"),
    )
    return (
        pairs.groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "win_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ),
    offs AS (
        SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d')
                   AS cohort_week,
               CAST(floor(date_diff('day', date_trunc('week', first_ts),
                                    date_trunc('week', ts)) / 7) AS INT)
                   AS week_offset,
               user_id
        FROM firsts
    )
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM offs
    GROUP BY 1, 2
    """,
)
def win_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix (the growth-analytics staple): users are
    cohorted by the week of their first-ever event; each cell counts how
    many of a cohort's users were still active N weeks later. One window
    (min ts per user) rides the same user_id shuffle the grouping needs
    — no self-join, no second scan — and everything downstream is
    integer/date arithmetic, so the result is bit-identical cross-engine
    with no rounding rule.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    firsts = ev.withColumn("first_ts", F.min("ts").over(w))
    offs = firsts.select(
        F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.floor(
            F.datediff(
                F.date_trunc("week", F.col("ts")),
                F.date_trunc("week", F.col("first_ts")),
            )
            / 7
        )
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    return offs.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_active_users")
    )


@query(
    "ts_seasonality_index",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS m
        FROM events
        GROUP BY 1, 2
    ),
    typed AS (
        SELECT event_type,
               CAST(sum(m) AS BIGINT) AS t_m,
               CAST(sum(n_events) AS BIGINT) AS t_n
        FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hour_of_day, h.n_events,
           CAST((h.m + 50 * h.n_events) // (100 * h.n_events) AS DOUBLE)
               / 10000 AS hourly_avg_value,
           CAST(CAST((20000 * CAST(h.m AS HUGEINT) * t.t_n
                      + CAST(h.n_events AS HUGEINT) * t.t_m)
                     // (2 * CAST(h.n_events AS HUGEINT) * t.t_m)
                AS BIGINT) AS DOUBLE) / 10000 AS seasonality_index
    FROM hourly h JOIN typed t ON t.event_type = h.event_type
    """,
)
def ts_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: per event type, each hour's mean
    value as a ratio to the type's overall mean — the multiplicative
    seasonal index a capacity model or anomaly detector divides out
    before thresholding (``ts_anomaly_zscore`` is the consumer). Both
    aggregation levels come from ONE shuffled agg (24 x |types| rows)
    plus a broadcast-sized rollup — the fact is scanned once.

    Determinism: means and the index are rounded half-up to 4 dp in pure
    INTEGER arithmetic (micro-unit sums, the ``graph_pagerank_3iter``
    pattern) because ``round(double, n)`` at an exact-half boundary
    legitimately differs between engines (Spark rounds the shortest
    decimal rendering, DuckDB the binary value — observed live on this
    data: 551.43/8). ``(m + 50n) div (100n)`` IS round-half-up of
    ``m / (n * 1e6)`` at 4 dp, exactly, in bigint; the index runs the
    same trick in 38-digit decimal/hugeint to survive the cross terms.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("m"),
    )
    typed = hourly.groupBy("event_type").agg(
        F.sum("m").cast("bigint").alias("t_m"),
        F.sum("n_events").cast("bigint").alias("t_n"),
    )
    return (
        hourly.join(F.broadcast(typed), "event_type")
        .select(
            "event_type",
            "hour_of_day",
            "n_events",
            (
                F.expr("(m + 50 * n_events) div (100 * n_events)").cast(
                    "double"
                )
                / 10000
            ).alias("hourly_avg_value"),
            (
                F.expr(
                    "CAST((20000 * CAST(m AS DECIMAL(38,0)) * t_n"
                    "      + CAST(n_events AS DECIMAL(38,0)) * t_m)"
                    " div (2 * CAST(n_events AS DECIMAL(38,0)) * t_m)"
                    " AS BIGINT)"
                ).cast("double")
                / 10000
            ).alias("seasonality_index"),
        )
    )


@query(
    "win_rfm_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               sum(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
        FROM orders GROUP BY 1
    ),
    rec AS (
        SELECT o_custkey, frequency, monetary,
               date_diff('day', last_order, max(last_order) OVER ())
                   AS recency_days
        FROM cust
    ),
    scored AS (
        SELECT o_custkey, frequency, monetary,
               ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
        FROM rec
    )
    SELECT concat(r_score, f_score, m_score) AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(monetary), 2) AS DOUBLE) AS segment_monetary
    FROM scored
    GROUP BY 1
    """,
)
def win_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM banding query: quartile-score each customer on how
    recently, how often and how much they ordered (1 = best on every
    axis), then census the 3-digit segments. One shuffled agg builds the
    customer grain. Monetary runs in exact DECIMAL; everything hashed is
    integer, string or exactly-rounded decimal.

    Scale plan (round 8): customer grain is fact-proportional, so none
    of the three NTILEs rides a global single-partition window — each
    score is the SQL remainder rule on (r, n) with r from the
    value-sharded global row_number along its own axis (recency-day
    range / frequency range / monetary-cents range shards), and the
    anchor date + n come from ONE broadcast 1-row aggregate instead of
    an unpartitioned MAX window. Bit-identical to the window forms,
    oracle unchanged.

    Probe discipline (ADVICE r9): all three rank passes rank the SAME
    customer grain, and passes 2-3's input embeds the previous pass's
    plan (unpersisted — a per-pass probe above the threshold would
    re-execute the prior census/offsets/window, since ``limit`` cannot
    prune below a shuffle or window). So the small-frame decision is
    probed ONCE on the persisted ``cust`` (same row count: the 1-row
    broadcast cross-join and per-row withColumns preserve cardinality)
    and passed to every pass via ``frame_fits=``.
    """
    from ..operators.ranking import frame_fits_one_task
    from ..session import finalize_unpersist

    cust = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("monetary"),
        )
    ).persist()  # read by the totals agg + three sharded rank passes
    totals = cust.agg(
        F.max("last_order").alias("_anchor"),
        F.count(F.lit(1)).alias("n"),
    )
    scored = cust.crossJoin(totals).withColumn(
        "recency_days", F.datediff(F.col("_anchor"), F.col("last_order"))
    ).withColumn(
        "_mcents", (F.col("monetary") * 100).cast("bigint")
    )
    fits = frame_fits_one_task(cust)  # one probe decides all 3 passes
    scored = sharded_global_row_number(
        scored,
        F.expr("recency_days div 64"),
        ["recency_days", "o_custkey"],
        out="r_r",
        frame_fits=fits,
    )
    scored = sharded_global_row_number(
        scored,
        F.expr("frequency div 4"),
        [F.desc("frequency"), "o_custkey"],
        out="r_f",
        shard_desc=True,
        frame_fits=fits,
    )
    scored = sharded_global_row_number(
        scored,
        F.expr("_mcents div 65536"),
        [F.desc("monetary"), "o_custkey"],
        out="r_m",
        shard_desc=True,
        frame_fits=fits,
    )
    seg = scored.select(
        F.concat(
            ntile_from_rank("r_r", "n", 4).cast("string"),
            ntile_from_rank("r_f", "n", 4).cast("string"),
            ntile_from_rank("r_m", "n", 4).cast("string"),
        ).alias("rfm_segment"),
        "monetary",
    )
    out = seg.groupBy("rfm_segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("monetary"), 2).cast("double").alias("segment_monetary"),
    )
    return finalize_unpersist(out, cust)


EWMA_WINDOW = 16  # half-life 1 step: weights 2^0 .. 2^15, oldest smallest


@query(
    "ts_ewma_hourly_value",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    framed AS (
        SELECT event_type, hour,
               list(m) OVER (PARTITION BY event_type ORDER BY hour
                             ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING
                                      AND CURRENT ROW) AS xs
        FROM hourly
    ),
    weighted AS (
        SELECT event_type, hour, len(xs) AS n,
               list_sum(list_transform(range(1, len(xs) + 1),
                        i -> xs[i] * (CAST(1 AS BIGINT)
                                      << ({EWMA_WINDOW} - len(xs) + i - 1))))
                   AS num,
               (CAST(1 AS BIGINT) << {EWMA_WINDOW})
                   - (CAST(1 AS BIGINT) << ({EWMA_WINDOW} - len(xs))) AS den
        FROM framed
    )
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour,
           CAST((20000 * CAST(num AS HUGEINT)
                 + CAST(den AS HUGEINT) * 1000000)
                // (2 * CAST(den AS HUGEINT) * 1000000) AS DOUBLE) / 10000
               AS ewma_value
    FROM weighted
    """,
)
def ts_ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each type's hourly value
    total (half-life = one step) — the smoother a monitoring pipeline
    feeds thresholds from, weighting the last ``EWMA_WINDOW`` (16)
    present points by 2^-age. Distinct from ``win_trailing_7d_revenue`` (uniform
    weights) and ``ts_locf_hourly_value`` (carry-forward): this is the
    exponential-decay family.

    Exactness trick: alpha = 1/2 makes every weight a power of TWO, so
    numerator (Σ mᵢ·2^(15-age)) and denominator (2^16 − 2^(16-n)) are
    exact integers over micro-unit sums — the whole smoother is integer
    arithmetic until one final 4-dp half-up division (the
    ``ts_seasonality_index`` rounding pattern). The window is a plain
    per-type ordered frame: one shuffle on event_type, no self-join;
    at scale the partition key becomes (type, series-shard) with a
    seeded carry, same as any windowed rollup.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("m")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(EWMA_WINDOW - 1), Window.currentRow)
    )
    framed = hourly.withColumn("xs", F.collect_list("m").over(w))
    weighted = framed.select(
        "event_type",
        "hour",
        F.expr(
            f"aggregate(zip_with(xs, sequence(1, size(xs)),"
            f"                   (x, i) -> x * shiftleft(CAST(1 AS BIGINT),"
            f"                       {EWMA_WINDOW} - size(xs) + i - 1)),"
            f"          CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("num"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {EWMA_WINDOW})"
            f" - shiftleft(CAST(1 AS BIGINT), {EWMA_WINDOW} - size(xs))"
        ).alias("den"),
    )
    return weighted.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        (
            F.expr(
                "CAST((20000 * CAST(num AS DECIMAL(38,0))"
                "      + CAST(den AS DECIMAL(38,0)) * 1000000)"
                " div (2 * CAST(den AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
            ).cast("double")
            / 10000
        ).alias("ewma_value"),
    )


PATH_TOP_K = 20


@query(
    "win_top_session_paths",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM marked
    ),
    paths AS (
        SELECT user_id, session_seq,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sessions GROUP BY 1, 2
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths
    GROUP BY 1
    ORDER BY n_sessions DESC, path
    LIMIT {PATH_TOP_K}
    """,
)
def win_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis (the product-analytics 'user journeys'
    query): the most common ordered event-type sequences within a
    session, using the SAME gap-based session definition as
    ``win_sessionize_events`` (constants shared, so the two cannot
    drift). Each session's path is assembled by sorting its (ts,
    event_id, type) structs inside the aggregation — order lives in the
    array sort, not in shuffle arrival order, so the path string is
    deterministic. One shuffle on user_id builds sessions AND paths; the
    census is a map-side-combinable count with a top-k merge. Path
    length is bounded by the session gap (an idle user ends their own
    path); a pathological always-on key would hit Spark's array limits
    long after it had already broken the sessionization itself —
    cap-and-overflow per N events is the documented production knob.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    is_start = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = ev.select(
        "user_id", "ts", "event_id", "event_type", is_start.alias("is_start")
    ).withColumn("session_seq", F.sum("is_start").over(w_run))
    paths = sessions.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOP_K)
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    pre AS (
        SELECT event_type, hour, m,
               sum(m) OVER (PARTITION BY event_type ORDER BY hour
                            ROWS UNBOUNDED PRECEDING) AS prefix,
               row_number() OVER (PARTITION BY event_type ORDER BY hour) AS h,
               sum(m) OVER (PARTITION BY event_type) AS tot,
               count(*) OVER (PARTITION BY event_type) AS n_hours
        FROM hourly
    ),
    cusum AS (
        SELECT event_type, hour, n_hours,
               CAST(n_hours AS HUGEINT) * prefix
                   - CAST(h AS HUGEINT) * tot AS c
        FROM pre
    ),
    peak AS (
        SELECT event_type, hour, n_hours, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(c) DESC, hour) AS r
        FROM cusum
    )
    SELECT event_type,
           strftime(hour, '%Y-%m-%d %H:00') AS changepoint_hour,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST((20000 * abs(c) + CAST(n_hours AS HUGEINT) * 1000000)
                // (2 * CAST(n_hours AS HUGEINT) * 1000000) AS DOUBLE)
               / 10000 AS peak_cusum
    FROM peak WHERE r = 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the hour where the
    cumulative deviation of hourly value totals from the series mean
    peaks — the classic single-changepoint estimator (where the level
    shifted, if it did), complementing ``ts_anomaly_zscore`` (pointwise
    outliers) and ``ts_ewma_hourly_value`` (smoothing). The deviation
    sum Σ(mᵢ − μ) is kept EXACT by scaling to series-length units
    (H·prefix − h·total, all integer — no fractional mean anywhere);
    the peak magnitude is normalized back to value units with one
    half-up integer division. Plan: one shuffled hourly agg, then
    windows over the tiny per-type series; the argmax is a window
    rank, not a self-join.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("m")
    )
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    w_all = Window.partitionBy("event_type")
    pre = hourly.select(
        "event_type",
        "hour",
        F.sum("m").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("prefix"),
        F.row_number().over(w_ord).alias("h"),
        F.sum("m").over(w_all).alias("tot"),
        F.count(F.lit(1)).over(w_all).alias("n_hours"),
    )
    cusum = pre.select(
        "event_type",
        "hour",
        "n_hours",
        F.expr(
            "CAST(n_hours AS DECIMAL(38,0)) * prefix"
            " - CAST(h AS DECIMAL(38,0)) * tot"
        ).alias("c"),
    )
    w_peak = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), "hour"
    )
    return (
        cusum.withColumn("r", F.row_number().over(w_peak))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00").alias(
                "changepoint_hour"
            ),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            (
                F.expr(
                    "CAST((20000 * abs(c)"
                    "      + CAST(n_hours AS DECIMAL(38,0)) * 1000000)"
                    " div (2 * CAST(n_hours AS DECIMAL(38,0)) * 1000000)"
                    " AS BIGINT)"
                ).cast("double")
                / 10000
            ).alias("peak_cusum"),
        )
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM rev
    ),
    sums AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(cents) AS HUGEINT) AS t,
               CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS weighted
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           CAST((20000 * (2 * weighted - (n + 1) * t) + n * t)
                // (2 * n * t) AS DOUBLE) / 10000 AS gini
    FROM sums
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the standard inequality
    measure of 'how concentrated is our revenue', complementing
    ``q11_revenue_concentration`` (top-share) and the quartile banders:
    G = (2·Σ i·xᵢ) / (n·Σx) − (n+1)/n over ascending-sorted revenues.
    Revenue is exact integer cents, the rank-weighted sum is exact
    38-digit integer arithmetic, and G rounds half-up in one integer
    division — bit-identical cross-engine, no floating math at all.

    Scale plan (round 8): customer grain is fact-proportional, so the
    rank does NOT ride a global single-partition sort — ``i`` comes from
    the value-sharded global row_number (``operators/ranking.py``: shard
    on the cents range, shard-grain exclusive prefix, broadcast offsets,
    per-shard windows), after which Σ i·xᵢ is one map-side-combinable
    aggregate. Bit-identical ranks, oracle unchanged.
    """
    from ..session import finalize_unpersist

    rev = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    ).persist()
    ranked = sharded_global_row_number(
        rev, F.expr("cents div 65536"), ["cents", "o_custkey"], out="i"
    )
    sums = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("t"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias(
            "weighted"
        ),
    )
    return finalize_unpersist(
        sums.select(
            F.col("n").cast("bigint").alias("n_customers"),
            F.col("t").cast("bigint").alias("total_cents"),
            (
                F.expr(
                    "CAST((20000 * (2 * weighted - (n + 1) * t) + n * t)"
                    " div (2 * n * t) AS BIGINT)"
                ).cast("double")
                / 10000
            ).alias("gini"),
        ),
        rev,
    )


ACF_LAGS = (1, 2, 24)


@query(
    "ts_autocorrelation",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    dev AS (
        SELECT event_type, hour,
               row_number() OVER (PARTITION BY event_type ORDER BY hour) AS h,
               CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) * m
                   - CAST(sum(m) OVER (PARTITION BY event_type) AS HUGEINT)
                   AS d
        FROM hourly
    ),
    lags AS (SELECT unnest(ARRAY{list(ACF_LAGS)}) AS lag),
    num AS (
        SELECT a.event_type, l.lag,
               sum(a.d * b.d) AS cross_sum,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + l.lag
        GROUP BY 1, 2
    ),
    den AS (
        SELECT event_type, sum(d * d) AS ss FROM dev GROUP BY 1
    )
    SELECT n.event_type, n.lag, n.n_pairs,
           CAST((20000 * n.cross_sum + CASE WHEN n.cross_sum >= 0
                                            THEN den.ss ELSE -den.ss END)
                // (2 * den.ss) AS DOUBLE) / 10000 AS acf
    FROM num n JOIN den ON den.event_type = n.event_type
    """,
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each type's hourly value series at lags 1, 2
    and 24 — the measurement that DECIDES whether the daily seasonality
    ``ts_seasonality_index`` models is real (high lag-24 ACF) and how
    persistent shocks are (lag-1/2): r_k = Σ dᵗ·dᵗ⁺ᵏ / Σ dᵗ², d = the
    mean deviation. Exactness uses the ``ts_changepoint_cusum`` trick —
    deviations scaled by series length (H·m − Σm) are exact integers, so
    numerator and denominator are exact 38-digit products and the ACF
    rounds in one signed half-up integer division. The lag join is a
    self-equi-join on (type, position) — position is dense, so each row
    matches at most |lags| partners; no window array state needed.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("m")
    )
    w_ord = Window.partitionBy("event_type").orderBy("hour")
    w_all = Window.partitionBy("event_type")
    dev = hourly.select(
        "event_type",
        F.row_number().over(w_ord).alias("h"),
        F.expr(
            "CAST(count(1) OVER (PARTITION BY event_type) AS DECIMAL(38,0))"
            " * m"
        ).alias("hm"),
        F.sum("m").over(w_all).cast("decimal(38,0)").alias("sm"),
    ).select(
        "event_type", "h", (F.col("hm") - F.col("sm")).alias("d")
    )
    lags = spark.createDataFrame([(l,) for l in ACF_LAGS], "lag int")
    a = dev.select("event_type", "h", F.col("d").alias("da"))
    b = dev.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("d").alias("db"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et2") == F.col("event_type"))
            & (F.col("h2") == F.col("h") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.sum(F.col("da") * F.col("db")).alias("cross_sum"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).alias("ss")
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "lag",
        "n_pairs",
        (
            F.expr(
                "CAST((20000 * cross_sum + CASE WHEN cross_sum >= 0"
                "      THEN ss ELSE -ss END) div (2 * ss) AS BIGINT)"
            ).cast("double")
            / 10000
        ).alias("acf"),
    )


@query(
    "agg_hhi_concentration",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment, o.o_custkey,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    seg AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS HUGEINT) AS t,
               sum(CAST(cents AS HUGEINT) * cents) AS sq
        FROM rev GROUP BY 1
    )
    SELECT c_mktsegment, n_customers,
           CAST((CAST(200000000 AS HUGEINT) * sq + t * t)
                // (2 * t * t) AS DOUBLE) / 10000 AS hhi
    FROM seg
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market segment:
    HHI = Σ shareᵢ² × 10000 over each customer's revenue share of their
    segment — the antitrust-style 'is this segment dominated by a few
    buyers' measure, complementing the corpus-wide Gini. Share squares
    never materialize as floats: HHI·10⁻⁴ = Σcᵢ²/T², so the scaled
    index is one exact integer expression (38-digit products) with a
    final half-up division. One shuffle to customer grain, one to
    segment grain; both map-side combinable.
    """
    rev = (
        read_table(spark, sf_dir, "orders")
        .join(
            read_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    seg = rev.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("decimal(38,0)").alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "sq"
        ),
    )
    return seg.select(
        "c_mktsegment",
        "n_customers",
        (
            F.expr(
                "CAST((CAST(200000000 AS DECIMAL(38,0)) * sq + t * t)"
                " div (2 * t * t) AS BIGINT)"
            ).cast("double")
            / 10000
        ).alias("hhi"),
    )


@query(
    "win_mom_growth",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT month, cents,
               lag(cents) OVER (ORDER BY month) AS prev_cents
        FROM monthly
    )
    SELECT month,
           CAST(round(CAST(cents AS DECIMAL(18,2)) / 100, 2) AS DOUBLE)
               AS revenue,
           CASE WHEN prev_cents IS NULL THEN NULL
                ELSE CAST((20000 * (CAST(cents AS HUGEINT) - prev_cents)
                           + CASE WHEN cents >= prev_cents
                                  THEN prev_cents ELSE -prev_cents END)
                          // (2 * CAST(prev_cents AS HUGEINT)) AS DOUBLE)
                     / 10000
           END AS mom_growth
    FROM lagged
    """,
)
def win_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the BI staple the window family
    still lacked (running totals and trailing sums exist; the GROWTH
    RATE against the previous period is its own shape: lag + signed
    ratio). Revenue is exact integer cents; the growth rate
    (c − prev)/prev rounds half-up (half-away for declines) in integer
    arithmetic, so a month exactly 12.5% up hashes identically in both
    engines. The lag window runs over the months table (tiny); the
    heavy work is one map-side-combinable monthly aggregate.
    """
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
            .alias("month")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    lagged = monthly.withColumn(
        "prev_cents", F.lag("cents").over(Window.orderBy("month"))
    )
    return lagged.select(
        "month",
        F.expr("CAST(round(CAST(cents AS DECIMAL(18,2)) / 100, 2) AS DOUBLE)")
        .alias("revenue"),
        F.when(
            F.col("prev_cents").isNull(), F.lit(None).cast("double")
        )
        .otherwise(
            F.expr(
                "CAST((20000 * (CAST(cents AS DECIMAL(38,0)) - prev_cents)"
                "      + CASE WHEN cents >= prev_cents"
                "             THEN CAST(prev_cents AS DECIMAL(38,0))"
                "             ELSE -CAST(prev_cents AS DECIMAL(38,0)) END)"
                " div (2 * CAST(prev_cents AS DECIMAL(38,0))) AS BIGINT)"
            ).cast("double")
            / 10000
        )
        .alias("mom_growth"),
    )


@query(
    "agg_pareto_8020",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS i,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS prefix,
               CAST(sum(cents) OVER () AS HUGEINT) AS t,
               CAST(count(*) OVER () AS HUGEINT) AS n
        FROM rev
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(min(i) AS BIGINT) AS top_customers_for_80pct,
           CAST((20000 * CAST(min(i) AS HUGEINT) + n) // (2 * n) AS DOUBLE)
               / 10000 AS share_of_customers
    FROM ranked
    WHERE 5 * CAST(prefix AS HUGEINT) >= 4 * t
    GROUP BY n
    """,
)
def agg_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 census: the smallest set of top customers whose
    revenue reaches 80% of the total — the one-number concentration
    answer executives actually ask for, bridging ``agg_gini_concentration``
    (full-distribution) and ``q11_revenue_concentration`` (fixed-share
    list). The crossing point uses the INTEGER inequality 5·prefix ≥ 4·T
    (no 0.8 float anywhere), so the threshold row is exact; the customer
    share rounds half-up in integer arithmetic.

    Scale plan (round 8): customer grain is fact-proportional, so both
    the rank and the revenue prefix come from ONE value-sharded two-pass
    plan (``operators/ranking.py``: two running values — row count and
    cents — share the shard partials/offsets), and the scalar (t, n)
    pair is a broadcast 1-row aggregate instead of unpartitioned
    windows. Bit-identical outputs, oracle unchanged.
    """
    from ..session import finalize_unpersist

    rev = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    ).persist()
    run = sharded_global_running(
        rev,
        F.expr("cents div 65536"),
        [F.desc("cents"), "o_custkey"],
        [(F.lit(1), "i"), (F.col("cents"), "prefix")],
        shard_desc=True,
    )
    totals = rev.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n")
    )
    ranked = run.crossJoin(totals)
    hit = ranked.filter(
        5 * F.col("prefix").cast("decimal(38,0)")
        >= 4 * F.col("t").cast("decimal(38,0)")
    )
    pareto = hit.groupBy("n").agg(
        F.min("i").cast("bigint").alias("top_customers_for_80pct"),
        F.expr(
            "CAST((20000 * CAST(min(i) AS DECIMAL(38,0))"
            "      + CAST(n AS DECIMAL(38,0)))"
            " div (2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"
        ).cast("double").alias("share_scaled"),
    ).select(
        F.col("n").cast("bigint").alias("n_customers"),
        "top_customers_for_80pct",
        (F.col("share_scaled") / 10000).alias("share_of_customers"),
    )
    return finalize_unpersist(pareto, rev)


@query(
    "win_second_purchase_latency",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS k
        FROM events WHERE event_type = 'purchase'
    ),
    lat AS (
        SELECT a.user_id,
               CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT)
                   AS latency_secs
        FROM purchases a JOIN purchases b
          ON b.user_id = a.user_id AND a.k = 1 AND b.k = 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_repeat_buyers,
           round(quantile_cont(latency_secs, 0.50), 4) AS median_latency_secs,
           round(quantile_cont(latency_secs, 0.90), 4) AS p90_latency_secs,
           CAST(min(latency_secs) AS BIGINT) AS min_latency_secs
    FROM lat
    """,
)
def win_second_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-to-second-purchase latency — the repeat-buyer activation
    metric every growth team tracks: for each user with 2+ purchases,
    the seconds between their first two, summarized as median/p90. The
    per-user part is one window over the purchases slice (rank by time,
    keep k=1,2 — no self-join in the engine plan: a conditional
    aggregation pairs them); latencies are exact integer microsecond
    arithmetic, and the percentile interpolation matches DuckDB's
    quantile_cont (the ``agg_price_quantiles`` precedent).
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("k", F.row_number().over(w)).filter(F.col("k") <= 2)
    lat = (
        ranked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.when(F.col("k") == 1, F.col("ts"))).alias("t1"),
            F.min(F.when(F.col("k") == 2, F.col("ts"))).alias("t2"),
        )
        .filter(F.col("n") == 2)
        .select(
            F.expr(
                "CAST((unix_micros(t2) - unix_micros(t1)) div 1000000"
                " AS BIGINT)"
            ).alias("latency_secs")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_repeat_buyers"),
        F.round(F.percentile("latency_secs", F.lit(0.50)), 4).alias(
            "median_latency_secs"
        ),
        F.round(F.percentile("latency_secs", F.lit(0.90)), 4).alias(
            "p90_latency_secs"
        ),
        F.min("latency_secs").cast("bigint").alias("min_latency_secs"),
    )


@query(
    "win_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ),
    daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               user_id,
               max(CASE WHEN date_trunc('day', ts) = date_trunc('day', first_ts)
                        THEN 1 ELSE 0 END) AS is_new
        FROM firsts
        GROUP BY 1, 2
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(is_new) AS BIGINT) AS n_new,
           CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning
    FROM daily
    GROUP BY day
    """,
)
def win_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users decomposed into new vs returning — the
    first-line growth dashboard number (``win_cohort_retention``'s
    day-grain sibling): a user is 'new' on the calendar day of their
    first-ever event and 'returning' on any later active day. One
    window (first-seen per user) rides the same user_id shuffle the
    per-(day, user) dedup needs; everything downstream is integer/date
    arithmetic — no rounding rule at all.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("user_id"))
    )
    daily = (
        firsts.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "user_id",
        )
        .agg(
            F.max(
                F.when(
                    F.date_trunc("day", "ts")
                    == F.date_trunc("day", "first_ts"),
                    1,
                ).otherwise(0)
            ).alias("is_new")
        )
    )
    return daily.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        (F.count(F.lit(1)) - F.sum("is_new")).cast("bigint").alias(
            "n_returning"
        ),
    )


@query(
    "win_dau_mau_stickiness",
    oracle="""
    WITH d AS (
        SELECT DISTINCT strftime(ts, '%Y-%m') AS month,
                        CAST(ts AS DATE) AS day, user_id
        FROM events
    ),
    m AS (
        SELECT month,
               CAST(count(*) AS BIGINT) AS user_days,
               CAST(count(DISTINCT day) AS BIGINT) AS active_days,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM d GROUP BY 1
    )
    SELECT month, active_days, mau,
           CAST((200 * user_days + active_days)
                // (2 * active_days) AS DOUBLE) / 100 AS avg_dau,
           CAST((20000 * user_days + active_days * mau)
                // (2 * active_days * mau) AS DOUBLE) / 10000 AS stickiness
    FROM m
    """,
)
def win_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio every product
    dashboard carries (how much of the monthly audience shows up on an
    average day). One distinct-triple aggregation does ALL the work:
    from the deduplicated (month, day, user) rows, ``count(*)`` IS the
    sum of daily distinct-user counts (no per-day subaggregate needed),
    and the month's MAU / active-day census are distinct counts over the
    same rows — a single shuffle on (month, day, user), then a tiny
    month-level reduce. Both ratios round half-up in pure integer
    arithmetic ((20000·x + y) div (2y)), so no float division ever
    reaches the hash gate.

    At 100 TB the distinct shuffle is map-side-combinable (Spark's
    partial-distinct) and the reduce output is |months| rows — the plan
    holds unchanged.
    """
    d = (
        read_table(spark, sf_dir, "events")
        .select(
            F.date_format("ts", "yyyy-MM").alias("month"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .distinct()
    )
    m = d.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("user_days"),
        F.countDistinct("day").cast("bigint").alias("active_days"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    )
    return m.select(
        "month",
        "active_days",
        "mau",
        (
            F.expr("(200 * user_days + active_days) div (2 * active_days)")
            .cast("double")
            / 100
        ).alias("avg_dau"),
        (
            F.expr(
                "(20000 * user_days + active_days * mau)"
                " div (2 * active_days * mau)"
            ).cast("double")
            / 10000
        ).alias("stickiness"),
    )


@query(
    "win_attribution_last_touch",
    oracle="""
    WITH attributed AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS channel
        FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(CAST(round(value, 2) AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS attributed_value
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def win_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent PRECEDING non-purchase event (click, view,
    signup, error), '(direct)' when the purchase is the user's first
    recorded touch. The classic attribution shape is an as-of self-join;
    here it collapses to ONE window pass — ``last(..., ignorenulls)``
    over (user, time) with an open upper bound — so the whole operator
    is a single shuffle on user_id followed by a tiny channel census.
    Ties at equal timestamps break on event_id (unique), keeping the
    credit assignment deterministic across engines and runs.

    Attributed revenue is summed in DECIMAL cents over per-row rounded
    values — the established portable-rounding rule for sums of floats.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = read_table(spark, sf_dir, "events").withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(direct)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum(F.round("value", 2).cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("attributed_value"),
        )
    )


@query(
    "dq_order_total_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               sum(CAST(l_extendedprice AS DECIMAL(14,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))
                   * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS recomputed
        FROM lineitem GROUP BY 1
    ),
    j AS (
        SELECT CAST(o.o_totalprice AS DECIMAL(14,2)) AS header,
               li.recomputed
        FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    ),
    bucketed AS (
        SELECT CASE
                 WHEN recomputed IS NULL THEN '(no_lineitems)'
                 WHEN recomputed = header THEN 'exact'
                 WHEN abs(recomputed - header) * 100 < header THEN 'lt_1pct'
                 WHEN abs(recomputed - header) * 20 < header THEN 'lt_5pct'
                 ELSE 'ge_5pct'
               END AS bucket
        FROM j
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders
    FROM bucketed GROUP BY 1
    """,
)
def dq_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fact reconciliation — the audit every warehouse runs after a
    load: does the order header's total agree with the sum of its line
    items under the pricing formula (extendedprice × (1−discount) ×
    (1+tax))? The census buckets each order into exact / <1 % / <5 % /
    ≥5 % deviation, plus headers with no line items at all (referential
    gap). Everything runs in DECIMAL — the per-line product is exact at
    scale 6, sums are exact, and the percent thresholds are
    cross-multiplied integer comparisons (|diff|·100 < header), so no
    float ever decides a bucket.

    Scale shape: one map-side-combinable lineitem aggregate, one shuffle
    join on the natural key (co-located for free if both facts are
    bucketed by orderkey, `jn_bucketed_colocated_revenue` shows that
    plan), then a tiny census.
    """
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
            ).alias("recomputed")
        )
    )
    j = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey"),
            F.col("o_totalprice").cast("decimal(14,2)").alias("header"),
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
    )
    bucketed = j.select(
        F.when(F.col("recomputed").isNull(), "(no_lineitems)")
        .when(F.col("recomputed") == F.col("header"), "exact")
        .when(
            F.abs(F.col("recomputed") - F.col("header")) * 100
            < F.col("header"),
            "lt_1pct",
        )
        .when(
            F.abs(F.col("recomputed") - F.col("header")) * 20
            < F.col("header"),
            "lt_5pct",
        )
        .otherwise("ge_5pct")
        .alias("bucket")
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    cum AS (
        SELECT l_returnflag, cents, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cumw,
               sum(w) OVER (PARTITION BY l_returnflag) AS totw
        FROM pts
    )
    SELECT l_returnflag,
           CAST(CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END)
                     AS DECIMAL(18,2)) AS DOUBLE) / 100
               AS weighted_median_price,
           CAST(max(totw) AS BIGINT) AS total_weight
    FROM cum GROUP BY 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the robust
    'typical unit price' a pricing dashboard wants (the unweighted
    median over-counts small orders; the mean is outlier-driven). The
    classic definition — smallest value whose cumulative weight reaches
    half the total — runs as one cumulative-sum window over integer
    cents and integer weights, then ``min(CASE ...)`` picks the
    crossing point: every comparison (2·cumw ≥ totw) is pure integer,
    so the selected value is identical across engines by construction,
    not by rounding discipline.

    Scale: one shuffle on the group key; within-group sort is Spark's
    window sort (spillable). For quantiles where exactness is NOT
    contractual, the registered scale sibling
    ``agg_weighted_median_approx`` replaces the per-row sort with an
    O(|bins|) histogram census — the 100 TB default.
    """
    pts = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    wspec = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wspec).alias("cumw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("totw"),
    )
    return cum.groupBy("l_returnflag").agg(
        (
            F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents")))
            .cast("decimal(18,2)")
            .cast("double")
            / 100
        ).alias("weighted_median_price"),
        F.max("totw").cast("bigint").alias("total_weight"),
    )


#: Histogram-sketch bucket width for the approx percentile siblings:
#: 10_000 cents = $100 per bin (~700 bins over lineitem's price range).
HIST_BUCKET_CENTS = 10_000


def _hist_quantile_sql(weight_expr: str, quantiles: tuple[int, ...]) -> str:
    """DuckDB oracle for the histogram-sketch quantile: bucket prices to
    fixed-width integer bins, cumulative weights over the (tiny) bin
    census, report each quantile's crossing bin LOWER EDGE in dollars."""
    sels = ",\n           ".join(
        f"CAST(CAST(min(CASE WHEN 100 * cumw >= {q} * totw THEN b END)"
        f" * {HIST_BUCKET_CENTS} AS DECIMAL(18,2)) AS DOUBLE) / 100"
        f" AS p{q}_lo"
        for q in quantiles
    )
    return f"""
    WITH pts AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   // {HIST_BUCKET_CENTS} AS b,
               {weight_expr} AS w
        FROM lineitem
    ),
    hist AS (
        SELECT l_returnflag, b, CAST(sum(w) AS BIGINT) AS w
        FROM pts GROUP BY 1, 2
    ),
    cum AS (
        SELECT l_returnflag, b, w,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY b
                            ROWS UNBOUNDED PRECEDING) AS cumw,
               sum(w) OVER (PARTITION BY l_returnflag) AS totw
        FROM hist
    )
    SELECT l_returnflag,
           {sels},
           CAST(max(totw) AS BIGINT) AS total_weight
    FROM cum GROUP BY 1
    """


def _hist_quantiles(
    spark: SparkSession,
    sf_dir: str,
    weight_col,
    quantiles: tuple[int, ...],
) -> DataFrame:
    """Histogram-sketch quantiles (Spark side of :func:`_hist_quantile_sql`).

    The scale shape the exact pins trade away: per-group state is the
    BIN CENSUS (|bins| rows, map-side-combinable counts), never a
    per-row window sort — the cumulative window runs over ~700 rows per
    group regardless of corpus size. Deterministic by integer
    construction, so unlike ``approx_percentile``'s GK sketch (whose
    merge order is engine- and partitioning-dependent) it is
    hash-gated cross-engine.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            f" div {HIST_BUCKET_CENTS}"
        ).alias("b"),
        weight_col.alias("w"),
    )
    hist = pts.groupBy("l_returnflag", "b").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    wspec = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "l_returnflag",
        "b",
        F.sum("w").over(wspec).alias("cumw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("totw"),
    )
    return cum.groupBy("l_returnflag").agg(
        *[
            (
                F.min(
                    F.when(
                        100 * F.col("cumw") >= q * F.col("totw"), F.col("b")
                    )
                )
                .cast("bigint")
                .alias(f"_b{q}")
                * HIST_BUCKET_CENTS
            )
            .cast("decimal(18,2)")
            .cast("double")
            .alias(f"p{q}_lo")
            for q in quantiles
        ],
        F.max("totw").cast("bigint").alias("total_weight"),
    ).select(
        "l_returnflag",
        *[(F.col(f"p{q}_lo") / 100).alias(f"p{q}_lo") for q in quantiles],
        "total_weight",
    )


@query(
    "agg_price_quantiles_approx",
    oracle=_hist_quantile_sql("CAST(1 AS BIGINT)", (25, 50, 75, 95)),
)
def agg_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX sibling of ``agg_price_quantiles`` — the documented scale
    default the exact pin's docstring promises: a fixed-width histogram
    sketch ({HIST_BUCKET_CENTS}¢ bins) whose per-group state is the bin
    census, not the sorted rows. Error is bounded by one bin width
    ($100 on a ~$100k range ≈ 0.1%); the reported value is the crossing
    bin's lower edge, which makes the result exactly reproducible on
    any engine — the property ``approx_percentile``'s GK sketch cannot
    give a cross-engine hash gate. Use this family at 100 TB; use the
    exact pin when the contract demands interpolated exactness."""
    return _hist_quantiles(
        spark, sf_dir, F.lit(1).cast("bigint"), (25, 50, 75, 95)
    )


@query(
    "agg_weighted_median_approx",
    oracle=_hist_quantile_sql("CAST(l_quantity AS BIGINT)", (50,)),
)
def agg_weighted_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX sibling of ``agg_weighted_median`` (same histogram sketch,
    quantity weights): the smallest bin whose cumulative weight reaches
    half the total, reported as the bin lower edge. Replaces the exact
    pin's per-row window sort with an O(|bins|) census per group — the
    100 TB default; the exact pin remains the bit-stable contractual
    path. Cross-referenced from ``agg_weighted_median``'s docstring."""
    return _hist_quantiles(
        spark, sf_dir, F.col("l_quantity").cast("bigint"), (50,)
    )


@query(
    "dq_join_key_skew",
    oracle="""
    WITH freq AS (
        SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(count(*)) OVER () AS BIGINT) AS total_rows
        FROM lineitem GROUP BY 1
    )
    SELECT key, n_rows,
           CAST((20000 * n_rows + total_rows) // (2 * total_rows)
                AS DOUBLE) / 10000 AS row_share
    FROM freq
    ORDER BY n_rows DESC, key
    LIMIT 10
    """,
)
def dq_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census — the pre-flight run before picking a join
    strategy: the top-10 heaviest values of the prospective shuffle key
    with each key's share of all rows. A key owning a few percent of a
    100 TB fact means one reducer gets terabytes; this census is what
    decides between a plain shuffle join, a broadcast, or the salted
    fallback (``jn_salted_priority_revenue`` is the remedy this report
    prescribes; AQE's skew-join split handles the residual tail).

    One map-side-combinable count per key, the grand total as a
    broadcast 1-row count of the base table (NOT an unpartitioned
    window over the key census — supplier count is fact-proportional,
    so even the census must never collapse to one task), and a top-10
    with the key itself as the tie break. Shares round half-up in
    integer arithmetic.
    """
    li = read_table(spark, sf_dir, "lineitem")
    freq = (
        li.groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .crossJoin(li.agg(F.count(F.lit(1)).cast("bigint").alias("total_rows")))
    )
    return (
        freq.select(
            "key",
            "n_rows",
            (
                F.expr(
                    "(20000 * n_rows + total_rows) div (2 * total_rows)"
                ).cast("double")
                / 10000
            ).alias("row_share"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(10)
    )


SESSION_PAD_US = 1_800_000_000  # each event covers [ts, ts + 30 min)


@query(
    "ts_interval_union_coverage",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {SESSION_PAD_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER (PARTITION BY user_id
                                      ORDER BY s, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) >= s
                    THEN 0 ELSE 1 END AS is_new
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               sum(is_new) OVER (PARTITION BY user_id
                                 ORDER BY s, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    per_island AS (
        SELECT user_id, island, max(e) - min(s) AS cov
        FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(cov) AS BIGINT) AS covered_us
    FROM per_island GROUP BY 1
    """,
)
def ts_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per user — total wall-clock actually
    covered when every event opens a 30-minute activity window and
    overlaps must not double-count (the billing/engagement primitive:
    'how long was the user REALLY active?'). The classic sweep-line
    collapses to two windows: an island starts where the running max of
    prior interval ends fails to reach the next start (touching
    intervals merge), islands are numbered by a running sum, and each
    island contributes ``max(end) − min(start)``. All arithmetic is
    integer epoch-microseconds — no rounding discipline needed at all.

    One shuffle on user_id serves both window passes and the final
    group-by (same key, Catalyst reuses the exchange). At 100 TB this
    is the shape to prefer over interval self-joins, whose candidate
    space explodes with overlap density (`rng_session_concurrency`
    bounds that explosion where the pairwise answer is required).
    """
    iv = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(SESSION_PAD_US)).alias("e"),
    )
    prior = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(F.max("e").over(prior) >= F.col("s"), 0)
        .otherwise(1)
        .alias("is_new"),
    )
    # island numbering must use the SAME total order as the flag window
    # (s, event_id) — ordering by (s, e) would let tied rows land in
    # different islands per engine when (user, ts) duplicates exist
    run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("is_new").over(run).alias("island")
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("cov")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum("cov").cast("bigint").alias("covered_us"),
    )


@query(
    "agg_median_abs_deviation",
    oracle="""
    WITH pts AS (
        SELECT event_type, event_id,
               CAST(CAST(round(value, 2) AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents
        FROM events
    ),
    med AS (
        SELECT event_type,
               min(CASE WHEN 2 * rn >= n THEN cents END) AS med_cents
        FROM (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM pts
        ) GROUP BY 1
    ),
    dev AS (
        SELECT p.event_type, p.event_id,
               abs(p.cents - m.med_cents) AS d
        FROM pts p JOIN med m ON m.event_type = p.event_type
    ),
    mad AS (
        SELECT event_type,
               min(CASE WHEN 2 * rn >= n THEN d END) AS mad_cents
        FROM (
            SELECT event_type, d,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY d, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) GROUP BY 1
    )
    SELECT m.event_type,
           CAST(m.med_cents AS DOUBLE) / 100 AS median_value,
           CAST(a.mad_cents AS DOUBLE) / 100 AS mad_value
    FROM med m JOIN mad a ON a.event_type = m.event_type
    """,
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the robust dispersion
    the z-score monitor (`ts_anomaly_zscore`) should graduate to when
    value distributions are heavy-tailed (one whale order inflates a
    stddev; it moves a MAD by at most one rank). Exact lower-median via
    the rank-crossing rule (smallest value whose rank reaches half the
    group, event_id as the tie break), applied twice: once over values,
    once over absolute deviations from the group median. Integer cents
    end to end — the only doubles are the final /100 renderings.

    Two shuffles on event_type (one per median pass); the deviation
    join is against a |groups|-row broadcast. For monitoring at 100 TB
    where exactness is not contractual, ``approx_percentile(0.5)``
    collapses each pass to one sketch aggregation.
    """
    pts = read_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.round("value", 2).cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        ranked = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("event_type"))
            .alias("n"),
        )
        return ranked.groupBy("event_type").agg(
            F.min(
                F.when(2 * F.col("rn") >= F.col("n"), F.col(col))
            ).alias(out)
        )

    med = lower_median(pts, "cents", "med_cents")
    dev = pts.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") - F.col("med_cents")).alias("d"),
    )
    mad = lower_median(dev, "d", "mad_cents")
    return med.join(mad, "event_type").select(
        "event_type",
        (F.col("med_cents").cast("double") / 100).alias("median_value"),
        (F.col("mad_cents").cast("double") / 100).alias("mad_value"),
    )


@query(
    "agg_bitmap_distinct_users",
    oracle="""
    WITH words AS (
        SELECT date_trunc('day', ts) AS day,
               user_id // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bm
        FROM events
        GROUP BY 1, 2
    )
    SELECT day,
           CAST(sum(bit_count(bm)) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_words
    FROM words GROUP BY 1
    """,
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily distinct users via bitmap words — the Druid/ClickHouse
    ``groupBitmap`` technique, and the third point on the distinct-count
    spectrum the engine now covers: exact-by-shuffle (``countDistinct``,
    state = the value set), approximate (HLL sketches in
    ``agg_approx_sketches``, fixed state, ±2 %), and THIS — exact with
    state compressed 32× (one BIGINT word per 32 present ids, ``bit_or``
    as the combiner). Because ``bit_or`` is associative and commutative,
    the heavy aggregation is fully map-side combinable — no distinct
    set ever shuffles — and the word census collapses to
    ``sum(bit_count(word))``, which the oracle reproduces bit-for-bit.

    The trade at 100 TB: bitmap state scales with the ID UNIVERSE
    (dense ids — user dimensions, enum codes), not with row count, so
    it beats countDistinct whenever ids are dense and beats HLL
    whenever exactness matters. Sparse 64-bit id spaces want roaring
    bitmaps or dictionary-encoding first; n_words exposes exactly that
    density diagnostic per group.
    """
    words = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("user_id div 32").alias("word"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(user_id % 32 AS INT))"
                )
            ).alias("bm")
        )
    )
    return words.groupBy("day").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )


REG_WINDOW = 7  # trailing days in the rolling regression
#: With x = 0..6 inside the window: n·Σx² − (Σx)² = 7·91 − 21² = 196.
_REG_DENOM = REG_WINDOW * 91 - 21 * 21


@query(
    "ts_rolling_regression_slope",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, cents,
               date_diff('day', (SELECT min(day) FROM daily), day) AS t
        FROM daily
    ),
    win AS (
        SELECT day, t,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(cents) OVER w AS BIGINT) AS sy,
               CAST(sum(t * cents) OVER w AS BIGINT) AS sty
        FROM idx
        WINDOW w AS (ORDER BY t RANGE BETWEEN {REG_WINDOW - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day,
           CAST((20000 * ({REG_WINDOW} * (sty - (t - {REG_WINDOW - 1}) * sy)
                          - 21 * sy)
                 + CASE WHEN {REG_WINDOW} * (sty - (t - {REG_WINDOW - 1}) * sy)
                             >= 21 * sy
                        THEN {_REG_DENOM} ELSE -{_REG_DENOM} END)
                // (2 * {_REG_DENOM}) AS DOUBLE) / 1000000
               AS slope_per_day
    FROM win
    WHERE n = {REG_WINDOW}
    """,
)
def ts_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day OLS trend of daily revenue — the trend detector a
    monitoring pipeline runs beside the z-score and CUSUM screens (those
    flag level shifts; this one measures DRIFT RATE in currency/day).
    The regression never materializes (x, y) pairs: with day-index x
    relativized inside each full window to 0..6, Σx = 21 and
    nΣx² − (Σx)² = 196 are compile-time constants, and the two data
    moments (Σy, Σ t·y) come from plain windowed integer sums — so the
    slope is (nΣxy − ΣxΣy)/196 computed entirely in BIGINT cents, with
    one final half-up integer rounding (half-away for negative trends)
    to 2 decimal places of currency per day. RANGE framing over the day
    index handles calendar gaps by requiring 7 PRESENT days.

    One shuffle (daily aggregate), one window over a |days|-sized
    series. At 100 TB the heavy input collapses to that daily series
    before any window runs — the plan is aggregation-bound, the
    regression itself is free. BIGINT headroom: the rounding term is
    20000·7·Σ(i·cents) ≤ 8.4e6 × max daily cents, overflowing only past
    ~$10¹² of daily revenue — promote the moments to DECIMAL(38,0) /
    HUGEINT if a tenant ever approaches that.
    """
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    idx = daily.withColumn(
        "t",
        F.datediff(
            "day", F.min("day").over(Window.partitionBy())
        ).cast("bigint"),
    )
    w = (
        Window.orderBy("t")
        .rangeBetween(-(REG_WINDOW - 1), Window.currentRow)
    )
    win = idx.select(
        "day",
        "t",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("cents").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("cents")).over(w).cast("bigint").alias(
            "sty"
        ),
    )
    num_sql = (
        f"{REG_WINDOW} * (sty - (t - {REG_WINDOW - 1}) * sy) - 21 * sy"
    )
    return (
        win.filter(F.col("n") == REG_WINDOW)
        .select(
            "day",
            (
                F.expr(
                    # pure BIGINT half-up/half-away division — a double
                    # quotient would lose exactness past 2^53
                    f"(20000 * ({num_sql})"
                    f" + CASE WHEN ({num_sql}) >= 0"
                    f"        THEN {_REG_DENOM} ELSE -{_REG_DENOM} END)"
                    f" div (2 * {_REG_DENOM})"
                ).cast("double")
                / 1000000
            ).alias("slope_per_day"),
        )
    )


EMBARGO_CUT = "1997-01-01"
EMBARGO_DAYS = 30


@query(
    "smp_time_embargo_split",
    oracle=f"""
    SELECT CASE
             WHEN o_orderdate < DATE '{EMBARGO_CUT}'
                  - INTERVAL {EMBARGO_DAYS} DAY THEN 'train'
             WHEN o_orderdate < DATE '{EMBARGO_CUT}' THEN 'embargo'
             ELSE 'test'
           END AS split,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
    FROM orders
    GROUP BY 1
    """,
)
def smp_time_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split WITH AN EMBARGO GAP — the
    leakage-protection discipline from financial ML (de Prado's purged
    splits): a plain temporal cut still leaks when features aggregate
    trailing windows (a train row 1 day before the cut carries a
    trailing-30d feature that overlaps the test period), so the 30 days
    before the cut are quarantined from BOTH sides. Complements the
    engine's other splits — hash (`smp_hash_split`) for i.i.d. data,
    dedup-aware (`smp_dedup_aware_split`) for near-dup leakage — this
    one is for temporally autocorrelated data, where random splits are
    simply wrong. Membership is a pure function of the date: stable
    across engines, runs, and re-partitioning, and evaluable at the
    scan with predicate pushdown when materializing one split.
    """
    cut = F.lit(EMBARGO_CUT).cast("date")
    split = (
        F.when(
            F.col("o_orderdate") < F.date_sub(cut, EMBARGO_DAYS), "train"
        )
        .when(F.col("o_orderdate") < cut, "embargo")
        .otherwise("test")
    )
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias(
                "n_customers"
            ),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
                "first_date"
            ),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
                "last_date"
            ),
        )
    )


@query(
    "win_revenue_bridge",
    oracle="""
    WITH cm AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS idx,
               o_custkey AS cust,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    contrib AS (
        SELECT idx, cust, cents AS cur_c, 0 AS prev_c FROM cm
        UNION ALL
        SELECT idx + 1, cust, 0, cents FROM cm
    ),
    paired AS (
        SELECT idx, cust,
               CAST(sum(cur_c) AS BIGINT) AS cur_c,
               CAST(sum(prev_c) AS BIGINT) AS prev_c
        FROM contrib GROUP BY 1, 2
    ),
    classified AS (
        SELECT idx,
               CASE WHEN prev_c = 0 THEN 'new'
                    WHEN cur_c = 0 THEN 'churned'
                    WHEN cur_c >= prev_c THEN 'expansion'
                    ELSE 'contraction' END AS component,
               cur_c - prev_c AS delta
        FROM paired
        WHERE idx > (SELECT min(idx) FROM cm)
          AND idx <= (SELECT max(idx) FROM cm)
    )
    SELECT printf('%04d-%02d', idx // 12, idx % 12 + 1) AS month,
           component,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(sum(delta) AS DECIMAL(18,2)) AS DOUBLE) / 100
               AS revenue_delta
    FROM classified
    GROUP BY 1, 2
    """,
)
def win_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue BRIDGE (the BI waterfall): each month's
    revenue change decomposed into new, churned, expansion, and
    contraction customers — the report a revenue team reads before the
    total. The decomposition needs each customer's current AND previous
    month side by side including absences on either side; instead of a
    full-outer self-join, every customer-month row EXPLODES into two
    contributions ((idx, cur=cents) and (idx+1, prev=cents)) and a
    plain re-aggregation pairs them — union + one groupBy, associative
    and map-side combinable, no join in the plan at all. The components
    sum to the month's total revenue delta by construction (delta
    telescopes), and all classification happens on exact integer cents.

    At 100 TB the same shape holds: the contribution union is a narrow
    map, the (idx, cust) aggregation is the only shuffle, and the final
    month census is |months|×4 rows.
    """
    cm = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
            ).alias("idx"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    contrib = cm.select(
        "idx", "cust", F.col("cents").alias("cur_c"), F.lit(0).alias("prev_c")
    ).unionByName(
        cm.select(
            (F.col("idx") + 1).alias("idx"),
            "cust",
            F.lit(0).alias("cur_c"),
            F.col("cents").alias("prev_c"),
        )
    )
    paired = contrib.groupBy("idx", "cust").agg(
        F.sum("cur_c").cast("bigint").alias("cur_c"),
        F.sum("prev_c").cast("bigint").alias("prev_c"),
    )
    # month range as driver-side scalars injected as literal filters —
    # the same 1-row-collect pattern the rollup high-water mark uses: a
    # global window would funnel every paired row through ONE task, and
    # a 1-row bounds join would plan as a nested-loop broadcast
    lo, hi = cm.agg(F.min("idx"), F.max("idx")).first()
    classified = (
        paired.filter(
            (F.col("idx") > F.lit(lo)) & (F.col("idx") <= F.lit(hi))
        )
        .select(
            "idx",
            F.when(F.col("prev_c") == 0, "new")
            .when(F.col("cur_c") == 0, "churned")
            .when(F.col("cur_c") >= F.col("prev_c"), "expansion")
            .otherwise("contraction")
            .alias("component"),
            (F.col("cur_c") - F.col("prev_c")).alias("delta"),
        )
    )
    return classified.groupBy(
        F.format_string(
            "%04d-%02d", F.expr("idx div 12"), F.col("idx") % 12 + 1
        ).alias("month"),
        "component",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        (
            F.sum("delta").cast("decimal(18,2)").cast("double") / 100
        ).alias("revenue_delta"),
    )


@query(
    "dq_inflight_observation",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS revenue,
           CAST(sum(count(*)) OVER () AS BIGINT) AS observed_total_rows,
           CAST(round(sum(sum(CAST(o_totalprice AS DECIMAL(14,2))))
                      OVER (), 2) AS DOUBLE) AS observed_total_revenue
    FROM orders
    GROUP BY 1
    """,
)
def dq_inflight_observation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight metrics via Spark's ``Observation`` API — production
    pipelines attach data-quality counters to the SAME pass that
    computes the result (a separate validation query doubles the scan
    and can silently diverge from what the job actually read). Here the
    scan is observed with a row count and a DECIMAL revenue total while
    the census aggregates it; the observed values are then stamped onto
    the result, and the oracle recomputes them relationally — a hash
    match proves the observation saw EXACTLY the rows the aggregate
    consumed, which is the whole point of the API.

    Scale note: observe() adds accumulator-style metrics with zero
    extra shuffle or scan; it is the mechanism behind streaming-side
    row-count reconciliation at any volume.
    """
    from pyspark.sql import Observation

    obs = Observation("dq_gate")
    observed = read_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("rev"),
    )
    census = (
        observed.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")), 2
            )
            .cast("double")
            .alias("revenue"),
        )
        .collect()  # the action that materializes the observation
    )
    got = obs.get
    return spark.createDataFrame(
        [
            (
                r["o_orderstatus"],
                r["n_orders"],
                r["revenue"],
                int(got["n_rows"]),
                float(round(got["rev"], 2)),
            )
            for r in census
        ],
        "o_orderstatus string, n_orders bigint, revenue double, "
        "observed_total_rows bigint, observed_total_revenue double",
    )


@query(
    "agg_exact_correlation",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
                    AS BIGINT) AS x,
               CAST(l_quantity AS BIGINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT l_returnflag,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy
        FROM pts GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
               AS price_qty_corr
    FROM m
    """,
)
def agg_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of price and quantity per return flag, from
    PURE INTEGER moments — the determinism upgrade over ``F.corr``
    (whose double accumulators differ by summation order across
    partitions and engines). All five moments are exact 38-digit
    integer sums of integer cents/quantities, so the only floating
    arithmetic is two IEEE-correctly-rounded sqrts and one division of
    EXACT inputs — bit-identical everywhere by the IEEE-754 contract,
    making a statistic that is normally hash-hostile fully
    oracle-gateable (rounded to 6 dp for the gate).

    One map-side-combinable aggregate; the moment trick generalizes to
    covariance matrices and OLS (`ts_rolling_regression_slope`,
    `txt_zipf_slope` use the same discipline).
    """
    pts = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    # products are cast to DECIMAL(38,0) BEFORE the sum: sum(x·x) tops
    # 6e19 at sf0.1 already — a BIGINT accumulator would wrap silently
    # under non-ANSI semantics (DuckDB's SUM(BIGINT)→HUGEINT is exact)
    m = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias(
            "sxy"
        ),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias(
            "syy"
        ),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.sqrt(
                    (
                        F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
            ),
            6,
        ).alias("price_qty_corr"),
    )


@query(
    "win_skyline_price_recency",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents,
               o_orderdate AS d
        FROM orders
    ),
    daymax AS (
        SELECT d, max(cents) AS cents FROM pts GROUP BY 1
    ),
    frontier AS (
        SELECT d, cents
        FROM (
            SELECT d, cents,
                   max(d) OVER (ORDER BY cents
                                RANGE BETWEEN CURRENT ROW
                                     AND UNBOUNDED FOLLOWING) AS max_d_ge
            FROM daymax
        )
        WHERE d = max_d_ge
    )
    SELECT p.o_orderkey,
           CAST(CAST(p.cents AS DECIMAL(18,2)) AS DOUBLE) / 100
               AS totalprice,
           strftime(p.d, '%Y-%m-%d') AS orderdate
    FROM pts p JOIN frontier f ON f.d = p.d AND f.cents = p.cents
    """,
)
def win_skyline_price_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) over (totalprice, recency) — the classic
    OLAP operator (Börzsönyi et al., ICDE 2001): orders not dominated by
    any other on BOTH dimensions ('is there a bigger order that is also
    more recent?'). The distributed shape exploits a domination-
    preserving prefilter: a skyline point must be its own day's price
    maximum (same date + higher price dominates), so the heavy table
    first collapses to |days| candidate rows with one map-side-
    combinable aggregate; the frontier test is then one window over
    that tiny set — survive iff the row holds the latest date among all
    candidates with price ≥ its own (integer RANGE framing makes '≥'
    exact) — and a final equi-join recovers the order ids, ties
    included. No quadratic dominance join at any step; the global sort
    the skyline inherently needs runs over days, not orders.
    """
    pts = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderdate").alias("d"),
    )
    daymax = pts.groupBy("d").agg(F.max("cents").alias("cents"))
    w = Window.orderBy("cents").rangeBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    frontier = (
        daymax.withColumn("max_d_ge", F.max("d").over(w))
        .filter(F.col("d") == F.col("max_d_ge"))
        .select("d", "cents")
    )
    return pts.join(F.broadcast(frontier), ["d", "cents"]).select(
        "o_orderkey",
        (F.col("cents").cast("decimal(18,2)").cast("double") / 100).alias(
            "totalprice"
        ),
        F.date_format("d", "yyyy-MM-dd").alias("orderdate"),
    )


@query(
    "win_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
        FROM trans GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n AS n_transitions,
           CAST((20000 * t.n + o.row_n) // (2 * o.row_n) AS DOUBLE)
               / 10000 AS probability
    FROM trans t JOIN tot o ON o.prev_type = t.prev_type
    """,
)
def win_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior — the model
    behind next-action prediction, anomaly screens ('error after
    purchase is 10× baseline'), and simulated user journeys. One lag
    window over (user, time, event_id) yields the transition stream;
    the matrix is a |types|² census with row-normalized probabilities
    rounded half-up in integer arithmetic. Complements
    `win_top_session_paths` (which ranks whole journeys) with the
    memoryless model that scales to arbitrary path length for free.

    One user_id shuffle for the lag, then a tiny matrix aggregate; the
    row-total join is |types|-sized and broadcast.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = read_table(spark, sf_dir, "events").select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
    tot = trans.groupBy("prev_type").agg(
        F.sum("n_transitions").cast("bigint").alias("row_n")
    )
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.expr("(20000 * n_transitions + row_n) div (2 * row_n)")
            .cast("double")
            / 10000
        ).alias("probability"),
    )


#: M4 bucket width: 6 hours in microseconds.
M4_BUCKET_US = 6 * 3600 * 1_000_000


@query(
    "ts_m4_downsample",
    oracle=f"""
    SELECT event_type,
           strftime(make_timestamp((epoch_us(ts) // {M4_BUCKET_US})
                                   * {M4_BUCKET_US}),
                    '%Y-%m-%d %H:%M') AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events,
           min(value) AS v_min,
           max(value) AS v_max,
           first(value ORDER BY ts, event_id) AS v_first,
           last(value ORDER BY ts, event_id) AS v_last
    FROM events
    GROUP BY event_type, epoch_us(ts) // {M4_BUCKET_US}
    """,
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014) — the
    visualization-grade time-series reduction: per series and
    fixed-width time bucket, keep exactly the min, max, first and last
    values. Those four points are what any pixel-column of a line
    chart can show, so the reduction is error-free for rendering while
    shrinking an arbitrary series to 4 points per bucket — the standard
    pre-aggregation a 100 TB observability store serves dashboards
    from.

    One map-side-combinable aggregate over the fact: min/max are plain
    aggregates; first/last ride a min/max over a ``(ts_micros,
    event_id, value)`` struct whose leading two fields are a unique
    arrival key, so tie-handling never reaches the value and both
    engines pick identical rows (DuckDB: ``first(... ORDER BY ts,
    event_id)``). All four outputs are SELECTIONS of stored doubles —
    no float arithmetic anywhere, so raw values hash-match with no
    rounding discipline needed.
    """
    ev = read_table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(ts) div {M4_BUCKET_US}")
    return (
        ev.groupBy(
            "event_type",
            F.date_format(
                F.timestamp_micros(bucket * M4_BUCKET_US),
                "yyyy-MM-dd HH:mm",
            ).alias("bucket_start"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.min(
                F.struct(F.unix_micros("ts"), F.col("event_id"), F.col("value"))
            )["value"].alias("v_first"),
            F.max(
                F.struct(F.unix_micros("ts"), F.col("event_id"), F.col("value"))
            )["value"].alias("v_last"),
        )
    )


@query(
    "jn_association_rules",
    oracle="""
    WITH pb AS (
        SELECT l_orderkey, p_brand
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM pb),
    singles AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_1 FROM pb GROUP BY 1
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM pb a
        JOIN pb b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        ORDER BY n_ab DESC, brand_a, brand_b
        LIMIT 20
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           sa.n_1 AS n_a, sb.n_1 AS n_b,
           CAST((2000000 * p.n_ab + t.n) // (2 * t.n) AS DOUBLE)
               / 1000000 AS support,
           CAST((2000000 * p.n_ab + sa.n_1) // (2 * sa.n_1) AS DOUBLE)
               / 1000000 AS conf_a_to_b,
           CAST((2000000 * p.n_ab + sb.n_1) // (2 * sb.n_1) AS DOUBLE)
               / 1000000 AS conf_b_to_a,
           CAST(CAST((2000000 * CAST(p.n_ab AS HUGEINT) * t.n
                      + CAST(sa.n_1 AS HUGEINT) * sb.n_1)
                     // (2 * CAST(sa.n_1 AS HUGEINT) * sb.n_1)
                AS BIGINT) AS DOUBLE) / 1000000 AS lift
    FROM pairs p
    JOIN singles sa ON sa.p_brand = p.brand_a
    JOIN singles sb ON sb.p_brand = p.brand_b
    CROSS JOIN tot t
    """,
)
def jn_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics (support / confidence both ways / lift)
    for the 20 most co-purchased brand pairs — the step AFTER
    ``jn_basket_brand_pairs``' raw census that turns co-occurrence
    counts into actionable rules (lift > 1 = genuinely associated, not
    just both popular). Same scalable ARRAY rewrite for the pair
    census (explode each sorted basket against its greater-than
    suffix — never a corpus self-join); singles and the order total
    are map-side-combinable aggregates over the same basket table, and
    the metric join touches only 20 + |brands| + 1 rows, all
    broadcast. Every metric is rounded half-up at 6 dp in pure integer
    arithmetic (38-digit intermediates for the lift cross-products, so
    a 1e10-order corpus cannot overflow).
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    tot = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    singles = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_1"))
    )
    pairs = (
        baskets.select(F.explode("brands").alias("brand_a"), "brands")
        .select(
            "brand_a",
            F.explode(F.expr("filter(brands, x -> x > brand_a)")).alias(
                "brand_b"
            ),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .orderBy(F.desc("n_ab"), "brand_a", "brand_b")
        .limit(20)
    )
    sa = singles.select(
        F.col("p_brand").alias("brand_a"), F.col("n_1").alias("n_a")
    )
    sb = singles.select(
        F.col("p_brand").alias("brand_b"), F.col("n_1").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                F.expr("(2000000 * n_ab + n) div (2 * n)").cast("double")
                / 1000000
            ).alias("support"),
            (
                F.expr("(2000000 * n_ab + n_a) div (2 * n_a)").cast("double")
                / 1000000
            ).alias("conf_a_to_b"),
            (
                F.expr("(2000000 * n_ab + n_b) div (2 * n_b)").cast("double")
                / 1000000
            ).alias("conf_b_to_a"),
            (
                F.expr(
                    "CAST((2000000 * CAST(n_ab AS DECIMAL(38,0)) * n"
                    "      + CAST(n_a AS DECIMAL(38,0)) * n_b)"
                    " div (2 * CAST(n_a AS DECIMAL(38,0)) * n_b)"
                    " AS BIGINT)"
                ).cast("double")
                / 1000000
            ).alias("lift"),
        )
    )


#: Backtest holdout: the last calendar day of the event span.
BACKTEST_DAY = "2024-01-30"


@query(
    "ts_backtest_seasonal_naive",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(ts AS DATE) AS d,
               CAST(extract(hour FROM ts) AS INT) AS hod,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS v_micro
        FROM events
        GROUP BY 1, 2, 3
    ),
    train AS (
        SELECT event_type, hod,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(v_micro) AS BIGINT) AS s
        FROM hourly WHERE d < DATE '{BACKTEST_DAY}'
        GROUP BY 1, 2
    ),
    fc AS (
        SELECT event_type, hod,
               (2 * s + n_days) // (2 * n_days) AS fc_micro
        FROM train
    ),
    test AS (
        SELECT event_type, hod, v_micro
        FROM hourly WHERE d = DATE '{BACKTEST_DAY}'
    ),
    joined AS (
        SELECT coalesce(t.event_type, f.event_type) AS event_type,
               coalesce(t.v_micro, 0) AS actual,
               coalesce(f.fc_micro, 0) AS fc
        FROM test t
        FULL OUTER JOIN fc f
          ON f.event_type = t.event_type AND f.hod = t.hod
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST((2 * sum(abs(actual - fc)) + count(*))
                // (2 * count(*)) AS BIGINT) AS mae_micro,
           CAST(CAST((2 * sum(abs(actual - fc)) + count(*))
                     // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1000000
               AS mae
    FROM joined
    GROUP BY 1
    """,
)
def ts_backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: hold out the span's last day, forecast each
    of its hours per event type with the SEASONAL-NAIVE model (mean of
    the same hour-of-day over all training days — the baseline every
    forecasting system must beat, and the one ``ts_seasonality_index``
    parameterizes), and report per-type MAE. This is the evaluation
    loop of a capacity/anomaly pipeline: the model is the cheap one;
    the operator shape (train/holdout split by time, join forecasts to
    actuals, exact error aggregate) is what matters at scale.

    One shuffled hourly aggregate feeds BOTH train and test (the split
    is a filter, not a second scan); the forecast table is
    |types|x24 — broadcast-sized; a FULL OUTER join scores missing
    hours as 0 on either side (gap semantics consistent with
    ``ts_hourly_rollup_gapfill``). Hour sums ride exact DECIMAL
    micro-units; the hourly-mean forecast and the MAE are half-up
    integer divisions — no float arithmetic anywhere.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        ).alias("v_micro")
    )
    train = (
        hourly.filter(F.col("d") < F.lit(BACKTEST_DAY).cast("date"))
        .groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("v_micro").cast("bigint").alias("s"),
        )
    )
    fc = train.select(
        "event_type",
        "hod",
        F.expr("(2 * s + n_days) div (2 * n_days)").alias("fc_micro"),
    )
    test = hourly.filter(F.col("d") == F.lit(BACKTEST_DAY).cast("date")).select(
        "event_type", "hod", "v_micro"
    )
    joined = test.join(
        fc.withColumnsRenamed({"event_type": "f_type", "hod": "f_hod"}),
        (F.col("f_type") == F.col("event_type"))
        & (F.col("f_hod") == F.col("hod")),
        "full_outer",
    ).select(
        F.coalesce("event_type", "f_type").alias("etype"),
        F.coalesce("v_micro", F.lit(0)).alias("actual"),
        F.coalesce("fc_micro", F.lit(0)).alias("fc"),
    )
    return joined.groupBy(F.col("etype").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr(
            "CAST((2 * sum(abs(actual - fc)) + count(*))"
            " div (2 * count(*)) AS BIGINT)"
        ).alias("mae_micro"),
        (
            F.expr(
                "CAST((2 * sum(abs(actual - fc)) + count(*))"
                " div (2 * count(*)) AS BIGINT)"
            ).cast("double")
            / 1000000
        ).alias("mae"),
    )


@query(
    "agg_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               (CAST(extract(year FROM o_orderdate) AS BIGINT) * 12
                + CAST(extract(month FROM o_orderdate) AS BIGINT)) AS ym,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    firsts AS (
        SELECT o_custkey, ym, cents,
               min(ym) OVER (PARTITION BY o_custkey) AS cohort_ym
        FROM o
    ),
    cohort_size AS (
        SELECT cohort_ym, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM firsts GROUP BY 1
    ),
    cell AS (
        SELECT cohort_ym, CAST(ym - cohort_ym AS INT) AS month_offset,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM firsts GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_ym, month_offset,
               sum(rev_cents) OVER (PARTITION BY cohort_ym
                                    ORDER BY month_offset
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents
        FROM cell
    )
    SELECT concat(CAST((c.cohort_ym - 1) // 12 AS VARCHAR), '-',
                  CASE WHEN ((c.cohort_ym - 1) % 12) + 1 < 10
                       THEN concat('0', CAST(((c.cohort_ym - 1) % 12) + 1
                                             AS VARCHAR))
                       ELSE CAST(((c.cohort_ym - 1) % 12) + 1 AS VARCHAR)
                  END) AS cohort_month,
           c.month_offset,
           s.n_customers,
           CAST(CAST(c.cum_cents AS BIGINT) AS DOUBLE) / 100
               AS cum_revenue,
           CAST((2 * c.cum_cents + s.n_customers)
                // (2 * s.n_customers) AS DOUBLE) / 100 AS ltv_per_user
    FROM cum c JOIN cohort_size s ON s.cohort_ym = c.cohort_ym
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV (lifetime-value) curves: customers grouped by
    first-order month, each cohort's CUMULATIVE revenue tracked across
    month offsets, per-user — the growth-finance companion to
    ``win_cohort_retention`` (that counts who comes back; this counts
    what they're worth, the number CAC is paid against).

    Exact-arithmetic discipline: money rides integer CENTS from the
    first projection (DECIMAL→BIGINT), month arithmetic is pure
    ``year*12+month`` integers, and the per-user LTV is a half-up
    integer division — the only doubles are final display casts.

    Scale shape: one shuffle on ``o_custkey`` (the first-order
    window), one on the (cohort, offset) cell grid; the cumulative
    window and the size join run over the |months|² /2 cohort matrix —
    broadcast-sized forever. Cohort-month formatting is done with
    integer arithmetic (not date functions) so both engines render
    identically.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate").cast("bigint") * 12
         + F.month("o_orderdate").cast("bigint")).alias("ym"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    firsts = o.select(
        "o_custkey",
        "ym",
        "cents",
        F.min("ym").over(Window.partitionBy("o_custkey")).alias("cohort_ym"),
    )
    cohort_size = firsts.groupBy("cohort_ym").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers")
    )
    cell = firsts.groupBy(
        "cohort_ym", (F.col("ym") - F.col("cohort_ym")).cast("int").alias(
            "month_offset"
        )
    ).agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    cum = cell.select(
        "cohort_ym",
        "month_offset",
        F.sum("rev_cents")
        .over(
            Window.partitionBy("cohort_ym")
            .orderBy("month_offset")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum_cents"),
    )
    return cum.join(F.broadcast(cohort_size), "cohort_ym").select(
        F.concat(
            F.expr("CAST((cohort_ym - 1) div 12 AS STRING)"),
            F.lit("-"),
            F.lpad(F.expr("CAST(((cohort_ym - 1) % 12) + 1 AS STRING)"), 2, "0"),
        ).alias("cohort_month"),
        "month_offset",
        "n_customers",
        (F.col("cum_cents").cast("double") / 100).alias("cum_revenue"),
        (
            F.expr("(2 * cum_cents + n_customers) div (2 * n_customers)")
            .cast("double")
            / 100
        ).alias("ltv_per_user"),
    )


#: Keyset cursor: resume AFTER this (date, key) position.
KEYSET_CURSOR_DATE = "1995-06-15"
KEYSET_CURSOR_KEY = 0
KEYSET_PAGE = 50


@query(
    "win_keyset_pagination",
    oracle=f"""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate > DATE '{KEYSET_CURSOR_DATE}'
       OR (o_orderdate = DATE '{KEYSET_CURSOR_DATE}'
           AND o_orderkey > {KEYSET_CURSOR_KEY})
    ORDER BY o_orderdate, o_orderkey
    LIMIT {KEYSET_PAGE}
    """,
)
def win_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination — the API-serving pattern that
    replaces OFFSET: fetch the next {KEYSET_PAGE} orders after a
    (date, key) cursor with a sargable compound predicate. OFFSET n
    must SCAN AND DISCARD n rows (linearly worse per page, and
    inconsistent under concurrent inserts); the keyset predicate
    starts where the last page ended, costs the same for page 1 and
    page 1e6, and is stable under appends — at 100 TB it is the only
    viable pagination.

    Plan: the row-group min/max pruned scan (the predicate reaches
    parquet as PushedFilters) feeds TakeOrderedAndProject —
    per-partition top-k, then a k-row merge; no global sort, no
    offset discard. Values are selections (price is a stored double;
    the date renders as a string for cross-engine hashing).
    """
    o = read_table(spark, sf_dir, "orders")
    cd = F.lit(KEYSET_CURSOR_DATE).cast("date")
    return (
        o.filter(
            (F.col("o_orderdate") > cd)
            | (
                (F.col("o_orderdate") == cd)
                & (F.col("o_orderkey") > KEYSET_CURSOR_KEY)
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(KEYSET_PAGE)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice").cast("double").alias("total_price"),
        )
    )


@query(
    "ts_linear_interpolation",
    oracle="""
    WITH ev AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    ),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    hours AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (SELECT h, event_type FROM hours CROSS JOIN types),
    agg AS (
        SELECT h, event_type,
               CAST(sum(v) * 1000000 AS BIGINT) AS v_micro
        FROM ev GROUP BY 1, 2
    ),
    joined AS (
        SELECT g.h, g.event_type, a.v_micro,
               CAST(epoch(g.h) AS BIGINT) // 3600 AS hi
        FROM grid g
        LEFT JOIN agg a ON a.h = g.h AND a.event_type = g.event_type
    ),
    ctx AS (
        SELECT *,
               last_value(v_micro IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hi
                       ROWS UNBOUNDED PRECEDING) AS pv,
               last_value(CASE WHEN v_micro IS NOT NULL THEN hi END
                          IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hi
                       ROWS UNBOUNDED PRECEDING) AS ph,
               first_value(v_micro IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hi
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
               first_value(CASE WHEN v_micro IS NOT NULL THEN hi END
                           IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hi
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nh
        FROM joined
    )
    SELECT h AS hour, event_type,
           CAST(v_micro IS NOT NULL AS BOOLEAN) AS is_observed,
           CAST(CASE
                WHEN v_micro IS NOT NULL THEN v_micro
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                ELSE (2 * (pv * (nh - hi) + nv * (hi - ph)) + (nh - ph))
                     // (2 * (nh - ph))
           END AS DOUBLE) / 1000000 AS hourly_value
    FROM ctx
    """,
)
def ts_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the gap-filled hourly grid — the
    imputation that replaces LOCF (``ts_locf_hourly_value``) when the
    series is a level, not a state: silent hours take the
    time-weighted average of the neighboring OBSERVED hourly totals.
    Leading/trailing gaps (no anchor on one side) stay NULL on both
    engines; the ``is_observed`` flag lets consumers distinguish
    measured from imputed points.

    Exactness: hourly totals ride DECIMAL micro-units; the
    interpolation ``(pv*(nh-hi) + nv*(hi-ph)) / (nh-ph)`` is a single
    half-up integer division over epoch-hour integers — no float
    arithmetic anywhere. Same bounded |hours|x|types| grid as the
    rollup family; the neighbor scan is two windows over grid-sized
    (not event-sized) data.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    hours = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1")).select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    grid = hours.crossJoin(ev.select("event_type").distinct())
    agg = ev.groupBy("h", "event_type").agg(
        F.expr("CAST(sum(v) * 1000000 AS BIGINT)").alias("v_micro")
    )
    joined = grid.join(agg, ["h", "event_type"], "left").select(
        "h",
        "event_type",
        "v_micro",
        F.expr("unix_seconds(h) div 3600").alias("hi"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hi")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hi = F.when(F.col("v_micro").isNotNull(), F.col("hi"))
    ctx = joined.select(
        "h",
        "event_type",
        "v_micro",
        "hi",
        F.last("v_micro", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_hi, ignorenulls=True).over(wb).alias("ph"),
        F.first("v_micro", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_hi, ignorenulls=True).over(wf).alias("nh"),
    )
    return ctx.select(
        F.col("h").alias("hour"),
        "event_type",
        F.col("v_micro").isNotNull().alias("is_observed"),
        (
            F.expr(
                "CAST(CASE"
                " WHEN v_micro IS NOT NULL THEN v_micro"
                " WHEN pv IS NULL OR nv IS NULL THEN NULL"
                " ELSE (2 * (pv * (nh - hi) + nv * (hi - ph)) + (nh - ph))"
                "      div (2 * (nh - ph))"
                " END AS DOUBLE)"
            )
            / 1000000
        ).alias("hourly_value"),
    )


@query(
    "asof_nearest_order_to_event",
    oracle="""
    WITH tagged AS (
        SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS t,
               o_orderkey, NULL::BIGINT AS event_id, 1 AS is_order
        FROM orders
        UNION ALL
        SELECT user_id, ts AS t, NULL::BIGINT AS o_orderkey,
               event_id, 0 AS is_order
        FROM events
    ),
    filled AS (
        SELECT *,
               last_value(CASE WHEN is_order = 1 THEN o_orderkey END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS bk_key,
               last_value(CASE WHEN is_order = 1
                               THEN CAST(epoch_us(t) AS BIGINT) END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS bk_us,
               first_value(CASE WHEN is_order = 1 THEN o_orderkey END
                           IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fw_key,
               first_value(CASE WHEN is_order = 1
                                THEN CAST(epoch_us(t) AS BIGINT) END
                           IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fw_us
        FROM tagged
    ),
    ev AS (
        SELECT event_id, user_id, t,
               CAST(epoch_us(t) AS BIGINT) AS t_us,
               bk_key, bk_us, fw_key, fw_us
        FROM filled WHERE is_order = 0
    )
    SELECT event_id, user_id, t AS ts,
           CASE WHEN bk_key IS NULL THEN fw_key
                WHEN fw_key IS NULL THEN bk_key
                WHEN t_us - bk_us <= fw_us - t_us THEN bk_key
                ELSE fw_key END AS nearest_orderkey,
           CASE WHEN bk_key IS NULL THEN 'after'
                WHEN fw_key IS NULL THEN 'before'
                WHEN t_us - bk_us <= fw_us - t_us THEN 'before'
                ELSE 'after' END AS direction,
           CASE WHEN bk_key IS NULL THEN fw_us - t_us
                WHEN fw_key IS NULL THEN t_us - bk_us
                WHEN t_us - bk_us <= fw_us - t_us THEN t_us - bk_us
                ELSE fw_us - t_us END // 1000000 AS gap_seconds
    FROM ev
    WHERE bk_key IS NOT NULL OR fw_key IS NOT NULL
    """,
)
def asof_nearest_order_to_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor as-of join: each event matched to the
    closest-in-time order of the same customer in EITHER direction
    (ties to the earlier order) — the alignment semantics sensor
    fusion and feature attribution need when 'most recent before'
    (``asof_last_order_before_event``) is the wrong prior for events
    that precede their cause. Same scalable union-merge shape — one
    shuffle on user_id, one sort, TWO window passes (carry-back and
    carry-forward) — still never an inequality join. Gap arithmetic
    runs in integer microseconds (DuckDB ``epoch_us`` cast to BIGINT
    before ``//`` — its epoch functions return DOUBLE otherwise), so
    the direction choice and the reported gap are exact on both
    engines.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(1).alias("is_order"),
    )
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
        F.lit(0).alias("is_order"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t", F.desc("is_order"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t", F.desc("is_order"), "o_orderkey")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    okey = F.when(F.col("is_order") == 1, F.col("o_orderkey"))
    ous = F.when(F.col("is_order") == 1, F.unix_micros("t"))
    filled = (
        o.unionByName(e)
        .select(
            "event_id",
            "user_id",
            "t",
            "is_order",
            F.last(okey, ignorenulls=True).over(wb).alias("bk_key"),
            F.last(ous, ignorenulls=True).over(wb).alias("bk_us"),
            F.first(okey, ignorenulls=True).over(wf).alias("fw_key"),
            F.first(ous, ignorenulls=True).over(wf).alias("fw_us"),
        )
        .filter(F.col("is_order") == 0)
        .withColumn("t_us", F.unix_micros("t"))
    )
    back_wins = (
        F.col("fw_key").isNull()
        | (F.col("bk_key").isNotNull()
           & (F.col("t_us") - F.col("bk_us") <= F.col("fw_us") - F.col("t_us")))
    )
    return (
        filled.filter(F.col("bk_key").isNotNull() | F.col("fw_key").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            F.when(back_wins, F.col("bk_key"))
            .otherwise(F.col("fw_key"))
            .alias("nearest_orderkey"),
            F.when(back_wins, F.lit("before"))
            .otherwise(F.lit("after"))
            .alias("direction"),
            F.expr(
                "CASE WHEN bk_key IS NULL THEN fw_us - t_us"
                " WHEN fw_key IS NULL THEN t_us - bk_us"
                " WHEN t_us - bk_us <= fw_us - t_us THEN t_us - bk_us"
                " ELSE fw_us - t_us END div 1000000"
            ).alias("gap_seconds"),
        )
    )


@query(
    "date_calendar_dim",
    oracle="""
    WITH span AS (
        SELECT min(o_orderdate) AS d0, max(o_orderdate) AS d1 FROM orders
    ),
    days AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
            AS d
        FROM span
    )
    SELECT strftime(d, '%Y-%m-%d') AS date_key,
           CAST(extract(year FROM d) AS INT) AS year,
           CAST(extract(quarter FROM d) AS INT) AS quarter,
           CAST(extract(month FROM d) AS INT) AS month,
           CAST(extract(day FROM d) AS INT) AS day_of_month,
           CAST(CASE WHEN extract(isodow FROM d) = 7 THEN 0
                     ELSE extract(isodow FROM d) END + 1 AS INT)
               AS day_of_week,
           CAST(extract(isodow FROM d) IN (6, 7) AS BOOLEAN) AS is_weekend,
           strftime(date_trunc('month', d), '%Y-%m') AS month_key,
           CAST(extract(year FROM d) * 100 + extract(quarter FROM d)
                AS INT) AS quarter_key
    FROM days
    """,
)
def date_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generator — the conformed date spine every
    warehouse joins facts against (Kimball's first dimension): one row
    per day across the fact's date span with the standard attribute
    columns (year/quarter/month, day-of-week with Sunday=1 to match
    Spark's ``dayofweek``, weekend flag, month and quarter keys). The
    spine derives from a 1-row min/max aggregate + ``sequence`` —
    |days| rows regardless of fact volume, broadcast-sized forever;
    date keys are formatted strings (the cross-engine discipline for
    DATE columns).
    """
    o = read_table(spark, sf_dir, "orders")
    days = o.agg(
        F.min("o_orderdate").alias("d0"), F.max("o_orderdate").alias("d1")
    ).select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("date_key"),
        F.year("d").cast("int").alias("year"),
        F.quarter("d").cast("int").alias("quarter"),
        F.month("d").cast("int").alias("month"),
        F.dayofmonth("d").cast("int").alias("day_of_month"),
        F.dayofweek("d").cast("int").alias("day_of_week"),
        F.dayofweek("d").isin(1, 7).alias("is_weekend"),
        F.date_format("d", "yyyy-MM").alias("month_key"),
        (F.year("d") * 100 + F.quarter("d")).cast("int").alias("quarter_key"),
    )


#: Lifecycle recency bands (days since last order, relative to the
#: corpus max date so the query is deterministic).
LIFECYCLE_BANDS = ((90, "active"), (365, "lapsed"))


@query(
    "win_lifecycle_stages",
    oracle="""
    WITH ref AS (SELECT max(o_orderdate) AS dmax FROM orders),
    cust AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               max(o_orderdate) AS last_order,
               min(o_orderdate) AS first_order
        FROM orders GROUP BY 1
    ),
    staged AS (
        SELECT c.o_custkey, c.n_orders,
               date_diff('day', c.last_order, r.dmax) AS recency_days,
               CASE
                 WHEN c.n_orders = 1
                  AND date_diff('day', c.last_order, r.dmax) <= 90
                   THEN 'new'
                 WHEN date_diff('day', c.last_order, r.dmax) <= 90
                   THEN 'active'
                 WHEN date_diff('day', c.last_order, r.dmax) <= 365
                   THEN 'lapsed'
                 ELSE 'churned'
               END AS stage
        FROM cust c, ref r
    )
    SELECT stage,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS total_orders,
           CAST(min(recency_days) AS BIGINT) AS min_recency_days,
           CAST(max(recency_days) AS BIGINT) AS max_recency_days
    FROM staged
    GROUP BY 1
    """,
)
def win_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifecycle staging — the segmentation every CRM ships
    beside RFM (``win_rfm_segments``): band customers as
    new / active / lapsed / churned from order recency (measured
    against the corpus max date, so the query is deterministic and
    backfillable) with first-order awareness ('new' = single recent
    order). One shuffle on the customer key + a stage census; all date
    arithmetic is integer days.
    """
    o = read_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("dmax"))
    cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.max("o_orderdate").alias("last_order"),
        F.min("o_orderdate").alias("first_order"),
    )
    staged = cust.crossJoin(ref).select(
        "o_custkey",
        "n_orders",
        F.datediff("dmax", "last_order").cast("bigint").alias("recency_days"),
    ).select(
        "o_custkey",
        "n_orders",
        "recency_days",
        F.when(
            (F.col("n_orders") == 1) & (F.col("recency_days") <= 90), "new"
        )
        .when(F.col("recency_days") <= 90, "active")
        .when(F.col("recency_days") <= 365, "lapsed")
        .otherwise("churned")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("total_orders"),
        F.min("recency_days").cast("bigint").alias("min_recency_days"),
        F.max("recency_days").cast("bigint").alias("max_recency_days"),
    )


@query(
    "agg_higher_moments",
    oracle="""
    WITH c AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS xc
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(xc) AS HUGEINT) AS s1,
               CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS s2,
               CAST(sum(CAST(xc AS HUGEINT) * xc * xc) AS HUGEINT) AS s3,
               CAST(sum(CAST(xc AS HUGEINT) * xc * xc * xc) AS HUGEINT)
                   AS s4
        FROM c GROUP BY 1
    ),
    central AS (
        SELECT event_type, n,
               n * s2 - s1 * s1 AS a2,
               n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS a3,
               n * n * n * s4 - 4 * n * n * s1 * s3
                 + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS a4
        FROM sums
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           round(CAST(a3 AS DOUBLE)
                 / (CAST(a2 AS DOUBLE) * sqrt(CAST(a2 AS DOUBLE))), 6)
               AS skewness,
           round(CAST(a4 AS DOUBLE) / (CAST(a2 AS DOUBLE) * CAST(a2 AS DOUBLE))
                 - 3, 6) AS excess_kurtosis
    FROM central
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness and excess kurtosis per event type — the 3rd/4th
    moments that distinguish 'same mean and variance' distributions
    (heavy tails, asymmetry) and complete the moments family beside
    ``agg_numeric_stats`` and ``agg_exact_correlation``. The 2-decimal
    measure is EXACT in integer cents, all four power sums accumulate
    in 38-digit integers, and the scaled central moments
    A2 = n·S2−S1², A3 = n²·S3−3nS1S2+2S1³,
    A4 = n³·S4−4n²S1S3+6nS1²S2−3S1⁴ satisfy skew = A3/A2^1.5 and
    kurtosis = A4/A2² with every n-power cancelling — so the only
    floats are two final divisions of exact integers (bit-identical
    cross-engine; rounded at 6 dp for the gate). One
    map-side-combinable aggregate; S1⁴ bounds the intermediate at
    ~1e34 at sf0.1 (38-digit headroom; a 100 TB run shards the sums or
    moves to Welford merges, noted here).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("xc"),
    )
    sums = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.expr("CAST(xc AS DECIMAL(38,0)) * xc")).alias("s2"),
        F.sum(F.expr("CAST(xc AS DECIMAL(38,0)) * xc * xc")).alias("s3"),
        F.sum(F.expr("CAST(xc AS DECIMAL(38,0)) * xc * xc * xc")).alias("s4"),
    )
    central = sums.select(
        "event_type",
        "n",
        F.expr("n * s2 - s1 * s1").alias("a2"),
        F.expr("n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1").alias("a3"),
        F.expr(
            "n * n * n * s4 - 4 * n * n * s1 * s3"
            " + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1"
        ).alias("a4"),
    )
    return central.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(
            F.col("a3").cast("double")
            / (F.col("a2").cast("double") * F.sqrt(F.col("a2").cast("double"))),
            6,
        ).alias("skewness"),
        F.round(
            F.col("a4").cast("double")
            / (F.col("a2").cast("double") * F.col("a2").cast("double"))
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_buy
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY 1
    )
    SELECT 'view' AS stage, 1 AS stage_order,
           CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'view>click', 2, CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'view>click>purchase', 3, CAST(count(*) AS BIGINT) FROM p
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ORDERED funnel (view → click → purchase): a user
    counts at each stage only if the steps happened in sequence —
    first view, then a click strictly after it, then a purchase
    strictly after that click (the product-analytics staple;
    ``funnel_signup_to_purchase`` covers the 2-step variant). The
    scalable shape: each stage is one per-user min-timestamp aggregate
    joined to the previous stage's anchor — never a 3-way event
    self-join; at 100 TB every join is user-keyed and stage frames
    shrink monotonically.
    """
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )

    def stage(df: DataFrame, name: str, order: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users")
        ).select(
            F.lit(name).alias("stage"),
            F.lit(order).alias("stage_order"),
            "n_users",
        )

    return (
        stage(v, "view", 1)
        .unionByName(stage(c, "view>click", 2))
        .unionByName(stage(p, "view>click>purchase", 3))
    )


#: Winsorization bounds (percent, rank-crossing on the value histogram).
WINSOR_LO_PCT = 5
WINSOR_HI_PCT = 95


@query(
    "agg_winsorized_mean",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS xc
        FROM events
    ),
    hist AS (
        SELECT event_type, xc, CAST(count(*) AS BIGINT) AS f
        FROM c GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, xc, f,
               sum(f) OVER (PARTITION BY event_type ORDER BY xc
                            ROWS UNBOUNDED PRECEDING) AS cf,
               sum(f) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    bounds AS (
        SELECT event_type,
               min(CASE WHEN 100 * cf >= {WINSOR_LO_PCT} * n THEN xc END)
                   AS lo,
               min(CASE WHEN 100 * cf >= {WINSOR_HI_PCT} * n THEN xc END)
                   AS hi
        FROM cum GROUP BY 1
    ),
    clamped AS (
        SELECT c.event_type,
               CASE WHEN c.xc < b.lo THEN b.lo
                    WHEN c.xc > b.hi THEN b.hi
                    ELSE c.xc END AS xw
        FROM c JOIN bounds b ON b.event_type = c.event_type
    )
    SELECT cl.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(b.lo AS DOUBLE) / 100 AS lower_bound,
           CAST(b.hi AS DOUBLE) / 100 AS upper_bound,
           CAST((2 * sum(cl.xw) + count(*)) // (2 * count(*)) AS DOUBLE)
               / 100 AS winsorized_mean
    FROM clamped cl JOIN bounds b ON b.event_type = cl.event_type
    GROUP BY 1, b.lo, b.hi
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type — the robust-location estimator
    between the raw mean (outlier-hostage) and the median
    (information-discarding): clamp to the exact [p{WINSOR_LO_PCT},
    p{WINSOR_HI_PCT}] bounds, then average. Completes the robust-stats
    family beside exact MAD and Tukey IQR. Bounds come from
    RANK-CROSSING over the per-type value histogram (the
    ``agg_weighted_median`` discipline — no global sort; percentile
    ranks compared by integer cross-multiplication), the clamp is a
    broadcast join of |types| bound rows, and the mean is a half-up
    integer division over exact cents.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("xc")
    )
    hist = ev.groupBy("event_type", "xc").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "xc",
        F.sum("f").over(wcum).alias("cf"),
        F.sum("f").over(wall).alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.min(
            F.when(100 * F.col("cf") >= WINSOR_LO_PCT * F.col("n"), F.col("xc"))
        ).alias("lo"),
        F.min(
            F.when(100 * F.col("cf") >= WINSOR_HI_PCT * F.col("n"), F.col("xc"))
        ).alias("hi"),
    )
    clamped = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.when(F.col("xc") < F.col("lo"), F.col("lo"))
        .when(F.col("xc") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("xc"))
        .alias("xw"),
    )
    return clamped.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "CAST((2 * sum(xw) + count(*)) div (2 * count(*)) AS BIGINT)"
        ).alias("wm_cents"),
    ).select(
        "event_type",
        "n_events",
        (F.col("lo").cast("double") / 100).alias("lower_bound"),
        (F.col("hi").cast("double") / 100).alias("upper_bound"),
        (F.col("wm_cents").cast("double") / 100).alias("winsorized_mean"),
    )


@query(
    "win_retention_halflife",
    oracle="""
    WITH firsts AS (
        SELECT user_id, ts,
               min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ),
    offs AS (
        SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d')
                   AS cohort_week,
               CAST(floor(date_diff('day', date_trunc('week', first_ts),
                                    date_trunc('week', ts)) / 7) AS BIGINT)
                   AS week_offset,
               user_id
        FROM firsts
    ),
    cells AS (
        SELECT cohort_week, week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active
        FROM offs GROUP BY 1, 2
    ),
    sized AS (
        SELECT c.cohort_week, c.week_offset, c.active, s.cohort_size
        FROM cells c
        JOIN (SELECT cohort_week, active AS cohort_size FROM cells
              WHERE week_offset = 0) s
          ON s.cohort_week = c.cohort_week
    ),
    pts AS (
        SELECT cohort_week,
               week_offset AS x,
               CAST(round(ln(CAST(active AS DOUBLE) / cohort_size)
                          * 1000000) AS BIGINT) AS y6
        FROM sized WHERE active > 0
    ),
    fit AS (
        SELECT cohort_week,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y6) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y6) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM pts GROUP BY 1
    )
    SELECT cohort_week, n_points,
           CAST(CAST((2 * (n * sxy - sx * sy) + (n * sxx - sx * sx))
                     // (2 * (n * sxx - sx * sx)) AS BIGINT) AS BIGINT)
               AS slope_micro,
           CASE WHEN (2 * (n * sxy - sx * sy) + (n * sxx - sx * sx))
                     // (2 * (n * sxx - sx * sx)) < 0
                THEN round(ln(2) * 1000000
                           / -CAST((2 * (n * sxy - sx * sy)
                                    + (n * sxx - sx * sx))
                                   // (2 * (n * sxx - sx * sx)) AS DOUBLE),
                           4)
           END AS half_life_weeks
    FROM fit
    WHERE n_points >= 2
    """,
)
def win_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life per signup cohort: fit the exponential-decay
    model ``retention(t) = r0 · 2^(−t/h)`` to each cohort's weekly
    retention curve (``win_cohort_retention``'s matrix) by OLS on
    log-retention, and report the half-life h — the single number
    growth teams track across cohorts ('is retention decaying slower
    for newer cohorts?'). Uses the engine's standard fitting
    discipline (``txt_zipf_slope``/``txt_heaps_law_fit``): log-ratios
    pinned to integer micro-units, 38-digit integer moment sums, one
    integer division for the slope (truncation-consistent for its
    negative values across engines), and the half-life is ln2 over the
    negated exact slope (NULL for non-decaying cohorts — both engines
    decide on the same integer). The fit runs over the
    |cohorts|×|offsets| retention matrix — broadcast-sized; the heavy
    work is the one cohort aggregate underneath.
    """
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("user_id"))
    )
    offs = firsts.select(
        F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        F.floor(
            F.datediff(
                F.date_trunc("week", F.col("ts")),
                F.date_trunc("week", F.col("first_ts")),
            )
            / 7
        )
        .cast("bigint")
        .alias("week_offset"),
        "user_id",
    )
    cells = offs.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").cast("bigint").alias("active")
    )
    sizes = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("active").alias("cohort_size")
    )
    pts = (
        cells.join(F.broadcast(sizes), "cohort_week")
        .filter(F.col("active") > 0)
        .select(
            "cohort_week",
            F.col("week_offset").alias("x"),
            F.expr(
                "CAST(round(ln(CAST(active AS DOUBLE) / cohort_size)"
                " * 1000000) AS BIGINT)"
            ).alias("y6"),
        )
    )
    fit = pts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y6").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y6")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    slope = (
        "CAST((2 * (n * sxy - sx * sy) + (n * sxx - sx * sx))"
        " div (2 * (n * sxx - sx * sx)) AS BIGINT)"
    )
    return fit.filter(F.col("n_points") >= 2).select(
        "cohort_week",
        "n_points",
        F.expr(slope).alias("slope_micro"),
        F.expr(
            f"CASE WHEN {slope} < 0"
            f" THEN round(ln(2) * 1000000 / -CAST({slope} AS DOUBLE), 4)"
            f" END"
        ).alias("half_life_weeks"),
    )


@query(
    "agg_variance_decomposition",
    oracle="""
    WITH c AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                   AS cents
        FROM lineitem
    ),
    g AS (
        SELECT l_returnflag,
               CAST(count(*) AS HUGEINT) AS n_g,
               CAST(sum(cents) AS HUGEINT) AS s_g,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q_g
        FROM c GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS HUGEINT) AS n,
               CAST(sum(s_g) AS HUGEINT) AS s,
               CAST(sum(q_g) AS HUGEINT) AS q,
               CAST(sum(s_g * s_g // n_g) AS HUGEINT) AS sum_sg2_over_ng,
               CAST(count(*) AS BIGINT) AS k_groups
        FROM g
    )
    SELECT k_groups,
           CAST(n AS BIGINT) AS n_rows,
           CAST(q - s * s // n AS BIGINT) AS ss_total_c2,
           CAST(sum_sg2_over_ng - s * s // n AS BIGINT) AS ss_between_c2,
           CAST(q - sum_sg2_over_ng AS BIGINT) AS ss_within_c2,
           CAST((1000000 * (sum_sg2_over_ng - s * s // n))
                // (q - s * s // n) AS BIGINT) AS eta2_micro
    FROM tot
    """,
)
def agg_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA variance decomposition of price by return flag:
    SS_total = SS_between + SS_within via the computational identities
    SS_total = Q − S²/N and SS_between = Σ_g S_g²/n_g − S²/N over
    integer cents (S = Σx, Q = Σx²), with η² = SS_between/SS_total in
    micro-units — the first question of any segmentation analysis
    ("does the grouping explain anything?"; here η² ≈ 0 on TPC-H's
    random flags IS the honest answer the operator exists to reveal).

    Exact-arithmetic discipline: every term is integer cents / cents²
    in 38-digit decimals (Q at 100 TB dwarfs BIGINT), divisions are
    floor (`div` ↔ `//`, identical on non-negatives), applied
    per-group so the only quantization is ≤1 cents² per group —
    deterministic on both engines by construction, the
    `graph_modularity` pattern.

    Scale shape: one map-side-combinable pass to the |groups|-row
    (n, S, Q) census, then pure scalar arithmetic — the textbook
    "sufficient statistics, never the rows twice" aggregate.
    """
    c = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    g = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_g"),
        F.sum("cents").cast("decimal(38,0)").alias("s_g"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("q_g"),
    )
    # floor(x^2 / m) via the exact split identity
    #   floor(x^2/m) = (x div m)*x + floor((x mod m)*x / m)
    # because Spark's `div` (IntegralDivide) ALWAYS returns LONG even on
    # decimal operands: the naive (s*s) div n wraps once the quotient
    # passes 2^63 (observed at sf0.1: 1.68e19 -> negative; the BIGINT
    # output columns still matched the oracle because +/-/x are exact
    # mod 2^64, but the DECIMAL eta2 path exposed the wrap). Every
    # sub-quotient here is bounded by x (fits LONG for any realistic
    # cents sum); the products stay DECIMAL(38,0).
    def _sq_div(x: str, m: str) -> str:
        return (
            f"(CAST(({x} div {m}) AS DECIMAL(38,0)) * {x}"
            f" + (({x} % {m}) * {x}) div {m})"
        )

    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(
            F.expr(f"CAST({_sq_div('s_g', 'n_g')} AS DECIMAL(38,0))")
        ).alias("sum_sg2_over_ng"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
    )
    s2n = _sq_div("s", "n")
    return tot.select(
        "k_groups",
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(f"CAST(q - {s2n} AS BIGINT)").alias("ss_total_c2"),
        F.expr(
            f"CAST(sum_sg2_over_ng - {s2n} AS BIGINT)"
        ).alias("ss_between_c2"),
        F.expr("CAST(q - sum_sg2_over_ng AS BIGINT)").alias("ss_within_c2"),
        # eta2 stays DECIMAL(38,0) end to end (1e6 x SS_between exceeds
        # BIGINT already at cents^2 scale); the final quotient is <= 1e6
        # so ITS LongType result is safe
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            f" * (sum_sg2_over_ng - {s2n}))"
            f" div (q - {s2n}) AS BIGINT)"
        ).alias("eta2_micro"),
    )


@query(
    "dq_join_cardinality_estimate",
    oracle="""
    WITH sel AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(count(*)) OVER () AS BIGINT) AS total_orders
        FROM orders GROUP BY 1
    ),
    act AS (
        SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS actual_rows
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    ),
    nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lineitem FROM lineitem)
    SELECT s.o_orderstatus,
           CAST((nl.n_lineitem * s.n_orders) // s.total_orders AS BIGINT)
               AS est_rows,
           a.actual_rows,
           CAST((1000000 * a.actual_rows)
                // greatest((nl.n_lineitem * s.n_orders) // s.total_orders, 1)
                AS BIGINT) AS actual_over_est_micro
    FROM sel s JOIN act a USING (o_orderstatus), nl
    """,
)
def dq_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit — the query optimizer's core
    guess, made explicit and scored: for each order-status slice,
    estimate |lineitem ⋈ σ_status(orders)| under the textbook
    uniform-FK assumption (|fact| × selectivity) and join the ACTUAL
    count alongside, with actual/estimate in micro-units. The ratio is
    the number a CBO's cost model lives or dies by; skew in lines-per-
    order by status shows up directly as a ratio away from 1e6, telling
    the planner (and the engineer choosing a join strategy by hand)
    exactly where the uniformity assumption lies.

    Scale shape: the estimate side touches only the tiny status census
    and one fact count; the actual side is the FK equi-join priced at
    one shuffle. Integer floor division both sides.
    """
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    sel = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    ).withColumn(
        "total_orders",
        F.sum("n_orders").over(Window.partitionBy()).cast("bigint"),
    )
    act = (
        li.join(o.select("o_orderkey", "o_orderstatus"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("actual_rows"))
    )
    nl = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitem"))
    return (
        sel.join(act, "o_orderstatus")
        .crossJoin(nl)
        .select(
            "o_orderstatus",
            F.expr(
                "CAST((n_lineitem * n_orders) div total_orders AS BIGINT)"
            ).alias("est_rows"),
            "actual_rows",
            # greatest(est, 1): a slice selective enough to floor the
            # estimate to 0 must not divide by zero (Spark's non-ANSI
            # div NULLs, DuckDB errors — a data-dependent parity break)
            F.expr(
                "CAST((1000000 * actual_rows) div "
                "greatest((n_lineitem * n_orders) div total_orders, 1)"
                " AS BIGINT)"
            ).alias("actual_over_est_micro"),
        )
    )


#: Customer table columns audited by the completeness matrix (name →
#: whether a blank-string check applies). One pass computes every cell.
COMPLETENESS_COLS = (
    ("c_name", True),
    ("c_nationkey", False),
    ("c_acctbal", False),
    ("c_mktsegment", True),
)


@query(
    "dq_completeness_matrix",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM customer)
    SELECT col_name, n.n_rows, n_null, n_blank,
           CAST((1000000 * (n.n_rows - n_null - n_blank)) // n.n_rows
                AS BIGINT) AS completeness_micro
    FROM (
        SELECT 'c_name' AS col_name,
               CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN trim(coalesce(c_name, 'x')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
        FROM customer
        UNION ALL
        SELECT 'c_nationkey' AS col_name,
               CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(0 AS BIGINT) AS n_blank
        FROM customer
        UNION ALL
        SELECT 'c_acctbal' AS col_name,
               CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(0 AS BIGINT) AS n_blank
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment' AS col_name,
               CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(sum(CASE WHEN trim(coalesce(c_mktsegment, 'x')) = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
        FROM customer
    ) cells, n
    """,
)
def dq_completeness_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness matrix — the first page of every data-quality
    dashboard (Deequ's ``Completeness`` analyzer, profilers' null
    census): for each audited customer column, the null count, the
    blank-after-trim count (strings only), and the completeness ratio
    in micro-units. Emitted LONG (one row per column) so a dashboard or
    a drift monitor can diff matrices across snapshots without schema
    churn when the audited column set grows.

    Scale shape: ONE aggregation pass computes every (column × metric)
    cell as a conditional sum — map-side combined, no shuffle per
    column, no second scan; the wide→long unpivot happens on the
    1-row aggregate via ``stack``. Integer floor division for the
    ratio (both engines).
    """
    c = read_table(spark, sf_dir, "customer")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for col, is_str in COMPLETENESS_COLS:
        aggs.append(
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"null_{col}")
        )
        blank = (
            F.when(F.trim(F.coalesce(F.col(col), F.lit("x"))) == "", 1)
            .otherwise(0)
            if is_str
            else F.lit(0)
        )
        aggs.append(F.sum(blank).cast("bigint").alias(f"blank_{col}"))
    wide = c.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', null_{col}, blank_{col}" for col, _ in COMPLETENESS_COLS
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(COMPLETENESS_COLS)}, {stack_args})"
            " AS (col_name, n_null, n_blank)"
        ),
    ).select(
        "col_name",
        "n_rows",
        "n_null",
        "n_blank",
        F.expr("(1000000 * (n_rows - n_null - n_blank)) div n_rows")
        .cast("bigint")
        .alias("completeness_micro"),
    )


#: The warehouse's FK graph, audited in one sweep: child table, FK
#: column, parent table, PK column.
FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@query(
    "dq_referential_integrity_sweep",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{child}.{fk}' AS fk_name,
           CAST(count(*) AS BIGINT) AS n_child_rows,
           CAST(sum(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_keys,
           CAST(sum(CASE WHEN {fk} IS NOT NULL AND NOT EXISTS (
                    SELECT 1 FROM {parent} p WHERE p.{pk} = {child}.{fk})
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM {child}"""
        for child, fk, parent, pk in FK_EDGES
    ),
)
def dq_referential_integrity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the WHOLE warehouse FK graph in
    one report — the generalization of `ref_orphan_repair`'s single-FK
    check (and the audit a lakehouse without enforced constraints runs
    nightly): for each declared FK edge, the child row count, null-key
    count, and the count of non-null keys with no parent row. All-zero
    orphan rows are emitted too — the report's value is the ASSERTION,
    not just the violations.

    Scale shape: per edge one LEFT ANTI join against the parent's
    projected PK column (broadcast where the dim is small, shuffled
    hash join for fact-fact; Catalyst picks per AQE stats) reduced to a
    single count — never a row-level materialization of matches; the
    per-edge 1-row summaries union into the report. The whole sweep is
    |edges| independent jobs with no cross-edge shuffle.
    """
    rows = None
    for child, fk, parent, pk in FK_EDGES:
        ch = read_table(spark, sf_dir, child)
        pa = read_table(spark, sf_dir, parent).select(
            F.col(pk).alias("__pk")
        )
        orphans = (
            ch.filter(F.col(fk).isNotNull())
            .select(F.col(fk).alias("__pk"))
            .join(pa, "__pk", "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
        )
        base = ch.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_keys"),
        )
        edge = (
            base.crossJoin(orphans)
            .select(
                F.lit(f"{child}.{fk}").alias("fk_name"),
                "n_child_rows",
                "n_null_keys",
                "n_orphans",
            )
        )
        rows = edge if rows is None else rows.unionByName(edge)
    return rows


@query(
    "agg_theil_index",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    x AS (
        SELECT c.c_nationkey AS nation_key, r.cents
        FROM rev r JOIN customer c ON c.c_custkey = r.o_custkey
    ),
    g AS (
        SELECT nation_key, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS xg
        FROM x GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_customers) AS BIGINT) AS n,
               CAST(sum(xg) AS BIGINT) AS xt
        FROM g
    ),
    terms AS (
        SELECT x.nation_key,
               CAST(round((CAST(x.cents AS DOUBLE) / CAST(g.xg AS DOUBLE))
                    * ln(CAST(x.cents * g.n_customers AS DOUBLE)
                         / CAST(g.xg AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
        FROM x JOIN g USING (nation_key)
    ),
    tw AS (
        SELECT nation_key, CAST(round(sum(term), 6) AS DOUBLE) AS theil_within
        FROM terms GROUP BY 1
    )
    SELECT g.nation_key, g.n_customers, g.xg AS revenue_cents,
           CAST((2 * 1000000 * g.xg + t.xt) // (2 * t.xt) AS BIGINT)
               AS share_micro,
           tw.theil_within,
           CAST(round((CAST(g.xg AS DOUBLE) / CAST(t.xt AS DOUBLE))
                * ln((CAST(g.xg AS DOUBLE) * CAST(t.n AS DOUBLE))
                     / (CAST(g.n_customers AS DOUBLE)
                        * CAST(t.xt AS DOUBLE))), 6)
                AS DOUBLE) AS between_term
    FROM g JOIN tw USING (nation_key), tot t
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue, DECOMPOSED by
    nation — the economist's complement to ``agg_gini_concentration``:
    unlike Gini, Theil splits exactly into a within-group and a
    between-group part (T = Σ_g s_g·T_g + Σ_g s_g·ln(mean_g/mean)), so
    the report answers 'is revenue inequality driven by spread INSIDE
    markets or BETWEEN them' — per nation: the revenue share
    (micro-units, integer half-up), the within-nation Theil, and the
    nation's between-group term.

    Determinism: revenues are exact integer cents; every ln argument is
    a ratio of exact BIGINT products cast to double (identical IEEE
    values both engines), ln is the accepted 6-dp transcendental
    boundary, and per-customer terms are summed as DECIMAL(18,6) —
    exact, order-free — before the final 6-dp round (the
    `smp_dsir_importance` convention).

    Scale shape: one shuffle to customer grain, a broadcast of the
    |nations|-row group aggregate back over it, and a
    map-side-combinable decimal sum per nation — no window, no sort,
    no corpus² anywhere.
    """
    rev = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nation_key")
    )
    x = rev.join(cust, rev.o_custkey == cust.c_custkey).select(
        "nation_key", "cents"
    )
    g = x.groupBy("nation_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("xg"),
    )
    tot = g.agg(
        F.sum("n_customers").cast("bigint").alias("n"),
        F.sum("xg").cast("bigint").alias("xt"),
    )
    term = F.expr(
        "CAST(round((CAST(cents AS DOUBLE) / CAST(xg AS DOUBLE))"
        " * ln(CAST(cents * n_customers AS DOUBLE)"
        "      / CAST(xg AS DOUBLE)), 6) AS DECIMAL(18,6))"
    )
    tw = (
        x.join(F.broadcast(g), "nation_key")
        .select("nation_key", term.alias("term"))
        .groupBy("nation_key")
        .agg(F.round(F.sum("term"), 6).cast("double").alias("theil_within"))
    )
    return (
        g.join(tw, "nation_key")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation_key",
            "n_customers",
            F.col("xg").alias("revenue_cents"),
            F.expr("CAST((2 * 1000000 * xg + xt) div (2 * xt) AS BIGINT)")
            .alias("share_micro"),
            "theil_within",
            F.expr(
                "CAST(round((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE))"
                " * ln((CAST(xg AS DOUBLE) * CAST(n AS DOUBLE))"
                "      / (CAST(n_customers AS DOUBLE)"
                "         * CAST(xt AS DOUBLE))), 6) AS DOUBLE)"
            ).alias("between_term"),
        )
    )


#: As-of match staleness tolerance (days): an order older than this is
#: no longer a valid attribution anchor for the event.
ASOF_TOL_DAYS = 30


@query(
    "asof_tolerance_join",
    oracle=f"""
    WITH tagged AS (
        SELECT o_custkey AS user_id, o_orderdate AS t, o_orderkey,
               NULL::BIGINT AS event_id, 1 AS is_order
        FROM orders
        UNION ALL
        SELECT user_id, ts AS t, NULL::BIGINT AS o_orderkey,
               event_id, 0 AS is_order
        FROM events
    ),
    filled AS (
        SELECT *,
               last_value(CASE WHEN is_order = 1 THEN o_orderkey END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS asof_orderkey,
               last_value(CASE WHEN is_order = 1 THEN t END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t, is_order DESC, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS asof_orderdate
        FROM tagged
    ),
    aged AS (
        SELECT *,
               date_diff('day', CAST(asof_orderdate AS DATE),
                         CAST(t AS DATE)) AS age
        FROM filled WHERE is_order = 0
    )
    SELECT event_id, user_id, t AS ts,
           CASE WHEN asof_orderkey IS NOT NULL
                 AND age <= {ASOF_TOL_DAYS}
                THEN asof_orderkey END AS asof_orderkey_tol,
           CASE WHEN asof_orderkey IS NOT NULL
                 AND age <= {ASOF_TOL_DAYS}
                THEN CAST(age AS BIGINT) END AS age_days,
           (asof_orderkey IS NOT NULL AND age <= {ASOF_TOL_DAYS})
               AS matched
    FROM aged
    """,
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A STALENESS TOLERANCE — pandas
    ``merge_asof(tolerance=...)`` semantics, the variant feature stores
    and attribution pipelines actually deploy: each event takes the
    customer's most recent order at-or-before it ONLY if that order is
    at most {ASOF_TOL_DAYS} days old; a staler match is reported as no
    match (a 9-month-old order must not anchor today's session). Emits
    the match key, the match age in days, and an explicit boolean so
    downstream aggregation can count coverage directly.

    Same scalable union-merge shape as `asof_last_order_before_event`
    (one shuffle on user_id + one per-user sort carrying the last order
    forward — never an inequality join); the tolerance is a post-window
    projection, so the plan cost is identical to the untolerated as-of.
    Age is a calendar-day diff on DATE-cast values, computed identically
    in both engines.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(1).alias("is_order"),
    )
    e = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        "event_id",
        F.lit(0).alias("is_order"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", F.desc("is_order"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    order_key = F.when(F.col("is_order") == 1, F.col("o_orderkey"))
    order_t = F.when(F.col("is_order") == 1, F.col("t"))
    aged = (
        o.unionByName(e)
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            "is_order",
            F.last(order_key, ignorenulls=True).over(w).alias("asof_orderkey"),
            F.last(order_t, ignorenulls=True).over(w).alias("asof_orderdate"),
        )
        .filter(F.col("is_order") == 0)
        .withColumn(
            "age", F.datediff(F.to_date("ts"), F.to_date("asof_orderdate"))
        )
    )
    ok = F.col("asof_orderkey").isNotNull() & (
        F.col("age") <= ASOF_TOL_DAYS
    )
    return aged.select(
        "event_id",
        "user_id",
        "ts",
        F.when(ok, F.col("asof_orderkey")).alias("asof_orderkey_tol"),
        F.when(ok, F.col("age").cast("bigint")).alias("age_days"),
        ok.alias("matched"),
    )


#: Forward-conversion tolerance: a purchase more than this many seconds
#: after the signup is organic, not attributable to it.
ASOF_FWD_TOL_S = 3 * 86400


@query(
    "asof_next_purchase_tolerance",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, ts AS t,
               CAST(epoch_us(ts) AS BIGINT) AS t_us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        FROM events
        WHERE event_type IN ('signup', 'purchase')
    ),
    filled AS (
        SELECT *,
               first_value(CASE WHEN is_p = 1 THEN event_id END
                           IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t_us, is_p DESC, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fw_id,
               first_value(CASE WHEN is_p = 1 THEN t_us END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY t_us, is_p DESC, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fw_us
        FROM tagged
    )
    SELECT event_id, user_id, t AS ts,
           CASE WHEN fw_id IS NOT NULL
                 AND fw_us - t_us <= {ASOF_FWD_TOL_S}000000
                THEN fw_id END AS purchase_event_id,
           CASE WHEN fw_id IS NOT NULL
                 AND fw_us - t_us <= {ASOF_FWD_TOL_S}000000
                THEN (fw_us - t_us) // 1000000 END AS lead_seconds,
           (fw_id IS NOT NULL
            AND fw_us - t_us <= {ASOF_FWD_TOL_S}000000) AS converted
    FROM filled WHERE is_p = 0
    """,
)
def asof_next_purchase_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance — pandas
    ``merge_asof(direction='forward', tolerance=...)`` semantics,
    completing the family's direction axis (backward:
    ``asof_last_order_before_event`` / ``asof_tolerance_join``; nearest:
    ``asof_nearest_order_to_event``): each signup event takes the same
    user's FIRST purchase strictly after it, only if it lands within
    {ASOF_FWD_TOL_S} seconds (3 days) — the "did the touchpoint
    convert, and how fast" join conversion attribution runs (a purchase
    weeks later is organic, not attributable). Emits the matched
    purchase, the exact integer lead time in seconds, and an explicit
    ``converted`` flag (unconverted signups surface with NULLs, never
    vanish).

    Same scalable union-merge shape as the backward variants — both
    roles tagged into one frame, ONE shuffle on user_id, one per-user
    sort, and a ``first(..., ignorenulls)`` over the FOLLOWING frame
    carries the next purchase back; never an inequality join (the
    batch sibling of ``strm_signup_purchase_join``'s interval join).
    The sort key (t_us, is_p DESC, event_id) puts an equal-microsecond
    purchase BEFORE the signup row, so the forward frame sees strictly
    later purchases only (at-or-equal belongs to a backward scan — the
    two directions partition the timeline with no double-claim), and
    ties among simultaneous purchases resolve to the lowest event_id
    in both engines. Lead arithmetic runs in integer microseconds.
    """
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("t"),
            F.unix_micros("ts").alias("t_us"),
            (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        )
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t_us", F.desc("is_p"), "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pid = F.when(F.col("is_p") == 1, F.col("event_id"))
    pus = F.when(F.col("is_p") == 1, F.col("t_us"))
    filled = (
        ev.select(
            "event_id",
            "user_id",
            "t",
            "t_us",
            "is_p",
            F.first(pid, ignorenulls=True).over(wf).alias("fw_id"),
            F.first(pus, ignorenulls=True).over(wf).alias("fw_us"),
        )
        .filter(F.col("is_p") == 0)
    )
    ok = F.col("fw_id").isNotNull() & (
        F.col("fw_us") - F.col("t_us") <= ASOF_FWD_TOL_S * 1_000_000
    )
    return filled.select(
        "event_id",
        "user_id",
        F.col("t").alias("ts"),
        F.when(ok, F.col("fw_id")).alias("purchase_event_id"),
        F.when(ok, F.expr("(fw_us - t_us) div 1000000")).alias(
            "lead_seconds"
        ),
        ok.alias("converted"),
    )


@query(
    "agg_entropy_mix",
    oracle="""
    WITH strata AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(sum(n_docs) AS BIGINT) AS n_source
        FROM strata GROUP BY 1
    ),
    terms AS (
        SELECT s.source, s.lang, s.n_docs, t.n_source,
               CAST(round(-(CAST(s.n_docs AS DOUBLE)
                            / CAST(t.n_source AS DOUBLE))
                    * ln(CAST(s.n_docs AS DOUBLE)
                         / CAST(t.n_source AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS term
        FROM strata s JOIN tot t USING (source)
    )
    SELECT source,
           CAST(max(n_source) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           CAST(round(sum(term), 6) AS DOUBLE) AS lang_entropy_nats
    FROM terms
    GROUP BY source
    """,
)
def agg_entropy_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's LANGUAGE MIX — the diversity
    number a training-mix report quotes next to the raw proportions
    (`smp_mixture_weights` gives the knobs, this gives the one-line
    summary of how balanced each source already is): H = −Σ p·ln p in
    nats over the (source, lang) document census, with the stratum
    count alongside (H = ln(n_langs) means perfectly uniform, 0 means
    monolingual). Temperature sampling (`smp_temperature_sampling`)
    moves exactly this number up toward the uniform bound.

    Determinism: the census is exact integers; each −p·ln p term is the
    accepted 6-dp transcendental boundary summed as DECIMAL (exact,
    order-free) — the `agg_theil_index` convention.

    Scale shape: one map-side-combinable census shuffle, a
    |sources|-row broadcast back, and a tiny-group decimal sum —
    nothing corpus-grain after the first aggregate.
    """
    strata = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    tot = strata.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_source")
    )
    term = F.expr(
        "CAST(round(-(CAST(n_docs AS DOUBLE) / CAST(n_source AS DOUBLE))"
        " * ln(CAST(n_docs AS DOUBLE) / CAST(n_source AS DOUBLE)), 6)"
        " AS DECIMAL(18,6))"
    )
    return (
        strata.join(F.broadcast(tot), "source")
        .select("source", "n_source", term.alias("term"))
        .groupBy("source")
        .agg(
            F.max("n_source").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.round(F.sum("term"), 6).cast("double").alias(
                "lang_entropy_nats"
            ),
        )
    )


#: Candidate functional dependencies the profiler audits: (table,
#: determinant, dependent). Mixes FDs that genuinely hold (key →
#: attribute) with ones expected to fail, so the report exercises both
#: branches.
FD_CANDIDATES = (
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("part", "p_brand", "p_type"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("nation", "n_nationkey", "n_regionkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, det, dep in FD_CANDIDATES:
        parts.append(f"""
    SELECT '{tbl}.{det}->{dep}' AS fd_name,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(max(nd) AS BIGINT) AS max_dep_cardinality,
           CAST((2 * 1000000 *
                 sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS violation_rate_micro
    FROM (SELECT {det}, count(DISTINCT {dep}) AS nd
          FROM {tbl} GROUP BY 1)""")
    return "\nUNION ALL\n".join(parts)


@query("dq_functional_dependency_audit", oracle=_fd_oracle())
def dq_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit — the classic data-profiling
    primitive (Papenbrock et al.'s FD-discovery benchmarks reduce to
    exactly this per-candidate check): for each candidate FD ``det →
    dep``, a group-by on the determinant counts groups where the
    dependent takes more than one distinct value. ``n_violating = 0``
    means the FD holds exactly on this snapshot — the signal a warehouse
    uses to trust a column as a lookup key, plan normalization, or alert
    when an upstream change breaks a previously-stable dependency.

    All-integer output (violation rate in micro-units via the half-up
    integer identity), so the row hashes identically cross-engine.

    Scale shape: one map-side-combinable ``count(DISTINCT dep)``
    aggregate per candidate at determinant grain, each collapsing to a
    single summary row — no joins, no windows, no data-volume-dependent
    second stage. Candidates audit independently (Spark runs the unioned
    branches in parallel stages).
    """
    rows = None
    for tbl, det, dep in FD_CANDIDATES:
        grouped = (
            read_table(spark, sf_dir, tbl)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("bigint")
        summary = grouped.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            viol.alias("n_violating"),
            F.max("nd").cast("bigint").alias("max_dep_cardinality"),
        ).select(
            F.lit(f"{tbl}.{det}->{dep}").alias("fd_name"),
            "n_groups",
            "n_violating",
            "max_dep_cardinality",
            F.expr(
                "CAST((2 * 1000000 * n_violating + n_groups)"
                " div (2 * n_groups) AS BIGINT)"
            ).alias("violation_rate_micro"),
        )
        rows = summary if rows is None else rows.unionByName(summary)
    return rows


@query(
    "agg_chi_square_independence",
    oracle="""
    WITH base AS (
        SELECT c.c_nationkey AS nation_key, o.o_orderpriority AS prio
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    obs AS (
        SELECT nation_key, prio, CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2
    ),
    rt AS (SELECT nation_key, CAST(sum(n) AS BIGINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT prio, CAST(sum(n) AS BIGINT) AS c FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n,
                   CAST(count(DISTINCT nation_key) AS BIGINT) AS n_r,
                   CAST(count(DISTINCT prio) AS BIGINT) AS n_c
            FROM obs),
    grid AS (
        SELECT rt.nation_key, ct.prio, rt.r, ct.c,
               COALESCE(obs.n, 0) AS n
        FROM rt CROSS JOIN ct
        LEFT JOIN obs USING (nation_key, prio)
    ),
    terms AS (
        SELECT CAST(round(
                 CAST(CAST(n * t.big_n - r * c AS HUGEINT)
                      * CAST(n * t.big_n - r * c AS HUGEINT) AS DOUBLE)
                 / CAST(r * c * t.big_n AS DOUBLE), 6)
               AS DECIMAL(18,6)) AS term,
               t.big_n, t.n_r, t.n_c
        FROM grid, tot t
    )
    SELECT max(big_n) AS n_total,
           max(n_r) AS n_nations,
           max(n_c) AS n_priorities,
           (max(n_r) - 1) * (max(n_c) - 1) AS dof,
           CAST(round(sum(term), 6) AS DOUBLE) AS chi2,
           CAST(round(sqrt(CAST(round(sum(term), 6) AS DOUBLE)
                 / (CAST(max(big_n) AS DOUBLE)
                    * CAST(least(max(n_r), max(n_c)) - 1 AS DOUBLE))), 6)
                AS DOUBLE) AS cramers_v
    FROM terms
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer nation
    and order priority, with Cramér's V effect size — the statistician's
    answer to 'does the priority mix differ by market' (a drifted mix is
    an upstream bug or a genuine market effect; either way the warehouse
    flags it). The contingency table is materialized DENSE (all r×c
    cells, zeros included — omitting empty cells biases chi² low), and
    the per-cell statistic uses the all-integer identity
    ``(n·N − r·c)² / (r·c·N)`` so the only floating steps are one exact
    integer→double division rounded to 6 dp per cell (summed as DECIMAL,
    order-free — the `agg_theil_index` convention) and the final sqrt.
    The squared numerator exceeds int64 at sf0.1, so it is squared in
    DECIMAL(38,0)/HUGEINT — exact in both engines, and the exact integer
    rounds to the identical IEEE double.

    Scale shape: ONE map-side-combinable shuffle of the fact join to
    (nation, priority) grain (125 cells); everything after is dim-grain
    arithmetic on broadcast-tiny frames. The r×c grid cross join is
    bounded at |nations|×|priorities| regardless of fact volume
    (BNLJ-allowlisted like the gap-fill grids).
    """
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nation_key")
    )
    base = (
        read_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("nation_key", F.col("o_orderpriority").alias("prio"))
    )
    obs = base.groupBy("nation_key", "prio").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rt = obs.groupBy("nation_key").agg(F.sum("n").cast("bigint").alias("r"))
    ct = obs.groupBy("prio").agg(F.sum("n").cast("bigint").alias("c"))
    tot = obs.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.countDistinct("nation_key").cast("bigint").alias("n_r"),
        F.countDistinct("prio").cast("bigint").alias("n_c"),
    )
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(obs, ["nation_key", "prio"], "left")
        .select("nation_key", "prio", "r", "c", F.coalesce("n", F.lit(0)).alias("n"))
    )
    term = F.expr(
        "CAST(round("
        " CAST(CAST(n * big_n - r * c AS DECIMAL(38,0))"
        "      * CAST(n * big_n - r * c AS DECIMAL(38,0)) AS DOUBLE)"
        " / CAST(r * c * big_n AS DOUBLE), 6) AS DECIMAL(18,6))"
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(term.alias("term"), "big_n", "n_r", "n_c")
        .agg(
            F.max("big_n").alias("n_total"),
            F.max("n_r").alias("n_nations"),
            F.max("n_c").alias("n_priorities"),
            ((F.max("n_r") - 1) * (F.max("n_c") - 1)).alias("dof"),
            F.round(F.sum("term"), 6).cast("double").alias("chi2"),
            F.expr(
                "CAST(round(sqrt(CAST(round(sum(term), 6) AS DOUBLE)"
                " / (CAST(max(big_n) AS DOUBLE)"
                "    * CAST(least(max(n_r), max(n_c)) - 1 AS DOUBLE))), 6)"
                " AS DOUBLE)"
            ).alias("cramers_v"),
        )
    )


#: Range-join incident windows: the top-K busiest event hours, each
#: expanded to a [peak−45min, peak+90min) window. K stays human-scale
#: (an incident list) no matter the event volume.
INCIDENT_TOP_K = 12


@query(
    "jn_time_range_join",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS peak_hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    peaks AS (
        SELECT peak_hour, n FROM hourly
        ORDER BY n DESC, peak_hour LIMIT {INCIDENT_TOP_K}
    ),
    incidents AS (
        SELECT peak_hour,
               peak_hour - INTERVAL 45 MINUTE AS w_start,
               peak_hour + INTERVAL 90 MINUTE AS w_end
        FROM peaks
    ),
    matched AS (
        SELECT i.peak_hour, i.w_start, i.w_end,
               e.event_id, e.user_id, e.value
        FROM incidents i
        JOIN events e
          ON e.ts >= i.w_start AND e.ts < i.w_end
    )
    SELECT peak_hour, w_start, w_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_value_micro
    FROM matched
    GROUP BY 1, 2, 3
    """,
)
def jn_time_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join, bin-and-refine — the scale-safe shape for
    'which events fall inside each incident window'. A naive theta join
    (``ts BETWEEN start AND end``) is a nested-loop at any scale; the
    production plan BINS both sides to the hour — each incident window
    explodes into the ≤3 hour-bins it overlaps, each event carries its
    one hour-bin — and joins on the bin as an EQUI key with the exact
    range predicate as a residual filter. Catalyst gets a hash join
    whose fan-out is bounded by (windows per bin), never |events|×
    |windows|; the same shape handles big×big interval joins by adding
    a shuffle on the bin key. Window grain (45/90 min) is deliberately
    NOT hour-aligned so the residual filter is doing real work.

    The incident list itself derives from the data (top-{INCIDENT_TOP_K}
    busiest hours, count-desc with the hour as tiebreaker) — a dim-grain
    sort on the hourly census, not an event-grain one. Event values are
    summed in exact micro-units.
    """
    ev = read_table(spark, sf_dir, "events").withColumn(
        "hour_bin", F.date_trunc("hour", F.col("ts"))
    )
    hourly = ev.groupBy(F.col("hour_bin").alias("peak_hour")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    peaks = hourly.orderBy(F.desc("n"), "peak_hour").limit(INCIDENT_TOP_K)
    incidents = peaks.select(
        "peak_hour",
        F.expr("peak_hour - INTERVAL 45 MINUTES").alias("w_start"),
        F.expr("peak_hour + INTERVAL 90 MINUTES").alias("w_end"),
    )
    # each [peak−45m, peak+90m) window overlaps exactly the 3 hour bins
    # [peak−1h, peak, peak+1h); exploding the tiny side keeps the join key
    # equi and the small side broadcastable
    binned = incidents.select(
        "peak_hour",
        "w_start",
        "w_end",
        F.explode(
            F.array(
                F.expr("peak_hour - INTERVAL 1 HOUR"),
                F.col("peak_hour"),
                F.expr("peak_hour + INTERVAL 1 HOUR"),
            )
        ).alias("hour_bin"),
    )
    matched = ev.join(
        binned,
        on=[
            ev.hour_bin == binned.hour_bin,
            ev.ts >= binned.w_start,
            ev.ts < binned.w_end,
        ],
    )
    return matched.groupBy("peak_hour", "w_start", "w_end").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
        ).cast("bigint").alias("sum_value_micro"),
    )


def _signed_half_up(num: str, den: str, scale: int, div: str) -> str:
    """Round-half-away-from-zero of scale*num/den (den > 0) in pure
    integer arithmetic, OVERFLOW-SAFE for large numerators: the plain
    ``(2·s·num + den) div (2·den)`` identity multiplies the full
    numerator by 2·s (wraps INT64 once |num| > ~4.6e12 at s=1e6 — hit
    by the OLS sums at sf0.1), so first split ``num = q·den + r`` with
    truncating division (|r| < den, r carries num's sign) and round
    only the remainder term: ``s·q + half_away(s·r/den)`` — exactly
    equal to half-away(s·num/den) because s·q is integral. The
    remainder identity is half-up only for r ≥ 0 (``div``/``//``
    truncate toward zero, not floor), so the negative branch mirrors on
    |r| and negates — identical in Spark (``div``) and DuckDB (``//``)."""
    q = f"(({num}) {div} ({den}))"
    r = f"(({num}) - {q} * ({den}))"
    pos = f"(2 * {scale} * {r} + ({den})) {div} (2 * ({den}))"
    neg = f"-((2 * {scale} * (-{r}) + ({den})) {div} (2 * ({den})))"
    return (
        f"({scale} * {q}"
        f" + CASE WHEN {r} >= 0 THEN {pos} ELSE {neg} END)"
    )


@query(
    "ts_theil_sen_trend",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT ym, cents,
               row_number() OVER (ORDER BY ym) - 1 AS i
        FROM monthly
    ),
    slopes AS (
        SELECT a.i AS i1, b.i AS i2,
               CAST({_signed_half_up("b.cents - a.cents", "b.i - a.i",
                                     1_000_000, "//")} AS BIGINT)
                   AS slope_micro
        FROM idx a JOIN idx b ON b.i > a.i
    ),
    med AS (
        SELECT slope_micro AS theil_sen_slope_micro,
               CAST(n AS BIGINT) AS n_pairs
        FROM (SELECT *, row_number() OVER
                        (ORDER BY slope_micro, i1, i2) AS rn,
                     count(*) OVER () AS n
              FROM slopes) t
        WHERE rn = (n + 1) // 2
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(i) AS BIGINT) AS sx,
               CAST(sum(cents) AS BIGINT) AS sy,
               CAST(sum(i * cents) AS BIGINT) AS sxy,
               CAST(sum(i * i) AS BIGINT) AS sxx
        FROM idx
    )
    SELECT s.n AS n_months, m.n_pairs, m.theil_sen_slope_micro,
           CAST({_signed_half_up("s.n * s.sxy - s.sx * s.sy",
                                 "s.n * s.sxx - s.sx * s.sx",
                                 1_000_000, "//")} AS BIGINT)
               AS ols_slope_micro
    FROM med m, sums s
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly revenue — the median of all
    pairwise month-to-month slopes (Sen 1968), reported next to the OLS
    slope from the same series: a large gap between the two IS the
    outlier diagnostic (OLS chases the outlier months, the median slope
    ignores up to ~29% contamination). Slopes are exact integer
    micro-cents-per-month (signed half-up identity — ``div`` truncates
    toward zero, so the negative branch mirrors on |num|); the median is
    the deterministic lower median with (slope, i1, i2) tiebreak.

    Scale shape: everything after the ONE fact shuffle (orders → month
    grain) is CALENDAR-grain: the pair space is months² — bounded by
    the calendar span, independent of fact volume (80 months of TPC-H
    dates → 3160 pairs; a 30-year warehouse → 64k — trivial forever),
    so the unpartitioned median sort is over a provably tiny set, the
    documented acceptable window class. OLS sums are one
    map-side-combinable aggregate over the same month frame.
    """
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    idx = monthly.withColumn(
        "i", F.row_number().over(Window.orderBy("ym")) - 1
    )
    a = idx.select(F.col("i").alias("i1"), F.col("cents").alias("c1"))
    b = idx.select(F.col("i").alias("i2"), F.col("cents").alias("c2"))
    slopes = (
        a.join(b, F.col("i2") > F.col("i1"))
        .select(
            "i1",
            "i2",
            F.expr(
                _signed_half_up("c2 - c1", "i2 - i1", 1_000_000, "div")
            )
            .cast("bigint")
            .alias("slope_micro"),
        )
    )
    w_rank = Window.orderBy("slope_micro", "i1", "i2")
    w_all = Window.partitionBy()
    med = (
        slopes.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(
            F.col("slope_micro").alias("theil_sen_slope_micro"),
            F.col("n").cast("bigint").alias("n_pairs"),
        )
    )
    sums = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("i").cast("bigint").alias("sx"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("sxy"),
        F.sum(F.col("i") * F.col("i")).cast("bigint").alias("sxx"),
    )
    return med.crossJoin(sums).select(
        F.col("n").alias("n_months"),
        "n_pairs",
        "theil_sen_slope_micro",
        F.expr(
            _signed_half_up(
                "n * sxy - sx * sy", "n * sxx - sx * sx", 1_000_000, "div"
            )
        )
        .cast("bigint")
        .alias("ols_slope_micro"),
    )


#: Mann–Whitney samples: compare order values between these two
#: priority classes. Shard span for the two-pass distributed ranking
#: (contiguous $10k value bands).
MWU_X_PRIO = "1-URGENT"
MWU_Y_PRIO = "5-LOW"
MWU_SHARD_SPAN_CENTS = 1_000_000


@query(
    "agg_mann_whitney_u",
    oracle=f"""
    WITH two AS (
        SELECT CASE WHEN o_orderpriority = '{MWU_X_PRIO}' THEN 1 ELSE 0 END
                   AS is_x,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('{MWU_X_PRIO}', '{MWU_Y_PRIO}')
    ),
    census AS (
        SELECT cents,
               CAST(sum(is_x) AS BIGINT) AS nx,
               CAST(sum(1 - is_x) AS BIGINT) AS ny,
               CAST(count(*) AS BIGINT) AS nv
        FROM two GROUP BY 1
    ),
    pre AS (
        SELECT *,
               sum(nv) OVER (ORDER BY cents) - nv AS nlt_all,
               sum(ny) OVER (ORDER BY cents) - ny AS ny_lt
        FROM census
    ),
    s AS (
        SELECT CAST(sum(nx) AS BIGINT) AS n_x,
               CAST(sum(ny) AS BIGINT) AS n_y,
               CAST(sum(nx * (2 * ny_lt + ny)) AS BIGINT) AS u2_x,
               CAST(sum(nx * (2 * nlt_all + nv + 1)) AS BIGINT) AS r2_x,
               CAST(sum(nv * nv * nv - nv) AS BIGINT) AS ties3
        FROM pre
    )
    SELECT n_x, n_y, u2_x, r2_x, ties3,
           CAST({_signed_half_up("u2_x - n_x * n_y", "n_x * n_y",
                                 1_000_000, "//")} AS BIGINT)
               AS rank_biserial_micro,
           round(CAST(u2_x - n_x * n_y AS DOUBLE)
                 / (2.0 * sqrt(
                     CAST(CAST(n_x AS HUGEINT) * n_y
                          * (CAST(n_x + n_y + 1 AS HUGEINT)
                             * (n_x + n_y) * (n_x + n_y - 1) - ties3)
                          AS DOUBLE)
                     / CAST(12 * CAST(n_x + n_y AS HUGEINT)
                            * (n_x + n_y - 1) AS DOUBLE))), 6) AS z_score
    FROM s
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: are '{MWU_X_PRIO}' order values
    stochastically larger than '{MWU_Y_PRIO}' ones? The nonparametric
    two-sample test a warehouse reaches for when value distributions
    are heavy-tailed (here: doubled U statistic and rank sum — 2×
    scaling keeps tied average-ranks integral — the tie-corrected
    normal z, and the rank-biserial effect size).

    The scale story is the DISTRIBUTED TIE-AWARE RANKING: a global rank
    window would funnel the fact stream through one partition, so ranks
    come from the `smp_systematic_resample` two-pass plan instead —
    value census (one shuffle to distinct-value grain), contiguous
    value shards' partial sums, an exclusive prefix over the tiny
    shard-grain frame, broadcast offsets back, and per-shard
    cumulative windows (every window partitioned). From the per-value
    frame the U/R/tie sums are one map-side-combinable aggregate.

    Determinism: everything through the effect size is exact integer
    (2×-scaled ranks absorb .5 tie-averages; the half-up identity for
    the micro effect size); the z-score's variance assembles from
    exact DECIMAL(38,0)/HUGEINT integers cast once to double — int128
    headroom holds to ~sf50 — with sqrt as the accepted 6-dp boundary.
    (The effect-size micro-rounding stays int64 — headroom to ~sf5;
    past that, widen its identity to the same int128 path.)
    """
    pr = F.col("o_orderpriority")
    two = (
        read_table(spark, sf_dir, "orders")
        .filter(pr.isin(MWU_X_PRIO, MWU_Y_PRIO))
        .select(
            F.when(pr == MWU_X_PRIO, 1).otherwise(0).alias("is_x"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    census = two.groupBy("cents").agg(
        F.sum("is_x").cast("bigint").alias("nx"),
        F.sum(1 - F.col("is_x")).cast("bigint").alias("ny"),
        F.count(F.lit(1)).cast("bigint").alias("nv"),
    ).withColumn("shard", F.expr(f"cents div {MWU_SHARD_SPAN_CENTS}"))
    shard_tot = census.groupBy("shard").agg(
        F.sum("nv").alias("s_nv"), F.sum("ny").alias("s_ny")
    )
    w_shard = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = shard_tot.select(
        "shard",
        (F.sum("s_nv").over(w_shard) - F.col("s_nv")).alias("off_nv"),
        (F.sum("s_ny").over(w_shard) - F.col("s_ny")).alias("off_ny"),
    )
    in_shard = Window.partitionBy("shard").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = census.join(F.broadcast(offs), "shard").select(
        "nx",
        "ny",
        "nv",
        (F.col("off_nv") + F.sum("nv").over(in_shard) - F.col("nv")).alias(
            "nlt_all"
        ),
        (F.col("off_ny") + F.sum("ny").over(in_shard) - F.col("ny")).alias(
            "ny_lt"
        ),
    )
    s = pre.agg(
        F.sum("nx").cast("bigint").alias("n_x"),
        F.sum("ny").cast("bigint").alias("n_y"),
        F.sum(F.col("nx") * (2 * F.col("ny_lt") + F.col("ny")))
        .cast("bigint")
        .alias("u2_x"),
        F.sum(F.col("nx") * (2 * F.col("nlt_all") + F.col("nv") + 1))
        .cast("bigint")
        .alias("r2_x"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("bigint")
        .alias("ties3"),
    )
    return s.select(
        "n_x",
        "n_y",
        "u2_x",
        "r2_x",
        "ties3",
        F.expr(
            "CAST("
            + _signed_half_up(
                "u2_x - n_x * n_y", "n_x * n_y", 1_000_000, "div"
            )
            + " AS BIGINT)"
        ).alias("rank_biserial_micro"),
        F.expr(
            "round(CAST(u2_x - n_x * n_y AS DOUBLE)"
            " / (2.0 * sqrt("
            "   CAST(CAST(n_x AS DECIMAL(38,0)) * n_y"
            "        * (CAST(n_x + n_y + 1 AS DECIMAL(38,0))"
            "           * (n_x + n_y) * (n_x + n_y - 1) - ties3)"
            "        AS DOUBLE)"
            "   / CAST(12 * CAST(n_x + n_y AS DECIMAL(38,0))"
            "          * (n_x + n_y - 1) AS DOUBLE))), 6)"
        ).alias("z_score"),
    )


def _welch_exprs() -> list:
    """Shared ANSI tail for the Welch t-test: pure double arithmetic
    over the EXACT int128 sums (n, sx, sxx per group) — identical
    operation order in both engines, so bit-identical results; the
    single sqrt and the two 6-dp rounds are the accepted boundary."""
    vx = (
        "(CAST(nx * sxx_x - sx_x * sx_x AS DOUBLE)"
        " / CAST(nx * (nx - 1) AS DOUBLE))"
    )
    vy = (
        "(CAST(ny * sxx_y - sx_y * sx_y AS DOUBLE)"
        " / CAST(ny * (ny - 1) AS DOUBLE))"
    )
    se2 = f"({vx} / CAST(nx AS DOUBLE) + {vy} / CAST(ny AS DOUBLE))"
    t = (
        f"round((CAST(sx_x AS DOUBLE) / CAST(nx AS DOUBLE)"
        f" - CAST(sx_y AS DOUBLE) / CAST(ny AS DOUBLE))"
        f" / sqrt({se2}), 6)"
    )
    df = (
        f"round({se2} * {se2}"
        f" / (({vx} / CAST(nx AS DOUBLE)) * ({vx} / CAST(nx AS DOUBLE))"
        f"     / CAST(nx - 1 AS DOUBLE)"
        f"   + ({vy} / CAST(ny AS DOUBLE)) * ({vy} / CAST(ny AS DOUBLE))"
        f"     / CAST(ny - 1 AS DOUBLE)), 6)"
    )
    return [
        "CAST(nx AS BIGINT) AS n_x",
        "CAST(ny AS BIGINT) AS n_y",
        "CAST((2 * 10000 * sx_x + nx) {d} (2 * nx) AS BIGINT)"
        " AS mean_x_micro",
        "CAST((2 * 10000 * sx_y + ny) {d} (2 * ny) AS BIGINT)"
        " AS mean_y_micro",
        f"{t} AS t_stat",
        f"{df} AS welch_df",
    ]


@query(
    "agg_welch_ttest",
    oracle=f"""
    WITH two AS (
        SELECT CASE WHEN o_orderpriority = '{MWU_X_PRIO}' THEN 1 ELSE 0 END
                   AS is_x,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('{MWU_X_PRIO}', '{MWU_Y_PRIO}')
    ),
    s AS (
        SELECT CAST(sum(is_x) AS HUGEINT) AS nx,
               CAST(sum(1 - is_x) AS HUGEINT) AS ny,
               CAST(sum(is_x * cents) AS HUGEINT) AS sx_x,
               CAST(sum((1 - is_x) * cents) AS HUGEINT) AS sx_y,
               sum(is_x * CAST(cents AS HUGEINT) * cents) AS sxx_x,
               sum((1 - is_x) * CAST(cents AS HUGEINT) * cents) AS sxx_y
        FROM two
    )
    SELECT {", ".join(e.format(d="//") for e in _welch_exprs())}
    FROM s
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the same two order-priority
    samples as `agg_mann_whitney_u` — the parametric companion (means
    rather than ranks; Welch 1947 with the Satterthwaite df): a
    mean-vs-rank disagreement between the two tests is itself the
    heavy-tail diagnostic. Emits group sizes, the half-up micro-unit
    means, the t statistic and the fractional Welch degrees of freedom.

    Determinism: ONE pass accumulates exact integer (n, Σx, Σx²) per
    group — Σx² in int128 (DECIMAL(38,0)/HUGEINT; cents² already wraps
    int64 at sf0.1) — then every floating step is the SAME ANSI
    expression string evaluated over those exact integers in both
    engines (identical op order → identical doubles), with sqrt and
    the final 6-dp rounds as the accepted boundary.

    Scale shape: one map-side-combinable aggregate to a single row;
    nothing downstream exceeds constant size. The statistics textbook
    runs in the same single shuffle any global sum does.
    """
    pr = F.col("o_orderpriority")
    two = (
        read_table(spark, sf_dir, "orders")
        .filter(pr.isin(MWU_X_PRIO, MWU_Y_PRIO))
        .select(
            F.when(pr == MWU_X_PRIO, 1).otherwise(0).alias("is_x"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    s = two.agg(
        F.sum("is_x").cast("decimal(38,0)").alias("nx"),
        F.sum(1 - F.col("is_x")).cast("decimal(38,0)").alias("ny"),
        F.sum(F.col("is_x") * F.col("cents")).cast("decimal(38,0)").alias("sx_x"),
        F.sum((1 - F.col("is_x")) * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sx_y"),
        F.sum(
            F.col("is_x") * F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("sxx_x"),
        F.sum(
            (1 - F.col("is_x"))
            * F.col("cents").cast("decimal(38,0)")
            * F.col("cents")
        ).alias("sxx_y"),
    )
    # Spark `div` needs integral operands — rebind the two micro-mean
    # identities over BIGINT casts of the (int64-safe) n and Σx sums
    exprs = [
        e.format(d="div")
        .replace(
            "(2 * 10000 * sx_x + nx) div (2 * nx)",
            "(2 * 10000 * CAST(sx_x AS BIGINT) + CAST(nx AS BIGINT))"
            " div (2 * CAST(nx AS BIGINT))",
        )
        .replace(
            "(2 * 10000 * sx_y + ny) div (2 * ny)",
            "(2 * 10000 * CAST(sx_y AS BIGINT) + CAST(ny AS BIGINT))"
            " div (2 * CAST(ny AS BIGINT))",
        )
        for e in _welch_exprs()
    ]
    return s.selectExpr(*exprs)


#: Holt's linear (double exponential) smoothing with exact-half
#: coefficients: α = β = 1/2, so every update is one integer addition
#: and one truncating halving — bit-identical in both engines.
HOLT_FORECAST_H = 3

_HOLT_STEP = (
    "named_struct("
    "'l', (y + acc.l + acc.b) div 2, "
    "'b', (((y + acc.l + acc.b) div 2) - acc.l + acc.b) div 2)"
)


@query(
    "ts_holt_linear_forecast",
    oracle="""
    WITH RECURSIVE monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT ym, cents, row_number() OVER (ORDER BY ym) AS i FROM monthly
    ),
    rec AS (
        SELECT 2 AS i,
               (SELECT cents FROM idx WHERE i = 1) AS l,
               (SELECT cents FROM idx WHERE i = 2)
               - (SELECT cents FROM idx WHERE i = 1) AS b
        UNION ALL
        SELECT r.i + 1,
               (x.cents + r.l + r.b) // 2,
               (((x.cents + r.l + r.b) // 2) - r.l + r.b) // 2
        FROM rec r JOIN idx x ON x.i = r.i + 1
    )
    SELECT CAST((SELECT max(i) FROM idx) AS BIGINT) AS n_months,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(l + 1 * b AS BIGINT) AS forecast_1_cents,
           CAST(l + 2 * b AS BIGINT) AS forecast_2_cents,
           CAST(l + 3 * b AS BIGINT) AS forecast_3_cents
    FROM rec WHERE i = (SELECT max(i) FROM idx)
    """,
)
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double) exponential smoothing over the
    monthly revenue series, with a {HOLT_FORECAST_H}-step-ahead
    forecast — the level+trend forecaster one rung above
    `ts_ewma_hourly_value`'s level-only EWMA (Holt 1957). Coefficients
    are pinned at the exact halves α = β = ½, so the entire recursion
    is integer adds and truncating halvings — deterministic to the bit
    in both engines with NO rounding boundary at all (truncation
    toward zero is identical for Spark ``div`` and DuckDB ``//``).

    Engine-specific evaluation, identical arithmetic: Spark runs the
    recursion as ONE ``aggregate()`` fold over the collected
    month-array — executor-side whole-stage codegen, no driver loop,
    no per-step shuffle; the oracle runs the same recurrence as a
    recursive CTE. An inherently sequential scan-order recursion is
    the documented boundary of what a shuffle can parallelize — the
    right distributed shape is exactly this: reduce the fact table to
    the calendar-grain series (one shuffle), then fold the tiny series
    in one task.
    """
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    arr = monthly.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ym, cents))),"
            " x -> x.cents)"
        ).alias("ys")
    )
    folded = arr.select(
        F.size("ys").cast("bigint").alias("n_months"),
        F.expr(
            "aggregate(slice(ys, 3, size(ys) - 2),"
            " named_struct('l', ys[0], 'b', ys[1] - ys[0]),"
            f" (acc, y) -> {_HOLT_STEP},"
            " acc -> acc)"
        ).alias("st"),
    )
    return folded.select(
        "n_months",
        F.col("st.l").cast("bigint").alias("level_cents"),
        F.col("st.b").cast("bigint").alias("trend_cents"),
        *[
            (F.col("st.l") + h * F.col("st.b"))
            .cast("bigint")
            .alias(f"forecast_{h}_cents")
            for h in range(1, HOLT_FORECAST_H + 1)
        ],
    )


#: Tables covered by the content fingerprint, with their canonical
#: per-row rendering (exact integers and fixed-format timestamps only —
#: no raw doubles in the hashed string).
FP_MODULUS = 281474976710656  # 2^48


def _fp_specs() -> tuple[tuple[str, str], ...]:
    cents = "CAST(floor({c} * 100 + 0.5) AS BIGINT)"
    return (
        (
            "orders",
            "concat_ws('|', o_orderkey, o_orderstatus, "
            + cents.format(c="o_totalprice")
            + ", date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss'),"
            " o_orderpriority, o_custkey)",
        ),
        (
            "customer",
            "concat_ws('|', c_custkey, c_name, c_nationkey, "
            + cents.format(c="c_acctbal")
            + ", c_mktsegment)",
        ),
        (
            "nation",
            "concat_ws('|', n_nationkey, n_name, n_regionkey)",
        ),
    )


def _fp_oracle() -> str:
    parts = []
    for tbl, expr in _fp_specs():
        canon = expr.replace(
            "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')",
            "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
        )
        parts.append(f"""
    SELECT '{tbl}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(('0x' || substr(md5({canon}), 1, 12))::BIGINT
                         AS HUGEINT)) % {FP_MODULUS} AS BIGINT)
               AS fingerprint
    FROM {tbl}""")
    return "\nUNION ALL\n".join(parts)


@query("dq_table_fingerprint", oracle=_fp_oracle())
def dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table content fingerprint — the one-number
    replication check a warehouse runs after a migration, backfill, or
    engine swap (it is the same construction this repo's own external
    gate uses): each row renders to a CANONICAL string (exact integer
    cents, fixed-format timestamps — never a raw double's display
    form), hashes through md5, and the per-row 48-bit hash integers
    sum exactly (DECIMAL(38,0)/HUGEINT) before a final modulus. Any
    single changed/missing/duplicated row moves the fingerprint;
    commutative addition makes it partition-order-proof by
    construction.

    Scale shape: one narrow map per table (render + hash) feeding a
    map-side-combinable global sum — the cheapest possible full-table
    verification; tables audit in parallel stages.
    """
    rows = None
    for tbl, expr in _fp_specs():
        t = read_table(spark, sf_dir, tbl)
        h = F.expr(
            f"CAST(conv(substring(md5({expr}), 1, 12), 16, 10) AS BIGINT)"
        )
        one = t.select(h.alias("h")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr(
                f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {FP_MODULUS}"
                " AS BIGINT)"
            ).alias("fingerprint"),
        ).select(
            F.lit(tbl).alias("table_name"), "n_rows", "fingerprint"
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


#: Kruskal–Wallis groups: the five order-priority classes (k-sample
#: extension of the Mann–Whitney pair above). Shard span for the
#: two-pass distributed ranking (contiguous $10k value bands).
KW_SHARD_SPAN_CENTS = 1_000_000


@query(
    "agg_kruskal_wallis",
    oracle=f"""
    WITH vals AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    census_v AS (
        SELECT cents, CAST(count(*) AS BIGINT) AS nv
        FROM vals GROUP BY 1
    ),
    ranked AS (
        SELECT cents, nv,
               2 * (sum(nv) OVER (ORDER BY cents) - nv) + nv + 1 AS rank2
        FROM census_v
    ),
    census_g AS (
        SELECT grp, cents, CAST(count(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(sum(nv) AS BIGINT) AS n_total,
               CAST(sum(nv * nv * nv - nv) AS BIGINT) AS ties3
        FROM census_v
    ),
    grp_stats AS (
        SELECT g.grp AS priority,
               CAST(sum(g.cnt) AS BIGINT) AS n_g,
               CAST(sum(g.cnt * r.rank2) AS BIGINT) AS r2_g
        FROM census_g g JOIN ranked r USING (cents)
        GROUP BY 1
    ),
    contrib AS (
        SELECT priority, n_g, r2_g,
               CAST(r2_g - n_g * (t.n_total + 1) AS BIGINT) AS dev2x,
               CAST(round(
                   3.0 * CAST(r2_g - n_g * (t.n_total + 1) AS DOUBLE)
                       * CAST(r2_g - n_g * (t.n_total + 1) AS DOUBLE)
                   / (CAST(n_g AS DOUBLE)
                      * CAST(t.n_total AS DOUBLE)
                      * CAST(t.n_total + 1 AS DOUBLE)
                      * CAST(t.n_total + 1 AS DOUBLE)), 6)
                 AS DECIMAL(38,6)) AS h_contrib
        FROM grp_stats, tot t
    ),
    h AS (
        SELECT CAST(sum(h_contrib) AS DECIMAL(38,6)) AS h_raw FROM contrib
    )
    SELECT c.priority, c.n_g, c.r2_g, c.dev2x,
           CAST(c.h_contrib AS DOUBLE) AS h_contrib,
           t.n_total, t.ties3,
           round(CAST(h.h_raw AS DOUBLE)
                 * CAST(CAST(t.n_total AS HUGEINT) * t.n_total * t.n_total
                        - t.n_total AS DOUBLE)
                 / CAST(CAST(t.n_total AS HUGEINT) * t.n_total * t.n_total
                        - t.n_total - t.ties3 AS DOUBLE), 6) AS h_stat
    FROM contrib c, tot t, h
    """,
)
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H: do order values differ across ALL five priority
    classes at once? The k-sample generalization of `agg_mann_whitney_u`
    (one-way ANOVA on ranks — the robust first test when value
    distributions are heavy-tailed). Emits one row per priority with its
    exact integer sufficient statistics (group size, doubled rank sum,
    doubled deviation from the expected rank sum) plus the tie-corrected
    H repeated for dashboard joins.

    Ranking reuses the DISTRIBUTED two-pass plan (value census → shard
    partial sums → broadcast offsets → partitioned cumulative windows):
    no fact row ever crosses a single-partition window. Group rank sums
    are one map-side-combinable aggregate over the distinct-value frame
    joined to the tiny per-(group,value) census.

    Determinism: 2×-scaled ranks keep tied average-ranks integral; each
    group's H contribution is a single double expression with identical
    operation order in both engines, rounded to 6 dp and summed as
    EXACT DECIMAL(38,6) (order-free — the `agg_theil_index` pattern),
    so the only float boundary is per-term; the tie-correction factor
    assembles from exact int128 cubes.
    """
    vals = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    census_v = (
        vals.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
        .withColumn("shard", F.expr(f"cents div {KW_SHARD_SPAN_CENTS}"))
    )
    shard_tot = census_v.groupBy("shard").agg(F.sum("nv").alias("s_nv"))
    w_shard = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = shard_tot.select(
        "shard",
        (F.sum("s_nv").over(w_shard) - F.col("s_nv")).alias("off_nv"),
    )
    in_shard = Window.partitionBy("shard").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = census_v.join(F.broadcast(offs), "shard").select(
        "cents",
        "nv",
        (
            2 * (F.col("off_nv") + F.sum("nv").over(in_shard) - F.col("nv"))
            + F.col("nv")
            + 1
        ).alias("rank2"),
    )
    census_g = vals.groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = census_v.agg(
        F.sum("nv").cast("bigint").alias("n_total"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast("bigint")
        .alias("ties3"),
    )
    grp_stats = (
        census_g.join(ranked, "cents")
        .groupBy(F.col("grp").alias("priority"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            F.sum(F.col("cnt") * F.col("rank2")).cast("bigint").alias("r2_g"),
        )
    )
    contrib = grp_stats.crossJoin(tot).select(
        "priority",
        "n_g",
        "r2_g",
        F.expr("CAST(r2_g - n_g * (n_total + 1) AS BIGINT)").alias("dev2x"),
        F.expr(
            "CAST(round("
            "  3.0 * CAST(r2_g - n_g * (n_total + 1) AS DOUBLE)"
            "      * CAST(r2_g - n_g * (n_total + 1) AS DOUBLE)"
            "  / (CAST(n_g AS DOUBLE) * CAST(n_total AS DOUBLE)"
            "     * CAST(n_total + 1 AS DOUBLE)"
            "     * CAST(n_total + 1 AS DOUBLE)), 6) AS DECIMAL(38,6))"
        ).alias("h_contrib"),
        "n_total",
        "ties3",
    )
    h = contrib.agg(
        F.expr("CAST(sum(h_contrib) AS DECIMAL(38,6))").alias("h_raw")
    )
    return contrib.crossJoin(h).select(
        "priority",
        "n_g",
        "r2_g",
        "dev2x",
        F.col("h_contrib").cast("double").alias("h_contrib"),
        "n_total",
        "ties3",
        F.expr(
            "round(CAST(h_raw AS DOUBLE)"
            " * CAST(CAST(n_total AS DECIMAL(38,0)) * n_total * n_total"
            "        - n_total AS DOUBLE)"
            " / CAST(CAST(n_total AS DECIMAL(38,0)) * n_total * n_total"
            "        - n_total - ties3 AS DOUBLE), 6)"
        ).alias("h_stat"),
    )


@query(
    "agg_kendall_tau",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT ym, n_orders, cents,
               row_number() OVER (ORDER BY ym) AS i
        FROM monthly
    ),
    pairs AS (
        SELECT CASE WHEN (b.n_orders - a.n_orders) * (b.cents - a.cents) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (b.n_orders - a.n_orders) * (b.cents - a.cents) < 0
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN b.n_orders = a.n_orders THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN b.cents = a.cents THEN 1 ELSE 0 END AS tie_y
        FROM idx a JOIN idx b ON b.i > a.i
    )
    SELECT CAST((SELECT count(*) FROM idx) AS BIGINT) AS n_months,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(sum(disc) AS BIGINT) AS discordant,
           CAST(sum(tie_x) AS BIGINT) AS ties_x,
           CAST(sum(tie_y) AS BIGINT) AS ties_y,
           round(CAST(sum(conc) - sum(disc) AS DOUBLE)
                 / sqrt(CAST(count(*) - sum(tie_x) AS DOUBLE)
                        * CAST(count(*) - sum(tie_y) AS DOUBLE)), 6)
               AS tau_b
    FROM pairs
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between monthly order VOLUME and
    monthly REVENUE — the robust monotone-association measure (does more
    orders reliably mean more revenue, outliers ignored?) with the
    standard tie correction in the denominator. Concordant, discordant
    and tied pair counts are exact integers; only the final tau-b (one
    sqrt) is a rounded double — identical expression order both engines.

    Scale shape: the `ts_theil_sen_trend` pattern — ONE fact shuffle to
    month grain, then the pair space is months² (calendar-bounded, ~80
    months → 3160 pairs; independent of fact volume), so the quadratic
    stage is provably tiny forever and the pair join is broadcast-sized.
    """
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents"),
        )
    )
    idx = monthly.withColumn("i", F.row_number().over(Window.orderBy("ym")))
    a = idx.select(
        F.col("i").alias("i1"),
        F.col("n_orders").alias("x1"),
        F.col("cents").alias("y1"),
    )
    b = idx.select(
        F.col("i").alias("i2"),
        F.col("n_orders").alias("x2"),
        F.col("cents").alias("y2"),
    )
    pairs = a.join(b, F.col("i2") > F.col("i1")).select(
        F.when((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
        F.when((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1")) < 0, 1)
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("x2") == F.col("x1"), 1).otherwise(0).alias("tie_x"),
        F.when(F.col("y2") == F.col("y1"), 1).otherwise(0).alias("tie_y"),
    )
    n_months = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("conc").cast("bigint").alias("concordant"),
            F.sum("disc").cast("bigint").alias("discordant"),
            F.sum("tie_x").cast("bigint").alias("ties_x"),
            F.sum("tie_y").cast("bigint").alias("ties_y"),
        )
        .crossJoin(n_months)
        .select(
            "n_months",
            "n_pairs",
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
            F.expr(
                "round(CAST(concordant - discordant AS DOUBLE)"
                " / sqrt(CAST(n_pairs - ties_x AS DOUBLE)"
                "        * CAST(n_pairs - ties_y AS DOUBLE)), 6)"
            ).alias("tau_b"),
        )
    )


KAPPA_QTY_MAX = 25
KAPPA_CENTS_MAX = 2_500_000


@query(
    "agg_cohens_kappa",
    oracle=f"""
    WITH lab AS (
        SELECT CASE WHEN l_quantity <= {KAPPA_QTY_MAX} THEN 1 ELSE 0 END AS a,
               CASE WHEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                         <= {KAPPA_CENTS_MAX} THEN 1 ELSE 0 END AS b
        FROM lineitem
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11,
               CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n10,
               CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n01
        FROM lab
    ),
    m AS (
        SELECT n, n11, n10, n01, n - n11 - n10 - n01 AS n00,
               n11 + n10 AS r1, n01 + (n - n11 - n10 - n01) AS r0_c,
               n11 + n01 AS c1
        FROM cells
    )
    SELECT n, n11, n10, n01, n00,
           CAST((1000000 * (n11 + n00)) // n AS BIGINT) AS po_micro,
           CAST((1000000 * (r1 * c1 + (n - r1) * (n - c1))) // (n * n)
                AS BIGINT) AS pe_micro,
           CAST({_signed_half_up(
               "n * (n11 + n00) - (r1 * c1 + (n - r1) * (n - c1))",
               "n * n - (r1 * c1 + (n - r1) * (n - c1))",
               1_000_000, "//")} AS BIGINT) AS kappa_micro
    FROM m
    """,
)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between two LABELING
    RULES over the same lineitems — rule A flags SMALL lines
    (quantity ≤ {KAPPA_QTY_MAX}), rule B flags CHEAP lines (exact
    cents ≤ {KAPPA_CENTS_MAX}). The standard inter-annotator /
    weak-supervision agreement check a labeling pipeline runs before
    trusting a cheap rule as a proxy for an expensive one (here: how
    well does quantity proxy price?). kappa = (p_o − p_e)/(1 − p_e) reduces
    over a 2×2 table to the pure integer ratio (N·diag − Σrᵢcᵢ) /
    (N² − Σrᵢcᵢ) — micro-rounded with the shared half-up identity, so
    the entire statistic is bit-identical across engines (no float
    anywhere).

    Scale shape: ONE map-side-combinable conditional-sum pass over the
    fact table (4 counters), then arithmetic on a 1-row frame. N² stays
    in int64 to ~3e9 rows (sf500); past that the identity widens to
    DECIMAL(38,0) unchanged.
    """
    li = read_table(spark, sf_dir, "lineitem")
    a = F.col("l_quantity") <= F.lit(KAPPA_QTY_MAX)
    b = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
        <= F.lit(KAPPA_CENTS_MAX)
    )
    cells = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("bigint").alias("n10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("bigint").alias("n01"),
    )
    m = cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        F.expr("n - n11 - n10 - n01").alias("n00"),
        F.expr("n11 + n10").alias("r1"),
        F.expr("n11 + n01").alias("c1"),
    )
    return m.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr("CAST((1000000 * (n11 + n00)) div n AS BIGINT)").alias(
            "po_micro"
        ),
        F.expr(
            "CAST((1000000 * (r1 * c1 + (n - r1) * (n - c1))) div (n * n)"
            " AS BIGINT)"
        ).alias("pe_micro"),
        F.expr(
            "CAST("
            + _signed_half_up(
                "n * (n11 + n00) - (r1 * c1 + (n - r1) * (n - c1))",
                "n * n - (r1 * c1 + (n - r1) * (n - c1))",
                1_000_000,
                "div",
            )
            + " AS BIGINT)"
        ).alias("kappa_micro"),
    )


#: Orders columns profiled for uniqueness (name → SQL expression; the
#: money column profiles on exact cents, never raw-double display form).
UNIQ_PROFILE_COLS = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_orderdate", "o_orderdate"),
    ("o_totalprice_cents", "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"),
)


def _uniq_oracle() -> str:
    cells = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {expr}) AS BIGINT) AS n_distinct
        FROM orders"""
        for name, expr in UNIQ_PROFILE_COLS
    )
    return f"""
    SELECT col_name, n_rows, n_distinct,
           CAST(n_rows - n_distinct AS BIGINT) AS n_dup_rows,
           CAST((1000000 * n_distinct) // n_rows AS BIGINT)
               AS uniqueness_micro,
           n_distinct = n_rows AS is_unique_key
    FROM ({cells}) cells
    """


@query("dq_uniqueness_profile", oracle=_uniq_oracle())
def dq_uniqueness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column uniqueness profile of the orders table — the
    key-discovery page of a data profiler (Deequ's ``Uniqueness``,
    profilers' cardinality census): exact distinct count, duplicate-row
    count, uniqueness ratio, and an is-candidate-key verdict per
    audited column, emitted LONG so snapshots diff cleanly.

    Scale shape: one aggregation over the fact table computes every
    column's EXACT distinct count; Catalyst plans multi-distinct via a
    single expand (k× the scan rows map-side, one shuffle) — at larger
    column sets or row counts swap in approx_count_distinct per the
    documented `agg_hll_audit` accuracy contract. The wide→long unpivot
    runs on the 1-row aggregate via ``stack``. The money column is
    profiled on exact integer cents (identical in both engines), never
    on a double's display form.
    """
    o = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_rows")]
    for name, expr in UNIQ_PROFILE_COLS:
        aggs.append(
            F.countDistinct(F.expr(expr)).cast("bigint").alias(f"nd_{name}")
        )
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', nd_{name}" for name, _ in UNIQ_PROFILE_COLS
    )
    return (
        wide.select(
            "n_rows",
            F.expr(
                f"stack({len(UNIQ_PROFILE_COLS)}, {stack_args})"
                " AS (col_name, n_distinct)"
            ),
        )
        .select(
            "col_name",
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_dup_rows"),
            F.expr("CAST((1000000 * n_distinct) div n_rows AS BIGINT)").alias(
                "uniqueness_micro"
            ),
            (F.col("n_distinct") == F.col("n_rows")).alias("is_unique_key"),
        )
    )


#: Candidate seasonal periods (days) probed by the Goertzel-style
#: periodogram. The fundamental-frequency cos/sin tables are baked in
#: Python at import time as integer micro-unit literals and embedded
#: IDENTICALLY into both engines' SQL — no runtime trig anywhere
#: (the Poisson-threshold / NDCG-discount precedent).
PERIODOGRAM_PERIODS = (7, 30)


def _periodogram_tables() -> str:
    """VALUES literal (p, r, cos_micro, sin_micro) for each candidate
    period's fundamental frequency, r = day_index mod p."""
    import math

    rows = []
    for p in PERIODOGRAM_PERIODS:
        for r in range(p):
            ang = 2.0 * math.pi * r / p
            rows.append(
                f"({p}, {r}, {int(round(math.cos(ang) * 1_000_000))},"
                f" {int(round(math.sin(ang) * 1_000_000))})"
            )
    return ", ".join(rows)


_PERIODOGRAM_VALUES = _periodogram_tables()


@query(
    "ts_seasonal_periodogram",
    oracle=f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS BIGINT) AS s
        FROM daily
    ),
    trig(p, r, cos_micro, sin_micro) AS (
        VALUES {_PERIODOGRAM_VALUES}
    ),
    proj AS (
        SELECT t.p,
               CAST(sum(CAST(daily.cents - m.s // m.n_days AS DECIMAL(38,0))
                        * t.cos_micro) AS DECIMAL(38,0)) AS sc,
               CAST(sum(CAST(daily.cents - m.s // m.n_days AS DECIMAL(38,0))
                        * t.sin_micro) AS DECIMAL(38,0)) AS ss
        FROM daily, m
        JOIN trig t ON t.r = daily.d % t.p
        GROUP BY t.p
    )
    SELECT p AS period_days, m.n_days,
           CAST(CAST(sc AS HUGEINT) // 1000000 AS BIGINT) AS sc_cents,
           CAST(CAST(ss AS HUGEINT) // 1000000 AS BIGINT) AS ss_cents,
           round(sqrt((CAST(sc AS DOUBLE) / 1000000.0 / m.n_days)
                      * (CAST(sc AS DOUBLE) / 1000000.0 / m.n_days)
                      + (CAST(ss AS DOUBLE) / 1000000.0 / m.n_days)
                      * (CAST(ss AS DOUBLE) / 1000000.0 / m.n_days))
                 * 2.0 / 100.0, 6) AS amplitude_dollars
    FROM proj, m
    """,
)
def ts_seasonal_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style seasonal periodogram: the spectral power of daily
    revenue at each candidate period's fundamental frequency (weekly,
    monthly), answering "which cycle dominates?" without an FFT. For
    period p the projection is Σ xc_t·cos(2πt/p), Σ xc_t·sin(2πt/p)
    over the de-meaned daily series; cos/sin enter as BAKED integer
    micro-unit tables keyed on (p, t mod p) — identical literals in
    both engines, so the projections are EXACT DECIMAL(38,0) integers
    (no runtime trig; the constant-table pattern of the Poisson
    thresholds and NDCG discounts). Only the final amplitude (one sqrt,
    reported in dollars/day) is a rounded double with identical
    expression order.

    Scale shape: ONE fact shuffle to day grain; the trig join is a
    37-row broadcast on (t mod p); projections are map-side-combinable
    sums — calendar-grain cost from there. DECIMAL(38,0) holds the
    projections to ~10^31 cent-micro mass (any SF). De-meaning uses the
    integer floor mean (s div n): the residual DC offset is < 1 cent/day
    and its projection onto a full cycle cancels to < p micro-units.
    """
    daily = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("d")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    trig = spark.sql(
        f"SELECT * FROM VALUES {_PERIODOGRAM_VALUES}"
        " AS trig(p, r, cos_micro, sin_micro)"
    )
    proj = (
        daily.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(trig),
            F.col("r") == F.expr("d % p"),
        )
        .groupBy("p")
        .agg(
            F.expr(
                "CAST(sum(CAST(cents - s div n_days AS DECIMAL(38,0))"
                " * cos_micro) AS DECIMAL(38,0))"
            ).alias("sc"),
            F.expr(
                "CAST(sum(CAST(cents - s div n_days AS DECIMAL(38,0))"
                " * sin_micro) AS DECIMAL(38,0))"
            ).alias("ss"),
        )
    )
    return proj.crossJoin(F.broadcast(m)).select(
        F.col("p").alias("period_days"),
        "n_days",
        F.expr("CAST(sc div 1000000 AS BIGINT)").alias("sc_cents"),
        F.expr("CAST(ss div 1000000 AS BIGINT)").alias("ss_cents"),
        F.expr(
            "round(sqrt((CAST(sc AS DOUBLE) / 1000000.0 / n_days)"
            " * (CAST(sc AS DOUBLE) / 1000000.0 / n_days)"
            " + (CAST(ss AS DOUBLE) / 1000000.0 / n_days)"
            " * (CAST(ss AS DOUBLE) / 1000000.0 / n_days))"
            " * 2.0 / 100.0, 6)"
        ).alias("amplitude_dollars"),
    )


#: Fleiss kappa raters: three cheap labeling rules over each lineitem
#: (small quantity, low price, deep discount), binary categories.
FLEISS_QTY_MAX = 25
FLEISS_CENTS_MAX = 2_500_000
FLEISS_DISCOUNT_MIN = 0.05
FLEISS_N_RATERS = 3


@query(
    "agg_fleiss_kappa",
    oracle=f"""
    WITH lab AS (
        SELECT (CASE WHEN l_quantity <= {FLEISS_QTY_MAX} THEN 1 ELSE 0 END
                + CASE WHEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                            <= {FLEISS_CENTS_MAX} THEN 1 ELSE 0 END
                + CASE WHEN l_discount >= {FLEISS_DISCOUNT_MIN}
                       THEN 1 ELSE 0 END) AS n1
        FROM lineitem
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n1) AS BIGINT) AS s1,
               CAST(sum(n1 * n1 + ({FLEISS_N_RATERS} - n1)
                                  * ({FLEISS_N_RATERS} - n1)
                        - {FLEISS_N_RATERS}) AS BIGINT) AS t
        FROM lab
    )
    SELECT n, s1, t,
           CAST((1000000 * t) // (6 * n) AS BIGINT) AS p_bar_micro,
           CAST((1000000 * (s1 * s1 + (3 * n - s1) * (3 * n - s1)))
                // (9 * n * n) AS BIGINT) AS pe_micro,
           CAST({_signed_half_up(
               "3 * n * (t // 2) - s1 * s1 - (3 * n - s1) * (3 * n - s1)",
               "9 * n * n - s1 * s1 - (3 * n - s1) * (3 * n - s1)",
               1_000_000, "//")} AS BIGINT) AS fleiss_kappa_micro
    FROM s
    """,
)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss kappa — chance-corrected agreement among THREE labeling
    rules per lineitem (small-quantity, low-price, deep-discount; the
    k-rater generalization of `agg_cohens_kappa`, the statistic a
    weak-supervision pipeline reports for its full labeling-function
    panel). With binary categories and m=3 raters everything reduces to
    two exact integer sufficient statistics: S₁ = Σ positive votes and
    T = Σ(n₁² + (3−n₁)² − 3) per item (T is always even, so the
    3NT/2 term is integral); κ = (3NT/2 − S₁² − (3N−S₁)²) /
    (9N² − S₁² − (3N−S₁)²) — micro-rounded with the shared half-up
    identity. NO float anywhere.

    Scale shape: ONE map-side-combinable conditional-sum pass over the
    fact table, then 1-row arithmetic. 9N² stays in int64 to ~10⁹ rows;
    past that widen to DECIMAL(38,0) unchanged.
    """
    li = read_table(spark, sf_dir, "lineitem")
    n1 = (
        F.when(F.col("l_quantity") <= FLEISS_QTY_MAX, 1).otherwise(0)
        + F.when(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                "bigint"
            )
            <= FLEISS_CENTS_MAX,
            1,
        ).otherwise(0)
        + F.when(F.col("l_discount") >= FLEISS_DISCOUNT_MIN, 1).otherwise(0)
    )
    s = li.select(n1.alias("n1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n1").cast("bigint").alias("s1"),
        F.sum(
            F.col("n1") * F.col("n1")
            + (FLEISS_N_RATERS - F.col("n1"))
            * (FLEISS_N_RATERS - F.col("n1"))
            - FLEISS_N_RATERS
        )
        .cast("bigint")
        .alias("t"),
    )
    return s.select(
        "n",
        "s1",
        "t",
        F.expr("CAST((1000000 * t) div (6 * n) AS BIGINT)").alias(
            "p_bar_micro"
        ),
        F.expr(
            "CAST((1000000 * (s1 * s1 + (3 * n - s1) * (3 * n - s1)))"
            " div (9 * n * n) AS BIGINT)"
        ).alias("pe_micro"),
        F.expr(
            "CAST("
            + _signed_half_up(
                "3 * n * (t div 2) - s1 * s1 - (3 * n - s1) * (3 * n - s1)",
                "9 * n * n - s1 * s1 - (3 * n - s1) * (3 * n - s1)",
                1_000_000,
                "div",
            )
            + " AS BIGINT)"
        ).alias("fleiss_kappa_micro"),
    )


#: Randomization test: replicate count for the md5-driven label
#: reassignment (Bernoulli with the observed group-x fraction — the
#: streaming-friendly approximation of an exact permutation, same
#: asymptotics; Dwass 1957 / Chamandy's bootstrap argument).
PERM_REPLICATES = 32
PERM_X_PRIO = "1-URGENT"
PERM_Y_PRIO = "5-LOW"
_PERM_DEN = 16**12


@query(
    "agg_permutation_test",
    oracle=f"""
    WITH two AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '{PERM_X_PRIO}' THEN 1 ELSE 0 END
                   AS is_x,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('{PERM_X_PRIO}', '{PERM_Y_PRIO}')
    ),
    obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(is_x) AS BIGINT) AS n_x,
               CAST(sum(is_x * cents) AS BIGINT) AS sum_x,
               CAST(sum(cents) AS BIGINT) AS sum_all,
               CAST((CAST({_PERM_DEN} AS HUGEINT) * sum(is_x)) // count(*)
                    AS BIGINT) AS cut
        FROM two
    ),
    obs_stat AS (
        SELECT n, n_x,
               CAST((2 * 10000 * sum_x + n_x) // (2 * n_x) AS BIGINT)
               - CAST((2 * 10000 * (sum_all - sum_x) + (n - n_x))
                      // (2 * (n - n_x)) AS BIGINT) AS obs_diff_micro
        FROM obs
    ),
    reps AS (SELECT unnest(range(0, {PERM_REPLICATES})) AS b),
    perm AS (
        SELECT r.b,
               CASE WHEN ('0x' || substr(md5('perm:' || r.b || ':'
                          || t.o_orderkey), 1, 12))::BIGINT < o.cut
                    THEN 1 ELSE 0 END AS px,
               t.cents
        FROM two t CROSS JOIN reps r, obs o
    ),
    perm_stats AS (
        SELECT b,
               CAST((2 * 10000 * sum(px * cents) + greatest(sum(px), 1))
                    // (2 * greatest(sum(px), 1)) AS BIGINT)
               - CAST((2 * 10000 * sum((1 - px) * cents)
                       + greatest(sum(1 - px), 1))
                      // (2 * greatest(sum(1 - px), 1)) AS BIGINT)
                   AS diff_micro
        FROM perm GROUP BY b
    )
    SELECT o.n, o.n_x, o.obs_diff_micro,
           CAST({PERM_REPLICATES} AS BIGINT) AS n_replicates,
           CAST(sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_diff_micro)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST((1000000 * (1 + sum(CASE WHEN abs(p.diff_micro)
                                              >= abs(o.obs_diff_micro)
                                         THEN 1 ELSE 0 END)))
                // ({PERM_REPLICATES} + 1) AS BIGINT) AS p_value_micro
    FROM perm_stats p, obs_stat o
    GROUP BY o.n, o.n_x, o.obs_diff_micro
    """,
)
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation) test for the mean-value gap between
    '{PERM_X_PRIO}' and '{PERM_Y_PRIO}' orders — the assumption-free
    significance test: reassign group labels {PERM_REPLICATES} times
    (Bernoulli with the observed group-x fraction, md5-keyed — the
    streaming approximation of an exact permutation) and report how
    often the permuted mean gap is at least as extreme as the observed
    one, as the standard (1 + extreme)/(B + 1) p-value.

    Determinism: labels come from ``md5('perm:' || b || ':' || key)``
    against an integer cut derived in HUGEINT/DECIMAL(38,0) from the
    observed counts — both engines draw IDENTICAL pseudo-permutations;
    means are the exact half-up integer micro identity; nothing floats.

    Scale shape: the Poisson-bootstrap plan — one narrow
    {PERM_REPLICATES}× map-side explosion, ONE aggregate to replicate
    grain, a 1-row observed-stat broadcast, and a {PERM_REPLICATES}-row
    final census. Embarrassingly parallel at any SF.
    """
    pr = F.col("o_orderpriority")
    two = (
        read_table(spark, sf_dir, "orders")
        .filter(pr.isin(PERM_X_PRIO, PERM_Y_PRIO))
        .select(
            "o_orderkey",
            F.when(pr == PERM_X_PRIO, 1).otherwise(0).alias("is_x"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
    )
    obs = two.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_x").cast("bigint").alias("n_x"),
        F.sum(F.col("is_x") * F.col("cents")).cast("bigint").alias("sum_x"),
        F.sum("cents").cast("bigint").alias("sum_all"),
        F.expr(
            f"CAST((CAST({_PERM_DEN} AS DECIMAL(38,0)) * sum(is_x))"
            " div count(*) AS BIGINT)"
        ).alias("cut"),
    )
    obs_stat = obs.select(
        "n",
        "n_x",
        "cut",
        (
            F.expr("CAST((2 * 10000 * sum_x + n_x) div (2 * n_x) AS BIGINT)")
            - F.expr(
                "CAST((2 * 10000 * (sum_all - sum_x) + (n - n_x))"
                " div (2 * (n - n_x)) AS BIGINT)"
            )
        ).alias("obs_diff_micro"),
    )
    u_sql = (
        "CAST(conv(substring(md5(concat('perm:', CAST(b AS STRING), ':',"
        " CAST(o_orderkey AS STRING))), 1, 12), 16, 10) AS BIGINT)"
    )
    perm_stats = (
        two.crossJoin(obs_stat.select("cut"))
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(PERM_REPLICATES - 1)))
        )
        .withColumn(
            "px", F.when(F.expr(u_sql) < F.col("cut"), 1).otherwise(0)
        )
        .groupBy("b")
        .agg(
            F.expr(
                "CAST((2 * 10000 * sum(px * cents) + greatest(sum(px), 1))"
                " div (2 * greatest(sum(px), 1)) AS BIGINT)"
                " - CAST((2 * 10000 * sum((1 - px) * cents)"
                "         + greatest(sum(1 - px), 1))"
                "        div (2 * greatest(sum(1 - px), 1)) AS BIGINT)"
            ).alias("diff_micro")
        )
    )
    return (
        perm_stats.crossJoin(
            obs_stat.select("n", "n_x", "obs_diff_micro")
        )
        .groupBy("n", "n_x", "obs_diff_micro")
        .agg(
            F.lit(PERM_REPLICATES).cast("bigint").alias("n_replicates"),
            F.sum(
                F.when(
                    F.abs(F.col("diff_micro"))
                    >= F.abs(F.col("obs_diff_micro")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
            F.expr(
                "CAST((1000000 * (1 + sum(CASE WHEN abs(diff_micro)"
                " >= abs(obs_diff_micro) THEN 1 ELSE 0 END)))"
                f" div ({PERM_REPLICATES} + 1) AS BIGINT)"
            ).alias("p_value_micro"),
        )
        .select(
            "n",
            "n_x",
            "obs_diff_micro",
            "n_replicates",
            "n_extreme",
            "p_value_micro",
        )
    )


#: Spearman rank correlation: shard span for the two-pass distributed
#: ranking of the VALUE marginal (contiguous $10k cents bands; the date
#: marginal is calendar-bounded, ranked over its tiny day census).
SPEAR_SHARD_SPAN_CENTS = 1_000_000


@query(
    "agg_spearman_correlation",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS y
        FROM orders
    ),
    joint AS MATERIALIZED (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY 1, 2
    ),
    cx AS (
        SELECT x, CAST(sum(c) AS BIGINT) AS nv FROM joint GROUP BY 1
    ),
    rx AS (
        SELECT x, 2 * (sum(nv) OVER (ORDER BY x) - nv) + nv + 1 AS r2x,
               nv AS nvx
        FROM cx
    ),
    cy AS (
        SELECT y, CAST(sum(c) AS BIGINT) AS nv FROM joint GROUP BY 1
    ),
    ry AS (
        SELECT y, 2 * (sum(nv) OVER (ORDER BY y) - nv) + nv + 1 AS r2y,
               nv AS nvy
        FROM cy
    ),
    sums AS (
        SELECT CAST(sum(j.c) AS HUGEINT) AS n,
               CAST(sum(CAST(j.c AS HUGEINT) * rx.r2x) AS HUGEINT) AS sx,
               CAST(sum(CAST(j.c AS HUGEINT) * ry.r2y) AS HUGEINT) AS sy,
               CAST(sum(CAST(j.c AS HUGEINT) * rx.r2x * rx.r2x)
                    AS HUGEINT) AS sxx,
               CAST(sum(CAST(j.c AS HUGEINT) * ry.r2y * ry.r2y)
                    AS HUGEINT) AS syy,
               CAST(sum(CAST(j.c AS HUGEINT) * rx.r2x * ry.r2y)
                    AS HUGEINT) AS sxy
        FROM joint j JOIN rx ON rx.x = j.x JOIN ry ON ry.y = j.y
    ),
    ties AS (
        SELECT CAST((SELECT sum(nvx * nvx * nvx - nvx) FROM rx) AS BIGINT)
                   AS ties_x3,
               CAST((SELECT sum(nvy * nvy * nvy - nvy) FROM ry) AS BIGINT)
                   AS ties_y3
    )
    SELECT CAST(n AS BIGINT) AS n, t.ties_x3, t.ties_y3,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS spearman_rho
    FROM sums, ties t
    """,
)
def agg_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order VALUE and order DATE —
     'is the book drifting upmarket over time?' asked robustly (Pearson
    on tied-average ranks — exact under ties, outlier-immune where raw
    Pearson is not; complements `agg_exact_correlation`).

    The scale story is DOUBLE distributed ranking: the value marginal
    ranks via the two-pass shard plan (census → shard partial sums →
    broadcast offsets → partitioned cumulative windows — no fact row
    through a global window); the date marginal is calendar-bounded, so
    its census ranks in a documented dim-grain window. The joint
    (value, day) census is ONE fact shuffle; everything downstream is
    census-grain. 2×-scaled ranks keep tie-averages integral; all six
    moment sums are EXACT DECIMAL(38,0)/HUGEINT (headroom ~sf100+ — the
    4n³ rank-square mass), so the only float is the final rho: one
    expression, identical operation order, two IEEE sqrts, 6-dp round.
    """
    pts = read_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("y"),
    )
    joint = pts.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cx = (
        joint.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("nv"))
        .withColumn("shard", F.expr(f"x div {SPEAR_SHARD_SPAN_CENTS}"))
    )
    shard_tot = cx.groupBy("shard").agg(F.sum("nv").alias("s_nv"))
    w_shard = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = shard_tot.select(
        "shard", (F.sum("s_nv").over(w_shard) - F.col("s_nv")).alias("off")
    )
    in_shard = Window.partitionBy("shard").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rx = cx.join(F.broadcast(offs), "shard").select(
        "x",
        (
            2 * (F.col("off") + F.sum("nv").over(in_shard) - F.col("nv"))
            + F.col("nv")
            + 1
        ).alias("r2x"),
        F.col("nv").alias("nvx"),
    )
    cy = joint.groupBy("y").agg(F.sum("c").cast("bigint").alias("nv"))
    ry = cy.select(
        "y",
        (
            2
            * (
                F.sum("nv").over(
                    Window.orderBy("y").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                )
                - F.col("nv")
            )
            + F.col("nv")
            + 1
        ).alias("r2y"),
        F.col("nv").alias("nvy"),
    )
    sums = (
        joint.join(rx, "x")
        .join(F.broadcast(ry), "y")
        .agg(
            F.expr("CAST(sum(c) AS DECIMAL(38,0))").alias("n"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * r2x) AS DECIMAL(38,0))"
            ).alias("sx"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0))"
            ).alias("sy"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * r2x * r2x)"
                " AS DECIMAL(38,0))"
            ).alias("sxx"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * r2y * r2y)"
                " AS DECIMAL(38,0))"
            ).alias("syy"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * r2x * r2y)"
                " AS DECIMAL(38,0))"
            ).alias("sxy"),
        )
    )
    ties = rx.agg(
        F.sum(F.col("nvx") * F.col("nvx") * F.col("nvx") - F.col("nvx"))
        .cast("bigint")
        .alias("ties_x3")
    ).crossJoin(
        ry.agg(
            F.sum(F.col("nvy") * F.col("nvy") * F.col("nvy") - F.col("nvy"))
            .cast("bigint")
            .alias("ties_y3")
        )
    )
    return sums.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("bigint").alias("n"),
        "ties_x3",
        "ties_y3",
        F.expr(
            "round(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            " / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6)"
        ).alias("spearman_rho"),
    )


@query(
    "jn_star_denormalize_fingerprint",
    oracle=f"""
    WITH wide AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               p.p_brand, s.s_name, c.c_mktsegment,
               ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               r.r_name AS cust_region
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
        JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = nc.n_regionkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(count(DISTINCT cust_region) AS BIGINT) AS n_regions,
           CAST(sum(CAST(('0x' || substr(md5(
                    CAST(l_orderkey AS VARCHAR) || '|'
                    || CAST(l_linenumber AS VARCHAR) || '|'
                    || CAST(cents AS VARCHAR) || '|' || p_brand || '|'
                    || s_name || '|' || c_mktsegment || '|'
                    || supp_nation || '|' || cust_nation || '|'
                    || cust_region), 1, 12))::BIGINT AS HUGEINT))
                % {FP_MODULUS} AS BIGINT) AS content_fingerprint
    FROM wide
    """,
)
def jn_star_denormalize_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star-schema denormalization — the 7-way dimension join that
    builds the wide training-feature table (every lineitem enriched
    with part, supplier, customer, both nations, and region) — gated
    end-to-end by the order-insensitive content FINGERPRINT of the
    `dq_table_fingerprint` construction (canonical row render → 48-bit
    md5 integer → exact commutative sum mod 2⁴⁸), because the wide
    table itself is fact-sized and can't be emitted.

    Scale shape: the textbook star plan — the ONE fact-fact edge
    (lineitem⋈orders) is a co-partitioned shuffle join on orderkey;
    every dimension under the broadcast threshold joins as a broadcast
    hash join, so the fact stream is scanned once and never re-shuffled
    after the orderkey stage. The fingerprint aggregate is map-side combinable.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("c_rk"),
    )
    wide = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(ns, s.s_nationkey == ns.s_nk)
        .join(nc, c.c_nationkey == nc.c_nk)
        .join(r, nc.c_rk == r.r_regionkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "cents",
            "p_brand",
            "s_name",
            "c_mktsegment",
            "supp_nation",
            "cust_nation",
            F.col("r_name").alias("cust_region"),
        )
    )
    h = F.expr(
        "CAST(conv(substring(md5("
        "CAST(l_orderkey AS STRING) || '|'"
        " || CAST(l_linenumber AS STRING) || '|'"
        " || CAST(cents AS STRING) || '|' || p_brand || '|'"
        " || s_name || '|' || c_mktsegment || '|'"
        " || supp_nation || '|' || cust_nation || '|'"
        " || cust_region), 1, 12), 16, 10) AS BIGINT)"
    )
    return wide.select(
        "cents", "cust_region", h.alias("h")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.countDistinct("cust_region").cast("bigint").alias("n_regions"),
        F.expr(
            f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {FP_MODULUS} AS BIGINT)"
        ).alias("content_fingerprint"),
    )


#: Ljung–Box portmanteau lags (short-range whiteness check on the
#: hourly series; reuses the ACF construction of ts_autocorrelation).
LB_LAGS = (1, 2, 3)


@query(
    "ts_ljung_box",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                   AS m
        FROM events GROUP BY 1, 2
    ),
    dev AS (
        SELECT event_type, hour,
               row_number() OVER (PARTITION BY event_type ORDER BY hour) AS h,
               count(*) OVER (PARTITION BY event_type) AS n,
               CAST(count(*) OVER (PARTITION BY event_type) AS HUGEINT) * m
                   - CAST(sum(m) OVER (PARTITION BY event_type) AS HUGEINT)
                   AS d
        FROM hourly
    ),
    lags AS (SELECT unnest(ARRAY{list(LB_LAGS)}) AS lag),
    num AS (
        SELECT a.event_type, l.lag, sum(a.d * b.d) AS cross_sum
        FROM dev a
        JOIN lags l ON TRUE
        JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + l.lag
        GROUP BY 1, 2
    ),
    den AS (
        SELECT event_type, CAST(max(n) AS BIGINT) AS n, sum(d * d) AS ss
        FROM dev GROUP BY 1
    ),
    r AS (
        SELECT n.event_type, n.lag, d.n,
               CAST((2000000 * n.cross_sum
                     + CASE WHEN n.cross_sum >= 0 THEN d.ss ELSE -d.ss END)
                    // (2 * d.ss) AS BIGINT) AS r_micro
        FROM num n JOIN den d ON d.event_type = n.event_type
    ),
    q AS (
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_hours,
               CAST(max(CASE WHEN lag = 1 THEN r_micro END) AS BIGINT)
                   AS r1_micro,
               CAST(max(CASE WHEN lag = 2 THEN r_micro END) AS BIGINT)
                   AS r2_micro,
               CAST(max(CASE WHEN lag = 3 THEN r_micro END) AS BIGINT)
                   AS r3_micro,
               CAST(max(n) * (max(n) + 2)
                    * sum(r_micro * r_micro // (n - lag)) AS HUGEINT)
                   AS q_pico
        FROM r GROUP BY 1
    )
    SELECT event_type, n_hours, r1_micro, r2_micro, r3_micro,
           round(CAST(q_pico AS DOUBLE) / 1e12, 6) AS ljung_box_q
    FROM q
    """,
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test per event type: Q =
    n(n+2)·Σ_k r_k²/(n−k) over lags {LB_LAGS} of the hourly-value
    series — the standard 'is there ANY autocorrelation left?' check a
    forecasting pipeline runs on its residuals (here on the raw series,
    complementing `ts_autocorrelation`'s per-lag view with the joint
    statistic).

    Determinism: autocorrelations are exact integer micro-units (the
    N·x−S de-meaning trick keeps deviations integral, half-up at 10⁻⁶);
    each r_k²/(n−k) term is an INTEGER floor quotient of pico-units —
    floored identically in both engines — so Q assembles exactly and
    only the final 6-dp display division floats.

    Scale shape: one shuffle to (type, hour) grain; the lag joins are
    self-equi-joins on the calendar-bounded hour index; everything
    after the hourly rollup is calendar-grain (the acf family class).
    """
    hourly = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000"
                " AS BIGINT)"
            ).alias("m")
        )
    )
    w_t = Window.partitionBy("event_type")
    dev = hourly.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("hour"))
        .alias("h"),
        F.count(F.lit(1)).over(w_t).alias("n"),
        (
            F.count(F.lit(1)).over(w_t).cast("decimal(38,0)") * F.col("m")
            - F.sum("m").over(w_t).cast("decimal(38,0)")
        ).alias("d"),
    )
    lags = spark.range(1, len(LB_LAGS) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dev.select("event_type", "h", F.col("d").alias("da"))
    b = dev.select(
        F.col("event_type").alias("et_b"),
        F.col("h").alias("hb"),
        F.col("d").alias("db"),
    )
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("hb") == F.col("h") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("da") * F.col("db")).alias("cross_sum"))
    )
    den = dev.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("ss"),
    )
    r = num.join(den, "event_type").select(
        "event_type",
        "lag",
        "n",
        F.expr(
            "CAST((2000000 * cross_sum"
            " + CASE WHEN cross_sum >= 0 THEN ss ELSE -ss END)"
            " div (2 * ss) AS BIGINT)"
        ).alias("r_micro"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_hours"),
            F.max(F.when(F.col("lag") == 1, F.col("r_micro")))
            .cast("bigint")
            .alias("r1_micro"),
            F.max(F.when(F.col("lag") == 2, F.col("r_micro")))
            .cast("bigint")
            .alias("r2_micro"),
            F.max(F.when(F.col("lag") == 3, F.col("r_micro")))
            .cast("bigint")
            .alias("r3_micro"),
            F.expr(
                "CAST(max(n) * (max(n) + 2)"
                " * sum(r_micro * r_micro div (n - lag))"
                " AS DECIMAL(38,0))"
            ).alias("q_pico"),
        )
        .select(
            "event_type",
            "n_hours",
            "r1_micro",
            "r2_micro",
            "r3_micro",
            F.expr("round(CAST(q_pico AS DOUBLE) / 1e12, 6)").alias(
                "ljung_box_q"
            ),
        )
    )


#: BH multiple-testing correction over per-REGION randomization tests
#: (one label-shuffle per replicate scores all five hypotheses at once).
BH_REPLICATES = 32
BH_ALPHA_MICRO = 200_000  # α = 0.20 — coarse replicate grid, see docstring
_BH_DEN = 16**12


@query(
    "agg_benjamini_hochberg",
    oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT o.o_orderkey,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               r.r_name AS region
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM base
    ),
    obs AS (
        SELECT region, CAST(count(*) AS BIGINT) AS n_r,
               CAST(sum(cents) AS BIGINT) AS s_r
        FROM base GROUP BY 1
    ),
    obs_stat AS (
        SELECT o.region, o.n_r,
               CAST((2 * 10000 * o.s_r + o.n_r) // (2 * o.n_r) AS BIGINT)
               - CAST((2 * 10000 * (t.s - o.s_r) + (t.n - o.n_r))
                      // (2 * (t.n - o.n_r)) AS BIGINT) AS obs_diff_micro
        FROM obs o, tot t
    ),
    cuts AS MATERIALIZED (
        SELECT region,
               CAST((CAST({_BH_DEN} AS HUGEINT)
                     * (sum(n_r) OVER (ORDER BY region) - n_r)) // t.n
                    AS BIGINT) AS lo,
               CASE WHEN region = (SELECT max(region) FROM obs)
                    THEN {_BH_DEN}
                    ELSE CAST((CAST({_BH_DEN} AS HUGEINT)
                               * sum(n_r) OVER (ORDER BY region)) // t.n
                              AS BIGINT) END AS hi
        FROM obs, tot t
    ),
    reps AS (SELECT unnest(range(0, {BH_REPLICATES // 2})) AS h),
    perm AS (
        SELECT 2 * rp.h + d.i AS b, k.region, bs.cents
        FROM base bs
        CROSS JOIN reps rp
        CROSS JOIN (VALUES (0), (1)) d(i)
        JOIN cuts k ON ('0x' || substr(md5('bh:' || rp.h || ':'
                        || bs.o_orderkey), 1 + 12 * d.i, 12))::BIGINT >= k.lo
                   AND ('0x' || substr(md5('bh:' || rp.h || ':'
                        || bs.o_orderkey), 1 + 12 * d.i, 12))::BIGINT < k.hi
    ),
    perm_stats AS (
        SELECT p.b, p.region,
               CAST((2 * 10000 * sum(p.cents) + greatest(count(*), 1))
                    // (2 * greatest(count(*), 1)) AS BIGINT)
               - CAST((2 * 10000 * (t.s - sum(p.cents))
                       + greatest(t.n - count(*), 1))
                      // (2 * greatest(t.n - count(*), 1)) AS BIGINT)
                   AS diff_micro
        FROM perm p, tot t
        GROUP BY p.b, p.region, t.s, t.n
    ),
    pvals AS (
        SELECT o.region, o.n_r, o.obs_diff_micro,
               CAST(sum(CASE WHEN abs(p.diff_micro) >= abs(o.obs_diff_micro)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
               CAST((1000000 * (1 + sum(CASE WHEN abs(p.diff_micro)
                                                  >= abs(o.obs_diff_micro)
                                             THEN 1 ELSE 0 END)))
                    // ({BH_REPLICATES} + 1) AS BIGINT) AS p_value_micro
        FROM obs_stat o JOIN perm_stats p ON p.region = o.region
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY p_value_micro, region) AS bh_rank,
               count(*) OVER () AS m
        FROM pvals
    ),
    kmax AS (
        SELECT max(CASE WHEN m * p_value_micro <= bh_rank * {BH_ALPHA_MICRO}
                        THEN bh_rank END) AS k
        FROM ranked
    )
    SELECT region, n_r AS n_orders, obs_diff_micro, n_extreme,
           p_value_micro, CAST(bh_rank AS BIGINT) AS bh_rank,
           CAST((bh_rank * {BH_ALPHA_MICRO}) // m AS BIGINT)
               AS bh_threshold_micro,
           coalesce(bh_rank <= kmax.k, false) AS rejected
    FROM ranked, kmax
    """,
)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a PANEL of hypotheses —
    'which regions' mean order value deviates from the rest?', the
    multiple-testing discipline a metrics platform needs the moment it
    tests more than one segment. Per-region p-values come from
    {BH_REPLICATES} label-shuffle randomization replicates — ONE md5
    per PAIR of replicates (round 10: a 128-bit digest holds two
    independent 48-bit draws, ``substr(.., 1, 12)`` / ``substr(.., 13,
    12)``, so replicate b draws from hash ``b div 2`` at offset ``b mod
    2`` — md5 was the profiled cost, 5.3 s of the explode stage's 6.5 s
    at sf0.1, and this halves it) scores all five regions at once
    (multinomial assignment through the observed region-proportion cuts,
    derived in HUGEINT so both engines draw identical pseudo-labels) —
    then the BH step-up runs entirely in integers: reject ranks ≤ k
    where k = max{{i : m·p₍ᵢ₎ ≤ i·α}} (α = 0.20: the replicate grid
    quantizes p at 1/(B+1) ≈ 0.03, so a production α of 0.05 would need
    B ≥ 100 — documented trade; the MACHINERY is B-independent).

    Scale shape: dims broadcast onto one fact pass; a narrow
    {BH_REPLICATES}× map-side explosion; ONE aggregate to
    (replicate × region) grain; then everything is 5-row arithmetic.
    No float anywhere — the full output hash-matches exactly.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("o_orderkey", "cents", F.col("r_name").alias("region"))
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    obs = base.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r"),
        F.sum("cents").cast("bigint").alias("s_r"),
    )
    obs_stat = obs.crossJoin(F.broadcast(tot)).select(
        "region",
        "n_r",
        F.expr(
            "CAST((2 * 10000 * s_r + n_r) div (2 * n_r) AS BIGINT)"
            " - CAST((2 * 10000 * (s - s_r) + (n - n_r))"
            "        div (2 * (n - n_r)) AS BIGINT)"
        ).alias("obs_diff_micro"),
    )
    w_cum = Window.orderBy("region").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cuts = (
        obs.withColumn("cum_n", F.sum("n_r").over(w_cum))
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            F.expr(
                f"CAST((CAST({_BH_DEN} AS DECIMAL(38,0))"
                " * (cum_n - n_r)) div n AS BIGINT)"
            ).alias("lo"),
            F.when(
                F.col("region") == F.max("region").over(w_all),
                F.lit(_BH_DEN).cast("bigint"),
            )
            .otherwise(
                F.expr(
                    f"CAST((CAST({_BH_DEN} AS DECIMAL(38,0)) * cum_n)"
                    " div n AS BIGINT)"
                )
            )
            .alias("hi"),
        )
    )
    draws = (
        base.withColumn(
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(BH_REPLICATES // 2 - 1))),
        )
        .withColumn(
            "hx",
            F.md5(
                F.concat(
                    F.lit("bh:"),
                    F.col("h").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
        )
        # two 48-bit draws per digest: replicate 2h from hex chars 1-12,
        # replicate 2h+1 from chars 13-24 (halves the md5 count — the
        # profiled hot cost of the replicate stage)
        .select(
            "cents",
            F.explode(
                F.array(
                    F.struct(
                        (F.col("h") * 2).alias("b"),
                        F.expr(
                            "CAST(conv(substring(hx, 1, 12), 16, 10)"
                            " AS BIGINT)"
                        ).alias("u"),
                    ),
                    F.struct(
                        (F.col("h") * 2 + 1).alias("b"),
                        F.expr(
                            "CAST(conv(substring(hx, 13, 12), 16, 10)"
                            " AS BIGINT)"
                        ).alias("u"),
                    ),
                )
            ).alias("d"),
        )
        .select("cents", F.col("d.b").alias("b"), F.col("d.u").alias("u"))
    )
    perm_stats = (
        draws.join(
            F.broadcast(cuts.withColumnRenamed("region", "p_region")),
            (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")),
        )
        .groupBy("b", "p_region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_p"),
            F.sum("cents").cast("bigint").alias("s_p"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("p_region").alias("region"),
            F.expr(
                "CAST((2 * 10000 * s_p + greatest(n_p, 1))"
                " div (2 * greatest(n_p, 1)) AS BIGINT)"
                " - CAST((2 * 10000 * (s - s_p) + greatest(n - n_p, 1))"
                "        div (2 * greatest(n - n_p, 1)) AS BIGINT)"
            ).alias("diff_micro"),
        )
    )
    pvals = (
        obs_stat.join(perm_stats, "region")
        .groupBy("region", "n_r", "obs_diff_micro")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("diff_micro"))
                    >= F.abs(F.col("obs_diff_micro")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme")
        )
        .withColumn(
            "p_value_micro",
            F.expr(
                f"CAST((1000000 * (1 + n_extreme)) div ({BH_REPLICATES} + 1)"
                " AS BIGINT)"
            ),
        )
    )
    ranked = pvals.withColumn(
        "bh_rank", F.row_number().over(Window.orderBy("p_value_micro", "region"))
    ).withColumn("m", F.count(F.lit(1)).over(w_all))
    kmax = ranked.agg(
        F.max(
            F.when(
                F.col("m") * F.col("p_value_micro")
                <= F.col("bh_rank") * BH_ALPHA_MICRO,
                F.col("bh_rank"),
            )
        ).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "region",
        F.col("n_r").alias("n_orders"),
        "obs_diff_micro",
        "n_extreme",
        "p_value_micro",
        F.col("bh_rank").cast("bigint").alias("bh_rank"),
        F.expr(
            f"CAST((bh_rank * {BH_ALPHA_MICRO}) div m AS BIGINT)"
        ).alias("bh_threshold_micro"),
        F.coalesce(F.col("bh_rank") <= F.col("k"), F.lit(False)).alias(
            "rejected"
        ),
    )


#: Holt–Winters additive seasonal smoothing: season length (monthly
#: series, yearly cycle), forecast horizon, exact-half coefficients
#: (α = β = γ = ½ — every update is integer adds + truncating halvings,
#: the ts_holt_linear_forecast determinism trick extended with a
#: rotating 12-slot seasonal state).
HW_SEASON = 12
HW_FORECAST_H = 3

_HW_L = "((y - element_at(acc.s, 1) + acc.l + acc.b) div 2)"
_HW_STEP = (
    "named_struct("
    f"'l', {_HW_L}, "
    f"'b', ({_HW_L} - acc.l + acc.b) div 2, "
    f"'s', concat(slice(acc.s, 2, {HW_SEASON - 1}),"
    f" array((y - {_HW_L} + element_at(acc.s, 1)) div 2)))"
)


@query(
    "ts_holt_winters_seasonal",
    oracle=f"""
    WITH RECURSIVE monthly AS (
        SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS ym,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT ym, cents, row_number() OVER (ORDER BY ym) AS i FROM monthly
    ),
    init AS (
        SELECT CAST((SELECT sum(cents) FROM idx WHERE i <= {HW_SEASON})
                    // {HW_SEASON} AS BIGINT) AS l0,
               CAST((((SELECT sum(cents) FROM idx
                       WHERE i > {HW_SEASON} AND i <= {2 * HW_SEASON})
                      // {HW_SEASON})
                     - ((SELECT sum(cents) FROM idx WHERE i <= {HW_SEASON})
                        // {HW_SEASON})) // {HW_SEASON} AS BIGINT) AS b0,
               (SELECT list(cents
                            - ((SELECT sum(c2.cents) FROM idx c2
                                WHERE c2.i <= {HW_SEASON}) // {HW_SEASON})
                            ORDER BY i)
                FROM idx WHERE i <= {HW_SEASON}) AS s0
    ),
    rec AS (
        SELECT {HW_SEASON} AS i, l0 AS l, b0 AS b, s0 AS s FROM init
        UNION ALL
        SELECT r.i + 1,
               (x.cents - r.s[1] + r.l + r.b) // 2,
               (((x.cents - r.s[1] + r.l + r.b) // 2) - r.l + r.b) // 2,
               r.s[2:{HW_SEASON}]
                   || [(x.cents - ((x.cents - r.s[1] + r.l + r.b) // 2)
                        + r.s[1]) // 2]
        FROM rec r JOIN idx x ON x.i = r.i + 1
    )
    SELECT CAST((SELECT max(i) FROM idx) AS BIGINT) AS n_months,
           CAST(l AS BIGINT) AS level_cents,
           CAST(b AS BIGINT) AS trend_cents,
           CAST(s[1] AS BIGINT) AS seasonal_next_cents,
           CAST(l + 1 * b + s[1] AS BIGINT) AS forecast_1_cents,
           CAST(l + 2 * b + s[2] AS BIGINT) AS forecast_2_cents,
           CAST(l + 3 * b + s[3] AS BIGINT) AS forecast_3_cents
    FROM rec WHERE i = (SELECT max(i) FROM idx)
    """,
)
def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters ADDITIVE SEASONAL (triple) exponential smoothing
    over monthly revenue with a {HW_FORECAST_H}-step seasonal forecast —
    the classic level+trend+season forecaster (Winters 1960), one rung
    above `ts_holt_linear_forecast`. Coefficients pinned at exact
    halves (α = β = γ = ½), so the whole recursion — including the
    rotating {HW_SEASON}-slot seasonal state — is integer adds and
    truncating halvings: deterministic to the bit in both engines, no
    rounding boundary anywhere. Initialization is the standard
    first-two-seasons scheme (season-1 mean level, season-over-season
    mean trend, first-season deviations as the seasonal state), all in
    integer floor arithmetic.

    Engine-specific evaluation, identical arithmetic: Spark folds the
    collected month-array with ONE ``aggregate()`` carrying a
    struct(level, trend, array-of-{HW_SEASON}) accumulator —
    executor-side, no driver loop; the oracle runs the same recurrence
    as a recursive CTE whose state row carries the seasonal LIST. The
    inherently sequential series fold happens AFTER the one fact
    shuffle reduces to calendar grain — the documented right shape.
    """
    monthly = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    arr = monthly.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ym, cents))),"
            " x -> x.cents)"
        ).alias("ys")
    )
    m = HW_SEASON
    init = arr.select(
        F.size("ys").cast("bigint").alias("n_months"),
        "ys",
        F.expr(
            f"aggregate(slice(ys, 1, {m}), 0L, (a, x) -> a + x) div {m}"
        ).alias("l0"),
    ).select(
        "n_months",
        "ys",
        "l0",
        F.expr(
            f"((aggregate(slice(ys, {m + 1}, {m}), 0L, (a, x) -> a + x)"
            f" div {m}) - l0) div {m}"
        ).alias("b0"),
        F.expr(f"transform(slice(ys, 1, {m}), x -> x - l0)").alias("s0"),
    )
    folded = init.select(
        "n_months",
        F.expr(
            f"aggregate(slice(ys, {m + 1}, size(ys) - {m}),"
            " named_struct('l', l0, 'b', b0, 's', s0),"
            f" (acc, y) -> {_HW_STEP},"
            " acc -> acc)"
        ).alias("st"),
    )
    return folded.select(
        "n_months",
        F.col("st.l").cast("bigint").alias("level_cents"),
        F.col("st.b").cast("bigint").alias("trend_cents"),
        F.expr("element_at(st.s, 1)").cast("bigint").alias(
            "seasonal_next_cents"
        ),
        *[
            F.expr(f"st.l + {h} * st.b + element_at(st.s, {h})")
            .cast("bigint")
            .alias(f"forecast_{h}_cents")
            for h in range(1, HW_FORECAST_H + 1)
        ],
    )


_KM_STEP = (
    "named_struct("
    "'s', (acc.s * (x.n - x.d)) div x.n, "
    "'out', concat(acc.out, array(named_struct("
    "'t', x.t, 'n', x.n, 'd', x.d,"
    " 's', (acc.s * (x.n - x.d)) div x.n))))"
)


@query(
    "ts_kaplan_meier_sessions",
    oracle=f"""
    WITH RECURSIVE marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {SESSION_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id,
               sum(is_start) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq,
               ts
        FROM marked
    ),
    durs AS (
        SELECT CAST((epoch_us(max(ts)) - epoch_us(min(ts)))
                    // 60000000 AS BIGINT) AS t
        FROM sessions GROUP BY user_id, session_seq
    ),
    census AS (
        SELECT t, CAST(count(*) AS BIGINT) AS d FROM durs GROUP BY 1
    ),
    idx AS (
        SELECT t, d,
               row_number() OVER (ORDER BY t) AS i,
               CAST((SELECT count(*) FROM durs) AS BIGINT)
                   - (sum(d) OVER (ORDER BY t) - d) AS n
        FROM census
    ),
    rec AS (
        SELECT 0 AS i, CAST(NULL AS BIGINT) AS t, CAST(NULL AS BIGINT) AS n,
               CAST(NULL AS BIGINT) AS d, CAST(1000000 AS BIGINT) AS s
        UNION ALL
        SELECT x.i, x.t, x.n, x.d, (r.s * (x.n - x.d)) // x.n
        FROM rec r JOIN idx x ON x.i = r.i + 1
    )
    SELECT t AS duration_min, n AS n_at_risk, d AS n_ending,
           s AS survival_micro
    FROM rec WHERE i > 0
    """,
)
def ts_kaplan_meier_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve of SESSION DURATION —
    'what fraction of sessions survive past t minutes?' — the estimator
    a product team reads before setting timeouts and the canonical
    survival-analysis primitive (Kaplan & Meier 1958). Sessions come
    from the gap-{SESSION_GAP_MIN}-min rule of `win_sessionize_events`;
    at each distinct minute-grain duration t the at-risk set n_t and
    the ending count d_t update S ← S·(n_t−d_t)/n_t. (This corpus has
    no censoring, so KM coincides with the empirical survival function
    — but the PRODUCT-LIMIT machinery over the risk set is the real
    estimator and takes censoring by subtracting censored sessions
    from n without a d.)

    Determinism: survival stays an integer micro-fraction — each step
    is one integer multiply + floor divide, identical in both engines
    (the exact-rational sibling of the Holt fold's halvings).

    Scale shape: one shuffle on user_id (the sessionize cost), one
    aggregate to the minute-grain duration census (bounded by the gap
    rule: durations are minutes, not rows), then the sequential
    product-limit fold runs over the TINY census — Spark as one
    ``aggregate()`` accumulating the per-step curve in an array
    (exploded back to rows), the oracle as the same recurrence in a
    recursive CTE.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    is_start = F.when(
        prev_ts.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    durs = (
        ev.select("user_id", "ts", "event_id", is_start.alias("is_start"))
        .withColumn("session_seq", F.sum("is_start").over(w_run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.expr(
                "CAST((unix_micros(max(ts)) - unix_micros(min(ts)))"
                " div 60000000 AS BIGINT)"
            ).alias("t")
        )
    )
    census = durs.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    total = census.agg(F.sum("d").cast("bigint").alias("tot"))
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = census.crossJoin(total).select(
        "t",
        "d",
        (F.col("tot") - (F.sum("d").over(w_cum) - F.col("d"))).alias("n"),
    )
    arr = idx.agg(
        F.expr(
            "array_sort(collect_list(struct(t, n, d)))"
        ).alias("xs")
    )
    folded = arr.select(
        F.expr(
            "aggregate(xs,"
            " named_struct('s', CAST(1000000 AS BIGINT),"
            "              'out', CAST(array() AS"
            "              array<struct<t:bigint,n:bigint,d:bigint,"
            "              s:bigint>>)),"
            f" (acc, x) -> {_KM_STEP},"
            " acc -> acc.out)"
        ).alias("curve")
    )
    return folded.select(F.explode("curve").alias("c")).select(
        F.col("c.t").alias("duration_min"),
        F.col("c.n").alias("n_at_risk"),
        F.col("c.d").alias("n_ending"),
        F.col("c.s").alias("survival_micro"),
    )


@query(
    "win_event_path_trigrams",
    oracle="""
    WITH ranked AS (
        SELECT user_id, date_trunc('day', ts) AS d, event_type,
               row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id, d
    )
    SELECT path,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    """,
)
def win_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path sequence mining: the census of opening event-type
    TRIGRAMS (first ≤3 events of each user-day, joined ``a>b>c``) — the
    "how do journeys start" census a funnel analyst or a behavioral-
    cloning data pipeline reads before picking target paths. Distinct
    from ``funnel_view_click_purchase`` (one fixed path, conversion
    counting): this mines ALL opening paths with their frequencies.

    Determinism: the path order is the (ts, event_id) key both engines
    pin; Spark side collects ``struct(rn, event_type)`` per user-day and
    ``array_sort``s by the already-ranked rn (no engine-dependent
    collect order leaks into the string).

    Scale shape: the ranking window is partitioned per (user, day) —
    bounded per key by a day's events; then two shuffled aggs (user-day
    grain, then path census). No global window, no UDF — array_sort +
    transform + array_join run in whole-stage codegen.
    """
    ev = read_table(spark, sf_dir, "events")
    ranked = (
        ev.withColumn("d", F.date_trunc("day", "ts"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") <= 3)
    )
    paths = ranked.groupBy("user_id", "d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
