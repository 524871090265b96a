"""Data-quality constraint auditing (the dbt-tests / Deequ-style gate).

The reference hard-codes its validity rules inline (coercion filters,
null drops — ``/root/reference/src/transform.py:61-64,120``); a warehouse
running continuous loads needs them as a declarative, *auditable* rule
set: every rule yields (rule, n_checked, n_violations, passed) and the
whole audit runs as a handful of aggregates, never a per-rule table scan.

Scale design: all row-level predicate rules for one table compile into a
SINGLE aggregate pass over that table (one scan, map-side partial sums);
uniqueness is count-vs-distinct in the same pass shape; referential
integrity is one fact⋈dim key join aggregated to a scalar. Result frames
are rule-count-sized — unioning them is free.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import read_table


@dataclass(frozen=True)
class PredicateRule:
    """Row-level rule: a violation is a row where ``violation_sql`` is true."""

    name: str
    violation_sql: str


def predicate_audit(df: DataFrame, rules: list[PredicateRule]) -> DataFrame:
    """All predicate rules for one table in ONE aggregate pass."""
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.when(F.expr(r.violation_sql), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__v{i}")
        for i, r in enumerate(rules)
    ]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{r.name}', __v{i}" for i, r in enumerate(rules))
    return wide.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, n_violations)",
        "__n AS n_checked",
    ).select("rule", F.col("n_checked").cast("bigint"), "n_violations")


def uniqueness_audit(df: DataFrame, key: str, name: str) -> DataFrame:
    return df.agg(
        F.lit(name).alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct(key)).cast("bigint").alias(
            "n_violations"
        ),
    ).select("rule", "n_checked", "n_violations")


def fk_audit(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str, name: str
) -> DataFrame:
    """Orphan census: one equi-join (dim side reduced to distinct keys,
    broadcast when small) aggregated to a scalar — never a per-row
    driver check."""
    tagged = fact.select(F.col(fact_key).alias("__k")).join(
        dim.select(F.col(dim_key).alias("__k")).distinct().withColumn(
            "__hit", F.lit(1)
        ),
        "__k",
        "left",
    )
    return tagged.agg(
        F.lit(name).alias("rule"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_violations"),
    ).select("rule", "n_checked", "n_violations")


ORDER_RULES = [
    PredicateRule("orders.custkey_not_null", "o_custkey IS NULL"),
    PredicateRule(
        "orders.status_enum", "o_orderstatus NOT IN ('F', 'O', 'P')"
    ),
    PredicateRule("orders.totalprice_positive", "o_totalprice <= 0"),
]

LINEITEM_RULES = [
    PredicateRule("lineitem.quantity_range", "l_quantity < 1 OR l_quantity > 50"),
    PredicateRule("lineitem.discount_range", "l_discount < 0 OR l_discount > 0.1"),
    PredicateRule("lineitem.extendedprice_positive", "l_extendedprice <= 0"),
]


@query(
    "dq_constraint_audit",
    oracle="""
    SELECT 'orders.custkey_not_null' AS rule,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders.status_enum', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders.totalprice_positive', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.quantity_range', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.discount_range', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.extendedprice_positive', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders.orderkey_unique', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.orderkey_fk', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON o.o_orderkey = l.l_orderkey
    """,
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit over the warehouse: not-null, enum,
    range, PK uniqueness and FK integrity — eight
    rules, four jobs (one agg pass per table's predicate set, one
    distinct-count, one key join), each emitting
    (rule, n_checked, n_violations)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    frames = [
        predicate_audit(o, ORDER_RULES),
        predicate_audit(li, LINEITEM_RULES),
        uniqueness_audit(o, "o_orderkey", "orders.orderkey_unique"),
        fk_audit(li, "l_orderkey", o, "o_orderkey", "lineitem.orderkey_fk"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "dq_batch_drift_psi",
    oracle="""
    WITH bucketed AS (
        SELECT CAST(length(bin(n_chars)) AS BIGINT) AS bucket,
               doc_id % 10 = 0 AS is_batch
        FROM documents
    ),
    grid AS (
        SELECT DISTINCT bucket FROM bucketed
    ),
    b AS (
        SELECT bucket, count(*) AS n FROM bucketed WHERE is_batch GROUP BY bucket
    ),
    c AS (
        SELECT bucket, count(*) AS n FROM bucketed WHERE NOT is_batch GROUP BY bucket
    ),
    tot AS (
        SELECT (SELECT count(*) FROM bucketed WHERE is_batch) AS nb,
               (SELECT count(*) FROM bucketed WHERE NOT is_batch) AS nc,
               (SELECT count(*) FROM grid) AS k
    ),
    fracs AS (
        SELECT g.bucket,
               CAST(coalesce(b.n, 0) AS BIGINT) AS n_batch,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n_corpus,
               (coalesce(b.n, 0) + 1.0) / (tot.nb + tot.k) AS p,
               (coalesce(c.n, 0) + 1.0) / (tot.nc + tot.k) AS q
        FROM grid g
        LEFT JOIN b ON b.bucket = g.bucket
        LEFT JOIN c ON c.bucket = g.bucket
        CROSS JOIN tot
    )
    SELECT bucket, n_batch, n_corpus,
           round(p, 6) AS batch_frac,
           round(q, 6) AS corpus_frac,
           round((p - q) * round(ln(p / q), 6), 6) AS psi_term
    FROM fracs
    """,
)
def dq_batch_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion drift monitor: Population Stability Index terms of the
    new batch (``doc_id % 10 = 0``, the same batch as the incremental
    curation pipeline) against the existing corpus over binary-magnitude
    document-length buckets (integer bit-length — exact in both engines,
    the same binning txt_length_histogram uses; a float log2 would hang
    bucket boundaries on libm ulp at powers of two). Σ psi_term < 0.1 is the classic
    "no meaningful drift" reading; a spiking bucket tells the owner
    WHERE the batch's length distribution moved. Laplace-smoothed
    fractions keep empty buckets finite and deterministic; the one
    ``ln`` in the PSI term is rounded before the product (libm rule).

    Plan: one scan bucketizes, two tiny aggregates + a bucket-grid left
    join — cost is the scan; everything after is |buckets|-sized.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        F.length(F.bin(F.col("n_chars"))).cast("bigint").alias("bucket"),
        (F.col("doc_id") % 10 == 0).alias("is_batch"),
    )
    from pyspark import StorageLevel

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    grid = docs.select("bucket").distinct()
    b = docs.filter("is_batch").groupBy("bucket").agg(F.count(F.lit(1)).alias("nb_"))
    c = docs.filter("NOT is_batch").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("nc_")
    )
    nb = docs.filter("is_batch").count()
    nc = docs.filter("NOT is_batch").count()
    k = grid.count()
    p = (F.coalesce("nb_", F.lit(0)) + 1.0) / (nb + k)
    q = (F.coalesce("nc_", F.lit(0)) + 1.0) / (nc + k)
    out = (
        grid.join(b, "bucket", "left")
        .join(c, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("nb_", F.lit(0)).cast("bigint").alias("n_batch"),
            F.coalesce("nc_", F.lit(0)).cast("bigint").alias("n_corpus"),
            F.round(p, 6).alias("batch_frac"),
            F.round(q, 6).alias("corpus_frac"),
            F.round((p - q) * F.round(F.log(p / q), 6), 6).alias("psi_term"),
        )
    )
    from ..session import finalize_unpersist

    return finalize_unpersist(out, docs)


IQR_FENCE = 1.5


@query(
    "dq_iqr_outliers",
    oracle=f"""
    WITH q AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        FROM lineitem GROUP BY 1
    ),
    fenced AS (
        SELECT l_returnflag, p25, p75,
               round(p25 - {IQR_FENCE} * (p75 - p25), 4) AS lo,
               round(p75 + {IQR_FENCE} * (p75 - p25), 4) AS hi
        FROM q
    )
    SELECT f.l_returnflag, f.p25, f.p75,
           CAST(sum(CASE WHEN l.l_extendedprice < f.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN l.l_extendedprice > f.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem l JOIN fenced f ON f.l_returnflag = l.l_returnflag
    GROUP BY 1, 2, 3
    """,
)
def dq_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per group: prices outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] of their return-flag's distribution —
    the robust (quantile-based, not moment-based) counterpart of
    ``ts_anomaly_zscore``, and the standard first-pass data-quality
    screen for heavy-tailed columns. Two aggregation passes, one fact
    scan each: the per-group fences are a group-count-sized table
    broadcast back onto the fact for a conditional count. Fences are
    rounded to 4 dp on both sides before comparison so interpolated-
    quantile ulp drift cannot flip a boundary row; the docstringed scale
    alternative for the quantile pass is ``approx_percentile``
    (see ``agg_price_quantiles``).
    """
    li = read_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75"),
    )
    fenced = q.select(
        "l_returnflag",
        "p25",
        "p75",
        F.round(
            F.col("p25") - IQR_FENCE * (F.col("p75") - F.col("p25")), 4
        ).alias("lo"),
        F.round(
            F.col("p75") + IQR_FENCE * (F.col("p75") - F.col("p25")), 4
        ).alias("hi"),
    )
    return (
        li.join(F.broadcast(fenced), "l_returnflag")
        .groupBy("l_returnflag", "p25", "p75")
        .agg(
            F.sum(F.when(F.col("l_extendedprice") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("l_extendedprice") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )


#: Benford expected first-digit shares in micro-units, precomputed once
#: in Python (round(log10(1 + 1/d) * 1e6)) so BOTH engines consume the
#: same nine integer constants — no cross-engine log10 anywhere.
BENFORD_MICRO: dict[int, int] = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_case_sql() -> str:
    whens = " ".join(
        f"WHEN {d} THEN {m}" for d, m in BENFORD_MICRO.items()
    )
    return f"CASE first_digit {whens} END"


@query(
    "dq_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS first_digit
        FROM orders WHERE o_totalprice >= 1
    ),
    census AS (
        SELECT first_digit, CAST(count(*) AS BIGINT) AS n_rows
        FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM census)
    SELECT first_digit, n_rows,
           CAST((2000000 * n_rows + t) // (2 * t) AS DOUBLE) / 1000000
               AS observed_share,
           CAST({_benford_case_sql()} AS DOUBLE) / 1000000 AS benford_share,
           CAST((2000000 * n_rows + t) // (2 * t)
                - {_benford_case_sql()} AS BIGINT) AS deviation_micro
    FROM census, tot
    """,
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    forensic/data-quality screen: naturally-occurring multi-magnitude
    amounts follow P(d) = log10(1 + 1/d), and a digit whose observed
    share deviates sharply flags fabricated or truncated values. One
    map-side-combined 9-row census plus a 1-row total; expected shares
    are nine precomputed integer constants (no runtime log10), and the
    observed shares round half-up in pure integer arithmetic, so the
    report is bit-identical cross-engine.
    """
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    # explicit floor: a bare double→bigint CAST truncates in Spark but
    # ROUNDS in DuckDB, flipping the leading digit of x999.99-style rows
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    census = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    tot = census.agg(F.sum("n_rows").cast("bigint").alias("t"))
    whens = F.col("first_digit")
    expected = None
    for d, m in BENFORD_MICRO.items():
        expected = (
            F.when(whens == d, m)
            if expected is None
            else expected.when(whens == d, m)
        )
    obs_micro = F.expr("(2000000 * n_rows + t) div (2 * t)")
    return census.crossJoin(tot).select(
        "first_digit",
        "n_rows",
        (obs_micro.cast("double") / 1000000).alias("observed_share"),
        (expected.cast("double") / 1000000).alias("benford_share"),
        (obs_micro - expected).cast("bigint").alias("deviation_micro"),
    )


#: KS split boundary: first vs second half of the event month.
KS_SPLIT_DAY = 16


@query(
    "dq_drift_ks",
    oracle=f"""
    WITH vals AS (
        SELECT event_type, value,
               CAST(sum(CASE WHEN extract(day FROM ts) < {KS_SPLIT_DAY}
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN extract(day FROM ts) >= {KS_SPLIT_DAY}
                             THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM events
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, value,
               sum(a) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS ca,
               sum(b) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cb,
               sum(a) OVER (PARTITION BY event_type) AS na,
               sum(b) OVER (PARTITION BY event_type) AS nb
        FROM vals
    ),
    diffs AS (
        SELECT event_type, value, na, nb,
               abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                   AS diff
        FROM cum
    ),
    dmax AS (
        SELECT *, max(diff) OVER (PARTITION BY event_type) AS d_int
        FROM diffs
    )
    SELECT event_type,
           CAST(any_value(na) AS BIGINT) AS n_first_half,
           CAST(any_value(nb) AS BIGINT) AS n_second_half,
           min(value) AS ks_argmax_value,
           CAST(CAST((2000000 * any_value(d_int)
                      + CAST(any_value(na) AS HUGEINT) * any_value(nb))
                     // (2 * CAST(any_value(na) AS HUGEINT)
                         * any_value(nb)) AS BIGINT) AS DOUBLE) / 1000000
               AS ks_statistic
    FROM dmax
    WHERE diff = d_int
    GROUP BY event_type
    """,
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test per event type:
    the value distribution of the month's first half against its
    second half. Complements ``dq_batch_drift_psi`` — PSI needs a
    bucketing choice and saturates; KS is bucket-free, distribution-
    agnostic, and THE classical two-sample test a monitoring system
    thresholds (D > c(α)·sqrt((n1+n2)/(n1·n2))).

    Exactness: D = max_v |c1(v)·n2 − c2(v)·n1| / (n1·n2) — cross-
    multiplying makes the ECDF comparison pure integer arithmetic
    (38-digit, since n1·n2 overflows BIGINT at 100 TB); the argmax
    value (where the CDFs diverge most — the value to investigate) is
    tie-broken by minimum. Both samples come from ONE conditional
    aggregation over one scan (the split is a CASE, not two reads);
    the ECDF windows run over distinct values per type.
    """
    ev = read_table(spark, sf_dir, "events")
    vals = ev.groupBy("event_type", "value").agg(
        F.sum(
            F.when(F.dayofmonth("ts") < KS_SPLIT_DAY, 1).otherwise(0)
        ).cast("bigint").alias("a"),
        F.sum(
            F.when(F.dayofmonth("ts") >= KS_SPLIT_DAY, 1).otherwise(0)
        ).cast("bigint").alias("b"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type",
        "value",
        F.sum("a").over(wcum).alias("ca"),
        F.sum("b").over(wcum).alias("cb"),
        F.sum("a").over(wall).alias("na"),
        F.sum("b").over(wall).alias("nb"),
    )
    diffs = cum.select(
        "event_type",
        "value",
        "na",
        "nb",
        F.abs(
            F.col("ca").cast("decimal(38,0)") * F.col("nb")
            - F.col("cb").cast("decimal(38,0)") * F.col("na")
        ).alias("diff"),
    )
    dmax = diffs.withColumn("d_int", F.max("diff").over(wall))
    return (
        dmax.filter(F.col("diff") == F.col("d_int"))
        .groupBy("event_type")
        .agg(
            F.any_value("na").cast("bigint").alias("n_first_half"),
            F.any_value("nb").cast("bigint").alias("n_second_half"),
            F.min("value").alias("ks_argmax_value"),
            (
                F.expr(
                    "CAST((2000000 * any_value(d_int)"
                    " + CAST(any_value(na) AS DECIMAL(38,0)) * any_value(nb))"
                    " div (2 * CAST(any_value(na) AS DECIMAL(38,0))"
                    "      * any_value(nb)) AS BIGINT)"
                ).cast("double")
                / 1000000
            ).alias("ks_statistic"),
        )
    )


SENTINEL_TOP_N = 10


@query(
    "dq_sentinel_values",
    oracle=f"""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
    freq AS (
        SELECT value, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM events
        GROUP BY 1
        ORDER BY n_occurrences DESC, value
        LIMIT {SENTINEL_TOP_N}
    )
    SELECT f.value, f.n_occurrences,
           CAST((2000000 * f.n_occurrences + t.n) // (2 * t.n) AS DOUBLE)
               / 1000000 AS share
    FROM freq f, tot t
    """,
)
def dq_sentinel_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel / magic-value detector: the {SENTINEL_TOP_N} most
    repeated EXACT values of the measure column with their corpus
    share. On a continuous measure, genuine data repeats a value a
    handful of times; a default (0.0), a sentinel (999.99), or an
    imputation constant repeats orders of magnitude more — this census
    is the standard first look the Benford screen
    (``dq_benford_audit``) and drift monitors assume has been done.
    One map-side-combinable count + a {SENTINEL_TOP_N}-row
    TakeOrderedAndProject (ties broken by value); shares are half-up
    integer micro-rounding against the 1-row total broadcast.
    """
    ev = read_table(spark, sf_dir, "events")
    tot = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    freq = (
        ev.groupBy("value")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "value")
        .limit(SENTINEL_TOP_N)
    )
    return freq.crossJoin(tot).select(
        "value",
        "n_occurrences",
        (
            F.expr("(2000000 * n_occurrences + n) div (2 * n)").cast("double")
            / 1000000
        ).alias("share"),
    )
