"""Sketch-based semi-join reduction: an explicit Bloom-filter prefilter.

The classic 100 TB move when a selective dim-side predicate must prune a
huge fact scan and the key set is too big to ship as an IN-list but far
smaller than the fact: hash the dim keys into an m-bit Bloom filter, ship
the filter (KBs), and drop fact rows whose probe misses — no false
negatives, a measurable false-positive sliver, and the expensive exact
join runs only on survivors. Spark 3.3+ injects a runtime version of this
itself (``spark.sql.optimizer.runtime.bloomFilter.enabled``); this
operator makes the technique explicit, deterministic and auditable.

Engine-portability: positions come from md5 hex digits (the repo-wide
cross-engine hash primitive — see ``dedup._simhash_bit_sums_sql`` for the
same ``instr('0123456789abcdef', …)`` digit trick), so Spark and the
DuckDB oracle build bit-identical filters. The filter itself is 64
BIGINT words (m = 4096 bits) built with ``bit_or`` aggregation; the probe
is two broadcast equi-joins against the 64-row word table — no
driver-side set, no nested-loop join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import read_table

BLOOM_BITS = 4096  # m: 64 words x 64 bits
BLOOM_HASHES = 2  # k: seeded md5 probes per key
_KEY_PRED_SQL = "s_nationkey < 5"


def _hexpos(hexpr: str) -> str:
    """First 3 md5 hex digits → int in [0, 4096) — identical SQL text in
    Spark and DuckDB (instr/substring behave the same)."""
    def d(i: int) -> str:
        return f"(instr('0123456789abcdef', substring({hexpr}, {i}, 1)) - 1)"

    return f"({d(1)} * 256 + {d(2)} * 16 + {d(3)})"


def _pos_sql(key: str, seed: int, cast_type: str) -> str:
    return _hexpos(f"md5('{seed}:' || CAST({key} AS {cast_type}))")


def bloom_build(keys: DataFrame, key: str, spark: SparkSession) -> DataFrame:
    """(idx, w) 64-row dense word table for the key set — the shippable
    filter artifact. ``bit_or`` partial-aggregates map-side, so building
    it over N keys is one tiny shuffle of ≤64×parallelism rows."""
    pos = keys.selectExpr(
        *[f"CAST({_pos_sql(key, s, 'STRING')} AS BIGINT) AS pos{s}"
          for s in range(BLOOM_HASHES)]
    )
    stacked = pos.select(
        F.explode(F.array(*[F.col(f"pos{s}") for s in range(BLOOM_HASHES)])).alias(
            "pos"
        )
    )
    words = (
        stacked.select(
            F.floor(F.col("pos") / 64).cast("int").alias("idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("idx")
        .agg(F.expr("bit_or(bit)").alias("w"))
    )
    grid = spark.range(64).select(F.col("id").cast("int").alias("idx"))
    return grid.join(words, "idx", "left").select(
        "idx", F.coalesce("w", F.lit(0)).cast("bigint").alias("w")
    )


@query(
    "flt_bloom_prefilter",
    oracle=f"""
    WITH keys AS (
        SELECT DISTINCT s_suppkey AS k FROM supplier WHERE {_KEY_PRED_SQL}
    ),
    kp AS (
        SELECT CAST({_pos_sql('k', 0, 'VARCHAR')} AS BIGINT) AS pos FROM keys
        UNION ALL
        SELECT CAST({_pos_sql('k', 1, 'VARCHAR')} AS BIGINT) AS pos FROM keys
    ),
    words AS (
        -- bit 63: DuckDB raises on CAST(1 AS BIGINT) << 63 where Spark's
        -- shiftleft wraps to Long.MIN_VALUE (found by the sf0.1 sweep —
        -- no build key happened to hash to bit 63 at smaller SFs);
        -- special-case it to the same two's-complement value
        SELECT CAST(floor(pos / 64) AS INT) AS idx,
               bit_or(CASE WHEN pos % 64 = 63
                           THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                           ELSE CAST(1 AS BIGINT) << CAST(pos % 64 AS INT)
                      END) AS w
        FROM kp GROUP BY 1
    ),
    grid AS (
        SELECT g.idx, coalesce(words.w, 0) AS w
        FROM (SELECT unnest(range(0, 64)) AS idx) g
        LEFT JOIN words ON words.idx = g.idx
    ),
    fpos AS (
        SELECT l_suppkey AS k,
               CAST({_pos_sql('l_suppkey', 0, 'VARCHAR')} AS BIGINT) AS pos0,
               CAST({_pos_sql('l_suppkey', 1, 'VARCHAR')} AS BIGINT) AS pos1
        FROM lineitem
    ),
    tested AS (
        SELECT f.k,
               ((g0.w >> CAST(f.pos0 % 64 AS INT)) & 1) = 1
               AND ((g1.w >> CAST(f.pos1 % 64 AS INT)) & 1) = 1 AS pass,
               keys.k IS NOT NULL AS member
        FROM fpos f
        JOIN grid g0 ON g0.idx = CAST(floor(f.pos0 / 64) AS INT)
        JOIN grid g1 ON g1.idx = CAST(floor(f.pos1 / 64) AS INT)
        LEFT JOIN keys ON keys.k = f.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
           CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos
    FROM tested
    """,
)
def flt_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join audit: build the filter over the selective supplier
    key set, probe every lineitem row, and report the exact pass /
    true-match / false-positive census against the real semi-join. The
    invariant the test pins (no false negatives: every true match
    passes) is the property that makes the prefilter safe to splice in
    front of any equi-join at scale."""
    keys = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.expr(_KEY_PRED_SQL))
        .select(F.col("s_suppkey").alias("k"))
        .distinct()
    )
    bloom = bloom_build(keys, "k", spark)
    fact = read_table(spark, sf_dir, "lineitem").selectExpr(
        "l_suppkey AS k",
        f"CAST({_pos_sql('l_suppkey', 0, 'STRING')} AS BIGINT) AS pos0",
        f"CAST({_pos_sql('l_suppkey', 1, 'STRING')} AS BIGINT) AS pos1",
    )
    g0 = bloom.select(F.col("idx").alias("idx0"), F.col("w").alias("w0"))
    g1 = bloom.select(F.col("idx").alias("idx1"), F.col("w").alias("w1"))
    probed = (
        fact.withColumn("idx0", F.floor(F.col("pos0") / 64).cast("int"))
        .withColumn("idx1", F.floor(F.col("pos1") / 64).cast("int"))
        .join(g0, "idx0")
        .join(g1, "idx1")
        .withColumn(
            "pass",
            F.expr(
                "(shiftright(w0, CAST(pos0 % 64 AS INT)) & 1) = 1 "
                "AND (shiftright(w1, CAST(pos1 % 64 AS INT)) & 1) = 1"
            ),
        )
        .join(
            keys.withColumn("member_tag", F.lit(1)), "k", "left"
        )
        .withColumn("member", F.col("member_tag").isNotNull())
    )
    return probed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("bigint").alias(
            "n_pass_bloom"
        ),
        F.sum(F.when(F.col("member"), 1).otherwise(0)).cast("bigint").alias(
            "n_true_match"
        ),
        F.sum(F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )


CMS_WIDTH = 1024  # w: buckets per row
CMS_DEPTH = 2  # d: independent md5-seeded rows


@query(
    "sk_countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
    ),
    exact AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_count
        FROM tok GROUP BY 1
    ),
    pos AS (
        SELECT token, exact_count,
               {_hexpos("md5('0:' || token)")} % {CMS_WIDTH} AS p0,
               {_hexpos("md5('1:' || token)")} % {CMS_WIDTH} AS p1
        FROM exact
    ),
    b0 AS (SELECT p0, CAST(sum(exact_count) AS BIGINT) AS c0 FROM pos GROUP BY 1),
    b1 AS (SELECT p1, CAST(sum(exact_count) AS BIGINT) AS c1 FROM pos GROUP BY 1),
    est AS (
        SELECT token, exact_count, least(c0, c1) AS est_count
        FROM pos JOIN b0 USING (p0) JOIN b1 USING (p1)
    )
    SELECT token, exact_count, est_count,
           est_count - exact_count AS overcount
    FROM est
    ORDER BY est_count DESC, token
    LIMIT 20
    """,
)
def sk_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter census: estimate every token's
    frequency from a d=2 x w=1024 sketch and report the top-20 by
    estimate next to the exact count (the audit that sizes w/d before
    trusting the sketch alone at scale). CMS never underestimates —
    ``est_count >= exact_count`` is pinned by test — and at 100 TB the
    sketch replaces the exact census entirely: the (seed, bucket) table
    is w*d rows built by one map-side-combined aggregation, shippable as
    a broadcast artifact, while the exact side here exists only to
    measure the overcount distribution at audit scale.

    Determinism: bucket positions come from md5 hex digits (the repo's
    cross-engine hash primitive); counts are integers throughout.
    """
    tok = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
    )
    exact = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    p0_sql = _hexpos("md5('0:' || token)")
    p1_sql = _hexpos("md5('1:' || token)")
    pos = exact.selectExpr(
        "token",
        "exact_count",
        f"{p0_sql} % {CMS_WIDTH} AS p0",
        f"{p1_sql} % {CMS_WIDTH} AS p1",
    )
    b0 = pos.groupBy("p0").agg(F.sum("exact_count").cast("bigint").alias("c0"))
    b1 = pos.groupBy("p1").agg(F.sum("exact_count").cast("bigint").alias("c1"))
    est = (
        pos.join(F.broadcast(b0), "p0")
        .join(F.broadcast(b1), "p1")
        .withColumn("est_count", F.least("c0", "c1"))
    )
    return (
        est.select(
            "token",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "token")
        .limit(20)
    )


#: KMV sketch size (k minimum hash values). Estimate error ~ 1/sqrt(k-2)
#: (~13% at k=64) — the audit emits estimate AND exact side by side.
KMV_K = 64
#: Hash-fraction denominator: the first 13 md5 hex digits as a 52-bit
#: integer (2^52 fits (k-1)*2^52 in BIGINT for k = 64).
KMV_DENOM = 1 << 52


@query(
    "sk_kmv_distinct",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    h AS (
        SELECT event_type, user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                    AS BIGINT) AS hv
        FROM du
    ),
    r AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv, user_id) AS rn
        FROM h
    ),
    sk AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_in_sketch,
               CAST(max(hv) AS BIGINT) AS kth_hash
        FROM r WHERE rn <= {KMV_K} GROUP BY 1
    ),
    ex AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
        FROM du GROUP BY 1
    )
    SELECT e.event_type, e.exact_distinct,
           CAST(CASE WHEN s.n_in_sketch < {KMV_K} THEN e.exact_distinct
                ELSE (({KMV_K} - 1) * {KMV_DENOM}) // s.kth_hash
                END AS BIGINT) AS est_distinct
    FROM ex e JOIN sk s USING (event_type)
    """,
)
def sk_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type, with
    the exact count alongside — the mergeable distinct sketch whose
    CROSS-ENGINE determinism HLL cannot give: the sketch state is the
    {KMV_K} smallest md5 fractions of the key space, so the estimate
    (k−1)/kth-smallest-fraction is pure integer arithmetic over the
    repo's one portable hash, bit-identical in Spark and DuckDB (HLL's
    register layout is engine-private, so ``approx_count_distinct`` can
    never be hash-gated across engines).

    Scale shape: the sketch is an ORDER-STATISTIC aggregate — at
    production scale each partition keeps its local k minima (map-side
    TakeOrdered) and the merge is min-k over k·parallelism candidates;
    here the per-group top-k window expresses the same contract. The
    exact side exists because this is the family's AUDIT query (the
    ``sk_countmin_heavy_hitters`` pattern): estimate and truth in one
    row so drift is self-evident. Union of sketches = distinct of
    unions (min-k is a semilattice) — the property that lets 1000
    executors sketch 100 TB independently and merge k values per group.
    """
    du = (
        read_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    h = du.select(
        "event_type",
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hv", "user_id")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
            F.max("hv").cast("bigint").alias("kth_hash"),
        )
    )
    ex = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    return ex.join(sk, "event_type").select(
        "event_type",
        "exact_distinct",
        F.when(
            F.col("n_in_sketch") < KMV_K, F.col("exact_distinct")
        )
        .otherwise(
            F.expr(f"(({KMV_K} - 1) * {KMV_DENOM}) div kth_hash")
        )
        .cast("bigint")
        .alias("est_distinct"),
    )


#: HLL++ audit: relative standard deviation passed to the sketch, and
#: the audit bound the gate asserts (3x headroom over the worst observed
#: error at the tested SFs: 0.67% at sf0.01).
HLL_RSD = 0.01
HLL_BOUND_PCT = 3


@query(
    "agg_hll_audit",
    oracle=f"""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_{HLL_BOUND_PCT}pct
    FROM events
    GROUP BY 1
    """,
)
def agg_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ accuracy audit — the bounded-error gate for Spark's native
    ``approx_count_distinct`` (the sketch the engine actually ships at
    100 TB; `sk_kmv_distinct` is the portable-hash alternative): per
    event type, the exact distinct count plus the assertion that the
    HLL estimate (rsd={HLL_RSD}) lands within {HLL_BOUND_PCT}% of it.
    The estimate itself is deliberately NOT a gated column — HLL's
    register layout is engine-private, so its VALUE can never
    cross-engine hash-match; what IS portable (and what this query
    pins) is the accuracy CONTRACT. Spark's HLL is deterministic for
    fixed data, so the boolean is stable run to run; a Spark upgrade
    that degrades the sketch flips it to FALSE and the hash gate
    reports exactly which group drifted.

    Scale shape: one pass, map-side-combinable sketch merge (HLL union
    is the whole point); the exact side is the audit's cost and exists
    only here — production consumers read the estimate alone.
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_distinct"),
            F.approx_count_distinct("user_id", HLL_RSD).alias("est"),
        )
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("est") - F.col("exact_distinct"))
                * 100
                <= F.col("exact_distinct") * HLL_BOUND_PCT
            ).alias(f"within_{HLL_BOUND_PCT}pct"),
        )
    )


#: Hash-Bernoulli sample rate for the quantile sketch: keep a row when
#: the first 2 md5 hex digits of its key are below this bound ('20' hex
#: ⇒ 32/256 = 1/8 of the key space — sample size ~n/8, error ~1/√(n/8)).
QSAMPLE_UPPER = "20"
#: Rank selector: the ceil(p·n)-th element of the (value, key) order —
#: pure integer arithmetic, identical in Spark (`div`) and DuckDB (`//`).
_RANK_P50 = "(n + 1) {div} 2"
_RANK_P90 = "(9 * n + 9) {div} 10"


def _quantile_block_sql(src: str, div: str, n_alias: str, prefix: str) -> str:
    """Ranked-selection SQL shared by both engines (only the integer
    division token differs): per event type, the ceil(p·n)-rank element
    of (value, event_id) order for p ∈ {0.5, 0.9}."""
    p50 = _RANK_P50.format(div=div)
    p90 = _RANK_P90.format(div=div)
    return f"""
        SELECT event_type,
               CAST(max(n) AS BIGINT) AS {n_alias},
               max(CASE WHEN rn = {p50} THEN value END) AS {prefix}_p50,
               max(CASE WHEN rn = {p90} THEN value END) AS {prefix}_p90
        FROM (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM {src}
        ) ranked
        GROUP BY event_type
    """


@query(
    "sk_hash_sample_quantiles",
    oracle=f"""
    WITH samp AS (
        SELECT event_type, value, event_id FROM events
        WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2)
              < '{QSAMPLE_UPPER}'
    ),
    exact AS ({_quantile_block_sql("events", "//", "n_rows", "exact")}),
    est AS ({_quantile_block_sql("samp", "//", "n_sample", "est")})
    SELECT e.event_type, e.n_rows, coalesce(s.n_sample, 0) AS n_sample,
           e.exact_p50, s.est_p50, e.exact_p90, s.est_p90
    FROM exact e LEFT JOIN est s USING (event_type)
    """,
)
def sk_hash_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch merge audit on a deterministic hash-Bernoulli
    sample — the portable stand-in for KLL/`approx_percentile` that the
    family's other audits (`sk_kmv_distinct`, `sk_countmin_heavy_hitters`)
    establish: engine-native quantile sketches (KLL's random compaction,
    GK's order-dependent buffers) can never hash-match across engines,
    but a BOTTOM-p HASH SAMPLE can — keep every row whose md5 key
    fraction < 1/8, estimate each quantile as the ceil(p·m)-rank element
    of the sample, and report it beside the exact ceil(p·n)-rank element
    so the sketch's drift is self-evident per group.

    The sample IS a mergeable sketch: hash-Bernoulli membership is a
    pure row property, so the union of per-partition (or per-day)
    samples is exactly the sample of the union — 1000 executors sample
    100 TB independently with no coordination, ship ~n/8 rows, and any
    quantile is one small sort away. That semilattice property is what
    `approx_percentile` also has but cannot expose portably; the audit
    pins the sample's determinism (same rows every run, both engines)
    and its accuracy at this n (rank error ~1/√(pn)).

    Scale shape: exact side = one window over the events shuffle
    (audit-only cost, same plan class as `agg_price_quantiles`); sample
    side = the same window over an 8× smaller frame behind a pushed-down
    deterministic filter. Production consumers at 100 TB read ONLY the
    sample side; the exact side exists to measure it, as everywhere in
    the sk_ family. Known ceiling, stated: a rank window PARTITIONed by
    a low-cardinality group puts each group in one window task, so at
    extreme per-group volume the sample-side rank would move to the
    value-sharded rank plan (``operators.ranking.sharded_global_running``
    / the ``txt_zipf_slope`` census+shard pattern) — at p=1/8 sampling
    that crossover sits ~8× beyond where `agg_price_quantiles` hits the
    identical wall, and the sketch's mergeability is unaffected.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    ev.createOrReplaceTempView("sk_qsample_events")
    try:
        exact_sql = _quantile_block_sql(
            "sk_qsample_events", "div", "n_rows", "exact"
        )
        est_sql = _quantile_block_sql(
            f"""(SELECT event_type, value, event_id
                 FROM sk_qsample_events
                 WHERE substr(md5(CAST(event_id AS STRING)), 1, 2)
                       < '{QSAMPLE_UPPER}')""",
            "div",
            "n_sample",
            "est",
        )
        return spark.sql(
            f"""
            WITH exact AS ({exact_sql}), est AS ({est_sql})
            SELECT e.event_type, e.n_rows,
                   coalesce(s.n_sample, CAST(0 AS BIGINT)) AS n_sample,
                   e.exact_p50, s.est_p50, e.exact_p90, s.est_p90
            FROM exact e LEFT JOIN est s USING (event_type)
            """
        )
    finally:
        spark.catalog.dropTempView("sk_qsample_events")
