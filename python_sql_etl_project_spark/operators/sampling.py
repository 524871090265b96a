"""Sampling / splitting / packing operators for training-data pipelines.

The reference has no sampling surface at all (its whole corpus is one
Excel workbook — ``/root/reference/src/extract.py:130-158`` loads
everything, every run). At 100 TB the first thing a training pipeline
does is the opposite: carve deterministic subsets. These operators are
the north-star additions:

* ``smp_hash_split``       — reproducible train/val/test assignment
* ``smp_stratified_sample`` — per-stratum rate-controlled downsampling
* ``smp_fixed_k_sample``   — exact-size uniform sample via hash top-k
* ``pack_token_budget``    — greedy-by-order sequence packing into
                             fixed token budgets (context windows)
* ``decon_benchmark_ngrams`` — train-set contamination audit against a
                             held-out benchmark via n-gram overlap

Scale notes (the design constraint, not the test scale):

* Every operator keys randomness off ``md5(doc_id)`` — a *pure, narrow
  projection*: no shuffle, no RNG state, no seed-broadcast, and the
  assignment of a given document never changes when the corpus grows
  (critical for incremental training-set builds; a ``rand(seed)`` column
  changes wholesale when partitioning changes).
* ``smp_fixed_k_sample`` is ``ORDER BY hash LIMIT k``: Spark plans this
  as TakeOrderedAndProject — per-partition top-k then a k-row merge on
  the driver — NOT a global sort; the shuffle carries k rows per
  partition, so it survives a 100× scale-up as long as k is small.
* ``pack_token_budget`` is one window scan per source partition; the
  shuffle is on ``source`` (few, coarse partitions). Skewed sources
  would need a salt on a real corpus; at that point packing becomes
  approximate-per-salt-group, which is acceptable for training batches.

Cross-engine determinism: hex md5 strings compare identically in Spark
and DuckDB, so FIXED split thresholds are *string* comparisons against
hex prefixes. Data-dependent thresholds (``smp_temperature_resample``)
need arithmetic, so they convert the md5 prefix to an integer — Spark
``conv(x, 16, 10)`` ↔ DuckDB ``('0x' || x)::BIGINT`` — and compare
against an integer threshold (floor of rate × bucket count), which both
engines evaluate exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import read_table, read_table_parallel
from .text import tokens

#: 80/10/10 split: md5 hex is uniform over [0,16^32); the first two hex
#: digits give 256 buckets — 'cc' = 204/256 ≈ 0.797, 'e6' = 230/256 ≈ 0.898.
SPLIT_TRAIN_UPPER = "cc"
SPLIT_VAL_UPPER = "e6"

#: Per-language keep-rates for the stratified sample, expressed as a hex
#: first-digit threshold (out of 16): keep iff first hex digit < bound.
STRATUM_BOUNDS = {"en": 4, "es": 8, "de": 12}  # 25% / 50% / 75%
DEFAULT_BOUND = 16  # unknown strata: keep everything

FIXED_K = 500
TOKEN_BUDGET = 2048

#: Decontamination: benchmark = md5 first-byte < 0x08 (~3% of the corpus);
#: overlap unit is the 8-token shingle (the published decontamination
#: range is 8–13-grams; 8 fits the synthetic corpus's short docs).
BENCH_UPPER = "08"
DECON_K = 8

#: Contiguous doc_id span per prefix-sum shard — the
#: ``smp_systematic_resample`` two-pass pattern, generalized (round 7) to
#: EVERY per-source running window in this module: a single
#: ``Window.partitionBy("source")`` running frame caps parallelism at the
#: number of sources (~5 coarse sources would push terabytes through 5
#: tasks at 100 TB); sharding by ``doc_id div span`` lifts it to
#: sources × N/span with identical integer outputs.
PACK_SHARD_SPAN = 4096

#: Token-length span per shard for VALUE-ordered running windows (the
#: length-sorted straddle / batch frames): ``n_tokens div span`` is
#: monotone in the sort key, so shard-wise prefixes compose exactly;
#: parallelism = sources × (max_len / span), bounded by the length
#: distribution rather than the corpus size (documented skew bound).
PACK_TOK_SPAN = 16


def _sharded_running(
    df: DataFrame,
    value,
    order_cols,
    shard,
    shard_desc: bool = False,
    out: str = "run",
) -> DataFrame:
    """Shard-parallel per-source running sum (two-pass prefix pattern).

    Computes ``sum(value) OVER (PARTITION BY source ORDER BY order_cols
    ROWS UNBOUNDED PRECEDING)`` without ever collapsing a source to one
    task: pass 1 reduces each shard (``shard`` must be monotone
    nondecreasing in the total order — use ``doc_id div span`` for
    id-ordered frames, ``n_tokens div span`` for length-ordered ones,
    ``shard_desc=True`` when the order is descending) to one map-side-
    combined partial; shard offsets are an exclusive prefix over the
    shard-grain frame (dim-sized: sources × N/span rows); pass 2
    broadcasts the offsets back and every shard finishes its rows
    independently. Integer-exact — bit-identical to the one-window form,
    so oracles keep their single ``ROWS UNBOUNDED PRECEDING`` window.

    ``value`` of ``F.lit(1)`` yields the per-source ``row_number``.

    Offsets-frame / broadcast bound (pinned here so scale audits don't
    re-derive it): the offsets table has exactly ``N / span`` rows per
    source — at span 4096 that is ~2.4e8 tiny rows per source even at a
    10^12-doc corpus, i.e. the single-task offsets window and the
    ``F.broadcast(offs)`` hint (~3 longs/row → low-GB at that extreme)
    are the knowingly-bounded small stages of the plan. Two escape
    hatches if a probe ever shows them hot: (a) raise ``span`` — the
    bound is inverse-linear in it and correctness is span-independent
    (``test_sharded_running`` pins a pathologically tiny span); (b) nest
    the same two-pass pattern one level — shard the OFFSETS frame by
    ``_shard div span2`` and prefix at that grain — which multiplies the
    bound by another 1/span2. Past ~1e8 offsets rows also drop the
    broadcast hint and let AQE pick the join side.
    """
    base = df.withColumn("_shard", shard)
    partials = base.groupBy("source", "_shard").agg(
        F.sum(value).alias("_sw")
    )
    shard_ord = F.desc("_shard") if shard_desc else F.asc("_shard")
    off_w = (
        Window.partitionBy("source")
        .orderBy(shard_ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = partials.select(
        "source",
        "_shard",
        (F.sum("_sw").over(off_w) - F.col("_sw")).alias("_off"),
    )
    in_shard = (
        Window.partitionBy("source", "_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(offs), ["source", "_shard"])
        .withColumn(out, F.col("_off") + F.sum(value).over(in_shard))
        .drop("_shard", "_off")
    )


@query(
    "smp_hash_split",
    oracle=f"""
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT n_chars,
               CASE WHEN substr(md5(concat('split:', doc_id)), 1, 2) < '{SPLIT_TRAIN_UPPER}'
                         THEN 'train'
                    WHEN substr(md5(concat('split:', doc_id)), 1, 2) < '{SPLIT_VAL_UPPER}'
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY split
    """,
)
def smp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) keyed on md5(doc_id).

    The assignment is a narrow projection — no shuffle until the audit
    aggregate — and is stable under corpus growth: adding documents
    never reassigns existing ones, unlike ``rand(seed)`` or
    ``randomSplit`` (both repartition-sensitive). The query returns the
    per-split audit (doc count + char mass) a pipeline logs every build.
    """
    bucket = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 2)
    split = (
        F.when(bucket < SPLIT_TRAIN_UPPER, "train")
        .when(bucket < SPLIT_VAL_UPPER, "val")
        .otherwise("test")
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "smp_stratified_sample",
    oracle=f"""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM documents
    WHERE substr(md5(concat('strat:', doc_id)), 1, 1) <
          CASE lang WHEN 'en' THEN '{STRATUM_BOUNDS["en"]:x}'
                    WHEN 'es' THEN '{STRATUM_BOUNDS["es"]:x}'
                    WHEN 'de' THEN '{STRATUM_BOUNDS["de"]:x}'
                    ELSE 'g' END
    GROUP BY lang
    """,
)
def smp_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: per-language keep-rates (25/50/75%),
    decided row-locally by a hash threshold — the deterministic,
    scale-stable form of ``df.sampleBy(fractions, seed)``. Grouped audit
    so the oracle checks both membership (min/max ids) and rates.
    """
    digit = F.substring(F.md5(F.concat(F.lit("strat:"), F.col("doc_id"))), 1, 1)
    bound = F.lit(None).cast("string")
    for lang, b in STRATUM_BOUNDS.items():
        bound = F.when(F.col("lang") == lang, f"{b:x}").otherwise(bound)
    bound = F.coalesce(bound, F.lit("g"))  # > 'f': keep all
    return (
        read_table(spark, sf_dir, "documents")
        .filter(digit < bound)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "smp_fixed_k_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY md5(concat('fk:', doc_id)), doc_id
    LIMIT {FIXED_K}
    """,
)
def smp_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size uniform sample: the k smallest ``md5(doc_id)`` values.

    This is distributed reservoir sampling done right: Spark plans
    ``orderBy().limit(k)`` as TakeOrderedAndProject — each partition
    keeps its local top-k and only k-row heaps cross the wire — so the
    cost at 100 TB is one scan plus a k-row merge, never a global sort.
    Deterministic (hash order), repeatable across runs and partitionings.
    """
    h = F.md5(F.concat(F.lit("fk:"), F.col("doc_id")))
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", h.alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(FIXED_K)
        .drop("_h")
    )


@query(
    "pack_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    runs AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS run_total
        FROM toks
    )
    SELECT source,
           CAST((run_total - n_tokens) // {TOKEN_BUDGET} AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM runs
    GROUP BY source, pack_id
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents per source in doc_id order
    and cut into {TOKEN_BUDGET}-token context windows; a doc belongs to
    the pack where its first token lands.

    The running token sum is the SHARD-PARALLEL two-pass prefix
    (``_sharded_running``: per-``doc_id div {PACK_SHARD_SPAN}`` partials,
    exclusive shard-grain prefix, broadcast offsets — never one task per
    source), then the pack assignment is pure integer arithmetic
    (``div`` in both engines) — the standard "concat-then-chunk" packing
    used for LLM pretraining batches. Returns the per-pack audit (docs,
    token mass).
    """
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    toks = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    )
    runs = _sharded_running(
        toks,
        F.col("n_tokens"),
        ["doc_id"],
        F.expr(f"doc_id div {PACK_SHARD_SPAN}"),
        out="run_total",
    )
    return (
        runs.select(
            "source",
            F.expr(f"(run_total - n_tokens) div {TOKEN_BUDGET}")
            .cast("bigint")
            .alias("pack_id"),
            "n_tokens",
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        )
    )


@query(
    "decon_benchmark_ngrams",
    oracle=f"""
    WITH flag AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               substr(md5(concat('bench:', doc_id)), 1, 2) < '{BENCH_UPPER}' AS is_bench
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, is_bench,
               unnest(list_transform(range(1, len(w) - {DECON_K - 2}),
                      i -> array_to_string(list_slice(w, i, i + {DECON_K - 1}), ' '))) AS s
        FROM flag
        WHERE len(w) >= {DECON_K}
    ),
    bench_s AS (SELECT DISTINCT s FROM sh WHERE is_bench),
    train_sh AS (SELECT doc_id, s FROM sh WHERE NOT is_bench),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id),
    hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM train_sh WHERE s IN (SELECT s FROM bench_s)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / t.n_shingles, 4)
               AS contamination_ratio
    FROM tot t LEFT JOIN hits h USING (doc_id)
    """,
)
def decon_benchmark_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: for every training document, how
    many of its distinct {DECON_K}-token shingles also appear in a
    held-out "benchmark" slice (hash-selected ~3% of the corpus) — the
    standard pretraining hygiene check before a corpus ships.

    Plan shape: one narrow tokenize→shingle→array_distinct→explode stage
    (per-doc dedup happens inside the array, zero shuffle), ``persist``-ed
    because it feeds BOTH sides (benchmark set and train shingles —
    without the cache the CPU-heavy tokenize chain runs twice, measured
    ~2× at sf0.1). Train shingles then LEFT-join the distinct
    benchmark-shingle set with a hit marker, and ONE per-doc aggregate
    emits total + hit counts together — a single shuffle on ``s`` and a
    single shuffle on ``doc_id``. The benchmark side is small by
    construction (~3%); at 100 TB it still shuffles on the shingle key
    rather than broadcasting — AQE picks shuffled-hash vs broadcast as
    sizes allow.
    """
    from pyspark import StorageLevel

    w = tokens()
    shingle_arr = F.when(
        F.size(w) >= DECON_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - DECON_K),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(DECON_K)]
            ),
        ),
    )
    is_bench = (
        F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id"))), 1, 2)
        < BENCH_UPPER
    )
    sh = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            is_bench.alias("is_bench"),
            F.explode(F.array_distinct(shingle_arr)).alias("s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bench_s = (
        sh.filter("is_bench").select("s").distinct().withColumn("hit", F.lit(1))
    )
    marked = sh.filter(~F.col("is_bench")).select("doc_id", "s").join(
        bench_s, "s", "left"
    )
    out = marked.groupBy("doc_id").agg(
        F.count("hit").cast("bigint").alias("n_hits"),
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.round(
            F.count("hit").cast("double") / F.count(F.lit(1)), 4
        ).alias("contamination_ratio"),
    ).select("doc_id", "n_hits", "n_shingles", "contamination_ratio")
    # doc-grain audit rows are far narrower than the exploded shingle
    # cache they'd otherwise pin: checkpoint and release (round 11)
    from ..session import finalize_unpersist

    return finalize_unpersist(out, sh)


#: Exact-substring-run blocking: a shingle participates in run detection
#: only if it occupies at most this many positions on the bench / train
#: side — bounding the position-pair join at ≤ BENCH_MAX × TRAIN_MAX
#: pairs per distinct shingle (the dd_fuzzy blocking-key discipline).
#: Boilerplate shingles above the cap can only SHORTEN detected runs,
#: identically on both engines.
DECON_RUN_BENCH_MAX = 10
DECON_RUN_TRAIN_MAX = 50
DECON_RUN_TOP = 20


@query(
    "decon_exact_substring_runs",
    oracle=f"""
    WITH flag AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               substr(md5(concat('bench:', doc_id)), 1, 2) < '{BENCH_UPPER}'
                   AS is_bench
        FROM documents
    ),
    pos AS (
        SELECT doc_id, is_bench, w,
               unnest(range(1, len(w) - {DECON_K - 2})) AS i
        FROM flag WHERE len(w) >= {DECON_K}
    ),
    sh AS (
        SELECT doc_id, is_bench, i,
               array_to_string(list_slice(w, i, i + {DECON_K - 1}), ' ') AS s
        FROM pos
    ),
    elig AS (
        SELECT s FROM sh GROUP BY s
        HAVING sum(CASE WHEN is_bench THEN 1 ELSE 0 END)
                   BETWEEN 1 AND {DECON_RUN_BENCH_MAX}
           AND sum(CASE WHEN is_bench THEN 0 ELSE 1 END)
                   BETWEEN 1 AND {DECON_RUN_TRAIN_MAX}
    ),
    m AS (
        SELECT t.doc_id AS td, t.i AS ti, b.doc_id AS bd, b.i AS bj
        FROM sh t JOIN sh b USING (s)
        WHERE NOT t.is_bench AND b.is_bench
          AND s IN (SELECT s FROM elig)
    ),
    runs AS (
        SELECT td, bd, ti - row_number() OVER (
                   PARTITION BY td, bd, bj - ti ORDER BY ti) AS island,
               bj - ti AS diag
        FROM m
    ),
    runlen AS (
        SELECT td, bd, count(*) AS len FROM runs GROUP BY td, bd, diag, island
    ),
    best AS (SELECT td, bd, max(len) AS longest FROM runlen GROUP BY td, bd)
    SELECT bd AS bench_doc, td AS train_doc,
           CAST(longest AS BIGINT) AS run_shingles,
           CAST(longest + {DECON_K - 1} AS BIGINT) AS run_tokens
    FROM best
    ORDER BY run_shingles DESC, bench_doc, train_doc
    LIMIT {DECON_RUN_TOP}
    """,
)
def decon_exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (the GPT-3/PaLM rule): for every
    (train doc, benchmark doc) pair, the LONGEST contiguous token run
    they share verbatim, reported in tokens — ``decon_benchmark_ngrams``
    counts ISOLATED shingle hits; this op upgrades the evidence to
    "a 25-token passage of the benchmark appears verbatim in training
    data", which is the actual removal criterion pipelines apply.

    Algorithm: k-gram diagonal runs — positional shingles from both
    splits join on the shingle text, a matched pair (ti, bj) lies on
    diagonal bj−ti, and consecutive positions on one diagonal form a
    shared run (gaps-and-islands: island = ti − row_number within the
    (pair, diagonal) partition, a partition bounded by document length,
    never fact-grain). Run of L shingles = L+K−1 shared tokens.

    Scale shape: one positional tokenize→shingle pass feeds both sides
    and the eligibility census (persisted — three consumers); the
    position-pair join is blocked by per-side shingle-frequency caps so
    its fan-out is ≤ BENCH_MAX × TRAIN_MAX pairs per distinct shingle
    (boilerplate shingles drop out, identically in both engines); the
    only windows partition by (pair, diagonal). Top pairs compile to
    TakeOrderedAndProject.
    """
    from pyspark import StorageLevel

    from ..session import finalize_unpersist

    w = tokens()
    shingle_arr = F.transform(
        F.sequence(F.lit(0), F.size(w) - DECON_K),
        lambda i: F.concat_ws(
            " ", *[F.get(w, i + j) for j in range(DECON_K)]
        ),
    )
    is_bench = (
        F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id"))), 1, 2)
        < BENCH_UPPER
    )
    sh = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .filter(F.size(w) >= DECON_K)
        .select(
            "doc_id",
            is_bench.alias("is_bench"),
            F.posexplode(shingle_arr).alias("i", "s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    elig = (
        sh.groupBy("s")
        .agg(
            F.sum(F.col("is_bench").cast("int")).alias("nb"),
            F.sum((~F.col("is_bench")).cast("int")).alias("nt"),
        )
        .filter(
            F.col("nb").between(1, DECON_RUN_BENCH_MAX)
            & F.col("nt").between(1, DECON_RUN_TRAIN_MAX)
        )
        .select("s")
    )
    train = sh.filter(~F.col("is_bench")).join(elig, "s").select(
        "s", F.col("doc_id").alias("td"), F.col("i").alias("ti")
    )
    bench = sh.filter("is_bench").join(elig, "s").select(
        "s", F.col("doc_id").alias("bd"), F.col("i").alias("bj")
    )
    m = train.join(bench, "s").select(
        "td", "bd", "ti", (F.col("bj") - F.col("ti")).alias("diag")
    )
    runs = m.select(
        "td",
        "bd",
        "diag",
        (
            F.col("ti")
            - F.row_number().over(
                Window.partitionBy("td", "bd", "diag").orderBy("ti")
            )
        ).alias("island"),
    )
    best = (
        runs.groupBy("td", "bd", "diag", "island")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("td", "bd")
        .agg(F.max("len").alias("longest"))
    )
    out = (
        best.select(
            F.col("bd").alias("bench_doc"),
            F.col("td").alias("train_doc"),
            F.col("longest").cast("bigint").alias("run_shingles"),
            (F.col("longest") + (DECON_K - 1))
            .cast("bigint")
            .alias("run_tokens"),
        )
        .orderBy(F.desc("run_shingles"), "bench_doc", "train_doc")
        .limit(DECON_RUN_TOP)
    )
    return finalize_unpersist(out, sh)


#: Temperature for source re-balancing: keep_rate_s = (n_min/n_s)^TEMP_ALPHA
#: (alpha=0.5 → sqrt-scaled toward uniform; the smallest source keeps 1.0).
TEMP_ALPHA = 0.5
#: Hash-threshold granularity: the first 4 md5 hex digits give 65536
#: deterministic buckets per document.
TEMP_BUCKETS = 65536


@query(
    "smp_temperature_resample",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    rates AS (
        SELECT source, n_docs,
               floor(sqrt(CAST(min(n_docs) OVER () AS DOUBLE) / n_docs)
                     * {TEMP_BUCKETS}) AS threshold
        FROM counts
    ),
    marked AS (
        SELECT d.source, r.n_docs, r.threshold,
               ('0x' || substr(md5(concat('tsamp:', d.doc_id)), 1, 4))::BIGINT
                   AS bucket
        FROM documents d JOIN rates r USING (source)
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           round(threshold / {TEMP_BUCKETS}, 4) AS keep_rate
    FROM marked
    GROUP BY source, n_docs, threshold
    """,
)
def smp_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-balancing (the standard multi-source
    pretraining mix): each source's keep-rate is (n_min/n_s)^{TEMP_ALPHA},
    so over-represented sources are down-sampled toward uniform while the
    smallest source is kept whole. The keep decision is md5-hash
    deterministic per document (stable under corpus growth and
    repartitioning, like every sampler here); the rate→threshold
    conversion is integer (floor to 1/{TEMP_BUCKETS} granularity) so both
    engines compare exactly.

    Plan: per-source counts are a tiny aggregate, broadcast back onto the
    corpus for a narrow keep decision, then one audit aggregate — the
    only full-corpus shuffle is the final groupBy(source), whose input is
    already (source, flag) pairs.
    """
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    rates = counts.select(
        "source",
        "n_docs",
        F.floor(
            F.sqrt(F.min("n_docs").over(w_all).cast("double") / F.col("n_docs"))
            * TEMP_BUCKETS
        ).alias("threshold"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("tsamp:"), F.col("doc_id"))), 1, 4),
        16, 10,
    ).cast("long")
    marked = docs.join(F.broadcast(rates), "source").select(
        "source", "n_docs", "threshold", bucket.alias("bucket")
    )
    return (
        marked.groupBy("source", "n_docs", "threshold")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("threshold"), 1).otherwise(0)
            ).cast("bigint").alias("n_kept")
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "n_kept",
            F.round(F.col("threshold") / TEMP_BUCKETS, 4).alias("keep_rate"),
        )
    )


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


@query(
    "pack_chunk_overlap",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    base AS (
        SELECT doc_id, w,
               CASE WHEN len(w) <= {CHUNK_TOKENS} THEN 1
                    ELSE 1 + (len(w) - {CHUNK_TOKENS} + {_CHUNK_STRIDE - 1})
                             // {_CHUNK_STRIDE}
               END AS nc
        FROM tok
    ),
    chunks AS (
        SELECT doc_id, w, unnest(range(0, nc)) AS chunk_idx FROM base
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(w[chunk_idx * {_CHUNK_STRIDE} + 1 :
                      chunk_idx * {_CHUNK_STRIDE} + {CHUNK_TOKENS}])
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
               w[chunk_idx * {_CHUNK_STRIDE} + 1 :
                 chunk_idx * {_CHUNK_STRIDE} + {CHUNK_TOKENS}], ' '))
               AS chunk_md5
    FROM chunks
    """,
)
def pack_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split every document into
    {CHUNK_TOKENS}-token windows advancing by {_CHUNK_STRIDE} tokens
    ({CHUNK_OVERLAP}-token overlap) — the long-document counterpart to
    ``pack_token_budget``'s concat-and-cut (RAG indexing and
    long-context pretraining both chunk THEN pack). The final window is
    allowed to run short rather than re-anchoring at the document tail,
    so every token appears in ≥1 chunk and chunk boundaries are a pure
    function of position (stable as the corpus grows).

    Plan shape: tokenize → per-row chunk count (integer arithmetic, no
    shuffle) → ``explode(sequence(...))`` → ``slice``. Narrow end to
    end — ZERO shuffles: chunking is embarrassingly parallel and the
    explode fan-out (~n_tokens/stride per doc) lands on the
    pre-repartitioned scan, so no partition outgrows its input by more
    than that constant factor. Chunk identity is the md5 of the joined
    window text, computed without materializing chunk strings anywhere
    but inside the hash expression.
    """
    toks = tokens()
    n = F.size("w")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1).cast("bigint")).otherwise(
        1
        + F.floor(
            (n - CHUNK_TOKENS + (_CHUNK_STRIDE - 1)) / _CHUNK_STRIDE
        ).cast("bigint")
    )
    start = (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("int")
    chunk = F.slice("w", start, CHUNK_TOKENS)
    return (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", toks.alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


#: Mixture-weight exponent α=0.5 applied as INTEGER ``floor(sqrt(n))``
#: so the weight denominators are exact BIGINT sums in both engines (a
#: float pow + float total would make the normalization order-dependent).
@query(
    "smp_mixture_weights",
    oracle=r"""
    WITH tok AS (
        SELECT source, lang,
               len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents
    ),
    grp AS (
        SELECT source, lang,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(sum(n_tok) AS BIGINT))) AS BIGINT) AS w_int
        FROM tok GROUP BY source, lang
    )
    SELECT source, lang, n_tokens, w_int,
           round(CAST(w_int AS DOUBLE)
                 / CAST((SELECT sum(w_int) FROM grp) AS DOUBLE), 6) AS weight
    FROM grp
    """,
)
def smp_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture weights per (source, lang) stratum — the knob a
    training-data build turns to rebalance domains: weight ∝ n_tokens^α
    with α=0.5 (sublinear, up-weights small strata the way multilingual
    sampling schemes do), normalized to sum to 1.

    Determinism: the α-power is integer-quantized (``floor(sqrt(n))``,
    exact in both engines — sqrt of a BIGINT is correctly rounded IEEE)
    and the normalizing denominator is an exact BIGINT sum, so the final
    rounded ratio cannot drift with aggregation order. One shuffle on
    (source, lang); the denominator is a scalar broadcast.
    """
    docs = read_table(spark, sf_dir, "documents")
    grp = (
        docs.select("source", "lang", F.size(tokens()).alias("n_tok"))
        .groupBy("source", "lang")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
        .withColumn(
            "w_int", F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint")
        )
    )
    total = Window.partitionBy()
    return grp.select(
        "source",
        "lang",
        "n_tokens",
        "w_int",
        F.round(
            F.col("w_int") / F.sum("w_int").over(total).cast("double"), 6
        ).alias("weight"),
    )


#: Corpus-curation gate: minimum whitespace tokens / chars a document
#: needs to enter the training set (calibrated to the synthetic corpus's
#: ~50-token docs so the gate has real selectivity at every SF).
CURATION_MIN_TOKENS = 20
CURATION_MIN_CHARS = 150


@query(
    "pipe_corpus_curation",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, source, n_chars,
               len(string_split_regex(trim(text), '\s+')) AS n_tok,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
               substr(md5(concat('split:', doc_id)), 1, 2) AS bucket
        FROM documents
    ),
    gated AS (
        SELECT * FROM tok
        WHERE n_tok >= {CURATION_MIN_TOKENS} AND n_chars >= {CURATION_MIN_CHARS}
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    )
    SELECT CASE WHEN bucket < '{SPLIT_TRAIN_UPPER}' THEN 'train'
                WHEN bucket < '{SPLIT_VAL_UPPER}' THEN 'val'
                ELSE 'test' END AS split,
           source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY 1, 2
    """,
)
def pipe_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the composition a training-data build
    actually ships, as ONE declarative plan: quality gate (length floor)
    → exact dedup (md5 of normalized text, deterministic min-doc_id
    survivor) → stable hash train/val/test split → per-(split, source)
    audit stats.

    Composing the stages into one DataFrame lets Catalyst fuse them:
    the gate and both hash projections are narrow and run inside the
    scan stage; the only shuffles are the dedup window (keyed on the
    fingerprint) and the final small aggregate. A stage-per-job
    orchestration of the same logic would materialize the corpus twice;
    this plan touches it once — at 100 TB that IS the optimization.
    """
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    bucket = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 2)
    split = (
        F.when(bucket < SPLIT_TRAIN_UPPER, "train")
        .when(bucket < SPLIT_VAL_UPPER, "val")
        .otherwise("test")
    )
    gated = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.size(tokens()).alias("n_tok"),
            F.md5(norm).alias("fp"),
            split.alias("split"),
        )
        .filter(
            (F.col("n_tok") >= CURATION_MIN_TOKENS)
            & (F.col("n_chars") >= CURATION_MIN_CHARS)
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


PER_STRATUM_K = 40


@query(
    "smp_fixed_k_per_stratum",
    oracle=f"""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat('strat:', doc_id)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {PER_STRATUM_K}
    """,
)
def smp_fixed_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k sample PER STRATUM (language): the k smallest salted-hash
    values within each language — per-stratum quotas where
    ``smp_fixed_k_sample`` draws one global k and rate-based
    ``smp_stratified_sample`` can't hit an exact count. Same stability
    property: a document's hash never changes, so growing the corpus
    only ever displaces items at the quota boundary. The window is one
    shuffle on lang; rank-k selection prunes everything past k at the
    reducer — per-stratum TakeOrdered, not a global sort.
    """
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id"))), "doc_id"
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select("lang", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= PER_STRATUM_K)
    )


N_SHUFFLE_SHARDS = 8


@query(
    "smp_deterministic_shuffle",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5(concat('shuf:', doc_id)) AS k
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, k,
               CAST(instr('0123456789abcdef', substring(k, 1, 1)) - 1
                    AS BIGINT) % {N_SHUFFLE_SHARDS} AS shard
        FROM keyed
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS pos_in_shard
    FROM sharded
    """,
)
def smp_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed corpus shuffle — the training-data
    ordering primitive: every doc gets a seeded md5 shuffle key, the key's
    first hex digit mod 8 picks its shard, and the
    within-shard order is the key order. Reading shards round-robin
    reproduces the exact same epoch order on any cluster, any run —
    seeded reproducibility without any engine RNG (``rand()`` is neither
    cross-engine nor rerun stable; md5 is both).

    Scale shape: NO global sort — the only shuffle is the hash partition
    on shard, and each shard sorts independently (row_number windows per
    shard run in parallel). A global-position variant would serialize on
    one partition; shard-relative positions are what epoch readers
    actually consume.
    """
    k = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id")))
    shard = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("k"), 1, 1)) - 1
    ).cast("bigint") % N_SHUFFLE_SHARDS
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", k.alias("k"))
        .withColumn("shard", shard)
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
        )
    )


WEIGHTED_SAMPLE_K = 50
#: 12 md5 hex digits = 48 uniform bits; (h+1)/2^48 ∈ (0, 1] exactly
#: representable, and /2^48 is exact in binary — both engines produce the
#: bit-identical double before ln().
_U48_DENOM = float(2**48)


@query(
    "smp_weighted_priority_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               round(
                   ln((('0x' || substr(md5(concat('ws:', doc_id)), 1, 12))::BIGINT
                       + 1) / {2**48}.0)
                   / n_chars, 10) AS priority
        FROM documents
        WHERE n_chars > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rank
        FROM keyed
    )
    SELECT rank, doc_id, source, n_chars, priority
    FROM ranked WHERE rank <= {WEIGHTED_SAMPLE_K}
    """,
)
def smp_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    priority keys: each doc draws a deterministic uniform u from md5,
    and the top-K by ``ln(u)/weight`` (weight = n_chars) IS an exact
    weighted sample — the distributed one-pass answer to 'sample 50
    docs proportional to length' that needs no RNG state, no sequential
    scan and no rejection loop. At 100 TB the plan is per-partition
    top-K + a K-row merge (TakeOrderedAndProject), identical to
    ``smp_fixed_k_sample``; weights can be any positive score (quality,
    domain boost) without changing the plan.

    Determinism: u = (h+1)/2^48 from 12 md5 hex digits is exact in both
    engines; ``ln`` may differ by 1 ulp cross-engine, so keys are rounded
    to 10 dp before ranking with doc_id as the tiebreaker.
    """
    docs = read_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log((h + 1) / F.lit(_U48_DENOM)) / F.col("n_chars"), 10).alias(
            "priority"
        ),
    )
    top = keyed.orderBy(F.desc("priority"), "doc_id").limit(WEIGHTED_SAMPLE_K)
    w = Window.orderBy(F.desc("priority"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "source", "n_chars", "priority"
    )


DSIR_TARGET_LANG = "en"


@query(
    "smp_dsir_importance",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents
    ),
    vocab AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cnt_c,
               CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_t
        FROM tok GROUP BY t
    ),
    sc AS (
        SELECT CAST(count(*) AS BIGINT) AS v,
               CAST(sum(cnt_c) AS BIGINT) AS nc,
               CAST(sum(cnt_t) AS BIGINT) AS nt
        FROM vocab
    ),
    lp AS (
        SELECT t,
               CAST(round(ln((CAST(cnt_t + 1 AS DOUBLE) * CAST(nc + v AS DOUBLE))
                             / (CAST(cnt_c + 1 AS DOUBLE)
                                * CAST(nt + v AS DOUBLE))),
                          6) AS DECIMAL(18,6)) AS lp
        FROM vocab CROSS JOIN sc
    )
    SELECT tok.doc_id, tok.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(round(sum(lp.lp), 4) AS DOUBLE) AS log_importance,
           CAST(round(sum(lp.lp), 4) AS DOUBLE) > 0 AS is_target_like
    FROM tok JOIN lp ON lp.t = tok.t
    GROUP BY tok.doc_id, tok.lang
    """,
)
def smp_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, 'Data Selection
    for Language Models via Importance Resampling'): fit add-one-smoothed
    unigram models on the TARGET slice (lang = en) and the whole corpus,
    then score every document by its log likelihood ratio
    Σ ln(P_target(w)/P_corpus(w)) — positive means 'looks like the
    target distribution', and resampling proportional to exp(score) is
    the published recipe for carving a target-like training mix out of a
    web-scale corpus. Pairs with ``smp_weighted_priority_sample``, which
    consumes exactly such weights.

    One tokenize pass builds BOTH models (conditional count inside one
    groupBy — the corpus is not scanned twice); the three model scalars
    (vocab size, token totals) are a 1-row collect; scoring is one
    token→vocab equi-join (AQE-broadcastable at 100 TB, same shape as
    ``txt_unigram_lm_score``). Per-token log-ratios are rounded to 6
    before summation (libm ulp collapse), the doc score to 4 after.
    """
    from pyspark import StorageLevel

    from ..session import finalize_unpersist

    toks = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", "lang", F.explode(tokens()).alias("t"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab = toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_c"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("cnt_t"),
    )
    sc = vocab.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cnt_c").alias("nc"),
        F.sum("cnt_t").alias("nt"),
    ).first()
    tc = float(sc.nc + sc.v)
    tt = float(sc.nt + sc.v)
    lp = F.round(
        F.log(
            ((F.col("cnt_t") + 1).cast("double") * F.lit(tc))
            / ((F.col("cnt_c") + 1).cast("double") * F.lit(tt))
        ),
        6,
    ).cast("decimal(18,6)")
    # exact decimal sum, rounded while still DECIMAL (half-up in both
    # engines; a double-rounded sum of 6-dp values hits exact .5 at 4 dp
    # ~1% of the time and duckdb rounds those half-even)
    score = F.round(F.sum("lp"), 4).cast("double")
    out = (
        toks.join(vocab.select("t", lp.alias("lp")), "t")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            score.alias("log_importance"),
            (score > 0).alias("is_target_like"),
        )
    )
    return finalize_unpersist(out, toks)


KFOLD_K = 5


@query(
    "smp_kfold_assignment",
    oracle=f"""
    WITH folds AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5(concat('fold:', doc_id)), 1, 4))::BIGINT
                    % {KFOLD_K} AS INT) AS fold
        FROM documents
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM folds
    GROUP BY fold
    """,
)
def smp_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (K=5): each
    document's fold is a pure function of md5(doc_id), so every engine,
    every run and every epoch sees the same partition — the property
    CV needs for train/eval leakage-freedom across a distributed
    pipeline (the same keyed-hash family as ``smp_hash_split``, but
    modular over K folds rather than threshold split). Reported as the
    per-fold census; the fold column itself composes with any query via
    the same expression. One map-side-combinable aggregate, no shuffle
    of the corpus beyond the K-row census.
    """
    docs = read_table(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        )
        .cast("bigint")
        % KFOLD_K
    ).cast("int")
    return (
        docs.select(fold.alias("fold"), "n_chars", "doc_id")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
    )


@query(
    "pack_order_fragmentation",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    arrival AS (
        SELECT source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS run
        FROM toks
    ),
    sorted_runs AS (
        SELECT source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source
                                   ORDER BY n_tokens DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS run
        FROM toks
    ),
    a AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN (run - n_tokens) // {TOKEN_BUDGET}
                              <> (run - 1) // {TOKEN_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle_arrival
        FROM arrival GROUP BY 1
    ),
    s AS (
        SELECT source,
               CAST(sum(CASE WHEN (run - n_tokens) // {TOKEN_BUDGET}
                              <> (run - 1) // {TOKEN_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle_sorted
        FROM sorted_runs GROUP BY 1
    )
    SELECT a.source, a.n_docs, a.n_straddle_arrival, s.n_straddle_sorted
    FROM a JOIN s ON s.source = a.source
    """,
)
def pack_order_fragmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-order fragmentation audit: under concat-then-chunk packing
    (``pack_token_budget``), how many documents STRADDLE a context-window
    boundary — i.e. get split across training sequences — in arrival
    order versus size-descending order. Boundary-straddling is the
    packing-quality number an LLM data pipeline tracks (split documents
    truncate context), and ordering by length is the classic zero-cost
    mitigation; this query measures the improvement per source with pure
    window arithmetic (a doc straddles iff its first and last token land
    in different chunks). Both running sums are shard-parallel two-pass
    prefixes (``_sharded_running``) — the arrival frame shards on
    contiguous ``doc_id`` spans, the length-sorted frame on
    ``n_tokens div {PACK_TOK_SPAN}`` rungs (monotone in the DESC sort
    key) — so neither pass ever serializes a source; everything integer.
    """
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    toks = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    )
    runs_a = _sharded_running(
        toks,
        F.col("n_tokens"),
        ["doc_id"],
        F.expr(f"doc_id div {PACK_SHARD_SPAN}"),
    )
    runs_s = _sharded_running(
        toks,
        F.col("n_tokens"),
        [F.desc("n_tokens"), "doc_id"],
        F.expr(f"n_tokens div {PACK_TOK_SPAN}"),
        shard_desc=True,
    )
    straddle = F.when(
        F.expr(
            f"(run - n_tokens) div {TOKEN_BUDGET}"
            f" <> (run - 1) div {TOKEN_BUDGET}"
        ),
        1,
    ).otherwise(0)
    a = runs_a.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(straddle).cast("bigint").alias("n_straddle_arrival"),
    )
    s = runs_s.groupBy("source").agg(
        F.sum(straddle).cast("bigint").alias("n_straddle_sorted")
    )
    return a.join(s, "source")


def _dedup_split_oracle() -> str:
    from .dedup import _CLUSTERS_CTES, _SHINGLES_CTE

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTERS_CTES},
    grouped AS (
        SELECT d.doc_id, d.n_chars, c.cluster_id,
               coalesce(c.cluster_id, d.doc_id) AS grp
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    assigned AS (
        SELECT *,
               CASE WHEN substr(md5(concat('dsplit:', grp)), 1, 2)
                         < '{SPLIT_TRAIN_UPPER}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM grouped
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clustered_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split
    """


@query("smp_dedup_aware_split", oracle=_dedup_split_oracle())
def smp_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE train/eval split — the leakage-safe upgrade of
    ``smp_hash_split``: near-duplicate documents must land on the SAME
    side (a train doc whose near-copy sits in eval inflates every
    benchmark), so the split hash keys on the duplicate-cluster
    representative (``dd_duplicate_clusters``'s canonical min-id) and
    only singleton docs hash on their own id. The no-cluster-spans-
    splits invariant is test-pinned on the actual assignment; the
    clusters come from the REGISTERED cluster query, so the split and
    the dedup pipeline cannot drift. Scale shape: the cluster table is
    the dup sliver (tiny vs the corpus); the assignment is a left join
    against it plus a narrow hash projection — the corpus shuffles once
    on doc_id.
    """
    from ..registry import QUERIES

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clusters = QUERIES["dd_duplicate_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    grouped = docs.join(clusters, "doc_id", "left").withColumn(
        "grp", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    split = F.when(
        F.substring(
            F.md5(F.concat(F.lit("dsplit:"), F.col("grp").cast("string"))), 1, 2
        )
        < SPLIT_TRAIN_UPPER,
        "train",
    ).otherwise("eval")
    return (
        grouped.select(split.alias("split"), "grp", "cluster_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("grp").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clustered_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "smp_balanced_upsample",
    oracle="""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_before FROM documents
        GROUP BY 1
    ),
    mx AS (SELECT CAST(max(n_before) AS BIGINT) AS m FROM counts)
    SELECT lang, n_before,
           CAST((m + n_before - 1) // n_before AS BIGINT) AS replication,
           CAST(n_before * ((m + n_before - 1) // n_before) AS BIGINT)
               AS n_after
    FROM counts, mx
    """,
)
def smp_balanced_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced upsampling plan: replicate each minority language's
    documents ceil(max/|lang|) times so every language reaches at least
    the majority count — the deterministic oversampling counterpart of
    ``smp_temperature_resample`` (which downsamples majorities). The
    replication factor is pure integer arithmetic, and the actual
    expansion at scale is ``explode(sequence(1, factor))`` — a narrow
    per-row generator, no shuffle, with replica index available as the
    epoch-dedup key. Registered as the per-language plan census (the
    factor table IS the artifact a training loader consumes).
    """
    counts = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_before"))
    )
    mx = counts.agg(F.max("n_before").cast("bigint").alias("m"))
    return counts.crossJoin(mx).select(
        "lang",
        "n_before",
        F.expr("(m + n_before - 1) div n_before").cast("bigint").alias(
            "replication"
        ),
        F.expr("n_before * ((m + n_before - 1) div n_before)")
        .cast("bigint")
        .alias("n_after"),
    )


def _training_mix_oracle() -> str:
    from .dedup import _CLUSTERS_CTES, _SHINGLES_CTE

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTERS_CTES},
    grouped AS (
        SELECT d.doc_id, d.lang,
               CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
                   AS n_tokens,
               coalesce(c.cluster_id, d.doc_id) AS grp
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    assigned AS (
        SELECT *,
               CASE WHEN substr(md5(concat('dsplit:', grp)), 1, 2)
                         < '{SPLIT_TRAIN_UPPER}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM grouped
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned
    GROUP BY 1, 2
    """


@query("pipe_training_mix_manifest", oracle=_training_mix_oracle())
def pipe_training_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-mix manifest — the artifact a pretraining launch
    actually consumes: per (split, language), document and token mass
    under the LEAKAGE-SAFE split (``smp_dedup_aware_split``'s
    cluster-keyed assignment, same hash, same cluster source — the three
    queries share one definition chain: clusters → split → manifest).
    This is the composition endgame of the curation family: dedup
    clustering, split assignment and tokenization fused into one plan —
    the corpus is tokenized in the same pass that assigns splits, so the
    manifest costs one doc-grain shuffle beyond the cluster build.
    """
    from ..registry import QUERIES

    docs = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "lang", F.size(tokens()).cast("bigint").alias("n_tokens")
    )
    clusters = QUERIES["dd_duplicate_clusters"](spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    grouped = docs.join(clusters, "doc_id", "left").withColumn(
        "grp", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    split = F.when(
        F.substring(
            F.md5(F.concat(F.lit("dsplit:"), F.col("grp").cast("string"))), 1, 2
        )
        < SPLIT_TRAIN_UPPER,
        "train",
    ).otherwise("eval")
    return (
        grouped.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


#: Curriculum phases: 3 terciles of lexical diversity (easy → hard).
CURRICULUM_PHASES = 3


@query(
    "smp_curriculum_phases",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS nt,
               CAST(len(list_distinct(string_split_regex(trim(text),
                                                         '\\s+')))
                   AS BIGINT) AS nd
        FROM documents
    ),
    scored AS (
        SELECT doc_id, nt,
               (2000000 * nd + nt) // (2 * nt) AS ttr_micro
        FROM feat
    ),
    hist AS (
        SELECT ttr_micro, CAST(count(*) AS BIGINT) AS c
        FROM scored GROUP BY 1
    ),
    cum AS (
        SELECT ttr_micro,
               sum(c) OVER (ORDER BY ttr_micro
                            ROWS UNBOUNDED PRECEDING) AS cumc,
               sum(c) OVER () AS n
        FROM hist
    ),
    bounds AS (
        SELECT min(CASE WHEN {CURRICULUM_PHASES} * cumc >= n
                        THEN ttr_micro END) AS b1,
               min(CASE WHEN {CURRICULUM_PHASES} * cumc >= 2 * n
                        THEN ttr_micro END) AS b2
        FROM cum
    ),
    phased AS (
        SELECT CASE WHEN s.ttr_micro <= b.b1 THEN 1
                    WHEN s.ttr_micro <= b.b2 THEN 2
                    ELSE 3 END AS phase,
               s.nt, s.ttr_micro
        FROM scored s, bounds b
    )
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(min(ttr_micro) AS DOUBLE) / 1000000 AS min_ttr,
           CAST(max(ttr_micro) AS DOUBLE) / 1000000 AS max_ttr
    FROM phased
    GROUP BY 1
    """,
)
def smp_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase plan: band the corpus into 3 terciles
    of lexical diversity (type-token ratio, the cheap difficulty proxy)
    and report each phase's document count and token budget — the
    manifest a curriculum trainer consumes (phase 1 = low-diversity
    'easy' text first, phase 3 = hardest).

    Scale shape — deliberately NOT an NTILE: a global NTILE needs a
    global sort of every document. Instead the tercile boundaries come
    from rank-crossing over a VALUE HISTOGRAM (the
    ``agg_weighted_median`` discipline): one map-side-combinable
    count per distinct micro-unit TTR (bounded at ~1e6 rows no matter
    the corpus size), a window over that small histogram, and a
    broadcast of the 1-row boundary pair back onto the doc stream.
    Boundary ties all land in the lower phase (documented skew bound:
    a phase can exceed N/3 by at most the boundary value's tie count,
    the standard value-banding tradeoff vs NTILE's forced splits).

    Determinism: TTR is the half-up micro-unit integer
    ``(2e6*nd + nt) div (2*nt)`` — no float ever orders or bands.
    """
    w = tokens()
    scored = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        F.size(w).cast("bigint").alias("nt"),
        F.size(F.array_distinct(w)).cast("bigint").alias("nd"),
    ).select(
        "doc_id",
        "nt",
        F.expr("(2000000 * nd + nt) div (2 * nt)").alias("ttr_micro"),
    )
    hist = scored.groupBy("ttr_micro").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cw = Window.orderBy("ttr_micro").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "ttr_micro",
        F.sum("c").over(cw).alias("cumc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    bounds = cum.agg(
        F.min(
            F.when(
                F.lit(CURRICULUM_PHASES) * F.col("cumc") >= F.col("n"),
                F.col("ttr_micro"),
            )
        ).alias("b1"),
        F.min(
            F.when(
                F.lit(CURRICULUM_PHASES) * F.col("cumc") >= 2 * F.col("n"),
                F.col("ttr_micro"),
            )
        ).alias("b2"),
    )
    phased = scored.crossJoin(bounds).select(
        F.when(F.col("ttr_micro") <= F.col("b1"), 1)
        .when(F.col("ttr_micro") <= F.col("b2"), 2)
        .otherwise(3)
        .alias("phase"),
        "nt",
        "ttr_micro",
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        (F.min("ttr_micro").cast("double") / 1000000).alias("min_ttr"),
        (F.max("ttr_micro").cast("double") / 1000000).alias("max_ttr"),
    )


#: Sequences per training batch for the padding audit.
PAD_BATCH = 8


@query(
    "pack_padding_efficiency",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    arrival AS (
        SELECT source, n_tokens,
               (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
                   // {PAD_BATCH} AS batch
        FROM toks
    ),
    bylen AS (
        SELECT source, n_tokens,
               (row_number() OVER (PARTITION BY source
                                   ORDER BY n_tokens, doc_id) - 1)
                   // {PAD_BATCH} AS batch
        FROM toks
    ),
    a AS (
        SELECT 'arrival' AS strategy, source, batch,
               CAST(count(*) AS BIGINT) AS bn,
               CAST(max(n_tokens) AS BIGINT) AS bmax,
               CAST(sum(n_tokens) AS BIGINT) AS bsum
        FROM arrival GROUP BY 2, 3
    ),
    s AS (
        SELECT 'length_sorted' AS strategy, source, batch,
               CAST(count(*) AS BIGINT) AS bn,
               CAST(max(n_tokens) AS BIGINT) AS bmax,
               CAST(sum(n_tokens) AS BIGINT) AS bsum
        FROM bylen GROUP BY 2, 3
    ),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM s)
    SELECT strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(bsum) AS BIGINT) AS total_tokens,
           CAST(sum(bn * bmax) AS BIGINT) AS total_cells,
           CAST((2000000 * (sum(bn * bmax) - sum(bsum))
                 + sum(bn * bmax)) // (2 * sum(bn * bmax)) AS DOUBLE)
               / 1000000 AS padding_waste
    FROM u
    GROUP BY 1
    """,
)
def pack_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency audit for pad-to-longest batch collation: with
    batches of {PAD_BATCH} sequences padded to the batch max, what
    fraction of compute cells is padding under ARRIVAL order vs
    LENGTH-SORTED order (the 'sorted batching' / bucketing trick every
    training loader implements)? Companion to
    ``pack_order_fragmentation`` — that audits concat-then-chunk
    packing (document splits); this audits padded batching (wasted
    FLOPs), the other standard collation.

    Batching is per source partition but never one task per source:
    both row numberings are shard-parallel two-pass prefixes
    (``_sharded_running`` with ``value=1`` — arrival order shards on
    contiguous ``doc_id`` spans, length order on
    ``n_tokens div {PACK_TOK_SPAN}`` rungs); both strategies read the
    one tokenized scan, and the waste rate is rounded half-up in
    integer arithmetic (``div``, no float boundary). At 100 TB the
    per-shard batch numbering IS how loaders batch (global order is
    neither needed nor wanted for shuffled training data).
    """
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    toks = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    )

    def batched(order_cols, shard, strategy: str) -> DataFrame:
        return (
            _sharded_running(toks, F.lit(1), order_cols, shard, out="rn")
            .select(
                "source",
                "n_tokens",
                F.expr(f"(rn - 1) div {PAD_BATCH}")
                .cast("bigint")
                .alias("batch"),
            )
            .groupBy("source", "batch")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("bn"),
                F.max("n_tokens").cast("bigint").alias("bmax"),
                F.sum("n_tokens").cast("bigint").alias("bsum"),
            )
            .select(F.lit(strategy).alias("strategy"), "bn", "bmax", "bsum")
        )

    u = batched(
        ["doc_id"], F.expr(f"doc_id div {PACK_SHARD_SPAN}"), "arrival"
    ).unionByName(
        batched(
            ["n_tokens", "doc_id"],
            F.expr(f"n_tokens div {PACK_TOK_SPAN}"),
            "length_sorted",
        )
    )
    return u.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batches"),
        F.sum("bsum").cast("bigint").alias("total_tokens"),
        F.sum(F.col("bn") * F.col("bmax")).cast("bigint").alias("total_cells"),
        (
            F.expr(
                "(2000000 * (sum(bn * bmax) - sum(bsum)) + sum(bn * bmax))"
                " div (2 * sum(bn * bmax))"
            ).cast("double")
            / 1000000
        ).alias("padding_waste"),
    )


#: Coreset size for greedy k-center selection.
CORESET_K = 8


def _coreset_dist_sql(vec: str, center: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, 65), i -> "
        f"(CAST({vec}.embedding[i] AS DOUBLE)"
        f" - CAST({center}.embedding[i] AS DOUBLE))"
        f" * (CAST({vec}.embedding[i] AS DOUBLE)"
        f" - CAST({center}.embedding[i] AS DOUBLE)))), 6)"
    )


def _coreset_oracle() -> str:
    parts = [
        "WITH base AS (SELECT vec_id, embedding FROM embeddings)",
        "c0 AS (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 1)",
        f"m0 AS (SELECT b.vec_id, {_coreset_dist_sql('b', 'c')} AS d"
        " FROM base b, c0 c)",
    ]
    for i in range(1, CORESET_K):
        parts.append(
            f"s{i} AS (SELECT vec_id FROM m{i - 1}"
            " ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if i < CORESET_K - 1:
            parts.append(
                f"c{i} AS (SELECT b.vec_id, b.embedding FROM base b"
                f" JOIN s{i} ON s{i}.vec_id = b.vec_id)"
            )
            parts.append(
                f"m{i} AS (SELECT m.vec_id,"
                f" least(m.d, {_coreset_dist_sql('b', 'c')}) AS d"
                f" FROM m{i - 1} m JOIN base b ON b.vec_id = m.vec_id,"
                f" c{i} c)"
            )
    selects = [
        "SELECT 0 AS sel_rank, vec_id, CAST(0.0 AS DOUBLE) AS gain_d2 FROM c0"
    ]
    for i in range(1, CORESET_K):
        selects.append(
            f"SELECT {i}, m.vec_id, m.d FROM m{i - 1} m"
            f" JOIN s{i} ON s{i}.vec_id = m.vec_id"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("smp_coreset_kcenter", oracle=_coreset_oracle())
def smp_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center CORESET selection over the embedding table (the
    farthest-point / Gonzalez-1985 2-approximation): start from the
    lowest vec_id, then repeatedly pick the point FARTHEST from the
    chosen set. The selected {CORESET_K} points maximize coverage
    diversity — the standard seed set for diversity-aware data
    selection, active-learning batches, and k-means initialization
    (k-center seeding is what k-means++ approximates stochastically;
    this variant is exactly deterministic). Output: selection order,
    the chosen ids, and each pick's gain (its distance to the
    previously-chosen set — a non-increasing sequence whose last value
    bounds the covering radius).

    Iteration state is the classic O(N) min-distance vector, updated
    INCREMENTALLY each round against only the newest center (never
    recomputed against the whole set). The newest center's 64 floats
    are collected driver-side and injected as a literal array, so
    every round is a narrow projection + a top-1
    TakeOrderedAndProject — no join anywhere. Distances are the
    sequential squared-diff fold rounded to 6 dp before comparison
    (both engines fold dims in index order → identical doubles;
    rounding collapses any residual low-bit risk before the argmax),
    ties broken by vec_id.
    """
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def dist_to(center_vals: list[float]):
        lit_arr = F.array(*[F.lit(float(v)) for v in center_vals])
        return F.round(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    lit_arr,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ),
            6,
        )

    first = emb.orderBy("vec_id").limit(1).first()
    picks = [(0, first.vec_id, 0.0)]
    center_emb = [float(v) for v in first.embedding]
    mind = emb.select("vec_id", "embedding", dist_to(center_emb).alias("d"))
    for rank in range(1, CORESET_K):
        nxt = mind.orderBy(F.desc("d"), "vec_id").limit(1).first()
        picks.append((rank, nxt.vec_id, float(nxt.d)))
        if rank == CORESET_K - 1:
            break
        center_emb = [
            float(v)
            for v in emb.filter(F.col("vec_id") == nxt.vec_id)
            .first()
            .embedding
        ]
        mind = mind.select(
            "vec_id",
            "embedding",
            F.least("d", dist_to(center_emb)).alias("d"),
        ).localCheckpoint()
    return spark.createDataFrame(
        picks, "sel_rank int, vec_id bigint, gain_d2 double"
    )


@query(
    "pipe_dataset_card",
    oracle="""
    WITH feat AS (
        SELECT doc_id, source, lang,
               md5(text) AS h,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS nt,
               CAST(len(list_distinct(string_split_regex(trim(text),
                                                         '\\s+')))
                   AS BIGINT) AS nd
        FROM documents
    ),
    marked AS (
        SELECT source, lang, nt,
               CASE WHEN nt >= 20 AND 5 * nd >= nt THEN 1 ELSE 0 END
                   AS passes,
               CASE WHEN row_number()
                         OVER (PARTITION BY h ORDER BY doc_id) > 1
                    THEN 1 ELSE 0 END AS is_dup
        FROM feat
    ),
    per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(passes) AS BIGINT) AS n_pass,
               CAST(sum(is_dup) AS BIGINT) AS n_exact_dup
        FROM marked GROUP BY 1
    ),
    lang_mode AS (
        SELECT source, lang, c FROM (
            SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY count(*) DESC, lang) AS rn
            FROM marked GROUP BY source, lang
        ) t WHERE rn = 1
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           CAST((20000 * p.n_pass + p.n_docs) // (2 * p.n_docs) AS DOUBLE)
               / 10000 AS quality_pass_rate,
           CAST((20000 * p.n_exact_dup + p.n_docs) // (2 * p.n_docs)
                AS DOUBLE) / 10000 AS exact_dup_rate,
           l.lang AS top_lang,
           CAST((20000 * l.c + p.n_docs) // (2 * p.n_docs) AS DOUBLE)
               / 10000 AS top_lang_share
    FROM per_source p JOIN lang_mode l ON l.source = p.source
    """,
)
def pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator: the per-source summary block a released
    training set ships with (docs, token mass, quality pass rate,
    exact-duplicate rate, dominant language + its share) — the
    composition target the curation operators exist FOR, fused so the
    corpus is scanned ONCE: a single feature projection feeds the
    quality gate (``txt_quality_score``'s rule), the exact-dup marker
    (``ref_dedupe_first``'s keep-first window on md5), the per-source
    census, and the language mode (group + rank over |sources|x|langs|
    rows). Rates are half-up integer micro-rounding; the dup window is
    the one shuffle touching doc-level rows.
    """
    w = tokens()
    feat = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(w).cast("bigint").alias("nt"),
        F.size(F.array_distinct(w)).cast("bigint").alias("nd"),
    )
    dup_w = Window.partitionBy("h").orderBy("doc_id")
    marked = feat.select(
        "source",
        "lang",
        "nt",
        F.when((F.col("nt") >= 20) & (5 * F.col("nd") >= F.col("nt")), 1)
        .otherwise(0)
        .alias("passes"),
        F.when(F.row_number().over(dup_w) > 1, 1).otherwise(0).alias("is_dup"),
    )
    per_source = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
        F.sum("passes").cast("bigint").alias("n_pass"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dup"),
    )
    mode_w = Window.partitionBy("source").orderBy(F.desc("c"), "lang")
    lang_mode = (
        marked.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("rn", F.row_number().over(mode_w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "c")
    )
    return per_source.join(F.broadcast(lang_mode), "source").select(
        "source",
        "n_docs",
        "n_tokens",
        (
            F.expr("(20000 * n_pass + n_docs) div (2 * n_docs)").cast("double")
            / 10000
        ).alias("quality_pass_rate"),
        (
            F.expr("(20000 * n_exact_dup + n_docs) div (2 * n_docs)").cast(
                "double"
            )
            / 10000
        ).alias("exact_dup_rate"),
        "top_lang",
        (
            F.expr("(20000 * c + n_docs) div (2 * n_docs)").cast("double")
            / 10000
        ).alias("top_lang_share"),
    )


#: Greedy set-cover budget (selection rounds).
COVER_K = 8


def _cover_oracle() -> str:
    from .dedup import _SHINGLES_CTE

    # FLAT generation — every gain CTE reads sh_all directly with the
    # accumulated cover as one join and the picked ids as a NOT IN;
    # chaining rem1→rem2→... instead makes DuckDB re-inline the whole
    # prefix per reference and the oracle goes exponential (observed:
    # minutes at sf0.001 for 8 rounds); every generated CTE is
    # AS MATERIALIZED — DuckDB otherwise re-inlines multiply-referenced
    # CTEs and the prefix recompute is exponential in rounds.
    parts = [f"WITH {_SHINGLES_CTE}"]
    for i in range(1, COVER_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT doc_id FROM p{j}" for j in range(1, i)
        )
        not_picked = f" AND a.doc_id NOT IN ({picked})" if picked else ""
        cov_join = (
            f" LEFT JOIN cov{i - 1} v ON v.s = a.s WHERE v.s IS NULL"
            if i > 1
            else " WHERE 1 = 1"
        )
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS c"
            f" FROM sh_all a{cov_join}{not_picked} GROUP BY 1)"
        )
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT doc_id, c FROM g{i}"
            f" ORDER BY c DESC, doc_id LIMIT 1)"
        )
        if i < COVER_K:
            parts.append(
                f"cov{i} AS MATERIALIZED (SELECT DISTINCT s FROM sh_all"
                f" WHERE doc_id IN ({picked}{' UNION ALL ' if picked else ''}"
                f"SELECT doc_id FROM p{i}))"
            )
    sel = "\nUNION ALL\n".join(
        f"SELECT {i} AS sel_rank, doc_id, c AS gain_shingles FROM p{i}"
        for i in range(1, COVER_K + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
    , picks AS ({sel})
    SELECT sel_rank, doc_id, gain_shingles,
           CAST(sum(gain_shingles) OVER (ORDER BY sel_rank
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_covered
    FROM picks
    """
    )


@query("smp_greedy_set_cover", oracle=_cover_oracle())
def smp_greedy_set_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection (the submodular facility-
    location greedy, 1-1/e guarantee): pick {COVER_K} documents that
    together cover the most distinct corpus 3-word shingles, each round
    taking the document with the largest NOVEL coverage. This is the
    diversity-selection primitive of data-pruning pipelines (choose the
    subset that spans the corpus, not the subset that scores best
    individually) — the lexical cousin of ``smp_coreset_kcenter``'s
    geometric selection, and the dual of dedup: dedup removes redundant
    mass, set-cover KEEPS spanning mass. Uncapped shingles (coverage
    wants ubiquitous shingles counted — they're covered by the first
    pick and never pay again).

    Scale shape: the classic lazy-greedy structure — per round ONE
    anti-join of the shrinking shingle stream against the newest pick's
    (broadcast-small) shingle set, one map-side-combinable gain count,
    and a top-1 TakeOrderedAndProject; the stream only shrinks. Gains
    are exact integers; ties break on doc_id.
    """
    w = tokens()
    from .dedup import SHINGLE_K

    shingle_arr = F.when(
        F.size(w) >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - SHINGLE_K),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(SHINGLE_K)]
            ),
        ),
    )
    sh = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.explode(F.array_distinct(shingle_arr)).alias("s"))
    )
    remaining = sh.localCheckpoint()
    picks: list[tuple[int, int, int, int]] = []
    cum = 0
    for rank in range(1, COVER_K + 1):
        top = (
            remaining.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "doc_id")
            .limit(1)
            .first()
        )
        if top is None:
            break
        cum += top.c
        picks.append((rank, top.doc_id, top.c, cum))
        if rank == COVER_K:
            break
        cov = remaining.filter(F.col("doc_id") == top.doc_id).select("s")
        remaining = (
            remaining.filter(F.col("doc_id") != top.doc_id)
            .join(cov, "s", "left_anti")
            .localCheckpoint()
        )
    return spark.createDataFrame(
        picks,
        "sel_rank int, doc_id bigint, gain_shingles bigint, cum_covered bigint",
    )


#: Token budget apportioned across sources (Hamilton / largest
#: remainder — the exact-integer apportionment used for mixture
#: targets).
APPORTION_BUDGET = 100_000


@query(
    "smp_budget_apportionment",
    oracle=f"""
    WITH src AS (
        SELECT source,
               CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                    AS BIGINT) AS w
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                   CAST(count(*) AS BIGINT) AS k FROM src),
    quota AS (
        SELECT s.source, s.w, t.tw, t.k,
               ({APPORTION_BUDGET} * s.w) // t.tw AS floor_share,
               ({APPORTION_BUDGET} * s.w) % t.tw AS remainder
        FROM src s, tot t
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY remainder DESC, source)
                   AS rem_rank,
               {APPORTION_BUDGET} - sum(floor_share) OVER () AS leftover
        FROM quota
    )
    SELECT source, w AS weight_tokens,
           CAST(floor_share + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated_budget,
           CAST(floor_share AS BIGINT) AS floor_share,
           CAST(remainder AS BIGINT) AS remainder
    FROM ranked
    """,
)
def smp_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed token
    budget across sources, weighted by each source's token mass — the
    exact-integer step that turns ``smp_mixture_weights``'s real-valued
    mixture into integer per-source budgets that sum EXACTLY to the
    target (naive rounding of shares drifts by up to |sources|/2
    tokens and breaks budget invariants downstream). Floor shares are
    integer division, the leftover goes to the largest remainders
    (ties on source name) — apportionment's standard method, fully
    deterministic on both engines.

    One token-count aggregate + window ranking over |sources| rows —
    everything past the first aggregate is broadcast-sized.
    """
    w = tokens()
    src = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "source", F.size(w).cast("bigint").alias("nt")
    ).groupBy("source").agg(F.sum("nt").cast("bigint").alias("w"))
    tot = src.agg(
        F.sum("w").cast("bigint").alias("tw"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    quota = src.crossJoin(tot).select(
        "source",
        "w",
        F.expr(f"({APPORTION_BUDGET} * w) div tw").alias("floor_share"),
        F.expr(f"({APPORTION_BUDGET} * w) % tw").alias("remainder"),
    )
    wr = Window.orderBy(F.desc("remainder"), "source")
    wall = Window.partitionBy()
    ranked = quota.select(
        "source",
        "w",
        "floor_share",
        "remainder",
        F.row_number().over(wr).alias("rem_rank"),
        (F.lit(APPORTION_BUDGET) - F.sum("floor_share").over(wall)).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        F.col("w").alias("weight_tokens"),
        (
            F.col("floor_share")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated_budget"),
        F.col("floor_share").cast("bigint").alias("floor_share"),
        F.col("remainder").cast("bigint").alias("remainder"),
    )


@query(
    "pipe_eval_suite_builder",
    oracle="""
    WITH feat AS (
        SELECT doc_id, source,
               md5(text) AS h,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS nt,
               CAST(len(list_distinct(string_split_regex(trim(text),
                                                         '\\s+')))
                   AS BIGINT) AS nd,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hh
        FROM documents
    ),
    gates AS (
        SELECT *,
               CASE WHEN nt >= 20 AND 5 * nd >= nt THEN 0 ELSE 1 END
                   AS fail_quality,
               CASE WHEN row_number()
                         OVER (PARTITION BY h ORDER BY doc_id) > 1
                    THEN 1 ELSE 0 END AS fail_dup,
               CASE WHEN hh >= '2000' THEN 1 ELSE 0 END AS fail_holdout
        FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(fail_quality) AS BIGINT) AS n_fail_quality,
           CAST(sum(CASE WHEN fail_quality = 0 THEN fail_dup ELSE 0 END)
                AS BIGINT) AS n_fail_dup,
           CAST(sum(CASE WHEN fail_quality = 0 AND fail_dup = 0
                         THEN fail_holdout ELSE 0 END) AS BIGINT)
               AS n_fail_holdout,
           CAST(sum(CASE WHEN fail_quality = 0 AND fail_dup = 0
                          AND fail_holdout = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN fail_quality = 0 AND fail_dup = 0
                          AND fail_holdout = 0 THEN nt ELSE 0 END)
                AS BIGINT) AS selected_tokens,
           md5(string_agg(CASE WHEN fail_quality = 0 AND fail_dup = 0
                               AND fail_holdout = 0
                               THEN CAST(doc_id AS VARCHAR) END, ','
                          ORDER BY doc_id)) AS roster_hash
    FROM gates
    GROUP BY 1
    """,
)
def pipe_eval_suite_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set builder — the gated funnel that produces a held-out
    evaluation suite: quality gate (the ``txt_quality_score`` rule) →
    exact-dup removal (keep-first) → deterministic holdout slice (the
    ``smp_hash_split`` md5 discipline: only docs whose id-hash falls in
    the holdout range survive), reported per source with ATTRIBUTED
    rejections (each doc counted against the FIRST gate it fails —
    the funnel view a release checklist wants) plus the selected-roster
    content hash, so two builds of the suite can be compared by one
    string. One corpus scan; the dup window is the only doc-level
    shuffle; the roster hash is an ordered in-aggregate string-agg.
    """
    w = tokens()
    feat = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(w).cast("bigint").alias("nt"),
        F.size(F.array_distinct(w)).cast("bigint").alias("nd"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("hh"),
    )
    dup_w = Window.partitionBy("h").orderBy("doc_id")
    gates = feat.select(
        "doc_id",
        "source",
        "nt",
        F.when((F.col("nt") >= 20) & (5 * F.col("nd") >= F.col("nt")), 0)
        .otherwise(1)
        .alias("fail_quality"),
        F.when(F.row_number().over(dup_w) > 1, 1).otherwise(0).alias(
            "fail_dup"
        ),
        F.when(F.col("hh") >= "2000", 1).otherwise(0).alias("fail_holdout"),
    )
    sel = (
        (F.col("fail_quality") == 0)
        & (F.col("fail_dup") == 0)
        & (F.col("fail_holdout") == 0)
    )
    return gates.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum("fail_quality").cast("bigint").alias("n_fail_quality"),
        F.sum(
            F.when(F.col("fail_quality") == 0, F.col("fail_dup")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_fail_dup"),
        F.sum(
            F.when(
                (F.col("fail_quality") == 0) & (F.col("fail_dup") == 0),
                F.col("fail_holdout"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_fail_holdout"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
        F.sum(F.when(sel, F.col("nt")).otherwise(0))
        .cast("bigint")
        .alias("selected_tokens"),
        # empty roster -> NULL (DuckDB string_agg over zero rows is
        # NULL; md5('') would hash-mismatch it)
        F.when(
            F.sum(F.when(sel, 1).otherwise(0)) > 0,
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.when(sel, F.col("doc_id")))
                        ),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ),
        ).alias("roster_hash"),
    )


#: Systematic-resampling sample size.
SYSRES_K = 50
#: Contiguous doc_id rows per prefix-sum shard (pass-1 reduce grain of
#: the two-pass plan): small enough that a pass-2 in-shard window never
#: strains one executor, large enough that the shard-offset frame stays
#: tiny (N/4096 rows).
SYSRES_SHARD_SPAN = 4096


@query(
    "smp_systematic_resample",
    oracle=f"""
    WITH wts AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS w
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, w,
               sum(w) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(w) OVER () AS tw
        FROM wts
    ),
    counted AS (
        SELECT doc_id, source, w,
               (CASE WHEN 2 * {SYSRES_K} * c < tw THEN 0
                     ELSE (2 * {SYSRES_K} * c - tw) // (2 * tw) + 1 END)
               - (CASE WHEN 2 * {SYSRES_K} * (c - w) < tw THEN 0
                       ELSE (2 * {SYSRES_K} * (c - w) - tw) // (2 * tw) + 1
                  END) AS n_copies
        FROM cum
    )
    SELECT doc_id, source, w AS weight_tokens,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM counted WHERE n_copies > 0
    """,
)
def smp_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (equal-interval) importance resampling — the
    low-variance resampler particle filters and data-mixing pipelines
    use instead of multinomial draws: lay {SYSRES_K} equally spaced
    points over the cumulative weight axis (midpoint offset) and take
    the document covering each point; heavy documents appear with
    multiplicity, light ones drop out, and the sample size is EXACTLY
    {SYSRES_K} with zero RNG state (the weight layout is the only
    input — fully reproducible, unlike multinomial resampling).
    Completes the weighted-sampling family beside Efraimidis–Spirakis
    (`smp_weighted_priority_sample`, distinct-draws semantics) and
    temperature resampling.

    Every selection count is the difference of two integer interval
    formulas over cross-multiplied cumulative weights — no floats,
    no division by the total. The global prefix sum is the standard
    TWO-PASS per-shard-offset plan (round-5 rework of the round-4
    single-partition window): pass 1 reduces each contiguous doc_id
    shard to one partial sum (map-side combined, |shards| = N/span
    rows); shard offsets are an exclusive prefix sum over that tiny
    shard-grain frame (the acceptable dim-sized window class); pass 2
    broadcasts the offsets back and each shard computes its rows'
    cumulative positions independently — the corpus-grain window is
    partitioned BY SHARD, so no executor ever holds more than ``span``
    rows and the stream never collapses to one partition. Identical
    integer cumulative values to the one-window form, so the oracle's
    single ``ROWS UNBOUNDED PRECEDING`` window is unchanged.
    """
    w = tokens()
    wts = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("w"),
        F.expr(f"doc_id div {SYSRES_SHARD_SPAN}").alias("shard"),
    )
    # pass 1: one partial sum per contiguous doc_id shard
    shard_w = wts.groupBy("shard").agg(F.sum("w").alias("shard_w"))
    # exclusive prefix over the shard-grain frame (N/span rows — at
    # 100 TB still millions at most; recursively shardable if not)
    offs = shard_w.select(
        "shard",
        (
            F.sum("shard_w").over(
                Window.orderBy("shard").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("shard_w")
        ).alias("off"),
        F.sum("shard_w").over(Window.partitionBy()).alias("tw"),
    )
    # pass 2: per-shard cumulative + broadcast shard offset = global c
    in_shard = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = wts.join(F.broadcast(offs), "shard").select(
        "doc_id",
        "source",
        "w",
        (F.col("off") + F.sum("w").over(in_shard)).alias("c"),
        "tw",
    )

    def pts(expr: str) -> str:
        return (
            f"CASE WHEN 2 * {SYSRES_K} * ({expr}) < tw THEN 0"
            f" ELSE (2 * {SYSRES_K} * ({expr}) - tw) div (2 * tw) + 1 END"
        )

    counted = cum.select(
        "doc_id",
        "source",
        "w",
        F.expr(f"({pts('c')}) - ({pts('c - w')})").alias("n_copies"),
    )
    return counted.filter(F.col("n_copies") > 0).select(
        "doc_id",
        "source",
        F.col("w").alias("weight_tokens"),
        F.col("n_copies").cast("bigint").alias("n_copies"),
    )


#: Docs per padded batch in length-grouped batching.
BATCH_N = 16


@query(
    "pack_length_grouped_batches",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(length(bin(n_tokens)) AS INT) AS len_bucket
        FROM toks
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY len_bucket
                                  ORDER BY n_tokens DESC, doc_id) AS rn
        FROM bucketed
    )
    SELECT len_bucket,
           CAST((rn - 1) // {BATCH_N} AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
           CAST(max(n_tokens) AS BIGINT) AS pad_to,
           CAST((1000000 * sum(n_tokens)) // (max(n_tokens) * count(*))
                AS BIGINT) AS fill_micro
    FROM ranked
    GROUP BY 1, 2
    """,
)
def pack_length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-GROUPED padded batching — the other half of the packing
    family: where ``pack_token_budget`` concatenates docs into fixed
    context windows (pretraining), fine-tuning and inference serve
    PADDED batches, and padding cost is set by the LONGEST doc per
    batch. Grouping by log2 length bucket and filling batches in
    descending length order bounds within-batch length spread, so
    ``fill = Σtokens / (pad_to × n_docs)`` stays near 1 — the standard
    bucketed-batching trick (cf. fairseq/T5 length-grouped samplers).

    Per (bucket, batch): doc count, token mass, the pad target (batch
    max), and the fill ratio in integer micro-units (truncating
    division — identical in both engines). Deterministic: rank order is
    (n_tokens DESC, doc_id), bucket is the bin-string length (the
    ``txt_length_histogram`` integer-log2 trick).

    Scale shape: one shuffle on the ~30-value bucket key; the per-bucket
    window sort spills; everything after is a map-side-combinable
    aggregate. The whitespace tokenizer runs JVM-side (split+size) —
    no Python in the plan.
    """
    docs = read_table_parallel(spark, sf_dir, "documents", "doc_id")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    bucketed = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
    ).withColumn(
        "len_bucket", F.length(F.bin(F.col("n_tokens"))).cast("int")
    )
    w = Window.partitionBy("len_bucket").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    ranked = bucketed.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(
            "len_bucket",
            F.expr(f"(rn - 1) div {BATCH_N}").cast("bigint").alias("batch_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("batch_tokens"),
            F.max("n_tokens").cast("bigint").alias("pad_to"),
        )
        .withColumn(
            "fill_micro",
            F.expr(
                "(1000000 * batch_tokens) div (pad_to * n_docs)"
            ).cast("bigint"),
        )
    )


#: Temperature for mixture re-weighting (the XLM-R / mT5 value).
MIX_TAU = 0.7
#: Docs apportioned by the temperature-scaled quotas.
MIX_QUOTA = 1000


@query(
    "smp_temperature_sampling",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    t AS (
        SELECT source, n_docs,
               CAST(sum(n_docs) OVER () AS BIGINT) AS total
        FROM s
    ),
    w AS (
        SELECT source, n_docs, total,
               round(pow(n_docs * 1.0 / total, {MIX_TAU}), 6) AS wr
        FROM t
    ),
    -- wr is an exact 6-dp value, so wu = round(wr*1e6) is never near a
    -- .5 tie; w_tau_micro then uses the INTEGER half-up identity
    -- floor((2*s*num + den) / (2*den)) — the avg_value convention —
    -- instead of round() on a raw double, whose exact-.5 ties Spark
    -- (HALF_UP) and DuckDB (scaled-double) resolve differently.
    wi AS (
        SELECT source, n_docs, total,
               CAST(round(wr * 1000000) AS BIGINT) AS wu
        FROM w
    ),
    nrm AS (
        SELECT source, n_docs, total,
               CAST((2 * 1000000 * wu + su) // (2 * su) AS BIGINT)
                   AS w_tau_micro
        FROM (SELECT *, CAST(sum(wu) OVER () AS BIGINT) AS su FROM wi)
    ),
    q AS (
        SELECT *,
               CAST(({MIX_QUOTA} * w_tau_micro) // 1000000 AS BIGINT) AS base,
               CAST(({MIX_QUOTA} * w_tau_micro) % 1000000 AS BIGINT) AS rem
        FROM nrm
    ),
    r AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, source) AS rr,
               CAST(sum(base) OVER () AS BIGINT) AS base_sum
        FROM q
    )
    SELECT source, n_docs,
           CAST((2 * 1000000 * n_docs + total) // (2 * total) AS BIGINT)
               AS p_micro,
           w_tau_micro,
           CAST(base + CASE WHEN rr <= {MIX_QUOTA} - base_sum
                            THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM r
    """,
)
def smp_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled corpus mixture — the multilingual up-sampling
    rule (p_i^τ renormalized, τ={MIX_TAU}: XLM-R/mT5's knob) that
    `smp_mixture_weights`' plain proportions feed into: raising rare
    sources and damping dominant ones without inverting the order.
    Emits per source the raw share, the temperature weight
    (micro-units), and an EXACT integer apportionment of {MIX_QUOTA}
    sample slots via largest-remainder rounding (floor quotas + the
    biggest fractional remainders get the leftover slots; remainder
    ties break on source id) — quotas sum to {MIX_QUOTA} exactly, the
    invariant test pins it.

    Determinism: pow/ln doubles are rounded at 6 dp (the
    `txt_unigram_lm_score` precedent); everything after the micro cast
    is integer arithmetic. Scale: the census is one
    map-side-combinable count; all windows run over the |sources|-row
    frame.
    """
    s = read_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    every = Window.partitionBy()
    t = s.withColumn("total", F.sum("n_docs").over(every).cast("bigint"))
    w = t.withColumn(
        "wr",
        F.round(F.pow(F.col("n_docs") / F.col("total"), F.lit(MIX_TAU)), 6),
    )
    # integer half-up (floor((2*s*num + den)/(2*den))) over the exact
    # micro-unit weights, not round() on a raw double: an exact-.5 tie
    # there resolves differently across engines (Spark HALF_UP, DuckDB
    # scaled-double) and a 1-micro disagreement would flip base/rem and
    # change integer quotas. wr is already 6-dp, so wu never ties.
    wi = w.withColumn(
        "wu", F.round(F.col("wr") * 1000000).cast("bigint")
    ).withColumn("su", F.sum("wu").over(every).cast("bigint"))
    nrm = wi.withColumn(
        "w_tau_micro",
        F.expr("(2 * 1000000 * wu + su) div (2 * su)").cast("bigint"),
    )
    q = nrm.withColumn(
        "base", F.expr(f"({MIX_QUOTA} * w_tau_micro) div 1000000").cast("bigint")
    ).withColumn(
        "rem", F.expr(f"({MIX_QUOTA} * w_tau_micro) % 1000000").cast("bigint")
    )
    r = q.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    ).withColumn("base_sum", F.sum("base").over(every).cast("bigint"))
    return r.select(
        "source",
        "n_docs",
        F.expr("(2 * 1000000 * n_docs + total) div (2 * total)")
        .cast("bigint")
        .alias("p_micro"),
        "w_tau_micro",
        (
            F.col("base")
            + F.when(F.col("rr") <= MIX_QUOTA - F.col("base_sum"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    )


#: Poisson bootstrap: number of replicates, and the Poisson(1) inverse
#: CDF as integer thresholds over the 12-hex-digit md5 space [0, 16^12).
#: Computed ONCE here in Python and embedded as the same integer
#: literals in both the Spark expression and the DuckDB oracle, so the
#: two engines share bit-identical cut points (no runtime exp() in
#: either engine).
BOOT_REPLICATES = 32
_BOOT_DEN = 16**12
_BOOT_THRESHOLDS: tuple[int, ...] = tuple(
    int(c * _BOOT_DEN)
    for c in __import__("itertools").accumulate(
        __import__("math").exp(-1.0) / __import__("math").factorial(k)
        for k in range(7)
    )
)


def _boot_weight_case(u_expr: str) -> str:
    """CASE expression mapping a uniform integer to a Poisson(1) draw
    (identical SQL in Spark and DuckDB)."""
    arms = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}"
        for k, t in enumerate(_BOOT_THRESHOLDS)
    )
    return f"CASE {arms} ELSE {len(_BOOT_THRESHOLDS)} END"


def _boot_drawn_cte() -> str:
    """DuckDB CTE text for the (replicate, cents, w) draw frame — two
    48-bit draws per md5 digest (round 10, the ``agg_benjamini_hochberg``
    trick: a 128-bit digest holds two independent 12-hex-char uniforms,
    so replicate b draws from hash ``b div 2`` at substring offset
    ``1 + 12 * (b mod 2)``, halving the md5 count — the profiled hot
    cost of every replicate explosion). Shared by BOTH bootstrap
    queries so their replicate weights stay bit-identical."""
    u = (
        "('0x' || substr(md5('boot:' || r.h || ':' || o.o_orderkey),"
        " 1 + 12 * d.i, 12))::BIGINT"
    )
    return f"""reps AS (SELECT unnest(range(0, {BOOT_REPLICATES // 2})) AS h),
    drawn AS (
        SELECT 2 * r.h + d.i AS replicate,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               {_boot_weight_case(u)} AS w
        FROM orders o
        CROSS JOIN reps r
        CROSS JOIN (VALUES (0), (1)) d(i)
    )"""


def _boot_drawn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of :func:`_boot_drawn_cte`: the (replicate, cents, w)
    frame with two Poisson(1) draws per md5 digest. Narrow map-side
    expansion — one explode to ``BOOT_REPLICATES/2`` hash rows, one md5
    each, then a 2-struct explode splits the digest; no shuffle.

    The weights are materialized as COLUMNS (``w0``/``w1``) before the
    struct explode: the 7-arm Poisson CASE repeats its uniform
    expression once per arm, and inside a generator's input that
    repetition gets NO common-subexpression elimination — inlining the
    ``conv(substring(hx, ...))`` there re-evaluated it 7x per draw and
    measured SLOWER than the un-halved original (A/B at sf0.1, min-of-3
    same session: 6.75 s inlined vs 5.44 s original vs 5.32 s this
    form). Net effect for the bootstraps is ~flat — their cost is the
    32 CASE evaluations + the generator, not md5 — but the paired draw
    keeps the replicate-PRNG convention identical to
    ``agg_benjamini_hochberg`` (where md5 WAS the bottleneck and the
    same change bought ~3.5 s)."""
    half = BOOT_REPLICATES // 2
    drawn = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
        )
        .withColumn("h", F.explode(F.sequence(F.lit(0), F.lit(half - 1))))
        .withColumn(
            "hx",
            F.md5(
                F.concat(
                    F.lit("boot:"),
                    F.col("h").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
        )
    )
    for i in (0, 1):
        drawn = drawn.withColumn(
            f"w{i}",
            F.expr(
                _boot_weight_case(
                    f"CAST(conv(substring(hx, {1 + 12 * i}, 12), 16, 10)"
                    " AS BIGINT)"
                )
            ),
        )
    return drawn.select(
        "cents",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("h") * 2 + i).alias("replicate"),
                        F.col(f"w{i}").alias("w"),
                    )
                    for i in (0, 1)
                ]
            )
        ).alias("d"),
    ).select(
        "cents", F.col("d.replicate").alias("replicate"), F.col("d.w").alias("w")
    )


@query(
    "smp_poisson_bootstrap",
    oracle=f"""
    WITH {_boot_drawn_cte()}
    SELECT replicate,
           CAST(sum(w) AS BIGINT) AS n_eff,
           CAST(sum(w * cents) AS BIGINT) AS sum_cents,
           CAST((2 * 10000 * sum(w * cents) + sum(w))
                // (2 * sum(w)) AS BIGINT) AS boot_mean_micro
    FROM drawn GROUP BY 1
    """,
)
def smp_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of mean order value — the distributed-systems
    formulation of the bootstrap (Chamandy et al., 'Estimating
    uncertainty for massive data streams', Google 2012): instead of
    resampling n rows WITH replacement (which needs global coordination),
    every row draws an independent Poisson(1) replication weight per
    replicate, giving each replicate the same distribution as a classic
    bootstrap resample as n grows. The {BOOT_REPLICATES} per-replicate
    means form the sampling distribution a report turns into a
    confidence interval for the mean.

    Determinism: the uniform is 12 md5 hex digits drawn from the
    (replicate-pair, orderkey) digest — two independent draws per md5
    (round 10, see :func:`_boot_drawn_cte`) — exact integers in
    [0, 16^12) in both engines; the Poisson inverse CDF is the
    module-level integer threshold table, embedded identically in both
    engines; prices are exact cents and the replicate mean uses the
    half-up integer identity (micro-precision). No engine ever
    evaluates a transcendental.

    Scale shape: a narrow {BOOT_REPLICATES}× row explosion (no shuffle —
    generated map-side, md5 cost halved by the paired draws) followed by
    ONE map-side-combinable aggregate to replicate grain
    ({BOOT_REPLICATES} groups): the shuffle moves only
    |partitions|×{BOOT_REPLICATES} partial rows no matter the fact
    volume. This is the textbook reason the Poisson bootstrap exists —
    per-row independence keeps the plan embarrassingly parallel.
    """
    return _boot_drawn(spark, sf_dir).groupBy("replicate").agg(
        F.sum("w").cast("bigint").alias("n_eff"),
        F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("sum_cents"),
        F.expr(
            "CAST((2 * 10000 * sum(w * cents) + sum(w))"
            " div (2 * sum(w)) AS BIGINT)"
        ).alias("boot_mean_micro"),
    )


#: Neyman allocation: total sample budget apportioned across strata.
NEYMAN_BUDGET = 1000


@query(
    "smp_neyman_allocation",
    oracle=f"""
    WITH st AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY 1
    ),
    wt AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)))
                    AS BIGINT) AS w_int
        FROM st
    ),
    tot AS (SELECT CAST(sum(w_int) AS BIGINT) AS w FROM wt),
    quota AS (
        SELECT source, n_docs, w_int,
               ({NEYMAN_BUDGET} * w_int) // t.w AS base,
               ({NEYMAN_BUDGET} * w_int) % t.w AS rem
        FROM wt, tot t
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, source) AS rr,
               sum(base) OVER () AS base_sum
        FROM quota
    )
    SELECT source, n_docs, w_int,
           CAST(base + (CASE WHEN rr <= {NEYMAN_BUDGET} - base_sum
                             THEN 1 ELSE 0 END) AS BIGINT) AS alloc
    FROM ranked
    """,
)
def smp_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (optimal) allocation of a {NEYMAN_BUDGET}-unit sample
    budget across document sources: n_h ∝ N_h·S_h (Neyman 1934) — the
    survey-sampling rule that minimizes the estimator variance for a
    fixed budget, vs `smp_budget_apportionment`'s proportional rule: a
    big-but-homogeneous stratum yields samples to a small-but-noisy
    one. The textbook N_h·S_h collapses to one exact integer:
    N_h·S_h = sqrt(N_h·Σx² − (Σx)²) for the population stddev, so the
    weight is ``floor(sqrt())`` of an exact BIGINT (the
    `smp_mixture_weights` idiom — no floating aggregation anywhere),
    and seats are dealt by the integer largest-remainder method
    (exactly {NEYMAN_BUDGET} seats, deterministic (rem, source)
    tie-break — the `smp_temperature_sampling` machinery).

    Scale shape: ONE map-side-combinable shuffle to source grain; the
    quota arithmetic runs on the |sources|-row frame (dim-grain
    windows). Int64 headroom: N·Σx² at 1e12 docs × 1e5 chars needs the
    int128 widening documented at `agg_mann_whitney_u`.
    """
    st = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("bigint")
            .alias("sxx"),
        )
    )
    wt = st.select(
        "source",
        "n_docs",
        F.floor(
            F.sqrt(
                (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            )
        )
        .cast("bigint")
        .alias("w_int"),
    )
    every = Window.partitionBy()
    quota = wt.select(
        "source",
        "n_docs",
        "w_int",
        F.expr(f"({NEYMAN_BUDGET} * w_int) div (sum(w_int) OVER ())")
        .alias("base"),
        F.expr(f"({NEYMAN_BUDGET} * w_int) % (sum(w_int) OVER ())")
        .alias("rem"),
    )
    ranked = quota.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    ).withColumn("base_sum", F.sum("base").over(every).cast("bigint"))
    return ranked.select(
        "source",
        "n_docs",
        "w_int",
        (
            F.col("base")
            + F.when(
                F.col("rr") <= NEYMAN_BUDGET - F.col("base_sum"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )


#: Horvitz–Thompson size-proportional sampling: a document's inclusion
#: probability is min(1, n_chars / HT_SIZE_CAP) in micro-units; the
#: estimator must land within HT_TOLERANCE_MICRO of the true character
#: total (generous — ~6σ for this design at the gate SFs).
HT_SIZE_CAP_CHARS = 2_000
HT_TOLERANCE_MICRO = 150_000


@query(
    "smp_horvitz_thompson",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS y,
               least(CAST(1000000 AS BIGINT),
                     (1000000 * CAST(n_chars AS BIGINT))
                         // {HT_SIZE_CAP_CHARS}) AS pi_micro,
               CAST(('0x' || substr(md5(concat('ht:', doc_id)), 1, 12))
                    ::BIGINT % 1000000 AS BIGINT) AS u_micro
        FROM documents
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(y) AS BIGINT) AS true_total,
               CAST(sum(CASE WHEN u_micro < pi_micro THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sampled,
               CAST(sum(CASE WHEN u_micro < pi_micro
                             THEN (2 * 1000000 * y + pi_micro)
                                      // (2 * pi_micro)
                             ELSE 0 END) AS BIGINT) AS ht_total_micro
        FROM base
    )
    SELECT n_pop, n_sampled, true_total, ht_total_micro,
           CAST(ht_total_micro // 1000000 AS BIGINT) AS ht_total,
           CAST(abs(ht_total_micro - 1000000 * true_total)
                // true_total AS BIGINT) AS abs_rel_err_micro,
           abs(ht_total_micro - 1000000 * true_total) // true_total
               <= {HT_TOLERANCE_MICRO} AS within_tolerance
    FROM s
    """,
)
def smp_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson estimation under size-proportional (πps)
    sampling — the estimator that makes WEIGHTED subsampling honest:
    long documents are sampled with probability min(1, len/cap), and
    the character-mass total is recovered as Σ yᵢ/πᵢ over the sample
    alone. The output is an ACCURACY CONTRACT (the `agg_hll_audit`
    pattern): exact true total, the HT estimate, and a boolean gating
    |est − true|/true ≤ HT_TOLERANCE_MICRO (15%).

    Inclusion is keyed on ``md5('ht:' || doc_id)`` — the module's pure
    narrow-map randomness (no RNG state, identical in both engines), so
    the sample, the estimate, and the booleans all hash-match exactly;
    yᵢ/πᵢ uses the integer half-up identity (no float anywhere).

    Scale shape: ONE narrow map (hash + threshold) and one
    map-side-combinable aggregate — no shuffle of the corpus at all;
    the estimator is embarrassingly parallel at any SF.
    """
    base = read_table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("y"),
        F.expr(
            f"least(CAST(1000000 AS BIGINT),"
            f" (1000000 * CAST(n_chars AS BIGINT)) div {HT_SIZE_CAP_CHARS})"
        ).alias("pi_micro"),
        F.expr(
            "CAST(conv(substring(md5(concat('ht:', doc_id)), 1, 12),"
            " 16, 10) % 1000000 AS BIGINT)"
        ).alias("u_micro"),
    )
    s = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("y").cast("bigint").alias("true_total"),
        F.sum(F.when(F.col("u_micro") < F.col("pi_micro"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum(
            F.when(
                F.col("u_micro") < F.col("pi_micro"),
                F.expr("(2 * 1000000 * y + pi_micro) div (2 * pi_micro)"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("ht_total_micro"),
    )
    return s.select(
        "n_pop",
        "n_sampled",
        "true_total",
        "ht_total_micro",
        F.expr("CAST(ht_total_micro div 1000000 AS BIGINT)").alias(
            "ht_total"
        ),
        F.expr(
            "CAST(abs(ht_total_micro - 1000000 * true_total)"
            " div true_total AS BIGINT)"
        ).alias("abs_rel_err_micro"),
        F.expr(
            "abs(ht_total_micro - 1000000 * true_total) div true_total"
            f" <= {HT_TOLERANCE_MICRO}"
        ).alias("within_tolerance"),
    )


#: Percentile-bootstrap CI over the BOOT_REPLICATES replicate means:
#: order-statistic ranks for the interval bounds and the lower median
#: (with B=32: ranks 2/16/31 ≈ a 93.75% central interval — coarse by
#: design; widen B for tighter quantiles).
BOOT_CI_LO_RANK = 2
BOOT_CI_MED_RANK = (BOOT_REPLICATES + 1) // 2
BOOT_CI_HI_RANK = BOOT_REPLICATES - 1


@query(
    "smp_bootstrap_ci",
    oracle=f"""
    WITH {_boot_drawn_cte()},
    means AS (
        SELECT replicate,
               CAST((2 * 10000 * sum(w * cents) + sum(w))
                    // (2 * sum(w)) AS BIGINT) AS boot_mean_micro
        FROM drawn GROUP BY 1
    ),
    ranked AS (
        SELECT boot_mean_micro,
               row_number() OVER (ORDER BY boot_mean_micro, replicate) AS rn
        FROM means
    ),
    point AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST((2 * 10000 * sum(CAST(floor(o_totalprice * 100 + 0.5)
                                          AS BIGINT)) + count(*))
                    // (2 * count(*)) AS BIGINT) AS point_mean_micro
        FROM orders
    )
    SELECT p.n_orders, CAST({BOOT_REPLICATES} AS BIGINT) AS n_replicates,
           p.point_mean_micro,
           CAST(max(CASE WHEN rn = {BOOT_CI_LO_RANK}
                         THEN boot_mean_micro END) AS BIGINT) AS ci_lo_micro,
           CAST(max(CASE WHEN rn = {BOOT_CI_MED_RANK}
                         THEN boot_mean_micro END) AS BIGINT)
               AS boot_median_micro,
           CAST(max(CASE WHEN rn = {BOOT_CI_HI_RANK}
                         THEN boot_mean_micro END) AS BIGINT) AS ci_hi_micro,
           max(CASE WHEN rn = {BOOT_CI_LO_RANK} THEN boot_mean_micro END)
               <= p.point_mean_micro
           AND p.point_mean_micro
               <= max(CASE WHEN rn = {BOOT_CI_HI_RANK} THEN boot_mean_micro END)
               AS ci_covers_point
    FROM ranked, point p
    GROUP BY p.n_orders, p.point_mean_micro
    """,
)
def smp_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean order value
    — the report `smp_poisson_bootstrap`'s replicate distribution
    exists FOR: order statistics of the {BOOT_REPLICATES} Poisson-
    bootstrap replicate means give the interval bounds and the
    bootstrap median, next to the full-sample point estimate and a
    covers-the-point sanity boolean (the accuracy-contract pattern).

    Determinism: replicate means are the exact integer micro-means of
    `smp_poisson_bootstrap` (same md5 weights, same half-up identity);
    the order statistics are integer comparisons with a replicate-id
    tiebreak — nothing floats, both engines hash-match exactly.

    Scale shape: identical to the bootstrap itself — a narrow
    {BOOT_REPLICATES}× map-side explosion, ONE aggregate to replicate
    grain, then windows/aggregates over {BOOT_REPLICATES} rows (the
    documented post-aggregate tiny-frame window class) plus a 1-row
    point-estimate broadcast.
    """
    means = (
        _boot_drawn(spark, sf_dir)
        .groupBy("replicate")
        .agg(
            F.expr(
                "CAST((2 * 10000 * sum(w * cents) + sum(w))"
                " div (2 * sum(w)) AS BIGINT)"
            ).alias("boot_mean_micro")
        )
    )
    ranked = means.withColumn(
        "rn",
        F.row_number().over(Window.orderBy("boot_mean_micro", "replicate")),
    )
    point = read_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST((2 * 10000 * sum(CAST(floor(o_totalprice * 100 + 0.5)"
            " AS BIGINT)) + count(*)) div (2 * count(*)) AS BIGINT)"
        ).alias("point_mean_micro"),
    )
    stats = ranked.agg(
        F.max(
            F.when(F.col("rn") == BOOT_CI_LO_RANK, F.col("boot_mean_micro"))
        )
        .cast("bigint")
        .alias("ci_lo_micro"),
        F.max(
            F.when(F.col("rn") == BOOT_CI_MED_RANK, F.col("boot_mean_micro"))
        )
        .cast("bigint")
        .alias("boot_median_micro"),
        F.max(
            F.when(F.col("rn") == BOOT_CI_HI_RANK, F.col("boot_mean_micro"))
        )
        .cast("bigint")
        .alias("ci_hi_micro"),
    )
    return stats.crossJoin(point).select(
        "n_orders",
        F.lit(BOOT_REPLICATES).cast("bigint").alias("n_replicates"),
        "point_mean_micro",
        "ci_lo_micro",
        "boot_median_micro",
        "ci_hi_micro",
        (
            (F.col("ci_lo_micro") <= F.col("point_mean_micro"))
            & (F.col("point_mean_micro") <= F.col("ci_hi_micro"))
        ).alias("ci_covers_point"),
    )


@query(
    "smp_split_balance_audit",
    oracle=f"""
    WITH lab AS (
        SELECT CASE WHEN substr(md5(concat('split:', doc_id)), 1, 2)
                         < '{SPLIT_TRAIN_UPPER}' THEN 'train'
                    WHEN substr(md5(concat('split:', doc_id)), 1, 2)
                         < '{SPLIT_VAL_UPPER}' THEN 'val'
                    ELSE 'test' END AS split,
               source
        FROM documents
    ),
    obs AS (
        SELECT split, source, CAST(count(*) AS BIGINT) AS n
        FROM lab GROUP BY 1, 2
    ),
    rt AS (SELECT split, CAST(sum(n) AS BIGINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT source, CAST(sum(n) AS BIGINT) AS c FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n,
                   CAST(count(DISTINCT split) AS BIGINT) AS n_r,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_c
            FROM obs),
    grid AS (
        SELECT rt.split, ct.source, rt.r, ct.c, COALESCE(obs.n, 0) AS n
        FROM rt CROSS JOIN ct
        LEFT JOIN obs USING (split, source)
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
    SELECT max(big_n) AS n_docs,
           max(n_r) AS n_splits,
           max(n_c) AS n_sources,
           (max(n_r) - 1) * (max(n_c) - 1) AS dof,
           CAST(round(sum(term), 6) AS DOUBLE) AS chi2,
           CAST(round(sum(term), 6) AS DOUBLE)
               <= 2.0 * CAST((max(n_r) - 1) * (max(n_c) - 1) AS DOUBLE)
               AS balanced
    FROM terms
    """,
)
def smp_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit: is the md5 train/val/test assignment
    INDEPENDENT of document source? The check a data pipeline runs
    before trusting val/test metrics — a hash split that correlates
    with source silently trains on one distribution and evaluates on
    another. Pearson chi² over the split×source contingency (the
    `agg_chi_square_independence` identity: exact int128 cell terms,
    each rounded at 6 dp and summed as exact DECIMAL), plus a
    ``balanced`` verdict gating chi² ≤ 2·dof (≈ the 97.5th percentile
    of the null for the small dof here — an accuracy contract on the
    hash's uniformity, not a data-dependent fact).

    Scale shape: one map-side-combinable contingency aggregate over the
    corpus; everything downstream is |splits|×|sources| grain.
    """
    bucket = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 2
    )
    lab = read_table(spark, sf_dir, "documents").select(
        F.when(bucket < SPLIT_TRAIN_UPPER, "train")
        .when(bucket < SPLIT_VAL_UPPER, "val")
        .otherwise("test")
        .alias("split"),
        "source",
    )
    obs = lab.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rt = obs.groupBy("split").agg(F.sum("n").cast("bigint").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("n").cast("bigint").alias("c"))
    tot = obs.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.countDistinct("split").cast("bigint").alias("n_r"),
        F.countDistinct("source").cast("bigint").alias("n_c"),
    )
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["split", "source"], "left")
        .select("split", "source", "r", "c", F.coalesce("n", F.lit(0)).alias("n"))
    )
    terms = grid.crossJoin(tot).select(
        F.expr(
            "CAST(round("
            "  CAST(CAST(n * big_n - r * c AS DECIMAL(38,0))"
            "       * CAST(n * big_n - r * c AS DECIMAL(38,0)) AS DOUBLE)"
            "  / CAST(r * c * big_n AS DOUBLE), 6) AS DECIMAL(18,6))"
        ).alias("term"),
        "big_n",
        "n_r",
        "n_c",
    )
    return terms.agg(
        F.max("big_n").alias("n_docs"),
        F.max("n_r").alias("n_splits"),
        F.max("n_c").alias("n_sources"),
        ((F.max("n_r") - 1) * (F.max("n_c") - 1)).alias("dof"),
        F.expr("CAST(round(sum(term), 6) AS DOUBLE)").alias("chi2"),
        F.expr(
            "CAST(round(sum(term), 6) AS DOUBLE)"
            " <= 2.0 * CAST((max(n_r) - 1) * (max(n_c) - 1) AS DOUBLE)"
        ).alias("balanced"),
    )


@query(
    "pack_crossdoc_attention_mask",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    runs AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS run_total
        FROM toks
    ),
    packs AS (
        SELECT source,
               CAST((run_total - n_tokens) // {TOKEN_BUDGET} AS BIGINT) AS pack_id,
               n_tokens
        FROM runs
    )
    SELECT source, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(sum(n_tokens) * (sum(n_tokens) + 1) // 2 AS BIGINT)
               AS attn_pairs_causal,
           CAST(sum(n_tokens * (n_tokens + 1) // 2) AS BIGINT)
               AS attn_pairs_blockdiag,
           CAST(sum(n_tokens) * (sum(n_tokens) + 1) // 2
                - sum(n_tokens * (n_tokens + 1) // 2) AS BIGINT)
               AS crossdoc_pairs_masked,
           CAST((1000000 * sum(n_tokens * (n_tokens + 1) // 2))
                // (sum(n_tokens) * (sum(n_tokens) + 1) // 2) AS BIGINT)
               AS mask_density_micro
    FROM packs
    GROUP BY source, pack_id
    """,
)
def pack_crossdoc_attention_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention-mask accounting for packed sequences —
    the audit behind the "packing with block-diagonal attention" recipe
    (each training example concatenates several docs into one
    {TOKEN_BUDGET}-token window; attention must NOT cross doc
    boundaries, so the mask keeps the per-doc causal blocks and zeroes
    the cross-doc region). Per pack (same concat-then-chunk assignment
    as ``pack_token_budget``): the full causal pair count T·(T+1)/2,
    the block-diagonal pair count Σ tᵢ·(tᵢ+1)/2, their difference (the
    masked cross-doc pairs an unmasked packer would have leaked into
    attention), and the mask density in integer micro-units — the
    numbers that size the attention-kernel work and quantify the
    packing leakage risk.

    Scale shape: the running-token prefix is the shard-parallel
    two-pass plan (``_sharded_running`` — per-``doc_id div
    {PACK_SHARD_SPAN}`` partials, broadcast offsets; parallelism is
    sources × N/span, never one task per source); everything else is
    one map-side-combinable aggregate per (source, pack). All
    arithmetic is integer-exact (pack_id via ``div`` in both engines)
    and pack-bounded (T ≤ budget + one doc), so the pair counts are
    scale-invariant — they never grow with corpus size.
    """
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    toks = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", n_tokens.alias("n_tokens")
    )
    packs = _sharded_running(
        toks,
        F.col("n_tokens"),
        ["doc_id"],
        F.expr(f"doc_id div {PACK_SHARD_SPAN}"),
        out="run_total",
    ).select(
        "source",
        F.expr(f"(run_total - n_tokens) div {TOKEN_BUDGET}")
        .cast("bigint")
        .alias("pack_id"),
        "n_tokens",
    )
    return packs.groupBy("source", "pack_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("pack_tokens"),
        F.expr("CAST(sum(n_tokens) * (sum(n_tokens) + 1) div 2 AS BIGINT)").alias(
            "attn_pairs_causal"
        ),
        F.expr("CAST(sum(n_tokens * (n_tokens + 1) div 2) AS BIGINT)").alias(
            "attn_pairs_blockdiag"
        ),
        F.expr(
            "CAST(sum(n_tokens) * (sum(n_tokens) + 1) div 2"
            " - sum(n_tokens * (n_tokens + 1) div 2) AS BIGINT)"
        ).alias("crossdoc_pairs_masked"),
        F.expr(
            "CAST((1000000 * sum(n_tokens * (n_tokens + 1) div 2))"
            " div (sum(n_tokens) * (sum(n_tokens) + 1) div 2) AS BIGINT)"
        ).alias("mask_density_micro"),
    )


@query(
    "decon_eval_contamination_report",
    oracle=f"""
    WITH flag AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               substr(md5(concat('bench:', doc_id)), 1, 2) < '{BENCH_UPPER}' AS is_bench
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, is_bench,
               unnest(list_transform(range(1, len(w) - {DECON_K - 2}),
                      i -> array_to_string(list_slice(w, i, i + {DECON_K - 1}), ' '))) AS s
        FROM flag
        WHERE len(w) >= {DECON_K}
    ),
    train_s AS (SELECT DISTINCT s FROM sh WHERE NOT is_bench),
    bench_sh AS (SELECT doc_id, s FROM sh WHERE is_bench),
    tot AS (SELECT doc_id, count(*) AS n_sh FROM bench_sh GROUP BY doc_id),
    hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM bench_sh WHERE s IN (SELECT s FROM train_s)
        GROUP BY doc_id
    ),
    scored AS (
        SELECT t.doc_id, t.n_sh, coalesce(h.n_hits, 0) AS n_hits
        FROM tot t LEFT JOIN hits h USING (doc_id)
    )
    SELECT CAST(least((10 * n_hits) // n_sh, 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_eval_docs,
           CAST(sum(n_hits) AS BIGINT) AS total_hits,
           CAST(sum(n_sh) AS BIGINT) AS total_shingles,
           CAST((1000000 * sum(n_hits)) // sum(n_sh) AS BIGINT)
               AS contamination_micro
    FROM scored
    GROUP BY 1
    """,
)
def decon_eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side contamination report at corpus scale — the mirror image
    of ``decon_benchmark_ngrams`` (which scores each TRAINING doc): here
    every held-out benchmark document is scored by what fraction of its
    distinct {DECON_K}-gram shingles appear ANYWHERE in the training
    corpus, then the benchmark is summarized as a 10-bucket
    contamination histogram (bucket = ⌊10·hits/shingles⌋, top-coded at
    9) with exact integer hit/shingle masses and a micro-unit overall
    rate — the report a data-quality review reads to decide whether an
    eval suite is still trustworthy against a new corpus snapshot.

    Scale shape: one narrow tokenize→shingle→array_distinct→explode
    stage feeds both sides (persisted); the corpus side collapses to
    DISTINCT shingles (shuffle on the shingle key, map-side partials);
    the bench side is ~3% of docs by construction. The final histogram
    is a ≤10-row aggregate. At 100 TB the shingle-key shuffle dominates
    and parallelizes freely; nothing is corpus-grain on the driver.
    """
    from pyspark import StorageLevel

    w = tokens()
    shingle_arr = F.when(
        F.size(w) >= DECON_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - DECON_K),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(DECON_K)]
            ),
        ),
    )
    is_bench = (
        F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id"))), 1, 2)
        < BENCH_UPPER
    )
    sh = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            is_bench.alias("is_bench"),
            F.explode(F.array_distinct(shingle_arr)).alias("s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    train_s = (
        sh.filter(~F.col("is_bench")).select("s").distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        sh.filter("is_bench")
        .select("doc_id", "s")
        .join(train_s, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
        )
    )
    out = (
        scored.select(
            F.least(
                F.expr("(10 * n_hits) div n_sh"), F.lit(9)
            ).cast("bigint").alias("bucket"),
            "n_hits",
            "n_sh",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"),
            F.sum("n_hits").cast("bigint").alias("total_hits"),
            F.sum("n_sh").cast("bigint").alias("total_shingles"),
            # pre-widen per the HITS-sums pattern: Spark sum(BIGINT) stays
            # int64 (wraps past ~9.2e18) while the DuckDB oracle widens to
            # HUGEINT; DECIMAL(38,0) sums keep the ×1e6 numerator exact at
            # any corpus size, and the quotient (≤ 1e6) fits BIGINT.
            F.expr(
                "CAST((1000000 * sum(CAST(n_hits AS DECIMAL(38,0))))"
                " div sum(CAST(n_sh AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("contamination_micro"),
        )
    )
    from ..session import finalize_unpersist

    return finalize_unpersist(out, sh)


#: T5-style span-corruption plan: mask NOISE_PCT% of tokens in spans of
#: mean length SPAN_MEAN (Raffel et al. 2020 §3.1.4 defaults). All
#: derived lengths are exact integer arithmetic so both engines agree:
#: n_masked = (NOISE_PCT·n) div 100, n_spans = max(1, n_masked div
#: SPAN_MEAN) when any token is masked.
NOISE_PCT = 15
SPAN_MEAN = 3


@query(
    "pack_span_corruption_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
        FROM documents
    ),
    plan AS (
        SELECT source, n,
               ({NOISE_PCT} * n) // 100 AS n_masked,
               CASE WHEN ({NOISE_PCT} * n) // 100 = 0 THEN 0
                    ELSE greatest(1, (({NOISE_PCT} * n) // 100) // {SPAN_MEAN})
               END AS n_spans
        FROM toks
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(n_masked) AS BIGINT) AS total_masked,
           CAST(sum(n_spans) AS BIGINT) AS total_spans,
           CAST(sum(n - n_masked + n_spans) AS BIGINT) AS total_input_tokens,
           CAST(sum(n_masked + n_spans + 1) AS BIGINT) AS total_target_tokens,
           CAST((1000000 * sum(n_masked)) // sum(n) AS BIGINT)
               AS noise_rate_micro
    FROM plan
    GROUP BY source
    """,
)
def pack_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning — the length accounting a
    seq2seq denoising pipeline needs BEFORE packing: per document,
    {NOISE_PCT}% of tokens are masked in spans of mean length
    {SPAN_MEAN}, each span replaced by one sentinel on the input side
    and emitted with one sentinel (plus EOS) on the target side, so
    input length = n − masked + spans and target length = masked +
    spans + 1. The per-source census (doc/token/masked/span masses and
    the realized integer noise rate) sizes the encoder/decoder token
    budgets for the packed batches.

    Scale shape: a narrow tokenize+arithmetic map stage and ONE
    map-side-combinable aggregate on the coarse source key — no joins,
    no windows; scale-out is trivial at any corpus size.
    """
    n = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    plan = (
        read_table(spark, sf_dir, "documents")
        .select("source", n.alias("n"))
        .withColumn("n_masked", F.expr(f"({NOISE_PCT} * n) div 100"))
        .withColumn(
            "n_spans",
            F.when(F.col("n_masked") == 0, F.lit(0)).otherwise(
                F.greatest(F.lit(1), F.expr(f"n_masked div {SPAN_MEAN}"))
            ),
        )
    )
    return plan.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum("n_masked").cast("bigint").alias("total_masked"),
        F.sum("n_spans").cast("bigint").alias("total_spans"),
        F.sum(F.col("n") - F.col("n_masked") + F.col("n_spans"))
        .cast("bigint")
        .alias("total_input_tokens"),
        F.sum(F.col("n_masked") + F.col("n_spans") + 1)
        .cast("bigint")
        .alias("total_target_tokens"),
        # pre-widened ×1e6 numerator (see contamination_micro note)
        F.expr(
            "CAST((1000000 * sum(CAST(n_masked AS DECIMAL(38,0))))"
            " div sum(CAST(n AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("noise_rate_micro"),
    )


#: A training doc is CONTAMINATED when ≥ half its distinct shingles hit
#: the benchmark slice (2·hits ≥ shingles); a source is QUARANTINED when
#: strictly more than 2% of its scoreable docs are contaminated
#: (100·n_contaminated > 2·n_docs) — both pure integer predicates.
QUARANTINE_PCT = 2


@query(
    "decon_source_quarantine",
    oracle=f"""
    WITH flag AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w,
               substr(md5(concat('bench:', doc_id)), 1, 2) < '{BENCH_UPPER}' AS is_bench
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source, is_bench,
               unnest(list_transform(range(1, len(w) - {DECON_K - 2}),
                      i -> array_to_string(list_slice(w, i, i + {DECON_K - 1}), ' '))) AS s
        FROM flag
        WHERE len(w) >= {DECON_K}
    ),
    bench_s AS (SELECT DISTINCT s FROM sh WHERE is_bench),
    scored AS (
        SELECT doc_id, any_value(source) AS source,
               count(*) AS n_sh,
               sum(CASE WHEN s IN (SELECT s FROM bench_s) THEN 1 ELSE 0 END) AS n_hits
        FROM sh WHERE NOT is_bench
        GROUP BY doc_id
    ),
    marked AS (
        SELECT source, n_sh, n_hits,
               CASE WHEN 2 * n_hits >= n_sh THEN 1 ELSE 0 END AS contaminated
        FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN contaminated = 1 THEN n_sh ELSE 0 END) AS BIGINT)
               AS contaminated_shingle_mass,
           CAST(sum(CASE WHEN contaminated = 0 THEN n_sh ELSE 0 END) AS BIGINT)
               AS retained_shingle_mass,
           CAST((1000000 * sum(contaminated)) // count(*) AS BIGINT)
               AS contamination_rate_micro,
           100 * sum(contaminated) > {QUARANTINE_PCT} * count(*) AS quarantined
    FROM marked
    GROUP BY source
    """,
)
def decon_source_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level decontamination DECISION — the actionable step after
    the per-doc audit (``decon_benchmark_ngrams``): a training doc is
    contaminated when at least half its distinct {DECON_K}-gram shingles
    hit the held-out benchmark slice, and a whole source is quarantined
    when more than {QUARANTINE_PCT}% of its scoreable docs are
    contaminated — the "drop this crawl snapshot, it memorized the eval"
    rule. Per source: doc and contaminated-doc counts, contaminated vs
    retained shingle masses, the integer micro contamination rate, and
    the quarantine boolean.

    Scale shape: same persisted shingle stage as the sibling decon
    queries; the hit marker is ONE left semi-style join on the shingle
    key folded into the per-doc aggregate; the verdict is a coarse
    source-grain aggregate. Integer predicates end to end.
    """
    from pyspark import StorageLevel

    w = tokens()
    shingle_arr = F.when(
        F.size(w) >= DECON_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - DECON_K),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(DECON_K)]
            ),
        ),
    )
    is_bench = (
        F.substring(F.md5(F.concat(F.lit("bench:"), F.col("doc_id"))), 1, 2)
        < BENCH_UPPER
    )
    sh = (
        read_table_parallel(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            "source",
            is_bench.alias("is_bench"),
            F.explode(F.array_distinct(shingle_arr)).alias("s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bench_s = (
        sh.filter("is_bench").select("s").distinct().withColumn("hit", F.lit(1))
    )
    scored = (
        sh.filter(~F.col("is_bench"))
        .select("doc_id", "source", "s")
        .join(bench_s, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_hits"),
        )
        .withColumn(
            "contaminated",
            F.when(2 * F.col("n_hits") >= F.col("n_sh"), 1).otherwise(0),
        )
    )
    out = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("contaminated").cast("bigint").alias("n_contaminated"),
        F.sum(F.when(F.col("contaminated") == 1, F.col("n_sh")).otherwise(0))
        .cast("bigint")
        .alias("contaminated_shingle_mass"),
        F.sum(F.when(F.col("contaminated") == 0, F.col("n_sh")).otherwise(0))
        .cast("bigint")
        .alias("retained_shingle_mass"),
        # pre-widened ×1e6 numerator (see contamination_micro note)
        F.expr(
            "CAST((1000000 * sum(CAST(contaminated AS DECIMAL(38,0))))"
            " div count(*) AS BIGINT)"
        ).alias("contamination_rate_micro"),
        (
            100 * F.sum("contaminated") > QUARANTINE_PCT * F.count(F.lit(1))
        ).alias("quarantined"),
    )
    from ..session import finalize_unpersist

    return finalize_unpersist(out, sh)
