"""Deduplication operators over ``documents`` (north-star §7.2.8).

Four dedup families, all expressed as distributed DataFrame plans with no
driver-side materialization:

* **exact** — fingerprint group-by (one shuffle on the hash)
* **n-gram Jaccard** — shingle-blocking self-join + set-overlap verify
* **MinHash LSH** — banded minhash signatures → bucket join → verify
* **SimHash** — 16-bit md5-derived simhash + nibble-blocked Hamming join

Determinism across engines is load-bearing for the oracle gate: every
hash is ``md5`` (identical hex in Spark and DuckDB) and MinHash takes the
lexicographic MIN of md5 strings per seed — no engine-native hash (xxhash,
murmur) appears anywhere.

Scale notes (100 TB posture): candidate generation is always *blocked*
(shingle equality, LSH band, simhash nibble) — never an all-pairs cross
join; hot blocks are capped (``MAX_SHINGLE_DF``) exactly as production
MinHash pipelines drop ultra-frequent shingles; verification joins touch
candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import finalize_unpersist, read_table, read_table_parallel, snapshot
from . import text
from .graph import fixpoint, min_step
from .text import tokens

SHINGLE_K = 3
N_MINHASH = 8
N_BANDS = 4  # 2 signature rows per band
JACCARD_THRESHOLD = 0.8
#: Shingles occurring in more docs than this are dropped from blocking —
#: the standard hot-key cap that keeps the self-join skew-free at scale.
MAX_SHINGLE_DF = 100

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

#: Distinct k=3 word shingles per document (DuckDB CTE; 1-based lists).
_SHINGLES_CTE = f"""
    tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    sh_raw AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM tok
    ),
    sh_all AS (SELECT DISTINCT doc_id, s FROM sh_raw),
    sh AS (
        SELECT doc_id, s FROM sh_all
        WHERE s IN (SELECT s FROM sh_all GROUP BY s
                    HAVING count(*) <= {MAX_SHINGLE_DF})
    ),
    sh_n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct k-word shingles per doc, hot shingles capped (Spark side).

    The exploded-distinct shingle set is ``persist()``-ed: it feeds both
    the hot-shingle census and the hot-set anti-join, and uncached the
    tokenize→explode chain would run once per reader. MEMORY_AND_DISK so
    a 1000-executor run degrades to disk instead of OOM.

    Cache lifecycle: the build follows the rule of
    :func:`session.finalize_unpersist`. Its last step checkpoints the
    hot-capped set eagerly and drops the explode persist, so every
    consumer (signature agg, doc lengths, both sides of the verify join)
    reads materialized shingles (recomputing the chain per consumer
    measured 3× slower at sf0.1) and, with or without a
    ``session.Snapshots`` store, gets a lineage-free frame outside the
    CacheManager that it has nothing to release. The checkpoint's blocks
    are freed when the frame is garbage-collected, not at an explicit
    ``unpersist``. ``SPARK_GRAFT_NO_CHECKPOINT`` returns the lazy build
    instead, so the plan audit still sees it.
    """
    from pyspark import StorageLevel

    def build() -> DataFrame:
        w = tokens()
        shingle_arr = F.when(
            F.size(w) >= SHINGLE_K,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - SHINGLE_K),
                lambda i: F.concat_ws(
                    " ", *[F.get(w, i + j) for j in range(SHINGLE_K)]
                ),
            ),
        )
        # per-doc dedup happens INSIDE the array (array_distinct) before
        # the explode — semantically identical to explode→DISTINCT but
        # with zero shuffle: the whole shingle derivation is a narrow map
        # stage
        sh = (
            read_table_parallel(spark, sf_dir, "documents", "doc_id")
            .select("doc_id", F.explode(F.array_distinct(shingle_arr)).alias("s"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > MAX_SHINGLE_DF)
            .select("s")
        )
        return finalize_unpersist(sh.join(F.broadcast(hot), "s", "left_anti"), sh)

    return snapshot(spark, sf_dir, "shingles", build)


def _verify_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """True Jaccard for candidate pairs only (never all pairs).

    The candidate-pair set is orders of magnitude smaller than the
    shingle set (LSH already pruned it), so it is ``broadcast()`` — both
    verify joins become map-side over the partitioned shingles with NO
    shuffle of the big side. At 100 TB the same asymmetry holds;if the
    candidate set ever outgrows broadcast, drop the hint and let AQE pick
    a shuffled hash join.
    """
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sh.select(F.col("doc_id").alias("d1"), "s")
    s2 = sh.select(F.col("doc_id").alias("d2"), "s")
    shared = (
        F.broadcast(cand).join(s1, "d1")
        .join(s2, ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(n.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(n.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")), 4
            ).alias("jaccard"),
        )
    )


@query(
    "dd_exact_text",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
    )
    SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
    FROM fp GROUP BY fingerprint
    """,
)
def dd_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (north-star 'exact hash-groupBy'): md5 over normalized
    text → group. Keeping ``min(doc_id)`` per group is the deterministic
    canonical-row rule (same principle as dedupe_first, SURVEY §2.4 A5).

    Deliberately a plain scan, NOT ``read_table_parallel``: the hash
    aggregate already does a map-side partial combine, so its shuffle
    moves only (fingerprint, partial count/min) rows — pre-repartitioning
    would shuffle the full text column for nothing (measured 2× slower).
    At cluster scale the scan parallelism comes from parquet splits."""
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


#: Per-anchor-doc pair-emission budget for the registered pair-emitting
#: queries (``dd_shingle_jaccard_pairs``, ``dd_containment_pairs``): a
#: pathological duplicate clique of size n otherwise emits Θ(n²) pairs —
#: the PLAN is bucketed and fine, but the OUTPUT stage grows
#: quadratically (round-5 probes: 3.49× / 4.44× at 8× data on replica
#: cliques). With the budget, each anchor doc emits its top
#: ``PAIR_EMIT_BUDGET`` qualifying pairs (largest shingle overlap first,
#: ties to the smaller partner id — an integer-exact, cross-engine-stable
#: order) plus an ``overflow`` column counting the suppressed qualifying
#: pairs, so at 100 TB a dup storm degrades to a counted truncation
#: instead of a quadratic emission. Internal consumers (cluster building,
#: the LSH recall audit's ground truth) use the UNCAPPED `_exact_pairs`.
PAIR_EMIT_BUDGET = 64


@query(
    "dd_shingle_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d1, d2, shared,
               round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4) AS jaccard
        FROM pairs
        JOIN sh_n n1 ON n1.doc_id = d1
        JOIN sh_n n2 ON n2.doc_id = d2
    ),
    qualifying AS (
        SELECT * FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
    ),
    budgeted AS (
        SELECT d1, d2, jaccard,
               row_number() OVER (PARTITION BY d1 ORDER BY shared DESC, d2) AS prn,
               count(*) OVER (PARTITION BY d1) AS tot
        FROM qualifying
    )
    SELECT d1, d2, jaccard,
           CAST(greatest(tot - {PAIR_EMIT_BUDGET}, 0) AS BIGINT) AS overflow
    FROM budgeted WHERE prn <= {PAIR_EMIT_BUDGET}
    """,
)
def dd_shingle_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-word-shingle Jaccard ≥ 0.8 (north-star 'n-gram
    Jaccard'). Candidates come from a shingle-equality self-join (blocked,
    hot shingles capped), then exact set-overlap scoring — the shuffle
    keys are shingles and pairs, never a cross join. Emission is bounded
    by ``PAIR_EMIT_BUDGET`` per anchor doc with an ``overflow`` counter
    (the per-doc window runs over qualifying pairs only — per-key size is
    clique-bounded, never corpus-bounded)."""
    return _budget_pairs(_exact_pairs_scored(shingles(spark, sf_dir)))


def _budget_pairs(scored: DataFrame) -> DataFrame:
    """Apply the per-anchor pair budget: keep each d1's top
    ``PAIR_EMIT_BUDGET`` qualifying pairs by (shared DESC, d2 ASC) — an
    integer-only ordering both engines sort identically (within a d1
    partition the denominator inputs vary per pair, so raw overlap, not
    the rounded ratio, is the stable key) — and annotate every kept row
    with the count of suppressed qualifying pairs for that anchor."""
    w_rank = Window.partitionBy("d1").orderBy(F.col("shared").desc(), "d2")
    w_all = Window.partitionBy("d1")
    return (
        scored.withColumn("prn", F.row_number().over(w_rank))
        .withColumn("tot", F.count(F.lit(1)).over(w_all))
        .filter(F.col("prn") <= PAIR_EMIT_BUDGET)
        .select(
            "d1",
            "d2",
            "jaccard",
            F.greatest(F.col("tot") - PAIR_EMIT_BUDGET, F.lit(0))
            .cast("bigint")
            .alias("overflow"),
        )
    )


def _exact_pairs_scored(sh: DataFrame) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs from the shingle set, retaining
    the integer ``shared`` overlap (the pair-budget sort key)."""
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        pairs.join(n.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(n.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            "shared",
            F.round(
                F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")), 4
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _exact_pairs(sh: DataFrame) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs from the shingle set (UNCAPPED —
    the ground truth the LSH recall audit measures against and the edge
    list cluster building consumes; the registered pair-emitting query
    applies :data:`PAIR_EMIT_BUDGET` on top of this)."""
    return _exact_pairs_scored(sh).select("d1", "d2", "jaccard")


def _minhash_aggs_sql() -> str:
    return ",\n".join(
        f"min(md5('{s}:' || s)) AS mh{s}" for s in range(N_MINHASH)
    )


def _band_selects_sql() -> str:
    rows_per_band = N_MINHASH // N_BANDS
    selects = []
    for b in range(N_BANDS):
        parts = " || ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({parts}) AS band_key FROM sig"
        )
    return "\nUNION ALL\n".join(selects)


@query(
    "dd_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    shared AS (
        SELECT c.d1, c.d2, count(*) AS shared
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
        GROUP BY 1, 2
    )
    SELECT sh0.d1, sh0.d2,
           round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4) AS jaccard
    FROM shared sh0
    JOIN sh_n n1 ON n1.doc_id = sh0.d1
    JOIN sh_n n2 ON n2.doc_id = sh0.d2
    WHERE round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
          >= {JACCARD_THRESHOLD}
    """,
)
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (north-star 'MinHash+LSH').

    shingle → 8 deterministic minhashes (lexicographic min of
    ``md5(seed:shingle)``) → 4 bands of 2 → band-bucket equality join →
    exact Jaccard verify on candidates only. This is the shape that holds
    at 100 TB: signature agg is one shuffle on doc_id, the bucket join
    shuffles on band keys (collision-bounded), verification touches
    candidate pairs only. Deterministic md5 minhashes (rather than
    MLlib's seeded MinHashLSH) make the result engine-portable.
    """
    sh = shingles(spark, sf_dir)
    cand = _minhash_candidates(sh)
    return _verify_jaccard(cand, sh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _band_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH bucket keys from banded minhash
    signatures — the blocking structure every minhash consumer joins on
    (self-join for batch dedup, batch⋈corpus for incremental dedup)."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("s")))).alias(f"mh{s}")
            for s in range(N_MINHASH)
        ]
    )
    rows_per_band = N_MINHASH // N_BANDS
    # all 4 band keys in ONE pass over the signatures: explode an array
    # of (band_id, band_key) structs instead of unioning 4 frames, which
    # would re-run the signature aggregation once per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat(
                        *[
                            F.col(f"mh{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", "bk.band_id", "bk.band_key"
    )


def _minhash_candidates(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from banded minhash signatures (the candidate-
    generation stage of :func:`dd_minhash_lsh_pairs`, shared with the
    recall audit)."""
    bands = _band_frame(sh)
    a = bands.select(F.col("doc_id").alias("d1"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("d2"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def _simhash_bit_sums_sql(engine: str) -> str:
    """SUM(±1) expression per simhash bit; md5-hex-digit derived."""
    exprs = []
    for j in range(4):  # hex digit position (1-based substr)
        for b in range(4):  # bit inside the digit
            i = j * 4 + b
            digit = f"(instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1)"
            exprs.append(
                f"sum(CASE WHEN (({digit} >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
                f" AS s{i}"
            )
    return ",\n".join(exprs)


def _simhash_assemble_sql() -> str:
    return " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
    )


_SIMHASH_CTE = f"""
    tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents
    ),
    hashed AS (SELECT doc_id, md5(t) AS h FROM tok),
    bitsums AS (
        SELECT doc_id, {_simhash_bit_sums_sql('duckdb')}
        FROM hashed GROUP BY doc_id
    ),
    simhashed AS (
        SELECT doc_id, CAST({_simhash_assemble_sql()} AS BIGINT) AS simhash
        FROM bitsums
    )
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table_parallel(spark, sf_dir, "documents", "doc_id")
    tok = docs.select("doc_id", F.explode(tokens()).alias("t")).withColumn(
        "h", F.md5("t")
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (((instr('0123456789abcdef', substring(h, {j + 1}, 1)) - 1)"
                f" >> {b}) & 1) = 1 THEN 1 ELSE -1 END)"
            ).alias(f"s{j * 4 + b}")
            for j in range(4)
            for b in range(4)
        ]
    )
    assemble = sum(
        (F.when(F.col(f"s{i}") > 0, 1 << i).otherwise(0) for i in range(16)),
        start=F.lit(0),
    )
    return bit_sums.select("doc_id", assemble.cast("bigint").alias("simhash"))


@query(
    "dd_simhash",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM simhashed",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit frequency-weighted SimHash per document (north-star
    'SimHash'): per-token md5 bits vote ±1 per position, sign → bit. All
    arithmetic on md5 hex digits, so Spark and DuckDB produce identical
    values. One shuffle (doc_id)."""
    return _simhash_df(spark, sf_dir)


@query(
    "dd_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM simhashed a
    JOIN simhashed b
      ON a.doc_id < b.doc_id
     AND (((a.simhash >> 12) & 15) = ((b.simhash >> 12) & 15)
       OR ((a.simhash >> 8)  & 15) = ((b.simhash >> 8)  & 15)
       OR ((a.simhash >> 4)  & 15) = ((b.simhash >> 4)  & 15)
       OR ( a.simhash        & 15) = ( b.simhash        & 15))
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 3 over the 16-bit
    simhash. Candidates are generated by FOUR nibble-equality equi-joins
    (pigeonhole: ≤3 flipped bits leave at least one of 4 nibbles intact),
    unioned and deduped — the Spark plan is 4 shuffled equi-joins, never
    an OR-condition nested-loop join."""
    s = _simhash_df(spark, sf_dir)
    a = s.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    b = s.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))

    def nibble(col, shift):
        return F.shiftright(col, shift).bitwiseAND(F.lit(15))

    cands = None
    for shift in (12, 8, 4, 0):
        aa = a.withColumn("nib", nibble(F.col("h1"), shift))
        bb = b.withColumn("nib", nibble(F.col("h2"), shift))
        c = aa.join(bb, "nib").filter(F.col("d1") < F.col("d2")).drop("nib")
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.distinct()
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("bigint")
    return cands.select("d1", "d2", hamming.alias("hamming")).filter(
        F.col("hamming") <= 3
    )


MAX_CC_ITERATIONS = 20

#: Connected components over the verified Jaccard-pair graph as DuckDB
#: CTEs (recursive transitive closure — fine at oracle scale; the Spark
#: side iterates min-label propagation instead). Shared by the cluster
#: query and every downstream consumer (``dd_keep_best``) so the two
#: oracles can never drift apart.
_CLUSTERS_CTES = f"""
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2 FROM pairs
        JOIN sh_n n1 ON n1.doc_id = d1
        JOIN sh_n n2 ON n2.doc_id = d2
        WHERE round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
              >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT d1 AS src, d2 AS dst FROM edges
        UNION ALL SELECT d2, d1 FROM edges
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM sym
        UNION
        SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst
    ),
    clusters AS (
        SELECT src AS doc_id,
               least(src, min(dst)) AS cluster_id,
               CAST(count(DISTINCT CASE WHEN dst <> src THEN dst END) + 1
                    AS BIGINT) AS cluster_size
        FROM reach
        GROUP BY src
    )
"""


@query(
    "dd_duplicate_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTERS_CTES}
    SELECT doc_id, cluster_id, cluster_size FROM clusters
    """,
)
def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise matches — the dedup endgame: a
    training pipeline doesn't want pairs, it wants one canonical doc per
    duplicate group. Connected components over the Jaccard-pair graph by
    iterative min-label propagation:

        label(v) ← min(label(v), min over neighbors(label(u)))

    repeated to fixpoint (``graph.fixpoint`` over ``graph.min_step`` on
    the symmetric pair list; converges in O(component diameter) rounds
    — dup clusters are shallow, and ``MAX_CC_ITERATIONS`` is a safety
    rail, not the expected count). Each round is one shuffle join;
    lineage is truncated with ``localCheckpoint`` so the plan doesn't
    grow unboundedly — the standard Spark large-graph CC pattern. The
    convergence check is a scalar ``count()`` per round, the one
    permissible driver-side value.
    Output: every doc in a duplicate cluster, its cluster id (= min
    doc_id in the component, the canonical survivor) and cluster size.
    The oracle computes the same components with a recursive CTE.
    """
    # materialize the edge list ONCE before iterating: every CC round
    # references it, and without the checkpoint each round's action would
    # re-run the whole shingle→pair→verify pipeline (measured 3× slower
    # at sf0.1). The edge list is the small output of the LSH stage.
    sh = shingles(spark, sf_dir)
    edges = _exact_pairs(sh).select("d1", "d2").localCheckpoint()
    sym = edges.unionByName(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).toDF("src", "dst")
    seed = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    labels = fixpoint(seed, lambda v: min_step(sym, v), MAX_CC_ITERATIONS)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


@query(
    "dd_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTERS_CTES},
    ranked AS (
        SELECT c.cluster_id, c.cluster_size, d.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rk
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id,
           doc_id AS kept_doc_id,
           CAST(n_chars AS BIGINT) AS kept_chars,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rk = 1
    """,
)
def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the step AFTER clustering: from each
    near-dup cluster keep the single best document (here: most content,
    ``n_chars`` DESC, doc_id ASC tiebreak — production pipelines plug a
    quality score into the same slot) and report what was dropped.

    Plan shape: the cluster assignment (small — dup docs only, a sliver
    of the corpus at production dup rates) joins the doc-stats projection
    on ``doc_id``, then one ``row_number`` window per cluster. Both the
    join and the window shuffle the same sliver, never the full corpus;
    at 100 TB the 2-column stats projection is pruned at the parquet scan.
    """
    clusters = dd_duplicate_clusters(spark, sf_dir)
    stats = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), "doc_id"
    )
    return (
        clusters.join(stats, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_chars").alias("kept_chars"),
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
    )


@query(
    "dd_lsh_recall_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT d1, d2
        FROM pairs
        JOIN sh_n n1 ON n1.doc_id = d1
        JOIN sh_n n2 ON n2.doc_id = d2
        WHERE round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
              >= {JACCARD_THRESHOLD}
    ),
    hit AS (
        SELECT count(*) AS n_hits
        FROM truth t JOIN cand c ON c.d1 = t.d1 AND c.d2 = t.d2
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
                      ELSE CAST(n_hits AS DOUBLE)
                           / (SELECT count(*) FROM truth) END, 4) AS recall,
           round(CASE WHEN (SELECT count(*) FROM cand) = 0 THEN NULL
                      ELSE CAST(n_hits AS DOUBLE)
                           / (SELECT count(*) FROM cand) END, 4)
               AS candidate_precision
    FROM hit
    """,
)
def dd_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH candidate stage against
    exact-Jaccard ground truth — the evaluation every banded-LSH
    deployment owes its operators before the band/row parameters ship.
    Feasible as an EXACT audit because the ground truth itself is
    shingle-blocked (never all-pairs); at 100 TB the same audit runs on
    a hash-sampled slice of the corpus (the sampler is ``smp_*``).

    One shingle pipeline feeds both sides (checkpointed inside
    :func:`shingles`); candidates and truth join on the pair key and the
    result is a single audit row.
    """
    sh = shingles(spark, sf_dir)
    cand = _minhash_candidates(sh).persist()
    truth = _exact_pairs(sh).select("d1", "d2").persist()
    n_truth = truth.count()
    n_cand = cand.count()
    hits = truth.join(cand, ["d1", "d2"], "left_semi")
    ratio = lambda num, den: (  # noqa: E731
        F.round(num / F.lit(den), 4) if den else F.lit(None).cast("double")
    )
    out = hits.agg(
        F.lit(n_truth).cast("bigint").alias("n_truth"),
        F.lit(n_cand).cast("bigint").alias("n_candidates"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        ratio(F.count(F.lit(1)).cast("double"), n_truth).alias("recall"),
        ratio(F.count(F.lit(1)).cast("double"), n_cand).alias(
            "candidate_precision"
        ),
    )
    # 1-row audit result — checkpoint it and release both candidate caches
    return finalize_unpersist(out, cand, truth)


#: Pair fan-out caps for the two blocked-join operators below. At test
#: scales nothing is dropped (max exact-dup group ≈ single digits, max
#: name block 128); at corpus scale they bound the quadratic blow-up of
#: a hot block the same way MAX_SHINGLE_DF bounds hot shingles.
MAX_DUP_GROUP = 1_000
MAX_NAME_BLOCK = 5_000
FUZZY_MAX_DISTANCE = 4


@query(
    "dd_cross_source_matrix",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source, md5({_NORM_SQL}) AS fingerprint
        FROM documents
    ),
    dup AS (
        SELECT fingerprint FROM fp GROUP BY fingerprint
        HAVING count(*) BETWEEN 2 AND {MAX_DUP_GROUP}
    ),
    pairs AS (
        SELECT a.source AS s_a, b.source AS s_b
        FROM fp a
        JOIN fp b ON b.fingerprint = a.fingerprint AND a.doc_id < b.doc_id
        JOIN dup d ON d.fingerprint = a.fingerprint
    )
    SELECT least(s_a, s_b) AS source_a,
           greatest(s_a, s_b) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY 1, 2
    """,
)
def dd_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, how many exact-duplicate document pairs straddle them — the
    first question after dedup at corpus scale ("which feeds are copies
    of each other?") and the evidence behind per-source keep/drop rules.

    Plan: fingerprint (md5 over normalized text, same as
    :func:`dd_exact_text`) → self-equi-join on fingerprint restricted to
    groups of 2..``MAX_DUP_GROUP`` members (a boilerplate fingerprint
    duplicated 100k× would otherwise explode quadratically — the cap
    drops it, mirroring the hot-shingle rule) → unordered-pair source
    census. The shuffle moves (fingerprint, source) rows only; text
    never leaves the first projection.
    """
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fp = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(norm).alias("fingerprint")
    )
    dup = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= MAX_DUP_GROUP))
        .select("fingerprint")
    )
    a = fp.select("fingerprint", F.col("doc_id").alias("id_a"), F.col("source").alias("s_a"))
    b = fp.select("fingerprint", F.col("doc_id").alias("id_b"), F.col("source").alias("s_b"))
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(dup, "fingerprint", "left_semi")
    )
    return (
        pairs.groupBy(
            F.least("s_a", "s_b").alias("source_a"),
            F.greatest("s_a", "s_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    )


@query(
    "dd_fuzzy_part_names",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey, p_brand, p_name,
               split_part(p_name, ' ', 1) AS blk
        FROM part
    ),
    ok AS (
        SELECT p_brand, blk FROM p GROUP BY p_brand, blk
        HAVING count(*) <= {MAX_NAME_BLOCK}
    ),
    pairs AS (
        SELECT a.p_brand AS brand,
               levenshtein(a.p_name, b.p_name) AS distance
        FROM p a
        JOIN p b ON b.p_brand = a.p_brand AND b.blk = a.blk
                AND a.p_partkey < b.p_partkey
        JOIN ok ON ok.p_brand = a.p_brand AND ok.blk = a.blk
    )
    SELECT brand, CAST(distance AS BIGINT) AS distance,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    WHERE distance <= {FUZZY_MAX_DISTANCE}
    GROUP BY 1, 2
    """,
)
def dd_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution by bounded edit distance — the catalog-side
    sibling of document near-dup: part names within the same
    (brand, first-token) block whose Levenshtein distance is ≤
    ``FUZZY_MAX_DISTANCE``, reported as a per-brand distance census.

    The blocked self-equi-join is the classic ER shape: candidate pairs
    come only from block equality (shuffle on the block key — never an
    all-pairs name cross join), Levenshtein runs JVM-side on candidates,
    and blocks above ``MAX_NAME_BLOCK`` rows are dropped by census
    (the hot-block cap; production stacks multi-pass blocking instead).
    Levenshtein is integer-exact and identical in both engines — no
    float rules needed.
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
    )
    ok = (
        p.groupBy("p_brand", "blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= MAX_NAME_BLOCK)
        .select("p_brand", "blk")
    )
    a = p.select(
        F.col("p_brand").alias("brand"),
        "blk",
        F.col("p_partkey").alias("k_a"),
        F.col("p_name").alias("n_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        "blk",
        F.col("p_partkey").alias("k_b"),
        F.col("p_name").alias("n_b"),
    )
    pairs = (
        a.join(b, ["brand", "blk"])
        .filter(F.col("k_a") < F.col("k_b"))
        .join(
            ok.withColumnRenamed("p_brand", "brand"), ["brand", "blk"], "left_semi"
        )
        .select("brand", F.levenshtein("n_a", "n_b").alias("distance"))
        .filter(F.col("distance") <= FUZZY_MAX_DISTANCE)
    )
    return pairs.groupBy(
        "brand", F.col("distance").cast("bigint").alias("distance")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))


#: Embedding-cosine bar a candidate pair must also clear to be
#: ``confirmed`` in the hybrid dedup (same calibration as
#: ``sim_cosine_neardup_pairs``: the synthetic corpus's max
#: off-diagonal cosine is ~0.51).
SEMANTIC_COS_THRESHOLD = 0.35

from .similarity import _COS_SQL as _HYBRID_COS_SQL  # noqa: E402


@query(
    "dd_semantic_confirmed_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    shared AS (
        SELECT c.d1, c.d2, count(*) AS shared
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT sh0.d1, sh0.d2,
               round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
                 AS jaccard
        FROM shared sh0
        JOIN sh_n n1 ON n1.doc_id = sh0.d1
        JOIN sh_n n2 ON n2.doc_id = sh0.d2
    )
    SELECT j.d1, j.d2, j.jaccard,
           {_HYBRID_COS_SQL} AS cosine,
           (j.jaccard >= {JACCARD_THRESHOLD}
            AND {_HYBRID_COS_SQL} >= {SEMANTIC_COS_THRESHOLD}) AS confirmed
    FROM jac j
    JOIN embeddings a ON a.vec_id = j.d1
    JOIN embeddings b ON b.vec_id = j.d2
    """,
)
def dd_semantic_confirmed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic dedup: MinHash-LSH candidate pairs scored
    by BOTH exact shingle Jaccard and embedding cosine (``doc_id`` and
    ``vec_id`` share an id space in the testdata), with a ``confirmed``
    flag requiring both signals. This is the production guard against
    LSH false positives (boilerplate-heavy pages that share shingles but
    say different things) — a second, independent modality must agree
    before a pair is dropped.

    Plan shape: candidate generation and Jaccard verify are the same
    blocked/broadcast stages as :func:`dd_minhash_lsh_pairs`; the cosine
    adds two hash joins against the embeddings table keyed on vec_id —
    candidate-pair-sized, never corpus×corpus.
    """
    from .similarity import _cosine

    sh = shingles(spark, sf_dir)
    cand = _minhash_candidates(sh)
    jac = _verify_jaccard(cand, sh)
    emb = read_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("eb"))
    return (
        jac.join(ea, "d1")
        .join(eb, "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            _cosine(F.col("ea"), F.col("eb")).alias("cosine"),
        )
        .withColumn(
            "confirmed",
            (F.col("jaccard") >= JACCARD_THRESHOLD)
            & (F.col("cosine") >= SEMANTIC_COS_THRESHOLD),
        )
    )


#: Substring-overlap blocking: fingerprints seen in more docs than this
#: are dropped (same hot-key discipline as MAX_SHINGLE_DF); a pair needs
#: MIN_SHARED_FP shared fingerprints (cheap integer pre-filter before
#: the ratio) AND containment ≥ CONTAINMENT_THRESHOLD to be reported —
#: incidental shared 11-char substrings (common words) give containment
#: ~0.05-0.15 on this corpus, genuine copied passages ≥ 0.35.
MAX_FP_DF = 100
MIN_SHARED_FP = 5
CONTAINMENT_THRESHOLD = 0.35

_WINNOW_FP_CTE = """
    wnorm AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    wgrams AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - {K} + 2),
                              i -> md5(substring(t, i, {K}))) AS gh
        FROM wnorm
        WHERE len(t) >= {K}
    ),
    wwindows AS (
        SELECT doc_id,
               list_transform(range(1, len(gh) - {W} + 2),
                              i -> list_min(gh[i:i+{W}-1])) AS mins
        FROM wgrams
        WHERE len(gh) >= {W}
    ),
    wfp_all AS (
        SELECT DISTINCT doc_id, unnest(mins) AS fingerprint FROM wwindows
    ),
    wfp AS (
        SELECT doc_id, fingerprint FROM wfp_all
        WHERE fingerprint IN (
            SELECT fingerprint FROM wfp_all
            GROUP BY fingerprint HAVING count(*) <= {MAXDF}
        )
    ),
    wfp_n AS (SELECT doc_id, count(*) AS n FROM wfp GROUP BY doc_id)
"""


@query(
    "dd_substring_overlap_pairs",
    oracle=f"""
    WITH {_WINNOW_FP_CTE.format(K=text.WINNOW_K, W=text.WINNOW_W, MAXDF=MAX_FP_DF)},
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM wfp a JOIN wfp b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.d1, p.d2, CAST(p.shared AS BIGINT) AS shared_fp,
           round(CAST(p.shared AS DOUBLE) / least(n1.n, n2.n), 4)
             AS containment
    FROM pairs p
    JOIN wfp_n n1 ON n1.doc_id = p.d1
    JOIN wfp_n n2 ON n2.doc_id = p.d2
    WHERE p.shared >= {MIN_SHARED_FP}
      AND round(CAST(p.shared AS DOUBLE) / least(n1.n, n2.n), 4)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dd_substring_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level dedup pairs — the scalable approximation of
    suffix-array substring dedup: two documents sharing any substring of
    length ≥ K+W-1 = 11 chars necessarily share a winnowing fingerprint
    (MOSS guarantee), so fingerprint-equality blocking finds copied
    passages that token-level Jaccard dilutes away in long documents.
    Reported per pair: shared fingerprint count and a containment score
    (shared / smaller doc's fingerprint set — robust when a short doc is
    embedded in a long one, exactly where Jaccard fails).

    Same scale shape as the shingle path: hot fingerprints capped
    (``MAX_FP_DF``) so the blocking self-join stays skew-free; the
    shuffle keys are fingerprints and pairs, never doc×doc.
    """
    from .text import txt_winnow_fingerprints

    fp_all = txt_winnow_fingerprints(spark, sf_dir).persist()
    hot = (
        fp_all.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_FP_DF)
        .select("fingerprint")
    )
    fp = fp_all.join(hot, "fingerprint", "left_anti")
    n = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = fp.select(F.col("doc_id").alias("d1"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("d2"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= MIN_SHARED_FP)
    )
    out = (
        pairs.join(n.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(n.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            F.col("shared").cast("bigint").alias("shared_fp"),
            F.round(
                F.col("shared") / F.least(F.col("n1"), F.col("n2")), 4
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )
    # reported-pair list is sliver-sized — checkpoint, free the
    # fingerprint cache that fed census + both join sides
    return finalize_unpersist(out, fp_all)


@query(
    "dd_incremental_minhash",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT nb.doc_id AS d1, cb.doc_id AS d2
        FROM bands nb
        JOIN bands cb ON nb.band_id = cb.band_id
                     AND nb.band_key = cb.band_key
        WHERE nb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
    ),
    shared AS (
        SELECT c.d1, c.d2, count(*) AS shared
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT s0.d1, s0.d2,
               round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4) AS j
        FROM shared s0
        JOIN sh_n n1 ON n1.doc_id = s0.d1
        JOIN sh_n n2 ON n2.doc_id = s0.d2
    ),
    best AS (
        SELECT d1, d2, j,
               row_number() OVER (PARTITION BY d1 ORDER BY j DESC, d2) AS rn
        FROM scored WHERE j >= {JACCARD_THRESHOLD}
    )
    SELECT d.doc_id,
           CASE WHEN b.d2 IS NOT NULL THEN 'drop' ELSE 'keep' END AS decision,
           b.d2 AS dup_of,
           b.j AS jaccard
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.d1 = d.doc_id
    WHERE d.doc_id % 10 = 0
    """,
)
def dd_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the continuous-ingestion shape: a new
    batch (here docs with ``doc_id % 10 = 0``) is deduped AGAINST the
    existing corpus, never against itself, and every batch doc gets a
    keep/drop decision with its best corpus match. This is the shape a
    crawl pipeline runs daily: the corpus band index is a precomputed
    artifact, the join is batch-bands ⋈ corpus-bands — candidate fan-out
    bounded by bucket population exactly like the batch LSH, but the
    left side is only the new data, so daily cost scales with the BATCH,
    not the corpus.

    Verify stage scores candidates only; the keep/drop projection is a
    left join from the batch roster so zero-shingle docs (too short to
    block on) surface as 'keep' rather than vanishing.
    """
    sh = shingles(spark, sf_dir)
    bands = _band_frame(sh)
    is_new = F.col("doc_id") % 10 == 0
    nb = bands.filter(is_new).select(
        F.col("doc_id").alias("d1"), "band_id", "band_key"
    )
    cb = bands.filter(~is_new).select(
        F.col("doc_id").alias("d2"), "band_id", "band_key"
    )
    cand = nb.join(cb, ["band_id", "band_key"]).select("d1", "d2").distinct()
    scored = _verify_jaccard(cand, sh).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    w = Window.partitionBy("d1").orderBy(F.desc("jaccard"), "d2")
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    batch = read_table(spark, sf_dir, "documents").filter(is_new).select("doc_id")
    return batch.join(best, batch.doc_id == best.d1, "left").select(
        "doc_id",
        F.when(F.col("d2").isNotNull(), "drop").otherwise("keep").alias("decision"),
        F.col("d2").alias("dup_of"),
        F.col("jaccard"),
    )


@query(
    "pipe_incremental_curation",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT nb.doc_id AS d1, cb.doc_id AS d2
        FROM bands nb
        JOIN bands cb ON nb.band_id = cb.band_id
                     AND nb.band_key = cb.band_key
        WHERE nb.doc_id % 10 = 0 AND cb.doc_id % 10 <> 0
    ),
    shared AS (
        SELECT c.d1, c.d2, count(*) AS shared
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.d1
        JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT s0.d1
        FROM shared s0
        JOIN sh_n n1 ON n1.doc_id = s0.d1
        JOIN sh_n n2 ON n2.doc_id = s0.d2
        WHERE round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
              >= {JACCARD_THRESHOLD}
    ),
    batch AS (
        SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % 10 = 0
    ),
    dec AS (
        SELECT b.source,
               CASE
                 WHEN NOT (len(b.w) >= 20
                           AND CAST(len(list_distinct(b.w)) AS DOUBLE)
                               / len(b.w) >= 0.2) THEN 'quality_fail'
                 WHEN dup.d1 IS NOT NULL THEN 'dup_drop'
                 ELSE 'keep'
               END AS decision
        FROM batch b LEFT JOIN dup ON dup.d1 = b.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN decision = 'quality_fail' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality_fail,
           CAST(sum(CASE WHEN decision = 'dup_drop' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_drop,
           CAST(sum(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM dec
    GROUP BY source
    """,
)
def pipe_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DAILY-BATCH curation pipeline, fused: quality-gate the new
    batch (CCNet-style token/TTR thresholds), drop batch docs that
    near-duplicate the EXISTING corpus (incremental LSH — the
    batch⋈corpus band join from :func:`dd_incremental_minhash`, never a
    self-join), and emit the per-source ingestion manifest
    (batch / quality_fail / dup_drop / kept). This is the report a
    crawl-ingestion owner reads every morning; at 100 TB the corpus
    band index is a precomputed artifact and daily cost scales with the
    batch. Gate order is pinned: quality first (a low-quality dup
    counts as quality_fail), dedup second.
    """
    sh = shingles(spark, sf_dir)
    bands = _band_frame(sh)
    is_new = F.col("doc_id") % 10 == 0
    nb = bands.filter(is_new).select(
        F.col("doc_id").alias("d1"), "band_id", "band_key"
    )
    cb = bands.filter(~is_new).select(
        F.col("doc_id").alias("d2"), "band_id", "band_key"
    )
    cand = nb.join(cb, ["band_id", "band_key"]).select("d1", "d2").distinct()
    dup = (
        _verify_jaccard(cand, sh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1")
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    w = tokens()
    quality_ok = (F.size(w) >= 20) & (
        F.size(F.array_distinct(w)) / F.size(w) >= 0.2
    )
    batch = (
        read_table(spark, sf_dir, "documents")
        .filter(is_new)
        .select("doc_id", "source", quality_ok.alias("q"))
    )
    dec = batch.join(dup, batch.doc_id == dup.d1, "left").select(
        "source",
        F.when(~F.col("q"), "quality_fail")
        .when(F.col("_dup").isNotNull(), "dup_drop")
        .otherwise("keep")
        .alias("decision"),
    )
    out = dec.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(F.when(F.col("decision") == "quality_fail", 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality_fail"),
        F.sum(F.when(F.col("decision") == "dup_drop", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_drop"),
        F.sum(F.when(F.col("decision") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )
    return out


@query(
    "txt_shingle_novelty",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    df AS (SELECT s, count(*) AS df FROM sh_all GROUP BY s),
    j AS (SELECT a.doc_id, df.df FROM sh_all a JOIN df USING (s))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS novelty_ratio,
           round(avg(CAST(df AS DOUBLE)), 4) AS avg_shingle_df
    FROM j GROUP BY doc_id
    """,
)
def txt_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's word-shingles that
    appear NOWHERE else in the corpus, plus its mean shingle document
    frequency — the self-information signal a mixture owner uses to
    up-weight genuinely novel text and down-weight near-boilerplate
    (complements the LM scores: novelty is set-based, not probability-
    based). Uses the UNCAPPED shingle set — the hot-shingle cap that
    protects the dedup blocking join must not bias a frequency census.

    Plan: narrow shingle derivation (no shuffle), df aggregate (one
    shuffle on shingle), join back on shingle (AQE-broadcastable df
    table), one doc_id aggregate.
    """
    w = tokens()
    shingle_arr = F.when(
        F.size(w) >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - SHINGLE_K),
            lambda i: F.concat_ws(
                " ", *[F.get(w, i + j) for j in range(SHINGLE_K)]
            ),
        ),
    )
    sh_all = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.explode(F.array_distinct(shingle_arr)).alias("s")
    )
    df = sh_all.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh_all.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("novelty_ratio"),
            F.round(F.avg(F.col("df").cast("double")), 4).alias(
                "avg_shingle_df"
            ),
        )
    )


@query(
    "dd_minhash_estimate_audit",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    est AS (
        SELECT c.d1, c.d2,
               round(({" + ".join(f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))})
                     / {N_MINHASH}.0, 4) AS jaccard_est
        FROM cand c
        JOIN sig s1 ON s1.doc_id = c.d1
        JOIN sig s2 ON s2.doc_id = c.d2
    ),
    shared AS (
        SELECT c.d1, c.d2, count(*) AS shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.d1
        JOIN sh y ON y.doc_id = c.d2 AND y.s = x.s
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT s0.d1, s0.d2,
               round(CAST(shared AS DOUBLE) / (n1.n + n2.n - shared), 4)
                   AS jaccard_exact
        FROM shared s0
        JOIN sh_n n1 ON n1.doc_id = s0.d1
        JOIN sh_n n2 ON n2.doc_id = s0.d2
    )
    SELECT e.d1, e.d2, e.jaccard_est,
           coalesce(x.jaccard_exact, 0.0) AS jaccard_exact,
           round(abs(e.jaccard_est - coalesce(x.jaccard_exact, 0.0)), 4)
               AS abs_err
    FROM est e LEFT JOIN exact x ON x.d1 = e.d1 AND x.d2 = e.d2
    """,
)
def dd_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash signatures: per LSH
    candidate pair, the Jaccard ESTIMATE (fraction of agreeing
    signature rows — the only number a signature-store-only pipeline
    has) next to the exact shingle Jaccard and the absolute error. With
    8 rows the estimator quantizes to eighths; the audit is what tells
    an owner whether that resolution suffices before dropping the raw
    shingle sets at scale. Candidates with zero shared shingles (pure
    band collisions) surface with exact = 0 — the estimator's false
    positives, not an error in the audit.

    Plan: signature agreement is a signature⋈signature equi-join on the
    candidate slivers; the exact side reuses the candidate-bounded
    verify join. Nothing touches the corpus beyond the LSH stages
    already audited.
    """
    sh = shingles(spark, sf_dir)
    cand = _minhash_candidates(sh)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("s")))).alias(f"mh{s}")
            for s in range(N_MINHASH)
        ]
    )
    s1 = sig.select(
        F.col("doc_id").alias("d1"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)]
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)]
    )
    agree = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(N_MINHASH)),
        start=F.lit(0),
    )
    est = (
        F.broadcast(cand)
        .join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", F.round(agree / float(N_MINHASH), 4).alias("jaccard_est"))
    )
    exact = _verify_jaccard(cand, sh).withColumnRenamed("jaccard", "jaccard_exact")
    return est.join(exact, ["d1", "d2"], "left").select(
        "d1",
        "d2",
        "jaccard_est",
        F.coalesce("jaccard_exact", F.lit(0.0)).alias("jaccard_exact"),
        F.round(
            F.abs(F.col("jaccard_est") - F.coalesce("jaccard_exact", F.lit(0.0))), 4
        ).alias("abs_err"),
    )


NOVELTY_BATCH = 50  # docs per simulated ingestion batch


@query(
    "txt_novelty_decay_curve",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    batched AS (
        SELECT doc_id // {NOVELTY_BATCH} AS batch, s FROM sh
    ),
    first_seen AS (
        SELECT s, min(batch) AS first_batch FROM batched GROUP BY 1
    ),
    per_batch AS (
        SELECT b.batch,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT b.s) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN f.first_batch = b.batch
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_first_occ
        FROM batched b JOIN first_seen f ON f.s = b.s
        GROUP BY 1
    ),
    novel AS (
        SELECT first_batch AS batch,
               CAST(count(*) AS BIGINT) AS n_new_shingles
        FROM first_seen GROUP BY 1
    )
    SELECT p.batch, p.n_occurrences, p.n_distinct, n.n_new_shingles,
           CAST((20000 * n.n_new_shingles + p.n_distinct)
                // (2 * p.n_distinct) AS DOUBLE) / 10000 AS novelty_rate
    FROM per_batch p JOIN novel n ON n.batch = p.batch
    """,
)
def txt_novelty_decay_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SATURATION curve — the dedup-ROI question asked before
    paying for more crawl: as batches arrive in ingestion order, what
    fraction of each batch's distinct shingles has never been seen
    before? A healthy growing corpus decays slowly; a saturated (or
    self-copying) source decays to ~0 and more data buys nothing. Each
    shingle's first-seen batch comes from one min-aggregate; the curve
    joins it back per batch — two shuffles on the shingle key, reusing
    :func:`shingles`' hot-capped exploded set, with the rate rounded
    half-up in integer arithmetic.

    At 100 TB the identical plan runs incrementally: persist
    ``first_seen`` as the corpus shingle registry and each day's batch
    only anti-joins it (`dd_incremental_minhash` is that daily path).
    """
    sh = shingles(spark, sf_dir)
    batched = sh.select(
        F.expr(f"doc_id div {NOVELTY_BATCH}").alias("batch"), "s"
    )
    first_seen = batched.groupBy("s").agg(
        F.min("batch").alias("first_batch")
    )
    joined = batched.join(first_seen, "s")
    per_batch = joined.groupBy("batch").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.countDistinct("s").cast("bigint").alias("n_distinct"),
        F.sum(
            F.when(F.col("first_batch") == F.col("batch"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_first_occ"),
    )
    novel = first_seen.groupBy(
        F.col("first_batch").alias("batch")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_new_shingles"))
    out = (
        per_batch.join(novel, "batch")
        .select(
            "batch",
            "n_occurrences",
            "n_distinct",
            "n_new_shingles",
            (
                F.expr(
                    "(20000 * n_new_shingles + n_distinct)"
                    " div (2 * n_distinct)"
                ).cast("double")
                / 10000
            ).alias("novelty_rate"),
        )
    )
    return out


#: Span width for exact duplicated-span removal (tokens per span).
SPAN_W = 20


@query(
    "dd_span_dedup_retention",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\\s+') AS w
        FROM documents
    ),
    spans AS (
        SELECT doc_id, source, i AS span_idx,
               md5(array_to_string(
                   w[(i * {SPAN_W} + 1):(i * {SPAN_W} + {SPAN_W})], ' '))
                   AS h,
               CAST(len(w[(i * {SPAN_W} + 1):(i * {SPAN_W} + {SPAN_W})])
                    AS BIGINT) AS sl
        FROM tok,
             unnest(generate_series(0, (len(w) + {SPAN_W} - 1)
                                       // {SPAN_W} - 1)) AS u(i)
    ),
    marked AS (
        SELECT source, sl,
               CASE WHEN row_number()
                         OVER (PARTITION BY h ORDER BY doc_id, span_idx)
                         > 1 THEN 1 ELSE 0 END AS is_dup
        FROM spans
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(is_dup) AS BIGINT) AS n_dup_spans,
               CAST(sum(sl) AS BIGINT) AS n_tokens,
               CAST(sum(is_dup * sl) AS BIGINT) AS n_dropped_tokens
        FROM marked GROUP BY 1
    )
    SELECT source, n_spans, n_dup_spans, n_tokens, n_dropped_tokens,
           CAST((20000 * (n_tokens - n_dropped_tokens) + n_tokens)
                // (2 * n_tokens) AS DOUBLE) / 10000 AS retained_rate
    FROM agg
    """,
)
def dd_span_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN removal census (the RefinedWeb /
    massive-text 'exact substring dedup' stage, at span granularity):
    chop every document into consecutive {SPAN_W}-token spans, hash
    each span, keep only the FIRST occurrence of each span text
    corpus-wide (ingest order: (doc_id, span_idx)), and report per
    source how many spans and tokens survive. Complements the pairwise
    detectors (`dd_shingle_jaccard_pairs` finds near-dup DOCUMENTS;
    this measures removable duplicated MASS inside and across docs —
    the number a curation run budgets against).

    Scale shape: spans are a narrow projection (md5 of a token slice —
    no shuffle); keep-first is ONE shuffle on span hash (window
    row_number over (doc_id, span_idx) — the `ref_dedupe_first`
    discipline); the census is map-side-combinable. At 100 TB the
    span-hash shuffle is the cost — exactly the suffix-array-free
    trade the big curation pipelines make; retention is rounded
    half-up in integer arithmetic.
    """
    docs = read_table_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", tokens().alias("w")
    )
    spans = docs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(w) + {SPAN_W} - 1)"
                f" div {SPAN_W} - 1),"
                f" i -> slice(w, i * {SPAN_W} + 1, {SPAN_W}))"
            )
        ).alias("span_idx", "sw"),
    ).select(
        "doc_id",
        "source",
        "span_idx",
        F.md5(F.concat_ws(" ", "sw")).alias("h"),
        F.size("sw").cast("bigint").alias("sl"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "span_idx")
    marked = spans.select(
        "source",
        "sl",
        F.when(F.row_number().over(w) > 1, 1).otherwise(0).alias("is_dup"),
    )
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("is_dup").cast("bigint").alias("n_dup_spans"),
        F.sum("sl").cast("bigint").alias("n_tokens"),
        F.sum(F.col("is_dup") * F.col("sl")).cast("bigint").alias(
            "n_dropped_tokens"
        ),
    )
    return agg.select(
        "source",
        "n_spans",
        "n_dup_spans",
        "n_tokens",
        "n_dropped_tokens",
        (
            F.expr(
                "(20000 * (n_tokens - n_dropped_tokens) + n_tokens)"
                " div (2 * n_tokens)"
            ).cast("double")
            / 10000
        ).alias("retained_rate"),
    )


#: Directed containment threshold and the minimum source shingle count
#: (a 1–2-shingle doc is 'contained' everywhere; profile noise).
SHINGLE_CONTAINMENT_THRESHOLD = 0.9
MIN_SRC_SHINGLES = 5


@query(
    "dd_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sized AS (
        SELECT p.d1, p.d2, p.shared, n1.n AS na, n2.n AS nb
        FROM pairs p
        JOIN sh_n n1 ON n1.doc_id = p.d1
        JOIN sh_n n2 ON n2.doc_id = p.d2
    ),
    directed AS (
        SELECT d1 AS src_doc, d2 AS dst_doc, shared,
               na AS n_src, round(CAST(shared AS DOUBLE) / na, 4) AS containment
        FROM sized
        UNION ALL
        SELECT d2, d1, shared, nb, round(CAST(shared AS DOUBLE) / nb, 4)
        FROM sized
    ),
    qualifying AS (
        SELECT * FROM directed
        WHERE containment >= {SHINGLE_CONTAINMENT_THRESHOLD}
          AND n_src >= {MIN_SRC_SHINGLES}
    ),
    budgeted AS (
        SELECT *,
               row_number() OVER (PARTITION BY src_doc
                                  ORDER BY shared DESC, dst_doc) AS prn,
               count(*) OVER (PARTITION BY src_doc) AS tot
        FROM qualifying
    )
    SELECT src_doc, dst_doc, CAST(shared AS BIGINT) AS shared,
           CAST(n_src AS BIGINT) AS n_src, containment,
           CAST(greatest(tot - {PAIR_EMIT_BUDGET}, 0) AS BIGINT) AS overflow
    FROM budgeted WHERE prn <= {PAIR_EMIT_BUDGET}
    """,
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED shingle containment C(A→B) = |A∩B| / |A| — the dedup
    measure Jaccard misses: a short document wholly embedded in a longer
    one (a quote, a boilerplate wrapper, a near-subset crawl revision)
    scores low Jaccard (the union is large) but containment ≈ 1 in the
    short→long direction. LLM-corpus span dedup prunes exactly these
    (Broder's 1997 resemblance-vs-containment distinction). Emits both
    directions of each candidate pair that clear C ≥
    {SHINGLE_CONTAINMENT_THRESHOLD} with at least {MIN_SRC_SHINGLES} source
    shingles, bounded to ``PAIR_EMIT_BUDGET`` emissions per source doc
    (largest overlap first; ``overflow`` counts the suppressed
    qualifying pairs — within a src_doc partition n_src is constant, so
    ordering by the integer ``shared`` IS ordering by containment).

    Plan: the SAME blocked shingle-equality self-join + per-pair overlap
    count as `dd_shingle_jaccard_pairs` (hot shingles capped, so the
    self-join is skew-free), one extra projection per direction — the
    asymmetric score costs nothing over the symmetric one. The shared
    overlap count is computed ONCE per undirected pair; direction is a
    union of two projections of the same aggregated frame; the budget
    window runs per src_doc over qualifying pairs only.
    """
    sh = shingles(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sized = (
        pairs.join(n.select(F.col("doc_id").alias("d1"), F.col("n").alias("na")), "d1")
        .join(n.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb")), "d2")
    )
    fwd = sized.select(
        F.col("d1").alias("src_doc"),
        F.col("d2").alias("dst_doc"),
        "shared",
        F.col("na").alias("n_src"),
        F.round(F.col("shared") / F.col("na"), 4).alias("containment"),
    )
    rev = sized.select(
        F.col("d2").alias("src_doc"),
        F.col("d1").alias("dst_doc"),
        "shared",
        F.col("nb").alias("n_src"),
        F.round(F.col("shared") / F.col("nb"), 4).alias("containment"),
    )
    qualifying = fwd.unionByName(rev).filter(
        (F.col("containment") >= SHINGLE_CONTAINMENT_THRESHOLD)
        & (F.col("n_src") >= MIN_SRC_SHINGLES)
    )
    w_rank = Window.partitionBy("src_doc").orderBy(
        F.col("shared").desc(), "dst_doc"
    )
    w_all = Window.partitionBy("src_doc")
    return (
        qualifying.withColumn("prn", F.row_number().over(w_rank))
        .withColumn("tot", F.count(F.lit(1)).over(w_all))
        .filter(F.col("prn") <= PAIR_EMIT_BUDGET)
        .select(
            "src_doc",
            "dst_doc",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n_src").cast("bigint").alias("n_src"),
            "containment",
            F.greatest(F.col("tot") - PAIR_EMIT_BUDGET, F.lit(0))
            .cast("bigint")
            .alias("overflow"),
        )
    )


#: Cross-split MinHash decontamination: the "bench" slice simulates the
#: union of held-out benchmark suites — WIDER than the
#: ``decon_benchmark_ngrams`` slice (first md5 byte < 0x20, 12.5%) so the
#: cross-split near-dup population is non-degenerate at every test SF
#: (at the 3% slice, sf0.001 yields ZERO LSH candidates). Per bench doc,
#: at most ``DECON_MH_TOP`` candidate matches are emitted (overlap-desc,
#: stable tiebreak) with an ``overflow`` counter — the dd-family pair
#: budget discipline, partitioned on the bounded bench grain.
DECON_MH_BENCH_UPPER = "20"
DECON_MH_TOP = 20


@query(
    "decon_minhash_train_eval",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    flag AS (
        SELECT doc_id,
               substr(md5(concat('bench:', doc_id)), 1, 2)
                   < '{DECON_MH_BENCH_UPPER}' AS is_bench
        FROM documents
    ),
    sig AS (
        SELECT doc_id, {_minhash_aggs_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {_band_selects_sql()}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS bench_doc, t.doc_id AS train_doc
        FROM bands b
        JOIN flag fb ON fb.doc_id = b.doc_id AND fb.is_bench
        JOIN bands t ON t.band_id = b.band_id AND t.band_key = b.band_key
        JOIN flag ft ON ft.doc_id = t.doc_id AND NOT ft.is_bench
    ),
    shared AS (
        SELECT c.bench_doc, c.train_doc, count(*) AS shared
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.bench_doc
        JOIN sh s2 ON s2.doc_id = c.train_doc AND s2.s = s1.s
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT bench_doc, train_doc, shared,
               round(CAST(shared AS DOUBLE)
                     / (n1.n + n2.n - shared), 4) AS jaccard
        FROM shared
        JOIN sh_n n1 ON n1.doc_id = bench_doc
        JOIN sh_n n2 ON n2.doc_id = train_doc
    ),
    budgeted AS (
        SELECT *,
               row_number() OVER (PARTITION BY bench_doc
                                  ORDER BY shared DESC, train_doc) AS prn,
               count(*) OVER (PARTITION BY bench_doc) AS tot
        FROM scored
    )
    SELECT bench_doc, train_doc, jaccard,
           jaccard >= {JACCARD_THRESHOLD} AS contaminated,
           CAST(greatest(tot - {DECON_MH_TOP}, 0) AS BIGINT) AS overflow
    FROM budgeted WHERE prn <= {DECON_MH_TOP}
    """,
)
def decon_minhash_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split MinHash-LSH decontamination — the NEAR-DUP leg of the
    published decontamination stack (Dolma / RedPajama / GPT-3 appendix
    use MinHash or n-gram overlap between the TRAINING corpus and every
    evaluation benchmark). ``decon_benchmark_ngrams`` catches verbatim
    13-gram-style containment and ``decon_exact_substring_runs`` the
    longest verbatim run; this op catches the paraphrased / lightly
    edited contamination those miss: documents whose shingle SETS
    overlap (Jaccard) even when no long verbatim run survives.

    Same signature machinery as ``dd_minhash_lsh_pairs`` (8 md5
    minhashes, 4 bands of 2), but the bucket join is TRAIN × BENCH
    instead of a self-join — and that asymmetry is the 100 TB story:
    the bench side (a fixed union of benchmark suites) is tiny and
    BROADCAST, so candidate generation is a map-side join over the
    train bands; no shuffle of the training corpus at all. Exact
    Jaccard verification then touches candidate pairs only, and the
    emission is budget-capped per bench doc (``DECON_MH_TOP``) with an
    overflow counter — the audit a pipeline runs before every training
    launch.

    Output: every LSH candidate pair with its verified Jaccard and a
    ``contaminated`` flag at the dedup threshold — keeping
    sub-threshold candidates visible is deliberate (they are the
    borderline queue a human reviews), and it keeps the row population
    non-degenerate at small SF.
    """
    sh = shingles(spark, sf_dir)
    flag = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.substring(
                F.md5(F.concat(F.lit("bench:"), F.col("doc_id"))), 1, 2
            )
            < DECON_MH_BENCH_UPPER
        ).alias("is_bench"),
    )
    bands = _band_frame(sh).join(flag, "doc_id")
    bench_b = bands.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_doc"), "band_id", "band_key"
    )
    train_b = bands.filter(~F.col("is_bench")).select(
        F.col("doc_id").alias("train_doc"), "band_id", "band_key"
    )
    cand = (
        train_b.join(F.broadcast(bench_b), ["band_id", "band_key"])
        .select("bench_doc", "train_doc")
        .distinct()
    )
    s1 = sh.select(F.col("doc_id").alias("bench_doc"), "s")
    s2 = sh.select(F.col("doc_id").alias("train_doc"), "s")
    shared = (
        cand.join(s1, "bench_doc")
        .join(s2, ["train_doc", "s"])
        .groupBy("bench_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        shared.join(
            n.select(F.col("doc_id").alias("bench_doc"), F.col("n").alias("n1")),
            "bench_doc",
        )
        .join(
            n.select(F.col("doc_id").alias("train_doc"), F.col("n").alias("n2")),
            "train_doc",
        )
        .select(
            "bench_doc",
            "train_doc",
            "shared",
            F.round(
                F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
                4,
            ).alias("jaccard"),
        )
    )
    w_rank = Window.partitionBy("bench_doc").orderBy(
        F.col("shared").desc(), "train_doc"
    )  # grain: LSH candidates per bench doc (collision-bounded)
    w_all = Window.partitionBy("bench_doc")
    out = (
        scored.withColumn("prn", F.row_number().over(w_rank))
        .withColumn("tot", F.count(F.lit(1)).over(w_all))
        .filter(F.col("prn") <= DECON_MH_TOP)
        .select(
            "bench_doc",
            "train_doc",
            "jaccard",
            (F.col("jaccard") >= JACCARD_THRESHOLD).alias("contaminated"),
            F.greatest(F.col("tot") - DECON_MH_TOP, F.lit(0))
            .cast("bigint")
            .alias("overflow"),
        )
    )
    return out
