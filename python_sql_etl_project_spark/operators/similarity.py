"""Similarity search over the ``embeddings`` table (north-star §7.2.8).

``embeddings(vec_id BIGINT, embedding ARRAY<FLOAT> [64-dim], label INT)``.

Two ANN strategies plus supporting analytics, all pure JVM-side plans:

* **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus, rank per query. At 100 TB the
  corpus side stays partitioned and is scanned once; only the query set
  is broadcast — never a corpus×corpus cross join.
* **band-LSH ANN** — the scale path: bit-sampling LSH (sign bit per
  dimension, 4 bands of 8 sign bits). Candidates come from band-equality
  equi-joins (shuffle on band key), cosine is computed on candidates
  only. This is the IVF-style "probe a bucket, not the corpus" shape.

Cross-engine determinism: dot products and norms are computed as
*sequential left folds in index order* on float32 values cast to double
(both engines do exact float32→double conversion, then identical
double-op sequences → bit-identical sums). Cosines are rounded before
ranking so rank ties break on ``vec_id`` identically in both engines.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import finalize_unpersist, read_table, snapshot

N_QUERIES = 8  # vec_id < 8 are the "query" vectors
TOP_K = 5
N_BANDS = 4
BITS_PER_BAND = 8  # sign bits of dims [band*8, band*8+8)
#: Hot-bucket cap for band-LSH candidate generation: a (band, code)
#: bucket contributes at most this many members (deterministic
#: md5-ranked sample), bounding per-bucket pair fan-out at CAP² — the
#: skew backstop; code length ∝ log N is the expected-population knob.
#: Sized ≥ max observed population at every tested SF (20 at sf0.1) so
#: the gate-scale results are cap-invariant.
MAX_BAND_BUCKET = 64

#: DuckDB: cosine(a, b) with double accumulation in index order.
#: list_* lambdas evaluate per element; list_sum aggregates in list
#: order — matching Spark's F.aggregate left fold.
_COS_SQL = """
    round(
      list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      / sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
    , 6)
"""


def _dot(a, b):
    """Sequential-fold dot product of two float arrays, in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return F.round(_dot(a, b) / F.sqrt(_dot(a, a)) / F.sqrt(_dot(b, b)), 6)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _query_set(emb: DataFrame, n: int) -> DataFrame:
    """The ``n`` query vectors ``vec_id < n``. The limit keeps the same
    rows (ids are unique) but gives the planner a row count: a filter
    alone is sized as the whole scan, so once the corpus outgrows the
    broadcast threshold a non-equi join against it would plan as a
    cartesian product instead of broadcasting the ``n`` rows."""
    return emb.filter(F.col("vec_id") < n).limit(n)


def _cosine_prenorm(a, b, na, nb):
    """Cosine with precomputed norms — one fold per pair instead of
    three. Bit-compatible with :func:`_cosine` and the SQL oracle: the
    norm value is identical wherever it's computed, and the op order
    stays ``dot / n1 / n2`` (two divisions, matching ``_COS_SQL``)."""
    return F.round(_dot(a, b) / na / nb, 6)


def _band_code(emb, band: int):
    """8 sign bits of dims [band*8, band*8+8) packed into an int.

    Sign-bit comparison (> 0) is exact on float32 in both engines — no
    arithmetic, so no precision risk in the blocking key.
    """
    code = F.lit(0)
    for b in range(BITS_PER_BAND):
        bit = F.when(F.get(emb, band * BITS_PER_BAND + b) > 0, 1 << b).otherwise(0)
        code = code + bit
    return code


def _band_code_sql(side: str, band: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {side}.embedding[{band * BITS_PER_BAND + b + 1}] > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(BITS_PER_BAND)
    )
    return f"({terms})"


def _coded_capped_ctes() -> str:
    """Oracle CTEs for band coding WITH the hot-bucket membership cap —
    the one definition both band-LSH oracles share (mirrors
    :func:`_band_blocked_candidates`'s capped `coded` frame)."""
    cases = "\n                 ".join(
        f"WHEN {band} THEN {_band_code_sql('e', band)}"
        for band in range(N_BANDS)
    )
    return f"""bands AS (SELECT unnest(range(0, {N_BANDS})) AS band),
    coded_all AS (
        SELECT band, e.vec_id, e.embedding,
               CASE band
                 {cases}
               END AS code
        FROM embeddings e CROSS JOIN bands
    ),
    coded AS (
        SELECT band, vec_id, embedding, code FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY band, code
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS brn
            FROM coded_all) t
        WHERE brn <= {MAX_BAND_BUCKET}
    )"""


@query(
    "sim_knn_brute",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               b.label AS neighbor_label,
               {_COS_SQL} AS cosine
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, neighbor_label, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN baseline (north-star 'brute-force cosine top-k').

    The query set (``vec_id < {N_QUERIES}``) is tiny and the planner
    broadcasts it; the corpus is scanned exactly once, partitioned, with
    the per-pair cosine fused into the scan stage. Ranking is a window
    per query_id (shuffle on the small scored set).
    """
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    q = _query_set(emb, N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        emb.join(q, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            _cosine_prenorm(
                F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "neighbor_label", "cosine")
    )


def _band_blocked_candidates(emb: DataFrame) -> DataFrame:
    """Self-join candidates sharing ≥1 LSH band.

    All band codes are derived in ONE scan (explode of (band, code)
    structs), then a single self-equi-join on (band, code) — one shuffle
    on the bucket key instead of four unioned joins re-scanning the
    corpus. Pairs colliding in several bands are deduped after.

    Hot-bucket cap (the `MAX_SHINGLE_DF` pattern from dedup.py): each
    (band, code) bucket contributes at most :data:`MAX_BAND_BUCKET`
    members to candidate generation, chosen by deterministic salted-hash
    rank (md5 of vec_id — identical in both engines), so per-bucket pair
    fan-out is bounded by MAX_BAND_BUCKET² no matter how the corpus
    grows. The cap is sized ≥ the max observed population at every
    tested SF (20 at sf0.1), so it binds only on the pathological hot
    buckets that made the uncapped 8× probe super-linear (3.78×); the
    production knob for sustained growth is band-code LENGTH ∝ log N
    (keeps expected population constant), with the cap as the skew
    backstop — same division of labor as shingle-DF capping."""
    coded = emb.select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        _band_code(F.col("embedding"), band).alias("code"),
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("bc"),
    ).select("vec_id", "embedding", "nrm", "bc.band", "bc.code")
    # bucket-capped membership: the window shuffles on (band, code) —
    # the SAME key the candidate self-join below needs, so Catalyst
    # reuses the partitioning and the cap costs no extra shuffle
    w_bucket = Window.partitionBy("band", "code").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    coded = (
        coded.withColumn("brn", F.row_number().over(w_bucket))
        .filter(F.col("brn") <= MAX_BAND_BUCKET)
        .drop("brn")
    )
    a = coded.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"),
        "band",
        "code",
    )
    b = coded.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"),
        "band",
        "code",
    )
    # score BEFORE dedup: a pair colliding in k≤4 bands is scored k times
    # (identical value), but the dedup shuffle then moves only
    # (d1, d2, cosine) — not two 64-float arrays per row. Narrower
    # shuffle beats avoided recompute at every scale.
    return (
        a.join(b, ["band", "code"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            _cosine_prenorm(
                F.col("e1"), F.col("e2"), F.col("n1"), F.col("n2")
            ).alias("cosine"),
        )
        .dropDuplicates(["d1", "d2"])
    )


@query(
    "sim_ann_band_lsh",
    oracle=f"""
    WITH {_coded_capped_ctes()},
    cand AS (
        SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
        FROM coded x JOIN coded y
          ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id
    ),
    scored AS (
        SELECT c.d1, c.d2, {_COS_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.d1
        JOIN embeddings b ON b.vec_id = c.d2
    ),
    sym AS (
        SELECT d1 AS query_id, d2 AS neighbor_id, cosine FROM scored
        UNION ALL
        SELECT d2, d1, cosine FROM scored
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sym
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_ann_band_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN for EVERY vector via bit-sampling LSH (north-star
    'IVF/LSH-bucketed variant').

    Blocking: 4 bands of 8 sign bits; two vectors are candidates iff
    they agree on at least one full band. The plan is ONE explode of
    (band, code) structs feeding a single self-equi-join on the
    (band, code) bucket key — a collision-bounded bucket join, never a
    corpus×corpus cross join — then cosine on candidates only, then a
    per-vector top-k window. Bucket membership is capped at
    {MAX_BAND_BUCKET} per (band, code) (deterministic md5 rank), so the
    join fan-out is bounded by cap², not by hot-bucket population —
    the shape that scales.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    scored = _band_blocked_candidates(emb)
    sym = scored.select(
        F.col("d1").alias("query_id"), F.col("d2").alias("neighbor_id"), "cosine"
    ).unionByName(
        scored.select(
            F.col("d2").alias("query_id"), F.col("d1").alias("neighbor_id"), "cosine"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


@query(
    "sim_cosine_neardup_pairs",
    oracle=f"""
    WITH {_coded_capped_ctes()},
    cand AS (
        SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
        FROM coded x JOIN coded y
          ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id
    )
    SELECT c.d1, c.d2, {_COS_SQL} AS cosine
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.d1
    JOIN embeddings b ON b.vec_id = c.d2
    WHERE {_COS_SQL} >= 0.35
    """,
)
def sim_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (north-star dedup family
    'embedding-cosine near-dup'): band-LSH blocked candidates with
    cosine ≥ 0.35 (calibrated to the synthetic corpus, whose max
    off-diagonal cosine is ~0.51). Same blocked shape as
    :func:`sim_ann_band_lsh` — candidate pairs only, never all pairs.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    return _band_blocked_candidates(emb).filter(F.col("cosine") >= 0.35)


@query(
    "sim_label_centroid_dist",
    oracle="""
    WITH expl AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim, avg(v) AS c FROM expl GROUP BY label, dim
    ),
    norms AS (
        SELECT label,
               round(sqrt(sum(c * c)), 6) AS centroid_norm,
               CAST(count(*) AS BIGINT) AS n_dims
        FROM cent GROUP BY label
    ),
    sizes AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        FROM embeddings GROUP BY label
    )
    SELECT n.label, s.n_vecs, n.n_dims, n.centroid_norm
    FROM norms n JOIN sizes s ON s.label = n.label
    """,
)
def sim_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm — the aggregation shape of one k-means
    step (assign is a broadcast-join cosine; update is exactly this
    posexplode → groupBy(label, dim) → avg). Shuffle key (label, dim)
    distributes the reduce across cores; a driver-side numpy mean would
    not. ``avg`` is rounded post-sqrt (parallel vs serial sum, low bits).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = expl.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    norms = cent.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
    )
    sizes = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return norms.join(sizes, "label").select(
        "label", "n_vecs", "n_dims", "centroid_norm"
    )


N_PROBE_CELLS = 2  # IVF probes: own cell + runner-up


def _centroids(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer codebook: per-label mean vector.

    Stands in for k-means centroids (the label IS a cluster id in the
    synthetic data); at scale the codebook comes from MLlib KMeans over a
    sample and is tiny either way → always broadcast.
    """
    expl = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    # Components rounded: avg is a parallel partial-sum whose low bits can
    # differ across engines/partitionings; downstream cell-distance ranking
    # must see identical inputs (the engine's float-determinism rule).
    return (
        expl.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "c"))
            ).alias("dc")
        )
        .select(
            F.col("label").alias("cell"),
            F.transform("dc", lambda s: s["c"]).alias("centroid"),
        )
    )


#: Shared coarse-quantizer assignment CTEs (centroids → squared
#: distances → ranked cell assignment) — one definition feeding the IVF
#: ANN oracle AND the SemDeDup oracle, so the assignment semantics
#: cannot drift between them.
_IVF_ASSIGN_CTES = """
    expl AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label AS cell, dim, round(avg(v), 6) AS c
        FROM expl GROUP BY label, dim
    ),
    dist AS (
        SELECT e.vec_id, cent.cell,
               round(sum((CAST(e.embedding[cent.dim] AS DOUBLE) - cent.c) ^ 2),
                     6) AS d2
        FROM embeddings e, cent
        GROUP BY e.vec_id, cent.cell
    ),
    assign AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS cell_rank
        FROM dist
    ),
    home AS (SELECT vec_id, cell FROM assign WHERE cell_rank = 1)
"""


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    probes AS (SELECT * FROM assign WHERE cell_rank <= {N_PROBE_CELLS}),
    cand AS (
        SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id
        FROM probes p JOIN home h ON h.cell = p.cell
                                 AND h.vec_id <> p.vec_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, {_COS_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with the FIXED 10-label codebook — a documented
    NON-SCALE BASELINE, the IVF analogue of `sim_knn_brute`: a broadcast
    coarse-quantizer codebook assigns every vector to its nearest
    centroid cell; each query probes its {N_PROBE_CELLS} nearest cells
    and scores cosine only against vectors whose HOME cell is probed.

    Scale status (round-3 probe, README table): with nlist pinned at the
    10 labels, per-cell population grows linearly with the corpus and
    the probes⋈home candidate space ~quadratically — measured 12.96×
    wall at 8× data. The PRODUCTION path is `sim_ivf_scaled_cells`
    (identical query body, nlist ≈ √N Lloyd codebook, 2.35× at 8×);
    this variant is kept as the recall/latency baseline a fixed
    label-partitioned index gives you, and for the `sim_ivf_recall_audit`
    comparison whose oracle shares its assignment CTEs.

    Plan shape (shared with the production path): codebook broadcast
    (KB), assignment is one narrow map over the corpus, the candidate
    join shuffles on cell id, exact cosine only on candidates.
    """
    return finalize_unpersist(*_ivf_topk(spark, sf_dir))


def _ivf_topk(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The lazy :func:`sim_ivf_topk` plan and the persisted cell assignment
    it reads, which the caller releases. The recall audit filters the plan
    to its sampled queries first, so only their candidates are scored."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)

    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    # d2 rounded before ranking: the oracle sums over exploded rows (engine
    # summation order), the fold here is sequential over dims — low-bit
    # drift near equidistant cells would otherwise flip cell_rank.
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
    # persist: assign feeds BOTH probes and home — uncached, the whole
    # centroid→distance→window subtree runs twice (measured 2-4× at
    # sf0.1). The cached frame is (vec_id, cell, d2, rank) — narrow, no
    # embedding arrays; MEMORY_AND_DISK so big corpora spill not OOM.
    from pyspark import StorageLevel

    assign = dist.withColumn("cell_rank", F.row_number().over(w_assign)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    probes = assign.filter(F.col("cell_rank") <= N_PROBE_CELLS).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    home = assign.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    cand = probes.join(home, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    normed = emb.withColumn("nrm", _norm(F.col("embedding")))
    a = normed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    b = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    scored = (
        cand.join(a, "query_id")
        .join(b, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    return out, assign


def cosine_batch_udf():
    """Vectorized cosine over Arrow batches (numpy BLAS per batch).

    The alternative hot path to the JVM fold: array columns arrive as
    numpy object arrays, each batch is stacked into a (rows × dim)
    matrix and scored with one vectorized expression — the right choice
    when dims are large (≥512) and JVM codegen expression depth becomes
    the bottleneck. Not oracle-gated: numpy's pairwise summation order
    differs from a sequential fold in the last bits (≈1e-15 relative),
    so this path trades bit-reproducibility for throughput.

    Built lazily (``pandas_udf`` needs an active session to resolve its
    return type, and queries may be imported before any session exists).
    """

    def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        # two divisions, not /(na*nb): same op order as _COS_SQL and
        # _cosine_prenorm, so all three paths round identically at 1e-6
        return pd.Series(dots / na / nb)

    return F.pandas_udf(kernel, "double")


@query(
    "sim_knn_pandas_udf",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_knn_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force k-NN scored by the vectorized Pandas UDF (north-star
    'vectorized Pandas UDF' path) — identical plan shape to
    :func:`sim_knn_brute` (broadcast queries, one corpus pass, window
    top-k), only the scoring kernel differs. `tests/test_approx.py`
    asserts it reproduces the JVM ranking.

    Hash-gateable despite numpy's pairwise summation: the kernel keeps
    the oracle's op order (float64 accumulate, dot / n1 / n2) and rounds
    to 6 decimals BEFORE ranking — the same collapse rule that pins every
    other cosine query — so einsum-vs-sequential-fold low-bit drift
    cannot reorder neighbors or change the hashed values."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = _query_set(emb, N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = emb.join(q, F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_batch_udf()("q_emb", "embedding"), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


@query(
    "sim_int8_quant_audit",
    oracle="""
    WITH prep AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, label, v, list_min(v) AS mn,
               (list_max(v) - list_min(v)) / 255.0 AS scale
        FROM prep
    ),
    deq AS (
        SELECT vec_id, label, v,
               CASE WHEN scale = 0 THEN v
                    ELSE list_transform(
                        v, x -> mn + floor((x - mn) / scale + 0.5) * scale)
               END AS d
        FROM qz
    ),
    m AS (
        SELECT label,
               round(list_sum(list_transform(range(1, 65), i -> v[i] * d[i]))
                 / sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))
                 / sqrt(list_sum(list_transform(range(1, 65), i -> d[i] * d[i]))),
                 6) AS cos_vd,
               round(list_max(list_transform(range(1, 65),
                                             i -> abs(v[i] - d[i]))), 6)
                   AS max_err
        FROM deq
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(cos_vd), 4) AS avg_cosine_fidelity,
           round(max(max_err), 6) AS max_abs_err
    FROM m GROUP BY label
    """,
)
def sim_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit: per-vector min/max affine quantization to
    256 levels, dequantize, and report per-label reconstruction fidelity
    (mean cosine between original and dequantized, worst absolute
    component error) — the go/no-go check before shipping a quantized
    ANN index at 100 TB (16 GB of float32 per billion 64-dim vectors
    becomes 4 GB int8).

    Everything is a narrow higher-order expression per row (quantize →
    dequantize → sequential-fold cosine and norms) followed by one tiny
    per-label aggregate; no shuffle touches the vectors themselves.
    Rounding boundaries are ``floor(x + 0.5)`` on BOTH engines (their
    ``round`` tie-break rules differ: Spark half-up, DuckDB half-even).
    """
    v = F.transform("embedding", lambda x: x.cast("double"))
    prep = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", v.alias("v")
    )
    qz = prep.select(
        "vec_id", "label", "v",
        F.array_min("v").alias("mn"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("scale"),
    )
    mn, scale = F.col("mn"), F.col("scale")
    deq = qz.select(
        "label", "v",
        F.when(scale == 0, F.col("v"))
        .otherwise(
            F.transform(
                "v",
                lambda x: mn + F.floor((x - mn) / scale + 0.5) * scale,
            )
        )
        .alias("d"),
    )
    m = deq.select(
        "label",
        F.round(
            _dot(F.col("v"), F.col("d"))
            / F.sqrt(_dot(F.col("v"), F.col("v")))
            / F.sqrt(_dot(F.col("d"), F.col("d"))),
            6,
        ).alias("cos_vd"),
        F.round(
            F.array_max(F.zip_with("v", "d", lambda x, y: F.abs(x - y))), 6
        ).alias("max_err"),
    )
    return m.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.avg("cos_vd"), 4).alias("avg_cosine_fidelity"),
        F.round(F.max("max_err"), 6).alias("max_abs_err"),
    )


K_CODEBOOK = 8  # Lloyd cells; init = embeddings of vec_id < K_CODEBOOK
N_LLOYD = 2  # unrolled iterations (fixed so the oracle can unroll too)


def _lloyd_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest cell per vector.

    Same shape as :func:`sim_ivf_topk`'s cell assignment — the KB-scale
    codebook is broadcast, squared-L2 is a sequential fold over the
    array (never an exploded row join: corpus×K rows, not corpus×K×64),
    and d2 is rounded before the rank so near-equidistant cells can't
    flip across engines.
    """
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def _lloyd_update(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """One Lloyd update step: per-(cell, dim) mean, exploded form.

    The shuffle key (cell, dim) spreads the reduce across the cluster
    (K×64 reducer groups); ``avg`` is a map-side-combined partial mean.
    Components are rounded so the next iteration's distance ranking sees
    identical centroids in both engines (parallel vs serial summation).
    """
    return (
        emb.join(assign, "vec_id")
        .select("cell", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )


def _pack_centroids(cents_expl: DataFrame) -> DataFrame:
    """(cell, dim, c) rows → (cell, centroid array) for the next assign."""
    return (
        cents_expl.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select("cell", F.transform("dc", lambda s: s["c"]).alias("centroid"))
    )


def _lloyd_sql(cent_cte: str, out_assign: str, out_cent: str) -> str:
    """One unrolled Lloyd iteration (assign + update) as oracle CTEs."""
    return f"""
    d_{out_assign} AS (
        SELECT e.vec_id, c.cell, round(sum((e.v - c.c) ^ 2), 6) AS d2
        FROM expl e JOIN {cent_cte} c ON c.dim = e.dim
        GROUP BY e.vec_id, c.cell
    ),
    {out_assign} AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS rn
            FROM d_{out_assign})
        WHERE rn = 1
    ),
    {out_cent} AS (
        SELECT a.cell, e.dim, round(avg(e.v), 6) AS c
        FROM expl e JOIN {out_assign} a ON a.vec_id = e.vec_id
        GROUP BY a.cell, e.dim
    )"""


def _derived_nlist(emb: DataFrame) -> int:
    """nlist = ceil(sqrt(N)) DERIVED from one cheap corpus count — the
    FAISS sizing rule made real (round-4 verdict weak #1: the previous
    pinned 32 was √N only for the tested corpora). Both engines compute
    the identical value: ``math.sqrt``/DuckDB ``sqrt`` are the same
    correctly-rounded IEEE-754 operation on an exact integer count, so
    ``ceil`` lands on the same cell count (the oracle mirrors this in
    the ``nl`` CTE of :data:`_SCALED_IVF_CTES`). At 100 TB the count is
    a metadata-only parquet job; per-cell population — and so candidate
    fan-out per query — now stays ≈√N as the corpus grows instead of
    degrading linearly past the tuned snapshot."""
    import math

    return max(1, math.ceil(math.sqrt(emb.count())))


def _scaled_codebook(emb: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """nlist≈√N Lloyd codebook: first-``ceil(sqrt(N))`` seeds (one
    corpus count, :func:`_derived_nlist`), two unrolled rounds, rounded
    centroids (both engines rank identically).

    This is THE coarse quantizer for the scale-path ANN queries
    (`sim_ivf_scaled_cells`, `sim_ivfpq_search`, `sim_ivfpq_residual`):
    per-cell population — and so candidate fan-out per query — stays
    roughly constant as the corpus grows, where the fixed 10-label
    codebook's cell population grows linearly and its probes⋈home
    candidate space quadratically (measured 12.96–16.5× wall at 8× data
    before the swap). Stage ``codebook`` of a ``session.Snapshots`` store,
    materialized by its build: consumers read the trained centroids.
    """

    def build() -> DataFrame:
        nlist = _derived_nlist(emb)
        cents = emb.filter(F.col("vec_id") < nlist).select(
            F.col("vec_id").alias("cell"),
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
        for _ in range(2):
            assign = _lloyd_assign(emb, cents)
            cents = _pack_centroids(_lloyd_update(emb, assign))
        return finalize_unpersist(cents)

    return snapshot(spark, sf_dir, "codebook", build)


#: Shared oracle CTEs for the scaled coarse quantizer: corpus-derived
#: nlist → explode → seed → two Lloyd rounds → final assignment ranked
#: per vector → probes/home. One definition feeds ALL scale-path ANN
#: oracles so assignment semantics cannot drift between them. The
#: ``nl`` CTE mirrors :func:`_derived_nlist` exactly — ceil(sqrt(count))
#: over the same table is the same IEEE-754 computation in both engines.
_SCALED_IVF_CTES = f"""
    nl AS (
        SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS nlist
        FROM embeddings
    ),
    expl AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cell, dim, v AS c FROM expl
        WHERE vec_id < (SELECT nlist FROM nl)
    ),
    {{lloyd1}},
    {{lloyd2}},
    d3 AS (
        SELECT e.vec_id, c.cell, round(sum((e.v - c.c) ^ 2), 6) AS d2
        FROM expl e JOIN c2 c ON c.dim = e.dim
        GROUP BY e.vec_id, c.cell
    ),
    cellrank AS MATERIALIZED (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS cell_rank
        FROM d3
    ),
    probes AS (SELECT vec_id, cell FROM cellrank WHERE cell_rank <= {{NP}}),
    home AS (SELECT vec_id, cell FROM cellrank WHERE cell_rank = 1)
"""


def _scaled_ivf_ctes() -> str:
    """Render :data:`_SCALED_IVF_CTES` (deferred: `_lloyd_sql` output
    embeds braces-free SQL, but NP substitution reads better here)."""
    return _SCALED_IVF_CTES.format(
        NP=N_PROBE_CELLS,
        lloyd1=_lloyd_sql("c0", "a1", "c1"),
        lloyd2=_lloyd_sql("c1", "a2", "c2"),
    )


@query(
    "sim_kmeans_codebook",
    oracle=f"""
    WITH expl AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT vec_id AS cell, dim, v AS c FROM expl
        WHERE vec_id < {K_CODEBOOK}
    ),
    {_lloyd_sql("c0", "a1", "c1")},
    {_lloyd_sql("c1", "a2", "c2")},
    sizes AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_members
        FROM a2 GROUP BY cell
    )
    SELECT c2.cell, c2.dim, c2.c, s.n_members
    FROM c2 JOIN sizes s ON s.cell = c2.cell
    """,
)
def sim_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans codebook training — ``N_LLOYD`` deterministic Lloyd
    iterations over the corpus, making real the coarse quantizer that
    :func:`sim_ivf_topk`'s docstring defers to ("sampled KMeans at
    scale"). Init is the first ``K_CODEBOOK`` vectors by ``vec_id``
    (the deterministic stand-in for a seeded sample).

    Each iteration is two linear passes — assignment (broadcast codebook,
    sequential-fold L2, window argmin) and update (posexplode →
    groupBy(cell, dim) → partial-combined avg) — so the cluster cost is
    O(iterations × corpus), no quadratic join anywhere. At 100 TB you
    train on a ~1% sample (this plan unchanged, fed by ``smp_hash_split``)
    and broadcast the resulting KB-scale codebook corpus-wide; the
    iteration count is fixed, so lineage stays bounded without
    checkpointing. Cross-engine determinism: d2 and centroid components
    rounded every iteration, argmin ties broken on cell id — the float
    rules proven by the IVF query.
    """
    from pyspark import StorageLevel

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).persist(StorageLevel.MEMORY_AND_DISK)  # scanned by every pass

    cents = emb.filter(F.col("vec_id") < K_CODEBOOK).select(
        F.col("vec_id").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    assign = None
    for i in range(N_LLOYD):
        assign = _lloyd_assign(emb, cents)
        if i < N_LLOYD - 1:  # the last update feeds output, not a re-pack
            cents = _pack_centroids(_lloyd_update(emb, assign))
    # the final assignment is read twice (centroid update + sizes)
    assign = assign.persist(StorageLevel.MEMORY_AND_DISK)
    final_cents = _lloyd_update(emb, assign)
    sizes = assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    out = final_cents.join(sizes, "cell").select(
        "cell",
        (F.col("dim") + 1).cast("bigint").alias("dim"),  # oracle is 1-based
        "c",
        "n_members",
    )
    # codebook = KB-sized: checkpoint it and release the two passes'
    # caches (round 11 — a lazy return left emb + assign persisted)
    return finalize_unpersist(out, emb, assign)


@query(
    "sim_label_confusion",
    oracle="""
    WITH expl AS (
        SELECT label, generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim, round(avg(v), 6) AS c
        FROM expl GROUP BY label, dim
    ),
    nrm AS (
        SELECT label, sqrt(sum(c * c)) AS n FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS l1, b.label AS l2, sum(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.l1, d.l2,
           round(d.dot / n1.n / n2.n, 6) AS centroid_cosine
    FROM dots d
    JOIN nrm n1 ON n1.label = d.l1
    JOIN nrm n2 ON n2.label = d.l2
    """,
)
def sim_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Between-class confusion matrix in embedding space: cosine between
    every pair of label centroids — the QA readout that tells you which
    classes an embedding model can't separate (cosine → 1) before any
    classifier is trained. Centroid components are rounded first (the
    engine's float-determinism rule for parallel avgs); the pairwise
    stage joins |labels|×64 rows — codebook-scale, broadcast territory,
    independent of corpus size.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = expl.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 6).alias("c")
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n")
    )
    a = cent.select(
        F.col("label").alias("l1"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("l2"), "dim", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("l1") < F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        dots.join(nrm.select(F.col("label").alias("l1"), F.col("n").alias("n1")), "l1")
        .join(nrm.select(F.col("label").alias("l2"), F.col("n").alias("n2")), "l2")
        .select(
            "l1",
            "l2",
            F.round(F.col("dot") / F.col("n1") / F.col("n2"), 6).alias(
                "centroid_cosine"
            ),
        )
    )


#: Fixed recall-audit query budget: the first N vec_ids. A constant
#: query set (not a modulo sample) keeps the exact-baseline broadcast
#: bounded at any corpus size — the audit cost must not scale with the
#: table.
RECALL_N_QUERIES = 25


def _ivf_recall_oracle() -> str:
    """Audit oracle assembled from the REGISTERED IVF oracle text (so the
    audited definition can never drift from the audited query) plus an
    exact brute-force top-k over the sampled query points."""
    ivf = ORACLES["sim_ivf_topk"]
    return f"""
    WITH ivf AS ({ivf}),
    brute AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cosine
        FROM embeddings a
        JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {RECALL_N_QUERIES}
    ),
    brute_ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM brute
    ),
    bt AS (SELECT query_id, neighbor_id FROM brute_ranked WHERE rank <= {TOP_K}),
    it AS (SELECT query_id, neighbor_id FROM ivf
           WHERE query_id < {RECALL_N_QUERIES}),
    hits AS (
        SELECT bt.query_id, count(it.neighbor_id) AS h
        FROM bt LEFT JOIN it ON it.query_id = bt.query_id
                            AND it.neighbor_id = bt.neighbor_id
        GROUP BY bt.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(CAST(sum(h) AS DOUBLE) / ({TOP_K} * count(*)), 4)
               AS avg_recall_at_k,
           CAST(sum(CASE WHEN h = {TOP_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_perfect
    FROM hits
    """


from ..registry import ORACLES  # noqa: E402  (needed before registration below)


@query("sim_ivf_recall_audit", oracle=_ivf_recall_oracle())
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k (k=5) of the IVF ANN path against exact brute-force
    ground truth on a fixed 25-query budget (constant
    at any corpus size, so the exact baseline stays broadcastable) — the audit
    that tells an index owner whether n_probe/codebook settings are
    losing real neighbors (mirrors ``dd_lsh_recall_audit`` for the
    dedup LSH). The brute side is the allowlisted broadcast baseline
    over SAMPLED queries only; the IVF side is the production plan
    itself — auditing the exact query that serves traffic, not a copy.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    normed = emb.withColumn("nrm", _norm(F.col("embedding")))
    qs = _query_set(normed, RECALL_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    corpus = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    brute = (
        corpus.join(
            qs, F.col("neighbor_id") != F.col("query_id")
        )
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    bt = (
        brute.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    ivf, assign = _ivf_topk(spark, sf_dir)
    it = (
        ivf.filter(F.col("query_id") < RECALL_N_QUERIES)
        .select("query_id", F.col("neighbor_id").alias("ivf_neighbor"))
    )
    hits = (
        bt.join(
            it,
            (bt.query_id == it.query_id)
            & (bt.neighbor_id == it.ivf_neighbor),
            "left",
        )
        .groupBy(bt.query_id)
        .agg(F.count(it.ivf_neighbor).alias("h"))
    )
    out = hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(
            F.sum("h").cast("double") / (TOP_K * F.count(F.lit(1))), 4
        ).alias("avg_recall_at_k"),
        F.sum(F.when(F.col("h") == TOP_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_perfect"),
    )
    return finalize_unpersist(out, assign)


#: SemDeDup within-cell cosine threshold: pairs at or above it are
#: semantic duplicates and the higher vec_id is pruned.
SEMDEDUP_TAU = 0.3


def _home_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): each vector's nearest-centroid cell — the home
    assignment stage of the IVF path as a reusable frame."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = _centroids(emb)
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        dist.withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") == 1)
        .select("vec_id", "cell")
    )


@query(
    "sim_semdedup_prune",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTES},
    pairs AS (
        SELECT h1.cell, h1.vec_id AS d1, h2.vec_id AS d2
        FROM home h1
        JOIN home h2 ON h2.cell = h1.cell AND h1.vec_id < h2.vec_id
    ),
    scored AS (
        SELECT p.cell, p.d1, p.d2, {_COS_SQL} AS cosine
        FROM pairs p
        JOIN embeddings a ON a.vec_id = p.d1
        JOIN embeddings b ON b.vec_id = p.d2
    ),
    drops AS (
        SELECT DISTINCT d2 AS vec_id FROM scored WHERE cosine >= {SEMDEDUP_TAU}
    )
    SELECT h.vec_id, h.cell,
           CASE WHEN drops.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END
               AS decision
    FROM home h LEFT JOIN drops ON drops.vec_id = h.vec_id
    """,
)
def sim_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space dedup that k-means-
    clusters the corpus, compares cosines only WITHIN each cluster, and
    prunes every vector that has a semantic near-duplicate with a lower
    id (the deterministic keep-earliest rule). This is the method's
    whole scale trick reproduced faithfully: the cluster assignment
    turns an O(n²) corpus-wide comparison into Σ|cell|² bounded work,
    exactly like the paper's per-cluster pass over LAION embeddings.

    Plan: broadcast codebook assignment (one narrow pass + tiny
    window), within-cell self-join on the cell key (shuffle bounded by
    cell population), cosine on candidate pairs only, one left join for
    the keep/drop roster. Oracle shares ``_IVF_ASSIGN_CTES`` with the
    IVF ANN oracle, so assignment semantics cannot drift.
    """
    home = _home_cells(spark, sf_dir).persist()
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    h1 = home.select("cell", F.col("vec_id").alias("d1"))
    h2 = home.select("cell", F.col("vec_id").alias("d2"))
    pairs = h1.join(h2, "cell").filter(F.col("d1") < F.col("d2"))
    a = emb.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"),
    )
    b = emb.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"),
    )
    drops = (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            "d2",
            _cosine_prenorm(
                F.col("e1"), F.col("e2"), F.col("n1"), F.col("n2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
        .select(F.col("d2").alias("vec_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    out = home.join(drops, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("_drop").isNotNull(), "drop")
        .otherwise("keep")
        .alias("decision"),
    )
    return finalize_unpersist(out, home)


#: Matryoshka prefix lengths audited against the full 64-dim ranking.
MRL_DIMS = (8, 16, 32, 64)


def _cos_prefix_sql(d: int) -> str:
    """``_COS_SQL`` restricted to the first ``d`` dims (same fold order)."""
    return f"""
    round(
      list_sum(list_transform(range(1, {d + 1}),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / sqrt(list_sum(list_transform(range(1, {d + 1}),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      / sqrt(list_sum(list_transform(range(1, {d + 1}),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
    , 6)
    """


def _matryoshka_oracle() -> str:
    cos_cols = ",\n".join(
        f"{_cos_prefix_sql(d)} AS c{d}" for d in MRL_DIMS
    )
    top1 = ",\n".join(
        f"""t{d} AS (
        SELECT query_id, neighbor_id AS nb{d} FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY c{d} DESC, neighbor_id) AS r
            FROM scored) WHERE r = 1
    )"""
        for d in MRL_DIMS
    )
    unions = "\nUNION ALL\n".join(
        f"""SELECT {d} AS prefix_dim,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN pfx.nb{d} = fl.nb64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_top1_match
        FROM t{d} pfx JOIN t64 fl USING (query_id)"""
        for d in MRL_DIMS
    )
    return f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {cos_cols}
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ),
    {top1}
    {unions}
    """


@query("sim_matryoshka_audit", oracle=_matryoshka_oracle())
def sim_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit (Kusupati et al. 2022): how often
    does top-1 retrieval under a PREFIX of the embedding (8/16/32 dims)
    agree with the full 64-dim ranking? This is the measurement that
    licenses the standard 100 TB cost lever — search coarse-to-fine on
    truncated vectors (prefix index ≈ d/64 of the bytes and FLOPs) and
    re-rank survivors at full width. The corpus is scanned ONCE: all
    four prefix cosines come out of one broadcast join row (slices of
    the same pair), then four window top-1s on the scored table — no
    per-dim rescans. Cosines use the repo's sequential-fold determinism
    recipe; agreement counts are integers.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = _query_set(emb, N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = emb.join(
        q, F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *[
            _cosine(
                F.slice("q_emb", 1, d), F.slice("embedding", 1, d)
            ).alias(f"c{d}")
            for d in MRL_DIMS
        ],
    ).persist()
    top1 = {}
    for d in MRL_DIMS:
        w = Window.partitionBy("query_id").orderBy(
            F.desc(f"c{d}"), "neighbor_id"
        )
        top1[d] = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("query_id", F.col("neighbor_id").alias(f"nb{d}"))
        )
    full = top1[64].withColumnRenamed("nb64", "nb_full")
    parts = []
    for d in MRL_DIMS:
        parts.append(
            top1[d]
            .join(full, "query_id")
            .agg(
                F.lit(d).cast("int").alias("prefix_dim"),
                F.count(F.lit(1)).cast("bigint").alias("n_queries"),
                F.sum(
                    F.when(F.col(f"nb{d}") == F.col("nb_full"), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_top1_match"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return finalize_unpersist(out, scored)


PQ_M = 8  # subspaces
PQ_SUB_D = 8  # dims per subspace (8 x 8 = 64)


@query(
    "sim_pq_audit",
    oracle=f"""
    WITH expl AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, label, dim // {PQ_SUB_D} AS m, dim % {PQ_SUB_D} AS j, v
        FROM expl
    ),
    cent AS (
        SELECT label AS k, m, j, round(avg(v), 6) AS c
        FROM sub GROUP BY 1, 2, 3
    ),
    dist AS (
        SELECT s.vec_id, s.label, s.m, cent.k,
               CAST(round(sum((s.v - cent.c) * (s.v - cent.c)) * 1000000)
                    AS BIGINT) AS d2_micro
        FROM sub s JOIN cent ON cent.m = s.m AND cent.j = s.j
        GROUP BY 1, 2, 3, 4
    ),
    assign AS (
        SELECT vec_id, label, m, k, d2_micro,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2_micro, k) AS r
        FROM dist
    ),
    encoded AS (
        SELECT vec_id, label,
               string_agg(CAST(k AS VARCHAR), '-' ORDER BY m) AS code,
               CAST(sum(d2_micro) AS BIGINT) AS err_micro
        FROM assign WHERE r = 1
        GROUP BY 1, 2
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT code) AS BIGINT) AS n_distinct_codes,
           CAST((20000 * CAST(sum(err_micro) AS HUGEINT)
                 + CAST(count(*) AS HUGEINT) * 1000000)
                // (2 * CAST(count(*) AS HUGEINT) * 1000000) AS DOUBLE)
               / 10000 AS mean_sq_err
    FROM encoded
    GROUP BY label
    """,
)
def sim_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit (Jégou et al. 2011): split the 64-dim
    embedding into ``PQ_M`` (8) subspaces of ``PQ_SUB_D`` (8) dims,
    quantize each subvector to its nearest subspace centroid, and report
    per label the code diversity and mean reconstruction error — the
    distortion measurement that sizes a PQ index before replacing raw
    vectors (a 64-float vector becomes 8 code digits: 32× compression
    here, 256× at production K=256/float32). Subspace codebooks are
    label-conditioned means (the same coarse 'training' as the IVF
    family; `sim_kmeans_codebook` demonstrates the Lloyd refinement
    loop that upgrades them). At 100 TB: codebooks are KB-scale
    broadcasts, encoding is one narrow pass, and the audit aggregates
    are map-side-combinable — the corpus never self-joins.

    Determinism: per-(vector, subspace, centroid) distances round to
    integer micro-units BEFORE ranking (so cell choice ties break on k
    in both engines), per-vector error is an exact integer sum, and the
    label mean rounds half-up in integer arithmetic.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sub = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v_raw"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim") / PQ_SUB_D).cast("int").alias("m"),
        (F.col("dim") % PQ_SUB_D).alias("j"),
        F.col("v_raw").cast("double").alias("v"),
    )
    cent = sub.groupBy(
        F.col("label").alias("k"), "m", "j"
    ).agg(F.round(F.avg("v"), 6).alias("c"))
    dist = (
        sub.join(F.broadcast(cent), ["m", "j"])
        .groupBy("vec_id", "label", "m", "k")
        .agg(
            F.expr(
                "CAST(round(sum((v - c) * (v - c)) * 1000000) AS BIGINT)"
            ).alias("d2_micro")
        )
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2_micro", "k")
    encoded = (
        dist.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .groupBy("vec_id", "label")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "k"))),
                    lambda s: s.k.cast("string"),
                ),
                "-",
            ).alias("code"),
            F.sum("d2_micro").cast("bigint").alias("err_micro"),
        )
    )
    return encoded.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.count_distinct("code").cast("bigint").alias("n_distinct_codes"),
        (
            F.expr(
                "CAST((20000 * CAST(sum(err_micro) AS DECIMAL(38,0))"
                "      + CAST(count(1) AS DECIMAL(38,0)) * 1000000)"
                " div (2 * CAST(count(1) AS DECIMAL(38,0)) * 1000000)"
                " AS BIGINT)"
            ).cast("double")
            / 10000
        ).alias("mean_sq_err"),
    )


COLLAPSE_DIMS = 8


@query(
    "sim_embedding_collapse_audit",
    oracle=f"""
    WITH micro AS (
        SELECT label, d.i AS dim,
               CAST(round(CAST(embedding[d.i + 1] AS DOUBLE) * 1000000, 0)
                    AS BIGINT) AS v
        FROM embeddings, (SELECT unnest(range({COLLAPSE_DIMS})) AS i) d
    ),
    m AS (
        SELECT label, dim,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(v) AS HUGEINT) AS sx,
               CAST(sum(v * v) AS HUGEINT) AS sxx
        FROM micro GROUP BY 1, 2
    )
    SELECT label, CAST(dim AS INT) AS dim,
           round(CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000), 6)
               AS mean_value,
           round(CAST(n * sxx - sx * sx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 8)
               AS variance
    FROM m
    """,
)
def sim_embedding_collapse_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-collapse audit: per-label mean and variance of each of
    the first ``COLLAPSE_DIMS`` dimensions — the diagnostic run before trusting an
    embedding table for dedup or retrieval (collapsed or near-constant
    dimensions make cosine similarity degenerate and LSH buckets
    useless; per-label variance ≈ 0 means the encoder memorized the
    label, not the content). Values quantize to integer micro-units
    (float32 → double is exact, and a float32 times 10⁶ can never land
    exactly on .5, so the half-up/half-even rounding divergence is
    unreachable); the moments are exact DECIMAL sums, and the final
    mean/variance are single IEEE divisions of exact inputs, rounded
    for the gate.

    One explode bounded by ``COLLAPSE_DIMS``×|rows| and one map-side-combinable
    aggregate; output is |labels|×``COLLAPSE_DIMS`` rows.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    micro = emb.select(
        "label",
        F.posexplode(F.slice("embedding", 1, COLLAPSE_DIMS)).alias(
            "dim", "el"
        ),
    ).select(
        "label",
        "dim",
        F.round(F.col("el").cast("double") * 1000000, 0)
        .cast("bigint")
        .alias("v"),
    )
    m = micro.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
    )
    return m.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        F.round(
            F.col("sx").cast("double")
            / (F.col("n").cast("double") * 1000000),
            6,
        ).alias("mean_value"),
        F.round(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / (
                F.col("n").cast("double")
                * F.col("n").cast("double")
                * F.lit(1e12)
            ),
            8,
        ).alias("variance"),
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, a.label AS query_label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               {_COS_SQL} AS cosine
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {{nq}}
    ),
    pos AS (
        SELECT query_id, neighbor_id AS positive_id, cosine AS positive_cos
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id)
                      AS r
              FROM scored WHERE neighbor_label = query_label)
        WHERE r = 1
    ),
    neg AS (
        SELECT query_id, neighbor_id AS hard_negative_id,
               neighbor_label AS hard_negative_label,
               cosine AS hard_negative_cos
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id)
                      AS r
              FROM scored WHERE neighbor_label <> query_label)
        WHERE r = 1
    )
    SELECT p.query_id, p.positive_id, round(p.positive_cos, 6)
               AS positive_cos,
           n.hard_negative_id, n.hard_negative_label,
           round(n.hard_negative_cos, 6) AS hard_negative_cos,
           round(p.positive_cos - n.hard_negative_cos, 6) AS margin
    FROM pos p JOIN neg n ON n.query_id = p.query_id
    """.format(nq=N_QUERIES),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive training: per query, the nearest
    SAME-label vector (the positive) and the nearest OTHER-label vector
    (the hard negative), with the triplet margin between them — the
    mining step every embedding-model fine-tune runs, and the
    diagnostic for label noise (a negative margin means some other
    label's vector sits closer than the query's own class). Same
    bounded plan as the brute-kNN baseline — broadcast query set, one
    corpus pass, two per-query windows over the scored sliver; the
    scale path swaps candidate generation for the IVF cells exactly as
    retrieval does.
    """
    emb = read_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    q = _query_set(emb, N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb.join(
        q, F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        _cosine_prenorm(
            F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    pos = (
        scored.filter(F.col("neighbor_label") == F.col("query_label"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("positive_id"),
            F.round("cosine", 6).alias("positive_cos"),
        )
    )
    neg = (
        scored.filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("hard_negative_id"),
            F.col("neighbor_label").alias("hard_negative_label"),
            F.round("cosine", 6).alias("hard_negative_cos"),
        )
    )
    return pos.join(neg, "query_id").select(
        "query_id",
        "positive_id",
        "positive_cos",
        "hard_negative_id",
        "hard_negative_label",
        "hard_negative_cos",
        F.round(
            F.col("positive_cos") - F.col("hard_negative_cos"), 6
        ).alias("margin"),
    )


@query(
    "sim_ivfpq_search",
    oracle=f"""
    WITH {_scaled_ivf_ctes()},
    psub AS (
        SELECT vec_id, label,
               (generate_subscripts(embedding, 1) - 1) // {PQ_SUB_D} AS m,
               (generate_subscripts(embedding, 1) - 1) % {PQ_SUB_D} AS j,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    pcent AS (
        SELECT label AS k, m, j, round(avg(v), 6) AS c
        FROM psub GROUP BY 1, 2, 3
    ),
    pdist AS (
        SELECT s.vec_id, s.m, pcent.k,
               CAST(round(sum((s.v - pcent.c) * (s.v - pcent.c)) * 1000000)
                    AS BIGINT) AS d2_micro
        FROM psub s JOIN pcent ON pcent.m = s.m AND pcent.j = s.j
        GROUP BY 1, 2, 3
    ),
    pcode AS (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2_micro, k) AS r
            FROM pdist
        ) t WHERE r = 1
    ),
    adc AS (
        SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id,
               CAST(sum(dq.d2_micro) AS BIGINT) AS approx_d2_micro
        FROM probes p
        JOIN home h ON h.cell = p.cell AND h.vec_id <> p.vec_id
        JOIN pcode c ON c.vec_id = h.vec_id
        JOIN pdist dq ON dq.vec_id = p.vec_id AND dq.m = c.m AND dq.k = c.k
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_d2_micro, neighbor_id)
                      AS rank
        FROM adc
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           approx_d2_micro,
           CAST(approx_d2_micro AS DOUBLE) / 1000000 AS approx_d2
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ asymmetric-distance search — the FAISS IVFADC production
    layout (Jégou et al. 2011), composed from the engine's two index
    stages: the IVF coarse quantizer restricts each query to its
    {N_PROBE_CELLS} probe cells (`sim_ivf_topk`'s inverted lists), and
    within them candidates are ranked by ASYMMETRIC PQ distance — the
    exact query subvectors scored against each candidate's 8-digit PQ
    code, i.e. Σ_m d2(q_m, codebook[code_n[m]]). The candidate's raw
    64 floats are never touched at query time: that is the memory
    model that lets a 100 TB corpus serve ANN from RAM (codes are 32×
    smaller here, 256× at production K).

    Coarse stage (round-4 rebuild, round-5 derivation): the
    ceil(sqrt(N))-cell Lloyd codebook from :func:`_scaled_codebook` —
    nlist is DERIVED per corpus snapshot from one cheap count, so
    per-cell population, and so the probes⋈home ADC candidate space per
    query, stays ≈√N as the corpus grows. The previous fixed 10-label
    quantizer measured 16.5× wall at 8× data (README probe table); the
    scaled quantizer measured 2.35× on the identical candidate shape.

    The ADC trick in relational form: the per-(vector, subspace,
    centroid) distance table computed for ENCODING doubles as every
    query's ADC lookup table, so scoring is one equi-join of the
    candidate×subspace stream against it (8 rows per candidate pair,
    bounded by probe-cell population — never corpus²) plus a
    map-side-combinable sum. PQ codes ride the `sim_pq_audit`
    codebooks (label-conditioned means; raw vectors, not residuals —
    the simplification documented there) and all distances are integer
    micro-units rounded before ranking, ties on (k, neighbor_id).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # coarse stage: scaled-nlist Lloyd codebook (same assignment shape
    # as sim_ivf_scaled_cells — broadcast codebook, sequential-fold d2,
    # rounded before the rank)
    cents = _scaled_codebook(emb, spark, sf_dir)
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
    from pyspark import StorageLevel

    assign = dist.withColumn(
        "cell_rank", F.row_number().over(w_assign)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    probes = assign.filter(F.col("cell_rank") <= N_PROBE_CELLS).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    home = assign.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    cand = probes.join(home, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # PQ stage (sim_pq_audit's codebooks + the shared distance table)
    sub = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v_raw"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim") / PQ_SUB_D).cast("int").alias("m"),
        (F.col("dim") % PQ_SUB_D).alias("j"),
        F.col("v_raw").cast("double").alias("v"),
    )
    pcent = sub.groupBy(F.col("label").alias("k"), "m", "j").agg(
        F.round(F.avg("v"), 6).alias("c")
    )
    pdist = (
        sub.join(F.broadcast(pcent), ["m", "j"])
        .groupBy("vec_id", "m", "k")
        .agg(
            F.expr(
                "CAST(round(sum((v - c) * (v - c)) * 1000000) AS BIGINT)"
            ).alias("d2_micro")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy("d2_micro", "k")
    pcode = (
        pdist.withColumn("r", F.row_number().over(w_code))
        .filter(F.col("r") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "m", "k")
    )
    adc = (
        cand.join(pcode, "neighbor_id")
        .join(
            pdist.withColumnRenamed("vec_id", "query_id"),
            ["query_id", "m", "k"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2_micro").cast("bigint").alias("approx_d2_micro"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        "approx_d2_micro", "neighbor_id"
    )
    out = (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            "approx_d2_micro",
            (F.col("approx_d2_micro").cast("double") / 1000000).alias(
                "approx_d2"
            ),
        )
    )
    return finalize_unpersist(out, assign, pdist)


@query(
    "sim_ivf_scaled_cells",
    oracle=f"""
    WITH {_scaled_ivf_ctes()},
    cand AS (
        SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id
        FROM probes p JOIN home h ON h.cell = p.cell
                                 AND h.vec_id <> p.vec_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, {_COS_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id
    ),
    topk AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id)
                      AS rank
        FROM scored
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM topk WHERE rank <= {TOP_K}
    """,
)
def sim_ivf_scaled_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a CORPUS-SCALED cell count — the remedy to the
    structural cliff the 8× scale probe exposed in the label-codebook
    variants (`sim_ivf_topk`/`sim_ivfpq_search`): with cells fixed at
    the 10 labels, per-cell population grows linearly with the corpus
    and the probes⋈home candidate space quadratically (measured 16.5×
    wall at 8× data). Here the coarse quantizer is a ceil(sqrt(N))-cell
    Lloyd-trained codebook (the `sim_kmeans_codebook` machinery:
    first-nlist seeds, two unrolled rounds, rounded centroids so both
    engines rank identically), nlist DERIVED per corpus snapshot from
    one cheap count (:func:`_derived_nlist`, mirrored by the oracle's
    ``nl`` CTE) — per-cell population, and so ADC/cosine candidate
    fan-out per query, stays ≈√N as the corpus grows.

    Same candidate-and-verify shape as `sim_ivf_topk`: KB-scale
    codebook broadcast for assignment, candidates via the cell
    equi-join, exact cosine only on candidates, per-query top-k
    window with neighbor-id ties.
    """
    from pyspark import StorageLevel

    emb = read_table(spark, sf_dir, "embeddings")
    cents = _scaled_codebook(emb, spark, sf_dir)
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
    ranked = dist.withColumn(
        "cell_rank", F.row_number().over(w_assign)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    probes = ranked.filter(F.col("cell_rank") <= N_PROBE_CELLS).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    home = ranked.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    cand = probes.join(home, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    normed = emb.withColumn("nrm", _norm(F.col("embedding")))
    a = normed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    b = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    scored = (
        cand.join(a, "query_id")
        .join(b, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    return finalize_unpersist(out, ranked)


#: Deterministic "benchmark" subset for semantic decontamination: every
#: 17th vector plays the eval set (same spirit as decon_benchmark_ngrams'
#: carved benchmark slice).
DECON_EVAL_MOD = 17
#: Contamination threshold (cosine) — calibrated like SEMDEDUP_TAU to the
#: synthetic corpus whose max off-diagonal cosine is ~0.51.
DECON_COS_TAU = 0.30


@query(
    "decon_semantic_eval_overlap",
    oracle=f"""
    WITH {_coded_capped_ctes()},
    cand AS (
        SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
        FROM coded x JOIN coded y
          ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id
    ),
    scored AS (
        SELECT c.d1, c.d2, {_COS_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.d1
        JOIN embeddings b ON b.vec_id = c.d2
    ),
    te AS (
        SELECT CASE WHEN d1 % {DECON_EVAL_MOD} = 0 THEN d2 ELSE d1 END
                   AS train_id,
               CASE WHEN d1 % {DECON_EVAL_MOD} = 0 THEN d1 ELSE d2 END
                   AS eval_id,
               cosine
        FROM scored
        WHERE (d1 % {DECON_EVAL_MOD} = 0) <> (d2 % {DECON_EVAL_MOD} = 0)
          AND cosine >= {DECON_COS_TAU}
    )
    SELECT train_id,
           CAST(count(*) AS BIGINT) AS n_eval_hits,
           max(cosine) AS max_cosine,
           CAST(min(CASE WHEN cosine = mc THEN eval_id END) AS BIGINT)
               AS nearest_eval_id
    FROM (SELECT *, max(cosine) OVER (PARTITION BY train_id) AS mc FROM te)
    GROUP BY 1
    """,
)
def decon_semantic_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space sibling of
    ``decon_benchmark_ngrams``: n-gram overlap catches verbatim
    leakage, but paraphrased eval material survives it; this flags
    every TRAINING vector whose cosine to any EVAL-set vector (every
    {DECON_EVAL_MOD}th id) reaches {DECON_COS_TAU}, with the hit count,
    the max cosine, and the nearest eval doc (min id on ties — the
    deterministic argmax).

    Plan shape: the capped band-LSH blocking (`_band_blocked_candidates`'
    bucket join — candidates share a sign-bit band, hot buckets capped
    at {MAX_BAND_BUCKET}), cosine on candidates only, then filter to
    cross-set pairs and a per-train-doc aggregate. Never eval×train
    brute force: at 100 TB the eval set is small but the TRAINING side
    is not, and the bucket join bounds each side's fan-out the same way
    the dedup family's blocking does. Asymmetric-set note: with a tiny
    curated eval set the alternative is broadcasting eval codes and
    semi-joining — same bucket keys, no shuffle of the train side; the
    self-join form here also serves eval sets too big to broadcast.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    scored = _band_blocked_candidates(emb)
    is_eval_d1 = (F.col("d1") % DECON_EVAL_MOD) == 0
    is_eval_d2 = (F.col("d2") % DECON_EVAL_MOD) == 0
    te = (
        scored.filter(is_eval_d1 != is_eval_d2)
        .filter(F.col("cosine") >= DECON_COS_TAU)
        .select(
            F.when(is_eval_d1, F.col("d2")).otherwise(F.col("d1")).alias(
                "train_id"
            ),
            F.when(is_eval_d1, F.col("d1")).otherwise(F.col("d2")).alias(
                "eval_id"
            ),
            "cosine",
        )
    )
    return te.groupBy("train_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"),
        F.max("cosine").alias("max_cosine"),
        (-F.max(F.struct(F.col("cosine"), (-F.col("eval_id")).alias("ne")))[
            "ne"
        ])
        .cast("bigint")
        .alias("nearest_eval_id"),
    )


@query(
    "sim_ivfpq_residual",
    oracle=f"""
    WITH {_scaled_ivf_ctes()},
    resq AS MATERIALIZED (
        -- residual of every vector against EACH of its probe-cell
        -- centroids (home = probe rank 1, so encoding residuals are the
        -- cell = home slice), split to PQ subspaces
        SELECT p.vec_id, p.cell, e.label,
               CAST((x.dim - 1) // {PQ_SUB_D} AS INT) AS m,
               CAST((x.dim - 1) % {PQ_SUB_D} AS INT) AS j,
               x.v - c.c AS rv
        FROM probes p
        JOIN embeddings e ON e.vec_id = p.vec_id
        JOIN expl x ON x.vec_id = p.vec_id
        JOIN c2 c ON c.cell = p.cell AND c.dim = x.dim
    ),
    hres AS (
        SELECT r.* FROM resq r JOIN home h
          ON h.vec_id = r.vec_id AND h.cell = r.cell
    ),
    pcent AS MATERIALIZED (
        SELECT label AS k, m, j, round(avg(rv), 6) AS c
        FROM hres GROUP BY 1, 2, 3
    ),
    hdist AS (
        SELECT s.vec_id, s.m, pcent.k,
               CAST(round(sum((s.rv - pcent.c) * (s.rv - pcent.c)) * 1000000)
                    AS BIGINT) AS d2_micro
        FROM hres s JOIN pcent ON pcent.m = s.m AND pcent.j = s.j
        GROUP BY 1, 2, 3
    ),
    pcode AS MATERIALIZED (
        SELECT vec_id, m, k FROM (
            SELECT vec_id, m, k,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2_micro, k) AS r
            FROM hdist
        ) t WHERE r = 1
    ),
    qdist AS MATERIALIZED (
        SELECT s.vec_id, s.cell, s.m, pcent.k,
               CAST(round(sum((s.rv - pcent.c) * (s.rv - pcent.c)) * 1000000)
                    AS BIGINT) AS d2_micro
        FROM resq s JOIN pcent ON pcent.m = s.m AND pcent.j = s.j
        GROUP BY 1, 2, 3, 4
    ),
    adc AS (
        SELECT p.vec_id AS query_id, h.vec_id AS neighbor_id,
               CAST(sum(dq.d2_micro) AS BIGINT) AS approx_d2_micro
        FROM probes p
        JOIN home h ON h.cell = p.cell AND h.vec_id <> p.vec_id
        JOIN pcode c ON c.vec_id = h.vec_id
        JOIN qdist dq ON dq.vec_id = p.vec_id AND dq.cell = p.cell
                     AND dq.m = c.m AND dq.k = c.k
        GROUP BY 1, 2
    ),
    rankedk AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_d2_micro, neighbor_id)
                      AS rank
        FROM adc
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           approx_d2_micro,
           CAST(approx_d2_micro AS DOUBLE) / 1000000 AS approx_d2
    FROM rankedk WHERE rank <= {TOP_K}
    """,
)
def sim_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the full FAISS `IndexIVFPQ`
    semantics (Jégou et al. 2011 §IV): where `sim_ivfpq_search` PQ-codes
    raw vectors (its documented simplification), here each vector is
    coded by the residual x − centroid(home cell), and a query's ADC
    lookup table is rebuilt PER PROBED CELL from the query's residual in
    that cell. Residuals are centered near zero, so a fixed codebook
    budget quantizes them far better than raw vectors — the reason every
    production IVF-PQ index encodes residuals.

    Relational form: the coarse stage is the scaled-nlist assignment
    (`_scaled_ivf_ctes`); residuals for (vector × its probe cells) are
    one zip_with against the broadcast codebook; codewords are
    label-conditioned means of HOME residuals (the `sim_pq_audit`
    convention); the per-(vector, cell, subspace, codeword) distance
    table doubles as every query's cell-local ADC table, so scoring is
    an equi-join on (query, cell, m, k) + a map-side-combinable sum.
    Distances in integer micro-units, rounded before ranking.

    Scale shape: qdist is |V| × nprobe × M × K rows — LINEAR in the
    corpus; candidate fan-out is bounded by cell population (nlist ≈ √N
    at snapshot time). Neither stage ever touches corpus² rows.
    """
    from pyspark import StorageLevel

    emb = read_table(spark, sf_dir, "embeddings")
    cents = _scaled_codebook(emb, spark, sf_dir)
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", F.round(d2, 6).alias("d2")
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
    assign = dist.withColumn(
        "cell_rank", F.row_number().over(w_assign)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    probes = assign.filter(F.col("cell_rank") <= N_PROBE_CELLS).select(
        "vec_id", "cell"
    )
    home = assign.filter(F.col("cell_rank") == 1).select("vec_id", "cell")

    # residual subspace rows for (vector x probe cells): one broadcast
    # join to the codebook, residual via zip_with, then posexplode
    rsub = (
        probes.join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            "label",
            F.posexplode(
                F.zip_with(
                    "embedding",
                    "centroid",
                    lambda x, y: x.cast("double") - y,
                )
            ).alias("dim", "rv"),
        )
        .select(
            "vec_id",
            "cell",
            "label",
            (F.col("dim") / PQ_SUB_D).cast("int").alias("m"),
            (F.col("dim") % PQ_SUB_D).cast("int").alias("j"),
            "rv",
        )
    )
    hres = rsub.join(home, ["vec_id", "cell"])
    pcent = hres.groupBy(F.col("label").alias("k"), "m", "j").agg(
        F.round(F.avg("rv"), 6).alias("c")
    )
    qdist = (
        rsub.join(F.broadcast(pcent), ["m", "j"])
        .groupBy("vec_id", "cell", "m", "k")
        .agg(
            F.expr(
                "CAST(round(sum((rv - c) * (rv - c)) * 1000000) AS BIGINT)"
            ).alias("d2_micro")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the home-cell slice of qdist IS the encoding distance table —
    # derived, not recomputed (halves the (rv-c)^2 aggregation work)
    hdist = qdist.join(home, ["vec_id", "cell"]).select(
        "vec_id", "m", "k", "d2_micro"
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy("d2_micro", "k")
    pcode = (
        hdist.withColumn("r", F.row_number().over(w_code))
        .filter(F.col("r") == 1)
        .select(F.col("vec_id").alias("neighbor_id"), "m", "k")
    )
    cand = (
        probes.select(F.col("vec_id").alias("query_id"), "cell")
        .join(
            home.select(F.col("vec_id").alias("neighbor_id"), "cell"),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    adc = (
        cand.join(pcode, "neighbor_id")
        .join(
            qdist.withColumnRenamed("vec_id", "query_id"),
            ["query_id", "cell", "m", "k"],
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2_micro").cast("bigint").alias("approx_d2_micro"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        "approx_d2_micro", "neighbor_id"
    )
    out = (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("bigint").alias("rank"),
            "neighbor_id",
            "approx_d2_micro",
            (F.col("approx_d2_micro").cast("double") / 1000000).alias(
                "approx_d2"
            ),
        )
    )
    return finalize_unpersist(out, assign, qdist)


@query(
    "sim_nndescent_round",
    oracle=f"""
    WITH {_coded_capped_ctes()},
    prs AS MATERIALIZED (
        SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
        FROM coded x JOIN coded y ON y.band = x.band AND y.code = x.code
                                 AND y.vec_id <> x.vec_id
    ),
    s0 AS MATERIALIZED (
        SELECT c.query_id, c.neighbor_id, {_COS_SQL} AS cosine
        FROM prs c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id
    ),
    b0 AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id)
                          AS r
            FROM s0
        ) t WHERE r <= {TOP_K}
    ),
    cand1 AS (
        SELECT query_id, neighbor_id FROM b0
        UNION
        SELECT x.query_id, y.neighbor_id
        FROM b0 x JOIN b0 y ON y.query_id = x.neighbor_id
        WHERE y.neighbor_id <> x.query_id
    ),
    s1 AS (
        SELECT c.query_id, c.neighbor_id, {_COS_SQL} AS cosine
        FROM cand1 c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id
    ),
    rankedn AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id)
                      AS rank
        FROM s1
    )
    SELECT query_id, rank, neighbor_id, cosine
    FROM rankedn WHERE rank <= {TOP_K}
    """,
)
def sim_nndescent_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-DESCENT refinement round (Dong et al. 2011) — the
    k-NN-GRAPH construction algorithm behind HNSW/NGT-style indexes, in
    relational form, seeded the way production graph builds are: the
    initial neighbor lists come from the CHEAP band-LSH candidate stage
    (`sim_ann_band_lsh`'s bucket-capped collisions — sparse, imperfect
    recall), then one round exploits "a neighbor of my neighbor is
    probably my neighbor": each vector's candidate set is its current
    top-{TOP_K} list UNION its neighbors' top-{TOP_K} lists, scored
    exactly, re-ranked, top-k kept — recovering true neighbors the LSH
    buckets missed. The round is pure equi-joins — the
    neighbor-of-neighbor expansion is b0 ⋈ b0 on the shared endpoint
    (|V|·k² rows, LINEAR in the corpus for fixed k) — so the full
    NN-descent loop at 100 TB is this round iterated to convergence,
    shuffling only |V|·k-sized neighbor lists. The invariant test pins
    the monotone-improvement contract (round-1 lists are never worse
    than the seed lists, and some strictly improve).

    Determinism: the sequential-fold cosine, 6-dp round before ranking,
    ties on neighbor_id — the module's proven float rules; candidate
    dedup via UNION-distinct both sides.
    """
    from pyspark import StorageLevel

    emb = read_table(spark, sf_dir, "embeddings")
    prs = _band_blocked_candidates(emb).select("d1", "d2", "cosine")
    s0 = prs.select(
        F.col("d1").alias("query_id"),
        F.col("d2").alias("neighbor_id"),
        "cosine",
    ).unionByName(
        prs.select(
            F.col("d2").alias("query_id"),
            F.col("d1").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    b0 = (
        s0.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= TOP_K)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    non = (
        b0.select(F.col("neighbor_id").alias("mid"), "query_id")
        .join(
            b0.select(
                F.col("query_id").alias("mid"),
                F.col("neighbor_id").alias("nn_id"),
            ),
            "mid",
        )
        .filter(F.col("nn_id") != F.col("query_id"))
        .select("query_id", F.col("nn_id").alias("neighbor_id"))
    )
    cand1 = b0.select("query_id", "neighbor_id").unionByName(non).distinct()
    normed = emb.withColumn("nrm", _norm(F.col("embedding")))
    a = normed.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    b = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    scored = (
        cand1.join(a, "query_id")
        .join(b, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_prenorm(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("cosine"),
        )
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
    return finalize_unpersist(out, b0)


#: Signed-random-projection (hyperplane) LSH: 16 hyperplanes in 2 bands
#: of 8 sign bits (Charikar 2002 SimHash-for-cosine). Each hyperplane
#: is a SPARSE ±1 vector over 8 md5-chosen dimensions — the spec is
#: derived ONCE here from public md5 and embedded identically in the
#: Spark expressions and the DuckDB oracle, so both engines hash with
#: bit-identical hyperplanes. Coordinates are quantized to exact
#: integer micro-units BEFORE the signed sum, so the sign of every
#: projection is an integer comparison — no float-summation-order risk
#: in the blocking key (same discipline as the band-LSH sign bits).
SRP_N_PLANES = 16
SRP_BAND_BITS = 8
SRP_TAU = 0.3


def _srp_planes() -> tuple[tuple[tuple[int, int], ...], ...]:
    import hashlib

    planes = []
    for h in range(SRP_N_PLANES):
        dg = hashlib.md5(f"srp:{h}".encode()).digest()
        planes.append(
            tuple(
                (dg[2 * j] % 64, 1 if dg[2 * j + 1] % 2 == 0 else -1)
                for j in range(8)
            )
        )
    return tuple(planes)


SRP_PLANES = _srp_planes()


def _srp_sig_sql(side: str) -> str:
    """16-bit SRP signature as a SQL expression (1-based list indexing —
    valid in both DuckDB and Spark SQL's element_at-style [] on arrays
    is NOT shared, so the Spark side builds the same sum via F.get)."""
    bits = []
    for h, plane in enumerate(SRP_PLANES):
        # CAST .. AS DOUBLE before scaling (the package's _MICRO_EL idiom):
        # without it DuckDB evaluates embedding[i]*1000000 + 0.5 in FLOAT
        # while Spark promotes the +0.5 step to DOUBLE, and once
        # |element| >= ~8.39 (micro >= 2^23, float ulp > 0.5) the float
        # tie rounds to even and the engines floor 1 apart.
        terms = " + ".join(
            f"({sign}) * CAST(floor(CAST({side}.embedding[{dim + 1}] AS DOUBLE)"
            " * 1000000 + 0.5) AS BIGINT)"
            for dim, sign in plane
        )
        bits.append(f"(CASE WHEN {terms} > 0 THEN {1 << h} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _srp_sig_col(emb):
    sig = F.lit(0).cast("bigint")
    for h, plane in enumerate(SRP_PLANES):
        proj = F.lit(0).cast("bigint")
        for dim, sign in plane:
            q = F.floor(
                F.get(emb, dim).cast("double") * 1000000 + F.lit(0.5)
            ).cast("bigint")
            proj = proj + (F.lit(sign) * q)
        sig = sig + F.when(proj > 0, F.lit(1 << h)).otherwise(F.lit(0))
    return sig


@query(
    "sim_srp_lsh_pairs",
    oracle=f"""
    WITH sig AS (
        SELECT e.vec_id, e.embedding, {_srp_sig_sql('e')} AS sig
        FROM embeddings e
    ),
    bands AS (SELECT unnest(range(0, {SRP_N_PLANES // SRP_BAND_BITS})) AS band),
    coded_all AS (
        SELECT band, vec_id, sig,
               (sig // (CASE band WHEN 0 THEN 1 ELSE 256 END)) % 256 AS code
        FROM sig CROSS JOIN bands
    ),
    coded AS (
        SELECT band, vec_id, sig, code FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY band, code
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS brn
            FROM coded_all) t
        WHERE brn <= {MAX_BAND_BUCKET}
    ),
    cand AS (
        SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2,
               x.sig AS sig1, y.sig AS sig2
        FROM coded x JOIN coded y
          ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id
    )
    SELECT c.d1, c.d2,
           CAST({SRP_N_PLANES} - bit_count(CAST(xor(c.sig1, c.sig2) AS BIGINT))
                AS BIGINT) AS agree_bits,
           {_COS_SQL} AS cosine
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.d1
    JOIN embeddings b ON b.vec_id = c.d2
    WHERE {_COS_SQL} >= {SRP_TAU}
    """,
)
def sim_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via SIGNED RANDOM PROJECTIONS — the
    other classical cosine-LSH family: where `sim_ann_band_lsh` samples
    coordinate sign bits, SRP hashes each vector against
    {SRP_N_PLANES} md5-derived sparse ±1 hyperplanes (Charikar's
    SimHash for cosine similarity; collision probability 1 − θ/π per
    bit), banded 2×8 so two vectors are candidates iff a full 8-bit
    band agrees. Emits each surviving pair's full-signature agreement
    count (the cheap angle estimate) next to the exact cosine ≥
    {SRP_TAU} confirmation.

    Plan shape is the proven band-LSH one: ONE narrow map computes the
    16-bit signature (integer arithmetic over micro-quantized
    coordinates — the sign is never a float comparison), an explode to
    (band, code), the md5-ranked {MAX_BAND_BUCKET}-member bucket cap,
    and a single self-equi-join on the bucket key — fan-out bounded by
    cap², never corpus². At 100 TB the knobs are the documented ones:
    band-bit LENGTH ∝ log N keeps expected bucket population constant;
    the cap is the skew backstop.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("nrm"),
        _srp_sig_col(F.col("embedding")).alias("sig"),
    )
    n_bands = SRP_N_PLANES // SRP_BAND_BITS
    coded = sig.select(
        "vec_id",
        "embedding",
        "nrm",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        (
                            F.shiftright(F.col("sig"), band * SRP_BAND_BITS)
                            % 256
                        ).alias("code"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("bc"),
    ).select("vec_id", "embedding", "nrm", "sig", "bc.band", "bc.code")
    w_bucket = Window.partitionBy("band", "code").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    coded = (
        coded.withColumn("brn", F.row_number().over(w_bucket))
        .filter(F.col("brn") <= MAX_BAND_BUCKET)
        .drop("brn")
    )
    a = coded.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("e1"),
        F.col("nrm").alias("n1"),
        F.col("sig").alias("sig1"),
        "band",
        "code",
    )
    b = coded.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("e2"),
        F.col("nrm").alias("n2"),
        F.col("sig").alias("sig2"),
        "band",
        "code",
    )
    return (
        a.join(b, ["band", "code"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            (
                F.lit(SRP_N_PLANES)
                - F.bit_count(
                    F.col("sig1").bitwiseXOR(F.col("sig2")).cast("bigint")
                )
            )
            .cast("bigint")
            .alias("agree_bits"),
            _cosine_prenorm(
                F.col("e1"), F.col("e2"), F.col("n1"), F.col("n2")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SRP_TAU)
        .dropDuplicates(["d1", "d2"])
    )


#: NDCG@k discount table in exact micro-units: d_i = round(1e6/log2(i+1))
#: for rank i = 1..TOP_K, plus its prefix sums (ideal DCG for r relevant
#: results). Computed ONCE here in Python and baked as integer literals
#: into BOTH engines' expressions — like the Poisson bootstrap
#: thresholds, no engine evaluates a logarithm at query time.
_NDCG_DISCOUNT_MICRO: tuple[int, ...] = tuple(
    int(1_000_000 / __import__("math").log2(i + 1) + 0.5)
    for i in range(1, TOP_K + 1)
)
_NDCG_IDEAL_MICRO: tuple[int, ...] = tuple(
    sum(_NDCG_DISCOUNT_MICRO[:k]) for k in range(TOP_K + 1)
)


def _ndcg_dcg_case() -> str:
    arms = " ".join(
        f"WHEN {i + 1} THEN {d}" for i, d in enumerate(_NDCG_DISCOUNT_MICRO)
    )
    return f"CASE rank {arms} ELSE 0 END"


def _ndcg_ideal_case(r_expr: str) -> str:
    arms = " ".join(
        f"WHEN {k} THEN {v}" for k, v in enumerate(_NDCG_IDEAL_MICRO)
    )
    return f"CASE least({r_expr}, {TOP_K}) {arms} END"


@query(
    "sim_ndcg_eval",
    oracle=f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, a.label AS label, b.vec_id AS neighbor_id,
               CASE WHEN b.label = a.label THEN 1 ELSE 0 END AS rel,
               {_COS_SQL} AS cosine
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ),
    agg AS (
        SELECT query_id, label,
               CAST(sum(rel) AS BIGINT) AS n_relevant,
               CAST(sum(CASE WHEN rank <= {TOP_K} AND rel = 1
                             THEN {_ndcg_dcg_case()} ELSE 0 END)
                    AS BIGINT) AS dcg_micro
        FROM ranked GROUP BY 1, 2
    )
    SELECT query_id, label, n_relevant, dcg_micro,
           CAST({_ndcg_ideal_case("n_relevant")} AS BIGINT) AS idcg_micro,
           CAST(CASE WHEN n_relevant = 0 THEN 0
                ELSE (2 * 1000000 * dcg_micro
                      + {_ndcg_ideal_case("n_relevant")})
                     // (2 * {_ndcg_ideal_case("n_relevant")}) END
                AS BIGINT) AS ndcg_micro
    FROM agg
    """,
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{TOP_K} retrieval-quality evaluation of cosine search,
    using label agreement as graded (binary) relevance — the eval-suite
    companion to `sim_ivf_recall_audit`: recall asks 'did the ANN index
    find the true neighbors', NDCG asks 'is the EXACT ranking itself
    any good as a retrieval system' (Järvelin & Kekäläinen 2002). Per
    query vector: DCG@{TOP_K} with 1/log2(rank+1) discounts, the ideal
    DCG for its total relevant count, and their ratio.

    Determinism: the discount table and its prefix sums are module-level
    integer micro-unit literals shared by both engines (no runtime
    logarithm); relevance and ranks are integers; the final ratio uses
    the half-up integer identity. Ranking ties break on neighbor_id.

    Scale shape: the {N_QUERIES}-row :func:`_query_set` broadcasts against
    the corpus (the bounded sim_knn_brute pattern — at production scale
    the query side is an eval set, inherently small); one rank window per
    query and one aggregate to query grain. Corpus-side cost is a
    single scan.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = _query_set(emb, N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    scored = (
        q.join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("rel"),
            _cosine(F.col("qe"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    agg = ranked.groupBy("query_id", "label").agg(
        F.sum("rel").cast("bigint").alias("n_relevant"),
        F.sum(
            F.when(
                (F.col("rank") <= TOP_K) & (F.col("rel") == 1),
                F.expr(_ndcg_dcg_case()),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_micro"),
    )
    ideal = F.expr(_ndcg_ideal_case("n_relevant"))
    return agg.select(
        "query_id",
        "label",
        "n_relevant",
        "dcg_micro",
        ideal.cast("bigint").alias("idcg_micro"),
        F.when(F.col("n_relevant") == 0, F.lit(0))
        .otherwise(
            F.expr(
                f"(2 * 1000000 * dcg_micro + {_ndcg_ideal_case('n_relevant')})"
                f" div (2 * {_ndcg_ideal_case('n_relevant')})"
            )
        )
        .cast("bigint")
        .alias("ndcg_micro"),
    )


#: MMR diversified re-ranking: relevance pool size, picks, and the
#: relevance-vs-diversity trade (λ = 0.7 — the Carbonell & Goldstein
#: default region). The query is vec_id 0.
MMR_POOL_SIZE = 16
MMR_K = 5
MMR_QUERY_ID = 0


def _mmr_oracle() -> str:
    """Generated MATERIALIZED CTE chain: pool → pick₁ → … → pick_k,
    each pick the argmax of round(0.7·rel − 0.3·max-redundancy, 6)
    over the not-yet-selected pool (ties to the smaller vec_id)."""
    cos_ps = """round(
      list_sum(list_transform(range(1, 65),
               i -> CAST(p.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))
      / sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
      / sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))))
    , 6)"""
    parts = [
        f"""pool AS MATERIALIZED (
        SELECT b.vec_id, b.embedding, b.label, {_COS_SQL} AS rel
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id = {MMR_QUERY_ID}
        ORDER BY rel DESC, b.vec_id LIMIT {MMR_POOL_SIZE}
    ),
    sel1 AS MATERIALIZED (
        SELECT vec_id, embedding, label, rel, 0.0 AS redundancy,
               round(0.7 * rel, 6) AS mmr_score, 1 AS selection_rank
        FROM pool ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    ]
    for k in range(2, MMR_K + 1):
        prev = f"sel{k - 1}"
        parts.append(f"""pick{k} AS MATERIALIZED (
        SELECT p.vec_id, p.embedding, p.label, p.rel,
               max({cos_ps}) AS redundancy,
               round(0.7 * p.rel - 0.3 * max({cos_ps}), 6) AS mmr_score,
               {k} AS selection_rank
        FROM pool p JOIN {prev} s ON true
        WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY p.vec_id, p.embedding, p.label, p.rel
        ORDER BY mmr_score DESC, p.vec_id LIMIT 1
    ),
    sel{k} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pick{k}
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT selection_rank, vec_id, label, rel AS relevance, redundancy,
           mmr_score
    FROM sel{MMR_K}
    """


@query("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversified top-k a retrieval/RAG pipeline uses so the
    k results aren't k near-duplicates: greedily pick argmax of
    ``0.7·relevance − 0.3·max-similarity-to-already-picked`` from a
    relevance pool.

    Scale shape: the expensive stage is the POOL build — broadcast
    query, one corpus pass, global top-{MMR_POOL_SIZE} (TakeOrdered,
    no full sort) — after which the greedy loop runs {MMR_K} rounds of
    joins over a ≤{MMR_POOL_SIZE}-row checkpointed frame: pool-bounded
    work, independent of corpus size, entirely in DataFrame ops (no
    driver-side loop over collected vectors). Cosines are the module's
    6-dp sequential folds; the MMR score is one double expression with
    identical operation order in both engines, ties to the smaller
    vec_id.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == MMR_QUERY_ID)
        .limit(1)
        .select(F.col("embedding").alias("q_emb"))
    )
    pool = (
        emb.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            "embedding",
            "label",
            _cosine(F.col("embedding"), F.col("q_emb")).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(MMR_POOL_SIZE)
        .localCheckpoint()
    )
    selected = (
        pool.orderBy(F.desc("rel"), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "embedding",
            "label",
            "rel",
            F.lit(0.0).alias("redundancy"),
            F.round(0.7 * F.col("rel"), 6).alias("mmr_score"),
            F.lit(1).alias("selection_rank"),
        )
        .localCheckpoint()
    )
    for k in range(2, MMR_K + 1):
        remaining = pool.join(
            selected.select("vec_id"), "vec_id", "left_anti"
        )
        s = selected.select(F.col("embedding").alias("s_emb"))
        pick = (
            remaining.crossJoin(s)
            .groupBy("vec_id", "embedding", "label", "rel")
            .agg(
                F.max(
                    _cosine(F.col("embedding"), F.col("s_emb"))
                ).alias("redundancy")
            )
            .select(
                "vec_id",
                "embedding",
                "label",
                "rel",
                "redundancy",
                F.round(
                    0.7 * F.col("rel") - 0.3 * F.col("redundancy"), 6
                ).alias("mmr_score"),
                F.lit(k).alias("selection_rank"),
            )
            .orderBy(F.desc("mmr_score"), "vec_id")
            .limit(1)
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "selection_rank",
        "vec_id",
        "label",
        F.col("rel").alias("relevance"),
        "redundancy",
        "mmr_score",
    )
