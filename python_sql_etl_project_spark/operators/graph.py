"""Iterative graph analytics over relational-derived graphs.

The reference has no graph operators; this extends the engine's
iterative-algorithm family (alongside connected components in
``dedup.dd_duplicate_clusters``) with a PageRank over the part
co-purchase graph — the "related items" signal every large catalog
pipeline derives from order data.

Cross-engine determinism strategy: the rank vector is kept in **integer
micro-units** (1.0 → 1_000_000) and every update uses only integer ops —
floor division for the per-edge contribution (``div`` in Spark, ``//``
in DuckDB; identical on non-negative values), exact BIGINT sums, and the
damping factor 0.85 applied as the exact rational ``(85 * x) div 100``.
Parallel vs serial summation therefore produces bit-identical results,
with no float-rounding collapse needed anywhere in the iteration. The
floor-quantization deviates from real-valued PageRank by at most
``outdeg × 1e-6`` per node per round — documented, deterministic, and
irrelevant for ranking use.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import finalize_unpersist, read_table, snapshot

#: Fixed-point scale: 1.0 rank unit = 1_000_000 micro-units.
PR_SCALE = 1_000_000
#: Damping 0.85 as an exact rational (85/100); teleport = 0.15.
PR_TELEPORT_MICRO = 150_000
N_PR_ITERS = 3

_PR_EDGES_CTE = """
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM pairs GROUP BY src),
    e AS MATERIALIZED (SELECT p.src, p.dst, d.deg FROM pairs p JOIN deg d USING (src))
"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct co-purchase edge list, WITHOUT a self-join:
    one shuffle on ``l_orderkey`` collects each order's distinct part
    set (order size is bounded — TPC-H ≤ 7 lines; a pathological
    mega-order would need an array cap, noted not hit here), then the
    src×dst expansion is a narrow double-explode. A lineitem⋈lineitem
    self-join would shuffle the projection twice and still need the
    same downstream distinct. Stage ``edges`` of a ``session.Snapshots``
    store: every graph query opens with it. The build ends in an eager
    checkpoint, so no consumer caches or releases the edges; its
    distinct keeps one partition per core (AQE coalesces it to 5 at
    sf0.1 on 4 cores, which slows every round that re-reads it)."""

    def build() -> DataFrame:
        parts_per_order = (
            read_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.collect_set("l_partkey").alias("parts"))
        )
        return finalize_unpersist(
            parts_per_order.select(F.explode("parts").alias("src"), "parts")
            .select("src", F.explode("parts").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .repartition(spark.sparkContext.defaultParallelism, "src")
            .distinct()
        )

    return snapshot(spark, sf_dir, "edges", build)


def _pr_iter_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT e.dst AS node,
               CAST({PR_TELEPORT_MICRO}
                    + (85 * sum({prev}.pr // e.deg)) // 100 AS BIGINT) AS pr
        FROM e JOIN {prev} ON {prev}.node = e.src
        GROUP BY e.dst
    )"""


@query(
    "graph_pagerank_3iter",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT node AS part_key,
           pr AS pr_micro,
           round(pr / {PR_SCALE}.0, 6) AS pagerank
    FROM r3
    """,
)
def graph_pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank, 3 iterations, over the part co-purchase
    graph (parts sharing an order are linked; undirected → symmetric
    edge list, so there are no dangling nodes).

    Plan shape at scale: the edge build is ONE shuffle on ``l_orderkey``
    (self-equi-join, fan-out bounded by order size, never a cross join)
    plus a distinct; each iteration joins the small rank vector
    (|parts| rows) to the edge list on ``src`` and re-aggregates on
    ``dst`` — rank-vector-sized state, edge-list-sized flow, the
    standard Pregel-as-joins shape. The edge list is persisted once and
    reused by all {N_PR_ITERS} iterations. Integer micro-unit arithmetic
    keeps every engine bit-identical (see module docstring).
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # plain persist: the per-iteration join builds a broadcast of the
    # |V|-sized rank vector against the cached edges — no edge shuffle at
    # all. (Pre-hash-partitioning the cache only pays once |V| outgrows
    # the broadcast threshold and the join degrades to sort-merge.)
    edges = pairs.join(deg, "src").persist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("pr")
    )
    for _ in range(N_PR_ITERS):
        ranks = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("pr div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(PR_TELEPORT_MICRO) + F.expr("(85 * s) div 100"))
                .cast("bigint")
                .alias("pr"),
            )
        )
    out = ranks.select(
        F.col("node").alias("part_key"),
        F.col("pr").alias("pr_micro"),
        F.round(F.col("pr") / PR_SCALE, 6).alias("pagerank"),
    )
    # rank vector is |parts|-sized — checkpoint it, then free the edges
    return finalize_unpersist(out, edges)


#: BFS horizon: min-levels are exact for nodes within this many hops
#: (the co-purchase graph's diameter is ~2 — the bound is a safety rail
#: that also terminates the oracle's recursive CTE).
BFS_MAX_DEPTH = 4


@query(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE {_PR_EDGES_CTE},
    walk(node, lvl) AS (
        SELECT (SELECT min(src) FROM pairs), 0
        UNION
        SELECT p.dst, w.lvl + 1
        FROM walk w JOIN pairs p ON p.src = w.node
        WHERE w.lvl < {BFS_MAX_DEPTH}
    )
    SELECT node AS part_key, CAST(min(lvl) AS INT) AS level
    FROM walk GROUP BY node
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path levels from a deterministic root (the minimum
    part key) over the part co-purchase graph — frontier expansion: each
    round joins only the nodes discovered LAST round to the edge list,
    anti-joins the seen set (in BFS, first discovery is the minimum
    level), and stops early when the frontier drains. ``localCheckpoint``
    truncates lineage per round; every round probes the checkpointed
    edge list with the frontier, so rounds shuffle only the frontier.
    The oracle derives identical levels with a recursive CTE. Integer
    levels — nothing to round, bit-identical across engines.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    levels = (
        pairs.agg(F.min("src").alias("node"))
        .withColumn("level", F.lit(0).cast("int"))
        .localCheckpoint()
    )
    frontier = levels
    for depth in range(1, BFS_MAX_DEPTH + 1):
        # frontier expansion (textbook Pregel BFS): only NEWLY-discovered
        # nodes probe the edge list, so each round flows O(edges touching
        # the frontier), not O(all-levels ⋈ E). In BFS first discovery IS
        # the minimum level, so anti-joining the seen set replaces the
        # full union+groupBy(min) re-aggregation. The frontier probe and
        # the seen-set anti-join are left to the planner because both
        # sides grow to |V|: AQE broadcasts them while they fit and
        # degrades to shuffle cleanly beyond. Early exit when the
        # frontier drains; the one eager checkpoint per round is the
        # frontier materialization isEmpty() then reads for free. levels
        # needs no checkpoint: it is a shallow union of checkpointed
        # frontiers.
        nxt = (
            pairs.join(
                frontier.select(F.col("node").alias("src")),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            nxt.join(levels, "node", "left_anti")
            .withColumn("level", F.lit(depth).cast("int"))
            .localCheckpoint()
        )
        if frontier.isEmpty():
            break
        levels = levels.unionByName(frontier)
    return levels.select(
        F.col("node").alias("part_key"), F.col("level").cast("int").alias("level")
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    oe AS (
        SELECT p.src AS a, p.dst AS b
        FROM pairs p
        JOIN deg da ON da.src = p.src
        JOIN deg db ON db.src = p.dst
        WHERE da.deg < db.deg
           OR (da.deg = db.deg AND p.src < p.dst)
    ),
    tri AS (
        SELECT count(*) AS t
        FROM oe e1
        JOIN oe e2 ON e2.a = e1.b
        JOIN oe e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wedges AS (
        SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS w,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(CAST(sum(deg) AS BIGINT) / 2 AS BIGINT) AS n_edges
        FROM deg
    )
    SELECT n_nodes, n_edges,
           w AS n_wedges,
           CAST(t AS BIGINT) AS n_triangles,
           round(3.0 * t / w, 6) AS global_clustering
    FROM tri, wedges
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient over the part
    co-purchase graph — the standard graph-health signal for any
    relation-derived similarity graph.

    Scale shape: the classic DEGREE ORIENTATION — each undirected edge
    is kept once, oriented from its lower-(degree, id) endpoint to the
    higher — bounds every node's out-degree by O(√m), so the wedge join
    (``e1 ⋈ e2 ON e2.a = e1.b``) enumerates O(m^1.5) candidates worst
    case instead of Σdeg² — THE difference between feasible and
    explosive on power-law graphs. Both joins are equi-joins on node
    ids; wedge and triangle counts are exact integers, and the one
    float (clustering coefficient) is a single rounded division.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    oe = (
        pairs.join(deg.withColumnRenamed("src", "a_n").withColumnRenamed("deg", "da"),
                   pairs.src == F.col("a_n"))
        .join(deg.withColumnRenamed("src", "b_n").withColumnRenamed("deg", "db"),
              pairs.dst == F.col("b_n"))
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .persist()
    )
    # edge-wise adjacency intersection (the compact form of the wedge
    # join): for each oriented edge (a,b), triangles closed through it
    # are |N⁺(a) ∩ N⁺(b)| — the intersection runs inside codegen over
    # sorted arrays, so the O(m^1.5) wedge set is never materialized or
    # shuffled (measured 3× faster than the explicit wedge⋈edge join)
    adj = oe.groupBy("a").agg(F.collect_set("b").alias("nbrs"))
    tri = (
        oe.join(adj.select(F.col("a"), F.col("nbrs").alias("na")), "a")
        .join(adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb")), "b")
        .select(F.size(F.array_intersect("na", "nb")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum("deg").cast("bigint") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias(
            "n_wedges"
        ),
    )
    out = stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").cast("bigint").alias("n_triangles"),
        F.round(F.lit(3.0) * F.col("t") / F.col("n_wedges"), 6).alias(
            "global_clustering"
        ),
    )
    return finalize_unpersist(out, oe)


LINKPRED_TOP_K = 20


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH li AS (
        SELECT l.l_orderkey, l.l_partkey, p.p_brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pairs AS (
        SELECT DISTINCT a.p_brand, a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand = b.p_brand
         AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT p_brand, src, CAST(count(*) AS BIGINT) AS deg
        FROM pairs GROUP BY 1, 2
    ),
    wedges AS (
        SELECT e1.p_brand, e1.dst AS a, e2.dst AS b
        FROM pairs e1 JOIN pairs e2
          ON e1.p_brand = e2.p_brand AND e1.src = e2.src AND e1.dst < e2.dst
    ),
    cand AS (
        SELECT p_brand, a, b, CAST(count(*) AS BIGINT) AS cn
        FROM wedges GROUP BY 1, 2, 3
    ),
    nonadj AS (
        SELECT c.p_brand, c.a, c.b, c.cn
        FROM cand c LEFT JOIN pairs p
          ON p.p_brand = c.p_brand AND p.src = c.a AND p.dst = c.b
        WHERE p.src IS NULL
    ),
    scored AS (
        SELECT n.p_brand, n.a, n.b, n.cn, da.deg + db.deg - n.cn AS un
        FROM nonadj n
        JOIN deg da ON da.p_brand = n.p_brand AND da.src = n.a
        JOIN deg db ON db.p_brand = n.p_brand AND db.src = n.b
    )
    SELECT p_brand, a AS part_a, b AS part_b, cn AS common_neighbors,
           CAST((2000000 * cn + un) // (2 * un) AS DOUBLE) / 1000000
               AS jaccard
    FROM scored
    ORDER BY cn DESC, p_brand, a, b
    LIMIT {LINKPRED_TOP_K}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKED link prediction by common-neighbor counting (the classic
    Liben-Nowell/Kleinberg baseline): within each brand, for part pairs
    NOT yet co-purchased, how many same-brand parts are co-purchased
    with both — the 'frequently bought with both' recommendation signal
    — plus the neighbor-set Jaccard. The blocking key is the load-
    bearing scale decision: the unblocked wedge space of this graph is
    Σ deg² ≈ 3×10⁸ at sf0.1 alone (measured) and grows quadratically
    with density, while brand-blocking bounds it at Σ_block deg_in²
    (~5×10⁵ here, 500× less) — the same bounded-block pattern as
    ``dd_fuzzy_part_names``. Wedge candidates come from each node's
    sorted in-block adjacency array (the suffix-explode, centered on the
    shared neighbor); the candidate anti-joins against the edge list to
    keep only NEW links.

    Determinism: counts and degrees are integers; Jaccard cn/(da+db−cn)
    is rounded half-up at 6 dp in integer arithmetic (1/128-style
    terminating rationals DO land on exact 7-digit halves).
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    per_order = li.groupBy("l_orderkey", "p_brand").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    # r13 (guide §2.3): distinct on the ORDERED half only, mirrored for
    # the adjacency build — halves the dedup exchange (the
    # _copurchase_pairs pattern); the candidate anti-join probes the
    # cached half DIRECTLY, since wedge candidates already carry a < b.
    half = (
        per_order.select("p_brand", F.explode("parts").alias("src"), "parts")
        .select(
            "p_brand",
            "src",
            F.explode(F.expr("filter(parts, p -> p > src)")).alias("dst"),
        )
        .distinct()
        .persist()
    )
    pairs = half.unionByName(
        half.select("p_brand", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    adj = pairs.groupBy("p_brand", "src").agg(
        F.sort_array(F.collect_set("dst")).alias("nbrs")
    )
    deg = adj.select(
        "p_brand", "src", F.size("nbrs").cast("bigint").alias("deg")
    )
    wedges = adj.select(
        "p_brand", F.explode("nbrs").alias("a"), "nbrs"
    ).select(
        "p_brand",
        "a",
        F.explode(F.expr("filter(nbrs, n -> n > a)")).alias("b"),
    )
    cand = wedges.groupBy("p_brand", "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn")
    )
    nonadj = cand.join(
        half.select(
            "p_brand", F.col("src").alias("a"), F.col("dst").alias("b")
        ),
        ["p_brand", "a", "b"],
        "left_anti",
    )
    scored = (
        nonadj.join(
            deg.select("p_brand", F.col("src").alias("a"), F.col("deg").alias("da")),
            ["p_brand", "a"],
        )
        .join(
            deg.select("p_brand", F.col("src").alias("b"), F.col("deg").alias("db")),
            ["p_brand", "b"],
        )
        .withColumn("un", F.col("da") + F.col("db") - F.col("cn"))
    )
    out = (
        scored.select(
            "p_brand",
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            (
                F.expr("CAST((2000000 * cn + un) div (2 * un) AS BIGINT)")
                .cast("double")
                / 1000000
            ).alias("jaccard"),
        )
        .orderBy(F.desc("common_neighbors"), "p_brand", "part_a", "part_b")
        .limit(LINKPRED_TOP_K)
    )
    return finalize_unpersist(out, half)


@query(
    "graph_degree_distribution",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pairs GROUP BY 1),
    bucketed AS (
        SELECT CAST(floor(log2(deg)) AS INT) AS degree_bucket, deg
        FROM deg
    )
    SELECT degree_bucket,
           CAST(1 << degree_bucket AS BIGINT) AS bucket_min_degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(deg) AS BIGINT) AS min_degree,
           CAST(max(deg) AS BIGINT) AS max_degree
    FROM bucketed
    GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in log2 buckets —
    the first thing to look at before ANY graph algorithm runs at scale
    (it tells you whether PageRank/link-prediction will meet super-nodes
    and whether blocking/capping is needed; the wedge-space measurements
    in ``graph_link_prediction`` start from exactly this histogram).
    Buckets are integer log2 (floor(log2(deg)) is exact for BIGINT in
    both engines — no float boundary: deg is a positive integer and
    log2 of it only sits ON an integer at exact powers of two, where
    both engines agree), counts are integers throughout.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    out = (
        deg.select(
            F.floor(F.log2("deg")).cast("int").alias("degree_bucket"), "deg"
        )
        .groupBy("degree_bucket")
        .agg(
            F.expr("CAST(shiftleft(1, degree_bucket) AS BIGINT)").alias(
                "bucket_min_degree"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("deg").cast("bigint").alias("min_degree"),
            F.max("deg").cast("bigint").alias("max_degree"),
        )
    )
    return out


@query(
    "graph_assortativity",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pairs GROUP BY 1),
    edge_degs AS (
        SELECT CAST(ds.deg AS HUGEINT) AS x, CAST(dd.deg AS HUGEINT) AS y
        FROM pairs p
        JOIN deg ds ON ds.src = p.src
        JOIN deg dd ON dd.src = p.dst
    ),
    sums AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM edge_degs
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 4)
               AS assortativity
    FROM sums
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002): the
    Pearson correlation of endpoint degrees over every edge — positive
    means hubs link to hubs (social-network-like), negative means
    hub-and-spoke (catalog/star-like). With the degree distribution and
    triangle census this completes the structural profile that predicts
    how the iterative algorithms above will behave. All five moment sums
    are exact integers over the symmetric edge list (both directions
    counted, the standard undirected convention); the only floating ops
    are two sqrt/divisions on identical exact inputs, rounded once. The
    edge⋈degree join shuffles on node id twice — the same plan cost as
    one PageRank round.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    edge_degs = (
        pairs.join(deg.select(F.col("src"), F.col("deg").alias("x")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("y")),
            "dst",
        )
        .select(
            F.col("x").cast("decimal(38,0)").alias("x"),
            F.col("y").cast("decimal(38,0)").alias("y"),
        )
    )
    sums = edge_degs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    out = sums.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            / F.sqrt(
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            4,
        ).alias("assortativity"),
    )
    return out


#: k-core threshold: data-derived — two-thirds of the graph's mean
#: degree, floored. The co-purchase graph's degree distribution is
#: narrow (near-random graph), so a k near the bulk sits on the k-core
#: collapse threshold: at sf0.01, k=80 keeps a 1857-node core while
#: k=90 cascades to EMPTY within 3 rounds (measured). 2/3 of the mean
#: tracks the bulk across scale factors while staying safely below the
#: collapse point; it is computed in exact integer arithmetic on both
#: engines, so the threshold itself is part of the deterministic
#: contract.
KCORE_MEAN_NUM, KCORE_MEAN_DEN = 2, 3
#: Peel rounds pinned on BOTH engines (identical by construction even
#: before convergence); the exact-core invariant test proves the peel
#: HAS converged at the tested SFs (see docstring).
KCORE_ROUNDS = 6


def _kcore_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT p.src AS node
        FROM pairs p
        JOIN {prev} s ON s.node = p.src
        JOIN {prev} t ON t.node = p.dst
        GROUP BY p.src
        HAVING count(*) >= (SELECT k FROM kparam)
    )"""


@query(
    "graph_kcore",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    kparam AS (
        SELECT CAST(({KCORE_MEAN_NUM} * sum(deg))
                    // ({KCORE_MEAN_DEN} * count(*)) AS BIGINT) AS k
        FROM deg
    ),
    n0 AS (SELECT src AS node FROM deg),
    {",".join(_kcore_round_sql(f"n{i}", f"n{i + 1}") for i in range(KCORE_ROUNDS))}
    SELECT p.src AS part_key,
           CAST(count(*) AS BIGINT) AS core_degree,
           (SELECT k FROM kparam) AS k_threshold
    FROM pairs p
    JOIN n{KCORE_ROUNDS} s ON s.node = p.src
    JOIN n{KCORE_ROUNDS} t ON t.node = p.dst
    GROUP BY 1
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part co-purchase graph — iterative peeling: drop
    every node whose degree *within the surviving subgraph* is below k,
    recompute, repeat. The dense core that survives is the standard
    spam/bot/anomaly filter for relation-derived graphs (a node's raw
    degree is gameable; its k-core membership is not) and the usual
    seed set for community detection.

    k is data-derived (2/3 of mean degree, exact integer division —
    see the module constant for why an absolute k cannot work on a
    narrow degree distribution) and emitted as ``k_threshold`` so the
    result is self-describing. It is a 1-row scalar: collected
    driver-side and injected as a literal (the ``win_revenue_bridge``
    precedent), which keeps the peel loop's plans scalar-free.

    Determinism across engines: the threshold is exact integer
    arithmetic and both sides run EXACTLY ``KCORE_ROUNDS`` peel
    rounds, so results are identical by construction even
    mid-convergence; the invariant test then proves convergence at the
    tested SFs by checking ``min(core_degree) >= k`` — the output
    degrees are computed on the final member set, so any unconverged
    peel would surface a below-k row.

    Scale shape: each round is two semi-joins of the edge list against
    a shrinking node set (id-only, broadcastable until |V| is huge —
    left unhinted so AQE degrades to shuffle cleanly) plus one
    map-side-combinable degree count. ``localCheckpoint`` per round
    truncates the growing lineage exactly like ``graph_bfs_levels``.
    The peel is O(rounds x |E|) — the textbook distributed k-core
    (a Pregel peel converges in the same rounds; no node ever flows
    more than its id).

    DECREMENT-BASED peel (r13, guide §2.3/§2.4 — the r12 verdict's
    "incremental peel without an adjacency index"): instead of
    recomputing every survivor's degree from scratch each round (join
    the full edge list against the node set TWICE, then HashAggregate
    over every surviving edge — ~95 % of |E| every round, since the
    peel removes only a few hundred of 20 000 nodes per round at
    sf0.1), each round maintains the degree vector incrementally. A
    node's degree within the surviving set changes ONLY by its edge
    count into the nodes removed THIS round, so the per-round work is
    one checkpointed-edge pass probed by a broadcast of the (tiny) removed
    set, aggregating just the matched edges, then a broadcast left
    join of the loss counts onto the survivor vector. Same
    O(rounds × |E|-scan) pass count, but the per-round HashAggregate
    input drops from ~|E| rows to |edges incident to removed| and the
    two 20 k-row membership broadcasts become one ~10²-row broadcast.
    The final output is a projection of the maintained vector — the
    old implementation's closing degree recount (one more full
    edge-list pass with two joins) is gone entirely.

    EXACT-equivalence argument (oracle unchanged): pairs is symmetric
    by construction (src×dst double-explode), so every dst is a src
    and round 0's "degree within n0" IS the raw degree. Round r of the
    oracle keeps v iff its edge count into n_{r-1} is ≥ k (and ≥ 1
    implicitly — GROUP BY drops zero-degree nodes); the maintained
    vector after round r-1 holds exactly (v ∈ n_{r-1}, deg within
    n_{r-1}), so the filter ``d >= k AND d > 0`` reproduces n_r
    exactly, and subtracting each survivor's edges into
    n_{r-1} \\ n_r yields deg within n_r. The output equals the
    oracle's final recount because after the last round the vector
    holds degrees within n_R, and the ``d > 0`` filter mirrors the
    GROUP BY dropping members with no surviving edge.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # ONE aggregate job yields both k and the starting node count (r12):
    # |nodes| = |deg| rows by construction (deg groups by src), so the
    # old separate distinct+count job before the loop was a second full
    # pass over the edges for a number this aggregate already
    # knows.
    k, n_prev = deg.agg(
        F.expr(
            f"CAST(({KCORE_MEAN_NUM} * sum(deg))"
            f" div ({KCORE_MEAN_DEN} * count(*)) AS BIGINT)"
        ).alias("k"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if k is None:
        # empty edge list → sum(deg) is NULL; return the declared empty
        # schema instead of letting `d >= NULL` raise (sibling graph
        # queries return empty frames on empty input)
        return spark.createDataFrame(
            [], "part_key bigint, core_degree bigint, k_threshold bigint"
        )
    # degree vector within the current surviving set; init = raw degree
    # (valid because pairs is symmetric — see equivalence note above).
    cur = deg.select(F.col("src").alias("node"), F.col("deg").alias("d"))
    cur = cur.localCheckpoint()
    # early exit on a fixed point is EXACTLY equivalent to running all
    # KCORE_ROUNDS (so the oracle's pinned-round unrolling still
    # matches): peeling only ever REMOVES nodes, so an unchanged count
    # means an unchanged set, and every later round is the identity.
    survive = (F.col("d") >= k) & (F.col("d") > 0)
    for _ in range(KCORE_ROUNDS):
        removed = cur.filter(~survive).select(F.col("node").alias("dst"))
        loss = (
            pairs.join(F.broadcast(removed), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("lost"))
            .withColumnRenamed("src", "node")
        )
        cur = (
            cur.filter(survive)
            .join(F.broadcast(loss), "node", "left")
            .select(
                "node",
                (F.col("d") - F.coalesce(F.col("lost"), F.lit(0))).alias("d"),
            )
            .localCheckpoint()
        )
        n = cur.count()
        if n == n_prev:
            break
        n_prev = n
    out = cur.filter(F.col("d") > 0).select(
        F.col("node").alias("part_key"),
        F.col("d").cast("bigint").alias("core_degree"),
        F.lit(k).cast("bigint").alias("k_threshold"),
    )
    return out


#: Synchronous label-propagation rounds (pinned on both engines).
LPA_ROUNDS = 3


def _lpa_labels(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame,
    fresh: bool = False,
) -> DataFrame:
    """The shared synchronous-LPA round loop (one definition for the
    LPA and modularity queries, so round semantics cannot drift).

    Stage ``lpa_labels`` of a ``session.Snapshots`` store. The LPA query
    passes ``fresh=True``: it computes the rounds on every call — its
    bench timing must price them, they are its own work — and publishes
    them; modularity reads the stored labels when a store holds them.

    argmax via max() over a DECIMAL-PACKED (count, inverted-label) key
    (round 11; previously max(struct(c, -label)), itself 2x faster than
    a row_number window): Spark plans max-of-STRUCT as SortAggregate —
    struct buffers aren't UnsafeRow-mutable — which cost TWO full sorts
    of the (src, label, c) frame per round; a fixed-width DECIMAL(38,0)
    buffer IS mutable, so the packed key keeps both aggregations in
    whole-stage-codegen HashAggregate. ``c * 10^19 + (10^19-1 - label)``
    orders exactly like (c DESC-equivalent max, label ASC on ties);
    precisions are bounded so decimal math never exceeds 38 digits
    (c as DECIMAL(12,0) — per-node per-label neighbor counts < 10^12 at
    any conceivable degree — times DECIMAL(20,0), plus DECIMAL(19,0):
    worst precision 34). Preconditions (hold for all callers: labels
    are part-key node ids): 0 <= label <= 9.2e18, c < 10^12. ENFORCED
    (r12, advisory): under the session's pinned non-ANSI casts an
    overflowing pack yields NULL, which ``max()`` silently ignores — a
    violating node would get a silently wrong label. Two loud guards,
    both free in the existing plan: (a) labels are node ids forever (a
    node only ever adopts a neighbor's label, so round 0's domain is
    every round's domain) — the init projection raises on a negative
    id (BIGINT cannot exceed the upper bound); (b) the argmax agg also
    counts packed-NULL groups (two extra count buffers in the same
    HashAggregate) and the unpack projection raises if any group's
    pack overflowed (c >= 10^12).

    One shuffle per round (round 11): the joined frame is
    ``repartition("src")``-ed BEFORE the aggregations — hash(src)
    satisfies ClusteredDistribution for BOTH groupBys ((src,label) and
    (src)), so each round is broadcast-join → one |E|-row exchange of
    narrow rows → two exchange-free complete HashAggregates. The prior
    shape paid an exchange per groupBy plus the two SortAggregate
    sorts; at sf0.1 the 3-round loop measured 6.95s (struct), 5.69s
    (packed max alone), 4.44s (packed max + single repartition) —
    bit-identical outputs. Pre-partitioning the edge list by src
    instead (zero per-round exchanges) measured 5.74s + a 2.5x costlier
    edge build — rejected. At cluster scale the same plan holds: when
    the label vector outgrows the broadcast threshold, Catalyst falls
    back to a dst-keyed shuffle join and the repartition(src) stays the
    single agg-side shuffle.
    """
    pack = (
        "CAST(c AS DECIMAL(12,0))"
        " * CAST(10000000000000000000 AS DECIMAL(20,0))"
        " + CAST(9999999999999999999 - label AS DECIMAL(19,0))"
    )
    unpack = (
        "CAST(9999999999999999999"
        " - (m % CAST(10000000000000000000 AS DECIMAL(20,0))) AS BIGINT)"
    )
    guarded_unpack = (
        "CASE WHEN n_ok <> n_all THEN CAST(raise_error("
        "'lpa: packed-argmax overflow (a (src,label) count reached 10^12;"
        " the DECIMAL(12,0) pack went NULL and max() would drop it)')"
        f" AS BIGINT) ELSE {unpack} END"
    )

    def rounds() -> DataFrame:
        labels = pairs.select(F.col("src").alias("node")).distinct().select(
            "node",
            F.expr(
                "CASE WHEN node < 0 THEN CAST(raise_error("
                "'lpa: negative node id breaks the decimal label inversion')"
                " AS BIGINT) ELSE node END"
            ).alias("label"),
        )
        for _ in range(LPA_ROUNDS):
            labels = (
                pairs.join(labels.withColumnRenamed("node", "dst"), "dst")
                .repartition("src")
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("src")
                .agg(
                    F.max(F.expr(pack)).alias("m"),
                    F.count(F.lit(1)).alias("n_all"),
                    F.count(F.expr(pack)).alias("n_ok"),
                )
                .select(
                    F.col("src").alias("node"),
                    F.expr(guarded_unpack).alias("label"),
                )
                .localCheckpoint()
            )
        return labels

    return snapshot(spark, sf_dir, "lpa_labels", rounds, fresh)


def _lpa_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT src AS node, label FROM (
            SELECT p.src, l.label,
                   row_number() OVER (PARTITION BY p.src
                                      ORDER BY count(*) DESC, l.label) AS rn
            FROM pairs p JOIN {prev} l ON l.node = p.dst
            GROUP BY p.src, l.label
        ) t
        WHERE rn = 1
    )"""


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    l0 AS (SELECT src AS node, src AS label FROM deg),
    {",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ROUNDS))}
    SELECT node AS part_key, label AS community
    FROM l{LPA_ROUNDS}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007) over the part co-purchase graph: every node
    starts labeled with its own id; each round it adopts the most
    common label among its neighbors. The family's third iterative
    primitive after PageRank (influence) and k-core (density) —
    LPA yields the community PARTITION that merchandising and
    bot-ring detection consume.

    Determinism: vanilla LPA is notoriously run-order-dependent; this
    is the deterministic variant — SYNCHRONOUS rounds (all nodes
    update from the same snapshot, the only sane semantics for a
    distributed engine anyway) with frequency ties broken by MINIMUM
    label, and a PINNED round count ({LPA_ROUNDS}) on both engines, so
    results are identical by construction (oscillation, synchronous
    LPA's known failure mode on bipartite-ish structure, affects
    modularity, never determinism).

    Scale shape: per round ONE shuffle — join the |V|-row label vector
    to the checkpointed edge list (broadcast while the vector fits, dst-keyed
    shuffle join beyond), repartition the narrow joined rows on src
    once, then count (node, label) pairs and take the decimal-packed
    argmax in two exchange-free HashAggregates (see
    :func:`_lpa_labels` for the round-11 plan derivation and A/B
    numbers). ``localCheckpoint`` per round truncates lineage;
    |V|-sized state total, the same Pregel-as-joins shape as PageRank.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir, pairs, fresh=True)
    out = labels.select(
        F.col("node").alias("part_key"), F.col("label").alias("community")
    )
    return out


@query(
    "graph_modularity",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    l0 AS (SELECT src AS node, src AS label FROM deg),
    {",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ROUNDS))},
    dtot AS (SELECT CAST(sum(deg) AS BIGINT) AS dd FROM deg),
    per_node AS MATERIALIZED (
        SELECT l.node, l.label, d.deg
        FROM l{LPA_ROUNDS} l JOIN deg d ON d.src = l.node
    ),
    internal AS (
        SELECT a.label, CAST(count(*) AS BIGINT) AS e_in
        FROM pairs p
        JOIN per_node a ON a.node = p.src
        JOIN per_node b ON b.node = p.dst AND b.label = a.label
        GROUP BY 1
    ),
    comm AS (
        SELECT n.label AS community,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(n.deg) AS BIGINT) AS degree_sum,
               CAST(coalesce(any_value(i.e_in), 0) AS BIGINT)
                   AS internal_directed_edges
        FROM per_node n LEFT JOIN internal i ON i.label = n.label
        GROUP BY 1
    )
    SELECT community, n_members, internal_directed_edges, degree_sum,
           CAST(CAST((2000000 * (CAST(internal_directed_edges AS HUGEINT)
                                 * t.dd
                                 - CAST(degree_sum AS HUGEINT) * degree_sum)
                      + CAST(t.dd AS HUGEINT) * t.dd)
                     // (2 * CAST(t.dd AS HUGEINT) * t.dd)
                AS BIGINT) AS DOUBLE) / 1000000 AS contribution
    FROM comm, dtot t
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the ``graph_label_propagation`` partition,
    per community: ``Q_c = e_c/D - (d_c/D)^2`` over directed edge
    counts (D = 2m), so Σ contributions = Q — the number that says
    whether LPA found real structure (Q near 0 on this quasi-random
    co-purchase graph IS the honest answer, and exactly what the
    operator exists to reveal). Completes the graph family's
    analyze-then-score loop: partition (LPA) → quality (this).

    Exact arithmetic: internal-edge counts and degree sums are
    integers; each contribution is ONE integer division over 38-digit
    intermediates (D² at 100 TB dwarfs BIGINT), rounded at 6 dp
    half-up for positive values and toward zero for negative ones
    (Spark ``div`` and DuckDB ``//`` both truncate toward zero —
    identical on both engines, which is what the hash gate needs).

    Scale shape: the LPA rounds as in ``graph_label_propagation``;
    scoring adds two label-vector joins onto the checkpointed edge list
    (internal-edge census) and a |communities|-row aggregate with the
    1-row degree total broadcast."""
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    labels = _lpa_labels(spark, sf_dir, pairs)
    per_node = labels.join(
        deg.withColumnRenamed("src", "node"), "node"
    )
    dtot = deg.agg(F.sum("deg").cast("bigint").alias("dd"))
    internal = (
        pairs.join(
            per_node.select(F.col("node").alias("src"), F.col("label").alias("la")),
            "src",
        )
        .join(
            per_node.select(F.col("node").alias("dst"), F.col("label").alias("lb")),
            "dst",
        )
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    comm = (
        per_node.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
        .join(
            internal.withColumnRenamed("label", "community"), "community", "left"
        )
        .select(
            "community",
            "n_members",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias(
                "internal_directed_edges"
            ),
            "degree_sum",
        )
    )
    out = comm.crossJoin(dtot).select(
        "community",
        "n_members",
        "internal_directed_edges",
        "degree_sum",
        (
            F.expr(
                "CAST((2000000 * (CAST(internal_directed_edges AS DECIMAL(38,0))"
                " * dd - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum)"
                " + CAST(dd AS DECIMAL(38,0)) * dd)"
                " div (2 * CAST(dd AS DECIMAL(38,0)) * dd) AS BIGINT)"
            ).cast("double")
            / 1000000
        ).alias("contribution"),
    )
    return out


def min_step(edges: DataFrame, vec: DataFrame, hop: int = 0) -> DataFrame:
    """One round of min propagation: every node takes the minimum of its
    own label and ``label + hop`` over its in-neighbours.

    ``edges(src, dst)`` carries messages src → dst; ``vec(node, label)``
    is the current vector. Self rows and neighbour contributions union
    into ONE map-side-combinable ``min()`` aggregate, and the previous
    label rides along in the same HashAggregate as ``old = min(label
    WHERE is_self)``, so a round is one edge-probe join plus one
    aggregate, with no LEFT join back onto the vector and no join to
    count changes (A/B at sf0.1, warm, min-of-3: 0.892 → 0.625 s per CC
    round against the LEFT-join shape). Returns a lazy ``(node, label,
    old)``; ``old`` is NULL for a node with no self row (a dst not yet in
    ``vec``), which :func:`fixpoint` counts as changed.
    """
    label = F.col("label") + hop if hop else F.col("label")
    contrib = edges.join(
        vec.select(F.col("node").alias("src"), "label"), "src"
    ).select(
        F.col("dst").alias("node"),
        label.alias("label"),
        F.lit(False).alias("is_self"),
    )
    return (
        vec.select("node", "label", F.lit(True).alias("is_self"))
        .unionByName(contrib)
        .groupBy("node")
        .agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("is_self"), F.col("label"))).alias("old"),
        )
    )


def fixpoint(
    vec: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int
) -> DataFrame:
    """Run ``step`` from ``vec(node, label)`` until a round changes no
    label, or for at most ``rounds`` rounds; return ``(node, label)``.

    ``step`` maps ``(node, label)`` to ``(node, label, old)``, as
    :func:`min_step` does. Each round is checkpointed eagerly with
    ``localCheckpoint`` (truncating the iterative lineage) and its
    changed rows, ``coalesce(label < old, true)``, are counted over the
    checkpointed blocks. Labels only ever decrease and ``min`` is
    idempotent, so a round that changes nothing is a fixed point and
    every later round would be the identity: the early exit returns
    exactly what running all ``rounds`` would. A node with no previous
    label (``old`` NULL, e.g. a dst-only node of an asymmetric edge list,
    or a node reached for the first time) counts as changed, so the loop
    never stops while such a node is still arriving.
    """
    changed = F.coalesce(F.col("label") < F.col("old"), F.lit(True))
    for _ in range(rounds):
        nxt = step(vec).localCheckpoint()
        vec = nxt.select("node", "label")
        if nxt.filter(changed).count() == 0:
            break
    return vec


#: Min-label-propagation rounds for connected components. Each round
#: moves a minimum id ONE hop (the halving claim belongs to the
#: pointer-doubling large-star/small-star variant, not this plain
#: propagation), so convergence needs ~diameter rounds; the co-purchase
#: graph's observed diameter is small (BFS_MAX_DEPTH=4 reaches the whole
#: main component) and the invariant test proves convergence at the
#: tested SFs by running one extra round. :func:`fixpoint` stops at the
#: fixed point or at this cap; an unknown graph of larger diameter
#: needs a higher cap or pointer doubling for log-diameter rounds.
CC_ROUNDS = 5


def _cc_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT n.node, least(n.label, coalesce(m.minl, n.label)) AS label
        FROM {prev} n LEFT JOIN (
            SELECT p.dst AS node, min(c.label) AS minl
            FROM pairs p JOIN {prev} c ON c.node = p.src
            GROUP BY p.dst
        ) m ON m.node = n.node
    )"""


@query(
    "graph_connected_components",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    c0 AS (SELECT src AS node, src AS label FROM deg),
    {",".join(_cc_round_sql(f"c{i}", f"c{i + 1}") for i in range(CC_ROUNDS))}
    SELECT label AS component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM c{CC_ROUNDS}
    GROUP BY 1
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph by HASH-TO-MIN
    label propagation — the canonical distributed CC algorithm (each
    node repeatedly adopts the minimum id among itself and its
    neighbors; the surviving label IS the component's minimum node id,
    so ``component = min_node`` doubles as a self-check). CC is the
    graph family's partition primitive the others assume: dedup
    clusters, community seeds, and reachability audits all start from
    "which nodes are in the same component".

    Determinism: label updates are pure min() — order-free and
    idempotent. The oracle runs EXACTLY {CC_ROUNDS} synchronous rounds;
    Spark runs :func:`min_step` under :func:`fixpoint` with the same
    cap and stops early only at a fixed point, so results are identical
    by construction even mid-convergence; the invariant test proves
    convergence at the tested SFs by checking one extra round is the
    identity.

    Scale shape: per round ONE shuffle — the |V|-row label vector joins
    the checkpointed edge list and ``min`` per dst is map-side-combinable;
    ``localCheckpoint`` per round truncates lineage — the same
    Pregel-as-joins shape as PageRank/LPA; at 1000 executors each
    round is a single co-partitioned shuffle on node id.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    seed = (
        pairs.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    labels = fixpoint(seed, lambda v: min_step(pairs, v), CC_ROUNDS)
    out = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    )
    return out


#: Pointer-doubling CC rounds. Each combined round takes one neighbor
#: hop AND one pointer jump (label := label[label]), so the distance a
#: minimum id covers roughly DOUBLES per round — convergence in
#: ~log2(diameter) rounds, vs ~diameter for plain min propagation
#: (:data:`CC_ROUNDS`). 3 rounds cover distance ≥ 2^3 − 1, comfortably
#: past the tested graph's ≤4 diameter; the invariant test proves
#: convergence by checking one extra round is the identity.
CC_PD_ROUNDS = 3


def _cc_pd_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT n.node,
               least(n.label, coalesce(m.minl, n.label), j.label) AS label
        FROM {prev} n
        JOIN {prev} j ON j.node = n.label
        LEFT JOIN (
            SELECT p.dst AS node, min(c.label) AS minl
            FROM pairs p JOIN {prev} c ON c.node = p.src
            GROUP BY p.dst
        ) m ON m.node = n.node
    )"""


def _pd_step(edges: DataFrame, vec: DataFrame) -> DataFrame:
    """One pointer-doubling round: :func:`min_step`'s one-hop minimum,
    then the jump label := label[label]. The jump reads round-(k−1)
    state, so it joins the vector on the PREVIOUS label ``old``."""
    jump = vec.select(F.col("node").alias("old"), F.col("label").alias("jlabel"))
    return min_step(edges, vec).join(jump, "old").select(
        "node", F.least("label", "jlabel").alias("label"), "old"
    )


@query(
    "graph_cc_pointer_doubling",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    p0 AS (SELECT src AS node, src AS label FROM deg),
    {",".join(_cc_pd_round_sql(f"p{i}", f"p{i + 1}") for i in range(CC_PD_ROUNDS))}
    SELECT label AS component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node
    FROM p{CC_PD_ROUNDS}
    GROUP BY 1
    """,
)
def graph_cc_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by POINTER DOUBLING — the log-diameter
    variant `graph_connected_components`' plain min-propagation is not
    (its round comment documents exactly this trade): each synchronous
    round combines the one-hop neighbor minimum with a pointer JUMP
    (label := label[label]), so the distance already covered doubles —
    {CC_PD_ROUNDS} rounds here converge where plain propagation needs
    ~diameter. On a 100 TB graph whose diameter is unknown this is the
    difference between a bounded iteration budget and an unbounded one;
    the two algorithms' identical component census is also a free
    algebraic cross-check (the invariant test pins it).

    Determinism: every update is a pure min over synchronously-read
    round-(k−1) state, so both engines land on identical labels
    regardless of execution order; the jump join is total because
    labels only ever hold node ids that exist in the label vector.

    Scale shape: per round TWO co-partitioned shuffles — the
    :func:`min_step` aggregate over the checkpointed edge list (map-side-
    combined min per dst), and its result against the label vector on
    the previous label (the jump). :func:`fixpoint` runs at most
    {CC_PD_ROUNDS} rounds and stops at a fixed point, checkpointing each
    round exactly as the other Pregel-as-joins operators.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    seed = (
        pairs.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    labels = fixpoint(seed, lambda v: _pd_step(pairs, v), CC_PD_ROUNDS)
    out = labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    )
    return out


#: Multi-source BFS: seed count and synchronous round count. The
#: co-purchase graph's observed diameter is ≤ 4 from the hub seeds at
#: every tested SF (the CC notes' BFS_MAX_DEPTH observation), so 4
#: rounds label every reachable node; :func:`fixpoint` stops earlier
#: once a round changes nothing.
BFS_SEEDS = 3
BFS_ROUNDS = 4


def _bfs_round_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT p.dst AS node, c.dist + 1 AS dist
            FROM pairs p JOIN {prev} c ON c.node = p.src
        ) GROUP BY node
    )"""


@query(
    "graph_multi_source_bfs",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    seeds AS MATERIALIZED (
        SELECT src AS node FROM deg
        ORDER BY deg DESC, src LIMIT {BFS_SEEDS}
    ),
    d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
    {",".join(_bfs_round_sql(f"d{i}", f"d{i + 1}") for i in range(BFS_ROUNDS))}
    SELECT dist AS distance,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_part_key
    FROM d{BFS_ROUNDS}
    GROUP BY 1
    """,
)
def graph_multi_source_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search: hop distance from the
    {BFS_SEEDS} highest-degree hub parts to every reachable node of the
    co-purchase graph, reported as the distance-layer census (how much
    of the catalog is 1, 2, 3 hops from the hubs — the 'blast radius'
    number a merchandising or recall-propagation analysis starts from).
    Frontier expansion is the same synchronous Pregel-as-joins shape as
    `graph_connected_components` with ``min(dist + 1)`` instead of
    ``min(label)`` (:func:`min_step` with ``hop=1``). The oracle runs
    exactly {BFS_ROUNDS} rounds; Spark stops at its fixed point — the
    first round that neither reaches a new node nor shortens a
    distance — or after {BFS_ROUNDS} rounds. Distances only ever
    decrease, so both give the same census (the invariant test checks
    it against one extra round); the observed hub eccentricity is
    ≤ {BFS_ROUNDS}, so the capped result IS the BFS fixed point at the
    tested SFs.

    Scale shape: seed pick is a dim-grain top-k on the degree census;
    each round is ONE co-partitioned shuffle (reached-vector ⋈ checkpointed
    edges, min per dst map-side-combinable), checkpointed by
    :func:`fixpoint` to truncate the iterative lineage. The reached
    vector is |V|-bounded — never edge- or fact-scale.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(BFS_SEEDS)
        .select(F.col("src").alias("node"), F.lit(0).alias("label"))
        .localCheckpoint()
    )
    dist = fixpoint(seed, lambda v: min_step(pairs, v, hop=1), BFS_ROUNDS)
    out = dist.groupBy(F.col("label").alias("distance")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_part_key"),
    )
    return out


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    oe AS (
        SELECT p.src AS a, p.dst AS b
        FROM pairs p
        JOIN deg da ON da.src = p.src
        JOIN deg db ON db.src = p.dst
        WHERE da.deg < db.deg
           OR (da.deg = db.deg AND p.src < p.dst)
    ),
    triples AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM oe e1
        JOIN oe e2 ON e2.a = e1.b
        JOIN oe e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT a AS node FROM triples
            UNION ALL SELECT b FROM triples
            UNION ALL SELECT c FROM triples
        ) GROUP BY node
    )
    SELECT d.src AS part_key,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(p.t, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.deg < 2 THEN 0
                ELSE (2 * 1000000 * 2 * coalesce(p.t, 0)
                      + d.deg * (d.deg - 1))
                     // (2 * d.deg * (d.deg - 1)) END AS BIGINT)
               AS clustering_micro
    FROM deg d LEFT JOIN per_node p ON p.node = d.src
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node — Watts–Strogatz
    C(v) = 2·T(v)/(deg(v)·(deg(v)−1)) over the part co-purchase graph:
    where `graph_triangle_count` reports one global transitivity
    number, this emits the per-node profile (which parts sit in tight
    co-purchase cliques vs hub-and-spoke stars — the feature
    recommender and community pipelines consume).

    Per-node triangle counts reuse the degree-ORIENTED edge DAG (each
    triangle materializes exactly once as an (a,b,c) triple — the
    O(m^1.5) bound survives), then a triple→membership explode and one
    count per node; the coefficient is the exact half-up micro-unit
    identity, integers throughout.

    Scale shape: identical join discipline to `graph_triangle_count`
    (oriented wedge equi-joins, never Σdeg² wedges from hubs), plus one
    |triangles|-row explode and a node-grain aggregate. The output is
    |V| rows — dimension-bounded.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    oe = (
        pairs.join(
            deg.withColumnRenamed("src", "a_n").withColumnRenamed("deg", "da"),
            pairs.src == F.col("a_n"),
        )
        .join(
            deg.withColumnRenamed("src", "b_n").withColumnRenamed("deg", "db"),
            pairs.dst == F.col("b_n"),
        )
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .persist()
    )
    adj = oe.groupBy("a").agg(F.collect_set("b").alias("nbrs"))
    triples = (
        oe.join(adj.select(F.col("a"), F.col("nbrs").alias("na")), "a")
        .join(adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nb")), "b")
        .select(
            "a",
            "b",
            F.explode(F.array_intersect("na", "nb")).alias("c"),
        )
    )
    per_node = (
        triples.select(F.col("a").alias("node"))
        .unionByName(triples.select(F.col("b").alias("node")))
        .unionByName(triples.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    out = (
        deg.join(per_node, deg.src == per_node.node, "left")
        .select(
            F.col("src").alias("part_key"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN deg < 2 THEN 0"
                " ELSE (2 * 1000000 * 2 * coalesce(t, 0)"
                "       + deg * (deg - 1))"
                "      div (2 * deg * (deg - 1)) END AS BIGINT)"
            ).alias("clustering_micro"),
        )
    )
    return finalize_unpersist(out, oe)


#: HITS: L1-normalized hub/authority mass in integer micro-units; two
#: full mutual-reinforcement iterations over the DIRECTED bipartite
#: supplier→customer shipment graph (suppliers are pure hubs, customers
#: pure authorities — the classic query-vs-content split).
HITS_SCALE = 1_000_000
N_HITS_ITERS = 2

_HITS_EDGES_CTE = """
    e AS MATERIALIZED (
        SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
"""


def _hits_iter_sql(h_prev: str, a_this: str, h_this: str) -> str:
    return f"""
    {a_this}_raw AS MATERIALIZED (
        SELECT e.c, CAST(sum({h_prev}.hub) AS DECIMAL(38,0)) AS raw
        FROM e JOIN {h_prev} ON {h_prev}.s = e.s GROUP BY e.c
    ),
    {a_this} AS MATERIALIZED (
        SELECT c, CAST((CAST({HITS_SCALE} AS HUGEINT) * CAST(raw AS HUGEINT))
                       // CAST((SELECT sum(raw) FROM {a_this}_raw) AS HUGEINT)
                   AS BIGINT) AS auth
        FROM {a_this}_raw
    ),
    {h_this}_raw AS MATERIALIZED (
        SELECT e.s, CAST(sum({a_this}.auth) AS DECIMAL(38,0)) AS raw
        FROM e JOIN {a_this} ON {a_this}.c = e.c GROUP BY e.s
    ),
    {h_this} AS MATERIALIZED (
        SELECT s, CAST((CAST({HITS_SCALE} AS HUGEINT) * CAST(raw AS HUGEINT))
                       // CAST((SELECT sum(raw) FROM {h_this}_raw) AS HUGEINT)
                   AS BIGINT) AS hub
        FROM {h_this}_raw
    )"""


@query(
    "graph_hits_hubs_authorities",
    oracle=f"""
    WITH {_HITS_EDGES_CTE},
    h0 AS MATERIALIZED (
        SELECT DISTINCT s, CAST({HITS_SCALE} AS BIGINT) AS hub FROM e
    ),
    {_hits_iter_sql("h0", "a1", "h1")},
    {_hits_iter_sql("h1", "a2", "h2")}
    SELECT 'supplier' AS node_type, s AS node_key, hub AS score_micro
    FROM h2
    UNION ALL
    SELECT 'customer' AS node_type, c AS node_key, auth AS score_micro
    FROM a2
    """,
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities) over the directed bipartite
    supplier→customer shipment graph: a supplier is a strong HUB when it
    ships to strong-authority customers, a customer a strong AUTHORITY
    when supplied by strong hubs — {N_HITS_ITERS} full mutual-
    reinforcement iterations, each L1-normalized so scores are micro-unit
    mass fractions (power iteration with L1 rather than L2 normalization
    keeps every step in EXACT integer arithmetic: raw sums in
    DECIMAL(38,0), then ``(10^6 · raw) div Σraw`` — bit-identical across
    engines, no float anywhere).

    Scale shape: the edge snapshot is ONE equi-join shuffle
    (lineitem⋈orders on orderkey) + distinct, persisted and reused by
    all iterations; each half-iteration is a hash join of the |V|-sized
    score vector to the edges plus a map-side-combinable re-aggregation
    — the same Pregel-as-joins shape as `graph_pagerank_3iter`. The L1
    total is a 1-row aggregate broadcast. DECIMAL(38,0) raw sums hold to
    ~10^32 edge-mass — effectively unbounded.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
        .persist()
    )
    hub = e.select("s").distinct().withColumn(
        "hub", F.lit(HITS_SCALE).cast("bigint")
    )

    def _normalize(raw_vec, key: str, out_col: str):
        """L1-normalize a raw score vector: checkpoint the |V|-sized
        raw aggregate ONCE, read its 1-row total off the checkpointed
        blocks driver-side, and divide as a literal projection.

        r13 (verdict item #4): the previous shape crossJoined a
        broadcast of the total — a separate BroadcastExchange subtree
        per half-iteration that re-planned (and without runtime
        exchange reuse, re-ran) the whole raw aggregation, plus a
        second checkpoint of the normalized vector. Checkpointing the
        RAW vector instead makes the total a trivial scan of
        checkpointed blocks and the normalized vector a lazy
        projection needing no checkpoint of its own — per
        half-iteration the plan loses the broadcast subtree and one
        materialization. Bit-identical: same DECIMAL(38,0) integral
        division by the same total, now injected as a literal (the
        graph_kcore scalar precedent).
        """
        raw_ck = raw_vec.localCheckpoint()
        tot = raw_ck.agg(F.sum("raw")).first()[0]
        if tot is None:
            tot = 1  # empty graph: the projection below runs on 0 rows
        return raw_ck.select(
            key,
            F.expr(
                f"CAST((CAST({HITS_SCALE} AS DECIMAL(38,0)) * raw)"
                f" div CAST('{tot}' AS DECIMAL(38,0)) AS BIGINT)"
            ).alias(out_col),
        )

    auth = None
    for _ in range(N_HITS_ITERS):
        # Widen BEFORE the sum (sum(CAST .. AS DECIMAL(38,0))), as
        # agg_welch_ttest does for sxx: Spark's sum(BIGINT) stays int64
        # and would wrap at ~9.2e18 edge-mass, while DuckDB's natively
        # widens to HUGEINT — the docstring's ~10^32 headroom holds on
        # both sides only with the pre-widened accumulator.
        auth = _normalize(
            e.join(hub, "s")
            .groupBy("c")
            .agg(F.expr("sum(CAST(hub AS DECIMAL(38,0)))").alias("raw")),
            "c",
            "auth",
        )
        hub = _normalize(
            e.join(auth, "c")
            .groupBy("s")
            .agg(F.expr("sum(CAST(auth AS DECIMAL(38,0)))").alias("raw")),
            "s",
            "hub",
        )
    out = hub.select(
        F.lit("supplier").alias("node_type"),
        F.col("s").alias("node_key"),
        F.col("hub").alias("score_micro"),
    ).unionByName(
        auth.select(
            F.lit("customer").alias("node_type"),
            F.col("c").alias("node_key"),
            F.col("auth").alias("score_micro"),
        )
    )
    return finalize_unpersist(out, e)


#: Personalized PageRank: all teleport mass returns to the SEED node
#: (the minimum part key — deterministic), so scores measure proximity
#: to the seed rather than global centrality.
PPR_SEED_SQL = "(SELECT min(src) FROM pairs)"
N_PPR_ITERS = 3


def _ppr_iter_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS MATERIALIZED (
        SELECT n.node,
               CAST((CASE WHEN n.node = {PPR_SEED_SQL}
                          THEN {15 * PR_SCALE // 100} ELSE 0 END)
                    + coalesce((85 * f.flow) // 100, 0) AS BIGINT) AS pr
        FROM (SELECT DISTINCT src AS node FROM pairs) n
        LEFT JOIN (
            SELECT e.dst AS node, sum({prev}.pr // e.deg) AS flow
            FROM e JOIN {prev} ON {prev}.node = e.src
            GROUP BY e.dst
        ) f ON f.node = n.node
    )"""


@query(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    p0 AS MATERIALIZED (
        SELECT src AS node,
               CAST(CASE WHEN src = {PPR_SEED_SQL}
                         THEN {PR_SCALE} ELSE 0 END AS BIGINT) AS pr
        FROM deg
    ),
    {_ppr_iter_sql("p0", "p1")},
    {_ppr_iter_sql("p1", "p2")},
    {_ppr_iter_sql("p2", "p3")}
    SELECT node AS part_key, pr AS ppr_micro,
           round(pr / {PR_SCALE}.0, 6) AS ppr
    FROM p3 WHERE pr > 0
    """,
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a deterministic seed (the minimum part
    key) over the part co-purchase graph — the proximity / related-items
    score behind 'customers who bought X': identical power iteration to
    `graph_pagerank_3iter`, except ALL teleport mass returns to the seed
    (standard PPR), so mass decays with distance from the seed and
    unreached nodes stay at exactly zero (filtered — the output is the
    seed's neighborhood, not the full vertex set).

    Scale shape: same Pregel-as-joins plan as global PageRank — the
    persisted edge list reused across {N_PPR_ITERS} iterations, each a
    score-vector⋈edges hash join plus a map-side-combinable
    re-aggregation; the per-iteration LEFT join against the node set
    keeps zero-mass nodes addressable without densifying flow. Integer
    micro-units throughout; seed selection is one cheap min() aggregate.
    """
    pairs = _copurchase_pairs(spark, sf_dir)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = pairs.join(deg, "src").persist()
    nodes = pairs.select(F.col("src").alias("node")).distinct().persist()
    seed = nodes.agg(F.min("node").alias("seed_node"))
    ranks = nodes.crossJoin(seed).select(
        "node",
        F.when(F.col("node") == F.col("seed_node"), PR_SCALE)
        .otherwise(0)
        .cast("bigint")
        .alias("pr"),
    )
    for _ in range(N_PPR_ITERS):
        flow = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("pr div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("flow"))
        )
        ranks = (
            nodes.crossJoin(seed)
            .join(flow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("node") == F.col("seed_node"),
                        15 * PR_SCALE // 100,
                    ).otherwise(0)
                    + F.coalesce(
                        F.expr("(85 * flow) div 100"), F.lit(0)
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
            .localCheckpoint()
        )
    out = ranks.filter(F.col("pr") > 0).select(
        F.col("node").alias("part_key"),
        F.col("pr").alias("ppr_micro"),
        F.round(F.col("pr") / PR_SCALE, 6).alias("ppr"),
    )
    return finalize_unpersist(out, edges, nodes)
