"""Invariant tests for the iterative graph operators and the newest
corpus/quality operators — the algebraic contracts the oracle hash can't
express by itself (bounds, conservation, monotonicity).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _q(name):
    from python_sql_etl_project_spark import registry

    registry.load_all()
    return registry.QUERIES[name]


def test_pagerank_mass_bounds(spark):
    """Fixed-point PR with symmetric edges: every node's rank stays in
    [teleport, scale·n]; total mass is ≤ n·scale and ≥ n·teleport (floor
    division only ever loses mass, never creates it)."""
    from python_sql_etl_project_spark.operators.graph import (
        PR_SCALE,
        PR_TELEPORT_MICRO,
    )

    rows = _q("graph_pagerank_3iter")(spark, SF_DIR).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pr_micro").alias("mn"),
        F.sum("pr_micro").alias("total"),
    ).first()
    assert rows.mn >= PR_TELEPORT_MICRO
    assert rows.total <= rows.n * PR_SCALE
    assert rows.total >= rows.n * PR_TELEPORT_MICRO


def test_bfs_levels_are_bfs_distances(spark):
    """Exactly one root at level 0; every level-k>0 node has a neighbor
    at level k-1 (the frontier property — levels can't skip)."""
    from python_sql_etl_project_spark.operators.graph import _copurchase_pairs

    levels = _q("graph_bfs_levels")(spark, SF_DIR).cache()
    assert levels.filter(F.col("level") == 0).count() == 1
    pairs = _copurchase_pairs(spark, SF_DIR)
    # join each node to its neighbors' levels; min neighbor level must be
    # exactly level-1 for every non-root node
    nb = (
        levels.select(F.col("part_key").alias("src"), F.col("level").alias("lvl"))
        .join(pairs, "src")
        .groupBy(F.col("dst").alias("part_key"))
        .agg(F.min("lvl").alias("min_nb"))
    )
    bad = (
        levels.filter(F.col("level") > 0)
        .join(nb, "part_key")
        .filter(F.col("min_nb") != F.col("level") - 1)
        .count()
    )
    assert bad == 0
    levels.unpersist()


def test_simpson_diversity_bounds(spark):
    """Simpson diversity lies in [0, 1); single-character docs score 0
    is vacuous here, but the bound and the n_distinct relation hold."""
    df = _q("txt_char_diversity")(spark, SF_DIR)
    bad = df.filter(
        (F.col("simpson_diversity") < 0) | (F.col("simpson_diversity") >= 1)
    ).count()
    assert bad == 0
    # a doc with one distinct char must score exactly 0
    ones = df.filter(F.col("n_distinct_chars") == 1)
    assert ones.filter(F.col("simpson_diversity") != 0).count() == 0


def test_substring_containment_bounds(spark):
    """Containment is a ratio against the smaller fingerprint set: it
    must lie in (0, 1] and every reported pair meets both thresholds."""
    from python_sql_etl_project_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        MIN_SHARED_FP,
    )

    df = _q("dd_substring_overlap_pairs")(spark, SF_DIR)
    bad = df.filter(
        (F.col("containment") < CONTAINMENT_THRESHOLD)
        | (F.col("containment") > 1.0)
        | (F.col("shared_fp") < MIN_SHARED_FP)
        | (F.col("d1") >= F.col("d2"))
    ).count()
    assert bad == 0


def test_mixture_weights_sum_to_one(spark):
    """Normalized mixture weights sum to 1 within rounding slack."""
    total = (
        _q("smp_mixture_weights")(spark, SF_DIR)
        .agg(F.sum("weight").alias("s"))
        .first()
        .s
    )
    assert abs(total - 1.0) < 1e-3  # 6-dp rounding × ~100 strata


def test_curation_pipeline_conserves_documents(spark):
    """Curation audit counts: kept docs ≤ gated docs ≤ corpus size, and
    every (split, source) bucket is non-negative with consistent sums."""
    from python_sql_etl_project_spark.session import read_table

    out = _q("pipe_corpus_curation")(spark, SF_DIR)
    kept = out.agg(F.sum("n_docs").alias("s")).first().s
    corpus = read_table(spark, SF_DIR, "documents").count()
    assert 0 < kept <= corpus
    assert out.filter(F.col("n_docs") <= 0).count() == 0


# --- min-propagation kernel (graph.min_step / graph.fixpoint) on
# hand-built frames: each expected labelling is worked out by hand.


def _edges(spark, pairs, symmetric=True):
    rows = list(pairs) + ([(d, s) for s, d in pairs] if symmetric else [])
    return spark.createDataFrame(rows, "src long, dst long")


def _vec(spark, labels):
    return spark.createDataFrame(sorted(labels.items()), "node long, label long")


def _labels(df):
    return {r.node: r.label for r in df.collect()}


def _counted(step):
    """``step`` plus a call counter (the number of rounds fixpoint ran)."""
    calls = []

    def wrapped(v):
        calls.append(1)
        return step(v)

    return wrapped, calls


def test_fixpoint_labels_each_component_by_its_minimum(spark):
    """Two components and an isolated pair, ids deliberately out of
    order: every node ends labelled by its component's minimum id, and
    the loop stops at the fixed point well before the cap."""
    from python_sql_etl_project_spark.operators.graph import fixpoint, min_step

    edges = _edges(spark, [(7, 3), (3, 9), (9, 4), (12, 15), (15, 11), (21, 20)])
    nodes = {3, 4, 7, 9, 11, 12, 15, 20, 21}
    step, calls = _counted(lambda v: min_step(edges, v))
    out = _labels(fixpoint(_vec(spark, {n: n for n in nodes}), step, 20))
    assert out == {3: 3, 4: 3, 7: 3, 9: 3, 11: 11, 12: 11, 15: 11, 20: 20, 21: 20}
    # the farthest nodes are 2 hops from their minimum (4 - 9 - 3 and
    # 12 - 15 - 11): two changing rounds, then one that changes nothing
    assert len(calls) == 3


def test_fixpoint_stops_at_the_cap_on_a_long_path(spark):
    """A path longer than ``rounds``: every round still changes labels,
    so the loop must run exactly ``rounds`` rounds — after r rounds node
    i holds min(i, r) hops back, i.e. max(0, i - r)."""
    from python_sql_etl_project_spark.operators.graph import fixpoint, min_step

    edges = _edges(spark, [(i, i + 1) for i in range(9)])
    step, calls = _counted(lambda v: min_step(edges, v))
    out = _labels(fixpoint(_vec(spark, {i: i for i in range(10)}), step, 3))
    assert len(calls) == 3
    assert out == {i: max(0, i - 3) for i in range(10)}


def test_fixpoint_waits_for_a_changing_dst_only_node(spark):
    """Asymmetric edges into node 30, which is in no seed row. Round 1
    gives it 5 (from 5) while 20 arrives with 1, and no SEEDED label
    changes; a changed count that ignored rows without a previous label
    would stop here with 30 → 5. Round 2 lowers 30 to 1 via 20."""
    from python_sql_etl_project_spark.operators.graph import fixpoint, min_step

    edges = _edges(spark, [(5, 30), (1, 20), (20, 30)], symmetric=False)
    seed = _vec(spark, {1: 1, 5: 5})
    one = _labels(fixpoint(seed, lambda v: min_step(edges, v), 1))
    assert one == {1: 1, 5: 5, 20: 1, 30: 5}
    step, calls = _counted(lambda v: min_step(edges, v))
    out = _labels(fixpoint(seed, step, 10))
    assert out == {1: 1, 5: 5, 20: 1, 30: 1}
    assert len(calls) == 3


def test_min_step_with_hop_gives_bfs_distances(spark):
    """``hop=1`` from two sources on the path 0 - 1 - ... - 8: each node
    ends at its hop distance to the nearer source (0 or 5); nodes are
    reached round by round, none is in the seed."""
    from python_sql_etl_project_spark.operators.graph import fixpoint, min_step

    edges = _edges(spark, [(i, i + 1) for i in range(8)])
    step, calls = _counted(lambda v: min_step(edges, v, hop=1))
    out = _labels(fixpoint(_vec(spark, {0: 0, 5: 0}), step, 10))
    assert out == {i: min(i, abs(i - 5)) for i in range(9)}
    # farthest node (8) is 3 hops out: 3 reaching rounds + 1 quiet round
    assert len(calls) == 4


def test_pointer_doubling_step_gives_the_hash_to_min_partition(spark):
    """The pointer-doubling round through the same fixpoint reaches the
    hash-to-min partition — a 16-node path (minimum at one end) plus a
    triangle — in fewer rounds than plain one-hop propagation needs."""
    from python_sql_etl_project_spark.operators.graph import (
        _pd_step,
        fixpoint,
        min_step,
    )

    edges = _edges(
        spark, [(i, i + 1) for i in range(15)] + [(40, 41), (41, 42), (42, 40)]
    )
    seed = _vec(spark, {n: n for n in [*range(16), 40, 41, 42]})
    pd, pd_calls = _counted(lambda v: _pd_step(edges, v))
    htm, htm_calls = _counted(lambda v: min_step(edges, v))
    expected = {**{i: 0 for i in range(16)}, 40: 40, 41: 40, 42: 40}
    assert _labels(fixpoint(seed, pd, 20)) == expected
    assert _labels(fixpoint(seed, htm, 20)) == expected
    assert len(htm_calls) == 16  # 15 hops + the quiet round
    assert len(pd_calls) < len(htm_calls)


def test_multi_source_bfs_converged(spark):
    """The query stops at its fixed point or at BFS_ROUNDS; its census
    must equal an independent plain BFS loop run for BFS_ROUNDS + 1
    rounds (one extra round is the identity at this SF)."""
    from python_sql_etl_project_spark.operators import graph as g

    rows = sorted(_q("graph_multi_source_bfs")(spark, SF_DIR).collect())
    assert rows and rows[0].distance == 0
    assert rows[0].n_nodes == g.BFS_SEEDS
    pairs = g._copurchase_pairs(spark, SF_DIR)
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    dist = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(g.BFS_SEEDS)
        .select(F.col("src").alias("node"), F.lit(0).alias("dist"))
    )
    for _ in range(g.BFS_ROUNDS + 1):
        reached = pairs.join(
            dist.select(F.col("node").alias("src"), "dist"), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    ref = sorted(
        dist.groupBy(F.col("dist").alias("distance"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_part_key"),
        )
        .collect()
    )
    assert rows == ref
