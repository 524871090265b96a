"""Cache-ownership guards: no query leaves a cache behind.

A function that persists a frame releases it before it returns
(``session.finalize_unpersist`` or ``unpersist()``), so the frame a
query returns holds no CacheManager entry. ``DataFrame.unpersist()``
does NOT cascade into a subplan cache, so a persist buried in a
returned plan is a leak its caller cannot see. These tests pin:

* every listed consumer leaves the CacheManager empty after one action
  (its result checkpoint is outside the CacheManager, freed on GC);
* a shared stage is its builder's local checkpoint, which a consumer
  neither caches nor releases: under a ``session.Snapshots`` store it
  must LEAVE it materialized for its siblings (the bench contract).
"""

from __future__ import annotations

import pytest

from python_sql_etl_project_spark import registry
from python_sql_etl_project_spark.operators import dedup
from python_sql_etl_project_spark.session import Snapshots

SF = "/root/testdata/sf0.001"

registry.load_all()

#: cache consumers that must release their persisted intermediates:
#: shingle-stage consumers (result-sized and pair-grain), the round-11
#: AST-sweep finds and the four queries a full noop-sink sweep found
#: leaving a cache behind
RELEASING = [
    "txt_novelty_decay_curve",
    "decon_minhash_train_eval",
    "pipe_incremental_curation",
    "sim_kmeans_codebook",
    "txt_unigram_lm_score",
    "decon_benchmark_ngrams",
    "dd_shingle_jaccard_pairs",
    "dd_minhash_lsh_pairs",
    "dd_semantic_confirmed_pairs",
    "dd_incremental_minhash",
    "dd_minhash_estimate_audit",
    "dd_containment_pairs",
    "txt_tfidf_top_terms",
    "txt_repetition_profile",
    "sim_ivf_topk",
    "sim_ivf_recall_audit",
    # shared-stage consumers: the stage is its builder's checkpoint, and
    # a consumer caches nothing of it
    *sorted(n for n in registry.QUERIES if n.startswith("graph_")),
    "sim_ivf_scaled_cells",
    "sim_ivfpq_search",
    "sim_ivfpq_residual",
]


def _persistent_rdds(spark):
    """{rdd_id: n_partitions} of currently persisted RDDs."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    out = {}
    it = rdds.toList().iterator()
    while it.hasNext():
        t = it.next()
        out[t._1()] = t._2().getNumPartitions()
    return out


def _cache_manager_empty(spark) -> bool:
    """True iff no DataFrame-level caches remain. ``persist()`` registers
    in the CacheManager; ``localCheckpoint`` persists its RDD directly and
    does NOT — so this distinguishes a leaked intermediate cache from the
    query's own (legitimate, GC-freed) result checkpoint."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", RELEASING)
def test_result_sized_consumers_release_shingle_cache(spark, name):
    spark.catalog.clearCache()
    registry.QUERIES[name](spark, SF).count()
    assert _cache_manager_empty(spark), (
        f"{name} left a DataFrame cache behind (its result checkpoint is "
        "fine; a persisted intermediate is the leak)"
    )


@pytest.mark.parametrize(
    "name", ["txt_novelty_decay_curve", "dd_shingle_jaccard_pairs"]
)
def test_shared_memo_frame_is_not_released(spark, name):
    """A result-sized and a pair-grain consumer run against the stored
    shingle stage and must leave it materialized for their siblings.
    The stage is a local checkpoint, which persists its RDD outside the
    CacheManager, so liveness is read from the persisted RDDs — and only
    for the RDD the store build added and holds: checkpoints of earlier,
    unreferenced frames may be garbage-collected mid-test."""
    spark.catalog.clearCache()
    before = set(_persistent_rdds(spark))
    with Snapshots(spark):
        stored = dedup.shingles(spark, SF)._jdf.logicalPlan().rdd().id()
        assert stored in set(_persistent_rdds(spark)) - before, (
            "the store build should persist the shared stage"
        )
        registry.QUERIES[name](spark, SF).count()
        assert stored in _persistent_rdds(spark)
    spark.catalog.clearCache()


def test_cc_clusters_release_shingles_after_edge_checkpoint(spark):
    """dd_duplicate_clusters checkpoints its edge list from the shingle
    stage and iterates over checkpoints, so even this pair-graph
    consumer leaves no cache behind."""
    spark.catalog.clearCache()
    registry.QUERIES["dd_duplicate_clusters"](spark, SF).count()
    assert _cache_manager_empty(spark)
