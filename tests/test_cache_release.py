"""Cache-lifecycle guards for the shingle stage (round 11).

``DataFrame.unpersist()`` does NOT cascade into a subplan cache, so
``finalize_unpersist(out, shingles(...))`` was a silent no-op for nine
rounds: the inner exploded-shingle block stayed persisted after every
"released" query. :func:`operators.dedup.shingles` now tags the real
persisted handle on its returned frame (``_graft_release``) and
``session.finalize_unpersist`` cascades to it. These tests pin:

* result-sized shingle consumers leave NO corpus-sized cached blocks
  behind (only their own 1-partition result checkpoint may remain);
* under a ``session.Snapshots`` store the stage is the store's untagged
  checkpoint, so a consumer's finalize or release must LEAVE it
  materialized for its siblings (the bench contract).
"""

from __future__ import annotations

import pytest

from python_sql_etl_project_spark import registry
from python_sql_etl_project_spark.operators import dedup
from python_sql_etl_project_spark.session import Snapshots

SF = "/root/testdata/sf0.001"

registry.load_all()

#: result-sized (or doc-grain) cache consumers that must release their
#: persisted intermediates: shingle-stage consumers plus the round-11
#: AST-sweep finds (direct handles left cached behind lazy returns)
RELEASING = [
    "txt_novelty_decay_curve",
    "decon_minhash_train_eval",
    "pipe_incremental_curation",
    "sim_kmeans_codebook",
    "txt_unigram_lm_score",
    "decon_benchmark_ngrams",
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


def test_shared_memo_frame_is_not_released(spark):
    spark.catalog.clearCache()
    with Snapshots(spark):
        sh = dedup.shingles(spark, SF)
        assert not hasattr(sh, "_graft_release")
        sh.count()
        cached_before = {
            rid for rid, p in _persistent_rdds(spark).items() if p > 1
        }
        assert cached_before, "shared stage should be persisted"
        # a releasing consumer runs against the shared snapshot...
        registry.QUERIES["txt_novelty_decay_curve"](spark, SF).count()
        cached_after = {
            rid for rid, p in _persistent_rdds(spark).items() if p > 1
        }
        # ...and must leave it cached for siblings
        assert cached_before <= cached_after
    spark.catalog.clearCache()


#: every pair-/batch-grain query returning a LAZY frame over a persisted
#: stage must tag its caches for caller-managed release (r13: the full
#: tag_release population, closing the r11 #2/#6 ledger item)
PAIR_GRAIN_RELEASING = [
    "dd_shingle_jaccard_pairs",
    "dd_minhash_lsh_pairs",
    "dd_semantic_confirmed_pairs",
    "dd_incremental_minhash",
    "dd_minhash_estimate_audit",
    "dd_containment_pairs",
]


@pytest.mark.parametrize("name", PAIR_GRAIN_RELEASING)
def test_pair_grain_query_supports_caller_managed_release(spark, name):
    """Round 12: pair-grain queries stay lazy and leave the shingle
    cache live (recompute-safety for further actions), but tag it on
    their result so a long-lived caller can free it with
    ``session.release_caches`` after the last action."""
    from python_sql_etl_project_spark.session import release_caches

    spark.catalog.clearCache()
    out = registry.QUERIES[name](spark, SF)
    out.count()
    # the cache is deliberately still live after the action...
    assert not _cache_manager_empty(spark)
    release_caches(out)
    # ...and fully gone once the caller releases it
    assert _cache_manager_empty(spark)
    # idempotent
    release_caches(out)
    assert _cache_manager_empty(spark)


def test_release_is_noop_on_shared_memo_snapshot(spark):
    """Under a Snapshots store the shingle stage belongs to the batch
    driver: the pair-grain result carries no release tag, so a caller's
    release_caches must leave the snapshot materialized for siblings.
    The snapshot is a local checkpoint, which persists its RDD outside
    the CacheManager, so "still cached" is read from the persisted RDDs
    rather than from the CacheManager."""
    from python_sql_etl_project_spark.session import release_caches

    spark.catalog.clearCache()
    with Snapshots(spark):
        snap = {rid for rid, p in _persistent_rdds(spark).items() if p > 1}
        out = registry.QUERIES["dd_shingle_jaccard_pairs"](spark, SF)
        out.count()
        snap = {
            rid for rid, p in _persistent_rdds(spark).items() if p > 1
        } - snap
        assert snap, "shared stage should be persisted"
        assert not hasattr(out, "_graft_release")
        release_caches(out)
        assert snap <= set(_persistent_rdds(spark))
    spark.catalog.clearCache()


def test_cc_clusters_release_shingles_after_edge_checkpoint(spark):
    """dd_duplicate_clusters' edge checkpoint is the shingle cache's
    last reader — the query releases it in-flight (round 12), so even
    this pair-graph consumer leaves no corpus-sized blocks."""
    spark.catalog.clearCache()
    registry.QUERIES["dd_duplicate_clusters"](spark, SF).count()
    assert _cache_manager_empty(spark)
