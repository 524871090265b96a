"""Lifecycle of the ``session.Snapshots`` store: a stored stage is the
local checkpoint its builder returns, which the store owns, built once
per (sf_dir, stage) and served to every consumer on the session it is
installed on."""

from __future__ import annotations

import pytest

from python_sql_etl_project_spark import registry
from python_sql_etl_project_spark.operators import dedup, graph, similarity
from python_sql_etl_project_spark.session import Snapshots, read_table

registry.load_all()

#: stage → its builder, called with no store installed
STAGES = {
    "edges": lambda spark, sf: graph._copurchase_pairs(spark, sf),
    "lpa_labels": lambda spark, sf: graph._lpa_labels(
        spark, sf, graph._copurchase_pairs(spark, sf)
    ),
    "shingles": lambda spark, sf: dedup.shingles(spark, sf),
    "codebook": lambda spark, sf: similarity._scaled_codebook(
        read_table(spark, sf, "embeddings"), spark, sf
    ),
}


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_stage_builder_returns_a_materialized_frame(spark, sf_dir, stage):
    """A shared stage is materialized once, by its builder: what it
    returns reads checkpointed blocks, not the source tables, so a
    consumer has nothing to cache."""
    plan = STAGES[stage](spark, sf_dir)._jdf.queryExecution().executedPlan()
    assert "Scan parquet" not in plan.toString(), plan.toString()


def test_store_keeps_what_the_builder_returns(spark, sf_dir):
    frame = spark.range(3)
    with Snapshots(spark) as store:
        assert store.get(sf_dir, "any", lambda: frame) is frame
        assert store.get(sf_dir, "any", lambda: spark.range(4)) is frame


def _builds(store, stage):
    return [s for _, s, _ in store.builds].count(stage)


def _rows(name, spark, sf_dir):
    return sorted(map(tuple, registry.QUERIES[name](spark, sf_dir).collect()))


def test_stored_stage_survives_clear_cache(spark, sf_dir):
    """``clearCache()`` drops every CacheManager entry; the stored stage
    is a local checkpoint outside it, so the next consumer reads the same
    materialized rows — no rebuild, no rescan of the documents."""
    cold = _rows("dd_shingle_jaccard_pairs", spark, sf_dir)
    with Snapshots(spark) as store:
        sh = dedup.shingles(spark, sf_dir)
        spark.catalog.clearCache()
        assert dedup.shingles(spark, sf_dir) is sh
        plan = sh._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" not in plan, plan
        assert _rows("dd_shingle_jaccard_pairs", spark, sf_dir) == cold
        assert _builds(store, "shingles") == 1


def test_each_stage_built_once_across_two_consumers(spark, sf_dir):
    pairs = {
        "edges": ("graph_pagerank_3iter", "graph_multi_source_bfs"),
        "lpa_labels": ("graph_label_propagation", "graph_modularity"),
        "shingles": ("dd_shingle_jaccard_pairs", "dd_minhash_lsh_pairs"),
        "codebook": ("sim_ivf_scaled_cells", "sim_ivfpq_search"),
    }
    cold = {n: _rows(n, spark, sf_dir) for names in pairs.values() for n in names}
    with Snapshots(spark) as store:
        for stage, names in pairs.items():
            for n in names:
                assert _rows(n, spark, sf_dir) == cold[n], n
            assert _builds(store, stage) == 1, stage


def test_lpa_query_recomputes_stored_labels(spark, sf_dir):
    """The LPA query's own work is its rounds: it computes them on every
    call, even over stored labels, and publishes them to modularity."""
    cold = _rows("graph_label_propagation", spark, sf_dir)
    with Snapshots(spark) as store:
        _rows("graph_modularity", spark, sf_dir)
        assert _builds(store, "lpa_labels") == 1
        for n in (2, 3):
            assert _rows("graph_label_propagation", spark, sf_dir) == cold
            assert _builds(store, "lpa_labels") == n
        _rows("graph_modularity", spark, sf_dir)
        assert _builds(store, "lpa_labels") == 3
