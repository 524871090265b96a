"""Incremental load idempotency + report SQL parity (SURVEY §5.2 items 2-3)."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from python_sql_etl_project_spark.load import incremental
from python_sql_etl_project_spark.load.incremental import (
    STAGING,
    LoadResult,
    Warehouse,
)
from python_sql_etl_project_spark.plans.star_schema import build_star_schema
from python_sql_etl_project_spark.report import format_message, get_sales_data
from python_sql_etl_project_spark.sources.ingest import spark_df_from_pandas

from . import fixtures
from .test_cache_release import _cache_manager_empty, _persistent_rdds


def _tables(spark):
    return build_star_schema(
        spark_df_from_pandas(spark, fixtures.clientes_pdf()),
        spark_df_from_pandas(spark, fixtures.transacciones_pdf()),
        spark_df_from_pandas(spark, fixtures.varios_pdf_normal()),
        spark_df_from_pandas(spark, fixtures.recomendados_records()),
    )


@pytest.fixture(scope="module")
def loaded_warehouse(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("warehouse")))
    results = wh.load_ordered(_tables(spark))
    return wh, results


def test_first_load_inserts_everything(loaded_warehouse):
    _, results = loaded_warehouse
    by_table = {r.table: r for r in results}
    assert all(r.ok for r in results)
    assert by_table["fct_transacciones"].inserted == 5
    assert by_table["dim_sedes"].inserted == 2
    assert by_table["dim_tipo_transaccion"].inserted == 3
    assert by_table["dim_clientes"].inserted == 4
    assert by_table["dim_distribuidores"].inserted == 3


def test_rerun_is_idempotent(spark, loaded_warehouse):
    """Re-running the load inserts nothing (PK anti-join, load.py:47-62)."""
    wh, _ = loaded_warehouse
    results2 = wh.load_ordered(_tables(spark))
    assert all(r.ok for r in results2)
    assert all(r.inserted == 0 for r in results2)
    assert {r.table: r.ignored for r in results2}["fct_transacciones"] == 5
    assert wh.read("fct_transacciones").count() == 5


def test_incremental_batch_appends_only_new(spark, loaded_warehouse):
    wh, _ = loaded_warehouse
    batch = _tables(spark)["fct_transacciones"]
    # simulate next day's batch: 1 known id + nothing else changed
    result = wh.incremental_append(batch.limit(5), "fct_transacciones")
    assert result.inserted == 0 and result.ignored == 5


def _sedes(spark, ids):
    return spark.createDataFrame(
        [(i, f"sede {i}") for i in ids], "id_sede int, nombre_sede string"
    )


def _data_files(path):
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def test_append_materializes_source_once(spark, tmp_path):
    """One action per table: the source runs once, however many counts
    the result reports, because both counts are observed on the write
    itself."""
    acc = spark.sparkContext.accumulator(0)

    def passes(_name):
        acc.add(1)
        return True

    seen = F.udf(passes, "boolean")
    wh = Warehouse(spark, str(tmp_path))
    assert wh.incremental_append(_sedes(spark, range(3)), "dim_sedes").ok
    before = wh.read("dim_sedes").count()

    # on a non-key column: a key predicate would be copied to the
    # existing-key side of the join by constraint inference
    source = _sedes(spark, range(8)).filter(seen("nombre_sede"))
    result = wh.incremental_append(source, "dim_sedes")
    assert acc.value == 8
    assert result == LoadResult("dim_sedes", 5, 3, True)
    assert wh.read("dim_sedes").count() - before == result.inserted


def _staged(wh):
    """What stages left under the warehouse's staging directory."""
    root = os.path.join(wh.base_dir, STAGING)
    return os.listdir(root) if os.path.isdir(root) else []


def test_load_ordered_commits_in_fk_order_and_isolates_failures(
    spark, tmp_path
):
    """Stages (and their writes) run concurrently, yet commits keep the
    reference's parent → child → fact order (main.py:72-94); a stage
    that raises fails only its own table and leaves no staging behind;
    worker-thread jobs stay in the caller's job group."""
    sc = spark.sparkContext

    def boom(_key):
        raise ValueError("stage failure")

    tables = _tables(spark)
    tables["dim_distribuidores"] = tables["dim_distribuidores"].filter(
        F.udf(boom, "boolean")("id_distribuidor")
    )
    wh = Warehouse(spark, str(tmp_path))
    committed = []
    commit = wh._commit

    def record(staging, result):
        committed.append(result.table)
        return commit(staging, result)

    wh._commit = record
    jsc = sc._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        it = jsc.statusStore().jobsList(None).iterator()
        ids = set()
        while it.hasNext():
            ids.add(int(it.next().jobId()))
        return ids

    group = "load-ordered-contract"
    before = job_ids()
    sc.setJobGroup(group, group)
    try:
        results = wh.load_ordered(tables)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    order = [t for t in tables if t != "dim_distribuidores"]
    assert committed == order
    assert [r.table for r in results] == list(tables)
    by_table = {r.table: r for r in results}
    assert by_table["dim_distribuidores"] == LoadResult(
        "dim_distribuidores", 0, 0, False
    )
    assert all(by_table[t].ok for t in order)
    assert by_table["fct_transacciones"].inserted == 5
    assert by_table["dim_clientes"].inserted == 4
    assert not wh.exists("dim_distribuidores")
    assert _staged(wh) == []

    new_jobs = job_ids() - before
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    # one staged write per table, at least, ran on the worker threads
    assert len(new_jobs) >= len(tables)
    assert new_jobs <= in_group


def test_stage_failure_after_its_write_removes_its_staging(
    spark, tmp_path, monkeypatch
):
    """A stage that raises once its write has landed deletes the staged
    files: nothing is published, and no staging is left behind."""

    def lost(_obs):
        raise RuntimeError("metrics lost")

    monkeypatch.setattr(incremental, "_observed_count", lost)
    wh = Warehouse(spark, str(tmp_path))
    assert wh.incremental_append(_sedes(spark, range(3)), "dim_sedes") == (
        LoadResult("dim_sedes", 0, 0, False)
    )
    assert not wh.exists("dim_sedes")
    assert _staged(wh) == []


def test_load_ordered_clears_staging_of_a_crashed_load(spark, tmp_path):
    """Files a crashed load left in staging are deleted, never published."""
    wh = Warehouse(spark, str(tmp_path))
    orphan = os.path.join(wh.base_dir, STAGING, "dim_sedes-crashed")
    os.makedirs(orphan)
    _sedes(spark, range(10, 14)).write.parquet(os.path.join(orphan, "rows"))

    assert wh.load_ordered({"dim_sedes": _sedes(spark, range(3))}) == [
        LoadResult("dim_sedes", 3, 0, True)
    ]
    assert _staged(wh) == []
    assert sorted(r.id_sede for r in wh.read("dim_sedes").collect()) == [0, 1, 2]


def test_load_ordered_leaves_no_cache(spark, tmp_path):
    """No table's load caches anything: no persisted RDD and no
    CacheManager entry exist while a table commits, nor after the load."""
    spark.catalog.clearCache()
    before = set(_persistent_rdds(spark))
    wh = Warehouse(spark, str(tmp_path))
    cached = {}
    commit = wh._commit

    def record(staging, result):
        cached[result.table] = (
            set(_persistent_rdds(spark)) - before,
            _cache_manager_empty(spark),
        )
        return commit(staging, result)

    wh._commit = record
    assert all(r.ok for r in wh.load_ordered(_tables(spark)))
    assert cached == {t: (set(), True) for t in _tables(spark)}
    assert set(_persistent_rdds(spark)) <= before
    assert _cache_manager_empty(spark)


@pytest.fixture(params=["broadcast", "shuffle"])
def join_posture(request, spark):
    """Both anti-join strategies: under a shuffled join, adaptive
    execution prunes an empty source out of the plan, observation and
    all."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param == "shuffle":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, prev)


def test_empty_source_guard(spark, tmp_path, join_posture):
    """P11: an empty source loads nothing and writes nothing — no table
    directory on a first load, no schema-only file on an existing one."""
    empty = _sedes(spark, [])
    wh = Warehouse(spark, str(tmp_path))
    assert wh.load_ordered({"dim_sedes": empty}) == [
        LoadResult("dim_sedes", 0, 0, True)
    ]
    assert not os.path.exists(wh.path("dim_sedes"))

    assert wh.incremental_append(_sedes(spark, range(3)), "dim_sedes").ok
    files = _data_files(wh.path("dim_sedes"))
    assert wh.incremental_append(empty, "dim_sedes") == LoadResult(
        "dim_sedes", 0, 0, True
    )
    assert _data_files(wh.path("dim_sedes")) == files


def test_report_queries_and_rendering(spark, loaded_warehouse):
    wh, _ = loaded_warehouse
    wh.register_views()
    metrics, distribuidores = get_sales_data(spark, "2025-06-14")
    # diaria: trx 1001 (100.50) + 1002 (200.25) + 1004 (75.10) on 06-14
    assert metrics["diaria"] == Decimal("375.85")
    # acumulado: month-to-date includes 06-13's 50.00
    assert metrics["acumulado_mes"] == Decimal("425.85")

    by_dist = {r.nombre_distribuidor: r.total_prestamos for r in distribuidores}
    # client 5 unknown → 'Venta Directa' (COALESCE path)
    assert by_dist["Venta Directa"] == Decimal("75.10")
    assert by_dist["Distribuidora Alfa"] == Decimal("300.75")

    text = format_message(metrics, distribuidores, "2025-06-14")
    assert "14 JUN, 2025" in text
    assert "$375.85" in text
    assert "Venta Directa: $75.10" in text


def test_metrics_cut_day_inclusive_deviation(spark, loaded_warehouse):
    """Pin the DELIBERATE divergence from the reference's metrics query
    (``/root/reference/src/bot_ventas.py:44``): the reference compares the
    raw timestamp against midnight of the cut date (``fecha_trx <= %s``),
    so intraday rows ON the cut day fall outside its month-to-date sum and
    its 'diaria' CASE arm can never match them (diaria would be 0 here).
    This engine compares on the DATE cast and includes the full cut day.

    Every 2025-06-14 fixture row is intraday (10:00/11:30/12:00) — exactly
    the case where the two semantics differ — so this test fails if the
    query ever silently reverts to the reference's midnight comparison.
    """
    wh, _ = loaded_warehouse
    wh.register_views()
    metrics, _ = get_sales_data(spark, "2025-06-14")
    # Reference semantics would give diaria=0, acumulado_mes=50.00 (only
    # the 06-13 row survives `ts <= 2025-06-14 00:00:00`).
    assert metrics["diaria"] == Decimal("375.85")
    assert metrics["acumulado_mes"] == Decimal("425.85")


def test_report_orders_by_total_desc(spark, loaded_warehouse):
    wh, _ = loaded_warehouse
    wh.register_views()
    _, distribuidores = get_sales_data(spark, "2025-06-14")
    totals = [float(r.total_prestamos) for r in distribuidores]
    assert totals == sorted(totals, reverse=True)


def test_incremental_curation_manifest_is_conserved(spark):
    """The per-source manifest must partition the batch exactly:
    n_batch == quality_fail + dup_drop + kept per source, and the
    source-level n_batch sums to the true batch size."""
    from python_sql_etl_project_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["pipe_incremental_curation"](spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_batch_true = docs.filter("doc_id % 10 = 0").count()
    assert sum(r.n_batch for r in rows) == n_batch_true
    for r in rows:
        assert r.n_batch == r.n_quality_fail + r.n_dup_drop + r.n_kept
        assert min(r.n_quality_fail, r.n_dup_drop, r.n_kept) >= 0
