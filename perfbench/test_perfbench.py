"""Tests of the benchmark's own parts: the input generator, the counter
reader and the output checks.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import counters  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
from python_sql_etl_project_spark.load.incremental import LoadResult  # noqa: E402


def test_tables_are_a_function_of_the_seed():
    a, b = datagen.make_tables(7, 0.001), datagen.make_tables(7, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    other = datagen.make_tables(8, 0.001)
    assert not a["lineitem"].equals(other["lineitem"])


def test_pipeline_sources_are_a_function_of_the_seed():
    a = datagen.pipeline_sources(7, 3, clients=400, txn_per_day=1_000)
    b = datagen.pipeline_sources(7, 3, clients=400, txn_per_day=1_000)
    pd.testing.assert_frame_equal(a.clientes, b.clientes)
    pd.testing.assert_frame_equal(a.varios, b.varios)
    assert a.recomendados == b.recomendados
    for x, y in zip(a.transacciones, b.transacciones):
        pd.testing.assert_frame_equal(x, y)
    assert a.truth == b.truth
    # truth matches the sheets: new rows plus a 10% re-send of earlier days
    assert a.truth[0].ignored["fct_transacciones"] == 0
    assert a.truth[1].ignored["fct_transacciones"] == 100
    assert len(a.transacciones[2]) == 1_000 + 200
    c = datagen.pipeline_sources(8, 3, clients=400, txn_per_day=1_000)
    assert a.truth != c.truth


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(run.nproc()))
    session, _ = run.start_session(0.0, str(tmp_path_factory.mktemp("warmup")))
    yield session
    run.stop_session(session)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return datagen.write_tables(str(tmp_path_factory.mktemp("sf")), 3, 0.001)


def _traced(spark, name, sf_dir):
    from python_sql_etl_project_spark import registry

    fn = registry.all_queries()[name]
    with counters.OpTrace(spark, name, run.nproc()) as t:
        df = fn(spark, sf_dir)
        t.mark_call()
        df.write.format("noop").mode("overwrite").save()
    t.values["catalyst_s"] = counters.catalyst_seconds(df)
    return t.values


def test_counters_cover_every_field_for_a_query(spark, sf_dir):
    values = _traced(spark, "q3_shipping_priority", sf_dir)
    assert set(values) == set(counters.FIELDS)
    assert values["jobs"] >= 1 and values["tasks"] >= values["jobs"]
    assert values["executor_run_s"] > 0 and values["catalyst_s"] > 0
    assert values["sink_s"] > 0 and values["call_s"] > 0


def test_counters_cover_every_field_for_a_stream(spark, sf_dir):
    name = "strm_chained_window_rollup"
    values = _traced(spark, name, sf_dir)
    assert set(values) == set(counters.FIELDS)
    # micro-batches run under the stream's own job group: the reader must
    # attribute jobs beyond the ones in the caller's group
    in_group = spark.sparkContext.statusTracker().getJobIdsForGroup(name)
    assert values["jobs"] > len(in_group)
    assert values["executor_run_s"] > 0


def test_query_check_fails_on_a_wrong_result(sf_dir):
    from python_sql_etl_project_spark import registry

    name = "q6_revenue_forecast"
    sql = registry.all_oracles()[name]
    expected = checks.oracle_results(sf_dir, {name: sql})[name]
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    got = con.execute(sql).df()
    con.close()
    assert checks.result_mismatch(got, expected) is None
    tie = got.copy()
    tie.iloc[0, 0] = round(tie.iloc[0, 0] + 0.01, 2)  # rounded to the neighbouring cent
    assert checks.result_mismatch(tie, expected) is None
    wrong = got.copy()
    wrong.iloc[0, 0] = wrong.iloc[0, 0] + 1
    assert checks.result_mismatch(wrong, expected)
    assert checks.result_mismatch(got.iloc[:0], expected)


def test_hd_median_is_the_middle_of_symmetric_values():
    assert run.hd_median([5.0]) == pytest.approx(5.0)
    assert run.hd_median([1.0, 3.0]) == pytest.approx(2.0)
    assert run.hd_median([4.0, 1.0, 2.0, 3.0, 0.0]) == pytest.approx(2.0)
    skewed = [1.0, 1.1, 1.2, 5.0, 9.0]
    assert 1.1 < run.hd_median(skewed) < 5.0


def test_batch_check_fails_on_a_wrong_count():
    src = datagen.pipeline_sources(5, 2, clients=300, txn_per_day=500)
    truth = src.truth[1]
    results = [
        LoadResult(t, truth.inserted[t], truth.ignored[t], True) for t in truth.inserted
    ]
    metrics = {
        "diaria": truth.daily_cents / 100,
        "acumulado_mes": truth.month_cents / 100,
    }
    dist = [
        {"nombre_distribuidor": k, "total_prestamos": v / 100}
        for k, v in truth.by_distributor_cents.items()
    ]
    text = "ACUMULADO MENSUAL: ..."
    assert checks.batch_mismatch(results, metrics, dist, text, truth) is None
    results[-1] = dataclasses.replace(results[-1], inserted=results[-1].inserted + 1)
    assert checks.batch_mismatch(results, metrics, dist, text, truth)
    assert checks.batch_mismatch(
        results[:-1] + [dataclasses.replace(results[-1], inserted=truth.inserted["fct_transacciones"])],
        {**metrics, "diaria": 0},
        dist,
        text,
        truth,
    )
