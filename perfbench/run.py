#!/usr/bin/env python3
"""Engine benchmark: one client, closed loop, one process.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Builds its inputs from ``--seed`` under ``.perfbench/`` in the checkout,
starts the engine's own session (``build_spark`` at ``local[nproc]``,
engine defaults), and drives the engine only through its public
functions: registry queries, or the daily ingest -> star schema ->
incremental load -> report pipeline. Operations repeat in passes for
``--seconds``; every output is checked outside the timed region.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer counters with ``--trace 1`` (see DESIGN.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "python_sql_etl_project_spark"

#: Scale factor of the generated query tables. The registry queries are
#: bound by fixed per-job costs here: per-query times at sf0.001 and
#: sf0.01 differed by less than their run-to-run noise (DESIGN.md).
SF = 0.01

OLAP = [
    # plans.tpch
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "q12_priority_by_linestatus",
    "q14_promo_revenue",
    "q18_large_volume_customers",
    "q21_sole_late_supplier",
    # plans.analytics
    "rollup_status_priority",
    "ref_distributor_report",
    "ref_incremental_antijoin",
    "ref_orphan_repair",
    "win_running_revenue",
    "win_top3_orders_per_customer",
    # plans.advanced
    "asof_last_order_before_event",
    "jn_time_range_join",
    "gsets_nation_status_revenue",
    "funnel_signup_to_purchase",
    "json_props_by_event_type",
    "jn_salted_priority_revenue",
    "agg_price_quantiles",
]
LOOPS_STREAMS = [
    "graph_multi_source_bfs",  # operators.graph
    "dd_duplicate_clusters",  # operators.dedup
    "mm_phash_neardup_pairs",  # operators.multimodal
    "strm_chained_window_rollup",  # streaming.windows
]
#: Daily batches per pass of incremental_load, and their sizes.
LOAD_DAYS = 2
LOAD_CLIENTS = 10_000
LOAD_TXN_PER_DAY = 20_000

#: workload -> (registry queries, or None for the pipeline; passes it
#: always runs). The queries run one cold pass, as a fresh daily process
#: does. Warm passes moved with the shared machine's speed about twice as
#: much as cold ones (DESIGN.md), so a run spends its time on more queries
#: rather than on repeating them.
WORKLOADS = {
    "queries": (OLAP + LOOPS_STREAMS, 1),
    "incremental_load": (None, 1),
}

QUERY_LAYERS = (
    "plans.tpch",
    "plans.analytics",
    "plans.advanced",
    "operators.graph",
    "operators.dedup",
    "operators.multimodal",
    "streaming.windows",
)
PIPELINE_LAYERS = ("sources.ingest", "plans.star_schema", "load.incremental", "report")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def hd_median(xs) -> float:
    """Harrell-Davis estimate of the median: a mean of all the sorted
    values, weighted by a Beta((n+1)/2, (n+1)/2) density over their ranks.
    Unlike the middle value, it does not jump when the middle of a few
    dozen operation times falls in a gap between them."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    per_rank = 200  # midpoint-rule steps per weight
    h = 1 / (n * per_rank)
    density = [math.exp((a - 1) * math.log(t * (1 - t))) for t in ((k + 0.5) * h for k in range(n * per_rank))]
    weights = [sum(density[i * per_rank : (i + 1) * per_rank]) for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


@dataclass
class Op:
    name: str
    wall_s: float
    ok: bool = True
    why: str = ""
    #: layer -> counter -> value (traced runs only)
    layers: dict[str, dict[str, float]] = field(default_factory=dict)


# ------------------------------------------------------------------ session


@dataclass
class Setup:
    import_s: float
    build_s: float
    warmup_s: float

    @property
    def total_s(self) -> float:
        return self.import_s + self.build_s + self.warmup_s


def start_session(import_s: float, scratch: str):
    """``build_spark`` plus a fixed warm-up; returns (spark, Setup).

    The warm-up is the same for every workload: a parquet round trip, a
    join, an aggregate, a window and a sort, so each workload's first
    operation does not also pay for loading and compiling the engine's
    common paths."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from python_sql_etl_project_spark.session import build_spark

    t0 = time.perf_counter()
    spark = build_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    t1 = time.perf_counter()
    path = os.path.join(scratch, "warmup.parquet")
    spark.range(20_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(path)
    facts = spark.read.parquet(path)
    dims = spark.range(97).select(F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
    ranked = facts.join(dims, "k").withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy(F.desc("v")))
    )
    ranked.filter("r <= 3").groupBy("g").agg(F.sum("v"), F.count("*")).orderBy("g").collect()
    t2 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    return spark, Setup(import_s, t1 - t0, t2 - t1)


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ queries


def layer_of(fn) -> str:
    return fn.__module__.removeprefix(PKG + ".")


def run_query(spark, name, fn, sf_dir, trace, cores, expected):
    """One registry query: the call plus its ``noop`` sink, timed; then
    (outside the timing) counters and, when ``expected`` is given, the
    result check."""
    import counters
    from checks import result_mismatch

    op = Op(name, 0.0)
    try:
        if trace:
            with counters.OpTrace(spark, name, cores) as t:
                df = fn(spark, sf_dir)
                t.mark_call()
                df.write.format("noop").mode("overwrite").save()
            op.wall_s = t.values["call_s"] + t.values["sink_s"]
            t.values["catalyst_s"] = counters.catalyst_seconds(df)
            op.layers[layer_of(fn)] = t.values
        else:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            op.wall_s = time.perf_counter() - t0
        if expected is not None:
            why = result_mismatch(df.toPandas(), expected)
            if why:
                op.ok, op.why = False, why
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        op.ok, op.why = False, f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        spark.catalog.clearCache()
    return op


# ----------------------------------------------------------------- pipeline


class Pipeline:
    """The reference's daily job, one batch per operation, into a fresh
    warehouse per pass."""

    def __init__(self, spark, src, json_path, run_dir):
        self.spark = spark
        self.src = src
        self.json_path = json_path
        self.run_dir = run_dir
        self.wh_dir = None

    def new_pass(self, i: int) -> None:
        if self.wh_dir:
            shutil.rmtree(self.wh_dir, ignore_errors=True)
        self.wh_dir = os.path.join(self.run_dir, f"warehouse-{i}")

    def batch(self, day: int, trace: bool) -> Op:
        import counters
        from checks import batch_mismatch
        from python_sql_etl_project_spark.load.incremental import Warehouse
        from python_sql_etl_project_spark.plans.star_schema import build_star_schema
        from python_sql_etl_project_spark.report import format_message, get_sales_data
        from python_sql_etl_project_spark.sources.ingest import (
            read_json_records,
            spark_df_from_pandas,
        )

        spark, src = self.spark, self.src
        sc = spark.sparkContext
        cut = src.cut_dates[day]
        op = Op(f"day{day + 1}", 0.0)
        group = f"day{day + 1}"
        try:
            if trace:
                files_before = counters.dir_files(self.wh_dir)
            t = [time.perf_counter()]
            sc.setJobGroup(f"{group}:sources.ingest", group)
            frames = (
                spark_df_from_pandas(spark, src.clientes),
                spark_df_from_pandas(spark, src.transacciones[day]),
                spark_df_from_pandas(spark, src.varios),
                read_json_records(spark, self.json_path),
            )
            t.append(time.perf_counter())
            sc.setJobGroup(f"{group}:plans.star_schema", group)
            tables = build_star_schema(*frames)
            t.append(time.perf_counter())
            sc.setJobGroup(f"{group}:load.incremental", group)
            wh = Warehouse(spark, self.wh_dir)
            results = wh.load_ordered(tables)
            t.append(time.perf_counter())
            if trace:
                report_exec = counters.next_execution_id(spark)
            sc.setJobGroup(f"{group}:report", group)
            wh.register_views()
            metrics, dist = get_sales_data(spark, cut)
            text = format_message(metrics, dist, cut)
            t.append(time.perf_counter())
            sc.setLocalProperty("spark.jobGroup.id", None)
            op.wall_s = t[-1] - t[0]
            if trace:
                counters.drain_listener_bus(spark)
                tracker = sc.statusTracker()
                for i, layer in enumerate(PIPELINE_LAYERS):
                    op.layers[layer] = {"call_s": t[i + 1] - t[i]}
                load_jobs = tracker.getJobIdsForGroup(f"{group}:load.incremental")
                files_after = counters.dir_files(self.wh_dir)
                op.layers["load.incremental"].update(
                    jobs=len(load_jobs),
                    rows_inserted=sum(max(r.inserted, 0) for r in results),
                    rows_ignored=sum(r.ignored for r in results),
                    files_written=files_after[0] - files_before[0],
                    bytes_written_mb=(files_after[1] - files_before[1]) / counters.MB,
                )
                op.layers["report"]["files_scanned"] = counters.files_read(spark, report_exec)
            why = batch_mismatch(results, metrics, dist, text, src.truth[day])
            if why:
                op.ok, op.why = False, why
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            op.ok, op.why = False, f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.catalog.clearCache()
        return op


# -------------------------------------------------------------------- runs


def measure(run_pass, seconds: float, min_passes: int) -> list[list[Op]]:
    """Repeat passes for ``seconds``: at least ``min_passes``, and another
    only while it is expected to end within the budget."""
    passes: list[list[Op]] = []
    t0 = time.perf_counter()
    while True:
        ts = time.perf_counter()
        passes.append(run_pass(len(passes)))
        last = time.perf_counter() - ts
        if len(passes) >= min_passes and time.perf_counter() - t0 + last > seconds:
            return passes


def layer_metrics(passes: list[list[Op]]) -> dict[str, float]:
    """Per-layer counters: each summed over a pass (``cached_rdds_after``:
    the largest), then the median over passes."""
    per_pass = []
    for ops in passes:
        acc: dict[str, float] = {}
        for op in ops:
            for layer, vals in op.layers.items():
                for k, v in vals.items():
                    key = f"{layer}.{k}"
                    acc[key] = max(acc.get(key, 0), v) if k == "cached_rdds_after" else acc.get(key, 0) + v
        per_pass.append(acc)
    keys = {k for acc in per_pass for k in acc}
    return {k: statistics.median(acc.get(k, 0) for acc in per_pass) for k in keys}


def per_layer_names() -> list[str]:
    import counters

    names = [f"{layer}.{f}" for layer in QUERY_LAYERS for f in counters.FIELDS]
    names += ["session.build_s", "session.warmup_s", "session.peak_rss_mb"]
    names += ["sources.ingest.call_s", "plans.star_schema.call_s"]
    names += [
        f"load.incremental.{f}"
        for f in ("call_s", "jobs", "rows_inserted", "rows_ignored", "files_written", "bytes_written_mb")
    ]
    names += ["report.call_s", "report.files_scanned"]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def run(args) -> dict:
    cores = nproc()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_SHARED_")]:
        del os.environ[k]
    os.environ.pop("SPARK_GRAFT_NO_CHECKPOINT", None)
    import tempfile

    tempfile.tempdir = None
    os.chdir(run_dir)  # anything the engine writes to a relative path lands here

    t_start = t0 = time.perf_counter()
    from python_sql_etl_project_spark import registry

    queries = registry.all_queries()
    import_s = time.perf_counter() - t0

    import datagen
    from checks import oracle_results

    names, min_passes = WORKLOADS[args.workload]
    if names is not None:
        sf_dir = datagen.write_tables(os.path.join(run_dir, "sf"), args.seed, SF)
        oracles = registry.all_oracles()
        expected = oracle_results(sf_dir, {n: oracles[n] for n in names if n in oracles})
    else:
        src = datagen.pipeline_sources(args.seed, LOAD_DAYS, LOAD_CLIENTS, LOAD_TXN_PER_DAY)
        json_path = src.write_json(os.path.join(run_dir, "recomendados.json"))

    prep_s = time.perf_counter() - t_start - import_s
    spark, setup = start_session(import_s, tmp)
    try:
        if names is not None:

            def run_pass(i):
                return [
                    run_query(spark, n, queries[n], sf_dir, args.trace, cores,
                              expected.get(n) if i == 0 else None)
                    for n in names
                ]

        else:
            pipe = Pipeline(spark, src, json_path, run_dir)

            def run_pass(i):
                pipe.new_pass(i)
                return [pipe.batch(d, args.trace) for d in range(LOAD_DAYS)]

        passes = measure(run_pass, args.seconds, min_passes)
        import counters

        rss = (counters.rss_peak_mb(), counters.rss_peak_mb(counters.jvm_pid(spark)))
    finally:
        stop_session(spark)

    ops = [op for p in passes for op in p]
    failed = [op for op in ops if not op.ok]
    for op in failed:
        print(f"FAILED {op.name}: {op.why}", file=sys.stderr)
    makespans = [sum(op.wall_s for op in p) for p in passes]
    # op_p50_s averages each operation over the passes first: with more than
    # one pass, the middle of all times falls between cold and warm ones
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op.name, []).append(op.wall_s)
    if args.trace:
        values = layer_metrics(passes)
        values["session.build_s"] = setup.build_s
        values["session.warmup_s"] = setup.warmup_s
        values["session.peak_rss_mb"] = sum(rss)
        metrics = {n: {"value": values.get(n, 0), "unit": unit_of(n)} for n in per_layer_names()}
    else:
        metrics = {
            "setup_s": setup.total_s,
            "makespan_s": statistics.median(makespans),
            "op_p50_s": hd_median([statistics.mean(v) for v in by_name.values()]),
        }
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "passes": len(passes),
        "prep_s": prep_s,
        "run_s": time.perf_counter() - t_start,
        "makespans_s": makespans,
        "setup_s": (setup.import_s, setup.build_s, setup.warmup_s),
        "rss_mb": rss,
        "ops": [{op.name: round(op.wall_s, 4) for op in p} for p in passes],
    }
    print("detail " + json.dumps(detail), file=sys.stderr)
    return {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found next to {os.path.basename(HERE)}/: nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        result = run(args)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
