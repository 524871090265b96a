"""Incremental materialized rollup — the continuous-aggregate refresh.

The 100 TB pattern behind ``ts_hourly_rollup_gapfill``: a dashboard never
re-aggregates history. The rollup table is materialized once, and each
refresh aggregates ONLY the hours not yet present, appending them — the
same anti-join-then-append discipline as the row-level incremental load
(``load/incremental.py``), lifted to aggregate grain.

Closed-hour semantics: the *current* (maximum) event hour is never
materialized — events for it may still be arriving, and an appended
aggregate row is immutable. Each refresh therefore covers
``(last materialized hour, max complete hour]``; re-running with no new
data appends nothing (idempotent), and new landing data extends the
rollup forward without touching existing rows.

Late data (events landing for hours at or below the high-water mark) is
by design outside the refresh predicate; :func:`reconcile_hourly_rollup`
is the detection path — a bounded trailing-window recompute that reports
drifted (hour, event_type) rows so operators can re-materialize exactly
those partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_table
from .incremental import Warehouse

ROLLUP_TABLE = "events_hourly_rollup"


def _hourly(events: DataFrame) -> DataFrame:
    return (
        events.select(
            F.date_trunc("hour", "ts").alias("hour"), "event_type", "value"
        )
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def refresh_hourly_rollup(
    spark: SparkSession, sf_dir: str, wh: Warehouse
) -> int:
    """Materialize hours missing from the rollup table; return how many
    (hour, event_type) rows were appended.

    Plan shape: the source scan is FILTERED to hours past the high-water
    mark before aggregation — at scale, with an hour/date-partitioned
    landing zone, that filter prunes partitions and the refresh cost is
    proportional to new data, not history. The open hour is a 1-row
    aggregate of the source, joined back as a filter (a broadcast
    nested-loop join the planner picks unhinted), never collected.
    """
    events = read_table(spark, sf_dir, "events")
    # the current hour is still open — exclude it from materialization
    closed = events.agg(
        F.date_trunc("hour", F.max("ts")).alias("open_hour")
    )
    fresh = events.join(
        closed, F.date_trunc("hour", F.col("ts")) < F.col("open_hour")
    ).drop("open_hour")

    if wh.exists(ROLLUP_TABLE):
        # collect the 1-row scalar and inject it as a LITERAL: the append
        # below targets the same directory the hwm was read from, and a
        # literal severs that read-from-target lineage (a cache-evicted
        # recompute mid-append could otherwise list the directory being
        # written). A scalar collect of a 1-row aggregate, not a data path.
        hwm = wh.read(ROLLUP_TABLE).agg(F.max("hour")).first()[0]
        if hwm is not None:
            fresh = fresh.filter(
                F.date_trunc("hour", F.col("ts")) > F.lit(hwm)
            )

    new_rows = _hourly(fresh).persist()
    n = new_rows.count()
    if n:
        new_rows.write.mode("append").parquet(wh.path(ROLLUP_TABLE))
    new_rows.unpersist()
    return n


def reconcile_hourly_rollup(
    spark: SparkSession, sf_dir: str, wh: Warehouse, last_hours: int = 24
) -> DataFrame:
    """Late-data detection: recompute the trailing ``last_hours``
    materialized hours from source and report every (hour, event_type)
    row whose stored aggregate no longer matches — the signal the
    hwm-only refresh cannot give (events landing for already-materialized
    hours are silently outside its predicate).

    Returns a drift report ``(hour, event_type, n_events_stored,
    n_events_actual, total_value_stored, total_value_actual)``; empty ⇒
    no late data arrived in the window. Bounded by construction: both
    sides scan only ``last_hours`` of history (partition-prunable on an
    hour/date-partitioned landing zone), so the cost is O(window), not
    O(history). The repair path at scale is an overwrite of exactly the
    drifted hour partitions, which stays idempotent.
    """
    stored = wh.read(ROLLUP_TABLE)
    hwm = stored.agg(F.max("hour")).first()[0]
    if hwm is None:
        return _hourly(read_table(spark, sf_dir, "events")).limit(0).select(
            "hour",
            "event_type",
            F.col("n_events").alias("n_events_stored"),
            F.col("n_events").alias("n_events_actual"),
            F.col("total_value").alias("total_value_stored"),
            F.col("total_value").alias("total_value_actual"),
        )
    lo = F.lit(hwm) - F.expr(f"interval {int(last_hours)} hours")
    stored_w = stored.filter(F.col("hour") > lo)
    actual_w = _hourly(
        read_table(spark, sf_dir, "events").filter(
            (F.date_trunc("hour", F.col("ts")) > lo)
            & (F.date_trunc("hour", F.col("ts")) <= F.lit(hwm))
        )
    )
    return (
        stored_w.select(
            "hour",
            "event_type",
            F.col("n_events").alias("n_events_stored"),
            F.col("total_value").alias("total_value_stored"),
        )
        .join(
            actual_w.select(
                "hour",
                "event_type",
                F.col("n_events").alias("n_events_actual"),
                F.col("total_value").alias("total_value_actual"),
            ),
            ["hour", "event_type"],
            "full_outer",
        )
        .filter(
            ~(
                F.col("n_events_stored").eqNullSafe(F.col("n_events_actual"))
                & F.col("total_value_stored").eqNullSafe(
                    F.col("total_value_actual")
                )
            )
        )
        .select(
            "hour",
            "event_type",
            "n_events_stored",
            "n_events_actual",
            "total_value_stored",
            "total_value_actual",
        )
    )
