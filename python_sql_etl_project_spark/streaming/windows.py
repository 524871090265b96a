"""Structured Streaming operators over the ``events`` table.

The reference has no streaming at all (SURVEY §2.10) — its closest analog
is the daily-cron batch + incremental append. These operators are the
Spark-native upgrade path the north-star asks for: a **file-source
stream** (``readStream``) over the events parquet, **watermarked
event-time windows** (tumbling / sliding / session), and a **custom
stateful operator** via ``applyInPandasWithState``.

Every query runs the stream to completion with ``Trigger.AvailableNow``
and returns the memory-sink table — so the result is a deterministic
DataFrame the DuckDB oracle can check, making streaming correctness part
of the same hash gate as batch. On a real cluster the identical plan
tails a landing directory / Kafka topic with a periodic or continuous
trigger; ``AvailableNow`` is the batch-replay mode of the same program.

Scale posture: windowed aggregations carry ``withWatermark`` so state is
bounded (late rows beyond the watermark are dropped, state for closed
windows is evicted); the stateful operator keys by user_id (state scales
with distinct keys, not events); shuffle partitions = session setting.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from ..session import read_parquet

def _events_schema(spark: SparkSession, path: str) -> T.StructType:
    """File-stream sources require a user-declared schema; derive it from
    the parquet footer (:func:`..session.parquet_schema`, no Spark job) so
    the stream sees the same physical types the batch path does. ``ts``
    may surface as either a proper TIMESTAMP (µs-encoded files) or a
    raw-ns LongType (ns-encoded files under ``nanosAsLong``) —
    :func:`stream_events` normalizes."""
    return read_parquet(spark, path).schema

SESSION_GAP = "30 minutes"

_STREAM_DIRS: dict[str, str] = {}


def _link_parquet(src: str, dst_dir: str, tag: str) -> None:
    """Symlink a parquet TABLE into a landing dir, file by file.

    ``src`` may be a single .parquet file (the driver-generated
    testdata) or a Spark-written DIRECTORY of part files (the scale
    probe's 8x replicas) — the file stream source lists plain files
    only, so a directory must be staged as links to its data files.
    """
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.symlink(
                    os.path.join(src, f),
                    os.path.join(dst_dir, f"{tag}_{i:04d}.parquet"),
                )
    else:
        os.symlink(src, os.path.join(dst_dir, f"{tag}.parquet"))


def _events_stream_dir(sf_dir: str) -> str:
    """Stage events.parquet behind a directory (the file stream source
    requires a directory to monitor — in production this IS the landing
    directory new files arrive into; testdata is a single static file, so
    symlinks in a temp dir stand in for it)."""
    if sf_dir not in _STREAM_DIRS:
        d = tempfile.mkdtemp(prefix="events_stream_")
        _link_parquet(os.path.join(sf_dir, "events.parquet"), d, "events")
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over events.parquet (ns → µs, like read_table).

    ``landing_dir`` overrides the staged testdata directory (tests use it
    to feed multiple files); ``max_files_per_trigger`` caps batch size so
    a multi-file landing dir yields genuine multi-micro-batch runs.
    """
    src = landing_dir or _events_stream_dir(sf_dir)
    schema = _events_schema(spark, src)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(src)
    if isinstance(schema["ts"].dataType, T.LongType):
        # ns-encoded file read under nanosAsLong: integer-divide to µs
        # (a double round-trip would lose precision above 2^53 ns)
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # watermarks require TIMESTAMP (ltz); the session tz is pinned
        # UTC so the cast is value-preserving and DuckDB-consistent
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _stream_state_partitions() -> str:
    """Shuffle-partition count for STATEFUL streaming runs (r13, guide
    §5 / r12-verdict item #1).

    In Structured Streaming every stateful operator instantiates one
    state store PER shuffle partition, and every micro-batch pays a
    per-store commit (the HDFS-backed provider writes a delta file +
    snapshot bookkeeping per store per batch; a stream-stream join
    keeps FOUR stores per partition). That fixed cost scales with the
    partition count, not the data, so partitions must be sized to
    STATE VOLUME, never defaulted to the core count: at 32 partitions
    the bounded AvailableNow replays here paid ~128 store commits per
    batch for state that fits in a handful of MB. Measured paired A/B
    (min-of-3, one session, sf0.1): signup_purchase_leftouter
    7.75→2.92 s, chained_window_rollup 6.09→4.81, session_windows_typed
    2.07→1.41, topk_users 1.15→0.71. The RocksDB provider was A/B'd in
    the same session and measured WORSE at every partition count
    (leftouter 8.67, chained rollup 13.88 — per-instance native setup
    dominates bounded replays); documented as a negative, not adopted.

    The value is a conf/env knob (``SPARK_GRAFT_STREAM_PARTITIONS``)
    so a production deployment sizes it to its own state volume /
    throughput (RocksDB + more partitions is the right posture for
    TB-scale state); the default 8 is the measured optimum for
    snapshot-bounded replays and is NOT tied to the local core count
    (identical at ``local[8]`` and ``local[32]``).
    """
    return os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")


def _run_to_table(
    spark: SparkSession, df: DataFrame, name: str, mode: str
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    ``AvailableNow`` processes everything currently in the source then
    stops — the streaming equivalent of the reference's daily batch. The
    memory sink is driver-local and test-sized by design; production
    sinks are ``writeStream.format("delta"/"parquet"/"kafka")`` with the
    same query body.

    The stream runs with state-volume-sized shuffle partitions (see
    :func:`_stream_state_partitions`); the session conf is restored
    before returning, so batch queries are untouched. Partition count
    never changes streaming RESULTS — aggregations/joins/dedup are
    exact and watermarks derive from global max event time — it only
    sizes the state-store instance count.
    """
    checkpoint = tempfile.mkdtemp(prefix=f"ck_{name}_")
    # The swap is session-global: it assumes no other query runs on this
    # session while the stream does.
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", _stream_state_partitions()
        )
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        # the memory sink holds the rows driver-side; the checkpoint's
        # offsets/commits are dead after termination — reclaim per
        # invocation (bench/contract loops otherwise accumulate one
        # checkpoint dir per streaming query run)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)


@query(
    "strm_tumbling_daily_counts",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def strm_tumbling_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type, with a 1-hour
    watermark. Complete output mode so the single AvailableNow batch
    yields every window; the watermark still bounds state on an unbounded
    run. Partial aggregation happens map-side before the (window, type)
    shuffle — same as batch."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(spark, agg, "strm_tumbling_daily_counts", "complete")


@query(
    "strm_sliding_2d_activity",
    oracle="""
    WITH offs AS (SELECT unnest([0, 1]) AS o),
    expanded AS (
        SELECT date_trunc('day', ts) - o * INTERVAL 1 DAY AS window_start,
               user_id, value
        FROM events, offs
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           CAST((20000 * sum(CAST(round(value * 100) AS BIGINT))
                 + 100 * count(*))
                // (200 * count(*)) AS DOUBLE) / 10000 AS avg_value
    FROM expanded
    GROUP BY 1
    """,
)
def strm_sliding_2d_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows — 2-day length, 1-day slide — global activity
    profile. Each event lands in exactly two windows (the oracle expands
    the same assignment relationally). Watermarked; complete mode.
    (No distinct aggregate here: streaming aggregation cannot hold exact
    per-window distinct sets in bounded state — that's what
    approx_count_distinct / HLL sketches are for at scale.)"""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "2 days", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            # integer half-up 4-dp average — round(avg, 4) on doubles
            # diverges on exact .5 ties across engines (the
            # ts_locf_hourly_value fix, applied to the same ratio here)
            F.expr(
                "CAST((CAST(20000 AS DECIMAL(38,0))"
                " * sum(CAST(round(value * 100) AS BIGINT))"
                " + 100 * count(*)) div (200 * count(*)) AS DOUBLE)"
                " / 10000"
            ).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
            "avg_value",
        )
    )
    return _run_to_table(spark, agg, "strm_sliding_2d_activity", "complete")


@query(
    "strm_session_windows",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL {SESSION_GAP}
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    islands AS (
        -- the islands sum MUST ride the same (ts, event_id) key the lag
        -- used: ordering by prev_ts would sort the partition-opening row
        -- (prev_ts NULL → NULLS LAST in DuckDB) AFTER a tied peer and
        -- split one session in two when the first two events share a ts.
        SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS session_no
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {SESSION_GAP} AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM islands
    GROUP BY user_id, session_no
    """,
)
def strm_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user sessions closed by a {SESSION_GAP} gap
    (``F.session_window`` — Spark's native merging session state). The
    oracle derives identical sessions with a gaps-and-islands window
    chain; Spark's session end is last-event + gap, mirrored in SQL.
    State is per (user, open session) and evicted at watermark — the
    bounded-state sessionization a 100 TB event stream needs."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(spark, agg, "strm_session_windows", "complete")


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

_STATEFUL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _user_profile_update(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: running per-user activity profile.

    State survives across micro-batches (count / sum / max per user), so
    on a live stream each trigger emits the user's updated lifetime
    profile — the accumulator pattern ``applyInPandasWithState`` exists
    for, which windowed aggregation cannot express.
    """
    (user_id,) = key
    n, total, vmax = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        vmax = max(vmax, float(pdf["value"].max()))
    state.update((n, total, vmax))
    yield pd.DataFrame(
        [(user_id, n, round(total, 4), round(vmax, 4))],
        columns=["user_id", "n_events", "total_value", "max_value"],
    )


@query(
    "strm_stateful_user_profile",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def strm_stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via ``applyInPandasWithState``:
    per-user lifetime profile maintained in explicit GroupState, keyed by
    user_id (state size = distinct users, not events). AvailableNow
    replays the whole source, so the emitted profiles equal the batch
    aggregate — which is exactly what the oracle checks."""
    profiles = user_profile_stream(stream_events(spark, sf_dir))
    return _run_to_table(spark, profiles, "strm_stateful_user_profile", "update")


def user_profile_stream(ev: DataFrame) -> DataFrame:
    """The stateful per-user profile pipeline over any events stream."""
    return (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_profile_update,
            outputStructType=_STATEFUL_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_incremental_load(
    spark: SparkSession,
    sf_dir: str,
    warehouse,
    table: str = "events_wh",
) -> int:
    """Stream → warehouse: PK-idempotent incremental append per micro-batch.

    This fuses the engine's two halves: the reference's anti-join
    incremental load (``/root/reference/src/load.py:20-68``, here
    :meth:`..load.incremental.Warehouse.incremental_append`) applied
    inside ``foreachBatch``, so a (re)played stream never duplicates
    rows — exactly-once at the warehouse level built from at-least-once
    delivery + a PK anti-join. At scale this is the standard
    lakehouse landing pattern (foreachBatch + MERGE); the anti-join
    append is the parquet-only equivalent under the single-writer
    assumption.

    ``warehouse`` must map ``table`` to its key (``pk_map={table:
    "event_id"}``): without one the append is not idempotent. Returns the
    number of rows inserted across all batches.
    """
    if table not in warehouse.pk_map:
        raise ValueError(f"warehouse has no primary key for {table}")
    inserted = {"n": 0}

    def load_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = warehouse.incremental_append(batch_df, table)
        inserted["n"] += max(res.inserted, 0)

    ck = tempfile.mkdtemp(prefix="ck_incr_")
    try:
        q = (
            stream_events(spark, sf_dir)
            .writeStream.foreachBatch(load_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return inserted["n"]


@query(
    "strm_signup_purchase_join",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_event_id,
           p.event_id AS purchase_event_id,
           s.ts AS signup_ts,
           p.ts AS purchase_ts
    FROM events s JOIN events p
      ON p.user_id = s.user_id
     AND s.event_type = 'signup'
     AND p.event_type = 'purchase'
     AND p.ts >= s.ts
     AND p.ts <= s.ts + INTERVAL 1 DAY
    """,
)
def strm_signup_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases matched to any signup by
    the same user within the preceding day. BOTH sides are watermarked
    and the join condition carries an explicit event-time bound — the
    two things that let Spark evict join state (a signup older than
    watermark + 1 day can never match again). Unbounded stream-stream
    joins without a time bound grow state forever; this is the shape
    that survives. Append mode; AvailableNow replays the source, so the
    result equals the batch interval join the oracle runs."""
    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = s.join(
        p,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 DAY")),
    ).select(
        "user_id",
        "signup_event_id",
        "purchase_event_id",
        "signup_ts",
        "purchase_ts",
    )
    return _run_to_table(spark, joined, "strm_signup_purchase_join", "append")


_DUP_STREAM_DIRS: dict[str, str] = {}


def _events_dup_stream_dir(sf_dir: str) -> str:
    """Landing dir with the events file staged TWICE — an at-least-once
    delivery simulation (the same batch redelivered), so the dedup
    operator has real duplicates to drop across micro-batches."""
    if sf_dir not in _DUP_STREAM_DIRS:
        d = tempfile.mkdtemp(prefix="events_dup_stream_")
        src = os.path.join(sf_dir, "events.parquet")
        _link_parquet(src, d, "events_a")
        _link_parquet(src, d, "events_b")
        _DUP_STREAM_DIRS[sf_dir] = d
    return _DUP_STREAM_DIRS[sf_dir]


@query(
    "strm_dedup_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def strm_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under at-least-once delivery: the landing
    directory carries every event TWICE (redelivered batch), processed as
    two micro-batches (``maxFilesPerTrigger=1``);
    ``dropDuplicatesWithinWatermark`` on event_id drops the replay —
    including across batch boundaries, the case a per-batch ``distinct``
    misses — and the downstream aggregate sees each event exactly once.
    The oracle is the single-copy batch aggregate: dedup worked iff the
    hash matches it.

    State posture at scale: dedup state is keyed by event_id but evicted
    once the watermark passes an id's event time, so state is bounded by
    the delay tolerance (1 hour), not the stream's lifetime.
    """
    ev = stream_events(
        spark,
        sf_dir,
        landing_dir=_events_dup_stream_dir(sf_dir),
        max_files_per_trigger=1,
    )
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return _run_to_table(spark, agg, "strm_dedup_events", "complete")


@query(
    "strm_scd2_foreachbatch",
    oracle="""
    WITH log AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
               lag(o_orderstatus) OVER w AS prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus
        FROM log WHERE prev IS NULL OR o_orderstatus <> prev
    )
    SELECT o_custkey AS custkey,
           o_orderstatus AS status,
           strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
           strftime(lead(o_orderdate) OVER w2, '%Y-%m-%d') AS effective_to,
           CASE WHEN lead(o_orderdate) OVER w2 IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def strm_scd2_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lakehouse landing → SCD2 dimension: the orders change
    log arrives as a file stream in three chronological micro-batches
    (``maxFilesPerTrigger=1``), and each batch is merged into the
    versioned dimension with :func:`..load.scd.scd2_merge` inside
    ``foreachBatch`` — the foreachBatch+MERGE pattern every Delta/Iceberg
    ingestion job runs. The oracle is the ONE-SHOT windowed history SQL:
    the streaming fold must hash-match the batch build exactly (the same
    fold==one-shot law ``tests/test_scd2.py`` pins for the batch
    operator, here enforced end-to-end through a real stream).

    Batch-ordering contract: SCD2 folding requires chronologically
    ordered batches; the landing stage writes date-range files with
    strictly increasing mtimes (``os.utime``) because the file source
    schedules oldest-first. A production stream gets the same guarantee
    from its log (Kafka partitions / CDC LSN order).

    State posture at scale: the dimension state lives in the lakehouse
    table, not in stream memory — each batch's merge shuffles on the
    dimension key only; ``localCheckpoint`` stands in for the table
    rewrite a Delta MERGE would do.
    """
    from ..load.scd import scd2_merge
    from ..session import read_table

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        F.col("o_orderkey").alias("tb"),
    )
    landing = tempfile.mkdtemp(prefix="orders_scd_stream_")
    ck = tempfile.mkdtemp(prefix="ck_scd2_")
    try:
        cuts = [
            ("", "1994-06-01"),
            ("1994-06-01", "1996-06-01"),
            ("1996-06-01", "~"),
        ]
        t0 = 1_000_000_000
        for i, (lo, hi) in enumerate(cuts):
            part = (
                o.filter((F.col("d") >= lo) & (F.col("d") < hi))
                if hi != "~"
                else o.filter(F.col("d") >= lo)
            )
            tmp = os.path.join(landing, f"_stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            dst = os.path.join(landing, f"batch_{i:03d}.parquet")
            os.rename(os.path.join(tmp, src), dst)
            # file source schedules oldest-mtime-first: make order explicit
            os.utime(dst, (t0 + i, t0 + i))

        schema = read_parquet(
            spark, os.path.join(landing, "batch_000.parquet")
        ).schema
        state: dict[str, DataFrame | None] = {"dim": None}

        def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
            merged = scd2_merge(
                state["dim"], batch_df, "custkey", ["status"], "d", tiebreak="tb"
            )
            # eager materialization = the micro-batch's table commit; also
            # truncates lineage so state doesn't deepen per batch
            state["dim"] = merged.localCheckpoint(eager=True)

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the folded dimension is an eager localCheckpoint — independent
        # of the staged batches; reclaim both dirs before returning
        shutil.rmtree(landing, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    assert state["dim"] is not None
    return state["dim"].select(
        "custkey", "status", "effective_from", "effective_to", "is_current"
    )


#: Static funnel-stage dimension for the stream-static enrich join:
#: (event_type, funnel_stage, weight). One tuple list renders both the
#: Spark literal DataFrame and the oracle's VALUES clause, so the two
#: sides cannot drift.
FUNNEL_DIM: tuple[tuple[str, str, int], ...] = (
    ("signup", "acquisition", 3),
    ("view", "engagement", 1),
    ("click", "engagement", 2),
    ("purchase", "conversion", 5),
    ("error", "ops", 0),
)


def _funnel_dim_values_sql() -> str:
    return ", ".join(f"('{t}', '{s}', {w})" for t, s, w in FUNNEL_DIM)


@query(
    "strm_static_dim_enrich",
    oracle=f"""
    WITH dim(event_type, funnel_stage, weight) AS (
        VALUES {_funnel_dim_values_sql()}
    )
    SELECT d.funnel_stage,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,6)) * d.weight), 4)
                AS DOUBLE) AS weighted_value
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY 1
    """,
)
def strm_static_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming lookup
    pattern the families above don't cover (tumbling/sliding/session are
    pure aggs, ``strm_signup_purchase_join`` is stream-STREAM): each
    streaming event is enriched against a static broadcastable dimension
    (funnel stage + weight per event type) and rolled up per stage. In
    Structured Streaming a static side is re-broadcast per micro-batch
    automatically (and may be swapped between batches for slowly-changing
    dims); no state or watermark is needed for the join itself — only
    the downstream aggregation holds (tiny, per-stage) state. Weighted
    sums run in DECIMAL so micro-batch accumulation order is exact.
    """
    dim = spark.createDataFrame(
        list(FUNNEL_DIM), "event_type string, funnel_stage string, weight int"
    )
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("funnel_stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)") * F.col("weight")), 4
            )
            .cast("double")
            .alias("weighted_value"),
        )
    )
    return _run_to_table(spark, agg, "strm_static_dim_enrich", "complete")


@query(
    "strm_cdc_apply",
    oracle="""
    SELECT CASE WHEN c_custkey % 13 = 0 THEN 'SEG_U2'
                WHEN c_custkey % 7 = 0 THEN 'SEG_U1'
                ELSE c_mktsegment END AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS key_checksum
    FROM customer
    WHERE c_custkey % 11 <> 0
    GROUP BY 1
    """,
)
def strm_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application — the change-data-capture ingestion pattern
    (Debezium/DMS-style): an ordered op log (I nsert / U pdate / D elete)
    arrives as a file stream in three chronological micro-batches, and
    ``foreachBatch`` folds each batch into the replica table — upserts
    via :func:`..load.scd.merge_upsert`, deletes via a left-anti join —
    exactly the apply loop a lakehouse CDC sink runs per commit. The log
    is derived deterministically from the customer dim (batch 0 =
    snapshot inserts; batch 1 = segment updates for ``key % 7``;
    batch 2 = updates for ``key % 13`` then deletes for ``key % 11``,
    delete applied last so the one key divisible by both resolves
    identically everywhere). The oracle is the SET-THEORETIC final
    state (one CASE over the source), so the hash gate proves the
    streamed fold converges to the same replica a batch rebuild would
    produce — the correctness contract of any CDC pipeline. State lives
    in the (checkpointed) replica, not stream memory; each batch
    shuffles on the key only.
    """
    from ..load.scd import merge_upsert
    from ..session import read_table

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    b0 = cust.select(
        "c_custkey", F.lit("I").alias("op"), F.col("c_mktsegment").alias("seg")
    )
    b1 = cust.filter("c_custkey % 7 = 0").select(
        "c_custkey", F.lit("U").alias("op"), F.lit("SEG_U1").alias("seg")
    )
    b2 = (
        cust.filter("c_custkey % 13 = 0")
        .select(
            "c_custkey", F.lit("U").alias("op"), F.lit("SEG_U2").alias("seg")
        )
        .unionByName(
            cust.filter("c_custkey % 11 = 0").select(
                "c_custkey",
                F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("seg"),
            )
        )
    )
    landing = tempfile.mkdtemp(prefix="cdc_stream_")
    ck = tempfile.mkdtemp(prefix="ck_cdc_")
    try:
        t0 = 1_000_000_000
        for i, b in enumerate((b0, b1, b2)):
            tmp = os.path.join(landing, f"_stage{i}")
            b.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            dst = os.path.join(landing, f"batch_{i:03d}.parquet")
            os.rename(os.path.join(tmp, src), dst)
            os.utime(dst, (t0 + i, t0 + i))

        schema = read_parquet(
            spark, os.path.join(landing, "batch_000.parquet")
        ).schema
        state: dict[str, DataFrame | None] = {"tbl": None}

        def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
            upserts = batch_df.filter(F.col("op") != "D").select(
                "c_custkey", F.col("seg").alias("c_mktsegment")
            )
            deletes = batch_df.filter(F.col("op") == "D").select("c_custkey")
            tbl = state["tbl"]
            if tbl is None:
                tbl = upserts
            elif not upserts.isEmpty():
                tbl = merge_upsert(
                    tbl, upserts, "c_custkey", ["c_mktsegment"]
                ).drop("merge_action")
            tbl = tbl.join(deletes, "c_custkey", "left_anti")
            # eager materialization = the batch's table commit; truncates
            # lineage so state does not deepen per micro-batch
            state["tbl"] = tbl.localCheckpoint(eager=True)

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # applied table is an eager localCheckpoint — staged batches and
        # checkpoint are dead after termination
        shutil.rmtree(landing, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    assert state["tbl"] is not None
    return state["tbl"].groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("c_custkey").cast("bigint").alias("key_checksum"),
    )


@query(
    "strm_watermark_late_drop",
    oracle="""
    WITH b AS (
        SELECT date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
               date_trunc('day', ts) AS window_start,
               user_id % 3 AS batch, ts
        FROM events
    ),
    wm AS (
        SELECT
          date_trunc('milliseconds', (SELECT max(ts) FROM b WHERE batch = 0))
            - INTERVAL 1 HOUR AS wm2
    ),
    kept AS (
        SELECT window_start FROM b, wm
        WHERE batch <= 1
           OR (batch = 2 AND window_end > wm2)
    )
    SELECT window_start, CAST(count(*) AS BIGINT) AS n_events
    FROM kept GROUP BY 1
    """,
)
def strm_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, exercised through the real
    streaming aggregation engine — the one watermark behavior the
    family's other queries never trigger (their single chronological
    pass keeps everything on time). Here arrival order is decoupled from
    event time: the same events land in three micro-batches sharded by
    ``user_id % 3`` (file-per-batch, mtime-ordered, one file per
    trigger), so batches 1 and 2 deliver events far older than the
    watermark established by batch 0's maximum event time. The engine
    drops exactly the rows whose 1-day window already closed —
    window_end ≤ the effective watermark — and the oracle reconstructs
    that set relationally, so the hash gate pins the drop boundary
    itself.

    The effective watermark was established EMPIRICALLY (probe in this
    round's notes): the engine commits watermark updates one batch late,
    so the watermark active while batch k processes derives from data
    through batch k−2 (batch 1 still runs on the initial watermark;
    batch 2 filters against ms-truncated ``max(ts in batch 0) − 1 h``).
    The oracle encodes exactly that contract — if a Spark upgrade ever
    tightens the propagation to the documented one-batch form, this
    query's hash gate is the tripwire that reports it.

    Update output mode; since per-window counts only grow, the final
    value per window is the max over its emitted updates. State is
    bounded by the watermark (closed windows evict) — the property that
    lets this run forever at production rates.
    """
    from ..session import read_table

    ev_all = read_table(spark, sf_dir, "events").select(
        "ts", "user_id", (F.col("user_id") % 3).alias("batch")
    )
    landing = tempfile.mkdtemp(prefix="late_stream_")
    try:
        t0 = 1_000_000_000
        for i in range(3):
            tmp = os.path.join(landing, f"_stage{i}")
            ev_all.filter(F.col("batch") == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            src = next(
                f for f in os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            dst = os.path.join(landing, f"batch_{i:03d}.parquet")
            os.rename(os.path.join(tmp, src), dst)
            os.utime(dst, (t0 + i, t0 + i))

        ev = stream_events(
            spark, sf_dir, landing_dir=landing, max_files_per_trigger=1
        )
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"), "n")
        )
        updates = _run_to_table(
            spark, agg, "strm_watermark_late_drop", "update"
        )
    finally:
        # the memory sink holds the emitted updates; the staged per-batch
        # corpus copy is dead once the AvailableNow run terminates
        shutil.rmtree(landing, ignore_errors=True)
    return updates.groupBy("window_start").agg(
        F.max("n").cast("bigint").alias("n_events")
    )


@query(
    "strm_signup_purchase_leftouter",
    oracle="""
    WITH s AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'signup'
    ),
    p AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT least(
                 date_trunc('milliseconds', (SELECT max(ts) FROM s)),
                 date_trunc('milliseconds', (SELECT max(ts) FROM p))
               ) - INTERVAL 1 HOUR AS w
    ),
    matched AS (
        SELECT s.user_id, s.event_id AS signup_event_id,
               p.event_id AS purchase_event_id,
               s.ts AS signup_ts, p.ts AS purchase_ts
        FROM s JOIN p
          ON p.user_id = s.user_id
         AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 DAY
    ),
    unmatched AS (
        SELECT s.user_id, s.event_id AS signup_event_id,
               NULL::BIGINT AS purchase_event_id,
               s.ts AS signup_ts, NULL::TIMESTAMP AS purchase_ts
        FROM s, wm
        WHERE s.ts + INTERVAL 1 DAY < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = s.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 DAY
          )
    )
    SELECT * FROM matched
    UNION ALL
    SELECT * FROM unmatched
    """,
)
def strm_signup_purchase_leftouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantic the inner
    join (`strm_signup_purchase_join`) cannot express: a signup that
    never converts must STILL be emitted, but only once the engine can
    PROVE no purchase can arrive anymore. That proof is the watermark:
    a signup's null row is released when the global watermark (the min
    of both sides' per-stream watermarks, ms-truncated, minus the 1 h
    delay) passes the signup's one-day match horizon. Signups inside
    the final watermark window are deliberately withheld — emitting
    them would risk a retraction, which append-mode streams cannot do.
    The oracle reconstructs exactly that partition: matched pairs, plus
    null rows for unmatched signups whose horizon closed
    (``signup_ts + 1 day < watermark``), and NOTHING for unmatched
    signups still inside it — so the hash gate pins the null-emission
    boundary itself.

    The closing emission relies on the engine's terminal no-data
    micro-batch advancing state cleanup after the data batch commits
    its watermark — the same commit-lag machinery
    `strm_watermark_late_drop` pins from the drop side.
    """
    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("event_id").alias("signup_event_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    p = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = s.join(
        p,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr("INTERVAL 1 DAY")
        ),
        "left_outer",
    ).select(
        F.coalesce("user_id", "s_user").alias("user_id"),
        "signup_event_id",
        "purchase_event_id",
        "signup_ts",
        "purchase_ts",
    )
    return _run_to_table(
        spark, joined, "strm_signup_purchase_leftouter", "append"
    )



def _make_spend_processor():
    """Build the typed-state processor for :func:`transform_with_state_profile`.

    Defined in a factory so the ``StatefulProcessor`` import (and the
    protobuf dependency behind its state-server protocol) stays lazy."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserSpendProcessor(StatefulProcessor):
        """Per-user running profile in typed ValueState: event count,
        value total, purchase count. transformWithState's typed-state
        API (vs applyInPandasWithState's single tuple blob) is what
        production stateful pipelines migrate to in Spark 4."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, v DOUBLE, p BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, v, p = 0, 0.0, 0
            if self._agg.exists():
                n, v, p = self._agg.get()
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
                p += int((pdf["event_type"] == "purchase").sum())
            self._agg.update((n, v, p))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(v, 4)],
                    "n_purchases": [p],
                }
            )

        def close(self) -> None:
            pass

    return UserSpendProcessor()


def transform_with_state_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile on the Spark 4
    ``transformWithStateInPandas`` API (SPARK-49564) — the successor to
    ``applyInPandasWithState`` (``strm_stateful_user_profile``) with
    TYPED state handles, timers, and state-schema evolution. Same
    contract as the older op so the two APIs are directly comparable.

    ENVIRONMENT BOUNDARY (like ``multimodal.decode_image``): the
    transformWithState Python state-server protocol requires
    ``google.protobuf``, which this sandbox does not ship, so the
    operator is NOT registered in ``queries()`` — a registration that
    can never pass would poison the driver gate. The capability check
    below raises a clear error without it and the test suite covers the
    gated path via ``importorskip``; on a protobuf-equipped cluster
    this function is driver-contract-shaped (same signature, oracle
    would be the ``strm_stateful_user_profile`` batch aggregate plus a
    purchase count).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf (the state-"
            "server protocol); not available in this environment"
        ) from e
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("n_purchases", T.LongType()),
        ]
    )
    ev = stream_events(spark, sf_dir).select("user_id", "event_type", "value")
    profiles = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_spend_processor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    raw = _run_to_table(
        spark, profiles, "strm_transform_with_state", "update"
    )
    from pyspark.sql.window import Window as _W

    w = F.row_number().over(
        _W.partitionBy("user_id").orderBy(F.desc("n_events"))
    )
    return raw.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn")


@query(
    "strm_replay_idempotent_load",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def strm_replay_idempotent_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE at the WAREHOUSE under at-least-once delivery — the
    sink-side mechanism, complementing ``strm_dedup_events``' state-side
    one (``dropDuplicatesWithinWatermark`` evicts by event time and
    forgets; the PK anti-join against the sink never forgets, which is
    what a REPLAYED pipeline needs after its watermark state is gone):
    the landing directory carries the whole corpus TWICE (a redelivered
    batch), each micro-batch runs the reference's incremental
    anti-join append (`Warehouse.incremental_append` inside
    ``foreachBatch`` — the lakehouse foreachBatch+MERGE pattern), and
    the second delivery inserts zero rows. The oracle aggregates the
    single-copy events table: the hash gate proves the replay left no
    trace.

    Scale shape: per batch one key-only column-pruned scan of the sink
    plus a distributed left-anti join on the PK — state lives in the
    warehouse, not in stream memory; the census collect is
    |event types| rows, and the staged dirs are reclaimed before
    returning (the no-temp-leak rule).
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from ..load.incremental import Warehouse

    table = "events_replay_wh"
    base = _tempfile.mkdtemp(prefix="replay_wh_")
    ck = _tempfile.mkdtemp(prefix="ck_replay_")
    try:
        wh = Warehouse(spark, base, pk_map={table: "event_id"})
        dup_dir = _events_dup_stream_dir(sf_dir)

        def load_batch(batch_df: DataFrame, _batch_id: int) -> None:
            wh.incremental_append(batch_df, table)

        q = (
            stream_events(
                spark, sf_dir, landing_dir=dup_dir, max_files_per_trigger=1
            )
            .writeStream.foreachBatch(load_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = (
            wh.read(table)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .collect()
        )
    finally:
        _shutil.rmtree(base, ignore_errors=True)
        _shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n_events bigint, id_checksum bigint,"
        " total_value double",
    )


#: Gap for the re-keyed (user, event_type) session windows — longer than
#: SESSION_GAP because per-type event streams are sparser than per-user
#: streams (the gap should scale with the keyed stream's inter-arrival
#: time, the standard sessionization knob).
TYPED_SESSION_GAP = "4 hours"

#: Size of the streaming leaderboard maintained in complete mode.
TOPK_USERS = 20


@query(
    "strm_chained_window_rollup",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    )
    SELECT date_trunc('day', h) AS window_start,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS peak_hour_events
    FROM hourly, wm
    WHERE date_trunc('day', h) + INTERVAL 1 DAY <= wm.w
    GROUP BY 1
    """,
)
def strm_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming window aggregation (Spark 3.4+ multi-stateful
    support): a tumbling 1-hour count feeds a second windowed aggregate
    over ``window_time`` that rolls the hours up to daily
    traffic-profile stats (active hours, event mass, peak hour) — the
    two-level rollup a monitoring pipeline runs as ONE streaming query
    instead of a stream plus a batch job over its sink.

    Chained stateful operators require APPEND mode: a day emits only
    once the watermark (max event time − 1 hour) passes its end, so the
    trailing partial day is withheld — the oracle mirrors that emission
    rule exactly (``day_end <= max(ts) − 1 hour``). State is two bounded
    window maps (hours, then days), both evicted at the watermark; at
    100 TB/day the first-level state is ≤ 24 rows per shuffle partition
    and the rollup sees hour-grain rows only — the cheapest possible
    second stage.
    """
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = ev.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("window"), "1 day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("peak_hour_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_hours",
            "n_events",
            "peak_hour_events",
        )
    )
    return _run_to_table(spark, daily, "strm_chained_window_rollup", "append")


@query(
    "strm_topk_users_complete",
    oracle=f"""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT {TOPK_USERS}
    """,
)
def strm_topk_users_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LEADERBOARD — the global top-{TOPK_USERS} most active
    users, maintained by the stream itself: sorting and LIMIT are legal
    in streaming queries ONLY under complete output mode (the sink
    rewrites the whole small result each trigger), which is exactly the
    right trade for a leaderboard — state is one row per user (bounded
    by the key domain, not the stream), and the sink holds k rows.
    Deterministic under ties: rank order is (count DESC, user_id).

    At 100 TB the same query stands, because complete mode re-emits only
    the aggregated state (|users| rows), never the stream; the k-row
    sort is a TakeOrderedAndProject over the aggregate, not a global
    sort of events.
    """
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    topk = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(TOPK_USERS)
    )
    return _run_to_table(spark, topk, "strm_topk_users_complete", "complete")


@query(
    "strm_session_windows_typed",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL {TYPED_SESSION_GAP}
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    islands AS (
        -- same (ts, event_id) key as the lag: see strm_session_windows —
        -- ordering by prev_ts mis-sorts the NULL-prev opening row under
        -- DuckDB's NULLS LAST when the first two events of a key tie on ts.
        SELECT *, sum(new_session) OVER (PARTITION BY user_id, event_type
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS session_no
        FROM flagged
    )
    SELECT user_id, event_type,
           min(ts) AS session_start,
           max(ts) + INTERVAL {TYPED_SESSION_GAP} AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM islands
    GROUP BY user_id, event_type, session_no
    """,
)
def strm_session_windows_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-KEYED session windows — the session-rotation companion to
    ``strm_session_windows``: sessions close per (user, event_type)
    stream with a {TYPED_SESSION_GAP} gap (per-type streams are sparser,
    so the gap is wider — the knob every sessionizer retunes when the
    key changes). Same native merging-session state
    (``F.session_window``), different key and gap, proving the operator
    family is parameterized rather than hard-wired; the oracle derives
    identical islands with the gaps-and-islands chain partitioned on the
    rotated key. State is per (user, type, open session), evicted at the
    watermark — bounded by active keys, not stream length.
    """
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(
            F.session_window("ts", TYPED_SESSION_GAP), "user_id", "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(spark, agg, "strm_session_windows_typed", "complete")
