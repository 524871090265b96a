"""SparkSession construction with the engine's pinned semantics.

Replaces the reference's bootstrap (``/root/reference/src/main.py:13-26``)
with one module owning every semantics-bearing config:

* ``spark.sql.ansi.enabled=false`` — the reference's casts are lenient
  (``pd.to_numeric(..., errors='coerce')`` at
  ``/root/reference/src/transform.py:63,114-117,121``): unparseable values
  become NULL, never errors.  Spark 4 defaults ANSI **on**, so this must be
  pinned off explicitly and is load-bearing for cast parity.
* UTC session timezone — testdata parquet carries naive timestamps; UTC
  makes Spark and the DuckDB oracle read identical wall-clock values.
* AQE on (+ coalesce partitions, skew-join) — runtime re-planning is the
  100 TB posture for skewed keys and over-partitioned shuffles.
* Arrow on — every pandas interop (Excel ingest, Pandas UDFs) goes through
  Arrow batches, never per-row pickling.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

#: Shuffle partitions for local mode: match cores, not the 200 default.
#: On a real cluster this is sized so that (input bytes / partitions)
#: stays in the 64-256 MB range, or left to AQE coalescing.
_LOCAL_SHUFFLE_PARTITIONS = "32"


#: SQL confs that carry engine *semantics* (not tuning). These must hold
#: on ANY session executing engine queries — including sessions built by
#: an external harness — so they are (re-)applied at query-call time via
#: :func:`apply_runtime_semantics`. All are runtime-settable.
RUNTIME_SEMANTICS: dict[str, str] = {
    # lenient casts: errors='coerce' parity (Spark 4 defaults ANSI on)
    "spark.sql.ansi.enabled": "false",
    # naive testdata timestamps must read as the same wall-clock in
    # Spark and the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long, convert in
    # read_table()
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_runtime_semantics(spark: SparkSession) -> None:
    """Pin the engine's semantic confs on an externally built session."""
    for k, v in RUNTIME_SEMANTICS.items():
        spark.conf.set(k, v)
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via ``addPyFile`` (idempotent).

    Pandas-UDF / ``mapInPandas`` / ``applyInPandasWithState`` callables
    defined at module level are cloudpickled **by reference** — executors
    must be able to ``import python_sql_etl_project_spark`` to run them.
    On a real cluster that means shipping the package (``--py-files`` /
    ``addPyFile``); an externally built local session whose Python
    workers don't inherit this repo on ``PYTHONPATH`` has the same need.
    The zip is content-addressed (source file sizes+mtimes) so edits in a
    long-lived dev box never serve a stale package.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sql_etl_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    h = hashlib.md5()
    for p in sorted(sources):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, pkg_dir)}:{st.st_size}:{st.st_mtime_ns};".encode())
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(sources):
                z.write(p, os.path.join(pkg_name, os.path.relpath(p, pkg_dir)))
        os.replace(tmp, zpath)  # atomic: concurrent sessions race safely
    sc.addPyFile(zpath)
    sc._sql_etl_pkg_shipped = True


def build_spark(
    app_name: str = "python_sql_etl_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a cluster, leave it unset and let spark-submit
    provide the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- optimizer / execution posture --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # join strategy is the planner's call: a side whose size estimate
        # is under 64 MB is broadcast, a larger one (a growing dim such
        # as customer or part at sf100) is shuffled, and AQE re-plans on
        # runtime sizes. Without column statistics the estimate of a
        # filter or grouped aggregate is the size of the scan under it,
        # so a side small in fact can still outgrow the threshold. A
        # query forces F.broadcast only where its plan changes without
        # the hint, at this threshold or at it scaled to sf100
        # (tests/test_plan_audit.py).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # -- driver hygiene for many-query sessions (r12, guide §5) --
        # The app status store tracks every job/stage/SQL execution even
        # with the UI off; a several-hundred-query batch session
        # accumulates tens of thousands of entries whose retention
        # cleanup churns the driver. Retained windows sized to "recent
        # history only" — a production long-lived driver wants the same.
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "50")
        # -- join posture (r12, guide §3.1/§9; r13 paired A/B: neutral
        # on the sim family — kept as the guide-§9 baseline) --
        # Let the planner and AQE pick shuffled-hash over sort-merge
        # when a build side fits per-partition. Two distinct gates
        # (ADVICE r12): the AQE threshold below checks the ACTUAL
        # per-partition build size at runtime and rewrites SMJ→SHJ only
        # when every partition fits; the static planner gate behind
        # preferSortMergeJoin=false checks total build-side ESTIMATE ×
        # numShufflePartitions — an average, so a skewed build key can
        # still oversize one partition's hash map. AQE skew-join
        # handling (enabled above) splits such partitions for the
        # runtime rewrites; if a statically planned SHJ ever OOMs on a
        # skewed build, scope this conf to the iterative operators
        # instead of the session.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
    )
    for k, v in RUNTIME_SEMANTICS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver testdata table as a temp view named after it.

    Mirrors the reference's dict-of-DataFrames handoff
    (``/root/reference/src/transform.py:128-134``) as catalog views, which
    is the Spark-native equivalent (SURVEY §1.4).
    """
    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _first_data_file(path: str) -> str | None:
    """The first parquet data file under ``path`` in sorted order, skipping
    the names Spark's file index hides (``.*``, and ``_*`` unless it is a
    ``key=value`` partition directory); None when there is none."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d
            for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


@functools.cache
def _parquet_classes(jvm):
    """The JVM classes :func:`parquet_schema` calls, resolved once per
    gateway: each lookup of a class path is a py4j round trip."""
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    return (
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile,
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER,
        jvm.org.apache.parquet.hadoop.Footer,
        pq.ParquetFooterReader,
        pq.ParquetToSparkSchemaConverter,
        pq.ParquetFileFormat,
    )


def parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    parquet footer on the driver; None when ``path`` holds no data file.

    Spark infers a parquet schema with a job that reads a footer on an
    executor, one job per scan. Here the footer of the first data file is
    converted by the session's own converter
    (``ParquetFileFormat.readSchemaFromFooter``), so the result honours
    the same confs (``nanosAsLong``, binary-as-string, NTZ inference) and
    is made nullable as the file source does. The schema is that of the
    data files: partition columns are not in it, and a reader given it
    still discovers them from the directory names. Like Spark without
    ``mergeSchema``, it assumes every file of the table has one schema.
    """
    data_file = _first_data_file(path)
    if data_file is None:
        return None
    Path, InputFile, no_filter, Footer, FooterReader, Converter, Format = (
        _parquet_classes(spark._jvm)
    )
    jsession = spark._jsparkSession
    jpath = Path(data_file)
    meta = FooterReader.readFooter(
        InputFile.fromPath(jpath, jsession.sessionState().newHadoopConf()), no_filter
    )
    converter = Converter(jsession.sessionState().conf())
    schema = Format.readSchemaFromFooter(Footer(jpath, meta), converter)
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def read_parquet(spark: SparkSession, *paths: str):
    """``spark.read.parquet(*paths)`` without the schema-inference job:
    the first path's :func:`parquet_schema`, one footer for all paths as
    in Spark without ``mergeSchema``. A first path with no data file goes
    to the plain read, which raises as it always has."""
    schema = parquet_schema(spark, paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Lazy parquet scan of one testdata table (column-pruned, pushdown-able).

    ``events.ts`` is normalized to TIMESTAMP regardless of the file's
    physical encoding: ns-encoded files surface as a long (via
    ``nanosAsLong``) and are integer-divided to µs (``div`` — a double
    round-trip would lose precision above 2^53 ns, and floor-truncation
    matches DuckDB's read); µs-encoded files surface as TIMESTAMP_NTZ
    and are cast (value-preserving under the pinned UTC session tz).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # µs-encoded files surface as TIMESTAMP_NTZ; time functions
            # (unix_micros, window, watermark) require TIMESTAMP. The
            # session tz is pinned UTC, so the cast is value-preserving
            # and matches DuckDB's naive read of the same column.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def finalize_unpersist(df, *cached):
    """Materialize ``df`` (eager ``localCheckpoint``) and release the
    persisted intermediates ``cached`` that fed it.

    The cache-ownership rule: a function that persists a frame releases
    it before it returns, here or with ``unpersist()``, so what it
    returns holds no CacheManager entry. Spark keeps a persisted subplan
    cached until someone uncaches it, and a caller cannot see a persist
    buried in the plan it was handed. ``DataFrame.unpersist()`` does not
    cascade into a subplan cache, so pass each persisted frame itself.
    Iterative operators (PageRank, HITS, LSH audits) persist a frame
    that every round re-reads; checkpointing the final frame breaks that
    lineage, after which those caches can be dropped at once.

    Trade-off: the checkpoint's blocks are freed when the returned
    DataFrame is garbage-collected, not at an explicit ``unpersist``
    (the same holds for every ``graph.fixpoint`` round); ``bench.py``
    and ``tools/time_query.py`` run a JVM GC before each query.

    ``SPARK_GRAFT_NO_CHECKPOINT=1`` returns the LAZY plan instead (no
    checkpoint, caches kept): the plan-audit tests set it so they can
    inspect the query's REAL physical plan — a checkpoint would truncate
    lineage to a ``LogicalRDD`` scan and hide every join strategy from
    the audit. Never set it in production paths.
    """
    if os.environ.get("SPARK_GRAFT_NO_CHECKPOINT") == "1":
        return df
    out = df.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


class Snapshots:
    """Stages a batch driver builds once per corpus snapshot, keyed by
    ``(sf_dir, stage)``.

    Several query families open with the same derived stage: the
    co-purchase edge list (``edges``), the label-propagation labels
    (``lpa_labels``), the capped shingle set (``shingles``) and the
    scaled IVF codebook (``codebook``). A batch driver running many
    queries over one snapshot (``bench.py``, ``tools/time_query.py
    --shared``) builds each of them once: creating a store installs it
    on the session, and every :func:`snapshot` lookup on that session
    goes through it until :meth:`close`.

    The store keeps what ``build()`` returns: every builder ends in an
    eager ``localCheckpoint``, so a stage is materialized once,
    lineage-free, with or without a store, and no consumer caches it. A
    local checkpoint is not in the CacheManager, so neither
    ``spark.catalog.clearCache()`` nor a consumer's
    :func:`finalize_unpersist` can drop it: the store owns it, and its
    blocks are freed once :meth:`close` has dropped it and the frame is
    garbage-collected. ``builds`` records ``(sf_dir, stage, seconds)``
    for every build, so a driver reports the shared work separately
    from the queries that read it.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._frames: dict = {}
        self.builds: list[tuple[str, str, float]] = []
        spark._graft_snapshots = self

    def __enter__(self) -> "Snapshots":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        """Uninstall from the session and drop every stored stage."""
        if getattr(self._spark, "_graft_snapshots", None) is self:
            del self._spark._graft_snapshots
        self._frames.clear()

    def get(self, sf_dir: str, stage: str, build, fresh: bool = False):
        key = (sf_dir, stage)
        if fresh or key not in self._frames:
            t0 = time.perf_counter()
            self._frames[key] = build()
            self.builds.append((sf_dir, stage, time.perf_counter() - t0))
        return self._frames[key]

    def build_seconds(self, sf_dir: str, stage: str) -> float | None:
        """Total seconds spent building ``stage`` (None if never built)."""
        secs = [t for d, s, t in self.builds if (d, s) == (sf_dir, stage)]
        return round(sum(secs), 3) if secs else None


def snapshot(spark: SparkSession, sf_dir: str, stage: str, build, fresh: bool = False):
    """The stored ``stage`` of ``sf_dir`` when a :class:`Snapshots` store
    is installed on ``spark`` (built on first use), else ``build()``
    untouched — the library default and every correctness run, so a
    query's cold plan and jobs never depend on a store.

    ``fresh=True`` builds even when the stage is stored and replaces it:
    a query whose own work IS the stage (label propagation) computes it
    on every call and publishes the result to later readers."""
    store = getattr(spark, "_graft_snapshots", None)
    if store is None:
        return build()
    return store.get(sf_dir, stage, build, fresh)


def read_table_parallel(spark: SparkSession, sf_dir: str, name: str, key: str):
    """Scan + hash-repartition across all cores before CPU-heavy stages.

    Parquet scan parallelism follows file splits; a compact file yields
    ONE partition, serializing everything downstream (measured 7× on the
    shingle explode: one core doing all the tokenize work). Explicitly
    hash-repartitioning on the row key before expensive per-row expansion
    (tokenize/explode/shingle) is the same move a 1000-executor cluster
    needs when an upstream stage under-partitions — the shuffle moves the
    *narrow* pre-explode rows, which is the cheap side.
    """
    return read_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism, key
    )
