"""Incremental idempotent load (replaces ``/root/reference/src/load.py``).

The reference pulls every warehouse PK into a driver-side Python set and
filters with ``isin`` (``load.py:13-15,51``) — O(warehouse) driver memory,
the single worst 100 TB anti-pattern in the source system. Here the same
semantics are a distributed ``left_anti`` join against a key-only scan of
the target table: the planner broadcasts the smaller side or shuffles on
the key, the driver never sees a row.

Each table loads in two halves. The *stage* is one Spark action: key
scan, anti-join, and a write of the new rows into a staging directory of
its own, with an ``Observation`` of the source rows and one of the kept
rows riding on that write, so the inserted and ignored counts cost no
job of their own and nothing is cached. The *commit* publishes the
staged files into the table directory by rename, on the driver. Every
action re-plans the whole star-schema lineage, and at daily-batch scale
that planning costs more than the data, so a table costs one action.
:meth:`Warehouse.load_ordered` runs the stages concurrently and the
commits one at a time in FK order.

Warehouse format: parquet directories (one per table) under a base dir —
the fact table partitioned by order date so the report queries get
partition pruning. Commit-by-rename assumes a filesystem where renaming a
file is cheap and atomic (local, HDFS); an object store needs a committer
instead. :mod:`.jdbc` provides the JDBC mirror (S4/S5 parity): the same
contract with JDBC storage primitives and a cache-then-append load.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..operators.relational import anti_join
from ..session import read_parquet

logger = logging.getLogger(__name__)

#: Table → primary key (``/root/reference/src/load.py:30-36``).
PK_MAP = {
    "dim_sedes": "id_sede",
    "dim_tipo_transaccion": "id_tipo_trx",
    "dim_distribuidores": "id_distribuidor",
    "dim_clientes": "id_cliente",
    "fct_transacciones": "id_trx",
}

#: Fact tables get date partitioning → dynamic partition pruning for the
#: report queries (SURVEY §7.2 step 4).
PARTITION_MAP = {"fct_transacciones": ("fecha_trx", "_fecha_dt")}

#: Directory under ``base_dir`` that stages hold their writes in until
#: the commit publishes them.
STAGING = "_staging"


@dataclass
class LoadResult:
    table: str
    inserted: int
    ignored: int
    ok: bool


def _observed_count(obs: Observation) -> int:
    """The single count metric of a fired observation.

    When adaptive execution proves the observed subtree empty at run time
    (an empty source under a shuffled anti-join), it replaces the subtree
    with an empty relation and the observation fires with no metrics at
    all; ``Observation.get`` cannot convert that empty row, so read it
    from the JVM side. No metrics means the source had no rows.
    """
    row = obs._jo.getRow()
    return int(row.getLong(0)) if row.length() else 0


class Warehouse:
    """Parquet warehouse of the ``pk_map`` tables rooted at ``base_dir``."""

    def __init__(self, spark: SparkSession, base_dir: str, pk_map: dict = PK_MAP):
        self.spark = spark
        self.base_dir = base_dir
        self.pk_map = dict(pk_map)

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        """Parquet 'table exists' = committed files under the table root.

        Partitioned tables keep their data files under partition
        subdirectories, so check the _SUCCESS commit marker first and fall
        back to a recursive scan.
        """
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return True
        for _, _, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, table: str) -> DataFrame:
        df = read_parquet(self.spark, self.path(table))
        part = PARTITION_MAP.get(table)
        if part and part[1] in df.columns:
            df = df.drop(part[1])
        return df

    def existing_keys(self, table: str, pk: str) -> DataFrame | None:
        """Key-only scan of the target (S4 analog: ``SELECT pk FROM t``,
        ``/root/reference/src/load.py:13``) — column-pruned at the parquet
        footer, distributed, never collected."""
        if not self.exists(table):
            return None
        return read_parquet(self.spark, self.path(table)).select(pk)

    def incremental_append(self, df: DataFrame, table: str) -> LoadResult:
        """PK-idempotent append (the reference's ``src/load.py:20-68``):
        :meth:`_stage` then :meth:`_commit` for one table.

        Single-writer assumption as in the reference (daily batch); a
        concurrent-writer warehouse would use Delta MERGE instead.
        """
        return self._isolated(table, lambda: self._stage(df, table))

    def load_ordered(self, tables: dict[str, DataFrame]) -> list[LoadResult]:
        """Ordered load with per-table failure isolation
        (the reference's ``src/main.py:72-94``).

        The stages run concurrently, one worker thread per table, so
        their writes overlap: each reads only its own target's keys and
        writes only its own staging directory, so no stage can see
        another table's commit. The commits then run one at a time in the
        order of ``tables`` (parent dims → child dim → fact), each as
        soon as its own stage is done. A failing table, in either half,
        does not stop the rest. Staging left behind by an earlier load
        that crashed is deleted first.

        Workers inherit the caller's local properties and tags (job
        group, scheduler pool), so their jobs stay attributed to the
        caller. Each task gets its own wrapper: a wrapper clones the
        properties once, and threads sharing one clone would overwrite
        each other's SQL execution id.
        """
        self._clear_staging()
        with ThreadPoolExecutor(
            max_workers=max(len(tables), 1), thread_name_prefix="load-stage"
        ) as pool:
            staged = [
                (name, pool.submit(
                    inheritable_thread_target(self.spark)(self._stage), df, name
                ))
                for name, df in tables.items()
            ]
            return [self._isolated(name, fut.result) for name, fut in staged]

    def _new_rows(self, df: DataFrame, table: str) -> tuple[Observation, DataFrame]:
        """The rows of ``df`` whose key is not in ``table`` yet (all of
        them for a new table, or for one without a PK mapping), and an
        observation counting the source rows the first action reads."""
        pk = self.pk_map.get(table)
        if pk is None:
            logger.warning("table %s has no PK mapping; direct append", table)
        seen = Observation()
        source = df.observe(seen, F.count(F.lit(1)))
        existing = self.existing_keys(table, pk) if pk else None
        return seen, source if existing is None else anti_join(source, existing, pk)

    def _stage(self, df: DataFrame, table: str) -> tuple[str | None, LoadResult]:
        """First half of a load: one Spark action, which writes the new
        rows into a staging directory of their own.

        1. key-only scan of existing rows (missing table → everything new)
        2. distributed left-anti join on the PK
        3. one write of the kept rows to ``_staging/<table>-<uuid>``
           (the fact table partitioned by order date), observing the
           source rows on the way in and the kept rows on the way out

        inserted = kept and ignored = seen - kept come from the same
        single materialization that wrote the rows — a nondeterministic
        source cannot make the reported counts disagree with what is
        written, and nothing is cached. A source with no rows keeps none,
        and the staging directory is then deleted, which is the
        empty-source guard (P11): nothing is published, not even a
        schema-only file. A stage that raises deletes its staging
        directory too. Returns the staging directory (``None`` when
        nothing was kept) and the result.
        """
        staging = os.path.join(self.base_dir, STAGING, f"{table}-{uuid.uuid4().hex}")
        seen, new_rows = self._new_rows(df, table)
        kept = Observation()
        try:
            _write(new_rows.observe(kept, F.count(F.lit(1))), table, staging)
            inserted = _observed_count(kept)
            total = _observed_count(seen)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if not inserted:
            shutil.rmtree(staging, ignore_errors=True)
            return None, LoadResult(table, 0, total, True)
        return staging, LoadResult(table, inserted, total - inserted, True)

    def _commit(self, staging: str | None, result: LoadResult) -> LoadResult:
        """Second half of a load: publish the staged files into the table
        directory on the driver, then drop the staging directory.

        Each file keeps its path relative to the staging root (partition
        subdirectories and ``.crc`` checksums included) and is moved by a
        rename; Spark names part files by job, so they never collide with
        earlier appends. The ``_SUCCESS`` marker moves last, so a reader
        never sees the marker before the rows it commits.
        """
        if staging is None:
            return result
        try:
            target = self.path(result.table)
            moves = []
            for root, _, files in os.walk(staging):
                rel = os.path.relpath(root, staging)
                os.makedirs(os.path.join(target, rel), exist_ok=True)
                moves += [os.path.join(rel, f) for f in files]
            moves.sort(key=lambda f: "_SUCCESS" in f)
            for f in moves:
                os.replace(os.path.join(staging, f), os.path.join(target, f))
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return result

    def _clear_staging(self) -> None:
        """Delete what stages of an earlier, crashed load left behind."""
        shutil.rmtree(os.path.join(self.base_dir, STAGING), ignore_errors=True)

    def _isolated(
        self, table: str, stage: Callable[[], tuple[object, LoadResult]]
    ) -> LoadResult:
        """Commit the output of ``stage()``; any failure marks only this
        table failed."""
        try:
            return self._commit(*stage())
        except Exception:
            logger.exception("incremental load failed for %s", table)
            return LoadResult(table, 0, 0, False)

    def register_views(self) -> None:
        for table in self.pk_map:
            if self.exists(table):
                self.read(table).createOrReplaceTempView(table)


def _write(df: DataFrame, table: str, path: str) -> None:
    """Write ``df`` as parquet into the new directory ``path``; the fact
    table gets its date partition column."""
    part = PARTITION_MAP.get(table)
    if part is None:
        df.write.parquet(path)
        return
    src, part_col = part
    df.withColumn(part_col, F.to_date(F.col(src))).write.partitionBy(
        part_col
    ).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and sorted) by its join key.

    Bucketing pre-shuffles data at WRITE time: two tables bucketed on the
    same key with the same bucket count join with NO exchange and (if
    sorted) no sort — the join cost a repeated fact⋈fact query pays once
    instead of per query. This is the co-located-join strategy for keys
    too large to broadcast; at 100 TB it's the difference between a
    full-cluster shuffle per join and a local merge per bucket.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)
