"""JDBC warehouse mirror (S4 key scan + S5 SQL-sink append parity).

The reference's load layer talks to Postgres through SQLAlchemy: it reads
the existing primary keys (``/root/reference/src/load.py:13-14``) and
appends new rows with ``to_sql(..., if_exists='append')``
(``/root/reference/src/load.py:58``). This module is the Spark-native
mirror — the same :class:`~.incremental.Warehouse` contract (idempotent
PK-anti-join append, ordered load, failure isolation) over any JDBC
database instead of the parquet lake:

* **S4 key scan** → ``spark.read.jdbc`` with a pushed-down key-only
  projection: the database sends only the PK column, the executors never
  see a full row, and nothing is collected to the driver (unlike the
  reference's driver-side ``set`` of every key).
* **S5 append sink** → ``DataFrameWriter.jdbc(mode='append')``, which
  batches inserts per partition (``batchsize``) — the distributed
  equivalent of ``to_sql``.

Scale notes (100 TB posture): a JDBC source has no split metadata, so
Spark reads it as ONE partition unless told otherwise — pass
``num_partitions`` (with the PK as ``partitionColumn``) to fan the read
out across executors; writes parallelize per input partition already.
The integration tests run against embedded Apache Derby because its
driver ships inside Spark's own classpath — the code path is identical
for Postgres/MySQL given their driver jar.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from .incremental import LoadResult, Warehouse, _observed_count

logger = logging.getLogger(__name__)

#: Embedded Derby — bundled with the Spark distribution (derby-*.jar on
#: the default classpath), so local-mode tests need no extra jars.
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_dir: str) -> str:
    """Connection URL for an embedded Derby database at ``db_dir``
    (created on first use)."""
    return f"jdbc:derby:{db_dir};create=true"


class JdbcWarehouse(Warehouse):
    """The :class:`Warehouse` contract over a JDBC database.

    Storage primitives (``exists`` / ``read`` / ``existing_keys`` /
    ``_write``) are JDBC, and so are the two halves of a table's load:
    a database has no file rename to publish staged files by, so a stage
    caches and counts its new rows and the commit appends them. The
    anti-join, the ordered load with concurrent stages and the
    per-table failure isolation are inherited unchanged.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        driver: str = DERBY_DRIVER,
        num_partitions: int | None = None,
        batchsize: int = 10_000,
    ):
        super().__init__(spark, base_dir=url)
        self.url = url
        self.driver = driver
        self.num_partitions = num_partitions
        self.batchsize = batchsize

    # -- storage primitives -------------------------------------------------

    def _props(self) -> dict[str, str]:
        return {"driver": self.driver}

    def exists(self, table: str) -> bool:
        """JDBC 'table exists' = the schema query succeeds.

        ``spark.read.jdbc`` fetches only metadata at plan time (a
        ``SELECT * WHERE 1=0`` probe), so this costs one round-trip and
        zero rows.
        """
        try:
            self.spark.read.jdbc(self.url, table, properties=self._props())
            return True
        except Exception:
            return False

    def read(self, table: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("driver", self.driver)
        )
        if self.num_partitions:
            pk = self.pk_map.get(table)
            if pk is not None:
                # Fan the scan out: executors issue range-bounded queries
                # on the PK instead of one session streaming every row.
                # Spark's JDBC writer quotes identifiers at CREATE time, so
                # the probe must quote them too (Derby/Postgres fold
                # unquoted names otherwise). Positional access — alias
                # case-folding differs per database.
                bounds = (
                    self.spark.read.jdbc(
                        self.url,
                        f'(SELECT min("{pk}") lo, max("{pk}") hi '
                        f"FROM {table}) b",
                        properties=self._props(),
                    ).first()
                )
                if bounds is not None and bounds[0] is not None:
                    reader = (
                        reader.option("partitionColumn", pk)
                        .option("lowerBound", int(bounds[0]))
                        .option("upperBound", int(bounds[1]) + 1)
                        .option("numPartitions", self.num_partitions)
                    )
        return reader.load()

    def existing_keys(self, table: str, pk: str) -> DataFrame | None:
        """Key-only scan, projection pushed to the database (S4)."""
        if not self.exists(table):
            return None
        return self.read(table).select(pk)

    # -- load halves --------------------------------------------------------

    def _stage(
        self, df: DataFrame, table: str
    ) -> tuple[DataFrame | None, LoadResult]:
        """One ``count()`` of the persisted new rows, observing the source
        on the way: inserted and ignored from one materialization, which
        :meth:`_commit` then appends from the cache. No rows kept → no
        write (P11)."""
        seen, new_rows = self._new_rows(df, table)
        new_rows = new_rows.persist()
        try:
            inserted = new_rows.count()
            total = _observed_count(seen)
        except Exception:
            new_rows.unpersist()
            raise
        if not inserted:
            new_rows.unpersist()
            return None, LoadResult(table, 0, total, True)
        return new_rows, LoadResult(table, inserted, total - inserted, True)

    def _commit(self, rows: DataFrame | None, result: LoadResult) -> LoadResult:
        """Append the staged rows, then release the cache :meth:`_stage`
        made for them."""
        if rows is None:
            return result
        try:
            self._write(rows, result.table)
        finally:
            rows.unpersist()
        return result

    def _clear_staging(self) -> None:
        """Nothing to clear: stages keep their rows in the cache."""

    def _write(self, df: DataFrame, table: str) -> None:
        """Append-mode JDBC write (S5): per-partition batched INSERTs;
        the table is created from the DataFrame schema on first write,
        mirroring ``to_sql(if_exists='append')``."""
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("driver", self.driver)
            .option("batchsize", str(self.batchsize))
            .mode("append")
            .save()
        )

    def write_append(self, df: DataFrame, table: str) -> None:
        """Public raw append (S5) — the sink write WITHOUT the
        idempotent anti-join (use :meth:`incremental_append` for loads
        that may replay). Exists so callers that stage reference data
        into the database (e.g. the federation query) don't reach into
        the private storage primitive."""
        self._write(df, table)


def derby_shutdown(spark: SparkSession, db_dir: str) -> None:
    """Cleanly shut down an embedded Derby database before its storage
    is reclaimed. Derby registers each booted database in the driver
    JVM for the process lifetime; deleting the directory underneath a
    booted instance leaves a zombie registration that can corrupt a
    later database at the same path. Derby signals SUCCESSFUL shutdown
    via SQLException (SQLState 08006) — swallowed here."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection(
            f"jdbc:derby:{db_dir};shutdown=true"
        )
    except Exception:
        pass


@query(
    "src_federated_join",
    oracle="""
    SELECT r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(14,2))), 2)
                AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
)
def src_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated query — dims served by a LIVE DATABASE, fact from the
    parquet lake, joined in one plan: nation and region are loaded into
    embedded Derby and read back over ``spark.read.jdbc``, then joined
    to the parquet customer fact. This is the reference's actual
    topology (its dims live in Postgres, ``/root/reference/src/load.py``)
    expressed as a federation instead of an export: no copy step, the
    database stays the system of record, and the lake query sees it
    through the same DataFrame algebra.

    Scale shape: the JDBC dims are KB-sized → Spark broadcasts them, so
    the parquet side never shuffles; a fact-sized JDBC table would
    instead use the PK-range parallel read above. The oracle joins the
    parquet originals — a hash match proves the DB round-trip preserved
    every key and name.
    """
    import os
    import shutil
    import tempfile

    from ..session import read_table

    # Derby must CREATE the db path itself: point it at a fresh subdir
    # of a held tempdir (no mkdtemp-then-rmtree TOCTOU on the db path)
    parent = tempfile.mkdtemp(prefix="fed_derby_")
    db_dir = os.path.join(parent, "db")
    try:
        wh = JdbcWarehouse(spark, derby_url(db_dir))
        nation = read_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        region = read_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name"
        )
        wh.write_append(nation, "fed_nation")
        wh.write_append(region, "fed_region")
        n_db = wh.read("fed_nation")
        r_db = wh.read("fed_region")
        cust = read_table(spark, sf_dir, "customer").select(
            "c_nationkey", "c_acctbal"
        )
        from pyspark.sql import functions as F

        rows = (
            cust.join(
                n_db,
                cust.c_nationkey == n_db.n_nationkey,
            )
            .join(
                r_db,
                n_db.n_regionkey == r_db.r_regionkey,
            )
            .groupBy(F.col("r_name").alias("region"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_customers"),
                F.round(
                    F.sum(F.col("c_acctbal").cast("decimal(14,2)")), 2
                )
                .cast("double")
                .alias("total_acctbal"),
            )
            .collect()
        )
    finally:
        # |regions| rows are materialized above; shut the embedded
        # database down BEFORE reclaiming its storage (zombie driver-JVM
        # registration otherwise), then drop the tempdir — no temp leak
        derby_shutdown(spark, db_dir)
        shutil.rmtree(parent, ignore_errors=True)
    return spark.createDataFrame(
        rows, "region string, n_customers bigint, total_acctbal double"
    )
