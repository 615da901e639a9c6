"""Sink operators (SURVEY §2.1 S7-S9).

``write_partitioned_parquet`` is the path sink twin of
``catalog.save_table``; ``Warehouse`` re-expresses the reference's
Postgres-over-JDBC load (Job 2) behind a tiny interface with two
implementations: real JDBC when a driver jar is on the classpath, and a
parquet-directory warehouse otherwise (same create/append semantics, so the
load plan and its tests are environment-independent).  The JDBC existence
probe is one zero-row schema query for every dialect, not the reference's
``pg_catalog.pg_tables`` lookup.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

# column metadata key: the database type JdbcWarehouse creates the column as
JDBC_COLUMN_TYPE = "jdbc_column_type"


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S7 — snappy parquet partitioned by the given keys (DM:358-371).

    Partition columns become directory levels; readers filtering on them get
    partition pruning (F4, PG:83-85).  At 100 TB the partition scheme IS the
    index — year/month keys bound every incremental read to one directory.
    """
    writer = df.write.mode(mode).option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


class Warehouse:
    """Abstract warehouse sink: exists / create / append / read.

    Mirrors Job 2's surface: table existence probe (PG:62-67), first-time
    ``write.jdbc`` create (PG:71, S8), incremental ``mode("append").jdbc``
    (PG:86-88, S9).
    """

    def table_exists(self, table: str) -> bool:
        raise NotImplementedError

    def create(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def append(self, df: DataFrame, table: str) -> None:
        raise NotImplementedError

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise NotImplementedError


class JdbcWarehouse(Warehouse):
    """Real JDBC warehouse (requires a driver jar, e.g. postgresql-*.jar).

    One existence probe for every dialect: resolve the table's schema
    through the reader ``read`` uses.  Spark's JDBC source runs
    ``SELECT * FROM <table> WHERE 1=0`` on the driver, with no Spark job:
    the kind of zero-row query Spark's JDBC writer makes before it creates a
    table, so the probe resolves names (e.g. Postgres ``search_path``) as
    the writer that acts on its answer does.

    A column whose metadata carries ``JDBC_COLUMN_TYPE`` is created with
    that database type (Spark's ``createTableColumnTypes``); Spark ignores
    it once the table exists.

    Executors open parallel connections on write — size
    ``numPartitions``/``batchsize`` for the target DB at scale.
    """

    def __init__(self, spark: SparkSession, url: str, properties: dict | None = None):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})

    def table_exists(self, table: str) -> bool:
        if any(c in table for c in "'\";"):
            raise ValueError(f"suspicious identifier: {table!r}")
        try:
            self.read(self.spark, table)
            return True
        except (Py4JJavaError, PySparkException):
            # any database error reads as "missing", as in Spark's own writer
            # (JdbcUtils.tableExists); a broken connection fails again on create
            return False

    def _write(self, df: DataFrame, table: str, mode: str) -> None:
        types = ", ".join(
            f"{f.name} {f.metadata[JDBC_COLUMN_TYPE]}"
            for f in df.schema.fields
            if JDBC_COLUMN_TYPE in f.metadata
        )
        writer = df.write.mode(mode)
        if types:
            writer = writer.option("createTableColumnTypes", types)
        writer.jdbc(self.url, table, properties=self.properties)

    def create(self, df: DataFrame, table: str) -> None:
        self._write(df, table, "errorifexists")

    def append(self, df: DataFrame, table: str) -> None:
        self._write(df, table, "append")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return (
            spark.read.format("jdbc")
            .options(url=self.url, dbtable=table, **self.properties)
            .load()
        )


class ParquetWarehouse(Warehouse):
    """Filesystem warehouse with JDBC-equivalent create/append semantics.

    Stand-in used when no JDBC driver jar is available (this container);
    the load plan (plans/warehouse.py) is written against the ``Warehouse``
    interface so swapping in ``JdbcWarehouse`` is a constructor change.
    """

    def __init__(self, root: str):
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def table_exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def create(self, df: DataFrame, table: str) -> None:
        df.write.mode("errorifexists").parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self._path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self._path(table))
