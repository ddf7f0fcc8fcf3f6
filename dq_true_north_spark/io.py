"""Result-plane sinks.

The reference appends every summary/detail frame to Snowflake tables with
``write.mode("append").save_as_table`` (dq_rules_library.py:44,96,157,...),
and its engine bootstraps the result plane before the run:
  * probe table existence with ``SELECT 1 FROM t LIMIT 1`` and CREATE on
    miss (dq_engine.py:33-45,49-62);
  * self-heal schema drift by probe-insert — an incompatible existing table
    is RECREATED with the expected schema (dq_engine.py:64-85, Snowflake
    CREATE OR REPLACE semantics: prior rows are dropped).

Here the result plane is a directory of Parquet tables with the same
append-only discipline (Iceberg-style table-per-name layout); at cluster
scale the same code targets real Iceberg via ``writeTo(t).append()``.

One append is one Spark job. It writes into a private staging directory
and counts its rows with an Observation on the same write, so a rule's
verdict count needs no job of its own. The part files are then published
(renamed) into the table under a per-table lock: the engine dispatches
rules from driver threads, and the lock orders the schema check and the
publish step, not the Spark jobs, which run concurrently. An append of zero
rows publishes nothing — the reference's ``if n > 0`` guard, kept here
instead of in every rule.

Rows the driver builds itself (the summary, literal detail rows, the
bootstrap frame, the catalog) go through ``local_rows``: a ``pyarrow.Table``
becomes a JVM ``LocalRelation``. ``createDataFrame(list, ddl)`` would be a
Python RDD instead, and every write or collect of it runs a job that starts
Python workers, even for zero or one row.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: the footer key under which Spark records the schema it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def local_rows(spark: SparkSession, rows: list[tuple], schema_ddl: str) -> DataFrame:
    """The DataFrame of driver-built rows (tuples in DDL column order) as a
    LocalRelation: collecting it runs no job, writing it needs no Python
    worker. Sets no session conf."""
    schema = StructType.fromDDL(schema_ddl)
    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def counted_write(df: DataFrame, path: str | None = None) -> int:
    """Write df as parquet to path (to the ``noop`` sink when path is None)
    and return its row count, observed in the same job."""
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if path is None:
        writer.format("noop").save()
    else:
        writer.parquet(path)
    return obs.get["rows"]


class ResultSink:
    """Append-only parquet sink, one subdirectory per logical table."""

    def __init__(self, base_path: str):
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)
        self._locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        # tables whose on-disk schema this process has already verified
        # against a given column layout — one footer probe per table per
        # layout instead of one per append
        self._verified: dict[str, dict[str, str]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.base_path, table)

    def _lock(self, table: str) -> threading.Lock:
        with self._locks_guard:
            return self._locks.setdefault(table, threading.Lock())

    @staticmethod
    def _schema_types(schema) -> dict[str, str]:
        return {f.name.lower(): f.dataType.simpleString() for f in schema.fields}

    def _heal_mode(self, table: str, incoming: dict[str, str]) -> str:
        """'append' when the existing table is write-compatible, else
        'overwrite' — the reference's recreate-on-schema-error
        (dq_engine.py:64-85). Parquet resolves columns by name per file, so
        column ORDER differences are compatible; a column set or type
        change is the drift that would poison reads.

        The schema is the one Spark recorded in a part file's footer, read
        without a Spark job. Only a footer that cannot be parsed also
        recreates the table; any other failure to read it (an I/O error)
        raises, so a transient fault never drops the table's rows."""
        if not self.exists(table):
            return "append"
        dest = self.path(table)
        part = min(f for f in os.listdir(dest) if f.endswith(".parquet"))
        try:
            footer = pq.read_schema(os.path.join(dest, part)).metadata or {}
            existing = StructType.fromJson(json.loads(footer[_SPARK_SCHEMA_KEY]))
        except (ValueError, KeyError):
            return "overwrite"      # unparseable footer: recreate
        if self._schema_types(existing) == incoming:
            return "append"
        return "overwrite"

    def append(self, df: DataFrame, table: str) -> int:
        """Append df's rows with an execution_timestamp; return how many
        rows were written. Zero rows leave the table untouched (no table is
        created), and so does a write that raises."""
        out = df.withColumn("execution_timestamp", F.current_timestamp())
        incoming = self._schema_types(out.schema)
        staging = tempfile.mkdtemp(prefix=".staging-", dir=self.base_path)
        try:
            n = counted_write(out, staging)
            if n == 0:
                return 0
            with self._lock(table):
                if self._verified.get(table) == incoming:
                    mode = "append"      # probe already paid for this layout
                else:
                    mode = self._heal_mode(table, incoming)
                dest = self.path(table)
                if mode == "overwrite":
                    shutil.rmtree(dest)
                os.makedirs(dest, exist_ok=True)
                # part files carry the write job's uuid, so names never
                # collide with earlier appends
                for f in os.listdir(staging):
                    if "_SUCCESS" not in f:
                        os.rename(os.path.join(staging, f), os.path.join(dest, f))
                self._verified[table] = incoming
            return n
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def ensure(self, spark: SparkSession, table: str, schema_ddl: str) -> None:
        """Bootstrap: create the table with the declared schema when missing
        (reference probe + CREATE, dq_engine.py:33-45). Zero-row write —
        the schema footer makes the empty table readable."""
        with self._lock(table):
            if not self.exists(table):
                empty = local_rows(spark, [], schema_ddl).withColumn(
                    "execution_timestamp", F.current_timestamp()
                )
                empty.write.mode("overwrite").parquet(self.path(table))
                self._verified[table] = self._schema_types(empty.schema)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.path(table))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )


class NullSink(ResultSink):
    """Swallows detail writes — used when the engine runs in pure-query mode
    (e.g. the oracle-checked summary query, which must be side-effect free
    and deterministic)."""

    def __init__(self):  # no base path
        pass

    def append(self, df: DataFrame, table: str) -> int:
        return counted_write(df)

    def ensure(self, spark: SparkSession, table: str, schema_ddl: str) -> None:
        return

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        raise FileNotFoundError("NullSink holds no tables")

    def exists(self, table: str) -> bool:
        return False
