"""SQLite source: the reference's integration-test database, working
end-to-end.

Mirrors ``internal/database/sqlite.go`` capability-for-capability using
the stdlib ``sqlite3`` module (no JDBC jar needed):

- catalog: base tables sorted by name, ``sqlite_%`` internals excluded
  (sqlite.go:42-63); original CREATE TABLE DDL straight from
  ``sqlite_master.sql`` (sqlite.go:66-76 — verbatim DDL, unlike the
  parquet source which must reconstruct); columns via
  ``PRAGMA table_info`` in ordinal order (sqlite.go:79-110); FKs via
  ``PRAGMA foreign_key_list`` per table (sqlite.go:113-149),
- scan: rows fetched in batches through Arrow into a Spark DataFrame
  with an explicit schema derived from the declared column types +
  reference-observed runtime affinities (INTEGER->long, REAL->double,
  TEXT->string, BLOB->binary, NULL preserved —
  sqlite_test.go:456-526),
- ``GetRowCount`` -> COUNT(*) (sqlite.go:241-249).

Scale posture: SQLite is a single local file — ingest is inherently
driver-side (exactly like the reference). The source materialises
through Arrow record batches (no per-row Python objects) and hands Spark
a distributed DataFrame; from there every operator runs cluster-wide.
For big server databases use sources/jdbc.py (partitioned parallel
reads) instead.
"""

from __future__ import annotations

import sqlite3
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..dump import quote_ident
from ..plans.topo import ForeignKey
from .parquet import ColumnInfo

BATCH_SIZE = 1000  # reference scan batch (driver.go:34-35)

_q = partial(quote_ident, "sqlite")  # quote doubling (sqlite.go:251-254)


def _decl_to_spark(decl: str | None) -> T.DataType:
    """Declared column type -> Spark type via SQLite affinity rules
    (runtime types confirmed by sqlite_test.go:456-526)."""
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if any(k in d for k in ("CHAR", "CLOB", "TEXT")):
        return T.StringType()
    if "BLOB" in d or d == "":
        return T.BinaryType()
    if any(k in d for k in ("REAL", "FLOA", "DOUB")):
        return T.DoubleType()
    # NUMERIC affinity: values may be int or float; double is the safe super-type
    return T.DoubleType()


class SqliteSource:
    """Driver-interface parity over a SQLite database file."""

    def __init__(
        self, spark: SparkSession, path: str | Path, partitions: int = 0
    ):
        """``partitions > 0`` routes ``read`` through the native Spark
        DataSource (``sources/sqlite_datasource.py``): rowid-range
        slices scanned in parallel by executors, filters pushable into
        SQLite. 0 (default) keeps the reference-shaped driver-side
        Arrow ingest — right for small files and the only option when
        executors cannot reach the .db path. Catalog calls (tables /
        DDL / columns / FKs / counts) are driver-side metadata either
        way."""
        self.spark = spark
        self.path = str(path)
        self.partitions = partitions
        if not Path(self.path).exists():
            raise FileNotFoundError(f"sqlite database not found: {self.path}")
        if partitions > 0:
            from .sqlite_datasource import register_sqlite_datasource

            register_sqlite_datasource(spark)

    def _connect(self):
        """Context manager yielding a connection that is CLOSED on exit —
        bare ``with sqlite3.connect(...)`` only manages the transaction,
        leaking the file handle to GC."""
        import contextlib

        con = sqlite3.connect(self.path)
        con.text_factory = str
        return contextlib.closing(con)

    # -- catalog ------------------------------------------------------------

    def get_tables(self) -> list[str]:
        with self._connect() as con:
            rows = con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY name"
            ).fetchall()
        return [r[0] for r in rows]

    def get_table_schema(self, table: str, db_type: str | None = None) -> str:
        """Verbatim original DDL (sqlite.go:66-76) — stored DDL keeps its
        source dialect, like the reference; ``db_type`` is accepted for
        interface parity and ignored."""
        with self._connect() as con:
            row = con.execute(
                "SELECT sql FROM sqlite_master WHERE type = 'table' AND name = ?",
                (table,),
            ).fetchone()
        if row is None:
            raise LookupError(f"table not found: {table}")
        return row[0].rstrip(";") + ";"

    def get_columns(self, table: str) -> list[ColumnInfo]:
        with self._connect() as con:
            rows = con.execute(f"PRAGMA table_info({_q(table)})").fetchall()
        # (cid, name, type, notnull, dflt_value, pk) in ordinal order
        return [
            ColumnInfo(r[1], r[2] or "", not r[3], r[4]) for r in rows
        ]

    def get_foreign_keys(self) -> list[ForeignKey]:
        fks: list[ForeignKey] = []
        with self._connect() as con:
            for table in self.get_tables():
                for r in con.execute(
                    f"PRAGMA foreign_key_list({_q(table)})"
                ).fetchall():
                    # (id, seq, ref_table, from_col, to_col, ...)
                    fks.append(ForeignKey(table, r[3], r[2], r[4] or ""))
        return fks

    def get_row_count(self, table: str) -> int:
        with self._connect() as con:
            return con.execute(
                f"SELECT COUNT(*) FROM {_q(table)}"
            ).fetchone()[0]

    # -- scan ---------------------------------------------------------------

    def spark_schema(self, table: str) -> T.StructType:
        return T.StructType(
            [
                T.StructField(c.name, _decl_to_spark(c.data_type), True)
                for c in self.get_columns(table)
            ]
        )

    def read(self, table: str) -> DataFrame:
        """Full-table scan -> Spark DataFrame. With ``partitions > 0``
        the scan is the native DataSource's parallel rowid-partitioned
        read (and downstream filters push into SQLite); otherwise the
        driver-side Arrow ingest below."""
        if self.partitions > 0:
            return (
                self.spark.read.format("pysqlite")
                .option("path", self.path)
                .option("table", table)
                .option("numPartitions", str(self.partitions))
                .load()
            )
        import pyarrow as pa

        schema = self.spark_schema(table)
        cols = [f.name for f in schema.fields]
        arrow_fields = []
        for f in schema.fields:
            pa_type = {
                T.LongType(): pa.int64(),
                T.DoubleType(): pa.float64(),
                T.StringType(): pa.string(),
                T.BinaryType(): pa.binary(),
            }[f.dataType]
            arrow_fields.append(pa.field(f.name, pa_type))
        arrow_schema = pa.schema(arrow_fields)

        with self._connect() as con:
            cur = con.execute(
                f"SELECT {', '.join(_q(c) for c in cols)} FROM {_q(table)}"
            )
            batches = []
            while True:
                rows = cur.fetchmany(BATCH_SIZE)
                if not rows:
                    break
                arrays = []
                for i, f in enumerate(arrow_fields):
                    vals = [r[i] for r in rows]
                    if f.type == pa.binary():
                        vals = [
                            bytes(v) if isinstance(v, (bytes, bytearray, memoryview))
                            else (str(v).encode() if v is not None else None)
                            for v in vals
                        ]
                    arrays.append(pa.array(vals, type=f.type))
                batches.append(pa.RecordBatch.from_arrays(arrays, schema=arrow_schema))
        if batches:
            # Arrow table straight into Spark (zero per-row Python objects;
            # NULLs preserved for every type including long columns)
            tbl = pa.Table.from_batches(batches)
            return self.spark.createDataFrame(tbl, schema=schema)
        return self.spark.createDataFrame([], schema=schema)
