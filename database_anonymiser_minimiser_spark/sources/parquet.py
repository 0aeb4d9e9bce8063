"""Parquet source + catalog.

Plays the role of the reference's ``Driver`` interface
(``internal/database/driver.go:48-69``: Connect/GetTables/GetTableSchema/
GetColumns/GetForeignKeys/StreamRows/GetRowCount) over a directory of
``<table>.parquet`` files (the test corpus, TESTDATA.md).

Catalog semantics preserved:
- ``get_tables`` lists base tables sorted by name (mysql.go:44-65),
- ``get_columns`` returns name/type/nullability in ordinal order
  (mysql.go:81-105) — here straight from the parquet footer via the
  DataFrame StructType, no data read,
- ``get_table_schema`` returns CREATE TABLE DDL; parquet has no stored DDL
  so we reconstruct from the StructType the way the reference reconstructs
  for Postgres (postgres.go:68-114) — documented divergence (SURVEY.md
  section 7.3),
- FKs: parquet has no FK catalog; edges come from a sidecar
  ``foreign_keys.json`` next to the data, or the built-in TPC-H-ish edges
  for the test corpus (mirrors GetForeignKeys, mysql.go:108-135).

Scale note: reads go through ``spark.read.parquet`` so predicate pushdown,
column pruning, and partition pruning are Catalyst-native; a 100 TB table
is just more files behind the same DataFrame.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dump import quote_ident
from ..plans.topo import ForeignKey
from ..session import scoped_conf


@dataclass(frozen=True)
class ColumnInfo:
    """driver.go:26-32."""

    name: str
    data_type: str  # dialect-ish type string
    is_nullable: bool
    default: str | None = None


# FK edges of the driver-generated TPC-H-ish corpus (TESTDATA.md).
TESTDATA_FOREIGN_KEYS = [
    ForeignKey("nation", "n_regionkey", "region", "r_regionkey"),
    ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
    ForeignKey("supplier", "s_nationkey", "nation", "n_nationkey"),
    ForeignKey("orders", "o_custkey", "customer", "c_custkey"),
    ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ForeignKey("lineitem", "l_partkey", "part", "p_partkey"),
    ForeignKey("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ForeignKey("events", "user_id", "customer", "c_custkey"),
]

_SPARK_TO_SQL_TYPE = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "REAL",
    "double": "DOUBLE",
    "string": "TEXT",
    "binary": "BLOB",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def spark_type_to_sql(dt: T.DataType) -> str:
    """StructField type -> dialect type string (inverse of the reference's
    opaque DataType strings, driver.go:29)."""
    simple = dt.simpleString()
    if simple.startswith("decimal"):
        return simple.upper()
    if simple.startswith("array") or simple.startswith("struct") or simple.startswith("map"):
        return "JSON"  # nested types have no SQL-dump dialect; documented divergence
    return _SPARK_TO_SQL_TYPE.get(simple, simple.upper())


def schema_columns(schema: T.StructType) -> list[ColumnInfo]:
    """Ordinal-order column metadata of a reader's schema."""
    return [ColumnInfo(f.name, spark_type_to_sql(f.dataType), f.nullable) for f in schema.fields]


def create_table_ddl(dialect: str, table: str, columns: list[ColumnInfo]) -> str:
    """CREATE TABLE DDL reconstructed from column metadata, identifiers
    quoted for ``dialect`` (postgres.go:68-114 pattern)."""
    cols = ",\n".join(
        f"  {quote_ident(dialect, c.name)} {c.data_type}{'' if c.is_nullable else ' NOT NULL'}"
        for c in columns
    )
    return f"CREATE TABLE {quote_ident(dialect, table)} (\n{cols}\n);"


def _data_files(path: Path) -> list[Path]:
    """A directory table's data files in sorted order, skipping the
    ``_``/``.`` files and directories Spark skips too."""
    return sorted(
        f for f in path.rglob("*")
        if f.is_file()
        and not any(n.startswith(("_", ".")) for n in f.relative_to(path).parts)
    )


def _nanos_timestamp_columns(path: Path) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorised
    reader rejects outright (PARQUET_TYPE_ILLEGAL). Detected from the footer
    via pyarrow — metadata only, no data read. For a directory table the
    footer is the first of its ``_data_files``."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if path.is_dir():
            path = _data_files(path)[0]
        schema = pq.read_schema(str(path))
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


def convert_ns_columns(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """BIGINT epoch-nanos -> microsecond timestamps, integer `div` (no
    float precision loss at 1e18)."""
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# Per-session memo of the LAZY reader DataFrame, keyed on what the read
# sees: (path, mtime_ns, size) for a file; for a directory, the path and
# the sorted (relative path, mtime_ns, size) of its ``_data_files``, so an
# added, removed or rewritten data file misses, while ``_SUCCESS`` and
# dot-files do not count. This caches ONLY the unresolved read plan
# (schema resolution from the footer, one Spark job per read) — the thing
# a production metastore catalog provides once per table, and the same
# class as Spark's own per-session file-listing cache
# (spark.sql.hive.filesourcePartitionFileCacheSize). No rows, results or
# intermediates are cached: every action on the returned DataFrame still
# scans the files in full. A changed key or a different SparkSession
# misses and rebuilds, so one verb reads each table once however many of
# the catalog calls (DDL, columns, scan) ask for it.
_READER_MEMO: dict[tuple, tuple[SparkSession, DataFrame]] = {}
_READER_MEMO_CAP = 128


def _reader_key(path: str) -> tuple | None:
    """The memo key of the file or directory ``path``; None when it
    cannot be listed."""
    p = Path(path)
    try:
        if p.is_file():
            st = p.stat()
            return (path, st.st_mtime_ns, st.st_size)
        if p.is_dir():
            files = []
            for f in _data_files(p):
                st = f.stat()
                files.append((str(f.relative_to(p)), st.st_mtime_ns, st.st_size))
            return (path, tuple(files))
    except OSError:
        pass
    return None


def read_parquet_table(spark: SparkSession, path: str | Path) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns.

    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong``, set for the read only, the
    column arrives as a BIGINT of epoch-nanos, which we convert to a
    microsecond timestamp with integer ``div`` (epoch-nanos ~1.7e18
    exceeds double precision, so float division would corrupt low
    digits). The ns->us truncation is a
    documented divergence; the DuckDB oracle compares at formatted-second
    granularity.

    Scale caveat: predicates over a converted ns column do NOT push into
    the parquet scan (the stored type is INT64 nanos; Catalyst will not
    invert ``timestamp_micros(x div 1000) > C``). For very large
    ns-timestamp tables, filter on the raw long (``col div 1000 >
    epoch_micros(bound)``) before conversion, or re-encode the data at
    micros. Native micro/milli timestamp columns push down normally
    (asserted in tests/test_plans.py).
    """
    path = str(path)
    key = _reader_key(path)
    if key is not None:
        hit = _READER_MEMO.get(key)
        if hit is not None and hit[0] is spark:
            return hit[1]
    ns_cols = _nanos_timestamp_columns(Path(path))
    if not ns_cols:
        df = spark.read.parquet(path)
    else:
        # the read resolves its bigint schema inside the scope; later
        # actions on ``df`` need no conf, and the caller's reads keep theirs
        with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
            df = convert_ns_columns(spark.read.parquet(path), ns_cols)
    if key is not None:
        if len(_READER_MEMO) >= _READER_MEMO_CAP:
            _READER_MEMO.clear()
        _READER_MEMO[key] = (spark, df)
    return df


class ParquetSource:
    """Catalog + scan over a directory of ``<table>.parquet``."""

    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        if not self.path.is_dir():
            raise FileNotFoundError(f"parquet source dir not found: {self.path}")

    # -- catalog (S4-S8) ----------------------------------------------------

    def get_tables(self) -> list[str]:
        """Base tables sorted by name (mysql.go:44-65)."""
        return sorted(p.stem for p in self.path.glob("*.parquet"))

    def read(self, table: str) -> DataFrame:
        """S1-S3: the table scan. Filters/limits/projections are applied by
        callers declaratively; Catalyst pushes them into this scan."""
        f = self.path / f"{table}.parquet"
        if not f.exists():
            raise FileNotFoundError(f"table not found: {table} ({f})")
        return read_parquet_table(self.spark, f)

    def get_columns(self, table: str) -> list[ColumnInfo]:
        """S6: ordinal-order column metadata from the parquet footer."""
        return schema_columns(self.read(table).schema)

    def get_table_schema(self, table: str, db_type: str | None = None) -> str:
        """S5: CREATE TABLE DDL reconstructed from the schema
        (postgres.go:68-114 pattern). The reference reads stored DDL so
        its dialect always matches the source; a reconstructing source
        must instead quote identifiers for the EXPORT dialect (backticks
        are invalid DDL in postgres/sqlite)."""
        return create_table_ddl(db_type or "mysql", table, self.get_columns(table))

    def get_row_count(self, table: str) -> int:
        """S8: COUNT(*) (mysql.go:227-235). Parquet footer metadata makes
        this a metadata-only query in Spark."""
        return self.read(table).count()

    def get_foreign_keys(self) -> list[ForeignKey]:
        """S7: sidecar JSON if present, else built-in corpus edges."""
        sidecar = self.path / "foreign_keys.json"
        if sidecar.exists():
            rows = json.loads(sidecar.read_text())
            return [
                ForeignKey(
                    r["table"], r["column"], r["referenced_table"], r["referenced_column"]
                )
                for r in rows
            ]
        tables = set(self.get_tables())
        return [fk for fk in TESTDATA_FOREIGN_KEYS if fk.table in tables]


def preflight_parquet_files(spark: SparkSession, root: str | Path):
    """Distributed corruption preflight over every parquet data file
    under ``root``: (file, ok, error) — one row per file, errors from a
    real pyarrow FOOTER+metadata read (opening the file and walking its
    row-group metadata catches truncation and garbage bytes without
    decoding column data).

    Why it exists: Spark fails a scan at the first corrupt file it
    touches — possibly HOURS into a 100 TB export. The alternative knob,
    ``spark.sql.files.ignoreCorruptFiles``, SILENTLY DROPS the file's
    rows — a compliance hazard in an anonymisation export (missing rows
    look identical to retained-away rows). This preflight makes the
    damaged-file list explicit and cheap BEFORE the export: footer reads
    only, distributed over the cluster (one task per file batch via
    mapInPandas on a parallelized path list), so the wall is metadata
    IO, not data volume.

    Files are enumerated through the Hadoop FileSystem API for the
    path's scheme — a driver-local ``glob`` would find ZERO files under
    an object-store (S3/GCS) or HDFS root and the preflight would
    print nothing and PASS, a silent false-negative from the very
    feature meant to prevent silent row loss. An empty enumeration is
    therefore an ERROR, never a pass: a root with no parquet files is
    either the wrong path or an unreadable store, and both need a
    human. (On remote stores the executor-side pyarrow probe receives
    the full URI; if the worker lacks a handler for that scheme the
    file reports ok=False with the error — loud, not silent.)"""
    jvm = spark._jvm
    hroot = jvm.org.apache.hadoop.fs.Path(str(root))
    fs = hroot.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hroot):
        raise FileNotFoundError(
            f"preflight root does not exist (checked via Hadoop FS for "
            f"its scheme): {root}"
        )
    it = fs.listFiles(hroot, True)
    paths = []
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        uri = p.toUri()
        # local files go to pyarrow as plain paths; remote keep the URI
        paths.append(
            uri.getPath() if (uri.getScheme() or "file") == "file"
            else p.toString()
        )
    paths.sort()
    if not paths:
        raise FileNotFoundError(
            f"preflight found no parquet data files under {root} — "
            f"refusing to report PASS on an empty enumeration"
        )

    def probe(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for f in pdf["file"]:
                try:
                    meta = pq.ParquetFile(f).metadata
                    _ = meta.num_rows  # touch the footer fields
                    out.append((f, True, ""))
                except Exception as exc:  # noqa: BLE001 - report, not raise
                    out.append((f, False, str(exc)[:500]))
            yield pd.DataFrame(out, columns=["file", "ok", "error"])

    files_df = spark.createDataFrame([(p,) for p in paths], "file string")
    n = max(1, min(len(paths), spark.sparkContext.defaultParallelism))
    return files_df.repartition(n).mapInPandas(
        probe, "file string, ok boolean, error string"
    )
