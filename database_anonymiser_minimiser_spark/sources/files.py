"""Generic file sources: CSV / JSON-lines / parquet behind one interface.

The reference reads only live databases (driver.go:72-83); data-lake
pipelines ingest flat files. ``read_table`` dispatches on extension and
returns a plain DataFrame, so every engine operator (anonymise, minimise,
dedup, ...) composes unchanged with any format.

Format notes (all Catalyst-native):
- parquet: columnar, predicate/column pushdown, the preferred format —
  via sources/parquet.py's nanos-tolerant reader,
- csv: schema inference on request (samples the file — at 100 TB pass an
  explicit schema: inference reads data twice), header on by default,
- json (lines): schema inference likewise; prefer explicit schemas at
  scale for the same reason,
- xml: Spark 4's native XML source (rowTag-delimited records; schema
  inference like json — pass an explicit schema at scale),
- txt: one string row per line (``value`` column) — the raw-text corpus
  ingestion shape; pair with the text operators (language-id, quality,
  token counts) for document pipelines.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .parquet import ParquetSource, read_parquet_table

_FORMATS = (
    ".parquet", ".orc", ".csv", ".json", ".jsonl", ".ndjson", ".xml", ".txt"
)

#: XML records are delimited by this element unless the caller overrides
XML_ROW_TAG = "row"


def read_table(
    spark: SparkSession,
    path: str | Path,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read one table file/directory, format from the extension."""
    p = Path(path)
    suffix = p.suffix.lower()
    if suffix == ".parquet" or (p.is_dir() and any(p.glob("*.parquet"))):
        return read_parquet_table(spark, p)
    if suffix == ".orc":
        # ORC scans share parquet's pushdown/pruning machinery (columnar,
        # predicate pushdown, vectorised reader) — same scale profile
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.orc(str(p))
    if suffix == ".csv":
        r = spark.read.option("header", "true")
        r = r.schema(schema) if schema is not None else r.option("inferSchema", "true")
        return r.csv(str(p))
    if suffix in (".json", ".jsonl", ".ndjson"):
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(str(p))
    if suffix == ".xml":
        r = spark.read.option("rowTag", XML_ROW_TAG)
        if schema is not None:
            r = r.schema(schema)
        return r.format("xml").load(str(p))
    if suffix == ".txt":
        # one line -> one row, single `value` string column; no parsing
        # cost, scan parallelism from file splits like any text source
        return spark.read.text(str(p))
    raise ValueError(f"unsupported table format {suffix!r} (supported: {_FORMATS})")


def write_table(df: DataFrame, path: str | Path, mode: str = "overwrite") -> None:
    """Write in the format named by the extension (parquet/csv/json)."""
    p = Path(path)
    suffix = p.suffix.lower()
    w = df.write.mode(mode)
    if suffix == ".parquet":
        w.parquet(str(p))
    elif suffix == ".orc":
        w.orc(str(p))
    elif suffix == ".csv":
        w.option("header", "true").csv(str(p))
    elif suffix in (".json", ".jsonl", ".ndjson"):
        w.json(str(p))
    elif suffix == ".xml":
        w.option("rowTag", XML_ROW_TAG).format("xml").save(str(p))
    elif suffix == ".txt":
        w.text(str(p))  # requires a single string column, like Spark
    else:
        raise ValueError(f"unsupported table format {suffix!r}")


class FilesSource(ParquetSource):
    """Catalog + scan over a directory of mixed-format table files
    (``<table>.{parquet,orc,csv,json,jsonl,ndjson}``) — connection
    ``type: files``. The data-lake landing-zone shape: raw csv/jsonl
    drops next to columnar tables, one engine over all of them.

    A ParquetSource with its own table listing and reader: columns,
    reconstructed DDL, counts and sidecar FKs are ParquetSource's, so
    every downstream plan (anonymise, minimise, topo-ordered dump)
    composes unchanged. Scale note: csv and json catalogs use schema
    inference here (a second read of the file);
    at 100 TB register explicit schemas per table via ``read_table``'s
    schema argument instead — the scan itself is still Catalyst-native
    with pushdown where the format supports it."""

    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)
        if not self.path.is_dir():
            raise FileNotFoundError(f"files source dir not found: {self.path}")

    def _table_files(self) -> dict[str, Path]:
        out: dict[str, Path] = {}
        for p in sorted(self.path.iterdir()):
            if p.suffix.lower() in _FORMATS and p.stem not in out:
                out[p.stem] = p
        return out

    def get_tables(self) -> list[str]:
        return sorted(self._table_files())

    def read(self, table: str) -> DataFrame:
        files = self._table_files()
        if table not in files:
            raise FileNotFoundError(f"table not found: {table} (in {self.path})")
        return read_table(self.spark, files[table])


def read_parquet_evolved(spark: SparkSession, path: str | Path) -> DataFrame:
    """Schema-evolved parquet dataset: a directory written over time
    where later files ADDED columns (the normal drift of a long-running
    100 TB ingest). ``mergeSchema`` unions every file's footer schema at
    planning time, so new columns surface as NULL in pre-drift files
    instead of the default single-footer sample silently DROPPING them
    (which footer wins is nondeterministic — the classic
    works-on-my-sample bug).

    Cost note: merging reads every footer (a planning-time metadata
    pass, parallelised over the file list) — pay it on drifting
    datasets; keep the default reader for schema-stable ones."""
    return spark.read.option("mergeSchema", "true").parquet(str(path))
