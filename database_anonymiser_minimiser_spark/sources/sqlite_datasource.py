"""SQLite as a native Spark 4 Python DataSource (``spark.read.format``).

The class-based `SqliteSource` (sources/sqlite.py) ingests driver-side
through Arrow — correct, but single-threaded and opaque to Catalyst.
This module registers the same database file as a first-class
DataSource V2 via the public Python DataSource API (pyspark 4.x,
``pyspark.sql.datasource``), which buys three things the class-based
path cannot express:

- **partitioned parallel reads**: the table is split into rowid ranges
  (SQLite's implicit integer PK), one `InputPartition` each, so
  executors scan disjoint slices concurrently instead of one driver
  loop. On a real cluster the .db file must be on storage every
  executor can reach (NFS/object-store copy) — same contract as any
  file-based source;
- **filter pushdown** (`pushFilters`, Spark 4.1 API): supported
  predicates (=, <>, <, <=, >, >=, IS NULL, IS NOT NULL, IN,
  string prefix/suffix/contains) are compiled into the SQLite WHERE
  clause and *removed* from Spark's plan; unsupported ones stay in
  Spark. Less data crosses the Python<->JVM boundary AND SQLite can
  use its own indexes;

Pushdown correctness contract: a filter removed from Spark's plan is
never re-evaluated, so every pushed fragment must match Spark's
BINARY comparison semantics exactly. Two SQLite behaviours threaten
that and are both handled:

- SQLite ``LIKE`` is case-insensitive for ASCII by default (so a
  pushed ``startswith('user_')`` would wrongly match ``User_010``,
  and ``Not(StringStartsWith)`` would silently DROP rows Spark
  would keep). Every scan connection executes
  ``PRAGMA case_sensitive_like = ON`` before running the pushed
  WHERE; with the pragma on, LIKE compares case-sensitively (and
  non-ASCII LIKE is always case-sensitive), matching Spark.
- A column declared ``COLLATE NOCASE`` (or any custom collation)
  makes ``=``/``<``/ordering case-insensitive at the SQLite level —
  not fixable by pragma. The reader inspects the table's stored DDL
  (``sqlite_master.sql``) at planning time; if it mentions COLLATE
  anywhere (or the DDL is unavailable), every value-comparing filter
  is declared unsupported and Spark evaluates it — only the
  collation-independent ``IS NULL`` / ``IS NOT NULL`` still push.
  (Coarse per-table rule on purpose: parsing per-column collation
  out of arbitrary DDL is fragile, and an unpushed filter is merely
  slower, never wrong. Fragments are NOT even kept as scan-reduction
  hints in that case — a ``NOT (...)`` hint under NOCASE can drop
  rows Spark cannot resurrect.)
- **Arrow-batch transport**: `read()` yields pyarrow RecordBatches
  (BATCH_SIZE rows), not per-row Python tuples.

Column pruning note: the Python DataSource API has no column-pruning
hook yet — the reader materialises the declared schema and Spark
prunes after transport. For wide tables the class-based source's
explicit column list or JDBC remain the leaner path; stated here so
the trade-off is explicit.

Reference parity: this is the reference's integration database
(``internal/database/sqlite.go``) surfaced through Spark's modern
extension point; schema inference mirrors sqlite.go:79-110 via
``PRAGMA table_info`` + affinity rules (shared helper
``_decl_to_spark``).

Usage::

    from database_anonymiser_minimiser_spark.sources.sqlite_datasource import (
        register_sqlite_datasource,
    )
    register_sqlite_datasource(spark)
    df = (spark.read.format("pysqlite")
          .option("path", "/data/app.db").option("table", "users")
          .option("numPartitions", "8").load())
"""

from __future__ import annotations

import sqlite3
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    SimpleDataSourceStreamReader,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql import types as T

from .sqlite import _decl_to_spark, _q

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

BATCH_SIZE = 1000  # reference scan batch (driver.go:34-35)


def _sql_literal(v) -> str | None:
    """SQL literal for a pushed filter value; None = not translatable
    (the filter stays in Spark). Untranslatable includes non-finite
    floats (SQLite has no Inf/NaN literal — repr() would be a syntax
    error at scan time) and ints beyond 64 bits (SQLite silently parses
    oversized integer literals as floats, changing comparison
    semantics)."""
    import math

    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return repr(v) if -(2**63) <= v < 2**63 else None
    if isinstance(v, float):
        return repr(v) if math.isfinite(v) else None
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return None


def _filter_to_sql(f: Filter) -> str | None:
    """One pushed Filter -> a SQLite WHERE fragment, or None if this
    filter shape cannot be expressed (it is then returned to Spark as
    unsupported — correctness never depends on the pushdown)."""
    if isinstance(f, Not):
        inner = _filter_to_sql(f.child)
        return None if inner is None else f"NOT ({inner})"
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:  # no nested columns in SQLite
        return None
    col = _q(attr[0])
    if isinstance(f, IsNull):
        return f"{col} IS NULL"
    if isinstance(f, IsNotNull):
        return f"{col} IS NOT NULL"
    if isinstance(f, In):
        lits = [_sql_literal(v) for v in f.value]
        if not lits or any(x is None for x in lits):
            return None
        return f"{col} IN ({', '.join(lits)})"
    if isinstance(f, (StringStartsWith, StringEndsWith, StringContains)):
        # quote-escape FIRST, then LIKE-escape the wildcard chars
        pat = (
            f.value.replace("'", "''")
            .replace("\\", "\\\\")
            .replace("%", r"\%")
            .replace("_", r"\_")
        )
        shape = {
            StringStartsWith: f"{pat}%",
            StringEndsWith: f"%{pat}",
            StringContains: f"%{pat}%",
        }[type(f)]
        return f"{col} LIKE '{shape}' ESCAPE '\\'"
    ops = {
        EqualTo: "=",
        EqualNullSafe: "IS",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    op = ops.get(type(f))
    if op is None:
        return None
    lit = _sql_literal(f.value)
    if lit is None:
        return None
    return f"{col} {op} {lit}"


@dataclass
class RowidRange(InputPartition):
    """Half-open rowid slice [lo, hi) — disjoint across partitions, so
    the union of partition reads is exactly the table."""

    lo: int
    hi: int


#: Spark type -> pyarrow factory for the transport schema. Planning-time
#: validated: anything outside this table is a descriptive error in
#: SqliteReader.__init__, not an executor-side KeyError.
_ARROW_TYPES = {
    T.LongType(): "int64",
    T.IntegerType(): "int32",
    T.ShortType(): "int16",
    T.ByteType(): "int8",
    T.DoubleType(): "float64",
    T.FloatType(): "float32",
    T.BooleanType(): "bool_",
    T.StringType(): "string",
    T.BinaryType(): "binary",
}


def _collation_independent(f: Filter) -> bool:
    """True for filters whose semantics cannot be altered by a column
    collation (NULL-ness tests). Everything else compares values and
    must not push against a table with custom collations."""
    if isinstance(f, Not):
        return _collation_independent(f.child)
    return isinstance(f, (IsNull, IsNotNull))


class SqliteReader(DataSourceReader):
    def __init__(
        self,
        path: str,
        table: str,
        schema: T.StructType,
        n_parts: int,
        collation_safe: bool = True,
    ):
        self.path = path
        self.table = table
        self.schema_ = schema
        self.n_parts = max(1, n_parts)
        self.collation_safe = collation_safe
        self.pushed_where: List[str] = []  # populated by pushFilters
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in schema.fields
            if f.dataType not in _ARROW_TYPES
        ]
        if bad:
            supported = sorted(t.simpleString() for t in _ARROW_TYPES)
            raise ValueError(
                "pysqlite: unsupported column type(s) in the read schema — "
                + ", ".join(bad)
                + f". SQLite storage classes map to {supported}; "
                "read with one of those and cast afterwards "
                "(e.g. .withColumn(c, col(c).cast('timestamp')))."
            )

    # -- planning (driver side) -------------------------------------------

    def pushFilters(self, filters: List[Filter]) -> List[Filter]:
        # built EAGERLY (not a generator): self.pushed_where must be
        # complete before partitions() runs, whether or not the caller
        # drains the returned unsupported-filter list
        unsupported: List[Filter] = []
        for f in filters:
            frag = (
                _filter_to_sql(f)
                if self.collation_safe or _collation_independent(f)
                else None  # custom collation: Spark must evaluate it
            )
            if frag is None:
                unsupported.append(f)  # Spark keeps evaluating it
            else:
                self.pushed_where.append(frag)
        return unsupported

    def range_sql(self) -> str:
        """The rowid-span discovery statement partitions() issues. The
        range query applies the pushed WHERE, so a selective pushdown
        also SHRINKS the rowid span that gets scanned (partition pruning
        for free when the filter correlates with insertion order) — and
        SQLite's planner can SEARCH an index for it (EXPLAIN QUERY PLAN
        gated in tests)."""
        where = (
            " WHERE " + " AND ".join(self.pushed_where) if self.pushed_where else ""
        )
        return f"SELECT min(rowid), max(rowid) FROM {_q(self.table)}{where}"

    def scan_sql(self, partition: "RowidRange") -> str:
        """The per-partition scan statement read() issues."""
        cols = ", ".join(_q(f.name) for f in self.schema_.fields)
        conds = [f"rowid >= {partition.lo}", f"rowid < {partition.hi}"]
        conds += self.pushed_where
        return (
            f"SELECT {cols} FROM {_q(self.table)} WHERE {' AND '.join(conds)} "
            f"ORDER BY rowid"
        )

    def partitions(self) -> Sequence[InputPartition]:
        """Split on rowid min/max (see range_sql)."""
        import contextlib

        with contextlib.closing(sqlite3.connect(self.path)) as con:
            # pushed LIKE fragments must compare case-sensitively
            # (module docstring: pushdown correctness contract)
            con.execute("PRAGMA case_sensitive_like = ON")
            row = con.execute(self.range_sql()).fetchone()
        lo, hi = row
        if lo is None:  # empty table / nothing matches
            return [RowidRange(0, 0)]
        hi += 1  # half-open
        n = min(self.n_parts, hi - lo)
        step = (hi - lo + n - 1) // n
        return [RowidRange(lo + i * step, min(lo + (i + 1) * step, hi)) for i in range(n)]

    # -- execution (executor side) ----------------------------------------

    def read(self, partition: RowidRange) -> Iterator:
        import contextlib

        import pyarrow as pa

        if partition.lo >= partition.hi:
            return
        sql = self.scan_sql(partition)
        arrow_fields = [
            pa.field(f.name, getattr(pa, _ARROW_TYPES[f.dataType])())
            for f in self.schema_.fields
        ]
        arrow_schema = pa.schema(arrow_fields)
        with contextlib.closing(sqlite3.connect(self.path)) as con:
            con.text_factory = str
            con.execute("PRAGMA case_sensitive_like = ON")
            cur = con.execute(sql)
            while True:
                rows = cur.fetchmany(BATCH_SIZE)
                if not rows:
                    break
                columns = list(zip(*rows))
                arrays = []
                for i, f in enumerate(arrow_fields):
                    vals = _coerce_affinity(
                        columns[i], f, self.table, pa
                    )
                    arrays.append(pa.array(vals, type=f.type))
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _coerce_affinity(vals, field, table, pa):
    """SQLite columns are dynamically typed: a TEXT column can hold
    stray ints, an INTEGER column can hold '123' text, BLOB can hold
    memoryview. Coerce each batch column to its declared affinity —
    the same rule the class-based source applies — so ``pa.array``
    never sees a type it rejects; an unparseable value raises a
    descriptive error naming table/column/value instead of an opaque
    executor-side ArrowInvalid."""
    t = field.type
    if pa.types.is_binary(t):
        return [
            bytes(v)
            if isinstance(v, (bytes, bytearray, memoryview))
            else (str(v).encode() if v is not None else None)
            for v in vals
        ]
    if pa.types.is_string(t):
        return [v if isinstance(v, str) or v is None else str(v) for v in vals]
    out = []
    is_int = pa.types.is_integer(t)
    is_bool = pa.types.is_boolean(t)
    for v in vals:
        if v is None:
            out.append(None)
            continue
        try:
            if is_bool:
                out.append(bool(int(v)))
            elif is_int:
                # exact int parse first (no float round-trip precision
                # loss); SQLite CAST AS INTEGER truncates toward zero
                try:
                    out.append(int(v))
                except ValueError:
                    out.append(int(float(v)))
            else:
                out.append(float(v))
        except (TypeError, ValueError) as exc:
            raise ValueError(
                f"pysqlite: value {v!r} in {table}.{field.name} cannot be "
                f"coerced to declared type {t} (SQLite dynamic typing); "
                "read the column as string instead"
            ) from exc
    return out


class SqliteTailReader(SimpleDataSourceStreamReader):
    """Streaming tail of a SQLite table by rowid — CDC-lite ingest for
    the reference's own domain: stream new application-DB rows into
    Spark and mask them in flight (compose with the streaming
    anonymise operator) instead of re-exporting the whole table.

    Offsets are ``{"rowid": N}`` — the highest rowid already emitted —
    so a restart from checkpoint resumes exactly after the last
    committed row, and ``readBetweenOffsets`` replays any batch
    deterministically (rowid is SQLite's stable implicit PK; this
    source assumes the common INSERT-mostly ledger shape — rowid REUSE
    after DELETE, or UPDATEs, are not change events SQLite exposes
    without triggers, and that caveat is documented, not hidden).

    Simple (driver-side) reader by design: a SQLite file's write rate
    is a single-writer stream — exactly the "input rate is small"
    case the Simple API is for. Bulk backfill belongs to the batch
    reader's partitioned path."""

    def __init__(self, path: str, table: str, schema: T.StructType, opts):
        self.path = path
        self.table = table
        self.schema_ = schema
        # offsets are EXCLUSIVE lower bounds ("last emitted rowid").
        # Default must sit below any real rowid: rowid 0 and negatives
        # are legal when an INTEGER PRIMARY KEY supplies them, so the
        # natural-looking 0 default would silently skip row 0
        self.start_rowid = int(opts.get("startingRowid", str(-(2**63))))
        self.max_rows = int(opts.get("maxRowsPerBatch", "10000"))

    def initialOffset(self) -> dict:
        return {"rowid": self.start_rowid}

    def _select(self, lo: int, hi: int | None, limit: int | None):
        import contextlib

        cols = ", ".join(_q(f.name) for f in self.schema_.fields)
        sql = f"SELECT {cols}, rowid FROM {_q(self.table)} WHERE rowid > {lo}"
        if hi is not None:
            sql += f" AND rowid <= {hi}"
        sql += " ORDER BY rowid"
        if limit is not None:
            sql += f" LIMIT {limit}"
        with contextlib.closing(sqlite3.connect(self.path)) as con:
            con.text_factory = str
            return con.execute(sql).fetchall()

    def read(self, start: dict) -> tuple:
        lo = int(start["rowid"])
        rows = self._select(lo, None, self.max_rows)
        if not rows:
            return iter([]), {"rowid": lo}
        end = rows[-1][-1]  # rowid of the last emitted row
        return iter([r[:-1] for r in rows]), {"rowid": int(end)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        rows = self._select(int(start["rowid"]), int(end["rowid"]), None)
        return iter([r[:-1] for r in rows])


class SqliteDataSource(DataSource):
    """format("pysqlite"): options `path` (db file), `table`,
    `numPartitions` (default 4, batch reads). Also readable as a
    STREAM (``spark.readStream.format("pysqlite")``): tails the table
    by rowid with checkpoint-replayable offsets (SqliteTailReader);
    extra stream options `startingRowid`, `maxRowsPerBatch`."""

    @classmethod
    def name(cls) -> str:
        return "pysqlite"

    def _table(self) -> str:
        table = self.options.get("table")
        if not table:
            raise ValueError("pysqlite: option 'table' is required")
        return table

    def schema(self) -> T.StructType:
        import contextlib

        path = self.options.get("path")
        if not path:
            raise ValueError("pysqlite: option 'path' is required")
        with contextlib.closing(sqlite3.connect(path)) as con:
            info = con.execute(
                f"PRAGMA table_info({_q(self._table())})"
            ).fetchall()
        if not info:
            raise ValueError(f"pysqlite: table not found: {self._table()}")
        # PRAGMA table_info: (cid, name, decl_type, notnull, dflt, pk)
        return T.StructType(
            [
                T.StructField(name, _decl_to_spark(decl), not notnull)
                for _cid, name, decl, notnull, _dflt, _pk in info
            ]
        )

    def _collation_safe(self) -> bool:
        """False when the table's stored DDL mentions a custom collation
        (or the DDL is unavailable) — value-comparing pushdown is then
        disabled (module docstring: pushdown correctness contract)."""
        import contextlib

        with contextlib.closing(sqlite3.connect(self.options["path"])) as con:
            row = con.execute(
                "SELECT sql FROM sqlite_master WHERE type = 'table' AND name = ?",
                (self._table(),),
            ).fetchone()
        ddl = row[0] if row and row[0] else None
        return ddl is not None and "collate" not in ddl.lower()

    def reader(self, schema: T.StructType) -> SqliteReader:
        return SqliteReader(
            self.options["path"],
            self._table(),
            schema,
            int(self.options.get("numPartitions", "4")),
            collation_safe=self._collation_safe(),
        )

    def simpleStreamReader(self, schema: T.StructType) -> SqliteTailReader:
        return SqliteTailReader(
            self.options["path"], self._table(), schema, self.options
        )


def register_sqlite_datasource(spark: "SparkSession") -> None:
    """Idempotent registration of the `pysqlite` format. Python-source
    filter pushdown ships behind a flag in Spark 4.1 — a reader that
    implements pushFilters() with the flag off is an analysis-time
    ERROR (not a silent degrade), so registration turns it on."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SqliteDataSource)
