"""SQL-dump sink: dialect headers, DDL, batched INSERT text, escaping.

Re-expresses the reference exporter (``internal/exporter/exporter.go``)
Spark-first. The reference formats each row in a Go loop
(``formatValue``/``escapeString``, exporter.go:312-349) and writes
1000-row multi-INSERT statements (exporter.go:273-306) through a 64 KiB
buffered writer, one table at a time (exporter.go:72-80).

Here the hot path — per-value SQL-literal formatting + escaping + row
tuple assembly — is built from JVM column expressions (replace/concat/
date_format), so a 100 TB table formats inside WholeStageCodegen across
all executors, and sorted on the primary key there
(``insert_statements``). Each table's tuples are spooled to a text file
by a Spark write, submitted as soon as the caller has built that table,
the tables' writes running as concurrent jobs; Python assembles the
ordered file (header -> tables in FK-topo order -> footer) from the
spools and batches the INSERTs as it reads, like the reference's loop
(``insert_batches``): the driver holds one batch.

The spool is one part file (``coalesce(1)``). A table with a primary
key is range-sorted on it below that coalesce, so it is masked and
formatted in parallel and only the spool write is one task; a table
without one has no exchange to stop the coalesce, so its scan, masking
and formatting run in one task.

Output format parity (checked by tests against reference-derived goldens):
- escaping: backslash doubling first, then ``'``->``''``, NUL->``\\0``,
  LF->``\\n``, CR->``\\r``, ^Z->``\\Z`` (exporter.go:339-349),
- values: NULL / bool as 1|0 / ints verbatim / floats shortest-form /
  strings+timestamps escaped-quoted, timestamps as
  ``YYYY-MM-DD HH:MM:SS`` (exporter.go:312-336),
- statements: ``INSERT INTO `t` (`c1`, `c2`) VALUES\\n(v, v),\\n(v, v);``
  batches of <=1000 rows (exporter.go:273-306),
- headers/footers + DROP TABLE per dialect (exporter.go:91-166, 259-271),
  identifiers quoted per dialect (``quote_ident``).

Scale note: a single ordered text file is inherently a sequential sink —
the parquet/delta writer (``write_parquet``) is the native alternative for
cluster-scale output; the SQL-text path still computes distributed and
only serialises the final concatenation.
"""

from __future__ import annotations

import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import islice
from pathlib import Path
from typing import IO, Iterable, Iterator

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BATCH_SIZE = 1000  # rows per multi-row INSERT (exporter.go:16-17)

# ---------------------------------------------------------------------------
# Pure-Python mirrors of the reference's formatting (golden-tested; used for
# driver-side formatting and as the spec for the JVM expressions below).
# ---------------------------------------------------------------------------

_ESCAPES = [
    ("\\", "\\\\"),
    ("'", "''"),
    ("\x00", "\\0"),
    ("\n", "\\n"),
    ("\r", "\\r"),
    ("\x1a", "\\Z"),
]


def escape_string(s: str) -> str:
    """SQL string escaping, reference-exact (exporter.go:339-349)."""
    for old, new in _ESCAPES:
        s = s.replace(old, new)
    return f"'{s}'"


def format_float(v: float) -> str:
    """Go ``%v`` shortest-form float (exporter.go:325-326)."""
    if v != v or v in (float("inf"), float("-inf")):
        return str(v)
    if v == int(v) and abs(v) < 1e16:
        return str(int(v))
    return repr(v)


def format_value(v: object) -> str:
    """SQL literal for one runtime value (exporter.go:312-336)."""
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return format_float(v)
    if isinstance(v, (bytes, bytearray)):
        return escape_string(bytes(v).decode("utf-8", errors="replace"))
    if isinstance(v, datetime.datetime):
        return escape_string(v.strftime("%Y-%m-%d %H:%M:%S"))
    if isinstance(v, datetime.date):
        return escape_string(v.strftime("%Y-%m-%d"))
    if isinstance(v, str):
        return escape_string(v)
    return escape_string(str(v))


# ---------------------------------------------------------------------------
# JVM-side (distributed) formatting expressions
# ---------------------------------------------------------------------------


def escape_column(c: Column) -> Column:
    """The escape chain as JVM expressions — order matters (backslash
    first), exactly as exporter.go:339-349."""
    for old, new in _ESCAPES:
        c = F.replace(c, F.lit(old), F.lit(new))
    return F.concat(F.lit("'"), c, F.lit("'"))


def sql_literal_column(df: DataFrame, name: str) -> Column:
    """Column -> its SQL-literal text, per type (exporter.go:312-336).

    Every branch yields NULL for a NULL input, so ``coalesce`` supplies
    the ``NULL`` literal and the column is referenced once: Catalyst can
    then collapse this projection into a masking projection below it
    (it will not inline a non-trivial expression read twice), which keeps
    ``orderBy(pk).limit(n)`` planned as one top-k."""
    dt = df.schema[name].dataType
    c = F.col(f"`{name}`")
    if isinstance(dt, T.BooleanType):
        lit = F.when(c, F.lit("1")).when(~c, F.lit("0"))
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        lit = c.cast("string")
    elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        # shortest-form-ish: strip a trailing ".0" so whole doubles print
        # like Go %v (3.0 -> 3); plain decimals are unchanged
        lit = F.regexp_replace(c.cast("string"), r"\.0$", "")
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        lit = escape_column(F.date_format(c, "yyyy-MM-dd HH:mm:ss"))
    elif isinstance(dt, T.DateType):
        lit = escape_column(F.date_format(c, "yyyy-MM-dd"))
    elif isinstance(dt, T.BinaryType):
        lit = escape_column(c.cast("string"))
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        lit = escape_column(F.to_json(c))
    else:
        lit = escape_column(c.cast("string"))
    return F.coalesce(lit, F.lit("NULL"))


def duckdb_literal_sql(name: str, duck_type: str) -> str:
    """Oracle-side mirror of ``sql_literal_column`` (DuckDB SQL) so the
    dump formatter itself is correctness-gated."""
    q = f'"{name}"'
    esc = q
    # same chain; chr() avoids literal control characters in SQL text
    esc = f"replace({esc}, chr(92), chr(92) || chr(92))"
    esc = f"replace({esc}, chr(39), chr(39) || chr(39))"
    esc = f"replace({esc}, chr(0), chr(92) || '0')"
    esc = f"replace({esc}, chr(10), chr(92) || 'n')"
    esc = f"replace({esc}, chr(13), chr(92) || 'r')"
    esc = f"replace({esc}, chr(26), chr(92) || 'Z')"
    t = duck_type.lower()
    if t in ("boolean",):
        lit = f"CASE WHEN {q} THEN '1' ELSE '0' END"
    elif t in ("tinyint", "smallint", "integer", "bigint", "hugeint"):
        lit = f"CAST({q} AS VARCHAR)"
    elif t in ("real", "float", "double") or t.startswith("decimal"):
        lit = f"regexp_replace(CAST({q} AS VARCHAR), '\\.0$', '')"
    elif t.startswith("timestamp"):
        inner = f"strftime({q}, '%Y-%m-%d %H:%M:%S')"
        lit = f"concat(chr(39), {inner}, chr(39))"  # timestamps never contain escapables
    elif t == "date":
        inner = f"strftime({q}, '%Y-%m-%d')"
        lit = f"concat(chr(39), {inner}, chr(39))"
    else:
        lit = f"concat(chr(39), {esc}, chr(39))"
    return f"CASE WHEN {q} IS NULL THEN 'NULL' ELSE {lit} END"


def row_tuple_column(df: DataFrame) -> Column:
    """``(v1, v2, ...)`` text for each row, all JVM-side."""
    parts: list[Column] = []
    for i, name in enumerate(df.columns):
        if i:
            parts.append(F.lit(", "))
        parts.append(sql_literal_column(df, name))
    return F.concat(F.lit("("), *parts, F.lit(")"))


def quote_ident(db_type: str, ident: str) -> str:
    """Per-dialect identifier quoting (backtick doubling for MySQL,
    quote doubling for postgres/sqlite — mysql.go:237-240,
    postgres.go:288-291, sqlite.go:251-254)."""
    if db_type == "mysql":
        return "`" + ident.replace("`", "``") + "`"
    return '"' + ident.replace('"', '""') + '"'


def insert_statements(
    df: DataFrame, table: str, order_by: str | None = None
) -> DataFrame:
    """The table's INSERT tuples in dump order: one ``t`` column of
    ``(v1, v2, ...)`` text, formatted JVM-side (``row_tuple_column``).

    With ``order_by`` (the primary key) rows are sorted on it, the tuple
    text breaking ties so NULL or repeated keys come out the same on
    every run; without it rows keep scan-partition order, like the
    reference (mysql.go:163-166). Every sink spools this DataFrame once
    and ``insert_batches`` cuts it into multi-row INSERTs on the driver.

    ``table`` is unused: the INSERT head comes from ``insert_head``. It
    stays the second positional argument because ``perfbench/traced.py``
    patches and calls this function as ``(df, table, order_by=...)``.
    """
    t = row_tuple_column(df).alias("t")
    if not order_by:
        return df.select(t)
    keyed = df.select(t, F.col(f"`{order_by}`").alias("_ord"))
    return keyed.orderBy("_ord", "t").select("t")


def insert_head(db_type: str, table: str, columns: list[str]) -> str:
    """``INSERT INTO `t` (`c1`, `c2`) VALUES`` and its newline."""
    cols = ", ".join(quote_ident(db_type, c) for c in columns)
    return f"INSERT INTO {quote_ident(db_type, table)} ({cols}) VALUES\n"


def insert_batches(
    head: str, tuples: Iterable[str], batch_size: int = DEFAULT_BATCH_SIZE
) -> Iterator[tuple[str, int]]:
    """(statement, tuples in it) for ``tuples`` in the order given: a new
    multi-row INSERT every ``batch_size`` tuples, the reference's write
    loop counter (exporter.go:273-306)."""
    it = iter(tuples)
    while batch := list(islice(it, batch_size)):
        yield head + ",\n".join(batch) + ";", len(batch)


def write_inserts(out: IO[str], head: str, tuples: Iterable[str]) -> int:
    """Write ``tuples`` to ``out`` as INSERT statements, one per line;
    returns the tuples written."""
    rows = 0
    for stmt, n in insert_batches(head, tuples):
        out.write(stmt + "\n")
        rows += n
    return rows


# ---------------------------------------------------------------------------
# Dialect text (exporter.go:91-166, 259-271)
# ---------------------------------------------------------------------------

_DIALECT_HEADERS = {
    "mysql": (
        "SET NAMES utf8mb4;\n"
        "SET FOREIGN_KEY_CHECKS = 0;\n"
        "SET SQL_MODE = 'NO_AUTO_VALUE_ON_ZERO';\n"
        "SET AUTOCOMMIT = 0;\n"
        "START TRANSACTION;\n\n"
    ),
    "postgres": (
        "SET client_encoding = 'UTF8';\n"
        "SET standard_conforming_strings = on;\n"
        "SET check_function_bodies = false;\n"
        "SET client_min_messages = warning;\n\n"
    ),
    "sqlite": "PRAGMA foreign_keys = OFF;\n\n",
}

_DIALECT_FOOTERS = {
    "mysql": "\nCOMMIT;\nSET FOREIGN_KEY_CHECKS = 1;\n",
    "postgres": "\n-- End of dump\n",
    "sqlite": "\nPRAGMA foreign_keys = ON;\n",
}


def header_text(db_type: str, generated_at: str | None = None) -> str:
    ts = generated_at or time.strftime("%Y-%m-%dT%H:%M:%S%z")
    return (
        f"-- Database Dump\n-- Generated by dbmask-spark\n-- Date: {ts}\n"
        f"-- Database Type: {db_type}\n\n" + _DIALECT_HEADERS.get(db_type, "")
    )


def footer_text(db_type: str) -> str:
    return _DIALECT_FOOTERS.get(db_type, "")


def drop_table_statement(db_type: str, table: str) -> str:
    cascade = " CASCADE" if db_type == "postgres" else ""
    return f"DROP TABLE IF EXISTS {quote_ident(db_type, table)}{cascade};"


# ---------------------------------------------------------------------------
# Full export orchestration
# ---------------------------------------------------------------------------


@dataclass
class ExportStats:
    """exporter.go:23-28 counters."""

    tables_exported: int = 0
    tables_truncated: int = 0
    rows_exported: int = 0
    per_table_rows: dict[str, int] = field(default_factory=dict)

    def add(self, name: str, rows: int | None) -> None:
        """Count one finished table; ``rows=None`` means truncated."""
        if rows is None:
            self.tables_truncated += 1
            return
        self.rows_exported += rows
        self.per_table_rows[name] = rows
        self.tables_exported += 1


def _table_section(out: IO[str], db_type: str, name: str, ddl: str) -> None:
    out.write(f"\n--\n-- Table: {name}\n--\n\n")
    out.write(drop_table_statement(db_type, name) + "\n")
    out.write(ddl.rstrip("\n") + "\n\n")


# Concurrent table spool jobs. Throughput saturates around 8 on a
# many-small-tables catalog (PERFORMANCE.md "catalog axis", beside
# SCALING_catalog_r11.json; 40 x 200-row tables, local[32]: 18.1 s at 4
# workers, 14.8 s at 8, 15.9 s at 16): the limit
# is driver-side job submission, not executor slots.
_SPOOL_WORKERS = 8


def _spool(spool: str, table: str, df: DataFrame, order_by: str | None) -> tuple[str, int]:
    """Write ``df``'s INSERT tuples to the directory ``spool``, one tuple
    per line in one part file (so part-file name order never matters);
    returns ``spool`` and the rows the write observed."""
    tuples, obs = _observed(insert_statements(df, table, order_by=order_by).coalesce(1))
    tuples.write.mode("overwrite").text(Path(spool).as_uri())
    return spool, obs.get["rows"]


def _spooled_tuples(spool: str) -> Iterator[str]:
    for part in sorted(Path(spool).glob("part-*")):
        with open(part, encoding="utf-8") as f:
            for line in f:  # one tuple per line: data newlines are escaped
                yield line.rstrip("\n")


def _write_spool(
    out: IO[str], db_type: str, table: str, columns: list[str], spool: str, observed: int
) -> int:
    """Cut ``table``'s spool into INSERTs on ``out``; returns the rows
    written. Raises when the spool holds fewer or more tuples than its
    write observed, as when the executors wrote it to a filesystem the
    driver does not see."""
    rows = write_inserts(out, insert_head(db_type, table, columns), _spooled_tuples(spool))
    if rows != observed:
        raise RuntimeError(
            f"dump of table {table!r}: read {rows} tuples back from the spool "
            f"{spool}, but its write observed {observed}"
        )
    return rows


def spool_inserts(
    out: IO[str], db_type: str, table: str, df: DataFrame, order_by: str | None
) -> int:
    """Write ``df`` to ``out`` as ``table``'s INSERTs through a private
    spool; returns the rows written."""
    with tempfile.TemporaryDirectory(prefix="dbmask_dump_", ignore_cleanup_errors=True) as root:
        spooled = _spool(f"{root}/spool", table, df, order_by)
        return _write_spool(out, db_type, table, df.columns, *spooled)


def write_dump(
    out: IO[str],
    db_type: str,
    tables: Iterable[tuple[str, str, DataFrame | None, str | None]],
) -> ExportStats:
    """Write an ordered dump: header -> per-table sections -> footer.

    ``tables`` yields (name, create_ddl, dataframe_or_None, order_by) in
    FK-topo order (schema.go:62-166); a None dataframe means truncate
    (DDL only, exporter.go:191-197). The reference writes tables strictly
    one after another (exporter.go:72-80), but tables are independent:
    only the commit order needs the topo sort (SURVEY §3.1). So each
    table's tuples are spooled by a Spark text write, up to
    ``_SPOOL_WORKERS`` tables at once, each under the job group
    ``dump:<table>``, and the driver cuts each spool into INSERTs in topo
    order, waiting only for the table it writes next.

    ``tables`` is consumed on the calling thread and each spool job is
    submitted as soon as its table is yielded, so a generator that reads
    and builds tables lazily overlaps its reads with the earlier tables'
    spools. When the iteration or the sink raises, queued spools are
    cancelled and the spool directory is removed once running ones end.

    The spool is a local temporary directory that the executors write
    and the driver reads, so the executors must share the driver's
    filesystem, as every ``local[N]`` session does. Where they do not,
    the spool reads back short and the export fails naming the table;
    the parquet and JSONL exporters are the multi-host path.
    """
    stats = ExportStats()

    def spool_table(spool: str, name: str, df: DataFrame, order_by: str | None):
        # local properties are per thread: a pool thread never carries
        # the caller's job group
        df.sparkSession.sparkContext.setJobGroup(f"dump:{name}", f"dump {name}")
        return _spool(spool, name, df, order_by)

    # the pool exits first (waiting out every running job), then the
    # spool directory goes — also when a table job or the sink raised
    with tempfile.TemporaryDirectory(
        prefix="dbmask_dump_", ignore_cleanup_errors=True
    ) as spool_root, ThreadPoolExecutor(max_workers=_SPOOL_WORKERS) as pool:
        try:
            sections = [
                (name, ddl, df, None if df is None else pool.submit(
                    spool_table, f"{spool_root}/{i:04d}", name, df, order_by
                ))
                for i, (name, ddl, df, order_by) in enumerate(tables)
            ]
            out.write(header_text(db_type))
            for name, ddl, df, job in sections:
                _table_section(out, db_type, name, ddl)
                # job.result() waits only for THIS table
                rows = None if job is None else _write_spool(
                    out, db_type, name, df.columns, *job.result()
                )
                stats.add(name, rows)
            out.write(footer_text(db_type))
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise
    return stats


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter that the write fills in: after the
    action ``obs.get["rows"]`` holds the rows written, with no second
    scan. Accumulators from failed task attempts are dropped, so a
    retried task counts once. Attach it to the DataFrame handed to
    ``.write``, above any range exchange: the range sampler's job runs
    the plan below the exchange too, and would count it again."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_parquet(
    df: DataFrame,
    path: str | Path,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> int:
    """Native sink alternative: columnar, partition-parallel, splittable —
    what you actually want at 100 TB instead of a text dump. Returns the
    rows written.

    ``partition_by`` hive-partitions the output directory so downstream
    readers get partition *pruning* (a date filter touches only matching
    directories — verified in ``tests/test_plans.py``).
    ``max_records_per_file`` bounds file size against partition skew."""
    df, obs = _observed(df)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(str(path))
    return obs.get["rows"]


def write_jsonl(
    df: DataFrame,
    path: str | Path,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> int:
    """JSON-Lines sink — the lingua franca of LLM training-data
    pipelines (one JSON object per line, shard-per-file, streamable by
    any loader). Distributed and splittable like the parquet sink;
    timestamps serialise as ISO-8601 strings, arrays/maps as native
    JSON. ``max_records_per_file`` caps SHARD size — training loaders
    shuffle at shard granularity, so bounded shards are a data-quality
    property, not just an IO one. Returns the rows written."""
    df, obs = _observed(df)
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.json(str(path))
    return obs.get["rows"]


def write_sorted_parquet(
    df: DataFrame,
    path: str | Path,
    sort_by: list[str],
    num_partitions: int | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> int:
    """Globally-ordered parquet: range-partition on the sort key, sort
    within each partition. File k's keys all precede file k+1's, and each
    file is internally sorted — a reader can binary-search the dataset
    (or a downstream merge-join can consume it without re-sorting), the
    layout a key-ordered 100 TB export wants.

    This is exactly what a naive ``orderBy().write`` produces, but
    spelled explicitly: ``repartitionByRange`` (sampled range exchange,
    parallelism preserved; skewed keys get split by sampling) +
    ``sortWithinPartitions`` (local sort, no single-point merge). The
    plan must show RangePartitioning — never a global single-partition
    Sort (gated in tests/test_plans.py). Parquet min/max column stats on
    the sort key then give readers file-level pruning for key ranges.
    Returns the rows written, counted above the range exchange.
    """
    cols = [F.col(c) for c in sort_by]
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *cols)
    else:
        ranged = df.repartitionByRange(*cols)
    ordered, obs = _observed(ranged.sortWithinPartitions(*cols))
    writer = ordered.write.mode(mode)
    if max_records_per_file:
        # the cap applies inside each range partition; splitting a
        # sorted partition keeps global key order across the resulting
        # files, so the layout guarantee above survives the cap
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(str(path))
    return obs.get["rows"]


_Z_BITS = 16  # per-dimension resolution of the interleaved key


def zvalue_column(
    df: DataFrame, col_a: str, col_b: str
) -> "tuple[DataFrame, Column]":
    """(df_with_bucket_codes, zvalue Column) — Morton/Z-value of two
    numeric columns, all JVM-side: each column
    is rank-bucketed to ``_Z_BITS`` bits via its percent_rank over a
    sampled-window-free approximation — here an ntile-equivalent built
    from min/max scaling (monotone per column, which is all Z-ordering
    needs) — then the two 16-bit codes are bit-interleaved into one
    32-bit key. Rows close in BOTH dimensions get close z-values, so a
    z-sorted layout yields tight per-file bounding boxes on BOTH
    columns and parquet min/max stats prune files for 2-D predicates —
    the multi-dimensional member of the layout family
    (partitioned / sorted / compacted / z-ordered).

    Min/max scaling is statistics the optimizer or a prior pass already
    has; percentile bucketing (equi-depth) drops in for skewed columns
    by swapping the scale expression — the interleave is unchanged.
    """
    stats = df.agg(
        F.min(col_a).cast("double").alias("a_min"),
        F.max(col_a).cast("double").alias("a_max"),
        F.min(col_b).cast("double").alias("b_min"),
        F.max(col_b).cast("double").alias("b_max"),
    )
    top = (1 << _Z_BITS) - 1

    def code(col: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(col).cast("double") - F.col(lo)) / span).otherwise(
            F.lit(0.0)
        )
        return F.least(
            F.lit(top), F.floor(frac * (top + 1)).cast("int")
        ).alias(f"z_{col}")

    # bit interleave: a takes even bit positions, b odd (bitwiseAND /
    # bitwiseOR — Python's & | on Columns are BOOLEAN operators).
    # The fold runs in LONG: with _Z_BITS=16, b's top bit lands at
    # position 31, which in a 32-bit int is the sign bit — the upper
    # half of b's range would sort before everything else, splitting
    # the curve into two swapped halves.
    def interleave(a: Column, b: Column) -> Column:
        a = a.cast("long")
        b = b.cast("long")
        out = F.lit(0).cast("long")
        for i in range(_Z_BITS):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
                )
            )
        return out

    with_codes = df.crossJoin(F.broadcast(stats)).select(
        *df.columns,
        code(col_a, "a_min", "a_max"),
        code(col_b, "b_min", "b_max"),
    )
    return with_codes, interleave(
        F.col(f"z_{col_a}"), F.col(f"z_{col_b}")
    ).alias("zvalue")


def write_zorder_parquet(
    df: DataFrame,
    path: str | Path,
    col_a: str,
    col_b: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: compute the Morton key of (col_a,
    col_b), range-partition and locally sort on it, write without the
    helper columns. Each output file then covers a small rectangle in
    (col_a, col_b) space — parquet min/max stats on BOTH columns prune
    files for 2-D predicates, which a 1-D sort can only do for its
    leading column. Same distributed shape as write_sorted_parquet
    (RangePartitioning + local sort — never a global single-partition
    Sort); the z-key costs one broadcast of a 1-row min/max aggregate
    and a map-side bit-interleave projection."""
    coded, z = zvalue_column(df, col_a, col_b)
    keyed = coded.select(*df.columns, z)
    if num_partitions:
        ranged = keyed.repartitionByRange(num_partitions, F.col("zvalue"))
    else:
        ranged = keyed.repartitionByRange(F.col("zvalue"))
    (
        ranged.sortWithinPartitions("zvalue")
        .drop("zvalue")
        .write.mode(mode)
        .parquet(str(path))
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_cols: "list[str] | None" = None,
    mode: str = "overwrite",
    path: "str | Path | None" = None,
) -> None:
    """Hash-bucketed (and bucket-sorted) managed parquet table — the
    layout-family member that eliminates the JOIN shuffle, not just the
    scan cost.

    ``bucketBy(n, col)`` hash-partitions rows into ``n`` bucket files at
    WRITE time and records the bucket spec in the catalog. A later join
    (or aggregation) keyed on the bucket column reads each bucket as a
    pre-hash-partitioned split, so EnsureRequirements inserts NO
    Exchange on that side: two tables bucketed on their join keys with
    the same bucket count sort-merge-join with ZERO shuffle of either
    side (gated in tests/test_plans.py). At 100 TB this converts every
    repeated fact-fact join on a stable key (orders x lineitem on
    orderkey, events x users on user_id) from the single most expensive
    network operation in the pipeline into a local merge — the write
    pays the shuffle once, every downstream join rides it for free.

    ``sortBy`` additionally orders rows inside each bucket file so a
    sorted-bucket reader can skip or cheapen the merge sort. Bucket
    count is a layout contract: pick it once per subject area (both
    sides must match for co-location) and size it so one bucket of the
    LARGEST table fits an executor core's working set at target scale.

    ``path`` pins the table data to an explicit (external-table)
    location instead of ``spark.sql.warehouse.dir`` — the warehouse
    default is ``cwd/spark-warehouse``, which an embedding process may
    not be able to write.

    The reference's single-node exporter has no equivalent (it streams
    one table at a time, exporter.go:65-88); this is Spark-native
    physical design."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    if mode == "overwrite":
        # idempotent across sessions: the in-memory catalog forgets
        # tables on restart but their data directory survives, and
        # saveAsTable refuses to reuse a managed location
        # (LOCATION_ALREADY_EXISTS); for an explicit path, a stale dir
        # would shadow the overwrite. ONLY for overwrite — any other
        # mode (append) must never pre-delete existing data
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        if path is not None:
            stale = Path(path)
        else:
            warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
            stale = Path(warehouse.path) / table.lower()
        if stale.exists():
            shutil.rmtree(stale)
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(*(sort_cols or [bucket_col]))
    )
    if path is not None:
        writer = writer.option("path", str(path))
    writer.saveAsTable(table)
