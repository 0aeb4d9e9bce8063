"""Minimise operators: truncate / retain-count / retain-date.

Reference semantics (``internal/database/mysql.go:150-166`` generates the
single physical SQL: ``SELECT cols FROM t [WHERE c > ?] [LIMIT n]``;
truncate short-circuits before any scan, ``exporter.go:191-197``):

- truncate: schema only, zero rows -> ``df.limit(0)`` (plan-level; the
  scan is pruned because LocalLimit 0 collapses),
- retain N: first N rows. The reference's LIMIT has no ORDER BY so "first"
  is source-order nondeterministic (mysql.go:163-166); for deterministic
  results (and the DuckDB oracle) we harden to ``ORDER BY pk LIMIT n`` —
  Spark executes this as TakeOrderedAndProject (a top-k, no global sort)
  which holds at any scale while the projections above the limit
  (masking, then dump formatting) collapse into one. A projection
  Catalyst cannot merge (one reading a non-trivial masked value twice)
  separates the limit from its sort, which then plans as a
  range-exchange sort of the whole table (gated in tests/test_plans.py),
- retain after date: strict ``col > timestamp`` (mysql.go:157-161), a
  plain filter Catalyst pushes into the parquet/JDBC scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import RetainConfig, TableConfig


def truncate(df: DataFrame) -> DataFrame:
    return df.limit(0)


def retain_count(df: DataFrame, n: int, order_by: str | None = None) -> DataFrame:
    """Keep first n rows; with ``order_by`` (pk) the result is deterministic
    and executes as a distributed top-k (TakeOrderedAndProject)."""
    if order_by:
        return df.orderBy(F.col(f"`{order_by}`").asc()).limit(n)
    return df.limit(n)


def retain_after_date(df: DataFrame, column: str, after_date) -> DataFrame:
    """Strict greater-than date filter; pushed down to the source scan."""
    return df.filter(F.col(f"`{column}`") > F.lit(after_date))


def minimise(df: DataFrame, tc: TableConfig) -> DataFrame:
    """Compile a table's minimisation spec to a plan (exporter.go:211-215)."""
    if tc.truncate:
        return truncate(df)
    r: RetainConfig = tc.retain
    if r.is_date_based:
        return retain_after_date(df, r.column_name, r.after_date)
    if r.is_count_based:
        return retain_count(df, r.count, order_by=tc.primary_key or None)
    return df
