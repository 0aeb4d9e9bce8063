"""JDBC source: MySQL / PostgreSQL / SQLite over Spark's JDBC reader.

Mirrors the reference drivers (``internal/database/mysql.go`` /
``postgres.go`` / ``sqlite.go``) Spark-first: instead of hand-streaming
cursor batches (mysql.go:180-222), we hand Spark a JDBC relation and let
it push projections and the retain-date predicate down to the database
(the reference's only pushdowns, mysql.go:150-166, are Catalyst-native
over JDBC).

DSN construction mirrors ``config.go:240-273``. Catalog queries
(information_schema / PRAGMA) mirror mysql.go:44-135 and are issued
through the same JDBC channel with ``dbtable=(subquery)``.

The JDBC execution path is integration-proven end-to-end against Apache
Derby — the embedded JDBC database whose driver ships inside Spark's own
jars directory (no network, no extra install): ``tests/test_jdbc.py``
writes tables over JDBC, reads them back through ``JdbcCatalogSource``
with predicate pushdown, and runs the full config->mask->dump pipeline
over the JDBC source. MySQL/Postgres differ only in URL + driver-class
strings (their driver jars must be on ``spark.jars``); their catalog SQL
is unit-tested at the string level, same role SQLite plays for the
reference's own tests (SURVEY.md section 5).

Scale note: ``partition_column``/``num_partitions`` map to Spark's
parallel JDBC reads — the reference is single-cursor sequential
(exporter.go:72-80); here a big table fans out across executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import Connection
from ..dump import quote_ident
from ..plans.topo import ForeignKey
from .parquet import create_table_ddl, schema_columns

_JDBC_DRIVERS = {
    "mysql": "com.mysql.cj.jdbc.Driver",
    "postgres": "org.postgresql.Driver",
    "sqlite": "org.sqlite.JDBC",
    "derby": "org.apache.derby.jdbc.EmbeddedDriver",
}


def jdbc_url(conn: Connection) -> str:
    """JDBC DSN from connection config (mirrors config.go:240-273)."""
    if conn.type == "mysql":
        port = conn.port or 3306
        return f"jdbc:mysql://{conn.host}:{port}/{conn.database_name}"
    if conn.type == "postgres":
        port = conn.port or 5432
        return f"jdbc:postgresql://{conn.host}:{port}/{conn.database_name}"
    if conn.type == "sqlite":
        return f"jdbc:sqlite:{conn.file}"
    if conn.type == "derby":
        # embedded in-process database; create on first touch
        return f"jdbc:derby:{conn.file};create=true"
    raise ValueError(f"unsupported jdbc connection type: {conn.type}")


def list_tables_sql(conn_type: str, database: str = "") -> str:
    """Catalog query for base tables, sorted (mysql.go:44-47,
    postgres.go:44-49, sqlite.go:42-47)."""
    if conn_type == "mysql":
        return (
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{database}' AND table_type = 'BASE TABLE' "
            "ORDER BY table_name"
        )
    if conn_type == "postgres":
        return (
            "SELECT tablename AS table_name FROM pg_catalog.pg_tables "
            "WHERE schemaname = 'public' ORDER BY tablename"
        )
    if conn_type == "derby":
        return (
            "SELECT TABLENAME AS table_name FROM SYS.SYSTABLES "
            "WHERE TABLETYPE = 'T' ORDER BY TABLENAME"
        )
    return (
        "SELECT name AS table_name FROM sqlite_master "
        "WHERE type = 'table' AND name NOT LIKE 'sqlite_%' ORDER BY name"
    )


def scan_sql(
    conn_type: str,
    table: str,
    columns: list[str],
    date_column: str | None = None,
    after_date: str | None = None,
    limit: int | None = None,
) -> str:
    """The reference's per-table physical plan — ONE generated SELECT with
    the WHERE date-retain and LIMIT count-retain pushed to the source
    database (mysql.go:138-166; identical shape in postgres.go:189-215 and
    sqlite.go:152-179): explicit quoted catalog-ordered column list,
    optional strict ``col > 'ts'``, optional row limit. Dialect nit: Derby
    spells LIMIT as ``FETCH FIRST n ROWS ONLY`` (ANSI form).
    """
    cols = ", ".join(quote_ident(conn_type, c) for c in columns)
    sql = f"SELECT {cols} FROM {quote_ident(conn_type, table)}"
    if date_column and after_date:
        sql += f" WHERE {quote_ident(conn_type, date_column)} > '{after_date}'"
    if limit is not None:
        if conn_type == "derby":
            sql += f" FETCH FIRST {int(limit)} ROWS ONLY"
        else:
            sql += f" LIMIT {int(limit)}"
    return sql


def foreign_keys_sql(conn_type: str, database: str = "") -> str:
    """FK catalog query (mysql.go:108-117, postgres.go:153-168)."""
    if conn_type == "mysql":
        return (
            "SELECT table_name, column_name, referenced_table_name, "
            "referenced_column_name FROM information_schema.key_column_usage "
            f"WHERE table_schema = '{database}' AND referenced_table_name IS NOT NULL "
            "ORDER BY table_name, ordinal_position"
        )
    if conn_type == "postgres":
        return (
            "SELECT tc.table_name, kcu.column_name, "
            "ccu.table_name AS referenced_table_name, "
            "ccu.column_name AS referenced_column_name "
            "FROM information_schema.table_constraints tc "
            "JOIN information_schema.key_column_usage kcu "
            "ON tc.constraint_name = kcu.constraint_name "
            "JOIN information_schema.constraint_column_usage ccu "
            "ON tc.constraint_name = ccu.constraint_name "
            "WHERE tc.constraint_type = 'FOREIGN KEY' "
            "ORDER BY tc.table_name, kcu.ordinal_position"
        )
    raise ValueError("sqlite FKs use PRAGMA foreign_key_list, issued per table")


@dataclass
class JdbcSource:
    """Reads tables over JDBC with optional parallel partitioned scans."""

    spark: SparkSession
    conn: Connection
    fetch_size: int = 1000  # reference batch size (exporter.go:16-17)

    def _reader(self):
        r = (
            self.spark.read.format("jdbc")
            .option("url", jdbc_url(self.conn))
            .option("driver", _JDBC_DRIVERS[self.conn.type])
            .option("fetchsize", str(self.fetch_size))
        )
        if self.conn.username:
            r = r.option("user", self.conn.username)
        if self.conn.password:
            r = r.option("password", self.conn.password)
        return r

    def read(
        self,
        table: str,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
    ) -> DataFrame:
        r = self._reader().option(
            "dbtable", quote_ident(self.conn.type, table)
        )
        if partition_column is not None:
            r = (
                r.option("partitionColumn", partition_column)
                .option("numPartitions", str(num_partitions))
                .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
                .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31))
            )
        return r.load()

    def query(self, sql: str) -> DataFrame:
        return self._reader().option("query", sql).load()

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        column_types: str | None = None,
    ) -> None:
        """JDBC sink (test/seed harness; Spark's JDBC writer creates the
        table and batch-inserts through the same driver).

        ``column_types`` maps to Spark's ``createTableColumnTypes`` —
        needed e.g. on Derby, where the default StringType mapping is
        CLOB, which Derby refuses to compare against string literals."""
        w = (
            df.write.format("jdbc")
            .option("url", jdbc_url(self.conn))
            .option("driver", _JDBC_DRIVERS[self.conn.type])
            .option("dbtable", quote_ident(self.conn.type, table))
        )
        if column_types:
            w = w.option("createTableColumnTypes", column_types)
        w.mode(mode).save()


class JdbcCatalogSource:
    """The full source protocol (driver.go:48-69) over a live JDBC
    database: catalog + scan, same interface as ParquetSource /
    SqliteSource so ``plans.plan.Engine`` can run the whole
    config->mask->dump pipeline against MySQL / Postgres / Derby.

    Catalog queries execute THROUGH the JDBC channel itself
    (``dbtable=(subquery)``), exactly like the reference issues its
    information_schema lookups over the same connection
    (mysql.go:44-135). Integration-tested against embedded Derby
    (tests/test_jdbc.py); MySQL/Postgres swap URL + driver jar.
    """

    def __init__(self, spark: SparkSession, conn: Connection):
        self.spark = spark
        self.conn = conn
        self.jdbc = JdbcSource(spark, conn)

    # -- catalog (S4-S8) ----------------------------------------------------

    def get_tables(self) -> list[str]:
        sql = list_tables_sql(self.conn.type, self.conn.database_name)
        # positional: Derby uppercases unquoted aliases (TABLE_NAME)
        return [r[0] for r in self.jdbc.query(sql).collect()]

    def read(self, table: str) -> DataFrame:
        return self.jdbc.read(table)

    def get_columns(self, table: str):
        return schema_columns(self.read(table).schema)

    def get_table_schema(self, table: str, db_type: str | None = None) -> str:
        """CREATE TABLE DDL reconstructed from the JDBC-reported schema
        (postgres.go:68-114 pattern), quoted for the SOURCE dialect —
        the reference exports a database back into its own dialect;
        ``db_type`` is accepted for interface parity and ignored."""
        return create_table_ddl(self.conn.type, table, self.get_columns(table))

    def get_row_count(self, table: str) -> int:
        q = quote_ident(self.conn.type, table)
        sql = f"SELECT COUNT(*) AS n FROM {q}"
        return int(self.jdbc.query(sql).collect()[0][0])

    def get_foreign_keys(self) -> list[ForeignKey]:
        """FK edges via the dialect's catalog SQL (mysql.go:108-135 /
        postgres.go:153-186). Derby's FK catalog needs conglomerate
        decoding across four SYS tables — out of scope; topo ordering
        falls back to name order (the reference tolerates FK-less
        databases the same way, schema.go:149-163)."""
        if self.conn.type in ("mysql", "postgres"):
            sql = foreign_keys_sql(self.conn.type, self.conn.database_name)
            return [
                ForeignKey(
                    r["table_name"],
                    r["column_name"],
                    r["referenced_table_name"],
                    r["referenced_column_name"],
                )
                for r in self.jdbc.query(sql).collect()
            ]
        return []
