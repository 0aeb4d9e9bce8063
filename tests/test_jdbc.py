"""JDBC source: SQL-string unit tests for MySQL/Postgres (no server in
this environment — the reference has no MySQL/Postgres integration tests
either, SURVEY §5) PLUS live end-to-end integration against embedded
Apache Derby, whose JDBC driver ships inside Spark's own jars: write
over JDBC -> catalog -> pushdown scan -> full masked export."""

from database_anonymiser_minimiser_spark.config import Connection
from database_anonymiser_minimiser_spark.dump import quote_ident
from database_anonymiser_minimiser_spark.sources import jdbc as J


def test_jdbc_urls():
    assert (
        J.jdbc_url(Connection(type="mysql", host="h", port=3307, database_name="db"))
        == "jdbc:mysql://h:3307/db"
    )
    assert (
        J.jdbc_url(Connection(type="mysql", host="h", database_name="db"))
        == "jdbc:mysql://h:3306/db"
    )  # default port (config.go:240-257)
    assert (
        J.jdbc_url(Connection(type="postgres", host="h", database_name="db"))
        == "jdbc:postgresql://h:5432/db"
    )
    assert J.jdbc_url(Connection(type="sqlite", file="/x.db")) == "jdbc:sqlite:/x.db"


def test_quote_identifier_doubling():
    # mysql.go:237-240 backtick doubling; postgres.go:288-291 quote doubling
    assert quote_ident("mysql", "ta`ble") == "`ta``ble`"
    assert quote_ident("postgres", 'ta"ble') == '"ta""ble"'
    assert quote_ident("sqlite", "t") == '"t"'


def test_list_tables_sql_shapes():
    my = J.list_tables_sql("mysql", "mydb")
    assert "information_schema.tables" in my and "BASE TABLE" in my
    assert "ORDER BY table_name" in my
    pg = J.list_tables_sql("postgres")
    assert "pg_catalog.pg_tables" in pg
    sq = J.list_tables_sql("sqlite")
    assert "sqlite_master" in sq and "NOT LIKE 'sqlite_%'" in sq


def test_foreign_keys_sql_shapes():
    my = J.foreign_keys_sql("mysql", "mydb")
    assert "referenced_table_name IS NOT NULL" in my
    pg = J.foreign_keys_sql("postgres")
    assert "FOREIGN KEY" in pg and "constraint_column_usage" in pg


# ---------------------------------------------------------------------------
# Live JDBC integration (embedded Derby; driver ships in pyspark's jars)
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def derby(spark, tmp_path_factory):
    """A live Derby database seeded over JDBC with a users table."""
    import os

    # derby.log goes wherever user.dir points; keep the repo clean
    os.environ.setdefault("DERBY_OPTS", "-Dderby.stream.error.field=java.lang.System.err")
    conn = Connection(type="derby", file=str(tmp_path_factory.mktemp("derby") / "db"))
    src = J.JdbcSource(spark, conn)
    df = spark.createDataFrame(
        [(i, f"Person{i}", f"person{i}@real.example") for i in range(20)],
        "id int, name string, email string",
    )
    src.write(df, "users")
    return conn


def test_derby_jdbc_roundtrip_catalog_and_scan(spark, derby):
    """S1/S2 execution proof: the same JdbcSource code path MySQL/Postgres
    use (URL + driver string swapped) runs end-to-end against a live JDBC
    database — catalog listing, COUNT(*), full scan with value fidelity."""
    cat = J.JdbcCatalogSource(spark, derby)
    assert cat.get_tables() == ["users"]
    assert cat.get_row_count("users") == 20
    rows = {r["id"]: r["name"] for r in cat.read("users").collect()}
    assert rows[7] == "Person7"
    ddl = cat.get_table_schema("users")
    assert ddl.startswith('CREATE TABLE "users"') and '"email"' in ddl


def test_derby_jdbc_filter_pushdown(spark, derby):
    """The retain-date/theta predicate reaches the DATABASE (reference
    pushes WHERE into the source SQL, mysql.go:157-161): Spark's JDBC
    relation must show the filter as pushed (starred = evaluated source-
    side), not post-scan."""
    cat = J.JdbcCatalogSource(spark, derby)
    df = cat.read("users").filter("id >= 15")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan
    assert "GreaterThanOrEqual(id,15)" in plan  # pushed filter list
    assert sorted(r["id"] for r in df.collect()) == [15, 16, 17, 18, 19]


def test_derby_scan_sql_where_limit(spark, derby):
    """scan_sql generates the reference's exact per-table physical plan
    (mysql.go:138-166) and it EXECUTES on a live JDBC database: explicit
    quoted column list, WHERE pushdown, row limit (Derby's ANSI FETCH
    FIRST spelling)."""
    src = J.JdbcSource(spark, derby)
    sql = J.scan_sql("derby", "users", ["id", "name"], limit=5)
    got = src.query(sql)
    assert got.columns == ["id", "name"]
    assert got.count() == 5

    sql_mysql = J.scan_sql(
        "mysql", "users", ["id", "name"],
        date_column="created", after_date="2024-01-15 00:00:00", limit=100,
    )
    assert sql_mysql == (
        "SELECT `id`, `name` FROM `users` "
        "WHERE `created` > '2024-01-15 00:00:00' LIMIT 100"
    )


def test_derby_engine_masked_export(spark, derby, tmp_path):
    """The WHOLE pipeline (config -> catalog -> mask -> SQL dump) over a
    live JDBC source: emails masked, originals absent from the dump."""
    import io

    from database_anonymiser_minimiser_spark.config import Config, TableConfig
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config(
        connection=derby,
        configuration={
            "users": TableConfig(
                columns={"email": "{{faker.email}}", "name": "REDACTED"},
                primary_key="id",
            )
        },
    )
    engine = Engine(spark, cfg)
    out = io.StringIO()
    stats = engine.export_to(out, db_type="mysql")
    dump = out.getvalue()
    assert stats.rows_exported == 20
    assert "person7@real.example" not in dump  # original PII gone
    assert "@example.com" in dump  # deterministic masked email
    assert "'REDACTED'" in dump


# ---------------------------------------------------------------------------
# Dialect variants: recorded expectations for the reference's exact scan
# SQL (mysql.go:150-166 `?` placeholder inlined, postgres.go:208-212 `$1`
# inlined) + live execution of the postgres-dialect string on Derby
# (identical ANSI double-quote identifier rules), the closest executable
# proxy available without a MySQL/Pg server in the sandbox.
# ---------------------------------------------------------------------------

SCAN_SQL_GOLDENS = {
    # (dialect, date_filter?, limit?) -> recorded expectation
    ("mysql", False, False): 'SELECT `id`, `name` FROM `users`',
    ("mysql", True, False): (
        "SELECT `id`, `name` FROM `users` "
        "WHERE `created` > '2024-01-15 00:00:00'"
    ),
    ("mysql", True, True): (
        "SELECT `id`, `name` FROM `users` "
        "WHERE `created` > '2024-01-15 00:00:00' LIMIT 100"
    ),
    ("postgres", False, False): 'SELECT "id", "name" FROM "users"',
    ("postgres", True, False): (
        'SELECT "id", "name" FROM "users" '
        "WHERE \"created\" > '2024-01-15 00:00:00'"
    ),
    ("postgres", True, True): (
        'SELECT "id", "name" FROM "users" '
        "WHERE \"created\" > '2024-01-15 00:00:00' LIMIT 100"
    ),
    ("sqlite", True, True): (
        'SELECT "id", "name" FROM "users" '
        "WHERE \"created\" > '2024-01-15 00:00:00' LIMIT 100"
    ),
    ("derby", True, True): (
        'SELECT "id", "name" FROM "users" '
        "WHERE \"created\" > '2024-01-15 00:00:00' "
        "FETCH FIRST 100 ROWS ONLY"
    ),
}


@pytest.mark.parametrize("key", sorted(SCAN_SQL_GOLDENS))
def test_scan_sql_dialect_goldens(key):
    dialect, with_date, with_limit = key
    sql = J.scan_sql(
        dialect,
        "users",
        ["id", "name"],
        date_column="created" if with_date else None,
        after_date="2024-01-15 00:00:00" if with_date else None,
        limit=100 if with_limit else None,
    )
    assert sql == SCAN_SQL_GOLDENS[key]


@pytest.fixture(scope="module")
def derby_dated(spark, tmp_path_factory):
    """A second live Derby db whose users table carries a created column
    in the reference's date format (the reference binds the date as a
    'YYYY-MM-DD HH:MM:SS' string; lexicographic == chronological)."""
    conn = Connection(
        type="derby", file=str(tmp_path_factory.mktemp("derby2") / "db")
    )
    src = J.JdbcSource(spark, conn)
    df = spark.createDataFrame(
        [
            (i, f"Person{i}", f"2024-01-{i + 1:02d} 12:00:00")
            for i in range(20)
        ],
        "id int, name string, created string",
    )
    # VARCHAR, not Derby's default CLOB mapping: CLOB cannot be compared
    # to a string literal, and the reference's WHERE compares directly
    src.write(df, "users", column_types="name VARCHAR(64), created VARCHAR(19)")
    return conn


def test_postgres_scan_sql_executes_on_live_jdbc(spark, derby_dated):
    """The EXACT postgres-dialect scan string (reference shape, quoting
    and all — minus LIMIT, which Derby spells differently) executes on a
    live JDBC database and filters source-side."""
    sql = J.scan_sql(
        "postgres",
        "users",
        ["id", "name"],
        date_column="created",
        after_date="2024-01-15 00:00:00",
    )
    got = J.JdbcSource(spark, derby_dated).query(sql)
    assert got.columns == ["id", "name"]
    # created > 2024-01-15 12:00:00 is strict: days 16..20 -> ids 15..19
    assert sorted(r["id"] for r in got.collect()) == [14, 15, 16, 17, 18, 19]


def test_derby_scan_sql_where_and_limit_combined(spark, derby_dated):
    """WHERE + row-limit in one generated statement, executed live (the
    reference combines both when retain count AND date are configured)."""
    sql = J.scan_sql(
        "derby",
        "users",
        ["id", "name"],
        date_column="created",
        after_date="2024-01-10 00:00:00",
        limit=3,
    )
    got = J.JdbcSource(spark, derby_dated).query(sql)
    assert got.count() == 3
    assert all(r["id"] >= 9 for r in got.collect())


def test_derby_parallel_export_byte_identical(spark, derby, tmp_path):
    """The concurrent dump writer over a LIVE JDBC source writes the same
    bytes on every run (the parquet-source equivalence lives in
    test_parallel_export.py; this closes the JDBC-source x dump-sink
    combination)."""
    from database_anonymiser_minimiser_spark.config import Config, TableConfig
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config(
        connection=derby,
        configuration={
            "users": TableConfig(
                columns={"email": "{{faker.email}}", "name": "REDACTED"},
                primary_key="id",
            )
        },
    )
    engine = Engine(spark, cfg)
    first, second = tmp_path / "first.sql", tmp_path / "second.sql"
    s1 = engine.export(str(first), db_type="mysql")
    s2 = engine.export(str(second), db_type="mysql")
    a, b = first.read_text().splitlines(), second.read_text().splitlines()
    assert len(a) == len(b)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert all(x.startswith("-- Date:") for x, _ in diffs), diffs[:3]
    assert s1.per_table_rows == s2.per_table_rows == {"users": 20}
    assert s1.rows_exported == s2.rows_exported
