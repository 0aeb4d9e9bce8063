"""SQL-literal formatting + escaping goldens.

Behavior spec from the reference's golden unit tables
(``internal/exporter/exporter_test.go:377-439``: formatValue/escapeString)
re-expressed as independent cases, plus dialect header/footer/DROP shape
checks (``exporter_test.go:306-347``)."""

import datetime
import re

import pytest

from database_anonymiser_minimiser_spark import dump as D


def test_escape_plain():
    assert D.escape_string("hello") == "'hello'"


def test_escape_single_quote():
    assert D.escape_string("O'Brien") == "'O''Brien'"


def test_escape_backslash_first():
    assert D.escape_string("a\\b") == "'a\\\\b'"
    # backslash doubling must happen before the control-char escapes,
    # otherwise the backslash introduced by \n would double again
    assert D.escape_string("a\nb") == "'a\\nb'"
    assert D.escape_string("a\\nb") == "'a\\\\nb'"


def test_escape_control_chars():
    assert D.escape_string("a\x00b") == "'a\\0b'"
    assert D.escape_string("a\rb") == "'a\\rb'"
    assert D.escape_string("a\x1ab") == "'a\\Zb'"


def test_format_null():
    assert D.format_value(None) == "NULL"


def test_format_bool():
    assert D.format_value(True) == "1"
    assert D.format_value(False) == "0"


def test_format_ints():
    assert D.format_value(42) == "42"
    assert D.format_value(-7) == "-7"
    assert D.format_value(0) == "0"


def test_format_floats():
    assert D.format_value(3.14) == "3.14"
    assert D.format_value(3.0) == "3"  # Go %v shortest form
    assert D.format_value(-0.5) == "-0.5"


def test_format_bytes_and_str():
    assert D.format_value(b"hello") == "'hello'"
    assert D.format_value("it's") == "'it''s'"


def test_format_timestamp():
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert D.format_value(ts) == "'2024-01-02 03:04:05'"
    assert D.format_value(datetime.date(2024, 1, 2)) == "'2024-01-02'"


def test_format_fallback_stringifies():
    assert D.format_value({"a": 1}) == "'{''a'': 1}'"


def test_headers_per_dialect():
    h = D.header_text("mysql", generated_at="2026-01-01T00:00:00Z")
    assert "SET FOREIGN_KEY_CHECKS = 0;" in h and "START TRANSACTION;" in h
    assert "Database Type: mysql" in h
    assert "client_encoding" in D.header_text("postgres")
    assert "PRAGMA foreign_keys = OFF;" in D.header_text("sqlite")


def test_footers_per_dialect():
    assert "COMMIT;" in D.footer_text("mysql")
    assert "End of dump" in D.footer_text("postgres")
    assert "PRAGMA foreign_keys = ON;" in D.footer_text("sqlite")


def test_drop_table():
    assert D.drop_table_statement("mysql", "t") == "DROP TABLE IF EXISTS `t`;"
    assert D.drop_table_statement("postgres", "t") == 'DROP TABLE IF EXISTS "t" CASCADE;'
    assert D.drop_table_statement("sqlite", "t") == 'DROP TABLE IF EXISTS "t";'
    # quote characters inside the name are doubled, as in CREATE and INSERT
    assert D.drop_table_statement("mysql", "we`ird") == "DROP TABLE IF EXISTS `we``ird`;"
    assert (
        D.drop_table_statement("postgres", 'we"ird')
        == 'DROP TABLE IF EXISTS "we""ird" CASCADE;'
    )
    assert D.drop_table_statement("sqlite", 'we"ird') == 'DROP TABLE IF EXISTS "we""ird";'


def test_insert_batches_never_exceed_batch_size(spark):
    """Multi-partition input, run three times: every INSERT holds at
    most batch_size tuples, tuples come out in order_by order, the tuple
    multiset is unchanged, and every run emits the same statements."""
    from pyspark.sql import functions as F

    n = 20000
    df = spark.range(n).select(
        ((F.col("id") * 7919) % n).alias("id"),
        F.concat(F.lit("v"), (F.col("id") % 97).cast("string")).alias("v"),
    ).repartition(4)
    want = sorted((r["id"], f"'{r['v']}'") for r in df.collect())
    head = D.insert_head("mysql", "t", df.columns)
    runs = []
    for _ in range(3):
        ordered = D.insert_statements(df, "t", order_by="id")
        tuples = (r["t"] for r in ordered.toLocalIterator())
        stmts = [stmt for stmt, _ in D.insert_batches(head, tuples)]
        runs.append(stmts)
        batches = [re.findall(r"^\((\d+), ('v\d+')\)[,;]$", s, re.M) for s in stmts]
        assert all(0 < len(b) <= D.DEFAULT_BATCH_SIZE for b in batches)
        got = [(int(i), v) for b in batches for i, v in b]
        assert [i for i, _ in got] == sorted(i for i, _ in got)
        assert got == want
    assert runs[0] == runs[1] == runs[2]


def test_insert_batches_text_and_counts():
    out = list(D.insert_batches("INSERT INTO t VALUES\n", ["(1)", "(2)", "(3)"], 2))
    assert out == [("INSERT INTO t VALUES\n(1),\n(2);", 2), ("INSERT INTO t VALUES\n(3);", 1)]
    assert list(D.insert_batches("h", [], 2)) == []


def _insert_sizes(text: str, table: str) -> list[int]:
    """Tuples per INSERT of ``table``'s section, in dump order."""
    sizes: list[int] = []
    section = text.split(f"-- Table: {table}\n", 1)[1].split("\n-- Table: ", 1)[0]
    for line in section.splitlines():
        if line.startswith("INSERT INTO"):
            sizes.append(0)
        elif line.startswith("("):
            sizes[-1] += 1
    return sizes


@pytest.mark.parametrize("n", [0, 1, 999, 1000, 1001, 2500])
def test_serial_and_parallel_dumps_identical(spark, n):
    """A primary-key table with NULL keys and a multi-partition table
    without one, around the batch boundaries: two runs of the dump
    writer, whose table jobs run concurrently, write the same bytes, no
    INSERT holds more than batch_size tuples, and the reported rows are
    the source rows."""
    import io

    from pyspark.sql import functions as F

    ids = spark.range(0, n, 1, 3)
    keyed = ids.select(
        F.when(F.col("id") % 7 == 3, None).otherwise((F.col("id") * 31) % 10007).alias("k"),
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("v"),
    )
    plain = ids.select("id", F.concat(F.lit("it's "), F.col("id").cast("string")).alias("s"))
    tables = [
        ("keyed", "CREATE TABLE `keyed` (k BIGINT, v TEXT);", keyed, "k"),
        ("empty", "CREATE TABLE `empty` (k BIGINT);", None, None),
        ("plain", "CREATE TABLE `plain` (id BIGINT, s TEXT);", plain, None),
    ]
    first, second = io.StringIO(), io.StringIO()
    s1 = D.write_dump(first, "mysql", iter(tables))
    s2 = D.write_dump(second, "mysql", tables)

    def undated(text: str) -> list[str]:
        return [line for line in text.splitlines() if not line.startswith("-- Date:")]

    assert undated(first.getvalue()) == undated(second.getvalue())
    text = first.getvalue()
    for name in ("keyed", "plain"):
        sizes = _insert_sizes(text, name)
        assert all(0 < k <= D.DEFAULT_BATCH_SIZE for k in sizes)
        assert sum(sizes) == n and len(sizes) == -(-n // D.DEFAULT_BATCH_SIZE)
    assert s1.per_table_rows == s2.per_table_rows == {
        "keyed": keyed.count(),
        "plain": plain.count(),
    }
    assert s1.tables_truncated == s2.tables_truncated == 1
    keys = re.findall(r"^\((NULL|\d+), ", text.split("-- Table: plain")[0], re.M)
    nulls = keys.count("NULL")
    assert keys[:nulls] == ["NULL"] * nulls
    assert [int(k) for k in keys[nulls:]] == sorted(int(k) for k in keys[nulls:])
    plain_ids = re.findall(r"^\((\d+), 'it''s ", text, re.M)
    assert [int(i) for i in plain_ids] == list(range(n))


def test_short_spool_read_names_the_table(spark, monkeypatch):
    """A spool that reads back fewer tuples than its write observed (as
    when executors wrote it where the driver cannot see) fails the dump
    with the table's name instead of writing a short table."""
    import io

    real = D._spooled_tuples

    def drop_one(spool):
        tuples = real(spool)
        next(tuples, None)
        return tuples

    monkeypatch.setattr(D, "_spooled_tuples", drop_one)
    df = spark.range(0, 50, 1, 2).select("id")
    with pytest.raises(RuntimeError, match="'short_tbl'"):
        D.write_dump(io.StringIO(), "mysql", [("short_tbl", "CREATE TABLE x (id BIGINT);", df, "id")])


def test_dump_jobs_run_under_table_job_groups(spark):
    """Every table that is not truncated runs its spool job under the
    job group ``dump:<table>``, whichever thread submits it."""
    import io

    df = spark.range(0, 30, 1, 2).select("id")
    tables = [
        ("grp_keyed", "CREATE TABLE a (id BIGINT);", df, "id"),
        ("grp_cut", "CREATE TABLE b (id BIGINT);", None, None),
        ("grp_plain", "CREATE TABLE c (id BIGINT);", df, None),
    ]
    D.write_dump(io.StringIO(), "mysql", tables)
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("dump:grp_keyed")
    assert tracker.getJobIdsForGroup("dump:grp_plain")
    assert not tracker.getJobIdsForGroup("dump:grp_cut")


def test_jvm_tuples_match_python_mirror_for_nulls_and_booleans(spark):
    """``row_tuple_column`` gives the same tuple text as ``format_value``
    for NULL, ``True`` and ``False`` booleans, and a NULL of every type
    ``sql_literal_column`` handles; values whose literal the mirror
    shares (ints, doubles, strings, timestamps, dates) ride along."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("b", T.BooleanType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("s", T.StringType()),
        T.StructField("arr", T.ArrayType(T.IntegerType())),
        T.StructField("st", T.StructType([T.StructField("a", T.IntegerType())])),
    ])
    nulls = (None,) * len(schema)
    rows = [
        nulls,
        (True,) + nulls[1:],
        (False,) + nulls[1:],
        (
            None, -7, 2**40, 3.0, None,
            datetime.datetime(2024, 1, 15, 9, 30, 5), datetime.date(2024, 2, 29),
            None, "it's a\\b\n", None, None,
        ),
    ]
    df = spark.createDataFrame(rows, schema)
    got = [r["t"] for r in df.select(D.row_tuple_column(df).alias("t")).collect()]
    want = ["(" + ", ".join(D.format_value(v) for v in r) + ")" for r in df.collect()]
    assert got == want
    assert got[0] == "(" + ", ".join(["NULL"] * len(schema)) + ")"
    assert got[1].startswith("(1, NULL") and got[2].startswith("(0, NULL")
    # the non-NULL decimal, binary, array and struct literals are the JVM's
    # own (unquoted decimal, JSON text), which the mirror does not model
    one = spark.createDataFrame(
        [(Decimal("1.50"), bytearray(b"ab"), [1, 2], (3,))],
        T.StructType(schema.fields[4:5] + schema.fields[7:8] + schema.fields[9:]),
    )
    assert one.select(D.row_tuple_column(one).alias("t")).first()["t"] == (
        """(1.50, 'ab', '[1,2]', '{"a":3}')"""
    )
