"""The SQL export reads and builds each table on the calling thread while
earlier tables' spool jobs already run. A table that fails then must
fail the export by name and leave no spool behind, and a
TIMESTAMP(NANOS) table read among running spools must dump exactly as
it does alone, leaving the caller's ``nanosAsLong`` as it was."""

import io
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_anonymiser_minimiser_spark.config import Config
from database_anonymiser_minimiser_spark.plans.plan import Engine

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def _lake(root, p):
    """Tables ``{p}a``, ``{p}b`` and ``{p}c``, exported in that order (no
    foreign keys); ``{p}c``'s ``ts`` column is stored TIMESTAMP(NANOS).
    Each test has its own prefix, so its job groups are its own."""
    root.mkdir()
    for name, n in ((f"{p}a", 40), (f"{p}b", 25)):
        pq.write_table(
            pa.table({"id": list(range(n)), "v": [f"{name} {i}" for i in range(n)]}),
            root / f"{name}.parquet",
        )
    _nanos_table(root / f"{p}c.parquet")
    return root


def _nanos_table(path):
    nanos = [1_700_000_000_123_456_789, None, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({"id": [3, 1, 2], "ts": pa.array(nanos, type=pa.timestamp("ns"))}),
        path,
    )


def _engine(spark, root, p):
    return Engine(spark, Config.from_dict({
        "connection": {"type": "parquet", "path": str(root)},
        "configuration": {
            f"{p}a": {"primary_key": "id", "retain": 30},
            f"{p}c": {"primary_key": "id"},
        },
    }))


def _section(text, table):
    return text.split(f"-- Table: {table}\n", 1)[1].split("\n-- Table: ", 1)[0]


def test_table_missing_at_read_fails_by_name_and_leaves_no_spool(spark, tmp_path, monkeypatch):
    """The third table vanishes after the catalog listed it: the export
    raises naming it, after the first two tables' spool jobs started, and
    no ``dbmask_dump_*`` directory is left."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = _lake(tmp_path / "lake", "miss_")
    eng = _engine(spark, root, "miss_")
    schema = eng.source.get_table_schema

    def vanish_third(table, db_type=None):
        if table == "miss_c":
            (root / "miss_c.parquet").unlink()
        return schema(table, db_type=db_type)

    monkeypatch.setattr(eng.source, "get_table_schema", vanish_third)
    with pytest.raises(FileNotFoundError, match="miss_c"):
        eng.export_to(io.StringIO())
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("dump:miss_a")
    assert tracker.getJobIdsForGroup("dump:miss_b")
    assert not list(tmp_path.glob("dbmask_dump_*"))


def test_nanos_table_among_running_spools_matches_alone(spark, tmp_path):
    """The ns table, read while the first two tables' spools run, dumps
    the same tuples as a lake holding only it, with microsecond values;
    the session's ``nanosAsLong`` is as before the export."""
    before = spark.conf.get(NANOS_KEY, None)
    whole = io.StringIO()
    stats = _engine(spark, _lake(tmp_path / "lake", "ns_"), "ns_").export_to(whole)
    alone_root = tmp_path / "alone"
    alone_root.mkdir()
    _nanos_table(alone_root / "ns_c.parquet")
    alone = io.StringIO()
    _engine(spark, alone_root, "ns_").export_to(alone)

    assert spark.conf.get(NANOS_KEY, None) == before
    assert stats.per_table_rows == {"ns_a": 30, "ns_b": 25, "ns_c": 3}
    got = _section(whole.getvalue(), "ns_c")
    assert got == _section(alone.getvalue(), "ns_c")
    assert "(1, NULL),\n(2, '2020-09-13 12:26:40'),\n(3, '2023-11-14 22:13:20')" in got
