"""The per-session lazy-reader memo in read_parquet_table
(sources/parquet.py). The memo holds only the unresolved read plan
(schema resolution), never rows: these tests pin the hit/miss contract —
same session + unchanged file or directory hits; a changed file
(mtime/size) or an added, removed or rewritten data file of a directory
misses AND the new bytes are what an action reads; ``_SUCCESS`` and
dot-files of a directory do not count."""

import pytest
import pyarrow as pa
import pyarrow.parquet as pq

from database_anonymiser_minimiser_spark.sources.parquet import (
    _READER_MEMO,
    read_parquet_table,
)


def _write_single_file(path, ids):
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64())}), str(path))


def test_same_session_same_file_hits(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write_single_file(f, [1, 2, 3])
    a = read_parquet_table(spark, f)
    b = read_parquet_table(spark, f)
    assert a is b  # memo hit: the identical lazy plan object
    assert sorted(r["id"] for r in b.collect()) == [1, 2, 3]


def test_changed_file_misses_and_reads_new_bytes(spark, tmp_path):
    f = tmp_path / "t.parquet"
    _write_single_file(f, [1, 2, 3])
    a = read_parquet_table(spark, f)
    assert sorted(r["id"] for r in a.collect()) == [1, 2, 3]
    _write_single_file(f, [10, 20, 30, 40])
    b = read_parquet_table(spark, f)
    assert b is not a  # size/mtime changed -> rebuilt
    assert sorted(r["id"] for r in b.collect()) == [10, 20, 30, 40]


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def _table_dir(tmp_path):
    d = tmp_path / "tdir.parquet"
    d.mkdir()
    _write_single_file(d / "part-0.parquet", [5, 6])
    _write_single_file(d / "part-1.parquet", [7])
    (d / "_SUCCESS").write_text("")
    return d


def test_unchanged_directory_hits(spark, tmp_path):
    d = _table_dir(tmp_path)
    a = read_parquet_table(spark, d)
    b = read_parquet_table(spark, d)
    assert a is b  # memo hit: the identical lazy plan object
    assert _ids(b) == [5, 6, 7]


@pytest.mark.parametrize(
    "change, want",
    [
        ("add", [5, 6, 7, 8, 9]),
        ("remove", [5, 6]),
        ("rewrite", [5, 6, 70, 71, 72]),
    ],
)
def test_changed_directory_misses_and_reads_new_rows(spark, tmp_path, change, want):
    d = _table_dir(tmp_path)
    a = read_parquet_table(spark, d)
    assert _ids(a) == [5, 6, 7]
    if change == "add":
        _write_single_file(d / "part-2.parquet", [8, 9])
    elif change == "remove":
        (d / "part-1.parquet").unlink()
    else:
        _write_single_file(d / "part-1.parquet", [70, 71, 72])
    b = read_parquet_table(spark, d)
    assert b is not a
    assert _ids(b) == want


def test_directory_ignores_success_and_dot_files(spark, tmp_path):
    d = _table_dir(tmp_path)
    a = read_parquet_table(spark, d)
    (d / "_SUCCESS").write_text("rewritten")
    (d / "_committed_0").write_text("{}")
    (d / ".hidden.parquet").write_bytes(b"not parquet")
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-9.parquet").write_bytes(b"partial")
    b = read_parquet_table(spark, d)
    assert b is a
    assert _ids(b) == [5, 6, 7]


def test_memo_never_holds_rows(spark, tmp_path):
    """The memo's values are (session, DataFrame) pairs — lazy plans.
    Nothing in the memo is a collected row set or a persisted relation."""
    f = tmp_path / "t2.parquet"
    _write_single_file(f, [7])
    df = read_parquet_table(spark, f)
    hit = [v for v in _READER_MEMO.values() if v[1] is df]
    assert hit and hit[0][0] is spark
    assert df.storageLevel.useMemory is False  # not persisted by the memo
