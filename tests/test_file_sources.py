"""Round-trip every supported file format through the same operators the
parquet corpus uses — format must be transparent to the engine."""

import pytest
from pyspark.sql import functions as F

from database_anonymiser_minimiser_spark.config import TableConfig
from database_anonymiser_minimiser_spark.operators.anonymise import anonymise
from database_anonymiser_minimiser_spark.sources import files as FS


@pytest.fixture(scope="module")
def source_df(spark, sf_dir):
    from database_anonymiser_minimiser_spark.queries import load

    return load(spark, sf_dir, "customer").limit(50)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json", "xml"])
def test_round_trip(spark, source_df, tmp_path_factory, fmt):
    out = tmp_path_factory.mktemp("fmt") / f"customer.{fmt}"
    FS.write_table(source_df, out)
    back = FS.read_table(spark, out, schema=source_df.schema if fmt not in ("parquet", "orc") else None)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, source_df.collect()))


def test_csv_schema_inference(spark, source_df, tmp_path):
    out = tmp_path / "c.csv"
    FS.write_table(source_df, out)
    inferred = FS.read_table(spark, out)  # no schema passed
    assert inferred.count() == 50
    assert dict(inferred.dtypes)["c_custkey"] in ("int", "bigint")


def test_operators_compose_over_csv(spark, source_df, tmp_path):
    out = tmp_path / "c.csv"
    FS.write_table(source_df, out)
    df = FS.read_table(spark, out, schema=source_df.schema)
    masked = anonymise(df, TableConfig(columns={"c_name": "{{faker.name}}"}))
    rows = masked.select("c_name").collect()
    assert all(" " in r["c_name"] for r in rows)  # "first last" shape
    assert not any(r["c_name"].startswith("Customer#") for r in rows)


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported table format"):
        FS.read_table(spark, tmp_path / "t.avro")


def test_orc_predicate_pushdown(spark, source_df, tmp_path):
    """ORC scans must push filters like parquet does — same PushedFilters
    contract the engine relies on for scale."""
    out = tmp_path / "c.orc"
    FS.write_table(source_df, out)
    df = FS.read_table(spark, out).filter(F.col("c_custkey") > 25)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThan(c_custkey,25)" in plan, plan[:1500]


def test_files_source_mixed_format_export(spark, sf_dir, tmp_path):
    """connection type 'files': a landing-zone directory mixing CSV and
    JSONL tables drives the full config->topo->mask->dump pipeline."""
    from database_anonymiser_minimiser_spark import config as C
    from database_anonymiser_minimiser_spark.plans.plan import Engine
    from database_anonymiser_minimiser_spark.queries import load

    lake = tmp_path / "lake"
    lake.mkdir()
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer").limit(20)
    FS.write_table(nation, lake / "nation.csv")
    FS.write_table(customer, lake / "customer.json")

    cfg = C.Config.from_dict(
        {
            "connection": {"type": "files", "path": str(lake)},
            "configuration": {
                "customer": {
                    "primary_key": "c_custkey",
                    "columns": {"c_name": "{{faker.name}}"},
                }
            },
        }
    )
    eng = Engine(spark, cfg)
    assert eng.source.get_tables() == ["customer", "nation"]
    # FK sidecar absent -> built-in corpus edges put nation before customer
    out = tmp_path / "dump.sql"
    eng.export(str(out))
    text = out.read_text()
    assert text.index("CREATE TABLE `nation`") < text.index(
        "CREATE TABLE `customer`"
    )
    assert "Customer#" not in text.split("INSERT INTO `customer`", 1)[1]
    assert "INSERT INTO `nation`" in text


def test_files_connection_requires_path():
    from database_anonymiser_minimiser_spark import config as C

    with pytest.raises(C.ConfigError, match="files connection requires 'path'"):
        C.Connection(type="files").validate()


def test_txt_lines_round_trip(spark, sf_dir, tmp_path):
    """Raw-text corpus ingestion: one line per document, read back as the
    single `value` column the text operators consume."""
    from database_anonymiser_minimiser_spark.queries import load

    docs = load(spark, sf_dir, "documents").limit(30).select(F.col("text"))
    out = tmp_path / "corpus.txt"
    FS.write_table(docs, out)
    back = FS.read_table(spark, out)
    assert back.columns == ["value"]
    assert sorted(r["value"] for r in back.collect()) == sorted(
        r["text"] for r in docs.collect()
    )


def test_parquet_schema_evolution_merges_added_column(spark, tmp_path):
    """Files written before a column existed must read back with the
    column present and NULL — not dropped because the sampled footer
    predates the drift."""
    from database_anonymiser_minimiser_spark.sources.files import (
        read_parquet_evolved,
    )

    d = tmp_path / "evolving"
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.parquet(
        str(d / "part_old")
    )
    spark.createDataFrame(
        [(3, "c", 9.5)], ["id", "v", "score"]
    ).write.parquet(str(d / "part_new"))

    # read both partitions as one dataset
    df = read_parquet_evolved(spark, str(d / "part_*"))
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: (r["v"], r["score"]) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", None)
    assert rows[3] == ("c", 9.5)


def test_preflight_flags_exactly_the_corrupt_files(spark, tmp_path):
    """r11: distributed footer preflight — a 100 TB export must learn
    about damaged files BEFORE the scan fails hours in (and must never
    be told to ignoreCorruptFiles, which silently drops rows). One row
    per data file; only the planted garbage files flag, with a real
    pyarrow error message."""
    from database_anonymiser_minimiser_spark.sources.parquet import (
        preflight_parquet_files,
    )

    lake = tmp_path / "lake"
    spark.range(50).selectExpr("id AS pk").write.parquet(
        str(lake / "users.parquet")
    )
    spark.range(5).selectExpr("id AS pk").write.parquet(
        str(lake / "tiny.parquet")
    )
    bad1 = lake / "users.parquet" / "part-99999-garbage.parquet"
    bad1.write_bytes(b"PAR1 not actually parquet")
    bad2 = lake / "tiny.parquet" / "part-99998-trunc.parquet"
    # a truncated copy of a real file: valid magic, broken footer
    real = next((lake / "tiny.parquet").glob("part-*.parquet"))
    bad2.write_bytes(real.read_bytes()[:40])

    rows = preflight_parquet_files(spark, lake).collect()
    by_file = {r["file"]: r for r in rows}
    flagged = {f for f, r in by_file.items() if not r["ok"]}
    assert flagged == {str(bad1), str(bad2)}
    assert all(by_file[f]["error"] for f in flagged)
    # every healthy data file is present and ok
    healthy = {f for f, r in by_file.items() if r["ok"]}
    assert all(f.endswith(".parquet") for f in healthy)
    assert len(healthy) >= 2


def test_audit_preflight_cli(spark, tmp_path, capsys):
    """CLI contract: --preflight exits 1 listing the corrupt file and
    skips the relational audit; a clean lake proceeds to PK checks."""
    from database_anonymiser_minimiser_spark.cli import main

    lake = tmp_path / "lake2"
    spark.range(20).selectExpr("id AS pk").write.parquet(
        str(lake / "users.parquet")
    )
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"connection: {{type: parquet, path: {lake}}}\n"
        "configuration:\n  users: {primary_key: pk}\n"
    )
    assert main(["-c", str(cfg), "audit", "--preflight"]) == 0
    out_clean = capsys.readouterr().out
    assert "PASS  users: unique(pk)" in out_clean

    bad = lake / "users.parquet" / "part-z-garbage.parquet"
    bad.write_bytes(b"junk")
    assert main(["-c", str(cfg), "audit", "--preflight"]) == 1
    out_dirty = capsys.readouterr().out
    assert f"FAIL  preflight: {bad}" in out_dirty
    assert "PASS  users" not in out_dirty  # relational audit skipped


def test_preflight_empty_enumeration_fails_loudly(spark, tmp_path, capsys):
    """r11 ADVICE: an enumeration that finds zero parquet files must
    ERROR, never PASS — a driver-local glob over a remote root (or a
    wrong path) previously printed nothing and passed, a silent false
    negative from the feature sold as the row-loss defense. Files are
    now listed via the Hadoop FileSystem for the path's scheme."""
    import pytest

    from database_anonymiser_minimiser_spark.cli import main
    from database_anonymiser_minimiser_spark.sources.parquet import (
        preflight_parquet_files,
    )

    with pytest.raises(FileNotFoundError, match="does not exist"):
        preflight_parquet_files(spark, tmp_path / "no_such_root")
    empty = tmp_path / "empty_lake"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")  # markers alone are not data
    with pytest.raises(FileNotFoundError, match="no parquet data files"):
        preflight_parquet_files(spark, empty)
    # CLI: exit 2 with the error on stderr, not a pass or a traceback
    cfg = tmp_path / "cfg_empty.yaml"
    cfg.write_text(
        f"connection: {{type: parquet, path: {empty}}}\n"
        "configuration:\n  users: {primary_key: pk}\n"
    )
    assert main(["-c", str(cfg), "audit", "--preflight"]) == 2
    err = capsys.readouterr().err
    assert "preflight" in err and "no parquet data files" in err


@pytest.mark.parametrize("single_file_first", [False, True])
def test_parquet_directory_table_with_nanos_timestamps(spark, tmp_path, single_file_first):
    """A ``<table>.parquet/`` directory holding a TIMESTAMP(NANOS) column
    reads as a microsecond timestamp, whether or not a single-file ns
    table was read first in the session (that read turns on
    ``nanosAsLong``, under which an unconverted column is a bigint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.session import scoped_conf
    from database_anonymiser_minimiser_spark.sources.parquet import ParquetSource

    nanos = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, None]
    data = pa.table({"id": [1, 2, 3], "ts": pa.array(nanos, type=pa.timestamp("ns"))})
    (tmp_path / "t.parquet").mkdir()
    pq.write_table(data, tmp_path / "t.parquet" / "part-00000.parquet")
    (tmp_path / "t.parquet" / "_SUCCESS").write_text("")
    pq.write_table(data, tmp_path / "single.parquet")
    src = ParquetSource(spark, tmp_path)
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "false"}):
        if single_file_first:
            src.read("single").collect()
        df = src.read("t")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("id").select(F.unix_micros("ts").alias("us")).collect()
    assert [r["us"] for r in got] == [1_700_000_000_123_456, 1_600_000_000_000_000, None]


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_nanos_read_leaves_session_conf_unchanged(spark, tmp_path, vectorized):
    """Reading a single-file TIMESTAMP(NANOS) table turns on
    ``nanosAsLong`` for the read only: the caller's value is unchanged
    afterwards, and values collected after the read are microsecond
    timestamps, with the vectorized reader on and off."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.session import scoped_conf
    from database_anonymiser_minimiser_spark.sources.parquet import read_parquet_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    nanos = [1_700_000_000_123_456_789, None, 1_600_000_000_000_000_999]
    data = pa.table({"id": [1, 2, 3], "ts": pa.array(nanos, type=pa.timestamp("ns"))})
    pq.write_table(data, tmp_path / "fresh.parquet")
    conf = {key: "false", "spark.sql.parquet.enableVectorizedReader": vectorized}
    with scoped_conf(spark, conf):
        df = read_parquet_table(spark, tmp_path / "fresh.parquet")
        assert spark.conf.get(key) == "false"
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.orderBy("id").select(F.unix_micros("ts").alias("us")).collect()
    assert [r["us"] for r in got] == [1_700_000_000_123_456, None, 1_600_000_000_000_000]
