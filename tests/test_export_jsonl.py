"""JSONL export (--format jsonl): the training-data handoff format.
Gates: DuckDB reads the shards back and the row counts / masked values
/ retain filters match the config exactly; shard sizes respect
--max-records-per-file; resume skips committed tables and re-exports on
a rule change (the parquet exporter's fingerprint semantics, format-
tagged).
"""

import glob
import os

import duckdb

from database_anonymiser_minimiser_spark import config as config_mod
from database_anonymiser_minimiser_spark.plans.plan import Engine

SF = "/root/testdata/sf0.001"

CFG = {
    "connection": {"type": "parquet", "path": SF},
    "configuration": {
        "part": {"truncate": True},
        "orders": {"retain": 50, "primary_key": "o_orderkey"},
        "events": {
            "retain": {"column_name": "ts", "after_date": "2024-01-15"}
        },
        "customer": {
            "primary_key": "c_custkey",
            "columns": {
                "c_mktsegment": "REDACTED",
                "c_acctbal": None,
            },
        },
    },
}


def _engine(spark):
    return Engine(spark, config_mod.Config.from_dict(dict(CFG)))


def test_export_jsonl_roundtrip_duckdb(spark, tmp_path):
    out = str(tmp_path / "jsonl")
    stats = _engine(spark).export_jsonl(out)
    assert stats.tables_truncated == 1
    assert stats.per_table_rows["orders"] == 50
    assert stats.per_table_rows["events"] == 506  # ts > 2024-01-15
    # DuckDB reads the shards back: counts + masked values
    n = duckdb.sql(
        f"SELECT count(*) FROM read_json_auto('{out}/customer/*.json')"
    ).fetchone()[0]
    assert n == 150
    seg = duckdb.sql(
        "SELECT count(DISTINCT c_mktsegment), min(c_mktsegment) FROM "
        f"read_json_auto('{out}/customer/*.json')"
    ).fetchone()
    assert seg == (1, "REDACTED")
    # NULL-masked column: Spark's json writer omits null fields, so the
    # reader sees NULL (or no column at all) — either way no value leaks
    cols = {
        r[0]
        for r in duckdb.sql(
            f"DESCRIBE SELECT * FROM read_json_auto('{out}/customer/*.json')"
        ).fetchall()
    }
    if "c_acctbal" in cols:
        leaked = duckdb.sql(
            "SELECT count(c_acctbal) FROM "
            f"read_json_auto('{out}/customer/*.json')"
        ).fetchone()[0]
        assert leaked == 0
    # events retain matches DuckDB on the source parquet
    want = duckdb.sql(
        f"SELECT count(*) FROM '{SF}/events.parquet' "
        "WHERE ts > TIMESTAMP '2024-01-15'"
    ).fetchone()[0]
    got = duckdb.sql(
        f"SELECT count(*) FROM read_json_auto('{out}/events/*.json')"
    ).fetchone()[0]
    assert got == want == 506
    # truncated table: committed dataset, zero data lines
    assert os.path.exists(f"{out}/part/_SUCCESS")
    lines = sum(
        1
        for f in glob.glob(f"{out}/part/part-*.json")
        for _line in open(f)
    )
    assert lines == 0


def test_export_jsonl_shard_cap(spark, tmp_path):
    out = str(tmp_path / "jsonl")
    _engine(spark).export_jsonl(out, max_records_per_file=100)
    shard_lines = [
        sum(1 for _ in open(f))
        for f in glob.glob(f"{out}/documents/part-*.json")
    ]
    assert sum(shard_lines) == 500
    assert shard_lines and max(shard_lines) <= 100


def test_export_jsonl_resume_and_rule_change(spark, tmp_path):
    out = str(tmp_path / "jsonl")
    eng = _engine(spark)
    eng.export_jsonl(out)
    marker = f"{out}/customer/_SUCCESS"
    t0 = os.path.getmtime(marker)
    stats = eng.export_jsonl(out, resume=True)
    assert os.path.getmtime(marker) == t0  # skipped, not rewritten
    assert stats.per_table_rows["customer"] == 150
    # a rule change invalidates the fingerprint -> re-export
    raw = dict(CFG)
    raw["configuration"] = dict(raw["configuration"])
    raw["configuration"]["customer"] = {
        "primary_key": "c_custkey",
        "columns": {"c_mktsegment": "MASKED2", "c_acctbal": None},
    }
    eng2 = Engine(spark, config_mod.Config.from_dict(raw))
    eng2.export_jsonl(out, resume=True)
    assert os.path.getmtime(marker) > t0
    seg = duckdb.sql(
        "SELECT min(c_mktsegment) FROM "
        f"read_json_auto('{out}/customer/*.json')"
    ).fetchone()[0]
    assert seg == "MASKED2"


def test_cli_export_jsonl(tmp_path, capsys):
    from database_anonymiser_minimiser_spark import cli

    cfgf = tmp_path / "cfg.yaml"
    import json as _json

    cfgf.write_text(_json.dumps(CFG))
    rc = cli.main(["-c", str(cfgf), "--format", "jsonl"])
    _, err = capsys.readouterr()
    assert rc == 2 and "requires -o" in err
    # --sort-keys is a parquet layout: any other format rejects it
    for fmt in ("jsonl", "sql"):
        rc = cli.main(["-c", str(cfgf), "--format", fmt, "--sort-keys"])
        _, err = capsys.readouterr()
        assert rc == 2
        assert "error: --sort-keys requires --format parquet" in err
    out = str(tmp_path / "out")
    rc = cli.main(["-c", str(cfgf), "--format", "jsonl", "-o", out])
    assert rc == 0
    assert os.path.exists(f"{out}/lineitem/_SUCCESS")
