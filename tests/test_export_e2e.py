"""End-to-end engine test: config -> Engine -> dump file, mirroring the
reference exporter's E2E specs (exporter_test.go:116-304, 589-637):
headers per dialect, DROP/CREATE/INSERT present, truncate => no INSERT,
retain => row count, anonymised value present & original absent, FK topo
section order."""

import re

import pytest

from database_anonymiser_minimiser_spark import config as C
from database_anonymiser_minimiser_spark.plans.plan import Engine

CFG = {
    "connection": {"type": "parquet", "path": None},  # filled by fixture
    "configuration": {
        "part": {"truncate": True},
        "documents": {"truncate": True},
        "embeddings": {"truncate": True},
        "orders": {"retain": 25, "primary_key": "o_orderkey"},
        "events": {
            "retain": {"column_name": "ts", "after_date": "2024-01-25"},
        },
        "customer": {
            "primary_key": "c_custkey",
            "columns": {
                "c_name": "{{faker.name}}",
                "c_mktsegment": "SEGMENT-X",
                "c_acctbal": None,
            },
        },
    },
}


@pytest.fixture(scope="module")
def dump_text(spark, sf_dir, tmp_path_factory):
    raw = dict(CFG)
    raw["connection"] = {"type": "parquet", "path": sf_dir}
    cfg = C.Config.from_dict(raw)
    eng = Engine(spark, cfg)
    out = tmp_path_factory.mktemp("dump") / "dump.sql"
    stats = eng.export(str(out), db_type="mysql")
    text = out.read_text()
    return text, stats


def section(text: str, table: str) -> str:
    parts = text.split("-- Table: ")
    for p in parts[1:]:
        if p.startswith(table):
            return p
    raise AssertionError(f"no section for {table}")


def test_header_and_footer(dump_text):
    text, _ = dump_text
    assert text.startswith("-- Database Dump")
    assert "SET FOREIGN_KEY_CHECKS = 0;" in text
    assert text.rstrip().endswith("SET FOREIGN_KEY_CHECKS = 1;")


def test_every_table_has_ddl(dump_text):
    text, _ = dump_text
    for t in ["region", "nation", "customer", "orders", "lineitem", "part"]:
        sec = section(text, t)
        assert f"DROP TABLE IF EXISTS `{t}`;" in sec
        assert f"CREATE TABLE `{t}`" in sec


def test_truncate_tables_have_no_inserts(dump_text):
    text, stats = dump_text
    for t in ["part", "documents", "embeddings"]:
        assert "INSERT INTO" not in section(text, t)
    assert stats.tables_truncated == 3


def test_retain_counts(dump_text):
    text, stats = dump_text
    assert stats.per_table_rows["orders"] == 25
    rows = re.findall(r"^\(", section(text, "orders"), re.M)
    assert len(rows) == 25


def test_anonymised_values(dump_text):
    text, _ = dump_text
    sec = section(text, "customer")
    assert "SEGMENT-X" in sec
    assert "Customer#" not in sec  # original names gone
    assert re.search(r"\(\d+, '[a-z]+ [a-z]+', \d+, NULL, 'SEGMENT-X'\)", sec)


def test_topo_order_of_sections(dump_text):
    text, _ = dump_text
    pos = {t: text.index(f"-- Table: {t}\n") for t in
           ["region", "nation", "customer", "supplier", "orders", "lineitem"]}
    assert pos["region"] < pos["nation"] < pos["customer"] < pos["orders"] < pos["lineitem"]
    assert pos["supplier"] < pos["lineitem"]


@pytest.mark.parametrize("db_type", ["mysql", "postgres", "sqlite"])
def test_full_export_surface_per_dialect(spark, sf_dir, tmp_path, db_type):
    """The COMPLETE emitted export surface per dialect, end-to-end
    through Engine.export — reference behavior spec
    ``internal/exporter/exporter_test.go:306-347`` (headers) plus the
    DROP/INSERT identifier-quoting rules (``exporter.go:91-166,
    259-271``). The earlier goldens covered header/footer/DROP as unit
    calls on the default path; this drives every dialect through the
    same orchestration the CLI uses and checks the assembled file."""
    cfg = C.Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {
                "part": {"truncate": True},
                "customer": {
                    "primary_key": "c_custkey",
                    "columns": {"c_name": "{{faker.name}}", "c_acctbal": None},
                },
            },
        }
    )
    out = tmp_path / f"dump_{db_type}.sql"
    Engine(spark, cfg).export(str(out), db_type=db_type)
    text = out.read_text()

    header_spec = {
        "mysql": ["SET NAMES utf8mb4;", "SET FOREIGN_KEY_CHECKS = 0;",
                  "START TRANSACTION;"],
        "postgres": ["SET client_encoding = 'UTF8';",
                     "SET standard_conforming_strings = on;"],
        "sqlite": ["PRAGMA foreign_keys = OFF;"],
    }
    footer_spec = {
        "mysql": ["COMMIT;", "SET FOREIGN_KEY_CHECKS = 1;"],
        "postgres": ["-- End of dump"],
        "sqlite": ["PRAGMA foreign_keys = ON;"],
    }
    q = (lambda t: f"`{t}`") if db_type == "mysql" else (lambda t: f'"{t}"')

    # header block precedes everything; dialect lines all present
    assert text.startswith("-- Database Dump")
    assert f"-- Database Type: {db_type}" in text
    for line in header_spec[db_type]:
        assert line in text, f"{db_type} header missing {line!r}"
        assert text.index(line) < text.index("-- Table: ")
    for line in footer_spec[db_type]:
        assert line in text, f"{db_type} footer missing {line!r}"
        assert text.index(line) > text.rindex("INSERT INTO")

    # DROP: quoting + postgres CASCADE, before the CREATE of each table
    cascade = " CASCADE" if db_type == "postgres" else ""
    for t in ["customer", "part"]:
        drop = f"DROP TABLE IF EXISTS {q(t)}{cascade};"
        assert drop in text, f"{db_type} missing {drop!r}"
        assert text.index(drop) < text.index(f"CREATE TABLE {q(t)}")

    # INSERT: dialect identifier quoting on table AND column list;
    # truncated table emits DDL but no INSERT
    ins = f"INSERT INTO {q('customer')} ({q('c_custkey')}, {q('c_name')}"
    assert ins in text, f"{db_type} INSERT head malformed"
    part_sec = text.split(f"-- Table: part")[1]
    assert "INSERT INTO" not in part_sec.split("-- Table: ")[0]

    # masked values present, original absent, NULL rule surfaces as NULL
    assert "Customer#" not in text
    assert re.search(r"\(\d+, '[a-z]+ [a-z]+', \d+, NULL, '", text)


def test_sync_adds_missing_tables(spark, sf_dir):
    cfg = C.Config.from_dict(
        {"connection": {"type": "parquet", "path": sf_dir},
         "configuration": {"customer": {}}}
    )
    eng = Engine(spark, cfg)
    missing = eng.sync(dry_run=True)
    assert "orders" in missing and "customer" not in missing
    assert not cfg.has_table("orders")  # dry run did not mutate
    eng.sync(truncate=True)
    assert cfg.has_table("orders") and cfg.configuration["orders"].truncate


def test_dry_run_renders_decisions(spark, sf_dir, capsys):
    raw = dict(CFG)
    raw["connection"] = {"type": "parquet", "path": sf_dir}
    eng = Engine(spark, C.Config.from_dict(raw))
    lines = eng.dry_run(with_counts=False)
    joined = "\n".join(lines)
    assert "Action: TRUNCATE" in joined
    assert "Action: RETAIN 25 rows" in joined
    assert "Action: RETAIN rows where ts > 2024-01-25 00:00:00" in joined
    assert "Action: FULL EXPORT" in joined
    assert "Anonymised columns: c_acctbal, c_mktsegment, c_name" in joined


def test_export_parquet_native_sink(spark, sf_dir, tmp_path):
    """Native parquet export: per-table datasets, minimise/anonymise
    applied, truncated tables empty-with-schema, partitioning honoured."""
    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {
                "part": {"truncate": True},
                "orders": {"retain": 50, "primary_key": "o_orderkey"},
                "customer": {"columns": {"c_name": "{{faker.name}}"}},
            },
        }
    )
    out = str(tmp_path / "lake")
    stats = Engine(spark, cfg).export_parquet(
        out, partition_by={"orders": ["o_orderstatus"]}
    )
    assert stats.per_table_rows["orders"] == 50
    assert stats.tables_truncated == 1

    part = spark.read.parquet(f"{out}/part")
    assert part.count() == 0 and "p_name" in part.columns

    cust = spark.read.parquet(f"{out}/customer")
    orig = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert cust.count() == orig.count()
    masked = {r["c_name"] for r in cust.select("c_name").collect()}
    assert masked.isdisjoint({r["c_name"] for r in orig.select("c_name").collect()})

    # hive partition dirs exist for the configured table
    import os

    assert any(
        d.startswith("o_orderstatus=") for d in os.listdir(f"{out}/orders")
    )


def test_export_parquet_sort_keys_layout(spark, sf_dir, tmp_path):
    """--sort-keys: tables with a primary_key export key-ordered —
    every data file internally sorted AND file key-ranges disjoint
    (range partitioning), so parquet min/max stats give readers
    file-level key pruning. Tables without a primary_key keep the
    plain layout; re-running with the flag flipped re-exports (the
    layout is part of the resume fingerprint)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {
                "orders": {"primary_key": "o_orderkey"},
                "customer": {},  # no pk -> plain layout
            },
        }
    )
    out = str(tmp_path / "sorted_lake")
    eng = Engine(spark, cfg)
    stats = eng.export_parquet(out, sort_keys=True)
    files = sorted(Path(f"{out}/orders").glob("part-*.parquet"))
    assert len(files) >= 1
    ranges = []
    for f in files:
        keys = pq.read_table(f, columns=["o_orderkey"])["o_orderkey"].to_pylist()
        assert keys == sorted(keys), f"{f} not internally sorted"
        if keys:
            ranges.append((keys[0], keys[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap - no pruning possible"
    # rows identical to the source
    assert (
        spark.read.parquet(f"{out}/orders").count()
        == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    )
    # the count observed during the write (above the range exchange,
    # whose sampler job would count the rows again) is what landed
    assert stats.per_table_rows["orders"] == (
        spark.read.parquet(f"{out}/orders").count()
    )
    # layout flag is part of the dataset identity: resume under the
    # OTHER flag must re-export, not skip
    plan = next(p for p in eng.plan_tables() if p.name == "orders")
    assert eng._table_fingerprint(plan, None, sort_keys=True) != (
        eng._table_fingerprint(plan, None, sort_keys=False)
    )
    # no-pk table is unaffected by the flag
    assert eng._table_fingerprint(
        next(p for p in eng.plan_tables() if p.name == "customer"),
        None,
        sort_keys=True,
    ) == eng._table_fingerprint(
        next(p for p in eng.plan_tables() if p.name == "customer"),
        None,
        sort_keys=False,
    )


def test_export_parquet_max_records_per_file(spark, sf_dir, tmp_path):
    """--max-records-per-file bounds file size: the orders table (1,500
    rows at sf0.001) splits into files of at most N rows each, rows
    preserved."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {"orders": {}},
        }
    )
    out = str(tmp_path / "capped_lake")
    Engine(spark, cfg).export_parquet(out, max_records_per_file=200)
    files = list(Path(f"{out}/orders").glob("part-*.parquet"))
    counts = [pq.read_metadata(f).num_rows for f in files]
    assert all(c <= 200 for c in counts), counts
    assert sum(counts) == spark.read.parquet(
        f"{sf_dir}/orders.parquet"
    ).count()


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """Small-file compaction in place: many part files -> ~target-sized
    few, same rows."""
    from database_anonymiser_minimiser_spark.operators.compaction import (
        compact_dataset,
    )

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_small_files")
    src.repartition(16).write.parquet(out)
    import glob

    before = len(glob.glob(f"{out}/*.parquet"))
    assert before >= 16
    n_rows = src.count()

    after = compact_dataset(spark, out, target_mb=512)["files_after"]
    assert after < before
    assert spark.read.parquet(out).count() == n_rows


def test_compact_parquet_preserves_hive_partitions(spark, sf_dir, tmp_path):
    """Compacting a hive-partitioned dataset must keep the key=value
    directory layout (partition pruning for downstream readers) and not
    fold partition columns into the data files."""
    import os

    from database_anonymiser_minimiser_spark.operators.compaction import (
        compact_dataset,
    )

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_parts")
    src.repartition(8).write.partitionBy("o_orderstatus").parquet(out)
    n_rows = src.count()
    statuses = sorted(
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    )
    assert statuses

    compact_dataset(spark, out, target_mb=512)

    after_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    )
    assert after_dirs == statuses  # layout preserved
    back = spark.read.parquet(out)
    assert back.count() == n_rows
    assert "o_orderstatus" in back.columns
    # no stale promotion leftovers
    assert not os.path.exists(out + ".compact.tmp")
    assert not os.path.exists(out + ".compact.old")


def test_cli_defaults_to_stdout(spark, sf_dir, tmp_path, capsys, monkeypatch):
    """Reference parity: -o omitted writes the dump to STDOUT
    (cmd/dbmask/main.go:42,146-156)."""
    from database_anonymiser_minimiser_spark import cli

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration:\n"
        "  region: {primary_key: r_regionkey}\n" % sf_dir
    )
    # keep the run tiny: restrict the corpus to one table via a symlink dir
    only = tmp_path / "corpus"
    only.mkdir()
    import os

    os.symlink(f"{sf_dir}/region.parquet", only / "region.parquet")
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration:\n"
        "  region: {primary_key: r_regionkey}\n" % only
    )
    rc = cli.main(["-c", str(cfg)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "INSERT INTO `region`" in out
    assert out.startswith("-- Database Dump")


def test_cli_verbose_flag(spark, sf_dir, tmp_path, capsys):
    """-v/--verbose parity (main.go:43): progress lines on stderr."""
    from database_anonymiser_minimiser_spark import cli

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration: {}\n" % sf_dir
    )
    rc = cli.main(["-c", str(cfg), "-v", "--dry-run"])
    err = capsys.readouterr().err
    assert rc == 0
    assert "connection: parquet" in err


def test_subset_export_referentially_closed(spark, sf_dir, tmp_path):
    """Flagship pipeline (subset_export_lines twin): FK-closed subset ->
    anonymise -> topo-ordered dump, then PROVE the dump is importable —
    every FK value in a child section resolves within the dump itself
    (the property per-table retain rules cannot give, minimise.go), and
    parent sections precede child sections (schema.go:62-166)."""
    import re as _re

    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.config import TableConfig
    from database_anonymiser_minimiser_spark.dump import write_dump
    from database_anonymiser_minimiser_spark.operators.anonymise import anonymise
    from database_anonymiser_minimiser_spark.plans.topo import (
        sort_tables_by_dependency,
    )
    from database_anonymiser_minimiser_spark.sources.parquet import ParquetSource

    src = ParquetSource(spark, sf_dir)
    chain = ["customer", "orders", "lineitem"]
    bucket = F.expr(
        "CAST(substr(translate(md5(CAST(c_custkey AS STRING)), "
        "'abcdef', '012345'), 1, 6) AS BIGINT) % 100"
    )
    sc = src.read("customer").filter(bucket < 10)
    so = src.read("orders").join(
        sc.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    sl = src.read("lineitem").join(
        so.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    tc = TableConfig(
        primary_key="c_custkey",
        columns={"c_name": "{{faker.name}}", "c_acctbal": None},
    )
    dfs = {"customer": anonymise(sc, tc), "orders": so, "lineitem": sl}

    fks = [fk for fk in src.get_foreign_keys() if fk.table in set(chain)]
    order = sort_tables_by_dependency(chain, fks)
    out = tmp_path / "subset.sql"
    with open(out, "w") as fh:
        stats = write_dump(
            fh,
            "mysql",
            (
                (t, src.get_table_schema(t), dfs[t], None)
                for t in order
            ),
        )
    text = out.read_text()

    # parent sections precede child sections in the dump
    assert (
        text.index("-- Table: customer")
        < text.index("-- Table: orders")
        < text.index("-- Table: lineitem")
    )

    # parse the leading integer columns out of each section's tuples
    def tuple_heads(table: str, n: int) -> list[tuple[int, ...]]:
        sec = section(text, table)
        heads = _re.findall(
            r"^\(" + r",\s*".join([r"(\d+)"] * n), sec, _re.MULTILINE
        )
        return [tuple(int(x) for x in (h if n > 1 else (h,))) for h in heads]

    cust_keys = {h[0] for h in tuple_heads("customer", 1)}
    order_rows = tuple_heads("orders", 2)  # (o_orderkey, o_custkey)
    order_keys = {r[0] for r in order_rows}
    li_rows = tuple_heads("lineitem", 1)  # (l_orderkey,)

    assert stats.rows_exported == len(cust_keys) + len(order_rows) + len(li_rows)
    assert cust_keys and order_rows and li_rows
    # referential closure: every dumped FK resolves inside the dump
    assert {r[1] for r in order_rows} <= cust_keys
    assert {r[0] for r in li_rows} <= order_keys
    # and it IS a subset, not the full corpus
    assert len(cust_keys) < src.get_row_count("customer")


def test_subset_export_imports_into_real_sqlite(spark, sf_dir, tmp_path):
    """END-STATE check: the subset dump, generated in the sqlite dialect,
    must import into a REAL fresh SQLite database and show ZERO foreign-
    key violations when the FK constraints are checked by the database
    itself — the strongest form of the referential-closure claim."""
    import sqlite3

    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.dump import write_dump
    from database_anonymiser_minimiser_spark.plans.topo import (
        sort_tables_by_dependency,
    )
    from database_anonymiser_minimiser_spark.sources.parquet import ParquetSource

    src = ParquetSource(spark, sf_dir)
    chain = ["customer", "orders", "lineitem"]
    bucket = F.expr(
        "CAST(substr(translate(md5(CAST(c_custkey AS STRING)), "
        "'abcdef', '012345'), 1, 6) AS BIGINT) % 100"
    )
    sc = src.read("customer").filter(bucket < 10)
    so = src.read("orders").join(
        sc.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    sl = src.read("lineitem").join(
        so.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    dfs = {"customer": sc, "orders": so, "lineitem": sl}

    # DDL with REAL FK constraints so sqlite itself enforces closure
    ddl = {
        "customer": 'CREATE TABLE "customer" ("c_custkey" INTEGER PRIMARY KEY,'
        ' "c_name" TEXT, "c_nationkey" INTEGER, "c_acctbal" REAL,'
        ' "c_mktsegment" TEXT);',
        "orders": 'CREATE TABLE "orders" ("o_orderkey" INTEGER PRIMARY KEY,'
        ' "o_custkey" INTEGER REFERENCES "customer"("c_custkey"),'
        ' "o_orderstatus" TEXT, "o_totalprice" REAL, "o_orderdate" TEXT,'
        ' "o_orderpriority" TEXT);',
        "lineitem": 'CREATE TABLE "lineitem" ("l_orderkey" INTEGER REFERENCES'
        ' "orders"("o_orderkey"), "l_partkey" INTEGER, "l_suppkey" INTEGER,'
        ' "l_linenumber" INTEGER, "l_quantity" REAL, "l_extendedprice" REAL,'
        ' "l_discount" REAL, "l_tax" REAL, "l_returnflag" TEXT,'
        ' "l_linestatus" TEXT, "l_shipdate" TEXT);',
    }

    fks = [fk for fk in src.get_foreign_keys() if fk.table in set(chain)]
    order = sort_tables_by_dependency(chain, fks)
    out = tmp_path / "subset_sqlite.sql"
    with open(out, "w") as fh:
        stats = write_dump(
            fh,
            "sqlite",
            ((t, ddl[t], dfs[t], None) for t in order),
        )

    con = sqlite3.connect(":memory:")
    con.executescript(out.read_text())
    # the database's own FK checker is the judge
    violations = con.execute("PRAGMA foreign_key_check").fetchall()
    assert violations == []
    counts = {
        t: con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
        for t in chain
    }
    assert counts == stats.per_table_rows
    assert 0 < counts["customer"] < src.get_row_count("customer")
    # masked/minimised values are not part of this test: it isolates the
    # subset+dump+import path (anonymise is covered by its twin above)
    con.close()


def test_cli_audit_surfaces_retain_orphans(spark, sf_dir, tmp_path, capsys):
    """`audit` checks the EXPORT-SHAPED data: retain-N on orders must be
    reported as orphaning lineitem rows (FAIL, exit 1), while the intact
    FK edges and the PK checks pass. This is the per-table-retain
    footgun the FK-closed subsetting operator exists to avoid — the
    audit makes it visible before the dump is imported."""
    from database_anonymiser_minimiser_spark import cli

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration:\n"
        "  orders: {retain: 50, primary_key: o_orderkey}\n" % sf_dir
    )
    rc = cli.main(["-c", str(cfg), "audit"])
    out = capsys.readouterr().out
    assert rc == 1  # at least one failed check
    assert "PASS  orders: complete(o_orderkey)" in out
    assert "PASS  orders: unique(o_orderkey)" in out
    assert "FAIL  lineitem: fk_contained(l_orderkey->orders.o_orderkey)" in out
    m = re.search(
        r"FAIL  lineitem: fk_contained\(l_orderkey->orders\.o_orderkey\) "
        r"\(observed=(\d+)\)",
        out,
    )
    assert m and int(m.group(1)) > 0
    # edges not touched by the retain stay green
    assert "PASS  orders: fk_contained(o_custkey->customer.c_custkey)" in out


def test_cli_audit_clean_config_passes(spark, sf_dir, tmp_path, capsys):
    """Full export of everything (no minimisation) must audit clean —
    exit 0, zero FAIL lines."""
    from database_anonymiser_minimiser_spark import cli

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration:\n"
        "  customer: {primary_key: c_custkey}\n" % sf_dir
    )
    rc = cli.main(["-c", str(cfg), "audit"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "FAIL" not in out


def test_export_parquet_resume_skips_completed_tables(spark, sf_dir, tmp_path):
    """resume=True must not recompute tables whose _SUCCESS marker
    exists, must re-export a table whose marker is missing (crashed
    mid-write), and the resumed output must equal a fresh export."""
    import shutil
    from pathlib import Path

    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": str(sf_dir)},
            "configuration": {
                "region": {"primary_key": "r_regionkey"},
                "nation": {"primary_key": "n_nationkey"},
            },
        }
    )
    eng = Engine(spark, cfg)
    out = tmp_path / "lake"
    first = eng.export_parquet(str(out))

    # simulate a crash that lost nation mid-write: marker gone
    (out / "nation" / "_SUCCESS").unlink()
    region_mtime = max(
        f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet")
    )
    resumed = eng.export_parquet(str(out), resume=True)

    # region untouched (not rewritten), nation rebuilt, stats identical
    assert (
        max(f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet"))
        == region_mtime
    )
    assert (out / "nation" / "_SUCCESS").exists()
    assert resumed.per_table_rows == first.per_table_rows
    assert resumed.rows_exported == first.rows_exported


def test_export_parquet_resume_reexports_on_rule_change(spark, sf_dir, tmp_path):
    """A committed dataset is only skippable on resume when the stored
    _RULES_FINGERPRINT matches the CURRENT config: exporting under old
    rules, then adding a masking rule and resuming, must re-export the
    changed table (otherwise the resume silently ships data anonymised
    under the old rules — the PII footgun). A legacy dataset with a
    _SUCCESS marker but no fingerprint sidecar must also re-export."""
    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    base = {
        "connection": {"type": "parquet", "path": str(sf_dir)},
        "configuration": {
            "region": {"primary_key": "r_regionkey"},
            "nation": {"primary_key": "n_nationkey"},
        },
    }
    out = tmp_path / "lake"
    Engine(spark, Config.from_dict(base)).export_parquet(str(out))
    assert (out / "region" / "_RULES_FINGERPRINT").exists()

    # rules changed after the first run: region gains a masking rule
    changed = {
        "connection": {"type": "parquet", "path": str(sf_dir)},
        "configuration": {
            "region": {
                "primary_key": "r_regionkey",
                "columns": {"r_name": "static"},
            },
            "nation": {"primary_key": "n_nationkey"},
        },
    }
    nation_mtime = max(
        f.stat().st_mtime_ns for f in (out / "nation").glob("*.parquet")
    )
    region_mtime = max(
        f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet")
    )
    Engine(spark, Config.from_dict(changed)).export_parquet(
        str(out), resume=True
    )
    # region re-exported under the new rules; nation untouched
    assert (
        max(f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet"))
        > region_mtime
    )
    assert (
        max(f.stat().st_mtime_ns for f in (out / "nation").glob("*.parquet"))
        == nation_mtime
    )
    masked = spark.read.parquet(str(out / "region")).select("r_name").distinct()
    assert [r[0] for r in masked.collect()] == ["static"]

    # legacy dataset: marker present, fingerprint sidecar absent
    (out / "region" / "_RULES_FINGERPRINT").unlink()
    region_mtime2 = max(
        f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet")
    )
    Engine(spark, Config.from_dict(changed)).export_parquet(
        str(out), resume=True
    )
    assert (
        max(f.stat().st_mtime_ns for f in (out / "region").glob("*.parquet"))
        > region_mtime2
    )
    assert (out / "region" / "_RULES_FINGERPRINT").exists()


def test_cli_encrypt_interrupt_resume_audit_lifecycle(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    """Flagship lifecycle (r6 verdict item 6): one CLI sequence driving
    the reference's whole main.go:80-199 flow plus the r6/r7 extensions
    composed — export with {{encrypt}} rules, crash mid-run, resume via
    the _SUCCESS + _RULES_FINGERPRINT markers, then audit the result.
    The encrypted column must round-trip through the real decrypt
    path and keep its deterministic same-value->same-token property."""
    from database_anonymiser_minimiser_spark import cli
    from database_anonymiser_minimiser_spark.operators.privacy import (
        depseudonymize_column,
    )
    from database_anonymiser_minimiser_spark.sources.parquet import (
        read_parquet_table,
    )
    from pyspark.sql import functions as F

    monkeypatch.setenv("DBMASK_ENCRYPT_KEY", "0123456789abcdef")
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        "connection: {type: parquet, path: %s}\n"
        "configuration:\n"
        "  customer:\n"
        "    primary_key: c_custkey\n"
        "    columns:\n"
        "      c_name: \"{{encrypt.deterministic}}\"\n"
        "      c_mktsegment: \"{{encrypt}}\"\n"
        "  orders: {primary_key: o_orderkey}\n" % sf_dir
    )
    lake = tmp_path / "lake"

    # 1. full export under encrypt rules
    assert cli.main(["-c", str(cfg), "--format", "parquet", "-o", str(lake)]) == 0
    assert (lake / "customer" / "_RULES_FINGERPRINT").exists()

    # 2. crash simulation: orders lost its commit marker mid-write
    (lake / "orders" / "_SUCCESS").unlink()
    cust_mtime = max(
        f.stat().st_mtime_ns for f in (lake / "customer").glob("*.parquet")
    )

    # 3. resume: orders re-exports, customer (marker + fingerprint both
    #    good) is skipped untouched
    assert (
        cli.main(
            ["-c", str(cfg), "--format", "parquet", "-o", str(lake), "--resume"]
        )
        == 0
    )
    assert (lake / "orders" / "_SUCCESS").exists()
    assert (
        max(f.stat().st_mtime_ns for f in (lake / "customer").glob("*.parquet"))
        == cust_mtime
    )

    # 4. audit passes: PKs complete+unique, FK edges intact
    assert cli.main(["-c", str(cfg), "audit"]) == 0
    out = capsys.readouterr().out
    assert "FAIL" not in out

    # 5. the cipher actually bit, deterministically, and reverses
    exported = spark.read.parquet(str(lake / "customer"))
    source = read_parquet_table(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("c_name").alias("orig_name")
    )
    joined = exported.join(source, "c_custkey").persist()
    try:
        assert joined.filter(F.col("c_name") == F.col("orig_name")).count() == 0
        decrypted = joined.withColumn(
            "dec",
            depseudonymize_column(
                "c_name", "0123456789abcdef", deterministic=True
            ),
        )
        assert decrypted.filter(F.col("dec") != F.col("orig_name")).count() == 0
        # deterministic mode: equal plaintext <=> equal token
        assert (
            joined.select("c_name").distinct().count()
            == joined.select("orig_name").distinct().count()
        )
    finally:
        joined.unpersist()


def test_cli_stream_tail_cdc_lite(spark, tmp_path):
    """r8 (verdict item 6): the CDC-lite pipeline end-to-end through the
    CLI — `stream --table users --once`: tail a live SQLite table by
    rowid, anonymise in flight per the config's rules, append to a
    parquet dataset with a checkpoint. Three properties: (1) the first
    drain exports every row MASKED; (2) rows inserted AFTER it are the
    ONLY output of a rerun with the same checkpoint (resume-by-rowid);
    (3) masking is deterministic across the two runs (same input name ->
    same token), so the streamed dataset is consistent with a batch
    export."""
    import sqlite3

    from database_anonymiser_minimiser_spark import cli

    db = str(tmp_path / "app.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT, email TEXT)"
    )
    con.executemany(
        "INSERT INTO users VALUES (?,?,?)",
        [(i, f"Person {i}", f"p{i}@real.example") for i in range(20)],
    )
    con.commit()
    con.close()

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"""
connection: {{type: sqlite, file: {db}}}
configuration:
  users:
    primary_key: id
    columns:
      name: "{{{{faker.name}}}}"
      email: "{{{{faker.email}}}}"
"""
    )
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    argv = [
        "-c", str(cfg), "stream",
        "--table", "users", "--output", out, "--checkpoint", chk, "--once",
    ]
    assert cli.main(argv) == 0
    first = spark.read.parquet(out)
    rows = {r["id"]: (r["name"], r["email"]) for r in first.collect()}
    assert len(rows) == 20
    assert all("Person" not in n for n, _ in rows.values())  # masked
    assert all(e.endswith("@example.com") for _, e in rows.values())

    con = sqlite3.connect(db)
    con.executemany(
        "INSERT INTO users VALUES (?,?,?)",
        [(100, "Person 0", "p0@real.example"), (101, "Late Nancy", "ln@x.dev")],
    )
    con.commit()
    con.close()
    assert cli.main(argv) == 0
    second = {r["id"]: (r["name"], r["email"]) for r in
              spark.read.parquet(out).collect()}
    assert set(second) == set(rows) | {100, 101}  # ONLY the new rows appended
    assert second[0] == second[100]  # deterministic: same input -> same token


def test_stream_once_drains_backlog_larger_than_one_batch(spark, tmp_path):
    """r9 regression (found by the stream-tail drain probe in
    SCALING_r9.json): Spark's
    simple-stream-reader wrapper plans availableNow against ONE
    prefetched maxRowsPerBatch batch, so a single run of the old code
    drained only the first batch of a large backlog. `once=True` must
    loop until quiescent: a table 5x the batch size drains COMPLETELY in
    one stream_table call, exactly once, masked."""
    import sqlite3

    from database_anonymiser_minimiser_spark import config as config_mod
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    db = str(tmp_path / "big.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT)")
    con.executemany(
        "INSERT INTO users VALUES (?,?)",
        [(i, f"Person {i}") for i in range(500)],
    )
    con.commit()
    con.close()
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"connection: {{type: sqlite, file: {db}}}\n"
        "configuration:\n"
        "  users: {primary_key: id, columns: {name: '{{faker.name}}'}}\n"
    )
    engine = Engine(spark, config_mod.load(str(cfg)))
    out, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = engine.stream_table("users", out, chk, once=True, max_rows_per_batch=100)
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 500  # the whole backlog, not one batch
    assert got.select("id").distinct().count() == 500  # exactly once
    assert not [r for r in got.collect() if "Person" in r["name"]]  # masked


def test_cli_rejects_nonpositive_batch_rows(capsys):
    """ADVICE r9 (cli.py): --batch-rows 0 would make the tail reader
    issue LIMIT 0, so the first availableNow run reads zero rows and the
    --once drain loop declares an untouched backlog done — exit 0 with an
    empty export. The parser must reject it before a session is built."""
    from database_anonymiser_minimiser_spark import cli

    for bad in ("0", "-5"):
        with pytest.raises(SystemExit) as e:
            cli.build_parser().parse_args(
                ["-c", "x.yaml", "stream", "--table", "t",
                 "--output", "o", "--checkpoint", "c",
                 "--batch-rows", bad]
            )
        assert e.value.code == 2
        assert "must be >= 1" in capsys.readouterr().err
    ns = cli.build_parser().parse_args(
        ["-c", "x.yaml", "stream", "--table", "t",
         "--output", "o", "--checkpoint", "c", "--batch-rows", "7"]
    )
    assert ns.batch_rows == 7


def test_cli_manifest_before_release_verb_survives():
    """ADVICE r13 (cli.py): the top-level --manifest and the release
    subparser's --manifest share a dest, and argparse copies the
    subparser's namespace — defaults INCLUDED — over the parent's, so
    'dbmask -c cfg --manifest X release' silently discarded X (manifest
    never written, prior-epsilon preload skipped). With SUPPRESS as the
    subparser default the pre-verb value survives; a post-verb value
    still wins; no flag still yields None."""
    from database_anonymiser_minimiser_spark import cli

    p = cli.build_parser()
    assert p.parse_args(
        ["-c", "x.yaml", "--manifest", "X", "release"]
    ).manifest == "X"
    assert p.parse_args(
        ["-c", "x.yaml", "release", "--manifest", "Y"]
    ).manifest == "Y"
    assert p.parse_args(
        ["-c", "x.yaml", "--manifest", "X", "release", "--manifest", "Y"]
    ).manifest == "Y"
    assert p.parse_args(["-c", "x.yaml", "release"]).manifest is None


def test_cli_config_error_is_message_not_traceback(tmp_path, capsys):
    """A bad config (unknown connection type, invalid settings.key_mode)
    must exit nonzero with an `error:` line, not a traceback — reference
    behavior (cmd/dbmask/main.go:76)."""
    from database_anonymiser_minimiser_spark import cli

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        "connection: {type: parquet, path: /root/testdata/sf0.001}\n"
        "settings: {key_mode: turbo}\n"
        "configuration: {}\n"
    )
    rc = cli.main(["-c", str(bad), "--dry-run"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "error:" in err and "key_mode" in err

    # the plausible typo for "hashed" — the internal hash NAME, not a
    # mode (r10 ADVICE): same friendly exit, and the message must name
    # the valid values so the user can self-correct
    bad.write_text(
        "connection: {type: parquet, path: /root/testdata/sf0.001}\n"
        "settings: {key_mode: xxhash}\n"
        "configuration: {}\n"
    )
    rc = cli.main(["-c", str(bad), "--dry-run"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "error:" in err and "hashed" in err and "oracle" in err
    assert "Traceback" not in err


def test_cli_screen_verb_flags_neardups(spark, tmp_path, capsys):
    """r11: the `screen` verb runs the streaming near-dup ingest from
    the CLI without a config — flags printed as TSV in arrival order,
    exit 0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark import cli

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq.write_table(
        pa.table({"doc_id": [100], "text": [base]}), landed)
    f = spool / "part0.parquet"
    pq.write_table(
        pa.table({"doc_id": [0, 1],
                  "text": [base.replace("jumps", "leaps"),
                           "fresh unseen words entirely here"]}), f)
    os.utime(f, (1700000000, 1700000000))

    rc = cli.main([
        "screen",
        "--landed", landed,
        "--spool", str(spool),
        "--index", str(tmp_path / "idx"),
        "--threshold", "0.4",
        "--table-prefix", "t_cli_screen",
    ])
    assert rc == 0
    out = capsys.readouterr()
    lines = [ln for ln in out.out.splitlines() if ln.strip()]
    assert len(lines) == 1
    epoch, doc_id, n_dups, best_j = lines[0].split("\t")
    assert (epoch, doc_id, n_dups) == ("0", "0", "1")
    assert 0.4 <= float(best_j) < 1.0
    assert "1 document(s) flagged" in out.err
    for t in ("t_cli_screen_bands", "t_cli_screen_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_screen_resume_requires_checkpoint(capsys):
    from database_anonymiser_minimiser_spark import cli

    rc = cli.main([
        "screen", "--landed", "/nonexistent", "--spool", "/nonexistent",
        "--index", "/nonexistent", "--resume",
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "error:" in err and "--checkpoint" in err
    assert "Traceback" not in err


def test_register_index_missing_manifest_is_friendly(spark, tmp_path):
    import pytest as _pytest

    from database_anonymiser_minimiser_spark.operators import dedup as D

    with _pytest.raises(FileNotFoundError, match="never seeded"):
        D.register_minhash_index_bucketed(
            spark, "t_nope", str(tmp_path / "empty")
        )


def test_sort_keys_fingerprint_matches_write_branch(spark, sf_dir):
    """r12 ADVICE: the fingerprint's sort_keys entry must use EXACTLY
    the write branch's predicate — a truncated or hive-partitioned
    table writes the plain layout, so its fingerprint must not claim
    key order (else toggling --sort-keys forces spurious re-exports of
    byte-identical datasets under --resume)."""
    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {
                "orders": {"primary_key": "o_orderkey", "truncate": True},
                "customer": {"primary_key": "c_custkey"},
            },
        }
    )
    eng = Engine(spark, cfg)
    trunc = next(p for p in eng.plan_tables() if p.name == "orders")
    # truncated: writer takes the plain branch -> flag-invariant
    assert eng._table_fingerprint(trunc, None, sort_keys=True) == (
        eng._table_fingerprint(trunc, None, sort_keys=False)
    )
    # hive-partitioned: writer takes the plain branch -> flag-invariant
    part = next(p for p in eng.plan_tables() if p.name == "customer")
    assert eng._table_fingerprint(
        part, ["c_mktsegment"], sort_keys=True
    ) == eng._table_fingerprint(part, ["c_mktsegment"], sort_keys=False)
    # plain keyed table still distinguishes the layouts
    assert eng._table_fingerprint(part, None, sort_keys=True) != (
        eng._table_fingerprint(part, None, sort_keys=False)
    )


def test_sort_keys_respects_max_records_per_file(spark, sf_dir, tmp_path):
    """r12 ADVICE: --sort-keys + --max-records-per-file compose — the
    key-ordered path previously dropped the cap, leaving exactly the
    LARGE key-ordered tables with unbounded file sizes. The cap splits
    within range partitions, so the disjoint-key-range layout
    guarantee survives it."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.config import Config
    from database_anonymiser_minimiser_spark.plans.plan import Engine

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": sf_dir},
            "configuration": {"orders": {"primary_key": "o_orderkey"}},
        }
    )
    out = str(tmp_path / "sorted_capped")
    Engine(spark, cfg).export_parquet(
        out, sort_keys=True, max_records_per_file=200
    )
    files = sorted(Path(f"{out}/orders").glob("part-*.parquet"))
    counts = [pq.read_metadata(f).num_rows for f in files]
    assert all(c <= 200 for c in counts), counts
    assert sum(counts) == spark.read.parquet(
        f"{sf_dir}/orders.parquet"
    ).count()
    # the layout guarantees hold THROUGH the cap: internally sorted
    # files with globally disjoint key ranges
    ranges = []
    for f in files:
        keys = pq.read_table(f, columns=["o_orderkey"])[
            "o_orderkey"
        ].to_pylist()
        assert keys == sorted(keys), f"{f} not internally sorted"
        if keys:
            ranges.append((keys[0], keys[-1]))
    ranges.sort()
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file key ranges overlap"


def test_cli_screen_semantic_flags_embedding_neardups(spark, tmp_path, capsys):
    """r13: `screen --semantic` runs the streaming ANN ingest screen
    from the CLI — (epoch, vec_id, n_close, best_cosine) TSV for flagged
    vectors only, arrival-order semantics through the persisted index."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark import cli

    def pq_write(path, ids, vecs):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float32())),
                }
            ),
            path,
        )

    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq_write(
        landed,
        [100, 101, 102],
        [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]],
    )
    f = spool / "part0.parquet"
    pq_write(str(f), [0, 1], [[0.99, 0.05, 0, 0], [0.5, 0.5, 0.7, 0]])
    os.utime(f, (1700000000, 1700000000))
    f2 = spool / "part1.parquet"
    pq_write(str(f2), [7], [[0.5, 0.5, 0.7, 0]])  # exact-dups vec 1
    os.utime(f2, (1700000001, 1700000001))

    rc = cli.main([
        "screen", "--semantic",
        "--landed", landed,
        "--spool", str(spool),
        "--index", str(tmp_path / "annidx"),
        "--threshold", "0.95",
        "--nprobe", "3",
        "--num-centroids", "3",
    ])
    assert rc == 0
    out = capsys.readouterr()
    rows = [ln.split("\t") for ln in out.out.splitlines() if ln.strip()]
    by_id = {r[1]: r for r in rows}
    # epoch 0: vec 0 near-parallels landed 100; vec 1 is clean (no line)
    assert by_id["0"][0] == "0" and by_id["0"][2] == "1"
    # epoch 1: vec 7 matches vec 1, which arrived in epoch 0
    assert by_id["7"][0] == "1" and float(by_id["7"][3]) > 0.999
    assert set(by_id) == {"0", "7"}
    assert "2 of 3 vector(s) flagged" in out.err
    # --dedup-seed is a text-mode flag
    rc = cli.main([
        "screen", "--semantic", "--dedup-seed",
        "--landed", landed, "--spool", str(spool),
        "--index", str(tmp_path / "annidx2"),
    ])
    assert rc == 2
    assert "text screen only" in capsys.readouterr().err
