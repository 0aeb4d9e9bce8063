"""The export formats tables as concurrent Spark jobs; two exports of the
same lake must still produce byte-identical output (same topo order,
same statements) — only the job scheduling may differ."""

from database_anonymiser_minimiser_spark import config as C
from database_anonymiser_minimiser_spark.plans.plan import Engine

RAW = {
    "connection": None,
    "configuration": {
        "part": {"truncate": True},
        "orders": {"retain": 40, "primary_key": "o_orderkey"},
        "customer": {
            "primary_key": "c_custkey",
            "columns": {"c_name": "{{faker.name}}", "c_acctbal": None},
        },
        "documents": {"truncate": True},
        "embeddings": {"truncate": True},
    },
}


def test_parallel_equals_sequential(spark, sf_dir, tmp_path):
    raw = dict(RAW)
    raw["connection"] = {"type": "parquet", "path": sf_dir}
    cfg = C.Config.from_dict(raw)
    eng = Engine(spark, cfg)

    first, second = tmp_path / "first.sql", tmp_path / "second.sql"
    s1 = eng.export(str(first), db_type="mysql")
    s2 = eng.export(str(second), db_type="mysql")

    # identical except the generation timestamp in the header
    a = first.read_text().splitlines()
    b = second.read_text().splitlines()
    assert len(a) == len(b)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert all(x.startswith("-- Date:") for x, _ in diffs), diffs[:3]

    assert s1.per_table_rows == s2.per_table_rows
    assert s1.rows_exported == s2.rows_exported
    assert s1.tables_truncated == s2.tables_truncated == 3
    assert s2.per_table_rows["orders"] == 40
