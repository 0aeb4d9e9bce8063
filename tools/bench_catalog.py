"""Catalog-scale probe: export a database of HUNDREDS of tables.

The reference walks whole databases; real schemas run to hundreds of
tables (one giant TPC-H-ish fact is the wrong mental model for a
CRM/ERP export). The per-TABLE costs are driver-side and sequential:
catalog bind (schema read), plan build, a Spark job per table in the
dump loop — at 500 tables a 0.5 s/table overhead is a 4-minute export
before a single byte of data volume matters.

Builds a lake of ``--tables`` small parquet tables (8 columns, --rows
each, every 4th table masked on two columns), then measures:

- plan_tables() (catalog list + FK topo) wall,
- dry_run(with_counts=False) wall,
- full SQL-dump export wall (tables formatted as concurrent jobs),
- its per-table amortised cost.

Usage:
    python tools/bench_catalog.py [--tables 300] [--rows 500]
                                  [--out SCALING_catalog_r11.json]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from database_anonymiser_minimiser_spark.config import Config  # noqa: E402
from database_anonymiser_minimiser_spark.plans.plan import Engine  # noqa: E402
from database_anonymiser_minimiser_spark.session import get_spark  # noqa: E402


def build_lake(spark, root: str, n_tables: int, rows: int) -> None:
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    df = spark.range(rows).select(
        F.col("id").alias("pk"),
        *[
            F.concat(F.lit(f"x{j}_"), (F.col("id") % 97).cast("string")).alias(
                f"col{j}"
            )
            for j in range(7)
        ],
    )
    # one Spark write per table is itself the realistic lake shape; write
    # once and copy the files for speed (content is irrelevant to the
    # per-table overhead being measured)
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/t000.parquet")
    for i in range(1, n_tables):
        shutil.copytree(f"{root}/t000.parquet", f"{root}/t{i:03d}.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", type=int, default=300)
    ap.add_argument("--rows", type=int, default=500)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="bench_catalog")
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/dbmask_catalog_lake"
    build_lake(spark, root, args.tables, args.rows)

    cfg = Config.from_dict(
        {
            "connection": {"type": "parquet", "path": root},
            "configuration": {
                f"t{i:03d}": {
                    "primary_key": "pk",
                    "columns": {
                        "col0": "{{faker.name}}",
                        "col1": "{{faker.email}}",
                    },
                }
                for i in range(0, args.tables, 4)
            },
        }
    )
    eng = Engine(config=cfg, spark=spark)

    t0 = time.monotonic()
    plans = eng.plan_tables()
    plan_s = time.monotonic() - t0
    assert len(plans) == args.tables

    t0 = time.monotonic()
    eng.dry_run(with_counts=False, out=io.StringIO())
    dry_s = time.monotonic() - t0

    t0 = time.monotonic()
    eng.export_to(io.StringIO(), db_type="mysql")
    export_s = time.monotonic() - t0

    res = {
        "tables": args.tables,
        "rows_per_table": args.rows,
        "plan_tables_s": round(plan_s, 3),
        "dry_run_s": round(dry_s, 3),
        "export_s": round(export_s, 3),
        "export_ms_per_table": round(1000 * export_s / args.tables, 1),
    }
    print(json.dumps(res))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
