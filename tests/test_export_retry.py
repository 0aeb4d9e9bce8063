"""Row counts observed during a dataset write survive task retries.

``export_parquet`` and ``export_jsonl`` count each table's rows with an
``Observation`` on the written DataFrame instead of reading the dataset
back. Spark drops the metrics of failed task attempts, so a retried
task must count once. This drives both exporters (plain and key-ordered
parquet, and JSONL) over a source whose reads make the first attempt of
partition 0 fail part-way through, and checks the observed counts
against the source and against the rows that landed.

It runs in a child process on ``local[2,2]``: the session fixture's
``local[4]`` allows no task retries.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
from pathlib import Path

from pyspark import TaskContext
from pyspark.sql import functions as F, types as T

from database_anonymiser_minimiser_spark.config import Config
from database_anonymiser_minimiser_spark.plans.plan import Engine
from database_anonymiser_minimiser_spark.session import get_spark

src, out, marks = sys.argv[1:4]
spark = get_spark(app_name="export-retry", master="local[2,2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("OFF")
FAIL_AT = 120  # past the first 100-row UDF batch, so earlier rows were counted
seen = {}


def fail_first_attempt(_):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        n = seen[ctx.taskAttemptId()] = seen.get(ctx.taskAttemptId(), 0) + 1
        if n == FAIL_AT:
            Path(marks, f"stage{ctx.stageId()}").touch()
            raise RuntimeError("injected task failure")
    return True


boom = F.udf(fail_first_attempt, T.BooleanType()).asNondeterministic()
cfg = Config.from_dict({
    "connection": {"type": "parquet", "path": src},
    "configuration": {"orders": {"primary_key": "o_orderkey"}, "customer": {}},
})
eng = Engine(spark, cfg)
read = eng.source.read
want = {t: read(t).count() for t in ("customer", "orders")}
eng.source.read = lambda t: read(t).where(boom(F.lit(0)))
res = {"want": want}
for name, export, read_back in [
    ("parquet", lambda d: eng.export_parquet(d), spark.read.parquet),
    ("sorted", lambda d: eng.export_parquet(d, sort_keys=True), spark.read.parquet),
    ("jsonl", lambda d: eng.export_jsonl(d), spark.read.json),
]:
    d = f"{out}/{name}"
    stats = export(d)
    res[name] = {
        "observed": stats.per_table_rows,
        "landed": {t: read_back(f"{d}/{t}").count() for t in want},
    }
spark.stop()
print("RESULT " + json.dumps(res))
"""


def test_observed_counts_survive_task_retries(sf_dir, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for t in ("customer", "orders"):
        (src / f"{t}.parquet").symlink_to(f"{sf_dir}/{t}.parquet")
    marks = tmp_path / "marks"
    marks.mkdir()
    r = subprocess.run(
        [sys.executable, "-c", CHILD, str(src), str(tmp_path / "out"), str(marks)],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])
    want = res.pop("want")
    assert want == {"customer": 150, "orders": 1500}
    for name, got in res.items():
        assert got["observed"] == want, name
        assert got["landed"] == want, name
    # the failure was really injected, once per table write at least
    assert len(list(marks.iterdir())) >= 6
