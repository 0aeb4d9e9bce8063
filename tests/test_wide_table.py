"""Wide-table axis (r11): hundreds of masked columns through the
single-projection anonymise operator.

Enterprise schemas run to hundreds of columns; every other test uses the
<=16-column TPC-H tables. Spark's codegen has two cliffs on this axis —
whole-stage codegen silently disables past spark.sql.codegen.maxFields
(default 100), and a wide-enough generated method blows the JVM 64KB
bytecode limit and falls back per job (SCALING_wide_r11.json holds the
resulting win/loss curve; plans/plan.py:_wide_codegen applies it). The
correctness invariant gated here: the MASKED VALUES are identical in
every codegen regime — compiled, split, or interpreted fallback.
"""

import pytest
from pyspark.sql import functions as F

from database_anonymiser_minimiser_spark.config import TableConfig
from database_anonymiser_minimiser_spark.operators.anonymise import anonymise
from database_anonymiser_minimiser_spark.plans.plan import (
    _WIDE_CODEGEN_MAX,
    _wide_codegen,
)

WIDTH = 300
FAKERS = ["name", "email", "city", "company", "username"]


def _wide_df(spark, rows: int):
    cols = [F.col("id").alias("pk")] + [
        F.concat(F.lit(f"v{i}_"), ((F.col("id") * (i + 1)) % 9973).cast("string")).alias(
            f"c{i}"
        )
        for i in range(WIDTH)
    ]
    return spark.range(rows).select(*cols)


def _wide_config() -> TableConfig:
    return TableConfig(
        primary_key="pk",
        columns={
            f"c{i}": "{{faker." + FAKERS[i % len(FAKERS)] + "}}"
            for i in range(WIDTH)
        },
    )


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_wide_anonymise_values_identical_across_codegen_modes(spark):
    """300 masked columns, three codegen regimes (default = interpreted
    projection, raised = whole-stage codegen, raised past the 64KB
    fallback boundary would be width 600 — covered by the probe): the
    masked rows must be byte-identical, because codegen mode is an
    execution detail and must never change released values."""
    df = _wide_df(spark, 2000)
    cfg = _wide_config()
    prev = spark.conf.get("spark.sql.codegen.maxFields", None)
    try:
        spark.conf.unset("spark.sql.codegen.maxFields")
        out_default = anonymise(df, cfg)
        rows_default = {r["pk"]: tuple(r) for r in out_default.collect()}
        spark.conf.set("spark.sql.codegen.maxFields", str(WIDTH + 10))
        out_raised = anonymise(df, cfg)
        rows_raised = {r["pk"]: tuple(r) for r in out_raised.collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.codegen.maxFields")
        else:
            spark.conf.set("spark.sql.codegen.maxFields", prev)
    assert rows_default == rows_raised
    # and the masking actually happened: no original value survives
    original = tuple(df.filter(F.col("pk") == 0).collect()[0])
    sample = rows_default[0]
    assert len(sample) == WIDTH + 1
    assert all(m != o for m, o in zip(sample[1:], original[1:]))
    assert all(v is not None for v in sample)


def test_wide_anonymise_is_one_projection(spark):
    """The wide projection must stay a single scan+project plan — no
    exchange, no Python eval — exactly like the narrow case."""
    out = anonymise(_wide_df(spark, 10), _wide_config())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_wide_codegen_window_and_restore(spark):
    """_wide_codegen raises maxFields only inside the measured
    (100, 200] win window and always restores the prior conf."""
    key = "spark.sql.codegen.maxFields"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        # inside the window: set + restored to the session default
        with _wide_codegen(spark, 150):
            assert spark.conf.get(key) == "160"
        assert spark.conf.get(key) == "100"  # built-in default again

        # outside the window (narrow and too-wide): untouched
        for width in (50, 100, _WIDE_CODEGEN_MAX + 1, 600):
            with _wide_codegen(spark, width):
                assert spark.conf.get(key) == "100"

        # pre-existing explicit value is restored, not clobbered
        spark.conf.set(key, "123")
        with _wide_codegen(spark, 200):
            assert spark.conf.get(key) == "210"
        assert spark.conf.get(key) == "123"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
