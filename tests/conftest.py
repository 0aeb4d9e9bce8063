import logging
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# pyspark 4's structured error logger binds a StreamHandler to whatever
# sys.stderr was when the FIRST exception logged — under pytest that is
# one test's capsys stream, closed by the time a later test triggers a
# log record, and logging then prints a "--- Logging error ---"
# traceback INTO the later test's captured stderr (order-dependent:
# surfaced when test_privacy_ledger ran before test_expectations'
# no-traceback assertion). Emission failures in a fully-captured suite
# are noise, not signal — drop them instead of re-printing.
logging.raiseExceptions = False

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# No class-data archive for the suite's JVMs: an -Xshare option in the
# launch turns it off, and -Xshare:auto is the JVM's default, so it changes
# nothing else. The session fixture and every subprocess the tests start
# inherit this, so no test run writes under the user's cache directory.
# tests/test_jvm_archive.py drops it inside a temporary cache directory.
os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
    filter(None, ["-Xshare:auto", os.environ.get("SPARK_SUBMIT_OPTS")])
)


def _full_tier(config) -> bool:
    """The full tier runs when asked for (``SPARK_GRAFT_FULL_SUITE``),
    when ``-m`` or ``-k`` picks tests itself, or when any argument is a
    node id (``file::test``): a test selected explicitly always runs."""
    return bool(
        os.environ.get("SPARK_GRAFT_FULL_SUITE")
        or config.getoption("-m")
        or config.getoption("-k")
        or any("::" in a for a in config.args)
    )


def pytest_report_header(config):
    if _full_tier(config):
        return "spark-graft test tier: full"
    return "spark-graft test tier: default (slow tests deselected)"


def pytest_terminal_summary(terminalreporter, config):
    # -q hides the header; the tier still belongs in the run output
    terminalreporter.write_line(pytest_report_header(config))


def pytest_collection_modifyitems(config, items):
    """Default tier vs full tier: the heaviest tests — 10x-scale golden
    twins, long fuzz loops, multi-run e2e drives, each a SCALE/FUZZ TWIN
    of a default-tier correctness gate that still runs — are marked
    ``slow`` and deselected in the default tier, so the suite fits a
    ~33 min pytest window. See :func:`_full_tier` for what runs them."""
    if _full_tier(config):
        return
    selected, deselected = [], []
    for item in items:
        (deselected if item.get_closest_marker("slow") else selected).append(item)
    if deselected:
        config.hook.pytest_deselected(items=deselected)
        items[:] = selected


@pytest.fixture(scope="session")
def spark():
    from database_anonymiser_minimiser_spark.session import get_spark

    spark = get_spark(app_name="dbmask-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
