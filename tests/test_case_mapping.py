"""session.warm_case_mapping: the background initialiser of Spark's ICU
case-mapping class starts at most once per JVM, returns at once, and a
class it cannot load costs nothing and says nothing."""

import time

from database_anonymiser_minimiser_spark import session
from database_anonymiser_minimiser_spark.session import warm_case_mapping


def test_missing_class_is_silent_and_started_once(spark, capfd, monkeypatch):
    # a later Spark may rename the class
    monkeypatch.setattr(session, "_CASE_MAPPING_CLASS", "org.example.NoSuchCaseMapping")
    monkeypatch.setattr(session, "_CASE_MAPPING_STARTED", set())
    t0 = time.perf_counter()
    first = warm_case_mapping(spark)
    second = warm_case_mapping(spark)
    # starting a thread takes milliseconds; the initialiser takes seconds
    assert time.perf_counter() - t0 < 1.0
    assert first is not None and first.daemon
    assert second is None
    first.join(timeout=60)
    assert not first.is_alive()
    assert capfd.readouterr().err == ""


def test_case_mapping_class_warms_once(spark):
    thread = warm_case_mapping(spark)
    assert warm_case_mapping(spark) is None
    if thread is not None:  # None when an earlier test already warmed it
        thread.join(timeout=60)
    assert spark.sql("SELECT lower('ÀB') AS s").first()["s"] == "àb"
