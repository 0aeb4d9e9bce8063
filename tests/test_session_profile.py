"""deployment_profile: the documented 100 TB operational envelope.

Pure-dict tests (no JVM): the sizing arithmetic and the invariant keys
the plan-gated designs rely on (AQE, Arrow, RocksDB state store, UTC)."""

from database_anonymiser_minimiser_spark.session import deployment_profile

TB = 1024**4


def test_100tb_partition_sizing():
    p = deployment_profile(total_input_bytes=100 * TB)
    # 100 TB / 128 MB = 819,200 partitions >> 2 * 4000 cores
    assert int(p["spark.sql.shuffle.partitions"]) == 100 * TB // (128 * 1024**2)
    assert int(p["spark.sql.files.maxPartitionBytes"]) == 128 * 1024**2
    assert p["spark.sql.adaptive.enabled"] == "true"


def test_small_input_floors_at_cluster_parallelism():
    # 10 GB on 1000x4 cores: partition-count rule would give ~80, the
    # floor keeps every core busy twice over
    p = deployment_profile(total_input_bytes=10 * 1024**3)
    assert int(p["spark.sql.shuffle.partitions"]) == 2 * 1000 * 4


def test_memory_overhead_scales_with_executor_memory():
    p16 = deployment_profile(total_input_bytes=TB, executor_mem_gb=16)
    p64 = deployment_profile(total_input_bytes=TB, executor_mem_gb=64)
    assert p16["spark.executor.memoryOverhead"] == f"{16 * 1024 // 4}m"
    assert p64["spark.executor.memoryOverhead"] == f"{64 * 1024 // 4}m"
    # floor for small executors: Arrow worker needs absolute headroom
    p4 = deployment_profile(total_input_bytes=TB, executor_mem_gb=4)
    assert p4["spark.executor.memoryOverhead"] == "2048m"


def test_invariant_keys_present():
    p = deployment_profile(total_input_bytes=TB)
    assert "RocksDBStateStoreProvider" in p[
        "spark.sql.streaming.stateStore.providerClass"
    ]
    assert p["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert p["spark.sql.session.timeZone"] == "UTC"
    assert int(p["spark.sql.autoBroadcastJoinThreshold"]) == 64 * 1024**2
    assert p["spark.sql.adaptive.skewJoin.enabled"] == "true"


def test_partition_target_is_tunable():
    p = deployment_profile(total_input_bytes=100 * TB, target_partition_mb=256)
    assert int(p["spark.sql.shuffle.partitions"]) == 100 * TB // (256 * 1024**2)
    assert int(p["spark.sql.files.maxPartitionBytes"]) == 256 * 1024**2


# ---------------------------------------------------------------------------
# get_spark reuse semantics (ADVICE r10): an existing session is returned
# untouched, but explicitly-requested divergent settings WARN instead of
# being silently ignored; the reuse check must also see the process-wide
# session from a thread that didn't create it (getActiveSession is
# thread-scoped).


def test_get_spark_warns_on_ignored_explicit_args(spark):
    import warnings

    from database_anonymiser_minimiser_spark.session import get_spark

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = get_spark(master="local[2]", shuffle_partitions=999)
    assert got is spark  # untouched reuse
    assert got.conf.get("spark.sql.shuffle.partitions") != "999"
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("master='local[2]'" in m and "shuffle_partitions=999" in m
               for m in msgs), msgs


def test_get_spark_no_warning_when_args_match_or_default(spark):
    import warnings

    from database_anonymiser_minimiser_spark.session import get_spark

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = get_spark()  # defaults: nothing explicitly requested
        got2 = get_spark(
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    assert got is spark and got2 is spark
    assert not [w for w in caught if w.category is RuntimeWarning]


def test_get_spark_reuses_session_from_other_thread(spark):
    import threading

    from database_anonymiser_minimiser_spark.session import get_spark

    out = {}

    def worker():
        out["session"] = get_spark()

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert out["session"] is spark


def test_profile_disables_spill_readahead_below_1g_per_task():
    """r11 memory-envelope finding: spill-merge ReadAheadInputStream
    buffers are non-spillable heap and OOM'd a small-heap JVM in the
    heavy-spill regime (SCALING_lowmem_r11.json, sf1); below 1 GB/task the
    profile turns read-ahead off, above it the default stays."""
    from database_anonymiser_minimiser_spark.session import deployment_profile

    tight = deployment_profile(
        10**12, executors=100, cores_per_executor=8, executor_mem_gb=4
    )
    assert tight["spark.unsafe.sorter.spill.read.ahead.enabled"] == "false"
    roomy = deployment_profile(
        10**12, executors=100, cores_per_executor=4, executor_mem_gb=16
    )
    assert "spark.unsafe.sorter.spill.read.ahead.enabled" not in roomy


def test_local_session_applies_spill_rule_at_low_total_heap():
    """r12: the profile rule existed but the LOCAL session constructor
    never applied it, so a 1 GB bench child still ran with read-ahead
    on and OOM'd (the zipfian re-probe caught the gap). Local sessions
    share one heap across all slots, so the trigger is TOTAL heap
    (r11 measured: OOM at 1 GB and 2 GB, clean at 8 GB)."""
    from database_anonymiser_minimiser_spark.session import (
        _local_lowmem_conf,
        _parse_mem_mb,
    )

    assert _parse_mem_mb("8g") == 8192
    assert _parse_mem_mb("512m") == 512
    assert _parse_mem_mb("1048576k") == 1024
    key = "spark.unsafe.sorter.spill.read.ahead.enabled"
    assert _local_lowmem_conf("1g")[key] == "false"
    assert _local_lowmem_conf("2g")[key] == "false"
    assert key not in _local_lowmem_conf("8g")
    assert _local_lowmem_conf("not-a-size") == {}  # never blocks startup
