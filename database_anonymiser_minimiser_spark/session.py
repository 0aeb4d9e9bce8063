"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[N]`` but every setting here is chosen for the
1000-executor / 100 TB case and merely *also* works locally:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching (broadcast when a side turns out
  small),
- Arrow on: any unavoidable pandas-UDF path moves columnar batches, not
  pickled rows,
- UTC session timezone: deterministic timestamp semantics across engines
  (the DuckDB oracle reads the same parquet as naive/UTC),
- shuffle partitions default sized for the local corpus; on a real
  cluster AQE coalesces from a deliberately high initial number.
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def _existing_session() -> SparkSession | None:
    """The session this process would reuse, if any.

    ``getActiveSession()`` is *thread-scoped* — a call from a thread that
    did not create the session returns None even though ``getOrCreate()``
    would reuse (and reconfigure) the process-wide default session. Check
    both, in the same order getOrCreate resolves them, so the
    return-untouched guarantee holds from any thread.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    # Public-API accessor for the process-wide default session
    # (SparkSession.builder consults the same singleton).
    return getattr(SparkSession, "_instantiatedSession", None)


def _parse_mem_mb(mem: str) -> int:
    """JVM memory string ('8g', '512m', '1024k', plain bytes) -> MB."""
    m = mem.strip().lower()
    mult = {"k": 1.0 / 1024, "m": 1.0, "g": 1024.0, "t": 1024.0 * 1024}
    if m and m[-1] in mult:
        return int(float(m[:-1]) * mult[m[-1]])
    return int(int(m) // (1024 * 1024))


def _local_lowmem_conf(mem: str) -> dict[str, str]:
    """Local single-JVM twin of ``deployment_profile``'s spill rule.

    r11 (tools/bench_lowmem.py, PERFORMANCE.md §memory envelope): the
    merge of a heavy spill pass opens a ReadAheadInputStream PER SPILL
    FILE — multi-MB non-spillable heap buffers that OOM'd
    HashAggregate.finishAggregate at 1 GB AND 2 GB total heap, while
    8 GB is clean and keeps read-ahead's merge-throughput win. A local
    session shares ONE heap across all task slots, so the trigger here
    is TOTAL heap (<= 2 GB), not the per-task-slot floor the cluster
    profile uses. Without this, the profile rule existed but the
    engine's own local constructor never applied it — the r12 zipfian
    re-probe caught exactly that gap."""
    try:
        mb = _parse_mem_mb(mem)
    except (ValueError, IndexError):
        return {}
    if mb <= 2048:
        return {"spark.unsafe.sorter.spill.read.ahead.enabled": "false"}
    return {}


def get_spark(
    app_name: str = "database-anonymiser-minimiser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # If a session already exists, return it UNTOUCHED. getOrCreate()
    # applies every builder-specified runtime SQL conf to an existing
    # session (Spark 3.4+ semantics), so a library helper calling it
    # with its own defaults silently reconfigures the caller's session —
    # in this suite it flipped spark.sql.shuffle.partitions from the
    # fixture's 4 to 32 mid-run, which changed a downstream AQE
    # skew-split decision (r10: test_aqe_splits_skewed_join_at_runtime
    # failed in-suite, passed standalone, for exactly this reason). An
    # engine embedded in someone else's Spark app must not stomp their
    # conf; callers who need specific settings own the decision — and
    # get a warning, not silence, when their explicit args are ignored.
    active = _existing_session()
    if active is not None:
        ignored = []
        if master is not None and active.sparkContext.master != master:
            ignored.append(f"master={master!r}")
        if shuffle_partitions is not None and active.conf.get(
            "spark.sql.shuffle.partitions", None
        ) != str(shuffle_partitions):
            ignored.append(f"shuffle_partitions={shuffle_partitions}")
        if ignored:
            warnings.warn(
                "get_spark(): an active SparkSession already exists; "
                f"ignoring requested {', '.join(ignored)} (stop the "
                "existing session first to apply them)",
                RuntimeWarning,
                stacklevel=2,
            )
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Local mode runs driver+executor in ONE JVM whose default heap (1g)
    # is absurd for 32 concurrent tasks — sf1 measurement showed AQE
    # broadcast builds failing against it. A real cluster node serving
    # this many cores has tens of GB; size the local JVM accordingly
    # (env-overridable; ignored if a JVM already exists).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _local_lowmem_conf(mem).items():
        b = b.config(k, v)
    return b.getOrCreate()


def configure_for_determinism(spark: SparkSession) -> SparkSession:
    """Settings every oracle-compared query relies on; safe to call on a
    session we did not build (the driver passes its own)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# key -> the DataFrames the last call under that key persisted. Plain
# (not weak) keys: each value holds its session strongly, so a weak
# session key would never be collected anyway.
_HELD: dict[str, list[DataFrame]] = {}


def release_registry(key: str) -> Callable[[DataFrame], DataFrame]:
    """Release the previous call's caches under ``key``, return ``keep``.

    For operators whose returned (lazy) plan reads a persisted relation:
    the cache cannot be dropped inside the call, so each call releases
    the PREVIOUS call's instead. A long-lived session (CLI, notebook,
    streaming screen) then holds at most one call's caches per key; a
    previously returned DataFrame that is still held just recomputes.
    ``keep(df)`` persists ``df`` (MEMORY_AND_DISK) under ``key`` and
    returns it. Use one key per function. Unpersist on a stopped
    session must not kill the new call, so its failures are swallowed.
    """
    held = _HELD.setdefault(key, [])
    while held:
        try:
            held.pop().unpersist()
        except Exception:
            pass

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(df)
        return df

    return keep


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime ``conf`` keys for the body; on exit (raised or not)
    restore each previous value, or unset keys that were not set."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def child_session(spark: SparkSession, overrides: dict[str, str]) -> SparkSession:
    """A ``newSession()`` carrying the caller's runtime conf plus
    ``overrides``, for work whose conf must not leak into queries
    compiled concurrently on ``spark`` (the streaming canaries). The
    child shares the SparkContext and the cache but not temp views:
    a memory-sink table started on it is read through the child."""
    from pyspark.sql.session import _monkey_patch_RDD

    child = spark.newSession()
    # constructing a session re-points the global RDD.toDF at it; point
    # it back so the caller's rdd.toDF() stays on the caller's session
    _monkey_patch_RDD(spark)
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            child.conf.set(k, v)
    for k, v in overrides.items():
        child.conf.set(k, v)
    return child


def deployment_profile(
    total_input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """The tested operational envelope for the plan-gated designs: a
    spark-submit / SparkSession conf for running this engine on a real
    cluster (e.g. 1000 executors against ~100 TB).

    Sizing rules (each one line of arithmetic, unit-tested):

    - **shuffle partitions** = max(2 x total cores,
      input_bytes / target_partition_size): every shuffle partition
      aims at ~``target_partition_mb`` (default 128 MB — comfortably
      inside executor memory per task), floored at 2x parallelism so
      small stages still use the whole cluster. AQE coalesces DOWN from
      this deliberately-high initial number at runtime, so overshooting
      is cheap; undershooting (giant partitions -> spill/OOM) is not.
    - **AQE** on with partition coalescing and skew-join splitting: the
      runtime half of the skew strategy (the salted two-phase aggs in
      operators/skew.py are the declarative half).
    - **broadcast threshold** 64 MB: dimension tables (region/nation/
      supplier-scale) broadcast; fact-fact joins never do. The forced
      F.broadcast calls in the query layer stay within this budget by
      construction (distinct value maps, per-group stats).
    - **RocksDB state store**: streaming state (dedup sets, session
      windows, running totals) spills off-heap instead of living on the
      JVM heap — required for transformWithState, proven in
      tests/test_streaming.py on the same provider.
    - **memory overhead** 25%: the Arrow/pandas-UDF paths (faker
      realistic mode, grouped-map z-scores, multimodal featurizers) run
      in a Python worker OUTSIDE the executor heap; without explicit
      overhead headroom YARN/K8s kills the container, not the query.
    - **maxPartitionBytes** = target partition size: file-scan tasks and
      shuffle tasks see the same granularity, so a scan-side partition
      never explodes into a multi-GB shuffle write.
    """
    total_cores = executors * cores_per_executor
    target_bytes = target_partition_mb * 1024 * 1024
    shuffle_parts = max(2 * total_cores, total_input_bytes // target_bytes)
    overhead_mb = max(2048, int(executor_mem_gb * 1024 * 0.25))
    # Spill-merge buffer wall (r11, tools/bench_lowmem.py): merging a
    # heavy spill pass opens a ReadAheadInputStream PER SPILL FILE, each
    # a multi-MB non-spillable heap buffer — at sf1 the degenerate
    # ngram regime OOM'd a 1 GB JVM in HashAggregate.finishAggregate on
    # exactly these allocations (at 2 GB too), and completed in 70 s
    # with read-ahead off. Below ~1 GB heap per task slot the merge
    # throughput the buffers buy cannot be worth an OOM; above it the
    # default stays.
    mem_per_task_mb = (executor_mem_gb * 1024) // max(1, cores_per_executor)
    conf = {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.memoryOverhead": f"{overhead_mb}m",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(target_bytes),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # runtime bloom-filter join pruning: a selective dim-side filter
        # builds a bloom filter that drops fact rows BEFORE their
        # shuffle (plan-gated in test_plans.py); the default size
        # thresholds (creation <= 10 MB, application >= 10 GB scan) are
        # already production-calibrated — stated here so the knob is
        # part of the audited envelope
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # Python DataSource filter pushdown (Spark 4.1 flag): required
        # by sources/sqlite_datasource.py — a reader implementing
        # pushFilters() with this off is an analysis-time ERROR
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }
    if mem_per_task_mb < 1024:
        conf["spark.unsafe.sorter.spill.read.ahead.enabled"] = "false"
    return conf
