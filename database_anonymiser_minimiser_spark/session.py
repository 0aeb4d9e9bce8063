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

When ``get_spark`` starts the JVM itself, it maps a class-data archive
(JDK dynamic AppCDS) cached per install under
``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/<key>.jsa``, which cuts
JVM start-up by about 40%. The key digests ``java -version``, the Spark
version, the Spark home and the launch classpath. The archive pays off
only where the cache outlives the process (repeat runs of one install):
the first run only makes the cache directory, and a later run that finds
it but no archive records one (``-XX:ArchiveClassesAtExit``) to
``<key>.<pid>.tmp``; an ``atexit`` hook lets the JVM exit, waits for the
dump and renames it into place, so a half-written archive is never
mapped. Any ``-Xshare`` option in the launch (``SPARK_SUBMIT_OPTS``,
``PYSPARK_SUBMIT_ARGS``, ``JDK_JAVA_OPTIONS``, the user's
``spark.driver.defaultJavaOptions``) turns the archive off;
``-Xshare:auto`` is the JVM's default and changes nothing else. Two
launch rules hold:

- JVM options go in ``spark.driver.defaultJavaOptions``, never in
  ``spark.driver.extraJavaOptions``: ``--driver-java-options`` in
  ``PYSPARK_SUBMIT_ARGS`` replaces the latter, while the former is
  prepended to it and survives, as do Spark's own ``--add-opens``. A
  value the user set is kept, with ours prepended: one in
  ``spark-defaults.conf`` or a ``--properties-file`` through the
  builder, whose ``--conf`` the launcher prefers; one in
  ``PYSPARK_SUBMIT_ARGS``, which the launcher reads last, in that
  variable while the JVM launches (and then no archive is used). Every
  JVM ``get_spark`` starts routes JVM log warnings to stderr, so a dump
  written to stdout stays SQL.
- The JVM refuses to dump with a non-empty directory on the classpath,
  and ``$SPARK_HOME/conf`` is on it. When ``SPARK_CONF_DIR`` is unset and
  that directory holds only ``*.template`` files, ``SPARK_CONF_DIR``
  points at an empty directory in the cache while the JVM launches. In
  any other case (a user conf dir, an unwritable cache, a JVM that
  already exists, options that already choose ``-Xshare`` or an
  archive) no archive flag is added.

Spark 4.1 lowercases and uppercases strings through ICU
(``spark.sql.icu.caseMappings.enabled``, on by default), and the class
that does it (``CollationAwareUTF8String``) builds a title-case table
over all 1,114,112 code points in its static initialiser: about 2 s of
one core, once per JVM, even for all-ASCII text. Left to the first
job, every task of it waits on that class-init lock.
``warm_case_mapping`` starts the initialiser on a daemon thread while
the caller is still building its plan; ``curate`` calls it, because its
fingerprint lowercases every document. ``get_spark`` does not: an
export's rules never reach ``lower``/``upper``, and the thread would
burn a core for nothing. Turning ICU off instead would change what
non-ASCII text lowercases to.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shlex
import subprocess
import sys
import threading
import time
import warnings
import weakref
from contextlib import contextmanager, suppress
from pathlib import Path
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

    r11 (SCALING_lowmem_r11.json, PERFORMANCE.md §memory envelope): the
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


# HotSpot warns on stdout by default; a dump written to stdout stays SQL
_JVM_LOG = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
_DEFAULT_OPTS = "spark.driver.defaultJavaOptions"
# the recording JVM spends about 15 s at exit writing the archive; one
# still running after this is killed and its archive dropped
_ARCHIVE_WAIT_S = 100
# an archive of another key that no run has mapped for this long is deleted
_ARCHIVE_KEEP_S = 30 * 24 * 3600


def _carries_share_option(own: str) -> bool:
    """Whether options the launch already carries (``own``: the user's
    ``spark.driver.defaultJavaOptions``) choose CDS themselves."""
    opts = " ".join(
        [own]
        + [
            os.environ.get(k, "")
            for k in (
                "PYSPARK_SUBMIT_ARGS",
                "SPARK_SUBMIT_OPTS",
                "JAVA_TOOL_OPTIONS",
                "JDK_JAVA_OPTIONS",
                "_JAVA_OPTIONS",
            )
        ]
    )
    return any(f in opts for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit"))


def _submit_conf(submit: list[str], key: str) -> int | None:
    """Index of the token holding the last ``--conf key=value`` of the
    spark-submit arguments ``submit``, or None."""
    found = None
    for i, tok in enumerate(submit):
        if tok.startswith("--conf="):
            j = i
        elif tok in ("--conf", "-c") and i + 1 < len(submit):
            j = i + 1
        else:
            continue
        if submit[j].removeprefix("--conf=").startswith(key + "="):
            found = j
    return found


def _properties(path: str) -> dict[str, str]:
    """The ``key value`` / ``key=value`` / ``key: value`` lines of a Java
    properties file such as ``spark-defaults.conf``; {} if unreadable."""
    try:
        text = Path(path).read_text(encoding="utf-8")
    except (OSError, UnicodeDecodeError):
        return {}
    props: dict[str, str] = {}
    lines = iter(text.splitlines())
    for line in lines:
        line = line.strip()
        if not line or line[0] in "#!":
            continue
        while line.endswith("\\"):  # continued on the next line
            line = line[:-1] + next(lines, "").strip()
        key, value = re.fullmatch(r"([^\s=:]*)\s*[=:]?\s*(.*)", line).groups()
        props[key] = value.strip()
    return props


def _file_conf(submit: list[str], conf_dir: str, key: str) -> str:
    """``key`` as the launcher reads it from a ``--properties-file`` or
    ``<conf_dir>/spark-defaults.conf`` ("" if unset). A builder ``--conf``
    replaces it, so ``get_spark`` prepends its JVM options to it."""
    files = []
    if "--properties-file" in submit[:-1]:
        files.append(submit[submit.index("--properties-file") + 1])
    if not files or "--load-spark-defaults" in submit:
        files.append(os.path.join(conf_dir, "spark-defaults.conf"))
    for f in files:
        value = _properties(f).get(key)
        if value is not None:
            return value
    return ""


def _archive_key(spark_home: str, conf_dir: Path) -> str:
    """Digest of what decides whether an archive maps: the JVM build, the
    Spark version and the launch classpath."""
    import pyspark

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    version = subprocess.run(
        [java, "-version"], capture_output=True, text=True, timeout=60
    )
    jars = sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(os.path.join(spark_home, "jars"))
    )
    submit = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    extra = "spark.driver.extraClassPath"
    i = _submit_conf(submit, extra)
    class_path = [
        v for flag, v in zip(submit, submit[1:]) if flag == "--driver-class-path"
    ] + [
        submit[i] if i is not None else "",
        _file_conf(submit, str(conf_dir), extra),
    ]
    parts = [
        version.stderr + version.stdout,
        pyspark.__version__,
        str(conf_dir),
        # the JVM checks the jar paths: two unpacked copies of one tarball
        # have the same jar names, sizes and mtimes
        os.path.realpath(spark_home),
        repr(jars),
        os.environ.get("SPARK_DIST_CLASSPATH", ""),
        repr(class_path),
    ]
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def _prune_archives(cds: Path, key: str) -> None:
    """Delete archives of other keys that no run mapped for
    ``_ARCHIVE_KEEP_S`` (two installs or JDKs used in turn keep theirs),
    and temp files whose writer is gone."""
    for f in cds.iterdir():
        if f.suffix == ".jsa" and f.stem != key:
            if time.time() - f.stat().st_mtime > _ARCHIVE_KEEP_S:
                f.unlink(missing_ok=True)
        elif f.suffix == ".tmp":
            try:
                os.kill(int(f.name.split(".")[-2]), 0)
            except (ValueError, ProcessLookupError):
                f.unlink(missing_ok=True)
            except PermissionError:
                pass


def _jvm_launch() -> tuple[dict[str, str], dict[str, str], tuple[Path, Path] | None]:
    """Builder conf and environment overrides (set while the JVM starts)
    for a JVM ``get_spark`` starts, and ``(temp, archive)`` when this run
    records the class-data archive."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    submit = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    i = _submit_conf(submit, _DEFAULT_OPTS)
    if i is not None:
        # read after the builder's confs, so it wins: prepend to it there,
        # and leave CDS to the user who set it
        head = f"{_DEFAULT_OPTS}="
        submit[i] = submit[i].replace(head, head + shlex.join(_JVM_LOG) + " ", 1)
        return {}, {"PYSPARK_SUBMIT_ARGS": shlex.join(submit)}, None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    own = _file_conf(submit, conf_dir, _DEFAULT_OPTS)

    def launch(flags: list[str], env: dict[str, str] | None = None, recording=None):
        opts = " ".join(filter(None, [shlex.join(flags), own]))
        return {_DEFAULT_OPTS: opts}, env or {}, recording

    try:
        conf_files = os.listdir(conf_dir)
    except OSError:
        conf_files = []
    if (
        "SPARK_CONF_DIR" in os.environ
        or _carries_share_option(own)
        or not all(n.endswith(".template") for n in conf_files)
    ):
        return launch(_JVM_LOG)
    cache = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    cds = Path(cache, "spark-graft", "cds")
    empty_conf = cds / "conf"
    try:
        if not empty_conf.is_dir():
            # the archive pays off only where the cache outlives the
            # process: the first run just makes the directory, and a run
            # that finds it (so the cache persisted) records the archive
            empty_conf.mkdir(parents=True)
            return launch(_JVM_LOG)
        if not os.access(cds, os.W_OK | os.X_OK):
            return launch(_JVM_LOG)
        key = _archive_key(spark_home, empty_conf)
        archive = cds / f"{key}.jsa"
        env = {"SPARK_CONF_DIR": str(empty_conf)}
        if archive.is_file():
            with suppress(OSError):
                os.utime(archive)  # in use: _prune_archives keeps it
            return launch(_JVM_LOG + [f"-XX:SharedArchiveFile={archive}"], env)
        _prune_archives(cds, key)
    except (OSError, subprocess.SubprocessError):
        return launch(_JVM_LOG)
    temp = cds / f"{key}.{os.getpid()}.tmp"
    # the recording JVM warns once for every class of a signed jar it skips
    flags = _JVM_LOG + ["-Xlog:cds=error:stderr", f"-XX:ArchiveClassesAtExit={temp}"]
    return launch(flags, env, (temp, archive))


@contextmanager
def _environ(overrides: dict[str, str]) -> Iterator[None]:
    """Set environment variables for the body, then restore them."""
    prev = {k: os.environ.get(k) for k in overrides}
    os.environ.update(overrides)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _publish_archive(temp: Path, archive: Path) -> None:
    """At exit of the recording run: stop the context, shut the py4j
    gateway and close the JVM's stdin, on which ``PythonGatewayServer``
    calls ``System.exit`` and the JVM dumps the archive. Wait for the dump
    (a supervisor may kill the process group as soon as Python exits),
    then rename it into place, or kill the JVM and delete it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Py4JError:  # the JVM is already gone; nothing is left to stop
        pass
    gateway.shutdown()
    code = None
    try:
        proc.stdin.close()
        code = proc.wait(timeout=_ARCHIVE_WAIT_S)
    except (OSError, subprocess.TimeoutExpired):
        pass
    if code == 0 and temp.is_file():
        os.replace(temp, archive)
        return
    proc.kill()
    proc.wait()
    temp.unlink(missing_ok=True)


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
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return b.getOrCreate()  # the JVM exists: no option applies
    conf, env, recording = _jvm_launch()
    for k, v in conf.items():
        b = b.config(k, v)
    with _environ(env):
        spark = b.getOrCreate()
    if recording is not None:
        print(
            f"spark-graft: recording a JVM class-data archive; writing it to "
            f"{recording[1]} at exit takes about 15 s, once per install "
            "(SPARK_SUBMIT_OPTS=-Xshare:auto turns this off)",
            file=sys.stderr,
        )
        atexit.register(_publish_archive, *recording)
    return spark


_CASE_MAPPING_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"
# ids of the py4j gateways (one per JVM) a case-mapping thread started for
_CASE_MAPPING_STARTED: set[int] = set()


def warm_case_mapping(spark: SparkSession) -> threading.Thread | None:
    """Initialise Spark's ICU case-mapping class on a daemon thread, at
    most once per JVM, and return at once: the thread, or None when one
    was already started. The first ``lower``/``upper`` then finds the
    class ready instead of stalling its tasks (see the module docstring).
    Every error is swallowed: a later Spark may rename the class, and a
    missing class only means no head start."""
    gateway = spark.sparkContext._gateway
    if id(gateway) in _CASE_MAPPING_STARTED:
        return None
    _CASE_MAPPING_STARTED.add(id(gateway))
    class_name = _CASE_MAPPING_CLASS

    def load() -> None:
        try:
            gateway.jvm.java.lang.Class.forName(class_name)
        except Exception:
            pass

    thread = threading.Thread(target=load, name="spark-graft-case-mapping", daemon=True)
    thread.start()
    return thread


# sessions configure_for_determinism already pinned; weak, so a stopped
# session's entry goes with the object
_UTC_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_for_determinism(spark: SparkSession) -> SparkSession:
    """Pin the UTC session time zone every oracle-compared query relies
    on, once per session (each pin is a py4j round trip); safe to call on
    a session we did not build (the driver passes its own)."""
    if spark not in _UTC_SESSIONS:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _UTC_SESSIONS.add(spark)
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
    # Spill-merge buffer wall (r11, SCALING_lowmem_r11.json): merging a
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
