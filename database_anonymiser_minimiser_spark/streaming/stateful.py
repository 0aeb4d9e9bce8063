"""Custom stateful streaming: applyInPandasWithState.

Built-in windows (tumbling/sliding/session — streaming/events.py) cover
time-bucketed state; this module is the escape hatch for state machines
Spark has no operator for: per-key running totals, CUSUM/anomaly
trackers, entity resolution. The shape:

- ``groupBy(key).applyInPandasWithState(fn, output_schema, state_schema,
  outputMode, timeout)`` — fn receives, per key and micro-batch, an
  iterator of Arrow-backed pandas frames plus a GroupState handle,
  updates the state, and yields output frames,
- state lives in the state store (checkpointed, bounded by keys not
  events — this scales to unbounded streams),
- here: running per-user event count + latest event time. Counts and
  timestamps are exact integers/instants, so the final emission equals
  the batch groupBy — which is what the oracle checks.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import child_session

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, last_event_us bigint"
STATE_SCHEMA = "n bigint, last_us bigint"


def _update_user_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, last_us = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # ts arrives as datetime64; epoch micros are exact ints
        batch_max = int(pd.DatetimeIndex(pdf["ts"]).asi8.max()) // 1000
        last_us = max(last_us, batch_max)
    state.update((n, last_us))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "last_event_us": [last_us]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals; emits the updated total for
    every key seen in each micro-batch (outputMode=update)."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same running totals on Spark 4's ``transformWithStateInPandas``
    — the successor API to applyInPandasWithState: state is declared as
    named, schema-typed handles (value/list/map states, optional TTL,
    timers) instead of one opaque tuple, which is what production
    pipelines want for state evolution. Semantics here are identical to
    ``running_user_totals``, and the equality test pins that."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    try:  # the TWS state protocol is protobuf-based; fail clearly, not
        # with a crashed streaming worker, when the wheel is absent
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        # Installation was attempted and is impossible in this sandbox
        # (verified 2026-08-14): `pip download protobuf` fails with DNS
        # resolution errors against the configured index ("Failed to
        # establish a new connection: Name or service not known") — the
        # environment has no package-index network access, and pyspark
        # 4.1.2 does not vendor google.protobuf. The twin below therefore
        # stays equality-tested against applyInPandasWithState only where
        # the wheel exists; pyproject declares it under the optional
        # `tws` extra for environments that can install it.
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark[connect] dependency), not present in this "
            "environment — use running_user_totals "
            "(applyInPandasWithState) which computes identical totals"
        ) from e

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, last_us = (
                tuple(self._totals.get()) if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                batch_max = int(pd.DatetimeIndex(pdf["ts"]).asi8.max()) // 1000
                last_us = max(last_us, batch_max)
            self._totals.update((n, last_us))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "last_event_us": [last_us]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotals(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )



# split dirs from runs that exited abnormally (e.g. a gated import raising
# before the cleanup-finally is reached) — drained at the next run so no
# exit path can accumulate event-table copies on disk
_SPLIT_DIRS: list[str] = []


def _fresh_split_dir(prefix: str) -> str:
    import shutil
    import tempfile

    from .events import _sweep_stale_tempdirs

    _sweep_stale_tempdirs(prefix)
    while _SPLIT_DIRS:
        shutil.rmtree(_SPLIT_DIRS.pop(), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _SPLIT_DIRS.append(d)
    return d


def run_stateful_totals(
    spark: SparkSession,
    sf_dir: str,
    n_splits: int = 4,
    trigger: str = "availableNow",
    impl: str = "applyInPandasWithState",
) -> DataFrame:
    """Run the stateful operator as a real multi-micro-batch stream: the
    events table is split into ``n_splits`` files, streamed one file per
    trigger (so state genuinely carries across batches), and the LAST
    emission per user is returned — which must equal the batch
    ``groupBy(user).count/max`` exactly.

    ``trigger``: ``"availableNow"`` (bounded drain, the oracle path) or
    ``"processingTime"`` — a live periodic trigger, stopped once every
    input file has been consumed. availableNow plans its batches from a
    snapshot of the source up front; processingTime discovers files per
    tick, so state handling across genuinely asynchronous batches (and
    empty ticks) is exercised only by the latter.

    ``impl``: ``"applyInPandasWithState"`` (the long-stable API) or
    ``"transformWithState"`` (Spark 4's typed-state successor) — both
    compute the identical totals."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    import tempfile, os

    from ..sources.parquet import _nanos_timestamp_columns, convert_ns_columns
    from pathlib import Path

    src = f"{sf_dir}/events.parquet"
    tbl = pq.read_table(src, columns=["user_id", "ts", "event_id"])
    split_dir = _fresh_split_dir("dbmask_stateful_")
    step = (tbl.num_rows + n_splits - 1) // n_splits
    for i in range(n_splits):
        pq.write_table(tbl.slice(i * step, step), os.path.join(split_dir, f"part{i}.parquet"))

    totals_fn = running_user_totals
    overrides = {"spark.sql.legacy.parquet.nanosAsLong": "true"}
    if impl == "transformWithState":
        totals_fn = running_user_totals_tws
        # transformWithState only runs on the RocksDB state store
        # (SPARK-46815 operator family); the default HDFS-backed provider
        # crashes the stateful worker. Set on a child session so the
        # caller's later streams keep their provider.
        overrides["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    child = child_session(spark, overrides)
    schema = child.read.parquet(split_dir).schema
    ns_cols = _nanos_timestamp_columns(Path(os.path.join(split_dir, "part0.parquet")))
    stream = (
        child.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    stream = convert_ns_columns(stream, ns_cols)

    name = f"stateful_{uuid.uuid4().hex[:8]}"
    writer = (
        totals_fn(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
    )
    try:
        if trigger == "processingTime":
            import time

            q = writer.trigger(processingTime="250 milliseconds").start()
            expected = tbl.num_rows
            deadline = time.monotonic() + 120
            consumed = False
            while time.monotonic() < deadline:
                seen = sum(
                    int(p["numInputRows"]) for p in (q.recentProgress or [])
                )
                if seen >= expected and not q.status.get("isDataAvailable", True):
                    consumed = True
                    break
                time.sleep(0.25)
            q.stop()
            q.awaitTermination()
            if not consumed:
                # Partial state would fail downstream equality checks with
                # a confusing value diff; fail loudly at the actual cause.
                # (recentProgress is a bounded buffer, so `seen` can
                # undercount on very long runs — the deadline is the
                # backstop either way.)
                raise TimeoutError(
                    f"stateful stream did not consume all {expected} rows "
                    "within 120s (source stalled or progress evicted)"
                )
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
    finally:
        # the query has terminated (or failed) by here; the split-file
        # source dir is no longer tailed — remove it so repeated runs do
        # not accumulate full event-table copies (the memory-sink table
        # must stay: the returned DataFrame reads it)
        import shutil

        shutil.rmtree(split_dir, ignore_errors=True)
    # the memory sink accumulates every update; the final state per user is
    # the row with the highest n_events (monotone counter)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    emissions = child.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters: a bounded-memory Misra-Gries sketch carried in
# the state store across micro-batches (the streaming twin of
# operators/sketch.py, which tests its absence/undercount bounds for
# arbitrary batchings — exactly what micro-batches are).
# ---------------------------------------------------------------------------

HH_SHARDS = 4
HH_CAP = 36  # per-shard tracked keys; bound: absent => count <= n_shard/(cap+1)

HH_OUTPUT_SCHEMA = (
    "shard bigint, users array<bigint>, ests array<bigint>, n_seen bigint"
)
# JSON-string state keeps the state-store row schema primitive (arrays in
# state tuples round-trip less portably across providers than in output)
HH_STATE_SCHEMA = "summary string, n_seen bigint"


def _update_shard_heavy_hitters(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import json
    from collections import Counter

    from ..operators.sketch import mg_update

    if state.exists:
        summary_json, n_seen = state.get
        cnt = Counter({int(k): v for k, v in json.loads(summary_json).items()})
    else:
        cnt, n_seen = Counter(), 0
    for pdf in pdfs:
        n_seen += len(pdf)
        cnt = mg_update(cnt, pdf["user_id"].astype(int), HH_CAP)
    state.update((json.dumps({str(k): int(v) for k, v in cnt.items()}), n_seen))
    items = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    yield pd.DataFrame(
        {
            "shard": [key[0]],
            "users": [[k for k, _ in items]],
            "ests": [[int(v) for _, v in items]],
            "n_seen": [n_seen],
        }
    )


def running_shard_heavy_hitters(events: DataFrame) -> DataFrame:
    """Per-shard streaming Misra-Gries over user_id: state is the bounded
    summary (<= HH_CAP keys/shard regardless of stream length), emission
    per micro-batch is the current summary (update mode)."""
    from pyspark.sql import functions as F

    return (
        events.select(
            (F.col("user_id") % HH_SHARDS).alias("shard"), "user_id"
        )
        .groupBy("shard")
        .applyInPandasWithState(
            _update_shard_heavy_hitters,
            HH_OUTPUT_SCHEMA,
            HH_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_streaming_heavy_hitters(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """Stream the events table in ``n_splits`` micro-batches through the
    per-shard Misra-Gries operator and return the FINAL summary per
    shard (the row with the highest n_seen — a monotone counter).

    State is bounded at HH_CAP keys per shard however long the stream
    runs; the mergeable-summaries bound survives incremental feeding
    (property-tested for arbitrary batchings in tests/test_sketch.py),
    so the batch-side guarantee gate applies to the streamed result
    unchanged."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    import pyarrow.parquet as pq

    from ..sources.parquet import _nanos_timestamp_columns, convert_ns_columns

    src = f"{sf_dir}/events.parquet"
    tbl = pq.read_table(src, columns=["user_id", "event_id"])
    split_dir = _fresh_split_dir("dbmask_hh_")
    name = f"hh_{uuid.uuid4().hex[:8]}"
    # bounded-state rule (see events._bounded_state_partitions):
    # the state key domain is HH_SHARDS (= 4) shards, so sizing the
    # stateful exchange at the session default only multiplies
    # state-store and Python-worker overhead by empty partitions —
    # per micro-batch, times n_splits batches. Result-invariant
    # (per-shard grouping is unchanged); set on a child session.
    from .events import _bounded_state_partitions

    child = child_session(
        spark,
        {
            "spark.sql.shuffle.partitions": str(_bounded_state_partitions()),
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        },
    )
    try:
        step = (tbl.num_rows + n_splits - 1) // n_splits
        for i in range(n_splits):
            pq.write_table(
                tbl.slice(i * step, step),
                os.path.join(split_dir, f"part{i}.parquet"),
            )

        schema = child.read.parquet(split_dir).schema
        ns_cols = _nanos_timestamp_columns(
            Path(os.path.join(split_dir, "part0.parquet"))
        )
        stream = (
            child.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(split_dir)
        )
        stream = convert_ns_columns(stream, ns_cols)
        q = (
            running_shard_heavy_hitters(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        emissions = child.table(name)
        w = Window.partitionBy("shard").orderBy(F.col("n_seen").desc())
        final = (
            emissions.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # Materialise the bounded final summary (HH_SHARDS rows, each
        # <= HH_CAP keys) so the memory-sink table and the split files
        # can be released before returning — repeated runs no longer
        # accumulate session tables or temp parquet on disk.
        rows = final.collect()
        return spark.createDataFrame(rows, final.schema)
    finally:
        child.catalog.dropTempView(name)
        shutil.rmtree(split_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming t-digest: running quantile estimates per key over an
# unbounded stream, the quantile companion to the Misra-Gries summary
# above (same state discipline: bounded sketch per key, JSON-string
# state row, update-mode emission per micro-batch).
# ---------------------------------------------------------------------------

TD_DELTA = 100.0
TD_PS = (0.25, 0.5, 0.9)
TD_OUTPUT_SCHEMA = (
    "event_type string, n_seen bigint, p25 double, p50 double, p90 double"
)
TD_STATE_SCHEMA = "digest string, n_seen bigint"


def _update_tdigest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch into the key's digest. Incremental feeding
    keeps the state bounded at <= ~2*delta centroids however long the
    stream runs (compress() enforces the k1 size bound on every merge);
    accuracy under ARBITRARY batchings is property-tested in
    tests/test_tdigest.py::test_incremental_feed_accuracy."""
    import json

    import numpy as np

    from ..operators.tdigest import compress, merge_digests, quantile

    if state.exists:
        digest_json, n_seen = state.get
        d = json.loads(digest_json)
        m, w = np.asarray(d["m"]), np.asarray(d["w"])
        vmin, vmax = d["vmin"], d["vmax"]
    else:
        m = w = np.array([])
        vmin, vmax = float("inf"), float("-inf")
        n_seen = 0
    for pdf in pdfs:
        vals = pdf["value"].to_numpy(dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if not vals.size:
            continue
        n_seen += int(vals.size)
        vmin = min(vmin, float(vals.min()))
        vmax = max(vmax, float(vals.max()))
        pm, pw = compress(vals, np.ones_like(vals), TD_DELTA)
        m, w = merge_digests([(m, w), (pm, pw)], TD_DELTA) if m.size else (pm, pw)
    state.update(
        (
            json.dumps(
                {"m": m.tolist(), "w": w.tolist(), "vmin": vmin, "vmax": vmax}
            ),
            n_seen,
        )
    )
    ests = quantile(m, w, vmin, vmax, TD_PS) if m.size else [None] * len(TD_PS)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_seen": [n_seen],
            "p25": [ests[0]],
            "p50": [ests[1]],
            "p90": [ests[2]],
        }
    )


def running_quantiles(events: DataFrame) -> DataFrame:
    """Per-event-type running quantiles of ``value``: state is one
    bounded digest per key (O(delta) doubles regardless of stream
    length), emission per micro-batch is the current estimate —
    streaming percentile monitoring without retaining events."""
    return events.select("event_type", "value").groupBy("event_type").applyInPandasWithState(
        _update_tdigest,
        TD_OUTPUT_SCHEMA,
        TD_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_streaming_quantiles(
    spark: SparkSession, sf_dir: str, n_splits: int = 4
) -> DataFrame:
    """Stream the events table in ``n_splits`` micro-batches through the
    per-type digest operator and return the FINAL estimate per type (the
    emission with the highest n_seen — a monotone counter)."""
    import os
    import shutil
    from pathlib import Path

    import pyarrow.parquet as pq

    from ..sources.parquet import _nanos_timestamp_columns, convert_ns_columns

    src = f"{sf_dir}/events.parquet"
    tbl = pq.read_table(src, columns=["event_type", "value"])
    split_dir = _fresh_split_dir("dbmask_tdq_")
    name = f"tdq_{uuid.uuid4().hex[:8]}"
    try:
        step = (tbl.num_rows + n_splits - 1) // n_splits
        for i in range(n_splits):
            pq.write_table(
                tbl.slice(i * step, step),
                os.path.join(split_dir, f"part{i}.parquet"),
            )
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(split_dir).schema
        ns_cols = _nanos_timestamp_columns(
            Path(os.path.join(split_dir, "part0.parquet"))
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(split_dir)
        )
        stream = convert_ns_columns(stream, ns_cols)
        q = (
            running_quantiles(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        emissions = spark.table(name)
        w = Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
        final = (
            emissions.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        rows = final.collect()
        return spark.createDataFrame(rows, final.schema)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(split_dir, ignore_errors=True)
