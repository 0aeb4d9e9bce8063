"""Structured Streaming over the events table.

The reference has no streaming (its "streams data in batches" claim is
bounded cursor iteration, README.md:11 / mysql.go:180-222 — SURVEY §2.10);
this module supplies the Spark-native event-time layer:

- the SAME transform functions serve batch and streaming (that is the
  point of Structured Streaming: one declarative plan, two runners),
- tumbling/sliding aggregations via F.window, sessions via
  F.session_window,
- late-data handling via withWatermark in append mode: windows emit only
  once the watermark passes their end, late events beyond the allowed
  lateness are dropped — state is bounded, which is what makes an
  unbounded 100 TB/day stream feasible,
- file source + Trigger.availableNow for replayable, exactly-once batch
  backfills of the same pipeline.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import TimestampNTZType

from ..session import child_session
from ..sources.parquet import _nanos_timestamp_columns, convert_ns_columns


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Spark 4 reads tz-less parquet ``timestamp[us]`` columns as
    TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ.enabled``
    defaults true), and ``withWatermark`` hard-fails on NTZ event-time
    columns ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). The session
    timezone is pinned to UTC (session.py), so the cast re-interprets
    the same wall-clock instant — window/date_format output is
    byte-identical to the NTZ reading, only the watermark machinery's
    type requirement changes."""
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def tumbling_counts(ev: DataFrame, width: str = "1 hour") -> DataFrame:
    """Shared batch/streaming transform: per-window, per-type counts and
    exact decimal totals (surfaced as double via the cross-engine-safe
    decimal->string->double route, matching the batch oracle)."""
    return (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_to_parquet(stream_df: DataFrame, prefix: str) -> DataFrame:
    """Drain a streaming DataFrame through a PARQUET sink and return the
    result as an eagerly-checkpointed DataFrame — the scale-correct
    harness for CORPUS-SIZED streaming output. The memory sink
    materialises every emitted row on the driver; for the
    dedup/anonymise/join runners that is the whole corpus, and the
    round-6 sf4 A/B measured it at 4x the parquet sink's wall
    (14-27.6 s vs 3.5-6.2 s at 8M input rows) before any driver-memory
    ceiling. The parquet spool keeps the write distributed; the
    read-back is ``localCheckpoint``-ed (eager, executor-resident,
    MEMORY_AND_DISK) so BOTH temp dirs are deleted before returning and
    the result has no filesystem tail at all — a caller may hold it
    across any number of later streaming runs (the previous
    keep-last-two spool eviction turned a held result into a
    FileNotFoundException at action time). Executor data stays bounded:
    the checkpoint is the runner's output corpus, partition-distributed
    and disk-spillable — never driver-resident. Bounded-aggregate
    runners (tumbling/watermark/heavy-hitters) keep the memory
    sink — their output is a few hundred rows by construction
    (sessions moved to the spool: ~1 session per event on this corpus). This is
    the test/bench harness; a production stream writes to a durable
    sink and never round-trips through local checkpoints."""
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    _sweep_stale_tempdirs(f"{prefix}_out_")
    _sweep_stale_tempdirs(f"{prefix}_chk_")
    out = tempfile.mkdtemp(prefix=f"{prefix}_out_")
    chk = tempfile.mkdtemp(prefix=f"{prefix}_chk_")
    try:
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # a stream that legitimately emitted ZERO rows leaves no part
        # files — schema inference would throw; return an empty frame
        # with the stream's own schema instead (r8, found by the
        # boundary fuzzer's no-match examples)
        import glob as _glob

        if not _glob.glob(f"{out}/*.parquet") and not _glob.glob(
            f"{out}/part-*"
        ):
            return spark.createDataFrame([], stream_df.schema)
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(chk, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


# source dirs from prior stream readers — the OLDEST are released as new
# ones are created, keeping at most the last four alive. A single query
# may hold TWO live readers at once (a stream-stream join builds both
# sides before running — releasing all-but-current here silently emptied
# the join's left side), so the cap leaves a full query's worth of dirs
# plus margin; without any cap, repeated grading/bench sessions
# accumulate one tempdir per streaming run.
_STREAM_DIRS: list[str] = []
_STREAM_DIRS_KEEP = 4


def _sweep_stale_tempdirs(prefix: str, max_age_s: int = 7200) -> None:
    """Remove ORPHANED temp dirs with this prefix left by earlier
    PROCESSES (the in-process release lists cannot see them). Age-gated:
    a live query's source/spool dir is created seconds before use, so
    anything hours old is a leak from a dead run — and a concurrent
    process's fresh dirs are never touched."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    cutoff = time.time() - max_age_s
    for d in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if os.path.getmtime(d) < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass


def _fresh_stream_dir(prefix: str) -> str:
    import shutil
    import tempfile

    _sweep_stale_tempdirs(prefix)
    while len(_STREAM_DIRS) >= _STREAM_DIRS_KEEP:
        shutil.rmtree(_STREAM_DIRS.pop(0), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=prefix)
    _STREAM_DIRS.append(d)
    return d


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet. The file source demands
    a *directory* (it tails new files landing there — the production
    ingestion shape), so a single-file corpus is exposed through a temp
    directory holding a symlink. Applies the same TIMESTAMP(NANOS)
    tolerance as the batch reader."""
    import os
    from pathlib import Path

    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    ns_cols = _nanos_timestamp_columns(Path(path))
    stream_dir = _fresh_stream_dir("dbmask_stream_")
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    return _ntz_to_ltz(convert_ns_columns(stream, ns_cols))


def _bounded_state_partitions() -> int:
    """State-partition count for streaming aggregations whose GROUP
    cardinality is bounded and small (r15, guide §2.2 fewer-larger
    partitions): the hourly tumbling canary holds ~720 (window,
    event_type) keys however big the corpus grows — the input-sized
    work happens in the map-side partial aggregation BEFORE the
    exchange, so sizing the post-shuffle stage (and therefore the state
    store) at the session's input-parallelism default just multiplies
    per-partition state-store open/commit/fsync overhead: measured
    1.40-1.55 s at 32 state partitions vs 0.71-0.99 s at 4 for the SAME
    single micro-batch, with most of the canary's run-to-run jitter in
    the 32-partition arm. This is a bounded-CARDINALITY rule, not a
    local-core-count constant: at 1000 executors the 720-key final
    aggregation still wants few partitions. Env-tunable for deployments
    whose state cardinality is genuinely larger."""
    try:
        return int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))
    except ValueError:
        return 8


def run_streaming_tumbling(
    spark: SparkSession, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Run the tumbling aggregation as a real streaming query (memory
    sink, complete mode, availableNow trigger) and return the final
    result table. Deterministic: equals the batch result, which is why
    this can share the batch oracle. The state-partition override (see
    :func:`_bounded_state_partitions`) is result-invariant — exact
    integer counts keyed by (window, event_type) do not depend on how
    groups are partitioned — and lives on a child session, so queries
    compiled meanwhile on ``spark`` keep its own partition count."""
    child = child_session(
        spark, {"spark.sql.shuffle.partitions": str(_bounded_state_partitions())}
    )
    name = f"tumbling_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_counts(read_events_stream(child, sf_dir), width)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return child.table(name)


def run_streaming_with_watermark(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    lateness: str = "2 hours",
) -> DataFrame:
    """Append-mode windowed counts with a watermark: only windows whose
    end precedes (max event time - lateness) are emitted; the tail stays
    in state awaiting data that never comes. This is the bounded-state
    production shape for unbounded streams."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", lateness)
    agg = (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    name = f"watermark_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_streaming_dp_counts(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    lateness: str = "2 hours",
    epsilon: float = 1.0,
    seed: str = "dbmask-dp-stream",
) -> DataFrame:
    """Differentially-private windowed counts on a LIVE stream: the
    watermarked tumbling counts with the two-sided geometric mechanism
    applied to each SEALED window as it emits — the streaming form of
    the DP release family (operators/privacy.py). Two properties make
    this sound where naive per-batch noise is not:

    - append mode emits each window EXACTLY ONCE (sealed by the
      watermark), so one window = one release = one epsilon spend —
      no accumulating re-releases of the same statistic across
      micro-batches;
    - noise is a deterministic function of (window_start, event_type,
      seed), so a checkpoint restart or replay emits byte-identical
      releases instead of fresh noise (the fixed-noise-per-release
      rule; fresh draws per replay would average away under the
      documented attack).

    The window grid is public (calendar hours), so the released key set
    satisfies the public-group-domain precondition by construction.
    Scale shape: the same bounded-state watermark aggregate as the
    plain counts; the noise is a literal-table lookup on the sealed
    relation — zero extra state, zero Python."""
    from ..operators.privacy import dp_noise_column

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", lateness)
    agg = ev.groupBy(
        F.window("ts", width).alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ws = F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
    key = F.concat_ws(
        "|",
        F.coalesce(ws, F.lit("␀")),
        F.coalesce(F.col("event_type").cast("string"), F.lit("␀")),
    )
    out = agg.select(
        ws.alias("window_start"),
        "event_type",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("_n") + dp_noise_column(key, epsilon, seed),
        ).alias("noisy_events"),
    )
    name = f"dp_counts_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_streaming_anonymise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymisation on a LIVE stream — the engine's own domain under
    Structured Streaming: deterministic pseudonymisation (faker.number on
    user_id) is a stateless projection, so it runs identically in
    micro-batch mode with no state store at all. This is how you mask
    PII in-flight at ingestion time rather than post-hoc."""
    from ..functions.faker_deterministic import FAKER_FUNCTIONS
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir)
    masked = ev.select(
        "event_id",
        F.expr(FAKER_FUNCTIONS["number"].sql("spark", "user_id")).alias("pseudo_user"),
        "event_type",
    )
    # corpus-sized output -> distributed parquet spool, never the
    # driver-materialising memory sink (round-6 sf4 A/B: 4x)
    return stream_to_parquet(masked, "anonstream")


def run_streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    key: str = "event_id",
    lateness: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps one
    row per key while the watermark bounds the dedup state — keys older
    than (max event time - lateness) are evicted, so state stays finite
    on an unbounded stream. This is the in-flight training-data dedup
    shape: duplicates arriving within the lateness window are dropped at
    ingestion, instead of a post-hoc batch dedup over the landed 100 TB.
    The input here is the corpus stream fed TWICE (two files in the
    source dir), so every key genuinely arrives duplicated."""
    import os
    from pathlib import Path

    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    ns_cols = _nanos_timestamp_columns(Path(path))
    stream_dir = _fresh_stream_dir("dbmask_stream_dup_")
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "a.parquet"))
    os.symlink(os.path.abspath(path), os.path.join(stream_dir, "b.parquet"))
    ev = _ntz_to_ltz(
        convert_ns_columns(
            spark.readStream.schema(schema).parquet(stream_dir), ns_cols
        )
    )
    deduped = (
        ev.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark([key])
        .select(key, "user_id", "event_type")
    )
    # corpus-sized output -> distributed parquet spool, never the
    # driver-materialising memory sink (round-6 sf4 A/B: 16.5 -> ~4 s,
    # and the super-linear tail of the measured curve was the sink, not
    # the RocksDB-backed watermark-bounded dedup state)
    return stream_to_parquet(deduped, "dedupstream")


def run_streaming_sessions(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """Session windows under streaming: session_window + watermark is the
    built-in stateful-merge operator (no applyInPandasWithState needed
    for gap sessions). Append mode emits exactly the sessions SEALED by
    the final watermark (window end = last event + gap <= max(ts) -
    lateness) — the bounded-state production shape; the emitted set is
    deterministic over a bounded corpus, which is what the
    ``streaming_sessions_gap`` oracle mirrors. Output is corpus-sized
    (sparse activity makes most events their own session — ~95% of
    events at every measured sf), so it drains through the distributed
    parquet spool, never the driver-materialising memory sink."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", lateness)
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return stream_to_parquet(agg, "sessstream")


def run_streaming_export(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    db_type: str = "sqlite",
) -> int:
    """Incremental anonymised SQL-dump export — the reference's flagship
    batch pipeline (config -> mask -> INSERT dump) run CONTINUOUSLY over
    a stream: each micro-batch is masked in flight and appended to the
    dump as multi-row INSERTs via foreachBatch. At scale this is the
    ingestion-time export: new files landing in the source directory
    become dump increments without re-scanning landed data. Each
    micro-batch is computed once, through the batch sink's formatting,
    spool and INSERT batching (dump.spool_inserts). foreachBatch runs
    sequentially per trigger, so appends never interleave. Returns rows
    exported."""
    from ..dump import footer_text, header_text, quote_ident, spool_inserts
    from ..functions.faker_deterministic import FAKER_FUNCTIONS
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir)
    masked = ev.select(
        "event_id",
        F.expr(FAKER_FUNCTIONS["number"].sql("spark", "user_id")).alias(
            "pseudo_user"
        ),
        "event_type",
    )
    cols = ", ".join(
        f"{quote_ident(db_type, c)} TEXT" if c != "event_id"
        else f"{quote_ident(db_type, c)} INTEGER"
        for c in masked.columns
    )
    with open(out_path, "w") as fh:
        fh.write(header_text(db_type))
        fh.write(f"CREATE TABLE {quote_ident(db_type, 'events')} ({cols});\n")

    total = {"rows": 0}

    def sink(batch_df, epoch_id: int) -> None:
        with open(out_path, "a") as fh:
            total["rows"] += spool_inserts(fh, db_type, "events", batch_df, "event_id")

    q = (
        masked.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with open(out_path, "a") as fh:
        fh.write(footer_text(db_type))
    return total["rows"]


_INTERVAL_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
}


def _interval_seconds(interval: str) -> int:
    """Total whole seconds of a day-time interval string.

    Accepts one or more '<n> <unit>' pairs with integral or fractional
    n, summed — the same strings ``F.expr(f"INTERVAL {interval}")``
    accepts for these units ('1 hour', '1 hour 30 minutes',
    '1.5 hours'). Raises ValueError when the string doesn't parse or
    the total is not a positive whole number of seconds (unix_timestamp
    bucketing is second-resolution)."""
    tokens = interval.split()
    if not tokens or len(tokens) % 2:
        raise ValueError(
            f"interval={interval!r}: expected '<n> <unit>' pairs with "
            "unit in second|minute|hour|day[s]"
        )
    total = 0.0
    for n_tok, unit_tok in zip(tokens[::2], tokens[1::2]):
        try:
            n = float(n_tok)
            total += n * _INTERVAL_UNIT_SECONDS[unit_tok.rstrip("s").lower()]
        except (ValueError, KeyError) as exc:
            raise ValueError(
                f"interval={interval!r}: expected '<n> <unit>' pairs "
                "with unit in second|minute|hour|day[s]"
            ) from exc
    if total <= 0 or total != int(total):
        raise ValueError(
            f"interval={interval!r}: must total a positive whole number "
            f"of seconds (got {total})"
        )
    return int(total)


def run_streaming_stream_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    lateness: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each click joined to the same user's
    purchases landing within ``within`` after it — the attribution /
    conversion-funnel shape, and the one streaming operator family the
    rest of this module doesn't cover.

    Scale shape: BOTH sides carry a watermark and the join predicate is
    an event-time interval, which is exactly what lets Spark bound the
    join state — click rows older than (watermark - within) and purchase
    rows older than the watermark are evicted instead of accumulating
    forever (an unbounded stream-stream join without the time bound is a
    state leak, not an operator). The join shuffles both streams once.

    Skew (r10, found by the zipfian sf1 probe): keying the state on
    user_id alone makes a hot user quadratic — Spark's symmetric hash
    join keeps ALL buffered right rows of a key in one state-store
    partition and scans them per arriving left row, so a user owning
    ~27% of 1M events (53k clicks x 53k buffered purchases) costs ~3e9
    single-threaded probes: the test went from seconds (uniform) to
    tens of minutes (zipf). Fix: the equi key is (user_id, hour bucket
    of the click) with each purchase exploded into the TWO buckets its
    1h-window can serve — the hot user's state splits across the
    corpus's ~720 hour buckets, per-probe state shrinks from |all
    purchases of the user| to |purchases in 2 adjacent hours|, and the
    interval predicate still evicts state and keeps semantics EXACTLY
    equal to the batch interval join (the oracle is unchanged). Same
    play as asof/bucketed_range_join: manufacture an equi key from the
    range."""
    # bucket width == the join window, parsed from the interval string.
    # Grammar matches what F.expr(f"INTERVAL {within}") accepts for the
    # day-time units: one or more '<n> <unit>' pairs, n integral or
    # fractional, summed ('1 hour 30 minutes' == '1.5 hours' == 5400 s).
    within_seconds = _interval_seconds(within)
    # F.floor, NOT cast('long'): the cast truncates toward zero, so a
    # pre-epoch (negative) timestamp would land in the bucket ABOVE its
    # floor and the two-bucket explode would miss matches. Floor-based
    # bucketing is correct for all timestamps.
    left = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == left_type)
        .selectExpr("event_id AS click_id", "user_id", "ts AS click_ts")
        .withWatermark("click_ts", lateness)
        .withColumn(
            "bucket",
            F.floor(F.unix_timestamp("click_ts") / within_seconds).cast("long"),
        )
    )
    right = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == right_type)
        .selectExpr(
            "event_id AS purchase_id", "user_id AS p_user_id", "ts AS purchase_ts"
        )
        .withWatermark("purchase_ts", lateness)
        .withColumn(
            "p_bucket",
            F.explode(
                F.array(
                    F.floor(
                        F.unix_timestamp("purchase_ts") / within_seconds
                    ).cast("long"),
                    F.floor(
                        F.unix_timestamp("purchase_ts") / within_seconds
                    ).cast("long")
                    - 1,
                )
            ),
        )
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("bucket") == F.col("p_bucket"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    ).select("click_id", "purchase_id", "user_id")
    # join output is corpus-scale (clicks x in-window purchases) ->
    # distributed parquet spool, not the memory sink
    return stream_to_parquet(joined, "sjoin")


def run_streaming_quality_monitor(
    spark: SparkSession,
    sf_dir: str,
    expectations=None,
) -> "list[tuple[int, str, bool, float]]":
    """CONTINUOUS data-quality monitoring: the single-pass expectation
    suite (operators/expectations.py) evaluated per micro-batch via
    foreachBatch — the streaming half of the batch `audit` surface. Each
    arriving batch is one aggregation pass (the same one-Exchange plan
    the batch gate asserts), so the monitor's marginal cost per trigger
    is one small agg over the new data only; results accumulate as
    (epoch, constraint, passed, observed) rows a pipeline can alert on.

    Batch-local semantics are deliberate: completeness/range/membership
    violations are per-row facts, so per-batch checking catches them
    exactly; UNIQUENESS here means unique WITHIN the batch — cross-batch
    uniqueness needs keyed state (dedup_events_stream is that operator).
    foreachBatch runs sequentially per trigger, so the result list never
    interleaves."""
    from ..operators.expectations import check, complete, in_range, min_rows

    exps = expectations or [
        complete("event_id"),
        complete("user_id"),
        in_range("value", -1e6, 1e6),
        min_rows(1),
    ]
    ev = read_events_stream(spark, sf_dir)
    results: list[tuple[int, str, bool, float]] = []

    def sink(batch_df, epoch_id: int) -> None:
        for r in check(batch_df, exps).collect():
            results.append(
                (int(epoch_id), r["constraint"], r["passed"], r["observed"])
            )

    q = ev.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    return results


def run_streaming_neardup_ingest(
    spark: SparkSession,
    landed_path: str,
    new_spool_dir: str,
    index_path: str,
    threshold: float = 0.5,
    table_prefix: str = "neardup_index",
    n_buckets: int = 16,
    compact_every: int | None = None,
    checkpoint: str | None = None,
    resume: bool = False,
    dedup_seed: bool = False,
) -> "list[tuple[int, int, int, float]]":
    """STREAMING near-dup ingest screen: each arriving micro-batch of
    documents is checked against the persisted MinHash index
    (operators/dedup.py: save_minhash_index_bucketed /
    minhash_incremental_vs_bucketed_index) and then APPENDED to it — so
    later batches screen against everything that arrived before them,
    which is the arrival-order semantics a real ingest pipeline needs
    (the batch query `dedup_minhash_incremental` screens one delta
    against a fixed corpus; this is the continuous
    version of the same operator, stateful through the on-disk index
    rather than the state store — index size is corpus-bound, executor
    state is zero).

    ``landed_path`` seeds the index (the already-landed corpus);
    ``new_spool_dir`` is a directory of parquet files consumed one per
    trigger (maxFilesPerTrigger=1 — the production shape is files landing
    in an ingest bucket). Returns (epoch, doc_id, n_dups, best_jaccard)
    rows for every flagged document, accumulated in arrival order.
    foreachBatch runs sequentially per trigger, so screen-then-append
    never races with the next batch's screen.

    Replay-idempotent: foreachBatch re-runs a failed micro-batch with
    the SAME epoch_id, so (a) an epoch's ``batch=e<epoch>`` append that
    already landed is detected from the catalog
    (``bucketed_index_has_batch`` — saveAsTable commits atomically, a
    visible partition means the whole append landed) and skipped, (b)
    the screen excludes that partition (present only on a retry whose
    append already landed — a batch must not screen against itself),
    and (c) any flags the failed attempt emitted for the epoch are
    dropped before the deterministic re-emit.

    The index lives at ``index_path`` as batch-partitioned BUCKETED
    tables (``<table_prefix>_bands`` / ``_shingles`` in
    ``<index_path>/bands`` and ``/shingles``, with the manifest at
    ``<index_path>/_index_manifest.json``), so the per-micro-batch
    screen reads the corpus-sized landed side as co-located buckets
    with NO index-side Exchange — only the day's batch shuffles
    (plan-gated in tests/test_streaming.py and tests/test_dedup.py).
    ``forget --index minhash`` and ``compact --index minhash`` take the
    same path.

    ``compact_every``: when the index holds more
    than this many batch partitions, the sink compacts them after the
    epoch's append (`compact_minhash_index_bucketed`), keeping the
    current epoch's partition separate so the replay contract above
    survives compaction. Without it, E epochs leave ~E files per bucket
    and scan metadata cost grows with ingest history instead of corpus
    size. foreachBatch is sequential per trigger, so compacting inside
    the sink never races a screen.

    ``checkpoint`` + ``resume=True`` make the screen RESTARTABLE — the
    continuous-ingest operational loop: the first run seeds the index
    and processes the backlog under a checkpoint; a later run with
    ``resume=True`` skips the seed (re-shingling the landed corpus —
    the cost the persisted index exists to avoid), re-registers the
    bucketed tables from the on-storage manifest if the session catalog
    lost them (driver restart, in-memory catalog), and the checkpoint
    makes Structured Streaming consume only files not yet committed,
    with epoch ids continuing where they stopped. An epoch that
    appended but did not commit before the crash replays under the
    replay contract above. The returned flags cover THIS invocation's
    epochs only.

    ``dedup_seed=True`` exact-deduplicates the landed corpus before
    seeding the index (operators/dedup.py:dedup_exact_for_index) — the
    hot-band fix for template-heavy corpora: screen VERDICTS and
    best_jaccard are unchanged, per-epoch verify fan-out stops scaling
    with the landed copy count, and n_dups counts distinct landed
    contents instead of copies."""
    from ..operators.dedup import (
        bucketed_index_has_batch,
        compact_minhash_index_bucketed,
        minhash_incremental_vs_bucketed_index,
        register_minhash_index_bucketed,
        save_minhash_index_bucketed,
    )

    if resume and checkpoint is None:
        raise ValueError("resume=True requires a checkpoint directory")
    if resume:
        # restart: catalog entries may be gone; the data is not
        register_minhash_index_bucketed(spark, table_prefix, index_path)
    else:
        save_minhash_index_bucketed(
            spark.read.parquet(landed_path),
            table_prefix,
            n_buckets=n_buckets,
            path=index_path,
            batch="seed",
            dedup_exact=dedup_seed,
        )
    schema = spark.read.parquet(new_spool_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(new_spool_dir)
    )
    flagged: list[tuple[int, int, int, float]] = []

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        label = f"e{int(epoch_id)}"
        flagged[:] = [t for t in flagged if t[0] != int(epoch_id)]
        res = minhash_incremental_vs_bucketed_index(
            batch_df, table_prefix, threshold=threshold, exclude_batch=label
        )
        try:
            for r in res.collect():
                flagged.append(
                    (int(epoch_id), r["doc_id"], r["n_dups"], r["best_jaccard"])
                )
        finally:
            res.unpersist()
        # admit the whole batch (audit semantics: flags recorded, corpus
        # keeps everything); an enforcing pipeline would append only the
        # unflagged survivors here
        if not bucketed_index_has_batch(spark, table_prefix, label):
            save_minhash_index_bucketed(
                batch_df, table_prefix, n_buckets=n_buckets,
                path=index_path, append=True, batch=label,
            )
        if compact_every is not None:
            n_parts = len(
                spark.sql(f"SHOW PARTITIONS {table_prefix}_bands").collect()
            )
            if n_parts > compact_every:
                compact_minhash_index_bucketed(
                    spark, table_prefix, n_buckets=n_buckets,
                    path=index_path, keep_batches=(label,),
                )

    writer = stream.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return flagged


def run_streaming_ann_screen(
    spark,
    landed_path: str,
    new_spool_dir: str,
    index_path: str,
    threshold: float = 0.35,
    nprobe: int = 2,
    num_centroids: int = 8,
    train_centroids: bool = False,
    train_iters: int = 3,
    compact_every: int | None = None,
    checkpoint: str | None = None,
    resume: bool = False,
) -> "list[tuple[int, int, int, float, bool]]":
    """STREAMING semantic near-dup ingest screen: each arriving
    micro-batch of embeddings is screened against the persisted ANN
    index (operators/similarity.py: save_ann_index /
    ann_screen_vs_index) and then APPENDED to it — later batches screen
    against everything that arrived before them, the arrival-order
    semantics of a real embedding ingest. This is the vector
    counterpart of :func:`run_streaming_ingest_screen`; state lives in
    the on-disk index (corpus-bound), executor state is zero.

    ``landed_path`` seeds the index (a parquet dataset of
    vec_id/embedding rows); ``new_spool_dir`` is consumed one file per
    trigger. Returns (epoch, query_id, n_close, best_cosine,
    is_neardup) rows accumulated in arrival order. foreachBatch runs
    sequentially per trigger, so screen-then-append never races.

    Replay-idempotent by the same contract as the MinHash screen: a
    re-run epoch's append is a targeted overwrite of its own
    ``batch=e<epoch>`` partition, the screen excludes that partition
    (a batch must not screen against itself), and the failed attempt's
    flags are dropped before the deterministic re-emit. The screen's
    per-micro-batch plan keeps ZERO Exchange on the index side (the
    batch is broadcast; dynamic partition pruning reads only probed
    cells — plan-gated in tests/test_similarity.py).

    ``compact_every``: when the index holds more than this many batch
    partitions, the sink folds them into ``batch=seed`` after the
    epoch's append (:func:`operators.similarity.compact_ann_index`),
    keeping the current epoch's partition separate so the replay
    contract survives — without it, E epochs leave ~E files per cell
    and scan cost grows with ingest history instead of corpus size.

    ``checkpoint`` + ``resume=True`` restart a checkpointed screen
    without re-seeding (re-assigning the landed corpus is the cost the
    persisted index exists to avoid); the checkpoint makes Structured
    Streaming consume only uncommitted files, epochs continuing where
    they stopped."""
    from ..operators.similarity import (
        ann_index_batches,
        ann_screen_vs_index,
        compact_ann_index,
        save_ann_index,
    )

    if resume and checkpoint is None:
        raise ValueError("resume=True requires a checkpoint directory")
    if not resume:
        landed = spark.read.parquet(landed_path)
        cents = None
        if train_centroids:
            # k-means cells instead of the first-K stand-in: better
            # cell balance => better recall at the same nprobe; seeded
            # ONCE here and persisted — appends never retrain (the
            # save_ann_index contract), so every epoch screens against
            # the same cell geometry
            from ..operators.similarity import train_ivf_centroids

            cents = train_ivf_centroids(
                landed, num_centroids=num_centroids, iters=train_iters
            )
        save_ann_index(
            landed,
            index_path,
            num_centroids=num_centroids,
            centroids=cents,
        )
    schema = spark.read.parquet(new_spool_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(new_spool_dir)
    )
    flagged: "list[tuple[int, int, int, float, bool]]" = []

    def sink(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        label = f"e{int(epoch_id)}"
        flagged[:] = [t for t in flagged if t[0] != int(epoch_id)]
        res = ann_screen_vs_index(
            batch_df,
            index_path,
            threshold=threshold,
            nprobe=nprobe,
            exclude_batch=label,
        )
        for r in res.collect():
            flagged.append(
                (
                    int(epoch_id),
                    r["query_id"],
                    r["n_close"],
                    r["best_cosine"],
                    r["is_neardup"],
                )
            )
        # admit the whole batch (audit semantics, like the MinHash
        # screen); an enforcing pipeline would append survivors only
        save_ann_index(batch_df, index_path, append=True, batch=label)
        if compact_every is not None:
            if len(ann_index_batches(spark, index_path)) > compact_every:
                compact_ann_index(spark, index_path, keep_batches=(label,))

    writer = stream.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return flagged
