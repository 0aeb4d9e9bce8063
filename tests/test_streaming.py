"""Structured Streaming behavior: streaming results must equal batch for
bounded input; watermark append-mode must emit only sealed windows."""

import pytest

from database_anonymiser_minimiser_spark.queries import load
from database_anonymiser_minimiser_spark.streaming import events as S


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    batch = S.tumbling_counts(load(spark, sf_dir, "events"))
    stream = S.run_streaming_tumbling(spark, sf_dir)
    assert rows_set(stream) == rows_set(batch)


def test_streaming_watermark_emits_sealed_subset(spark, sf_dir):
    """Append mode with watermark: emitted windows are a subset of the
    batch windows, missing only the tail the watermark never sealed."""
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in S.tumbling_counts(load(spark, sf_dir, "events")).collect()
    }
    emitted = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in S.run_streaming_with_watermark(spark, sf_dir).collect()
    }
    assert emitted  # something was sealed
    assert set(emitted) <= set(batch)
    for k, v in emitted.items():
        assert batch[k] == v  # sealed windows carry complete, exact counts
    # the very last window cannot have been sealed by the watermark
    last = max(batch)
    assert last not in emitted


def test_streaming_dp_counts_deterministic_and_sealed(spark, sf_dir):
    """r12: the streaming DP release emits exactly the sealed windows
    (same key set as the plain watermark counts), every noisy count is
    a non-negative bounded perturbation of the exact sealed count, and
    a REPLAY emits byte-identical releases — the fixed-noise-per-
    release rule that makes per-window DP sound under restarts."""
    from database_anonymiser_minimiser_spark.operators.privacy import (
        geometric_inverse_cdf,
    )

    exact = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in S.run_streaming_with_watermark(spark, sf_dir).collect()
    }
    run1 = {
        (r["window_start"], r["event_type"]): r["noisy_events"]
        for r in S.run_streaming_dp_counts(spark, sf_dir).collect()
    }
    run2 = {
        (r["window_start"], r["event_type"]): r["noisy_events"]
        for r in S.run_streaming_dp_counts(spark, sf_dir).collect()
    }
    assert run1 == run2  # replay-identical releases
    assert set(run1) == set(exact)  # same sealed-window key set
    _, k_tail = geometric_inverse_cdf(1.0)
    for k, noisy in run1.items():
        assert noisy >= 0
        assert abs(noisy - exact[k]) <= k_tail  # bounded geometric noise


def test_streaming_sessions_run(spark, sf_dir):
    res = S.run_streaming_sessions(spark, sf_dir)
    rows = res.collect()
    assert rows
    assert {"user_id", "session_start", "n_events"} == set(res.columns)
    assert all(r["n_events"] >= 1 for r in rows)


def test_streaming_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a doubled stream: every event
    arrives twice, exactly one copy survives — streaming dedup equals the
    batch distinct count, with watermark-bounded state."""
    from database_anonymiser_minimiser_spark.queries import load
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_dedup,
    )

    got = run_streaming_dedup(spark, sf_dir)
    batch_distinct = load(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == batch_distinct
    assert got.select("event_id").distinct().count() == batch_distinct


def _streaming_registry_names():
    from database_anonymiser_minimiser_spark import queries as Q

    return sorted(n for n in Q.QUERIES if n.startswith("streaming_"))


@pytest.mark.parametrize("name", _streaming_registry_names())
def test_streaming_registry_runs_on_corpus_schema(spark, sf_dir, name):
    """CI-style guard: EVERY streaming_* registry entry must start and
    drain against the REAL corpus parquet schema — not a synthesized
    test frame. This is exactly the gap that shipped the round-2
    TIMESTAMP_NTZ watermark bug: Spark 4 reads the corpus's tz-less
    timestamp[us] as TIMESTAMP_NTZ, which withWatermark rejects, and no
    test exercised the registry entries against the real files."""
    from database_anonymiser_minimiser_spark import queries as Q

    df = Q.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0  # ran to completion against real schema
    assert df.columns  # stable, non-empty schema


@pytest.mark.parametrize("trigger", ["availableNow", "processingTime"])
def test_stateful_totals_under_both_trigger_shapes(spark, sf_dir, trigger):
    """availableNow plans all micro-batches from a startup snapshot, so
    it cannot catch state bugs that only appear when batches arrive
    asynchronously (file discovery per tick, empty ticks between data).
    Run the applyInPandasWithState operator under BOTH trigger shapes
    and require the identical final state: the batch groupBy answer."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load
    from database_anonymiser_minimiser_spark.streaming.stateful import (
        run_stateful_totals,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = run_stateful_totals(spark, sf_dir, trigger=trigger)
    expect = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_event_us"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_streaming_export_importable_dump(spark, sf_dir, tmp_path):
    """The streaming incremental dump must be a valid, importable SQL
    file: sqlite3 re-imports it and sees every source row, masked."""
    import sqlite3

    from database_anonymiser_minimiser_spark.queries import load
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_export,
    )

    out = tmp_path / "events_stream.sql"
    n = run_streaming_export(spark, sf_dir, str(out))
    src_count = load(spark, sf_dir, "events").count()
    assert n == src_count

    con = sqlite3.connect(":memory:")
    con.executescript(out.read_text())
    assert con.execute("SELECT count(*) FROM events").fetchone()[0] == src_count
    vals = [r[0] for r in con.execute("SELECT pseudo_user FROM events LIMIT 50")]
    assert all(len(v) == 8 and v.isdigit() for v in vals)
    # original user ids must not appear
    raw = out.read_text()
    assert "user_" not in raw


def test_stateful_totals_on_rocksdb_state_store(spark, sf_dir):
    """The 100 TB state story: the default HDFS-backed state store keeps
    every key in executor memory — at billions of keys the RocksDB
    provider (bundled with Spark) is the production answer. The stateful
    operator must produce the identical final state on it."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load
    from database_anonymiser_minimiser_spark.streaming.stateful import (
        run_stateful_totals,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        got = run_stateful_totals(spark, sf_dir)
        expect = (
            load(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.unix_micros(F.max("ts").cast("timestamp")).alias(
                    "last_event_us"
                ),
            )
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_transform_with_state_equals_apply_in_pandas_with_state(spark, sf_dir):
    """Spark 4's transformWithStateInPandas (typed state handles, the
    successor API) must produce the identical final state as the
    applyInPandasWithState implementation and the batch aggregate.
    Skipped where the protobuf wheel (its state protocol) is absent —
    the implementation guards the same dependency with a clear error."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load
    from database_anonymiser_minimiser_spark.streaming.stateful import (
        run_stateful_totals,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = run_stateful_totals(spark, sf_dir, impl="transformWithState")
    expect = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_event_us"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_transform_with_state_raises_clear_error_without_protobuf(spark, sf_dir):
    """When the protobuf wheel is absent the TWS path must fail with an
    actionable ImportError at build time — not a crashed streaming
    worker mid-query (the failure mode the guard replaces)."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present — guard not reachable")
    except ImportError:
        pass
    from database_anonymiser_minimiser_spark.streaming.stateful import (
        run_stateful_totals,
    )

    with pytest.raises(ImportError, match="protobuf"):
        run_stateful_totals(spark, sf_dir, impl="transformWithState")


def test_streaming_heavy_hitters_state_bounded_and_guaranteed_found(
    spark, sf_dir
):
    """The streamed Misra-Gries summary must stay bounded (<= HH_CAP
    tracked users per shard in EVERY emission, not just the final one)
    and the final summary must contain every user whose exact count
    clears the per-shard presence bound."""
    from database_anonymiser_minimiser_spark.streaming.stateful import (
        HH_CAP,
        HH_SHARDS,
        run_streaming_heavy_hitters,
    )
    from database_anonymiser_minimiser_spark.queries import load
    from pyspark.sql import functions as F

    final = run_streaming_heavy_hitters(spark, sf_dir)
    rows = final.collect()
    assert {r["shard"] for r in rows} <= set(range(HH_SHARDS))
    for r in rows:
        assert len(r["users"]) <= HH_CAP
        assert len(r["users"]) == len(r["ests"])
        # deterministic (-est, user) order inside each summary
        pairs = list(zip(r["ests"], r["users"]))
        assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))
    survivors = {u for r in rows for u in r["users"]}

    ev = load(spark, sf_dir, "events")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("shard", F.col("user_id") % HH_SHARDS)
        .collect()
    )
    shard_tot = {}
    for r in exact:
        shard_tot[r["shard"]] = shard_tot.get(r["shard"], 0) + r["n"]
    guaranteed = [
        r["user_id"]
        for r in exact
        if r["n"] * (HH_CAP + 1) > shard_tot[r["shard"]]
    ]
    assert guaranteed, "corpus must exercise the guarantee non-vacuously"
    missing = [u for u in guaranteed if u not in survivors]
    assert not missing, missing


def test_streaming_quality_monitor_per_batch(spark, sf_dir):
    """The expectation suite runs per micro-batch and flags an injected
    violation: with a deliberately absurd range bound the monitor must
    FAIL that constraint while completeness passes."""
    from database_anonymiser_minimiser_spark.operators.expectations import (
        complete,
        in_range,
    )
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_quality_monitor,
    )

    rows = run_streaming_quality_monitor(spark, str(sf_dir))
    assert rows, "no batches monitored"
    by_constraint = {}
    for epoch, constraint, passed, observed in rows:
        by_constraint.setdefault(constraint, []).append(passed)
    assert all(by_constraint["complete(event_id)"])
    assert all(by_constraint["complete(user_id)"])
    assert all(by_constraint["min_rows(1)"])

    # injected violation: a bound the data cannot satisfy
    bad = run_streaming_quality_monitor(
        spark,
        str(sf_dir),
        expectations=[complete("event_id"), in_range("value", 1e9, 2e9)],
    )
    fails = [p for _, c, p, _ in bad if c.startswith("in_range")]
    assert fails and not any(fails)
    assert all(p for _, c, p, _ in bad if c.startswith("complete"))


def test_stream_to_parquet_result_survives_later_runs(spark, sf_dir):
    """r7 regression (ADVICE): the spooled result must remain actionable
    after ANY number of later stream_to_parquet runs — the old
    keep-last-two eviction deleted the spool dir under a held lazy
    DataFrame, failing at action time with FileNotFoundException. The
    result is now eagerly localCheckpoint-ed and both temp dirs are
    gone before the call returns."""
    import glob

    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_anonymise,
    )

    # pre-existing dirs (a crashed EARLIER session's tail, swept only
    # after the 2 h age threshold) are not this run's leak — assert on
    # NEW dirs only
    pre = set(glob.glob("/tmp/anonstream_out_*") + glob.glob("/tmp/anonstream_chk_*"))
    held = run_streaming_anonymise(spark, sf_dir)
    n0 = held.count()
    assert n0 > 0
    # no spool/checkpoint tail on disk once the call returned
    assert not (
        set(glob.glob("/tmp/anonstream_out_*")
            + glob.glob("/tmp/anonstream_chk_*"))
        - pre
    )
    # three further runs would have evicted the old spool twice over
    for _ in range(3):
        assert run_streaming_anonymise(spark, sf_dir).count() == n0
    assert held.count() == n0  # the held result still actions fine


def test_watermark_emission_boundary_is_inclusive(spark, tmp_path):
    """Directed boundary probe (r7): a window whose END equals the final
    watermark exactly IS emitted — so the `window_end <= max(ts) -
    lateness` reading in the streaming_events_watermark /
    streaming_sessions_gap oracles encodes Spark's real convention.
    Corpus timestamps never land on the exact boundary (the session-gap
    fuzzer proved how much that can hide), so this pins it with a
    constructed one: window [00:00,01:00) and max ts 03:00:00.000000
    sharp with 2 h lateness -> watermark == 01:00:00 == window end."""
    import pyspark.sql.functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = str(tmp_path / "wm_src")
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:30:00"), ("b", "2024-01-01 03:00:00")],
        "event_type string, ts_s string",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    df.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d).withWatermark(
        "ts", "2 hours"
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").cast("string").alias("wend"), "event_type", "n")
    )
    import uuid as _uuid

    name = f"wmb_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {r["wend"] for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)
    # end == watermark: emitted (inclusive). The 03:00 event's own
    # window (end 04:00 > watermark) must NOT be.
    assert "2024-01-01 01:00:00" in emitted
    assert all(not e.startswith("2024-01-01 04:") for e in emitted)


def test_streaming_neardup_ingest_screens_against_arrivals(spark, tmp_path):
    """The streaming ingest screen (r9): batch 1 is flagged only against
    the LANDED corpus; batch 2 must also be flagged against batch 1's
    docs (which exist only in the appended index) — arrival-order
    semantics, equal to sequentially applying the batch operator with a
    growing landed side."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.operators import dedup as D
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_neardup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    landed_rows = [(100, base), (101, "landed words about query engines only")]
    b1_rows = [(0, base.replace("jumps", "leaps")), (1, "fresh unseen words entirely here")]
    b2_rows = [(7, "fresh unseen words entirely here"), (8, "nothing like anything before")]

    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in landed_rows],
                  "text": [r[1] for r in landed_rows]}), landed)
    for i, rows in enumerate([b1_rows, b2_rows]):
        f = spool / f"part{i}.parquet"
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), f)
        os.utime(f, (1700000000 + i, 1700000000 + i))  # arrival order

    got = run_streaming_neardup_ingest(
        spark, landed, str(spool), str(tmp_path / "idx"), threshold=0.4
    )
    by_doc = {d: (e, n, j) for e, d, n, j in got}
    # batch 1: doc 0 near-dups the landed base; doc 1 is clean
    assert set(by_doc) == {0, 7}
    assert by_doc[0][1] == 1 and 0.4 <= by_doc[0][2] < 1.0
    # batch 2: doc 7 exact-dups doc 1, which arrived in batch 1 and
    # exists ONLY through the appended index
    assert by_doc[7] == (1, 1, 1.0)

    # equality with the sequential batch operator over a growing corpus
    landed_df = spark.createDataFrame(landed_rows, ["doc_id", "text"])
    expected = {}
    for rows in [b1_rows, b2_rows]:
        bdf = spark.createDataFrame(rows, ["doc_id", "text"])
        for r in D.minhash_lsh_incremental(bdf, landed_df, threshold=0.4).collect():
            expected[r["doc_id"]] = (r["n_dups"], r["best_jaccard"])
        landed_df = landed_df.unionAll(bdf)
    assert {d: (n, j) for d, (e, n, j) in
            ((k, v) for k, v in by_doc.items())} == expected


def test_streaming_tdigest_gate_emits_allnull_event_type(spark, tmp_path):
    """ADVICE r9 (queries.py streaming_percentiles_tdigest): an
    event_type whose values are all NULL/NaN never reaches the digest, so
    the streaming finals lack it — but the oracle emits it with n_seen=0
    and TRUE bands. The gate must left-join the finals onto an
    every-type exact side and coalesce, or the corpus gaining such a
    type silently diverges the hash."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.queries import QUERIES

    rows = (
        [("view", float(i)) for i in range(40)]
        + [("ghost", None)] * 3
        + [("ghost", math.nan)] * 2
    )
    pq.write_table(
        pa.table(
            {
                "event_type": pa.array([r[0] for r in rows]),
                "value": pa.array([r[1] for r in rows], type=pa.float64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r["event_type"]: (
            r["n_seen"], r["p25_in_band"], r["p50_in_band"], r["p90_in_band"]
        )
        for r in QUERIES["streaming_percentiles_tdigest"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["ghost"] == (0, True, True, True)
    n, *bands = got["view"]
    assert n == 40 and all(bands)


# ---------------------------------------------------------------------------
# ADVICE r10: the stream-join `within` parser must keep accepting every
# interval string F.expr(f"INTERVAL {within}") accepts for day-time units
# (compound and fractional), and bucketing must be floor-based so
# pre-epoch timestamps land in the bucket BELOW zero, not above it.


def test_interval_seconds_grammar():
    import pytest as _pytest

    from database_anonymiser_minimiser_spark.streaming.events import (
        _interval_seconds,
    )

    assert _interval_seconds("1 hour") == 3600
    assert _interval_seconds("2 hours") == 7200
    assert _interval_seconds("90 seconds") == 90
    assert _interval_seconds("1 hour 30 minutes") == 5400  # compound
    assert _interval_seconds("1.5 hours") == 5400  # fractional
    assert _interval_seconds("1 day 1 hour 1 minute 1 second") == 90061
    for bad in ["", "hour", "1 fortnight", "1.5 seconds 0.2 seconds",
                "0 hours", "-1 hour", "1 hour 30"]:
        with _pytest.raises(ValueError):
            _interval_seconds(bad)


def test_stream_join_bucket_is_floor_based_for_negative_timestamps(spark):
    # The exact expression the stream join uses, applied to pre-epoch
    # timestamps: a click at -30 min and a purchase at +30 min are within
    # 1 hour, so the purchase's two-bucket explode {floor(p/W),
    # floor(p/W)-1} must cover the click's bucket. With cast('long')
    # truncation the click would land in bucket 0 (not -1) only when
    # positive — for the negative side truncation gives 0 while floor
    # gives -1, and the pair would be dropped.
    from pyspark.sql import functions as F

    W = 3600
    df = spark.createDataFrame(
        [("1969-12-31 23:30:00",), ("1970-01-01 00:30:00",)], ["ts"]
    ).select(F.to_timestamp("ts").alias("ts"))
    got = [
        r[0]
        for r in df.select(
            F.floor(F.unix_timestamp("ts") / W).cast("long")
        ).collect()
    ]
    assert got == [-1, 0]
    # the purchase (bucket 0) explodes into {0, -1} ∋ click bucket -1
    assert got[0] in {got[1], got[1] - 1}
    # regression guard: the old truncating cast mis-binned the click
    trunc = [
        r[0]
        for r in df.select(
            (F.unix_timestamp("ts") / W).cast("long")
        ).collect()
    ]
    assert trunc[0] == 0  # proves the old expression was wrong pre-epoch


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_streaming_neardup_ingest_matches_arrival_order_and_replay_idempotent(
    spark, tmp_path
):
    """r11 (r10 verdict item 4): the ingest screen over the bucketed
    index must (a) produce exactly the flags of the direct operator run
    batch by batch in arrival order, (b) skip a replayed epoch's
    append (catalog-detected) so duplicate band/shingle rows can never
    inflate later screens, and (c) keep the zero-index-side-Exchange
    property for the per-micro-batch screen INCLUDING the retry shape
    (exclude_batch partition filter)."""
    import os
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.operators import dedup as D
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_neardup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    landed_rows = [(100, base), (101, "landed words about query engines only")]
    b1_rows = [(0, base.replace("jumps", "leaps")),
               (1, "fresh unseen words entirely here")]
    b2_rows = [(7, "fresh unseen words entirely here"),
               (8, "nothing like anything before")]
    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in landed_rows],
                  "text": [r[1] for r in landed_rows]}), landed)
    for i, rows in enumerate([b1_rows, b2_rows]):
        f = spool / f"part{i}.parquet"
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), f)
        os.utime(f, (1700000000 + i, 1700000000 + i))

    prefix = "t_ndup_par"
    got_bucketed = run_streaming_neardup_ingest(
        spark, landed, str(spool), str(tmp_path / "idx_b"),
        threshold=0.4, table_prefix=prefix, n_buckets=4,
    )
    # (a) the direct operator in arrival order over a growing corpus
    landed_df = spark.createDataFrame(landed_rows, ["doc_id", "text"])
    expected = []
    for epoch, rows in enumerate([b1_rows, b2_rows]):
        bdf = spark.createDataFrame(rows, ["doc_id", "text"])
        expected += [
            (epoch, r["doc_id"], r["n_dups"], r["best_jaccard"])
            for r in D.minhash_lsh_incremental(
                bdf, landed_df, threshold=0.4
            ).collect()
        ]
        landed_df = landed_df.unionAll(bdf)
    assert sorted(got_bucketed) == sorted(expected)
    assert {d for _, d, _, _ in got_bucketed} == {0, 7}

    # (b) replay idempotency: both epochs' partitions landed; a retry of
    # epoch 1 sees its append already visible and must skip it
    assert D.bucketed_index_has_batch(spark, prefix, "e0")
    assert D.bucketed_index_has_batch(spark, prefix, "e1")
    assert not D.bucketed_index_has_batch(spark, prefix, "e99")
    n_bands = spark.table(f"{prefix}_bands").count()
    # the retry body: has_batch -> skip append; re-screen excluding self
    retry_df = spark.createDataFrame(b2_rows, ["doc_id", "text"])
    res = D.minhash_incremental_vs_bucketed_index(
        retry_df, prefix, threshold=0.4, exclude_batch="e1"
    )
    retry_flags = {(r["doc_id"], r["n_dups"], r["best_jaccard"])
                   for r in res.collect()}
    res.unpersist()
    assert retry_flags == {(d, n, j) for e, d, n, j in got_bucketed if e == 1}
    assert spark.table(f"{prefix}_bands").count() == n_bands  # nothing appended

    # (c) plan gate for the RETRY screen shape: exclude_batch is a
    # partition filter, both index scans stay bucket-aware, and no
    # Exchange consumes the index side
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lazy = D.minhash_incremental_vs_bucketed_index(
            retry_df, prefix, threshold=0.4, exclude_batch="e1",
            materialize=False,
        )
        plan = lazy._sc._jvm.PythonSQLUtils.explainString(
            lazy._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan
    scan_ids = set()
    for m in re.finditer(
        rf"Scan parquet [^\n]*{prefix}_(bands|shingles)"
        r"[\s\S]*?Output \[\d+\]: \[([^\]]+)\]",
        plan,
    ):
        for col in m.group(2).split(","):
            col = col.strip()
            if col.startswith(("band_id#", "band_key#", "id#")):
                scan_ids.add(col.split("#")[1].rstrip("L"))
    assert scan_ids, "bucketed scans not found in plan"
    for ex in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for ref in re.findall(r"#(\d+)L?", ex):
            assert ref not in scan_ids, f"index side shuffled: {ex}"

    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_streaming_neardup_ingest_with_compaction(spark, tmp_path):
    """r11: compact_every folds older epochs inside the sink while
    KEEPING the current epoch's partition — flags identical to the
    uncompacted run, partition count bounded, and the replay contract
    (skip-append + self-exclusion) still holds for the last epoch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.operators import dedup as D
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_neardup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    landed_rows = [(100, base), (101, "landed words about query engines only")]
    batches = [
        [(0, base.replace("jumps", "leaps")),
         (1, "fresh unseen words entirely here")],
        [(7, "fresh unseen words entirely here")],
        [(8, base.replace("dog", "cat"))],
    ]
    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in landed_rows],
                  "text": [r[1] for r in landed_rows]}), landed)
    for i, rows in enumerate(batches):
        f = spool / f"part{i}.parquet"
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), f)
        os.utime(f, (1700000000 + i, 1700000000 + i))

    plain_prefix, comp_prefix = "t_ndc_plain", "t_ndc_comp"
    got_plain = run_streaming_neardup_ingest(
        spark, landed, str(spool), str(tmp_path / "idx_a"),
        threshold=0.4, table_prefix=plain_prefix, n_buckets=4,
    )
    got_comp = run_streaming_neardup_ingest(
        spark, landed, str(spool), str(tmp_path / "idx_b"),
        threshold=0.4, table_prefix=comp_prefix, n_buckets=4,
        compact_every=1,
    )
    assert sorted(got_comp) == sorted(got_plain)

    # compaction bounded the partition count: the uncompacted index has
    # seed + one partition per epoch; the compacted one at most
    # {folded seed, last epoch}
    def parts(prefix):
        return sorted(
            r[0] for r in
            spark.sql(f"SHOW PARTITIONS {prefix}_bands").collect()
        )

    assert len(parts(plain_prefix)) == 1 + len(batches)
    assert parts(comp_prefix) == ["batch=e2", "batch=seed"]

    # replay contract for the LAST epoch after compaction: ledger entry
    # survives (skip-append) and self-exclusion re-screens identically
    assert D.bucketed_index_has_batch(spark, comp_prefix, "e2")
    retry_df = spark.createDataFrame(batches[-1], ["doc_id", "text"])
    res = D.minhash_incremental_vs_bucketed_index(
        retry_df, comp_prefix, threshold=0.4, exclude_batch="e2"
    )
    retry_flags = {(r["doc_id"], r["n_dups"], r["best_jaccard"])
                   for r in res.collect()}
    res.unpersist()
    assert retry_flags == {(d, n, j) for e, d, n, j in got_comp if e == 2}
    # index content identical to the uncompacted twin
    for leaf in ("bands", "shingles"):
        a = spark.table(f"{plain_prefix}_{leaf}").drop("batch")
        b = spark.table(f"{comp_prefix}_{leaf}").drop("batch")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    for p in (plain_prefix, comp_prefix):
        for t in (f"{p}_bands", f"{p}_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_streaming_neardup_ingest_checkpoint_resume(spark, tmp_path):
    """r11: the restartable screen — a checkpointed first run processes
    the backlog; a resume run after a simulated driver restart (catalog
    entries dropped) recovers the index from the manifest, consumes
    ONLY the new spool file with epoch ids continuing, and the final
    index equals a single uninterrupted run over all files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.operators import dedup as D
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_neardup_ingest,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above the quiet meadow"
    )
    landed_rows = [(100, base), (101, "landed words about query engines only")]
    batches = [
        [(0, base.replace("jumps", "leaps")),
         (1, "fresh unseen words entirely here")],
        [(7, "fresh unseen words entirely here")],
        [(8, base.replace("dog", "cat"))],
    ]
    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in landed_rows],
                  "text": [r[1] for r in landed_rows]}), landed)

    def drop_file(i):
        f = spool / f"part{i}.parquet"
        rows = batches[i]
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), f)
        os.utime(f, (1700000000 + i, 1700000000 + i))

    prefix, chk = "t_ndr", str(tmp_path / "chk")
    idx = str(tmp_path / "idx")
    drop_file(0)
    drop_file(1)
    first = run_streaming_neardup_ingest(
        spark, landed, str(spool), idx, threshold=0.4,
        table_prefix=prefix, n_buckets=4, checkpoint=chk,
    )
    assert {(e, d) for e, d, _n, _j in first} == {(0, 0), (1, 7)}

    # driver restart: session catalog loses the (external) tables
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE {t}")

    drop_file(2)
    second = run_streaming_neardup_ingest(
        spark, landed, str(spool), idx, threshold=0.4,
        table_prefix=prefix, n_buckets=4, checkpoint=chk, resume=True,
    )
    # only the NEW file, epoch id continuing after the committed ones
    assert {(e, d) for e, d, _n, _j in second} == {(2, 8)}
    assert all(0.4 <= j < 1.0 for _e, _d, _n, j in second)

    # index state equals one uninterrupted run over all three files
    fresh_prefix = "t_ndr_fresh"
    fresh = run_streaming_neardup_ingest(
        spark, landed, str(spool), str(tmp_path / "idx_f"), threshold=0.4,
        table_prefix=fresh_prefix, n_buckets=4,
    )
    assert sorted(first + second) == sorted(fresh)
    for leaf in ("bands", "shingles"):
        a = spark.table(f"{prefix}_{leaf}").drop("batch")
        b = spark.table(f"{fresh_prefix}_{leaf}").drop("batch")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    for p in (prefix, fresh_prefix):
        for t in (f"{p}_bands", f"{p}_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_streaming_canary_leaves_caller_conf_alone(spark, sf_dir, monkeypatch):
    """The tumbling canary sizes its stateful exchange on a child
    session: a batch query compiled on the caller's session WHILE the
    stream runs sees the caller's own shuffle-partition count, and the
    canary's state operator still runs on the bounded count."""
    import re
    import threading

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from database_anonymiser_minimiser_spark.session import scoped_conf

    started, compiled = threading.Event(), threading.Event()
    queries, result = [], {}
    orig_start = DataStreamWriter.start

    def start(self, *a, **kw):
        q = orig_start(self, *a, **kw)
        queries.append(q)
        started.set()
        compiled.wait(timeout=120)  # hold the canary open until checked
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)

    def canary():
        try:
            result["rows"] = rows_set(S.run_streaming_tumbling(spark, sf_dir))
        except Exception as e:  # surfaced in the main thread
            result["error"] = e
        finally:
            started.set()

    key = "spark.sql.shuffle.partitions"
    with scoped_conf(spark, {key: "11"}):
        t = threading.Thread(target=canary)
        t.start()
        try:
            assert started.wait(timeout=120)
            seen = spark.conf.get(key)
            plan = (
                spark.range(100)
                .groupBy((F.col("id") % 7).alias("k"))
                .count()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            compiled.set()
            t.join(timeout=300)
    assert not t.is_alive()
    assert "error" not in result, result.get("error")
    assert seen == "11"
    assert re.search(r"hashpartitioning\([^)]*, 11\)", plan), plan
    assert result["rows"] == rows_set(S.tumbling_counts(load(spark, sf_dir, "events")))
    (q,) = queries
    state_ops = q.lastProgress["stateOperators"]
    assert state_ops[0]["numShufflePartitions"] == S._bounded_state_partitions()
