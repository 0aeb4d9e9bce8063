"""Boundary-semantics fuzzers (r7 verdict item 4): the session-gap
fuzzer (test_session_fuzz.py) proved that an oracle can encode the WRONG
boundary convention and stay green for rounds because corpus timestamps
never land on the exact boundary. This file extends the same
grid-aligned hypothesis harness to the three remaining operators whose
oracles encoded assumed (not probed) boundary semantics:

- **as-of join tie-breaks** (`operators/asof.py`): a right row at
  exactly the left timestamp matches ("at or before" is INCLUSIVE);
  several rights at the same timestamp resolve to the largest tiebreak;
  a matched right row whose payload is genuinely NULL must still win
  over an earlier non-NULL row (the struct-carry property).
- **stream-stream join interval bounds**
  (`streaming/events.py:run_streaming_stream_join`): both bounds of
  `click_ts <= purchase_ts <= click_ts + within` are INCLUSIVE — a
  purchase at exactly click+within attributes, one microsecond later
  does not.
- **watermark lateness arithmetic**
  (`run_streaming_with_watermark`): emitted windows are exactly those
  with `window_end <= max(ts) - lateness` (END-INCLUSIVE at the exact
  boundary — the r7 directed probe pinned the <=; here the whole
  arithmetic is fuzzed against a pure-Python reference).

Domains are tiny and grid-aligned so exact-boundary deltas occur in
nearly every example; the streaming fuzzers run the REAL runners
(file-source stream, availableNow, spool/memory sinks) with few
examples plus directed @example cases that guarantee the boundary hits
regardless of random draws.
"""

from collections import defaultdict
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# 1. as-of join: inclusive time bound + largest-tiebreak-wins + NULL payload
# ---------------------------------------------------------------------------

LEFTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # key
        st.integers(min_value=0, max_value=8),  # time
    ),
    min_size=1,
    max_size=12,
)
RIGHTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # key
        st.integers(min_value=0, max_value=8),  # time
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # payload
    ),
    min_size=0,
    max_size=12,
)


def _ref_asof(lefts, rights):
    """Winner per left row = the right row of the same key with
    rt <= lt (INCLUSIVE), max by (rt, tiebreak); its payload (which may
    be genuinely None) or None when nothing precedes."""
    by_key = defaultdict(list)
    for tb, (k, t, p) in enumerate(rights):
        by_key[k].append((t, tb, p))
    out = []
    for lid, (k, lt) in enumerate(lefts):
        cands = [(t, tb, p) for t, tb, p in by_key[k] if t <= lt]
        out.append((lid, max(cands)[2] if cands else None))
    return sorted(out)


@given(LEFTS, RIGHTS)
# right at EXACTLY the left time must match (inclusive bound):
@example(lefts=[(0, 5)], rights=[(0, 5, 3)])
# two rights at the same instant: the larger tiebreak (later row) wins:
@example(lefts=[(0, 5)], rights=[(0, 5, 1), (0, 5, 2)])
# a NULL-payload right at a LATER time must beat an earlier non-NULL
# (struct-carry: last(payload_struct) not per-column last(ignorenulls)):
@example(lefts=[(0, 6)], rights=[(0, 2, 4), (0, 5, None)])
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_asof_join_boundary_matches_reference(spark, lefts, rights):
    from database_anonymiser_minimiser_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, t, lid) for lid, (k, t) in enumerate(lefts)],
        "k long, t long, lid long",
    )
    right = spark.createDataFrame(
        [(k, t, tb, p) for tb, (k, t, p) in enumerate(rights)],
        "k long, t long, tb long, payload long",
    )
    out = asof_join(
        left,
        right,
        left_key="k",
        right_key="k",
        left_time="t",
        right_time="t",
        payload_cols=["payload"],
        tiebreak_col="tb",
    )
    got = sorted((r["lid"], r["payload"]) for r in out.collect())
    assert got == _ref_asof(lefts, rights)


# ---------------------------------------------------------------------------
# 2. stream-stream join: inclusive interval bounds through the real runner
# ---------------------------------------------------------------------------

WITHIN_S = 60  # 1 minute attribution window on a 30 s grid -> exact hits

SJ_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # user
        st.booleans(),  # True = purchase, False = click
        st.integers(min_value=0, max_value=10),  # ts in 30 s units
    ),
    min_size=1,
    max_size=14,
)


# Streaming fuzz domains sit on a 2023 epoch base, NOT at epoch 0: the
# stream-stream join's initial-watermark state floor silently swallows
# events at/near 1970-01-01 (probed: a click at epoch 0 with a matching
# purchase at +60 s yields NOTHING; the identical pair shifted to 2023
# attributes correctly). No real corpus lives at the epoch floor, so the
# fuzzers test the documented semantics away from that degenerate
# corner. The base is HOUR-ALIGNED so exact window-end==watermark
# boundary hits still occur on the shifted grid.
BASE_S = 1_700_002_800  # = 472_223 * 3600 = 2023-11-14 23:00:00 UTC


def _write_events(tmpdir, rows):
    """rows: (event_id, user_id, event_type, ts_seconds-from-BASE_S).
    Written as a single parquet FILE with pyarrow — the corpus layout. A
    Spark-written parquet DIRECTORY would silently yield an empty stream
    here: read_events_stream symlinks `<sf_dir>/events.parquet` into the
    stream dir, and the file source does not recurse into a symlinked
    subdirectory. One file also means one deterministic availableNow
    micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [(BASE_S + r[3]) * 1_000_000 for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


def _ref_stream_join(events):
    out = set()
    for cid, cu, ctyp, ct in events:
        if ctyp != "click":
            continue
        for pid, pu, ptyp, pt in events:
            if ptyp == "purchase" and pu == cu and 0 <= pt - ct <= WITHIN_S:
                out.add((cid, pid, cu))
    return out


@given(SJ_EVENTS)
# purchase at EXACTLY click + within: attributed (upper bound inclusive)
@example(events=[(0, False, 0), (0, True, 2)])
# purchase at exactly the click instant: attributed (lower bound inclusive)
@example(events=[(0, False, 4), (0, True, 4)])
# purchase one grid step past the window: NOT attributed
@example(events=[(0, False, 0), (0, True, 3)])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_stream_join_interval_bounds_match_reference(spark, tmp_path, events):
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_stream_join,
    )

    rows = [
        (i, u, "purchase" if is_p else "click", t * 30)
        for i, (u, is_p, t) in enumerate(events)
    ]
    sf_dir = _write_events(str(tmp_path), rows)
    out = run_streaming_stream_join(
        spark, sf_dir, within="1 minute", lateness="2 minutes"
    )
    got = {
        (r["click_id"], r["purchase_id"], r["user_id"]) for r in out.collect()
    }
    assert got == _ref_stream_join(
        [(i, u, typ, s) for i, u, typ, s in rows]
    )


# ---------------------------------------------------------------------------
# 3. watermark lateness arithmetic through the real runner
# ---------------------------------------------------------------------------

WIDTH_S = 3600
LATENESS_S = 3600

WM_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # type a/b
        st.integers(min_value=0, max_value=12),  # ts in 30 min units
    ),
    min_size=1,
    max_size=14,
)


def _ref_watermark(events):
    """Single-batch availableNow semantics: the final watermark is
    max(ts) - lateness; the flush emits exactly the windows with
    window_end <= watermark (end-INCLUSIVE, r7 probe-pinned), counted
    per (window_start, type)."""
    ts = [(t, BASE_S + u * 1800) for t, u in events]
    wm = max(s for _, s in ts) - LATENESS_S
    counts = defaultdict(int)
    for typ, s in ts:
        start = (s // WIDTH_S) * WIDTH_S
        if start + WIDTH_S <= wm:
            counts[(start, typ)] += 1
    return {
        (
            datetime.fromtimestamp(start, tz=timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
            f"t{typ}",
            n,
        )
        for (start, typ), n in counts.items()
    }


@given(WM_EVENTS)
# max ts lands EXACTLY lateness past a window end -> that window emits
# (end == watermark, inclusive):
@example(events=[(0, 1), (0, 4)])
# watermark one grid step short of the window end -> held in state:
@example(events=[(0, 1), (0, 3)])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_watermark_emission_matches_reference(spark, tmp_path, events):
    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_with_watermark,
    )

    rows = [
        (i, u, f"t{typ}", unit * 1800)
        for i, (typ, unit) in enumerate(events)
        for u in [0]
    ]
    sf_dir = _write_events(str(tmp_path), rows)
    out = run_streaming_with_watermark(
        spark, sf_dir, width="1 hour", lateness="1 hour"
    )
    got = {
        (r["window_start"], r["event_type"], r["n_events"])
        for r in out.collect()
    }
    assert got == _ref_watermark(events)


# ---------------------------------------------------------------------------
# 4. t-digest 5% band gate: probe the pass/fail EDGE (r8 verdict item 7)
# ---------------------------------------------------------------------------
# The band gates (percentiles_tdigest_band_orders,
# streaming_percentiles_tdigest) assert |est - exact| <= 5% — green since
# r7, but the edge itself was assumed, not probed. Probing it shows the
# band is a DATA-CLASS property, not a universal digest guarantee:
# adversarial distributions (a heavy-tie mass step under the probed
# quantile, a 2-row group, an extreme-tail p99) put genuinely more than
# 5% of value error between the digest's interpolation and the exact
# order statistic, while the digest's actual invariant — bounded RANK
# error — keeps holding. These tests pin all three facts:
#   (a) the rank invariant holds on adversarial inputs for the FULL
#       pipeline shape (batch partials -> sharded pre-merge -> final
#       merge), not just a single compress;
#   (b) the named failure families really do break the value band (so
#       the gate must never be read as a universal promise);
#   (c) on the gate's actual corpus distributions the band holds with
#       measured HEADROOM (worst utilization ~0.72 of the band at
#       sf0.001, ~0.33 at sf0.01) across batch-split variations — the
#       green gate is structural, not luck.


def _td_pipeline(vals, ps, n_chunks=4, delta=100.0):
    """The distributed three-level digest shape, driver-side: the same
    shared kernel (compress/merge_digests/quantile) the Spark path uses,
    with explicit batch splits standing in for Arrow batches/shards."""
    import numpy as np

    from database_anonymiser_minimiser_spark.operators.tdigest import (
        compress,
        merge_digests,
        quantile,
    )

    vals = np.asarray(vals, dtype=np.float64)
    chunks = [c for c in np.array_split(vals, max(1, n_chunks)) if c.size]
    parts = [compress(c, np.ones_like(c), delta) for c in chunks]
    pre = [
        merge_digests(parts[s::2], delta)
        for s in range(min(2, len(parts)))
        if parts[s::2]
    ]
    m, w = merge_digests(pre, delta)
    return quantile(m, w, float(vals.min()), float(vals.max()), ps)


def _rank_error(vals, est, p):
    import numpy as np

    s = np.sort(np.asarray(vals, dtype=np.float64))
    lo = np.searchsorted(s, est, side="left") / s.size
    hi = np.searchsorted(s, est, side="right") / s.size
    return 0.0 if lo <= p <= hi else min(abs(lo - p), abs(hi - p))


def _band(exact):
    return 0.05 * max(abs(exact), 1.0)


TD_VALS = st.lists(
    st.one_of(
        # heavy ties over a tiny value set (mass steps)
        st.sampled_from([0.0, 1.0, 2.0, 3.0, 1e6]),
        # smooth-ish values and extreme magnitudes
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
    ),
    min_size=2,
    max_size=600,
)


@settings(max_examples=40, deadline=None)
@given(TD_VALS, st.sampled_from([0.1, 0.5, 0.9, 0.99]), st.sampled_from([1, 3, 7]))
@example(vals=[7.0, 9.0], p=0.25, n_chunks=1)  # 2-row group
@example(vals=[1.0] * 300 + [2.0] * 150 + [3.0] * 50, p=0.9, n_chunks=3)  # step
@example(vals=[0.0] * 250 + [1e12] * 250, p=0.5, n_chunks=4)  # far ties
def test_tdigest_pipeline_rank_invariant_fuzzed(vals, p, n_chunks):
    """The universal invariant the digest DOES make, for the full
    pipeline shape: empirical rank of the estimate within 5% of p —
    on ties, steps, extreme magnitudes, tiny groups, any batching. The
    1/n term is interpolation granularity: an estimate strictly between
    two order statistics carries their rank, which can sit up to one
    rank step from p (hypothesis found it at n=6 before the term)."""
    (est,) = _td_pipeline(vals, [p], n_chunks)
    assert _rank_error(vals, est, p) <= 0.05 + 1.0 / len(vals), (est, p)


def test_tdigest_value_band_is_not_universal():
    """The named adversarial families break the 5% VALUE band while the
    rank invariant holds — the band gate is a property of the corpus
    distribution class (smooth, n >> delta, bounded local value steps),
    and must not be read as a universal digest promise. If a future
    digest change makes every family pass, this characterization is
    stale: re-probe and update the boundary notes."""
    import numpy as np

    families = {
        "tie_step_under_p90": ([1.0] * 3000 + [2.0] * 1500 + [3.0] * 500, 0.9),
        "two_row_group": ([7.0, 9.0], 0.25),
        "extreme_tail_p99": (
            np.exp(np.random.default_rng(0).normal(0, 5, 5000)).tolist(),
            0.99,
        ),
    }
    band_failures = 0
    for name, (vals, p) in families.items():
        (est,) = _td_pipeline(vals, [p])
        exact = float(np.percentile(vals, p * 100, method="linear"))
        assert _rank_error(vals, est, p) <= 0.05, name  # invariant holds...
        if abs(est - exact) > _band(exact):  # ...while the band may not
            band_failures += 1
    assert band_failures >= 2, (
        "adversarial families no longer break the band - re-characterize"
    )


@pytest.mark.parametrize(
    "table,value_of,group_of,ps",
    [
        ("orders", "o_totalprice", "o_orderstatus", (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)),
        ("events", "value", "event_type", (0.25, 0.5, 0.9)),
    ],
)
def test_tdigest_gate_band_headroom_on_corpus(sf_dir, table, value_of, group_of, ps):
    """The driver band gates' distributions sit WELL INSIDE the band:
    worst measured utilization 0.72 at sf0.001 / 0.33 at sf0.01 across
    1/7/32-chunk batchings. Asserting <= 0.9 pins the edge — a digest or
    corpus change that pushes any (group, p) near the boundary fails
    here before it can flake the driver gate."""
    import collections

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/{table}.parquet", columns=[group_of, value_of])
    by = collections.defaultdict(list)
    for g, v in zip(t[group_of].to_pylist(), t[value_of].to_pylist()):
        if v is not None and v == v:
            by[g].append(v)
    worst = 0.0
    for vals in by.values():
        for n_chunks in (1, 7, 32):
            ests = _td_pipeline(vals, list(ps), n_chunks)
            for p, est in zip(ps, ests):
                exact = float(np.percentile(vals, p * 100, method="linear"))
                worst = max(worst, abs(est - exact) / _band(exact))
    assert worst <= 0.9, f"band utilization {worst:.3f} - gate edge at risk"


# ---------------------------------------------------------------------------
# numpy-scalar thresholds: numeric parameters reach SQL text (F.expr
# f-strings) only after float() coercion at the public entry point —
# numpy 2's repr of np.float64(0.5) is "np.float64(0.5)", not SQL
# ---------------------------------------------------------------------------


class _Numpy2Float(float):
    """A float whose repr is numpy 2's scalar repr, so the SQL-text
    hazard shows whichever numpy version is installed."""

    def __repr__(self):
        return f"np.float64({float(self)!r})"


@pytest.mark.parametrize("np_type", ["float64", "float32", "numpy2_repr"])
def test_ngram_operators_accept_numpy_thresholds(spark, np_type):
    import numpy as np

    from database_anonymiser_minimiser_spark.operators import dedup as D

    cast = _Numpy2Float if np_type == "numpy2_repr" else getattr(np, np_type)
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base + " " + " ".join(f"w{i}_{j}" for j in range(i % 4))) for i in range(8)]
        + [(100 + i, f"unrelated text number {i} with its own words") for i in range(4)],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(D.ngram_jaccard_pairs(docs, threshold=0.5))
    assert want  # the planted near-duplicates are found
    assert rows(D.ngram_jaccard_pairs(docs, threshold=cast(0.5))) == want
    assert rows(
        D.ngram_jaccard_pairs(
            docs, threshold=cast(0.5), max_df_quantile=cast(0.5)
        )
    ) == rows(D.ngram_jaccard_pairs(docs, threshold=0.5, max_df_quantile=0.5))
    assert rows(
        D.ngram_containment_pairs(
            docs, threshold=cast(0.75), fallback_quantile=cast(0.5)
        )
    ) == rows(D.ngram_containment_pairs(docs, threshold=0.75, fallback_quantile=0.5))
