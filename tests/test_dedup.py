"""Dedup operator behavior on planted near-duplicates (the corpus has no
duplicates at small SF, so recall must be proven on synthetic rows)."""

import pytest

from database_anonymiser_minimiser_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while birds sing in the tall green trees above the quiet meadow"
)
DOCS = [
    # 0 and 1: near-identical (one word changed out of 24 -> jaccard ~0.87)
    (0, BASE),
    (1, BASE.replace("jumps", "leaps")),
    # 2: exact copy of 0
    (2, BASE),
    # 3: unrelated
    (3, "completely different content about databases and distributed query engines"),
    # 4: short doc (< 3 tokens -> no shingles)
    (4, "tiny doc"),
    # 5: another unrelated
    (5, "spark catalyst optimizer rewrites logical plans into physical plans"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_shingles(spark, docs_df):
    rows = {r["id"]: r["s"] for r in D.shingles(docs_df).collect()}
    assert 4 not in rows  # too short
    assert "the quick brown" in rows[0]
    # 24 tokens -> 22 trigrams, minus one duplicate-free check
    assert len(rows[0]) == len(set(rows[0]))


def test_exact_dedup(spark, docs_df):
    res = {
        r["keep_id"]: r["n_copies"]
        for r in D.exact_dedup(docs_df, ["text"]).collect()
    }
    assert res[0] == 2  # docs 0 and 2 identical, keep min id
    assert res[1] == 1


def test_minhash_lsh_finds_planted_pairs(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs_df, threshold=0.4).collect()
    }
    assert pairs[(0, 2)] == 1.0  # exact copy
    assert (0, 1) in pairs and 0.4 <= pairs[(0, 1)] < 1.0
    assert (1, 2) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_minhash_xxhash_mode_finds_strong_pairs(spark, docs_df):
    """The production xxhash64 path differs only in candidate-generation
    hashes (candidate sets may differ at the LSH margin); high-jaccard
    pairs must be found by both, and every reported jaccard is exact."""
    for mode in ("md5", "xxhash"):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.minhash_lsh_pairs(docs_df, threshold=0.4, mode=mode).collect()
        }
        assert pairs[(0, 2)] == 1.0, mode
        assert (0, 1) in pairs and pairs[(0, 1)] > 0.7, mode


def test_ngram_jaccard_exact_values(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs_df, threshold=0.1).collect()
    }
    assert pairs[(0, 2)] == 1.0
    # one word changed invalidates exactly 3 trigrams: shared = n-3,
    # union = n+3 where n = distinct trigrams of doc 0
    n = len({tuple(BASE.split()[i : i + 3]) for i in range(len(BASE.split()) - 2)})
    assert abs(pairs[(0, 1)] - (n - 3) / (n + 3)) < 1e-12


def test_ngram_containment_directed_planted(spark):
    """r12: containment catches the short-doc-inside-long-doc case that
    Jaccard misses, and the relation is DIRECTED: the short side scores
    1.0, the long side scores |∩|/|long| (below threshold here). Values
    brute-force exact; the pruned pipeline equals unpruned ground truth."""
    long_doc = (
        BASE + " and then a second paragraph follows with many more words "
        "about meadows rivers trees and the habits of quiet animals that "
        "live beside slow water under the old stone bridge every summer"
    )
    rows = [
        (0, BASE),               # fully contained in 1
        (1, long_doc),
        (2, "unrelated text about query engines and catalyst planners"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in D.ngram_containment_pairs(df, threshold=0.6).collect()
    }
    assert got[(0, 1)] == 1.0  # every shingle of BASE is in long_doc
    assert (1, 0) not in got   # reverse direction below 0.6
    assert not any(2 in p for p in got)
    # jaccard at the same threshold misses the pair entirely
    j = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(df, threshold=0.6).collect()
    }
    assert (0, 1) not in j and (1, 0) not in j
    # brute-force ground truth over every ordered pair
    sh = {r["id"]: set(r["s"]) for r in D.shingles(df).collect()}
    want = {
        (a, b): len(sh[a] & sh[b]) / len(sh[a])
        for a in sh
        for b in sh
        if a != b and len(sh[a] & sh[b]) / len(sh[a]) >= 0.6
    }
    assert got == want


def test_ngram_prefix_filter_complete_vs_brute_force(spark, sf_dir):
    """The prefix filter must be COMPLETE: against an all-pairs exact
    Jaccard brute force on the real corpus, prefix mode returns exactly
    the pairs with J >= t — no candidate pruning loss (the property the
    default stop-shingle rule trades away)."""
    from database_anonymiser_minimiser_spark.queries import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").limit(200)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_prefix(docs, threshold=0.5).collect()
    }
    sh = D.shingles(docs)
    a = sh.selectExpr("id AS ia", "s AS sa")
    b = sh.selectExpr("id AS ib", "s AS sb")
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    brute = {
        (r["ia"], r["ib"]): r["j"]
        for r in a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib", jac.alias("j"))
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    assert got == brute


def test_levenshtein_catches_bucket_straddling_pair(spark):
    """Two near-identical texts whose lengths straddle a length-bucket
    boundary (19 vs 21 chars with bucket 20 -> buckets 0 and 1) MUST
    still pair: the probe side explodes to {lb-1, lb, lb+1}. Round 2's
    exact-bucket join silently missed these."""
    rows = [
        (0, "aaaaaaaaaaaaaaaaaaa"),    # 19 chars -> bucket 0
        (1, "aaaaaaaaaaaaaaaaaaaak"),  # 21 chars -> bucket 1, dist 2
        (2, "zzzz completely different text zzzz"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in D.levenshtein_near_pairs(df, max_dist=10).collect()
    }
    assert (0, 1, 2) in got
    assert all(p[:2] != (0, 2) and p[:2] != (1, 2) for p in got)


def test_levenshtein_same_bucket_pair_not_duplicated(spark):
    """A same-bucket pair must appear exactly once despite the 3-key
    probe explosion (distinct probe keys can match b's bucket once)."""
    rows = [(0, "hello world one"), (1, "hello world two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.levenshtein_near_pairs(df, max_dist=10).collect()
    assert len(pairs) == 1 and (pairs[0]["doc_a"], pairs[0]["doc_b"]) == (0, 1)


def test_keep_best_prefers_high_score_then_low_id(spark):
    """keep-best survivor policy: highest score wins; ties -> lowest id."""
    rows = [
        (10, "same text", 5),
        (11, "same text", 9),   # highest score -> survivor
        (12, "same text", 9),   # tie loses to lower id 11
        (20, "other", 1),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "fp", "score"])
    got = {
        r["fp"]: (r["keep_id"], r["n_copies"])
        for r in D.exact_dedup_keep_best(df, ["fp"], "score").collect()
    }
    assert got == {"same text": (11, 3), "other": (20, 1)}


def test_simhash_wide_identical_docs_equal(spark, docs_df):
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash_wide(docs_df).collect()}
    assert sims[0] == sims[2]
    assert 0 <= sims[0] < 2**63  # positive signed BIGINT in both engines
    assert sims[0] != sims[3]


def test_simhash_wide_near_pairs_recall_and_selectivity(spark, docs_df):
    """Exact-dup pair found at hamming 0; unrelated docs do NOT collide
    (the 63-bit space makes random collisions negligible — the property
    the 16-bit form loses at corpus scale)."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_wide_near_pairs(docs_df, max_hamming=2).collect()
    }
    assert pairs[(0, 2)] == 0
    for (a, b), h in pairs.items():
        assert h <= 2


def test_stop_shingle_guard(spark):
    """Default mode: a shingle appearing in more docs than max_df must
    not generate candidate pairs on its own."""
    docs = [(i, f"common shared prefix unique{i} tail{i} words{i}") for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    assert D.ngram_jaccard_pairs(df, threshold=0.01, max_df=3).count() == 0
    assert D.ngram_jaccard_pairs(df, threshold=0.01, max_df=100).count() > 0


def test_ngram_quantile_cap_matches_equivalent_absolute_cap(spark):
    """The corpus-relative stop-shingle cap must produce exactly the
    pairs an absolute cap at that quantile value would."""
    rows = [
        (0, "a b c d e f g h i j k l"),
        (1, "a b c d e f g h i j k m"),
        (2, "z y x w v u t s r q p o"),
        (3, "z y x w v u t s r q p n"),
        (4, "a b c z y x m n o p q r"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    q = D.ngram_jaccard_pairs(df, threshold=0.5, max_df_quantile=0.9)
    shingled = D.shingles(df)
    from pyspark.sql import functions as F
    cap = (
        shingled.select("id", F.explode("s").alias("sh"))
        .groupBy("sh").count()
        .agg(F.expr("percentile(count, 0.9D)")).first()[0]
    )
    a = D.ngram_jaccard_pairs(df, threshold=0.5, max_df=int(cap))
    key = lambda d: sorted((r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in d.collect())  # noqa: E731
    assert key(q) == key(a)


def test_ngram_absolute_cap_cliff_guard(spark):
    """Round-6 regression (found by the sf2/sf4 scaling sweep): when
    EVERY shingle's df exceeds the absolute cap, the rare set used to go
    empty and the operator silently returned 0 pairs. The in-plan guard
    degrades the cap to the df-quantile in exactly that regime, so true
    duplicates are still found."""
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # every shingle appears in all 6 docs -> df=6 > max_df=2 everywhere
    pairs = D.ngram_jaccard_pairs(df, threshold=0.9, max_df=2)
    assert pairs.count() == 15  # all C(6,2) identical-doc pairs survive
    # and wherever the absolute cap admits ANY shingle, behaviour is the
    # old one: the stop-shingle guard test's semantics are unchanged
    mixed = [(i, f"common shared prefix unique{i} tail{i}") for i in range(8)]
    mdf = spark.createDataFrame(mixed, ["doc_id", "text"])
    assert D.ngram_jaccard_pairs(mdf, threshold=0.01, max_df=3).count() == 0


def test_ngram_fallback_regime_is_observable(spark):
    """Round-7 (r6 verdict polish): when the adaptive cap degrades to
    quantile mode — the Theta(sum df^2) fallback regime — the operator
    must SAY so (NgramFallbackWarning naming the at-scale alternatives),
    and must stay silent when the absolute cap admits any shingle."""
    import warnings as w

    # uniform-df synthetic: every shingle in every doc -> fallback fires
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    with pytest.warns(D.NgramFallbackWarning, match="minhash_lsh_pairs"):
        D.ngram_jaccard_pairs(df, threshold=0.9, max_df=2).count()

    # Zipf-ish corpus (a common head + long unique tails): min df = 1
    # <= max_df, absolute-cap mode — no warning may fire
    mixed = [(i, f"common shared prefix unique{i} tail{i}") for i in range(8)]
    mdf = spark.createDataFrame(mixed, ["doc_id", "text"])
    with w.catch_warnings():
        w.simplefilter("error", D.NgramFallbackWarning)
        D.ngram_jaccard_pairs(mdf, threshold=0.01, max_df=3).count()


def test_minhash_incremental_flags_only_new_vs_landed(spark):
    """Incremental near-dup ingest (r9): a NEW doc near-duplicating a
    LANDED doc is flagged with its exact best jaccard; new-vs-new and
    landed-vs-landed duplicates are deliberately OUT of scope (the
    within-batch/within-corpus runs are separate jobs); unrelated and
    sub-shingle-length new docs pass through unflagged."""
    landed = spark.createDataFrame(
        [
            (100, BASE),
            (101, "spark catalyst optimizer rewrites logical plans into physical plans"),
            (102, BASE),  # landed-landed exact pair: not this operator's job
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (0, BASE.replace("jumps", "leaps")),  # near-dups 100 AND 102
            (1, "totally fresh content with no landed counterpart at all here"),
            (2, "tiny doc"),  # < 3 tokens: cannot match
            (3, BASE.replace("jumps", "leaps")),  # new-new dup of 0: out of scope as a pair
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_dups"], r["best_jaccard"])
        for r in D.minhash_lsh_incremental(new, landed, threshold=0.4).collect()
    }
    assert set(got) == {0, 3}  # both near-dup the landed BASE copies
    for i in (0, 3):
        n, j = got[i]
        assert n == 2  # landed 100 and 102 both match
        assert 0.4 <= j < 1.0
    # exact-copy new doc: best_jaccard is exactly 1.0
    got2 = {
        r["doc_id"]: (r["n_dups"], r["best_jaccard"])
        for r in D.minhash_lsh_incremental(
            spark.createDataFrame([(7, BASE)], ["doc_id", "text"]), landed
        ).collect()
    }
    assert got2[7][0] == 2 and got2[7][1] == 1.0


def _seed_bucketed(spark, prefix, landed, path):
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    D.save_minhash_index_bucketed(landed, prefix, n_buckets=4, path=path)


def _drop_bucketed(spark, prefix):
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _screen_bucketed(new, prefix, **kw):
    res = D.minhash_incremental_vs_bucketed_index(
        new, prefix, threshold=0.4, **kw
    )
    got = {
        r["doc_id"]: (r["n_dups"], r["best_jaccard"]) for r in res.collect()
    }
    res.unpersist()
    return got


def test_minhash_index_lifecycle_matches_direct_operator(spark, tmp_path):
    """The persisted-index ingest loop (r9): build the landed index once,
    screen a batch against it (must equal the direct two-DataFrame
    operator exactly), append the admitted batch, and verify the NEXT
    batch sees the previously-admitted docs — the daily-ingest cycle the
    incremental operator's docstring promises, as running code."""
    prefix, path = "t_mh_life", str(tmp_path / "mh_index")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    batch1 = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps")), (1, "fresh unseen words entirely")],
        ["doc_id", "text"],
    )
    _seed_bucketed(spark, prefix, landed, path)
    try:
        via_index = _screen_bucketed(batch1, prefix)
        direct = {
            r["doc_id"]: (r["n_dups"], r["best_jaccard"])
            for r in D.minhash_lsh_incremental(
                batch1, landed, threshold=0.4
            ).collect()
        }
        assert via_index == direct and list(via_index) == [0]

        # admit batch1 (both docs) and screen a second batch: doc 7 must
        # match doc 1's text, which only exists in the APPENDED index rows
        D.save_minhash_index_bucketed(
            batch1, prefix, n_buckets=4, path=path, append=True, batch="e0"
        )
        probe = spark.createDataFrame(
            [(7, "fresh unseen words entirely")], ["doc_id", "text"]
        )
        assert _screen_bucketed(probe, prefix) == {7: (1, 1.0)}
    finally:
        _drop_bucketed(spark, prefix)


def test_minhash_index_append_replay_is_idempotent(spark, tmp_path):
    """ADVICE r9 (streaming/events.py): a retried micro-batch must not
    re-append its rows to the index, or every later batch's n_dups is
    inflated for good. Replayed for real: the last epoch's commit is
    removed from the checkpoint, so the restarted screen re-runs that
    epoch with the same id; its append is found already landed
    (``bucketed_index_has_batch``) and skipped, its screen excludes its
    own partition, and its flags come out as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_neardup_ingest,
    )

    def write(path, rows):
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), path)

    landed = str(tmp_path / "landed.parquet")
    write(landed, [(100, BASE)])
    spool = tmp_path / "spool"
    spool.mkdir()
    write(spool / "part0.parquet", [(0, BASE.replace("jumps", "leaps"))])
    prefix, idx, chk = "t_mh_replay", str(tmp_path / "idx"), tmp_path / "chk"
    _drop_bucketed(spark, prefix)
    kw = dict(threshold=0.4, table_prefix=prefix, n_buckets=4,
              checkpoint=str(chk))
    try:
        first = run_streaming_neardup_ingest(
            spark, landed, str(spool), idx, **kw
        )
        assert [(e, d, n) for e, d, n, _j in first] == [(0, 0, 1)]
        assert D.bucketed_index_has_batch(spark, prefix, "e0")
        bands_once = spark.table(f"{prefix}_bands").count()
        for name in ("0", ".0.crc"):  # epoch 0 never committed
            (chk / "commits" / name).unlink(missing_ok=True)
        replay = run_streaming_neardup_ingest(
            spark, landed, str(spool), idx, resume=True, **kw
        )
        assert replay == first
        assert spark.table(f"{prefix}_bands").count() == bands_once
        # a later doc near-dupping BOTH landed 100 and admitted 0 sees
        # each ONCE
        probe = spark.createDataFrame(
            [(7, BASE.replace("jumps", "hops"))], ["doc_id", "text"]
        )
        assert _screen_bucketed(probe, prefix)[7][0] == 2
    finally:
        _drop_bucketed(spark, prefix)


def test_minhash_vs_index_exclude_batch_skips_own_partition(spark, tmp_path):
    """A retrying epoch whose append already landed must not screen
    against itself: exclude_batch drops exactly its own partition, so the
    retry's screen equals the original (pre-append) screen."""
    prefix = "t_mh_excl"
    landed = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )
    path = str(tmp_path / "mh_idx2")
    _seed_bucketed(spark, prefix, landed, path)
    try:
        before = _screen_bucketed(batch, prefix)
        D.save_minhash_index_bucketed(
            batch, prefix, n_buckets=4, path=path, append=True, batch="e0"
        )
        # without the exclusion the batch self-matches at jaccard 1.0
        assert _screen_bucketed(batch, prefix)[0][1] == 1.0
        assert _screen_bucketed(batch, prefix, exclude_batch="e0") == before
    finally:
        _drop_bucketed(spark, prefix)


def test_minhash_incremental_recrawl_id_not_double_counted(spark, tmp_path):
    """ADVICE r9 (dedup.py): a batch doc_id that already exists in the
    landed side (re-crawl of the same key) used to match BOTH shingle
    rows per side through the unioned relation, duplicating candidate
    pairs. Sided verification compares new-content vs landed-content
    exactly once."""
    landed = spark.createDataFrame(
        [(100, BASE), (102, BASE)], ["doc_id", "text"]
    )
    # re-crawl: id 100 arrives again with slightly changed content
    batch = spark.createDataFrame(
        [(100, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_dups"], r["best_jaccard"])
        for r in D.minhash_lsh_incremental(batch, landed, threshold=0.4).collect()
    }
    n, j = got[100]
    assert n == 2  # landed 100 and 102, each counted ONCE
    assert 0.4 <= j < 1.0  # new-content vs landed-content, not new-vs-new
    # and the persisted-index path agrees
    prefix = "t_mh_recrawl"
    _seed_bucketed(spark, prefix, landed, str(tmp_path / "mh_idx3"))
    try:
        assert _screen_bucketed(batch, prefix) == got
    finally:
        _drop_bucketed(spark, prefix)


def test_minhash_bucketed_index_lifecycle_and_plan(spark, tmp_path):
    """r10 (r9 verdict item 4): the persisted MinHash index as BUCKETED
    tables — the daily screen must (a) produce results identical to the
    direct operator, (b) read BOTH index relations bucket-aware with
    ZERO Exchange on the index side (only
    the day's batch shuffles — the corpus-sized landed side is never
    re-shuffled), and (c) keep screening correctly after a bucketed
    APPEND of an admitted batch."""
    import re

    prefix = "t_mhb"
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    batch1 = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps")), (1, "fresh unseen words entirely")],
        ["doc_id", "text"],
    )
    wh = str(tmp_path / "wh")
    D.save_minhash_index_bucketed(
        landed, prefix, n_buckets=4, mode="md5", path=wh
    )
    res1 = D.minhash_incremental_vs_bucketed_index(
        batch1, prefix, threshold=0.4, mode="md5"
    )
    via_bucketed = sorted(tuple(r) for r in res1.collect())
    # release the materialised result BEFORE the plan gate: a persisted
    # identical plan would cache-hit and the explain would show the
    # InMemoryTableScan, not the screen plan under audit (production
    # callers — the streaming sink — unpersist the same way)
    res1.unpersist()
    direct = sorted(
        tuple(r)
        for r in D.minhash_lsh_incremental(
            batch1, landed, threshold=0.4, mode="md5"
        ).collect()
    )
    assert via_bucketed == direct and len(via_bucketed) == 1

    # plan gate: broadcast disabled so bucket-vs-shuffle is visible
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lazy = D.minhash_incremental_vs_bucketed_index(
            batch1, prefix, threshold=0.4, mode="md5", materialize=False
        )
        plan = lazy._sc._jvm.PythonSQLUtils.explainString(
            lazy._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # both index tables read bucket-aware
    assert plan.count("Bucketed: true") == 2, plan
    # no Exchange consumes either bucketed scan's output: every
    # hashpartitioning expression must reference only expr-ids that are
    # NOT the bucketed scans' band/id columns
    scan_ids = set()
    for m in re.finditer(
        r"Scan parquet [^\n]*t_mhb_(bands|shingles)[\s\S]*?Output \[\d+\]: \[([^\]]+)\]",
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

    # bucketed append: admit batch1, next batch must match doc 1's text
    D.save_minhash_index_bucketed(
        batch1, prefix, n_buckets=4, mode="md5", append=True, path=wh
    )
    got2 = {
        r["doc_id"]: r["best_jaccard"]
        for r in D.minhash_incremental_vs_bucketed_index(
            spark.createDataFrame(
                [(7, "fresh unseen words entirely")], ["doc_id", "text"]
            ),
            prefix,
            threshold=0.4,
            mode="md5",
        ).collect()
    }
    assert got2 == {7: 1.0}
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_bucketed_index_compaction(spark, tmp_path):
    """r11: compact_minhash_index_bucketed collapses the per-epoch batch
    partitions into one, with (a) screen results unchanged, (b) ONE file
    per bucket per table afterwards (the small-file fix: E epochs leave
    ~E files per bucket), (c) bucket-awareness and the zero-index-side-
    Exchange plan property preserved, and (d) the epoch ledger reset."""
    import re

    prefix = "t_mhc"
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    wh = str(tmp_path / "wh")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    D.save_minhash_index_bucketed(
        landed, prefix, n_buckets=4, mode="md5", path=wh, batch="seed"
    )
    # three appended epochs, one doc each
    for e, text in enumerate(
        ["fresh words one", "fresh words two", BASE.replace("dog", "cat")]
    ):
        D.save_minhash_index_bucketed(
            spark.createDataFrame([(200 + e, text)], ["doc_id", "text"]),
            prefix, n_buckets=4, mode="md5", path=wh, append=True,
            batch=f"e{e}",
        )
    probe = spark.createDataFrame(
        [(9, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )

    def screen():
        res = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5"
        )
        got = sorted(tuple(r) for r in res.collect())
        res.unpersist()
        return got

    def table_files(t):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .filter("col_name = 'Location'")
            .first()["data_type"]
        )
        import os
        root = loc.removeprefix("file:")
        return [
            os.path.join(dp, f)
            for dp, _dn, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        ]

    before = screen()
    assert before, "probe should near-dup the seeded base doc"
    files_before = len(table_files(f"{prefix}_bands"))
    # r11 write-side gate: seed and appends repartition by the bucket
    # keys, so each of the 4 batch partitions holds at most n_buckets
    # files (without the repartition the seed alone wrote tasks x
    # buckets files — 1,309 measured on a 250-doc corpus)
    assert files_before <= 4 * 4, files_before
    assert len(spark.sql(f"SHOW PARTITIONS {prefix}_bands").collect()) == 4

    D.compact_minhash_index_bucketed(spark, prefix, n_buckets=4, path=wh)

    # (a) content identical
    assert screen() == before
    # (d) single partition, epoch ledger reset
    parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {prefix}_bands").collect()]
    assert parts == ["batch=seed"]
    assert not D.bucketed_index_has_batch(spark, prefix, "e0")
    # (b) at most one file per bucket now, and strictly fewer than before
    files_after = len(table_files(f"{prefix}_bands"))
    assert files_after <= 4 and files_after < files_before
    assert len(table_files(f"{prefix}_shingles")) <= 4
    # (c) plan property: bucket-aware scans, no index-side Exchange
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lazy = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5", materialize=False
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
    assert scan_ids
    for ex in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for ref in re.findall(r"#(\d+)L?", ex):
            assert ref not in scan_ids, f"index side shuffled: {ex}"

    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_bucketed_index_restart_recovery(spark, tmp_path):
    """r11: bucket metadata lives only in the session catalog, so a
    driver restart (or in-memory catalog loss) would force a full
    re-seed without recovery. register_minhash_index_bucketed rebuilds
    the catalog entries from the on-storage manifest: screens resume
    with identical results, bucket-aware plans, a recovered epoch
    ledger, and appends/compaction keep working — no re-shingling."""
    prefix = "t_mhr"
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    wh = str(tmp_path / "wh")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    D.save_minhash_index_bucketed(
        landed, prefix, n_buckets=4, mode="md5", path=wh, batch="seed"
    )
    D.save_minhash_index_bucketed(
        spark.createDataFrame([(200, "fresh words one")], ["doc_id", "text"]),
        prefix, n_buckets=4, mode="md5", path=wh, append=True, batch="e0",
    )
    probe = spark.createDataFrame(
        [(9, BASE.replace("jumps", "leaps")), (10, "fresh words one")],
        ["doc_id", "text"],
    )

    def screen():
        res = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5"
        )
        got = sorted(tuple(r) for r in res.collect())
        res.unpersist()
        return got

    before = screen()
    assert {d for d, _n, _j in before} == {9, 10}

    # simulate the restart: catalog entries gone, data files still there
    # (the tables are external — DROP leaves their storage intact)
    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE {t}")
        assert not spark.catalog.tableExists(t)

    D.register_minhash_index_bucketed(spark, prefix, wh)

    # identical screen results, recovered epoch ledger
    assert screen() == before
    assert D.bucketed_index_has_batch(spark, prefix, "seed")
    assert D.bucketed_index_has_batch(spark, prefix, "e0")
    # the recovered tables are really BUCKETED (plan reads them
    # bucket-aware — a plain CREATE TABLE would lose the property)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lazy = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5", materialize=False
        )
        plan = lazy._sc._jvm.PythonSQLUtils.explainString(
            lazy._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("Bucketed: true") == 2, plan

    # the lifecycle continues post-recovery: append + compact both work
    D.save_minhash_index_bucketed(
        spark.createDataFrame([(201, "fresh words two")], ["doc_id", "text"]),
        prefix, n_buckets=4, mode="md5", path=wh, append=True, batch="e1",
    )
    D.compact_minhash_index_bucketed(spark, prefix, n_buckets=4, path=wh)
    assert screen() == before  # 201 shares no shingles with the probes

    # compaction must not leak the replaced directory (external DROP
    # keeps files; the operator deletes the old location explicitly)
    import os
    dirs = [d for d in os.listdir(wh) if d.startswith("bands")]
    assert len(dirs) == 1, dirs

    for t in (f"{prefix}_bands", f"{prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lsh_hot_band_cap_star_chains_boilerplate(spark):
    """r11: max_bucket caps the per-bucket quadratic on template-heavy
    corpora. Default semantics unchanged (graded oracles pin them); the
    capped mode (a) warns via HotBandWarning, (b) generates B-1 star
    pairs for a hot bucket instead of B(B-1)/2, (c) preserves cluster
    connectivity (same connected components as the full pairing), and
    (d) keeps every verified jaccard exact."""
    import warnings as W

    template = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    n_copies = 40
    rows = [(i, template) for i in range(n_copies)]
    rows += [
        (100, BASE),
        (101, BASE.replace("jumps", "leaps")),
        (102, "entirely unrelated content about query engines and planners"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(df, threshold=0.5, mode="md5").collect()
    }
    # the template clique is fully paired by default: C(40,2) pairs at
    # jaccard 1.0, plus the planted (100,101) pair
    clique = {(a, b) for a in range(n_copies) for b in range(n_copies) if a < b}
    assert clique <= set(full)
    assert all(full[p] == 1.0 for p in clique)
    assert (100, 101) in full

    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        capped_df = D.minhash_lsh_pairs(
            df, threshold=0.5, mode="md5", max_bucket=10
        )
        capped = {
            (r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped_df.collect()
        }
    assert any(w.category is D.HotBandWarning for w in caught), [
        str(w.message) for w in caught
    ]
    # star pairs only for the hot clique: every member chained to min id
    star = {(0, b) for b in range(1, n_copies)}
    assert {p for p in capped if p[0] < 100 or p[1] < 100} == star
    assert all(capped[p] == 1.0 for p in star)
    # the genuine (non-boilerplate) near-dup pair is untouched and exact
    assert capped[(100, 101)] == full[(100, 101)]

    # (c) connectivity: same connected components under both pair sets
    def components(pairs, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        return {frozenset(n for n in nodes if find(n) == find(r))
                for r in nodes}

    nodes = [r[0] for r in rows]
    assert components(set(full), nodes) == components(set(capped), nodes)

    # small corpora without hot buckets: capped == full, no warning
    small_df = spark.createDataFrame(rows[n_copies:], ["doc_id", "text"])
    with W.catch_warnings(record=True) as caught2:
        W.simplefilter("always")
        eq = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.minhash_lsh_pairs(
                small_df, threshold=0.5, mode="md5", max_bucket=10
            ).collect()
        }
    assert not any(w.category is D.HotBandWarning for w in caught2)
    assert eq == {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(small_df, threshold=0.5, mode="md5").collect()
    }


def test_dedup_exact_seed_preserves_verdicts_and_collapses_hot_bands(
    spark, tmp_path
):
    """r11: dedup_exact=True on the index seed is the PREVENTIVE hot-band
    fix the screen core's docstring prescribes (the cap above is the
    self-join mitigation; this removes the hot bands from the landed side
    entirely). Contract: (a) the flagged set and every best_jaccard are
    IDENTICAL to the undeduped seed — removing an exact copy never
    changes a verdict; (b) n_dups counts distinct landed CONTENTS, so
    the template match reports 1 instead of copy-count; (c) the landed
    band relation has no hot buckets afterwards (max bucket size 1 on
    this corpus vs >= copy-count before)."""
    template = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    n_copies = 40
    landed_rows = [(i, template) for i in range(n_copies)]
    landed_rows += [(100, BASE), (101, "unrelated landed content about engines")]
    landed = spark.createDataFrame(landed_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (500, template.replace("dolor", "color")),  # near-dup of template
            (501, BASE.replace("jumps", "leaps")),      # near-dup of doc 100
            (502, "fresh unseen words entirely novel"),  # no match
        ],
        ["doc_id", "text"],
    )

    # canonical-survivor unit contract: min id per distinct text
    kept = {
        r["text"]: r["doc_id"]
        for r in D.dedup_exact_for_index(landed).collect()
    }
    assert kept[template] == 0 and kept[BASE] == 100 and len(kept) == 3

    plain_prefix, dedup_prefix = "t_mh_seed_plain", "t_mh_seed_dedup"
    _seed_bucketed(spark, plain_prefix, landed, str(tmp_path / "idx_plain"))
    for t in (f"{dedup_prefix}_bands", f"{dedup_prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    D.save_minhash_index_bucketed(
        landed, dedup_prefix, n_buckets=4, path=str(tmp_path / "idx_dedup"),
        dedup_exact=True,
    )
    try:
        plain = _screen_bucketed(batch, plain_prefix)
        dedup = _screen_bucketed(batch, dedup_prefix)
        # (a) verdict + best_jaccard parity
        assert set(plain) == set(dedup) == {500, 501}
        assert all(plain[d][1] == dedup[d][1] for d in plain)
        # (b) copies vs contents
        assert plain[500][0] == n_copies and dedup[500][0] == 1
        assert plain[501] == dedup[501]

        # (c) hot bands gone: max band-bucket size in the landed relation
        from pyspark.sql import functions as F

        def max_bucket(prefix):
            return (
                spark.table(f"{prefix}_bands")
                .groupBy("band_id", "band_key")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )

        assert max_bucket(plain_prefix) >= n_copies
        assert max_bucket(dedup_prefix) == 1
    finally:
        _drop_bucketed(spark, plain_prefix)
        _drop_bucketed(spark, dedup_prefix)


def test_dedup_exact_seed_bucketed_layout(spark, tmp_path):
    """The bucketed index honours dedup_exact at the table level:
    canonical rows only in the shingle table, verdict parity with the
    direct operator over the exact-deduplicated corpus."""
    import uuid

    template = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )
    landed = spark.createDataFrame(
        [(i, template) for i in range(10)] + [(100, BASE)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(500, template.replace("dolor", "color"))], ["doc_id", "text"]
    )
    prefix = f"dedup_seed_bkt_{uuid.uuid4().hex[:8]}"
    D.save_minhash_index_bucketed(
        landed, prefix, n_buckets=4,
        path=str(tmp_path / "bkt"), dedup_exact=True,
    )
    try:
        ids = {r["id"] for r in spark.table(f"{prefix}_shingles").collect()}
        assert ids == {0, 100}  # one canonical copy per distinct text
        got = {
            r["doc_id"]: (r["n_dups"], r["best_jaccard"])
            for r in D.minhash_incremental_vs_bucketed_index(
                batch, prefix, threshold=0.4
            ).collect()
        }
        want = {
            r["doc_id"]: (r["n_dups"], r["best_jaccard"])
            for r in D.minhash_lsh_incremental(
                batch, D.dedup_exact_for_index(landed), threshold=0.4
            ).collect()
        }
        assert got == want == {500: (1, want[500][1])}
    finally:
        for t in (f"{prefix}_bands", f"{prefix}_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_repeat_calls_do_not_accumulate_persists(spark, sf_dir):
    """r15 leak-class sweep (VERDICT r14 #5 generalised): repeated calls
    of the registry-persisting operators strand at most ONE call's worth
    of cached relations in the JVM cacheManager."""
    from database_anonymiser_minimiser_spark import queries as Q
    from database_anonymiser_minimiser_spark.operators import dedup as D

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    base = cm.cachedData().size()
    docs = Q.load(spark, sf_dir, "documents")
    for _ in range(2):
        D.minhash_lsh_pairs(docs).collect()
        assert cm.cachedData().size() - base <= 1
    spark.catalog.clearCache()
    base = cm.cachedData().size()
    for _ in range(2):
        Q.QUERIES["q20_excess_supply"](spark, sf_dir).collect()
        assert cm.cachedData().size() - base <= 1
    for _ in range(2):
        Q.QUERIES["events_interpolate_hourly"](spark, sf_dir).collect()
        Q.QUERIES["events_locf_hourly"](spark, sf_dir).collect()
        # the resample registry keeps at most one member's persist
        assert cm.cachedData().size() - base <= 2  # q20's + one resample
    spark.catalog.clearCache()
