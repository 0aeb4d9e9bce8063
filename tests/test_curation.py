"""Curation pipeline as a product surface (operators/curation.py + the
CLI ``curate`` verb): quality gate, exact near-dup collapse, per-language
token budget, curated parquet output."""

import pytest
from pyspark.sql import functions as F

from database_anonymiser_minimiser_spark.operators import curation as C

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs to the river "
    "for a drink of water in the morning sun that rises over the hills"
)
BETTER = GOOD + " while the birds sing in the trees and the wind is soft"
JUNK = "zzz qqq xxx"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, GOOD, "en"),
        (1, GOOD, "en"),          # exact duplicate of 0 -> collapsed
        (2, BETTER, "en"),        # higher quality than GOOD
        (3, JUNK, "en"),          # fails the quality gate
        (4, GOOD + " und der hund", "de"),  # distinct text, own budget
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_curate_gate_and_dedup(spark, corpus):
    got = {
        r["doc_id"]: (r["lang"], r["n_tokens"])
        for r in C.curate_documents(corpus, min_quality=0.5).collect()
    }
    # junk gone, duplicate collapsed to min id, both languages kept
    assert set(got) == {0, 2, 4}


def test_curate_budget_greedy_by_quality(spark, corpus):
    # en survivors: doc 2 (higher q) then doc 0; budget fits only doc 2
    enriched = {
        r["doc_id"]: r
        for r in C.enrich_documents(corpus).collect()
    }
    assert enriched[2]["q"] > enriched[0]["q"]
    budget = enriched[2]["n_tokens"] + 5  # room for 2, not for 2+0
    got = {r["doc_id"] for r in C.curate_documents(
        corpus, min_quality=0.5, budget_tokens=budget
    ).collect()}
    assert 2 in got and 0 not in got
    assert 4 in got  # de has its own budget
    # python reference: greedy (q desc, id) cumulative <= budget per lang
    survivors = C.curate_documents(corpus, min_quality=0.5).collect()
    by_lang: dict = {}
    for r in sorted(survivors, key=lambda r: (r["lang"], -r["q"], r["doc_id"])):
        acc = by_lang.setdefault(r["lang"], [0, set()])
        if acc[0] + r["n_tokens"] <= budget:
            acc[0] += r["n_tokens"]
            acc[1].add(r["doc_id"])
    expect = set().union(*(v[1] for v in by_lang.values()))
    assert got == expect


def test_curate_cli_e2e(tmp_path, capsys):
    from database_anonymiser_minimiser_spark.cli import main

    out_dir = str(tmp_path / "curated")
    rc = main(
        [
            "curate",
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", out_dir,
            "--min-quality", "0.5",
            "--budget-tokens", "5000",
        ]
    )
    assert rc == 0
    lines = [
        l for l in capsys.readouterr().out.strip().splitlines()
        if l and not l.startswith("lang\t")
    ]
    assert lines, "expected per-language stats rows"
    from database_anonymiser_minimiser_spark.session import get_spark

    spark = get_spark()
    written = spark.read.parquet(out_dir)
    assert set(written.columns) == {"doc_id", "lang", "text", "n_tokens", "q"}
    # the printed report matches the written corpus, and every language
    # respects the token budget
    totals = {
        r["lang"]: (r["n"], r["t"])
        for r in written.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t"))
        .collect()
    }
    for line in lines:
        lang, n_docs, total_tokens, _qmin, _qmax = line.split("\t")
        assert totals[lang] == (int(n_docs), int(total_tokens))
        assert int(total_tokens) <= 5000


def test_curate_near_dup_collapse(spark):
    """near_dup_threshold collapses NEAR duplicates (one-word edits the
    exact fingerprint misses) to the lowest cluster id, transitively."""
    a = GOOD
    b = GOOD.replace("quick", "swift")      # near-dup of a
    c = b.replace("lazy", "sleepy")         # near-dup of b (chain -> a)
    rows = [
        (10, a, "en"),
        (11, b, "en"),
        (12, c, "en"),
        (13, BETTER + " entirely different tail words here now", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    exact = {r["doc_id"] for r in C.curate_documents(df, 0.5).collect()}
    assert exact == {10, 11, 12, 13}  # fingerprints all distinct
    near = {
        r["doc_id"]
        for r in C.curate_documents(df, 0.5, near_dup_threshold=0.7).collect()
    }
    assert near == {10, 13}  # chain 10~11~12 collapsed to its min id


# ---------------------------------------------------------------------------
# Budget fuzz: the greedy per-language token budget vs a pure-Python
# reference on random corpora (duplicates, quality ties, multi-language)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# words chosen so quality varies: stopword-rich docs score high, junk low
_VOCAB = ["the", "and", "of", "to", "in", "is", "river", "sun", "zzz", "qq"]

DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),  # lang index
        st.lists(
            st.integers(min_value=0, max_value=len(_VOCAB) - 1),
            min_size=4,
            max_size=30,
        ),
    ),
    min_size=1,
    max_size=25,
)


@given(DOCS, st.integers(min_value=10, max_value=200))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_curate_budget_fuzz(spark, docs, budget):
    """Both admission rules against their pure-Python references. The
    first run of this fuzz CAUGHT the semantics split: the window
    implements a quality-ordered PREFIX (stop at the first overflow)
    while the original reference skipped-and-continued — a planted
    corpus where they admit different sets (1 vs 2 docs). Both rules
    are now explicit engine modes, each fuzzed against its own
    reference."""
    rows = [
        (i, " ".join(_VOCAB[w] for w in words), ["en", "de"][lang])
        for i, (lang, words) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    # references over the engine's OWN enriched survivors (the fuzz
    # targets the budget stage, not the quality formula)
    survivors = C.curate_documents(df, min_quality=0.0).collect()
    expect_greedy, expect_prefix = set(), set()
    by_lang: dict = {}
    for r in sorted(survivors, key=lambda r: (r["lang"], -r["q"], r["doc_id"])):
        acc = by_lang.setdefault(r["lang"], [0, True])
        fits = acc[0] + r["n_tokens"] <= budget
        if fits:
            acc[0] += r["n_tokens"]
            expect_greedy.add(r["doc_id"])
        if acc[1] and fits:
            expect_prefix.add(r["doc_id"])
        elif not fits:
            # prefix admission is over for this language: before the
            # first overflow the admitted total equals the full
            # cumulative sum, and after it every later cumulative sum
            # overflows too
            acc[1] = False
    got_prefix = {
        r["doc_id"]
        for r in C.curate_documents(
            df, min_quality=0.0, budget_tokens=budget, budget_mode="prefix"
        ).collect()
    }
    got_greedy = {
        r["doc_id"]
        for r in C.curate_documents(
            df, min_quality=0.0, budget_tokens=budget, budget_mode="greedy"
        ).collect()
    }
    assert got_greedy == expect_greedy
    assert got_prefix == expect_prefix


def test_curate_incremental_vs_landed(spark, tmp_path):
    """landed= makes curation incremental: a delta document whose
    normalised text already landed is excluded; genuinely new documents
    pass. Whitespace/case differences must still match (normalised
    fingerprint, not raw equality)."""
    landed = spark.createDataFrame([(0, GOOD, "en")], ["doc_id", "text", "lang"])
    delta = spark.createDataFrame(
        [
            (100, "  " + GOOD.upper() + " ", "en"),  # normalises to landed
            (101, BETTER, "en"),                       # new
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        r["doc_id"]
        for r in C.curate_documents(delta, 0.5, landed=landed).collect()
    }
    assert got == {101}


def test_curate_near_dup_keep_quality(spark):
    """near_dup_keep='quality': the cluster's highest-quality member
    survives instead of the lowest id; 'min-id' keeps the old
    deterministic policy; an unknown policy fails loudly."""
    # GOOD is a shingle-subset of BETTER (jaccard ~0.6) and BETTER
    # scores higher (asserted again here, pinned elsewhere in the suite)
    rows = [(10, GOOD, "en"), (11, BETTER, "en")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    enr = {r["doc_id"]: r["q"] for r in C.enrich_documents(df).collect()}
    assert enr[11] > enr[10]
    by_min = {
        r["doc_id"]
        for r in C.curate_documents(
            df, 0.0, near_dup_threshold=0.5
        ).collect()
    }
    assert by_min == {10}
    by_q = {
        r["doc_id"]
        for r in C.curate_documents(
            df, 0.0, near_dup_threshold=0.5, near_dup_keep="quality"
        ).collect()
    }
    assert by_q == {11}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="near_dup_keep"):
        C.curate_documents(
            df, 0.0, near_dup_threshold=0.5, near_dup_keep="nope"
        ).collect()


def test_curate_rejects_bad_arguments_before_any_job(spark):
    """A bad argument fails before the eager near-dup jobs launch."""
    df = spark.createDataFrame(
        [(10, GOOD, "en"), (11, BETTER, "en")], ["doc_id", "text", "lang"]
    )
    sc = spark.sparkContext
    group = "curate_bad_keep"
    sc.setJobGroup(group, "curate with a bad near_dup_keep")
    try:
        with pytest.raises(ValueError, match="near_dup_keep"):
            C.curate_documents(df, 0.0, near_dup_threshold=0.5, near_dup_keep="nope")
        with pytest.raises(ValueError, match="near_dup_threshold"):
            C.curate_documents(df, 0.0, near_dup_threshold=1.5)
        with pytest.raises(ValueError, match="budget_mode"):
            C.curate_documents(
                df, 0.0, budget_tokens=10, budget_mode="nope", near_dup_threshold=0.5
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_curate_incremental_near_dup_vs_landed(spark):
    """r12: --landed + --near-dup-threshold screens the delta against
    the LANDED corpus, not just within the delta — a one-word edit of
    already-landed content passes the exact-fingerprint anti join but
    must still be dropped; genuinely new content survives and the
    within-delta collapse still applies to it."""
    landed = spark.createDataFrame([(0, GOOD, "en")], ["doc_id", "text", "lang"])
    fresh = "entirely novel prose about catalyst planners rewriting logical trees into physical operator pipelines"
    delta = spark.createDataFrame(
        [
            (100, GOOD.replace("quick", "swift"), "en"),  # near-dup of landed
            (101, fresh, "en"),                            # new
            (102, fresh.replace("novel", "fresh"), "en"),  # near-dup of 101
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        r["doc_id"]
        for r in C.curate_documents(
            delta, 0.0, near_dup_threshold=0.6, landed=landed
        ).collect()
    }
    assert got == {101}  # 100 screened vs landed; 102 collapsed into 101
    # without the landed side, 100 survives (nothing to screen against)
    solo = {
        r["doc_id"]
        for r in C.curate_documents(
            delta, 0.0, near_dup_threshold=0.6
        ).collect()
    }
    assert solo == {100, 101}


def test_curate_cli_incremental(tmp_path, capsys):
    from database_anonymiser_minimiser_spark.cli import main
    from database_anonymiser_minimiser_spark.session import get_spark

    spark = get_spark()
    first_out = str(tmp_path / "day1")
    rc = main([
        "curate",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", first_out, "--min-quality", "0.5",
    ])
    assert rc == 0
    capsys.readouterr()
    # day 2 = the same corpus again: everything already landed
    second_out = str(tmp_path / "day2")
    rc = main([
        "curate",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", second_out, "--min-quality", "0.5",
        "--landed", first_out,
    ])
    assert rc == 0
    assert spark.read.parquet(second_out).count() == 0


def test_curate_strip_markup_prestep(spark):
    """--strip-markup: quality, fingerprint dedup, and the written text
    all see EXTRACTED text — two pages with identical content but
    different tag soup must collapse to one survivor with clean text."""
    page_a = f'<html><script>var x=1;</script><p>{GOOD}</p></html>'
    page_b = f'<div class="other"><b>{GOOD}</b></div>'
    df = spark.createDataFrame(
        [(0, page_a, "en"), (1, page_b, "en")], ["doc_id", "text", "lang"]
    )
    got = C.curate_documents(df, 0.5, strip_markup=True).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 0
    assert got[0]["text"] == GOOD  # extracted, not tag soup
    # without stripping, the raw pages do NOT collapse (different markup)
    raw = C.curate_documents(df, 0.0).collect()
    assert len(raw) == 2


def test_curate_hot_band_cap_e2e(spark, tmp_path, capsys):
    """r12 (r11 verdict item 3): the hot-band cap is reachable through
    curate's near-dup collapse. A planted boilerplate corpus — 40
    NEAR-identical templated pages (distinct fingerprints, so exact
    collapse upstream cannot remove them) — must (a) collapse to the
    same survivor set under the cap as under full pairing (star chains
    keep cluster connectivity, the only property the collapse
    consumes), (b) surface HotBandWarning, and (c) run the same way
    through the CLI flag."""
    import warnings as W

    from database_anonymiser_minimiser_spark.operators.dedup import (
        HotBandWarning,
    )

    # vocabulary disjoint from GOOD so the clique cannot absorb doc 100
    template = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
        "ad minim veniam quis nostrud exercitation ullamco laboris nisi "
        "aliquip ex ea commodo consequat duis aute irure reprehenderit "
        "voluptate velit esse cillum fugiat nulla pariatur excepteur "
        "sint occaecat cupidatat non proident sunt culpa qui officia "
        "deserunt mollit anim id est laborum"
    )  # ~65 words: a one-word tail is a ~2% edit, jaccard ~0.95
    rows = [(i, f"{template} suffix{i}", "en") for i in range(40)]
    rows += [
        (100, GOOD, "en"),
        (101, GOOD.replace("quick", "swift"), "en"),  # genuine near-dup
        (102, "totally different content about query engines here", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    full = {
        r["doc_id"]
        for r in C.curate_documents(
            df, min_quality=0.0, near_dup_threshold=0.5
        ).collect()
    }
    assert full == {0, 100, 102}  # template clique -> 0; 101 -> 100

    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        capped = {
            r["doc_id"]
            for r in C.curate_documents(
                df,
                min_quality=0.0,
                near_dup_threshold=0.5,
                near_dup_max_bucket=10,
            ).collect()
        }
    assert capped == full  # same clusters flagged, linear pairing
    assert any(w.category is HotBandWarning for w in caught), [
        str(w.message) for w in caught
    ]

    # CLI: the flag reaches the operator end-to-end
    from database_anonymiser_minimiser_spark.cli import main

    docs = str(tmp_path / "boiler_docs")
    out = str(tmp_path / "boiler_out")
    df.write.parquet(docs)
    rc = main([
        "curate", "--docs", docs, "--out", out, "--min-quality", "0",
        "--near-dup-threshold", "0.5", "--near-dup-max-bucket", "10",
    ])
    assert rc == 0
    capsys.readouterr()
    written = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert written == full


def test_curate_scrub_pii_prestep(spark):
    """--scrub-pii: the written text holds typed placeholders, never
    raw addresses, and two pages differing ONLY in embedded PII
    collapse as duplicates (scrubbed text is the fingerprinted text).
    Composes with --strip-markup (markup first, then scrubbing)."""
    page_a = f"{GOOD} contact alice@example.com or +4915551234567"
    page_b = f"{GOOD} contact bob@other.org or +12025550000"
    df = spark.createDataFrame(
        [(0, page_a, "en"), (1, page_b, "en")], ["doc_id", "text", "lang"]
    )
    got = C.curate_documents(df, 0.0, scrub_pii=True).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 0
    assert "<EMAIL>" in got[0]["text"] and "<PHONE>" in got[0]["text"]
    assert "alice@example.com" not in got[0]["text"]
    # without scrubbing the two pages are distinct survivors
    raw = C.curate_documents(df, 0.0).collect()
    assert len(raw) == 2
    # composes with markup stripping: tags removed, then PII scrubbed
    html = f"<p>{GOOD}</p><script>x()</script> mail: carol@site.net"
    df2 = spark.createDataFrame([(9, html, "en")], ["doc_id", "text", "lang"])
    out = C.curate_documents(
        df2, 0.0, strip_markup=True, scrub_pii=True
    ).collect()[0]
    assert out["text"].startswith(GOOD)
    assert "<EMAIL>" in out["text"] and "carol" not in out["text"]
    assert "<p>" not in out["text"] and "x()" not in out["text"]


def test_curate_refuses_self_overwrite(spark, tmp_path):
    """--out == --landed (or --docs) would destroy the corpus being
    read mid-scan; the CLI entry fails loudly up front."""
    import pytest

    from database_anonymiser_minimiser_spark.operators.curation import (
        run_curation,
    )

    d = str(tmp_path / "corpus")
    spark.createDataFrame([(0, GOOD, "en")], ["doc_id", "text", "lang"]) \
        .write.parquet(d)
    with pytest.raises(ValueError, match="--out must differ from --landed"):
        run_curation(spark, d, d + "/", landed_path=d)
    with pytest.raises(ValueError, match="--out must differ from --docs"):
        run_curation(spark, d, d)


def test_curate_repeated_doc_id_keeps_one_row_per_fingerprint(spark):
    """The exact collapse keeps ONE row per normalised fingerprint, even
    when a doc_id repeats across fingerprint groups: a keep-min-id semi
    join back by id would also keep the other group's row carrying that
    id, leaving two survivors with one fingerprint. A row without an id
    never survives."""
    df = spark.createDataFrame(
        [
            (1, "hello world foo bar", "en"),
            (1, "other text here now", "en"),
            (0, "Other  text here now", "en"),
            (None, "hello world foo bar", "en"),  # no id: never survives
        ],
        "doc_id long, text string, lang string",
    )
    got = sorted(
        (r["doc_id"], r["text"])
        for r in C.curate_documents(df, min_quality=0.0).collect()
    )
    assert got == [(0, "Other  text here now"), (1, "hello world foo bar")]


# near-dup corpus for the run_curation tests: an exact copy (1), two
# near-copies of doc 0 (2 and the higher-quality 3), a near-copy across
# languages (5 of 4), junk (6) and a lone document (7)
_FRESH = (
    "entirely novel prose about catalyst planners rewriting logical trees "
    "into physical operator pipelines"
)
_NEARDUP_ROWS = [
    (0, GOOD, "en"),
    (1, GOOD, "en"),
    (2, GOOD.replace("quick", "swift"), "en"),
    (3, BETTER, "en"),
    (4, _FRESH, "en"),
    (5, _FRESH.replace("novel", "fresh"), "de"),
    (6, JUNK, "de"),
    (7, "der hund und die katze im garten am morgen", "de"),
]

# jobs one warm run_curation launched on _NEARDUP_ROWS (budget 40 tokens,
# threshold 0.5) when the collapse was a groupBy plus a semi join, the
# singletons were joined back into the clusters and the stats re-read the
# written files: 22 under min-id, 25 under quality
_JOBS_BEFORE = {"min-id": 22, "quality": 25}


def _neardup_docs(spark, tmp_path) -> str:
    docs = str(tmp_path / "docs")
    spark.createDataFrame(_NEARDUP_ROWS, ["doc_id", "text", "lang"]).write.parquet(docs)
    return docs


@pytest.mark.parametrize("keep", ["min-id", "quality"])
def test_run_curation_stats_without_read_back(spark, tmp_path, keep):
    """The stats run_curation returns are the rollup of the files it
    wrote, and the run launches fewer jobs than the read-back design."""
    docs = _neardup_docs(spark, tmp_path)
    out = str(tmp_path / "out")
    kw = dict(
        min_quality=0.0, budget_tokens=40, near_dup_threshold=0.5, near_dup_keep=keep
    )
    C.run_curation(spark, docs, str(tmp_path / "warm"), **kw)  # plan caches warm
    sc = spark.sparkContext
    group = f"run_curation_{keep}"
    sc.setJobGroup(group, f"run_curation near_dup_keep={keep}")
    try:
        stats = C.run_curation(spark, docs, out, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    written = spark.read.parquet(out)
    assert stats == [
        tuple(r) for r in C.curation_stats(written).orderBy("lang").collect()
    ]
    assert sorted(r["doc_id"] for r in written.collect()) == (
        [0, 6, 7] if keep == "min-id" else [3, 6, 7]
    )
    assert jobs < _JOBS_BEFORE[keep], jobs


def test_run_curation_releases_its_caches(spark, tmp_path):
    """run_curation returns rows, not a DataFrame: no cache of the run
    outlives it, the near-dup stage's included."""
    docs = _neardup_docs(spark, tmp_path)
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    C.run_curation(
        spark, docs, str(tmp_path / "out"), min_quality=0.0, near_dup_threshold=0.5
    )
    assert cm.cachedData().size() == 0
    C.run_curation(spark, docs, str(tmp_path / "exact"), min_quality=0.0)
    assert cm.cachedData().size() == 0


def test_curate_documents_releases_previous_call_cache(spark):
    """curate_documents persists its exact-collapse survivors when the
    near-dup stage runs; each call releases the previous call's cache,
    so repeated calls in one session hold one call's worth."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    for offset in (0, 100, 200):
        # distinct inputs: no call's plan can reuse another call's cache
        rows = [(offset + i, text, lang) for i, text, lang in _NEARDUP_ROWS]
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        C.curate_documents(df, 0.0, near_dup_threshold=0.5).collect()
        # the collapse survivors and the MinHash shingles of this call
        assert cm.cachedData().size() <= 2
    spark.catalog.clearCache()


def test_run_curation_rejects_bad_arguments_before_any_thread_or_job(
    spark, tmp_path, monkeypatch
):
    started = []
    monkeypatch.setattr(C, "warm_case_mapping", started.append)
    sc = spark.sparkContext
    group = "run_curation_bad_arguments"
    sc.setJobGroup(group, "run_curation with bad arguments")
    docs, out = str(tmp_path / "docs"), str(tmp_path / "out")
    try:
        with pytest.raises(ValueError, match="near_dup_keep"):
            C.run_curation(
                spark, docs, out, near_dup_threshold=0.5, near_dup_keep="nope"
            )
        with pytest.raises(ValueError, match="near_dup_threshold"):
            C.run_curation(spark, docs, out, near_dup_threshold=1.5)
        with pytest.raises(ValueError, match="budget_mode"):
            C.run_curation(spark, docs, out, budget_tokens=10, budget_mode="nope")
        with pytest.raises(ValueError, match="--out must differ from --docs"):
            C.run_curation(spark, docs, docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not started
    assert not sc.statusTracker().getJobIdsForGroup(group)
