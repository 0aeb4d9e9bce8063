"""Deduplication operators for training-data pipelines.

Four families, all Spark-first (arrays + built-in hash functions inside
whole-stage codegen; shuffles only where semantically required):

- exact: hash-groupBy on the text (or its fingerprint) — one shuffle,
- MinHash + LSH: shingle -> k-permutation min-hash signature -> banded
  bucket join -> exact-Jaccard verification of candidates. The signature
  computation is embarrassingly parallel; the only shuffle is the
  band-bucket self-join, whose fan-out is bounded by bucket sizes (the
  standard LSH trade-off),
- n-gram Jaccard via prefix-filtered inverted index (PPJoin family):
  docs index only their rarest n - ceil(t*n) + 1 shingles under a global
  (df, shingle) order; prefix-sharing size-compatible pairs are verified
  with exact Jaccard on full sets — complete (no recall knob) and the
  index stays sparse as the corpus grows,
- SimHash: 63-bit frequency-weighted bit-majority fingerprint; candidate
  pairs from 21-bit band buckets, ranked by Hamming distance.

Hashes are md5-derived so every operator has a bit-identical DuckDB
oracle (``duck_*_sql``); a production ``mode="xxhash"`` swaps in
xxhash64 (numeric, no hex strings — measurably faster, same plan shape)
at the cost of oracle-checkability.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_registry, scoped_conf
from .compaction import _hfs_delete

SHINGLE_K = 3
NUM_HASHES = 16
# banding theory: candidate threshold ~ (1/b)^(1/r); b=8, r=2 -> ~0.35,
# the right operating point for verifying pairs at jaccard >= 0.5
# (b=4, r=4 would miss ~70% of 0.5-jaccard pairs at candidate stage)
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, s: array<string>[, *extra_cols]) — distinct word k-gram
    shingles; documents with fewer than k tokens yield no shingles and
    are dropped (they cannot near-duplicate anything under this
    measure). ``extra_cols`` (r14) carries already-computed columns
    through unchanged, so a caller that needs a side flag alongside the
    shingles (incremental new-vs-landed split) can shingle the corpus
    ONCE instead of once per side.

    Repartitions by id first: shingling + k-permutation hashing is
    CPU-bound, and a small input file otherwise arrives as ONE split so
    the whole signature computation would run on one core (observed 20x
    slowdown at sf0.1). The hash-repartition also pre-aligns the id-keyed
    verification joins downstream. At 100 TB the input already has
    thousands of splits and this repartition is a cheap rebalance.
    """
    extra_cols = extra_cols or []
    parts = ", ".join(f"element_at(ts, i + {j})" for j in range(k))
    sh = (
        f"array_distinct(transform(sequence(1, size(ts) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    )
    n = df.sparkSession.sparkContext.defaultParallelism
    # Filter on the TOKEN count, before building shingles: filtering on
    # size(s) afterwards makes Catalyst substitute the whole shingle
    # expression into the filter predicate — the array is then computed
    # twice per row outside codegen (measured 19x slower). A >= k token
    # count is equivalent (k tokens always yield >= 1 shingle).
    return (
        df.repartition(n, F.col(id_col))
        .select(
            F.col(id_col).alias("id"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("ts"),
            *extra_cols,
        )
        .filter(F.size("ts") >= k)
        .select("id", F.expr(sh).alias("s"), *extra_cols)
    )


def _duck_shingles_cte(table: str, k: int = SHINGLE_K) -> str:
    parts = " || ' ' || ".join(f"ts[i + {j}]" for j in range(k))
    return f"""
    tok AS (SELECT doc_id AS id,
        regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM {table}
        ),
    tokf AS (SELECT * FROM tok WHERE len(ts) >= {k}),
    shf AS (SELECT id,
        list_distinct(list_transform(generate_series(1, len(ts) - {k - 1}),
            i -> {parts})) AS s FROM tokf)
    """


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep min-id per duplicate group: deterministic, unlike
    dropDuplicates (which keeps an arbitrary row per partition order)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).cast("long").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


def exact_dedup_keep_best(
    df: DataFrame,
    key_cols: list[str],
    score_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor-selection policy variant: per duplicate group keep the
    highest-``score_col`` copy (ties -> lowest id) instead of min-id —
    what production pipelines actually want when duplicates differ in
    extraction quality (same text, different crawls/cleanups).

    Same one-shuffle hash-aggregate shape as ``exact_dedup``:
    max_by with an engine-deterministic (score, -id) struct key, count
    alongside — no window, no second pass over the group."""
    return df.groupBy(*key_cols).agg(
        F.max_by(
            id_col, F.struct(F.col(score_col) if isinstance(score_col, str)
                             else score_col, (-F.col(id_col)).alias("negid"))
        )
        .cast("long")
        .alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Universal-hash family h_i(x) = (a_i * base(x) + b_i) mod P over one base
# hash per shingle: hashing each shingle ONCE then applying k cheap linear
# maps is ~k times less hash work than k salted hashes — the standard
# minhash trick. P < 2^31 keeps a_i * base + b_i inside int64 exactly
# (identical in Spark and DuckDB; no overflow wrap to disagree on).
_MINHASH_P = 2147483647  # 2^31 - 1 (prime)
_BASE_MOD = 1000000007


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"minhash-perm-{i}".encode()).hexdigest()
        a = int(h[:8], 16) % (_MINHASH_P - 1) + 1  # a != 0
        b = int(h[8:16], 16) % _MINHASH_P
        out.append((a, b))
    return out


def _resolve_mode(mode: str | None) -> str:
    """Map ``None`` to the engine-wide key_mode (settings.py): hashed ->
    xxhash64, oracle -> md5-derived. Oracle-graded queries pin
    ``mode="md5"`` explicitly — the DuckDB oracle replicates md5 banding
    bit-for-bit, and the candidate pair set is hash-dependent at the LSH
    margin by design."""
    if mode is None:
        from .. import settings

        return settings.minhash_hash_mode()
    return mode


def minhash_signature(
    shingled: DataFrame, num_hashes: int = NUM_HASHES, mode: str | None = None
) -> DataFrame:
    """(id, s, sig: array<bigint>). One base hash per shingle (md5-derived
    for oracle mode, xxhash64 for the production fast path), then
    ``num_hashes`` linear permutations, min each — computed as a real
    projection step so the expensive base pass is evaluated once, not
    duplicated into every permutation's expression tree."""
    mode = _resolve_mode(mode)
    if mode == "md5":
        base = (
            "transform(s, x -> CAST(substr(translate(md5(x), 'abcdef', '012345'), "
            f"1, 15) AS BIGINT) % {_BASE_MOD})"
        )
    else:
        base = f"transform(s, x -> abs(xxhash64(x)) % {_BASE_MOD})"
    with_base = shingled.select("id", "s", F.expr(base).alias("hb"))
    mins = ", ".join(
        f"array_min(transform(hb, h -> ({a} * h + {b}) % {_MINHASH_P}))"
        for a, b in _perm_constants(num_hashes)
    )
    return with_base.select("id", "s", F.expr(f"array({mins})").alias("sig"))


def banded_signature(
    sig_df: DataFrame,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    mode: str | None = None,
) -> DataFrame:
    """(id, band_id, band_key): hash each contiguous ``rows``-slice of
    the signature — docs agreeing on any band collide. Shared by the
    self-join (within-corpus pairs) and the incremental new-vs-landed
    join. Oracle mode keys bands with md5 hex (32-byte strings, what
    DuckDB replicates); hashed mode keys them with xxhash64 — the band
    bucket join then shuffles 8-byte longs (equal slices still collide;
    a spurious 64-bit collision only ADDS a candidate, which exact
    verification discards)."""
    mode = _resolve_mode(mode)
    key_fn = "md5" if mode == "md5" else "xxhash64"
    band_structs = ", ".join(
        f"struct({b} AS band_id, {key_fn}(concat_ws('|', transform(slice(sig, {b * rows + 1}, {rows}), "
        f"x -> CAST(x AS STRING)))) AS band_key)"
        for b in range(bands)
    )
    return sig_df.select("id", F.expr(f"inline(array({band_structs}))"))


class HotBandWarning(UserWarning):
    """lsh_candidate_pairs found band buckets larger than ``max_bucket``
    and star-chained them: boilerplate/template corpora put thousands of
    documents in ONE band bucket, and the full within-bucket pairing is
    Theta(B^2) per hot bucket — the per-key-quadratic class that killed
    the r10 stream-stream interval join, inside LSH itself (10k docs
    sharing a template band = ~50M candidate pairs PER BAND). Hot
    buckets keep cluster CONNECTIVITY (every member pairs with the
    bucket's minimum id — one component, B-1 pairs) but not the full
    pairwise relation; members of a hot band are overwhelmingly exact or
    near-exact template duplicates, so run exact_dedup first if you need
    their pairwise closure."""


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    mode: str | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b) candidates sharing at least one signature band.

    The self-join shuffles on (band_id, band_key) — bucket sizes, not
    n^2, bound the work. That bound is the vulnerability on template-
    heavy corpora: ONE hot bucket of size B contributes B(B-1)/2 pairs.
    ``max_bucket`` (opt-in — the graded oracle queries pin the exact
    full-pairing semantics) caps it: buckets over the cap are
    star-chained (every member to the bucket's min id — same connected
    component, B-1 pairs, linear) and :class:`HotBandWarning` fires so
    the degraded regime is observable, mirroring the n-gram operator's
    ``NgramFallbackWarning`` contract."""
    banded = banded_signature(sig_df, bands, rows, mode=mode)
    if max_bucket is None:
        a, b = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    from pyspark.storagelevel import StorageLevel

    # one partial-agg pass sizes every bucket; the relation is
    # bucket-count-sized (tiny next to the corpus) and feeds both branches
    sized = banded.join(
        banded.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("_bn"), F.min("id").alias("_bmin")
        ),
        ["band_id", "band_key"],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_hot = (
            sized.filter(F.col("_bn") > max_bucket)
            .select("band_id", "band_key")
            .distinct()
            .count()
        )
        if n_hot:
            import warnings

            warnings.warn(
                f"{n_hot} band bucket(s) exceed max_bucket={max_bucket}; "
                "star-chaining them (cluster connectivity kept, full "
                "pairwise relation reduced — see HotBandWarning)",
                HotBandWarning,
                stacklevel=2,
            )
        small = sized.filter(F.col("_bn") <= max_bucket)
        a, b = small.alias("a"), small.alias("b")
        full = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        star = (
            sized.filter(
                (F.col("_bn") > max_bucket) & (F.col("id") != F.col("_bmin"))
            )
            .select(F.col("_bmin").alias("id_a"), F.col("id").alias("id_b"))
        )
        out = full.unionByName(star).distinct()
        # materialise before releasing the sized relation both branches
        # read
        out = release_registry("dedup.lsh_candidate_pairs")(out)
        out.count()
        return out
    finally:
        sized.unpersist()


def verify_jaccard(
    pairs: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on the full shingle sets of each candidate pair."""
    return verify_jaccard_sided(pairs, shingled, shingled, threshold)


def verify_jaccard_sided(
    pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard with each pair side resolved against ITS OWN
    shingle relation (``id_a`` against ``sh_a``, ``id_b`` against
    ``sh_b``). This is the correct shape for asymmetric joins
    (new-batch vs landed-corpus): if an ingest batch reuses a doc_id
    already present in the landed side (a re-crawl of the same key), a
    unioned relation would match BOTH rows per side and duplicate the
    candidate pair, inflating n_dups/best_jaccard — sided resolution
    compares exactly new-content against landed-content."""
    sa = sh_a.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    sb = sh_b.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    mode: str | None = None,
    persist: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH -> verify.

    The shingle relation feeds FOUR plan subtrees (both sides of the band
    self-join via the signature, both sides of the verification join);
    ``persist`` materialises it once (MEMORY_AND_DISK — spills, never
    OOMs) instead of re-tokenising the corpus four times. At 100 TB the
    persisted relation is the distinct-shingle arrays, same order of
    magnitude as the text itself — disk-backed persist is the right
    trade; pass False to keep the plan fully lazy.

    ``max_bucket`` caps hot band buckets (template-heavy corpora) via
    star-chaining — see :func:`lsh_candidate_pairs` /
    :class:`HotBandWarning`. Verified jaccards stay exact either way;
    only which candidate pairs are generated changes.
    """
    shingled = shingles(df, text_col, id_col)
    if persist:
        shingled = release_registry("dedup.minhash_lsh_pairs")(shingled)
    mode = _resolve_mode(mode)
    sig = minhash_signature(shingled, mode=mode)
    cands = lsh_candidate_pairs(sig, mode=mode, max_bucket=max_bucket)
    return verify_jaccard(cands, shingled, threshold)


def duck_minhash_lsh_sql(
    table: str = "documents",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
) -> str:
    mins = ", ".join(
        f"list_min(list_transform(hb, h -> ({a} * h + {b}) % {_MINHASH_P}))"
        for a, b in _perm_constants(num_hashes)
    )
    band_rows = ", ".join(
        f"({b}, md5(array_to_string(list_transform("
        f"sig[{b * rows + 1}:{b * rows + rows}], x -> CAST(x AS VARCHAR)), '|')))"
        for b in range(bands)
    )
    return f"""
    WITH {_duck_shingles_cte(table)},
    based AS (SELECT id, s, list_transform(s, x ->
        CAST(substr(translate(md5(x), 'abcdef', '012345'), 1, 15) AS BIGINT)
          % {_BASE_MOD}) AS hb FROM shf),
    sig AS (SELECT id, s, [{mins}] AS sig FROM based),
    banded AS (SELECT id, b.* FROM sig,
        LATERAL (SELECT * FROM (VALUES {band_rows}) v(band_id, band_key)) b),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.id < b.id),
    ver AS (SELECT id_a AS doc_a, id_b AS doc_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        FROM cand JOIN shf sa ON cand.id_a = sa.id JOIN shf sb ON cand.id_b = sb.id)
    SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {threshold}
    """


def minhash_lsh_incremental(
    new_df: DataFrame,
    landed_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    mode: str | None = None,
    persist: bool = True,
    pre_shingled: bool = False,
) -> DataFrame:
    """(doc_id, n_dups, best_jaccard) for every NEW document that
    near-duplicates something already LANDED — the near-dup counterpart
    of the exact-fingerprint incremental ingest (daily-ingest shape:
    dedup the delta against the 100 TB corpus WITHOUT re-deduping the
    corpus against itself).

    Scale shape: both sides shingle/sign map-side; the candidate join is
    new-bands x landed-bands on (band_id, band_key) — the new side is a
    day's batch, so bucket fan-out is batch-sized, never corpus^2; exact
    Jaccard verification then joins the shingle sets of the surviving
    candidates only. No self-join anywhere: a pair of NEW documents
    duplicating each other is deliberately out of scope (that is the
    within-batch ``minhash_lsh_pairs`` run, a separate, much smaller
    job). At 100 TB the landed banded relation is precomputed once and
    maintained incrementally (append each admitted batch's bands), so
    the daily cost is batch-shingling + one bucket join.

    ``pre_shingled=True`` (r14): the inputs are already ``(id, s)``
    shingle relations (e.g. both sides filtered from ONE shingled+
    persisted corpus scan) — skip the per-side shingling; the caller
    owns persistence (pass ``persist=False``)."""
    if pre_shingled:
        sh_new, sh_landed = new_df, landed_df
    else:
        sh_new = shingles(new_df, text_col, id_col)
        sh_landed = shingles(landed_df, text_col, id_col)
    if persist:
        from pyspark.storagelevel import StorageLevel

        sh_new = sh_new.persist(StorageLevel.MEMORY_AND_DISK)
        sh_landed = sh_landed.persist(StorageLevel.MEMORY_AND_DISK)
    mode = _resolve_mode(mode)
    try:
        banded_new = banded_signature(minhash_signature(sh_new, mode=mode), mode=mode)
        banded_landed = banded_signature(
            minhash_signature(sh_landed, mode=mode), mode=mode
        )
        cands = (
            banded_new.alias("a")
            .join(
                banded_landed.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        verified = verify_jaccard_sided(cands, sh_new, sh_landed, threshold)
        out = verified.groupBy(F.col("doc_a").alias("doc_id")).agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.max("jaccard").alias("best_jaccard"),
        )
        if persist:
            # materialise the (small, per-new-doc) result while the
            # shingle relations are cached, so the finally-unpersist
            # below cannot force a re-shingle and a per-call caller
            # (the streaming screen runs this once per micro-batch)
            # does not accumulate shingle-sized cached blocks; the
            # small result itself must not accumulate across
            # micro-batches either
            out = release_registry("dedup.minhash_lsh_incremental")(out)
            out.count()
        return out
    finally:
        if persist:
            sh_new.unpersist()
            sh_landed.unpersist()


def _table_location(spark, table: str) -> str | None:
    """The table's storage location from the catalog, or None."""
    if not spark.catalog.tableExists(table):
        return None
    try:
        row = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .filter("col_name = 'Location'")
            .first()
        )
        return row["data_type"] if row is not None else None
    except Exception:
        return None


def _write_index_manifest(spark, path: str, manifest: dict) -> None:
    """One-line JSON sidecar at ``<path>/_index_manifest.json`` recording
    the bucketed index's live table locations + bucket spec — what
    :func:`register_minhash_index_bucketed` needs to rebuild the catalog
    entries after a driver restart (bucket metadata lives ONLY in the
    catalog; the parquet files alone cannot prove their bucketing).
    Written through the Hadoop FS API so it lands next to the data on
    whatever storage the index uses."""
    import json as _json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_index_manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(_json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()


def _read_index_manifest(spark, path: str) -> dict:
    import json as _json

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_index_manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        raise FileNotFoundError(
            f"no MinHash index at {path}: {path}/_index_manifest.json "
            "not found, the index was never seeded here (seed it first, "
            "or check the path)"
        )
    stream = fs.open(p)
    try:
        # read fully via the JVM IOUtils (the stream is a JVM object)
        data = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return _json.loads(data)


def dedup_exact_for_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Collapse exact-duplicate documents to their min-id canonical copy
    before the corpus is shingled into a MinHash index — the hot-band
    fix the screen core's docstring prescribes: removing an exact copy
    never changes a screen VERDICT (identical text ⇒ identical shingle
    set ⇒ identical bands and identical jaccard against any batch doc),
    it only stops template-heavy corpora from putting B copies in one
    band bucket and multiplying every epoch's verify fan-out by B.
    ``n_dups`` then counts distinct landed CONTENTS matched rather than
    landed copies; ``best_jaccard`` and the flagged set are unchanged.

    One hash-groupBy on the text (the same single-shuffle shape as
    :func:`exact_dedup`); survivors keep their original ids, so flags
    referencing landed ids stay resolvable."""
    return df.groupBy(text_col).agg(
        F.min(id_col).cast("long").alias(id_col)
    ).select(id_col, text_col)


def _screen_new_vs_landed(
    sh_new: DataFrame,
    banded_landed: DataFrame,
    sh_landed: DataFrame,
    threshold: float,
    mode: str,
    materialize: bool = True,
) -> DataFrame:
    """Screen core of :func:`minhash_incremental_vs_bucketed_index`:
    band the (already persisted) batch shingles, bucket-join against the
    landed band relation, verify sided, aggregate per new doc, and
    materialise the small result eagerly so callers can release the
    batch cache.

    Hot-band note: a landed band bucket of size B fans out B landed
    candidates per matching batch doc — linear in the BATCH (not the
    B² of the self-join case, see :class:`HotBandWarning`), so the
    screen stays bounded per micro-batch; but a template-heavy landed
    corpus still multiplies every epoch's verify work by B. Run
    exact_dedup (or the capped batch operator) over the corpus BEFORE
    seeding the index — a deduplicated landed side has no hot bands."""
    banded_new = banded_signature(minhash_signature(sh_new, mode=mode), mode=mode)
    cands = (
        banded_new.alias("a")
        .join(
            banded_landed.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = verify_jaccard_sided(cands, sh_new, sh_landed, threshold)
    out = verified.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        F.max("jaccard").alias("best_jaccard"),
    )
    if materialize:
        # the streaming screen calls this once per micro-batch
        out = release_registry("dedup.screen_new_vs_landed")(out)
        out.count()
    return out


def save_minhash_index_bucketed(
    df: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str | None = None,
    n_buckets: int = 64,
    append: bool = False,
    path: str | None = None,
    batch: str | None = None,
    dedup_exact: bool = False,
) -> None:
    """Persist the landed corpus' MinHash state so daily ingest never
    re-shingles the corpus: bands (what candidate generation joins
    against) and shingles (what exact-Jaccard verification needs for the
    landed side of each candidate) land as BUCKETED tables
    (``<prefix>_bands`` bucketed+sorted by (band_id, band_key),
    ``<prefix>_shingles`` by id), so the daily screen's two index-side
    joins read pre-shuffled, pre-sorted buckets — NO Exchange
    (and no sort) ever touches the corpus-sized index side again; only
    the day's batch shuffles. This is the same play the fact-fact
    bucketed join proves (tests/test_bucketing.py), applied to the
    operator whose landed side grows without bound. ``append=True`` adds
    an admitted batch (bucketed appends write additional per-bucket
    files — bucket routing stays correct). Size ``n_buckets`` so one
    bucket of the shingle relation fits an executor (the verify join
    streams bucket pairs). With ``path`` the tables live at
    ``<path>/bands`` and ``<path>/shingles`` next to the manifest
    :func:`register_minhash_index_bucketed` reads after a restart.

    Both tables are additionally PARTITIONED by ``batch``
    (``batch=<label>``; ``"seed"`` for a fresh index, a unique label for
    an append unless one is given): partition pruning makes a retried
    micro-batch's self-exclusion cheap, and
    :func:`bucketed_index_has_batch` answers "did this
    epoch's append already land?" from the catalog — the two hooks the
    streaming ingest screen's replay idempotency needs. Bucket routing
    is per-partition, so scans stay bucket-aware (``Bucketed: true``)
    across any number of appended batches.

    ``dedup_exact=True`` collapses exact-duplicate texts to one
    canonical copy first (:func:`dedup_exact_for_index`) — the hot-band
    fix for template-heavy corpora; verdicts and best_jaccard are
    unchanged, n_dups counts distinct contents instead of copies."""
    if batch is None:
        if append:
            import uuid

            batch = f"b{uuid.uuid4().hex[:12]}"
        else:
            batch = "seed"
    spark = df.sparkSession
    if dedup_exact:
        df = dedup_exact_for_index(df, text_col, id_col)
    sh = shingles(df, text_col, id_col)
    from pyspark.storagelevel import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    mode = _resolve_mode(mode)
    try:
        wmode = "append" if append else "overwrite"
        if not append:
            # a fresh seed must not inherit stale batch partitions (or a
            # stale table layout) from a previous run at the same names;
            # external tables keep their files across DROP, so delete
            # any previous (possibly relocated-by-compaction) location
            # first or a re-seed leaks the old directory forever
            for t in (
                f"{table_prefix}_bands",
                f"{table_prefix}_shingles",
                # a fresh seed is a new corpus: a previous life's
                # erasure ledger must not hide the new corpus' rows
                f"{table_prefix}_tombstones",
            ):
                old_loc = _table_location(spark, t)
                spark.sql(f"DROP TABLE IF EXISTS {t}")
                if old_loc is not None:
                    _hfs_delete(spark, old_loc)
        # bucket by BOTH join keys: HashPartitioning(band_id, band_key)
        # matches the screen's candidate-join requirement exactly —
        # probed empirically; band_key-only bucketing left Spark
        # re-shuffling the index side despite the subset rule
        bands_df = banded_signature(
            minhash_signature(sh, mode=mode), mode=mode
        )
        # repartition by the bucket keys BEFORE the bucketed write:
        # without it each upstream task writes its own file per bucket it
        # touches, so the seed lands tasks x n_buckets files (measured
        # 1,309 files for a 250-doc corpus at 32 shuffle partitions — at
        # 100 TB that is ~10k tasks x 64 buckets ≈ 640k files). Hash-
        # partitioning and parquet bucket routing share the Murmur3
        # formula, so aligned input writes exactly ONE file per non-empty
        # bucket per batch partition — one extra Exchange at write time,
        # the trade this engine's write paths already standardise on.
        bands_w = (
            bands_df.withColumn("batch", F.lit(batch))
            .repartition(n_buckets, F.col("band_id"), F.col("band_key"))
            .write.partitionBy("batch")
            .bucketBy(n_buckets, "band_id", "band_key")
            .sortBy("band_id", "band_key")
            .mode(wmode)
            .format("parquet")
        )
        sh_w = (
            sh.withColumn("batch", F.lit(batch))
            .repartition(n_buckets, F.col("id"))
            .write.partitionBy("batch")
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .mode(wmode)
            .format("parquet")
        )
        if path is not None and not (
            append and spark.catalog.tableExists(f"{table_prefix}_bands")
        ):
            # appends to an EXISTING table must inherit its location —
            # compaction relocates the table (staged dir + rename), so a
            # re-specified original path would mismatch and fail
            bands_w = bands_w.option("path", f"{path}/bands")
            sh_w = sh_w.option("path", f"{path}/shingles")
        bands_w.saveAsTable(f"{table_prefix}_bands")
        sh_w.saveAsTable(f"{table_prefix}_shingles")
        if path is not None:
            _write_index_manifest(
                spark,
                path,
                _index_manifest(
                    spark, table_prefix, n_buckets,
                    bands_ddl=bands_df._jdf.schema().toDDL(),
                    shingles_ddl=sh._jdf.schema().toDDL(),
                ),
            )
    finally:
        sh.unpersist()


_INDEX_CLUSTER_KEYS = {"bands": ["band_id", "band_key"], "shingles": ["id"]}


def _index_manifest(
    spark,
    table_prefix: str,
    n_buckets: int,
    bands_ddl: str,
    shingles_ddl: str,
) -> dict:
    out = {
        "n_buckets": n_buckets,
        "tables": {
            "bands": {
                "location": _table_location(spark, f"{table_prefix}_bands"),
                "schema_ddl": bands_ddl,
                "cluster_by": _INDEX_CLUSTER_KEYS["bands"],
            },
            "shingles": {
                "location": _table_location(
                    spark, f"{table_prefix}_shingles"
                ),
                "schema_ddl": shingles_ddl,
                "cluster_by": _INDEX_CLUSTER_KEYS["shingles"],
            },
        },
    }
    # the erasure ledger is part of the index: a restart that rebuilt
    # bands+shingles but lost the tombstones would silently resurrect
    # forgotten subjects in every screen
    if spark.catalog.tableExists(f"{table_prefix}_tombstones"):
        out["tombstones"] = {
            "location": _table_location(
                spark, f"{table_prefix}_tombstones"
            ),
            "schema_ddl": spark.table(
                f"{table_prefix}_tombstones"
            )._jdf.schema().toDDL(),
        }
    return out


def register_minhash_index_bucketed(
    spark, table_prefix: str, path: str
) -> None:
    """Rebuild the bucketed index's CATALOG entries from the manifest at
    ``<path>/_index_manifest.json`` — the restart-recovery half of the
    lifecycle: bucket metadata exists only in the session catalog (the
    parquet files cannot prove their own bucketing), so with the default
    in-memory catalog a driver restart would otherwise force a full
    re-seed (re-shingling the whole corpus — exactly the work the
    persisted index exists to avoid). Issues ``CREATE TABLE ... USING
    parquet PARTITIONED BY (batch) CLUSTERED BY (...) SORTED BY (...)
    INTO n BUCKETS LOCATION ...`` per table and recovers the batch
    partitions, after which screens, appends, replay detection, and
    compaction all resume where the previous driver stopped. No-op for
    tables that already exist (same-session call)."""
    manifest = _read_index_manifest(spark, path)
    n = manifest["n_buckets"]
    for leaf, spec in manifest["tables"].items():
        table = f"{table_prefix}_{leaf}"
        if spark.catalog.tableExists(table):
            continue
        keys = ", ".join(spec["cluster_by"])
        spark.sql(
            f"CREATE TABLE {table} ({spec['schema_ddl']}, batch STRING) "
            f"USING parquet PARTITIONED BY (batch) "
            f"CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {n} BUCKETS "
            f"LOCATION '{spec['location']}'"
        )
        spark.sql(f"ALTER TABLE {table} RECOVER PARTITIONS")
    ts_spec = manifest.get("tombstones")
    if ts_spec is not None and not spark.catalog.tableExists(
        f"{table_prefix}_tombstones"
    ):
        spark.sql(
            f"CREATE TABLE {table_prefix}_tombstones "
            f"({ts_spec['schema_ddl']}) USING parquet "
            f"LOCATION '{ts_spec['location']}'"
        )


def bucketed_index_has_batch(spark, table_prefix: str, batch: str) -> bool:
    """True when a ``batch=<label>`` partition already exists in the
    bucketed index — a catalog-metadata check (no data scan), used by
    the streaming ingest screen to make epoch-replay appends idempotent:
    ``saveAsTable`` commits atomically, so a visible partition means the
    epoch's append fully landed and the retry must skip it."""
    rows = spark.sql(f"SHOW PARTITIONS {table_prefix}_bands").collect()
    return any(r[0] == f"batch={batch}" for r in rows)


def minhash_incremental_vs_bucketed_index(
    new_df: DataFrame,
    table_prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    mode: str | None = None,
    materialize: bool = True,
    exclude_batch: str | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_incremental` against the PERSISTED index
    (:func:`save_minhash_index_bucketed`) instead of re-deriving the
    landed corpus' bands and shingles — the shape the daily loop runs:
    shingle the batch, join its bands against the stored band relation,
    verify against the stored shingle sets, then (caller's move) append
    the admitted docs back into the index. Verification is SIDED
    (:func:`verify_jaccard_sided`): a batch doc_id that re-uses a landed
    id (re-crawl of the same key) compares new content against landed
    content exactly once. The landed band relation and the landed
    shingle relation are read as co-located buckets, so neither is
    shuffled (or sorted) by the screen — plan-gated in
    tests/test_dedup.py. The daily at-scale cost is
    exactly: shingle the batch, shuffle THE BATCH into the index's
    bucket layout twice (bands + verify), stream bucket pairs.

    ``exclude_batch`` drops one ``batch=<label>`` PARTITION from the
    landed side (partition pruning, not a data-scan filter) — a
    retrying micro-batch whose own append already landed must not
    screen against itself."""
    sh_new = shingles(new_df, text_col, id_col)
    from pyspark.storagelevel import StorageLevel

    spark = new_df.sparkSession
    sh_new = sh_new.persist(StorageLevel.MEMORY_AND_DISK)
    mode = _resolve_mode(mode)
    try:
        banded_landed = spark.table(f"{table_prefix}_bands")
        sh_landed = spark.table(f"{table_prefix}_shingles")
        if exclude_batch is not None:
            banded_landed = banded_landed.filter(
                F.col("batch") != exclude_batch
            )
            sh_landed = sh_landed.filter(F.col("batch") != exclude_batch)
        # forgotten docs never match (logical erasure — pushed filter /
        # broadcast anti-join, bucket-join co-location preserved)
        ts = minhash_tombstone_ids(spark, table_prefix)
        if ts:
            banded_landed = _without_tombstoned_ids(banded_landed, ts)
            sh_landed = _without_tombstoned_ids(sh_landed, ts)
        return _screen_new_vs_landed(
            sh_new,
            banded_landed,
            sh_landed,
            threshold,
            mode,
            materialize=materialize,
        )
    finally:
        sh_new.unpersist()


def compact_minhash_index_bucketed(
    spark,
    table_prefix: str,
    n_buckets: int = 64,
    path: str | None = None,
    batch: str = "seed",
    keep_batches: tuple = (),
) -> None:
    """Collapse the bucketed index's per-epoch ``batch=`` partitions into
    one — the maintenance half of the streaming ingest loop's small-file
    problem: every appended epoch writes up to ``n_buckets`` files per
    table, so after E epochs each bucket spans ~E files and the screen's
    scan-side open/footers cost grows linearly with ingest HISTORY
    instead of corpus SIZE (at one epoch per 5 minutes that is ~100k
    files per bucket per year — the classic streaming-sink death). The
    rewrite repartitions by the bucket keys first, so the compacted
    layout is ONE file per bucket per table (hashpartitioning and
    parquet bucket routing share the same Murmur3 formula), restoring
    scan cost to O(corpus / n_buckets) regardless of how many epochs
    landed. Index CONTENT, bucket-awareness, and screen results are
    unchanged — gated in tests/test_dedup.py.

    Not concurrency-safe with a running screen: the swap (write staged
    tables, drop originals, rename) has a non-atomic window, so run it
    where the ingest's foreachBatch would run — between micro-batches
    (foreachBatch is sequential per trigger, so calling this from the
    sink after the epoch's append IS safe). After compaction the epoch
    ledger resets: ``bucketed_index_has_batch`` answers False for
    pre-compaction epochs, which is correct — their data is inside the
    compacted partition and a replay of an already-compacted epoch must
    be detected by the caller's checkpoint, not the index (Structured
    Streaming never replays an epoch older than the last committed
    one, so this window cannot occur under a single driver).

    ``keep_batches`` names partitions to carry over UNFOLDED (their
    ``batch=`` label preserved): the streaming loop compacts from inside
    the epoch's own sink call and must keep THAT epoch's partition
    separate — fold it and a replay of the epoch would (a) re-append
    (its ledger entry vanished) and (b) screen against nothing of the
    corpus (self-exclusion would prune the folded partition holding
    everything)."""
    specs = [
        (f"{table_prefix}_bands", ["band_id", "band_key"], "bands"),
        (f"{table_prefix}_shingles", ["id"], "shingles"),
    ]
    # Force BUCKETED reads for the rewrite: with auto-bucketed-scan on,
    # the planner elides the repartition Exchange (the bucketed scan
    # would satisfy it) and THEN disables the bucketed scan (a write
    # "requires" no distribution), leaving arbitrary partitioning and a
    # files-per-bucket explosion — probed empirically. With bucketed
    # scans pinned on, each scan task IS one bucket (its files merged
    # across every batch partition), the repartition below is elided as
    # genuinely redundant, and the whole compaction is a ZERO-SHUFFLE
    # per-bucket file merge. The repartition stays as the belt for the
    # re-bucketing case (n_buckets != the table's current bucket count),
    # where the scan no longer satisfies it and the Exchange runs.
    if batch in tuple(keep_batches):
        # the fold label colliding with a kept epoch would silently
        # MERGE the epoch that must stay separate (its replay
        # self-exclusion would then prune the whole folded corpus)
        raise ValueError(
            f"compact_minhash_index_bucketed: fold label {batch!r} is in "
            f"keep_batches — a kept epoch cannot double as the fold "
            f"target; pass a different batch label"
        )
    staged = []
    with scoped_conf(
        spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    ):
        keep = list(keep_batches)
        new_batch = (
            F.when(F.col("batch").isin(keep), F.col("batch")).otherwise(
                F.lit(batch)
            )
            if keep
            else F.lit(batch)
        )
        # physical erasure: the rewrite is the moment tombstoned docs'
        # band/shingle rows actually leave the files (the screens have
        # hidden them since the forget call)
        ts_vals = minhash_tombstone_ids(spark, table_prefix)
        for table, keys, leaf in specs:
            tmp = f"{table}__compacting"
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            w = (
                _without_tombstoned_ids(spark.table(table), ts_vals)
                .withColumn("batch", new_batch)
                .repartition(n_buckets, *[F.col(k) for k in keys])
                .write.partitionBy("batch")
                .bucketBy(n_buckets, *keys)
                .sortBy(*keys)
                .mode("overwrite")
                .format("parquet")
            )
            if path is not None:
                import uuid

                w = w.option("path", f"{path}/{leaf}_c{uuid.uuid4().hex[:8]}")
            w.saveAsTable(tmp)
            staged.append((table, tmp))
    # swap only after BOTH staged writes committed, so a failure above
    # leaves the live index untouched; external tables keep their files
    # across DROP, so the replaced location is deleted explicitly or
    # every compaction would leak a full index copy
    for table, tmp in staged:
        old_loc = _table_location(spark, table)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        new_loc = _table_location(spark, table)
        if old_loc is not None and old_loc != new_loc:
            _hfs_delete(spark, old_loc)
    if ts_vals and not tuple(keep_batches):
        # every row passed the tombstone filter, so the forgotten docs
        # are physically gone — close the erasure ledger (before the
        # manifest rewrite, which records only live tables). A kept
        # (replayable) epoch keeps the ledger: its replay would re-land
        # the forgotten docs' rows and they must stay hidden.
        ts_loc = _table_location(spark, f"{table_prefix}_tombstones")
        spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_tombstones")
        if ts_loc is not None:
            _hfs_delete(spark, ts_loc)
    if path is not None:
        bands_t = spark.table(f"{table_prefix}_bands")
        sh_t = spark.table(f"{table_prefix}_shingles")
        _write_index_manifest(
            spark,
            path,
            _index_manifest(
                spark, table_prefix, n_buckets,
                bands_ddl=bands_t.drop("batch")._jdf.schema().toDDL(),
                shingles_ddl=sh_t.drop("batch")._jdf.schema().toDDL(),
            ),
        )


# ---------------------------------------------------------------------------
# right-to-erasure: tombstones on the persisted MinHash index
# ---------------------------------------------------------------------------

# above this many forgotten ids the index-side exclusion switches from a
# pushed Not(In(id, ...)) scan filter to a broadcast anti-join — a literal
# list this long would bloat every query plan, while the anti-join's only
# Exchange carries the (small) ledger side. Shared with the ANN index.
_TOMBSTONE_ISIN_CAP = 4096


def _coerce_forget_ids(ids) -> "tuple[list, str]":
    """Deduplicate + sort a forget request and derive its ledger schema
    (doc ids are bigint in the driver corpus but string ids are legal)."""
    vals = set(ids)
    if not vals:
        raise ValueError("forget: no ids given")
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return sorted(int(v) for v in vals), "bigint"
    if all(isinstance(v, str) for v in vals):
        return sorted(vals), "string"
    raise ValueError("forget: ids must be all-int or all-string")


def _without_tombstoned_ids(
    df: DataFrame, ts_vals: list, col: str = "id", invert: bool = False
) -> DataFrame:
    """Exclude (or with ``invert`` select) ledgered ids from an
    index-side relation without shuffling it: small ledgers push as a
    ``Not(In(...))`` scan filter, large ones broadcast-anti-join — the
    bucketed MinHash screens' and the ANN serves' no-index-Exchange
    plans hold either way. ``col`` is ``"id"`` for the MinHash index,
    ``"nid"`` for the ANN index."""
    if not ts_vals:
        return df.filter(F.lit(False)) if invert else df
    if len(ts_vals) <= _TOMBSTONE_ISIN_CAP:
        cond = F.col(col).isin(ts_vals)
        return df.filter(cond if invert else ~cond)
    typ = "bigint" if isinstance(ts_vals[0], int) else "string"
    tsdf = df.sparkSession.createDataFrame(
        [(v,) for v in ts_vals], f"{col} {typ}"
    )
    return df.join(
        F.broadcast(tsdf), col, "left_semi" if invert else "left_anti"
    )


def minhash_tombstone_ids(spark, table_prefix: str) -> list:
    """The sorted forgotten doc ids of the persisted MinHash index
    (ledger table ``<table_prefix>_tombstones``); empty when nothing was
    ever forgotten or the ledger was cleared."""
    if not spark.catalog.tableExists(f"{table_prefix}_tombstones"):
        return []
    rows = spark.table(f"{table_prefix}_tombstones").collect()
    return sorted(r["id"] for r in rows)


def forget_from_minhash_index(
    spark,
    ids,
    table_prefix: str,
    path: str | None = None,
) -> dict:
    """Right-to-erasure for the persisted MinHash index: record ``ids``
    in the index's tombstone ledger (``<table_prefix>_tombstones``) so
    every incremental screen stops matching against them immediately
    (logical erasure — a pushed scan filter, the index never shuffles);
    :func:`compact_minhash_index_bucketed` then drops their band and
    shingle rows physically and clears the ledger once no replayable
    epoch is kept back. With ``path`` the ledger is recorded in the
    index manifest, so :func:`register_minhash_index_bucketed` restores
    it after a driver restart. Idempotent: re-forgetting is a no-op.
    Returns ``{"requested", "new", "already", "landed_docs"}``."""
    want, typ = _coerce_forget_ids(ids)
    if not spark.catalog.tableExists(f"{table_prefix}_bands"):
        raise FileNotFoundError(
            f"no bucketed MinHash index under prefix "
            f"{table_prefix!r} — seed it (save_minhash_index_"
            f"bucketed) or rebuild the catalog "
            f"(register_minhash_index_bucketed) first"
        )
    existing = set(minhash_tombstone_ids(spark, table_prefix))
    new = [v for v in want if v not in existing]
    merged = sorted(existing.union(want))
    if new:
        staging = f"{table_prefix}_tombstones__staging"
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        w = (
            spark.createDataFrame([(v,) for v in merged], f"id {typ}")
            .coalesce(1)
            .write.mode("overwrite")
            .format("parquet")
        )
        if path is not None:
            import uuid

            w = w.option(
                "path", f"{path}/tombstones_c{uuid.uuid4().hex[:8]}"
            )
        w.saveAsTable(staging)
        live = f"{table_prefix}_tombstones"
        old_loc = _table_location(spark, live)
        spark.sql(f"DROP TABLE IF EXISTS {live}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {live}")
        new_loc = _table_location(spark, live)
        if old_loc is not None and old_loc != new_loc:
            _hfs_delete(spark, old_loc)
        if path is not None:
            manifest = _read_index_manifest(spark, path)
            bands_t = spark.table(f"{table_prefix}_bands")
            sh_t = spark.table(f"{table_prefix}_shingles")
            _write_index_manifest(
                spark,
                path,
                _index_manifest(
                    spark, table_prefix, manifest["n_buckets"],
                    bands_ddl=bands_t.drop("batch")._jdf.schema().toDDL(),
                    shingles_ddl=sh_t.drop("batch")._jdf.schema().toDDL(),
                ),
            )
    landed = (
        _without_tombstoned_ids(
            spark.table(f"{table_prefix}_shingles"), merged, invert=True
        )
        .select("id").distinct().count()
    )
    return {
        "requested": len(want),
        "new": len(new),
        "already": len(want) - len(new),
        "landed_docs": landed,
    }


def duck_minhash_incremental_sql(
    table: str = "documents",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    rows: int = ROWS_PER_BAND,
    new_pred: str = (
        "CAST(substr(translate(md5(text), 'abcdef', '012345'), 1, 6) AS BIGINT)"
        " % 10 = 0"
    ),
) -> str:
    """Oracle for :func:`minhash_lsh_incremental` over a deterministic
    md5-sampled 'new batch' split of ``table`` (same convention as
    dedup_incremental_ingest)."""
    mins = ", ".join(
        f"list_min(list_transform(hb, h -> ({a} * h + {b}) % {_MINHASH_P}))"
        for a, b in _perm_constants(num_hashes)
    )
    band_rows = ", ".join(
        f"({b}, md5(array_to_string(list_transform("
        f"sig[{b * rows + 1}:{b * rows + rows}], x -> CAST(x AS VARCHAR)), '|')))"
        for b in range(bands)
    )
    return f"""
    WITH raw AS (SELECT doc_id, text, {new_pred} AS is_new FROM {table}),
    tok AS (SELECT doc_id AS id, is_new,
        regexp_split_to_array(lower(trim(text)), '\\s+') AS ts FROM raw),
    tokf AS (SELECT * FROM tok WHERE len(ts) >= {SHINGLE_K}),
    shf AS (SELECT id, is_new,
        list_distinct(list_transform(generate_series(1, len(ts) - {SHINGLE_K - 1}),
            i -> {" || ' ' || ".join(f"ts[i + {j}]" for j in range(SHINGLE_K))})) AS s
        FROM tokf),
    based AS (SELECT id, is_new, s, list_transform(s, x ->
        CAST(substr(translate(md5(x), 'abcdef', '012345'), 1, 15) AS BIGINT)
          % {_BASE_MOD}) AS hb FROM shf),
    sig AS (SELECT id, is_new, s, [{mins}] AS sig FROM based),
    banded AS (SELECT id, is_new, b.* FROM sig,
        LATERAL (SELECT * FROM (VALUES {band_rows}) v(band_id, band_key)) b),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
        WHERE a.is_new AND NOT b.is_new),
    ver AS (SELECT id_a, id_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        FROM cand JOIN shf sa ON cand.id_a = sa.id JOIN shf sb ON cand.id_b = sb.id)
    SELECT id_a AS doc_id, CAST(count(*) AS BIGINT) AS n_dups,
           max(jaccard) AS best_jaccard
    FROM ver WHERE jaccard >= {threshold} GROUP BY id_a
    """


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


class NgramFallbackWarning(UserWarning):
    """ngram_jaccard_pairs' adaptive df-cap degraded to quantile mode:
    the corpus has NO shingle under the absolute max_df, so candidate
    generation enters its Theta(sum df^2) fallback regime — correct but
    unbounded in cost as the corpus grows. Switch to minhash_lsh_pairs
    or simhash_wide_pairs (both measured flat/sub-linear to sf4)."""


def _adaptive_df_cap(
    dfs: DataFrame, max_df: int, fallback_quantile: float, op_name: str
) -> float:
    """The round-6 cliff guard, shared by the Jaccard and containment
    index builders: the absolute cap, unless even the rarest shingle
    exceeds it (the rare set would be EMPTY — at sf2 of the fixed-vocab
    corpus the operator silently returned 0 pairs; ground truth 3,275),
    in which case the fallback quantile of the df distribution, with
    the regime change made observable via NgramFallbackWarning. One
    eagerly-collected 1-row aggregate over the already-persisted df
    dictionary."""
    mn, q = dfs.agg(
        F.min("df_count"),
        F.expr(f"percentile(df_count, {fallback_quantile}D)"),
    ).first()
    if mn is not None and mn > max_df:
        warnings.warn(
            f"{op_name}: every shingle has df > max_df="
            f"{max_df} (min df = {mn}); cap degraded to the "
            f"{fallback_quantile} df-quantile ({q:.0f}). This "
            f"regime is Theta(sum df^2) — prefer minhash_lsh_pairs "
            f"or simhash_wide_pairs at scale.",
            NgramFallbackWarning,
            stacklevel=3,
        )
        return float(q)
    return float(max_df)


def _rare_pair_counts(inv: DataFrame, rare: DataFrame, keep_pair: str) -> DataFrame:
    """The candidate core the Jaccard and containment indexes share:
    every unordered pair of docs sharing a rare shingle, as (id_a < id_b,
    na, nb, ra, rb, c) — the docs' shingle-set sizes n, their rare-
    shingle counts r and c = |rare(A) ∩ rare(B)|. ``inv`` is the (id, n,
    sh) inverted index, ``rare`` the (sh, df_count) rare set and
    ``keep_pair`` the SQL predicate over ``p.x`` / ``p.y`` that a pair
    must pass inside the bucket pass."""
    from pyspark.sql import Window

    # per-doc rare-shingle count r rides a window over the index itself:
    # one row per doc would have been broadcast-able at test scale, but
    # its cardinality is O(#docs with a rare shingle) — at billions of
    # docs that exceeds any broadcast/driver budget. A partitionBy(id)
    # window is one bounded shuffle (id keys, count fits the partial
    # agg) and scales with the cluster instead of the driver.
    #
    # Candidate generation keys on xxhash64(shingle), not the string:
    # rarity/df/r are still computed on exact strings (the semantic rule
    # is untouched), but the dominant Theta(sum df^2) shuffle+compare
    # moves from ~50-byte string keys to 8-byte longs. A hash collision
    # can only ADD candidate pairs (same hash, different shingle) and
    # only INFLATE the shared-count c — both keep the pruned candidate
    # set a superset of the string-keyed one — and the full-array verify
    # is exact, so the RESULT is provably identical, collisions or not.
    #
    # df_count == 1 rows are dropped AFTER r is counted: a df=1 shingle
    # exists in exactly one document, so it can never be SHARED — it
    # contributes zero candidate pairs, yet under the old self-join every
    # such row was shuffled into both join sides. r (the per-doc rare
    # count feeding the intersection upper bound) still counts ALL rare
    # shingles, so the bound — and the verified result — is unchanged.
    inv_rare = (
        inv.join(rare, "sh")
        .withColumn("r", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .filter(F.col("df_count") >= 2)
        .withColumn("shh", F.xxhash64("sh"))
        .select("id", "n", "r", "shh")
    )
    # r15: the pair generation is ONE bucket pass (groupBy(shh) +
    # collect_list + in-bucket combinations) instead of a hash self-join.
    # AQE never reused the two identical join-side exchanges at runtime
    # (the t_closeness/AQE reuse gap, confirmed in the committed r14
    # plan: the explode + rare join + window subtree appears TWICE), so
    # the self-join paid the inverted index twice plus a SortMergeJoin
    # sort on both sides. The bucket pass shuffles the index ONCE and
    # emits exactly the same (a.id < b.id) pair multiset the join
    # produced — each bucket holds each doc at most once (shingles are
    # array_distinct per doc), so in-bucket combinations == the join's
    # per-bucket cross product under a < b. Buckets are df-capped, so
    # per-row pair arrays are bounded; the per-ELEMENT slice keeps peak
    # memory O(bucket), not O(bucket^2), in the quantile-fallback regime.
    pair_arr_sql = (
        "filter(transform(slice(xs, i + 2, size(xs) - i - 1), y -> "
        "IF(x.id < y.id, named_struct('x', x, 'y', y), "
        "named_struct('x', y, 'y', x))), "
        f"p -> {keep_pair})"
    )
    return (
        inv_rare.groupBy("shh")
        .agg(F.collect_list(F.struct("id", "n", "r")).alias("xs"))
        .filter(F.size("xs") >= 2)
        .select("xs", F.posexplode("xs").alias("i", "x"))
        .select(F.explode(F.expr(pair_arr_sql)).alias("p"))
        .groupBy(
            F.col("p.x.id").alias("id_a"),
            F.col("p.y.id").alias("id_b"),
            F.col("p.x.n").alias("na"),
            F.col("p.y.n").alias("nb"),
            F.col("p.x.r").alias("ra"),
            F.col("p.y.r").alias("rb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int = 100,
    max_df_quantile: float | None = None,
    fallback_quantile: float = 0.9,
) -> DataFrame:
    """Exact-verified near-dup pairs from an inverted shingle index.

    Candidates = pairs sharing >=1 *rare* shingle (document frequency
    <= max_df, or <= the ``max_df_quantile`` quantile of the df
    distribution — the corpus-relative form), each verified by exact
    full-set Jaccard (reported values are always exact). Recall of pairs
    sharing NO rare shingle is sacrificed (overwhelmingly sub-threshold
    pairs); in exchange the count-then-verify intersection bound prunes
    candidates before the array-verify joins. The measured worst case
    (uniform-df synthetic corpus, sf1) runs ~2x faster than the
    complete prefix filter, :func:`ngram_jaccard_pairs_prefix` — prefer
    that one when recall guarantees matter or vocabulary grows with the
    corpus (Heaps' law). See PERFORMANCE.md "Measured scaling" for the
    head-to-head numbers that motivated keeping both.
    """
    # numpy scalars reach SQL text below; their repr is not SQL
    threshold, fallback_quantile = float(threshold), float(fallback_quantile)
    if max_df_quantile is not None:
        max_df_quantile = float(max_df_quantile)
    keep = release_registry("dedup.ngram_jaccard_pairs")
    shingled = keep(shingles(df, text_col, id_col))
    # shingle-set size rides the inverted index (one extra int through
    # the existing shuffle, no extra join): Jaccard >= t implies
    # min(|A|,|B|) >= t * max(|A|,|B|), so size-incompatible pairs are
    # rejected INSIDE the self-join predicate — before they ever reach
    # the pair-aggregation shuffle or the full-array verify joins.
    # Result-preserving (the bound is a necessary condition; 1e-9 slack
    # covers float rounding at exact-boundary sizes).
    inv = shingled.select(
        "id", F.size("s").alias("n"), F.explode("s").alias("sh")
    )
    # the df dictionary feeds BOTH the cap decision (one-row aggregate)
    # and the rare-set join; without a persist the shingle explode +
    # groupBy would run twice (measured 2x wall at sf0.1 when the r6
    # cliff guard added the second consumer). Cardinality is #distinct
    # shingles — the corpus dictionary, orders of magnitude below the
    # inverted index the operator already materialises.
    dfs = keep(inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df_count")))
    if max_df_quantile is not None:
        # one-row exact quantile of the df distribution, broadcast into
        # the filter — scale-relative stop-shingle cap
        cap = dfs.agg(
            F.expr(f"percentile(df_count, {max_df_quantile}D)").alias("cap")
        )
        rare = (
            dfs.join(F.broadcast(cap))
            .filter(F.col("df_count") <= F.col("cap"))
            .select("sh", "df_count")
        )
    else:
        # Adaptive cliff guard (round 6; found by the sf2/sf4 scaling
        # sweep): an ABSOLUTE cap on a corpus whose document frequencies
        # grow with size eventually excludes EVERY shingle — at sf2 of
        # the fixed-vocab synthetic corpus the rare set went empty and
        # the operator silently returned 0 pairs (measured; ground truth
        # 3,275). The guard is one one-row aggregate over the
        # already-persisted df relation: if even the rarest shingle
        # exceeds max_df, the cap degrades to the fallback_quantile of
        # the df distribution, so the candidate index is never empty.
        # Wherever the absolute cap admits ANY shingle the result is
        # byte-identical to the old rule (min(df) <= max_df =>
        # cap == max_df). The aggregate is collected EAGERLY (1 row;
        # it warms the persisted dictionary the rare-set filter reads
        # next, so no scan is duplicated) so the regime change is
        # OBSERVABLE: the quantile fallback is Theta(sum df^2) —
        # correct but a 10-minute stage at sf4 on the designed worst
        # case — and a pipeline operator must hear about it at plan
        # time, not discover it on the cluster. MinHash-LSH /
        # SimHash-63 are the at-scale operators for that regime
        # (PERFORMANCE.md "Measured scaling").
        capval = _adaptive_df_cap(
            dfs, max_df, fallback_quantile, "ngram_jaccard_pairs"
        )
        rare = (
            dfs.filter(F.col("df_count") <= F.lit(capval))
            .select("sh", "df_count")
        )
    # Count-then-verify: the old `.distinct()` shuffled every co-occurring
    # pair straight into the expensive array-verify joins (at sf0.1 that
    # was ~850k pairs for a ~1k-pair result — verify was 90% of the
    # query). The SAME shuffle, run as groupBy().count(), yields c =
    # |rare(A) ∩ rare(B)| for free, and c bounds the full intersection
    # from above: |A ∩ B| <= c + min(|A|-r_A, |B|-r_B) (the non-rare
    # remainders are the only other shingles the two docs could share).
    # J >= t  <=>  |A ∩ B| >= t/(1+t) * (|A|+|B|), so pairs whose upper
    # bound misses that mark are rejected BEFORE touching the shingle
    # arrays — a necessary condition, so the verified result is
    # byte-identical. On corpora where most shingles are rare the bound
    # is nearly exact and verify degenerates to confirming true pairs.
    #
    # Size-incompatible pairs (J >= t forces min(|A|,|B|) >= t *
    # max(|A|,|B|)) are dropped inside the bucket pass.
    pair_counts = _rare_pair_counts(
        inv,
        rare,
        "p.x.id <> p.y.id AND CAST(least(p.x.n, p.y.n) AS DOUBLE) >= "
        f"{threshold!r} * greatest(p.x.n, p.y.n) - 1e-9",
    )
    inter_ub = F.col("c") + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    need = F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb"))
    cands = (
        pair_counts.filter(inter_ub.cast("double") >= need - F.lit(1e-9))
        .select("id_a", "id_b")
    )
    return verify_jaccard(cands, shingled, threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_df: int = 100,
    fallback_quantile: float = 0.9,
) -> DataFrame:
    """DIRECTED containment near-dup pairs: C(A→B) = |A∩B| / |A| >= t —
    the "short document embedded in a longer one" relation Jaccard
    structurally misses (a 50-shingle quote fully inside a 1000-shingle
    page has J ≈ 0.05 but C = 1.0): the quoting/boilerplate/aggregator
    case a crawl-curation pipeline must catch before the budget stage
    spends tokens on wrapped copies.

    (doc_a, doc_b, containment) with doc_a the CONTAINED side; both
    directions are released independently when both qualify. Candidate
    generation shares ngram_jaccard_pairs' machinery exactly: rare
    shingles under the same adaptive df-cap + cliff guard (same
    documented stop-shingle recall trade), the size necessary condition
    (containment >= t forces |B| >= t·|A| since |A∩B| <= min), and the
    count-then-verify upper bound c + min(|A|-r_A, |B|-r_B) >= t·|A| —
    all necessary conditions, so the verified result equals the full
    co-occurrence candidate set's (the DuckDB oracle verifies the
    UNPRUNED candidates). Final containment is an integer ratio with
    ONE double division — bit-identical cross-engine.

    Scale shape: identical to the Jaccard index — one persisted shingle
    relation, one df dictionary, the 8-byte hashed-shingle self-join
    bounded by rare-bucket sizes, verification only on surviving pairs."""
    threshold, fallback_quantile = float(threshold), float(fallback_quantile)
    keep = release_registry("dedup.ngram_containment_pairs")
    shingled = keep(shingles(df, text_col, id_col))
    inv = shingled.select(
        "id", F.size("s").alias("n"), F.explode("s").alias("sh")
    )
    dfs = keep(inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df_count")))
    capval = _adaptive_df_cap(
        dfs, max_df, fallback_quantile, "ngram_containment_pairs"
    )
    rare = (
        dfs.filter(F.col("df_count") <= F.lit(capval))
        .select("sh", "df_count")
    )
    # The DIRECTED relation emits BOTH orientations of each in-bucket
    # combination, each gated by its own size necessary condition
    # (|A∩B| >= t·|A| and |A∩B| <= |B| => |B| >= t·|A|), exactly the old
    # join's (a.id != b.id) & size_ok ordered-pair multiset.
    # The shared-shingle count c is SYMMETRIC, so the bucket pass
    # aggregates each UNORDERED pair once (the Jaccard core's shape —
    # half the generated structs and half the aggregation input of an
    # orientation-expanded pass) and both directions are expanded only
    # AFTER the grid-sized aggregation, each gated by its own directed
    # necessary conditions. Identical to the old ordered-pair join: the
    # directed size_ok and count bound are per-ordered-pair constants,
    # and for t <= 1 the (small -> large) orientation always satisfies
    # the size condition, so no unordered pair can be pre-pruned.
    pair_counts = _rare_pair_counts(inv, rare, "p.x.id <> p.y.id")
    both = pair_counts.select(
        F.explode(
            F.array(
                F.struct("id_a", "id_b", "na", "nb", "ra", "rb", "c"),
                F.struct(
                    F.col("id_b").alias("id_a"),
                    F.col("id_a").alias("id_b"),
                    F.col("nb").alias("na"),
                    F.col("na").alias("nb"),
                    F.col("rb").alias("ra"),
                    F.col("ra").alias("rb"),
                    F.col("c"),
                ),
            )
        ).alias("o")
    ).select("o.*")
    # necessary: |A∩B| >= t·|A| and |A∩B| <= |B|  =>  |B| >= t·|A|
    size_ok = (
        F.col("nb").cast("double") >= F.lit(threshold) * F.col("na") - F.lit(1e-9)
    )
    inter_ub = F.col("c") + F.least(
        F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")
    )
    need = F.lit(threshold) * F.col("na")
    cands = both.filter(
        size_ok & (inter_ub.cast("double") >= need - F.lit(1e-9))
    ).select("id_a", "id_b")
    sa = shingled.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter.cast("double") / F.size("sa")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT near-dup pairs via prefix filtering over the shingle index.

    STATUS: documented research alternative, NOT the default and NOT in
    the bench sweep. The completeness claim below is true (verified
    brute-force-equal in tests/test_dedup.py), but the measured scaling
    curve says the plain stop-shingle index wins at every tested scale
    and the gap WIDENS with data: 1.18x slower at sf0.1, 3.6x slower at
    sf1 (50.3 s vs 13.8 s — PERFORMANCE.md "measured-and-rejected").
    The per-doc (df, shingle) global rank costs a full window shuffle
    that the plain index never pays, and on this corpus's df
    distribution the candidate-volume savings never repay it. Use
    ``ngram_jaccard_pairs`` (stop-shingle + count-then-verify) unless
    you need provable zero-recall-loss AND have measured the crossover
    on your own df distribution.

    The classic prefix filter (Bayardo/Chaudhuri; PPJoin family) —
    COMPLETE, unlike the default stop-shingle rule:

    order all shingles globally by (df ASC, shingle ASC); a doc with n
    distinct shingles indexes only its first ``n - ceil(t*n) + 1`` under
    that order. Two docs with Jaccard >= t MUST share a prefix shingle
    (pigeonhole on the required overlap ceil(t*n) against the suffix),
    so verifying exactly the prefix-sharing, size-compatible pairs loses
    nothing — no recall knob, no tuning.

    Plan shape: df-count shuffle (by shingle), rank shuffle (by id),
    candidate self-join shuffle (by shingle), exact verify joins (by
    id) — all key-partitioned, nothing quadratic in the corpus; the
    rank shuffle is the measured extra cost the default path avoids.
    """
    from pyspark.sql import Window

    threshold = float(threshold)
    shingled = release_registry("dedup.ngram_jaccard_pairs_prefix")(
        shingles(df, text_col, id_col)
    )
    inv = shingled.select(
        "id", F.size("s").alias("n"), F.explode("s").alias("sh")
    )
    dfs = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df_count"))
    ranked = inv.join(dfs, "sh").withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("id").orderBy("df_count", "sh")),
    )
    # NOTE: the stop-shingle mode's xxhash64-join-key trick was A/B
    # measured here too and LOST (sf1 median 63.9 s hashed vs 49.9 s
    # string, same session, same action): prefix-mode candidates are
    # join-dominated rather than shuffle-dominated — most prefix keys
    # have tiny posting lists, so the per-row hash projection costs more
    # than the narrower key saves. String keys kept; see PERFORMANCE.md.
    pfx = ranked.filter(
        F.col("rk")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    ).select("id", "n", "sh")
    a, b = pfx.alias("a"), pfx.alias("b")
    # J >= t forces min(|A|,|B|) >= t * max(|A|,|B|): size-incompatible
    # pairs are rejected inside the join predicate (1e-9 covers float
    # rounding at exact-boundary sizes)
    size_ok = (
        F.least(F.col("a.n"), F.col("b.n")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n")) - F.lit(1e-9)
    )
    join_cond = (
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.id") < F.col("b.id"))
        & size_ok
    )
    cands = (
        a.join(b, join_cond)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return verify_jaccard(cands, shingled, threshold)


def duck_ngram_jaccard_sql(
    table: str = "documents",
    threshold: float = 0.5,
    max_df: int = 100,
    fallback_quantile: float = 0.9,
) -> str:
    # mirrors the Spark side's adaptive cliff guard: cap = max_df, unless
    # min(df) > max_df (the rare set would be empty), then the
    # fallback_quantile of the df distribution (quantile_cont matches
    # Spark's interpolated percentile() on the same multiset)
    return f"""
    WITH {_duck_shingles_cte(table)},
    inv AS (SELECT id, unnest(s) AS sh FROM shf),
    dfs AS (SELECT sh, count(*) AS df_count FROM inv GROUP BY sh),
    cap AS (SELECT CASE WHEN min(df_count) > {max_df}
                   THEN quantile_cont(df_count, {fallback_quantile})
                   ELSE CAST({max_df} AS DOUBLE) END AS cap FROM dfs),
    rare AS (SELECT sh FROM dfs, cap WHERE df_count <= cap.cap),
    invr AS (SELECT inv.id, inv.sh FROM inv JOIN rare USING (sh)),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM invr a JOIN invr b ON a.sh = b.sh AND a.id < b.id),
    ver AS (SELECT id_a AS doc_a, id_b AS doc_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        FROM cand JOIN shf sa ON cand.id_a = sa.id JOIN shf sb ON cand.id_b = sb.id)
    SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {threshold}
    """


def duck_ngram_containment_sql(
    table: str = "documents",
    threshold: float = 0.6,
    max_df: int = 100,
    fallback_quantile: float = 0.9,
) -> str:
    """DuckDB twin of :func:`ngram_containment_pairs`: identical rare-
    shingle candidate rule (same adaptive cap CASE), DIRECTED pairs,
    containment verified on the UNPRUNED co-occurrence candidates (the
    Spark side's size/count prunes are necessary conditions only)."""
    return f"""
    WITH {_duck_shingles_cte(table)},
    inv AS (SELECT id, unnest(s) AS sh FROM shf),
    dfs AS (SELECT sh, count(*) AS df_count FROM inv GROUP BY sh),
    cap AS (SELECT CASE WHEN min(df_count) > {max_df}
                   THEN quantile_cont(df_count, {fallback_quantile})
                   ELSE CAST({max_df} AS DOUBLE) END AS cap FROM dfs),
    rare AS (SELECT sh FROM dfs, cap WHERE df_count <= cap.cap),
    invr AS (SELECT inv.id, inv.sh FROM inv JOIN rare USING (sh)),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM invr a JOIN invr b ON a.sh = b.sh AND a.id <> b.id),
    ver AS (SELECT id_a AS doc_a, id_b AS doc_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / len(sa.s)
          AS containment
        FROM cand JOIN shf sa ON cand.id_a = sa.id
                  JOIN shf sb ON cand.id_b = sb.id)
    SELECT doc_a, doc_b, containment FROM ver
    WHERE containment >= {threshold}
    """


def duck_ngram_jaccard_prefix_sql(table: str = "documents", threshold: float = 0.5) -> str:
    return f"""
    WITH {_duck_shingles_cte(table)},
    inv AS (SELECT id, len(s) AS n, unnest(s) AS sh FROM shf),
    dfs AS (SELECT sh, count(*) AS df_count FROM inv GROUP BY sh),
    rkd AS (SELECT id, n, sh,
        row_number() OVER (PARTITION BY id ORDER BY df_count, sh) AS rk
        FROM inv JOIN dfs USING (sh)),
    pfx AS (SELECT id, n, sh FROM rkd WHERE rk <= n - ceil({threshold} * n) + 1),
    cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pfx a JOIN pfx b ON a.sh = b.sh AND a.id < b.id
        AND least(a.n, b.n) >= {threshold} * greatest(a.n, b.n) - 1e-9),
    ver AS (SELECT id_a AS doc_a, id_b AS doc_b,
        CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
        FROM cand JOIN shf sa ON cand.id_a = sa.id JOIN shf sb ON cand.id_b = sb.id)
    SELECT doc_a, doc_b, jaccard FROM ver WHERE jaccard >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash (63-bit)
# ---------------------------------------------------------------------------

WIDE_BITS = 63
WIDE_BAND_BITS = 21
WIDE_BANDS = 3  # 3 bands x 21 bits; pigeonhole => full recall at hamming<=2


def _wide_bit_expr(j: int, instr_fn: str) -> str:
    """Bit j of the per-token 63-bit hash, from md5 hex char j//2 (two
    bits per char): engine-portable via instr/strpos over the hex
    alphabet — identical in Spark and DuckDB."""
    k = j // 2 + 1
    return (
        f"(({instr_fn}('0123456789abcdef', substr(md5(tok), {k}, 1)) - 1)"
        f" >> {j % 2}) & 1"
    )


def simhash_wide(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash bigint, n_tokens): 63-bit frequency-weighted
    bit-majority simhash.

    Why 63 bits: the measured sf0.01/0.1/1 curve showed a 16-bit
    simhash's pair count exploding O(N^2 / 2^16) — at 50k docs the
    hash space saturates and ~7% of ALL pairs collide within hamming 2
    (86M rows), which is birthday arithmetic, not near-duplication. At
    63 bits random collisions are negligible through billions of docs;
    63 (not 64) keeps the value a positive signed BIGINT in both
    engines. One explode + one groupBy, shuffling on the doc id
    only."""
    n = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(n, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )
    bit_sums = [
        F.sum(F.expr(_wide_bit_expr(j, "instr"))).alias(f"b{j}")
        for j in range(WIDE_BITS)
    ]
    agg = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *bit_sums)
    sim = " + ".join(
        f"CASE WHEN 2 * b{j} > n THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END"
        for j in range(WIDE_BITS)
    )
    return agg.select(
        F.col("id").alias("doc_id"),
        F.expr(sim).cast("long").alias("simhash"),
        F.col("n").cast("long").alias("n_tokens"),
    )


def simhash_wide_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over the 63-bit simhash,
    candidates from 21-bit band buckets (3 bands; 2 bit-errors cannot
    touch all 3, so one band always agrees => exact recall at
    hamming<=2). Band width is the scale knob: random-collision
    candidates are N^2/2^21 per band — at a billion docs that is still
    bucket-bounded work, where 4-bit bands over a 16-bit hash degrade
    to a near-cross-join.

    The banded relation is PERSISTED before the self-join (round 7):
    Catalyst does not reuse the exchange across the two join sides, so
    without it the 63-bit majority aggregate — ~90% of the query's
    work (explode + 63 bit-sums over every token) — executes TWICE.
    Measured at sf0.1: 1.0 s -> 0.55 s median. The cached relation is
    3 small rows per doc (two longs + two ints) with MEMORY_AND_DISK
    spill, i.e. the operator's own output-scale materialisation, and
    it is released on the next call (:func:`release_registry`)."""
    sh = simhash_wide(df, text_col, id_col).select("doc_id", "simhash")
    mask = (1 << WIDE_BAND_BITS) - 1
    band_structs = ", ".join(
        f"struct({b} AS band_id, shiftright(simhash, {WIDE_BAND_BITS * b}) "
        f"& {mask} AS band_val)"
        for b in range(WIDE_BANDS)
    )
    banded = release_registry("dedup.simhash_wide_near_pairs")(
        sh.select("doc_id", "simhash", F.expr(f"inline(array({band_structs}))"))
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def duck_simhash_wide_sql(table: str = "documents") -> str:
    bit_sums = ", ".join(
        f"sum({_wide_bit_expr(j, 'strpos')}) AS b{j}" for j in range(WIDE_BITS)
    )
    sim = " + ".join(
        f"CASE WHEN 2 * b{j} > n THEN (CAST(1 AS BIGINT) << {j}) "
        f"ELSE CAST(0 AS BIGINT) END"
        for j in range(WIDE_BITS)
    )
    return f"""
    WITH toks AS (SELECT doc_id AS id,
        unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM {table}),
    agg AS (SELECT id, count(*) AS n, {bit_sums} FROM toks GROUP BY id)
    SELECT id AS doc_id, CAST({sim} AS BIGINT) AS simhash, CAST(n AS BIGINT) AS n_tokens
    FROM agg
    """


def duck_simhash_wide_near_pairs_sql(
    table: str = "documents", max_hamming: int = 2
) -> str:
    base = duck_simhash_wide_sql(table).strip()
    mask = (1 << WIDE_BAND_BITS) - 1
    bands = ", ".join(
        f"({b}, (simhash >> {WIDE_BAND_BITS * b}) & {mask})"
        for b in range(WIDE_BANDS)
    )
    return f"""
    WITH sims AS ({base}),
    banded AS (SELECT doc_id, simhash, b.* FROM sims,
        LATERAL (SELECT * FROM (VALUES {bands}) v(band_id, band_val)) b),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}
    """


def connected_components(
    pairs: DataFrame, ids: DataFrame | None = None
) -> DataFrame:
    """(id, cluster_id): connected components over near-dup pairs, where
    cluster_id = the minimum id reachable through any chain of pairs —
    turning pairwise matches into dedup groups (a~b, b~c => one cluster).

    Exact at any component diameter, labelled on the driver: the edges
    are collected once through Arrow and numpy hooks every root onto the
    smallest root across its edges, then jumps pointers until each node
    points at its root, until no edge joins two roots. Roots are node
    indices in sorted id order, so each root is its component's minimum.
    The only Spark job is the edge collect; the labels come back as a
    DataFrame.

    Memory bound: the whole edge set is held on the driver. Labelling
    peaks at about 120 bytes per edge, the Arrow edges included (4M
    random edges: 0.48 GB, 4.5 s on a 4-vCPU host), so a near-dup graph
    larger than driver memory is out of reach. Local sessions
    (``session.get_spark``) run their executors on the driver's host,
    which holds the edge set either way.

    ``pairs``: (id_a, id_b) undirected. ``ids``: (id) node universe;
    its nodes that no pair touches come back as singleton clusters
    (``cluster_id = id``), through one anti join against the labels.
    With ``ids=None`` only the nodes the pairs touch are labelled: a
    caller that drops every non-minimal cluster member (curation) needs
    no singletons, and skips that join.
    """
    import numpy as np
    import pyarrow as pa

    edges = pairs.select("id_a", "id_b").toArrow()
    a, b = edges.column(0), edges.column(1)
    nodes, ends = np.unique(
        np.concatenate([a.to_numpy(), b.to_numpy()]), return_inverse=True
    )
    u, v = ends[: len(a)], ends[len(a) :]
    label = np.arange(len(nodes))
    while not np.array_equal(lu := label[u], lv := label[v]):
        low = np.minimum(lu, lv)
        np.minimum.at(label, lu, low)
        np.minimum.at(label, lv, low)
        while not np.array_equal(jumped := label[label], label):
            label = jumped
    labels = pairs.sparkSession.createDataFrame(
        pa.table(
            {
                "id": pa.array(nodes, a.type),
                "cluster_id": pa.array(nodes[label], a.type),
            }
        )
    )
    if ids is None:
        return labels
    singletons = ids.join(labels.select("id"), "id", "left_anti").selectExpr(
        "id", "id AS cluster_id"
    )
    return labels.union(singletons)


def duck_dedup_clusters_sql(table: str = "documents", threshold: float = 0.5) -> str:
    """Oracle for minhash-pair clustering: recursive CTE computing the
    min reachable id per node (UNION dedup makes the fixpoint converge)."""
    pairs = duck_minhash_lsh_sql(table, threshold=threshold).strip()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT doc_id AS id FROM {table}),
    reach(v, l) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.a, r.l FROM reach r JOIN edges e ON r.v = e.b
    )
    SELECT v AS id, CAST(min(l) AS BIGINT) AS cluster_id FROM reach GROUP BY v
    """


# ---------------------------------------------------------------------------
# edit-distance near-dup (blocked levenshtein)
# ---------------------------------------------------------------------------


def levenshtein_near_pairs(
    docs: DataFrame,
    max_dist: int = 10,
    prefix_chars: int = 120,
    block_prefix: int = 12,
    len_bucket: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, dist): pairs whose normalised-text prefixes are
    within ``max_dist`` edits — the short-text / title / boilerplate
    dedup shape where token-set measures (Jaccard) miss character-level
    edits (typos, version strings, near-identical templates).

    Scale shape: edit distance is O(len^2) per pair, so the candidate
    set must be tiny before any distance runs. Two cheap blocking keys —
    length bucket and a shared first-k-chars prefix — turn the n^2 pair
    space into sum(block^2), and the distance is computed on a capped
    prefix (``prefix_chars``) so per-pair cost is bounded regardless of
    document length. Edit distance >= length difference bounds
    qualifying pairs to ADJACENT buckets (``max_dist`` <= ``len_bucket``),
    but adjacency includes pairs *straddling* a bucket boundary (lengths
    19 vs 21 with bucket 20), so side ``a`` probes buckets
    {lb-1, lb, lb+1} (a 3x multiplication of one side's blocking rows,
    not of the corpus) while side ``b`` keeps its own bucket — each
    qualifying pair matches on exactly one probe key, so no DISTINCT
    pass is needed. All JVM-side built-ins (levenshtein is codegen'd),
    one shuffle on the block key."""
    norm = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    base = docs.select(
        F.col(id_col).alias("id"),
        F.substring(norm, 1, prefix_chars).alias("t"),
        F.floor(F.length(norm) / len_bucket).alias("lb"),
        F.substring(norm, 1, block_prefix).alias("pfx"),
    )
    a = base.selectExpr(
        "id AS doc_a",
        "t AS ta",
        "explode(array(lb - 1, lb, lb + 1)) AS lb",
        "pfx",
    )
    b = base.selectExpr("id AS doc_b", "t AS tb", "lb", "pfx")
    return (
        a.join(b, ["lb", "pfx"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def duck_levenshtein_sql(
    max_dist: int = 10,
    prefix_chars: int = 120,
    block_prefix: int = 12,
    len_bucket: int = 20,
    table: str = "documents",
) -> str:
    return f"""
    WITH n AS (SELECT doc_id,
        regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM {table}),
    b AS (SELECT doc_id, substr(nt, 1, {prefix_chars}) AS t,
        length(nt) // {len_bucket} AS lb, substr(nt, 1, {block_prefix}) AS pfx
        FROM n)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(levenshtein(a.t, b2.t) AS INT) AS dist
    FROM b a JOIN b b2
      ON abs(a.lb - b2.lb) <= 1 AND a.pfx = b2.pfx AND a.doc_id < b2.doc_id
    WHERE levenshtein(a.t, b2.t) <= {max_dist}
    """
