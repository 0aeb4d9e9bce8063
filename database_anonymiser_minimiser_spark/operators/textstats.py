"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, fingerprinting.

All pure JVM column expressions (split / regexp / array ops) — no Python
in the data path, so every operator whole-stage-codegens and scales
linearly with input splits. Each has an exact DuckDB oracle (the score
arithmetic uses integer counts and single double divisions, bit-identical
across engines).

These extend the reference's surface (it has no text operators) as the
north-star LLM-pipeline layer (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny marker vocabularies for the n-gram-free language heuristic: the
# count of *distinct marker types* present in the document decides.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "zh": ["de5", "shi4", "bu4", "wo3", "zai4", "you3", "le5", "ren2"],
}

STOPWORDS = LANG_MARKERS["en"]


def tokens_column(text: Column) -> Column:
    """Whitespace tokenisation, lowercased."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def quality_score_column(text: Column) -> Column:
    """The combined quality score as a single Column (exact integer
    intermediates, final double arithmetic — bit-identical cross-engine).
    Shared by ``quality_score`` and the composed curation pipeline."""
    toks = tokens_column(text)
    n_chars = F.length(text).cast("long")
    n_tokens = F.size(toks).cast("long")
    alpha_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z]", "")).cast("long")
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS]))
    ).cast("long")
    return (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + (alpha_chars.cast("double") / n_chars) * F.lit(0.4)
        + (stop_hits.cast("double") / F.lit(len(STOPWORDS))) * F.lit(0.2)
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality: length, mean token length, alpha ratio,
    stopword hit ratio — combined into one double score.

    Every intermediate is an exact integer (counts, lengths); the only
    float ops are final divisions, so Spark and DuckDB agree bitwise.
    """
    toks = tokens_column(F.col(text_col))
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(toks).cast("long")
    # total alphabetic chars (exact int): length minus non-alpha count
    alpha_chars = F.length(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", "")
    ).cast("long")
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS]))
    ).cast("long")
    mean_tok_len = (n_chars.cast("double") / n_tokens)
    alpha_ratio = alpha_chars.cast("double") / n_chars
    stop_ratio = stop_hits.cast("double") / F.lit(len(STOPWORDS))
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + alpha_ratio * F.lit(0.4)
        + stop_ratio * F.lit(0.2)
    )
    return df.select(
        id_col,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_token_len"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-vocabulary language ID: the language with the most distinct
    marker types present wins; ties break in fixed language order. This is
    the classic stopword-profile heuristic (an n-gram profile reduces to
    the same distinct-type-hit counting at word granularity)."""
    toks = F.array_distinct(tokens_column(F.col(text_col)))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        ).alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    }
    scored = df.select(id_col, *scores.values())
    langs = list(LANG_MARKERS)
    best: Column = F.lit(langs[-1])
    # fold right-to-left so earlier languages win ties
    for lang in reversed(langs[:-1]):
        cond = F.col(f"score_{lang}") >= F.greatest(
            *[F.col(f"score_{l}") for l in langs if l != lang]
        )
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return scored.select(
        id_col, *[f"score_{l}" for l in langs], best.alias("predicted_lang")
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """md5 over whitespace-normalised lowercase text."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(id_col, F.md5(norm.cast("binary")).alias("fingerprint"))


# ---- DuckDB oracle SQL builders (same semantics, DuckDB dialect) ----------


def duck_quality_score_sql(table: str = "documents") -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
      CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS mean_token_len,
      CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
      CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')), [{stop_list}])) AS DOUBLE) / {len(STOPWORDS)} AS stopword_ratio,
      least(len(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0) * 0.4
        + (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / length(text)) * 0.4
        + (CAST(len(list_intersect(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')), [{stop_list}])) AS DOUBLE) / {len(STOPWORDS)}) * 0.2
        AS quality_score
    FROM {table}
    """


def duck_language_id_sql(table: str = "documents") -> str:
    langs = list(LANG_MARKERS)
    score_exprs = []
    for lang, words in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_exprs.append(
            f"CAST(len(list_intersect(list_distinct(regexp_split_to_array("
            f"lower(trim(text)), '\\s+')), [{lst}])) AS INT) AS score_{lang}"
        )
    case = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        others = ", ".join(f"score_{l}" for l in langs if l != lang)
        case = f"CASE WHEN score_{lang} >= greatest({others}) THEN '{lang}' ELSE {case} END"
    return (
        f"SELECT doc_id, {', '.join('score_' + l for l in langs)}, {case} AS predicted_lang "
        f"FROM (SELECT doc_id, {', '.join(score_exprs)} FROM {table}) s"
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality gates: duplicate-word fraction and
    top-word fraction per document, plus the keep/drop verdict
    (dup < 0.3 AND top < 0.2 — the published Gopher rule thresholds for
    word-level repetition).

    Shape: explode words -> (doc, word) count -> per-doc rollup. Both
    aggregations partial-aggregate map-side; the (doc, word) key is high-
    cardinality and naturally well-spread, so at 100 TB this is two
    balanced shuffles with no skew hotspot (a repeated word only
    concentrates within its document's partition share). All metrics are
    integer counts surfaced through SINGLE double divisions — exact
    cross-engine."""
    words = df.select(
        F.col(id_col), F.explode(tokens_column(F.col(text_col))).alias("word")
    )
    wc = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("c"))
    m = wc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("max_c"),
    )
    dup = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_words")
    top = F.col("max_c").cast("double") / F.col("n_words")
    return m.select(
        id_col,
        "n_words",
        dup.alias("dup_word_frac"),
        top.alias("top_word_frac"),
        ((dup < 0.3) & (top < 0.2)).alias("keep"),
    )


def duck_repetition_sql(table: str = "documents") -> str:
    return f"""
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM {table}),
    wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
    m AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
                 max(c) AS max_c
          FROM wc GROUP BY doc_id)
    SELECT doc_id,
      CAST(n_words AS BIGINT) AS n_words,
      1.0 - CAST(n_distinct AS DOUBLE) / n_words AS dup_word_frac,
      CAST(max_c AS DOUBLE) / n_words AS top_word_frac,
      (1.0 - CAST(n_distinct AS DOUBLE) / n_words) < 0.3
        AND CAST(max_c AS DOUBLE) / n_words < 0.2 AS keep
    FROM m
    """


def duck_quality_expr(text: str = "text") -> str:
    """The quality_score_column expression in DuckDB dialect (same op
    order, so the doubles come out bit-identical cross-engine)."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"least(len(regexp_split_to_array(trim({text}), '\\s+')) / 100.0, 1.0) * 0.4"
        f" + (CAST(length(regexp_replace(lower({text}), '[^a-z]', '', 'g')) AS DOUBLE)"
        f" / length({text})) * 0.4"
        f" + (CAST(len(list_intersect(list_distinct(regexp_split_to_array("
        f"lower(trim({text})), '\\s+')), [{stop_list}])) AS DOUBLE)"
        f" / {len(STOPWORDS)}) * 0.2"
    )


def bigram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Cross-corpus bigram novelty — a perplexity-proxy quality signal.

    A document whose word bigrams appear NOWHERE else in the corpus is
    statistically surprising (gibberish, OCR noise, boilerplate-free
    uniqueness...); LM-based quality filters score exactly this property
    with a trained model. This operator computes the integer-exact
    corpus analogue: per document, the count of its distinct bigrams
    whose corpus document-frequency is 1 (novel = seen only here), plus
    a novelty rate. Integer aggregates + ONE final division keep the
    output bit-identical across engines (unlike a log-prob sum, whose
    accumulation order would drift).

    Scale shape: one shuffle keyed by bigram for the corpus df, one
    shuffle keyed by doc for the roll-up — the tf-df pattern. Bigram
    cardinality is corpus-bounded (Heaps' law); no per-pair or per-doc^2
    term anywhere. Docs with fewer than 2 tokens have no bigrams and
    drop out (guard documented; emit-with-zeros would need an outer join
    back to the id universe).

    r14 (guide §2.1/§2.2): the old shape fed the exploded bigram
    relation to THREE consumers (per-bigram df, per-(doc,bigram)
    distinct, per-doc totals) — Catalyst reuses no subtrees, so the
    corpus was tokenised+exploded three times per action. Now:
    ``n_bigrams`` is ``size(w) - 1``, computed map-side and carried
    through the aggregation keys (it is functionally dependent on the
    doc id — no join, no extra pass); the per-bigram document frequency
    rides ONE count window over the deduped relation (each (doc,bigram)
    row is one distinct doc for its bigram, so the window count equals
    the old countDistinct) instead of a groupBy feeding a join back
    into a second evaluation of the same subtree. One tokenise pass,
    three bounded shuffles, zero joins; every aggregate stays integer
    so the output is bit-identical."""
    w = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("w"),
    ).filter(F.size("w") >= 2)
    bi = w.select(
        F.col(id_col),
        (F.size("w") - 1).alias("n_bigrams"),
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")
        ).alias("bg"),
    )
    # distinct over (id, n_bigrams, bg) == distinct over (id, bg): the
    # instance count is a function of the id
    dist = bi.distinct()
    from pyspark.sql import Window

    dfreq = F.count(F.lit(1)).over(Window.partitionBy("bg"))
    return (
        dist.withColumn("df", dfreq)
        .groupBy(F.col(id_col), F.col("n_bigrams"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            id_col,
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            "n_distinct",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_distinct")).alias(
                "novelty_rate"
            ),
        )
    )


def duck_bigram_novelty_sql(table: str = "documents") -> str:
    return f"""
    WITH w AS (SELECT doc_id,
        regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM {table}),
    bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1]
        for i in range(1, len(w))]) AS bg FROM w WHERE len(w) >= 2),
    bdf AS (SELECT bg, count(DISTINCT doc_id) AS df FROM bi GROUP BY bg),
    dist AS (SELECT DISTINCT doc_id, bg FROM bi),
    tot AS (SELECT doc_id, count(*) AS n_bigrams FROM bi GROUP BY doc_id)
    SELECT t.doc_id, CAST(t.n_bigrams AS BIGINT) AS n_bigrams,
      CAST(count(*) AS BIGINT) AS n_distinct,
      CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        AS novelty_rate
    FROM dist JOIN bdf USING (bg) JOIN tot t USING (doc_id)
    GROUP BY t.doc_id, t.n_bigrams
    """


# ---------------------------------------------------------------------------
# Markup stripping (web-crawl ingest: boilerplate/tag removal)
# ---------------------------------------------------------------------------

# order matters and is part of the cross-engine contract: script/style
# BLOCKS go first (their text content must not leak into the clean text),
# then remaining tags, then a fixed entity-decode table, then whitespace
# collapse. All regex constructs used ((?is), lazy .*?, classes) mean the
# same thing in Java regex (Spark) and RE2 (DuckDB).
# no backreference (</\1>) — RE2 (DuckDB) does not support them
_MARKUP_BLOCKS = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
]
_MARKUP_TAGS = r"(?s)<[^>]*>"
_ENTITY_TABLE = [
    # &amp; LAST (standard decode order): decoding it first would
    # double-decode nested escapes — '&amp;lt;' means the literal text
    # '&lt;', not '<'. Both engines share this order (it is part of the
    # cross-engine contract), so the chain below and the DuckDB twin
    # stay in lockstep.
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def strip_markup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Strip HTML/XML markup from ``text_col`` — the extraction step a
    web-crawl corpus needs before any text operator sees it: script and
    style blocks removed WITH their contents, remaining tags removed,
    the six standard entities decoded, whitespace collapsed.

    Returns (id, clean, n_tags, n_entities); counts are taken on the
    original text (auditability: how markup-heavy was the page). Pure
    JVM regexp/replace chain — whole-stage codegen, no Python, mirrored
    exactly by :func:`duck_strip_markup_sql`."""
    text = F.col(text_col)
    n_tags = F.regexp_count(text, F.lit(_MARKUP_TAGS)).cast("long")
    n_entities = F.regexp_count(
        text, F.lit(r"&[a-z]+;|&#[0-9]+;")
    ).cast("long")
    return df.select(
        F.col(id_col),
        strip_markup_expr(text).alias("clean"),
        n_tags.alias("n_tags"),
        n_entities.alias("n_entities"),
    )


def strip_markup_expr(text: Column) -> Column:
    """The clean-text expression of :func:`strip_markup` alone — for
    composing into other pipelines (e.g. curation's --strip-markup
    pre-step) without restructuring their columns."""
    clean = text
    for block in _MARKUP_BLOCKS:
        clean = F.regexp_replace(clean, block, " ")
    clean = F.regexp_replace(clean, _MARKUP_TAGS, " ")
    for ent, ch in _ENTITY_TABLE:
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(clean, r"\s+", " "))


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks per document — the context-window
    slicing every RAG indexing / training-sequence pipeline performs:
    whitespace tokens, chunks of ``window`` tokens starting every
    ``stride`` (overlap = window - stride), the final chunk short.

    (doc_id, chunk_idx, chunk_start, n_tokens, chunk) — chunk ids are
    deterministic (position-derived), so re-chunking a corpus is
    idempotent and chunks are stable join keys for embeddings built on
    top. Pure JVM sequence/slice/concat expressions over one scan: no
    shuffle, no Python; output rows ≈ corpus_tokens / stride, linear.

    Exactness: token arithmetic only (integer positions, string
    joins) — bit-identical cross-engine by construction."""
    if not (0 < stride <= window):
        raise ValueError(
            f"need 0 < stride <= window, got stride={stride} window={window}"
        )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    piece = F.slice(F.col("_t"), F.col("chunk_start") + 1, window)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk"),
    )


def duck_chunk_sql(
    table: str = "documents",
    window: int = 64,
    stride: int = 48,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`chunk_documents` (list_slice is inclusive
    on both ends, hence start+window as the end bound for start+1)."""
    return f"""
    WITH t AS (SELECT {id_expr} AS doc_id,
        regexp_split_to_array(trim({text_expr}), '\\s+') AS toks
      FROM {table}),
    s AS (SELECT doc_id, toks,
        unnest(generate_series(0, greatest(len(toks) - 1, 0), {stride}))
          AS chunk_start
      FROM t)
    SELECT doc_id, CAST(chunk_start // {stride} AS BIGINT) AS chunk_idx,
      CAST(chunk_start AS BIGINT) AS chunk_start,
      CAST(len(list_slice(toks, chunk_start + 1, chunk_start + {window}))
        AS BIGINT) AS n_tokens,
      array_to_string(list_slice(toks, chunk_start + 1,
        chunk_start + {window}), ' ') AS chunk
    FROM s
    """


def duck_strip_markup_sql(text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB twin of :func:`strip_markup` (same pattern order; DuckDB
    regexp_replace needs the explicit 'g' flag Spark applies always)."""
    clean = text_expr
    for block in _MARKUP_BLOCKS:
        clean = f"regexp_replace({clean}, '{block}', ' ', 'g')"
    clean = f"regexp_replace({clean}, '{_MARKUP_TAGS}', ' ', 'g')"
    for ent, ch in _ENTITY_TABLE:
        lit = ch.replace("'", "''")
        clean = f"replace({clean}, '{ent}', '{lit}')"
    clean = f"trim(regexp_replace({clean}, '\\s+', ' ', 'g'))"
    return (
        f"SELECT {id_expr} AS doc_id, {clean} AS clean, "
        f"CAST(len(regexp_extract_all({text_expr}, '{_MARKUP_TAGS}')) AS BIGINT) AS n_tags, "
        f"CAST(len(regexp_extract_all({text_expr}, '&[a-z]+;|&#[0-9]+;')) AS BIGINT) AS n_entities"
    )
