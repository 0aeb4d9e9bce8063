"""Similarity search over embedding columns (array<float>).

Two paths, per SURVEY.md's north-star extensions:

- brute-force cosine top-k: broadcast the (small) query set, cross-join
  against the corpus, fold the dot product with built-in higher-order
  array functions (zip_with/aggregate — JVM-side, no UDF), rank per
  query. Linear in corpus size, embarrassingly parallel: the corpus side
  never shuffles. This is the exact baseline,
- LSH-bucketed ANN: deterministic random-hyperplane signatures (sign of
  dot with fixed literal planes) bucket the corpus; only the query's
  bucket is scanned and re-ranked exactly. The scale path: bucket count
  grows 2^planes, per-bucket work shrinks proportionally.

Floating-point discipline: embeddings are cast float->double *before*
multiplication and folded strictly left-to-right, matching the DuckDB
oracle's ``list_reduce`` fold — the doubles come out bit-identical, so
even ranks-by-cosine compare exactly across engines.

Every top-k operator here is score, rank per query, cut, and each
decision it shares with the others is stated once:

- ``_top_k``: the per-query cut — ``row_number`` over ``query_id``
  ordered by the score, ties to the lower ``neighbor_id``, ``rank <= k``;
- ``_table_rows``: the one driver-side form of a centroid table, a PQ
  codebook or a query batch — ``(id, [float])`` pairs sorted by id;
  ``_smallest_ids`` is the deterministic stand-in table an index seeds
  from when none is given;
- ``_probe_queries`` / ``_nearest_cells``: a query's ``nprobe`` nearest
  IVF cells, in SQL over centroid literals or on the driver;
- ``_adc_queries``: the PQ/ADC lookup tables as one broadcast literal
  relation plus the ``element_at`` score, for every PQ serve;
- ``_rescore_top_k``: the exact cosine rescore of a shortlist;
- ``_lsh_topk``: the one LSH body, single- and multi-probe.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import release_registry
from .compaction import _hfs_delete, _swap_in
from .dedup import _without_tombstoned_ids


# ---------------------------------------------------------------------------
# fold expressions (spark + duckdb mirrors)
# ---------------------------------------------------------------------------


def _spark_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _spark_norm(a: str) -> str:
    return f"sqrt({_spark_dot(a, a)})"


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _duck_norm(a: str) -> str:
    return f"sqrt({_duck_dot(a, a)})"


# ---------------------------------------------------------------------------
# shared kernels
# ---------------------------------------------------------------------------


def _top_k(
    cand: DataFrame,
    k: int,
    score: str,
    ascending: bool = False,
    keep_score: bool = False,
) -> DataFrame:
    """The per-query top-k cut: number each query's candidates by
    ``score`` (descending, or ascending for a distance), ties to the
    lower ``neighbor_id``, as ``rank`` and keep ``rank <= k``. Returns
    (query_id, neighbor_id[, score], rank); the DuckDB twins state the
    same ``row_number`` window."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    cols = ["query_id", "neighbor_id"] + ([score] if keep_score else [])
    return cand.select(*cols, F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= int(k)
    )


def _table_rows(rows) -> "list[tuple[int, list[float]]]":
    """The one driver-side form of a centroid table, a PQ codebook or a
    query batch: ``(id, [float, ...])`` pairs sorted by id. Takes a
    ``(cid, cv)`` DataFrame (collected here), or rows given as
    ``(id, vector)`` tuples/Rows or ``{"cid", "cv"}`` dicts. Python
    floats are IEEE doubles, so literals and driver-side folds over
    these vectors equal the engines' folds over the stored values."""
    if isinstance(rows, DataFrame):
        rows = rows.select("cid", "cv").collect()
    pairs = (
        (r["cid"], r["cv"]) if isinstance(r, dict) else (r[0], r[1])
        for r in rows
    )
    return sorted(
        ((int(i), [float(v) for v in vec]) for i, vec in pairs),
        key=lambda r: r[0],
    )


def _probe_queries(queries: DataFrame, cent_rows, nprobe: int) -> DataFrame:
    """(query_id, qv, _qnrm) -> one row per probed cell ``qcid``: the
    ``nprobe`` nearest centroids by (cosine DESC, cid ASC), ranked in
    one projection over the centroid literals (array_sort ascending by
    (ccos, negcid), then reversed). The query side is a handful of
    rows, so the full scored array is cheap here."""
    scored_arr = _centroid_scored_array(cent_rows, "qv", "_qnrm")
    nprobe = min(int(nprobe), len(cent_rows))
    probe = f"slice(reverse(array_sort({scored_arr})), 1, {nprobe})"
    return queries.select(
        "query_id",
        "qv",
        "_qnrm",
        # coalesce keeps the element non-nullable: the cid == qcid
        # join then infers no IsNotNull(qcid), which would otherwise
        # re-evaluate the probe scoring below this projection
        F.expr(f"transform({probe}, s -> coalesce(s.cid, -1))").alias("qcids"),
    ).select("query_id", "qv", "_qnrm", F.explode("qcids").alias("qcid"))


def _nearest_cells(qv: "list[float]", cent_rows, nprobe: int) -> "list[int]":
    """Driver-side twin of :func:`_probe_queries` for one query vector:
    the ``nprobe`` cells by cosine DESC (the engines' fold order), lowest
    cid on ties."""
    scored = sorted(
        ((_py_cos(qv, cv), -cid) for cid, cv in cent_rows), reverse=True
    )
    return [-negcid for _cos, negcid in scored[: int(nprobe)]]


def _adc_queries(spark, code_rows, q_rows, m: int, probes=None):
    """The ADC kernel every PQ serve shares. ``code_rows`` is the
    codebook and ``q_rows`` the query batch, both in the
    :func:`_table_rows` form; ``probes`` optionally maps each query id
    to its probe cells. Returns ``(queries, score)``:

    - ``queries``: one broadcastable literal relation — per query (per
      query and probe cell when ``probes`` is given, with ``qcid``) its
      BIGINT ``query_id`` (the type the oracle surfaces; a bare literal
      would bind INT) and the m lookup tables ``t0..t{m-1}``, each
      entry the driver-side squared L2 of a query subvector to one
      codebook subvector, folded as the engines fold;
    - ``score``: ``_adc``, the m table lookups summed left-to-right in
      subspace order, as the oracle folds ``list(d ORDER BY s)``.

    Codes are positional: codebook entry j (ascending cid) is table
    slot j+1, so the codebook ids must be exactly 0..K-1."""
    m = int(m)
    if [c for c, _ in code_rows] != list(range(len(code_rows))):
        raise ValueError("pq codebook ids must be 0..K-1 for table lookup")
    dsub = len(code_rows[0][1]) // m
    elems = []
    for qid, qv in q_rows:
        tables = []
        for s in range(m):
            qsub = _pq_sub(qv, s, dsub)
            tab = ", ".join(
                f"CAST({_py_sq_dist(qsub, _pq_sub(cv, s, dsub))!r} AS DOUBLE)"
                for _c, cv in code_rows
            )
            tables.append(f"array({tab}) AS t{s}")
        head = f"struct(CAST({qid} AS BIGINT) AS query_id, "
        for cell in [None] if probes is None else probes[qid]:
            qcid = "" if cell is None else f"{cell} AS qcid, "
            elems.append(head + qcid + ", ".join(tables) + ")")
    queries = spark.range(1).select(
        F.explode(F.expr("array(" + ", ".join(elems) + ")")).alias("q")
    ).select("q.*")
    score = F.expr(" + ".join(f"element_at(t{s}, c{s} + 1)" for s in range(m)))
    return queries, score.alias("_adc")


def _rescore_top_k(
    vecs: DataFrame, pairs: DataFrame, queries: DataFrame, k: int, nnorm
) -> DataFrame:
    """The exact rescore stage: the shortlisted ``pairs`` (query_id,
    neighbor_id) fetch their neighbours' float vectors from ``vecs``
    (nid, _nv, ...) and their queries' from ``queries`` (query_id, _qv),
    both small sides broadcast so the vector side streams unshuffled;
    each pair is scored by exact cosine with the proven ascending-index
    dot/norm folds and cut by :func:`_top_k`. ``nnorm`` is the
    neighbour's norm: the fold itself, or the one the index stored at
    write time (the same fold). Returns (query_id, neighbor_id, cosine,
    rank)."""
    cos = F.expr(_spark_dot("_nv", "_qv")) / (
        nnorm * F.expr(_spark_norm("_qv"))
    )
    scored = (
        vecs.join(F.broadcast(pairs), F.col("nid") == F.col("neighbor_id"))
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _top_k(scored, k, "cosine", keep_score=True)


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------


def topk_cosine(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank): exact top-k by cosine for each query
    vector, self-match excluded, ties broken by neighbor id.

    The query side is broadcast (it is a handful of vectors); the corpus
    side streams through map-side only — no shuffle until the final
    per-query top-k, which TakeOrdered handles per partition then merges.

    Each side's norm is folded ONCE in its pre-join projection (the join
    is a projection-collapse barrier), so each of the |queries| x
    |corpus| pairs costs one dot fold + scalar ops instead of three
    folds — identical doubles to the all-inline form (same ops, same
    order), so the DuckDB oracle compares bit-exact either way."""
    queries = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(_spark_norm(vec_col)).alias("qnrm"),
    )
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.expr(_spark_norm(vec_col)).alias("nnrm"),
    )
    cos = F.expr(_spark_dot("qv", "nv")) / (F.col("qnrm") * F.col("nnrm"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _top_k(scored, k, "cosine")


def topk_cosine_numpy(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    margin: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k with the dense math in numpy (Arrow
    batches via mapInPandas): the vectorised scale path for embedding
    scoring — one BLAS matmul per Arrow batch instead of a per-pair
    interpreted fold, typically 10-100x the arithmetic throughput of
    row-at-a-time expressions on wide vectors.

    Exactness discipline: numpy only PRUNES — each batch emits its top
    (k + margin) candidate ids per query by numpy cosine, then the
    exact JVM fold re-scores ONLY those candidates and ranks them, so
    the output is bit-identical to ``topk_cosine`` (and shares its
    DuckDB oracle) unless float divergence around the pruning boundary
    exceeds ``margin`` ranks — vanishingly unlikely for real data, and
    caught by the oracle if it ever happens.

    Scale shape: queries ride into executors as a closure-captured
    (q x dim) matrix; the corpus streams through in Arrow batches
    map-side (no shuffle); candidates are ~batches * q * (k+margin)
    rows — tiny — and the exact rerank broadcasts them twice against
    the corpus for vector fetch."""
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    # empty query set: norm over a (0,)-shaped array would raise; the
    # correct answer is simply no neighbors
    if len(q_rows) == 0:
        return (
            emb.select(
                F.col(id_col).cast("long").alias("query_id"),
                F.col(id_col).cast("long").alias("neighbor_id"),
                F.lit(1).alias("rank"),
            ).limit(0)
        )
    qmat = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    # zero-norm vectors would divide to NaN and silently distort the
    # pruning order; map them to zero similarity instead (the exact JVM
    # rerank applies the true cosine to whatever survives)
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn = np.divide(qmat, qnorm, out=np.zeros_like(qmat), where=qnorm != 0)
    take = k + margin

    def prune(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if len(ids) == 0:  # empty Arrow batch: nothing to prune
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(v, axis=1, keepdims=True)
            vn = np.divide(v, vnorm, out=np.zeros_like(v), where=vnorm != 0)
            sims = qn @ vn.T  # (q, batch)
            out_q, out_n = [], []
            for qi in range(len(qids)):
                s = sims[qi]
                mask = ids != qids[qi]
                s, nb = s[mask], ids[mask]
                if len(nb) == 0:
                    continue
                # top-take by (cosine desc, neighbor asc)
                order = np.lexsort((nb, -s))[:take]
                out_q.extend([qids[qi]] * len(order))
                out_n.extend(nb[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n})

    cand = emb.select(id_col, vec_col).mapInPandas(
        prune, "query_id long, neighbor_id long"
    )
    nv = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    qv = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.expr(_spark_norm(vec_col)).alias("qnrm"),
    )
    # exact rerank: the same fold/op-order as topk_cosine, candidates only.
    # No dedup needed: each corpus vector lives in exactly one Arrow
    # batch, so a (query, neighbor) pair is emitted at most once; a
    # global top-k member always ranks <= k within its own batch, so
    # per-batch pruning provably contains the exact answer.
    # Zero-norm guard mirrors the numpy pruning side (similarity 0, not a
    # DIVIDE_BY_ZERO under ANSI); for nonzero norms the branch is the
    # bit-identical division topk_cosine computes.
    denom = F.col("qnrm") * F.expr(_spark_norm("nv"))
    cos = F.when(denom != 0, F.expr(_spark_dot("qv", "nv")) / denom).otherwise(
        F.lit(0.0)
    )
    scored = (
        nv.join(F.broadcast(cand), nv.nid == F.col("neighbor_id"))
        .join(F.broadcast(qv), F.col("query_id") == F.col("qid"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _top_k(scored, k, "cosine")


def duck_topk_cosine_sql(
    query_ids: list[int], k: int = 5, table: str = "embeddings"
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = f"{_duck_dot('q.qv', 'c.nv')} / ({_duck_norm('q.qv')} * {_duck_norm('c.nv')})"
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM {table}
               WHERE vec_id IN ({ids})),
    c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM {table}),
    scored AS (SELECT query_id, neighbor_id, {cos} AS cosine
               FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    ranked AS (SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs (within a blocking key)
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "exact",
) -> DataFrame:
    """(vec_a, vec_b, cosine >= threshold) within each blocking bucket.

    Brute force within blocks: the join shuffles on the block key, so
    work is sum(block^2) not n^2 — choose the block column accordingly
    (cluster id from any cheap pre-clustering works; label here).

    ``mode="exact"``: every pair's cosine is a JVM fold — the reference
    formulation the DuckDB oracle mirrors bit-for-bit. Each row's norm is
    computed ONCE in the pre-join projection (the join is a
    projection-collapse barrier, so Catalyst cannot inline it back into
    the per-pair expression); each of the O(block^2) pairs then costs a
    single dot-product fold + scalar ops instead of three folds.

    ``mode="numpy_prune"``: same result, BYTE-IDENTICAL (equality-tested
    in tests/test_similarity.py), ~7x faster at sf1 (174s -> 24s). Each
    block's pair matrix is ONE BLAS matmul inside applyInPandas; pairs
    clearing ``threshold - 1e-9`` become candidates (indices only), and
    the emitted cosine is then recomputed with the SAME JVM fold as the
    exact path, so low-bit BLAS/fold summation-order differences cannot
    leak into the output — numpy only PRUNES, with the 1e-9 margin
    covering float divergence at the boundary (same discipline as
    topk_cosine_numpy). Memory: the matmul is O(block^2) doubles per
    group — at 100 TB use a finer pre-cluster as block_col (the same
    requirement the exact mode's join already has)."""
    if mode == "numpy_prune":
        import numpy as np
        import pandas as pd

        def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            Vn = np.divide(V, nrm, out=np.zeros_like(V), where=nrm != 0)
            C = Vn @ Vn.T
            iu, ju = np.nonzero(np.triu(C >= threshold - 1e-9, k=1))
            return pd.DataFrame({
                "vec_a": np.minimum(ids[iu], ids[ju]),
                "vec_b": np.maximum(ids[iu], ids[ju]),
            })

        cands = (
            emb.select(block_col, id_col, vec_col)
            .groupBy(block_col)
            .applyInPandas(block_pairs, schema="vec_a long, vec_b long")
        )
        va = emb.select(
            F.col(id_col).alias("vec_a"),
            F.col(vec_col).alias("va"),
            F.expr(_spark_norm(vec_col)).alias("na"),
        )
        vb = emb.select(
            F.col(id_col).alias("vec_b"),
            F.col(vec_col).alias("vb"),
            F.expr(_spark_norm(vec_col)).alias("nb"),
        )
        cos = F.expr(_spark_dot("va", "vb")) / (F.col("na") * F.col("nb"))
        return (
            cands.join(va, "vec_a")
            .join(vb, "vec_b")
            .select("vec_a", "vec_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    a = emb.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        F.expr(_spark_norm(vec_col)).alias("na"),
        F.col(block_col).alias("blk"),
    )
    b = emb.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        F.expr(_spark_norm(vec_col)).alias("nb"),
        F.col(block_col).alias("blk"),
    )
    cos = F.expr(_spark_dot("va", "vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "blk")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def duck_embedding_neardup_sql(
    threshold: float = 0.95, table: str = "embeddings"
) -> str:
    # mirror of the norm-precomputed form: same dot/(na*nb) op order so
    # doubles stay bit-identical
    cos = f"{_duck_dot('a.nv', 'b.nv')} / (a.nrm * b.nrm)"
    return f"""
    WITH n AS (SELECT vec_id, label, embedding AS nv,
        {_duck_norm('embedding')} AS nrm FROM {table})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes, deterministic)
# ---------------------------------------------------------------------------


def _hyperplanes(num_planes: int, dim: int) -> list[list[int]]:
    """Fixed +-1 hyperplanes derived from md5 — identical literals land in
    both engines' SQL, so bucketing is reproducible everywhere."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane-{p}-{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def _bucket_expr_spark(vec: str, planes: list[list[int]]) -> str:
    bits = []
    for p, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + ")"
        bits.append(f"CASE WHEN {_spark_dot(vec, arr)} > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(bits)


def _bucket_expr_duck(vec: str, planes: list[list[int]]) -> str:
    bits = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + "]"
        bits.append(f"CASE WHEN {_duck_dot(vec, arr)} > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(bits)


def _centroid_literal(cv: list[float]) -> str:
    """Literal array<double> SQL text for one centroid vector. Collected
    floats round-trip exactly (float32 -> Python float -> DOUBLE literal),
    so folds over the literal equal folds over the stored column."""
    return "array(" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in cv) + ")"


def _py_norm(cv: list[float]) -> float:
    """Driver-side centroid norm with the SAME strict left-to-right
    IEEE-double fold as ``_spark_norm`` / ``_duck_norm`` (Python floats
    ARE IEEE doubles), so the embedded literal is bit-identical to what
    either engine would compute over the stored values. Precomputing it
    matters because higher-order-function folds are not constant-folded
    by Catalyst — an in-expression centroid norm would be re-folded for
    every corpus row."""
    import math

    acc = 0.0
    for v in cv:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def _centroid_scored_array(cent_rows, vec_col: str, norm_col: str) -> str:
    """SQL text: array of struct(ccos, negcid, cid) — the cosine of
    ``vec_col`` against every centroid literal. ``array_max`` over it is
    argmax by (ccos DESC, cid ASC): max ccos first, then max negcid ==
    lowest cid — the same tie-break as row_number ORDER BY ccos DESC,
    cid. Centroid norms are precomputed driver-side literals
    (``_py_norm``); the row norm is referenced as ``norm_col``, computed
    once in a separate projection (HOF folds neither constant-fold nor
    benefit from codegen subexpression elimination, so every repeated
    fold here would be paid per row x per centroid). ``cent_rows`` is in
    the :func:`_table_rows` form."""
    elems = []
    for cid, cv in cent_rows:
        arr = _centroid_literal(cv)
        ccos = (
            f"({_spark_dot(vec_col, arr)} / "
            f"({norm_col} * CAST({_py_norm(cv)!r} AS DOUBLE)))"
        )
        elems.append(
            f"struct({ccos} AS ccos, {-cid} AS negcid, {cid} AS cid)"
        )
    return "array(" + ", ".join(elems) + ")"


def assign_to_centroids(
    emb: DataFrame,
    cent_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(nid, nv, cid): every corpus vector labelled with its nearest
    centroid — ONE narrow projection, no join, no row multiplication,
    no shuffle.

    This replaces the round-2 crossJoin(broadcast(centroids)) +
    Window.partitionBy(nid) argmax, which materialised corpus x k rows
    and shuffled the whole corpus per assignment — a k-fold blow-up
    that is fatal at 100 TB with realistic k (1024+). Here the k
    centroids ride into the executors as literals inside one projected
    expression; cost is k dot-folds + 1 norm-fold per row, map-side
    only (two stacked Projects, which CollapseProject keeps separate
    because the norm fold is non-cheap and referenced k times).

    Practical ceiling of the literal embedding: the generated SQL text
    grows as O(k * dim) numeric literals (~20 bytes each), and Catalyst
    analysis + Janino codegen degrade long before the text itself is a
    memory problem — k * dim beyond roughly 10^5 cells (e.g. 1024 x 128)
    risks 64KB-method codegen fallback and minutes-long planning. Past
    that, use ``assign_to_centroids_chunked`` below: the same argmax
    scored over bounded centroid chunks and folded with one
    ``greatest`` — bit-identical output (equality-tested per chunk
    size), still map-side. Only if even chunking is impractical
    (k * dim in the 10^7 range) fall back to a broadcast-join
    assignment and accept the row multiplication it brings.

    ``cent_rows``: the centroid table in any form :func:`_table_rows`
    takes."""
    scored = _centroid_scored_array(_table_rows(cent_rows), "nv", "nrm")
    # coalesce with an unreachable sentinel: the scored array is a
    # non-empty literal, so array_max(...).cid is never null in practice
    # — but Catalyst cannot prove that, marks cid NULLABLE, and every
    # downstream equi-join on cid then infers an IsNotNull(cid) filter
    # that gets pushed BELOW this projection with the whole k-centroid
    # scoring expression substituted into it (r14 plan audit: the
    # bitext/IVF-PQ candidate joins evaluated all k dot-folds AND k
    # norm-folds a second time, per corpus row, inside that filter —
    # the "never filter on a computed array expr" class resurfacing via
    # join null-checks). A non-null literal branch makes the attribute
    # non-nullable, so no null-filter is ever inferred; values are
    # unchanged.
    return (
        emb.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nv"),
            F.expr(_spark_norm(vec_col)).alias("nrm"),
        )
        .select(
            "nid", "nv", "nrm",
            F.expr(f"coalesce(array_max({scored}).cid, -1)").alias("cid"),
        )
    )


def assign_to_centroids_chunked(
    emb: DataFrame,
    cent_rows,
    chunk_size: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The large-k form of ``assign_to_centroids``: identical output
    (same argmax, same tie-break), but the k centroids are scored in
    ⌈k/chunk_size⌉ bounded ``array_max`` expressions whose per-chunk
    winners fold with one ``greatest`` — struct ordering (ccos DESC via
    max, then negcid for lowest-cid ties) is the same comparison
    array_max uses, so chunking is associativity, not approximation.
    Keeps every generated expression under the Janino/analysis ceiling
    documented above while staying map-side: still no join, no row
    multiplication, no shuffle."""
    rows = _table_rows(cent_rows)
    chunks = [rows[i : i + chunk_size] for i in range(0, len(rows), chunk_size)]
    df = emb.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.expr(_spark_norm(vec_col)).alias("nrm"),
    )
    best_cols = []
    for j, ch in enumerate(chunks):
        scored = _centroid_scored_array(ch, "nv", "nrm")
        df = df.withColumn(f"_best{j}", F.expr(f"array_max({scored})"))
        best_cols.append(f"_best{j}")
    combined = (
        best_cols[0]
        if len(best_cols) == 1
        else "greatest(" + ", ".join(best_cols) + ")"
    )
    return df.select(
        "nid", "nv", "nrm",
        # same non-nullable coalesce as assign_to_centroids: stops
        # join-inferred IsNotNull(cid) from re-evaluating the chunked
        # argmax below the projection
        F.expr(f"coalesce({combined}.cid, -1)").alias("cid"),
    )


def train_ivf_centroids(
    emb: DataFrame,
    num_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column, pure DataFrame ops —
    returns a (cid int, cv array<double>) centroid DataFrame for
    ``ann_ivf_topk``.

    Per iteration: assign every vector to its argmax-cosine centroid via
    ``assign_to_centroids`` — a single map-side projection over centroid
    literals (no crossJoin, no row multiplication, no shuffle for
    assignment), then recompute each centroid as the element-wise mean
    of its members via posexplode -> groupBy(cid, pos) avg ->
    re-assemble (the mean of k*dim cells is one partial-aggregated
    shuffle of k*dim rows, not vectors). The k x dim centroid matrix is
    collected to the driver between iterations (bytes, not data — the
    same driver-sync every distributed k-means does) so each round
    embeds fresh literals and the lineage stays flat. Empty clusters
    keep their previous centroid. Deterministic: first-k init by id,
    cosine ties break on lowest cid."""
    spark = emb.sparkSession
    cent_rows = _table_rows(
        emb.filter(F.col(id_col) < num_centroids).select(id_col, vec_col).collect()
    )
    for _ in range(iters):
        assigned = assign_to_centroids(emb, cent_rows, id_col, vec_col)
        means = (
            assigned.select(
                "cid", F.posexplode(F.col("nv").cast("array<double>"))
            )
            .groupBy("cid", "pos")
            .agg(F.avg("col").alias("v"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
            .select("cid", F.transform("s", lambda x: x["v"]).alias("cv"))
        )
        updated = dict(_table_rows(means))
        cent_rows = [(cid, updated.get(cid, cv)) for cid, cv in cent_rows]
    return spark.createDataFrame(cent_rows, "cid int, cv array<double>")


def save_centroids(centroids: DataFrame, path: str) -> None:
    """Persist a trained centroid table (cid, cv) as parquet — train
    ONCE per corpus snapshot offline, then every probe run loads the
    k x dim table (bytes) instead of re-training. This is the missing
    half of keeping k-means out of the query path."""
    centroids.write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> DataFrame:
    """Load persisted centroids for ``ann_ivf_topk(..., centroids=...)``."""
    return spark.read.parquet(path)


def ann_ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted lists by nearest
    centroid; a query scans only its ``nprobe`` nearest centroids' lists.

    ``centroids`` defaults to the first ``num_centroids`` vectors by id —
    the deterministic stand-in that the cross-engine oracle mirrors; pass
    ``train_ivf_centroids(emb)`` for k-means-trained cells (better recall
    on clustered data — asserted in tests/test_similarity.py). Train ONCE
    per corpus offline and reuse — training never sits in the query path.

    Scale shape: the k centroids are collected driver-side (k x dim
    floats — bytes) and embedded as literal structs in ONE projection
    that labels each corpus vector with its argmax-cosine cell
    (``assign_to_centroids``) — no crossJoin row blow-up, no
    Window.partitionBy shuffle of the corpus (round 2's plan did both;
    at 100 TB and k=1024 that multiplied the corpus x k and shuffled
    it per run). Queries rank ALL k cells in the same projection
    (array_sort of the scored literal array) and probe their top
    ``nprobe``; the candidate join broadcasts the tiny query side, so
    the corpus never shuffles at all. The only exchange left is the
    final per-query top-k over candidates (nprobe/k of the corpus).
    Work per query: nprobe * |corpus| / num_centroids on average, vs
    |corpus| for brute force. Recall loss at cell boundaries is the IVF
    trade-off — raise ``nprobe`` to recover it."""
    cent_rows = _table_rows(
        emb.filter(F.col(id_col) < num_centroids).select(id_col, vec_col).collect()
        if centroids is None
        else centroids
    )
    assigned = assign_to_centroids(emb, cent_rows, id_col, vec_col)
    # queries probe their top-nprobe cells (nprobe=1 == their own cell),
    # ranked (ccos DESC, cid ASC) — the ranking the round-2 window produced
    queries = _probe_queries(
        emb.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.expr(_spark_norm(vec_col)).alias("_qnrm"),
        ),
        cent_rows,
        nprobe,
    )
    # both norms ride in from the pre-join projections — one dot fold
    # per candidate pair; same op order as the oracle, bit-identical
    cos_q = F.expr(_spark_dot("qv", "nv")) / (F.col("_qnrm") * F.col("nrm"))
    cand = (
        assigned.join(F.broadcast(queries), F.col("cid") == F.col("qcid"))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", F.col("nid").alias("neighbor_id"), cos_q.alias("cosine"))
    )
    return _top_k(cand, k, "cosine")


def duck_ann_ivf_sql(
    query_ids: list[int],
    k: int = 5,
    num_centroids: int = 8,
    table: str = "embeddings",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos_c = (
        f"{_duck_dot('e.embedding', 'c.cv')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('c.cv')})"
    )
    cos_q = f"{_duck_dot('q.qv', 'a.nv')} / ({_duck_norm('q.qv')} * {_duck_norm('a.nv')})"
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM {table}
                  WHERE vec_id < {num_centroids}),
    scored AS (SELECT e.vec_id AS nid, e.embedding AS nv, c.cid, {cos_c} AS ccos
               FROM {table} e CROSS JOIN cent c),
    assigned AS (SELECT nid, nv, cid FROM (
        SELECT nid, nv, cid,
          row_number() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS rn
        FROM scored) t WHERE rn = 1),
    q AS (SELECT nid AS query_id, nv AS qv, cid AS qcid FROM assigned
          WHERE nid IN ({ids})),
    cand AS (SELECT q.query_id, a.nid AS neighbor_id, {cos_q} AS cosine
             FROM assigned a JOIN q ON a.cid = q.qcid
             WHERE a.nid <> q.query_id),
    ranked AS (SELECT query_id, neighbor_id,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM cand)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


def ann_lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only candidates in the query's hyperplane-sign
    bucket are scored. 2^num_planes buckets -> ~n/2^p candidates per
    query; exact re-rank inside the bucket. Misses neighbors across the
    bucket boundary — the accepted ANN trade-off (multi-probe extends
    recall; see docstring tests)."""
    return _lsh_topk(emb, query_ids, k, num_planes, dim, id_col, vec_col, ())


def duck_ann_lsh_sql(
    query_ids: list[int],
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    planes = _hyperplanes(num_planes, dim)
    ids = ", ".join(str(i) for i in query_ids)
    bucket = _bucket_expr_duck("embedding", planes)
    cos = f"{_duck_dot('q.qv', 'c.nv')} / ({_duck_norm('q.qv')} * {_duck_norm('c.nv')})"
    return f"""
    WITH bucketed AS (SELECT vec_id AS nid, embedding AS nv,
        CAST({bucket} AS INT) AS bucket FROM {table}),
    q AS (SELECT nid AS query_id, nv AS qv, bucket AS qbucket
          FROM bucketed WHERE nid IN ({ids})),
    c AS (SELECT * FROM bucketed),
    scored AS (SELECT query_id, c.nid AS neighbor_id, {cos} AS cosine
        FROM c JOIN q ON c.bucket = q.qbucket WHERE c.nid <> q.query_id),
    ranked AS (SELECT query_id, neighbor_id,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k: each query scans its own bucket PLUS every
    bucket at Hamming distance 1 in signature space (flip each plane
    bit once) — the standard recall-recovery technique: a true neighbor
    that lands across one hyperplane boundary is found without doubling
    the table count. Candidate volume grows (num_planes+1)x, still
    ~n * (p+1) / 2^p of brute force.

    Scale shape: identical to single-probe — the corpus is bucketed
    once map-side; only the tiny query side explodes to its probe list
    and broadcasts; each corpus vector lives in exactly ONE bucket, so
    probe buckets are disjoint and no candidate dedup pass is needed."""
    return _lsh_topk(
        emb, query_ids, k, num_planes, dim, id_col, vec_col, range(num_planes)
    )


def _lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    num_planes: int,
    dim: int,
    id_col: str,
    vec_col: str,
    flips,
) -> DataFrame:
    """The one LSH body: the corpus is bucketed once map-side; each
    query probes its own bucket plus, for each plane index in
    ``flips``, the bucket with that signature bit flipped; candidates
    are re-ranked by exact cosine and cut by :func:`_top_k`."""
    planes = _hyperplanes(num_planes, dim)
    bucketed = emb.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.expr(_spark_norm(vec_col)).alias("nnrm"),
        F.expr(_bucket_expr_spark(vec_col, planes)).cast("int").alias("bucket"),
    )
    probes = ", ".join(["qbucket"] + [f"qbucket ^ {1 << p}" for p in flips])
    queries = (
        bucketed.filter(F.col("nid").isin(query_ids))
        .select(
            F.col("nid").alias("query_id"),
            F.col("nv").alias("qv"),
            F.col("nnrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
        )
        .select(
            "query_id",
            "qv",
            "qnrm",
            F.explode(F.expr(f"array({probes})")).alias("pbucket"),
        )
    )
    # norms folded once per row before the join (projection barrier);
    # per-pair cost is one dot fold — identical doubles to the inline
    # form, so the oracle's all-inline cosine compares bit-exact
    cos = F.expr(_spark_dot("qv", "nv")) / (F.col("qnrm") * F.col("nnrm"))
    scored = (
        bucketed.join(F.broadcast(queries), F.col("bucket") == F.col("pbucket"))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", F.col("nid").alias("neighbor_id"), cos.alias("cosine"))
    )
    return _top_k(scored, k, "cosine")


def duck_ann_lsh_multiprobe_sql(
    query_ids: list[int],
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    planes = _hyperplanes(num_planes, dim)
    ids = ", ".join(str(i) for i in query_ids)
    bucket = _bucket_expr_duck("embedding", planes)
    probes = ", ".join(
        ["qbucket"] + [f"xor(qbucket, {1 << p})" for p in range(num_planes)]
    )
    cos = f"{_duck_dot('q.qv', 'c.nv')} / ({_duck_norm('q.qv')} * {_duck_norm('c.nv')})"
    return f"""
    WITH bucketed AS (SELECT vec_id AS nid, embedding AS nv,
        CAST({bucket} AS INT) AS bucket FROM {table}),
    q0 AS (SELECT nid AS query_id, nv AS qv, bucket AS qbucket
           FROM bucketed WHERE nid IN ({ids})),
    q AS (SELECT query_id, qv, CAST(u.pbucket AS INT) AS pbucket
          FROM q0, LATERAL unnest([{probes}]) AS u(pbucket)),
    c AS (SELECT * FROM bucketed),
    scored AS (SELECT query_id, c.nid AS neighbor_id, {cos} AS cosine
        FROM c JOIN q ON c.bucket = q.pbucket WHERE c.nid <> q.query_id),
    ranked AS (SELECT query_id, neighbor_id,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# int8-quantized ANN (scalar quantization + exact rerank)
# ---------------------------------------------------------------------------


def _spark_int_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _duck_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT)), (x, y) -> x + y)"
    )


def quantize_int8_expr(vec: str) -> str:
    """Symmetric per-vector int8 quantization as a SQL expression:
    q_i = floor(v_i * 127 / amax + 0.5) — floor(x+0.5) instead of
    round() because round()'s half-tie rule differs between engines
    while floor is IEEE-exact in both.

    The amax reduction is bound OUTSIDE the per-element lambda by
    passing it through array_repeat + zip_with (Spark SQL has no let-
    binding): writing ``transform(v, x -> ... / amax_expr)`` instead
    re-evaluates the O(dim) amax fold per element — O(dim^2) per vector
    in interpreted higher-order-function code, measured 6x slower on
    dim-64 vectors. Values are bit-identical either way."""
    amax = (
        f"greatest(aggregate({vec}, CAST(0 AS DOUBLE), "
        f"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))), CAST(1e-30 AS DOUBLE))"
    )
    return (
        f"zip_with({vec}, array_repeat({amax}, size({vec})), "
        f"(x, m) -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS INT))"
    )


def duck_quantize_int8_expr(vec: str) -> str:
    amax = (
        f"greatest(list_reduce(list_transform(generate_series(1, len({vec})), "
        f"i -> abs(CAST({vec}[i] AS DOUBLE))), (x, y) -> greatest(x, y)), 1e-30)"
    )
    return (
        f"list_transform(generate_series(1, len({vec})), "
        f"i -> CAST(floor(CAST({vec}[i] AS DOUBLE) * 127.0 / {amax} + 0.5) AS INT))"
    )


def ann_int8_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: int8 scalar quantization for the scan, exact
    float rerank for the answer.

    Stage 1 scores EVERY corpus vector against the broadcast queries in
    the integer domain: cosine over int8 codes (per-vector symmetric
    scale cancels out of cosine entirely), where the dot product is an
    exact BIGINT fold — bit-identical across engines AND 4x smaller to
    hold than float32 (at 100 TB of embeddings the quantized corpus is
    the difference between spilling and staying resident; the float
    vectors stay in cold storage). Stage 2 fetches full vectors for only
    the k*refine survivors per query (a broadcast join of a tiny
    candidate set back onto the corpus) and re-ranks them with the exact
    cosine. Recall floor vs brute force is unit-tested
    (test_similarity.py)."""
    q8 = F.expr(quantize_int8_expr(vec_col))
    # each side's exact-BIGINT self-dot is folded once before the join
    # (projection barrier), not once per pair; sqrt/division order is
    # unchanged so the doubles equal the oracle's all-inline form
    quant = emb.select(
        F.col(id_col).alias("neighbor_id"), q8.alias("nq8")
    ).withColumn("nself", F.expr(_spark_int_dot("nq8", "nq8")))
    queries = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), q8.alias("qq8"))
        .withColumn("qself", F.expr(_spark_int_dot("qq8", "qq8")))
    )
    icos = F.expr(_spark_int_dot("qq8", "nq8")).cast("double") / (
        F.sqrt(F.col("qself").cast("double"))
        * F.sqrt(F.col("nself").cast("double"))
    )
    scored = (
        quant.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", icos.alias("icos"))
    )
    cand = _top_k(scored, k * refine, "icos").select("query_id", "neighbor_id")
    # rerank: fetch full vectors for the tiny candidate set only
    nvec = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv"))
    qvec = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    return _rescore_top_k(
        nvec, cand, qvec, k, F.expr(_spark_norm("_nv"))
    ).select("query_id", "neighbor_id", "rank")


def duck_ann_int8_sql(
    query_ids: list[int], k: int = 5, refine: int = 4, table: str = "embeddings"
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    icos = (
        f"CAST({_duck_int_dot('q.qq8', 'c.nq8')} AS DOUBLE) / "
        f"(sqrt(CAST({_duck_int_dot('q.qq8', 'q.qq8')} AS DOUBLE)) * "
        f"sqrt(CAST({_duck_int_dot('c.nq8', 'c.nq8')} AS DOUBLE)))"
    )
    cos = f"{_duck_dot('qv.qv', 'nv.nv')} / ({_duck_norm('qv.qv')} * {_duck_norm('nv.nv')})"
    q8 = duck_quantize_int8_expr("embedding")
    return f"""
    WITH quant AS (SELECT vec_id AS neighbor_id, {q8} AS nq8 FROM {table}),
    q AS (SELECT vec_id AS query_id, {q8} AS qq8 FROM {table}
          WHERE vec_id IN ({ids})),
    scored AS (SELECT query_id, c.neighbor_id, {icos} AS icos
               FROM quant c CROSS JOIN q WHERE c.neighbor_id <> q.query_id),
    cand AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                      ORDER BY icos DESC, neighbor_id) AS crank
               FROM scored) WHERE crank <= {k * refine}),
    nv AS (SELECT vec_id AS nid, embedding AS nv FROM {table}),
    qv AS (SELECT vec_id AS qid, embedding AS qv FROM {table}
           WHERE vec_id IN ({ids})),
    rer AS (SELECT query_id, neighbor_id, {cos} AS cosine
            FROM cand JOIN nv ON nid = neighbor_id
            JOIN qv ON qid = query_id)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
        CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM rer) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (sign-bit blocking + within-block cosine)
# ---------------------------------------------------------------------------


def sign_block_expr(vec_col: str, bits: int) -> str:
    """Spark SQL: the sign pattern of the first ``bits`` dims as a string
    block key ('1'/'0' per dim). A pure sign test — no FP arithmetic — so
    the key is bit-identical across engines and stable under re-runs."""
    return (
        f"concat_ws('', transform(slice({vec_col}, 1, {bits}), "
        f"x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
    )


def duck_sign_block_expr(vec_col: str, bits: int) -> str:
    return (
        f"list_aggregate(list_transform({vec_col}[1:{bits}], "
        f"x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), 'string_agg', '')"
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.3,
    sign_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Survivors of SemDeDup-style semantic deduplication: drop every
    vector that has a LOWER-id same-block neighbour with cosine >=
    threshold (keep-min rule — deterministic, order-free).

    Scale shape (the SemDeDup recipe, Abbas et al. 2023, done with
    relational ops): a cheap deterministic pre-clustering (sign bits of
    the first k dims ~ fixed axis-aligned hyperplane LSH, 2^k buckets)
    bounds the pair join to sum(block^2) instead of n^2; the dup set is
    then a left-anti join back onto the corpus. Both joins shuffle on
    the block key / id only; norms are computed once pre-join. At 100 TB
    raise sign_bits (buckets grow 2^k while per-bucket work shrinks) or
    swap the block key for trained k-means cells (train_ivf_centroids)
    without touching the pair/anti-join structure."""
    base = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(_spark_norm(vec_col)).alias("nrm"),
        F.expr(sign_block_expr(vec_col, sign_bits)).alias("blk"),
    )
    a = base.selectExpr("id AS id_a", "v AS va", "nrm AS na", "blk")
    b = base.selectExpr("id AS id_b", "v AS vb", "nrm AS nb", "blk")
    cos = F.expr(_spark_dot("va", "vb")) / (F.col("na") * F.col("nb"))
    dups = (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select(F.col("id_b").alias("dup_id"))
        .distinct()
    )
    return (
        emb.join(dups, emb[id_col] == dups.dup_id, "left_anti")
        .select(F.col(id_col).alias("vec_id"), "label")
    )


def duck_semantic_dedup_sql(
    threshold: float = 0.3, sign_bits: int = 8, table: str = "embeddings"
) -> str:
    cos = f"{_duck_dot('a.nv', 'b.nv')} / (a.nrm * b.nrm)"
    return f"""
    WITH n AS (SELECT vec_id, embedding AS nv, {_duck_norm('embedding')} AS nrm,
        {duck_sign_block_expr('embedding', sign_bits)} AS blk FROM {table}),
    dups AS (SELECT DISTINCT b.vec_id AS dup_id
             FROM n a JOIN n b ON a.blk = b.blk AND a.vec_id < b.vec_id
             WHERE {cos} >= {threshold})
    SELECT vec_id, label FROM {table}
    WHERE vec_id NOT IN (SELECT dup_id FROM dups)
    """


def embedding_gram_upper(
    df: "DataFrame", vec_col: str = "embedding", id_col: str = "vec_id"
) -> "DataFrame":
    """Upper-triangle GRAM MATRIX of the embedding corpus — sum over
    rows of x_i * x_j for every dimension pair i <= j: the d x d input
    to PCA / whitening / covariance-based outlier scoring, the
    linear-algebra pre-step an ANN index pipeline runs before choosing
    a projection. d**2 numbers summarise the WHOLE corpus, so the
    result always fits the driver and feeds numpy's eigensolver
    directly (the eigen step is inherently driver-side — d x d, not
    data-sized).

    Exactness discipline: per-row products are computed in DOUBLE (one
    exactly-rounded multiply; elements cast float -> double losslessly
    first), fixed-pointed as ``floor(p * 1e15)`` — every step
    (multiply, floor, integral-double -> BIGINT) is exactly defined and
    engine-identical, unlike a double -> DECIMAL cast, whose rounding
    the engines implement with different slop (found live: the r13 sf1
    sweep caught last-digit divergence in a DECIMAL(38,12) per-product
    cast that sf0.01 never exercised) — accumulated exactly in
    DECIMAL(38,0), and converted back via the string idiom with ONE
    final double division by 1e15. The operator is therefore DEFINED at
    1e-15 per-product resolution: bias < n * 1e-15 (2e-11 at sf1),
    far inside the float twin's 1e-9 equality gate.

    PRECONDITION — bounded element magnitudes: the fixed-point step
    ``CAST(floor(p * 1e15) AS BIGINT)`` requires every per-row product
    ``|x_i * x_j| <= ~9.2e3`` (BIGINT holds ~9.22e18; Spark's non-ANSI
    cast SATURATES silently past it while DuckDB's raises), and the
    1e-15 resolution claim itself degrades once ``|p| > ~9`` (p * 1e15
    beyond 2^53 loses integer exactness in the double multiply). Both
    bounds hold with huge margin for unit-ish embedding vectors (the
    corpus this gate verifies); feeding unnormalised vectors with
    elements beyond ~95 is out of contract and is guarded below.

    Scale shape: every row's d*(d+1)/2 pair products are generated
    INLINE (no self-join), so the partial aggregation combines them
    map-side and the single Exchange carries only tasks x d^2 rows —
    a corpus-size-independent shuffle (the rejected alternative,
    posexplode + per-id self-join, shuffles n x d rows and cannot
    partial-aggregate before its join). Local CPU is the honest cost:
    Catalyst evaluates higher-order-function lambdas interpreted, not
    codegen'd, so the 2,080 products per row price this ~20x the float
    twin per row (measured; both shapes, HOF and join, land within
    noise of each other). That is exactly why the pairing exists: the
    FLOAT twin (:func:`embedding_gram_fast`) is the production path
    and THIS form is its exactness verification gate — run it on a
    sample or a schedule, not per batch. Excluded from the bench sweep
    like the other verification twins (ngram prefix mode)."""
    # the guard: Spark's non-ANSI double->BIGINT cast saturates
    # silently, so an out-of-contract product would corrupt the sum
    # instead of failing — raise instead (DuckDB's twin needs no guard;
    # its overflowing cast raises natively)
    fixed = (
        "CASE WHEN abs(_p) > 9.0e3 THEN "
        "CAST(raise_error('embedding_gram_upper: |x_i*x_j| exceeds the "
        "fixed-point contract (~9e3) — normalise the vectors') "
        "AS BIGINT) "
        "ELSE CAST(floor(_p * 1e15) AS BIGINT) END"
    )
    prod = (
        "(CAST(element_at(_e, i + 1) AS DOUBLE) * "
        "CAST(element_at(_e, j + 1) AS DOUBLE))"
    )
    pairs = (
        "flatten(transform(sequence(0, size(_e) - 1), "
        "i -> transform(sequence(i, size(_e) - 1), "
        "j -> struct(i AS i, j AS j, "
        + fixed.replace("_p", prod)
        + " AS p))))"
    )
    return (
        df.select(F.col(vec_col).alias("_e"))
        .select(F.explode(F.expr(pairs)).alias("pp"))
        .groupBy(
            F.col("pp.i").cast("long").alias("i"),
            F.col("pp.j").cast("long").alias("j"),
        )
        .agg(
            (
                F.sum(F.col("pp.p").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .cast("double")
                / F.lit(1e15)
            ).alias("g")
        )
    )


def duck_embedding_gram_sql(table: str = "embeddings") -> str:
    """DuckDB twin of :func:`embedding_gram_upper` (generate_subscripts
    is 1-based; normalised to the 0-based posexplode index)."""
    return f"""
    WITH ex AS (
      SELECT vec_id AS vid,
        generate_subscripts(embedding, 1) - 1 AS i,
        CAST(unnest(embedding) AS DOUBLE) AS x
      FROM {table})
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
      CAST(CAST(CAST(sum(CAST(CAST(floor((a.x * b.x) * 1e15) AS BIGINT)
        AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        / 1e15 AS g
    FROM ex a JOIN ex b ON a.vid = b.vid AND a.i <= b.i
    GROUP BY 1, 2
    """


def embedding_gram_fast(
    df: "DataFrame", vec_col: str = "embedding"
) -> "DataFrame":
    """FLOAT production twin of :func:`embedding_gram_upper` — the
    100 TB shape: each partition computes its numpy X^T X partial in
    one Arrow batch pass (no row amplification at all), and the only
    shuffle is the d*(d+1)/2-row partial reduce. Accumulation is
    float64, so the result is NOT bit-identical cross-engine or
    partition-count-invariant in the last bits — its correctness gate
    is the exact decimal twin (allclose at 1e-9 relative,
    tests/test_similarity.py), the same exact-vs-fast pairing the
    percentile and zscore families use."""
    import numpy as np  # noqa: F401 - imported for the worker closure

    def part(batches):
        import numpy as _np
        import pandas as _pd

        G = None
        for pdf in batches:
            X = _np.asarray(pdf[vec_col].to_list(), dtype=_np.float64)
            if len(X):
                G = X.T @ X if G is None else G + X.T @ X
        if G is not None:
            iu, ju = _np.triu_indices(G.shape[0])
            yield _pd.DataFrame(
                {"i": iu, "j": ju, "g_part": G[iu, ju]}
            )

    parts = df.select(vec_col).mapInPandas(
        part, "i long, j long, g_part double"
    )
    return parts.groupBy("i", "j").agg(F.sum("g_part").alias("g"))


# ---------------------------------------------------------------------------
# Persisted ANN index with incremental ingest + screen-delta (r13).
#
# The embedding counterpart of the persisted MinHash index
# (dedup.py:save_minhash_index_bucketed /
# minhash_incremental_vs_bucketed_index) — the
# reference's incremental `sync` concept (cmd/dbmask/main.go:230-315)
# lifted to the vector domain: land a corpus' IVF state ONCE, then each
# day's delta screens against it and appends back, without ever
# re-assigning or re-shuffling the landed 100 TB.
#
# Layout under <path>:
#   centroids/              (cid, cv) — the k x dim routing table, written
#                           at seed time and NEVER rewritten by appends
#                           (append-time re-training would silently move
#                           cell boundaries under landed vectors).
#   vectors/batch=<label>/cid=<c>/   (nid, nv, nrm) — every landed vector
#                           pre-assigned to its cell with its norm
#                           precomputed. Hive-partitioned by cid: the
#                           IVF "inverted lists" are literally the file
#                           layout, so a screen probing nprobe cells
#                           reads only those directories (static or
#                           dynamic partition pruning). batch=<label>
#                           partitions make appends replay-idempotent
#                           exactly like the MinHash index: a retried
#                           micro-batch overwrites its OWN partition
#                           instead of appending duplicates.
# ---------------------------------------------------------------------------


def save_ann_index(
    emb: DataFrame,
    path: str,
    num_centroids: int = 8,
    centroids: DataFrame | None = None,
    append: bool = False,
    batch: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int | None = None,
    pq_codebook: DataFrame | None = None,
    num_codes: int = 16,
) -> None:
    """Persist the landed corpus' ANN state (see layout above).

    Seed (``append=False``): clears ``path``, writes the centroid table
    (``centroids`` or the deterministic first-``num_centroids``-by-id
    stand-in, the same default as :func:`ann_ivf_topk` — pass
    :func:`train_ivf_centroids` output for k-means cells), then assigns
    and writes every vector. Append (``append=True``): loads the
    PERSISTED centroids — never retrains — assigns only the new batch
    (map-side literal projection, no join, no shuffle of anything
    landed) and writes it under its own ``batch=<label>`` partition as
    a targeted overwrite, so a replayed epoch rewrites itself instead
    of double-landing.

    ``pq_m`` (optional) makes this the persisted IVF-PQ layout: every
    vector additionally carries its ``pq_m`` product-quantization codes
    (columns c0..c{m-1}), encoded against ``pq_codebook`` (or the
    deterministic first-``num_codes``-by-id stand-in) — the codebook is
    written to ``<path>/pq_codebook`` at seed time and, like the
    centroids, is NEVER rewritten by appends (an epoch that re-trained
    it would silently re-meaning every landed code). ADC queries then
    read m bytes + a norm per vector instead of the full float array
    (:func:`ann_ivf_pq_topk_vs_index`)."""
    spark = emb.sparkSession
    if batch is None:
        if append:
            import uuid

            batch = f"b{uuid.uuid4().hex[:12]}"
        else:
            batch = "seed"
    if append:
        try:
            cent = load_centroids(spark, f"{path}/centroids")
        except Exception as exc:  # AnalysisException: PATH_NOT_FOUND
            raise FileNotFoundError(
                f"no ANN index at {path} — append=True cannot create "
                "one; seed the index first (append=False)"
            ) from exc
    else:
        if centroids is None:
            # deterministic stand-in: the num_centroids SMALLEST ids
            # (not `id < k`, which silently selects nothing when the
            # corpus' ids do not start at 0) — pass train_ivf_centroids
            # output for k-means cells
            centroids = _smallest_ids(emb, num_centroids, id_col, vec_col)
        cent = centroids
    cent_rows = _table_rows(cent)
    if not cent_rows:
        raise ValueError(
            "ann index has an empty centroid table — seed it from a "
            "non-empty corpus (or pass centroids explicitly)"
        )
    assigned = assign_to_centroids(emb, cent_rows, id_col, vec_col)
    # canonicalize the id's physical type: an epoch whose id column is
    # INT landing next to a BIGINT seed makes the unioned read fail with
    # a physical-type clash (found live) — and the tombstone ledger
    # compares against bigint
    assigned = assigned.withColumn("nid", F.col("nid").cast("bigint"))
    if append:
        # the PQ shape is a property of the INDEX, not the call: an
        # append that silently skipped encoding would land code-less
        # rows (NULL codes -> NULL ADC scores downstream), and one that
        # added codes to a plain index would drift the schema. Infer
        # from what is on disk; reject contradictions loudly.
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(
            f"{path}/pq_codebook"
        )
        has_cb = jvm_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        ).exists(jvm_path)
        if has_cb:
            existing = spark.read.parquet(f"{path}/vectors")
            disk_m = 0
            while f"c{disk_m}" in existing.columns:
                disk_m += 1
            if pq_m is not None and pq_m != disk_m:
                raise ValueError(
                    f"index at {path} holds {disk_m} PQ code columns; "
                    f"append requested pq_m={pq_m} — the shape is fixed "
                    "at seed time"
                )
            pq_m = disk_m
        elif not has_cb and pq_m is not None:
            raise ValueError(
                f"index at {path} was seeded WITHOUT PQ codes — adding "
                "them mid-life would leave earlier batches code-less; "
                "re-seed with pq_m"
            )
    rows = None
    if pq_m is not None:
        if append:
            rows = _table_rows(spark.read.parquet(f"{path}/pq_codebook"))
        else:
            if pq_codebook is None:
                pq_codebook = _smallest_ids(emb, num_codes, id_col, vec_col)
            # cid is a CODE SLOT, not a corpus id: ADC tables index it
            # positionally (element_at(t, code+1)), so the persisted
            # codebook MUST be labelled 0..K-1 — a corpus whose
            # smallest ids are not contiguous (found live: even-id
            # landed corpora) would otherwise seed an unservable index.
            # Relabel in ascending original-cid order on the driver
            # (the codebook is bytes).
            rows = list(enumerate(cv for _cid, cv in _table_rows(pq_codebook)))
        if not rows:
            raise ValueError("ann index has an empty PQ codebook")
        d = len(rows[0][1])
        if d % pq_m:
            raise ValueError(f"dim {d} not divisible by pq_m={pq_m}")
    if not append:
        # every input is now collected and validated (non-empty
        # centroids, non-empty codebook, divisible dim) — only past
        # this point is it safe to clear the previous index, so a
        # re-seed from a bad/empty source fails BEFORE it can clobber
        # a landed index. The persisted relations are rebuilt from the
        # validated rows, so exactly what was checked is what lands.
        _hfs_delete(spark, path)
        spark.createDataFrame(
            cent_rows, "cid int, cv array<double>"
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        if pq_m is not None:
            spark.createDataFrame(
                rows, "cid int, cv array<double>"
            ).write.mode("overwrite").parquet(f"{path}/pq_codebook")
    if pq_m is not None:
        assigned = assigned.select(
            "nid", "nv", "nrm", "cid",
            *_pq_code_cols(rows, pq_m, d // pq_m, "nv"),
        ).select(
            "nid", *[f"c{s}" for s in range(pq_m)], "nv", "nrm", "cid"
        )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        f"{path}/vectors/batch={batch}"
    )


def _smallest_ids(emb: DataFrame, n: int, id_col: str, vec_col: str) -> DataFrame:
    """The deterministic stand-in table (cid int, cv array<double>): the
    ``n`` vectors with the smallest ids."""
    return emb.orderBy(id_col).limit(n).select(
        F.col(id_col).cast("int").alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )


def ann_screen_vs_index(
    new_emb: DataFrame,
    path: str,
    threshold: float = 0.9,
    nprobe: int = 1,
    exclude_batch: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Screen a delta of NEW embeddings against a persisted ANN index:
    per new vector, (query_id, n_close, best_cosine, is_neardup) over
    the landed vectors in its ``nprobe`` nearest cells — the semantic
    near-dup gate of a daily embedding ingest (new-vs-landed only; the
    landed corpus never pairs with itself).

    Scale shape — ZERO index-side Exchange per batch (plan-gated in
    tests/test_similarity.py): the delta is assigned to its probe cells
    by the same literal-centroid projection the index writer used, then
    BROADCAST against the landed vectors, so the corpus-sized side
    streams through a BroadcastHashJoin unshuffled; the only Exchange
    in the plan carries batch-keyed aggregates (query_id partials). The
    join key is the hive partition column ``cid``, so Spark's dynamic
    partition pruning reads ONLY the probed cells' directories — the
    inverted-list seek, expressed as file layout. Norms ride in
    precomputed on both sides (landed at index-write time, delta in its
    projection): one dot fold per candidate pair.

    ``exclude_batch`` drops one ``batch=<label>`` partition from the
    landed side — a retried micro-batch whose own append already landed
    must not screen against itself. A delta id that re-uses a landed id
    (re-crawl) is NOT excluded: new content compares against landed
    content, the sided semantics the MinHash screen established.
    Probing all cells (``nprobe >= num_centroids``) makes the screen
    EXHAUSTIVE — equality-tested against brute-force cosine in
    tests/test_similarity.py; smaller nprobe trades recall at cell
    boundaries for reading fewer lists, the IVF contract."""
    spark = new_emb.sparkSession
    cent_rows = _table_rows(load_centroids(spark, f"{path}/centroids"))
    if not cent_rows:
        raise ValueError(
            f"ann index at {path} has an empty centroid table — it was "
            "never seeded (or seeded from an empty corpus)"
        )
    landed = spark.read.parquet(f"{path}/vectors")
    if exclude_batch is not None:
        landed = landed.filter(F.col("batch") != exclude_batch)
    # forgotten subjects never match (logical erasure — a pushed scan
    # filter / broadcast anti-join, the index still never shuffles)
    landed = _without_tombstoned_ids(
        landed, ann_tombstone_ids(spark, path), col="nid"
    )
    queries = _probe_queries(
        new_emb.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.expr(_spark_norm(vec_col)).alias("_qnrm"),
        ),
        cent_rows,
        nprobe,
    )
    cos = F.expr(_spark_dot("qv", "nv")) / (F.col("_qnrm") * F.col("nrm"))
    return (
        landed.join(F.broadcast(queries), F.col("cid") == F.col("qcid"))
        .select("query_id", cos.alias("cosine"))
        .groupBy("query_id")
        .agg(
            F.count(
                F.when(F.col("cosine") >= F.lit(float(threshold)), 1)
            ).alias("n_close"),
            F.max("cosine").alias("best_cosine"),
        )
        .select(
            "query_id",
            "n_close",
            "best_cosine",
            (F.col("best_cosine") >= F.lit(float(threshold))).alias(
                "is_neardup"
            ),
        )
    )


def duck_ann_screen_delta_sql(
    threshold: float = 0.9,
    nprobe: int = 2,
    num_centroids: int = 8,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of the registered ``ann_screen_delta`` query: the
    delta is the deterministic ``vec_id % 10 = 0`` tenth, the landed
    corpus the rest, centroids the first ``num_centroids`` landed
    vectors by id — same argmax (ccos DESC, cid ASC) assignment, same
    top-``nprobe`` probe, same fold order, byte-identical cosines."""
    cos_c = (
        f"{_duck_dot('e.embedding', 'c.cv')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('c.cv')})"
    )
    qcos_c = (
        f"{_duck_dot('d.embedding', 'c.cv')} / "
        f"({_duck_norm('d.embedding')} * {_duck_norm('c.cv')})"
    )
    cos_q = (
        f"{_duck_dot('q.qv', 'a.nv')} / "
        f"({_duck_norm('q.qv')} * {_duck_norm('a.nv')})"
    )
    return f"""
    WITH landed AS (SELECT vec_id, embedding FROM {table}
                    WHERE vec_id % 10 <> 0),
    delta AS (SELECT vec_id, embedding FROM {table} WHERE vec_id % 10 = 0),
    cent AS (SELECT vec_id AS cid, embedding AS cv FROM (
        SELECT vec_id, embedding FROM landed ORDER BY vec_id
        LIMIT {num_centroids})),
    assigned AS (SELECT nid, nv, cid FROM (
        SELECT e.vec_id AS nid, e.embedding AS nv, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY {cos_c} DESC, c.cid) AS rn
        FROM landed e CROSS JOIN cent c) t WHERE rn = 1),
    q AS (SELECT query_id, qv, qcid FROM (
        SELECT d.vec_id AS query_id, d.embedding AS qv, c.cid AS qcid,
          row_number() OVER (PARTITION BY d.vec_id
            ORDER BY {qcos_c} DESC, c.cid) AS rn
        FROM delta d CROSS JOIN cent c) t WHERE rn <= {nprobe}),
    cand AS (SELECT q.query_id, {cos_q} AS cosine
             FROM assigned a JOIN q ON a.cid = q.qcid)
    SELECT query_id,
      count(*) FILTER (WHERE cosine >= {threshold}) AS n_close,
      max(cosine) AS best_cosine,
      max(cosine) >= {threshold} AS is_neardup
    FROM cand GROUP BY query_id
    """


def ann_index_batches(spark, path: str) -> list:
    """The ``batch=<label>`` partitions currently in the index's vectors
    relation, sorted — the epoch ledger the streaming screen's replay
    and compaction hooks read."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/vectors")
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            out.append(name[len("batch="):])
    return sorted(out)


def compact_ann_index(spark, path: str, keep_batches: tuple = ()) -> dict:
    """Collapse the ANN index's per-epoch ``batch=`` partitions into one
    ``batch=seed`` — the maintenance half of the streaming embedding
    ingest loop's small-file problem (every appended epoch writes up to
    |cells| files, so after E epochs each cell directory spans ~E files
    and the screen's scan cost grows with ingest HISTORY instead of
    corpus size; the same failure mode compact_minhash_index_bucketed
    closes for the MinHash index, measured 2.1-5.2x in
    SCALING_smallfiles_r12.json). Index CONTENT and screen results are
    unchanged — gated in tests/test_similarity.py. Centroids are not
    touched (they are epoch-independent by construction).

    ``keep_batches`` names partitions carried over UNFOLDED — the
    streaming loop compacts from inside an epoch's own sink call and
    must keep THAT epoch separate (fold it and a replay would screen
    against a partition holding the whole corpus while excluding it).

    Crash-safety: the consolidated partition is fully written and
    row-count-verified BEFORE any old partition moves; the window
    between moving the old partitions aside and promoting the new one
    is non-atomic, so (like the MinHash compaction) run this where
    foreachBatch runs — between micro-batches; moved-aside data lives
    under ``<path>/_compact_trash`` until the swap completes."""
    batches = ann_index_batches(spark, path)
    fold = [b for b in batches if b not in tuple(keep_batches)]
    keep = [b for b in batches if b in tuple(keep_batches)]
    if len(fold) <= 1:
        return {
            "folded": 0, "rows": 0, "removed": 0,
            "tombstones_cleared": False,
        }
    # the consolidated partition promotes under batch=seed; if the
    # CALLER kept 'seed' unfolded (plausible: fold >=2 epochs while the
    # seed stays), that destination already exists and Hadoop rename
    # would NOT fail — it moves the source INTO the existing directory
    # (vectors/batch=seed/batch=seed/...), the boolean guard never
    # fires, and the trash delete then loses the folded rows. Promote
    # under the first seed<N> label that collides with nothing instead.
    dest = "seed"
    # folded partitions move aside before the promotion, so only KEPT
    # labels can collide with the destination
    taken = set(keep_batches)
    n = 2
    while dest in taken:
        dest = f"seed{n}"
        n += 1
    src_paths = [f"{path}/vectors/batch={b}" for b in fold]
    src = spark.read.option("basePath", f"{path}/vectors").parquet(
        *src_paths
    )
    # keep EVERY data column (the IVF-PQ layout adds c0..c{m-1} code
    # columns — a fixed select here would silently strip them from the
    # compacted index); only the batch partition label folds away
    src = src.select([c for c in src.columns if c != "batch"])
    rows_in = src.count()
    # physical erasure: folded rows drop their tombstoned nids here —
    # the rewrite the logical forget deferred. Row accounting stays
    # exact: rows_in - removed must equal what lands.
    ts = ann_tombstone_ids(spark, path)
    removed = 0
    rows_keep = rows_in
    if ts:
        src = _without_tombstoned_ids(src, ts, col="nid")
        rows_keep = src.count()
        removed = rows_in - rows_keep
    tmp = f"{path}/_compact_tmp/batch={dest}"
    _hfs_delete(spark, f"{path}/_compact_tmp")
    # repartition ON the partition column: each cell's rows land in one
    # task => ONE file per cid directory — without it every shuffle task
    # touching a cell writes its own file and the compaction barely
    # shrinks the count it exists to bound
    src.repartition("cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(tmp)
    rows_out = spark.read.parquet(tmp).count()
    if rows_keep != rows_out:
        raise RuntimeError(
            f"ann index compaction row-count mismatch: {rows_in} in, "
            f"{removed} tombstoned, {rows_out} out (expected "
            f"{rows_keep}) — staged output left at {tmp}, index untouched"
        )
    # the folded partitions move aside; kept labels never collide with
    # dest (chosen above), and the swap refuses one that does
    _swap_in(
        spark, tmp, f"{path}/vectors/batch={dest}",
        trash=f"{path}/_compact_trash",
        aside=[f"{path}/vectors/batch={b}" for b in fold],
    )
    _hfs_delete(spark, f"{path}/_compact_tmp")
    if removed and not keep:
        # every landed row passed the tombstone filter, so every
        # tombstoned row is now PHYSICALLY gone — the erasure ledger can
        # close. With kept (unfoldable) partitions the tombstones must
        # survive: their rows may still live in a kept epoch.
        _hfs_delete(spark, f"{path}/tombstones")
    return {
        "folded": len(fold),
        "rows": rows_out,
        "dest": dest,
        "removed": removed,
        "tombstones_cleared": bool(removed and not keep),
    }


# ---------------------------------------------------------------------------
# right-to-erasure: tombstones on the persisted ANN index
# ---------------------------------------------------------------------------


def ann_tombstone_ids(spark, path: str) -> "list[int]":
    """The sorted forgotten ids of the ANN index at ``path`` — empty when
    nothing was ever forgotten (or the ledger was cleared by a full
    compaction, which physically removes the rows)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        return []
    return sorted(
        int(r["nid"])
        for r in spark.read.parquet(f"{path}/tombstones").collect()
    )


def forget_from_ann_index(spark, path: str, ids) -> dict:
    """Right-to-erasure for the persisted ANN index (the reference's
    whole purpose — anonymise/minimise — applied to the vector store,
    cf. anonymiser.go's remove-the-subject contract): record ``ids`` as
    tombstones under ``<path>/tombstones`` so every serve/screen path
    excludes them immediately, then let ``compact_ann_index`` remove the
    rows physically (it verifies ``rows_in - removed == rows_out`` and
    clears the ledger once every batch folded).

    Logical-then-physical is the only shape that works at 100 TB: a
    takedown cannot rewrite a billion-vector index synchronously, but it
    CAN land a tombstone whose exclusion is a pushed scan filter. The
    write is crash-safe (staged tmp, trash, rename — the compaction
    idiom) and idempotent: re-forgetting an already-forgotten id is a
    no-op, the ledger stays deduplicated. A later re-append of a
    forgotten nid stays hidden until the ledger clears — conservative
    erasure; re-admitting a subject is a caller decision. Like the
    compactions, the swap has a non-concurrency window: a serve racing
    the two renames can read an ABSENT ledger and briefly serve
    unfiltered — run forgets where compactions run (between
    micro-batches / serve calls).

    Returns ``{"requested", "new", "already", "landed"}`` — ``landed``
    counts index rows the tombstones currently hide."""
    want = sorted({int(i) for i in ids})
    if not want:
        raise ValueError("forget_from_ann_index: no ids given")
    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(HPath(f"{path}/centroids")):
        raise FileNotFoundError(
            f"no ANN index at {path} — nothing to forget from"
        )
    existing = set(ann_tombstone_ids(spark, path))
    new = [i for i in want if i not in existing]
    merged = sorted(existing.union(want))
    if new:
        tmp = f"{path}/_tombstones_tmp"
        _hfs_delete(spark, tmp)
        spark.createDataFrame(
            [(i,) for i in merged], "nid bigint"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        n_out = spark.read.parquet(tmp).count()
        if n_out != len(merged):
            raise RuntimeError(
                f"tombstone write verification failed: {len(merged)} "
                f"in, {n_out} out — staged at {tmp}, ledger untouched"
            )
        # old ledger aside, staged one in, then the old one dropped: a
        # readable ledger survives every crash point
        live = f"{path}/tombstones"
        _swap_in(
            spark, tmp, live, trash=f"{path}/_tombstones_trash",
            aside=[live],
        )
    landed = (
        _without_tombstoned_ids(
            spark.read.parquet(f"{path}/vectors"), merged, col="nid",
            invert=True,
        ).count()
    )
    return {
        "requested": len(want),
        "new": len(new),
        "already": len(want) - len(new),
        "landed": landed,
    }


def _bitext_candidates(
    a_df: DataFrame, b_df: DataFrame, cent_rows, id_col: str, vec_col: str,
    owner: str,
) -> DataFrame:
    """(a_id, b_id, cosine) for every cross-side pair sharing an IVF
    cell, persisted through ``owner``'s release registry (the bitext
    operators read it from two windows)."""
    a = assign_to_centroids(a_df, cent_rows, id_col, vec_col).select(
        F.col("nid").alias("a_id"),
        F.col("nv").alias("av"),
        F.col("nrm").alias("anrm"),
        "cid",
    )
    b = assign_to_centroids(b_df, cent_rows, id_col, vec_col).select(
        F.col("nid").alias("b_id"),
        F.col("nv").alias("bv"),
        F.col("nrm").alias("bnrm"),
        "cid",
    )
    cos = F.expr(_spark_dot("av", "bv")) / (F.col("anrm") * F.col("bnrm"))
    return release_registry(owner)(
        a.join(b, "cid").select("a_id", "b_id", cos.alias("cosine"))
    )


def mutual_top1_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    cent_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-nearest-neighbour pairs across two embedding corpora: the
    (a, b) pairs where b is a's best cosine match in B AND a is b's best
    in A — the "intersection" criterion bitext mining uses to align
    parallel sentences across languages (Artetxe & Schwenk's margin
    family; mutual-top-1 is its exact, margin-free member). Returns
    (a_id, b_id, cosine).

    Scale shape: both sides are assigned to shared IVF cells by the
    literal-centroid projection (map-side, no shuffle of either corpus
    beyond the one cell-keyed exchange), candidates are generated
    WITHIN cells only — sum(cell_a x cell_b) work, never |A| x |B| —
    and the two top-1 windows key on a_id / b_id (cardinality grows
    with the corpora, so task parallelism scales; the CELL join's key
    cardinality is k, so pick k to spread the corpus, or feed a finer
    pre-clustering as cent_rows — the same block-sizing discipline as
    embedding_neardup_pairs). Mutuality is cell-local by construction:
    a cross-cell true-best pair is missed exactly like any IVF recall
    loss — raise k quality (trained centroids) to recover it. Ties
    break (cosine DESC, id ASC) on both sides, so the pair set is
    deterministic and cross-engine exact (the oracle mirrors the
    assignment, the fold order, and the tie-break)."""
    # persist the candidate relation: it feeds BOTH top-1 windows, and
    # Catalyst does not reuse subtrees across join sides (the
    # PERFORMANCE.md "persist any relation feeding >= 2 plan subtrees"
    # lesson) — unpersisted, the cell join + d-dim cosine folds computed
    # TWICE per call. Post-projection rows are (id, id, cosine) — the
    # float arrays are projected away, so the cached bytes are pair-count
    # x 24B, MEMORY_AND_DISK so big cells spill instead of OOM.
    cand = _bitext_candidates(
        a_df, b_df, cent_rows, id_col, vec_col, "similarity.mutual_top1_pairs"
    )
    w_a = Window.partitionBy("a_id").orderBy(
        F.col("cosine").desc(), F.col("b_id")
    )
    w_b = Window.partitionBy("b_id").orderBy(
        F.col("cosine").desc(), F.col("a_id")
    )
    best_b = cand.withColumn("rn", F.row_number().over(w_a)).filter(
        F.col("rn") == 1
    ).drop("rn")
    best_a = cand.withColumn("rn", F.row_number().over(w_b)).filter(
        F.col("rn") == 1
    ).select("a_id", "b_id")
    return best_b.join(best_a, ["a_id", "b_id"]).select(
        "a_id", "b_id", "cosine"
    )


def bitext_margin_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    cent_rows,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-SCORED bitext mining — the production member of the
    Artetxe & Schwenk (2019) family :func:`mutual_top1_pairs` is the
    margin-free base of: each mutual-top-1 pair additionally carries
    the RATIO margin, cosine(a,b) over the mean of the two sides'
    top-``k`` neighbourhood cosines,

        margin = cos(a,b) / ((mean_k(a) + mean_k(b)) / 2)

    and only pairs with ``margin >= threshold`` survive. The margin is
    what separates a genuinely-parallel pair (its cosine stands OUT of
    both neighbourhoods, margin > 1) from a hub vector that is merely
    close to everything (cosine high but so is its neighbourhood —
    margin ~ 1). Returns (a_id, b_id, cosine, margin).

    Scale shape: identical to mutual_top1_pairs — shared-IVF-cell
    candidates (sum(cell_a x cell_b) work), windows keyed on a_id/b_id
    (cardinality grows with the corpora). The neighbourhood means reuse
    the SAME ranked relation the mutuality filter reads, so the margin
    adds two grid-keyed aggregations, not a second candidate pass.

    Cross-engine exactness: each neighbourhood's cosines are summed in
    RANK order via the proven ordered-fold idiom (Spark
    aggregate(array_sort(collect_list(struct(rn, c)))) == DuckDB
    list_reduce(list(c ORDER BY rn))), counts divide as doubles, and
    the margin's operation order is identical in both SQLs, so every
    step is an exactly-rounded IEEE operation applied in the same
    order — hash-identical, same discipline as the DP family."""
    # the candidate relation feeds the per-a AND per-b views; naively
    # expressing mutuality + neighbourhoods as four consumers of one
    # ranked relation recomputes the corpus-sized candidate join FOUR
    # times (zero exchange reuse — the q15 class, measured 8 scans).
    # Each side's ONE window pass extracts its top-1 pair AND its
    # neighbourhood sum in the same aggregation, and (r14) the candidate
    # relation itself is PERSISTED so the cell join + cosine folds
    # compute exactly ONCE — the two windows read the cached (id, id,
    # cosine) rows (arrays projected away before the cache). The
    # mutuality check is a key join of the two grid-sized aggregates.
    # Plan-gated in tests/test_plans.py.
    cand = _bitext_candidates(
        a_df, b_df, cent_rows, id_col, vec_col, "similarity.bitext_margin_pairs"
    )
    w_a = Window.partitionBy("a_id").orderBy(
        F.col("cosine").desc(), F.col("b_id")
    )
    w_b = Window.partitionBy("b_id").orderBy(
        F.col("cosine").desc(), F.col("a_id")
    )
    fold = (
        "aggregate(array_sort(collect_list(struct({rn} AS r, cosine AS c))), "
        "CAST(0 AS DOUBLE), (acc, x) -> acc + x.c)"
    )
    agg_a = (
        cand.withColumn("rn_a", F.row_number().over(w_a))
        .filter(F.col("rn_a") <= k)
        .groupBy("a_id")
        .agg(
            F.expr(fold.format(rn="rn_a")).alias("sum_a"),
            F.count(F.lit(1)).cast("double").alias("k_a"),
            # rn_a == 1 is unique per group, so max() just selects it
            F.max(
                F.when(
                    F.col("rn_a") == 1, F.struct("b_id", "cosine")
                )
            ).alias("best"),
        )
    )
    agg_b = (
        cand.withColumn("rn_b", F.row_number().over(w_b))
        .filter(F.col("rn_b") <= k)
        .groupBy("b_id")
        .agg(
            F.expr(fold.format(rn="rn_b")).alias("sum_b"),
            F.count(F.lit(1)).cast("double").alias("k_b"),
            F.max(
                F.when(F.col("rn_b") == 1, F.col("a_id"))
            ).alias("best_a"),
        )
    )
    margin = F.col("cosine") / (
        (F.col("sum_a") / F.col("k_a") + F.col("sum_b") / F.col("k_b"))
        / F.lit(2.0)
    )
    return (
        agg_a.select(
            "a_id",
            F.col("best.b_id").alias("b_id"),
            F.col("best.cosine").alias("cosine"),
            "sum_a",
            "k_a",
        )
        .join(agg_b, "b_id")
        .filter(F.col("best_a") == F.col("a_id"))  # mutual top-1
        .select("a_id", "b_id", "cosine", margin.alias("margin"))
        .filter(F.col("margin") >= threshold)
    )


def duck_bitext_margin_sql(
    num_centroids: int = 8,
    k: int = 4,
    threshold: float = 1.0,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of the registered ``bitext_margin_pairs`` query —
    same cells, same candidate join, same rank-ordered neighbourhood
    fold, same margin operation order."""
    cos_c = (
        f"{_duck_dot('e.embedding', 'c.cv')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('c.cv')})"
    )
    cos_ab = (
        f"{_duck_dot('a.nv', 'b.nv')} / "
        f"({_duck_norm('a.nv')} * {_duck_norm('b.nv')})"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM {table}
                  WHERE vec_id < {num_centroids}),
    assigned AS (SELECT nid, nv, lbl, cid FROM (
        SELECT e.vec_id AS nid, e.embedding AS nv, e.label AS lbl, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY {cos_c} DESC, c.cid) AS rn
        FROM {table} e CROSS JOIN cent c) t WHERE rn = 1),
    cand AS (SELECT a.nid AS a_id, b.nid AS b_id, {cos_ab} AS cosine
             FROM assigned a JOIN assigned b ON a.cid = b.cid
             WHERE a.lbl % 2 = 0 AND b.lbl % 2 = 1),
    ranked AS (SELECT a_id, b_id, cosine,
        row_number() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id) AS rn_a,
        row_number() OVER (PARTITION BY b_id
          ORDER BY cosine DESC, a_id) AS rn_b
      FROM cand),
    neigh_a AS (SELECT a_id,
        list_reduce(list(cosine ORDER BY rn_a), (acc, x) -> acc + x)
          AS sum_a,
        CAST(count(*) AS DOUBLE) AS k_a
      FROM ranked WHERE rn_a <= {k} GROUP BY a_id),
    neigh_b AS (SELECT b_id,
        list_reduce(list(cosine ORDER BY rn_b), (acc, x) -> acc + x)
          AS sum_b,
        CAST(count(*) AS DOUBLE) AS k_b
      FROM ranked WHERE rn_b <= {k} GROUP BY b_id),
    mutual AS (SELECT f.a_id, f.b_id, f.cosine
      FROM (SELECT a_id, b_id, cosine FROM ranked WHERE rn_a = 1) f
      JOIN (SELECT a_id, b_id FROM ranked WHERE rn_b = 1) r
        ON f.a_id = r.a_id AND f.b_id = r.b_id)
    SELECT m.a_id, m.b_id, m.cosine,
      m.cosine / ((na.sum_a / na.k_a + nb.sum_b / nb.k_b) / 2.0) AS margin
    FROM mutual m JOIN neigh_a na ON m.a_id = na.a_id
    JOIN neigh_b nb ON m.b_id = nb.b_id
    WHERE m.cosine / ((na.sum_a / na.k_a + nb.sum_b / nb.k_b) / 2.0)
      >= {threshold}
    """


def duck_bitext_mutual_top1_sql(
    num_centroids: int = 8, table: str = "embeddings"
) -> str:
    """DuckDB twin of the registered ``bitext_mutual_top1`` query: side
    A = even labels, side B = odd labels, shared centroids = the first
    ``num_centroids`` vectors by id over the whole table."""
    cos_c = (
        f"{_duck_dot('e.embedding', 'c.cv')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('c.cv')})"
    )
    cos_ab = (
        f"{_duck_dot('a.nv', 'b.nv')} / "
        f"({_duck_norm('a.nv')} * {_duck_norm('b.nv')})"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM {table}
                  WHERE vec_id < {num_centroids}),
    assigned AS (SELECT nid, nv, lbl, cid FROM (
        SELECT e.vec_id AS nid, e.embedding AS nv, e.label AS lbl, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY {cos_c} DESC, c.cid) AS rn
        FROM {table} e CROSS JOIN cent c) t WHERE rn = 1),
    cand AS (SELECT a.nid AS a_id, b.nid AS b_id, {cos_ab} AS cosine
             FROM assigned a JOIN assigned b ON a.cid = b.cid
             WHERE a.lbl % 2 = 0 AND b.lbl % 2 = 1),
    best_b AS (SELECT a_id, b_id, cosine FROM (
        SELECT a_id, b_id, cosine, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id) AS rn FROM cand) t WHERE rn = 1),
    best_a AS (SELECT a_id, b_id FROM (
        SELECT a_id, b_id, row_number() OVER (PARTITION BY b_id
          ORDER BY cosine DESC, a_id) AS rn FROM cand) t WHERE rn = 1)
    SELECT bb.a_id, bb.b_id, bb.cosine
    FROM best_b bb JOIN best_a ba
      ON bb.a_id = ba.a_id AND bb.b_id = ba.b_id
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (r13).
# ---------------------------------------------------------------------------


def _pq_sub(cv: "list[float]", s: int, dsub: int) -> "list[float]":
    return [float(v) for v in cv[s * dsub : (s + 1) * dsub]]


def _pq_dist_expr(vec_slice: str, cv: "list[float]") -> str:
    """SQL text: squared L2 distance of ``vec_slice`` to the literal
    centroid — zip_with evaluates in index order, so the fold matches
    the oracle's ascending-i list_reduce (0 + v1 == v1 exactly)."""
    arr = _centroid_literal(cv)
    return (
        f"aggregate(zip_with({vec_slice}, {arr}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _py_sq_dist(a: "list[float]", b: "list[float]") -> float:
    """Driver-side squared L2 with the SAME strict left-to-right IEEE
    fold as the SQL expressions (Python floats ARE doubles), so the
    embedded ADC tables are bit-identical to what either engine would
    compute from the stored values."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (float(x) - float(y)) * (float(x) - float(y))
    return acc


def train_pq_codebook(
    emb: DataFrame,
    m: int = 8,
    num_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace k-means PQ codebook — the TRAINED form of product
    quantization (Jegou, Douze, Schmid 2011: each subspace gets its own
    K centroids fitted by Lloyd's over that subspace's slices). Returns
    (cid int, cv array<double>) with cid = code slot 0..K-1 and cv the
    CONCATENATION of the m per-subspace centroids for that slot — the
    exact shape :func:`pq_encode`, :func:`ann_pq_adc_topk` and
    :func:`save_ann_index(pq_codebook=...)` consume, so trained codes
    drop in wherever the seeded stand-in (first K vectors by id, the
    cross-engine-exact oracle twin) does. Trained-beats-seeded
    recall@k is gated in tests/test_similarity.py and at sf1 in
    tests/test_scale_values_sf1.py.

    Scale shape, per iteration: encoding is the one literal projection
    _pq_code_cols already is (no join, no shuffle); the re-centering
    posexplodes n x d cells but partial-aggregates map-side, so the
    single Exchange carries tasks x (K*d) cells — corpus-size-
    independent, the same discipline as :func:`train_ivf_centroids`.
    The K x d codebook syncs through the driver between iterations
    (bytes, not data). Deterministic: seeded init by ascending id,
    argmin ties to the lowest code, empty cells keep their previous
    centroid."""
    spark = emb.sparkSession
    seed = _table_rows(
        emb.orderBy(id_col).limit(num_codes).select(id_col, vec_col).collect()
    )
    if not seed:
        raise ValueError("train_pq_codebook: empty corpus")
    rows = [(j, cv) for j, (_orig, cv) in enumerate(seed)]
    d = len(rows[0][1])
    if d % m:
        raise ValueError(
            f"train_pq_codebook: dim {d} not divisible by m={m}"
        )
    dsub = d // m
    src = emb.select(F.col(vec_col).cast("array<double>").alias("_e"))
    for _ in range(iters):
        coded = src.select(
            "_e", *_pq_code_cols(rows, m, dsub, "_e")
        )
        cells = (
            coded.select(
                F.array(*[F.col(f"c{s}") for s in range(m)]).alias("_c"),
                F.posexplode("_e").alias("pos", "v"),
            )
            .select(
                # pos fixes the subspace, so (code-at-that-subspace,
                # pos) is the full cell key
                F.element_at(
                    "_c", (F.col("pos") / dsub).cast("int") + 1
                ).alias("code"),
                "pos",
                "v",
            )
            .groupBy("code", "pos")
            .agg(F.avg("v").alias("mv"))
            .collect()
        )
        new = {cid: list(cv) for cid, cv in rows}
        for rec in cells:
            new[int(rec["code"])][int(rec["pos"])] = float(rec["mv"])
        rows = sorted(new.items())
    return spark.createDataFrame(rows, "cid int, cv array<double>")


def pq_encode(
    emb: DataFrame,
    code_rows,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(nid, c0..c{m-1}): every vector compressed to ``m`` subspace
    codes — product quantization. ``code_rows`` is the K-entry codebook
    [(cid, full_vector), ...]; each subspace's centroid is that entry's
    subvector (the deterministic shared-codebook stand-in; k-means per
    subspace drops in the same way trained IVF centroids do). ONE
    narrow projection, no join, no shuffle: the codebook rides into the
    executors as literals, exactly the assign_to_centroids play, m
    times. At 100 TB the win is the ENCODED relation: m bytes per
    vector instead of 4*d — the scan an ADC query pays drops ~32x (the
    codes relation is what you persist next to the IVF index for the
    classic IVF-PQ layout)."""
    rows = _table_rows(code_rows)
    if not rows:
        raise ValueError("pq_encode: empty codebook")
    d = len(rows[0][1])
    if d % m:
        raise ValueError(f"pq_encode: dim {d} not divisible by m={m}")
    dsub = d // m
    out = emb.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("_e")
    )
    return out.select(
        "nid", *_pq_code_cols(rows, m, dsub, "_e")
    )


def _pq_code_cols(rows, m: int, dsub: int, vec_expr: str):
    """The m per-subspace code Columns (argmin squared-L2 against the
    sorted codebook literals, ties to the lowest cid) over ``vec_expr``
    — shared by :func:`pq_encode` and the IVF-PQ composition. ``rows``
    is the codebook in the :func:`_table_rows` form."""
    code_cols = []
    for s in range(m):
        elems = []
        for cid, cv in rows:
            sl = f"slice({vec_expr}, {s * dsub + 1}, {dsub})"
            negd = f"-({_pq_dist_expr(sl, _pq_sub(cv, s, dsub))})"
            elems.append(
                f"struct({negd} AS negd, {-cid} AS negcid, {cid} AS cid)"
            )
        scored = "array(" + ", ".join(elems) + ")"
        code_cols.append(
            F.expr(f"array_max({scored}).cid").alias(f"c{s}")
        )
    return code_cols


def ann_pq_adc_topk(
    emb: DataFrame,
    query_ids: "list[int]",
    k: int = 5,
    num_codes: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ + ADC approximate top-k: vectors are PQ-encoded against a
    shared codebook (first ``num_codes`` vectors by id — the
    deterministic stand-in, same convention as IVF), each query
    precomputes one (m x K) table of subspace distances driver-side,
    and every corpus vector is scored as the SUM of m table lookups —
    asymmetric distance computation (Jegou, Douze, Schmid 2011,
    public literature). Returns (query_id, neighbor_id, rank).

    Scale shape: encoding is one literal projection; the ADC scan
    touches m CODES per vector, not d floats — the memory-bandwidth
    win PQ exists for; the bounded query side (ids + their m x K
    tables, a few KB) broadcasts, and the only exchange ranks
    candidates per query. Approximation error comes from quantization
    only — recall against exact brute force is asserted in
    tests/test_similarity.py, and the oracle re-derives codebook,
    codes, tables, and fold order in SQL so the ranking is
    cross-engine exact (ADC sums fold in subspace order on both
    sides; ties break on neighbor id)."""
    if codebook is not None:
        # a trained codebook (train_pq_codebook output or any
        # (cid, cv) relation labelled 0..K-1) replaces the stand-in
        code_rows = _table_rows(codebook)
        q_rows = _table_rows(
            emb.filter(F.col(id_col).isin(query_ids))
            .select(id_col, vec_col)
            .collect()
        )
    else:
        # ONE bounded collect serves both the stand-in codebook and the
        # query vectors (r14: two separate collects = two scan jobs of
        # the same parquet; the driver-side split below reproduces each
        # row set exactly)
        both = (
            emb.filter(
                (F.col(id_col) < num_codes)
                | F.col(id_col).isin(query_ids)
            )
            .select(id_col, vec_col)
            .collect()
        )
        code_rows = _table_rows(r for r in both if int(r[id_col]) < num_codes)
        qset = set(query_ids)
        q_rows = _table_rows(r for r in both if int(r[id_col]) in qset)
    codes = pq_encode(emb, code_rows, m=m, id_col=id_col, vec_col=vec_col)
    queries, score = _adc_queries(emb.sparkSession, code_rows, q_rows, m)
    cand = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", F.col("nid").alias("neighbor_id"), score)
    )
    return _top_k(cand, k, "_adc", ascending=True)


def duck_ann_pq_adc_sql(
    query_ids: "list[int]",
    k: int = 5,
    num_codes: int = 16,
    m: int = 8,
    dim: int = 64,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`ann_pq_adc_topk`: codebook, codes, ADC
    tables and fold order all re-derived in SQL — same squared-L2
    ascending-index fold, same (negd, lowest-cid) argmin tie-break,
    same subspace-ordered ADC sum, same (score, neighbor) ranking."""
    dsub = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    sub_dist = (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> (CAST(v.embedding[s.s * {dsub} + i] AS DOUBLE) - "
        f"CAST(c.embedding[s.s * {dsub} + i] AS DOUBLE)) * "
        f"(CAST(v.embedding[s.s * {dsub} + i] AS DOUBLE) - "
        f"CAST(c.embedding[s.s * {dsub} + i] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding FROM {table}
                  WHERE vec_id < {num_codes}),
    subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
    codes AS (SELECT vid, s, cid FROM (
        SELECT v.vec_id AS vid, s.s AS s, c.cid,
          row_number() OVER (PARTITION BY v.vec_id, s.s
            ORDER BY {sub_dist}, c.cid) AS rn
        FROM {table} v CROSS JOIN subs s CROSS JOIN cent c) t
      WHERE rn = 1),
    qd AS (
        SELECT v.vec_id AS qid, s.s AS s, c.cid, {sub_dist} AS d
        FROM {table} v CROSS JOIN subs s CROSS JOIN cent c
        WHERE v.vec_id IN ({ids})),
    adc AS (
        SELECT qd.qid AS query_id, co.vid AS neighbor_id,
          list_reduce(list(qd.d ORDER BY qd.s), (a, b) -> a + b) AS score
        FROM codes co JOIN qd ON qd.s = co.s AND qd.cid = co.cid
        WHERE co.vid <> qd.qid
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score, neighbor_id) AS rank
        FROM adc) t WHERE rank <= {k}
    """


def _py_cos(a: "list[float]", b: "list[float]") -> float:
    """Driver-side cosine with the engines' exact fold order (dot and
    both norms are strict left-to-right IEEE folds)."""
    import math

    def dot(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc = acc + float(u) * float(v)
        return acc

    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))


def ann_ivf_pq_topk(
    emb: DataFrame,
    query_ids: "list[int]",
    k: int = 5,
    num_centroids: int = 8,
    num_codes: int = 16,
    m: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the canonical billion-vector ANN layout, composed from
    this round's two halves — vectors are IVF-assigned to cells AND
    PQ-encoded in ONE literal projection; a query probes its ``nprobe``
    nearest cells and ranks ONLY those cells' vectors by ADC table
    lookups. Returns (query_id, neighbor_id, rank).

    Scale shape: the corpus-side pass is a single map-side projection
    (cell id + m codes — the relation you persist under the ANN index's
    cid partitions, m bytes + 4 per vector); the query side is entirely
    driver-side literals (probe cells by centroid cosine, m x K ADC
    tables — a few KB, broadcast); the candidate join keys on the cell
    id with the bounded side broadcast, so the corpus never shuffles;
    the sole exchange ranks nprobe/num_centroids of the corpus per
    query. Work per query: |corpus| * nprobe / num_centroids table
    lookups of m adds each — versus |corpus| * d multiplies for brute
    force. Approximation = IVF recall loss at cell boundaries x PQ
    quantization; both gated in tests/test_similarity.py, and the
    oracle re-derives cells, codes, probes, tables and fold order in
    SQL (cross-engine exact ranking, ties on neighbor id)."""
    # ONE bounded collect serves centroids, codebook AND query vectors
    # (r14: three separate collects = three scan jobs over the same
    # parquet; the driver-side splits below reproduce each row set
    # exactly — centroid ids are < num_centroids, codebook ids
    # < num_codes, queries by membership)
    bound = max(int(num_centroids), int(num_codes))
    both = (
        emb.filter(
            (F.col(id_col) < bound) | F.col(id_col).isin(query_ids)
        )
        .select(id_col, vec_col)
        .collect()
    )
    cent_rows = _table_rows(r for r in both if int(r[id_col]) < num_centroids)
    code_rows = _table_rows(r for r in both if int(r[id_col]) < num_codes)
    qset = set(query_ids)
    q_rows = _table_rows(r for r in both if int(r[id_col]) in qset)
    # query side: probe cells AND ADC tables computed driver-side with
    # the engines' exact folds, embedded as one bounded literal relation
    queries, score = _adc_queries(
        emb.sparkSession, code_rows, q_rows, m,
        probes={qid: _nearest_cells(qv, cent_rows, nprobe) for qid, qv in q_rows},
    )
    # corpus pass: cell id + m codes in one projection (assign keeps nv)
    dsub = len(code_rows[0][1]) // int(m)
    coded = assign_to_centroids(emb, cent_rows, id_col, vec_col).select(
        "nid", "cid", *_pq_code_cols(code_rows, int(m), dsub, "nv")
    )
    cand = (
        coded.join(F.broadcast(queries), F.col("cid") == F.col("qcid"))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", F.col("nid").alias("neighbor_id"), score)
    )
    return _top_k(cand, k, "_adc", ascending=True)


def duck_ann_ivf_pq_sql(
    query_ids: "list[int]",
    k: int = 5,
    num_centroids: int = 8,
    num_codes: int = 16,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`ann_ivf_pq_topk`: cells, codes, probe
    order, ADC tables and fold order all re-derived in SQL."""
    dsub = dim // m
    ids = ", ".join(str(i) for i in query_ids)
    cos_c = (
        f"{_duck_dot('e.embedding', 'c.cv')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('c.cv')})"
    )
    sub_dist = (
        f"list_reduce(list_transform(generate_series(1, {dsub}), "
        f"i -> (CAST(v.embedding[s.s * {dsub} + i] AS DOUBLE) - "
        f"CAST(c.embedding[s.s * {dsub} + i] AS DOUBLE)) * "
        f"(CAST(v.embedding[s.s * {dsub} + i] AS DOUBLE) - "
        f"CAST(c.embedding[s.s * {dsub} + i] AS DOUBLE))), "
        f"(a, b) -> a + b)"
    )
    return f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM {table}
                  WHERE vec_id < {num_centroids}),
    cb AS (SELECT vec_id AS cid, embedding FROM {table}
           WHERE vec_id < {num_codes}),
    subs AS (SELECT unnest(generate_series(0, {m - 1})) AS s),
    assigned AS (SELECT nid, cid FROM (
        SELECT e.vec_id AS nid, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY {cos_c} DESC, c.cid) AS rn
        FROM {table} e CROSS JOIN cent c) t WHERE rn = 1),
    codes AS (SELECT vid, s, cid FROM (
        SELECT v.vec_id AS vid, s.s AS s, c.cid,
          row_number() OVER (PARTITION BY v.vec_id, s.s
            ORDER BY {sub_dist}, c.cid) AS rn
        FROM {table} v CROSS JOIN subs s
        CROSS JOIN cb c) t WHERE rn = 1),
    q AS (SELECT query_id, qcid FROM (
        SELECT e.vec_id AS query_id, c.cid AS qcid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY {cos_c} DESC, c.cid) AS rn
        FROM {table} e CROSS JOIN cent c
        WHERE e.vec_id IN ({ids})) t WHERE rn <= {nprobe}),
    qd AS (
        SELECT v.vec_id AS qid, s.s AS s, c.cid, {sub_dist} AS d
        FROM {table} v CROSS JOIN subs s CROSS JOIN cb c
        WHERE v.vec_id IN ({ids})),
    cand AS (
        SELECT q.query_id, a.nid
        FROM assigned a JOIN q ON a.cid = q.qcid
        WHERE a.nid <> q.query_id),
    adc AS (
        SELECT cand.query_id, cand.nid AS neighbor_id,
          list_reduce(list(qd.d ORDER BY qd.s), (a, b) -> a + b) AS score
        FROM cand
        JOIN codes co ON co.vid = cand.nid
        JOIN qd ON qd.qid = cand.query_id AND qd.s = co.s
               AND qd.cid = co.cid
        GROUP BY 1, 2)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY score, neighbor_id) AS rank
        FROM adc) t WHERE rank <= {k}
    """


def ann_ivf_pq_topk_vs_index(
    new_emb: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    exclude_batch: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ann_ivf_pq_topk` served from a PERSISTED IVF-PQ index
    (:func:`save_ann_index` with ``pq_m``): per query vector, the top-k
    landed neighbours in its ``nprobe`` nearest cells ranked by ADC
    table lookups over the STORED codes — the daily retrieval shape of
    the billion-vector layout. Returns (query_id, neighbor_id, rank).

    Scale shape mirrors the screen: the query side (ids + probe cells +
    m x K ADC tables, driver-computed with the engines' exact fold) is
    a bounded broadcast literal; the index scan reads only the probed
    cells' directories (dynamic partition pruning on cid) and only the
    code columns (m bytes per vector — the full float arrays stay on
    disk, column-pruned away); ZERO Exchange ever touches the index.
    ``exclude_batch`` as in :func:`ann_screen_vs_index`."""
    spark = new_emb.sparkSession
    cent_rows = _table_rows(load_centroids(spark, f"{path}/centroids"))
    try:
        cb = spark.read.parquet(f"{path}/pq_codebook")
    except Exception as exc:
        raise FileNotFoundError(
            f"no PQ codebook at {path} — seed the index with "
            "save_ann_index(..., pq_m=...) to serve ADC queries"
        ) from exc
    code_rows = _table_rows(cb)
    m = 0
    landed = spark.read.parquet(f"{path}/vectors")
    while f"c{m}" in landed.columns:
        m += 1
    if not m:
        raise ValueError(
            f"index at {path} holds no PQ code columns — re-seed with pq_m"
        )
    if exclude_batch is not None:
        landed = landed.filter(F.col("batch") != exclude_batch)
    # forgotten subjects never serve (logical erasure; the rescore
    # twin's refine stage re-reads only THIS stage's survivors, so one
    # exclusion covers both)
    landed = _without_tombstoned_ids(
        landed, ann_tombstone_ids(spark, path), col="nid"
    )
    q_rows = _table_rows(new_emb.select(id_col, vec_col).collect())
    if len(q_rows) > 1000:
        # each query embeds m x K doubles of literal table — a corpus
        # passed as the query side would blow the plan; batch the
        # retrieval loop caller-side (the screen covers corpus-vs-index)
        raise ValueError(
            f"{len(q_rows)} query vectors: ADC retrieval takes a BOUNDED "
            "query batch (<=1000); chunk the callers' loop"
        )
    probes = {qid: _nearest_cells(qv, cent_rows, nprobe) for qid, qv in q_rows}
    queries, score = _adc_queries(spark, code_rows, q_rows, m, probes=probes)
    # the probed cells are known DRIVER-side here (unlike the screen,
    # whose delta-derived cells need dynamic pruning), so prune the
    # index scan STATICALLY — PartitionFilters carries the literal cid
    # set and unprobed directories are never even listed
    probed_cells = sorted({c for cells in probes.values() for c in cells})
    cand = (
        landed.select("nid", "cid", *[f"c{s}" for s in range(m)])
        .filter(F.col("cid").isin(probed_cells))
        .join(F.broadcast(queries), F.col("cid") == F.col("qcid"))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", F.col("nid").alias("neighbor_id"), score)
    )
    return _top_k(cand, k, "_adc", ascending=True)


def ann_pq_rescore_topk(
    emb: DataFrame,
    query_ids: "list[int]",
    k: int = 5,
    num_centroids: int = 8,
    num_codes: int = 16,
    m: int = 8,
    nprobe: int = 2,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC+R: the ADC shortlist re-ranked by EXACT cosine — the
    refine stage of Jegou, Douze, Schmid's "searching in one billion
    vectors: re-rank with source coding" (public literature), and the
    standard production serve: quantized codes pick ``shortlist``
    candidates per query cheaply, then the true vectors of ONLY those
    candidates are fetched and exactly re-scored, so quantization
    error can reorder but no longer wrongly EXCLUDE near-boundary
    neighbours. Returns (query_id, neighbor_id, cosine, rank) — the
    top-``k`` of the shortlist by exact cosine (ties to the lower
    neighbor id).

    Scale shape: the shortlist relation is grid-sized (|queries| x
    shortlist) and BROADCASTS against the corpus for the vector fetch
    (the corpus streams through a BroadcastHashJoin unshuffled — no
    code columns read in the refine, no second quantized pass); query
    vectors are a bounded broadcast too; the final ranking window is
    grid-keyed. Exactness: the rescore cosine uses the proven
    ascending-index dot/norm folds, so the refined ranking is
    hash-identical cross-engine given the same shortlist (which the
    IVF-PQ oracle already guarantees)."""
    if shortlist < k:
        raise ValueError(
            f"shortlist={shortlist} must be >= k={k} — the refine stage "
            "ranks within the shortlist"
        )
    short = ann_ivf_pq_topk(
        emb, query_ids, k=shortlist, num_centroids=num_centroids,
        num_codes=num_codes, m=m, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    nvec = emb.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nv"))
    qvec = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    return _rescore_top_k(nvec, short, qvec, k, F.expr(_spark_norm("_nv")))


def duck_ann_pq_rescore_sql(
    query_ids: "list[int]",
    k: int = 5,
    num_centroids: int = 8,
    num_codes: int = 16,
    m: int = 8,
    dim: int = 64,
    nprobe: int = 2,
    shortlist: int = 20,
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`ann_pq_rescore_topk`: the settled IVF-PQ
    oracle produces the shortlist, the refine re-scores it with the
    same exact dot/norm folds and the same (cosine DESC, id) ranking."""
    inner = duck_ann_ivf_pq_sql(
        query_ids, k=shortlist, num_centroids=num_centroids,
        num_codes=num_codes, m=m, dim=dim, nprobe=nprobe, table=table,
    )
    cos = (
        f"{_duck_dot('e.embedding', 'q.embedding')} / "
        f"({_duck_norm('e.embedding')} * {_duck_norm('q.embedding')})"
    )
    return f"""
    WITH short AS ({inner}),
    resc AS (SELECT s.query_id, s.neighbor_id, {cos} AS cosine
             FROM short s
             JOIN {table} e ON e.vec_id = s.neighbor_id
             JOIN {table} q ON q.vec_id = s.query_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
          ORDER BY cosine DESC, neighbor_id) AS rank
      FROM resc) t WHERE rank <= {k}
    """


def ann_ivf_pq_topk_rescored_vs_index(
    new_emb: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 20,
    exclude_batch: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`ann_pq_rescore_topk` served from the PERSISTED IVF-PQ
    index: stage 1 ranks the probed cells' STORED codes by ADC
    (:func:`ann_ivf_pq_topk_vs_index` — m bytes per vector, static cid
    pruning, zero index-side Exchange); stage 2 collects the
    grid-sized shortlist (bounded: <=1000 queries x shortlist, the
    same guard as stage 1) and re-reads ONLY those rows' float
    vectors via a pushed ``nid IN`` filter — at a billion vectors the
    refine touches |shortlist| rows of the nv column, not the corpus.
    Returns (query_id, neighbor_id, cosine, rank), identical to the
    inline twin on the same corpus (unit-gated)."""
    spark = new_emb.sparkSession
    short = ann_ivf_pq_topk_vs_index(
        new_emb, path, k=shortlist, nprobe=nprobe,
        exclude_batch=exclude_batch, id_col=id_col, vec_col=vec_col,
    )
    pairs = sorted(
        (int(r["query_id"]), int(r["neighbor_id"])) for r in short.collect()
    )
    if not pairs:
        return spark.range(0).select(
            F.col("id").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            F.col("id").cast("double").alias("cosine"),
            F.col("id").cast("int").alias("rank"),
        )
    q_rows = _table_rows(new_emb.select(id_col, vec_col).collect())
    cand_ids = sorted({n for _q, n in pairs})
    pair_elems = ", ".join(
        f"struct(CAST({q} AS BIGINT) AS query_id, "
        f"CAST({n} AS BIGINT) AS neighbor_id)"
        for q, n in pairs
    )
    pairs_df = (
        spark.range(1)
        .select(F.explode(F.expr(f"array({pair_elems})")).alias("p"))
        .select("p.*")
    )
    qids_in_pairs = {q for q, _n in pairs}
    q_elems = ", ".join(
        f"struct(CAST({qid} AS BIGINT) AS query_id, "
        f"{_centroid_literal(qv)} AS _qv)"
        for qid, qv in q_rows
        if qid in qids_in_pairs
    )
    qdf = (
        spark.range(1)
        .select(F.explode(F.expr(f"array({q_elems})")).alias("q"))
        .select("q.*")
    )
    landed = spark.read.parquet(f"{path}/vectors")
    if exclude_batch is not None:
        landed = landed.filter(F.col("batch") != exclude_batch)
    # the refine read: nv for the shortlist rows ONLY — the IN filter
    # pushes to the parquet scan (PushedFilters, plan-gated) and the
    # code columns are pruned away entirely
    vec = landed.filter(F.col("nid").isin(cand_ids)).select(
        "nid", F.col("nv").alias("_nv"), "nrm"
    )
    return _rescore_top_k(vec, pairs_df, qdf, k, F.col("nrm"))
