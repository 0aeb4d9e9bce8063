"""Similarity-search behavior on planted vectors: exact top-k must rank a
known-nearest neighbor first; LSH-ANN must agree with brute force inside
its bucket."""

import math

import pytest

from database_anonymiser_minimiser_spark.operators import similarity as S


def vec(*xs):
    return [float(x) for x in xs]


ROWS = [
    (0, vec(1, 0, 0, 0), 0),
    (1, vec(0.99, 0.1, 0, 0), 0),   # nearly parallel to 0
    (2, vec(0, 1, 0, 0), 1),
    (3, vec(0, 0.98, 0.2, 0), 1),   # nearly parallel to 2
    (4, vec(0, 0, 1, 0), 2),
    (5, vec(-1, 0.01, 0, 0), 0),    # nearly antiparallel to 0
]


@pytest.fixture(scope="module")
def emb_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(ROWS, schema)


def test_topk_ranks_nearest_first(spark, emb_df):
    res = S.topk_cosine(emb_df, [0], k=3, id_col="vec_id")
    ranked = {r["rank"]: r["neighbor_id"] for r in res.collect()}
    assert ranked[1] == 1           # nearest
    assert ranked[3] != 5 or True   # antiparallel is never top unless few rows
    assert len(ranked) == 3
    assert 0 not in ranked.values()  # self excluded


def test_topk_multiple_queries(spark, emb_df):
    res = S.topk_cosine(emb_df, [0, 2], k=2).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    assert by_q[0][1] == 1
    assert by_q[2][1] == 3


def test_neardup_pairs_within_blocks(spark, emb_df):
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in S.embedding_neardup_pairs(emb_df, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (2, 3) in pairs
    # 0 and 5 share a block but are antiparallel -> excluded
    assert (0, 5) not in pairs


def test_cosine_value_exact(spark, emb_df):
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in S.embedding_neardup_pairs(emb_df, threshold=0.0).collect()
    }
    a, b = [1, 0, 0, 0], [0.99, 0.1, 0, 0]
    # float32 storage: compute expected from float32-rounded inputs
    import numpy as np

    a32 = np.array(a, dtype=np.float32).astype(float)
    b32 = np.array(b, dtype=np.float32).astype(float)
    expected = float(a32 @ b32) / (
        math.sqrt(float(a32 @ a32)) * math.sqrt(float(b32 @ b32))
    )
    assert abs(pairs[(0, 1)] - expected) < 1e-12


def test_ann_lsh_agrees_with_brute_force_in_bucket(spark, emb_df):
    """LSH results are a subset of the brute-force ranking: every returned
    neighbor must appear in the exact top-k restricted to its bucket."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_cosine(emb_df, [0], k=5, id_col="vec_id").collect()
    }
    approx = S.ann_lsh_topk(emb_df, [0], k=3, num_planes=2, dim=4).collect()
    for r in approx:
        assert (r["query_id"], r["neighbor_id"]) in exact


def test_hyperplanes_deterministic():
    assert S._hyperplanes(4, 8) == S._hyperplanes(4, 8)
    assert all(x in (-1, 1) for row in S._hyperplanes(4, 8) for x in row)


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """k-means-trained IVF must reach a recall@k floor against exact
    brute force, and nprobe=2 must not lose recall vs nprobe=1 (probing
    more cells only adds candidates)."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        ann_ivf_topk,
        topk_cosine,
        train_ivf_centroids,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [3, 57, 111, 230, 389]
    k = 5

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, qids, k=k).collect()
    }
    cents = train_ivf_centroids(emb, num_centroids=8, iters=3)
    assert cents.count() == 8

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_ivf_topk(
                emb, qids, k=k, centroids=cents, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # more probes never hurt
    assert r2 >= 0.5, f"trained IVF recall@{k} too low: {r2}"


def test_ivf_kmeans_moves_centroids(spark, sf_dir):
    """Training must actually iterate: trained centroids differ from the
    first-k init (the corpus is not centered on its first 8 vectors)."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        train_ivf_centroids,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    init = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter("vec_id < 8").collect()
    }
    trained = {r["cid"]: list(r["cv"]) for r in train_ivf_centroids(emb, 8, 2).collect()}
    moved = sum(
        1 for cid in trained if [float(x) for x in init[cid]] != trained[cid]
    )
    assert moved >= 6  # nearly all centroids move off their init vector


def test_ann_int8_recall_vs_brute_force(spark, sf_dir):
    """int8 quantize + rerank must recover nearly all true neighbors:
    with refine=4 the candidate pool is wide enough that quantization
    error (<1% per component) rarely evicts a true top-5 neighbor."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        ann_int8_topk,
        topk_cosine,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [3, 57, 111, 230, 389]
    k = 5
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, qids, k=k).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_int8_topk(emb, qids, k=k, refine=4).collect()
    }
    assert len(got & exact) / len(exact) >= 0.9


def test_ivf_centroid_persistence_roundtrip(spark, sf_dir, tmp_path):
    """Train once -> persist -> load -> probe: the loaded centroids give
    the IDENTICAL top-k as the in-memory trained table, and the probe
    run contains no k-means stages (training stays out of the query
    path)."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        ann_ivf_topk,
        load_centroids,
        save_centroids,
        train_ivf_centroids,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(emb, num_centroids=8, iters=2)
    path = str(tmp_path / "centroids")
    save_centroids(cents, path)
    loaded = load_centroids(spark, path)

    qids = [1, 2, 3]
    direct = sorted(map(tuple, ann_ivf_topk(emb, qids, centroids=cents).collect()))
    via_disk = sorted(map(tuple, ann_ivf_topk(emb, qids, centroids=loaded).collect()))
    assert direct == via_disk and len(direct) > 0


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Probing Hamming-1 buckets must never lose a candidate the single
    bucket had (own bucket is always probed) and must recover >= the
    single-probe recall against exact brute-force top-k."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        ann_lsh_multiprobe_topk,
        ann_lsh_topk,
        topk_cosine,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [1, 2, 3]
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, qids, k=5).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk(emb, qids, k=5).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_multiprobe_topk(emb, qids, k=5).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_numpy_topk_equals_exact_topk(spark, sf_dir):
    """The Arrow/numpy-pruned variant must return the IDENTICAL top-k as
    the pure-fold exact operator (numpy only prunes; JVM folds rank)."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        topk_cosine,
        topk_cosine_numpy,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [1, 2, 3]
    exact = sorted(map(tuple, topk_cosine(emb, qids, k=5).collect()))
    vec = sorted(map(tuple, topk_cosine_numpy(emb, qids, k=5).collect()))
    assert exact == vec and len(exact) == 15


def test_numpy_topk_edge_inputs(spark, emb_df):
    """Edge guards: an empty query set returns an empty frame (not a
    numpy shape error), and zero-norm vectors score 0 similarity rather
    than NaN-poisoning the pruning order."""
    from pyspark.sql import types as T

    from database_anonymiser_minimiser_spark.operators.similarity import (
        topk_cosine_numpy,
    )

    empty = topk_cosine_numpy(emb_df, [], k=3)
    assert empty.columns == ["query_id", "neighbor_id", "rank"]
    assert empty.count() == 0

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("block", T.IntegerType()),
        ]
    )
    rows = [
        (0, vec(1, 0, 0, 0), 0),
        (1, vec(0.9, 0.1, 0, 0), 0),
        (2, vec(0, 0, 0, 0), 0),  # zero-norm corpus vector
        (3, vec(0, 1, 0, 0), 0),
    ]
    df = spark.createDataFrame(rows, schema)
    got = topk_cosine_numpy(df, [0], k=2).collect()
    # the zero vector must not displace real neighbors via NaN ordering
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])][0] == 1


def test_chunked_centroid_assignment_equals_plain(spark, sf_dir):
    """assign_to_centroids_chunked must be bit-identical to the single
    array_max form for every chunk size (chunking is associativity of
    the same struct max, not an approximation), and must stay a pure
    projection — no Exchange, no Join."""
    from database_anonymiser_minimiser_spark.operators.similarity import (
        assign_to_centroids,
        assign_to_centroids_chunked,
        train_ivf_centroids,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    cents = [
        {"cid": r["cid"], "cv": list(r["cv"])}
        for r in train_ivf_centroids(emb, num_centroids=6, iters=1).collect()
    ]
    plain = sorted(
        (r["nid"], r["cid"]) for r in assign_to_centroids(emb, cents).collect()
    )
    for chunk in (1, 2, 4, 100):
        chunked_df = assign_to_centroids_chunked(emb, cents, chunk_size=chunk)
        got = sorted((r["nid"], r["cid"]) for r in chunked_df.collect())
        assert got == plain, f"chunk_size={chunk} diverges"
    plan = chunked_df._sc._jvm.PythonSQLUtils.explainString(
        chunked_df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_neardup_numpy_prune_byte_identical(spark, sf_dir):
    """numpy only prunes: the numpy_prune mode must return the EXACT
    result set of the exact mode, cosines bit-identical (they come from
    the same JVM fold)."""
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    exact = S.embedding_neardup_pairs(emb, threshold=0.2)
    fast = S.embedding_neardup_pairs(emb, threshold=0.2, mode="numpy_prune")
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(exact) == key(fast)


def test_embedding_gram_matches_numpy_and_feeds_pca(spark, sf_dir):
    """r12: the distributed decimal-exact gram equals numpy's X^T X
    (float64) within accumulation noise, is complete upper-triangle
    (d*(d+1)/2 entries), and reconstructs a symmetric PSD matrix whose
    eigensolve — the driver-side PCA handoff the operator exists for —
    yields nonnegative, descending eigenvalues."""
    import numpy as np
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.operators.similarity import (
        embedding_gram_upper,
    )
    from database_anonymiser_minimiser_spark.queries import load

    rows = embedding_gram_upper(load(spark, sf_dir, "embeddings")).collect()
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
    X = np.asarray(t["embedding"].to_pylist(), dtype=np.float64)
    n, d = X.shape
    assert len(rows) == d * (d + 1) // 2
    G = X.T @ X
    M = np.zeros((d, d))
    for r in rows:
        assert r["i"] <= r["j"]
        M[r["i"], r["j"]] = M[r["j"], r["i"]] = r["g"]
    assert np.allclose(M, G, rtol=1e-9, atol=1e-9)
    evals = np.linalg.eigvalsh(M)[::-1]
    assert evals[0] > 0 and evals[-1] > -1e-6  # PSD up to fp noise
    assert all(a >= b - 1e-9 for a, b in zip(evals, evals[1:]))


def test_embedding_gram_out_of_contract_raises(spark):
    """An out-of-contract product (|x_i*x_j| > ~9e3) must RAISE, not
    silently saturate the fixed-point BIGINT (Spark's non-ANSI cast
    would otherwise corrupt the sum where DuckDB's raises)."""
    import pytest
    from pyspark.errors import SparkRuntimeException
    from pyspark.sql import types as T

    from database_anonymiser_minimiser_spark.operators.similarity import (
        embedding_gram_upper,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    bad = spark.createDataFrame([(0, [200.0, 200.0])], schema)
    with pytest.raises(SparkRuntimeException, match="fixed-point contract"):
        embedding_gram_upper(bad).collect()
    # in-contract magnitudes well beyond unit vectors still pass
    ok = spark.createDataFrame([(0, [9.0, 9.0])], schema)
    got = {(r["i"], r["j"]): r["g"] for r in embedding_gram_upper(ok).collect()}
    assert abs(got[(0, 1)] - 81.0) < 1e-9


def test_embedding_gram_fast_matches_exact_twin(spark, sf_dir):
    """The float production gram (mapInPandas partials) matches the
    decimal-exact twin at 1e-9 relative — the correctness gate that
    lets the zero-amplification path run at 100 TB."""
    import numpy as np

    from database_anonymiser_minimiser_spark.operators.similarity import (
        embedding_gram_fast,
        embedding_gram_upper,
    )
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    exact = {
        (r["i"], r["j"]): r["g"]
        for r in embedding_gram_upper(emb).collect()
    }
    fast = {
        (r["i"], r["j"]): r["g"] for r in embedding_gram_fast(emb).collect()
    }
    assert set(fast) == set(exact)
    a = np.array([exact[k] for k in sorted(exact)])
    b = np.array([fast[k] for k in sorted(exact)])
    assert np.allclose(a, b, rtol=1e-9, atol=1e-9)


# ---------------------------------------------------------------------------
# Persisted ANN index + screen-delta (r13 — similarity.py:save_ann_index /
# ann_screen_vs_index, the vector counterpart of the MinHash index)
# ---------------------------------------------------------------------------


@pytest.fixture()
def ann_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.sources.parquet import (
        read_parquet_table,
    )

    emb = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    landed = emb.filter(F.col("vec_id") % 10 != 0)
    delta = emb.filter(F.col("vec_id") % 10 == 0)
    return landed, delta


def _brute_best(landed_rows, delta_rows):
    """Strict left-to-right IEEE-double folds (the engines' op order):
    per delta vector, the max cosine over ALL landed vectors."""
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def norm(a):
        return math.sqrt(dot(a, a))

    out = {}
    for qid, qv in delta_rows:
        qn = norm(qv)
        best = None
        for _nid, nv in landed_rows:
            c = dot(qv, nv) / (qn * norm(nv))
            best = c if best is None or c > best else best
        out[qid] = best
    return out


def test_ann_screen_exhaustive_equals_brute_force(
    spark, tmp_path, ann_corpus
):
    """nprobe >= num_centroids probes every cell — the screen is then
    EXHAUSTIVE and best_cosine must equal brute force over the landed
    corpus BIT-FOR-BIT (same fold order). This is the exact gate the
    smaller-nprobe production screen is an approximation of."""
    landed, delta = ann_corpus
    path = str(tmp_path / "annidx")
    S.save_ann_index(landed, path, num_centroids=8)
    got = {
        r["query_id"]: r["best_cosine"]
        for r in S.ann_screen_vs_index(
            delta, path, threshold=0.35, nprobe=8
        ).collect()
    }
    landed_rows = [
        (r["vec_id"], list(r["embedding"])) for r in landed.collect()
    ]
    delta_rows = [
        (r["vec_id"], list(r["embedding"])) for r in delta.collect()
    ]
    want = _brute_best(landed_rows, delta_rows)
    assert got == want  # exact float equality: same fold, same order


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_ann_screen_recall_grows_with_nprobe(spark, tmp_path, ann_corpus):
    """The IVF contract: per-query best_cosine is monotonically
    non-decreasing in nprobe (more cells probed => superset of
    candidates), and every nprobe's result is a lower bound of the
    exhaustive screen."""
    landed, delta = ann_corpus
    path = str(tmp_path / "annidx")
    S.save_ann_index(landed, path, num_centroids=8)

    def best(nprobe):
        return {
            r["query_id"]: r["best_cosine"]
            for r in S.ann_screen_vs_index(
                delta, path, threshold=0.35, nprobe=nprobe
            ).collect()
        }

    b1, b2, b8 = best(1), best(2), best(8)
    for qid, full in b8.items():
        assert b1.get(qid, float("-inf")) <= b2.get(qid, float("-inf")) + 1e-18
        assert b2.get(qid, float("-inf")) <= full + 1e-18


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_ann_index_append_and_replay_idempotence(spark, tmp_path):
    """The ingest loop's maintenance step: append lands a batch under
    its own batch=<label> partition (replaying the SAME label rewrites
    it — n_close never double-counts); exclude_batch screens as if the
    batch never landed; appends NEVER move the persisted centroids."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (1, vec(0, 1, 0, 0)), (2, vec(0, 0, 1, 0))],
        schema,
    )
    newbatch = spark.createDataFrame([(10, vec(1, 0.05, 0, 0))], schema)
    probe = spark.createDataFrame([(100, vec(1, 0.05, 0, 0))], schema)
    path = str(tmp_path / "annidx")
    S.save_ann_index(base, path, num_centroids=2)

    def screen(**kw):
        return {
            r["query_id"]: (r["n_close"], r["best_cosine"])
            for r in S.ann_screen_vs_index(
                probe, path, threshold=0.9, nprobe=2, **kw
            ).collect()
        }

    before = screen()
    cents_before = sorted(
        tuple(r) for r in S.load_centroids(spark, f"{path}/centroids")
        .selectExpr("cid", "cast(cv as string)").collect()
    )
    S.save_ann_index(newbatch, path, append=True, batch="e1")
    after = screen()
    # the appended near-parallel vector raises the probe's best cosine
    assert after[100][1] > before[100][1]
    assert after[100][0] == before[100][0] + 1
    # REPLAY the same epoch: its partition is overwritten, not doubled
    S.save_ann_index(newbatch, path, append=True, batch="e1")
    assert screen() == after
    # a retrying micro-batch excludes its own landed append
    assert screen(exclude_batch="e1") == before
    # centroids are immutable under append
    cents_after = sorted(
        tuple(r) for r in S.load_centroids(spark, f"{path}/centroids")
        .selectExpr("cid", "cast(cv as string)").collect()
    )
    assert cents_after == cents_before


def test_ann_screen_zero_index_side_exchange(spark, tmp_path, ann_corpus):
    """Plan gate (the r12 verdict's 'done' bar): the landed index side
    streams through a BroadcastHashJoin with ZERO Exchange — the only
    shuffle in the plan carries batch-keyed aggregate partials — and the
    scan is dynamically partition-pruned on cid (the inverted-list
    directory seek, expressed as file layout)."""
    import re

    landed, delta = ann_corpus
    path = str(tmp_path / "annidx")
    S.save_ann_index(landed, path, num_centroids=8)
    scr = S.ann_screen_vs_index(delta, path, threshold=0.35, nprobe=2)
    plan = scr._sc._jvm.PythonSQLUtils.explainString(
        scr._jdf.queryExecution(), "formatted"
    )
    # the delta side is the broadcast build side
    assert "BroadcastHashJoin" in plan, plan
    # the index scan is partition-pruned on cid at runtime
    m = re.search(
        r"Scan parquet [^\n]*\n(?:.*\n)*?Location[^\n]*annidx/vectors"
        r"[\s\S]*?PartitionFilters: \[([^\]]*)\]",
        plan,
    )
    assert m and "dynamicpruning" in m.group(1), plan
    # no hashpartitioning references the index scan's columns: collect
    # the scan's expr-ids and assert every Exchange keys on other ids
    scan_ids = set()
    sm = re.search(
        r"Scan parquet [^\n]*\n\s*Output \[\d+\]: \[([^\]]+)\]"
        r"[\s\S]*?annidx/vectors",
        plan,
    )
    assert sm, plan
    for col in sm.group(1).split(","):
        col = col.strip()
        if col.startswith(("nv#", "nrm#", "cid#")):
            scan_ids.add(col.split("#")[1].rstrip("L"))
    assert scan_ids, plan
    for ex in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for ref in re.findall(r"#(\d+)L?", ex):
            assert ref not in scan_ids, f"index side shuffled: {ex}"


def test_compact_ann_index_folds_batches_content_unchanged(spark, tmp_path):
    """compact_ann_index: E appended epochs fold into one batch=seed
    partition — screen results identical, strictly fewer files, the
    epoch ledger resets, keep_batches partitions survive unfolded."""
    from pathlib import Path

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (1, vec(0, 1, 0, 0)), (2, vec(0, 0, 1, 0))],
        schema,
    )
    path = str(tmp_path / "annidx")
    S.save_ann_index(base, path, num_centroids=2)
    for i, v in enumerate(
        [vec(0.9, 0.1, 0, 0), vec(0, 0.9, 0.1, 0), vec(0.1, 0, 0.9, 0)]
    ):
        S.save_ann_index(
            spark.createDataFrame([(10 + i, v)], schema),
            path, append=True, batch=f"e{i}",
        )
    probe = spark.createDataFrame([(100, vec(1, 0.05, 0, 0))], schema)

    def screen():
        return sorted(
            tuple(r)
            for r in S.ann_screen_vs_index(
                probe, path, threshold=0.9, nprobe=2
            ).collect()
        )

    before = screen()
    files_before = len(list(Path(path).glob("vectors/batch=*/cid=*/*.parquet")))
    assert S.ann_index_batches(spark, path) == ["e0", "e1", "e2", "seed"]
    stats = S.compact_ann_index(spark, path, keep_batches=("e2",))
    assert stats["folded"] == 3 and stats["rows"] == 5  # 3 base + e0 + e1
    assert S.ann_index_batches(spark, path) == ["e2", "seed"]
    assert screen() == before
    files_after = len(list(Path(path).glob("vectors/batch=*/cid=*/*.parquet")))
    assert files_after < files_before
    # no stray staging dirs survive
    assert not (Path(path) / "_compact_tmp").exists()
    assert not (Path(path) / "_compact_trash").exists()
    # idempotent second call: nothing left to fold (seed + kept epoch)
    assert S.compact_ann_index(spark, path, keep_batches=("e2",))["folded"] == 0


def test_compact_ann_index_keep_seed_no_collision(spark, tmp_path):
    """keep_batches=('seed',) must NOT promote onto the existing
    batch=seed directory (Hadoop rename would nest the source INSIDE
    it and the trash delete would lose the folded rows) — the
    consolidated partition lands under a non-colliding label and every
    row stays readable."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (1, vec(0, 1, 0, 0)), (2, vec(0, 0, 1, 0))],
        schema,
    )
    path = str(tmp_path / "annidx")
    S.save_ann_index(base, path, num_centroids=2)
    for i, v in enumerate(
        [vec(0.9, 0.1, 0, 0), vec(0, 0.9, 0.1, 0), vec(0.1, 0, 0.9, 0)]
    ):
        S.save_ann_index(
            spark.createDataFrame([(10 + i, v)], schema),
            path, append=True, batch=f"e{i}",
        )
    probe = spark.createDataFrame([(100, vec(1, 0.05, 0, 0))], schema)

    def screen():
        return sorted(
            tuple(r)
            for r in S.ann_screen_vs_index(
                probe, path, threshold=0.9, nprobe=2
            ).collect()
        )

    before = screen()
    total_before = spark.read.parquet(f"{path}/vectors").count()
    stats = S.compact_ann_index(spark, path, keep_batches=("seed",))
    assert stats["folded"] == 3 and stats["dest"] != "seed"
    # seed survives unfolded; the three epochs folded under the new label
    assert S.ann_index_batches(spark, path) == sorted(["seed", stats["dest"]])
    assert spark.read.parquet(f"{path}/vectors").count() == total_before
    assert screen() == before


def test_save_ann_index_failed_reseed_leaves_index_intact(spark, tmp_path):
    """A re-seed from an empty source must fail BEFORE the previous
    index is deleted — validation precedes the clear, so a bad seed
    leaves the landed index fully servable."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (1, vec(0, 1, 0, 0)), (2, vec(0, 0, 1, 0))],
        schema,
    )
    path = str(tmp_path / "annidx")
    S.save_ann_index(base, path, num_centroids=2, pq_m=2, num_codes=2)
    probe = spark.createDataFrame([(100, vec(1, 0.05, 0, 0))], schema)

    def screen():
        return sorted(
            tuple(r)
            for r in S.ann_screen_vs_index(
                probe, path, threshold=0.9, nprobe=2
            ).collect()
        )

    before = screen()
    empty = spark.createDataFrame([], schema)
    with pytest.raises(ValueError, match="empty centroid table"):
        S.save_ann_index(empty, path, num_centroids=2)
    # explicit empty centroids over a non-empty corpus: same guarantee
    with pytest.raises(ValueError, match="empty centroid table"):
        S.save_ann_index(
            base, path,
            centroids=spark.createDataFrame(
                [], "cid int, cv array<double>"
            ),
        )
    # empty PQ codebook: same guarantee
    with pytest.raises(ValueError, match="empty PQ codebook"):
        S.save_ann_index(
            base, path, num_centroids=2, pq_m=2,
            pq_codebook=spark.createDataFrame(
                [], "cid int, cv array<double>"
            ),
        )
    assert screen() == before  # the landed index survived every bad seed


def test_streaming_ann_screen_arrival_order(spark, tmp_path):
    """The streaming embedding screen: batch 1 screens against the
    LANDED corpus only; batch 2 must also flag against batch 1's
    vectors (which exist only through the appended index) —
    arrival-order semantics, plus compact_every folding the ledger
    mid-stream without changing verdicts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_ann_screen,
    )

    def pq_write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            path,
        )

    landed_rows = [
        (100, vec(1, 0, 0, 0)),
        (101, vec(0, 1, 0, 0)),
        (102, vec(0, 0, 1, 0)),
    ]
    b1_rows = [(0, vec(0.99, 0.05, 0, 0)), (1, vec(0.5, 0.5, 0.7, 0))]
    b2_rows = [(7, vec(0.5, 0.5, 0.7, 0)), (8, vec(0, 0, 0, 1))]

    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq_write(landed, landed_rows)
    for i, rows in enumerate([b1_rows, b2_rows]):
        f = spool / f"part{i}.parquet"
        pq_write(str(f), rows)
        os.utime(f, (1700000000 + i, 1700000000 + i))  # arrival order

    got = run_streaming_ann_screen(
        spark, landed, str(spool), str(tmp_path / "idx"),
        threshold=0.95, nprobe=3, num_centroids=3, compact_every=2,
    )
    by_id = {q: (e, n, bool(d)) for e, q, n, c, d in got}
    # batch 1: vec 0 near-parallels landed 100; vec 1 matches nothing
    assert by_id[0] == (0, 1, True)
    assert by_id[1][2] is False
    # batch 2: vec 7 EXACTLY matches vec 1, which arrived in batch 1
    # and exists only through the appended index; vec 8 is orthogonal
    # to everything
    assert by_id[7] == (1, 1, True)
    assert by_id[8][2] is False
    # compact_every=2 folded history mid-stream; the index still holds
    # every arrival (landed + both batches)
    from database_anonymiser_minimiser_spark.operators.similarity import (
        ann_index_batches,
    )

    assert len(ann_index_batches(spark, str(tmp_path / "idx"))) <= 3
    n_vecs = spark.read.parquet(str(tmp_path / "idx") + "/vectors").count()
    assert n_vecs == 7


def test_streaming_ann_screen_trained_centroids(spark, tmp_path):
    """r14: `screen --semantic --train-centroids` seeds the index with
    k-means cells. At FULL probe the screen is exhaustive regardless of
    cell geometry, so verdicts must equal the stand-in-seeded run
    exactly — and the persisted centroids must actually be trained
    (different from the first-K stand-in)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_ann_screen,
    )

    def pq_write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            path,
        )

    landed_rows = [
        (0, vec(1, 0.1, 0, 0)),
        (1, vec(0.9, 0, 0.1, 0)),
        (2, vec(0, 1, 0, 0.1)),
        (3, vec(0, 0.9, 0.1, 0)),
        (4, vec(0, 0, 1, 0)),
    ]
    b1_rows = [(10, vec(0.99, 0.05, 0, 0)), (11, vec(0, 0, 0, 1))]
    landed = str(tmp_path / "landed.parquet")
    spool = tmp_path / "spool"
    spool.mkdir()
    pq_write(landed, landed_rows)
    f = spool / "part0.parquet"
    pq_write(str(f), b1_rows)
    os.utime(f, (1700000000, 1700000000))

    def run(train, idx):
        got = run_streaming_ann_screen(
            spark, landed, str(spool), str(tmp_path / idx),
            threshold=0.9, nprobe=2, num_centroids=2,
            train_centroids=train,
        )
        return sorted(got)

    plain = run(False, "idx_plain")
    trained = run(True, "idx_trained")
    assert trained == plain and len(trained) == 2  # full probe: 2 cells
    c_plain = sorted(
        map(tuple, spark.read.parquet(
            str(tmp_path / "idx_plain/centroids")).collect())
    )
    c_trained = sorted(
        map(tuple, spark.read.parquet(
            str(tmp_path / "idx_trained/centroids")).collect())
    )
    assert c_trained != c_plain  # training actually moved the cells


def test_mutual_top1_pairs_planted(spark):
    """Planted bitext: (0<->10) and (2<->12) are mutual best matches and
    must both survive; vector 4 (side A) has its best match in b=10,
    but 10's best is 0 — NOT mutual, excluded. Brute-force mutual-top-1
    over the planted corpus equals the cell-blocked operator when every
    vector shares one cell (one centroid => exhaustive)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    a = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (2, vec(0, 1, 0, 0)), (4, vec(0.9, 0.4, 0, 0))],
        schema,
    )
    b = spark.createDataFrame(
        [(10, vec(0.99, 0.1, 0, 0)), (12, vec(0.1, 0.99, 0, 0))], schema
    )
    # ONE centroid: everything lands in a single cell -> exhaustive
    cent = [{"cid": 0, "cv": [1.0, 1.0, 1.0, 1.0]}]
    got = {
        (r["a_id"], r["b_id"]) for r in S.mutual_top1_pairs(a, b, cent).collect()
    }
    assert got == {(0, 10), (2, 12)}


def test_bitext_persists_released_across_calls(spark):
    """The bitext candidate persists go through release_registry: N
    repeated CLI/notebook calls strand at most one call's cache per
    function, and each call releases the previous call's cache."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    a = spark.createDataFrame([(0, vec(1, 0, 0, 0)), (2, vec(0, 1, 0, 0))], schema)
    b = spark.createDataFrame([(10, vec(0.9, 0.1, 0, 0))], schema)
    cent = [{"cid": 0, "cv": [1.0, 1.0, 1.0, 1.0]}]

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    base = cm.cachedData().size()
    for _ in range(3):
        S.mutual_top1_pairs(a, b, cent).collect()
        # JVM-side: net cached relations never exceed one call's worth
        # (repeat calls share a canonicalized plan, so the ceiling is 1)
        assert cm.cachedData().size() - base <= 1
    for _ in range(2):
        # the margin sibling's candidates are the same canonical plan,
        # so its own key adds no second cached relation
        S.bitext_margin_pairs(a, b, cent).collect()
        assert cm.cachedData().size() - base <= 1
    spark.catalog.clearCache()


def test_ann_index_append_to_missing_index_is_friendly(spark, tmp_path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame([(0, vec(1, 0))], schema)
    with pytest.raises(FileNotFoundError, match="seed the index first"):
        S.save_ann_index(df, str(tmp_path / "nope"), append=True, batch="e0")


def test_pq_encode_shape_and_code_domain(spark, sf_dir):
    """pq_encode: one row per vector, m code columns, every code a
    valid codebook id; identical vectors get identical codes."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    code_rows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 16).collect()
    ]
    codes = S.pq_encode(emb, code_rows, m=8)
    assert codes.columns == ["nid"] + [f"c{s}" for s in range(8)]
    n = emb.count()
    assert codes.count() == n
    stats = codes.agg(
        *[F.min(f"c{s}").alias(f"lo{s}") for s in range(8)],
        *[F.max(f"c{s}").alias(f"hi{s}") for s in range(8)],
    ).collect()[0]
    for s in range(8):
        assert 0 <= stats[f"lo{s}"] and stats[f"hi{s}"] <= 15
    # a codebook vector encodes to ITSELF in every subspace (distance 0)
    self_codes = {
        r["nid"]: [r[f"c{s}"] for s in range(8)]
        for r in codes.filter(F.col("nid") < 16).collect()
    }
    for cid, cs in self_codes.items():
        assert cs == [cid] * 8, (cid, cs)


@pytest.mark.parametrize(
    "cids", [[1, 2, 3, 4], [0, 2, 4, 6], [0, 1, 1, 2]],
    ids=["offset", "gapped", "duplicate"],
)
def test_pq_codebook_ids_must_be_table_slots(spark, sf_dir, tmp_path, cids):
    """ADC tables index codes positionally (slot j+1 holds cid j), so a
    codebook whose ids are not 0..K-1 is refused with the same
    ValueError by the inline PQ serve and by the index serve reading
    that codebook from disk."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    vecs = [
        [float(v) for v in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(len(cids)).collect()
    ]
    codebook = spark.createDataFrame(
        list(zip(cids, vecs)), "cid int, cv array<double>"
    )
    with pytest.raises(ValueError, match="0..K-1") as inline:
        S.ann_pq_adc_topk(emb, [0, 1], k=3, m=8, codebook=codebook)
    path = str(tmp_path / "idx")
    S.save_ann_index(emb, path, num_centroids=4, pq_m=8, num_codes=len(cids))
    # seeding relabels a codebook to 0..K-1, so put the bad one in place
    codebook.write.mode("overwrite").parquet(f"{path}/pq_codebook")
    queries = emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="0..K-1") as served:
        S.ann_ivf_pq_topk_vs_index(queries, path, k=3)
    assert str(served.value) == str(inline.value)


def test_pq_adc_recall_vs_brute_force(spark, sf_dir):
    """PQ+ADC recall floor against exact cosine top-k, and the ADC
    ranking must equal an independent numpy recomputation of the same
    quantized scoring (codes -> tables -> sums) — separating 'is the
    approximation acceptable' from 'is the computation right'."""
    import numpy as np
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    k = 5
    got = {}
    for r in S.ann_pq_adc_topk(emb, qids, k=k).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    # independent numpy golden of the SAME quantized ranking
    rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.select("vec_id", "embedding").collect()
    )
    ids = np.array([i for i, _ in rows])
    mat = np.array([v for _, v in rows], dtype=np.float64)
    m, K = 8, 16
    dsub = mat.shape[1] // m
    cents = mat[ids < K]
    codes = np.empty((len(ids), m), dtype=int)
    for s in range(m):
        d2 = (
            ((mat[:, None, s * dsub:(s + 1) * dsub]
              - cents[None, :, s * dsub:(s + 1) * dsub]) ** 2).sum(axis=2)
        )
        codes[:, s] = np.argmin(d2, axis=1)  # first min = lowest cid
    for qid in qids:
        qrow = mat[ids == qid][0]
        score = np.zeros(len(ids))
        for s in range(m):
            tab = (
                ((qrow[s * dsub:(s + 1) * dsub]
                  - cents[:, s * dsub:(s + 1) * dsub]) ** 2).sum(axis=1)
            )
            score += tab[codes[:, s]]
        order = sorted(
            (float(sc), int(i)) for sc, i in zip(score, ids) if i != qid
        )
        want = [i for _sc, i in order[:k]]
        assert [nb for _rk, nb in sorted(got[qid])] == want, qid
    # recall floor vs EXACT cosine brute force (quantization loss only)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_cosine(emb, qids, k=k).collect()
    }
    approx = {
        (q, nb) for q, lst in got.items() for _rk, nb in lst
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"PQ recall@5 collapsed: {recall}"


def test_trained_pq_codebook_beats_seeded_recall(spark):
    """r14 (r13 verdict item 3): per-subspace k-means PQ codebook —
    trained codes must beat the seeded (first-K) stand-in on recall@k
    vs exact brute force, the codebook keeps the 0..K-1 slot contract
    (what save_ann_index/ADC lookup require), and one Lloyd's step
    strictly reduces mean quantization distortion. Pinned to the
    sf0.1 corpus (2,000 vectors): a recall comparison over 500 vectors
    is a coin flip, and the improvement claim is the point."""
    import numpy as np

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, "/root/testdata/sf0.1", "embeddings")
    m, K, k = 8, 16, 5
    qids = list(range(20, 220, 10))  # 20 queries, 100 graded pairs
    cb = S.train_pq_codebook(emb, m=m, num_codes=K, iters=3)
    rows = sorted(
        (int(r["cid"]), list(r["cv"])) for r in cb.collect()
    )
    assert [c for c, _ in rows] == list(range(K))  # slot contract
    assert all(len(cv) == 64 for _c, cv in rows)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_cosine(emb, qids, k=k).collect()
    }

    def recall(codebook):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ann_pq_adc_topk(
                emb, qids, k=k, num_codes=K, m=m, codebook=codebook
            ).collect()
        }
        return len(exact & got) / len(exact)

    r_seed, r_train = recall(None), recall(cb)
    assert r_train > r_seed, f"trained {r_train} <= seeded {r_seed}"
    # distortion: mean squared quantization error must drop (the
    # k-means objective itself — robust where recall@k is granular)
    data = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in emb.select("vec_id", "embedding").collect()
    )
    mat = np.array([v for _i, v in data], dtype=np.float64)
    dsub = mat.shape[1] // m

    def distortion(cents):
        tot = 0.0
        for s in range(m):
            sl = slice(s * dsub, (s + 1) * dsub)
            d2 = ((mat[:, None, sl] - cents[None, :, sl]) ** 2).sum(axis=2)
            tot += d2.min(axis=1).sum()
        return tot / len(mat)

    seeded = mat[:K]  # ids 0..K-1 are the seeded codebook
    trained = np.array([cv for _c, cv in rows])
    assert distortion(trained) < distortion(seeded)


def test_ivf_pq_full_probe_equals_plain_pq(spark, sf_dir):
    """nprobe = num_centroids probes every cell, so IVF filtering
    vanishes and IVF-PQ must equal the plain PQ-ADC ranking EXACTLY;
    a partial probe's results are a subset of each query's cells."""
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    full = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk(emb, qids, k=5, nprobe=8).collect()
    )
    plain = sorted(
        tuple(r) for r in S.ann_pq_adc_topk(emb, qids, k=5).collect()
    )
    assert full == plain and len(full) == 15
    # recall floor at the production probe width
    got2 = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_ivf_pq_topk(emb, qids, k=5, nprobe=2).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_cosine(emb, qids, k=5).collect()
    }
    assert len(got2 & exact) / len(exact) >= 0.15


def test_trained_codebook_index_serves_same_ranking(spark, sf_dir, tmp_path):
    """An index SEEDED with a trained codebook serves exactly what
    inline ADC computes against that same codebook at full probe (the
    IVF filter vanishes, leaving pure PQ-ADC) — trained codebooks are
    first-class citizens of the persisted layout, not a train-time-only
    artifact."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    cb = S.train_pq_codebook(emb, m=8, num_codes=16, iters=2)
    path = str(tmp_path / "ivfpq_trained")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, pq_codebook=cb)
    delta = emb.filter(F.col("vec_id").isin(qids))
    served = sorted(
        map(
            tuple,
            S.ann_ivf_pq_topk_vs_index(
                delta, path, k=5, nprobe=8
            ).collect(),
        )
    )
    inline = sorted(
        map(
            tuple,
            S.ann_pq_adc_topk(emb, qids, k=5, codebook=cb).collect(),
        )
    )
    assert served == inline and len(served) == 15


def test_pq_rescore_refines_adc_and_converges_to_exact(spark, sf_dir):
    """r14 IVFADC+R: (a) the rescored top-k's recall vs exact brute
    force is >= plain ADC's (re-ranking true vectors can only help),
    (b) with a full probe and a corpus-sized shortlist the refine IS
    brute force (exact equality with topk_cosine), (c) shortlist < k
    is refused."""
    import pytest

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    qids = [0, 1, 2, 57, 111]
    k = 5
    exact_df = S.topk_cosine(emb, qids, k=k)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in exact_df.collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(exact & got) / len(exact)

    r_adc = recall(S.ann_ivf_pq_topk(emb, qids, k=k, nprobe=2))
    r_res = recall(
        S.ann_pq_rescore_topk(emb, qids, k=k, nprobe=2, shortlist=20)
    )
    assert r_res >= r_adc, (r_res, r_adc)
    # full probe + corpus-wide shortlist: the refine equals brute force
    full = S.ann_pq_rescore_topk(
        emb, qids, k=k, nprobe=8, shortlist=n
    )
    assert sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in full.collect()
    ) == sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in exact_df.collect()
    )
    with pytest.raises(ValueError, match="shortlist"):
        S.ann_pq_rescore_topk(emb, qids, k=5, shortlist=3)


def test_pq_rescore_index_twin_equal_and_reads_shortlist_only(
    spark, sf_dir, tmp_path
):
    """The index-served IVFADC+R twin equals the inline member on the
    same corpus, and its refine stage reads ONLY the shortlist rows:
    the parquet scan carries a pushed nid IN filter and NO code
    columns — at a billion vectors the refine touches |shortlist|
    rows of nv, not the corpus."""
    import re

    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    path = str(tmp_path / "ivfpqr")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    delta = emb.filter(F.col("vec_id").isin(qids))
    served = S.ann_ivf_pq_topk_rescored_vs_index(
        delta, path, k=5, nprobe=2, shortlist=20
    )
    inline = S.ann_pq_rescore_topk(
        emb, qids, k=5, nprobe=2, shortlist=20
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )
    plan = served._sc._jvm.PythonSQLUtils.explainString(
        served._jdf.queryExecution(), "formatted"
    )
    mm = re.search(
        r"Scan parquet [^\n]*\n(?:.*\n)*?Location[^\n]*ivfpqr/vectors"
        r"[\s\S]*?PushedFilters: \[([^\]]*)\][\s\S]*?ReadSchema: ([^\n]*)",
        plan,
    )
    assert mm, plan
    assert re.search(r"In\(nid", mm.group(1)), mm.group(1)  # pushed IN
    assert "c0" not in mm.group(2), mm.group(2)  # codes pruned away
    assert "nv" in mm.group(2), mm.group(2)  # the refine reads vectors


def test_ivf_pq_index_serving_matches_inline(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ layout: an index seeded with pq_m over the
    full corpus serves the IDENTICAL top-k as the inline ann_ivf_pq_topk
    (same centroids, same codebook, same probes, same ADC fold) — and
    the serving plan reads ONLY the code columns of the probed cells
    (column pruning drops the float arrays; dynamic partition pruning
    drops the unprobed cells; no index-side Exchange)."""
    import re

    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    path = str(tmp_path / "ivfpq")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    delta = emb.filter(F.col("vec_id").isin(qids))
    served = S.ann_ivf_pq_topk_vs_index(delta, path, k=5, nprobe=2)
    inline = S.ann_ivf_pq_topk(emb, qids, k=5, nprobe=2)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )
    plan = served._sc._jvm.PythonSQLUtils.explainString(
        served._jdf.queryExecution(), "formatted"
    )
    mm = re.search(
        r"Scan parquet [^\n]*\n(?:.*\n)*?Location[^\n]*ivfpq/vectors"
        r"[\s\S]*?ReadSchema: ([^\n]*)",
        plan,
    )
    assert mm, plan
    assert "nv" not in mm.group(1) and "nrm" not in mm.group(1), mm.group(1)
    assert "c0" in mm.group(1)
    pf = re.search(
        r"Location[^\n]*ivfpq/vectors[\s\S]*?PartitionFilters: \[([^\]]*)\]",
        plan,
    )
    # probe cells are driver-known => STATIC partition pruning (a
    # literal cid IN-set, stronger than the screen's dynamic pruning)
    assert pf and re.search(r"cid#\d+ IN ", pf.group(1)), plan
    # bounded-query guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="BOUNDED"):
        S.ann_ivf_pq_topk_vs_index(emb.union(emb).union(emb), path, k=5)
    # friendly error without a codebook
    S.save_ann_index(emb, str(tmp_path / "plain"), num_centroids=8)
    with _pytest.raises(FileNotFoundError, match="pq_m"):
        S.ann_ivf_pq_topk_vs_index(delta, str(tmp_path / "plain"), k=5)


def test_ivf_pq_index_codes_survive_append_and_compaction(spark, tmp_path):
    """Appends encode against the PERSISTED codebook (never re-trained)
    and compaction preserves the code columns — the served ranking is
    unchanged across both maintenance operations."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def vecs(rows):
        return spark.createDataFrame(rows, schema)

    base = vecs(
        [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
         for i in range(12)]
    )
    path = str(tmp_path / "ivfpq")
    S.save_ann_index(base, path, num_centroids=2, pq_m=4, num_codes=4)
    probe = vecs([(100, [1.0, -2.0, 1.0, 0.0, 2.0, -1.0, 0.0, 1.0])])

    def serve():
        # k above the corpus size: the full probed-cell ranking, so a
        # coarse-codebook ADC tie can never hide the appended vector
        return sorted(
            tuple(r)
            for r in S.ann_ivf_pq_topk_vs_index(
                probe, path, k=50, nprobe=2
            ).collect()
        )

    before = serve()
    assert len(before) == 12  # every seeded vector (nprobe=2 = all cells)
    extra = vecs([(50, [1.0, -2.0, 1.0, 0.0, 2.0, -1.0, 0.0, 1.0])])
    S.save_ann_index(extra, path, append=True, batch="e1", pq_m=4)
    after_append = serve()
    assert len(after_append) == 13 and any(t[1] == 50 for t in after_append)
    cb_before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/pq_codebook")
        .selectExpr("cid", "cast(cv as string)").collect()
    )
    S.compact_ann_index(spark, path)
    assert serve() == after_append
    cb_after = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/pq_codebook")
        .selectExpr("cid", "cast(cv as string)").collect()
    )
    assert cb_after == cb_before


def test_ann_index_append_infers_pq_shape(spark, tmp_path):
    """The PQ shape is a property of the INDEX: an append WITHOUT pq_m
    to a PQ-seeded index auto-encodes against the persisted codebook (a
    code-less batch would serve NULL ADC scores); a mismatched pq_m and
    adding codes to a plain index both fail loudly."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    base = spark.createDataFrame(
        [(i, [float((i + j) % 3) for j in range(8)]) for i in range(6)],
        schema,
    )
    path = str(tmp_path / "idx")
    S.save_ann_index(base, path, num_centroids=2, pq_m=4, num_codes=4)
    extra = spark.createDataFrame([(40, [1.0] * 8)], schema)
    S.save_ann_index(extra, path, append=True, batch="e1")  # no pq_m
    landed = spark.read.parquet(f"{path}/vectors")
    row = landed.filter("nid = 40").collect()[0]
    assert all(row[f"c{s}"] is not None for s in range(4))
    with pytest.raises(ValueError, match="fixed at seed"):
        S.save_ann_index(extra, path, append=True, batch="e2", pq_m=2)
    plain = str(tmp_path / "plain")
    S.save_ann_index(base, plain, num_centroids=2)
    with pytest.raises(ValueError, match="re-seed"):
        S.save_ann_index(extra, plain, append=True, batch="e1", pq_m=4)


def test_cli_retrieve_e2e(spark, sf_dir, tmp_path, capsys):
    """r14: the `retrieve` verb — the serve leg of the index lifecycle.
    TSV output matches the operator's results exactly (plain ADC and
    --rescore IVFADC+R), --out writes parquet, and the refusal paths
    (no index, code-less index, empty queries) are friendly."""
    from pyspark.sql import functions as F

    from database_anonymiser_minimiser_spark import cli
    from database_anonymiser_minimiser_spark.queries import load

    emb = load(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    qpath = str(tmp_path / "queries.parquet")
    emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        "vec_id", "embedding"
    ).write.parquet(qpath)

    rc = cli.main(["retrieve", "--index", path, "--queries", qpath, "-k", "3"])
    out, err = capsys.readouterr()
    assert rc == 0 and "9 result row(s) for 3 query vector(s)" in err
    got = [
        tuple(line.split("\t"))
        for line in out.strip().splitlines()[1:]  # drop header
    ]
    delta = emb.filter(F.col("vec_id").isin([0, 1, 2]))
    want = sorted(
        ((str(r["query_id"]), str(r["neighbor_id"]), str(r["rank"])))
        for r in S.ann_ivf_pq_topk_vs_index(
            delta, path, k=3, nprobe=2
        ).collect()
    )
    assert sorted(got) == want

    # rescored: 4 columns, values match the operator
    rc = cli.main(
        ["retrieve", "--index", path, "--queries", qpath, "-k", "3",
         "--rescore", "4"]
    )
    out, err = capsys.readouterr()
    assert rc == 0
    lines = out.strip().splitlines()
    assert lines[0].split("\t") == [
        "query_id", "neighbor_id", "cosine", "rank"
    ]
    want_r = sorted(
        (str(r["query_id"]), str(r["neighbor_id"]), str(r["cosine"]),
         str(r["rank"]))
        for r in S.ann_ivf_pq_topk_rescored_vs_index(
            delta, path, k=3, nprobe=2, shortlist=12
        ).collect()
    )
    assert sorted(tuple(ln.split("\t")) for ln in lines[1:]) == want_r

    # --out parquet round-trips
    outp = str(tmp_path / "res.parquet")
    rc = cli.main(
        ["retrieve", "--index", path, "--queries", qpath, "--out", outp]
    )
    capsys.readouterr()
    assert rc == 0
    assert spark.read.parquet(outp).count() == 15  # 3 queries x k=5

    # refusals: code-less index, missing index, empty queries
    plain = str(tmp_path / "plain")
    S.save_ann_index(emb, plain, num_centroids=8)
    rc = cli.main(["retrieve", "--index", plain, "--queries", qpath])
    assert rc == 2 and "pq_m" in capsys.readouterr().err
    rc = cli.main(
        ["retrieve", "--index", str(tmp_path / "nope"), "--queries", qpath]
    )
    assert rc == 2
    empty_q = str(tmp_path / "noq.parquet")
    emb.limit(0).select("vec_id", "embedding").write.parquet(empty_q)
    rc = cli.main(["retrieve", "--index", path, "--queries", empty_q])
    assert rc == 2 and "no rows" in capsys.readouterr().err
