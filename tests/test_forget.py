"""Right-to-erasure ("forget") lifecycle over the persisted indexes.

The reference engine's whole purpose is removing/masking subjects from
exported data (anonymiser.go); these gates extend that contract to the
derived index artifacts this engine adds: a forgotten id must (a) stop
matching in every screen/serve path IMMEDIATELY (logical erasure — a
pushed scan filter, no index rewrite), (b) leave the files PHYSICALLY at
the next compaction with exact row accounting, after which the ledger
closes, and (c) stay hidden across restarts (the bucketed ledger rides
the manifest) and across forget/replay races (kept epochs keep the
ledger open).
"""

import pytest
from pyspark.sql import functions as F

from database_anonymiser_minimiser_spark.operators import dedup as D
from database_anonymiser_minimiser_spark.operators import similarity as S

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while birds sing in the tall green trees above the quiet meadow"
)


def _load_emb(spark, sf_dir):
    from database_anonymiser_minimiser_spark.queries import load

    return load(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# ANN index
# ---------------------------------------------------------------------------


def test_ann_forget_hides_from_serve_and_screen(spark, sf_dir, tmp_path):
    """Forget an id -> it vanishes from ADC serve, rescored serve, and
    the streaming screen, while every OTHER result is exactly what the
    corpus-without-that-row would produce. Idempotent re-forget."""
    emb = _load_emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    delta = emb.filter(F.col("vec_id").isin([0, 1]))

    before = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk_vs_index(delta, path, k=5).collect()
    )
    victim = next(n for q, n, rk in before if q == 0 and rk == 1)

    stats = S.forget_from_ann_index(spark, path, [victim])
    assert stats == {
        "requested": 1, "new": 1, "already": 0, "landed": 1,
    }
    again = S.forget_from_ann_index(spark, path, [victim])
    assert again["new"] == 0 and again["already"] == 1

    after = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk_vs_index(delta, path, k=5).collect()
    )
    assert all(n != victim for _q, n, _rk in after)
    # equivalence oracle: serving an index seeded WITHOUT the victim
    # gives the identical ranking (logical erasure == physical absence)
    path2 = str(tmp_path / "idx2")
    S.save_ann_index(
        emb.filter(F.col("vec_id") != victim), path2,
        centroids=S.load_centroids(spark, f"{path}/centroids"),
        pq_m=8,
        pq_codebook=spark.read.parquet(f"{path}/pq_codebook"),
    )
    want = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk_vs_index(delta, path2, k=5).collect()
    )
    assert after == want

    # rescored serve excludes it too
    resc = S.ann_ivf_pq_topk_rescored_vs_index(
        delta, path, k=5, shortlist=10
    ).collect()
    assert resc and all(r["neighbor_id"] != victim for r in resc)

    # screen: a delta identical to the victim stops being a near-dup
    probe = emb.filter(F.col("vec_id") == victim).select(
        F.lit(999999).alias("vec_id"), "embedding"
    )
    got = S.ann_screen_vs_index(
        probe, path, threshold=0.999, nprobe=64
    ).collect()[0]
    assert not got["is_neardup"]


def test_ann_forget_compact_removes_physically(spark, sf_dir, tmp_path):
    """compact --index ann drops tombstoned rows with exact accounting
    (rows_in - removed == rows_out), clears the ledger on a full fold,
    and keeps it open while a replayable epoch is kept back."""
    emb = _load_emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    half = emb.filter(F.col("vec_id") < 100)
    rest = emb.filter(F.col("vec_id") >= 100)
    S.save_ann_index(half, path, num_centroids=8, pq_m=8, num_codes=16)
    S.save_ann_index(rest, path, append=True, batch="e1")
    total = emb.count()

    S.forget_from_ann_index(spark, path, [3, 7, 250])
    assert S.ann_tombstone_ids(spark, path) == [3, 7, 250]

    # kept epoch -> rows from folded partitions removed, ledger SURVIVES
    stats = S.compact_ann_index(spark, path, keep_batches=("e1",))
    assert stats == {
        "folded": 0, "rows": 0, "removed": 0, "tombstones_cleared": False,
    }  # one foldable partition is a no-op
    S.save_ann_index(
        emb.filter(F.col("vec_id") == 0).select(
            F.lit(100000).alias("vec_id"), "embedding"
        ),
        path, append=True, batch="e2",
    )
    stats = S.compact_ann_index(spark, path, keep_batches=("e1",))
    assert stats["folded"] == 2 and stats["removed"] == 2  # ids 3, 7
    assert not stats["tombstones_cleared"]
    assert S.ann_tombstone_ids(spark, path) == [3, 7, 250]

    # full fold -> id 250 (in the kept epoch until now) also gone,
    # ledger cleared, and the served results still exclude everything
    delta = emb.filter(F.col("vec_id").isin([0, 1]))
    before = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk_vs_index(delta, path, k=5).collect()
    )
    stats = S.compact_ann_index(spark, path)
    assert stats["removed"] == 1 and stats["tombstones_cleared"]
    assert S.ann_tombstone_ids(spark, path) == []
    landed = spark.read.parquet(f"{path}/vectors")
    assert landed.count() == total + 1 - 3
    assert landed.filter(F.col("nid").isin([3, 7, 250])).count() == 0
    after = sorted(
        tuple(r)
        for r in S.ann_ivf_pq_topk_vs_index(delta, path, k=5).collect()
    )
    assert before == after


def test_ann_forget_plan_and_large_ledger(spark, sf_dir, tmp_path):
    """Small ledgers push as a Not(In(nid, ...)) parquet filter — the
    serve plan keeps its zero-index-side-Exchange shape; a ledger past
    the isin cap switches to the broadcast anti-join with IDENTICAL
    results."""
    emb = _load_emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    S.forget_from_ann_index(spark, path, [3, 7])
    delta = emb.filter(F.col("vec_id").isin([0, 1]))
    lazy = S.ann_ivf_pq_topk_vs_index(delta, path, k=5)
    plan = lazy._sc._jvm.PythonSQLUtils.explainString(
        lazy._jdf.queryExecution(), "formatted"
    )
    squashed = plan.replace(" ", "")
    assert "PushedFilters" in plan, plan
    assert "Not(In(nid" in squashed or "NOT(In(nid" in squashed, plan
    small = sorted(tuple(r) for r in lazy.collect())

    prev = D._TOMBSTONE_ISIN_CAP
    D._TOMBSTONE_ISIN_CAP = 1
    try:
        big = sorted(
            tuple(r)
            for r in S.ann_ivf_pq_topk_vs_index(
                delta, path, k=5
            ).collect()
        )
    finally:
        D._TOMBSTONE_ISIN_CAP = prev
    assert small == big


def test_ann_forget_refusals(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="no ANN index"):
        S.forget_from_ann_index(spark, str(tmp_path / "nope"), [1])
    emb_path = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    S.save_ann_index(df, emb_path, num_centroids=2)
    with pytest.raises(ValueError, match="no ids"):
        S.forget_from_ann_index(spark, emb_path, [])
    # a fresh re-seed clears the ledger (new corpus, new life)
    S.forget_from_ann_index(spark, emb_path, [1])
    S.save_ann_index(df, emb_path, num_centroids=2)
    assert S.ann_tombstone_ids(spark, emb_path) == []


# ---------------------------------------------------------------------------
# MinHash indexes
# ---------------------------------------------------------------------------


def test_minhash_plain_forget(spark, tmp_path):
    """Path-rooted index: a forgotten landed doc stops matching the
    incremental screen; others unaffected; idempotent; a fresh re-seed
    clears the ledger."""
    prefix, path = "t_forget_mh", str(tmp_path / "mh")
    tables = [f"{prefix}_{leaf}" for leaf in ("bands", "shingles", "tombstones")]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    D.save_minhash_index_bucketed(
        landed, prefix, n_buckets=4, mode="md5", path=path
    )
    probe = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )

    def screen():
        res = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5"
        )
        got = sorted(tuple(r) for r in res.collect())
        res.unpersist()
        return got

    try:
        got = screen()
        assert len(got) == 1 and got[0][:2] == (0, 1) and got[0][2] > 0.4
        stats = D.forget_from_minhash_index(
            spark, [100], path=path, table_prefix=prefix
        )
        assert stats == {
            "requested": 1, "new": 1, "already": 0, "landed_docs": 1,
        }
        assert screen() == []
        again = D.forget_from_minhash_index(
            spark, [100], path=path, table_prefix=prefix
        )
        assert again["new"] == 0 and again["already"] == 1
        assert D.minhash_tombstone_ids(spark, table_prefix=prefix) == [100]
        assert screen() == []
        # fresh re-seed clears the ledger
        D.save_minhash_index_bucketed(
            landed, prefix, n_buckets=4, mode="md5", path=path
        )
        assert D.minhash_tombstone_ids(spark, table_prefix=prefix) == []
        assert screen() == got
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_minhash_bucketed_forget_compact_restart(spark, tmp_path):
    """Bucketed index: forget hides immediately with the bucketed scans
    un-shuffled; compaction removes band+shingle rows physically and
    closes the ledger (full fold) or keeps it (kept epoch); the ledger
    survives a catalog rebuild from the manifest (driver restart)."""
    prefix = "t_forget_mhb"
    for t in (
        f"{prefix}_bands", f"{prefix}_shingles", f"{prefix}_tombstones"
    ):
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
        spark.createDataFrame(
            [(102, BASE.replace("dog", "cat"))], ["doc_id", "text"]
        ),
        prefix, n_buckets=4, mode="md5", path=wh, append=True, batch="e1",
    )
    probe = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )

    def screen(pfx=prefix):
        res = D.minhash_incremental_vs_bucketed_index(
            probe, pfx, threshold=0.4, mode="md5"
        )
        got = {r["doc_id"]: r["n_dups"] for r in res.collect()}
        res.unpersist()
        return got

    n0 = screen()[0]
    assert n0 >= 1  # 100 (one word changed) must match

    stats = D.forget_from_minhash_index(
        spark, [100], path=wh, table_prefix=prefix
    )
    assert stats["new"] == 1 and stats["landed_docs"] == 1
    hidden = screen().get(0, 0)
    assert hidden == n0 - 1  # exactly doc 100 vanished

    # restart: drop the catalog, rebuild from the manifest under a NEW
    # prefix — the tombstone table must come back with it
    for t in (
        f"{prefix}_bands", f"{prefix}_shingles", f"{prefix}_tombstones"
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    prefix2 = "t_forget_mhb2"
    for t in (
        f"{prefix2}_bands", f"{prefix2}_shingles", f"{prefix2}_tombstones"
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    D.register_minhash_index_bucketed(spark, prefix2, wh)
    assert D.minhash_tombstone_ids(spark, table_prefix=prefix2) == [100]
    assert screen(prefix2).get(0, 0) == hidden

    # compaction with a kept epoch: ledger survives; full fold: rows
    # physically gone and ledger closed
    D.compact_minhash_index_bucketed(
        spark, prefix2, n_buckets=4, path=wh, keep_batches=("e1",)
    )
    assert D.minhash_tombstone_ids(spark, table_prefix=prefix2) == [100]
    D.compact_minhash_index_bucketed(spark, prefix2, n_buckets=4, path=wh)
    assert D.minhash_tombstone_ids(spark, table_prefix=prefix2) == []
    assert not spark.catalog.tableExists(f"{prefix2}_tombstones")
    assert (
        spark.table(f"{prefix2}_shingles")
        .filter(F.col("id") == 100).count() == 0
    )
    assert screen(prefix2).get(0, 0) == hidden
    for t in (
        f"{prefix2}_bands", f"{prefix2}_shingles", f"{prefix2}_tombstones"
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_forget_id_coercion():
    assert D._coerce_forget_ids([3, 1, 3]) == ([1, 3], "bigint")
    assert D._coerce_forget_ids(["b", "a"]) == (["a", "b"], "string")
    with pytest.raises(ValueError, match="all-int or all-string"):
        D._coerce_forget_ids([1, "a"])
    with pytest.raises(ValueError, match="no ids"):
        D._coerce_forget_ids([])


# ---------------------------------------------------------------------------
# CLI verb
# ---------------------------------------------------------------------------


def test_cli_forget_e2e(spark, sf_dir, tmp_path, capsys):
    """`forget` verb end-to-end: ann ledger via --ids, minhash (manifest
    index) via --ids-file, friendly refusals, and retrieve honouring the
    ledger through the real CLI."""
    from database_anonymiser_minimiser_spark import cli

    emb = _load_emb(spark, sf_dir)
    path = str(tmp_path / "idx")
    S.save_ann_index(emb, path, num_centroids=8, pq_m=8, num_codes=16)
    qpath = str(tmp_path / "q.parquet")
    emb.filter(F.col("vec_id") == 0).select(
        "vec_id", "embedding"
    ).write.parquet(qpath)
    rc = cli.main(
        ["retrieve", "--index", path, "--queries", qpath, "-k", "3"]
    )
    out, _ = capsys.readouterr()
    victim = out.strip().splitlines()[1].split("\t")[1]

    rc = cli.main(
        ["forget", "--index", "ann", "--path", path, "--ids", victim]
    )
    out, _ = capsys.readouterr()
    assert rc == 0 and "forgot 1 new id(s)" in out
    assert "1 landed vector row(s) hidden" in out
    rc = cli.main(
        ["retrieve", "--index", path, "--queries", qpath, "-k", "3"]
    )
    out, _ = capsys.readouterr()
    assert rc == 0
    assert all(
        line.split("\t")[1] != victim
        for line in out.strip().splitlines()[1:]
    )

    # minhash via manifest + --ids-file
    prefix = "dbmask_maint"
    for t in (
        f"{prefix}_bands", f"{prefix}_shingles", f"{prefix}_tombstones"
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    wh = str(tmp_path / "wh")
    landed = spark.createDataFrame(
        [(100, BASE), (101, "other landed content")], ["doc_id", "text"]
    )
    D.save_minhash_index_bucketed(
        landed, "t_forget_cli", n_buckets=4, mode="md5", path=wh
    )
    ids_file = tmp_path / "takedown.txt"
    ids_file.write_text("100\n")
    rc = cli.main(
        ["forget", "--index", "minhash", "--path", wh,
         "--ids-file", str(ids_file)]
    )
    out, _ = capsys.readouterr()
    assert rc == 0 and "1 landed doc(s) hidden" in out
    assert D.minhash_tombstone_ids(spark, table_prefix=prefix) == [100]
    for t in (
        "t_forget_cli_bands", "t_forget_cli_shingles",
        f"{prefix}_bands", f"{prefix}_shingles", f"{prefix}_tombstones",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    # refusals
    rc = cli.main(["forget", "--index", "ann", "--path", path])
    _, err = capsys.readouterr()
    assert rc == 2 and "--ids" in err
    rc = cli.main(
        ["forget", "--index", "ann", "--path", str(tmp_path / "nope"),
         "--ids", "1"]
    )
    _, err = capsys.readouterr()
    assert rc == 2 and "no ANN index" in err
    rc = cli.main(
        ["forget", "--index", "minhash", "--path",
         str(tmp_path / "nope"), "--ids", "1"]
    )
    _, err = capsys.readouterr()
    assert rc == 2 and "no MinHash index" in err


def test_cli_screen_forget_compact_share_one_index_path(
    spark, tmp_path, capsys
):
    """`screen --index D`, then `forget --index minhash --path D`, then
    `compact --index minhash --path D`: the three verbs take the same
    path, and the forgotten landed doc leaves the index files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark import cli

    def write(path, rows):
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in rows],
                      "text": [r[1] for r in rows]}), path)

    tables = [
        f"{p}_{leaf}"
        for p in ("neardup_index", "dbmask_maint")
        for leaf in ("bands", "shingles", "tombstones")
    ]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    landed = str(tmp_path / "landed.parquet")
    write(landed, [(100, BASE), (101, "other landed content")])
    spool = tmp_path / "spool"
    spool.mkdir()
    write(spool / "part0.parquet", [(0, BASE.replace("jumps", "leaps"))])
    idx = str(tmp_path / "idx")
    try:
        assert cli.main(
            ["screen", "--landed", landed, "--spool", str(spool),
             "--index", idx, "--threshold", "0.4"]
        ) == 0
        assert capsys.readouterr().out.startswith("0\t0\t1\t")
        assert cli.main(
            ["forget", "--index", "minhash", "--path", idx, "--ids", "100"]
        ) == 0
        assert "1 landed doc(s) hidden" in capsys.readouterr().out
        assert cli.main(
            ["compact", "--index", "minhash", "--path", idx]
        ) == 0
        assert "2 -> 1 batch partition(s)" in capsys.readouterr().out
        assert D.minhash_tombstone_ids(spark, "dbmask_maint") == []
        ids = {r["id"] for r in spark.table("dbmask_maint_shingles").collect()}
        assert ids == {0, 101}
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_forget_two_indexes_in_one_process(spark, tmp_path, capsys):
    """Two `forget --index minhash` calls in one process, on two index
    paths, each act on their own index: B's manifest still names B's
    tables, and the doc forgotten in A stays visible in B."""
    from database_anonymiser_minimiser_spark import cli

    leaves = ("bands", "shingles", "tombstones")
    tables = [
        f"{p}_{leaf}"
        for p in ("dbmask_maint", "t_two_a", "t_two_b", "t_two_check")
        for leaf in leaves
    ]
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    a, b = str(tmp_path / "A"), str(tmp_path / "B")
    for prefix, path, other in (
        ("t_two_a", a, (101, "unrelated landed content about engines")),
        ("t_two_b", b, (201, "other landed content in the second index")),
    ):
        landed = spark.createDataFrame([(100, BASE), other], ["doc_id", "text"])
        D.save_minhash_index_bucketed(
            landed, prefix, n_buckets=4, mode="md5", path=path
        )
    probe = spark.createDataFrame(
        [(0, BASE.replace("jumps", "leaps"))], ["doc_id", "text"]
    )
    try:
        for path, victim in ((a, "100"), (b, "201")):
            assert cli.main(
                ["forget", "--index", "minhash", "--path", path,
                 "--ids", victim]
            ) == 0
            assert "1 landed doc(s) hidden" in capsys.readouterr().out
        bands = D._read_index_manifest(spark, b)["tables"]["bands"]
        assert bands["location"].rstrip("/").endswith("/B/bands")
        # B as a fresh driver rebuilds it from its manifest alone
        D.register_minhash_index_bucketed(spark, "t_two_check", b)
        assert D.minhash_tombstone_ids(spark, "t_two_check") == [201]
        res = D.minhash_incremental_vs_bucketed_index(
            probe, "t_two_check", threshold=0.4, mode="md5"
        )
        got = [tuple(r) for r in res.collect()]
        res.unpersist()
        assert len(got) == 1 and got[0][:2] == (0, 1)
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow  # r15 full-tier (scale/fuzz/e2e twin; see conftest)
def test_ann_forget_sequence_invariant(spark, tmp_path):
    """Randomized (seeded) lifecycle fuzz: any interleaving of append /
    forget / compact(keep or full) must preserve `visible == landed -
    forgotten` (checked via an exhaustive screen whose n_close counts
    every visible row) and keep the ledger exactly tracking the model
    (cleared iff a full fold ran while tombstones existed)."""
    import random

    rng = random.Random(14)
    path = str(tmp_path / "fuzz_idx")

    def vec(i):
        return [float((i * 37 + 11) % 23) + 0.5, float((i * 17 + 5) % 19) + 0.5]

    def df_of(ids):
        return spark.createDataFrame(
            [(i, vec(i)) for i in ids],
            "vec_id bigint, embedding array<double>",
        )

    landed = list(range(8))
    S.save_ann_index(df_of(landed), path, num_centroids=4)
    forgotten: set = set()
    next_id = 100
    probe = spark.createDataFrame(
        [(999999, [1.0, 1.0])], "vec_id bigint, embedding array<double>"
    )

    def visible_count():
        rows = S.ann_screen_vs_index(
            probe, path, threshold=-2.0, nprobe=99
        ).collect()
        return rows[0]["n_close"] if rows else 0

    for step in range(18):
        op = rng.choice(["append", "forget", "compact", "compact_keep"])
        if op == "append":
            new = [next_id + j for j in range(rng.randint(1, 3))]
            next_id += 10
            S.save_ann_index(
                df_of(new), path, append=True, batch=f"b{step}"
            )
            landed.extend(new)
        elif op == "forget" and landed:
            victims = rng.sample(landed, min(len(landed), rng.randint(1, 2)))
            S.forget_from_ann_index(spark, path, victims)
            forgotten.update(victims)
        elif op == "compact":
            batches = S.ann_index_batches(spark, path)
            stats = S.compact_ann_index(spark, path)
            if len(batches) > 1:
                landed = [i for i in landed if i not in forgotten]
                if forgotten:
                    assert stats["tombstones_cleared"], (step, stats)
                forgotten = set()
        elif op == "compact_keep":
            batches = S.ann_index_batches(spark, path)
            keep = batches[-1:]
            stats = S.compact_ann_index(spark, path, keep_batches=tuple(keep))
            # ledger must SURVIVE a partial fold
            assert not stats["tombstones_cleared"], (step, stats)
        want = len([i for i in landed if i not in forgotten])
        got = visible_count()
        assert got == want, (step, op, got, want, sorted(forgotten))
        assert S.ann_tombstone_ids(spark, path) == sorted(forgotten), step


def test_streaming_screen_honors_mid_stream_forget(spark, tmp_path):
    """Takedown between stream runs: a checkpointed streaming screen
    consumes epoch 1, the operator forgets a landed subject while the
    stream is stopped (the documented between-micro-batches window),
    and the resumed stream's next epoch no longer matches it — the
    tombstone rides into every subsequent micro-batch plan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_anonymiser_minimiser_spark.streaming.events import (
        run_streaming_ann_screen,
    )

    def vec(*vals):
        return [float(v) for v in vals]

    def pq_write(path, rows):
        pq.write_table(
            pa.table({
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
            }),
            path,
        )

    landed = str(tmp_path / "landed.parquet")
    pq_write(landed, [
        (100, vec(1, 0, 0, 0)),
        (101, vec(0, 1, 0, 0)),
        (102, vec(0, 0, 1, 0)),
    ])
    spool = tmp_path / "spool"
    spool.mkdir()
    f0 = spool / "part0.parquet"
    pq_write(str(f0), [(0, vec(0, 0, 0, 1))])  # matches nothing
    os.utime(f0, (1700000000, 1700000000))
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    got1 = run_streaming_ann_screen(
        spark, landed, str(spool), idx, threshold=0.95, nprobe=3,
        num_centroids=3, checkpoint=ckpt,
    )
    assert [(q, bool(d)) for _e, q, _n, _c, d in got1] == [(0, False)]

    # the takedown, while the stream is stopped
    S.forget_from_ann_index(spark, idx, [100])

    f1 = spool / "part1.parquet"
    pq_write(str(f1), [(7, vec(1, 0, 0, 0))])  # identical to landed 100
    os.utime(f1, (1700000001, 1700000001))
    got2 = run_streaming_ann_screen(
        spark, landed, str(spool), idx, threshold=0.95, nprobe=3,
        num_centroids=3, checkpoint=ckpt, resume=True,
    )
    by_id = {q: (n, bool(d)) for _e, q, n, _c, d in got2}
    # without the forget, vec 7 would flag against landed 100 at
    # cosine 1.0; with it, nothing in the visible index comes close
    assert by_id[7] == (0, False)
    # and the forgotten id stays ledgered for the eventual compaction
    assert S.ann_tombstone_ids(spark, idx) == [100]
