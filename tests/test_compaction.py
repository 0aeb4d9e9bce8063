"""Small-file compaction (operators/compaction.py + the ``compact``
CLI verb): file-count reduction, the row-count verification gate, and
the refusal paths."""

import pytest

from database_anonymiser_minimiser_spark.operators.compaction import (
    compact_dataset,
    dataset_file_stats,
)


def test_compact_reduces_files_and_verifies_rows(spark, tmp_path):
    frag = str(tmp_path / "frag")
    spark.range(10_000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS v"
    ).repartition(64).write.parquet(frag)
    n_before, total = dataset_file_stats(spark, frag)
    assert n_before == 64 and total > 0
    out = str(tmp_path / "compacted")
    stats = compact_dataset(spark, frag, out, target_mb=128)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1  # tiny dataset -> one target file
    assert stats["rows"] == 10_000
    # content identical, not just counts
    a = {tuple(r) for r in spark.read.parquet(frag).collect()}
    b = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert a == b


def test_compact_refusals(spark, tmp_path):
    d = str(tmp_path / "data")
    spark.range(10).write.parquet(d)
    with pytest.raises(ValueError, match="must not equal"):
        compact_dataset(spark, d, d + "/")
    # r12 ADVICE: nesting in EITHER direction is rejected too — an out
    # dir UNDER the dataset would double-count every later read of d
    # (while the row-count gate still passes, since it counts out alone)
    with pytest.raises(ValueError, match="must not equal"):
        compact_dataset(spark, d, d + "/compacted")
    with pytest.raises(ValueError, match="must not equal"):
        compact_dataset(spark, str(tmp_path), d)
    with pytest.raises(FileNotFoundError, match="does not exist"):
        compact_dataset(spark, str(tmp_path / "nope"), str(tmp_path / "o"))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(FileNotFoundError, match="no parquet data files"):
        compact_dataset(spark, str(empty), str(tmp_path / "o2"))
    # existing output is never clobbered (mode error)
    out = str(tmp_path / "exists")
    spark.range(5).write.parquet(out)
    with pytest.raises(Exception, match="already exists|ERROR"):
        compact_dataset(spark, d, out)


def test_compact_cli(spark, tmp_path, capsys):
    frag = str(tmp_path / "cli_frag")
    spark.range(5_000).repartition(32).write.parquet(frag)
    out = str(tmp_path / "cli_out")
    from database_anonymiser_minimiser_spark.cli import main

    assert main(["compact", "--path", frag, "--out", out]) == 0
    printed = capsys.readouterr().out
    assert "32 -> 1 file(s)" in printed and "5000 row(s) verified" in printed
    assert spark.read.parquet(out).count() == 5_000
    # refusal surfaces as exit 2 with the message, not a traceback
    assert main(["compact", "--path", frag, "--out", frag]) == 2
    assert "must not equal" in capsys.readouterr().err


def test_compact_cli_in_place(spark, tmp_path, capsys):
    """Without --out the verb compacts in place (staged sibling
    directory, checked swap): same path, fewer files, rows verified."""
    from database_anonymiser_minimiser_spark.cli import main

    frag = str(tmp_path / "inplace")
    spark.range(4_000).repartition(16).write.parquet(frag)
    assert main(["compact", "--path", frag]) == 0
    printed = capsys.readouterr().out
    assert "in place: 16 -> 1 file(s), 4000 row(s) verified" in printed
    assert spark.read.parquet(frag).count() == 4_000


def _partitioned(spark, path):
    spark.range(3_000).selectExpr(
        "id", "CAST(id % 5 AS STRING) AS v", "CAST(id % 3 AS INT) AS part"
    ).repartition(12).write.partitionBy("part").parquet(path)


def test_compact_out_keeps_hive_partitions(spark, tmp_path):
    """With --out, a dataset partitioned by ``part`` keeps its part=
    directories, its schema and its row count."""
    import os

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    _partitioned(spark, src)
    stats = compact_dataset(spark, src, out)
    assert sorted(d for d in os.listdir(out) if "=" in d) == [
        "part=0", "part=1", "part=2"
    ]
    before, after = spark.read.parquet(src), spark.read.parquet(out)
    assert after.schema == before.schema
    assert stats["rows"] == after.count() == 3_000
    assert stats["files_after"] == 3  # one file per partition directory
    assert sorted(map(tuple, after.collect())) == sorted(
        map(tuple, before.collect())
    )


def test_compact_in_place_file_uri_keeps_partitions(spark, tmp_path):
    """Without --out, a file:// URI of a hive-partitioned dataset is
    compacted in place: partitions kept, fewer files, rows verified, no
    staging directory left behind."""
    import os

    path = str(tmp_path / "lake")
    _partitioned(spark, path)
    want = sorted(map(tuple, spark.read.parquet(path).collect()))
    n_before, _ = dataset_file_stats(spark, path)
    stats = compact_dataset(spark, "file://" + path)
    assert stats["files_before"] == n_before > stats["files_after"] == 3
    assert stats["rows"] == 3_000
    assert sorted(d for d in os.listdir(path) if "=" in d) == [
        "part=0", "part=1", "part=2"
    ]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
    assert sorted(os.listdir(tmp_path)) == ["lake"]


def test_cli_compact_index_minhash_e2e(spark, tmp_path, capsys):
    """r14 (r13 verdict item 5): `compact --index minhash --path P` —
    offline maintenance of a LANDED bucketed MinHash index with no
    stream running. The verb rebuilds the catalog from the manifest,
    folds the epoch partitions, and the screen results are unchanged."""
    import database_anonymiser_minimiser_spark.operators.dedup as D
    from database_anonymiser_minimiser_spark import cli

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the quiet evening field"
    )
    seed_prefix = "t_cli_mh"
    for p in (seed_prefix, "dbmask_maint"):
        for t in (f"{p}_bands", f"{p}_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    wh = str(tmp_path / "wh")
    landed = spark.createDataFrame(
        [(100, base), (101, "unrelated landed content about engines")],
        ["doc_id", "text"],
    )
    D.save_minhash_index_bucketed(
        landed, seed_prefix, n_buckets=4, mode="md5", path=wh, batch="seed"
    )
    for e, text in enumerate(["fresh words one", "fresh words two"]):
        D.save_minhash_index_bucketed(
            spark.createDataFrame([(200 + e, text)], ["doc_id", "text"]),
            seed_prefix, n_buckets=4, mode="md5", path=wh, append=True,
            batch=f"e{e}",
        )
    probe = spark.createDataFrame(
        [(9, base.replace("jumps", "leaps"))], ["doc_id", "text"]
    )

    def screen(prefix):
        res = D.minhash_incremental_vs_bucketed_index(
            probe, prefix, threshold=0.4, mode="md5"
        )
        got = sorted(tuple(r) for r in res.collect())
        res.unpersist()
        return got

    before = screen(seed_prefix)
    assert before
    # simulate the weekend-maintenance shape: catalog gone, data landed
    for t in (f"{seed_prefix}_bands", f"{seed_prefix}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    rc = cli.main(["compact", "--index", "minhash", "--path", wh])
    out = capsys.readouterr().out
    assert rc == 0 and "compacted minhash index" in out
    assert "3 -> 1 batch partition(s)" in out
    parts = [
        r[0]
        for r in spark.sql("SHOW PARTITIONS dbmask_maint_bands").collect()
    ]
    assert parts == ["batch=seed"]
    assert screen("dbmask_maint") == before
    for p in (seed_prefix, "dbmask_maint"):
        for t in (f"{p}_bands", f"{p}_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_compact_index_ann_e2e(spark, tmp_path, capsys):
    """`compact --index ann --path P --keep-batches e1`: folds the ANN
    index's epoch partitions in place, honours keep-batches, screens
    identically afterwards, and is a friendly no-op when re-run."""
    import database_anonymiser_minimiser_spark.operators.similarity as S
    from database_anonymiser_minimiser_spark import cli
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    def vec(*xs):
        return [float(x) for x in xs]

    base = spark.createDataFrame(
        [(0, vec(1, 0, 0, 0)), (1, vec(0, 1, 0, 0)), (2, vec(0, 0, 1, 0))],
        schema,
    )
    path = str(tmp_path / "annidx")
    S.save_ann_index(base, path, num_centroids=2)
    for i, v in enumerate(
        [vec(0.9, 0.1, 0, 0), vec(0, 0.9, 0.1, 0)]
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
    rc = cli.main(
        ["compact", "--index", "ann", "--path", path,
         "--keep-batches", "e1"]
    )
    out = capsys.readouterr().out
    assert rc == 0 and "folded 2 of 3 batch partition(s)" in out
    assert S.ann_index_batches(spark, path) == ["e1", "seed"]
    assert screen() == before
    # idempotent re-run: nothing left to fold
    rc = cli.main(
        ["compact", "--index", "ann", "--path", path,
         "--keep-batches", "e1"]
    )
    assert rc == 0 and "nothing to fold" in capsys.readouterr().out
    # refusals: missing index; --out combination
    rc = cli.main(
        ["compact", "--index", "ann", "--path", str(tmp_path / "nope")]
    )
    assert rc == 2 and "no ANN index" in capsys.readouterr().err
    rc = cli.main(
        ["compact", "--index", "ann", "--path", path, "--out", "x"]
    )
    assert rc == 2 and "--out" in capsys.readouterr().err
