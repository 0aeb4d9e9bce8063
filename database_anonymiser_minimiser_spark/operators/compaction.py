"""Small-file compaction for parquet datasets, and the checked directory
swap every persisted store uses to replace itself.

Streaming appends, per-trigger micro-batches, and over-partitioned
writes fragment a lake into thousands of tiny files; at scan time every
file costs a footer read, an open, and a task-scheduling slot, so a
fragmented dataset reads many times slower than the same bytes in
right-sized files (measured in SCALING_smallfiles_r12.json). The
MinHash and ANN indexes compact themselves per bucket or cell
(``compact_minhash_index_bucketed``, ``compact_ann_index``); this is the
GENERIC form for any parquet dataset, exposed as the ``compact`` CLI
verb.

Shape: one Hadoop-FS listing (file count, bytes, and the ``k=v``
partition columns), one read, one ``repartition(ceil(bytes/target))``
(a round-robin exchange, or a hash exchange on the partition columns
for a hive-partitioned dataset, whose ``partitionBy`` layout the write
keeps), one write, then a row-count check — a compaction that loses
rows must fail loudly, never return. With ``out`` the result lands in
a new directory (object-store friendly, no rename dependence); without
it the result is staged in a sibling directory and swapped over the
dataset with :func:`_swap_in` (stores with a directory rename: local,
HDFS).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession


def _hfs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path``'s scheme — works on
    local, HDFS and object stores alike, where a driver-local listdir
    would see nothing remote."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _hfs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API (a
    missing path is a no-op)."""
    fs, hpath = _hfs(spark, path)
    fs.delete(hpath, True)


def _list_dataset(
    spark: SparkSession, path: str
) -> tuple[int, int, list[str]]:
    """(n_files, total_bytes, partition_columns) of a parquet dataset
    from one recursive Hadoop-FS listing; the partition columns are the
    keys of the ``k=v`` directories between ``path`` and a data file."""
    fs, root = _hfs(spark, path)
    if not fs.exists(root):
        raise FileNotFoundError(f"dataset does not exist: {path}")
    prefix = fs.makeQualified(root).toUri().getPath().rstrip("/")
    it = fs.listFiles(root, True)
    n = total = 0
    part_cols: list[str] = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        n += 1
        total += st.getLen()
        if n == 1:
            # the directories between the root and this file
            rel = st.getPath().getParent().toUri().getPath()[len(prefix):]
            part_cols = [
                d.split("=", 1)[0] for d in rel.split("/") if "=" in d
            ]
    return n, total, part_cols


def dataset_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of a dataset's parquet data files."""
    n, total, _ = _list_dataset(spark, path)
    return n, total


def _swap_in(
    spark: SparkSession,
    staged: str,
    target: str,
    trash: str,
    aside: "tuple[str, ...] | list[str]",
) -> None:
    """Promote the verified ``staged`` directory to ``target``.

    Each existing path in ``aside`` (usually the live copy being
    replaced) first moves under ``trash``, then ``staged`` is renamed to
    ``target``, and only then is ``trash`` deleted: nothing is deleted
    before the new copy is in place, so a crash leaves a complete copy
    on storage. Every rename is checked — Hadoop reports a failed rename
    as ``False``, it does not raise — and a ``target`` that still exists
    once ``aside`` has moved is refused, because a rename into an
    existing directory nests the source inside it instead of failing.
    Not atomic: run it where nothing reads ``target`` concurrently."""
    fs, _ = _hfs(spark, trash)
    HPath = spark._jvm.org.apache.hadoop.fs.Path

    def rename(src: str, dst: str) -> None:
        if not fs.rename(HPath(src), HPath(dst)):
            raise RuntimeError(
                f"rename {src} -> {dst} failed; data moved aside remains "
                f"under {trash}"
            )

    _hfs_delete(spark, trash)
    fs.mkdirs(HPath(trash))
    for p in aside:
        if fs.exists(HPath(p)):
            rename(p, f"{trash}/{HPath(p).getName()}")
    if fs.exists(HPath(target)):
        raise RuntimeError(
            f"{target} already exists: renaming {staged} into it would "
            f"nest it; data moved aside remains under {trash}"
        )
    rename(staged, target)
    _hfs_delete(spark, trash)


def compact_dataset(
    spark: SparkSession,
    path: str,
    out: str | None = None,
    target_mb: int = 128,
) -> dict:
    """Compact ``path`` into ~``target_mb`` files and verify row counts
    before returning. With ``out``, write the result there (never in
    place: ``out`` must be disjoint from ``path`` and must not exist);
    without it, write to ``<path>.compact.tmp`` and swap that over
    ``path``, keeping the original as ``<path>.compact.old`` until the
    new copy is in place. Returns the stats dict
    {files_before, bytes, files_after, rows} the CLI prints."""
    if target_mb <= 0:
        raise ValueError(f"target_mb must be positive, got {target_mb}")
    if out is not None:
        a, b = (
            str(fs.makeQualified(hp))
            for fs, hp in (_hfs(spark, path), _hfs(spark, out))
        )
        # reject nesting in EITHER direction, not just equality: an out
        # dir under the dataset makes every later read of path
        # double-count rows (and the row-count check below would still
        # pass, since it counts out separately); a path under out would
        # be clobbered by the write
        if a == b or a.startswith(b + "/") or b.startswith(a + "/"):
            raise ValueError(
                "compact: --out must not equal, contain, or be contained "
                "by --path (writing into the dataset being read "
                "double-counts every later read); write to a disjoint "
                "directory and swap after"
            )
    n_before, total_bytes, part_cols = _list_dataset(spark, path)
    if n_before == 0:
        raise FileNotFoundError(
            f"compact found no parquet data files under {path}"
        )
    base = path.rstrip("/")
    dest = out if out is not None else base + ".compact.tmp"
    if out is None:
        _hfs_delete(spark, dest)  # a stale stage from an interrupted run
    df = spark.read.parquet(path)
    n_out = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    if part_cols:
        # hash on the partition keys: each task holds whole partitions,
        # so each k=v directory gets ~one file, and partitionBy keeps
        # the layout (flattening would fold the keys into the data and
        # lose partition pruning for every reader)
        writer = df.repartition(n_out, *part_cols).write.partitionBy(
            *part_cols
        )
    else:
        writer = df.repartition(n_out).write
    writer.mode("error").parquet(dest)
    rows_in = df.count()
    rows_out = spark.read.parquet(dest).count()
    if rows_in != rows_out:
        raise RuntimeError(
            f"compact row-count mismatch: {rows_in} in, {rows_out} out — "
            f"output at {dest} is NOT safe to swap in"
        )
    if out is None:
        _swap_in(spark, dest, base, base + ".compact.old", aside=(base,))
    return {
        "files_before": n_before,
        "bytes": total_bytes,
        "files_after": dataset_file_stats(spark, out or base)[0],
        "rows": rows_out,
    }
