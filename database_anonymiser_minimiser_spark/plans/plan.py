"""Per-table logical plans + the export / dry-run / sync entry points.

Mirrors the reference's lifecycle (``cmd/dbmask/main.go:80-199``, SURVEY.md
section 3.1): parse config -> validate rules -> bind catalog -> FK topo
order -> execute. Differences, by design:

- each table compiles to a declarative DataFrame plan; Catalyst performs
  the pushdowns the reference hand-codes (SURVEY.md section 4),
- tables are independent jobs; only the dump *commit order* follows the
  topo sort (the reference loops sequentially, exporter.go:72-80),
- ``dry_run`` renders the same decisions as ``printDryRun``
  (main.go:201-228) plus Spark's own ``explain`` when requested.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import Config, TableConfig
from ..functions.rules import validate_rules
from ..operators.anonymise import anonymise
from ..operators.minimise import minimise
from ..session import scoped_conf
from ..sources.parquet import ParquetSource
from .. import dump as dump_mod
from .topo import sort_tables_by_dependency


# Wide-table codegen window, measured (SCALING_wide_r11.json, 100k rows,
# all-faker configs, local[32]): Spark silently drops whole-stage
# codegen for plans past spark.sql.codegen.maxFields (default 100), so a
# 150-column masked projection runs interpreted — raising the limit won
# back 15% of wall there. The boundary is EXPRESSION WEIGHT, not column
# count: at 300 all-faker columns the generated method exceeds the JVM's
# 64KB bytecode limit, compilation fails per job (Spark falls back
# gracefully but pays the compile + partial-fallback cost) and raised
# measured 30% SLOWER; a 20%-lighter mixed config still won at 300.
# Conservative cutoff at the scale every measured config wins.
_WIDE_CODEGEN_MAX = 200


def _wide_codegen(spark: SparkSession, max_width: int):
    """Raise spark.sql.codegen.maxFields for the duration of an export
    whose widest masked table is in the (100, 200] win window; restore
    the previous value after. Narrow tables are unaffected by a raised
    limit (maxFields only gates whether codegen is ATTEMPTED for plans
    wider than it), so one export-wide setting equals the per-table
    optimum."""
    active = 100 < max_width <= _WIDE_CODEGEN_MAX
    return scoped_conf(
        spark,
        {"spark.sql.codegen.maxFields": str(max_width + 10)} if active else {},
    )


@dataclass
class TablePlan:
    """Compiled plan for one table (the reference's StreamOptions + rule
    set, exporter.go:211-215)."""

    name: str
    config: TableConfig
    row_count: int | None = None

    @property
    def action(self) -> str:
        """The dry-run decision label (main.go:209-222)."""
        if self.config.truncate:
            return "TRUNCATE"
        r = self.config.retain
        if r.is_date_based:
            return (
                f"RETAIN rows where {r.column_name} > "
                f"{r.after_date:%Y-%m-%d %H:%M:%S}"
            )
        if r.is_count_based:
            return f"RETAIN {r.count} rows"
        return "FULL EXPORT"

    def build(self, df: DataFrame) -> DataFrame:
        """scan -> minimise -> anonymise, one declarative plan."""
        return anonymise(minimise(df, self.config), self.config)


@dataclass
class Engine:
    """Config-driven engine over a catalog source (the reference's whole
    CLI pipeline as a library)."""

    spark: SparkSession
    config: Config
    source: object = field(init=False)

    def __post_init__(self) -> None:
        km = (self.config.settings or {}).get("key_mode")
        if km is not None:
            from .. import settings as settings_mod

            settings_mod.set_key_mode(km)
        conn = self.config.connection
        if conn.type == "parquet":
            self.source = ParquetSource(self.spark, conn.path)
        elif conn.type == "files":
            from ..sources.files import FilesSource

            self.source = FilesSource(self.spark, conn.path)
        elif conn.type == "sqlite":
            from ..sources.sqlite import SqliteSource

            self.source = SqliteSource(
                self.spark, conn.file, partitions=conn.partitions
            )
        else:
            # mysql / postgres / derby: the live JDBC catalog+scan source.
            # Derby's driver ships inside Spark and runs embedded — the
            # integration-tested path (tests/test_jdbc.py); mysql/postgres
            # need their driver jar on spark.jars and fail at connect time
            # with Spark's ClassNotFound error otherwise.
            from ..sources.jdbc import JdbcCatalogSource

            self.source = JdbcCatalogSource(self.spark, conn)

    def plan_tables(self) -> list[TablePlan]:
        """Bind catalog + topo order (main.go:125-139)."""
        tables = self.source.get_tables()
        ordered = sort_tables_by_dependency(tables, self.source.get_foreign_keys())
        return [
            TablePlan(t, self.config.configuration.get(t, TableConfig()))
            for t in ordered
        ]

    def dataframes(self) -> dict[str, DataFrame]:
        """name -> fully transformed DataFrame, in topo order."""
        return {p.name: p.build(self.source.read(p.name)) for p in self.plan_tables()}

    def dry_run(self, with_counts: bool = True, out=sys.stderr) -> list[str]:
        """EXPLAIN: render decisions, move no data (main.go:201-228)."""
        lines: list[str] = ["Dry run - no data will be exported", ""]
        for p in self.plan_tables():
            count = self.source.get_row_count(p.name) if with_counts else "?"
            lines.append(f"Table: {p.name} ({count} rows)")
            lines.append(f"  Action: {p.action}")
            masked = sorted(p.config.columns)
            if masked:
                lines.append(f"  Anonymised columns: {', '.join(masked)}")
        for w in validate_rules(self.config.configuration):
            lines.append(f"Warning: {w}")
        print("\n".join(lines), file=out)
        return lines

    def export_to(self, out, db_type: str = "mysql") -> dump_mod.ExportStats:
        """Dump into any writable text stream (the reference writes to
        stdout when no -o is given, cmd/dbmask/main.go:146-156).

        Tables are read and built on this thread as ``dump.write_dump``
        iterates, so each table's spool job starts before the next table
        is read. The codegen width comes from the catalog's columns (a
        masked table keeps its source columns), not from built tables."""
        started = time.time()
        plans = self.plan_tables()
        max_width = max(
            (len(self.source.get_columns(p.name)) for p in plans if not p.config.truncate),
            default=0,
        )

        def sections():
            for p in plans:
                yield (
                    p.name,
                    self.source.get_table_schema(p.name, db_type=db_type),
                    None if p.config.truncate else p.build(self.source.read(p.name)),
                    p.config.primary_key or None,
                )

        with _wide_codegen(self.spark, max_width):
            stats = dump_mod.write_dump(out, db_type, sections())
        self._print_stats(stats, time.time() - started)
        return stats

    def export(
        self, out_path: str | None, db_type: str = "mysql"
    ) -> dump_mod.ExportStats:
        """Full dump export (main.go:167-174). ``out_path=None`` streams
        to stdout like the reference with -o omitted (main.go:146-156).
        Tables are formatted as concurrent Spark jobs while the sink
        commits them in FK topo order (``dump.write_dump``); the
        reference is strictly sequential (exporter.go:72-80)."""
        if out_path is None:
            return self.export_to(sys.stdout, db_type=db_type)
        with open(out_path, "w") as f:
            return self.export_to(f, db_type=db_type)

    def export_parquet(
        self,
        out_dir: str,
        partition_by: dict[str, list[str]] | None = None,
        resume: bool = False,
        sort_keys: bool = False,
        max_records_per_file: int | None = None,
    ) -> dump_mod.ExportStats:
        """Native columnar export: one parquet dataset per table under
        ``out_dir`` (the 100 TB path — splittable, column-pruned,
        predicate-pushdown-able; the SQL text dump is the compatibility
        path). Truncated tables get an empty dataset with the full
        schema. ``partition_by[table]`` hive-partitions that table for
        downstream partition pruning. Tables are independent datasets so
        no topo ordering is needed (parquet has no FK constraints).

        ``resume=True`` skips tables whose dataset already completed —
        Spark's committer writes the ``_SUCCESS`` marker only after the
        whole job commits, so a crash mid-table leaves no marker and
        that table re-exports from scratch while finished ones are not
        recomputed. Determinism alone does NOT make the skip safe: the
        masking functions are pure per-value, so a resumed run matches a
        fresh run only *under the same rules*. A table exported by an
        earlier run under different config (say a masking rule added
        after the interruption) would otherwise be skipped and silently
        ship data anonymised under the OLD rules — a PII leak. Each
        committed dataset therefore carries a ``_RULES_FINGERPRINT``
        sidecar (sha256 of the table's compiled rule spec +
        partitioning), and resume skips a table only when BOTH the
        ``_SUCCESS`` marker exists AND the stored fingerprint matches
        the current config; any mismatch (or a pre-fingerprint legacy
        dataset) re-exports the table. Secrets are deliberately not
        fingerprinted — an ``{{encrypt}}`` key rotation does not change
        the sidecar (hashing key material next to the export would leak
        a crackable fingerprint); rotate keys => export fresh. Both
        marker checks go through the Hadoop FileSystem API, so they
        work identically for local paths and remote stores (s3a://,
        hdfs://) — the multi-hour remote export is exactly where resume
        matters. At 100 TB an export WILL be interrupted; restarting
        table 47 of 50 instead of table 1 is the difference between an
        incident and a retry."""
        parts = partition_by or {}

        def write(p: TablePlan, df: DataFrame, path: str) -> int:
            if self._key_ordered(p, parts.get(p.name), sort_keys):
                # key-ordered layout: range-partition + local sort, so
                # parquet min/max stats on the key give readers
                # file-level pruning and merge-joins consume the export
                # without re-sorting (write_sorted_parquet's plan gate:
                # RangePartitioning, never a global Sort)
                return dump_mod.write_sorted_parquet(
                    df,
                    path,
                    [p.config.primary_key],
                    max_records_per_file=max_records_per_file,
                )
            return dump_mod.write_parquet(
                df,
                path,
                partition_by=parts.get(p.name),
                max_records_per_file=max_records_per_file,
            )

        return self._export_datasets(
            out_dir,
            lambda p: self._table_fingerprint(p, parts.get(p.name), sort_keys),
            write,
            self.spark.read.parquet,
            resume,
        )

    def export_jsonl(
        self,
        out_dir: str,
        resume: bool = False,
        max_records_per_file: int | None = None,
    ) -> dump_mod.ExportStats:
        """JSON-Lines export: one JSONL dataset per table under
        ``out_dir`` — the training-data handoff format (every loader
        streams shard-per-file JSONL; parquet stays the analytical
        path, the SQL dump the database-compatibility path). The full
        masking/retain pipeline applies identically; truncated tables
        get an empty dataset. Resume semantics are the parquet
        exporter's verbatim (``_SUCCESS`` + rules-fingerprint sidecar,
        format-tagged so a parquet directory is never mistaken for a
        finished JSONL export); ``max_records_per_file`` bounds shard
        size for loader-granularity shuffling."""
        return self._export_datasets(
            out_dir,
            lambda p: "jsonl:" + self._table_fingerprint(p, None),
            lambda p, df, path: dump_mod.write_jsonl(
                df, path, max_records_per_file=max_records_per_file
            ),
            self.spark.read.json,
            resume,
        )

    def _export_datasets(
        self,
        out_dir: str,
        fingerprint_of: Callable[[TablePlan], str],
        write: Callable[[TablePlan, DataFrame, str], int],
        read_back: Callable[[str], DataFrame],
        resume: bool,
    ) -> dump_mod.ExportStats:
        """The dataset-export loop (exporter.go:72-80, 188-196): per
        table, skip it when ``resume`` finds it committed under the same
        fingerprint, else build, ``write`` (which returns the rows it
        observed while writing) and commit the fingerprint. Only a
        skipped table is counted by reading its dataset back."""
        started = time.time()
        stats = dump_mod.ExportStats()
        for p in self.plan_tables():
            fp = fingerprint_of(p)
            path = f"{out_dir}/{p.name}"
            if (
                resume
                and self._dataset_committed(out_dir, p.name)
                and self._read_fingerprint(out_dir, p.name) == fp
            ):
                # an empty truncated dataset has no schema to infer,
                # hence no read-back for it
                rows = None if p.config.truncate else read_back(path).count()
                stats.add(p.name, rows)
                continue
            df = self.source.read(p.name)
            df = df.limit(0) if p.config.truncate else p.build(df)
            with _wide_codegen(self.spark, len(df.columns)):
                rows = write(p, df, path)
            self._write_fingerprint(out_dir, p.name, fp)
            stats.add(p.name, None if p.config.truncate else rows)
        self._print_stats(stats, time.time() - started)
        return stats

    @staticmethod
    def _key_ordered(
        plan: TablePlan, partition_by: list[str] | None, sort_keys: bool
    ) -> bool:
        """Whether ``export_parquet`` writes this table key-ordered: a
        primary key, not truncated, not hive-partitioned."""
        return bool(
            sort_keys
            and plan.config.primary_key
            and not plan.config.truncate
            and not partition_by
        )

    @staticmethod
    def _table_fingerprint(
        plan: TablePlan,
        partition_by: list[str] | None,
        sort_keys: bool = False,
    ) -> str:
        """sha256 of the table's compiled processing spec — everything
        that determines the dataset's content and layout (truncate flag,
        retain rule, column masking rules, primary key ordering,
        partition columns). ``TableConfig.to_raw()`` is the canonical
        serialisation, so config-file formatting differences do not
        perturb the hash while any semantic rule change does."""
        import hashlib
        import json

        payload = json.dumps(
            {
                "config": plan.config.to_raw(),
                "partition_by": partition_by or None,
                # key-ordered layout is part of the dataset's identity:
                # a resume under the other flag must re-export, not
                # skip. The same predicate picks the write branch — a
                # fingerprint claiming key order for a table the writer
                # laid out plain would force spurious full re-exports
                # when --sort-keys toggles
                **(
                    {"sort_keys": True}
                    if Engine._key_ordered(plan, partition_by, sort_keys)
                    else {}
                ),
            },
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(payload.encode()).hexdigest()

    _FINGERPRINT_MARKER = "_RULES_FINGERPRINT"

    def _marker(self, out_dir: str, table: str, name: str):
        """(FileSystem, Path) of ``out_dir/table/name``, resolved
        through the Hadoop FileSystem for the path's scheme — a local
        ``pathlib`` check would silently miss every remote URI
        (s3a://, hdfs://) and turn --resume into a full re-export."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(
            f"{out_dir}/{table}/{name}"
        )
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        return hpath.getFileSystem(conf), hpath

    def _write_fingerprint(self, out_dir: str, table: str, fp: str) -> None:
        """Commit the rules fingerprint next to the dataset (after the
        parquet job's own ``_SUCCESS`` commit, so an interrupt between
        the two leaves marker-without-fingerprint => re-export, never
        the unsafe inverse)."""
        fs, hpath = self._marker(out_dir, table, self._FINGERPRINT_MARKER)
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(fp.encode("ascii")))
        finally:
            out.close()

    def _read_fingerprint(self, out_dir: str, table: str) -> str | None:
        """Stored fingerprint, or None for legacy/partial datasets."""
        fs, hpath = self._marker(out_dir, table, self._FINGERPRINT_MARKER)
        if not fs.exists(hpath):
            return None
        io_utils = self.spark._jvm.org.apache.hadoop.io.IOUtils
        stream = fs.open(hpath)
        try:
            raw = bytes(io_utils.readFullyToByteArray(stream))
        finally:
            stream.close()
        return raw.decode("ascii", errors="replace")

    def _dataset_committed(self, out_dir: str, table: str) -> bool:
        """True iff ``out_dir/table/_SUCCESS`` exists."""
        fs, hpath = self._marker(out_dir, table, "_SUCCESS")
        return bool(fs.exists(hpath))

    @staticmethod
    def _print_stats(stats: dump_mod.ExportStats, elapsed: float) -> None:
        """Run report in the reference's shape (main.go:177-191): tables,
        rows, wall time, peak memory, CPU count — stderr."""
        import os
        import resource

        peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        print(
            "\nExport Statistics:\n"
            f"  Tables exported:  {stats.tables_exported}\n"
            f"  Tables truncated: {stats.tables_truncated}\n"
            f"  Rows exported:    {stats.rows_exported}\n"
            f"  Time elapsed:     {elapsed:.2f}s\n"
            f"  Peak memory:      {peak_kb / 1024:.1f} MB (driver RSS)\n"
            f"  CPU cores:        {os.cpu_count()}",
            file=sys.stderr,
        )

    def stream_table(
        self,
        table: str,
        output_dir: str,
        checkpoint_dir: str,
        once: bool = True,
        max_rows_per_batch: int = 10000,
        trigger_seconds: int = 5,
    ):
        """CDC-lite live export (r8, CLI-wired): tail a SQLite table by
        rowid (`sources/sqlite_datasource.py:SqliteTailReader` —
        checkpoint-replayable `{"rowid": N}` offsets), apply the table's
        ANONYMISE rules in flight, and append to a parquet dataset. A
        restart with the same checkpoint resumes exactly after the last
        committed row — new application rows stream out masked instead
        of re-exporting the whole table.

        Minimise rules deliberately do NOT apply on the stream: retain-N
        needs a global order over a bounded relation and truncate means
        "don't export" — both are batch-export concepts; the streaming
        contract is "every NEW row, masked".

        ``once=True`` drains EVERYTHING currently in the table and
        finishes. One availableNow run is not enough: Spark's
        simple-stream-reader wrapper prefetches a single
        ``maxRowsPerBatch`` batch and plans availableNow against exactly
        that, so a 6M-row backlog would drain 10k rows per run (found by
        the r9 stream-tail drain probe, SCALING_r9.json — the original
        e2e table was smaller than one batch and never hit it). The fix is
        the loop the checkpoint already makes safe: rerun availableNow until a
        run commits zero input rows; each run resumes after the last
        committed rowid, so the loop is exactly-once end to end.
        Returns the last (terminated) StreamingQuery; ``once=False``
        returns a running processingTime-trigger query."""
        conn = self.config.connection
        if conn.type != "sqlite":
            raise ValueError(
                f"stream requires a sqlite connection, got '{conn.type}'"
            )
        from ..sources.sqlite_datasource import register_sqlite_datasource

        register_sqlite_datasource(self.spark)
        stream = (
            self.spark.readStream.format("pysqlite")
            .option("path", conn.file)
            .option("table", table)
            .option("maxRowsPerBatch", str(max_rows_per_batch))
            .load()
        )
        masked = anonymise(
            stream, self.config.configuration.get(table, TableConfig())
        )
        writer = (
            masked.writeStream.format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if once:
            while True:
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
                done = sum(
                    int(p["numInputRows"]) for p in (q.recentProgress or [])
                ) == 0
                if done:
                    return q
        return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()

    def sync(self, truncate: bool = False, dry_run: bool = False) -> list[str]:
        """Add DB tables missing from config (main.go:230-315)."""
        missing = [
            t for t in self.source.get_tables() if not self.config.has_table(t)
        ]
        if not dry_run:
            for t in missing:
                self.config.add_table(t, truncate=truncate)
        return missing

    def audit(self) -> "list[tuple[str, str, bool, float]]":
        """Data-quality audit of the EXPORT-SHAPED data — the transformed
        (minimised + anonymised) relations a downstream consumer will
        actually load, not the source: per-table PK completeness +
        uniqueness (masking must never collide or null a key), and FK
        containment across every catalog edge. The latter is the check a
        reference user needs most: per-table retain rules can orphan
        child rows (retain 50 orders does NOT retain their lineitems —
        the documented reason the FK-closed subsetting operator exists),
        and this makes that visible before the dump is imported.

        Each PK check is one aggregation over one scan
        (operators/expectations.py, plan-gated there); each FK edge is
        one left-anti join. The transformed relations are persisted for
        the audit's duration — a parent referenced by N foreign keys
        would otherwise be re-scanned, re-minimised and re-anonymised
        N+1 times (once per check that touches it) — and released
        before returning. Returns (table, constraint, passed, observed)
        rows; truncated tables are skipped (empty by design)."""
        from ..operators.expectations import (
            check,
            complete,
            fk_contained,
            unique,
        )

        dfs = {name: df.persist() for name, df in self.dataframes().items()}
        plans = {p.name: p for p in self.plan_tables()}
        rows: list[tuple[str, str, bool, float]] = []
        try:
            for name, df in dfs.items():
                if plans[name].config.truncate:
                    continue
                pk = plans[name].config.primary_key
                if pk:
                    for r in check(df, [complete(pk), unique(pk)]).collect():
                        rows.append(
                            (name, r["constraint"], r["passed"], r["observed"])
                        )
            for fk in self.source.get_foreign_keys():
                if fk.table not in dfs or fk.referenced_table not in dfs:
                    continue
                if plans[fk.table].config.truncate:
                    continue
                # a truncated REFERENCED table is deliberately not
                # skipped: every child key is then an orphan, and that
                # breakage is exactly what the audit must surface
                r = fk_contained(
                    dfs[fk.table],
                    fk.column,
                    dfs[fk.referenced_table],
                    fk.referenced_column,
                ).collect()[0]
                rows.append(
                    (
                        fk.table,
                        f"fk_contained({fk.column}->"
                        f"{fk.referenced_table}.{fk.referenced_column})",
                        r["passed"],
                        r["observed"],
                    )
                )
        finally:
            for df in dfs.values():
                df.unpersist()
        return rows

    def scan_pii(
        self,
        threshold_pct: int | None = None,
        sample_fraction: float | None = None,
    ) -> "tuple[list, list]":
        """PII discovery over the SOURCE data (pre-masking): profile every
        string column of every catalog table with the content detectors,
        then suggest a faker rule per column — content evidence first,
        column-name heuristics second; name heuristics also cover the
        NON-string columns (a ``date_of_birth DATE`` or ``phone BIGINT``
        is PII whether or not it can be regex-profiled), suggesting only
        type-appropriate fakers. Returns (profile_rows, suggestion_rows) —
        both bounded by |columns| x |detectors|, never by data volume. One
        scan + one 1-row aggregate per table; pass ``sample_fraction`` to
        profile a seeded Bernoulli sample (the 100 TB mode — hit-rates
        converge long before 1% of rows). The reference has no
        equivalent: its config is authored blind (config.go:64-126)."""
        from functools import reduce

        from ..operators.discovery import (
            CATALOG_SCHEMA,
            DEFAULT_THRESHOLD_PCT,
            profile_pii,
            suggest_rules,
            type_class,
        )

        pct = DEFAULT_THRESHOLD_PCT if threshold_pct is None else threshold_pct
        parts = []
        cat_rows: list[tuple[str, str, str]] = []
        for t in self.source.get_tables():
            df = self.source.read(t)
            # catalog rows come from the schema alone — no extra scan
            cat_rows.extend(
                (t, f.name, type_class(f.dataType.simpleString()))
                for f in df.schema.fields
            )
            if any(f.dataType.simpleString() == "string" for f in df.schema.fields):
                parts.append(profile_pii(df, t, sample_fraction=sample_fraction))
        if not cat_rows:
            return [], []
        catalog = self.spark.createDataFrame(cat_rows, CATALOG_SCHEMA)
        if parts:
            profile = reduce(DataFrame.unionAll, parts)
        else:  # all-typed schema: nothing to content-profile, hints still run
            profile = self.spark.createDataFrame(
                [],
                "table_name string, column_name string, detector string, "
                "hits long, n_nonnull long, n_rows long",
            )
        # the profile is tiny (|cols| x |dets| rows) but each part costs a
        # table scan — cache it so profile + suggestions scan sources once
        profile = profile.persist()
        try:
            prof_rows = profile.collect()
            sugg_rows = suggest_rules(
                profile, threshold_pct=pct, catalog=catalog
            ).collect()
        finally:
            profile.unpersist()
        return prof_rows, sugg_rows

    def apply_suggestions(self, suggestions: "list") -> "list[str]":
        """Merge scan_pii suggestions into the config: set each suggested
        rule on its table/column unless the user already configured that
        column (user rules always win). Returns 'table.column=rule' lines
        for what was applied."""
        applied: list[str] = []
        for r in suggestions:
            if r.suggested_rule is None:
                continue
            tc = self.config.configuration.setdefault(r.table_name, TableConfig())
            if r.column_name in tc.columns:
                continue
            tc.columns[r.column_name] = r.suggested_rule
            applied.append(f"{r.table_name}.{r.column_name}={r.suggested_rule}")
        return applied
