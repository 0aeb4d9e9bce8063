"""CLI: export (default) / --dry-run / sync / audit / scan / stream /
curate / screen / release / version.

Command surface of the reference CLI (``cmd/dbmask/main.go:32-77``):
``dbmask -c config.yaml -o dump.sql`` exports; ``--dry-run`` prints the
plan; ``sync [--truncate] [--dry-run]`` adds missing tables to the
config; ``version`` prints the build version. Engine extensions:
``audit`` (PK/FK quality gates over the export-shaped data, plus
``--preflight`` parquet corruption probing), ``scan`` (PII discovery:
profile every string column with the content detectors and suggest
faker masking rules — ``--suggest`` merges them into a config,
user-authored rules winning), ``stream`` (CDC-lite live export: tail a
SQLite table by rowid, anonymise in flight, checkpointed parquet
append — resumes after the last committed row on restart), ``curate``
(corpus curation: quality gate → dedup → near-dup collapse → token
budget), ``screen`` (streaming near-dup ingest screen over a persisted
MinHash index; ``--semantic`` screens embeddings over a persisted ANN
index instead), and ``release`` (differentially-private aggregate
releases from the config's ``privacy.releases`` block, with the
epsilon budget ledger and JSON manifest). A config that lists
``privacy.releases`` AND masks tables runs both from the plain export
verb in one invocation under one manifest (``--manifest`` required).
"""

from __future__ import annotations

import argparse
import sys

from . import __version__, config as config_mod
from .plans.plan import Engine
from .session import get_spark


def _positive_int(value: str) -> int:
    """argparse type for counts that must be >= 1: a 0 or negative
    --batch-rows would make the tail reader issue LIMIT 0, so the first
    availableNow run reads nothing and the --once drain loop would
    declare an untouched backlog done (exit 0, empty export)."""
    n = int(value)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="dbmask-spark",
        description="Anonymise and minimise a database export, Spark-powered.",
    )
    p.add_argument("-c", "--config", help="config file (YAML or JSON)")
    p.add_argument(
        "-o", "--output", default=None,
        help="output dump path (omitted = stdout, like the reference "
        "cmd/dbmask/main.go:146-156; required for --format parquet)",
    )
    p.add_argument(
        "-v", "--verbose", action="store_true",
        help="verbose progress to stderr (main.go:43)",
    )
    p.add_argument(
        "--dialect", default=None, choices=["mysql", "postgres", "sqlite"],
        help="dump dialect (default: the connection type, mysql for parquet)",
    )
    p.add_argument(
        "--format", default="sql", choices=["sql", "parquet", "jsonl"],
        help="sql = text dump (reference-compatible); parquet = native "
        "columnar datasets under the output directory (the scale "
        "path); jsonl = JSON-Lines shards per table (the training-data "
        "handoff format; --max-records-per-file bounds shard size)",
    )
    p.add_argument("--dry-run", action="store_true", help="print plan, export nothing")
    p.add_argument(
        "--resume", action="store_true",
        help="with --format parquet or jsonl: skip tables whose dataset "
        "already committed under the same rules (_SUCCESS and rules "
        "fingerprint present) — restart an interrupted export without "
        "recomputing finished tables",
    )
    p.add_argument(
        "--max-records-per-file", type=_positive_int, default=None,
        metavar="N",
        help="with --format parquet or jsonl: cap rows per output file "
        "(bounds file size under partition skew — a hive partition "
        "holding a hot key otherwise lands in one giant file)",
    )
    p.add_argument(
        "--sort-keys", action="store_true",
        help="with --format parquet: write each table with a configured "
        "primary_key as a KEY-ORDERED dataset (range-partitioned + "
        "locally sorted) — parquet min/max stats then give readers "
        "file-level key pruning and merge-joins consume the export "
        "without re-sorting; tables without a primary_key (or with a "
        "hive partition_by layout) keep the plain write",
    )
    p.add_argument(
        "--manifest", default=None, metavar="PATH",
        help="export runs with a privacy.releases block in the config: "
        "REQUIRED path for the combined manifest (export stats + DP "
        "release ledger). Configs with a quality: block additionally "
        "record every contract's PASS/FAIL in the same manifest (the "
        "audit verb appends its outcomes too), so the gate ships with "
        "the artifact it gated. If PATH exists, prior releases preload "
        "so epsilon accounting is cumulative across invocations. The "
        "manifest records the seeds and must never be published with "
        "the released data. The 'release' verb honours this pre-verb "
        "flag too (a post-verb --manifest overrides it).",
    )
    sub = p.add_subparsers(dest="command")
    sync = sub.add_parser("sync", help="add missing tables to the config")
    sync.add_argument("--truncate", action="store_true")
    sync.add_argument("--dry-run", action="store_true")
    audit = sub.add_parser(
        "audit",
        help="data-quality audit of the export-shaped data: PK "
        "completeness/uniqueness + FK containment (surfaces rows "
        "orphaned by per-table retain rules before you import the dump)",
    )
    audit.add_argument(
        "--preflight", action="store_true",
        help="parquet connections: also probe every data file's footer "
        "for corruption BEFORE the relational checks (a corrupt file "
        "otherwise fails the export at first touch — possibly hours in; "
        "ignoreCorruptFiles would silently drop its rows instead)",
    )
    scan = sub.add_parser(
        "scan",
        help="PII discovery: profile every string column with the "
        "content detectors, print per-column hit rates, and suggest "
        "faker masking rules; --suggest merges the suggestions into a "
        "config file (your existing rules always win)",
    )
    scan.add_argument(
        "--threshold-pct", type=int, default=None,
        help="suggest a content rule when >= PCT%% of non-null values "
        "match (default 30)",
    )
    scan.add_argument(
        "--sample", type=float, default=None, metavar="FRACTION",
        help="profile a seeded Bernoulli sample instead of every row "
        "(the at-scale mode)",
    )
    scan.add_argument(
        "--suggest", default=None, metavar="OUT_CONFIG",
        help="write a config with the suggested rules merged in",
    )
    stream = sub.add_parser(
        "stream",
        help="CDC-lite live export (sqlite connections): tail the table "
        "by rowid, anonymise new rows in flight, append to a parquet "
        "dataset; restarting with the same --checkpoint resumes after "
        "the last committed row",
    )
    stream.add_argument("--table", required=True, help="table to tail")
    stream.add_argument(
        "--output", required=True, help="parquet dataset directory"
    )
    stream.add_argument(
        "--checkpoint", required=True, help="streaming checkpoint directory"
    )
    stream.add_argument(
        "--once", action="store_true",
        help="drain the whole current backlog then exit (loops "
        "availableNow runs until quiescent); default runs continuously "
        "with a 5 s trigger",
    )
    stream.add_argument(
        "--batch-rows", type=_positive_int, default=10000, metavar="N",
        help="rows per micro-batch (default 10000); each --once run pays "
        "a few seconds of query startup per batch, so size this to the "
        "backlog when draining large tables",
    )
    screen = sub.add_parser(
        "screen",
        help="streaming near-duplicate ingest screen: seed a persisted "
        "MinHash index from --landed, then consume parquet files from "
        "--spool one per trigger, flagging each arriving document that "
        "near-duplicates anything landed before it and appending it to "
        "the index (runs without -c/--config — operates on parquet "
        "paths, not the configured connection)",
    )
    screen.add_argument(
        "--landed", required=True,
        help="parquet path of the already-landed corpus (doc_id, text)",
    )
    screen.add_argument(
        "--spool", required=True,
        help="directory of arriving parquet files (consumed in "
        "modification-time order, one file per micro-batch)",
    )
    screen.add_argument(
        "--index", required=True,
        help="directory for the persisted MinHash index (the path "
        "'forget --index minhash' and 'compact --index minhash' take)",
    )
    screen.add_argument(
        "--threshold", type=float, default=None,
        help="flagging threshold: Jaccard in text mode (default 0.5), "
        "cosine with --semantic (default 0.9)",
    )
    screen.add_argument(
        "--table-prefix", default="neardup_index",
        help="catalog table prefix for the index's bucketed tables",
    )
    screen.add_argument(
        "--compact-every", type=_positive_int, default=None, metavar="N",
        help="fold older epoch partitions once the index holds more "
        "than N batch partitions (bounds small-file growth)",
    )
    screen.add_argument(
        "--checkpoint", default=None,
        help="streaming checkpoint directory; required for --resume",
    )
    screen.add_argument(
        "--resume", action="store_true",
        help="restart a checkpointed screen: skip re-seeding, recover "
        "the index tables from the on-storage manifest, and consume "
        "only spool files not yet committed",
    )
    screen.add_argument(
        "--dedup-seed", action="store_true",
        help="exact-deduplicate the landed corpus before seeding the "
        "index (hot-band fix for template-heavy corpora; verdicts "
        "unchanged, n_dups counts distinct contents instead of copies)",
    )
    screen.add_argument(
        "--semantic", action="store_true",
        help="screen EMBEDDINGS instead of text: --landed/--spool hold "
        "(vec_id, embedding) parquet, the index is the persisted ANN "
        "index (centroids + per-cell inverted lists), and a document is "
        "flagged when its best cosine against anything landed before it "
        "clears --threshold (default 0.9 in this mode)",
    )
    screen.add_argument(
        "--nprobe", type=_positive_int, default=2,
        help="--semantic: probe the N nearest cells per arriving vector "
        "(recall/read trade-off; default 2)",
    )
    screen.add_argument(
        "--num-centroids", type=_positive_int, default=8,
        help="--semantic: number of IVF cells when seeding (default 8)",
    )
    screen.add_argument(
        "--train-centroids", action="store_true",
        help="--semantic: seed the index with k-means-TRAINED IVF "
        "cells (train_ivf_centroids over the landed corpus) instead "
        "of the deterministic first-K stand-in — better cell balance "
        "and recall at the same --nprobe; screen semantics unchanged "
        "(full probe equals exhaustive either way)",
    )
    screen.add_argument(
        "--train-iters", type=_positive_int, default=3, metavar="N",
        help="--semantic with --train-centroids: Lloyd's iterations "
        "(default 3)",
    )
    curate = sub.add_parser(
        "curate",
        help="corpus curation pipeline: quality gate -> exact near-dup "
        "collapse -> optional per-language token budget; writes the "
        "surviving documents as parquet and prints a per-language "
        "report (runs without -c/--config — operates on parquet paths)",
    )
    curate.add_argument(
        "--docs", required=True,
        help="parquet path of the input corpus (doc_id, text, lang)",
    )
    curate.add_argument(
        "--out", required=True,
        help="output directory for the curated parquet corpus",
    )
    curate.add_argument(
        "--min-quality", type=float, default=0.5,
        help="quality-score gate in [0, 1] (default 0.5)",
    )
    curate.add_argument(
        "--budget-tokens", type=_positive_int, default=None, metavar="N",
        help="per-language token budget: admit best-quality documents "
        "first while the language's running token total fits",
    )
    curate.add_argument(
        "--budget-mode", default="prefix", choices=["prefix", "greedy"],
        help="budget admission rule: prefix = stop at the first document "
        "that would cross the budget (scale-clean window); greedy = skip "
        "it and keep filling down the quality order (tighter fill, one "
        "grouped-map pass per language)",
    )
    curate.add_argument(
        "--strip-markup", action="store_true",
        help="strip HTML/XML markup from the text before curation "
        "(script/style blocks removed with contents, tags stripped, "
        "entities decoded) — the crawled-page ingest shape",
    )
    curate.add_argument(
        "--scrub-pii", action="store_true",
        help="redact free-text PII (emails, IPv4s, phone numbers -> "
        "typed placeholders) after markup extraction: the written "
        "corpus never holds the raw values, and pages differing only "
        "in embedded addresses dedup as copies",
    )
    curate.add_argument(
        "--landed", default=None, metavar="DIR",
        help="previously-curated parquet corpus: run INCREMENTALLY, "
        "excluding delta documents whose normalised fingerprint is "
        "already landed (the daily-crawl shape; the landed corpus is "
        "never reprocessed beyond one fingerprint projection). With "
        "--near-dup-threshold the delta is ALSO screened against the "
        "landed corpus at that threshold (new-vs-landed bands only) "
        "before the within-delta collapse",
    )
    curate.add_argument(
        "--near-dup-threshold", type=float, default=None, metavar="J",
        help="also collapse NEAR duplicates among survivors: MinHash+LSH "
        "pairs at this Jaccard threshold, connected components, lowest "
        "id per cluster kept (prices an LSH self-join; leave unset for "
        "exact-only curation)",
    )
    curate.add_argument(
        "--near-dup-keep", default="min-id", choices=["min-id", "quality"],
        help="near-dup cluster representative policy: min-id = lowest "
        "doc id (deterministic, id-stable); quality = highest quality "
        "score wins, ties to lowest id (near-copies usually differ in "
        "exactly the boilerplate the score penalises)",
    )
    curate.add_argument(
        "--near-dup-max-bucket", type=_positive_int, default=None,
        metavar="B",
        help="cap LSH band buckets at B members during --near-dup "
        "collapse: larger buckets are star-chained (cluster "
        "connectivity kept, quadratic within-bucket pairing avoided) "
        "with a HotBandWarning. Recommended (e.g. 1000) for raw web "
        "crawls, where templated boilerplate pages pile thousands of "
        "near-copies into single band buckets; default off preserves "
        "exact full pairing",
    )
    compact = sub.add_parser(
        "compact",
        help="compact a fragmented parquet dataset into ~target-sized "
        "files (streaming appends and per-trigger micro-batches leave "
        "thousands of tiny files; every file costs a footer read + task "
        "slot at scan time). Verifies row counts before reporting; "
        "hive-partitioned datasets keep their k=v directories",
    )
    compact.add_argument(
        "--path", required=True, help="parquet dataset to compact"
    )
    compact.add_argument(
        "--out", default=None,
        help="output directory for the compacted dataset (must differ "
        "from --path; must not already exist). Omit for IN-PLACE "
        "compaction: the result is staged in a sibling directory and "
        "renamed over --path only after the row check (stores with a "
        "directory rename: local paths or file:// URIs, HDFS)",
    )
    compact.add_argument(
        "--target-mb", type=_positive_int, default=128, metavar="MB",
        help="target file size (default 128 MB — a comfortable parquet "
        "row-group/scan-split size)",
    )
    compact.add_argument(
        "--index", choices=["minhash", "ann"], default=None,
        help="compact a PERSISTED dedup index instead of a plain "
        "parquet dataset: fold its per-epoch batch= partitions into "
        "one (minhash = the bucketed MinHash/LSH index whose manifest "
        "lives at --path, the 'screen --index' directory; ann = the "
        "ANN vector index at --path). The "
        "offline maintenance path for an index grown by many appends "
        "with no stream running — screen results are unchanged, scan "
        "cost stops growing with ingest history. In place; "
        "incompatible with --out",
    )
    compact.add_argument(
        "--keep-batches", default=None, metavar="A,B",
        help="with --index: comma-separated batch labels carried over "
        "UNFOLDED (e.g. an epoch a paused stream will replay)",
    )
    retrieve = sub.add_parser(
        "retrieve",
        help="serve top-k ANN retrieval from a persisted PQ-coded index "
        "(the third leg of the index lifecycle: seed it with 'screen "
        "--semantic', maintain it with 'compact --index ann', SERVE it "
        "here): each query vector gets its k nearest landed neighbours "
        "by ADC over the stored codes, optionally exact-rescored "
        "(IVFADC+R). Runs without -c/--config — operates on paths",
    )
    retrieve.add_argument(
        "--index", required=True,
        help="persisted ANN index path (save_ann_index with pq_m / "
        "a PQ-seeded screen); a code-less index is refused with a "
        "pointer to re-seed",
    )
    retrieve.add_argument(
        "--queries", required=True,
        help="parquet of (vec_id, embedding) query vectors; batches of "
        "1000 are served per plan (the bounded-literal ADC guard), any "
        "total count works",
    )
    retrieve.add_argument(
        "-k", type=_positive_int, default=5,
        help="neighbours per query (default 5)",
    )
    retrieve.add_argument(
        "--nprobe", type=_positive_int, default=2,
        help="probe the N nearest cells per query (default 2)",
    )
    retrieve.add_argument(
        "--rescore", type=_positive_int, default=None, metavar="MULT",
        help="IVFADC+R: re-rank the top k*MULT ADC shortlist by EXACT "
        "cosine over only those rows' true vectors (pushed nid IN "
        "read) — output gains a cosine column",
    )
    retrieve.add_argument(
        "--out", default=None,
        help="write results as parquet here instead of TSV to stdout",
    )
    forget = sub.add_parser(
        "forget",
        help="right-to-erasure. Index mode (--index/--path, no config): "
        "record ids as tombstones in a persisted dedup/ANN index so "
        "every screen/retrieve stops matching them immediately (a "
        "pushed scan filter — no index rewrite); 'compact --index' "
        "then removes the rows physically and closes the ledger. "
        "Relational mode (--table, with -c): compute the FK-CLOSURE of "
        "the subject ids (their rows plus everything transitively "
        "referencing them) and emit a children-first, dialect-aware "
        "DELETE script whose statements are keyed only by the root ids "
        "— apply it to the live database the dump came from. --dry-run "
        "prints the per-table row counts (Spark-planned semi joins) "
        "without writing the script",
    )
    forget.add_argument(
        "--index", default=None, choices=["minhash", "ann"],
        help="index mode: which index kind lives at --path (minhash = "
        "the MinHash index a 'screen --index' wrote there; ann = vector "
        "index)",
    )
    forget.add_argument(
        "--path", default=None, help="index mode: persisted index path"
    )
    forget.add_argument(
        "--table", default=None, metavar="T",
        help="relational mode: the subject's table (requires -c; key "
        "column from --key or the table's configured primary_key)",
    )
    forget.add_argument(
        "--key", default=None, metavar="COL",
        help="relational mode: subject key column (default: the "
        "table's configured primary_key)",
    )
    forget.add_argument(
        "--ids", default=None, metavar="A,B",
        help="comma-separated ids to forget (doc ids for minhash, "
        "vector ids for ann, subject keys for --table)",
    )
    forget.add_argument(
        "--ids-file", default=None, metavar="FILE",
        help="file with one id per line (takedown lists)",
    )
    forget.add_argument(
        "--apply-parquet", default=None, metavar="DIR",
        help="relational mode: additionally rewrite every affected "
        "table MINUS its closure rows as parquet under DIR/<table> — "
        "the lake counterpart of the SQL script (NULL foreign keys "
        "survive; row accounting verified per table). Swap the written "
        "datasets over the originals",
    )
    release = sub.add_parser(
        "release",
        help="differentially-private aggregate releases: run every entry "
        "in the config's privacy.releases block, print the released "
        "(noisy) rows, and emit the epsilon-budget manifest — refuses "
        "correlated-noise seed reuse, warns when epsilon accumulates on "
        "a re-released relation",
    )
    release.add_argument(
        # SUPPRESS, not None: subparsers copy their parsed namespace —
        # defaults included — over the parent's, so a None default here
        # would silently discard a pre-verb `--manifest X release`
        # (the manifest then never written, prior-epsilon preload
        # skipped — a privacy-accounting footgun). With SUPPRESS the
        # pre-verb value survives; a post-verb --manifest still wins.
        "--manifest", default=argparse.SUPPRESS, metavar="PATH",
        help="write the release manifest (per-release epsilon/seed/"
        "adjacency + per-relation budget totals) as JSON to PATH; "
        "without it the manifest prints to stdout. If PATH already "
        "exists, prior releases are loaded FIRST so accounting is "
        "cumulative across invocations (re-running with a fresh seed "
        "warns and adds to the relation's total; a same-seed "
        "different-epsilon re-release is refused against history too). "
        "The manifest is the operator-side audit record — it contains "
        "the seeds and must never be published with the released data",
    )
    sub.add_parser("version", help="print version")
    return p


def _account_releases(privacy_raw: dict, manifest_path: str | None):
    """Parse the config's ``privacy.releases`` block and pre-commit the
    epsilon accounting — FIRST, before any export or release work, so a
    refused combination fails before anything is computed or printed
    (partial output would itself be a release). If ``manifest_path``
    exists, prior runs' releases preload so cross-INVOCATION seed reuse
    and epsilon accumulation are caught, not just intra-config.
    Returns ``(specs, ledger)``; raises ``DPBudgetError`` on refusal."""
    import json as _json
    import warnings as _warnings
    from pathlib import Path as _Path

    from .operators.privacy_ledger import (
        DPLedger,
        DPReleaseWarning,
        parse_releases,
    )

    specs = parse_releases(privacy_raw)
    ledger = DPLedger()
    if manifest_path and _Path(manifest_path).exists():
        prior = _json.loads(_Path(manifest_path).read_text())
        n_prior = ledger.preload(prior)
        print(
            f"loaded {n_prior} prior release(s) from {manifest_path} "
            f"(epsilon already spent: {ledger.total_epsilon:g})",
            file=sys.stderr,
        )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        for spec in specs:
            ledger.record(spec)
    for w in caught:
        if issubclass(w.category, DPReleaseWarning):
            print(f"warning: {w.message}", file=sys.stderr)
    return specs, ledger


def _run_contract_rows(engine, quality_raw: dict):
    """Run every config-declared data contract (ONE aggregation pass
    per table, operators/expectations.py:check) and return
    ``(rows, error)``: rows = [(table, constraint, passed, observed)],
    error = a printable config-mistake message (typo'd table/column).
    Shared by the audit verb's PASS/FAIL report and the export verb's
    manifest recording — the same gate, wherever it runs."""
    from .operators.expectations import check, parse_quality_block

    rows = []
    for table, exps in parse_quality_block(quality_raw).items():
        try:
            df = engine.source.read(table)
        except Exception as exc:
            return None, (
                f"quality.{table}: cannot read table: "
                f"{str(exc).splitlines()[0]}"
            )
        try:
            contract_rows = check(df, exps).collect()
        except Exception as exc:
            return None, f"quality.{table}: {str(exc).splitlines()[0]}"
        for r in contract_rows:
            rows.append(
                (table, r["constraint"], r["passed"], r["observed"])
            )
    return rows, None


def _contracts_json(rows) -> list:
    """Contract outcome rows as the JSON shape the manifest records."""
    return [
        {
            "table": t,
            "constraint": c,
            "passed": bool(ok),
            "observed": obs,
        }
        for t, c, ok, obs in rows
    ]


def _write_manifest(manifest: dict, manifest_path: str) -> None:
    """Persist the manifest BEFORE any release is computed or printed:
    every accounted spec's epsilon is committed even if a later spec
    fails mid-loop (bad table/column name -> Spark AnalysisException).
    Printing a release whose budget was never recorded is exactly the
    blind spot the ledger closes; erring the other way (epsilon recorded
    for a release that then failed to print) only over-counts, which is
    privacy-safe."""
    import json as _json
    from pathlib import Path as _Path

    _Path(manifest_path).write_text(_json.dumps(manifest, indent=2) + "\n")
    print(
        f"manifest written: {manifest_path} "
        f"(total epsilon {manifest['total_epsilon']:g}; "
        "committed before release output)",
        file=sys.stderr,
    )


def _print_releases(engine: Engine, specs) -> None:
    """Compute and print each release (stdout — the released values are
    the publication; the manifest stays the operator-side audit record
    and is never interleaved with them)."""
    from .operators.privacy_ledger import run_release

    for spec in specs:
        df = run_release(engine.source.read(spec.table), spec)
        cols = df.columns
        rows = df.collect()  # aggregated: group-cardinality-sized
        print(
            f"== {spec.name}: {spec.kind} of {spec.table} "
            f"by {','.join(spec.group_by)} "
            f"(epsilon={spec.epsilon:g}, adjacency={spec.adjacency})"
        )
        print("\t".join(cols))
        for r in sorted(rows, key=lambda r: tuple(str(r[c]) for c in cols)):
            print("\t".join(str(r[c]) for c in cols))


_MAINT_PREFIX = "dbmask_maint"


def _register_maint_index(spark, path: str) -> str:
    """Register the MinHash index at ``path`` for a maintenance verb
    (``forget``, ``compact``) and return its catalog prefix. Catalog
    entries are session-local, so they are rebuilt from the index's
    manifest. Entries left under the prefix by an earlier call in the
    same session, possibly for another index, are dropped first:
    registration skips tables that exist, so the verb would otherwise
    act on that earlier index and write its tables into this index's
    manifest. The tables are external (their files live under the
    index path), so dropping an entry leaves the files in place."""
    from .operators.dedup import register_minhash_index_bucketed

    for leaf in ("bands", "shingles", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {_MAINT_PREFIX}_{leaf}")
    register_minhash_index_bucketed(spark, _MAINT_PREFIX, path)
    return _MAINT_PREFIX


def _parse_forget_ids(args) -> "tuple[list, str | None]":
    """Shared id-list parsing for both forget modes: --ids and/or
    --ids-file, all-digit lists coerced to ints."""
    raw: list[str] = []
    if args.ids:
        raw.extend(s.strip() for s in args.ids.split(",") if s.strip())
    if args.ids_file:
        try:
            with open(args.ids_file) as fh:
                raw.extend(s.strip() for s in fh if s.strip())
        except OSError as exc:
            return [], f"error: cannot read --ids-file: {exc}"
    if not raw:
        return [], "error: pass --ids and/or --ids-file"
    ids: list = (
        [int(s) for s in raw]
        if all(s.lstrip("-").isdigit() for s in raw)
        else raw
    )
    return ids, None


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "version":
        print(f"dbmask-spark {__version__}")
        return 0
    if args.command == "curate":
        # path-based verb: no config/connection involved
        from .operators.curation import run_curation

        spark = get_spark()
        spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
        stats = run_curation(
            spark,
            args.docs,
            args.out,
            min_quality=args.min_quality,
            budget_tokens=args.budget_tokens,
            budget_mode=args.budget_mode,
            near_dup_threshold=args.near_dup_threshold,
            near_dup_max_bucket=args.near_dup_max_bucket,
            near_dup_keep=args.near_dup_keep,
            landed_path=args.landed,
            strip_markup=args.strip_markup,
            scrub_pii=args.scrub_pii,
        )
        print("lang\tn_docs\ttotal_tokens\tmin_quality\tmax_quality")
        for lang, n_docs, total, qmin, qmax in stats:
            print(f"{lang}\t{n_docs}\t{total}\t{qmin:.4f}\t{qmax:.4f}")
        return 0
    if args.command == "compact":
        # path-based verb: no config/connection involved
        spark = get_spark()
        spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
        if args.index is not None:
            if args.out is not None:
                print(
                    "error: --index compaction is in place; --out does "
                    "not apply",
                    file=sys.stderr,
                )
                return 2
            keep = tuple(
                s.strip()
                for s in (args.keep_batches or "").split(",")
                if s.strip()
            )
            try:
                if args.index == "ann":
                    from .operators.similarity import (
                        ann_index_batches,
                        compact_ann_index,
                    )

                    before = ann_index_batches(spark, args.path)
                    if not before:
                        print(
                            f"error: no ANN index at {args.path} "
                            "(vectors/batch=* not found)",
                            file=sys.stderr,
                        )
                        return 2
                    stats = compact_ann_index(
                        spark, args.path, keep_batches=keep
                    )
                    if stats["folded"] == 0:
                        print(
                            f"nothing to fold at {args.path} "
                            f"(batch partitions: {len(before)})"
                        )
                    else:
                        print(
                            f"compacted ann index {args.path}: folded "
                            f"{stats['folded']} of {len(before)} batch "
                            f"partition(s) into batch={stats['dest']}, "
                            f"{stats['rows']} row(s) verified"
                        )
                else:
                    from .operators.dedup import (
                        _read_index_manifest,
                        compact_minhash_index_bucketed,
                    )

                    manifest = _read_index_manifest(spark, args.path)
                    prefix = _register_maint_index(spark, args.path)
                    n_parts = len(
                        spark.sql(
                            f"SHOW PARTITIONS {prefix}_bands"
                        ).collect()
                    )
                    compact_minhash_index_bucketed(
                        spark,
                        prefix,
                        n_buckets=manifest["n_buckets"],
                        path=args.path,
                        keep_batches=keep,
                    )
                    n_after = len(
                        spark.sql(
                            f"SHOW PARTITIONS {prefix}_bands"
                        ).collect()
                    )
                    print(
                        f"compacted minhash index {args.path}: "
                        f"{n_parts} -> {n_after} batch partition(s) "
                        f"({manifest['n_buckets']} buckets preserved)"
                    )
            except (FileNotFoundError, ValueError) as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 2
            return 0
        from .operators.compaction import compact_dataset

        try:
            stats = compact_dataset(
                spark, args.path, args.out, target_mb=args.target_mb
            )
        except (FileNotFoundError, ValueError) as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        where = " in place" if args.out is None else ""
        print(
            f"compacted {args.path}{where}: {stats['files_before']} -> "
            f"{stats['files_after']} file(s), {stats['rows']} row(s) "
            f"verified, {stats['bytes']} bytes"
        )
        return 0
    if args.command == "forget" and args.table is None:
        # index mode — path-based, no config/connection involved
        if args.index is None or args.path is None:
            print(
                "error: forget needs --index+--path (index mode) or "
                "--table with -c (relational mode)",
                file=sys.stderr,
            )
            return 2
        ids, err = _parse_forget_ids(args)
        if err:
            print(err, file=sys.stderr)
            return 2
        spark = get_spark()
        spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
        try:
            if args.index == "ann":
                from .operators.similarity import forget_from_ann_index

                stats = forget_from_ann_index(spark, args.path, ids)
                hidden = f"{stats['landed']} landed vector row(s) hidden"
            else:
                from .operators.dedup import forget_from_minhash_index

                prefix = _register_maint_index(spark, args.path)
                stats = forget_from_minhash_index(
                    spark, ids, table_prefix=prefix, path=args.path
                )
                hidden = f"{stats['landed_docs']} landed doc(s) hidden"
        except (FileNotFoundError, ValueError) as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        print(
            f"forgot {stats['new']} new id(s) from {args.index} index "
            f"{args.path} ({stats['already']} already tombstoned); "
            f"{hidden} — run 'compact --index {args.index} --path "
            f"{args.path}' to remove them physically"
        )
        return 0
    if args.command == "retrieve":
        # path-based verb: no config/connection involved
        from .operators.similarity import (
            ann_ivf_pq_topk_rescored_vs_index,
            ann_ivf_pq_topk_vs_index,
        )

        spark = get_spark()
        spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
        try:
            # one reader for rows AND schema (r15 continuation-surface
            # audit: the second spark.read.parquet re-listed and
            # re-read the footer for schema only)
            q_df = spark.read.parquet(args.queries).select(
                "vec_id", "embedding"
            )
            schema = q_df.schema
            q_all = q_df.collect()
        except Exception as exc:
            print(
                f"error: cannot read queries: {str(exc).splitlines()[0]}",
                file=sys.stderr,
            )
            return 2
        if not q_all:
            print("error: --queries holds no rows", file=sys.stderr)
            return 2
        results = []
        try:
            # the ADC query side embeds m x K literal tables per query,
            # so serve in bounded batches (the same <=1000 guard the
            # operator enforces); any total query count works
            for i in range(0, len(q_all), 1000):
                chunk = spark.createDataFrame(q_all[i:i + 1000], schema)
                if args.rescore is not None:
                    df = ann_ivf_pq_topk_rescored_vs_index(
                        chunk, args.index, k=args.k, nprobe=args.nprobe,
                        shortlist=args.k * args.rescore,
                    )
                else:
                    df = ann_ivf_pq_topk_vs_index(
                        chunk, args.index, k=args.k, nprobe=args.nprobe
                    )
                results.extend(tuple(r) for r in df.collect())
        except (FileNotFoundError, ValueError) as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        except Exception as exc:  # no index at path -> AnalysisException
            msg = str(exc).splitlines()[0]
            if "PATH_NOT_FOUND" not in msg:
                raise
            print(
                f"error: no ANN index at {args.index}: {msg}",
                file=sys.stderr,
            )
            return 2
        results.sort(key=lambda row: (row[0], row[-1]))  # (query, rank)
        cols = (
            ["query_id", "neighbor_id", "cosine", "rank"]
            if args.rescore is not None
            else ["query_id", "neighbor_id", "rank"]
        )
        if args.out is not None:
            spark.createDataFrame(results, ", ".join(
                f"{c} {'double' if c == 'cosine' else 'bigint' if c != 'rank' else 'int'}"
                for c in cols
            )).write.mode("error").parquet(args.out)
            print(
                f"wrote {len(results)} result row(s) for "
                f"{len(q_all)} query vector(s): {args.out}"
            )
        else:
            print("\t".join(cols))
            for row in results:
                print("\t".join(str(v) for v in row))
            print(
                f"{len(results)} result row(s) for {len(q_all)} "
                f"query vector(s)",
                file=sys.stderr,
            )
        return 0
    if args.command == "screen":
        # path-based verb: no config/connection involved
        from .streaming.events import (
            run_streaming_ann_screen,
            run_streaming_neardup_ingest,
        )

        if args.resume and not args.checkpoint:
            print("error: --resume requires --checkpoint", file=sys.stderr)
            return 2
        spark = get_spark()
        spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
        if args.semantic:
            if args.dedup_seed:
                print(
                    "error: --dedup-seed applies to the text screen only",
                    file=sys.stderr,
                )
                return 2
            threshold = 0.9 if args.threshold is None else args.threshold
            flags = run_streaming_ann_screen(
                spark,
                args.landed,
                args.spool,
                args.index,
                threshold=threshold,
                nprobe=args.nprobe,
                num_centroids=args.num_centroids,
                train_centroids=args.train_centroids,
                train_iters=args.train_iters,
                compact_every=args.compact_every,
                checkpoint=args.checkpoint,
                resume=args.resume,
            )
            n_flagged = 0
            for epoch, qid, n_close, best_cos, is_dup in flags:
                if is_dup:
                    n_flagged += 1
                    print(f"{epoch}\t{qid}\t{n_close}\t{best_cos:.6f}")
            print(
                f"\n{n_flagged} of {len(flags)} vector(s) flagged",
                file=sys.stderr,
            )
            return 0
        flagged = run_streaming_neardup_ingest(
            spark,
            args.landed,
            args.spool,
            args.index,
            threshold=0.5 if args.threshold is None else args.threshold,
            table_prefix=args.table_prefix,
            compact_every=args.compact_every,
            checkpoint=args.checkpoint,
            resume=args.resume,
            dedup_seed=args.dedup_seed,
        )
        for epoch, doc_id, n_dups, best_j in flagged:
            print(f"{epoch}\t{doc_id}\t{n_dups}\t{best_j:.6f}")
        print(f"\n{len(flagged)} document(s) flagged", file=sys.stderr)
        return 0
    if not args.config:
        print("error: -c/--config is required", file=sys.stderr)
        return 2
    try:
        cfg = config_mod.load(args.config)
    except config_mod.ConfigError as exc:
        # reference behavior (cmd/dbmask/main.go:76): print the error,
        # exit nonzero — a bad config is a user mistake, not a traceback
        print(f"error: {exc}", file=sys.stderr)
        return 1
    spark = get_spark()
    spark.sparkContext.setLogLevel("INFO" if args.verbose else "WARN")
    engine = Engine(spark, cfg)
    if args.verbose:
        print(f"config: {args.config}", file=sys.stderr)
        print(f"connection: {cfg.connection.type}", file=sys.stderr)
    if args.command == "forget":
        # relational mode: FK-closure subject erasure over the config's
        # connection (the index mode returned before config parsing)
        from .plans.forget import count_forget_plan, render_forget_script

        if args.index or args.path:
            print(
                "error: --table (relational mode) and --index/--path "
                "(index mode) are separate invocations — run them one "
                "at a time",
                file=sys.stderr,
            )
            return 2
        ids, err = _parse_forget_ids(args)
        if err:
            print(err, file=sys.stderr)
            return 2
        key = args.key
        if not key:
            tc = cfg.configuration.get(args.table)
            key = tc.primary_key if tc else ""
        if not key:
            print(
                f"error: no key column for table {args.table!r} — pass "
                "--key or set primary_key in the config",
                file=sys.stderr,
            )
            return 2
        dialect = args.dialect or (
            cfg.connection.type
            if cfg.connection.type in ("mysql", "postgres", "sqlite")
            else "mysql"
        )
        try:
            plan = count_forget_plan(
                engine.spark, engine.source, args.table, key, ids
            )
            script = render_forget_script(
                engine.source, args.table, key, ids, dialect
            )
        except (ValueError, FileNotFoundError) as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
        total = sum(td.n_rows or 0 for td in plan)
        print(f"Subject erasure: {args.table}.{key} IN ({len(ids)} id(s))")
        for td in plan:
            print(f"  DELETE {td.table}: {td.n_rows} row(s)")
        print(f"  Total: {total} row(s) across {len(plan)} table(s)")
        if args.dry_run:
            return 0
        if args.apply_parquet:
            from .plans.forget import apply_forget_parquet

            try:
                apply_forget_parquet(
                    engine.spark, engine.source, args.table, key, ids,
                    args.apply_parquet,
                )
            except Exception as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 2
            print(
                f"wrote {len(plan)} erased table dataset(s) under "
                f"{args.apply_parquet} (row accounting verified); swap "
                "them over the originals"
            )
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(script)
            print(f"wrote delete script: {args.output} ({dialect})")
        else:
            print(script)
        return 0
    if args.command == "release":
        import json as _json

        from .operators.privacy_ledger import DPBudgetError

        if not cfg.privacy:
            print(
                "error: release requires a privacy.releases block in the "
                "config",
                file=sys.stderr,
            )
            return 2
        try:
            specs, ledger = _account_releases(cfg.privacy, args.manifest)
        except DPBudgetError as exc:
            # accounting refusals AND a privacy block that validates at
            # load (e.g. audit-only) but has no releases both take the
            # clean error path, not an uncaught traceback
            print(f"error: {exc}", file=sys.stderr)
            return 2
        manifest = ledger.manifest()
        if args.manifest:
            _write_manifest(manifest, args.manifest)
        _print_releases(engine, specs)
        if not args.manifest:
            print(_json.dumps(manifest))
        return 0
    if args.command == "audit":
        failed = 0
        if getattr(args, "preflight", False):
            from .sources.parquet import preflight_parquet_files

            if cfg.connection.type != "parquet":
                print(
                    "error: --preflight requires a parquet connection",
                    file=sys.stderr,
                )
                return 2
            try:
                probe_rows = preflight_parquet_files(
                    engine.spark, cfg.connection.path
                ).collect()
            except FileNotFoundError as exc:
                # empty/missing enumeration is an error, never a PASS —
                # a silent pass here is exactly the row-loss blind spot
                # the preflight exists to prevent
                print(f"error: preflight: {exc}", file=sys.stderr)
                return 2
            bad = [
                (r["file"], r["error"]) for r in probe_rows if not r["ok"]
            ]
            for f, err in sorted(bad):
                print(f"FAIL  preflight: {f}: {err}")
                failed += 1
            if bad:
                print(
                    f"\n{len(bad)} corrupt file(s); fix or quarantine "
                    "before exporting",
                    file=sys.stderr,
                )
                return 1
        rows = engine.audit()
        # configured privacy audits (k-anonymity / l-diversity /
        # t-closeness over quasi-identifier combinations) merge into the
        # same PASS/FAIL report: re-identification risk is a data-quality
        # property of the export exactly like key integrity
        if cfg.privacy.get("audit"):
            from .operators.privacy_ledger import (
                parse_audits,
                run_privacy_audit,
            )

            for spec in parse_audits(cfg.privacy):
                rows.extend(
                    run_privacy_audit(
                        engine.source.read(spec.table), spec
                    )
                )
        # configured data contracts (config quality block): per table,
        # ALL contracts verify in ONE aggregation pass — completeness,
        # uniqueness, ranges, set membership and row floors merge into
        # the same PASS/FAIL report
        if cfg.quality:
            # a typo'd table name is a config mistake, not a traceback;
            # missing COLUMNS surface the same way through the aggregate
            contract_rows, err = _run_contract_rows(engine, cfg.quality)
            if err is not None:
                print(f"error: {err}", file=sys.stderr)
                return 2
            rows.extend(contract_rows)
        for table, constraint, passed, observed in rows:
            status = "PASS" if passed else "FAIL"
            failed += 0 if passed else 1
            obs = "n/a" if observed is None else f"{observed:g}"
            print(f"{status}  {table}: {constraint} (observed={obs})")
        if args.manifest:
            # record the gate's outcome WITH the artifact ledger it
            # gates: merge into the existing manifest (the export/
            # release record) rather than clobbering it
            import json as _json
            from pathlib import Path as _Path

            mp = _Path(args.manifest)
            doc = _json.loads(mp.read_text()) if mp.exists() else {}
            doc["contracts"] = _contracts_json(rows)
            doc["contracts_passed"] = failed == 0
            mp.write_text(_json.dumps(doc, indent=2) + "\n")
            print(
                f"audit outcomes recorded: {args.manifest} "
                f"({len(rows) - failed}/{len(rows)} passed)",
                file=sys.stderr,
            )
        print(
            f"\n{len(rows) - failed}/{len(rows)} checks passed",
            file=sys.stderr,
        )
        return 0 if failed == 0 else 1
    if args.command == "scan":
        prof_rows, sugg_rows = engine.scan_pii(
            threshold_pct=args.threshold_pct, sample_fraction=args.sample
        )
        hits = {
            (r.table_name, r.column_name, r.detector): r for r in prof_rows
        }
        for (t, c, d), r in sorted(hits.items()):
            if r.hits:
                rate = 100.0 * r.hits / max(r.n_nonnull, 1)
                print(f"{t}.{c}: {d} {r.hits}/{r.n_nonnull} ({rate:.1f}%)")
        n_sugg = 0
        for r in sorted(sugg_rows, key=lambda r: (r.table_name, r.column_name)):
            if r.suggested_rule is not None:
                n_sugg += 1
                print(f"suggest {r.table_name}.{r.column_name}: "
                      f"{r.suggested_rule}  [{r.evidence}]")
        print(f"\n{n_sugg} suggested rule(s)", file=sys.stderr)
        if args.suggest:
            applied = engine.apply_suggestions(sugg_rows)
            cfg.save(args.suggest)
            print(
                f"wrote {args.suggest} with {len(applied)} new rule(s)",
                file=sys.stderr,
            )
        return 0
    if args.command == "stream":
        q = engine.stream_table(
            args.table,
            args.output,
            args.checkpoint,
            once=args.once,
            max_rows_per_batch=args.batch_rows,
        )
        q.awaitTermination()
        if args.verbose:
            print(
                f"streamed {args.table} -> {args.output} "
                f"(checkpoint {args.checkpoint})",
                file=sys.stderr,
            )
        return 0
    if args.command == "sync":
        missing = engine.sync(truncate=args.truncate, dry_run=args.dry_run)
        for t in missing:
            print(f"added table: {t}" if not args.dry_run else f"missing table: {t}")
        if not args.dry_run and missing:
            cfg.save(args.config)
        return 0
    if args.dry_run:
        engine.dry_run()
        return 0
    if args.sort_keys and args.format != "parquet":
        print("error: --sort-keys requires --format parquet", file=sys.stderr)
        return 2
    # export + release in ONE run (the reference's single export entry
    # point, main.go:80-199, extended with the privacy counterpart): a
    # config that both masks tables AND lists privacy.releases drives
    # the masked export and the DP statistic releases together, under
    # one ledger-enforced manifest covering both. Accounting runs FIRST
    # so a refused release combination fails before hours of export.
    release_specs = release_ledger = None
    if cfg.privacy and cfg.privacy.get("releases"):
        from .operators.privacy_ledger import DPBudgetError

        if not args.manifest:
            print(
                "error: this config lists privacy.releases — export "
                "requires --manifest PATH so the spent epsilon is "
                "recorded (run the 'release' verb instead to release "
                "without exporting)",
                file=sys.stderr,
            )
            return 2
        if not args.output:
            print(
                "error: export with privacy.releases requires -o so the "
                "released statistics do not interleave with the dump on "
                "stdout",
                file=sys.stderr,
            )
            return 2
        try:
            release_specs, release_ledger = _account_releases(
                cfg.privacy, args.manifest
            )
        except DPBudgetError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
    # config-declared data contracts run BEFORE the export (the gate
    # describes the data about to ship) and their outcomes land in the
    # same manifest — a 100 TB pipeline wants the quality gate RECORDED
    # with the artifact it gated, not in a scrollback buffer
    contract_rows = None
    if cfg.quality and args.manifest:
        contract_rows, err = _run_contract_rows(engine, cfg.quality)
        if err is not None:
            print(f"error: {err}", file=sys.stderr)
            return 2
        n_fail = sum(1 for _t, _c, ok, _o in contract_rows if not ok)
        for t, c, ok, obs in contract_rows:
            if not ok:
                o = "n/a" if obs is None else f"{obs:g}"
                print(
                    f"contract FAIL  {t}: {c} (observed={o})",
                    file=sys.stderr,
                )
        print(
            f"contracts: {len(contract_rows) - n_fail}/"
            f"{len(contract_rows)} passed (recorded in manifest)",
            file=sys.stderr,
        )
    if args.format == "parquet":
        if not args.output:
            print("error: --format parquet requires -o <dir>", file=sys.stderr)
            return 2
        stats = engine.export_parquet(
            args.output,
            resume=args.resume,
            sort_keys=args.sort_keys,
            max_records_per_file=args.max_records_per_file,
        )
    elif args.format == "jsonl":
        if not args.output:
            print("error: --format jsonl requires -o <dir>", file=sys.stderr)
            return 2
        stats = engine.export_jsonl(
            args.output,
            resume=args.resume,
            max_records_per_file=args.max_records_per_file,
        )
    else:
        dialect = args.dialect or (
            cfg.connection.type
            if cfg.connection.type in ("mysql", "postgres", "sqlite")
            else "mysql"
        )
        stats = engine.export(args.output, db_type=dialect)
    if release_ledger is not None or contract_rows is not None:
        if release_ledger is not None:
            manifest = release_ledger.manifest()
        else:
            # contracts without releases: a zero-epsilon ledger shell
            # keeps the manifest shape uniform for downstream readers
            from .operators.privacy_ledger import DPLedger

            manifest = DPLedger().manifest()
        # ONE manifest covering every half of the run: what microdata
        # shipped (masked export stats), what aggregate statistics were
        # released against which epsilon, and which quality contracts
        # the shipped data passed
        manifest["export"] = {
            "output": args.output,
            "format": args.format,
            "tables_exported": stats.tables_exported,
            "tables_truncated": stats.tables_truncated,
            "rows_exported": stats.rows_exported,
            "per_table_rows": stats.per_table_rows,
        }
        if contract_rows is not None:
            manifest["contracts"] = _contracts_json(contract_rows)
            manifest["contracts_passed"] = all(
                ok for _t, _c, ok, _o in contract_rows
            )
        _write_manifest(manifest, args.manifest)
        if release_specs is not None:
            _print_releases(engine, release_specs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
