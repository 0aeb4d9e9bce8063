"""Local replica of the driver's correctness gate: run every
``queries()`` entry through Spark AND its ``oracle_sql()`` through DuckDB
on the same parquet tables, then compare row count, column names, and
order-insensitive values (exact — the driver hash-compares)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as E

# The scale-sweep deselect list, CODIFIED (r10). These oracles are
# interpreted-list-bound or pairwise in DuckDB (unnest self-joins,
# list_intersect over full shingle lists, list dot products over every
# vector): correct and cheap at the sf0.001/sf0.01 grading scales, but
# super-linear in the ORACLE (not the engine) on big corpora — the
# r5-r9 sf1/sf2/sf4 sweeps always deselected them on the command line,
# and running them by accident at a zipfian sf1 OOM-killed two sweep
# harnesses this round (126 GB inside DuckDB on dedup_ngram_jaccard's
# Theta(sum df^2) candidate join). Their sf1+ value-exactness is held by
# the independent from-scratch goldens in tests/test_scale_values_sf1.py
# (eleven gates) instead. Set SPARK_GRAFT_SWEEP_FULL=1 to force them on
# a big corpus anyway.
INTERPRETED_LIST_BOUND = {
    "ann_int8_topk", "ann_ivf_topk", "ann_lsh_multiprobe", "ann_lsh_topk",
    "ann_topk_cosine", "ann_topk_cosine_numpy",
    "contamination_ngram_overlap", "contamination_ngram_overlap_oracle",
    # r12: same list_intersect-over-Theta(sum df^2)-candidates oracle
    # shape as dedup_ngram_jaccard (the 126 GB case below) — caught
    # live when the first r12 sf1 sweep ground to 70 GB RSS on it;
    # sf1 value gate: the containment golden in test_scale_values_sf1
    "dedup_containment_pairs",
    # r13: cell-blocked pairwise list dots in the oracle (sum(cell^2)
    # interpreted lambdas); sf1+ value gate = planted mutual pairs in
    # tests/test_similarity.py
    "bitext_mutual_top1",
    # r14: same candidate shape + rank-ordered neighbourhood folds;
    # sf1 value gate = the extended numpy golden in
    # tests/test_scale_values_sf1.py
    "bitext_margin_pairs",
    "dedup_common_spans", "dedup_common_spans_oracle",
    "dedup_levenshtein_pairs", "dedup_minhash_incremental",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_ngram_jaccard_prefix",
    "dedup_simhash_wide_pairs",
    "embedding_neardup", "semantic_dedup_embeddings",
    "text_winnow_fingerprint",
}

_BIG_CORPUS_BYTES = 3_000_000  # documents.parquet: sf0.1 ~0.6 MB, sf1 ~6 MB


def _skip_if_oracle_unscalable(name, sf_dir):
    if name not in INTERPRETED_LIST_BOUND:
        return
    if os.environ.get("SPARK_GRAFT_SWEEP_FULL"):
        return
    try:
        big = os.path.getsize(f"{sf_dir}/documents.parquet") > _BIG_CORPUS_BYTES
    except OSError:
        return
    if big:
        pytest.skip(
            f"{name}: DuckDB oracle is interpreted-list-bound; sf1+ value "
            "gate lives in tests/test_scale_values_sf1.py "
            "(SPARK_GRAFT_SWEEP_FULL=1 overrides)"
        )

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def normalise(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def rows_to_comparable(columns, rows):
    """Sort columns by name, then rows by string repr (order-insensitive)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(normalise(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERIES = E.queries()
ORACLES = E.oracle_sql()


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ]


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    _skip_if_oracle_unscalable(name, sf_dir)
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(ORACLES[name])
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = rows_to_comparable(spark_cols, spark_rows)
    b = rows_to_comparable(duck_cols, duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize(
    "name", [n for n in list(QUERIES)[:50]]
)
def test_priority_window_has_no_decimal_outputs(spark, sf_dir, name):
    """The driver's hasher canonicalises DECIMAL differently across
    engines (round-1 CORRECTNESS: 8 value-identical queries hash-failed,
    all with DECIMAL outputs). Internal math may be decimal-exact, but
    every *final* column in the driver-graded window must surface as
    double/long/string — enforced here at plan-analysis time."""
    from pyspark.sql.types import DecimalType

    df = QUERIES[name](spark, sf_dir)
    decimal_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not decimal_cols, (
        f"{name}: DECIMAL output columns {decimal_cols} would hash-fail "
        "in the driver gate; cast('string').cast('double') them"
    )


@pytest.mark.parametrize(
    "name", [n for n in list(QUERIES)[:50]]
)
def test_priority_window_has_no_complex_outputs(spark, sf_dir, name):
    """The driver's pandas canonicalizer sort_values/hashes every output
    column; array/map/struct cells raise ``TypeError: unhashable type``
    and red the whole row (round-3 CORRECTNESS: multimodal_features).
    The local replica compares repr-sorted tuples and so CANNOT catch
    this — enforce it structurally: no driver-window query may surface a
    complex-typed column. Explode or project to scalars instead."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name](spark, sf_dir)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: complex-typed output columns {complex_cols} are "
        "unhashable in the driver's pandas canonicalizer; surface scalar "
        "columns (or posexplode) instead"
    )


@pytest.mark.parametrize(
    "name",
    [n for n in list(QUERIES)[:50] if n not in ORACLES]
    # registered rows-only entries outside the window still must execute
    + [n for n in QUERIES if n not in ORACLES and n not in list(QUERIES)[:50]],
)
def test_rows_only_window_entries_execute(spark, sf_dir, name):
    """The deliberately rows-only entries (no exact SQL oracle exists)
    must still EXECUTE against the corpus and yield rows — the driver's
    weaker gate checks exactly that for windowed ones, so this keeps it
    green under CI. Derived from the registry so window rotations can't
    silently drop coverage."""
    df = QUERIES[name](spark, sf_dir)
    assert df.count() > 0
    assert df.columns


@pytest.mark.parametrize(
    "default,oracle_shape",
    [
        ("dedup_common_spans", "dedup_common_spans_oracle"),
        ("contamination_ngram_overlap", "contamination_ngram_overlap_oracle"),
    ],
)
def test_key_mode_variants_match(spark, sf_dir, default, oracle_shape):
    """r10 key_mode promotion: the DEFAULT queries run the xxhash64-keyed
    production path and must produce byte-identical rollups to their
    string-keyed *_oracle reference shapes — a 64-bit collision, a
    hashing asymmetry between the two sides of the membership join, or a
    dropped shingle would diverge here before it could reach the driver
    gate."""
    a = sorted(tuple(r) for r in QUERIES[default](spark, sf_dir).collect())
    b = sorted(tuple(r) for r in QUERIES[oracle_shape](spark, sf_dir).collect())
    assert a == b


# r12 verdict item 1(b): the driver hash-compares Arrow BYTES, so a
# value-identical release still reds the window if the oracle's physical
# type diverges (privacy_dp_noisy_sum r12: DuckDB promoted sum(BIGINT)
# to HUGEINT -> Arrow decimal128(38,0) vs Spark's int64; values were
# byte-identical at three scales). The local replica compared VALUES and
# passed while the driver failed on bytes — so the replica must be at
# least as strict: assert per-column PHYSICAL-TYPE EQUALITY between the
# Spark result schema and the DuckDB oracle's bound output types.
# DESCRIBE binds without executing, so this covers ALL oracles — the
# interpreted-list-bound ones included — at any corpus size.
_SPARK_TO_DUCK_TYPE = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "date": "DATE",
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types_canonical(spark, duck, sf_dir, name):
    duck_types = {
        r[0]: r[1]
        for r in duck.sql(f"DESCRIBE ({ORACLES[name]})").fetchall()
    }
    sdf = QUERIES[name](spark, sf_dir)
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    assert sorted(duck_types) == sorted(spark_types), (
        f"{name}: column sets differ {sorted(spark_types)} vs "
        f"{sorted(duck_types)}"
    )
    bad = []
    for col, styp in spark_types.items():
        want = _SPARK_TO_DUCK_TYPE.get(styp)
        if want is None:
            bad.append(f"{col}: Spark type {styp} is not driver-canonical")
        elif duck_types[col] != want:
            bad.append(
                f"{col}: Spark {styp} (expects DuckDB {want}) but oracle "
                f"binds {duck_types[col]} — Arrow bytes would diverge"
            )
    assert not bad, f"{name}: {bad} (cast the oracle expression explicitly)"
