"""The two session primitives every cache and conf override goes through
(``session.release_registry`` and ``session.scoped_conf``), plus an AST
guard that keeps hand-rolled copies of either, and any UTC pin but
``session.configure_for_determinism``, out of the package."""

import ast
import fnmatch
import gc
from pathlib import Path

import pytest

from database_anonymiser_minimiser_spark.session import (
    child_session,
    release_registry,
    scoped_conf,
)

PKG = Path(__file__).resolve().parent.parent / "database_anonymiser_minimiser_spark"


# ---------------------------------------------------------------------------
# scoped_conf
# ---------------------------------------------------------------------------


def test_scoped_conf_restores_and_unsets_when_body_raises(spark):
    set_key = "spark.sql.codegen.maxFields"
    absent_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_set = spark.conf.get(set_key, None)
    prev_absent = spark.conf.get(absent_key, None)
    spark.conf.set(set_key, "123")
    spark.conf.unset(absent_key)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, {set_key: "77", absent_key: "1234"}):
                assert spark.conf.get(set_key) == "77"
                assert spark.conf.get(absent_key) == "1234"
                raise RuntimeError("boom")
        assert spark.conf.get(set_key) == "123"  # previous value back
        assert spark.conf.get(absent_key, None) is None  # unset again
    finally:
        for k, v in ((set_key, prev_set), (absent_key, prev_absent)):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# release_registry
# ---------------------------------------------------------------------------


def test_release_registry_holds_one_call_per_key(spark):
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    base = cm.cachedData().size()
    a1 = release_registry("test.a")(spark.range(10).selectExpr("id * 2 AS x"))
    b1 = release_registry("test.b")(spark.range(10).selectExpr("id * 3 AS x"))
    assert a1.is_cached and b1.is_cached
    assert cm.cachedData().size() - base == 2
    # the next call under "test.a" releases only its own previous cache
    keep = release_registry("test.a")
    assert not a1.is_cached and b1.is_cached
    a2 = keep(spark.range(10).selectExpr("id * 5 AS x"))
    a3 = keep(spark.range(10).selectExpr("id * 7 AS x"))
    assert cm.cachedData().size() - base == 3  # b1 + one call's two under "test.a"
    # a released result still computes (it just recomputes)
    assert sorted(r.x for r in a1.collect()) == [2 * i for i in range(10)]
    release_registry("test.a")
    release_registry("test.b")
    assert not (a2.is_cached or a3.is_cached or b1.is_cached)
    assert cm.cachedData().size() == base


def test_release_registry_swallows_unpersist_failures(spark):
    class Dead:
        def persist(self, level):
            return self

        def unpersist(self):
            raise RuntimeError("session stopped")

    release_registry("test.dead")(Dead())
    release_registry("test.dead")  # must not raise


def test_screen_and_incremental_keep_separate_caches(spark):
    """A result held from minhash_lsh_incremental stays cached across a
    later persisted-index screen call (they used to share one list)."""
    from database_anonymiser_minimiser_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    held = D.minhash_lsh_incremental(
        docs.filter("doc_id < 3"), docs.filter("doc_id >= 3")
    )
    assert held.is_cached
    mode = D._resolve_mode(None)
    sh = D.shingles(docs)
    landed = sh.filter("id >= 3")
    D._screen_new_vs_landed(
        sh.filter("id < 3"),
        D.banded_signature(D.minhash_signature(landed, mode=mode), mode=mode),
        landed,
        0.5,
        mode,
    ).collect()
    assert held.is_cached
    release_registry("dedup.minhash_lsh_incremental")
    release_registry("dedup.screen_new_vs_landed")


def test_child_session_copies_conf_and_isolates_overrides(spark):
    key = "spark.sql.shuffle.partitions"
    with scoped_conf(spark, {key: "11", "spark.sql.session.timeZone": "UTC"}):
        child = child_session(spark, {key: "3"})
        assert child.conf.get(key) == "3"
        assert spark.conf.get(key) == "11"
        assert child.conf.get("spark.sql.session.timeZone") == "UTC"


def test_fan_out_memo_is_per_session_and_weak(spark):
    from database_anonymiser_minimiser_spark import queries as Q

    child = child_session(spark, {})
    Q._fan_out(spark.range(4))
    Q._fan_out(child.range(4))
    assert spark in Q._FAN_OUT_MEMO and child in Q._FAN_OUT_MEMO
    n = len(Q._FAN_OUT_MEMO)
    del child
    gc.collect()
    assert len(Q._FAN_OUT_MEMO) == n - 1


# ---------------------------------------------------------------------------
# AST guard: no hand-rolled persist registries or conf save/restore pairs,
# and the session time zone is set in session.py only
# ---------------------------------------------------------------------------

_REGISTRY_NAMES = (
    "_*_PERSISTS",
    "_registry_persist",
    "_cap_persist",
    "_bitext_persist",
    "_release_*_persists",
)

_TZ_KEY = "spark.sql.session.timeZone"


def _conf_call(node: ast.AST, method: str) -> ast.expr | None:
    """First argument of a ``<x>.conf.<method>(key, ...)`` call, else None."""
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == method
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
        and node.args
    ):
        return node.args[0]
    return None


def _violations(source: str, filename: str) -> list[str]:
    tree = ast.parse(source, filename)
    out = []
    for node in tree.body:
        names = []
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
        for name in names:
            if any(fnmatch.fnmatchcase(name, p) for p in _REGISTRY_NAMES):
                out.append(f"{filename}:{node.lineno} module-level {name}")
    if Path(filename).name == "session.py":
        return out
    for n in ast.walk(tree):
        k = _conf_call(n, "set")
        if isinstance(k, ast.Constant) and k.value == _TZ_KEY:
            out.append(
                f"{filename}:{n.lineno} sets {_TZ_KEY}; use "
                "session.configure_for_determinism"
            )
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        saved = {
            ast.dump(k)
            for n in ast.walk(fn)
            if (k := _conf_call(n, "get")) is not None
        }
        for n in ast.walk(fn):
            k = _conf_call(n, "set")
            if k is not None and ast.dump(k) in saved:
                out.append(
                    f"{filename}:{n.lineno} {fn.name} sets a conf key whose "
                    "value it saved with conf.get; use session.scoped_conf"
                )
    return out


def test_guard_flags_the_patterns_it_forbids():
    bad = '''
_SCREEN_PERSISTS = []
_QUERY_PERSISTS: dict = {}
def _cap_persist(key, df): ...
def run(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.shuffle.partitions", old)
class C:
    def __enter__(self):
        self.prev = self.spark.conf.get(self._KEY, None)
        self.spark.conf.set(self._KEY, "1")
def load(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
'''
    found = _violations(bad, "mod.py")
    # 3 names + 2 sets in run + 1 in C + the time-zone pin in load
    assert len(found) == 7, found
    ok = '''
_UTC = set()
def load(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    return spark.conf.get("spark.sql.warehouse.dir")
'''
    assert _violations(ok, "mod.py") == []
    pin = "def load(spark):" + bad.split("def load(spark):")[-1]
    assert _violations(pin, "session.py") == []


def test_package_has_no_persist_registries_or_conf_dances():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        found += _violations(path.read_text(), str(path.relative_to(PKG.parent)))
    assert found == []
