"""The JVM class-data archive ``session.get_spark`` maps (JDK dynamic
AppCDS). Every case that starts a JVM runs in a subprocess whose cache
directory (``XDG_CACHE_HOME``) is a temporary one; only the module fixture
starts a JVM that records an archive."""

import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.find_spark_home import _find_spark_home

from database_anonymiser_minimiser_spark import config as C
from database_anonymiser_minimiser_spark import session as S
from database_anonymiser_minimiser_spark.plans.plan import Engine

REPO = str(Path(__file__).resolve().parent.parent)
UNABLE = "Unable to use shared archive"

if not all(
    n.endswith(".template")
    for n in os.listdir(os.path.join(_find_spark_home(), "conf"))
):
    pytest.skip(
        "the archive needs a Spark conf directory of *.template files only",
        allow_module_level=True,
    )

CHILD = r"""
import json, sys
from database_anonymiser_minimiser_spark.session import get_spark
from database_anonymiser_minimiser_spark.sources.parquet import read_parquet_table

spark = get_spark(master="local[2]")
jvm = spark._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
rows = read_parquet_table(spark, sys.argv[1] + "/nation.parquet").orderBy("n_nationkey")
print("RESULT " + json.dumps({
    "args": args,
    "pid": jvm.java.lang.ProcessHandle.current().pid(),
    "rows": [list(r) for r in rows.collect()],
}))
"""

PLAN = r"""
import json
from database_anonymiser_minimiser_spark.session import _jvm_launch

conf, env, recording = _jvm_launch()
print("RESULT " + json.dumps({"conf": conf, "env": env, "recording": recording is not None}))
"""


def _env(cache: Path, **extra: str) -> dict:
    env = {
        **os.environ,
        "PYTHONPATH": REPO,
        "XDG_CACHE_HOME": str(cache),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        **extra,
    }
    if "SPARK_SUBMIT_OPTS" not in extra:  # conftest's -Xshare:auto
        env["SPARK_SUBMIT_OPTS"] = env.get("SPARK_SUBMIT_OPTS", "").replace(
            "-Xshare:auto", "", 1
        )
    if "SPARK_CONF_DIR" not in extra:
        env.pop("SPARK_CONF_DIR", None)
    return env


def _run(script: str, env: dict, *args: str) -> tuple[dict, str]:
    r = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("RESULT "))
    return json.loads(line[len("RESULT "):]), r.stderr


def _archive_for(cache: Path) -> Path:
    """The archive path get_spark uses under ``cache`` in this environment;
    makes the cache directory, as a first run there would."""
    cds = cache / "spark-graft" / "cds"
    (cds / "conf").mkdir(parents=True, exist_ok=True)
    return cds / f"{S._archive_key(_find_spark_home(), cds / 'conf')}.jsa"


def _archive_flags(args: list[str]) -> list[str]:
    return [a for a in args if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]


@pytest.fixture(scope="module")
def written(sf_dir, tmp_path_factory):
    """One run that finds the cache directory but no archive, so records
    one."""
    cache = tmp_path_factory.mktemp("cache")
    _archive_for(cache)
    res, err = _run(CHILD, _env(cache), sf_dir)
    return cache, res, err


def test_recording_run_leaves_the_archive_and_no_jvm(written):
    cache, res, err = written
    archive = _archive_for(cache)
    cds = archive.parent
    assert [a.split("=", 1)[0] for a in _archive_flags(res["args"])] == [
        "-XX:ArchiveClassesAtExit"
    ]
    assert archive.is_file() and archive.stat().st_size > 0
    assert list(cds.glob("*.tmp")) == []
    assert sorted(p.name for p in cds.glob("*.jsa")) == [archive.name]
    with pytest.raises(ProcessLookupError):
        os.kill(res["pid"], 0)
    assert err.count("spark-graft: recording a JVM class-data archive") == 1
    # the per-class "Skipping ... Signed JAR" warnings are silenced
    assert "Signed JAR" not in err


def test_second_run_maps_the_archive(written, sf_dir):
    cache, first, _ = written
    archive = _archive_for(cache)
    res, err = _run(CHILD, _env(cache), sf_dir)
    assert _archive_flags(res["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert UNABLE not in err
    assert res["rows"] == first["rows"]


def test_corrupt_archive_is_ignored(written, sf_dir, tmp_path):
    _, first, _ = written
    archive = _archive_for(tmp_path)
    archive.write_bytes(b"not a class-data archive\n" * 4096)
    res, _ = _run(CHILD, _env(tmp_path), sf_dir)
    assert _archive_flags(res["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert res["rows"] == first["rows"]


def test_mismatched_archive_warns_once_on_stderr(written, sf_dir, tmp_path):
    # recorded under another cache directory, so another conf dir heads
    # the classpath it was recorded with
    cache, first, _ = written
    archive = _archive_for(tmp_path)
    shutil.copyfile(_archive_for(cache), archive)
    res, err = _run(CHILD, _env(tmp_path), sf_dir)
    assert _archive_flags(res["args"]) == [f"-XX:SharedArchiveFile={archive}"]
    assert res["rows"] == first["rows"]
    assert err.count(UNABLE) == 1, err[-3000:]


NO_ARCHIVE = {S._DEFAULT_OPTS: shlex.join(S._JVM_LOG)}


def test_first_run_only_makes_the_cache_directory(tmp_path):
    res, _ = _run(PLAN, _env(tmp_path))
    assert res == {"conf": NO_ARCHIVE, "env": {}, "recording": False}
    cds = tmp_path / "spark-graft" / "cds"
    assert os.listdir(cds) == ["conf"]
    res, _ = _run(PLAN, _env(tmp_path))
    assert res["recording"] and res["env"] == {"SPARK_CONF_DIR": str(cds / "conf")}


@pytest.mark.parametrize(
    "case",
    ["share_auto", "user_conf_dir", "real_conf_file", "options_choose_cds", "cache_unwritable"],
)
def test_no_archive_flag(case, tmp_path):
    conf = tmp_path / "spark" / "conf"
    conf.mkdir(parents=True)
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    cache = tmp_path / "cache"
    cds = cache / "spark-graft" / "cds"
    if case == "cache_unwritable":
        cache.write_text("")  # a file where the cache directory should be
    else:
        (cds / "conf").mkdir(parents=True)  # a run before made it
    extra = {
        "share_auto": {"SPARK_SUBMIT_OPTS": "-Xshare:auto"},
        "user_conf_dir": {"SPARK_CONF_DIR": str(tmp_path)},
        "real_conf_file": {"SPARK_HOME": str(tmp_path / "spark")},
        "options_choose_cds": {
            "PYSPARK_SUBMIT_ARGS": "--driver-java-options -Xshare:off pyspark-shell"
        },
        "cache_unwritable": {},
    }[case]
    res, _ = _run(PLAN, _env(cache, **extra))
    assert res == {"conf": NO_ARCHIVE, "env": {}, "recording": False}
    if case != "cache_unwritable":
        assert os.listdir(cds) == ["conf"]


@pytest.mark.parametrize("where", ["spark_defaults", "submit_args"])
def test_user_default_java_options_are_kept(where, sf_dir, tmp_path):
    """Our options are prepended to a ``spark.driver.defaultJavaOptions``
    the user set, not put in its place."""
    cache = tmp_path / "cache"
    cds = cache / "spark-graft" / "cds"
    (cds / "conf").mkdir(parents=True)
    user = "spark.driver.defaultJavaOptions"
    if where == "spark_defaults":
        (tmp_path / "spark-defaults.conf").write_text(f"{user}   -Dgraft.x=y\n")
        extra = {"SPARK_CONF_DIR": str(tmp_path)}
    else:
        extra = {"PYSPARK_SUBMIT_ARGS": f"--conf {user}=-Dgraft.x=y pyspark-shell"}
    res, _ = _run(CHILD, _env(cache, **extra), sf_dir)
    assert "-Dgraft.x=y" in res["args"]
    assert "-Xlog:all=warning:stderr" in res["args"]
    # a user who sets the options owns CDS: no archive, nothing recorded
    assert _archive_flags(res["args"]) == []
    assert os.listdir(cds) == ["conf"]


def test_key_names_the_spark_home(tmp_path):
    """Two unpacked copies of one tarball (same jar names, sizes and
    mtimes) at different paths get different keys."""
    homes = [tmp_path / "a", tmp_path / "b"]
    for home in homes:
        (home / "jars").mkdir(parents=True)
        jar = home / "jars" / "x.jar"
        jar.write_bytes(b"jar")
        os.utime(jar, ns=(10**18, 10**18))
    conf = tmp_path / "conf"
    keys = [S._archive_key(str(h), conf) for h in homes]
    assert keys[0] != keys[1]
    assert S._archive_key(str(homes[0]), conf) == keys[0]


def test_key_names_the_driver_class_path(tmp_path, monkeypatch):
    """An extra driver class path changes the key wherever it is set:
    ``--driver-class-path``, ``--conf`` or a ``--properties-file``."""
    props = tmp_path / "spark.properties"
    home, conf = _find_spark_home(), tmp_path / "conf"
    keys = set()
    for submit, text in [
        ("pyspark-shell", ""),
        ("--driver-class-path /a pyspark-shell", ""),
        ("--conf=spark.driver.extraClassPath=/a pyspark-shell", ""),
        (f"--properties-file {props} pyspark-shell", "spark.driver.extraClassPath /a\n"),
        (f"--properties-file {props} pyspark-shell", "spark.driver.extraClassPath=/b\n"),
    ]:
        props.write_text(text)
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit)
        keys.add(S._archive_key(home, conf))
    assert len(keys) == 5


def test_prune_keeps_recent_archives_of_other_keys(tmp_path):
    done = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
    )
    dead = int(done.stdout)  # a pid whose process has exited
    old = time.time() - S._ARCHIVE_KEEP_S - 60
    for name in ("mine.jsa", "other.jsa", "stale.jsa", f"k.{dead}.tmp", f"k.{os.getpid()}.tmp"):
        (tmp_path / name).write_bytes(b"x")
    os.utime(tmp_path / "stale.jsa", (old, old))
    S._prune_archives(tmp_path, "mine")
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["mine.jsa", "other.jsa", f"k.{os.getpid()}.tmp"]
    )


def test_suite_jvm_carries_no_archive_flag(spark):
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert _archive_flags(list(args.getInputArguments())) == []


CLI_CFG = {
    "connection": {"type": "parquet", "path": None},
    "configuration": {
        "part": {"truncate": True},
        "documents": {"truncate": True},
        "embeddings": {"truncate": True},
        "orders": {"retain": 50, "primary_key": "o_orderkey"},
        "customer": {
            "primary_key": "c_custkey",
            "columns": {"c_name": "{{faker.name}}", "c_acctbal": None},
        },
    },
}


def _without_date(sql: str) -> list[str]:
    return [x for x in sql.splitlines() if not x.startswith("-- Date:")]


def test_stdout_export_stays_sql_beside_a_mismatched_archive(
    written, spark, sf_dir, tmp_path
):
    """A JVM warning goes to stderr, never into a dump on stdout."""
    cache, _, _ = written
    raw = {**CLI_CFG, "connection": {"type": "parquet", "path": sf_dir}}
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(json.dumps(raw))
    out = tmp_path / "dump.sql"
    Engine(spark, C.Config.from_dict(raw)).export(str(out), db_type="mysql")
    # the archive was recorded with the cache's conf dir on the classpath;
    # options that choose an archive leave the conf dir as it is
    submit = f"--driver-java-options -XX:SharedArchiveFile={_archive_for(cache)} pyspark-shell"
    r = subprocess.run(
        [sys.executable, "-m", "database_anonymiser_minimiser_spark.cli", "-c", str(cfg)],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=_env(tmp_path / "cache", PYSPARK_SUBMIT_ARGS=submit),
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert re.search(r"\[warning\]\[cds", r.stderr), r.stderr[-3000:]
    assert "[cds" not in r.stdout
    assert _without_date(r.stdout) == _without_date(out.read_text())
