"""The driver JVM's class-data-sharing archive (session.py): a cold
get_spark builds it, a warm one really maps Spark's classes from it,
and a damaged or wrong-heap archive still yields a working session. The
cache stays bounded, and only the local-master launch with no user
config in its conf dir uses it."""

import glob
import os
import subprocess
import sys

import pytest

from streaming_cdc_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from streaming_cdc_spark.session import get_spark
spark = get_spark("cds-test", extra_conf={conf!r})
print("ROWS", spark.range(0, 1000, numPartitions=4).selectExpr("id % 7 AS k").distinct().count())
"""


def _start(cache, heap, conf=None):
    """A fresh process runs one query in a get_spark session; returns
    its stdout."""
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "SPARK_GRAFT_NO_MASTER")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM=heap, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=REPO, conf=conf or {})],
        cwd=str(cache),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def _archives(cache):
    return glob.glob(str(cache / "streaming_cdc_spark" / "cds" / "*" / "driver-*.jsa"))


def test_archive_is_built_then_mapped_and_bad_archives_only_disable_it(tmp_path):
    cache = tmp_path / "cache"
    cache.mkdir()
    # cold: the session's JVM dumps the archive while exiting; nothing of
    # the dump reaches stdout
    assert _start(cache, "1g") == "ROWS 7\n"
    (archive,) = _archives(cache)
    assert os.path.basename(os.path.dirname(archive)).startswith("coops-")

    # warm: Spark's classes come from the archive (a refused archive
    # would log "source: jar:..." here without any error)
    log = tmp_path / "class_load.log"
    conf = {"spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}"}
    assert _start(cache, "1g", conf) == "ROWS 7\n"
    loads = log.read_text()
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads

    # the same archive under a >= 32g heap (compressed oops off): the
    # JVM refuses it, the session still runs
    wrong = os.path.join(os.path.dirname(os.path.dirname(archive)), "no" + os.path.basename(os.path.dirname(archive)))
    os.makedirs(wrong)
    os.link(archive, os.path.join(wrong, os.path.basename(archive)))
    assert _start(cache, "48g", conf) == "ROWS 7\n"
    assert "org.apache.spark.SparkContext source: shared objects file (top)" not in log.read_text()

    # a short archive (JDK 17 would map it and die of SIGBUS) is never
    # passed to the JVM: it is removed and the session starts without it
    os.truncate(archive, os.path.getsize(archive) // 2)
    assert _start(cache, "1g") == "ROWS 7\n"
    assert not os.path.exists(archive)


def _touch(path, data=b"", mtime=None):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return path


def test_cache_keeps_recent_archives_and_honours_failure_marker(tmp_path, monkeypatch):
    root = tmp_path / "streaming_cdc_spark" / "cds"
    for i in range(5):
        _touch(root / f"k{i}" / "driver-3.jsa", b"jsa", mtime=1_000_000 + i)
    older = _touch(root / "k4" / "driver-2.jsa", b"js", mtime=900_000)
    dead = subprocess.Popen(["true"])
    dead.wait()
    dead_tmp = _touch(root / "k0" / f"driver.{dead.pid}.tmp")
    live_tmp = _touch(root / "k1" / f"driver.{os.getpid()}.tmp")
    marker = _touch(root / "kf" / "failed", b"driver JVM exited 1\n")

    session._sweep_cds(str(root))  # keeps _CDS_KEEP = 3 keys
    assert sorted(p.relative_to(root).as_posix() for p in root.rglob("*") if p.is_file()) == [
        f"k1/driver.{os.getpid()}.tmp",
        "k2/driver-3.jsa",
        "k3/driver-3.jsa",
        "k4/driver-3.jsa",
        "kf/failed",
    ]
    assert not (root / "k0").exists() and not older.exists() and not dead_tmp.exists()
    assert live_tmp.exists() and marker.exists()

    # the launch plan: a failed key and a damaged archive launch without
    # CDS; a whole archive is mapped; a missing one is dumped at exit
    from pyspark import SparkContext

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "empty_conf"))
    monkeypatch.setattr(SparkContext, "_gateway", None)

    def plan(key):
        monkeypatch.setattr(session, "_cds_key", lambda *a: key)
        return session._driver_cds("1g")

    assert plan("kf") is None
    damaged = _touch(root / "k5" / "driver-99.jsa", b"short")
    assert plan("k5") is None and not damaged.exists()
    hit = plan("k3")
    assert f"-XX:SharedArchiveFile={root / 'k3' / 'driver-3.jsa'} " in hit.java_opts
    assert hit.dump_to is None and os.listdir(hit.conf_dir) == []
    miss = plan("k6")
    assert miss.dump_to == str(root / "k6" / f"driver.{os.getpid()}.tmp")
    assert miss.java_opts.startswith(f"-XX:ArchiveClassesAtExit={miss.dump_to} ")


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """Run get_spark up to the JVM launch in this process: record the
    builder's options and SPARK_CONF_DIR as getOrCreate sees them, and
    launch nothing. The cache has a whole archive under key "k"."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    seen = {}

    class _Spark:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

    def get_or_create(builder):
        seen.update(options=dict(builder._options), conf_dir=os.environ.get("SPARK_CONF_DIR"))
        return _Spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session, "_cds_key", lambda *a: "k")
    _touch(tmp_path / "streaming_cdc_spark" / "cds" / "k" / "driver-3.jsa", b"jsa")

    def run(conf_dir):
        seen.clear()
        if conf_dir is None:
            monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
        else:
            monkeypatch.setenv("SPARK_CONF_DIR", conf_dir)
        session.get_spark("launch-test")
        assert os.environ.get("SPARK_CONF_DIR") == conf_dir  # restored
        return seen["options"].get("spark.driver.defaultJavaOptions"), seen["conf_dir"]

    return run


def test_archive_only_for_local_master_without_user_config(launch, tmp_path, monkeypatch):
    templates = _touch(tmp_path / "templates" / "spark-defaults.conf.template").parent
    opts, conf_dir = launch(str(templates))
    assert opts.startswith("-XX:SharedArchiveFile=")
    assert conf_dir == os.path.join(str(tmp_path), "streaming_cdc_spark", "cds", "conf")

    # the plain-session driver path (__spark_entry__.py's) is untouched
    monkeypatch.setenv("SPARK_GRAFT_NO_MASTER", "1")
    assert launch(None) == (None, None)
    assert launch(str(templates)) == (None, str(templates))
    monkeypatch.delenv("SPARK_GRAFT_NO_MASTER")

    # a real config file in the conf dir: no archive, the dir is kept
    user = _touch(tmp_path / "user" / "spark-defaults.conf", b"spark.driver.cores 1\n").parent
    assert launch(str(user)) == (None, str(user))
