"""The engine's local filesystem (``jvm/src/dateng/localfs``).

Without native libhadoop, Hadoop's local filesystem forks ``chmod`` for
every file, ``.crc`` and directory it creates. In local mode
``session.get_spark`` binds ``file://`` to a subclass that sets the same
mode bits through java.nio. These tests pin:

- a session from ``get_spark`` writes the seeded star schema and runs
  the streaming replay with a ``chmod`` on ``PATH`` that always fails;
- with the jar missing, ``get_spark`` sets none of the three confs and
  Hadoop's stock classes still write;
- the stock and the engine's filesystem write the same lake: paths
  (UUIDs normalised), modes and sizes, ``.crc`` files included;
- ``setPermission`` sets the bits Hadoop's own does, and a sticky mode
  goes to Hadoop's; ``rename`` onto a file does what the stock class does;
- only a local master gets the confs, and only when the class will load;
- the committed jar was built from the committed sources.
"""

from __future__ import annotations

import functools
import json
import os
import re
import stat
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from dateng_data_lakes_apache_spark_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 23
STREAM_ROWS = 3385  # q_stream_tumbling on perfbench/catalog (perfbench/expected.json)
LOCALFS_KEYS = ("spark.driver.extraClassPath", *session.LOCALFS_CONF)

#: Runs in a fresh process: ``get_spark`` on local[2], the seeded star
#: pipeline into ``out``, optionally the streaming replay. Prints one
#: JSON line. argv: raw dir, out dir, seed, "stream"|"", "missing-jar"|"".
_SESSION = r"""
import json, os, sys
raw, out, seed, stream, missing = sys.argv[1:6]
from dateng_data_lakes_apache_spark_spark import session
from dateng_data_lakes_apache_spark_spark.pipelines import star_schema
from perfbench import gen
if missing:
    session.LOCALFS_JAR = os.path.join(raw, "no-such.jar")
spark = session.get_spark(app_name="localfs-test", master="local[2]", shuffle_partitions=4)
jvm = spark.sparkContext._jvm
conf = spark.sparkContext.getConf()
hconf = spark.sparkContext._jsc.hadoopConfiguration()
planted = gen.write_sparkify(raw, int(seed))
star_schema.run_pipeline(
    spark,
    os.path.join(raw, "song_data/*/*/*/*.json"),
    os.path.join(raw, "log_data/*/*/*.json"),
    out,
)
tables = ("songs", "artists", "users", "time", "songplays")
res = {
    "confs": {k: conf.get(k) for k in sys.argv[6:]},
    "fs": jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName(),
    "counts": {t: spark.read.parquet(os.path.join(out, t)).count() for t in tables},
    "planted": {
        "songs": planted.songs, "artists": planted.artists, "users": planted.users,
        "time": planted.nextsong, "songplays": planted.songplays,
    },
}
if stream:
    from dateng_data_lakes_apache_spark_spark.registry import get_queries
    res["stream_rows"] = get_queries()["q_stream_tumbling"](spark, "perfbench/catalog").count()
print(json.dumps(res))
"""


def _run_session(tmp, *, stream: bool, missing_jar: bool, path: str | None = None) -> dict:
    raw, out = os.path.join(tmp, "raw"), os.path.join(tmp, "lake")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    if path is not None:
        env["PATH"] = path
    argv = [raw, out, str(SEED), "stream" if stream else "", "missing-jar" if missing_jar else ""]
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION, *argv, *LOCALFS_KEYS],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["out"] = out
    return res


@pytest.fixture(scope="module")
def failing_chmod_run(tmp_path_factory):
    """Star pipeline and streaming replay under ``get_spark``, with a
    ``chmod`` first on ``PATH`` that exits 1."""
    tmp = tmp_path_factory.mktemp("nio")
    bin_dir = tmp / "bin"
    bin_dir.mkdir()
    chmod = bin_dir / "chmod"
    chmod.write_text("#!/bin/sh\necho 'chmod forked' >&2\nexit 1\n")
    chmod.chmod(0o755)
    return _run_session(str(tmp), stream=True, missing_jar=False, path=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")


@pytest.fixture(scope="module")
def stock_run(tmp_path_factory):
    """The same pipeline with the jar missing: Hadoop's stock classes."""
    return _run_session(str(tmp_path_factory.mktemp("stock")), stream=False, missing_jar=True)


def test_get_spark_writes_without_forking_chmod(failing_chmod_run):
    res = failing_chmod_run
    assert res["fs"] == "dateng.localfs.NioLocalFileSystem"
    assert res["counts"] == res["planted"]
    assert res["stream_rows"] == STREAM_ROWS


def test_missing_jar_sets_no_conf_and_stock_fs_writes(stock_run):
    assert stock_run["confs"] == {k: None for k in LOCALFS_KEYS}
    assert stock_run["fs"].startswith("org.apache.hadoop.")
    assert stock_run["counts"] == stock_run["planted"]


_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _listing(root: str) -> list[tuple[str, str, int]]:
    """(relative path with UUIDs normalised, octal mode, size) of every
    file and directory under ``root``, sorted."""
    rows = []
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            st = os.lstat(p)
            size = 0 if stat.S_ISDIR(st.st_mode) else st.st_size
            rows.append((_UUID.sub("UUID", os.path.relpath(p, root)), oct(stat.S_IMODE(st.st_mode)), size))
    return sorted(rows)


def test_stock_and_engine_fs_write_the_same_lake(failing_chmod_run, stock_run):
    nio, stock = _listing(failing_chmod_run["out"]), _listing(stock_run["out"])
    assert any(p.endswith(".crc") for p, _, _ in nio)
    assert nio == stock


def _raw_fs(spark, cls: str):
    jvm = spark.sparkContext._jvm
    fs = functools.reduce(getattr, cls.split("."), jvm)()
    fs.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    return fs


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o700])
def test_set_permission_matches_hadoop(spark, tmp_path, mode):
    jvm = spark.sparkContext._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    got = {}
    for cls in ("org.apache.hadoop.fs.RawLocalFileSystem", "dateng.localfs.NioRawLocalFileSystem"):
        fs = _raw_fs(spark, cls)
        for kind in ("file", "dir"):
            p = tmp_path / f"{cls}-{kind}"
            p.mkdir(mode=0o777) if kind == "dir" else p.write_text("x")
            os.chmod(p, 0o600)
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            got[cls, kind] = stat.S_IMODE(os.stat(p).st_mode)
    for kind in ("file", "dir"):
        assert got["dateng.localfs.NioRawLocalFileSystem", kind] == got["org.apache.hadoop.fs.RawLocalFileSystem", kind] == mode


def test_sticky_mode_goes_to_hadoop(spark, tmp_path):
    """java.nio cannot set the sticky bit; Hadoop's chmod can."""
    jvm = spark.sparkContext._jvm
    fs = _raw_fs(spark, "dateng.localfs.NioRawLocalFileSystem")
    d = tmp_path / "sticky"
    d.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777))
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777


def test_rename_onto_existing_file_matches_stock_fs(spark, tmp_path):
    """The stock binding is the one Hadoop's service loader picks for
    ``file`` (on Spark's classpath, hive-exec's ProxyLocalFileSystem)."""
    jvm = spark.sparkContext._jvm
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, jvm.org.apache.hadoop.conf.Configuration())
    assert stock.getClass().getName() != "dateng.localfs.NioLocalFileSystem"
    got = {}
    for fs in (stock, _raw_fs(spark, "dateng.localfs.NioLocalFileSystem")):
        name = fs.getClass().getName()
        src, dst, fresh = (tmp_path / f"{name}-{n}" for n in ("src", "dst", "fresh"))
        src.write_text("src")
        dst.write_text("dst")
        onto_file = fs.rename(jvm.org.apache.hadoop.fs.Path(str(src)), jvm.org.apache.hadoop.fs.Path(str(dst)))
        kept = (src.exists(), dst.read_text())
        to_new = fs.rename(jvm.org.apache.hadoop.fs.Path(str(src)), jvm.org.apache.hadoop.fs.Path(str(fresh)))
        got[name] = (onto_file, kept, to_new, fresh.exists())
    assert len(set(got.values())) == 1, got


def test_session_binds_both_filesystem_apis(spark):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName() == "dateng.localfs.NioLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hconf)
    assert fc.getDefaultFileSystem().getClass().getName() == "dateng.localfs.NioLocalFs"


def _builder_conf(monkeypatch, **kw) -> dict:
    """The conf ``get_spark`` hands the builder, without building."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    return session.get_spark(**kw)


@pytest.mark.parametrize("master", ["spark://nowhere:7077", "yarn", "local-cluster[2,1,1024]"])
def test_non_local_master_gets_no_localfs_conf(spark, monkeypatch, master):
    conf = _builder_conf(monkeypatch, master=master)
    assert not set(LOCALFS_KEYS) & set(conf)


def test_local_master_gets_localfs_conf_after_caller_classpath(spark, monkeypatch):
    conf = _builder_conf(monkeypatch, master="local[2]", extra_conf={"spark.driver.extraClassPath": "/x.jar"})
    assert conf["spark.driver.extraClassPath"] == f"/x.jar{os.pathsep}{session.LOCALFS_JAR}"
    for k, v in session.LOCALFS_CONF.items():
        assert conf[k] == v


def test_jvm_started_elsewhere_keeps_stock_fs(spark, monkeypatch):
    """No JVM yet, but a spark-submit'd process will join one whose
    classpath is not ours: no conf."""
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = _builder_conf(monkeypatch, master="local[2]")
    assert not set(LOCALFS_KEYS) & set(conf)


def test_committed_jar_matches_sources():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import build_localfs_jar as b

    assert os.path.samefile(b.JAR, session.LOCALFS_JAR)
    assert len(b.sources()) == 3
    assert b.recorded_digest() == b.sources_digest(), "stale jar: run python tools/build_localfs_jar.py"
