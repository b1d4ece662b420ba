"""The java.nio permission shim for ``file:`` paths (``job_datapipeline_spark/jvm``).

Without libhadoop, stock ``RawLocalFileSystem.setPermission`` forks a
``chmod`` process per local file and directory, and ``getFileLinkStatus``
(asked on every ``FileContext`` rename) forks a ``readlink``. The shim must
fork neither for plain rwx modes and non-link paths, and leave every mode,
checksum file, link status and conf choice as the stock classes would.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

from job_datapipeline_spark.session import local_fs_confs, local_fs_jar

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}

needs_jar = pytest.mark.skipif(local_fs_jar() is None, reason="no javac: the shim is not built")

# A dynamic-partition write and a stateful (watermarked aggregation)
# AvailableNow stream: parquet part files, commit-protocol dirs, streaming
# offsets/commits/sink logs and state-store deltas, all under ``out``.
_CHILD = textwrap.dedent(
    """
    import json, sys
    from pyspark.sql import functions as F
    from job_datapipeline_spark.session import get_spark
    from job_datapipeline_spark.sources.sinks import write_partitioned_parquet
    from job_datapipeline_spark.streaming import pipelines as P

    out, extra = sys.argv[1], json.loads(sys.argv[2])
    spark = get_spark("local-fs-forks", master="local[2]", shuffle_partitions=2, extra_conf=extra)
    df = spark.range(60).select("id", (F.col("id") % 5).alias("p"))
    write_partitioned_parquet(df, out + "/table", ("p",), mode="overwrite_partitions")
    ev = spark.range(40).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 600).cast("timestamp").alias("ts"),
        (F.col("id") % 3).alias("user_id"),
        F.lit("view").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    ev.write.parquet(out + "/src")
    stream = P.hourly_rollup_stream(P.read_events_stream(spark, out + "/src"))
    P.available_now_to_parquet(stream, out + "/rollup", out + "/ckpt")
    assert spark.read.parquet(out + "/rollup").count() > 0
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext._jsc.hadoopConfiguration())
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(sys.argv[3]), jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    """
)


# Every command Hadoop's ``Shell`` can fork on the local path: modes,
# link targets, permission listings (``ls -ld``), ``Stat`` and disk usage.
_FORKABLE = ("chmod", "readlink", "ls", "stat", "df", "du")


def _forks(tmp_path, extra_conf: dict[str, str]) -> tuple[list[str], list[str]]:
    """``<command> <args>`` lines for the ``_FORKABLE`` commands a fresh
    driver process runs on paths under ``out``, and on the ``sticky`` dir it
    sets to mode 1777."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "forks.log"
    for cmd in _FORKABLE:
        shim = bin_dir / cmd
        shim.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {shutil.which(cmd)} "$@"\n')
        shim.chmod(0o755)
    out, sticky = tmp_path / "out", tmp_path / "sticky"
    sticky.mkdir()
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=REPO,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(out), json.dumps(extra_conf), str(sticky)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert sticky.stat().st_mode & 0o7777 == 0o1777
    lines = log.read_text().splitlines() if log.exists() else []
    return [ln for ln in lines if str(out) in ln], [ln for ln in lines if str(sticky) in ln]


@needs_jar
def test_local_writes_fork_no_chmod(tmp_path):
    under_out, on_sticky = _forks(tmp_path, {})
    assert under_out == []
    # a mode beyond rwx still takes the stock (forking) path
    assert len(on_sticky) == 1 and on_sticky[0].startswith("chmod ") and "1777" in on_sticky[0]


@needs_jar
def test_stock_local_writes_fork_chmod(tmp_path):
    # control: the same driver with the stock classes forks a chmod per
    # file/dir and a readlink per FileContext rename
    under_out, _ = _forks(tmp_path, STOCK)
    forked = {ln.split(" ", 1)[0] for ln in under_out}
    assert {"chmod", "readlink"} <= forked


def _tree(root: str) -> dict[str, int]:
    got = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            full = os.path.join(d, name)
            got[os.path.relpath(full, root)] = os.stat(full).st_mode
    return got


def _make_files(spark, root: str, impls: dict[str, str], umask: str | None, api: str) -> None:
    """mkdirs a nested dir and creates one file in it, through ``api``."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    for k, v in impls.items():
        conf.set(k.removeprefix("spark.hadoop."), v)
    if umask is not None:
        conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    Path = jvm.org.apache.hadoop.fs.Path
    if api == "FileSystem":
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        fs.mkdirs(Path(root + "/a/b"))
        fs.create(Path(root + "/a/b/f")).close()
        fs.close()
    else:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        fc.mkdir(Path(root + "/a/b"), jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault(), True)
        flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
        opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
        fc.create(Path(root + "/a/b/f"), flags, opts).close()


@needs_jar
@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
@pytest.mark.parametrize("umask", [None, "077"])
def test_shim_sets_stock_modes_and_crc_files(spark, tmp_path, api, umask):
    confs = local_fs_confs("local[2]")
    shim = {k: v for k, v in confs.items() if k != "spark.driver.extraClassPath"}
    _make_files(spark, str(tmp_path / "stock"), STOCK, umask, api)
    _make_files(spark, str(tmp_path / "shim"), shim, umask, api)
    stock, ours = _tree(str(tmp_path / "stock")), _tree(str(tmp_path / "shim"))
    assert "a/b/.f.crc" in stock
    assert ours == stock
    if umask == "077":
        assert stock["a/b/f"] & 0o777 == 0o600 and stock["a/b"] & 0o777 == 0o700


def _link_statuses(spark, impls: dict[str, str], paths: list[str], api: str) -> list[tuple | str]:
    """``getFileLinkStatus`` of each path through ``api`` on ``impls``: the
    status fields, or the Java exception's class name."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration()
    for k, v in impls.items():
        conf.set(k.removeprefix("spark.hadoop."), v)
    uri = jvm.java.net.URI("file:///")
    if api == "FileSystem":
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
    else:
        fs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    got = []
    for p in paths:
        try:
            st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(p))
        except Py4JJavaError as e:
            got.append(e.java_exception.getClass().getName())
            continue
        target = st.getSymlink().toString() if st.isSymlink() else None
        got.append((st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(), st.getPath().toString(), target))
    if api == "FileSystem":
        fs.close()
    return got


@needs_jar
@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
@pytest.mark.parametrize("scheme", ["", "file:"])
def test_shim_returns_stock_link_status(spark, tmp_path, api, scheme):
    """A regular file, a directory, a missing path, a symlink to a file and
    a dangling symlink. Stock Hadoop forks ``readlink`` on the path string:
    it resolves a plain path's link, and never a ``file:`` one."""
    (tmp_path / "f").write_bytes(b"0123456789")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    paths = [f"{scheme}{tmp_path / name}" for name in ("f", "d", "missing", "link", "dangling")]
    shim = {k: v for k, v in local_fs_confs("local[2]").items() if k != "spark.driver.extraClassPath"}
    stock = _link_statuses(spark, STOCK, paths, api)
    assert _link_statuses(spark, shim, paths, api) == stock
    fnf = "java.io.FileNotFoundException"
    assert stock[0][:4] == (True, False, False, 10) and stock[1][:3] == (False, True, False)
    assert stock[2] == fnf
    if scheme:
        assert stock[3][:4] == (True, False, False, 10) and stock[4] == fnf
    else:
        assert stock[3][2] and stock[3][5].endswith("/f") and stock[4][2]


def test_non_local_master_gets_no_shim_confs():
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443", "local-cluster[2,1,1024]"):
        assert local_fs_confs(master) == {}


@needs_jar
def test_local_master_gets_shim_confs(spark):
    confs = local_fs_confs("local[*]")
    assert set(confs) == {
        "spark.driver.extraClassPath",
        "spark.hadoop.fs.file.impl",
        "spark.hadoop.fs.AbstractFileSystem.file.impl",
    }
    # the session factory's own session runs on the shim
    assert spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl") == "jdp.fs.NioLocalFileSystem"


@needs_jar
def test_vanilla_jvm_first_gets_no_shim(tmp_path):
    """A JVM started without the jar (a vanilla session made first, as the
    external driver does) cannot load the classes: get_spark leaves them out
    and local writes still work."""
    child = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from job_datapipeline_spark.session import get_spark, local_fs_confs

        vanilla = SparkSession.builder.master("local[1]").getOrCreate()
        assert local_fs_confs("local[1]") == {}
        spark = get_spark("vanilla-first", master="local[1]")
        out = sys.argv[1]
        spark.range(10).write.parquet(out + "/src")
        # FileContext (uncached, unlike FileSystem) serves the checkpoint
        q = (
            spark.readStream.schema("id long").parquet(out + "/src")
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", out + "/ckpt")
            .format("parquet").start(out + "/sink")
        )
        q.awaitTermination()
        assert spark.read.parquet(out + "/sink").count() == 10
        """
    )
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", child, str(tmp_path / "t")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
