"""SparkSession factory.

The reference builds a bare ``local[*]`` session with defaults
(glassdoor-scraper/src/main.py:116-120). Here the session is configured for
scale from the start:

- AQE on (runtime coalesce + skew-join handling) — at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans.
- Arrow enabled — every Pandas-UDF boundary is Arrow-batched.
- Session timezone UTC — deterministic timestamp semantics across engines.
- ``spark.sql.shuffle.partitions`` sized from the env (local testing uses
  the core count; a real cluster would use 2-3x total cores).
- Under a ``local[...]`` master, ``file:`` paths go through the ``jvm/``
  shim (``NioLocalFileSystem`` / ``NioLocalFs``). Without libhadoop, which
  pyspark does not ship, stock Hadoop forks a ``chmod`` process for every
  local file and directory it creates, and a ``readlink`` process for every
  ``getFileLinkStatus`` (each ``FileContext`` rename: streaming offsets,
  commits, state-store deltas). The shim sets the same mode through
  java.nio, and answers link status for a path that is not a symlink with
  one ``lstat``. Cluster executors would not have the class on their
  classpath, and HDFS/S3 never shell out, so other masters keep the stock
  classes.
- ``spark.sql.codegen.cache.maxEntries`` is 8192, not Spark's 100. Spark
  keeps the classes it generates and compiles (whole-stage stages,
  projections, predicates) in one JVM-wide cache. One ``sql_short`` pass
  alone needs 124 of them and the whole registry 5.5 k, so at the default
  every pass recompiled most of them in Janino at 6-10 ms each. The cap,
  not the working set, bounds the cache's memory (see "Generated-code
  cache" in ``docs/SCALING.md``). It is a static conf: a JVM started
  elsewhere (the external driver's vanilla session) keeps Spark's default.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "job-datapipeline-spark"

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
_log = logging.getLogger(__name__)


@functools.cache
def local_fs_jar() -> str | None:
    """The ``jvm/`` shim jar, compiled once per source hash; None without javac.

    The jar is built in a temp dir and renamed into place, so concurrent
    first sessions each see either no jar or a whole one.
    """
    javac = shutil.which("javac")
    api = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not api:
        _log.warning("no javac or hadoop-client-api jar: local files keep Hadoop's forked chmod")
        return None
    srcs = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
    digest = hashlib.sha256(os.path.basename(api[-1]).encode())
    for src in srcs:
        with open(src, "rb") as fh:
            digest.update(fh.read())
    build = os.path.join(_JVM_DIR, "build")
    jar = os.path.join(build, f"localfs-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    try:
        os.makedirs(build, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [javac, "--release", "17", "-cp", api[-1], "-d", classes, *srcs],
                check=True,
                capture_output=True,
            )
            part = os.path.join(tmp, "localfs.jar")
            with zipfile.ZipFile(part, "w") as z:
                for root, _dirs, files in os.walk(classes):
                    for f in sorted(files):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, classes))
            os.replace(part, jar)
    except (OSError, subprocess.CalledProcessError) as e:
        _log.warning("local filesystem shim not built (%s): local files keep Hadoop's forked chmod", e)
        return None
    return jar


def local_fs_confs(master: str) -> dict[str, str]:
    """The confs that route ``file:`` paths through the shim, or none.

    None for a non-local master, without a jar, or when this process already
    runs a JVM that was started without the jar on its classpath (a session
    made elsewhere): that JVM could not load the classes.
    """
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    jar = local_fs_jar()
    if jar is None:
        return {}
    gateway = SparkContext._gateway
    if gateway is not None and jar not in gateway.jvm.System.getProperty("java.class.path").split(os.pathsep):
        return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": "jdp.fs.NioLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "jdp.fs.NioLocalFs",
    }


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static (JVM-wide, read once). Spark's default keeps 100 compiled
        # classes. Working sets measured at local[4]: a sql_short pass 124
        # classes (94-96 recompiled on every later pass at the default),
        # the largest single query 130, all 363 registry queries 5.5 k at
        # sf0.01 (a second registry pass recompiled 7,954). 8192 holds the
        # whole registry with headroom; a full cache costs ~31 KB of heap
        # and ~8 KB of metaspace per class (docs/SCALING.md).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    conf = local_fs_confs(master)
    for k, v in (extra_conf or {}).items():
        conf[k] = f"{conf[k]}{os.pathsep}{v}" if k == "spark.driver.extraClassPath" and k in conf else v
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
