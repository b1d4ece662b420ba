"""Ship the package to executor Python workers.

Every Arrow-batched Python stage (``mapInPandas`` / ``applyInPandasWithState``
/ ``foreachPartition``) serializes a closure that references helpers in this
package; cloudpickle pickles those module-level helpers BY REFERENCE, so the
worker process must be able to ``import job_datapipeline_spark``. That holds
automatically when the driver runs from the repo root, but not for a driver
that loaded ``__spark_entry__.py`` by path from elsewhere — and on a real
multi-node cluster it never holds unless the package is shipped.

``ensure_shipped`` is the one-line answer both locally and at 100 TB: zip the
package once per SparkContext and ``addPyFile`` it — exactly what
``spark-submit --py-files`` does for a 1000-executor deployment. Builders
that create Python-worker stages call it before building the plan, so any
entry point (pytest, bench, a foreign-cwd driver) gets a working stage.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_jdp_pyfiles_shipped"


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently add a zip of this package to the context's py-files."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_root)
    zdir = tempfile.mkdtemp(prefix="jdp_pyfiles_")
    # the context reads the zip until it stops, so it goes at interpreter exit
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "job_datapipeline_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_root):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo_root))
    sc.addPyFile(zpath)
    setattr(sc, _SHIPPED_ATTR, True)
