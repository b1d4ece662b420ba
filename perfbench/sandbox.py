"""One benchmark process's scratch root and Spark session.

Everything a run writes goes under one scratch root inside the checkout:
generated tables, arrival files, streaming checkpoints, sink outputs,
``SPARK_LOCAL_DIRS``, the SQL warehouse, the event log, the JVM's temp
directory and the engine's own ``tempfile`` scratch. ``Sandbox.close`` stops
the session, waits for the JVM to exit and deletes the root, so a run leaves
nothing behind (no ``spark-warehouse/`` or ``derby.log`` in the working
directory either, because the process works from inside the root).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
SCRATCH_PARENT = os.path.join(CHECKOUT, ".perfbench_scratch")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Sandbox:
    """Creates the scratch root and points every temp location into it.

    Must be created before pyspark starts its JVM, because the environment
    it sets is inherited by the JVM and the Python workers.
    """

    def __init__(self, trace: bool):
        os.makedirs(SCRATCH_PARENT, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=SCRATCH_PARENT)
        self.trace = trace
        self.tmp = self.path("tmp")
        self.event_log_dir = self.path("eventlog")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        # the launcher JVM that spark-submit starts before the driver
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        # Python workers unpickle benchmark helpers (the KV writer) by module
        # path, so they need the checkout on their import path.
        paths = [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        if CHECKOUT not in sys.path:
            sys.path.insert(0, CHECKOUT)
        os.chdir(self.root)
        self.spark = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def spark_conf(self) -> dict[str, str]:
        java_opts = f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.path('derby')} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return conf

    def start_spark(self):
        from job_datapipeline_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
                proc.kill()
                proc.wait(timeout=30)

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            os.chdir(CHECKOUT)
            for _ in range(3):
                shutil.rmtree(self.root, ignore_errors=True)
                if not os.path.exists(self.root):
                    break
                time.sleep(0.5)
            try:
                os.rmdir(SCRATCH_PARENT)
            except OSError:
                pass
