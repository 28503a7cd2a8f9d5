"""Run environment and the timed calls into the program's layers.

``RunEnv`` owns one directory under the checkout that holds everything a
run writes: the generated inputs, the Spark warehouse (model store), Spark
local dirs, ``TMPDIR`` (streaming checkpoints, MapReduce work dirs), the
event log and the JVM's temp dir.  It is removed when the run ends.  It
must be built before the first Spark session: the JVM launch reads the
environment and ``PYSPARK_SUBMIT_ARGS`` set here.
"""

from __future__ import annotations

import os
import shlex
import shutil
import sys
import tempfile
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(CHECKOUT, ".perfbench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class RunEnv:
    """A private directory tree and the process environment that points the
    program, Spark, its Python workers and the JVM at it."""

    def __init__(self, seed: int):
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"seed{seed}-", dir=WORK_ROOT)
        d = {k: os.path.join(self.root, k) for k in
             ("inputs", "warehouse", "local", "tmp", "events", "outputs")}
        for path in d.values():
            os.makedirs(path)
        self.inputs, self.warehouse, self.events, self.outputs = (
            d["inputs"], d["warehouse"], d["events"], d["outputs"])
        self.tmp = d["tmp"]
        self.cpus = nproc()
        path = os.environ.get("PYTHONPATH")
        os.environ.update({
            "PYTHONPATH": CHECKOUT + (os.pathsep + path if path else ""),
            "TMPDIR": d["tmp"],
            "SPARK_LOCAL_DIRS": d["local"],
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "PYSPARK_PYTHON": sys.executable,
            # the launcher JVM too: no hsperfdata file in the system temp dir
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={d['tmp']}",
            "PYSPARK_SUBMIT_ARGS": shlex.join([
                "--conf", f"spark.sql.warehouse.dir={d['warehouse']}",
                "--conf", f"spark.eventLog.dir={d['events']}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.driver.extraJavaOptions="
                f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
                "pyspark-shell",
            ]),
        })
        tempfile.tempdir = None  # re-read TMPDIR on next use

    def model_dirs(self) -> set[str]:
        """Model-store entries (``sg_model_*`` / ``sg_band_index_*``)."""
        return {n for n in os.listdir(self.warehouse)
                if n.startswith(("sg_model_", "sg_band_index_")) and ".tmp-" not in n}

    def store_mb(self) -> float:
        total = 0
        for dirpath, _, files in os.walk(self.warehouse):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total / 1e6

    def tmp_dirs(self, prefix: str) -> int:
        return sum(1 for n in os.listdir(self.tmp) if n.startswith(prefix))

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a directory here


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def start_session(tables_dir: str, cpus: int):
    """``get_spark`` plus the generic warmup (q1 and one pandas UDF, as in
    ``bench.py``).  Returns ``(spark, start_s, total_s)``."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from eecs485_p4_mapreduce_spark import get_spark
    from eecs485_p4_mapreduce_spark.plans import REGISTRY

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    noop(REGISTRY["q1_pricing_summary"].fn(spark, tables_dir))

    @pandas_udf(LongType())
    def _warm(s):  # noqa: ANN001
        return s

    noop(spark.range(32, numPartitions=32).select(_warm(F.col("id"))))
    return spark, t1 - t0, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the application; the JVM stays up for the next session."""
    from eecs485_p4_mapreduce_spark.functions.memo import clear_all_caches

    clear_all_caches()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
