"""Session lifecycle for the benchmark: start through ``session.get_spark``,
warm the Python workers and the native kernel, release caches between
passes, and switch the event log on for the traced phase.
"""

from __future__ import annotations

import os
import shlex
import time

from perfbench import host


def configure(work: str) -> int:
    """Environment for every session this process starts: all cores,
    a driver heap below physical RAM, and every temp, spill and
    warehouse directory inside ``work``. Returns the core count."""
    cpus = host.nproc()
    mem_gib = host.mem_total_kib() >> 20
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, mem_gib // 4))}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "--conf", shlex.quote(
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def _warm_workers(spark, cpus: int) -> None:
    """One task per core that loads the native chunk kernel, so Python
    workers exist and have it loaded before anything is timed."""
    def load(batches):
        from cdc_algorithms_spark.chunkers import native

        native._load()
        yield from batches

    spark.range(0, cpus * 16, numPartitions=cpus).mapInPandas(load, "id long").count()


def start(cpus: int):
    """Returns ``(spark, start_s, warm_s)``."""
    from cdc_algorithms_spark.chunkers import native
    from cdc_algorithms_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    native._load()
    _warm_workers(spark, cpus)
    return spark, t1 - t0, time.perf_counter() - t1


def native_loaded() -> bool:
    from cdc_algorithms_spark.chunkers import native

    return native._load() is not None


def release(spark) -> int:
    """Drop every cached frame; returns how many cached RDDs are still
    persisted. Local checkpoints (the lineage cuts of an iterative
    operator) are not counted: no later plan can read them, and Spark's
    cleaner drops them once they are unreferenced."""
    from cdc_algorithms_spark import api

    api.release_probe_frames()
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isCheckpointed())


def enable_event_log(log_dir: str) -> None:
    """Event log for the NEXT session start. SparkConf reads ``spark.*``
    JVM system properties, so this reaches the session ``get_spark``
    builds without touching its code."""
    from pyspark import SparkContext

    os.makedirs(log_dir, exist_ok=True)
    system = SparkContext._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", f"file://{os.path.abspath(log_dir)}")
    system.setProperty("spark.eventLog.compress", "false")


def sql_confs(spark) -> dict:
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def shutdown() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
