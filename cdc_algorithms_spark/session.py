"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` in a single JVM, but every config below
is chosen for the 1000-executor / 100 TB posture: AQE handles runtime
re-planning (skew joins, partition coalescing), Arrow moves UDF batches,
and shuffle partitioning is explicit so plans are reproducible.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cdc-algorithms-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract), else all
    cores. ``shuffle_partitions`` defaults to the core count — right-sized
    for local runs; on a real cluster this would scale with executors and
    AQE coalesces the excess.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Python worker daemon with pandas/pyarrow preloaded and zipimport
    # cache invalidation frozen (cdc_algorithms_spark/daemon_preload.py):
    # measured ~0.5 s import chain per fresh worker and ~230 ms of
    # zip-directory re-reads per TASK without it (guide §4.5 — init
    # heavyweight state once). The daemon resolves the module with the
    # worker interpreter, which inherits this process's env — pin the
    # package root onto PYTHONPATH BEFORE the JVM launches so the
    # daemon import works regardless of the driver's cwd.
    #
    # GUARD: a custom ``spark.python.daemon.module`` that the worker
    # interpreter cannot import is a HARD worker-start failure, not a
    # slow path. This factory builds local-mode sessions (workers fork
    # on the driver host, so the path check below is exactly the check
    # the worker would make); on a cluster WITHOUT a shared filesystem
    # the module must be shipped (--py-files / container image) — if
    # the file is not where we would point PYTHONPATH, fall back to the
    # stock daemon and merely lose the preload speedup.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    daemon_ok = _daemon_module_available(pkg_root)
    if daemon_ok:
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
            )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor (default 1m) collapses small CPU-DENSE
        # shuffles to one task: the exact-Jaccard verify stage (0.83 MB
        # of hashed-shingle arrays whose array_sort/intersect cost ~0.7 s
        # of CPU) ran single-threaded. 256k keeps such stages parallel
        # while remaining a sane small-fetch floor; it is a LOWER bound
        # used only when coalescing, so at production shuffle sizes
        # (partitions >= the 64m advisory) it never binds — measured
        # A/B (r12): incremental_jaccard 1.76->1.16 s, minhash
        # 0.81->0.63, ngram 0.47->0.40, CC family/q21/tfidf unchanged;
        # 64k over-splits and regresses those. Env-overridable for
        # cluster tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` under
        # every explode; pushed below projections it re-inlines the
        # generator's full expression into the predicate — for the shingle
        # pipelines that re-ran the regex split ~9× per row (measured 4×
        # slowdown). Our generator inputs are built non-empty, so the
        # inferred filter only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Bound Arrow batch size so pandas-UDF chunker state stays in
        # executor memory even with multi-MB documents.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long (ns since epoch) and convert on load
        # (sources/registry.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode: the driver JVM hosts every executor thread; binary
        # payload pipelines (segment tables, shuffle buffers) GC-thrash
        # at 8g on 32 cores (measured +30% on payload-heavy bench
        # queries). On a real cluster this maps to executor memory.
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if daemon_ok:
        builder = builder.config(
            "spark.python.daemon.module",
            "cdc_algorithms_spark.daemon_preload",
        ).config(
            # cluster posture: executors don't inherit the driver's env,
            # so ship the package root explicitly for the daemon import
            "spark.executorEnv.PYTHONPATH",
            os.environ["PYTHONPATH"],
        )
    return builder.getOrCreate()


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else ``min(24g, physical RAM / 2)`` — a
    larger heap on a small host gets the JVM OOM-killed by the kernel."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):  # no sysconf: keep 24g
        return "24g"
    return f"{min(24 << 10, ram // 2 >> 20)}m"


def _daemon_module_available(pkg_root: str) -> bool:
    """True when the preload daemon module exists at the path the worker
    interpreter will import it from (see the guard note in get_spark).
    Overridable for tests; a deleted/relocated package root must degrade
    to the stock pyspark daemon, never fail worker creation."""
    return os.path.isfile(
        os.path.join(pkg_root, "cdc_algorithms_spark", "daemon_preload.py")
    )
