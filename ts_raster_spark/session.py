"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100 TB design point but safe on local[N]:
AQE on (runtime coalescing + skew-join splitting), UTC session time zone
(timestamp parity with the DuckDB oracle and any downstream engine),
Arrow enabled for the pandas/Arrow UDF kernels, and a generated-class
cache (``spark.sql.codegen.cache.maxEntries``) of 1000 entries instead of
Spark's 100.  Re-running the same plans (a feature batch after batch,
a tier job per partition) compiles its classes once only if they all fit:
the cache is an LRU, and an LRU smaller than a cyclic working set misses
on every access.

Python stages run in an engine-owned worker daemon
(``spark.python.daemon.module`` is :mod:`ts_raster_spark.daemon`).  At
the start of every task PySpark's worker calls
``importlib.invalidate_caches()``, which on CPython 3.11 makes every zip
importer on the worker's ``sys.path`` re-parse its archive's directory:
~0.1–0.2 s of CPU per task before any Arrow kernel, pandas UDF or RDD
lambda runs.  The daemon's workers re-read only archives that changed.
Executors must be able to import ``ts_raster_spark`` when a worker
starts, not only when a task runs (``spark-submit --py-files`` adds its
zip to a worker's path only at task time): a worker that cannot import
the daemon module does not start, and every Python stage fails.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ts_raster_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness can run the identical job at two parallelism
    levels (the sandbox stand-in for N vs 4N executors).
    """
    # Imported here, not at module level: the package imports this module,
    # and ``python -m ts_raster_spark.daemon`` warns when the package has
    # already imported the module it is about to run.
    from ts_raster_spark import daemon

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a planned sort-merge join to shuffled-hash at
        # runtime when every post-shuffle partition's build side fits
        # this bound (guide §3.1; default 0 = off).  2x the 64 MiB AQE
        # advisory partition size: partitions AQE leaves big (skewed)
        # stay sort-merge, so the hash build is memory-bounded at any
        # scale.  The shuffled equi-joins that remain (cohort self-join,
        # dedup pair joins, unmask re-expansion) then skip both sides'
        # sorts where they fit, without a per-join hint that would also
        # override the small-input broadcast choice.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Parquet scan tuning: at 100 TB, 128 MiB splits keep task counts
        # manageable while preserving parallelism.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd output: ~30% smaller tier files than snappy at equal
        # write+read wall time (A/B on a minute tier: 119 MB snappy vs
        # 84 MB zstd, 4.8 s vs 4.6 s write, read flat)
        # — guide §6; at 100 TB smaller files are strictly better.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: fixed when the JVM's codegen cache is first built.  One
        # features operation (hour, whole-conversation and extended
        # features plus a codec round trip) cycles through about 123
        # generated classes, so at Spark's 100 entries every re-run of
        # the same plans recompiles ~90 of them (~1.5 s of Janino); a
        # tier job cycles through 78.  1000 holds the larger working set
        # 8 times over (tools/codegen_probe.py measures them).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Static: the module every Python worker is forked from.  It keeps
        # each task from re-reading the unchanged zip archives on the
        # worker's sys.path (see the module docstring).
        .config("spark.python.daemon.module", daemon.__name__)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()


def run_concurrently(spark: SparkSession, targets: list[Callable[[], object]]) -> list:
    """Call each no-argument target on a driver thread, at most
    ``defaultParallelism`` at a time, and return their results in order.

    Each target is wrapped here, in the calling thread, with
    ``inheritable_thread_target(spark)``: the caller's local properties
    (job group, job description, scheduler pool) and session tags then
    reach every Spark job a target starts. Each target gets its own copy
    of those properties, so a target that changes one changes no other.
    Every target runs to the end; the first failure in ``targets`` order
    is then raised.
    """
    wrapped = [inheritable_thread_target(spark)(t) for t in targets]
    if not wrapped:
        return []
    with ThreadPoolExecutor(max_workers=min(len(wrapped), spark.sparkContext.defaultParallelism)) as pool:
        futures = [pool.submit(t) for t in wrapped]
    return [f.result() for f in futures]
