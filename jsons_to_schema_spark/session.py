"""SparkSession construction with the engine's scale-oriented defaults.

Single place that pins AQE / shuffle / Arrow settings so every entry point
(tests, bench, driver contract) runs the same physical configuration.  The
settings mirror what the engine would ship to a 1000-executor cluster via
spark-submit --conf; locally the master is local[N].
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Scale-relevant defaults (BASELINE.json north_star: explicit AQE skew
# handling, broadcast-or-sort-merge joins, vectorized Arrow transfer).
ENGINE_CONF = {
    # Adaptive execution: runtime re-plan, skew-join splitting, partition
    # coalescing — the cluster-side answer to hot keys and small shuffles.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow is the only sanctioned Python boundary (no per-row Python UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Dimension tables up to 64 MB broadcast instead of shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Nested-column pruning so span-struct subfield reads prune at the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    # size(NULL) must be NULL, never -1: the native inference aggregates rely
    # on sum() skipping null arrays.  The expressions themselves are also
    # guarded (infer_native._size0) so a bare session stays correct on
    # Spark 3.x defaults — this pin is belt-and-suspenders.
    "spark.sql.legacy.sizeOfNull": "false",
    # Interpreted expressions (HOFs are CodegenFallback) and Arrow transfers
    # allocate heavily; the default G1 young-gen sizing collapsed under
    # 32-thread allocation pressure (measured 4-6x slowdowns).  A half-heap
    # young gen keeps allocation-heavy stages scaling with cores.  On a real
    # cluster pass the same via spark.executor.extraJavaOptions.
    "spark.driver.extraJavaOptions": "-XX:+UseG1GC -XX:NewRatio=1",
    "spark.executor.extraJavaOptions": "-XX:+UseG1GC -XX:NewRatio=1",
}


def _default_cpus() -> int:
    """The cores in this process's affinity mask (what taskset/cpusets allow)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity outside Linux
        return os.cpu_count() or 1


def _default_driver_mem() -> str:
    """min(24g, half of physical RAM): the heap grows lazily, so a 24g cap on
    a 16 GB host lets the JVM outgrow the machine and be OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, total_kb // 2048)}m"


# Single local JVM hosts driver+executors: size its heap for real scans.
# Only effective for the FIRST session in a process (JVM flags are fixed at
# launch) — bench runs each measurement in its own subprocess for this reason.
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def get_spark(
    master: str | None = None,
    app_name: str = "jsons-to-schema-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to local[$SPARK_GRAFT_CPUS], and SPARK_GRAFT_CPUS to
    the cores this process may run on.
    shuffle_partitions defaults to the core count — right-sized for local
    runs; a real cluster sets this to ~2-3x total cores via spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # parse every documented local master form (r3 review: 'local[4,2]'
        # retries syntax crashed int(); bare 'local' is ONE thread, not
        # 2*cpus; 'local[*]' means the machine's cores, not the env default)
        if master == "local":
            shuffle_partitions = 1
        elif master.startswith("local["):
            inner = master[len("local["):-1].split(",")[0].strip()
            shuffle_partitions = (
                (os.cpu_count() or cpus) if inner == "*" else int(inner)
            )
        else:
            shuffle_partitions = 2 * cpus
    b = SparkSession.builder.master(master).appName(app_name)
    if master.startswith("local"):
        b = b.config("spark.driver.memory", DRIVER_MEM)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def trim_worker_import_cache() -> None:
    """Drop every zip importer from ``sys.path_importer_cache``.

    Called first in each of the engine's worker-side functions, so a Python
    worker pays pyspark's per-task import setup about once per process
    instead of once per task.  Workers import pyspark from
    ``$SPARK_HOME/python/lib/pyspark.zip`` (Spark puts it first on the worker
    ``PYTHONPATH``), and every imported pyspark subpackage leaves a
    ``zipimport.zipimporter`` in the cache — 16 of them, plus 3 more after
    the first task.  pyspark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of EVERY task, and on
    CPython 3.11 ``zipimporter.invalidate_caches()`` re-reads the whole
    archive directory (1,328 entries, about 11 ms per importer): 0.17–0.25 s
    per task on a 4-vCPU host, against about 10 ms of JVM CPU for a 1-row
    ``mapInArrow`` task.

    The entries are only a cache: the next import that needs a zip builds
    its importer again, and since the archive's directory is dropped from
    ``zipimport``'s own cache too, that importer reads the zip's current
    contents — import semantics do not change.  Modules already loaded keep
    their loaders.  A trimmed worker stays trimmed for every later task it
    runs, engine or not, until an import brings an entry back.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
            zipimport._zip_directory_cache.pop(finder.archive, None)
