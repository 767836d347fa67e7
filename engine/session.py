"""SparkSession factory and runtime configuration.

The binding configs (empirically required against the driver fixtures,
see SURVEY.md §1.4):

- ``spark.sql.session.timeZone=UTC`` — oracle (DuckDB) timestamps are
  UTC-naive; pinning the session TZ makes epoch arithmetic agree.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — older fixture
  generations store ``events.ts`` as TIMESTAMP(NANOS) which stock
  Spark 4 refuses to read; with the flag it arrives as a bigint of
  nanoseconds which engine.io rebuilds into a microsecond timestamp.
  Current fixtures store native ``timestamp[us]`` (read as
  TIMESTAMP_NTZ, cast to session-tz timestamp); the flag is inert
  for those files, so it stays on for back-compat.
- AQE on — runtime shuffle-partition coalescing and skew-join
  splitting; essential at the 100 TB design point and harmless at
  test scale.

All of these are runtime-settable, so ``configure`` also repairs a
session created by an external harness (the driver builds its own
SparkSession and passes it in).

Python workers start from ``engine.pyworker``
(``spark.python.daemon.module``, found through
``spark.executorEnv.PYTHONPATH`` = the directory holding the engine
package). Stock workers import pyspark from the distribution's
``pyspark.zip`` and py4j zip, with the ``spark-core`` jar also on the
path, and pyspark's per-task ``importlib.invalidate_caches()`` makes
Python 3.11 re-read every one of those archive directories (about 6.7k
entries) in every task: 126-281 ms per task before user code runs. The
daemon drops the archives and imports the installed pyspark of the same
version instead. Measured on local[4] (4 cores): 32 trivial
``mapPartitions`` tasks went from 2.1-2.7 s to 0.59-0.71 s, and the
``stitch_40`` bench warm pass from a median of 5.21 s to 2.04 s with
this alone, 1.37 s together with the one-stage affine blend in
``engine.blocks``. ``configure`` cannot apply this to a session
someone else built: ``spark.python.daemon.module`` is a static core
conf read when the context starts, so such a session keeps the stock
daemon.
"""
from __future__ import annotations

import os
import warnings

# numpy reads this once, at its own import; set it before anything here
# imports numpy (see PY_WORKER_ENV for why).
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

from pyspark.errors import AnalysisException  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalescing can only shrink from the INITIAL partition
    # count; with the fixed 32-way layout a decade-scale shuffle
    # (e.g. the 180M-row salted lineitem x orders join at the 100x
    # fixture) sorts ~300 MB per task and spills (probe-caught,
    # round 15: 20.7x time for 10x data; 256 initial partitions
    # measured it back to ~11x). Start high and let AQE coalesce
    # small shuffles down to the 64 MB advisory target — the
    # canonical AQE sizing on a real cluster, where this would be
    # several x the executor-core count.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # AQE is OFF inside cached plans by default (Spark preserves the
    # cache's output partitioning for potential reuse), so every
    # persist() of a shuffled intermediate materializes at the full
    # initial partition count and each downstream branch pays that
    # many tasks per scan (round-15 profile census: the persist-using
    # keys were the task-heaviest in the suite, e.g.
    # q_contamination_bloom_eval at ~6.9k tasks). Letting AQE
    # re-plan cached shuffles coalesces them to the same 64 MB
    # advisory target as everything else — scale-adaptive in both
    # directions (a 100 TB cached frame keeps thousands of
    # partitions; a kB-sized eval intermediate keeps one).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


# The error conditions of a conf that a running session cannot change:
# a core conf read when the context started, or a static SQL conf.
_FIXED_CONF_CONDITIONS = {"CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine configs to an existing session.

    A conf the session fixed when it was built is skipped, and one
    warning names every such conf; any other error raises."""
    refused = []
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            if e.getCondition() not in _FIXED_CONF_CONDITIONS:
                raise
            refused.append(k)
    if refused:
        warnings.warn("the session refused engine confs fixed when it was "
                      f"built: {', '.join(refused)}", stacklevel=2)
    return spark


# Python-worker allocator environment (round 16, guide §4.5/§5 —
# Python worker memory behavior). The Arrow block path moves ~20 MB
# binary slabs per row through mapInPandas/applyInPandas workers, and
# on hosts with transparent hugepages in madvise mode numpy's
# MADV_HUGEPAGE on every large fresh buffer forces a synchronous
# 2 MB-page compaction at fault time: a pure-Python repro (no Spark)
# of 32 processes cycling 20 MB arrays measured iterations of median
# 0.067 s stalling to 12.9 s — the exact bimodal "GC band" the
# 128-cube bench entries have shown since round 8, and the whole of
# the r15 driver regression (block path 2.29 -> 10.32 s at 32 cores;
# kcompactd was the only busy kernel thread). glibc compounds it by
# returning >=128 KB mmap'd buffers to the OS on free, so every
# allocation re-faults. Disabling the hugepage madvise and keeping
# large buffers on the heap removed the stalls entirely (max 0.118 s
# across 32 procs). Applied via spark.executorEnv.* — verified to
# reach the pyspark daemon (and every forked worker) in local mode
# too — NOT via the JVM's own process environment: the MALLOC_ knobs
# would also rebind the driver JVM's glibc (netty/Arrow native
# buffers onto lock-contended arenas instead of mmap), an untested
# behavior change for a process that was never the stall source.
# NUMPY_MADVISE_HUGEPAGE is additionally exported to this (driver
# python) process, which the JVM ignores. Scale-safe: allocator
# behavior only, never what any query computes.
PY_WORKER_ENV = {
    "NUMPY_MADVISE_HUGEPAGE": "0",
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "268435456",
}


# The directory that holds the engine package, so Python workers find
# engine.pyworker whatever their working directory.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """A quarter of physical memory in whole GB, clamped to 2g..24g, so
    two engine sessions on one host (tests beside check.py) stay within
    RAM. SPARK_GRAFT_DRIVER_MEM overrides it."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24, max(2, total // 4 // 2**30))}g"


def get_spark(app: str = "engine") -> SparkSession:
    """Build (or fetch) the engine's local session.

    local[N] is a single-JVM stand-in for a multi-executor cluster;
    shuffle partitions are a fixed 32, not the 200 default, whatever
    the core count (AQE starts shuffles at ``initialPartitionNum`` and
    coalesces them, but stateful streaming operators keep this count).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "engine.pyworker")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in PY_WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
