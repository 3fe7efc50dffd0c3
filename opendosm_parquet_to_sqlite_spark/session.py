"""SparkSession factory with scale-appropriate defaults.

The reference runs single-threaded with everything in RAM
(/root/reference/src/main.rs:191,253). Here every default is chosen for a
multi-executor cluster and merely *tested* on local[N]:

- Spark's own defaults are kept, not restated: AQE with partition
  coalescing and skew-join splitting, runtime bloom filters, and the
  128 MB per-task input bound (spark.sql.files.maxPartitionBytes). Only
  settings that differ from a default, or pin determinism, are set here.
- AQE's coalescing floor lowered to 64k (see get_spark).
- local[N] and shuffle.partitions both sized by task_cpus(): the
  SPARK_GRAFT_CPUS override, else the CPUs this process may run on (a real
  cluster overrides — AQE coalesces down, so oversizing is safe,
  undersizing is not).
- Arrow enabled for the (rare) pandas-UDF paths and driver interchange.
- Driver memory from driver_memory(): the SPARK_GRAFT_DRIVER_MEM override,
  else min(16 GiB, three quarters of physical RAM).
- Session timezone pinned to UTC so date formatting is deterministic and
  matches the DuckDB oracle byte-for-byte.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def task_cpus() -> int:
    """Task threads for local[N] and the shuffle partition count:
    SPARK_GRAFT_CPUS if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """spark.driver.memory: SPARK_GRAFT_DRIVER_MEM if set, else the smaller
    of 16 GiB and three quarters of physical RAM, in whole MiB."""
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    default_mib = min(16 << 30, physical * 3 // 4) >> 20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{default_mib}m"


def get_spark(
    app_name: str = "opendosm-parquet-to-sqlite-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Any already-active session is reused as-is (the driver owns the session
    in verify runs); defaults only apply when we create the session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = task_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # AQE's coalescing floor (Spark default 1m) sets the MINIMUM
        # post-shuffle partition size. With parallelismFirst=true (also
        # default) AQE targets max(shuffleBytes/parallelism, floor) — so
        # any shuffle under parallelism × 1 MB gets coalesced BELOW the
        # core count, and a compute-dense reduce stage (in-bucket pair
        # explosion, keyed RANGE windows, 63-accumulator folds) runs on
        # 1-4 cores while the rest idle. Measured at sf0.1 (round-13 opt):
        # dedup_ngram_jaccard 3.08→1.83 s, interpolate_linear 2.54→1.44,
        # link_prediction 3.73→2.47, triangle_count 2.97→2.04 with a 64k
        # floor; no query regressed beyond noise. 64k stays far above
        # per-task overhead (~ms) and the floor only binds when a stage's
        # TOTAL shuffle is under parallelism × 64k — at production scale
        # those stages are sub-second either way, while mis-coalescing a
        # compute-dense small shuffle serializes the cluster at any scale.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimensions in this workload are tiny; keep default 10m threshold,
        # broadcast() hints are applied explicitly at join sites anyway.
        # Up to 16g: a long-lived session that runs hundreds of distinct query
        # plans in one JVM accumulates un-reaped broadcast blocks +
        # codegen classes between GCs; at 8g the ~190-query bench suite
        # ran the heap to its ceiling (committed 7.6g) and the first
        # allocation-heavy query after the suite paid a multi-second
        # GC/cleanup storm (round-7 contamination_bloom "4.28x" — 0.9x
        # isolated). Headroom keeps old-gen pressure off the timings; a
        # real cluster sizes the driver independently anyway. The default
        # is capped at three quarters of physical RAM (driver_memory()), so
        # a box smaller than 16g still leaves room for the Python driver
        # and the OS.
        .config("spark.driver.memory", driver_memory())
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
