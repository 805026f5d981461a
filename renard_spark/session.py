"""SparkSession builder for the engine.

Local-mode friendly but configured the way a multi-executor cluster run
would be: AQE on (runtime join re-planning + skew-join splitting), Arrow
on (every Python crossing is Arrow-batched), shuffle partitions
sized to the parallelism rather than the 200 default. The driver JVM
it launches gets one JIT policy (``JIT_FLAGS``): C2 compiles only code
that is really hot, one-off planner and codegen code stays in C1.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def machine_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """$RENARD_SPARK_DRIVER_MEM, else a quarter of physical memory: a
    heap larger than the machine lets G1 grow it with garbage until the
    kernel kills the JVM, one sized to it makes it collect instead."""
    mem = os.environ.get("RENARD_SPARK_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{kb // 4 // 1024}m"


# C2 (tier-4) thresholds at 10x their JDK 17 defaults (5000, 600, 15000,
# 40000). A query's Catalyst, planner and generated code runs only a few
# times, yet at the defaults C2 compiled it on the first execution of
# every query: JIT compile time was over half of a short job's CPU.
# Hot loops (operators over many rows, iterative graph rounds) still
# reach C2, so steady-state passes keep their speed; C1-only
# (-XX:TieredStopAtLevel=1) would not: repeated near_dup_pairs at sf0.1
# took 1.6x the CPU and 2x the wall. The flags go in defaultJavaOptions,
# which spark-submit puts in front of extraJavaOptions, so a caller's
# own extraJavaOptions (e.g. perfbench's tmpdir) adds to them instead of
# replacing them. A caller who passes spark.driver.defaultJavaOptions
# in extra_conf replaces the policy, and a JVM that is already running
# (e.g. one launched by spark-submit) is unaffected.
JIT_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)


def get_spark(
    app_name: str = "renard_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession sized to the machine
    (``machine_cpus``, ``driver_memory``).

    On a real cluster the master/em resource configs come from
    spark-submit and the ``local[n]`` master here is ignored.
    """
    if cpus is None:
        cpus = machine_cpus()
    if shuffle_partitions is None:
        # at least one shuffle partition per core; more would help skew
        # but local mode pays per-task overhead.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~10k rows per Arrow batch keeps per-doc UDF memory bounded even
        # for long documents; the UDFs micro-batch internally anyway.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.defaultJavaOptions", " ".join(JIT_FLAGS))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let the planner pick shuffled-hash join when its size
        # conditions hold (guide: often faster than sort-merge when one
        # side is moderately small per partition; AQE still rewrites /
        # splits skew at runtime). Measured -0.5s on the co-occurrence
        # edge pipeline at sf0.1; on a cluster the same flag is the
        # standard starting config (sort-merge remains the fallback
        # whenever the hash-side size conditions are not met).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # allow joins to reuse an existing partitioning on a SUBSET of
        # the join keys (the pre-3.3 behavior): the per-document
        # pipelines establish hash(doc_id) once and every downstream
        # block/self join is keyed (doc_id, ...), so with the default
        # 'true' each of those joins pays a fresh full-key exchange of
        # both sides. doc_id is unique per row — the subset key is as
        # fine-grained as the data, so this trades no skew for the
        # removed shuffles (and AQE skew-join still splits outliers).
        # Measured 2.3s -> 1.6s on the co-occurrence edge pipeline.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
