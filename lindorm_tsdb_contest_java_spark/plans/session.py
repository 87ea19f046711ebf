"""SparkSession factory with the engine's scale-oriented defaults.

Single place for the configs the north_rule calls out: AQE (runtime
re-planning + skew-join splitting), Arrow-batched Python UDF transfer,
UTC session timezone (determinism), and sane shuffle-partition counts for
the local[N] harness (on a real cluster these come from spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "lindorm-tsdb-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # several partitions per core: large text-heavy sort tasks spill and
    # GC-thrash (measured 25.9s @1x vs 3.8s @6x partitions on 6M rows);
    # AQE coalesces the small ones back, so over-partitioning is cheap
    shuffle = shuffle_partitions or max(cpus * 6, 48)
    # 12g measured fastest & most stable for the bench workloads — larger
    # heaps (24g/48g) gave erratic multi-second G1 pauses on this box
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "12g")
    extra_java = f"-Xms{driver_mem}"
    # co-tenant mode (tools/multiproc_scaling.py): without this, every
    # JVM sizes its GC/compiler/shuffle thread pools for ALL host CPUs —
    # 8 co-scheduled 4-core JVMs each spawning ~23 parallel GC threads
    # oversubscribe the box ~6x and collapse throughput
    apc = os.environ.get("SPARK_ACTIVE_PROCESSOR_COUNT")
    if apc:
        extra_java += f" -XX:ActiveProcessorCount={apc}"
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        # local mode defaults to 1g heap; effective only when this call
        # launches the JVM (fresh process), which bench/tests guarantee
        .config("spark.driver.memory", driver_mem)
        # -Xms == -Xmx: heap growth during the first big job showed up as
        # multi-second GC stalls in single-shot timings
        .config("spark.driver.extraJavaOptions", extra_java)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
        # on by default: every DataFrame/Column call walks the Python
        # stack and makes extra py4j calls to keep its call site for
        # error messages (one committed 7 d tier aggregate plan: ~1,300
        # py4j calls to build with it on, ~390 off)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
