"""SparkSession factory tuned for this engine.

Scale posture (SURVEY.md §4/§7): AQE on (runtime join selection, skew
splitting, partition coalescing), Arrow on (every pandas_udf boundary is
vectorized), shuffle partitions sized to the local core count rather than
the 200 default — on a real cluster this is set to ~2-3x total cores and
AQE coalesces down.  Session timezone is pinned to UTC so timestamp
semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``min(16g, MemTotal/2)`` in MiB: a fixed 16g heap ceiling sits
    above physical memory on a host with less than 32 GiB of RAM.  Falls
    back to 16g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(16 * 1024, int(line.split()[1]) // 2048)}m"
    except OSError:
        pass
    return "16g"


def get_spark(app_name: str = "politician-etl-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Split-size governs scan parallelism: the default 128 MiB is right for
    # a cluster reading TB-scale tables, but the local bench tables are
    # single ~1-10 MiB parquet files which would scan as 1-3 tasks on 32
    # cores.  Size splits so the largest bench table fans out across the
    # local cores; leave the default on a real cluster.
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Default parallelismFirst=true coalesces only to minPartitionSize
        # (1 MiB), so every reduce stage still schedules a full wave of
        # tasks over kilobytes of shuffle data — pure scheduling overhead
        # when query latency is the target (most reduce work here is an
        # aggregation merge; map-side parallelism comes from input splits
        # and is unaffected).  Target the advisory size instead; 2 MiB
        # measured best locally — tiny reduce stages coalesce to one
        # task while fact-table aggregations (q18/q21 class) keep enough
        # reduce parallelism (8 MiB cost them ~25%).  On a cluster the
        # 64 MiB default advisory is the right order.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(2 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Partition-pruned store probes (ingest fps/bands, ANN indexes)
        # pass up to ~512 explicit directory paths; above this threshold
        # Spark launches a DISTRIBUTED LISTING JOB per read, which costs
        # ~0.5-0.9 s of pure job scheduling to list <1 MB of local files
        # (measured: probe DataFrame creation 0.86 s -> 0.11 s at 1024).
        # Local/HDFS metadata stats are microseconds-to-ms so the driver
        # loop wins by orders of magnitude; on an object-store cluster
        # where LIST calls are slow, lower it.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
