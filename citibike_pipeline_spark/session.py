"""SparkSession factory with scale-oriented defaults.

The reference delegates all physical design to BigQuery plus manual schema-level
knobs (partitioning/clustering DDLs, ``raw_trips_current.sql:18-19``,
``silver_trips.sql:4-9``). Here the equivalents are session configs: AQE
(runtime re-plan + skew-join splitting), explicit shuffle parallelism, Arrow
for pandas-UDF exchange, and broadcast-join thresholds for small dims.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One advisory partition ~ one core's worth of work at test scale. On a real
# cluster this comes from spark-submit conf; these are local-mode defaults.
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "citibike_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the CDC/analytics workload.

    ``master`` resolution: explicit param > ``local[$SPARK_GRAFT_CPUS]`` (env) >
    whatever spark-submit provided (never overridden) > ``local[*]``.
    All configs are cluster-safe: on a real cluster the same code runs under
    ``spark-submit --py-files`` with master coming from the launcher.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus:
            master = f"local[{cpus}]"
        elif "PYSPARK_GATEWAY_PORT" not in os.environ:
            # plain `python script.py` (no launcher): default local[*].
            # Under spark-submit the PythonRunner gateway env is present and
            # the launcher's --master must win, so leave master unset there.
            master = "local[*]"
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        # Adaptive execution: runtime coalescing of small shuffle partitions and
        # skew-join splitting — the engine's answer to hot conversations on the
        # join side (the LWW resolve's full-key exchange spreads them on the
        # aggregate side, cdc.dedup).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        # Arrow transfer for pandas UDFs (the only sanctioned Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dims (tool catalog, date spine, nation/region) must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps are timezone-naive NYC-local in the reference
        # (date_helpers.py:6-13); NTZ keeps wall-clock semantics exactly.
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: the driver JVM heap IS the executor memory pool — all N
        # task slots share it, so it must scale with parallelism or high-core
        # runs spill in sorts/windows while low-core runs don't (which
        # inverts scaling measurements). 32g over 32 slots ≈ 1g/task.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Task-side output commit (committer v2): task files move to the
        # final dir at task commit instead of a serial driver rename pass at
        # job commit — measured ~0.3-0.5 s off every merge's serial tail.
        # Safe here: readers only see files the snapshot manifest lists, so
        # a failed job's stray files are invisible (the manifest IS the
        # atomicity boundary, not the committer).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
