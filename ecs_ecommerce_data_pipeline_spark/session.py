"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configs are chosen so the
same code scales to a real cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), UTC session timezone (deterministic
date/timestamp semantics and DuckDB-oracle parity), Arrow enabled for the
few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ecs_ecommerce_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters mirror what a cluster deployment would override: ``master``
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) else ``local[*]``;
    ``shuffle_partitions`` defaults to the local core count (the Spark
    default of 200 over-parallelizes small local runs and under-parallelizes
    100 TB ones — at scale set it ~2-3x total executor cores, or rely on AQE
    coalescing from a high initial value).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- determinism / oracle parity --
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution: runtime re-plan, skew splitting, coalesce --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing --
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- Arrow for pandas_udf / toPandas boundaries --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- scans: keep parquet row-groups parallel-friendly --
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # -- testdata events.parquet carries TIMESTAMP(NANOS) which the
        #    vectorized reader rejects; read as long and normalize in the
        #    loader (sources/testdata.py) --
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- partitioned-sink upserts (SURVEY §4.1 incremental computation) --
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # -- quieter local runs --
        .config("spark.ui.showConsoleProgress", "false")
    )
    if os.environ.get("SPARK_GRAFT_LOCAL_DRIVER_MEM"):
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_LOCAL_DRIVER_MEM"]
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
