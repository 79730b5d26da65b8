"""SparkSession factory tuned for the engine.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor; the knobs that matter at 100 TB (AQE, skew join handling, Arrow
batch size, shuffle partition count) are on by default here so local tests
exercise the same planner behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "splade_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    shuffle_partitions defaults to max(cores, 32) — at cluster scale this
    would be sized as total-cores × 2-3, or left to AQE coalescing.

    iceberg_warehouse: if set, registers a hadoop-type Iceberg catalog
    named `local` rooted there (requires the iceberg-spark-runtime jar on
    the classpath — pass it via spark.jars.packages on a real cluster;
    index.build.iceberg_available() reports whether it loaded).

    $SPLADE_ICEBERG_JAR: optional path to a vendored
    iceberg-spark-runtime jar. When set and present, it is added to
    spark.jars so the Iceberg code path (and its round-trip test) runs
    without network ivy — the sandbox has no jar and no way to fetch one,
    so this is the hook that closes the gap the day a jar exists.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores or 32, 32)

    # under spark-submit the JVM already exists with the submitted
    # --master/--conf (PYSPARK_GATEWAY_PORT is set by the launcher);
    # forcing local[...] here would override the cluster master
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    builder = SparkSession.builder
    if not under_submit:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPLADE_SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    jar = os.environ.get("SPLADE_ICEBERG_JAR")
    if jar and os.path.exists(jar):
        builder = builder.config("spark.jars", jar)
    if iceberg_warehouse:
        builder = (
            builder.config(
                "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", iceberg_warehouse)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, columns: dict, schema) -> DataFrame:
    """Driver-held columns as a frame whose plan is a ``LocalRelation``.

    Reading such a frame back (``collect``, ``isLocal``) runs no Spark job.
    Built from an Arrow table, because ``createDataFrame(pandas)`` falls
    back to an RDD, whose every read is a job, for an empty frame or with
    Arrow conversion off. Above ``spark.sql.execution.arrow.
    localRelationThreshold`` Spark itself keeps the rows in an RDD instead;
    the rows are the same either way."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)
