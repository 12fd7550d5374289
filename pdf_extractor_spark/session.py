"""SparkSession factory tuned for the extraction pipeline.

Local mode is a stand-in for a multi-executor cluster: every setting
here is chosen so the same job scales to 1000 executors reading 100 TB
(AQE on, Arrow transport for the pandas stages, shuffle partitions
sized to cores, small Arrow batches because payload rows are fat).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pdf_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    arrow_batch_rows is deliberately small: a pages row can carry a
    multi-MB binary payload, so the Arrow batch size — not the row
    count — is what bounds Python-worker memory. 256 fat rows per
    batch keeps a worker under ~1 GB even for 4 MB documents.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # fat-payload scan granularity: pages rows carry multi-KB..MB
        # binary payloads, so 128 MB splits (default) bin-pack many
        # files into few tasks — starving cores and breaking the
        # bucket-per-task alignment of pre-bucketed input. 16 MB keeps
        # splits ≈ files for bucketed layouts and bounds the payload
        # bytes a single Python stage instance holds.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # progress bars on stderr interleave with one-line JSON stdout
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # commit algorithm v2: task-side commit renames instead of a
        # serial driver-side pass — matters for many-bucket layouts
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
