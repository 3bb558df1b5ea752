"""SparkSession factory tuned for the extraction workload.

Local-mode defaults stand in for cluster settings; the same knobs are
what you'd set via spark-submit on a real multi-executor cluster:

  * AQE on (runtime coalesce + skew-join splitting) — the reference has
    no skew handling at all (SURVEY.md §4), which is exactly the gap a
    1000-page document exposes there and a 10k-turn conversation would
    expose here.
  * Arrow enabled with a bounded batch size so pandas-kernel memory is
    capped even for 64 KB turn texts (the analog of the reference's
    pagesPerChunk batching, file-processor.ts:269-345).
  * shuffle.partitions sized to cores for local runs; on a real cluster
    leave it to AQE's coalescing with a high initial value.
  * the driver JVM maps a build-once class-data-sharing archive of the
    Spark classes when this call launches it (cds.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from v2_ocr_spark import cds


def driver_memory() -> str:
    return os.environ.get("SPARK_DRIVER_MEM", "8g")


def get_spark(
    app_name: str = "v2-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,
) -> SparkSession:
    return cds.get_or_create(
        builder(app_name, master, shuffle_partitions, arrow_batch_rows),
        driver_memory())


def builder(
    app_name: str = "v2-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,
) -> SparkSession.Builder:
    # 4096 measured +60% extraction throughput over 2048 (Arrow
    # serialization amortizes; 8k/16k add nothing further). Worst-case
    # batch memory stays bounded: 4096 rows x 64 KB max turn text
    # = 256 MB per in-flight batch per Python worker.
    # the CPUs this process may run on, unless SPARK_GRAFT_CPUS says
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)

    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.sql.session.timeZone", "UTC")
        # bucketed saveAsTable target (pipeline/bucketing.py); keep the
        # warehouse out of the repo tree. Static conf — set at build.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/v2ocr_warehouse"),
        )
        # local-mode split sizing: the fixture tables are single small
        # parquet files; byte-range splits (at 4096-row row-group
        # boundaries) keep the scan parallel without a shuffle. On a
        # real cluster against a 100 TB table leave these at the
        # defaults (128m / 4m) — splits are naturally abundant there.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "64k")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
