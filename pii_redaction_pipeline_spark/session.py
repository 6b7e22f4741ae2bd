"""SparkSession factory with the configs the pipeline depends on.

Scale rationale (targets a 1000-executor cluster; tested on local[N]):
  - AQE on: runtime partition coalescing + skew-split for the heavy-tailed
    transcript-length distribution (north rule requires explicit skew
    handling; AQE is the Catalyst half, the fuzzy vocab broadcast and the
    one-time layout rewrite the job half).
  - Arrow enabled + small maxRecordsPerBatch: clips rows can carry MB-scale
    audio ``bytes``; 10k-row default batches would OOM the Python workers
    (SURVEY §4.3). 256 rows/batch keeps worker RSS bounded while amortizing
    Arrow overhead.
  - shuffle.partitions sized to cores for local mode; on a real cluster AQE
    coalesces from a higher initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default Arrow batch: safe middle ground. The pipeline overrides per run:
# text-only → ARROW_BATCH_TEXT (UDF throughput), audio present →
# ARROW_BATCH_AUDIO (bounds batch bytes with MB-scale binary rows).
ARROW_BATCH_ROWS = 1024
ARROW_BATCH_TEXT = 16384  # r7: 2 batches per 31k-row task beat 4 (−6% headline)
ARROW_BATCH_AUDIO = 256


def set_arrow_batch(spark, rows: int) -> None:
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))


def get_spark(app: str = "pii_scrub", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """`extra_conf` merges last (used by scaling_bench for local-cluster
    executor memory / PYTHONPATH; on a real cluster spark-submit owns
    these)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
