"""SparkSession factory with the configs the pipeline depends on.

PIPELINE_CONF is the one table of them: `get_spark` adds the local-mode
keys (master, shuffle partitions, UI off, driver memory), job.py applies
it alone and leaves master and memory to spark-submit. No package code
writes session conf once the session has started.

Scale rationale (targets a 1000-executor cluster; tested on local[N]):
  - AQE on: runtime partition coalescing + skew-split for the heavy-tailed
    transcript-length distribution (north rule requires explicit skew
    handling; AQE is the Catalyst half, the fuzzy vocab broadcast and the
    one-time layout rewrite the job half). Set explicitly so a cluster's
    spark-defaults.conf cannot turn it off.
  - Arrow batches close at whichever of two bounds they reach first:
    16384 rows, where text rows amortize the UDFs' per-batch work, and
    64 MiB, so MB-scale audio ``bytes`` rows (about 64 per batch) cannot
    OOM the Python workers (SURVEY §4.3).
  - shuffle.partitions sized to cores for local mode; on a real cluster AQE
    coalesces from a higher initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PIPELINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # r7: 2 batches per 31k-row task beat 4 (−6% headline)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
    # a Python worker that crashes or hangs writes its Python traceback
    # into the task's error
    "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}

# CPUs this process may run on: the local[N] width wherever
# SPARK_GRAFT_CPUS is unset (get_spark, bench.py and the harness scripts)
HOST_CPUS = len(os.sched_getaffinity(0))


def get_spark(app: str = "pii_scrub", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """`extra_conf` merges last (used by scaling_bench for local-cluster
    executor memory / PYTHONPATH; on a real cluster spark-submit owns
    these)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CPUS))
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    conf = {
        **PIPELINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions
                                            or max(cpus, 8)),
        "spark.ui.enabled": "false",
        # a quarter of the host's RAM, so the JVM, its Python workers and
        # the page cache fit together
        "spark.driver.memory": f"{host_mb // 4}m",
        **(extra_conf or {}),
    }
    spark = (SparkSession.builder.master(master or f"local[{cpus}]")
             .appName(app).config(map=conf).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark
