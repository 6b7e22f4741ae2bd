"""Table IO seam + per-partition lineage + checkpoint-resume.

North rule: "write results back to Iceberg with per-partition lineage +
metrics rows enabling checkpoint-resume of partially completed runs."
The reference lists exactly this as future work (NOTES.md:42 "Incremental
processing - skip already-processed files").

Design (Iceberg-first, parquet fallback — SURVEY §7.3.4):
  - The unit of work is a *bucket*: pmod(hash(clip_id), n_buckets). Rows
    are bucketed deterministically, so a bucket is a stable, idempotent
    partition of the input regardless of cluster size.
  - Results land in a table partitioned by `bucket`. With Iceberg this is
    `writeTo(...).overwritePartitions()` (atomic snapshot per run); on the
    parquet fallback it is dynamic partition overwrite — a re-processed
    bucket replaces its own files only.
  - The parquet sink is the job's one exchange: a REBALANCE on `bucket`
    after all Python work, so each bucket reaches one writer. Without it
    every scan task opens a file in every bucket it holds rows of —
    (scan splits × buckets) files, and on a local filesystem without
    Hadoop's native library each created file forks a process. The
    pipeline before the sink stays row-local.
  - After the results job commits, one lineage row per completed bucket is
    appended (run_id, bucket, n_rows, n_kept, n_errors, elapsed_ms, DONE).
  - Resume = anti-join: buckets with a DONE lineage row are skipped; only
    unfinished buckets are read (partition pruning on the input side when
    the source is bucket-partitioned) and re-processed. A bucket that was
    half-written but never recorded DONE is simply overwritten — so a
    killed run never duplicates or loses rows.

This module is pure job logic — no custom Catalyst rules (SURVEY §4.3).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "bucket"


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured on the session (the
    sandbox has no Iceberg jars, so this is False here; on a cluster,
    spark-submit carries --packages org.apache.iceberg:... and a catalog
    config, and the seam below switches to snapshot-atomic writes)."""
    try:
        for key in ("spark.sql.catalog.spark_catalog",
                    "spark.sql.catalog.local"):
            impl = spark.conf.get(key, "")
            if impl and "iceberg" in impl.lower():
                return True
    except Exception:
        pass
    return False


def write_partitioned(df: DataFrame, target: str, spark: SparkSession) -> None:
    """Partition-overwrite write seam: Iceberg `overwritePartitions()`
    (atomic snapshot per run) when a catalog is configured and `target`
    is a table name; parquet dynamic partition overwrite otherwise —
    same contract: a re-processed bucket replaces only its own rows.

    The parquet branch first rebalances the rows by bucket. One hash
    exchange after all Python work sends each bucket's rows to one task,
    and AQE coalesces small partitions and splits oversized ones to
    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, so a run writes
    about one file per bucket instead of one per scan split per bucket
    (audio_job, 1000 clips in 4 splits × 64 buckets: 250 → 64 files).
    On Iceberg the table's `write.distribution-mode` does this."""
    if "/" not in target and iceberg_available(spark):
        df.writeTo(target).overwritePartitions()
    else:
        (df.hint("rebalance", BUCKET_COL)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(BUCKET_COL)
         .parquet(target))


def child_path(root: str, name: str) -> str:
    """`root`/`name` for a local path or a URI. pathlib would turn
    `file:///x` into `file:/x` and `s3a://b/x` into `s3a:/b/x`."""
    return f"{root.rstrip('/')}/{name}"


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the session's Hadoop FileSystem, so a URI
    (`file://`, `s3a://`, `hdfs://`) is checked where Spark writes it."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def append_metrics(metrics: DataFrame, out_dir: str, source: str,
                   run_id: str | None = None) -> None:
    """Append one-row metric DataFrames (e.g. dedup.lsh_bucket_stats,
    similarity.embedding_bucket_stats) as LONG-format rows next to the
    lineage table: (run_id, source, metric, value, ts_ms). Long format
    keeps the metrics table schema stable as new monitors are added —
    production runbooks (SCALE.md: "monitor candidate volume and raise
    N_IVF_BITS / widen hash slices") read this table."""
    run_id = run_id or uuid.uuid4().hex[:12]
    ts_ms = int(time.time() * 1000)
    wide = metrics.collect()  # one row by contract — metadata-scale
    rows = [(run_id, source, c, float(r[c]), ts_ms)
            for r in wide for c in metrics.columns]
    (metrics.sparkSession.createDataFrame(
        rows, "run_id string, source string, metric string, "
              "value double, ts_ms long")
     .write.mode("append").parquet(child_path(out_dir, "metrics")))


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(child_path(out_dir, "metrics"))


def with_bucket(df: DataFrame, n_buckets: int, key: str = "clip_id") -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash(F.col(key)), F.lit(n_buckets)).cast("int"))


def cost_balanced_rewrite(clips: DataFrame, out_path: str,
                          n_files: int | None = None,
                          cores: int | None = None,
                          files_per_core: int = 16) -> int:
    """One-time offline layout rewrite for inputs whose per-row cost is
    clustered in a few files (`job.py --rewrite-layout`): hash-spread the
    rows uniformly across many small files, so every later scan split
    carries the same cost mixture and the job stays shuffle-free
    (BENCH/SALT_VALIDATION.md measured N→4N efficiency 0.69 → 0.86).

    After a uniform shuffle on the row key every output file holds an
    unbiased sample of the corpus: rows that sat in a few contiguous
    files become ~n_hot / n_files rows in every file (test-pinned:
    every file holds 0.5×-2× its even share of the hot rows).

    `n_files` defaults to files_per_core × cores, fine enough that a
    cluster 4× bigger still gets ≥4 waves of splits. Repartition is on
    the key COLUMN (hash(col) once inside the exchange); repartitioning
    on a precomputed pmod(hash(key), n) re-hashes the n bucket values
    and collides them into fewer partitions (measured: 16 values → 10
    non-empty partitions). Returns the file count written."""
    if n_files is None:
        if cores is None:
            cores = clips.sparkSession.sparkContext.defaultParallelism
        n_files = files_per_core * max(cores, 1)
    key = "clip_id" if "clip_id" in clips.columns else clips.columns[0]
    (clips.repartition(n_files, F.col(key))
     .write.mode("overwrite").parquet(out_path))
    return n_files


class ResumableRun:
    """Checkpoint-resumable pipeline execution over bucketed input."""

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 64):
        self.spark = spark
        self.n_buckets = n_buckets
        self.results_path = child_path(out_dir, "results")
        self.lineage_path = child_path(out_dir, "lineage")

    # -- lineage ------------------------------------------------------------

    def done_buckets(self) -> set[int]:
        if not path_exists(self.spark, self.lineage_path):
            return set()
        rows = (self.spark.read.parquet(self.lineage_path)
                .where(F.col("status") == "DONE")
                .select(BUCKET_COL).distinct().collect())
        return {r[BUCKET_COL] for r in rows}

    def _append_lineage(self, run_id: str, stats: DataFrame, elapsed_ms: int):
        (stats
         .withColumn("run_id", F.lit(run_id))
         .withColumn("elapsed_ms", F.lit(elapsed_ms).cast("long"))
         .withColumn("status", F.lit("DONE"))
         .select("run_id", BUCKET_COL, "n_rows", "n_kept", "n_errors",
                 "elapsed_ms", "status")
         .write.mode("append").parquet(self.lineage_path))

    # -- execution ----------------------------------------------------------

    def run(self, clips: DataFrame, process_fn, max_buckets: int | None = None,
            run_id: str | None = None) -> dict:
        """Process all not-yet-DONE buckets. `max_buckets` caps how many
        buckets this invocation completes (used by tests to simulate a
        killed run; on a cluster it bounds one spark-submit's work)."""
        run_id = run_id or uuid.uuid4().hex[:12]
        done = self.done_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return {"run_id": run_id, "processed_buckets": 0,
                    "skipped_buckets": len(done)}

        t0 = time.time()
        bucketed = with_bucket(clips, self.n_buckets)
        todo = bucketed.where(F.col(BUCKET_COL).isin(pending))
        results = process_fn(todo)

        write_partitioned(results, self.results_path, self.spark)

        elapsed_ms = int((time.time() - t0) * 1000)
        # metrics from the committed table (not the plan) → lineage reflects
        # what is actually on disk
        written = (self.spark.read.parquet(self.results_path)
                   .where(F.col(BUCKET_COL).isin(pending)))
        agg = [F.count(F.lit(1)).alias("n_rows")]
        agg.append((F.sum(F.col("keep").cast("long")) if "keep" in results.columns
                    else F.lit(0)).alias("n_kept"))
        agg.append((F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
                    if "error" in results.columns else F.lit(0)).alias("n_errors"))
        # left-join against the pending list so buckets that produced zero
        # rows still get a DONE row (n_rows=0) — otherwise resume re-selects
        # them forever and a drive-until-done loop never terminates
        pending_df = self.spark.createDataFrame(
            [(int(b),) for b in pending], f"{BUCKET_COL} int")
        stats = (pending_df
                 .join(written.groupBy(BUCKET_COL).agg(*agg),
                       BUCKET_COL, "left")
                 .fillna(0, subset=["n_rows", "n_kept", "n_errors"]))
        self._append_lineage(run_id, stats, elapsed_ms)
        return {"run_id": run_id, "processed_buckets": len(pending),
                "skipped_buckets": len(done), "elapsed_ms": elapsed_ms}

    def results(self) -> DataFrame:
        return self.spark.read.parquet(self.results_path)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)
