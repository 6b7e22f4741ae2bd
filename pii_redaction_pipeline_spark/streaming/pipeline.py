"""Structured Streaming variant of the scrub pipeline.

The reference is strictly batch (SURVEY §2.9); this is the Spark-native
upgrade path: the same stage functions (all stateless row-local
transformations) compose unchanged over readStream. Checkpointing is
Spark's own WAL — complementary to the batch bucket-lineage resume in
sources/tableio.py.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..pipeline import PipelineConfig, apply_pipeline
from ..schema import CLIPS_SCHEMA


def scrub_stream(spark: SparkSession, source_dir: str, out_dir: str,
                 checkpoint_dir: str, cfg: PipelineConfig | None = None):
    """File-source stream of clips parquet → scrub pipeline → parquet sink.
    Trigger availableNow processes the backlog exactly once and stops —
    the streaming twin of a batch catch-up run."""
    cfg = cfg or PipelineConfig(with_audio_verify=False, with_ppl=False)
    stream = (spark.readStream.schema(CLIPS_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .parquet(source_dir))
    out = apply_pipeline(stream, cfg).drop("redactions")
    return (out.writeStream
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
