"""Composable DataFrame pipeline: each stage is df -> df (SURVEY §3.2).

Stage order mirrors the reference 5-stage chain re-expressed Spark-first
(src/pipeline.py:106-204): input table scan → quality Column expressions
→ langid and detect_and_scrub pandas UDFs → grade CASE → (optional)
audio decode-verify → results. Catalyst fuses the langid, scrub and ppl
UDFs into one ArrowEvalPython stage. The langid and scrub kernels each
tokenize an Arrow batch once (functions/tokens.split_batch) and do their
Python work once per distinct token of the batch, not once per token.

Scale notes (100 TB / 1000 executors):
  - All logic is row-local → no shuffle anywhere in the hot path. Balance
    comes from the SCAN: with 128 MB row groups and
    spark.sql.files.maxPartitionBytes tuned to ~(table bytes)/(8 × total
    cores), uniform-byte splits spread heavy-tailed transcript lengths
    across tasks without moving the table through a shuffle. The one
    exchange is at the sink, after all pipeline work:
    tableio.write_partitioned rebalances result rows by bucket so the
    partitioned write makes one file per bucket, not one per scan split
    per bucket.
  - Per-row cost that is NOT byte-proportional has two remedies, neither
    a runtime exchange: the fuzzy vocab broadcast (fuzzy_vocab_broadcast)
    makes the fuzzy layer a dict hit per token, which removes the
    hot-vocabulary cost class at its root; for cost clustered in a few
    input files, the one-time layout rewrite
    (sources/tableio.cost_balanced_rewrite, `job.py --rewrite-layout`)
    mixes rows across files once. On the skew fixture the broadcast alone
    ran 3.1× faster than per-row fuzzy behind a salted exchange
    (BENCH/SALT_VALIDATION.md).
  - apply_pipeline picks the fuzzy path from its input's size
    (fuzzy_vocab_auto) unless PipelineConfig.fuzzy_vocab_broadcast forces
    one, and is eager (one vocabulary job up front) only on the vocab
    broadcast path.
  - `bytes` is projected into the decode stage only; with
    with_audio_verify=False Catalyst prunes it out of the scan entirely
    (check .explain → ReadSchema excludes bytes).
  - Building the plan writes no session conf: the Arrow batch bounds
    (rows and bytes) are static in session.PIPELINE_CONF.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.audio import with_decode_verify
from .functions.fuzzy_sql import collect_fuzzy_vocab_map
from .functions.perplexity import with_ppl
from .functions.quality import with_grade, with_langid, with_quality
from .functions.scrub import with_scrub

logger = logging.getLogger(__name__)

# batch inputs this large amortize the vocab broadcast's extra job. Size
# alone does not see hot-vocabulary skew, which makes the broadcast the
# faster path on smaller inputs too (SCALE.md, Round 7); that case is
# what PipelineConfig.fuzzy_vocab_broadcast=True is for
FUZZY_VOCAB_MIN_BYTES = 1 << 30


@dataclass
class PipelineConfig:
    with_audio_verify: bool = True
    with_ppl: bool = True
    # False → exact word path + regex scrub only (no fuzzy layer): the
    # SQL-mirrorable pipeline subset behind the pipeline_exact_only
    # oracle row; production runs keep the default True
    with_fuzzy: bool = True
    # the fuzzy path: None lets apply_pipeline pick it from the input's
    # size (fuzzy_vocab_auto); True forces the vocabulary broadcast
    # (functions/fuzzy_sql.collect_fuzzy_vocab_map, one relational job
    # whose result the scrub UDF looks up), False the per-row sweep.
    # Identical output either way (test-pinned).
    fuzzy_vocab_broadcast: bool | None = None


def fuzzy_vocab_auto(df: DataFrame) -> tuple[bool, int | None]:
    """The rule that picks the vocabulary-broadcast fuzzy path: on when
    the plan's size estimate is at least FUZZY_VOCAB_MIN_BYTES. Returns
    (decision, estimated bytes or None when unknown).

    An input without size stats (an RDD-backed DataFrame, a catalog table
    that was never analyzed) reports spark.sql.defaultSizeInBytes, which
    is Long.MaxValue unless set. That number says nothing about the
    input, so any estimate at or above it counts as unknown and keeps the
    per-row path, the faster one on ordinary inputs."""
    spark = df.sparkSession
    est = int(df._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    if est >= int(spark._jsparkSession.sessionState().conf()
                  .defaultSizeInBytes()):
        return False, None
    return est >= FUZZY_VOCAB_MIN_BYTES, est


def _fuzzy_path_name(use_vocab_map: bool) -> str:
    return "vocab broadcast" if use_vocab_map else "per-row"


def apply_pipeline(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    cfg = cfg or PipelineConfig()
    audio_on = cfg.with_audio_verify and "bytes" in df.columns
    use_vocab_map = False
    if cfg.with_fuzzy and cfg.fuzzy_vocab_broadcast is not None:
        use_vocab_map = cfg.fuzzy_vocab_broadcast
        logger.info("fuzzy path: %s (set by fuzzy_vocab_broadcast)",
                    _fuzzy_path_name(use_vocab_map))
    elif cfg.with_fuzzy:
        # a stream never asks for plan stats: each microbatch brings new
        # vocabulary, so it keeps the per-row path
        use_vocab_map, est = ((False, None) if df.isStreaming
                              else fuzzy_vocab_auto(df))
        logger.info("fuzzy path: %s (input estimate %s bytes, threshold "
                    "%d bytes)", _fuzzy_path_name(use_vocab_map),
                    "unknown" if est is None else est, FUZZY_VOCAB_MIN_BYTES)
    df = with_quality(df)                 # pure Column exprs (codegen)
    df = with_langid(df)                  # pandas UDF, fused with scrub/ppl
    fmap = (collect_fuzzy_vocab_map(df, df.sparkSession, "transcript")
            if use_vocab_map else None)
    df = with_scrub(df, cfg.with_fuzzy, fmap)  # hot-path pandas UDF
    if audio_on:
        df = with_decode_verify(df)       # only stage that touches `bytes`
    df = with_grade(df)                   # CASE grading; fuses decode_ok
    if cfg.with_ppl:
        df = with_ppl(df)
    return df


def manifest_df(results: DataFrame) -> DataFrame:
    """Per-clip metadata manifest (reference src/pipeline.py:269-298),
    as a table instead of a JSON file — realizes the reference's own
    'Parquet would be better at scale' note (src/pipeline.py:292)."""
    return results.select(
        "clip_id",
        (F.col("dur_ms") / 1000.0).alias("duration_sec"),
        F.col("sr_hz").alias("sample_rate"),
        (F.col("pii_count") > 0).alias("has_pii"),
        "pii_count",
        F.date_format(F.current_date(), "yyyy-MM-dd").alias("deid_version"),
        "qa_status",
    )


def deid_json_df(results: DataFrame) -> DataFrame:
    """Redacted-transcript JSON sink shape (reference S4/S5,
    src/pipeline.py:206-222 + text_redactor to_dict :36-67): one JSON
    document per clip as a column — file-per-row becomes rows-in-table,
    written wherever the caller points `.write`."""
    return results.select(
        "clip_id",
        F.to_json(F.struct(
            F.col("clip_id").alias("conversation_id"),
            F.col("transcript").alias("original_text"),
            F.col("scrubbed_text").alias("redacted_text"),
            F.col("redactions"),
            F.col("pii_count"),
        )).alias("deid_json"))


def qa_report_df(results: DataFrame) -> DataFrame:
    """Job-level QA aggregate (reference src/pipeline.py:300-341):
    one hash-agg pass, partial+final for free."""
    return results.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum("pii_count").alias("total_pii"),
        F.sum(F.when(F.col("qa_status") == "PASS", 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("qa_status") == "REVIEW_REQUIRED", 1).otherwise(0)).alias("n_review"),
        F.sum(F.when(F.col("qa_status") == "FAIL", 1).otherwise(0)).alias("n_fail"),
        F.avg("word_cnt").alias("avg_words"),
    )
