"""Composable DataFrame pipeline: each stage is df -> df (SURVEY §3.2).

Stage order mirrors the reference 5-stage chain re-expressed Spark-first
(src/pipeline.py:106-204): input table scan → quality/langid Column
expressions → detect_and_scrub pandas UDF → grade CASE → (optional)
audio decode-verify → results.

Scale notes (100 TB / 1000 executors):
  - All logic is row-local → no shuffle anywhere in the hot path. Balance
    comes from the SCAN: with 128 MB row groups and
    spark.sql.files.maxPartitionBytes tuned to ~(table bytes)/(8 × total
    cores), uniform-byte splits spread heavy-tailed transcript lengths
    across tasks without moving the table through a shuffle.
  - Per-row cost that is NOT byte-proportional has two remedies, neither
    a runtime exchange: the fuzzy vocab broadcast (fuzzy_vocab_broadcast)
    makes the fuzzy layer a dict hit per token, which removes the
    hot-vocabulary cost class at its root; for cost clustered in a few
    input files, the one-time layout rewrite
    (sources/tableio.cost_balanced_rewrite, `job.py --rewrite-layout`)
    mixes rows across files once. On the skew fixture the broadcast alone
    ran 3.1× faster than per-row fuzzy behind a salted exchange
    (BENCH/SALT_VALIDATION.md).
  - `bytes` is projected into the decode stage only; with
    with_audio_verify=False Catalyst prunes it out of the scan entirely
    (check .explain → ReadSchema excludes bytes).
  - Arrow batches are sized per run (session.set_arrow_batch):
    ARROW_BATCH_TEXT rows on the text path, where big batches amortize
    the UDFs' per-batch work; ARROW_BATCH_AUDIO when audio bytes flow,
    so MB-scale rows can't OOM Python workers.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.audio import with_decode_verify
from .functions.perplexity import with_ppl
from .functions.quality import with_grade, with_langid, with_quality
from .functions.scrub import with_scrub


@dataclass
class PipelineConfig:
    with_audio_verify: bool = True
    with_ppl: bool = True
    # False → exact word path + regex scrub only (no fuzzy layer): the
    # SQL-mirrorable pipeline subset behind the pipeline_exact_only
    # oracle row; production runs keep the default True
    with_fuzzy: bool = True
    # fuzzy_vocab_broadcast=True precomputes the fuzzy layer ONCE over
    # the corpus's distinct vocabulary (functions/fuzzy_sql.
    # collect_fuzzy_vocab_map — one relational job, result broadcast in
    # the UDF closure) instead of sweeping per row/worker. Identical
    # output (test-pinned); per-row cost becomes byte-proportional —
    # the 10^12-scale path, and the root fix for hot-vocabulary skew.
    # Note: makes apply_pipeline EAGER (one small Spark job up front).
    fuzzy_vocab_broadcast: bool = False
    text_col: str = "transcript"


def apply_pipeline(df: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    cfg = cfg or PipelineConfig()
    # Arrow batch sizing: big batches amortize UDF overhead on the text
    # path; small batches bound per-batch bytes when MB-scale audio rows
    # flow through the decode UDF (SURVEY §4.3).
    from .session import ARROW_BATCH_AUDIO, ARROW_BATCH_TEXT, set_arrow_batch
    audio_on = cfg.with_audio_verify and "bytes" in df.columns
    set_arrow_batch(df.sparkSession,
                    ARROW_BATCH_AUDIO if audio_on else ARROW_BATCH_TEXT)
    df = with_quality(df, cfg.text_col)   # pure Column exprs (codegen)
    df = with_langid(df, cfg.text_col)    # pandas UDF, fused with scrub/ppl
    fmap = None
    if cfg.with_fuzzy and cfg.fuzzy_vocab_broadcast:
        from .functions.fuzzy_sql import collect_fuzzy_vocab_map
        fmap = collect_fuzzy_vocab_map(df, df.sparkSession, cfg.text_col)
    df = with_scrub(df, cfg.text_col, cfg.with_fuzzy, fmap)  # hot-path pandas UDF
    if audio_on:
        df = with_decode_verify(df)       # only stage that touches `bytes`
    df = with_grade(df)                   # CASE grading; fuses decode_ok
    if cfg.with_ppl:
        df = with_ppl(df, cfg.text_col)
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
