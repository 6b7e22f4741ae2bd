"""Explicit StructType schemas (SURVEY §1.3 — declared once, no inference).

Input table shape is authoritative from BASELINE.json input_hint:
clips(clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
transcript string).
"""

from __future__ import annotations

from pyspark.sql import types as T

CLIPS_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sr_hz", T.IntegerType(), True),
    T.StructField("dur_ms", T.IntegerType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("transcript", T.StringType(), True),
])

REDACTION_SCHEMA = T.StructType([
    T.StructField("original", T.StringType(), True),
    T.StructField("replacement", T.StringType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("confidence", T.DoubleType(), True),
    T.StructField("is_fuzzy", T.BooleanType(), True),
])

# Return struct of the detect_and_scrub pandas UDF: core.scrub_row's
# fields, ext_counts flattened, without `redactions` (a UDF of its own,
# functions/scrub.make_scrub_redactions, that runs only when read).
SCRUB_STRUCT = T.StructType([
    T.StructField("scrubbed_text", T.StringType(), True),
    T.StructField("n_exact", T.IntegerType(), True),
    T.StructField("n_fuzzy", T.IntegerType(), True),
    T.StructField("n_email", T.IntegerType(), True),
    T.StructField("n_ssn", T.IntegerType(), True),
    T.StructField("n_phone", T.IntegerType(), True),
    T.StructField("n_toxic", T.IntegerType(), True),
    T.StructField("verify_pii_count", T.IntegerType(), True),
])

# Return struct of the decode_verify pandas UDF.
DECODE_STRUCT = T.StructType([
    T.StructField("decode_ok", T.BooleanType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("decoded_sr", T.IntegerType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("stage", T.StringType(), True),
])

WER_STRUCT = T.StructType([
    T.StructField("wer", T.DoubleType(), True),
    T.StructField("substitutions", T.IntegerType(), True),
    T.StructField("insertions", T.IntegerType(), True),
    T.StructField("deletions", T.IntegerType(), True),
    T.StructField("reference_words", T.IntegerType(), True),
    T.StructField("hypothesis_words", T.IntegerType(), True),
])

MANIFEST_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("duration_sec", T.DoubleType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("has_pii", T.BooleanType(), True),
    T.StructField("pii_count", T.IntegerType(), True),
    T.StructField("deid_version", T.StringType(), True),
    T.StructField("qa_status", T.StringType(), True),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("n_kept", T.LongType(), True),
    T.StructField("n_errors", T.LongType(), True),
    T.StructField("elapsed_ms", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
])
