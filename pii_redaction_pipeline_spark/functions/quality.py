"""Quality heuristics + langid + grading as pure Column expressions.

North rule: "heuristic quality rules (length, repetition ratio, symbol
density, langid-confidence thresholds) expressed as DataFrame column
expressions" and "verification grade — CASE WHEN on thresholds, no UDF".
Everything here stays inside whole-stage codegen (JVM, no Python).

Semantics must match core.quality_metrics / core.langid / core.grade
exactly — the pytest oracle enforces it. Tokenization is ONE Java
split(lower(text), '\\s+') with empties filtered, which equals Python
str.split() on ASCII whitespace (datagen emits no exotic unicode
whitespace). Case mapping never creates or removes a Java `\\s` char
([ \\t\\n\\x0B\\f\\r]), so the lowered tokens count the same words
as the original text's. The symbol count deletes exactly those chars
plus [A-Za-z0-9] with `translate`, no regex.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import lexicon as lx

# the chars Java's [A-Za-z0-9\s] matches: translate() deletes each one
_WORD_CHARS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
               "0123456789 \t\n\x0b\f\r")


def with_quality(df, text_col: str = "transcript"):
    """word_cnt, distinct_ratio, symbol_density, quality_ok columns.

    Both counts come from one lower-then-split: `transform(tokens,
    lower)` would be an interpreted HigherOrderFunction evaluated per
    token outside codegen (measured ~2 s of the 1M-clip quality stage,
    round 7), and word_cnt needs no original-case tokens. array_remove
    == filter(x -> x != '') but stays in codegen too."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    tokens = F.array_remove(F.split(F.lower(text), r"\s+"), "")
    word_cnt = F.size(tokens)
    distinct_ratio = F.when(
        word_cnt > 0, F.size(F.array_distinct(tokens)).cast("double") / word_cnt
    ).otherwise(F.lit(0.0))
    n_chars = F.length(text)
    symbol_cnt = F.length(F.translate(text, _WORD_CHARS, ""))
    symbol_density = F.when(n_chars > 0,
                            symbol_cnt.cast("double") / n_chars).otherwise(F.lit(0.0))
    df = df.withColumns({"word_cnt": word_cnt, "distinct_ratio": distinct_ratio,
                         "symbol_density": symbol_density})
    return df.withColumn(
        "quality_ok",
        (F.col("word_cnt") >= lx.QUALITY_MIN_WORDS)
        & (F.col("word_cnt") <= lx.QUALITY_MAX_WORDS)
        & ((F.col("word_cnt") < lx.QUALITY_DISTINCT_RATIO_MIN_WORDS)
           | (F.col("distinct_ratio") >= lx.QUALITY_MIN_DISTINCT_RATIO))
        & (F.col("symbol_density") <= lx.QUALITY_MAX_SYMBOL_DENSITY),
    )


def with_langid(df, text_col: str = "transcript"):
    """lang + lang_conf via the vectorized langid UDF (north rule:
    "fastText langid ... run as vectorized pandas/Arrow UDFs"; the
    stand-in is core.langid's stopword-hit scorer). Catalyst fuses this
    into the same ArrowEvalPython stage as the scrub UDF — zero extra
    Python round trips.

    A pure-Column formulation exists (see git history) but the argmax
    CASE chain re-references each per-language score expression ~7× and
    Catalyst re-inlines interpreted HOFs instead of CSE-ing them — 40
    HOF evaluations per row, ~12 ms/row. The UDF kernel is ~5 µs/row."""
    from .langid import langid_udf

    df = df.withColumn("_lid", langid_udf(F.col(text_col)))
    return df.withColumns({"lang": F.col("_lid.lang"),
                           "lang_conf": F.col("_lid.lang_conf")}).drop("_lid")


def with_grade(df):
    """qa_status = worst-of(text_status, audio_status) + keep decision.

    text_status: CASE over the verification rescan count (reference
    thresholds src/config.py:42-44). audio_status: only when the audio
    decode-verify stage ran (a `decode_ok` column exists) — a clip whose
    audio cannot be decoded maps to REVIEW_REQUIRED, mirroring the
    reference's failed audio verification branch (src/verifier.py:185-191);
    the combine is the reference's worst-of rule (src/verifier.py:41-55,
    FAIL > REVIEW_REQUIRED > PASS_WITH_NOTE > PASS). With text-only
    pipelines qa_status is text_status alone, like the reference with
    audio_status=None (src/verifier.py:42-44).

    PASS_WITH_NOTE stays unreachable in BOTH engines: every match the
    detector emits carries confidence ≥ FUZZY_MIN_CONFIDENCE (the fuzzy
    gate at src/pii_detector.py:328 uses the same threshold as the
    high-confidence filter at src/verifier.py:106-109, and exact/rescan
    matches are 1.0), so the all-low-confidence branch can never trigger
    — bug-compatible with the reference."""
    v = F.col("verify_pii_count")
    text_status = (
        F.when(v == 0, "PASS")
        .when(v <= lx.VERIFY_REVIEW_THRESHOLD, "REVIEW_REQUIRED")
        .otherwise("FAIL"))
    if "decode_ok" in df.columns:
        # audio_status ∈ {PASS, REVIEW_REQUIRED}; worst-of collapses to:
        status = (
            F.when(text_status == "FAIL", "FAIL")
            .when(~F.coalesce(F.col("decode_ok"), F.lit(False)),
                  "REVIEW_REQUIRED")
            .otherwise(text_status))
    else:
        status = text_status
    return df.withColumns({
        "qa_status": status,
        "keep": (F.col("quality_ok")
                 & (F.col("lang_conf") >= lx.LANGID_MIN_CONFIDENCE)
                 & (status == "PASS")),
    })
