"""Query registry: every operator exposed through the driver contract.

Each entry is (spark_fn, duckdb_oracle_sql | None). The Spark side is the
engine under test; the DuckDB SQL is the independent oracle the driver
runs side-by-side at sf=0.01. Column names/types are aligned on both
sides (the driver hashes values with columns sorted by name).

The `documents` table carries synthetic word-soup text with no PII, so
detection queries enrich it deterministically in-query (ENRICH_SQL — same
expression evaluated by both engines) to make the scrub path
discriminating.

Float columns that feed the value-hash are rounded on both sides; all
count-ish columns are cast to bigint on both sides.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lexicon as lx
from .functions import text as tx
from .functions.quality import with_langid, with_quality

# deterministic per-row enrichment — valid in Spark SQL and DuckDB SQL
ENRICH_SQL = (
    "concat(coalesce(text, ''), ' ', CASE doc_id % 10 "
    "WHEN 0 THEN 'I visited Houston on Monday' "
    "WHEN 1 THEN 'contact jane.doe@example.com or (555) 123-4567' "
    "WHEN 2 THEN 'ssn 123-45-6789 you idiot' "
    "WHEN 3 THEN 'we flew to New York City and then New Hampshire' "
    "WHEN 4 THEN 'the Houston-Texas corridor keeps growing' "
    "WHEN 5 THEN 'she moved to Greenville in January' "
    "WHEN 6 THEN 'Salt Lake City and Corpus Christi are far apart' "
    "WHEN 7 THEN 'the sky was blue and the leaves turned orange' "
    "WHEN 8 THEN 'huston and febuary were typos and phenix too' "
    "ELSE 'plain filler with nothing of note' END)"
)

# Enrichment variant for the pipeline_exact_only oracle row: identical to
# ENRICH_SQL except case 4 drops the intra-token hyphen. Word-path
# detection tokenizes on WHITESPACE ("Houston-Texas" is one token that
# normalizes to no lexicon term), while the char-path SQL chain matches
# \b-bounded substrings (hyphen IS a boundary) — the one construct on
# which the two exact layers legitimately diverge. The hyphen case stays
# in ENRICH_SQL (covered by the pytest word-path oracle via
# pipeline_full); this variant keeps every other clause, including the
# case-8 typos that pin the fuzzy layer OFF (they must survive
# unscrubbed here, unlike in pipeline_full).
EXACT_ENRICH_SQL = ENRICH_SQL.replace(
    "'the Houston-Texas corridor keeps growing' ",
    "'the Houston and Texas corridor keeps growing' ")


def _read(spark: SparkSession, sf_dir: str, table: str,
          spread: bool = True) -> DataFrame:
    """Registry table scan, redistributed to full width when the file
    layout under-splits (round 7). A parquet split cannot cross a row
    group, so a small table written as one file with one row group scans
    as ONE task no matter the split config — and every row-local stage
    fused onto that scan (regex chains, token explodes, pandas UDFs)
    then runs on 1 of N cores (measured at sf1.0: the whole scrub-chain
    family was 1-2-task-bound, 16× under-parallel at local[32]). The
    gate keeps well-laid-out inputs untouched: redistribution only fires
    when the scan yields fewer splits than defaultParallelism, so a
    production table with many 128 MB-row-group files never pays the
    exchange, and the exchange it does pay on small inputs moves the
    narrow base rows once, BEFORE they fan out into tokens/shingles/
    UDF work (the same job the round-2..6 shingle window's exchange did
    by accident). `spread=False` for broadcast-side dimension tables —
    collecting them to a broadcast needs no width."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if spread:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
    return df


def _docs_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(ENRICH_SQL).alias("etext"))


# ---------------------------------------------------------------------------
# scrub / quality / langid / grade family (documents)
# ---------------------------------------------------------------------------

def q_scrub_lexicon(spark, sf_dir):
    """Char-path lexicon+regex scrub chain (reference detect_in_text
    semantics, src/pii_detector.py:355-406 + north-star regexes)."""
    return _docs_enriched(spark, sf_dir).select(
        "doc_id", tx.scrub_col(F.col("etext")).alias("scrubbed_text"))


SQL_SCRUB_LEXICON = (
    f"SELECT doc_id, {tx.duck_scrub_sql(ENRICH_SQL)} AS scrubbed_text "
    "FROM documents"
)


def q_scrub_counts(spark, sf_dir):
    """Per-category consumed-match counts (priority-ordered chain)."""
    df = _docs_enriched(spark, sf_dir)
    counts = tx.step_count_cols(F.col("etext"))
    cols = [counts[c].alias(f"n_{c}") for c in counts]
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select("doc_id", *cols, total.alias("pii_total"))


def _sql_scrub_counts() -> str:
    counts = tx.duck_step_count_sqls(ENRICH_SQL)
    cols = ", ".join(f"{sql} AS n_{c}" for c, sql in counts.items())
    total = " + ".join(counts.values())
    return f"SELECT doc_id, {cols}, {total} AS pii_total FROM documents"


def q_quality_flags(spark, sf_dir):
    """Heuristic quality rules as pure Column expressions (north rule)."""
    df = _read(spark, sf_dir, "documents")
    df = with_quality(df, "text")
    return df.select(
        "doc_id",
        F.col("word_cnt").cast("bigint").alias("word_cnt"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("symbol_density", 6).alias("symbol_density"),
        "quality_ok",
    )


_DUCK_TOKS = ("list_filter(string_split_regex(coalesce(text,''), '\\s+'), "
              "x -> x <> '')")

SQL_QUALITY_FLAGS = f"""
WITH t AS (
  SELECT doc_id, coalesce(text,'') AS text, {_DUCK_TOKS} AS toks FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS word_cnt,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
             / len(toks) ELSE 0.0 END AS distinct_ratio,
         CASE WHEN len(text) > 0 THEN
           CAST(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
             / len(text) ELSE 0.0 END AS symbol_density
  FROM t
)
SELECT doc_id, word_cnt, round(distinct_ratio, 6) AS distinct_ratio,
       round(symbol_density, 6) AS symbol_density,
       (word_cnt >= {lx.QUALITY_MIN_WORDS}
        AND word_cnt <= {lx.QUALITY_MAX_WORDS}
        AND (word_cnt < {lx.QUALITY_DISTINCT_RATIO_MIN_WORDS}
             OR distinct_ratio >= {lx.QUALITY_MIN_DISTINCT_RATIO})
        AND symbol_density <= {lx.QUALITY_MAX_SYMBOL_DENSITY}) AS quality_ok
FROM m
"""


def q_langid_confidence(spark, sf_dir):
    df = _read(spark, sf_dir, "documents")
    df = with_langid(df, "text")
    return df.select("doc_id", F.col("lang").alias("lang_pred"),
                     F.round("lang_conf", 6).alias("lang_conf"))


def _sql_langid() -> str:
    score_cols = []
    for lang in lx.LANG_PRIORITY:
        lits = ", ".join("'" + w + "'" for w in lx.LANG_STOPWORDS[lang])
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, "
            f"x -> list_contains([{lits}], lower(x)))) AS DOUBLE) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{l}" for l in lx.LANG_PRIORITY) + ")"
    pick = f"CASE WHEN {best} < {lx.LANGID_MIN_CONFIDENCE} THEN 'und' "
    for lang in lx.LANG_PRIORITY:
        pick += f"WHEN s_{lang} = {best} THEN '{lang}' "
    pick += "END"
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {", ".join(score_cols)} FROM t)
SELECT doc_id, {pick} AS lang_pred, round({best}, 6) AS lang_conf FROM s
"""


def q_keep_drop_grade(spark, sf_dir):
    """Full SQL-expressible grade on enriched docs: scrub → residual rescan
    → qa CASE (reference thresholds src/config.py:42-44) → keep."""
    df = _read(spark, sf_dir, "documents").withColumn("etext", F.expr(ENRICH_SQL))
    df = with_quality(df, "etext")
    df = with_langid(df, "etext")
    df = df.withColumn("scrubbed_text", tx.scrub_col(F.col("etext")))
    df = df.withColumn("residual_pii", tx.rescan_count_col(F.col("scrubbed_text")))
    df = df.withColumn(
        "qa_status",
        F.when(F.col("residual_pii") == 0, "PASS")
        .when(F.col("residual_pii") <= lx.VERIFY_REVIEW_THRESHOLD, "REVIEW_REQUIRED")
        .otherwise("FAIL"))
    df = df.withColumn(
        "keep",
        F.col("quality_ok") & (F.col("lang_conf") >= lx.LANGID_MIN_CONFIDENCE)
        & (F.col("qa_status") == "PASS"))
    return df.select("doc_id", "residual_pii", "qa_status", "keep")


def _sql_keep_drop() -> str:
    scrub = tx.duck_scrub_sql("etext")
    toks = _DUCK_TOKS.replace("coalesce(text,'')", "etext")
    score_cols = []
    for lang in lx.LANG_PRIORITY:
        lits = ", ".join("'" + w + "'" for w in lx.LANG_STOPWORDS[lang])
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, "
            f"x -> list_contains([{lits}], lower(x)))) AS DOUBLE) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{l}" for l in lx.LANG_PRIORITY) + ")"
    return f"""
WITH e AS (SELECT doc_id, {ENRICH_SQL} AS etext FROM documents),
t AS (SELECT doc_id, etext, {toks} AS toks,
             {tx.duck_rescan_count_sql(scrub)} AS residual_pii FROM e),
m AS (SELECT doc_id, residual_pii,
        CAST(len(toks) AS BIGINT) AS word_cnt,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
            / len(toks) ELSE 0.0 END AS distinct_ratio,
        CASE WHEN len(etext) > 0 THEN
          CAST(len(regexp_replace(etext, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / len(etext) ELSE 0.0 END AS symbol_density,
        {", ".join(score_cols)}
      FROM t),
g AS (SELECT doc_id, residual_pii,
        CASE WHEN residual_pii = 0 THEN 'PASS'
             WHEN residual_pii <= {lx.VERIFY_REVIEW_THRESHOLD} THEN 'REVIEW_REQUIRED'
             ELSE 'FAIL' END AS qa_status,
        (word_cnt >= {lx.QUALITY_MIN_WORDS}
         AND word_cnt <= {lx.QUALITY_MAX_WORDS}
         AND (word_cnt < {lx.QUALITY_DISTINCT_RATIO_MIN_WORDS}
              OR distinct_ratio >= {lx.QUALITY_MIN_DISTINCT_RATIO})
         AND symbol_density <= {lx.QUALITY_MAX_SYMBOL_DENSITY}) AS quality_ok,
        {best} AS lang_conf
      FROM m)
SELECT doc_id, residual_pii, qa_status,
       (quality_ok AND lang_conf >= {lx.LANGID_MIN_CONFIDENCE}
        AND qa_status = 'PASS') AS keep
FROM g
"""


def q_qa_status_histogram(spark, sf_dir):
    """A1-style status histogram over the graded docs."""
    return (q_keep_drop_grade(spark, sf_dir)
            .groupBy("qa_status", "keep")
            .agg(F.count(F.lit(1)).alias("n"))
            )


def _sql_qa_histogram() -> str:
    return (f"SELECT qa_status, keep, CAST(count(*) AS BIGINT) AS n FROM "
            f"({_sql_keep_drop()}) GROUP BY qa_status, keep")


def q_pii_category_totals(spark, sf_dir):
    """A2: corpus-wide per-category totals (explode-equivalent rollup).

    The monotonically_increasing_id() >= 0 filter is a COLLAPSE BARRIER
    (always true; same device as fuzzy_sql's pushdown barrier): without
    it CollapseProject folds the scrub-count projection into the 9
    aggregate expressions, and Catalyst does not CSE across aggregate
    expressions — each sum() re-evaluates its whole regexp-chain prefix
    per row (measured r7 at sf1.0: 6.0 s collapsed vs 1.1 s for the
    scrub_counts projection itself). Behind the barrier the chain runs
    once per row and the sums aggregate plain columns."""
    df = q_scrub_counts(spark, sf_dir)
    df = df.where(F.monotonically_increasing_id() >= 0)
    aggs = [F.sum(f"n_{c}").cast("bigint").alias(f"total_{c}")
            for c in tx._STEP_CATEGORIES]
    return df.agg(*aggs)


def _sql_pii_totals() -> str:
    inner = _sql_scrub_counts()
    cols = ", ".join(f"CAST(sum(n_{c}) AS BIGINT) AS total_{c}"
                     for c in tx._STEP_CATEGORIES)
    return f"SELECT {cols} FROM ({inner})"


# ---------------------------------------------------------------------------
# generic relational capability (TPC-H-ish; scale-hardened shapes)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy agg with partial+final hash agg."""
    # spread=False: scan-heavy agg, trivial per-row work — the
    # redistribution exchange costs more than scan width buys
    li = _read(spark, sf_dir, "lineitem", spread=False)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("sum_disc_price"),
             F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
             F.count(F.lit(1)).alias("count_order"))
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_suppliers(spark, sf_dir):
    """Broadcast-join star query: lineitem ⋈ supplier ⋈ nation, top-10 by
    revenue. Dim tables are broadcast (no shuffle of the fact table)."""
    li = _read(spark, sf_dir, "lineitem", spread=False)  # cheap agg
    sup = _read(spark, sf_dir, "supplier", spread=False)  # broadcast side
    nat = _read(spark, sf_dir, "nation", spread=False)    # broadcast side
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                .alias("revenue")))
    return (rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
            .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                    "s_name", F.col("n_name").alias("nation"), "revenue")
            .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
            .limit(10))


SQL_TOP_SUPPLIERS = """
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       n.n_name AS nation, r.revenue
FROM (SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY l_suppkey) r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY r.revenue DESC, s.s_suppkey ASC
LIMIT 10
"""


def q_events_minutely(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table (batch twin
    of the Structured Streaming pipeline in streaming/)."""
    # spread=False: one cheap partial-aggregating pass; the extra
    # exchange costs more than the scan-width it buys (measured r7)
    ev = _read(spark, sf_dir, "events", spread=False)
    return (ev.groupBy(F.date_trunc("minute", "ts").alias("minute"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value")))


SQL_EVENTS_MINUTELY = """
SELECT date_trunc('minute', ts) AS minute, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_user_sessions(spark, sf_dir):
    """Sessionization over the events table: lag + cumulative-sum window
    (30-min inactivity gap), then per-user session/event counts — the
    classic streaming-state shape expressed as batch windows."""
    from pyspark.sql import Window as W

    # spread=False: the session window shuffles by user_id anyway
    ev = _read(spark, sf_dir, "events", spread=False)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    new_sess = F.when(
        lag_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(lag_ts)) > 1800),
        1).otherwise(0)
    df = ev.withColumn("_new", new_sess)
    df = df.withColumn(
        "_sess", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)))
    return (df.groupBy("user_id")
            .agg(F.max("_sess").cast("bigint").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_USER_SESSIONS = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id
"""


def q_status_pivot(spark, sf_dir):
    """Pivot: keep × qa_status counts (grouping-sets/pivot capability)."""
    graded = q_keep_drop_grade(spark, sf_dir)
    p = (graded.groupBy("keep")
         .pivot("qa_status", ["PASS", "REVIEW_REQUIRED", "FAIL"]).count())
    return p.select(
        "keep",
        F.coalesce("PASS", F.lit(0)).cast("bigint").alias("n_pass"),
        F.coalesce("REVIEW_REQUIRED", F.lit(0)).cast("bigint").alias("n_review"),
        F.coalesce("FAIL", F.lit(0)).cast("bigint").alias("n_fail"))


def _sql_status_pivot() -> str:
    return f"""
SELECT keep,
       CAST(sum(CASE WHEN qa_status = 'PASS' THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN qa_status = 'REVIEW_REQUIRED' THEN 1 ELSE 0 END) AS BIGINT) AS n_review,
       CAST(sum(CASE WHEN qa_status = 'FAIL' THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
FROM ({_sql_keep_drop()}) GROUP BY keep
"""


def q_lang_rollup(spark, sf_dir):
    """ROLLUP(lang, source) — grouping-sets capability (SURVEY §2.4 note)."""
    df = _read(spark, sf_dir, "documents", spread=False)  # cheap agg
    return (df.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars")))


SQL_LANG_ROLLUP = """
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY ROLLUP(lang, source)
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / tokens / fingerprints
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: canonical = min doc_id per hash."""
    # spread=False: one md5+agg per row is too light to amortize an
    # up-front exchange (measured r7: 0.30 s -> 0.83 s with spread)
    df = _read(spark, sf_dir, "documents", spread=False)
    return (df.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
"""


def q_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts per doc."""
    df = _read(spark, sf_dir, "documents")
    toks_ws = F.array_remove(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), "")
    return df.select(
        "doc_id",
        F.size(toks_ws).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                       F.lit(tx.BPE_TOKEN_PATTERN)).cast("bigint")
        .alias("bpe_tokens"))


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(coalesce(text,'')),
            '{tx.BPE_TOKEN_PATTERN}')) AS BIGINT) AS bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup / similarity (training-data ops)
# ---------------------------------------------------------------------------

def q_minhash_signatures(spark, sf_dir):
    from .functions.dedup import spark_minhash_signatures
    return spark_minhash_signatures(_read(spark, sf_dir, "documents"))


def q_neardup_pairs_minhash(spark, sf_dir):
    from .functions.dedup import spark_lsh_pairs
    return spark_lsh_pairs(_read(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark, sf_dir):
    from .functions.dedup import spark_jaccard_pairs
    return spark_jaccard_pairs(_read(spark, sf_dir, "documents"))


def q_simhash(spark, sf_dir):
    from .functions.dedup import spark_simhash
    return spark_simhash(_read(spark, sf_dir, "documents"))


# The 16-bit simhash_pairs registry row was RETIRED in round 6: its
# 4-bit banding collides ~23% of random pairs — a Θ(n²) candidate
# generator at corpus scale (round-5 verdict item 1). The operator
# itself stays (functions/dedup.spark_simhash_pairs) as the teaching
# size, oracle-checked directly in tests/test_queries_oracle.py; the
# production row below is the 64-bit variant (~6e-5 collision).


def q_simhash64(spark, sf_dir):
    """64-bit simhash signatures (md5 mode — the DuckDB-oracle-able
    hash; production runs use hash_impl='xxhash64', structurally
    parity-tested + benched like minhash)."""
    from .functions.dedup import spark_simhash64
    return spark_simhash64(_read(spark, sf_dir, "documents"), hash_impl="md5")


def q_simhash64_pairs(spark, sf_dir):
    """Production-width simhash near-dup pairs: 4×16-bit block banding
    (pigeonhole recall 1.0 at Hamming ≤ 3, ~6e-5 random-pair collision
    vs the 16-bit variant's ~23%) + exact bit_count verify.

    warn_quadratic=False here: the tripwire's candidate-volume collects
    are monitoring, not computation — they belong OUTSIDE the measured
    plan (run functions/dedup.simhash64_bucket_stats out-of-band next
    to the lineage metrics instead; round-5 verdict item 1)."""
    from .functions.dedup import spark_simhash64_pairs
    return spark_simhash64_pairs(_read(spark, sf_dir, "documents"),
                                 hash_impl="md5", warn_quadratic=False)


def q_neardup_clusters(spark, sf_dir):
    """Connected components over verified near-dup pairs (iterative
    min-label propagation; driver oracle = recursive-CTE closure)."""
    from .functions.dedup import spark_neardup_clusters
    return spark_neardup_clusters(_read(spark, sf_dir, "documents"))


def q_ann_cosine_topk(spark, sf_dir):
    from .functions.similarity import spark_cosine_topk
    return spark_cosine_topk(_read(spark, sf_dir, "embeddings", spread=False))


def q_embedding_neardup(spark, sf_dir):
    from .functions.similarity import spark_neardup_pairs
    return spark_neardup_pairs(_read(spark, sf_dir, "embeddings", spread=False))


def q_ann_ivf_topk(spark, sf_dir):
    from .functions.similarity import spark_cosine_topk_ivf
    return spark_cosine_topk_ivf(_read(spark, sf_dir, "embeddings", spread=False))


def q_ann_ivf_multiprobe(spark, sf_dir):
    from .functions.similarity import spark_cosine_topk_ivf_multiprobe
    return spark_cosine_topk_ivf_multiprobe(_read(spark, sf_dir, "embeddings", spread=False))


def q_ann_ivf_centroid(spark, sf_dir):
    """IVF-flat with data-dependent centroid cells (vs the sign-bucket
    variant's data-oblivious space partition)."""
    from .functions.similarity import spark_cosine_topk_ivf_centroid
    return spark_cosine_topk_ivf_centroid(_read(spark, sf_dir, "embeddings", spread=False))


def q_ann_ivf_centroid_multiprobe(spark, sf_dir):
    """Centroid IVF with the nprobe recall dial (each probe searches its
    2 nearest cells)."""
    from .functions.similarity import (
        spark_cosine_topk_ivf_centroid_multiprobe,
    )
    return spark_cosine_topk_ivf_centroid_multiprobe(
        _read(spark, sf_dir, "embeddings", spread=False))


def q_lang_char_median(spark, sf_dir):
    """Grouped custom aggregation via applyInPandas (UDAF surface): per-
    language doc count + median n_chars. The grouped-map shape is the
    plug-in point for arbitrary per-group Python (state, models)."""
    docs = _read(spark, sf_dir, "documents",
                 spread=False).select("lang", "n_chars")  # cheap agg

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [len(pdf)],
            "median_chars": [float(pdf["n_chars"].median())],
        })

    return docs.groupBy("lang").applyInPandas(
        agg, schema="lang string, n_docs long, median_chars double")


SQL_LANG_CHAR_MEDIAN = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(median(n_chars) AS DOUBLE) AS median_chars
FROM documents GROUP BY lang
"""


def q_fuzzy_vocab(spark, sf_dir):
    """Vocabulary-level fuzzy matcher (the scale path for the fuzzy layer:
    dedupe tokens → match vocabulary → map back), JVM levenshtein +
    broadcast candidates, verified against DuckDB's levenshtein.
    Runs on enriched text so typo clauses make the check discriminating."""
    from .functions.fuzzy_sql import spark_fuzzy_vocab
    # spread=False: the two-level distinct collapses occurrences on the
    # map side (Zipf), so scan width buys nothing here (measured r7)
    docs = _read(spark, sf_dir, "documents", spread=False).select(
        "doc_id", F.expr(ENRICH_SQL).alias("text"))
    return spark_fuzzy_vocab(docs, spark)


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing-lite document fingerprint: min md5 over 5-word windows,
    via the codegen shingle generator (posexplode + lead window) + one
    min() hash agg — no interpreted transform lambdas (the round-1
    array_min(transform(sequence, slice)) form re-split the text per
    window element)."""
    from .functions.dedup import shingle_rows

    df = _read(spark, sf_dir, "documents")
    hashed = shingle_rows(df, n_words=5).select(
        "doc_id", F.md5(F.col("s").cast("binary")).alias("h"))
    return hashed.groupBy("doc_id").agg(F.min("h").alias("fingerprint"))


_DUCK_FP_TOKS = _DUCK_TOKS
SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
  CASE WHEN len({_DUCK_FP_TOKS}) >= 5 THEN
    list_min(list_transform(generate_series(1, len({_DUCK_FP_TOKS}) - 4),
      i -> md5(array_to_string(({_DUCK_FP_TOKS})[i:i+4], ' '))))
  ELSE md5(array_to_string({_DUCK_FP_TOKS}, ' ')) END AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# full UDF pipeline (word-path + fuzzy semantics — not SQL-expressible;
# driver records the weaker rows-only check, pytest holds the real oracle)
# ---------------------------------------------------------------------------

def clips_from_documents(spark, sf_dir, with_audio: bool = True,
                         enrich_sql: str = ENRICH_SQL):
    """Derive a clips-shaped table (BASELINE input_hint) from the driver's
    documents table: transcript = enriched text, audio = seeded WAV."""
    from pyspark.sql import types as T

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(enrich_sql).alias("transcript"))
    df = docs.select(
        F.format_string("clip_%08d", F.col("doc_id")).alias("clip_id"),
        F.col("doc_id"),
        F.lit(16000).alias("sr_hz"),
        (F.pmod(F.col("doc_id") * 97, F.lit(1500)) + 300)
        .cast("int").alias("dur_ms"),
        F.lit("wav").alias("codec"),
        "transcript")
    if not with_audio:
        return df.withColumn("bytes", F.lit(None).cast("binary")).drop("doc_id")

    from .datagen import encode_wav, synth_pcm

    @F.pandas_udf(T.BinaryType())
    def gen_audio(doc_id: pd.Series, dur_ms: pd.Series) -> pd.Series:
        from .functions.worker import init_worker
        init_worker()
        return pd.Series(
            [encode_wav(synth_pcm(int(i), int(d), 16000), 16000)
             for i, d in zip(doc_id, dur_ms)])

    return (df.withColumn("bytes", gen_audio(F.col("doc_id"), F.col("dur_ms")))
            .drop("doc_id"))


def q_pipeline_full(spark, sf_dir):
    """Flagship: the complete detect→scrub→verify→grade pipeline (pandas
    UDF word path + fuzzy layer + quality/langid/grade columns + audio
    decode-verify) over the clips table. Since round 5 this row is FULLY
    oracle-checked: functions/wordpath_sql.py re-expresses the greedy
    longest-first word-path scan as a recursive-CTE cursor walk and the
    fuzzy layer as the gated levenshtein join, so every output column —
    scrubbed_text, exact AND fuzzy counts, ppl, audio columns — is
    hash-compared against DuckDB."""
    from .pipeline import PipelineConfig, apply_pipeline

    clips = clips_from_documents(spark, sf_dir, with_audio=True)
    out = apply_pipeline(clips, PipelineConfig())
    return out.select(
        "clip_id", "transcript", "scrubbed_text",
        F.col("pii_count").cast("bigint").alias("pii_count"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_fuzzy").cast("bigint").alias("n_fuzzy"),
        F.col("verify_pii_count").cast("bigint").alias("verify_pii_count"),
        "qa_status", "keep", "lang",
        F.round("lang_conf", 6).alias("lang_conf"),
        F.col("word_cnt").cast("bigint").alias("word_cnt"),
        F.round("ppl", 6).alias("ppl"), "decode_ok",
        F.col("n_samples").cast("bigint").alias("n_samples"))


def q_pipeline_full_vocab(spark, sf_dir):
    """The flagship pipeline with the VOCABULARY-BROADCAST fuzzy layer
    (PipelineConfig(fuzzy_vocab_broadcast=True)): fuzzy matching runs
    once over the distinct corpus vocabulary as a relational job
    (spark_fuzzy_vocab) and rides into the scrub UDF as a broadcast
    lookup — identical output to pipeline_full (same word-path DuckDB
    oracle), byte-proportional per-row cost (the 10^12-scale fuzzy
    path; see BENCH/SALT_VALIDATION.md for the skew class this
    retires). Audio off here: this row pins the text path; the audio
    columns are pinned by pipeline_full."""
    from .pipeline import PipelineConfig, apply_pipeline

    clips = clips_from_documents(spark, sf_dir, with_audio=False)
    out = apply_pipeline(clips, PipelineConfig(
        with_audio_verify=False, with_ppl=False,
        fuzzy_vocab_broadcast=True))
    return out.select(
        "clip_id", "transcript", "scrubbed_text",
        F.col("pii_count").cast("bigint").alias("pii_count"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_fuzzy").cast("bigint").alias("n_fuzzy"),
        F.col("verify_pii_count").cast("bigint").alias("verify_pii_count"),
        "qa_status", "keep", "lang",
        F.round("lang_conf", 6).alias("lang_conf"),
        F.col("word_cnt").cast("bigint").alias("word_cnt"))


def q_pipeline_grade_cols(spark, sf_dir):
    """The FLAGSHIP pipeline's SQL-expressible grading columns, hash-
    checked against the DuckDB oracle: runs the real apply_pipeline (fused
    ArrowEvalPython stage, langid UDF) over the derived clips table and
    exposes quality + langid outputs. qa_status/keep carry word-path +
    fuzzy semantics (not SQL-expressible) and stay under the pytest
    oracle; this row pins the flagship's plumbing end-to-end."""
    from .pipeline import PipelineConfig, apply_pipeline

    clips = clips_from_documents(spark, sf_dir, with_audio=False)
    out = apply_pipeline(clips, PipelineConfig(with_audio_verify=False,
                                               with_ppl=False))
    return out.select(
        "clip_id",
        F.col("word_cnt").cast("bigint").alias("word_cnt"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("symbol_density", 6).alias("symbol_density"),
        "quality_ok",
        F.col("lang").alias("lang_pred"),
        F.round("lang_conf", 6).alias("lang_conf"))


def _sql_pipeline_grade_cols() -> str:
    toks = _DUCK_TOKS.replace("coalesce(text,'')", "etext")
    score_cols = []
    for lang in lx.LANG_PRIORITY:
        lits = ", ".join("'" + w + "'" for w in lx.LANG_STOPWORDS[lang])
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, "
            f"x -> list_contains([{lits}], lower(x)))) AS DOUBLE) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{l}" for l in lx.LANG_PRIORITY) + ")"
    pick = f"CASE WHEN {best} < {lx.LANGID_MIN_CONFIDENCE} THEN 'und' "
    for lang in lx.LANG_PRIORITY:
        pick += f"WHEN s_{lang} = {best} THEN '{lang}' "
    pick += "END"
    return f"""
WITH e AS (SELECT printf('clip_%08d', doc_id) AS clip_id, {ENRICH_SQL} AS etext
           FROM documents),
t AS (SELECT clip_id, etext, {toks} AS toks FROM e),
m AS (SELECT clip_id,
        CAST(len(toks) AS BIGINT) AS word_cnt,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
            / len(toks) ELSE 0.0 END AS distinct_ratio,
        CASE WHEN len(etext) > 0 THEN
          CAST(len(regexp_replace(etext, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / len(etext) ELSE 0.0 END AS symbol_density,
        {", ".join(score_cols)}
      FROM t)
SELECT clip_id, word_cnt,
       round(distinct_ratio, 6) AS distinct_ratio,
       round(symbol_density, 6) AS symbol_density,
       (word_cnt >= {lx.QUALITY_MIN_WORDS}
        AND word_cnt <= {lx.QUALITY_MAX_WORDS}
        AND (word_cnt < {lx.QUALITY_DISTINCT_RATIO_MIN_WORDS}
             OR distinct_ratio >= {lx.QUALITY_MIN_DISTINCT_RATIO})
        AND symbol_density <= {lx.QUALITY_MAX_SYMBOL_DENSITY}) AS quality_ok,
       {pick} AS lang_pred,
       round({best}, 6) AS lang_conf
FROM m
"""


def q_pipeline_exact_only(spark, sf_dir):
    """The REAL apply_pipeline (pandas-UDF scrub machinery, fused
    ArrowEvalPython stage, grade CASE) with the fuzzy layer disabled —
    every remaining semantic (exact word-path trie + regex scrub +
    verification rescan + quality/langid/grade) is SQL-mirrorable, so
    the driver hash-checks scrubbed_text / counts / qa_status / keep
    END-TO-END through the UDF path. Only the fuzzy delta stays
    pytest-pinned (via pipeline_full). Runs on EXACT_ENRICH_SQL clips:
    word-path (whitespace tokens) and char-path (\\b substrings) exact
    layers agree on every construct except intra-token hyphens, which
    that enrichment excludes (see EXACT_ENRICH_SQL)."""
    from .pipeline import PipelineConfig, apply_pipeline

    clips = clips_from_documents(spark, sf_dir, with_audio=False,
                                 enrich_sql=EXACT_ENRICH_SQL)
    out = apply_pipeline(clips, PipelineConfig(with_audio_verify=False,
                                               with_ppl=False,
                                               with_fuzzy=False))
    return out.select(
        "clip_id", "scrubbed_text",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("pii_count").cast("bigint").alias("pii_count"),
        F.col("verify_pii_count").cast("bigint").alias("verify_pii_count"),
        "qa_status", "keep")


def _sql_pipeline_exact_only() -> str:
    """DuckDB twin of q_pipeline_exact_only: char-path scrub chain +
    step counts (n_exact = the 5 lexicon passes; pii_count adds the
    email/ssn/phone/toxic regex passes — one label insertion per match
    on both paths, so counts agree whenever the scrubbed strings do) +
    rescan + the keep_drop grade expressions."""
    counts = tx.duck_step_count_sqls("etext")
    lex_cats = ["city", "state", "day", "month", "color"]
    n_exact = " + ".join(counts[c] for c in lex_cats)
    n_ext = " + ".join(counts[c] for c in ["email", "ssn", "phone", "toxic"])
    scrub = tx.duck_scrub_sql("etext")
    toks = _DUCK_TOKS.replace("coalesce(text,'')", "etext")
    score_cols = []
    for lang in lx.LANG_PRIORITY:
        lits = ", ".join("'" + w + "'" for w in lx.LANG_STOPWORDS[lang])
        score_cols.append(
            f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, "
            f"x -> list_contains([{lits}], lower(x)))) AS DOUBLE) / len(toks) "
            f"ELSE 0.0 END AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{l}" for l in lx.LANG_PRIORITY) + ")"
    return f"""
WITH e AS (SELECT printf('clip_%08d', doc_id) AS clip_id,
                  {EXACT_ENRICH_SQL} AS etext FROM documents),
t AS (SELECT clip_id, etext, {toks} AS toks,
             {scrub} AS scrubbed_text,
             CAST({n_exact} AS BIGINT) AS n_exact,
             CAST({n_exact} + {n_ext} AS BIGINT) AS pii_count
      FROM e),
m AS (SELECT clip_id, etext, scrubbed_text, n_exact, pii_count,
        {tx.duck_rescan_count_sql('scrubbed_text')} AS verify_pii_count,
        CAST(len(toks) AS BIGINT) AS word_cnt,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS DOUBLE)
            / len(toks) ELSE 0.0 END AS distinct_ratio,
        CASE WHEN len(etext) > 0 THEN
          CAST(len(regexp_replace(etext, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / len(etext) ELSE 0.0 END AS symbol_density,
        {", ".join(score_cols)}
      FROM t),
g AS (SELECT clip_id, scrubbed_text, n_exact, pii_count, verify_pii_count,
        CASE WHEN verify_pii_count = 0 THEN 'PASS'
             WHEN verify_pii_count <= {lx.VERIFY_REVIEW_THRESHOLD}
               THEN 'REVIEW_REQUIRED'
             ELSE 'FAIL' END AS qa_status,
        (word_cnt >= {lx.QUALITY_MIN_WORDS}
         AND word_cnt <= {lx.QUALITY_MAX_WORDS}
         AND (word_cnt < {lx.QUALITY_DISTINCT_RATIO_MIN_WORDS}
              OR distinct_ratio >= {lx.QUALITY_MIN_DISTINCT_RATIO})
         AND symbol_density <= {lx.QUALITY_MAX_SYMBOL_DENSITY}) AS quality_ok,
        {best} AS lang_conf
      FROM m)
SELECT clip_id, scrubbed_text, n_exact, pii_count, verify_pii_count,
       qa_status,
       (quality_ok AND lang_conf >= {lx.LANGID_MIN_CONFIDENCE}
        AND qa_status = 'PASS') AS keep
FROM g
"""


def q_pipeline_exact_sql(spark, sf_dir):
    """JVM-only twin of the exact-only pipeline (round-5 verdict item 8):
    the same semantics as q_pipeline_exact_only but with ZERO Python —
    scrub chain, step counts, rescan, quality metrics, the langid
    confidence, and the grade CASE are all built-in Column expressions
    (whole-stage codegen, no interpreted HOF lambdas). The langid
    confidence is a per-language stopword-hit ratio computed with
    `regexp_count` over the lowered text (round 7 — the round-6 form
    used per-token interpreted array-`filter` lambdas, the #1 plan
    killer from round-1 lore): a whitespace-or-edge-anchored
    alternation matches exactly the COMPLETE \\s+-split tokens that
    equal a stopword, so the count equals the filter-lambda's hit count
    token-for-token, and the ratio divides by the same token-count
    denominator (word_cnt). This gives a third execution engine for the
    exact layer: pandas-UDF kernel (pipeline_exact_only), DuckDB
    (shared oracle SQL), and pure Spark SQL — all three hash-compared
    on the same corpus (tests/test_queries_oracle.py pins Spark-SQL ==
    UDF-path equality). Scale: row-local, shuffle-free, no Python
    workers — the plan a UDF-less engine would run at 10^12 clips."""
    clips = clips_from_documents(spark, sf_dir, with_audio=False,
                                 enrich_sql=EXACT_ENRICH_SQL)
    df = clips.select("clip_id", F.col("transcript").alias("etext"))
    counts = tx.step_count_cols(F.col("etext"))
    lex_cats = ["city", "state", "day", "month", "color"]
    n_exact = None
    for c in lex_cats:
        n_exact = counts[c] if n_exact is None else n_exact + counts[c]
    pii_count = n_exact
    for c in ["email", "ssn", "phone", "toxic"]:
        pii_count = pii_count + counts[c]
    df = (df.withColumn("scrubbed_text", tx.scrub_col(F.col("etext")))
          .withColumn("n_exact", n_exact.cast("bigint"))
          .withColumn("pii_count", pii_count.cast("bigint"))
          .withColumn("verify_pii_count",
                      tx.rescan_count_col(F.col("scrubbed_text"))
                      .cast("bigint")))
    df = with_quality(df, "etext")  # word_cnt: the \s+-split token count
    scores = []
    for lang in lx.LANG_PRIORITY:
        # complete-token equality as a regex: start-or-whitespace, the
        # stopword, end-or-whitespace — a match is exactly one \s+-split
        # token equal to one stopword (anchors make alternation order
        # irrelevant; lower() of the full text == lower() per token for
        # these stopword alphabets)
        pat = (r"(?:^|(?<=\s))(?:" + "|".join(lx.LANG_STOPWORDS[lang])
               + r")(?:$|(?=\s))")
        hits = F.regexp_count(F.lower(F.col("etext")), F.lit(pat))
        scores.append(
            F.when(F.col("word_cnt") > 0,
                   hits.cast("double") / F.col("word_cnt").cast("double"))
            .otherwise(F.lit(0.0)))
    lang_conf = F.greatest(*scores)
    v = F.col("verify_pii_count")
    qa = (F.when(v == 0, "PASS")
          .when(v <= lx.VERIFY_REVIEW_THRESHOLD, "REVIEW_REQUIRED")
          .otherwise("FAIL"))
    df = df.withColumn("qa_status", qa)
    keep = (F.col("quality_ok")
            & (lang_conf >= lx.LANGID_MIN_CONFIDENCE)
            & (F.col("qa_status") == "PASS"))
    return df.select("clip_id", "scrubbed_text", "n_exact", "pii_count",
                     "verify_pii_count", "qa_status", keep.alias("keep"))


def q_wer_scrub_effect(spark, sf_dir):
    """WER operator (reference src/wer_calculator.py): distance between
    original and scrubbed text quantifies redaction impact. Exposes the
    DP's total edit count (S+I+D = the word-level Levenshtein distance)
    + reference_words + wer, all of which the DuckDB oracle can verify:
    the per-class S/I/D split needs the backtrace and stays pinned by
    the differential pytest suite instead."""
    from .functions.wer import wer_udf

    df = _docs_enriched(spark, sf_dir)
    df = df.withColumn("scrubbed", tx.scrub_col(F.col("etext")))
    df = df.withColumn("_w", wer_udf(F.col("etext"), F.col("scrubbed")))
    total = (F.col("_w.substitutions") + F.col("_w.insertions")
             + F.col("_w.deletions"))
    return df.select(
        "doc_id",
        F.round("_w.wer", 6).alias("wer"),
        total.cast("bigint").alias("total_edits"),
        F.col("_w.reference_words").cast("bigint").alias("reference_words"))


def _sql_wer_scrub_effect() -> str:
    """Word-level Levenshtein in DuckDB: DuckDB's levenshtein() is
    CHARACTER-based (one edit per codepoint — verified: a 2-byte UTF-8
    char substitution counts 1), so map each distinct word of the
    (reference ∪ hypothesis) row vocabulary to one codepoint
    (chr(32+idx)) and run levenshtein on the encoded strings — total
    character edits == total word edits, which equals the DP's S+I+D sum
    (both are the minimal word edit distance). The encoding only needs
    per-row vocab to stay within valid chr() codepoints — effectively
    unbounded; this corpus's ≤ ~50 distinct words/row doesn't approach
    any limit. Tokenization mirrors core.wer_normalize: lower →
    [^\\w\\s']→' ' → split on whitespace (the corpus is printable ASCII,
    where RE2's \\w and Python's unicode \\w agree). ref_words = 0 rows
    follow core.wer's convention (inf for a non-empty hypothesis, 0.0
    otherwise) — unreachable on scrub output (scrubbing never empties a
    non-empty transcript's normalized tokens), aligned anyway so the
    branch can't silently diverge if the corpus changes."""
    def toks(col: str) -> str:
        return (f"list_filter(string_split_regex(regexp_replace(lower({col}), "
                f"'[^a-z0-9_\\s'']', ' ', 'g'), '\\s+'), x -> x <> '')")

    enc = ("array_to_string(list_transform({side}, "
           "w -> chr(32 + list_position(vocab, w))), '')")
    return f"""
WITH e AS (SELECT doc_id, {ENRICH_SQL} AS etext FROM documents),
s AS (SELECT doc_id, etext, {tx.duck_scrub_sql('etext')} AS scrubbed FROM e),
t AS (SELECT doc_id, {toks('etext')} AS rt, {toks('scrubbed')} AS ht FROM s),
v AS (SELECT doc_id, rt, ht, list_distinct(rt || ht) AS vocab FROM t),
d AS (SELECT doc_id,
        levenshtein({enc.format(side='rt')}, {enc.format(side='ht')}) AS edits,
        len(rt) AS ref_words
      FROM v)
SELECT doc_id,
       round(CASE WHEN ref_words > 0 THEN CAST(edits AS DOUBLE) / ref_words
                  WHEN edits > 0 THEN CAST('infinity' AS DOUBLE)
                  ELSE 0.0 END, 6) AS wer,
       CAST(edits AS BIGINT) AS total_edits,
       CAST(ref_words AS BIGINT) AS reference_words
FROM d
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    "scrub_lexicon": (q_scrub_lexicon, SQL_SCRUB_LEXICON),
    "scrub_counts": (q_scrub_counts, _sql_scrub_counts()),
    "quality_flags": (q_quality_flags, SQL_QUALITY_FLAGS),
    "langid_confidence": (q_langid_confidence, _sql_langid()),
    "keep_drop_grade": (q_keep_drop_grade, _sql_keep_drop()),
    "qa_status_histogram": (q_qa_status_histogram, _sql_qa_histogram()),
    "pii_category_totals": (q_pii_category_totals, _sql_pii_totals()),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_suppliers": (q_top_suppliers, SQL_TOP_SUPPLIERS),
    "events_minutely": (q_events_minutely, SQL_EVENTS_MINUTELY),
    "lang_rollup": (q_lang_rollup, SQL_LANG_ROLLUP),
    "user_sessions": (q_user_sessions, SQL_USER_SESSIONS),
    "status_pivot": (q_status_pivot, _sql_status_pivot()),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "pipeline_full": (q_pipeline_full, None),       # oracle attached below
    "pipeline_exact_only": (q_pipeline_exact_only, _sql_pipeline_exact_only()),
    # same oracle SQL on purpose: three engines (pandas-UDF kernel,
    # pure Spark SQL, DuckDB) must agree on the exact layer
    "pipeline_exact_sql": (q_pipeline_exact_sql, _sql_pipeline_exact_only()),
    "pipeline_grade_cols": (q_pipeline_grade_cols, _sql_pipeline_grade_cols()),
    "wer_scrub_effect": (q_wer_scrub_effect, _sql_wer_scrub_effect()),
}


def _register_pipeline_full_oracle() -> None:
    from .functions.wordpath_sql import duck_pipeline_full_sql

    full_sql = duck_pipeline_full_sql(ENRICH_SQL)
    QUERIES["pipeline_full"] = (q_pipeline_full, full_sql)
    # the vocab-broadcast variant shares the word-path twin minus the
    # ppl/audio columns (text-only row)
    vocab_cols = ("clip_id, transcript, scrubbed_text, pii_count, "
                  "n_exact, n_fuzzy, verify_pii_count, qa_status, keep, "
                  "lang, lang_conf, word_cnt")
    QUERIES["pipeline_full_vocab"] = (
        q_pipeline_full_vocab,
        f"SELECT {vocab_cols} FROM ({full_sql})")


def _register_dedup_similarity() -> None:
    from .functions.dedup import (
        duck_jaccard_pairs_sql,
        duck_lsh_pairs_sql,
        duck_minhash_sql,
        duck_neardup_clusters_sql,
        duck_simhash64_pairs_sql,
        duck_simhash64_sql,
        duck_simhash_sql,
    )
    from .functions.fuzzy_sql import duck_fuzzy_vocab_sql
    from .functions.similarity import (
        duck_cosine_topk_ivf_centroid_multiprobe_sql,
        duck_cosine_topk_ivf_centroid_sql,
        duck_cosine_topk_ivf_multiprobe_sql,
        duck_cosine_topk_ivf_sql,
        duck_cosine_topk_sql,
        duck_neardup_pairs_sql,
    )

    QUERIES.update({
        "fuzzy_vocab": (q_fuzzy_vocab, duck_fuzzy_vocab_sql(ENRICH_SQL)),
        "minhash_signatures": (q_minhash_signatures, duck_minhash_sql()),
        "neardup_pairs_minhash": (q_neardup_pairs_minhash, duck_lsh_pairs_sql()),
        "jaccard_pairs": (q_jaccard_pairs, duck_jaccard_pairs_sql()),
        "neardup_clusters": (q_neardup_clusters, duck_neardup_clusters_sql()),
        "simhash": (q_simhash, duck_simhash_sql()),
        "simhash64": (q_simhash64, duck_simhash64_sql()),
        "simhash64_pairs": (q_simhash64_pairs, duck_simhash64_pairs_sql()),
        "ann_cosine_topk": (q_ann_cosine_topk, duck_cosine_topk_sql()),
        "embedding_neardup": (q_embedding_neardup, duck_neardup_pairs_sql()),
        "ann_ivf_topk": (q_ann_ivf_topk, duck_cosine_topk_ivf_sql()),
        "ann_ivf_multiprobe": (q_ann_ivf_multiprobe,
                               duck_cosine_topk_ivf_multiprobe_sql()),
        "ann_ivf_centroid": (q_ann_ivf_centroid,
                             duck_cosine_topk_ivf_centroid_sql()),
        "ann_ivf_centroid_multiprobe": (
            q_ann_ivf_centroid_multiprobe,
            duck_cosine_topk_ivf_centroid_multiprobe_sql()),
        "lang_char_median": (q_lang_char_median, SQL_LANG_CHAR_MEDIAN),
        "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    })


_register_pipeline_full_oracle()
_register_dedup_similarity()
