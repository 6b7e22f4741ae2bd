"""The skew remedies job.py keeps: the one-time layout rewrite
(sources/tableio.cost_balanced_rewrite, `--rewrite-layout`) on a
miniature of skew_fixture.py's workload (hot rows whose unique
vocabulary defeats the fuzzy memo, clustered in one input file), and the
vocabulary-broadcast fuzzy path with the input-size rule in
pipeline.apply_pipeline that picks it."""

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pii_redaction_pipeline_spark import pipeline

REPO = Path(__file__).resolve().parents[1]

# miniature skew_fixture: hot rows carry unique 12-char pseudo-words
# (fresh Levenshtein sweep per word, no memo reuse) and all sit in one
# file; soup rows repeat a tiny cheap vocabulary
HOT_WORDS_PER_ROW = 4
N_NORMAL = 240
# enough hot rows that hash placement alone stays inside the rewrite
# tests' band: the even share is 40 per file over 12 files, and 0.5×-2×
# of it is more than 3 standard deviations away on either side
N_HOT = 480


def _clip_cols():
    """Clip-table columns beyond (clip_id, transcript) that job.py's
    manifest/QA sinks require."""
    return [F.lit(16000).alias("sr_hz"), F.lit(1000).cast("int").alias("dur_ms"),
            F.lit("wav").alias("codec"), F.lit(None).cast("binary").alias("bytes")]


def _skewed_corpus(spark, tmp_path):
    out = tmp_path / "clips"
    soup = " ".join(["the quick brown fox jumps over the lazy dog again "
                     "and again with spark rows and tables"] * 4)
    normal = spark.range(N_NORMAL).select(
        F.format_string("clip_%06d", F.col("id")).alias("clip_id"),
        F.lit(soup).alias("transcript"), *_clip_cols())
    normal.repartition(4).write.mode("overwrite").parquet(str(out))
    hot = spark.range(N_HOT).select(
        F.format_string("hotclip_%06d", F.col("id")).alias("clip_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {HOT_WORDS_PER_ROW - 1}), "
            "j -> concat('zq', lpad(cast(id as string), 6, '0'), 'x', "
            "lpad(cast(j as string), 3, '0'))))").alias("transcript"),
        *_clip_cols())
    hot.repartition(1).write.mode("append").parquet(str(out))
    return spark.read.parquet(str(out))


def _hot_rows_per_file(df):
    """{input file: hot rows in it} (hot rows are the `hotclip_` ids)."""
    hot = F.col("clip_id").startswith("hotclip_").cast("int")
    return {r["f"]: r["hot"] for r in
            df.groupBy(F.input_file_name().alias("f"))
            .agg(F.sum(hot).alias("hot")).collect()}


def _assert_hot_rows_even(df, n_files):
    """The rewrite's promise: every output file holds an unbiased sample,
    so each file's hot rows lie within 0.5×-2× of the even share."""
    per_file = _hot_rows_per_file(df)
    assert len(per_file) == n_files, per_file
    share = sum(per_file.values()) / n_files
    assert all(0.5 * share <= h <= 2 * share
               for h in per_file.values()), per_file


def test_cost_balanced_rewrite_removes_skew(spark, tmp_path):
    """The layout remedy (one-time uniform hash rewrite): the skewed
    corpus keeps every hot row in one file; after the rewrite every file
    holds its even share of them, which is what makes every later scan
    split carry the same cost mixture."""
    from pii_redaction_pipeline_spark.sources.tableio import (
        cost_balanced_rewrite,
    )

    clips = _skewed_corpus(spark, tmp_path)
    assert max(_hot_rows_per_file(clips).values()) == N_HOT

    out = tmp_path / "rewritten"
    n_files = cost_balanced_rewrite(clips, str(out), n_files=12)
    assert n_files == 12
    rewritten = spark.read.parquet(str(out))
    assert rewritten.count() == clips.count()
    _assert_hot_rows_even(rewritten, 12)


def _job_env():
    import os
    env = {"PYTHONPATH": str(REPO)}
    env.update({k: os.environ[k] for k in
                ("PATH", "JAVA_HOME", "HOME") if k in os.environ})
    return env


# job.py's CLI with the fuzzy-vocab size threshold lowered to 1 byte
_JOB_AUTO_AT_1_BYTE = ("-c", "import sys, job; "
                       "from pii_redaction_pipeline_spark import pipeline; "
                       "pipeline.FUZZY_VOCAB_MIN_BYTES = 1; "
                       "job.main(sys.argv[1:])")


def _run_job(args_list, timeout=420, launch=(str(REPO / "job.py"),)):
    """One job.py subprocess with the suite's one-retry guard for
    transient JVM-spawn failures under a loaded epoch."""
    def go():
        return subprocess.run(
            [sys.executable, *launch, *args_list],
            capture_output=True, text=True, timeout=timeout,
            cwd=str(REPO), env=_job_env())
    r = go()
    if r.returncode != 0:
        r = go()
    return r


@pytest.mark.slow
def test_job_rewrite_layout_cli(spark, tmp_path):
    """job.py --rewrite-layout end-to-end (round-5 verdict item 2): the
    one-time layout remedy is reachable from the production entry point
    — rewrites the skewed corpus into n cost-mixed files, prints the
    JSON receipt, and exits WITHOUT running the pipeline."""
    corpus = tmp_path / "corpus"
    clips = _skewed_corpus(spark, corpus)
    n = clips.count()
    out = tmp_path / "rewritten"
    r = _run_job(["--input", str(corpus / "clips"),
                  "--rewrite-layout", str(out), "--rewrite-files", "12"])
    assert r.returncode == 0, r.stderr[-2000:]
    receipt = json.loads(r.stdout.strip().splitlines()[-1])
    assert receipt == {"rewrite_layout": str(out), "n_files": 12}
    rewritten = spark.read.parquet(str(out))
    assert rewritten.count() == n
    assert len(list(out.glob("part-*.parquet"))) == 12
    # no pipeline artifacts: the flag is the offline remedy, not a run
    assert not (tmp_path / "out").exists()
    # and every file got its even share of the hot rows
    _assert_hot_rows_even(rewritten, 12)


@pytest.mark.slow
def test_job_fuzzy_vocab_broadcast_cli(spark, tmp_path):
    """job.py --fuzzy-vocab-broadcast end-to-end: the vocab-broadcast
    pipeline mode is reachable from the production entry point and its
    output matches the default per-row fuzzy path row-for-row (the
    equality the API tests pin, re-checked through spark-submit-shaped
    invocation)."""
    from pyspark.sql import functions as F  # noqa: F811

    corpus = tmp_path / "corpus"
    # corpus with real fuzzy hits: misspelled lexicon terms
    docs = spark.range(80).select(
        F.format_string("clip_%06d", F.col("id")).alias("clip_id"),
        F.concat(
            F.lit("we flew to huston in febuary with "),
            F.format_string("tok%04d filler text", F.col("id"))
        ).alias("transcript"), *_clip_cols())
    docs.repartition(4).write.mode("overwrite").parquet(str(corpus))
    out = tmp_path / "out"
    r = _run_job(["--input", str(corpus), "--output", str(out),
                  "--buckets", "4", "--no-audio-verify", "--no-ppl",
                  "--fuzzy-vocab-broadcast"])
    assert r.returncode == 0, r.stderr[-2000:]
    assert ("fuzzy path: vocab broadcast (set by fuzzy_vocab_broadcast)"
            in r.stderr)
    info = json.loads(r.stdout.strip().splitlines()[-1])
    assert info["processed_buckets"] == 4
    results = spark.read.parquet(str(out / "results"))
    got = {r_["clip_id"]: (r_["scrubbed_text"], r_["n_fuzzy"])
           for r_ in results.select("clip_id", "scrubbed_text",
                                    "n_fuzzy").collect()}
    # expected = the default per-row fuzzy path, computed in-process
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
    )
    exp_df = apply_pipeline(spark.read.parquet(str(corpus)),
                            PipelineConfig(with_audio_verify=False,
                                           with_ppl=False))
    exp = {r_["clip_id"]: (r_["scrubbed_text"], r_["n_fuzzy"])
           for r_ in exp_df.select("clip_id", "scrubbed_text",
                                   "n_fuzzy").collect()}
    assert got == exp
    assert any(v[1] > 0 for v in got.values())  # fuzzy layer really fired


@pytest.mark.slow
def test_job_fuzzy_vocab_broadcast_auto_default(spark, tmp_path):
    """With no fuzzy flag, job.py takes the vocabulary-broadcast fuzzy
    path when the input's estimated size clears
    pipeline.FUZZY_VOCAB_MIN_BYTES (set to 1 byte here, in the job
    process), logs the decision to stderr, and the output still matches
    the per-row fuzzy path row-for-row; --no-fuzzy-vocab-broadcast
    forces the per-row path regardless of size."""
    from pyspark.sql import functions as F  # noqa: F811

    corpus = tmp_path / "corpus"
    docs = spark.range(60).select(
        F.format_string("clip_%06d", F.col("id")).alias("clip_id"),
        F.concat(
            F.lit("they wrote huston and febuary in the memo "),
            F.format_string("tok%04d filler", F.col("id"))
        ).alias("transcript"), *_clip_cols())
    docs.repartition(2).write.mode("overwrite").parquet(str(corpus))

    out = tmp_path / "out_auto"
    r = _run_job(["--input", str(corpus), "--output", str(out),
                  "--buckets", "2", "--no-audio-verify", "--no-ppl"],
                 launch=_JOB_AUTO_AT_1_BYTE)
    assert r.returncode == 0, r.stderr[-2000:]
    decisions = [x for x in r.stderr.splitlines() if "fuzzy path:" in x]
    assert len(decisions) == 1, decisions
    assert "fuzzy path: vocab broadcast" in decisions[0]
    assert "threshold 1 bytes" in decisions[0]
    assert "fuzzy_map broadcast:" in r.stderr  # with_scrub's map size

    results = spark.read.parquet(str(out / "results"))
    got = {r_["clip_id"]: (r_["scrubbed_text"], r_["n_fuzzy"])
           for r_ in results.select("clip_id", "scrubbed_text",
                                    "n_fuzzy").collect()}
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
    )
    exp_df = apply_pipeline(spark.read.parquet(str(corpus)),
                            PipelineConfig(with_audio_verify=False,
                                           with_ppl=False,
                                           fuzzy_vocab_broadcast=False))
    exp = {r_["clip_id"]: (r_["scrubbed_text"], r_["n_fuzzy"])
           for r_ in exp_df.select("clip_id", "scrubbed_text",
                                   "n_fuzzy").collect()}
    assert got == exp
    assert any(v[1] > 0 for v in got.values())  # fuzzy layer really fired

    # force-off wins over any size threshold: no map built
    out2 = tmp_path / "out_off"
    r2 = _run_job(["--input", str(corpus), "--output", str(out2),
                   "--buckets", "2", "--no-audio-verify", "--no-ppl",
                   "--no-fuzzy-vocab-broadcast"],
                  launch=_JOB_AUTO_AT_1_BYTE)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "fuzzy path: per-row (set by fuzzy_vocab_broadcast)" in r2.stderr
    assert "fuzzy_map broadcast:" not in r2.stderr


def _spy_vocab_map(monkeypatch):
    """Count apply_pipeline's collect_fuzzy_vocab_map calls; each call
    still runs."""
    calls = []
    real = pipeline.collect_fuzzy_vocab_map

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)
    monkeypatch.setattr(pipeline, "collect_fuzzy_vocab_map", spy)
    return calls


def test_apply_pipeline_picks_vocab_broadcast_from_input_size(
        spark, tmp_path, monkeypatch, caplog):
    """apply_pipeline decides the fuzzy path itself: a batch input at or
    above pipeline.FUZZY_VOCAB_MIN_BYTES builds the vocabulary map once
    and logs the decision; fuzzy_vocab_broadcast=False overrides the
    size; a stream of the same files never asks for plan stats, takes
    the per-row path and does not raise."""
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
    )
    from pii_redaction_pipeline_spark.schema import CLIPS_SCHEMA

    src = str(tmp_path / "clips")
    spark.createDataFrame(
        [("clip_000000", None, 16000, 1000, "wav", "we flew to huston")],
        CLIPS_SCHEMA).write.parquet(src)
    monkeypatch.setattr(pipeline, "FUZZY_VOCAB_MIN_BYTES", 1)
    calls = _spy_vocab_map(monkeypatch)
    caplog.set_level("INFO", logger="pii_redaction_pipeline_spark")
    cfg = PipelineConfig(with_audio_verify=False, with_ppl=False)

    out = apply_pipeline(spark.read.parquet(src), cfg)
    assert len(calls) == 1
    assert "fuzzy path: vocab broadcast" in caplog.text
    assert out.where("n_fuzzy > 0").count() == 1  # huston → houston

    caplog.clear()
    apply_pipeline(spark.read.parquet(src),
                   PipelineConfig(with_audio_verify=False, with_ppl=False,
                                  fuzzy_vocab_broadcast=False))
    assert len(calls) == 1
    assert "fuzzy path: per-row (set by fuzzy_vocab_broadcast)" in caplog.text

    caplog.clear()
    stream = spark.readStream.schema(CLIPS_SCHEMA).parquet(src)
    out = apply_pipeline(stream, cfg)
    assert out.isStreaming
    assert len(calls) == 1
    assert "fuzzy path: per-row (input estimate unknown" in caplog.text


def test_fuzzy_vocab_auto_treats_missing_stats_as_unknown(spark, tmp_path,
                                                          monkeypatch):
    """An input without size stats reports spark.sql.defaultSizeInBytes
    (Long.MaxValue) as its estimate. The size rule must read that as
    unknown and keep the per-row path, even at a 1-byte threshold; an
    input with real stats is still decided by the threshold."""
    monkeypatch.setattr(pipeline, "FUZZY_VOCAB_MIN_BYTES", 1)
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([("clip_000000", "we flew home")]),
        "clip_id string, transcript string")
    assert pipeline.fuzzy_vocab_auto(rdd_backed) == (False, None)

    rdd_backed.write.parquet(str(tmp_path / "clips"))
    clips = spark.read.parquet(str(tmp_path / "clips"))
    on, est = pipeline.fuzzy_vocab_auto(clips)
    assert on and 0 < est < 1 << 20
    monkeypatch.setattr(pipeline, "FUZZY_VOCAB_MIN_BYTES", est + 1)
    assert pipeline.fuzzy_vocab_auto(clips) == (False, est)
