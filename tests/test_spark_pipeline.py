"""End-to-end Spark pipeline vs the pure-Python oracle (SURVEY §5 T2/T3).

Every row of a 400-clip synthetic table must agree with
core.process_transcript on scrubbed text (equality), keep/qa_status
(the F1≥0.99 gate — we require exact agreement, stronger), quality
metrics, langid, and perplexity; audio invariants: bytes pass through
untouched, decoded PCM SNR ≥ 30 dB vs the generator signal, opus rows
captured as per-row errors.
"""

import math

import numpy as np
import pytest

from pii_redaction_pipeline_spark import core, datagen
from pii_redaction_pipeline_spark.functions.audio import decode_wav_bytes, snr_db
from pii_redaction_pipeline_spark.pipeline import (
    PipelineConfig,
    apply_pipeline,
    manifest_df,
    qa_report_df,
)

N = 400


@pytest.fixture(scope="module")
def results(spark):
    clips = datagen.clips_df(spark, N, seed=42, partitions=8)
    out = apply_pipeline(clips, PipelineConfig())
    rows = {r["clip_id"]: r for r in out.collect()}
    assert len(rows) == N
    return rows


@pytest.fixture(scope="module")
def oracle():
    pdf = datagen.clips_pandas(N, seed=42, with_audio=False)
    return {
        row.clip_id: (row, core.process_transcript(row.transcript))
        for row in pdf.itertuples()
    }


def test_scrubbed_text_equality(results, oracle):
    for cid, (_, exp) in oracle.items():
        assert results[cid]["scrubbed_text"] == exp["scrubbed_text"], cid


def test_keep_and_status_agreement(results, oracle):
    """North rule asks F1>=0.99; we assert exact agreement on all rows.
    The pipeline runs with audio verify on, so the expected status is the
    worst-of combine of the text oracle and decode integrity (wav rows
    decode, opus rows fail by construction)."""
    for cid, (row, exp) in oracle.items():
        r = results[cid]
        want_status = core.combine_status(exp["qa_status"], row.codec == "wav")
        want_keep = exp["keep"] and want_status == "PASS"
        assert r["qa_status"] == want_status, cid
        assert bool(r["keep"]) == want_keep, cid
        assert r["pii_count"] == exp["pii_count"], cid
        assert r["verify_pii_count"] == exp["verify_pii_count"], cid


def test_quality_langid_ppl_agreement(results, oracle):
    for cid, (_, exp) in oracle.items():
        r = results[cid]
        assert r["word_cnt"] == exp["word_cnt"], cid
        assert math.isclose(r["distinct_ratio"], exp["distinct_ratio"],
                            rel_tol=0, abs_tol=0), cid
        assert math.isclose(r["symbol_density"], exp["symbol_density"],
                            rel_tol=0, abs_tol=0), cid
        assert r["lang"] == exp["lang"], cid
        assert math.isclose(r["lang_conf"], exp["lang_conf"], abs_tol=0), cid
        assert bool(r["quality_ok"]) == exp["quality_ok"], cid
        assert math.isclose(r["ppl"], exp["ppl"], rel_tol=1e-12), cid


def test_transcript_passthrough(results, oracle):
    for cid, (row, _) in oracle.items():
        assert results[cid]["transcript"] == row.transcript, cid


def test_bytes_passthrough_and_snr(results):
    """bytes byte-identical through the pipeline; decoded PCM >=30dB SNR
    vs the generator signal (the north-rule PCM invariant)."""
    pdf = datagen.clips_pandas(N, seed=42, with_audio=True)
    checked_snr = 0
    for row in pdf.itertuples():
        r = results[row.clip_id]
        assert bytes(r["bytes"]) == bytes(row.bytes), row.clip_id
        if row.codec == "wav" and checked_snr < 40:
            pcm, sr = decode_wav_bytes(bytes(r["bytes"]))
            assert sr == row.sr_hz
            ref = datagen.synth_pcm(int(row.clip_id.split("_")[1]),
                                    row.dur_ms, row.sr_hz)
            assert snr_db(ref, pcm) >= 30.0, row.clip_id
            checked_snr += 1
    assert checked_snr == 40


def test_decode_flags(results):
    pdf = datagen.clips_pandas(N, seed=42, with_audio=False)
    for row in pdf.itertuples():
        r = results[row.clip_id]
        if row.codec == "wav":
            assert r["decode_ok"] and r["error"] is None, row.clip_id
            assert r["n_samples"] == int(row.sr_hz * row.dur_ms / 1000)
        else:  # opus → captured error, row still present (continue-on-error)
            assert not r["decode_ok"]
            assert r["stage"] == "decode" and "codec" in r["error"]


def test_audio_integrity_fuses_into_grade(spark):
    """Worst-of rule (reference src/verifier.py:41-55): a clip whose
    audio cannot be decoded must grade REVIEW_REQUIRED and be dropped
    even when its text passes — and FAIL text stays FAIL."""
    pdf = datagen.clips_pandas(80, seed=5, with_audio=True)
    ok = [r for r in pdf.itertuples()
          if r.codec == "wav" and core.process_transcript(r.transcript)["keep"]]
    row = ok[0]
    corrupt = bytes(row.bytes)[:20]  # truncated RIFF header → decode error
    df = spark.createDataFrame(
        [("good", bytes(row.bytes), row.sr_hz, row.dur_ms, "wav", row.transcript),
         ("corrupt", corrupt, row.sr_hz, row.dur_ms, "wav", row.transcript),
         ("nullbytes", None, row.sr_hz, row.dur_ms, "wav", row.transcript)],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    out = {r["clip_id"]: r
           for r in apply_pipeline(df, PipelineConfig(with_ppl=False)).collect()}
    assert out["good"]["qa_status"] == "PASS" and out["good"]["keep"]
    for cid in ("corrupt", "nullbytes"):
        assert not out[cid]["decode_ok"], cid
        assert out[cid]["qa_status"] == "REVIEW_REQUIRED", cid
        assert not out[cid]["keep"], cid


def test_combine_status_worst_of():
    """Reference overall_status ordering (src/verifier.py:41-55)."""
    for ts in ("PASS", "PASS_WITH_NOTE", "REVIEW_REQUIRED", "FAIL"):
        assert core.combine_status(ts, None) == ts       # audio not verified
        assert core.combine_status(ts, True) == ts       # audio PASS
    assert core.combine_status("PASS", False) == "REVIEW_REQUIRED"
    assert core.combine_status("PASS_WITH_NOTE", False) == "REVIEW_REQUIRED"
    assert core.combine_status("REVIEW_REQUIRED", False) == "REVIEW_REQUIRED"
    assert core.combine_status("FAIL", False) == "FAIL"


def test_manifest_and_report(spark):
    clips = datagen.clips_df(spark, 100, seed=42, partitions=4)
    res = apply_pipeline(clips, PipelineConfig(with_audio_verify=False,
                                               with_ppl=False))
    man = manifest_df(res.withColumn("dur_ms", res["dur_ms"]))
    rows = man.collect()
    assert len(rows) == 100
    assert {r["qa_status"] for r in rows} <= {"PASS", "REVIEW_REQUIRED", "FAIL"}
    rep = qa_report_df(res).collect()[0]
    assert rep["total"] == 100
    assert rep["n_pass"] + rep["n_review"] + rep["n_fail"] == 100
    assert 0 < rep["n_kept"] < 100


def test_deid_json_redactions_match_core(spark):
    """`redactions` comes from its own UDF, run only when a consumer reads
    it: deid_json_df's records and processing_report's category chart
    must still be core.scrub_row's, fuzzy matches and NULLs included."""
    import json

    from pii_redaction_pipeline_spark.pipeline import deid_json_df
    from pii_redaction_pipeline_spark.report import processing_report

    clips = datagen.clips_df(spark, 60, seed=7, partitions=2,
                             with_audio=False)
    extra = spark.createDataFrame(
        [("x1", None), ("x2", "huston and febuary in New York City")],
        "clip_id string, transcript string")
    clips = clips.select("clip_id", "transcript").unionByName(extra)
    res = apply_pipeline(clips, PipelineConfig(with_audio_verify=False,
                                               with_ppl=False))
    texts = {r["clip_id"]: r["transcript"] for r in clips.collect()}
    n_red = 0
    for r in deid_json_df(res).collect():
        want = core.scrub_row(texts[r["clip_id"]])["redactions"]
        assert json.loads(r["deid_json"])["redactions"] == want, r["clip_id"]
        n_red += len(want)
    assert n_red > 0
    assert "PII BY CATEGORY" in processing_report(res)


def test_quality_columns_equal_the_two_split_forms(spark):
    """with_quality splits each text once (lower, then split) and counts
    symbols with translate(); the forms it replaced split twice and ran
    regexp_replace. All three metrics must agree on Java-\\s and
    non-Java whitespace, case mappings that lengthen (İ), astral code
    points and NULL."""
    from pyspark.sql import functions as F

    from pii_redaction_pipeline_spark.functions.quality import with_quality

    texts = [None, "", " ", "a\x0bb\fc\rd\te\nf", "A a\u00a0a \u2028 B b",
             "\u0130stanbul \u0130STANBUL istanbul", "\u3000x\u3000 x",
             "\U0001F600 \U0001F600 ok!", "$$ %% 12 ab_cd", "K k \u212a",
             "x\x1cy\x85z"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id int, text string")
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.array_remove(F.split(text, r"\s+"), "")
    word_cnt = F.size(toks)
    distinct = F.size(F.array_distinct(
        F.array_remove(F.split(F.lower(text), r"\s+"), "")))
    n_chars = F.length(text)
    symbols = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    old = df.select(
        "id", word_cnt.alias("word_cnt"),
        F.when(word_cnt > 0, distinct.cast("double") / word_cnt)
        .otherwise(F.lit(0.0)).alias("distinct_ratio"),
        F.when(n_chars > 0, symbols.cast("double") / n_chars)
        .otherwise(F.lit(0.0)).alias("symbol_density"))
    cols = ["id", "word_cnt", "distinct_ratio", "symbol_density"]
    new = with_quality(df, "text").select(cols)
    assert sorted(new.collect()) == sorted(old.collect())


def test_null_transcript_rows(spark):
    """NULL transcripts flow through like the reference's continue-on-error
    rows: scrub yields empty text, quality drops them, nothing throws."""
    from pyspark.sql import Row

    from pii_redaction_pipeline_spark.schema import CLIPS_SCHEMA

    rows = [Row(clip_id="c1", bytes=None, sr_hz=16000, dur_ms=500,
                codec="wav", transcript=None),
            Row(clip_id="c2", bytes=None, sr_hz=16000, dur_ms=500,
                codec="wav", transcript="I visited Houston on Monday ok")]
    df = spark.createDataFrame(rows, schema=CLIPS_SCHEMA)
    out = {r["clip_id"]: r for r in apply_pipeline(
        df, PipelineConfig(with_audio_verify=False)).collect()}
    assert out["c1"]["scrubbed_text"] == ""
    assert out["c1"]["qa_status"] == "PASS" and not out["c1"]["keep"]
    assert out["c2"]["scrubbed_text"] == "I visited [CITY] on [DAY] ok"
    assert out["c2"]["keep"]


def test_bytes_pruned_when_audio_off(spark):
    """Column pruning: with audio verify off, the physical scan must not
    read `bytes` (explain ReadSchema check — SURVEY §4.2)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        datagen.clips_df(spark, 50, seed=1, partitions=2).write.mode(
            "overwrite").parquet(f"{d}/clips")
        clips = spark.read.parquet(f"{d}/clips")
        out = apply_pipeline(clips, PipelineConfig(with_audio_verify=False,
                                                   with_ppl=False))
        out = out.drop("bytes")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "bytes" not in plan.split("ReadSchema")[-1][:400]


def test_fuzzy_vocab_broadcast_equals_per_row(spark):
    """The 10^12-scale fuzzy path (fuzzy_vocab_broadcast=True: one
    relational vocabulary job + broadcast lookup in the scrub UDF) must
    produce EXACTLY the per-row sweep's output on every column — the
    enriched corpus includes the case-8 typo clause ('huston',
    'febuary', 'phenix'), so the fuzzy layer is discriminating."""
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
    )
    from pii_redaction_pipeline_spark.queries import clips_from_documents

    clips = clips_from_documents(spark, "/root/testdata/sf0.001",
                                 with_audio=False)
    cols = ["clip_id", "scrubbed_text", "pii_count", "n_exact", "n_fuzzy",
            "verify_pii_count", "qa_status", "keep"]
    base = {r["clip_id"]: tuple(r[c] for c in cols)
            for r in apply_pipeline(
                clips, PipelineConfig(with_audio_verify=False,
                                      with_ppl=False)).select(cols).collect()}
    vocab = {r["clip_id"]: tuple(r[c] for c in cols)
             for r in apply_pipeline(
                 clips, PipelineConfig(with_audio_verify=False,
                                       with_ppl=False,
                                       fuzzy_vocab_broadcast=True))
             .select(cols).collect()}
    assert base == vocab
    # the corpus really exercised the fuzzy layer
    assert any(v[4] > 0 for v in base.values())  # n_fuzzy column


def test_fuzzy_map_and_centroids_ship_via_broadcast(spark):
    """Round-5 verdict item 4: large reference data (the fuzzy vocab
    map, the IVF centroid matrix) must ride to executors via
    `sc.broadcast` — shipped once per executor — not in the pickled UDF
    closure, which is re-serialized with EVERY task. Pinned by closure
    size: the serialized UDF function must stay O(1) in the size of the
    reference data."""
    import numpy as np
    from pyspark.cloudpickle import dumps

    from pii_redaction_pipeline_spark.functions.scrub import (
        make_detect_and_scrub,
        make_scrub_redactions,
        with_scrub,
    )
    from pii_redaction_pipeline_spark.functions.similarity import (
        _bc_centroids,
        _cell_assign_udf,
    )

    # adversarially large map: every token fuzzy-matches something
    big_map = {f"tok{i:06d}": ("houston", "city", 1) for i in range(50_000)}
    bc = spark.sparkContext.broadcast(big_map)
    for make in (make_detect_and_scrub, make_scrub_redactions):
        sz_bc = len(dumps(make(True, bc).func))
        sz_dict = len(dumps(make(True, big_map).func))
        assert sz_dict > 500_000        # the closure-pickle trap, for scale
        assert sz_bc < 50_000, sz_bc    # broadcast handle: O(1) closure

    # with_scrub wraps a plain dict transparently (callers don't change)
    df = spark.createDataFrame([("a", "we met in huston",)],
                               "clip_id string, transcript string")
    out = with_scrub(df, fuzzy_map=dict(big_map, **{
        "huston": ("houston", "city", 1)}))
    row = out.select("scrubbed_text", "n_fuzzy", "redactions").collect()[0]
    assert row["n_fuzzy"] == 1 and "[CITY]" in row["scrubbed_text"]
    assert [r["original"] for r in row["redactions"]] == ["huston"]

    # IVF centroid matrix: production-scale K x D must not ride per-task
    C = np.zeros((4096, 64), dtype=np.float64)
    c_ids = np.arange(4096, dtype=np.int64)
    sz_cell = len(dumps(_cell_assign_udf(
        _bc_centroids(df, C, c_ids)).func))
    assert sz_cell < 50_000, sz_cell  # 4096x64 float64 alone is 2 MB


def test_worker_gc_tuning_applies_and_is_idempotent():
    """Round-7 worker GC tuning (functions/worker.py): first call
    collects+freezes+raises thresholds, and repeat calls are no-ops.
    Runs driver-side against the same gc module the workers use."""
    import gc
    import importlib

    import pii_redaction_pipeline_spark.functions.worker as w

    saved = gc.get_threshold()
    try:
        importlib.reload(w)
        w.init_worker()
        assert gc.get_threshold() == (500_000, 100, 100)
        assert gc.get_freeze_count() > 0
        w.init_worker()  # idempotent, no error
    finally:
        gc.set_threshold(*saved)
        gc.unfreeze()


def test_udf_faulthandler_is_on(spark):
    """The session factory applies every item of the one conf table
    job.py's builder applies too. Among them: a Python worker that
    crashes or hangs puts its Python traceback in the task error
    (pyspark's UDF faulthandler)."""
    from pii_redaction_pipeline_spark.session import PIPELINE_CONF

    assert PIPELINE_CONF[
        "spark.sql.execution.pyspark.udf.faulthandler.enabled"] == "true"
    for key, value in PIPELINE_CONF.items():
        assert spark.conf.get(key) == value, key


def test_building_the_pipeline_writes_no_session_conf(spark):
    """Building the plan leaves the session conf as it found it, with and
    without audio, so no query's Arrow batch depends on which pipeline
    was built last."""
    clips = datagen.clips_df(spark, 8, seed=3, partitions=1)
    before = dict(spark.conf.getAll)
    apply_pipeline(clips, PipelineConfig())
    assert dict(spark.conf.getAll) == before
    apply_pipeline(clips.drop("bytes"), PipelineConfig())
    assert dict(spark.conf.getAll) == before


def test_arrow_batch_closes_at_the_bytes_bound(spark):
    """A scalar pandas UDF over ~100 KB binary rows gets batches cut by
    spark.sql.execution.arrow.maxBytesPerBatch, each at most one row
    past the bound, long before maxRecordsPerBatch: the bound that keeps
    MB-scale audio rows from filling a Python worker's memory."""
    import pandas as pd
    from pyspark.sql import functions as F

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    row_bytes, bound, n = 100_000, 1 << 20, 60

    @F.pandas_udf("long")
    def batch_start(ids: pd.Series, payload: pd.Series) -> pd.Series:
        return pd.Series([ids.iloc[0]] * len(ids))

    saved = spark.conf.get(key)
    spark.conf.set(key, str(bound))
    try:
        df = spark.range(0, n, numPartitions=1).select(
            "id", F.expr(f"cast(repeat('x', {row_bytes}) as binary)")
            .alias("payload"))
        sizes = [r["count"] for r in df.select(
            batch_start("id", "payload").alias("batch"))
            .groupBy("batch").count().collect()]
    finally:
        spark.conf.set(key, saved)
    assert sum(sizes) == n
    assert len(sizes) >= 3
    assert all(s * row_bytes <= bound + row_bytes for s in sizes), sizes
