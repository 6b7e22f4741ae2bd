"""Streaming pipeline (availableNow): the scrub stream matches the batch
oracle and restarts from its checkpoint without duplicating output."""

from pii_redaction_pipeline_spark import core, datagen
from pii_redaction_pipeline_spark.streaming.pipeline import scrub_stream

N = 120


def test_scrub_stream_availablenow(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    datagen.clips_df(spark, N, seed=5, partitions=4, with_audio=False) \
        .write.parquet(src)
    q = scrub_stream(spark, src, out, ckpt)
    q.awaitTermination(180)
    res = spark.read.parquet(out)
    assert res.count() == N
    # streaming output matches the batch oracle row-for-row
    rows = {r["clip_id"]: r for r in res.collect()}
    pdf = datagen.clips_pandas(N, seed=5, with_audio=False)
    for row in pdf.itertuples():
        exp = core.process_transcript(row.transcript)
        assert rows[row.clip_id]["scrubbed_text"] == exp["scrubbed_text"]
        assert rows[row.clip_id]["qa_status"] == exp["qa_status"]

    # restart on same checkpoint: no new data → no duplicate output
    q2 = scrub_stream(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == N
