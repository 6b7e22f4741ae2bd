"""Checkpoint-resume semantics (SURVEY §5 T3): kill after k buckets,
rerun, final table identical to a single-shot run, duplicate-free."""

import pytest
from pyspark.sql import functions as F

from pii_redaction_pipeline_spark import datagen
from pii_redaction_pipeline_spark.pipeline import PipelineConfig, apply_pipeline
from pii_redaction_pipeline_spark.sources.tableio import ResumableRun

N = 300
BUCKETS = 8


def process(df):
    out = apply_pipeline(df, PipelineConfig(with_audio_verify=False,
                                            with_ppl=False))
    return out.drop("redactions")  # keep the on-disk schema flat for compare


@pytest.fixture()
def clips(spark):
    return datagen.clips_df(spark, N, seed=11, partitions=4,
                            with_audio=False)


def test_resume_after_partial_run(spark, clips, tmp_path):
    # one-shot ground truth
    solo = ResumableRun(spark, str(tmp_path / "solo"), n_buckets=BUCKETS)
    solo.run(clips, process)
    expected = {tuple(r) for r in solo.results().drop("bucket").collect()}

    # killed run: only 3 buckets complete
    rr = ResumableRun(spark, str(tmp_path / "resumed"), n_buckets=BUCKETS)
    r1 = rr.run(clips, process, max_buckets=3)
    assert r1["processed_buckets"] == 3
    assert len(rr.done_buckets()) == 3
    n_partial = rr.results().count()
    assert 0 < n_partial < N

    # resume: remaining buckets only
    r2 = rr.run(clips, process)
    assert r2["skipped_buckets"] == 3
    assert r2["processed_buckets"] == BUCKETS - 3

    got = {tuple(r) for r in rr.results().drop("bucket").collect()}
    assert got == expected
    assert rr.results().count() == N  # no dupes, no loss
    assert rr.results().select("clip_id").distinct().count() == N


def test_rerun_is_noop(spark, clips, tmp_path):
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    rr.run(clips, process)
    r = rr.run(clips, process)
    assert r["processed_buckets"] == 0
    assert r["skipped_buckets"] == BUCKETS
    assert rr.results().count() == N


def test_lineage_rows(spark, clips, tmp_path):
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    info = rr.run(clips, process)
    lin = rr.lineage().collect()
    assert len(lin) == BUCKETS
    assert all(r["status"] == "DONE" for r in lin)
    assert sum(r["n_rows"] for r in lin) == N
    assert all(r["run_id"] == info["run_id"] for r in lin)
    # metrics agree with the results table
    kept = rr.results().where("keep").count()
    assert sum(r["n_kept"] for r in lin) == kept


def test_empty_buckets_marked_done(spark, tmp_path):
    """Buckets that select zero rows still get a DONE lineage row
    (n_rows=0), so resume terminates instead of re-running them forever."""
    few = datagen.clips_df(spark, 20, seed=7, partitions=2, with_audio=False)
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=64)
    rr.run(few, process)
    lin = rr.lineage().collect()
    assert len(lin) == 64                      # every bucket recorded
    assert len(rr.done_buckets()) == 64
    empty = [r for r in lin if r["n_rows"] == 0]
    assert empty and all(r["status"] == "DONE" for r in empty)
    r2 = rr.run(few, process)                  # drive-until-done terminates
    assert r2["processed_buckets"] == 0
    assert r2["skipped_buckets"] == 64
    assert rr.results().count() == 20


def test_half_written_bucket_overwritten(spark, clips, tmp_path):
    """A bucket written but not recorded DONE (simulated crash between
    results commit and lineage append) is reprocessed without dupes."""
    rr = ResumableRun(spark, str(tmp_path / "o"), n_buckets=BUCKETS)
    rr.run(clips, process, max_buckets=2)
    # wipe lineage → as if the job died before recording DONE
    import shutil
    shutil.rmtree(rr.lineage_path)
    rr.run(clips, process)
    assert rr.results().count() == N
    assert rr.results().select("clip_id").distinct().count() == N


def test_rerun_is_noop_on_uri_output(spark, clips, tmp_path):
    """A `file://` output root resumes like a plain path: the lineage is
    found through Spark's filesystem, so a rerun processes nothing."""
    rr = ResumableRun(spark, (tmp_path / "o").as_uri(), n_buckets=BUCKETS)
    rr.run(clips, process)
    assert len(rr.done_buckets()) == BUCKETS
    r = rr.run(clips, process)
    assert r["processed_buckets"] == 0
    assert rr.results().count() == N
    assert rr.results().select("clip_id").distinct().count() == N


def test_one_file_per_bucket_and_exact_lineage(spark, tmp_path):
    """Audio clips generated in 4 partitions write one parquet file per
    bucket (not one per input partition per bucket), and each bucket's
    lineage counts equal the results table's, decode failures included."""
    clips = datagen.clips_df(spark, N, seed=11, partitions=4,
                             with_audio=True)

    def process_audio(df):
        cfg = PipelineConfig(with_audio_verify=True, with_ppl=False)
        return apply_pipeline(df, cfg).drop("redactions")

    out = tmp_path / "o"
    rr = ResumableRun(spark, str(out), n_buckets=BUCKETS)
    rr.run(clips, process_audio)

    for d in (out / "results").glob("bucket=*"):
        assert len(list(d.glob("*.parquet"))) == 1, d.name

    lineage = {r["bucket"]: (r["n_rows"], r["n_kept"], r["n_errors"])
               for r in rr.lineage().collect()}
    expected = {b: (0, 0, 0) for b in range(BUCKETS)}
    for r in (rr.results().groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.count_if("keep").alias("kept"),
                   F.count("error").alias("errors"))
              .collect()):
        expected[r["bucket"]] = (r["n"], r["kept"], r["errors"])
    assert lineage == expected
    undecodable = clips.where(F.col("codec") != "wav").count()
    assert undecodable > 0
    assert sum(e for _, _, e in lineage.values()) == undecodable


def test_write_partitioned_dispatch_iceberg_and_parquet():
    """The Iceberg branch can't execute in-sandbox (no Iceberg jars —
    SURVEY §7.4), but its DISPATCH can be pinned: a configured Iceberg
    catalog + a table-name target must route through
    writeTo().overwritePartitions() (snapshot-atomic per-partition
    overwrite, no hint: the table's distribution mode clusters it), and
    a path target must route through a rebalance on the bucket and the
    parquet dynamic-partition-overwrite chain. Fake objects capture the
    calls."""
    from pii_redaction_pipeline_spark.sources import tableio

    calls = []

    class FakeWriteTo:
        def overwritePartitions(self):
            calls.append("overwritePartitions")

    class FakeWriter:
        def mode(self, m):
            calls.append(("mode", m))
            return self

        def option(self, k, v):
            calls.append(("option", k, v))
            return self

        def partitionBy(self, c):
            calls.append(("partitionBy", c))
            return self

        def parquet(self, path):
            calls.append(("parquet", path))

    class FakeDF:
        write = FakeWriter()

        def hint(self, name, *params):
            calls.append(("hint", name, *params))
            return self

        def writeTo(self, target):
            calls.append(("writeTo", target))
            return FakeWriteTo()

    class FakeConf:
        def __init__(self, impl):
            self.impl = impl

        def get(self, key, default=""):
            if key == "spark.sql.catalog.spark_catalog":
                return self.impl
            return default

    class FakeSpark:
        def __init__(self, impl):
            self.conf = FakeConf(impl)

    iceberg = FakeSpark("org.apache.iceberg.spark.SparkCatalog")
    tableio.write_partitioned(FakeDF(), "catalog.db.results", iceberg)
    assert calls == [("writeTo", "catalog.db.results"), "overwritePartitions"]

    calls.clear()
    tableio.write_partitioned(FakeDF(), "/warehouse/out/results", iceberg)
    assert calls == [("hint", "rebalance", tableio.BUCKET_COL),
                     ("mode", "overwrite"),
                     ("option", "partitionOverwriteMode", "dynamic"),
                     ("partitionBy", tableio.BUCKET_COL),
                     ("parquet", "/warehouse/out/results")]

    calls.clear()  # no catalog configured → parquet even for a table name
    tableio.write_partitioned(FakeDF(), "db.results", FakeSpark(""))
    assert calls[-1] == ("parquet", "db.results")
