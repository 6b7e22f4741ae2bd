"""North-rule deployment shape, end-to-end: `spark-submit --py-files
<zip> job.py` on a MULTI-EXECUTOR cluster (local-cluster → separate
executor JVMs, so executors really do import the pipeline from the
shipped archive, not from the driver's cwd) with checkpoint-resume
across two invocations."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import job

REPO = Path(job.REPO)
SPARK_SUBMIT = shutil.which("spark-submit") or str(
    Path(sys.executable).parent / "spark-submit")

pytestmark = pytest.mark.skipif(
    not Path(SPARK_SUBMIT).exists(), reason="spark-submit not on PATH")


def _submit(zip_path, input_path, out_dir, extra):
    env = dict(os.environ)
    # executors unpickle UDFs from the shipped zip; keep the driver's
    # PYTHONPATH out of executor env so a stale zip would actually fail
    cmd = [
        SPARK_SUBMIT,
        "--master", "local-cluster[2,2,1536]",
        "--conf", "spark.executor.memory=1200m",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.pyspark.python={sys.executable}",
        "--py-files", str(zip_path),
        str(REPO / "job.py"),
        "--input", str(input_path), "--output", str(out_dir),
        "--buckets", "8", "--no-audio-verify", "--no-ppl", *extra,
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         cwd=str(REPO), timeout=420)
    assert res.returncode == 0, res.stderr[-3000:]
    info = json.loads(res.stdout.strip().splitlines()[-1])
    return info


def test_spark_submit_pyfiles_resume(spark, tmp_path):
    from pii_redaction_pipeline_spark import datagen

    clips_path = tmp_path / "clips"
    datagen.clips_df(spark, 200, seed=3, partitions=4, with_audio=False) \
        .write.parquet(str(clips_path))
    zip_path = tmp_path / "pkg.zip"
    job.make_zip(str(zip_path))
    out = tmp_path / "out"

    # first invocation stops after 3 buckets (simulated partial run)
    info1 = _submit(zip_path, clips_path, out, ["--max-buckets", "3"])
    assert info1["processed_buckets"] == 3

    # second invocation resumes and finishes
    info2 = _submit(zip_path, clips_path, out, [])
    assert info2["skipped_buckets"] == 3
    assert info2["processed_buckets"] == 5

    res = spark.read.parquet(str(out / "results"))
    assert res.count() == 200
    assert res.select("clip_id").distinct().count() == 200
    assert {"scrubbed_text", "qa_status", "keep"} <= set(res.columns)
    qa = spark.read.parquet(str(out / "qa_report")).collect()[0]
    assert qa["total"] == 200
