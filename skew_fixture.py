"""Heavy-tailed (non-byte-proportional) skew fixture: a corpus whose
per-row COST is decoupled from row BYTES, for comparing the skew
remedies the job keeps (the fuzzy vocab broadcast and the one-time
layout rewrite) against byte-balanced scan splits alone.

Models the production scenario the reference's own QA data shows
(heavy-tailed per-file processing times in
/root/reference/output/qa/processing_report.json, 2.9-11.6 s/file): a
corpus sorted by content class where a few files carry rows that are
~1800× more expensive per byte than the rest — here, "hot" rows whose
transcripts are 100 globally-unique ≥12-char pseudo-words each, which
drives the per-row fuzzy detector's Levenshtein sweep with zero memo
reuse (measured 85 ms/row vs 0.05 ms/row for soup rows). Cost lives in
content, not bytes, so uniform-byte scan splits cannot balance it on
the per-row fuzzy path: the 4 hot files become 4 straggler tasks at any
cluster size. The vocab broadcast makes hot rows cost what their bytes
cost; `job.py --rewrite-layout` spreads them over every file.

The unique-vocabulary trick exists because the in-repo fuzzy kernel
memoizes per Python worker: run the experiment with SCALE_WARMUPS=0, or
a warm-up visit populates the memo and flattens the very skew being
measured.

Usage:
    python skew_fixture.py [out_dir]          # writes the fixture
    # then, pinning each file to its own scan split (hot file ≈ 2 MB):
    SCALE_INPUT=<out>/clips SCALE_MAX_PARTITION_BYTES=8388608 \
    SCALE_WARMUPS=0 python scaling_bench.py                  # per-row
    SCALE_INPUT=<out>/clips SCALE_MAX_PARTITION_BYTES=8388608 \
    SCALE_WARMUPS=0 SCALE_FUZZY_BROADCAST=1 python scaling_bench.py
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

N_HOT = int(os.environ.get("SKEW_N_HOT", "6400"))
N_HOT_FILES = int(os.environ.get("SKEW_N_HOT_FILES", "4"))
N_NORMAL_FILES = int(os.environ.get("SKEW_N_NORMAL_FILES", "300"))
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "200"))
WORDS_PER_HOT_ROW = 100


def main() -> None:
    from pyspark.sql import functions as F

    import bench as bench_mod
    from pii_redaction_pipeline_spark.session import get_spark

    out_dir = Path(sys.argv[1] if len(sys.argv) > 1
                   else REPO / ".bench_cache" / "skew_fixture")
    clips_out = out_dir / "clips"
    spark = get_spark(app="skew_fixture", master="local[32]")

    cache = REPO / ".bench_cache"
    cache.mkdir(exist_ok=True)
    bench_mod.REPLICATE = REPLICATE
    normal_path = bench_mod.materialize_clips(
        spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        cache)

    normal = spark.read.parquet(normal_path)
    (normal.repartition(N_NORMAL_FILES)
     .write.mode("overwrite").parquet(str(clips_out)))

    # hot rows: 100 globally-unique pseudo-words each (see module
    # docstring); written as N_HOT_FILES contiguous files so the skew is
    # concentrated exactly like a content-sorted production table
    hot = spark.range(N_HOT).select(
        F.format_string("hotclip_%06d", F.col("id")).alias("clip_id"),
        F.lit(16000).alias("sr_hz"),
        F.lit(1000).cast("int").alias("dur_ms"),
        F.lit("wav").alias("codec"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {WORDS_PER_HOT_ROW - 1}), "
            f"j -> concat('zq', lpad(cast(id as string), 6, '0'), 'x', "
            f"lpad(cast(j as string), 3, '0'))))"
        ).alias("transcript"),
        F.lit(None).cast("binary").alias("bytes"))
    hot.repartition(N_HOT_FILES).write.mode("append").parquet(str(clips_out))

    total = spark.read.parquet(str(clips_out)).count()
    n_files = len(list(clips_out.glob("part-*")))
    print(json.dumps({"fixture": str(clips_out), "rows": total,
                      "hot_rows": N_HOT, "hot_files": N_HOT_FILES,
                      "files": n_files}))
    spark.stop()


if __name__ == "__main__":
    main()
