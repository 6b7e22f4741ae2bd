"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on).
Prints ONE JSON line:
{"metric": ..., "value": sec, "unit": "sec", "queries": {...},
 "raw": {...}, "canary": {...}, "sf": ...}

Usage:
  python bench.py                                  # everything
  python bench.py --queries simhash64,jaccard_pairs --plans plans/r08
`--queries` times only the named registry queries / xxhash64 modes (the
two headline pipelines always run); `--plans DIR` also writes each timed
query's explain("formatted") to DIR/<name>.txt.

Headline metric = wall seconds of the full filter+scrub pipeline over the
clips table (clips/sec reported alongside — the north-star throughput
number). Clips input is materialized to parquet once (cached under
.bench_cache/) so the measurement is scan→pipeline→noop sink, not datagen.

Trustworthiness (round-4 verdict item — the r3 driver epoch recorded
walls 4-59× off the re-measured values with no way to tell):
  - RAW per-run walls are recorded for every query (`raw`), not just the
    min — a poisoned run is visible in the record itself.
  - A fixed-cost CANARY (pure-JVM codegen sum over spark.range, plus a
    page-cache parquet scan count) runs before and after the query loop;
    its nominal wall on an idle host is recorded next to the measured
    walls, so a contended epoch is self-evident in the record
    (canary >> nominal ⟹ don't trust the epoch's absolute numbers).
  - Sub-8s queries get 2 warm-ups + min-of-3 (a boundary query is
    never one bad run away from a misleading min); ≥8s queries get
    1 warm-up + min-of-2 (cold costs are amortized by the long wall,
    and extra runs cost real minutes).

Record layout (round-5 fix): the driver keeps only a 2,000-char TAIL of
stdout, and round 4's single all-inclusive JSON line grew past that (raw
walls for 37 queries ⟹ the line's HEAD — metric/value — was truncated
and BENCH_r04.json has "parsed": null). So stdout now carries exactly
ONE COMPACT summary line (metric, value, per-query min walls, canary,
clips_per_sec — size-pinned < 1,900 chars by a test), and the FULL
record (raw per-run wall arrays) is written to
BENCH/bench-<stamp>.json + BENCH/bench-latest.json; the compact line's
`raw_record` field names the file.

Coverage: EVERY registry query is timed (pinned against the registry by
tests/test_job_packaging.py::test_bench_covers_whole_registry), plus the
two materialized headline pipelines and the xxhash64 production-hash
modes (minhash_signatures_xxh, simhash64_pairs_xxh) — their throughput
delta vs the oracle-checkable md5 modes is part of the record.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pii_redaction_pipeline_spark.session import HOST_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CPUS))
AUDIO_ROWS = int(os.environ.get("BENCH_AUDIO_ROWS", "4000"))
# replicate documents so the pipeline measurement is sustained throughput,
# not fixed Spark overhead (5k docs × 20 = 100k clips by default)
REPLICATE = int(os.environ.get("BENCH_REPLICATE", "20"))
MIN3_CUTOFF_S = 8.0    # below: 2 warm-ups + min-of-3 (cold costs
                       # dominate short walls); above: 1 warm-up + min-of-2
SUMMARY_MAX_CHARS = 1900  # driver keeps a 2,000-char stdout tail
# canary nominal walls on an idle host (local[32], this sandbox) — the
# yardstick a reader compares the recorded canary walls against
CANARY_NOMINAL = {"jvm_sum": 0.35, "parquet_scan": 0.25}


def query_names() -> list[str]:
    """Every name the bench will time from the registry, in run order —
    tests/test_job_packaging.py pins this against queries.QUERIES."""
    from pii_redaction_pipeline_spark.queries import QUERIES

    return sorted(QUERIES)


def minhash_signatures_xxh(spark, sf_dir):
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_minhash_signatures,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return spark_minhash_signatures(docs, hash_impl="xxhash64")


def simhash64_pairs_xxh(spark, sf_dir):
    from pii_redaction_pipeline_spark.functions.dedup import (
        spark_simhash64_pairs,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return spark_simhash64_pairs(docs, hash_impl="xxhash64",
                                 warn_quadratic=False)


# the xxhash64 production-hash modes timed after the registry
XXH_MODES = {f.__name__: f for f in (minhash_signatures_xxh,
                                     simhash64_pairs_xxh)}


def selected(spec: str) -> list[str]:
    """The names `--queries` picks, in run order ('all' = registry plus
    XXH_MODES); an unknown name exits before any Spark work."""
    names = query_names() + list(XXH_MODES)
    if spec == "all":
        return names
    picked = [q.strip() for q in spec.split(",")]
    unknown = sorted(set(picked) - set(names))
    if unknown:
        raise SystemExit(f"bench.py: unknown --queries {unknown}")
    return picked


def materialize_clips(spark, sf_dir: str, cache_dir: Path) -> str:
    """Clips-shaped input (text-only hot path; audio benched separately).
    Documents are replicated REPLICATE× with fresh doc_ids so row content
    stays deterministic while volume scales."""
    from pyspark.sql import functions as F

    from pii_redaction_pipeline_spark.queries import clips_from_documents

    tag = sf_dir.strip("/").replace("/", "_")
    out = cache_dir / f"clips_{tag}_x{REPLICATE}"
    if not (out / "_SUCCESS").exists():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.count()
        reps = spark.range(REPLICATE).select(F.col("id").alias("rep"))
        big = (docs.crossJoin(reps)
               .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n)
               .drop("rep"))
        docs_dir = cache_dir / f"docs_{tag}_x{REPLICATE}"
        big.write.mode("overwrite").parquet(str(docs_dir / "documents.parquet"))
        clips_from_documents(spark, str(docs_dir), with_audio=False) \
            .repartition(CPUS * 2) \
            .write.mode("overwrite").parquet(str(out))
    return str(out)


def materialize_audio_clips(spark, n: int, cache_dir: Path) -> str:
    from pii_redaction_pipeline_spark import datagen

    out = cache_dir / f"clips_audio_{n}"
    if not (out / "_SUCCESS").exists():
        datagen.clips_df(spark, n, seed=42, partitions=CPUS) \
            .write.mode("overwrite").parquet(str(out))
    return str(out)


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def bench_runs(run) -> list[float]:
    """Warm-ups + timed runs, adaptive to the query's wall: sub-8s
    queries get 2 warm-ups + 3 timed runs (JIT/codegen/regex-compile
    and Python-worker spawn dominate short walls; round-6 extended the
    second warm-up to the 5-8s band — r5's wer_scrub_effect raw walls
    [6.38, 5.32, 3.70] showed the first timed run still paying ~70%
    warm-up with only the probe warm-up); ≥8s queries get 1 warm-up +
    2 timed runs (cold costs are a small fraction, and extra runs cost
    real minutes). Returns ALL timed walls; callers take min()."""
    w1 = timed(run)  # warm-up 1 (also the slow/fast probe)
    if w1 < MIN3_CUTOFF_S:
        run()  # warm-up 2
        return [timed(run) for _ in range(3)]
    return [timed(run) for _ in range(2)]


def compact_summary(record: dict) -> str:
    """The ONE stdout line: everything a reader needs to trust and rank
    the epoch (headline, per-query min walls, canary vs nominal,
    clips/sec) WITHOUT the raw wall arrays — those live in the file
    named by `raw_record`. Size-pinned < SUMMARY_MAX_CHARS by
    tests/test_job_packaging.py so the driver's 2,000-char stdout-tail
    capture always parses."""
    keep = {k: record[k] for k in (
        "metric", "value", "unit", "queries", "canary", "sf", "n_clips",
        "clips_per_sec", "cpus", "raw_record") if k in record}
    line = json.dumps(keep, separators=(",", ":"))
    if len(line) > SUMMARY_MAX_CHARS:  # last-ditch: drop per-query walls
        keep["queries"] = {"_dropped": "summary exceeded tail budget"}
        line = json.dumps(keep, separators=(",", ":"))
    return line


def canary_walls(spark, clips_path: str) -> dict:
    """Fixed-cost contention probes (see module docstring)."""
    from pyspark.sql import functions as F

    def jvm_sum():
        spark.range(1 << 30, numPartitions=CPUS) \
            .agg(F.sum("id")).collect()

    def scan():
        spark.read.parquet(clips_path).count()

    jvm_sum(), scan()  # warm both paths once
    return {"jvm_sum": timed(jvm_sum), "parquet_scan": timed(scan)}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="all",
                    help="comma-separated names to time (default: all)")
    ap.add_argument("--plans", metavar="DIR",
                    help="write explain('formatted') per query to DIR")
    args = ap.parse_args(argv)
    names = selected(args.queries)
    plans = Path(args.plans) if args.plans else None
    if plans:
        plans.mkdir(parents=True, exist_ok=True)

    from pii_redaction_pipeline_spark.functions.blocks import release
    from pii_redaction_pipeline_spark.pipeline import PipelineConfig, apply_pipeline
    from pii_redaction_pipeline_spark.queries import QUERIES
    from pii_redaction_pipeline_spark.session import get_spark

    cache = REPO / ".bench_cache"
    cache.mkdir(exist_ok=True)
    spark = get_spark(app="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)

    clips_path = materialize_clips(spark, SF_DIR, cache)
    audio_path = materialize_audio_clips(spark, AUDIO_ROWS, cache)

    clips = spark.read.parquet(clips_path)
    n_clips = clips.count()
    raw: dict[str, list[float]] = {}
    timings: dict[str, float] = {}

    canary_start = canary_walls(spark, clips_path)

    # headline: job.py's pipeline without audio, every result column
    # written to the noop sink (an aggregate over a few columns would let
    # Catalyst prune ppl_udf). Task balance comes from scan splits
    # (BENCH/BASELINE.md)
    def run_pipeline():
        apply_pipeline(clips, PipelineConfig(with_audio_verify=False)).drop(
            "redactions").write.format("noop").mode("overwrite").save()

    raw["pipeline_full_text"] = bench_runs(run_pipeline)
    t_pipeline = min(raw["pipeline_full_text"])
    timings["pipeline_full_text"] = t_pipeline

    # audio decode-verify stage throughput
    aclips = spark.read.parquet(audio_path)

    def run_audio():
        out = apply_pipeline(aclips, PipelineConfig(with_ppl=False))
        out.agg({"n_samples": "sum"}).collect()

    raw["pipeline_with_audio"] = bench_runs(run_audio)
    timings["pipeline_with_audio"] = min(raw["pipeline_with_audio"])

    # every selected registry query (incl. the audio-bearing flagship)
    # and xxhash64 mode; fresh plan per call (AQE caches shuffle
    # stages per DataFrame instance), blocks released per run so the
    # 30-query session holds a flat persistent-RDD count
    def registry_run(fn):
        def run():
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            release(df)
        return run

    for name in names:
        fn = XXH_MODES.get(name) or QUERIES[name][0]
        if plans:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans / f"{name}.txt").write_text(buf.getvalue())
            release(df)
        raw[name] = bench_runs(registry_run(fn))
        timings[name] = min(raw[name])

    canary_end = canary_walls(spark, clips_path)
    # one derived number so a contended epoch is self-evident without
    # mental math: worst canary wall over its idle-host nominal, across
    # both probes and both ends. ~1.0 = clean; >2 = don't trust the
    # epoch's absolute walls (the 2026-08-17 afternoon VM phase measured
    # 2-5 here while per-query walls spiked 2-4x in moving spots)
    canary_ratio = round(max(
        c[k] / CANARY_NOMINAL[k]
        for c in (canary_start, canary_end) for k in CANARY_NOMINAL), 2)

    clips_per_sec = round(n_clips / t_pipeline, 1)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    raw_path = REPO / "BENCH" / f"bench-{stamp}.json"
    record = {
        "metric": "filter_scrub_pipeline_wall",
        "value": t_pipeline,
        "unit": "sec",
        "queries": timings,
        "raw": raw,
        "canary": {"start": canary_start, "end": canary_end,
                   "nominal_idle": CANARY_NOMINAL,
                   "ratio_vs_nominal": canary_ratio},
        "sf": SF_DIR,
        "n_clips": n_clips,
        "clips_per_sec": clips_per_sec,
        "cpus": CPUS,
        "audio_rows": AUDIO_ROWS,
        "stamp": stamp,
        "raw_record": str(raw_path.relative_to(REPO)),
    }
    raw_path.parent.mkdir(exist_ok=True)
    raw_path.write_text(json.dumps(record, indent=1))
    (REPO / "BENCH" / "bench-latest.json").write_text(
        json.dumps(record, indent=1))
    print(compact_summary(record))
    spark.stop()


if __name__ == "__main__":
    main()
