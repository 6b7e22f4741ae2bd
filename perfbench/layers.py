"""Per-layer measurements taken in the traced run (`--trace 1`).

Each layer is measured from outside the package: by timing calls into its
public functions, by reading the SQL and stage metrics Spark recorded
(harvest.py), by Spark's UDF profiler, and by timing each UDF kernel
single-threaded in this process over a seeded sample of the workload's
rows. Nothing here changes package code; the one wrapper, around
`tableio.write_partitioned`, only records a span around the call.

PER_LAYER lists the metrics a traced run prints, with their unit: those
measured on every workload. Timings that only some workloads have go to
the run record only (`layers`), where a workload without them reads 0:
audio.udf_s (audio_job), tableio.write_s and tableio.lineage_s
(audio_job), python.boot_s (0 when warm Python workers are reused).
Which end-to-end metric each should move, and on which workload:

Here clips_per_s is input rows ÷ wall of a timed run (run.wall_s);
clips_per_cpu_s, the end-to-end figure, divides by run.cpu_s instead.

- run.*             the untraced run the plan metrics come from
- memory.peak_rss_mb  summed VmHWM of the driver JVM and its Python
                    workers after two timed runs; audio moves it on
                    audio_job
- scan.*            clips_per_s on audio_job (binary pages); not text_clips
- pipeline.plan_s   setup_s / clips_per_s where an eager job moves into
                    plan building (e.g. the fuzzy vocab broadcast)
- quality.isolated_s        clips_per_s on text_clips
- langid/scrub/ppl .udf_s, .kernel_us_per_row
                    clips_per_s on text_clips; scrub's cold path on
                    fuzzy_skew (scrub.hot_row_ms)
                    The kernel figures are single-threaded, over a seeded
                    sample of datagen clips with audio and of hot rows,
                    whatever the workload.
- audio.*           clips_per_s and memory.peak_rss_mb on audio_job
- python.*          clips_per_s on text_clips (mb_received) and on
                    audio_job (mb_sent)
- fuzzy_vocab.*     predicts the vocab-broadcast path on fuzzy_skew vs
                    text_clips
- tableio.*         clips_per_s on audio_job only; noop sinks read 0
- stage.*           task_max_s / task_p50_s moves clips_per_s on fuzzy_skew
- trace.overhead_s  traced minus untraced wall (UDF profiler cost)
"""

from __future__ import annotations

import pickle
import pstats
import statistics
import time
from pathlib import Path

PER_LAYER = {
    "run.wall_s": "s",
    "run.cpu_s": "s",
    "memory.peak_rss_mb": "MB",
    "scan.rows": "count",
    "scan.mb": "MB",
    "scan.time_s": "s",
    "scan.tasks": "count",
    "pipeline.plan_s": "s",
    "quality.isolated_s": "s",
    "langid.udf_s": "s",
    "langid.kernel_us_per_row": "us",
    "scrub.udf_s": "s",
    "scrub.kernel_us_per_row": "us",
    "scrub.hot_row_ms": "ms",
    "scrub.tokens": "count",
    "scrub.distinct_tokens": "count",
    "ppl.udf_s": "s",
    "ppl.kernel_us_per_row": "us",
    "audio.kernel_us_per_row": "us",
    "audio.decode_errors": "count",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.mb_sent": "MB",
    "python.mb_received": "MB",
    "python.rows": "count",
    "fuzzy_vocab.job_s": "s",
    "fuzzy_vocab.entries": "count",
    "fuzzy_vocab.kb": "KB",
    "tableio.files": "count",
    "tableio.mb_written": "MB",
    "stage.tasks": "count",
    "stage.task_p50_s": "s",
    "stage.task_max_s": "s",
    "stage.gc_s": "s",
    "trace.overhead_s": "s",
}
KERNEL_SAMPLE = 48

# UDF name fragment → layer
_UDF_LAYERS = (("langid", "langid"), ("scrub", "scrub"), ("ppl", "ppl"),
               ("decode", "audio"))
_MB = 2.0**20


def udf_layer(udf_name: str) -> str | None:
    for frag, layer in _UDF_LAYERS:
        if frag in udf_name:
            return layer
    return None


def plan_metrics(execs, harvester) -> dict[str, float]:
    """scan.*, python.* and stage.* of one timed run's SQL executions."""
    m = {}
    stages = sorted({s for e in execs for s in e.stages})
    main = [e for e in execs if "ArrowEvalPython" in e.plan]
    scan_stages = sorted({s for e in main for s in e.stages})
    m["scan.rows"] = sum(e.metric("Scan parquet", "number of output rows")
                         for e in main)
    m["scan.mb"] = sum(e.metric("Scan parquet", "size of files read")
                       for e in main) / _MB
    m["scan.time_s"] = sum(e.metric("Scan parquet", "scan time")
                           for e in main)
    m["scan.tasks"] = harvester.task_stats(scan_stages)["tasks"]
    py = {"python.run_s": "time to run Python workers",
          "python.init_s": "time to initialize Python workers",
          "python.boot_s": "time to start Python workers",
          "python.mb_sent": "data sent to Python workers",
          "python.mb_received": "data returned from Python workers",
          "python.rows": "number of output rows"}
    for key, name in py.items():
        v = sum(e.metric("ArrowEvalPython", name) for e in main)
        m[key] = v / _MB if key.startswith("python.mb") else v
    for key, v in harvester.task_stats(stages).items():
        m[f"stage.{key}"] = v
    return m


def profile_seconds(spark, execs, dump_dir: Path) -> dict[str, float]:
    """Profiled time per UDF layer from `spark.sql.pyspark.udf.profiler=perf`
    results of the traced run, matched to UDF names through the executed
    plan's UDF result ids."""
    names = {uid: n for e in execs for uid, n in e.udf_ids().items()}
    spark.profile.dump(str(dump_dir), type="perf")
    out = {f"{layer}.udf_s": 0.0 for _, layer in _UDF_LAYERS}
    for f in sorted(dump_dir.glob("udf_*_perf.pstats")):
        uid = int(f.name.split("_")[1])
        layer = udf_layer(names.get(uid, ""))
        if layer:
            out[f"{layer}.udf_s"] += pstats.Stats(str(f)).total_tt
    spark.profile.clear(type="perf")
    return out


def _per_row_us(fn, items) -> float:
    for x in items:  # untimed pass: fills memos and caches
        fn(x)
    t = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t) / max(len(items), 1) * 1e6


def kernel_timings(seed: int) -> dict[str, float]:
    """Single-threaded µs/row of each UDF kernel over a seeded sample of
    datagen clips with audio, after one untimed pass; scrub.hot_row_ms is
    the cold scrub kernel on hot rows whose words no run has seen."""
    import numpy as np
    import pandas as pd

    import inputs
    from pii_redaction_pipeline_spark import core, datagen
    from pii_redaction_pipeline_spark.functions import audio, langid, perplexity

    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(1_000_000, KERNEL_SAMPLE, replace=False))
    rows = datagen.gen_rows(idx, seed=seed, with_audio=True).to_dict("records")
    hot_texts = [" ".join(inputs.hot_word(seed, -2, r, j)
                          for j in range(inputs.HOT_WORDS_PER_ROW))
                 for r in range(4)]
    texts = [r["transcript"] for r in rows]
    langid_row = getattr(langid, "_langid_row", core.langid)
    m = {
        "scrub.kernel_us_per_row": _per_row_us(core.scrub_row, texts),
        "langid.kernel_us_per_row": _per_row_us(
            lambda t: langid_row(t or ""), texts),
        "ppl.kernel_us_per_row": _per_row_us(
            lambda t: perplexity.ppl_batch(pd.Series([t])), texts),
    }
    wavs = [bytes(r["bytes"]) for r in rows
            if r.get("bytes") is not None and r["codec"] == "wav"]
    m["audio.kernel_us_per_row"] = _per_row_us(audio.decode_wav_bytes, wavs)
    t = time.perf_counter()
    for text in hot_texts:
        core.scrub_row(text)
    m["scrub.hot_row_ms"] = (time.perf_counter() - t) / len(hot_texts) * 1e3
    return m


def _noop_wall(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def quality_isolated(spark, paths: list[str], reps: int = 3) -> float:
    """Median wall of scan → with_quality → materialize, minus the median
    wall of the scan alone."""
    from pii_redaction_pipeline_spark.functions.quality import with_quality

    scan, qual = [], []
    for _ in range(reps):
        scan.append(_noop_wall(spark.read.parquet(*paths)))
        qual.append(_noop_wall(with_quality(spark.read.parquet(*paths))))
    return statistics.median(qual) - statistics.median(scan)


def fuzzy_vocab(spark, paths: list[str]) -> dict[str, float]:
    """The vocabulary-broadcast fuzzy job run on the input."""
    from pii_redaction_pipeline_spark.functions.fuzzy_sql import (
        collect_fuzzy_vocab_map,
    )
    df = spark.read.parquet(*paths)
    t = time.perf_counter()
    fmap = collect_fuzzy_vocab_map(df, spark, "transcript")
    job_s = time.perf_counter() - t
    return {"fuzzy_vocab.job_s": job_s, "fuzzy_vocab.entries": len(fmap),
            "fuzzy_vocab.kb": len(pickle.dumps(fmap)) / 1024.0}


def token_counts(spark, paths: list[str]) -> dict[str, float]:
    """Whitespace tokens and distinct tokens of the input transcripts: how
    much work rows share through the fuzzy memo."""
    from pyspark.sql import functions as F

    tok = (spark.read.parquet(*paths)
           .select(F.explode(F.split(F.coalesce("transcript", F.lit("")),
                                     r"\s+")).alias("t"))
           .where(F.col("t") != ""))
    r = tok.agg(F.count(F.lit(1)).alias("n"),
                F.count_distinct("t").alias("d")).first()
    return {"scrub.tokens": r["n"], "scrub.distinct_tokens": r["d"]}


def written(out_dir: Path) -> dict[str, float]:
    """Parquet files and MB under an output root (results + lineage)."""
    files = [p for p in out_dir.rglob("*.parquet") if p.is_file()]
    return {"tableio.files": len(files),
            "tableio.mb_written": sum(p.stat().st_size for p in files) / _MB}
