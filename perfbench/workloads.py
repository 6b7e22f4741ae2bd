"""The three workloads of the job-path benchmark and their output checks.

Each workload times the path `job.py` runs: scan → `apply_pipeline` →
`.drop("redactions")` → every remaining column materialized.

- `text_clips`: datagen clips without audio through a noop sink. The fused
  Python stage (langid, scrub, ppl) and the quality Columns do nearly all
  the work; its vocabulary is small, so the fuzzy memo is warm after set-up.
  The noop sink's action also returns the check's row count, digest and
  sample rows as observed metrics, so the check adds no Spark job.
- `fuzzy_skew`: `text_clips` rows plus a block of hot rows whose
  pseudo-words are new on every timed run. Per-row cost is no longer
  proportional to bytes: cold Levenshtein sweeps make a few straggler
  tasks. Noop sink. Not in BENCHMARK.json (see below); run it by hand
  for the fuzzy layer.
- `audio_job`: datagen clips with WAV bytes through
  `tableio.ResumableRun` with 64 buckets (N_BUCKETS), into a fresh output
  root per run. The scan reads binary pages, the decode UDF receives the
  audio in Arrow batches, and the sink writes every byte back as
  bucket-partitioned parquet plus lineage.

Sizes, warm-up and the workload list are set by time. On a shared 4-CPU
host a fresh job process took 20-60 s to set up, a text_clips run 2-6 s
and an audio_job run 6-25 s, and BENCHMARK.json's runs must fit some
fifty benchmark runs in under an hour. So text_clips times 25k rows and
audio_job 1000 clips (three or more runs in 8 s each), and fuzzy_skew,
which would add a third workload's runs, is left out of BENCHMARK.json.

Every timed run is checked: the row count, an order-independent digest of
all output columns (equal across runs of one input), a seeded sample of
rows against `core.process_transcript`, the ppl UDF's presence in the
executed plan, and on `audio_job` byte passthrough, decoded-PCM SNR and
the undecodable rows.
"""

from __future__ import annotations

import math
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import inputs

# job.py defaults to 256 buckets; at 256, a timed run of 1000 clips took
# 10.4 s on a 4-CPU host, mostly creating ~1000 small files, and the
# warm-up 40 s, which leaves no room for several timed runs per benchmark
# run
N_BUCKETS = 64
MIN_SNR_DB = 30.0
CHECKED_FIELDS = ("scrubbed_text", "pii_count", "qa_status", "keep", "lang",
                  "word_cnt")
CHECKED_FLOATS = ("lang_conf", "ppl")


def job_plan(df, audio: bool):
    """`job.py`'s `process()`: the pipeline with `redactions` dropped."""
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
    )
    cfg = PipelineConfig() if audio else PipelineConfig(with_audio_verify=False)
    return apply_pipeline(df, cfg).drop("redactions")


def digest_cols(df):
    """(row count, order-independent digest) aggregate expressions over
    every column of `df`; hot rows are counted but left out of the digest
    because their words change from run to run."""
    from pyspark.sql import functions as F

    is_hot = F.col("clip_id").startswith("hot_")
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(is_hot.cast("long")).alias("hot_rows"),
            F.bit_xor(F.when(~is_hot, h)).alias("digest")]


def sample_col(df, ids: list[str]):
    """Aggregate expression collecting the rows of `df` whose clip_id is in
    `ids`, every column."""
    from pyspark.sql import functions as F

    return F.collect_list(F.when(F.col("clip_id").isin(ids),
                                 F.struct(*df.columns))).alias("sample")


@dataclass
class RunResult:
    wall_s: float
    plan_s: float
    rows: int = 0
    hot_rows: int = 0
    digest: int | None = None
    run_index: int = 0
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU seconds of the job's process tree
    steal: float = 0.0  # share of the host's CPU time stolen during the run


class Workload:
    """Inputs, warm-up, one timed run and its check for one workload."""

    name = ""
    audio = False
    n_rows = 0
    n_files = 4
    warm_rows = 2048
    warm_files = 4
    warm_input_passes = 2
    sample_size = 48  # rows checked against core.process_transcript

    def __init__(self, work: Path, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.input_dir = work / "input"
        self.warm_dir = work / "warm"
        self._expected: dict[str, dict] = {}
        self._digest: int | None = None
        self._base_sample: dict[str, dict] | None = None
        rng = random.Random(seed)
        self.sample_ids = sorted(rng.sample(range(self.n_rows),
                                            self.sample_size))

    # -- inputs ------------------------------------------------------------

    def input_jobs(self) -> list[tuple]:
        return inputs.chunk_jobs(self.input_dir, self.seed, 0, self.n_rows,
                                 self.n_files, self.audio)

    def warm_jobs(self) -> list[tuple]:
        return inputs.chunk_jobs(self.warm_dir, self.seed,
                                 inputs.WARMUP_OFFSET, self.warm_rows,
                                 self.warm_files, self.audio)

    def input_paths(self, run: int) -> list[str]:
        return [str(self.input_dir)]

    def expected_rows(self) -> int:
        return self.n_rows

    def prepare_run(self, run: int) -> None:
        """Write inputs private to timed run `run` (outside timing)."""

    # -- runs ----------------------------------------------------------------

    def warm_up(self, spark) -> None:
        """Run the job path over the small warm-up slice, which spawns the
        Python workers and fills their memo, then `warm_input_passes` times
        over the measured input. Each pass observes the timed runs' sample
        ids, so the timed runs reuse the generated code it compiled. With
        fewer passes the first timed runs still used 15-40% more CPU than
        later ones (JIT), and the median depended on how many runs fit in
        --seconds."""
        self.warm_pass(spark, -1, [str(self.warm_dir)])
        for k in range(self.warm_input_passes):
            self.warm_pass(spark, -2 - k, [str(self.input_dir)])

    def warm_pass(self, spark, run: int, paths: list[str]) -> None:
        self._noop(spark, paths, run, sorted(self.sample_rows(run)))

    def timed_run(self, spark, run: int) -> RunResult:
        return self._noop(spark, self.input_paths(run), run,
                          sorted(self.sample_rows(run)))

    def _noop(self, spark, paths: list[str], run: int,
              sample_ids: list[str]) -> RunResult:
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        df = spark.read.parquet(*paths)
        with self.tracer.span("pipeline.plan", run):
            out = job_plan(df, self.audio)
        t1 = time.perf_counter()
        obs = Observation("perfbench_check")
        with self.tracer.span("job.materialize", run):
            out.observe(obs, *digest_cols(out), sample_col(out, sample_ids)) \
                .write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        return RunResult(wall, t1 - t0, got["rows"], got["hot_rows"] or 0,
                         got["digest"], run, {"sample": got["sample"]})

    # -- checks --------------------------------------------------------------

    def check(self, spark, res: RunResult, udf_names: list[str]) -> list[str]:
        errors = []
        if res.rows != self.expected_rows():
            errors.append(f"rows {res.rows} != input {self.expected_rows()}")
        if not any("ppl" in n for n in udf_names):
            errors.append(f"ppl UDF missing from executed plan {udf_names}")
        if self._digest is None:
            self._digest = res.digest
        elif res.digest != self._digest:
            errors.append(f"digest {res.digest} != first run {self._digest}")
        errors += self.check_sample(res)
        return errors

    def sample_rows(self, run: int) -> dict[str, dict]:
        """clip_id → generated input row for the checked sample of `run`."""
        return self.base_sample()

    def base_sample(self) -> dict[str, dict]:
        """clip_id → generated input row for the seeded sample of the
        workload's generated (not per-run) rows."""
        if self._base_sample is None:
            import numpy as np

            from pii_redaction_pipeline_spark import datagen

            pdf = datagen.gen_rows(np.array(self.sample_ids), seed=self.seed,
                                   with_audio=self.audio)
            self._base_sample = {r["clip_id"]: r
                                 for r in pdf.to_dict("records")}
        return self._base_sample

    def expected(self, row: dict) -> dict:
        from pii_redaction_pipeline_spark import core

        exp = self._expected.get(row["clip_id"])
        if exp is None:
            exp = dict(core.process_transcript(row["transcript"]))
            if self.audio:
                decode_ok = row["codec"] == "wav"
                exp["qa_status"] = core.combine_status(exp["qa_status"],
                                                       decode_ok)
                exp["keep"] = exp["keep"] and exp["qa_status"] == "PASS"
            self._expected[row["clip_id"]] = exp
        return exp

    def check_sample(self, res: RunResult) -> list[str]:
        rows = self.sample_rows(res.run_index)
        got = res.extra["sample"]  # the sample rows the run returned
        errors = []
        if len(got) != len(rows):
            errors.append(f"sample: {len(got)} of {len(rows)} rows found")
        for out in got:
            src = rows[out["clip_id"]]
            if out["transcript"] != src["transcript"]:
                errors.append(f"{out['clip_id']}: transcript changed")
                continue
            exp = self.expected(src)
            for f in CHECKED_FIELDS:
                if out[f] != exp[f]:
                    errors.append(f"{out['clip_id']}.{f}: {out[f]!r} != "
                                  f"{exp[f]!r}")
            for f in CHECKED_FLOATS:
                if not math.isclose(out[f], exp[f], rel_tol=1e-9,
                                    abs_tol=1e-12):
                    errors.append(f"{out['clip_id']}.{f}: {out[f]!r} != "
                                  f"{exp[f]!r}")
            errors += self.check_row_extra(out, src)
        return errors

    def check_row_extra(self, out, src: dict) -> list[str]:
        return []

    def cleanup_run(self, run: int) -> None:
        """Delete what timed run `run` wrote (outside timing)."""


class TextClips(Workload):
    name = "text_clips"
    n_rows = 25_000
    # with two passes the first timed run still used 10-20% more CPU
    # than the next ones; a pass costs about 2.5 s of set-up
    warm_input_passes = 3


class FuzzySkew(Workload):
    name = "fuzzy_skew"
    n_rows = 12_500
    hot_rows = 12
    hot_files = 2

    def __init__(self, work: Path, seed: int, tracer):
        super().__init__(work, seed, tracer)
        self._hot: dict[int, list[dict]] = {}

    def hot_dir(self, run: int) -> Path:
        return self.work / f"hot_{run + 100:04d}"

    def prepare_run(self, run: int) -> None:
        """Write the hot block of `run` (load generation, outside timing)."""
        self._hot[run] = inputs.write_hot_rows(
            self.hot_dir(run), self.seed, run + 100, self.hot_rows,
            self.hot_files)

    def input_paths(self, run: int) -> list[str]:
        return [str(self.input_dir), str(self.hot_dir(run))]

    def warm_pass(self, spark, run: int, paths: list[str]) -> None:
        self.prepare_run(run)
        super().warm_pass(spark, run, paths + [str(self.hot_dir(run))])
        self.cleanup_run(run)

    def expected_rows(self) -> int:
        return self.n_rows + self.hot_rows

    def check(self, spark, res: RunResult, udf_names: list[str]) -> list[str]:
        errors = super().check(spark, res, udf_names)
        if res.hot_rows != self.hot_rows:
            errors.append(f"hot rows {res.hot_rows} != {self.hot_rows}")
        return errors

    def sample_rows(self, run: int) -> dict[str, dict]:
        rows = dict(super().sample_rows(run))
        for r in self._hot[run][:2]:
            rows[r["clip_id"]] = r
        return rows

    def cleanup_run(self, run: int) -> None:
        shutil.rmtree(self.hot_dir(run), ignore_errors=True)
        self._hot.pop(run, None)


class AudioJob(Workload):
    name = "audio_job"
    audio = True
    n_rows = 1000
    warm_rows = 256
    sample_size = 16  # each also decoded and compared with synth_pcm

    def __init__(self, work: Path, seed: int, tracer):
        super().__init__(work, seed, tracer)
        self._input_facts: dict | None = None

    def out_dir(self, run: int) -> Path:
        return self.work / f"out_{run + 100:04d}"

    def warm_pass(self, spark, run: int, paths: list[str]) -> None:
        """Warm-up passes run through ResumableRun too, which warms the
        bucketed writer. On a 4-CPU host the CPU time of successive runs
        fell from 27 to 14 s over the first five and then stayed within
        13-15 s; with one warm-up pass, the median of the two timed runs
        that fit in --seconds moved by a quarter between benchmark runs.
        More passes would not fit the benchmark's time budget."""
        self._resumable(spark, paths, run)
        self.cleanup_run(run)

    def timed_run(self, spark, run: int) -> RunResult:
        return self._resumable(spark, self.input_paths(run), run)

    def _resumable(self, spark, paths: list[str], run: int) -> RunResult:
        from pii_redaction_pipeline_spark.sources.tableio import ResumableRun

        plan_s = []

        def process(df):
            t = time.perf_counter()
            with self.tracer.span("pipeline.plan", run):
                out = job_plan(df, audio=True)
            plan_s.append(time.perf_counter() - t)
            return out

        out = self.out_dir(run)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        clips = spark.read.parquet(*paths)
        with self.tracer.span("tableio.run", run):
            ResumableRun(spark, str(out), n_buckets=N_BUCKETS).run(
                clips, process)
        wall = time.perf_counter() - t0
        return RunResult(wall, sum(plan_s), run_index=run)

    def input_facts(self, spark) -> dict:
        """Digest of (clip_id, bytes) and the undecodable clip ids of the
        input, computed once."""
        if self._input_facts is None:
            from pyspark.sql import functions as F

            r = spark.read.parquet(str(self.input_dir)).agg(
                F.bit_xor(F.xxhash64("clip_id", "bytes")).alias("b"),
                F.collect_set(F.when(F.col("codec") != "wav",
                                     F.col("clip_id"))).alias("bad"),
            ).first()
            self._input_facts = {"bytes_digest": r["b"],
                                 "undecodable": set(r["bad"])}
        return self._input_facts

    def check(self, spark, res: RunResult, udf_names: list[str]) -> list[str]:
        from pyspark.sql import functions as F

        facts = self.input_facts(spark)
        out = self.out_dir(res.run_index)
        results = spark.read.parquet(str(out / "results"))
        agg = results.agg(
            *digest_cols(results),
            F.bit_xor(F.xxhash64("clip_id", "bytes")).alias("bytes_digest"),
            F.collect_set(F.when(~F.col("decode_ok"), F.col("clip_id")))
            .alias("undecoded"),
            sample_col(results, sorted(self.sample_rows(res.run_index))),
        ).first()
        res.rows, res.digest = agg["rows"], agg["digest"]
        res.extra["sample"] = agg["sample"]
        errors = super().check(spark, res, udf_names)
        if agg["bytes_digest"] != facts["bytes_digest"]:
            errors.append("audio bytes changed between input and output")
        failed = set(agg["undecoded"])
        res.extra["decode_errors"] = len(failed)
        if failed != facts["undecodable"]:
            errors.append(f"decode_ok=false on {len(failed)} rows, input has "
                          f"{len(facts['undecodable'])} undecodable rows")
        lineage = spark.read.parquet(str(out / "lineage")).agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum("n_rows").alias("rows")).first()
        if lineage["buckets"] != N_BUCKETS or lineage["rows"] != self.n_rows:
            errors.append(f"lineage {lineage['buckets']} buckets / "
                          f"{lineage['rows']} rows")
        return errors

    def check_row_extra(self, out, src: dict) -> list[str]:
        import numpy as np

        from pii_redaction_pipeline_spark import datagen
        from pii_redaction_pipeline_spark.functions import audio

        if out["bytes"] != src["bytes"]:
            return [f"{out['clip_id']}: bytes changed"]
        if src["codec"] != "wav":
            return []
        pcm, sr = audio.decode_wav_bytes(bytes(out["bytes"]))
        i = int(out["clip_id"].split("_")[1])
        ref = datagen.synth_pcm(i, src["dur_ms"], src["sr_hz"])
        snr = audio.snr_db(ref, pcm)
        errors = []
        if snr < MIN_SNR_DB:
            errors.append(f"{out['clip_id']}: SNR {snr:.1f} dB")
        if out["n_samples"] != len(pcm) or out["decoded_sr"] != sr:
            errors.append(f"{out['clip_id']}: decode stats differ")
        if not np.isclose(out["rms"], float(np.sqrt(np.mean(pcm ** 2))),
                          rtol=1e-5):
            errors.append(f"{out['clip_id']}: rms differs")
        return errors

    def cleanup_run(self, run: int) -> None:
        shutil.rmtree(self.out_dir(run), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TextClips, FuzzySkew, AudioJob)}
