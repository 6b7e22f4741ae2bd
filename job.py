"""spark-submit entry point (north rule: `spark-submit --py-files` on a
multi-executor cluster).

    spark-submit --py-files pii_redaction_pipeline_spark.zip job.py \
        --input /path/or/catalog.db.clips --output /warehouse/scrub_out \
        --buckets 256 [--no-audio-verify] [--max-buckets K]

Reads the clips table (Iceberg catalog table name if it contains no "/",
else a parquet path), runs the filter+scrub pipeline over not-yet-done
buckets (per-partition lineage), writes results + manifest + a QA report
row + an ASCII processing report. Resume is AUTOMATIC: re-submitting the
same command skips DONE buckets and finishes the rest (idempotent —
tests/test_spark_submit_e2e.py replays kill+resume under spark-submit).

Packaging: `python job.py --make-zip` emits the --py-files archive.
The archive is NOT tracked in git (a committed copy inevitably drifts
from source); deploys rebuild it, and tests/test_job_packaging.py
asserts the built archive mirrors the package byte-for-byte. Every run
ALSO verifies the shipped archive at submit time: a stale zip means the
executors would import different bytes than the driver, so job.py
rebuilds it and refuses the run (re-submit ships the fresh archive).
"""

from __future__ import annotations

import argparse
import json
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))


PKG_ZIP = "pii_redaction_pipeline_spark.zip"

# auto-enable threshold for the vocabulary-broadcast fuzzy path: inputs
# at least this large amortize the one extra vocabulary scan (the
# SALT_VALIDATION.md runbook conclusion — "safe to leave ON for any
# corpus large enough to amortize one extra scan"); env-overridable for
# tests and deploy tuning
AUTO_FUZZY_VOCAB_MIN_BYTES = int(
    __import__("os").environ.get("PII_SPARK_FUZZY_VOCAB_AUTO_MIN_BYTES",
                                 1 << 30))


def fuzzy_vocab_auto(clips) -> tuple[bool, int | None]:
    """The AUTO rule for the vocabulary-broadcast fuzzy path: on when the
    plan's size estimate is at least AUTO_FUZZY_VOCAB_MIN_BYTES. Returns
    (decision, estimated bytes or None when unknown).

    An input without size stats (an RDD-backed DataFrame, a catalog table
    that was never analyzed) reports spark.sql.defaultSizeInBytes, which
    is Long.MaxValue unless set. That number says nothing about the
    input, so any estimate at or above it counts as unknown and keeps the
    per-row path, the faster one on ordinary inputs."""
    spark = clips.sparkSession
    est = int(clips._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    if est >= int(spark._jsparkSession.sessionState().conf()
                  .defaultSizeInBytes()):
        return False, None
    return est >= AUTO_FUZZY_VOCAB_MIN_BYTES, est


def make_zip(out: str = PKG_ZIP) -> str:
    pkg = REPO / "pii_redaction_pipeline_spark"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    return out


def zip_matches_source(zip_path: str) -> bool:
    """True iff the archive mirrors the package byte-for-byte (same file
    set, same bytes)."""
    pkg = REPO / "pii_redaction_pipeline_spark"
    expected = {str(p.relative_to(REPO)): p.read_bytes()
                for p in sorted(pkg.rglob("*.py"))}
    try:
        with zipfile.ZipFile(zip_path) as z:
            if set(z.namelist()) != set(expected):
                return False
            return all(z.read(n) == b for n, b in expected.items())
    except Exception:
        return False


def ensure_fresh_py_files(py_files: str = "") -> None:
    """Submit-time staleness guard: executors import the --py-files
    archive while the driver imports the source tree, so a stale zip
    silently runs OLD code on executors and new code on the driver.
    Checks every package archive named in `py_files` (the session's
    spark.submit.pyFiles) plus the default repo-root zip; any stale
    archive is rebuilt from source and the run is REFUSED — the copy
    spark-submit already shipped to executors is the stale one, so the
    only safe path is to re-submit with the rebuilt archive."""
    candidates = [c.strip() for c in (py_files or "").split(",") if c.strip()]
    default = REPO / PKG_ZIP
    if default.exists() and str(default) not in candidates:
        candidates.append(str(default))
    stale = []
    for c in candidates:
        # cluster submits often carry URI-form entries: file:// is a local
        # path in disguise (verify it); other schemes (hdfs://, s3a://,
        # http://) can't be byte-checked from here — warn loudly instead
        # of silently skipping the guard the docstring promises
        if "://" in c:
            scheme, _, rest = c.partition("://")
            # file:// may carry an authority (file://localhost/p/x.zip,
            # RFC 8089): empty or "localhost" means THIS host — strip it
            # and verify the path; any OTHER authority is a remote file
            # we can't byte-check, so it falls through to the loud
            # unverifiable-scheme warning instead of a silent skip
            if scheme == "file" and rest.startswith("/"):
                c = rest  # empty authority: file:///abs/path
            elif scheme == "file" and rest.partition("/")[0] == "localhost" \
                    and "/" in rest:
                c = "/" + rest.partition("/")[2]
            else:
                if Path(c).name == PKG_ZIP:
                    import warnings
                    authority = rest.partition("/")[0]
                    warnings.warn(
                        f"--py-files entry {c!r} uses scheme {scheme!r}"
                        + (f" with authority {authority!r}"
                           if scheme == "file" else "")
                        + " and cannot be verified against local source — "
                        "the staleness guard does NOT cover it. Re-upload "
                        "the archive when the package changes.",
                        RuntimeWarning)
                continue
        if Path(c).name != PKG_ZIP or not Path(c).exists():
            continue
        if not zip_matches_source(c):
            make_zip(c)
            stale.append(c)
    if stale:
        raise SystemExit(
            f"stale --py-files archive(s) {stale}: executors would import "
            f"different bytes than the driver. Rebuilt from source — "
            f"re-submit the job.")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="clips source: parquet path or Iceberg table name")
    ap.add_argument("--output", help="output root (results/, lineage/, manifest/)")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--max-buckets", type=int, default=None)
    ap.add_argument("--no-audio-verify", action="store_true")
    ap.add_argument("--no-ppl", action="store_true")
    ap.add_argument(
        "--fuzzy-vocab-broadcast", dest="fuzzy_vocab_broadcast",
        action="store_true", default=None,
        help="precompute the fuzzy layer ONCE over the corpus's "
             "distinct vocabulary (one relational job: broadcast "
             "candidate dim + JVM levenshtein) and broadcast the "
             "result; per-row fuzzy becomes a dict hit, making per-row "
             "cost byte-proportional — the 10^12-scale path and the "
             "root fix for hot-vocabulary cost skew "
             "(BENCH/SALT_VALIDATION.md). Output is identical "
             "(test-pinned + oracle row pipeline_full_vocab). DEFAULT: "
             "AUTO (round 7) — enabled when the input's estimated size "
             "is at least $PII_SPARK_FUZZY_VOCAB_AUTO_MIN_BYTES "
             f"(default {AUTO_FUZZY_VOCAB_MIN_BYTES} = 1 GiB), i.e. "
             "whenever the corpus is large enough to amortize the one "
             "extra vocabulary scan (SALT_VALIDATION.md runbook: ≈free "
             "at 8M clips, one ~7 s vocab job at 32M). An input without "
             "size stats stays on the per-row path.")
    ap.add_argument(
        "--no-fuzzy-vocab-broadcast", dest="fuzzy_vocab_broadcast",
        action="store_false",
        help="force the per-row fuzzy path regardless of input size")
    ap.add_argument(
        "--rewrite-layout", metavar="OUT_PATH", default=None,
        help="ONE-TIME offline layout remedy for cost-skewed inputs "
             "(sources/tableio.cost_balanced_rewrite): uniformly "
             "hash-spread rows across many small files so every future "
             "scan split carries the same cost mixture, then exit "
             "(no pipeline run). Point later runs' --input at "
             "OUT_PATH. Measured N->4N efficiency 0.69 -> 0.86 "
             "shuffle-free with the vocab broadcast "
             "(BENCH/SALT_VALIDATION.md).")
    ap.add_argument(
        "--rewrite-files", type=int, default=None,
        help="file count for --rewrite-layout (default: 16 x cores — "
             "fine enough that a 4x bigger cluster still gets >=4 "
             "split waves)")
    ap.add_argument("--make-zip", action="store_true")
    args = ap.parse_args(argv)

    if args.make_zip:
        print(make_zip())
        return
    if args.rewrite_layout:
        if not args.input:
            ap.error("--rewrite-layout requires --input")
    elif not args.input or not args.output:
        ap.error("--input and --output are required")

    ensure_fresh_py_files()  # cheap refusal before any Spark work

    from pyspark.sql import SparkSession

    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
        manifest_df,
        qa_report_df,
    )
    from pii_redaction_pipeline_spark.sources.tableio import ResumableRun

    # on a cluster, master/memory come from spark-submit; builder only adds
    # the configs the pipeline depends on
    spark = (SparkSession.builder.appName("pii_scrub_job")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
             .getOrCreate())

    # the archives spark-submit actually shipped (if any) must match source
    ensure_fresh_py_files(spark.conf.get("spark.submit.pyFiles", ""))

    if "/" in args.input:
        clips = spark.read.parquet(args.input)
    else:
        clips = spark.read.table(args.input)  # Iceberg catalog table

    if args.rewrite_layout:
        from pii_redaction_pipeline_spark.sources.tableio import (
            cost_balanced_rewrite,
        )
        n_files = cost_balanced_rewrite(clips, args.rewrite_layout,
                                        n_files=args.rewrite_files)
        print(json.dumps({"rewrite_layout": args.rewrite_layout,
                          "n_files": n_files}))
        spark.stop()
        return

    fuzzy_vocab = args.fuzzy_vocab_broadcast
    if fuzzy_vocab is None:  # AUTO: plan-stats size estimate, no extra job
        fuzzy_vocab, est_bytes = fuzzy_vocab_auto(clips)
        print(json.dumps({"fuzzy_vocab_broadcast_auto": fuzzy_vocab,
                          "input_est_bytes": est_bytes,
                          "threshold_bytes": AUTO_FUZZY_VOCAB_MIN_BYTES}))

    cfg = PipelineConfig(with_audio_verify=not args.no_audio_verify,
                         with_ppl=not args.no_ppl,
                         fuzzy_vocab_broadcast=fuzzy_vocab)

    def process(df):
        return apply_pipeline(df, cfg).drop("redactions")

    rr = ResumableRun(spark, args.output, n_buckets=args.buckets)
    info = rr.run(clips, process, max_buckets=args.max_buckets)

    if info["processed_buckets"] or info["skipped_buckets"] == args.buckets:
        results = rr.results()
        manifest_df(results).write.mode("overwrite").parquet(
            f"{args.output}/manifest")
        qa_report_df(results).write.mode("overwrite").parquet(
            f"{args.output}/qa_report")
        from pii_redaction_pipeline_spark.report import processing_report
        report = processing_report(results)
        if "://" not in args.output:  # driver-local file only for local paths
            Path(args.output, "processing_report.txt").write_text(report + "\n")
        print(report)
    print(json.dumps(info))
    spark.stop()


if __name__ == "__main__":
    main()
