"""Job-path benchmark: clips/s of scan → apply_pipeline → drop("redactions")
→ every column materialized, the path `job.py` runs.

    python3 perfbench/run.py --workload text_clips --seed 1 --seconds 8 --trace 0

Workloads: text_clips, fuzzy_skew, audio_job (see workloads.py for what
each stresses and why). One client, closed loop: one Spark action at a
time on a `local[N]` session, N = the process's CPU affinity count.

This process is the load generator. It writes the seed's inputs as
parquet from one child process per CPU (inputs.py), then starts one fresh
job process (job_proc.py), which sets up a session and makes the timed
runs. Every timed run is checked (workloads.py); a run that raises or
fails its check counts in `failed`.

No process outlives this one. It is a child subreaper, so processes
orphaned under it (the JVM's Python daemon, which moves to a process
group of its own, and its workers) are re-parented to it; on every way
out it kills and reaps whatever is left under it.

--trace 0 prints the end-to-end metrics:
- clips_per_cpu_s: input rows ÷ CPU seconds (user + system) that the job
  process, its JVM and its Python workers spent in a timed run, median
  over the timed runs;
- setup_s: CPU seconds the job process, its JVM and its Python workers
  spent from the job process's start to its first timed run — Python
  start and imports, JVM and session start, plan build and the warm-up
  (Python-worker spawn, memo fill, JIT). Input generation runs in this
  process and has finished before the job process starts.
Both count CPU time, not wall time: on a shared 4-CPU guest, where the
hypervisor took 0-40% of the CPU time (steal) from one minute to the
next, a text_clips run took 2.3-6.5 s of wall but 8-13 CPU seconds. The
wall-clock figures are in the run record (clips_per_s, walls_s,
setup_wall_s and the steal share of every run) and in the traced run
(run.wall_s).
--trace 1 prints the per-layer metrics of layers.PER_LAYER, peak RSS
among them: it varied by more than a tenth between runs of one workload.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; failed ÷ attempted is the share of timed runs that raised or
failed their check. The full record (quartiles, every wall, failed_frac,
effective confs, spans, the layers that do not apply to every workload
and the executed plan) goes to .perfbench/records/. Exit status is 0 when the
benchmark ran, whatever the checks found, and non-zero when it could not
run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
# the job process must end within this many seconds of its start
JOB_TIMEOUT_S = 160
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def job_env(work: Path) -> dict:
    """Environment of the input writers and the job process: every file
    they, the JVM and its Python workers write stays inside `work`, and
    all of them can import the package."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    return env


def become_subreaper() -> None:
    """Have processes orphaned under this one re-parented to it, not to
    init, so that stop_descendants finds and reaps them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants() -> None:
    """SIGKILL every process under this one and reap it, until none is
    left (killing one re-parents its own children here)."""
    from harvest import children

    while kids := children().get(os.getpid(), []):
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def generate_inputs(wl, env: dict) -> None:
    """Write the seed's inputs from one inputs.py process per CPU, each
    given every n-th chunk job."""
    jobs = wl.warm_jobs() + wl.input_jobs()
    n = min(len(os.sched_getaffinity(0)), len(jobs))
    procs = []
    for k in range(n):
        proc = subprocess.Popen([sys.executable, str(HERE / "inputs.py")],
                                stdin=subprocess.PIPE, stdout=sys.stderr,
                                env=env)
        procs.append(proc)
        proc.stdin.write(json.dumps(jobs[k::n]).encode())
        proc.stdin.close()
    codes = [proc.wait() for proc in procs]
    if any(codes):
        raise RuntimeError(f"input generation exited with {codes}")


def run_job(args, work: Path, env: dict) -> dict:
    """Start the job process, wait for it, return its record with
    setup_wall_s added."""
    result = work / "result.json"
    cmd = [sys.executable, str(HERE / "job_proc.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--result", str(result)]
    start = time.monotonic()
    # the job's stdout (JVM and Spark chatter) goes to our stderr, so our
    # stdout carries only the result line
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr)
    code = proc.wait(timeout=JOB_TIMEOUT_S)
    if code != 0 or not result.exists():
        raise RuntimeError(f"job process exited with {code}")
    record = json.loads(result.read_text())
    record["setup_wall_s"] = record["ready"] - start
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["text_clips", "fuzzy_skew", "audio_job"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the `finally` block that stops every
    # process under this one and deletes the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()

    sys.path.insert(0, str(REPO))
    import pii_redaction_pipeline_spark  # noqa: F401  (fails outside a checkout)
    from spans import Tracer
    from workloads import WORKLOADS

    root = REPO / ".perfbench"
    work = root / f"{args.workload}-{args.seed}-{os.getpid()}"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        env = job_env(work)
        generate_inputs(WORKLOADS[args.workload](work, args.seed, Tracer()),
                        env)
        record = run_job(args, work, env)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    metrics = record["metrics"]
    if not args.trace:
        metrics["setup_s"] = {"value": record["ready_cpu_s"], "unit": "s"}
    attempted, failed = record["attempted"], record["failed"]
    result = {"correct": failed == 0 and attempted > 0,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    record.update(workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, result=result,
                  failed_frac=failed / max(attempted, 1))
    records = root / "records"
    records.mkdir(parents=True, exist_ok=True)
    plan = record.pop("executed_plan", "")
    if plan:
        (records / f"{tag}.plan.txt").write_text(plan)
    (records / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
