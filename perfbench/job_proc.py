"""The job process of the benchmark: one fresh Python process per run,
started by run.py once the inputs exist, as a `job.py` run would start.

It starts the session, builds the plan and warms up (workloads.py: over
a small slice, which spawns the Python workers and fills their memo, and
over the measured input). When it is ready for the first timed run it notes the time on the
system-wide monotonic clock (`ready`; run.py subtracts the moment it
started this process) and the CPU seconds it and its JVM and Python
workers used so far (`ready_cpu_s`). Then it either repeats checked timed
runs until their summed wall reaches --seconds (and at least MIN_RUNS),
or, with --trace 1, makes the traced run of layers.py. It writes
everything to the --result file as JSON and stops its JVM before
exiting.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

from harvest import host_ticks, tree_cpu_s

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
# timed runs made even past --seconds: the first timed runs still use
# 10-30% more CPU than later ones, so the median is taken over at least
# three of them
MIN_RUNS = 3


def session_conf(work: Path) -> dict:
    """Confs the benchmark passes through `get_spark`'s `extra_conf`."""
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    return {
        # a quarter of the host's RAM, so the JVM, its Python workers and
        # the page cache fit together (the package default is 32 GB)
        "spark.driver.memory": f"{total_mb // 4}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": str(REPO),
    }


def make_session(work: Path):
    from pii_redaction_pipeline_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench", master=f"local[{n}]",
                      shuffle_partitions=max(n, 8),
                      extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def quartiles(values: list[float]) -> dict:
    import statistics

    vals = sorted(values)
    if len(vals) < 2:
        q = vals[0] if vals else 0.0
        return {"p25": q, "median": q, "p75": q, "n": len(vals)}
    p25, med, p75 = statistics.quantiles(vals, n=4)
    return {"p25": p25, "median": med, "p75": p75, "n": len(vals)}


class Bench:
    def __init__(self, workload: str, seed: int, work: Path, seconds: float):
        from spans import Tracer
        from workloads import WORKLOADS

        self.seconds = seconds
        self.work = work
        self.tracer = Tracer()
        self.wl = WORKLOADS[workload](work, seed, self.tracer)
        self.spark = None
        self.attempted = self.failed = 0
        self.results = []
        self.walls: list[float] = []
        self.errors: list[str] = []
        self.record: dict = {}

    # -- phases ----------------------------------------------------------

    def set_up(self) -> None:
        from harvest import Harvester

        with self.tracer.span("setup"):
            self.spark = make_session(self.work)
            self.wl.warm_up(self.spark)
        self.harvester = Harvester(self.spark)
        confs = dict(self.spark.sparkContext.getConf().getAll())
        confs["spark.sql.execution.arrow.maxRecordsPerBatch"] = \
            self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        self.record["confs"] = confs

    def timed(self, run: int, on_done=None):
        """One checked timed run → (result, executions) or (None, []).
        `on_done(res)` runs between the run and its check, which deletes
        the run's output. Every run attempted adds its wall to
        self.walls, failed or not."""
        self.wl.prepare_run(run)
        before = self.harvester.last_exec_id()
        self.attempted += 1
        res, execs = None, []
        t0 = time.perf_counter()
        try:
            cpu0, (steal0, ticks0) = tree_cpu_s(os.getpid()), host_ticks()
            with self.tracer.span("run", run):
                res = self.wl.timed_run(self.spark, run)
            steal1, ticks1 = host_ticks()
            res.cpu_s = tree_cpu_s(os.getpid()) - cpu0
            res.steal = (steal1 - steal0) / max(ticks1 - ticks0, 1)
            execs = self.harvester.executions_since(before)
            if on_done:
                on_done(res)
            udfs = [n for e in execs for n in e.udf_ids().values()]
            with self.tracer.span("check", run):
                errors = self.wl.check(self.spark, res, udfs)
        except Exception as e:  # a failed run is counted, not fatal
            errors = [f"run {run} raised {type(e).__name__}: {e}"]
        finally:
            self.walls.append(res.wall_s if res is not None
                              else time.perf_counter() - t0)
            self.wl.cleanup_run(run)
        if errors:
            self.failed += 1
            self.errors += errors[:5]
            print(f"# run {run} FAILED: {errors[:5]}", file=sys.stderr)
            return None, execs
        self.results.append(res)
        print(f"# run {run}: {res.wall_s:.3f} s", file=sys.stderr, flush=True)
        return res, execs

    def measure(self) -> dict:
        from harvest import peak_rss_mb

        run = 0
        while sum(self.walls) < self.seconds or run < MIN_RUNS:
            self.timed(run)
            run += 1
        rows = self.wl.expected_rows()
        per_cpu_s = quartiles([rows / r.cpu_s for r in self.results])
        self.record.update(
            rows=rows, walls_s=self.walls,
            cpu_s=[r.cpu_s for r in self.results],
            steal=[r.steal for r in self.results],
            clips_per_cpu_s=per_cpu_s,
            clips_per_s=quartiles([rows / r.wall_s for r in self.results]),
            peak_rss_mb=peak_rss_mb(self.harvester.jvm_pid()))
        return {"clips_per_cpu_s": {"value": per_cpu_s["median"],
                                    "unit": "clips/cpu_s"}}

    def measure_layers(self) -> dict:
        import layers
        from pii_redaction_pipeline_spark.sources import tableio

        m = {}
        write = tableio.write_partitioned

        def traced_write(*a, **kw):
            before = self.harvester.last_exec_id()
            with self.tracer.span("tableio.write"):
                write(*a, **kw)
            # read the write's metrics while its accumulators still exist
            self.harvester.executions_since(before)

        tableio.write_partitioned = traced_write
        try:
            self._layers(m)
        finally:
            tableio.write_partitioned = write
        self.record["layers"] = m
        return {k: {"value": float(m.get(k, 0.0)), "unit": unit}
                for k, unit in layers.PER_LAYER.items()}

    def _layers(self, m: dict) -> None:
        import layers
        from harvest import peak_rss_mb

        wl, spark = self.wl, self.spark
        written: dict = {}

        def count_written(res):
            if wl.audio:
                written.update(layers.written(wl.out_dir(res.run_index)))

        res, execs = self.timed(0, count_written)
        if res is None:
            return
        m.update(layers.plan_metrics(execs, self.harvester))
        m.update(written)
        m["run.wall_s"] = res.wall_s
        m["run.cpu_s"] = res.cpu_s
        m["pipeline.plan_s"] = res.plan_s
        m["audio.decode_errors"] = res.extra.get("decode_errors", 0)
        run_span, write_span = (self.tracer.last("tableio.run"),
                                self.tracer.last("tableio.write"))
        if wl.audio and run_span and write_span:
            m["tableio.write_s"] = write_span["end"] - write_span["start"]
            m["tableio.lineage_s"] = run_span["end"] - write_span["end"]
        self.record["executed_plan"] = next(
            (e.plan for e in execs if "ArrowEvalPython" in e.plan), "")

        # timed runs still speed up over the first few, so the traced run
        # is compared with the untraced run just before it
        untraced, _ = self.timed(1)
        m["memory.peak_rss_mb"] = peak_rss_mb(self.harvester.jvm_pid())
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            traced, texecs = self.timed(2)
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        if traced is not None and untraced is not None:
            m["trace.overhead_s"] = traced.wall_s - untraced.wall_s
        if traced is not None:
            m.update(layers.profile_seconds(spark, texecs,
                                            self.work / "profile"))

        wl.prepare_run(3)
        paths = wl.input_paths(3)
        with self.tracer.span("quality.isolate"):
            m["quality.isolated_s"] = layers.quality_isolated(spark, paths)
        with self.tracer.span("fuzzy_vocab"):
            m.update(layers.fuzzy_vocab(spark, paths))
        with self.tracer.span("tokens"):
            m.update(layers.token_counts(spark, paths))
        wl.cleanup_run(3)
        with self.tracer.span("kernels"):
            m.update(layers.kernel_timings(wl.seed))

    def close(self) -> None:
        if self.spark is not None:
            stop_jvm(self.spark)
            self.spark = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--result", type=Path, required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(REPO))
    bench = Bench(args.workload, args.seed, args.work, args.seconds)
    try:
        bench.set_up()
        ready = time.monotonic()
        # everything this process and its JVM and Python workers ran since
        # the process started
        ready_cpu_s = tree_cpu_s(os.getpid())
        metrics = bench.measure_layers() if args.trace else bench.measure()
    finally:
        bench.close()
    bench.record.update(ready=ready, ready_cpu_s=ready_cpu_s,
                        attempted=bench.attempted,
                        failed=bench.failed, metrics=metrics,
                        errors=bench.errors, spans=bench.tracer.spans)
    args.result.write_text(json.dumps(bench.record, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
