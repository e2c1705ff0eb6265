"""Seeded, closed-loop benchmark of pprl_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload link_records --seed 1 --seconds 12 --trace 0

Workloads: ``link_records``, ``crawl_encode_sketch``, ``near_dup_corpus``
and ``crawl_and_dedup``, the last two in one (see ``workloads.py``).  One
run, in one process, one Spark job in flight at a time, at
``local[$(nproc)]`` with a 1.5 GB driver heap:

1. set-up, ``SETUPS`` times: start a Spark session through ``get_spark``
   and generate the seeded inputs to parquet.  ``setup_s`` is the median;
   the first includes the JVM launch, the others restart the session in it;
2. warm-up: one untimed iteration that pays JIT compilation and Python
   worker start-up (``bench.warmup_s``).  Its output is checked in full;
3. timed iterations for ``--seconds``: at least the workload's
   ``min_iterations``, and another while the last one's time still fits
   before the deadline.  Each is timed to its collected result and compared
   with the warm-up's output.  ``records_per_s`` is the input rows over the
   median iteration time;
4. the workload's once-per-run checks (``crawl_encode_sketch``: sampled
   vectors against the kernel, and a simulated mid-stage crash whose resume
   must reproduce the uninterrupted output);
5. one JSON object as the last line of stdout.  ``--trace 0`` reports the
   end-to-end metrics; ``--trace 1`` splits the time between untraced and
   traced iterations (a span per layer call, layer outputs materialized at
   each boundary) and reports the per-layer metrics, the tracing overhead
   among them, and writes the spans to ``.bench_runs/trace-*.json``.

End-to-end metrics are the same for every workload: ``records_per_s``,
``setup_s``, ``mem_p95_mb`` (the 95th percentile of the proportional set
size of the driver JVM plus the Python workers, sampled every 0.5 s during
the timed iterations; a true peak swings by gigabytes with whether the
workers' encode batches happen to coincide) and ``ok_frac``, the share of layer calls that neither raised, nor
ran a failed Spark task, nor produced output that failed a check.  The
crash-resume time exists only where the crawl pipeline runs, so it is the
per-layer ``spark.pipeline.resume_s``.

Everything a run writes (inputs, checkpoints, Spark scratch, the Spark
log) stays under ``.bench_runs/`` in the working directory; the run's own
directory is removed at exit.  The exit code is 0 when every check passed,
1 when a check failed, 2 when the program could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
SETUPS = 4
# the driver heap is committed and touched at launch (-Xms = -Xmx, pre-touch)
# so the memory figure does not depend on when the collector grew the heap
DRIVER_MEMORY = "1536m"


def _median(values):
    return float(statistics.median(values)) if values else 0.0


class Run:
    def __init__(self, args, root: Path):
        import spans as tracing
        import workloads

        self.tracing = tracing
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]()
        self.cpus = args.cpus or len(os.sched_getaffinity(0))
        self.out = root / ".bench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.out.mkdir(parents=True)
        self.log_path = self.out / "spark.log"
        self.problems: list[str] = []
        self.report: dict = {}
        self.spark = None

    # ------------------------------------------------------------ session

    def _start_session(self):
        from pyspark import SparkContext

        from pprl_spark.spark.session import get_spark

        scratch = self.out / "spark-local"
        conf = {
            "spark.local.dir": str(scratch),
            "spark.sql.warehouse.dir": str(self.out / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={scratch} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if SparkContext._gateway is not None:
            return get_spark("perfbench", extra_conf=conf)
        # the JVM and the Python workers it forks inherit fd 2 at launch:
        # point it at the run's Spark log for the launch, then restore it
        saved = os.dup(2)
        try:
            with open(self.log_path, "wb") as log:
                os.dup2(log.fileno(), 2)
                return get_spark("perfbench", extra_conf=conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)

    def setup(self) -> None:
        """SETUPS set-ups (session start, inputs generated to parquet); the
        last one's session and inputs are used."""
        times, session_times, digests = [], [], set()
        for k in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._start_session()
            session_times.append(time.perf_counter() - t0)
            digests.add(self.wl.generate(self.args.seed, self.out / f"input{k}"))
            times.append(time.perf_counter() - t0)
        if len(digests) != 1:
            self.problems.append("same seed generated different inputs")
        self.report.update(setup_s=_median(times), session_s=_median(session_times),
                           input_digest=digests.pop())

    def warm_up(self):
        """The first iteration, untimed, pays JIT compilation and Python
        worker start-up before the first timed call.  Its output is checked
        in full; every later iteration's output is compared with it."""
        t0 = time.perf_counter()
        _, _, first = self.measure(0, False, -1, None, iterations=1)
        self.report["warmup_s"] = time.perf_counter() - t0
        return first

    # ------------------------------------------------------------ measure

    def _iteration(self, tracer, run_id: int, first):
        """One timed iteration; returns (seconds or None, result)."""
        tracer.run_id = run_id
        result = None
        try:
            with tracer.span("iteration") as root:
                result = self.wl.iterate(self.spark, tracer)
        except Exception as exc:  # noqa: BLE001 - a failed call is counted, the run goes on
            self.problems.append(f"iteration {run_id} raised {type(exc).__name__}: {exc}")
            return None, None
        if first is None:
            found = self.wl.check(result, self.report)
        else:
            found = [] if result == first else [f"iteration {run_id} output differs from the first"]
        self.problems.extend(found)
        if found or tracer.iteration_failed():
            return None, result
        return root.end - root.start, result

    def measure(self, seconds: float, traced: bool, run0: int, first, iterations: int):
        tracer = self.tracing.Tracer(self.spark, traced=traced)
        times, run_id, last = [], run0, 0.0
        deadline = time.perf_counter() + seconds
        while run_id - run0 < iterations or time.perf_counter() + last <= deadline:
            t0 = time.perf_counter()
            dt, result = self._iteration(tracer, run_id, first)
            last = time.perf_counter() - t0
            if first is None:
                first = result
            self.attempted += tracer.layer_calls(run_id)
            if dt is None:
                self.failed += tracer.layer_calls(run_id)
            else:
                times.append(dt)
            run_id += 1
        return tracer, times, first

    # ------------------------------------------------------------ main

    def execute(self) -> dict:
        self.attempted = self.failed = 0
        phases = [("start", time.perf_counter())]
        self.setup()
        phases.append(("setup", time.perf_counter()))
        first = self.warm_up()
        phases.append(("warm-up", time.perf_counter()))
        halves = 2 if self.args.trace else 1
        seconds = self.args.seconds / halves
        iterations = max(1, self.wl.min_iterations // halves)
        memory = self.tracing.MemorySampler()
        memory.start()
        plain, times, _ = self.measure(seconds, False, 0, first, iterations)
        mem = memory.stop()
        phases.append(("measure", time.perf_counter()))
        if self.args.trace:
            traced, traced_times, _ = self.measure(seconds, True, len(plain.spans), first, iterations)
            phases.append(("traced", time.perf_counter()))
        if hasattr(self.wl, "crash_and_resume"):
            try:
                self.problems += self.wl.check_vectors(self.report)
                self.problems += self.wl.crash_and_resume(
                    self.spark, self.tracing.Tracer(self.spark, traced=False), self.report)
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                self.problems.append(f"crash-resume check raised {type(exc).__name__}: {exc}")
            phases.append(("resume", time.perf_counter()))
        kernel = self.wl.kernel_rate() if self.args.trace and hasattr(self.wl, "kernel_rate") else 0.0
        self.spark.stop()
        phases.append(("stop", time.perf_counter()))
        print("iterations: " + ", ".join(f"{t:.2f}s" for t in times), file=sys.stderr)
        print("phases: " + ", ".join(f"{name} {t - prev:.1f}s" for (_, prev), (name, t)
                                     in zip(phases, phases[1:])), file=sys.stderr)
        errors, accumulators = self.tracing.count_log(self.log_path)
        metrics = {
            "setup_s": (self.report["setup_s"], "s"),
            "records_per_s": (self.wl.input_rows / _median(times) if times else 0.0, "records/s"),
            "mem_p95_mb": (mem / 2**20, "MB"),
            "ok_frac": (1 - self.failed / max(self.attempted, 1), "ratio"),
        }
        if self.args.trace:
            metrics = self.layer_metrics(traced, traced_times, _median(times), kernel)
            metrics["spark.log.error_lines"] = (errors, "count")
            metrics["spark.log.accumulator_errors"] = (accumulators, "count")
            traced.dump(self.out.parent / f"trace-{self.args.workload}-{self.args.seed}.json",
                        {"report": self.report, "metrics": metrics, "untraced_s": times,
                         "traced_s": traced_times})
        print(f"{self.wl.name}: {self.wl.input_rows} input rows, digest "
              f"{self.report['input_digest'][:16]}, {len(times)} timed iterations, "
              f"{self.attempted} layer calls, {self.failed} failed", file=sys.stderr)
        for name, (value, unit) in metrics.items():
            print(f"  {name} = {value:.6g} {unit}", file=sys.stderr)
        for p in self.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        return {
            "correct": not self.problems,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, tr, traced_times, untraced_median, kernel) -> dict:
        """Per-layer figures: medians over the traced iterations."""
        runs = sorted({s.run_id for s in tr.spans if s.name == "iteration"})
        per_run: list[dict] = []
        for run_id in runs:
            spans = tr.calls(run_id)
            row = {f"{layer}.self_s": t for layer, t in tr.self_times(run_id).items()}
            for s in spans:
                for key in ("busy_s", "jobs", "tasks", "tasks_failed", "shuffle_bytes", "python_s"):
                    value = s.end - s.start if key == "busy_s" else getattr(s, key)
                    row[f"{s.layer}.{key}"] = row.get(f"{s.layer}.{key}", 0) + value
                for key, value in s.counts.items():
                    row[f"{s.layer}.{key}"] = row.get(f"{s.layer}.{key}", 0) + value
            per_run.append(row)

        def med(key):
            return _median([r.get(key, 0) for r in per_run])

        m = {"spark.session.start_s": (self.report["session_s"], "s"),
             "kernels.encode.records_per_s": (kernel, "records/s")}
        for layer in self.tracing.SPARK_LAYERS:
            m[f"{layer}.busy_s"] = (med(f"{layer}.busy_s"), "s")
            m[f"{layer}.self_s"] = (med(f"{layer}.self_s"), "s")
            for key in ("jobs", "tasks", "tasks_failed"):
                m[f"{layer}.{key}"] = (med(f"{layer}.{key}"), "count")
            m[f"{layer}.shuffle_bytes"] = (med(f"{layer}.shuffle_bytes"), "bytes")
            m[f"{layer}.python_s"] = (med(f"{layer}.python_s"), "s")
        cand, matches = med("spark.match.candidates"), med("spark.match.matches")
        m["spark.match.candidates"] = (cand, "count")
        m["spark.match.yield"] = (matches / cand if cand else 0.0, "ratio")
        m["spark.match.recall_planted"] = (self.report.get("recall_planted", 0.0), "ratio")
        m["spark.match.recall_exhaustive"] = (self.report.get("recall_exhaustive", 0.0), "ratio")
        m["sketch.states_merged"] = (med("spark.pipeline.states_merged"), "count")
        m["sketch.hll_err_sigma"] = (self.report.get("hll_err_sigma", 0.0), "sigma")
        m["sketch.kll_rank_err"] = (self.report.get("kll_rank_err", 0.0), "ratio")
        m["spark.pipeline.write_s"] = (med("spark.pipeline.write_s"), "s")
        m["spark.pipeline.bytes_written"] = (med("spark.pipeline.bytes_written"), "bytes")
        m["spark.pipeline.chunks_recomputed"] = (self.report.get("chunks_recomputed", 0), "count")
        m["spark.pipeline.resume_s"] = (self.report.get("resume_s", 0.0), "s")
        cand, ver = med("spark.dedup.candidates"), med("spark.dedup.verified")
        m["spark.dedup.candidates"] = (cand, "count")
        m["spark.dedup.yield"] = (ver / cand if cand else 0.0, "ratio")
        m["spark.graph.components"] = (med("spark.graph.components"), "count")
        m["spark.graph.family_recall"] = (self.report.get("family_recall", 0.0), "ratio")
        m["bench.self_s"] = (med("bench.self_s"), "s")
        m["bench.warmup_s"] = (self.report["warmup_s"], "s")
        probe = med("bench.probe.busy_s")
        m["trace.overhead_frac"] = (
            (_median(traced_times) - probe) / untraced_median - 1 if untraced_median else 0.0, "ratio")
        return m


def _stop_jvm(gateway) -> None:
    """Stop the driver JVM: it exits when its stdin closes."""
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["link_records", "crawl_encode_sketch", "near_dup_corpus",
                             "crawl_and_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] slots; default: the CPUs this process may use")
    args = ap.parse_args(argv)

    root = Path.cwd()
    sys.path.insert(0, str(root))
    sys.path.insert(1, str(BENCH_DIR))
    try:
        import pprl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {root}: {exc}", file=sys.stderr)
        return 2

    run = Run(args, root)
    scratch = run.out / "spark-local"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(run.cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(root), os.environ.get("PYTHONPATH")])),
        "TMPDIR": str(scratch),
        "SPARK_LOCAL_DIRS": str(scratch),
    })
    scratch.mkdir()
    from pyspark import SparkContext

    try:
        result = run.execute()
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm(SparkContext._gateway)
        shutil.rmtree(run.out, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
