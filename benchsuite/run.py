#!/usr/bin/env python3
"""Benchmark of the ETL -> ML pipeline and the query engine.

Run from the repository root:

    python3 benchsuite/run.py --workload fpl_season --seed 1 --seconds 10 --trace 0

One process runs one workload on ``local[<cores>]`` with the engine's own
session config (``session.get_spark``):

1. set-up, three times: start (or restart) the session, generate the
   seeded inputs; the first start also launches the JVM;
2. the workload's warm-up (reference results, first-touch scans);
3. timed passes until ``--seconds`` have elapsed (always whole passes),
   each followed by an untimed check of its results against references
   that do not come from the engine.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are the
per-layer metrics, measured with spans, job groups, the status tracker and
the Spark event log. The line before it is a human-readable summary; the
trace run also writes its spans to ``.bench_out/``.

All temporary files (Spark local dirs, warehouse, event logs, generated
inputs) live in a temporary directory under ``.bench_work/`` that is
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_CYCLES = 3
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest percentile with at
    least ten samples beyond it, or the median when no percentile has."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            break
    else:
        p = 50.0
    v = percentile(values, p)
    return p, v, sum(x > v for x in values)


def end_to_end_metrics(setup_cycles: list[float], warmup_s: float, pass_walls: list[float], lat: list[float],
                       attempted: int, failed: int, n_correct: int, n_checked: int) -> dict[str, tuple[float, str]]:
    """The untraced run's metrics: name -> (value, unit)."""
    return {
        "setup_s": (statistics.median(setup_cycles) + warmup_s, "s"),
        "pass_s": (statistics.median(pass_walls), "s"),
        # ops skipped after a failed stage have no latency
        "op_geomean_s": (math.exp(statistics.fmean(math.log(x) for x in lat if x > 0)), "s"),
        "completed_ratio": (1 - failed / attempted, "ratio"),
        "correct_ratio": (n_correct / n_checked if n_checked else 0.0, "ratio"),
    }


def _environment(root: str, work: str, cpus: int, trace: bool) -> None:
    """Process hygiene for the engine and its Python workers."""
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"]))
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        extra = [os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""), "spark.eventLog.enabled=true",
                 "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file://{events}", "spark.ui.retainedJobs=100000",
                 "spark.ui.retainedStages=100000"]
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, extra))


class Bench:
    def __init__(self, args, root: str, work: str, cpus: int, log):
        self.args, self.root, self.work, self.cpus, self.log = args, root, work, cpus, log
        self.spark = None

    def _start_session(self):
        from fantasy_premier_league_spark.operators.cache import release_operator_caches
        from fantasy_premier_league_spark.session import get_spark

        if self.spark is not None:
            release_operator_caches()
            self.spark.stop()
        self.spark = get_spark(f"bench-{self.args.workload}")
        return self.spark

    def run(self) -> tuple[dict, str]:
        import spans as tr
        import workloads as wl
        from fantasy_premier_league_spark.operators.cache import release_operator_caches

        args = self.args
        workload = wl.WORKLOADS[args.workload]()
        setup_cycles = []
        jvm_launch_s = 0.0
        for i in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            spark = self._start_session()
            if i == 0:
                jvm_launch_s = time.perf_counter() - t0
            workload.prepare(self.work, args.seed)
            setup_cycles.append(time.perf_counter() - t0)
        sc = spark.sparkContext
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = tr.Tracer(sc, enabled=bool(args.trace))
        ctx = wl.Context(spark=spark, tracer=tracer, work=self.work)
        if args.trace:
            def on_op(span, phase):
                t = time.perf_counter()
                cpu = tr.proc_python_worker_cpu_s(jvm_pid)
                if phase == "start":
                    span.attrs["_py0"] = cpu
                else:
                    span.attrs["python_cpu_s"] = cpu - span.attrs.pop("_py0")
                span.attrs["probe_s"] = span.attrs.get("probe_s", 0.0) + time.perf_counter() - t
            ctx.on_op = on_op

        t0 = time.perf_counter()
        workload.warmup(ctx)
        warmup_s = time.perf_counter() - t0

        passes: list[dict] = []
        timed_ops: list = []
        t_start = time.perf_counter()
        while True:
            pass_id = f"p{len(passes)}"
            err0 = self.log.offset()
            with tracer.span("pass", pass_id) as ps:
                ops = workload.run_pass(ctx, pass_id)
            passes.append({"id": pass_id, "span": ps, "ops": ops,
                           "error_lines": self.log.count_errors(err0)})
            workload.after_pass(ctx)
            timed_ops += ops
            if time.perf_counter() - t_start >= args.seconds:
                break

        peak_rss_mb = tr.proc_peak_rss_mb(jvm_pid)
        if args.trace:
            tracer.collect_counts()
        release_operator_caches()
        spark.stop()
        self.spark = None

        all_ops = timed_ops
        attempted = len(all_ops)
        failed = sum(op.failed for op in all_ops)
        checked = [op for op in all_ops if op.checked]
        n_correct = sum(op.correct for op in checked)
        lat = [op.seconds for op in timed_ops]
        tail_p, tail_s, beyond = tail(lat)
        summary = {
            "workload": args.workload, "seed": args.seed, "cores": self.cpus, "passes": len(passes),
            "ops": len(lat), "op_p50_s": round(percentile(lat, 50), 3),
            "op_tail": {"percentile": tail_p, "seconds": round(tail_s, 3), "beyond": beyond},
            "jvm_launch_s": round(jvm_launch_s, 3), "setup_cycles_s": [round(x, 3) for x in setup_cycles],
            "warmup_s": round(warmup_s, 3), "checked": len(checked), "correct": n_correct,
            "unchecked": sorted({op.name for op in all_ops} - {op.name for op in checked}),
            "failed_ratio": failed / attempted, "peak_rss_mb": round(peak_rss_mb, 1),
            "op_s": [[op.name, round(op.seconds, 3)] for op in timed_ops],
            "mismatches": {op.name: op.detail for op in checked if not op.correct},
            "failures": {op.name: op.detail for op in all_ops if op.failed},
        }
        if not args.trace:
            metrics = end_to_end_metrics(setup_cycles, warmup_s, [p["span"].seconds for p in passes], lat,
                                         attempted, failed, n_correct, len(checked))
        else:
            from layers import per_layer_metrics

            metrics = per_layer_metrics(tracer, passes, self.cpus, tr.read_event_log(os.path.join(self.work, "events")))
            metrics["session.start_s"] = (jvm_launch_s, "s")
            metrics["session.peak_rss_mb"] = (peak_rss_mb, "MiB")
            self._write_trace(tracer, summary, metrics)
        result = {
            "correct": bool(checked) and n_correct == len(checked) and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, json.dumps(summary, default=str)

    def _write_trace(self, tracer, summary: dict, metrics: dict) -> None:
        out = os.path.join(self.root, ".bench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"summary": summary, "metrics": {k: v for k, (v, _) in metrics.items()},
                       "spans": tracer.to_json()}, f, indent=1, default=str)

    def close(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - best effort on the error path
                pass
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fantasy_premier_league_spark", "session.py")):
        print("benchsuite: run from the repository root; fantasy_premier_league_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tools")]
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, ".bench_work"))
    _environment(root, work, cpus, bool(args.trace))

    import spans as tr

    # stdout carries only the result; the JVM inherits fds 1 and 2, so both
    # go to a log file (scanned for ERROR lines) while the workload runs
    saved_out = os.dup(1)
    log = tr.StderrLog(os.path.join(work, "stderr.log"))
    os.dup2(2, 1)
    os.chdir(work)
    bench = Bench(args, root, work, cpus, log)
    error = None
    try:
        result, summary = bench.run()
    except Exception:  # noqa: BLE001 - reported below with the engine's log
        import traceback

        error = traceback.format_exc()
    finally:
        bench.close()
        os.chdir(root)
        os.dup2(saved_out, 1)
        os.close(saved_out)
        log.restore()
        with open(log.path, "rb") as f:
            log_tail = f.read()[-20000:].decode(errors="replace")
        shutil.rmtree(work, ignore_errors=True)
    if error is not None:
        print(log_tail + error, file=sys.stderr)
        return 1
    print(summary)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
