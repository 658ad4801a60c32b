"""Benchmark of whitebox_tools_spark on three seeded workloads.

    python3 perfbench/run.py --workload tag_tile_write --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts one Spark session at
local[<half the cores>] with the package's `get_spark` defaults, builds the
workload's inputs from the seed, warms up with a fixed number of
operations, then times operations for `--seconds` seconds and checks the
outputs against a single-node reference. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced
and traced operations in the window and reports the per-layer metrics
(spans around each layer call, see spans.py), including the tracing
overhead. The spans are also written to .perfbench/traces/ as JSON.

All scratch files (the corpus, tile output, Spark local dirs, JVM and
Python temp files) live in .perfbench/run-<pid>/ and are deleted at
exit. See DESIGN.md for the workloads, metrics and layer mapping.
"""

from __future__ import annotations

import os
import sys

# Python seeds its string hashing afresh in every process, so set orders
# in the driver differ from run to run; pin the seed so that every run
# makes the same sequence of Spark calls (Spark already starts its Python
# workers with PYTHONHASHSEED=0)
if os.environ.get("PYTHONHASHSEED") != "0":
    os.execve(sys.executable, [sys.executable, *sys.argv],
              {**os.environ, "PYTHONHASHSEED": "0"})

import time  # noqa: E402

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm-up operations before the timed window, from the warm-up curves in
# steadiness/: they cover the steep start of the curve; the slow drift
# after it goes on for longer than a run can afford to wait
WARMUP_OPS = {"tag_tile_write": 2, "hydro_chain": 2, "knn_grid": 4}
SETUP_REPEATS = 3  # input builds per run; setup_s uses their median
MIN_TIMED_OPS = 3  # per timed (or traced / untraced) window

SPANS = ("session.start", "setup.inputs", "setup.warmup", "sources.scan",
         "pip_join.tag", "tiling.write", "hydro.fill", "hydro.d8", "knn.join")
# (metric suffix, unit, better) of every span
SPAN_METRICS = (
    ("_s", "s", "lower"), (".jobs", "count", "lower"), (".tasks", "count", "lower"),
    (".executor_run_s", "s", "lower"), (".shuffle_bytes", "B", "lower"),
    (".spill_bytes", "B", "lower"), (".driver_gap_s", "s", "lower"),
    (".jvm_cpu_s", "s", "lower"), (".pyworker_cpu_s", "s", "lower"),
)
# span-specific extras: (span, key, unit, better)
SPAN_EXTRAS = (
    ("pip_join.tag", "refine_rows", "rows", "lower"),
    ("pip_join.tag", "hit_ratio", "ratio", "higher"),
    ("tiling.write", "files", "count", "lower"),
    ("tiling.write", "bytes", "B", "lower"),
    ("tiling.write", "max_task_rows", "rows", "lower"),
    ("knn.join", "candidate_pairs", "count", "lower"),
    ("knn.join", "pairs_per_result", "ratio", "lower"),
)
TRACE_METRICS = (
    ("trace.rows_per_s", "rows/s", "higher"),
    ("trace.untraced_rows_per_s", "rows/s", "higher"),
    ("trace.overhead", "ratio", "lower"),
)
END_TO_END = (
    ("rows_per_s", "rows/s", "higher"),
    ("setup_s", "s", "lower"),
    ("out_bytes_per_row", "B/row", "lower"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    out = [(f"{s}{suffix}", unit, better) for s in SPANS for suffix, unit, better in SPAN_METRICS]
    out += [(f"{s}.{k}", unit, better) for s, k, unit, better in SPAN_EXTRAS]
    return out + list(TRACE_METRICS)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("tag_tile_write", "hydro_chain", "knn_grid"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(workdir: str) -> dict:
    """Point every temp and scratch location of this run into workdir
    and put the package on the Python workers' path; returns extra
    Spark conf."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # java.io.tmpdir for native-library extraction; the JVM's hsperfdata
    # file always goes to /tmp, outside the run's directory, so it is off
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def _stop(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()


class Run:
    """One benchmark process: set-up, warm-up, timed window, check."""

    def __init__(self, args: argparse.Namespace, workdir: str, extra_conf: dict):
        self.args = args
        self.workdir = workdir
        self.extra_conf = extra_conf
        self.attempted = 0
        self.failed = 0
        self.op_seq = 0
        self.op_times: list[tuple[str, float | None]] = []

    def _op(self, phase: str, fn) -> float | None:
        """Run one operation; its wall time, or None if it raised."""
        i = self.op_seq
        self.op_seq += 1
        self.attempted += 1
        t = time.perf_counter()
        try:
            fn(i)
            dt = time.perf_counter() - t
            if phase == "traced":
                self.wl.after_traced_op(i, self.tracer)
            else:
                self.wl.after_op(i)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            dt = None
        self.op_times.append((phase, dt))
        return dt

    def _window(self, phases: list[tuple[str, object]], seconds: float) -> dict[str, list[float]]:
        """Time operations for `seconds`, and at least MIN_TIMED_OPS per
        phase, taking the (phase, fn) pairs in turn; the wall times of
        each phase's operations that succeeded."""
        times = {phase: [] for phase, _fn in phases}
        t0 = time.perf_counter()
        k = 0
        while time.perf_counter() - t0 < seconds or min(map(len, times.values())) < MIN_TIMED_OPS:
            phase, fn = phases[k % len(phases)]
            k += 1
            dt = self._op(phase, fn)
            if dt is not None:
                times[phase].append(dt)
            elif self.failed > MIN_TIMED_OPS:
                raise RuntimeError(f"{self.failed} operations failed")
        return times

    def execute(self) -> tuple[dict, dict]:
        from spans import NullTracer, Tracer
        from workloads import WORKLOADS

        from whitebox_tools_spark.session import get_spark

        args = self.args
        imports_s = time.perf_counter() - T_START
        self.tracer = tracer = Tracer() if args.trace else NullTracer()
        t = time.perf_counter()
        with tracer.span("session.start"):
            # half the cores for Spark tasks: a task of a pandas stage
            # also keeps a Python worker busy, and the JIT and GC threads
            # need cores of their own, so the threads that run at once
            # stay within the cores instead of queueing for them
            cores = max(1, len(os.sched_getaffinity(0)) // 2)
            self.spark = spark = get_spark("perfbench", cores=cores, extra_conf=self.extra_conf)
            spark.sparkContext.setLogLevel("ERROR")
            tracer.spark = spark
        session_s = time.perf_counter() - t

        self.wl = wl = WORKLOADS[args.workload](spark, args.seed, self.workdir)
        inputs_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            with tracer.span("setup.inputs"):
                wl.setup()
            inputs_s.append(time.perf_counter() - t)

        warmup = WARMUP_OPS[args.workload]
        t = time.perf_counter()
        with tracer.span("setup.warmup"):
            for _ in range(warmup - 1):
                self._op("warmup", wl.op)
            self._op("checked", wl.checked_op)
        warmup_s = time.perf_counter() - t
        setup_s = imports_s + session_s + statistics.median(inputs_s) + warmup_s
        first_op_at_s = time.perf_counter() - T_START

        if args.trace:
            times = self._window([("untraced", wl.op),
                                  ("traced", lambda i: wl.traced_op(i, tracer))], args.seconds)
            untraced, timed = times["untraced"], times["traced"]
        else:
            timed = self._window([("timed", wl.op)], args.seconds)["timed"]

        try:
            self.failed += wl.verify()
        except Exception:  # noqa: BLE001 - e.g. the checked operation wrote nothing
            traceback.print_exc()
            self.failed += 1
        rows_per_s = wl.rows / statistics.median(timed)

        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "fingerprint": wl.fingerprint(), "rows": wl.rows,
            "imports_s": imports_s, "session_s": session_s, "inputs_s": inputs_s,
            "warmup_ops": warmup, "warmup_s": warmup_s, "first_op_at_s": first_op_at_s,
            "op_times": self.op_times,
        }
        if not args.trace:
            metrics = {"rows_per_s": rows_per_s, "setup_s": setup_s,
                       "out_bytes_per_row": wl.out_bytes_per_row()}
            return detail, {n: {"value": metrics[n], "unit": u} for n, u, _b in END_TO_END}

        untraced_rps = wl.rows / statistics.median(untraced)
        values = self._layer_values(tracer.spans)
        values["trace.rows_per_s"] = rows_per_s
        values["trace.untraced_rows_per_s"] = untraced_rps
        values["trace.overhead"] = 1.0 - rows_per_s / untraced_rps
        detail["trace_file"] = self._write_trace(tracer.spans, values)
        return detail, {n: {"value": values[n], "unit": u} for n, u, _b in per_layer_metrics()}

    @staticmethod
    def _layer_values(spans: list[dict]) -> dict:
        """Per-layer metric values: the median over the spans of a name
        (0 for a layer the workload does not call)."""
        def med(name: str, key: str) -> float:
            vals = [s[key] for s in spans if s["name"] == name and key in s]
            return statistics.median(vals) if vals else 0

        values = {}
        for span in SPANS:
            for suffix, _u, _b in SPAN_METRICS:
                key = "s" if suffix == "_s" else suffix[1:]
                values[f"{span}{suffix}"] = med(span, key)
        for span, key, _u, _b in SPAN_EXTRAS:
            values[f"{span}.{key}"] = med(span, key)
        return values

    def _write_trace(self, spans: list[dict], values: dict) -> str:
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "spans": spans, "per_layer": values}, f, indent=1)
        return os.path.relpath(path, ROOT)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    # fail before touching anything when the package is not importable
    import whitebox_tools_spark  # noqa: F401

    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    run = Run(args, workdir, _isolate(workdir))
    try:
        detail, metrics = run.execute()
    finally:
        if getattr(run, "spark", None) is not None:
            _stop(run.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
