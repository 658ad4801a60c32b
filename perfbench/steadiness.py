"""Record how steady the benchmark is.

    python3 perfbench/steadiness.py curves  --seed 7 --seconds 40
    python3 perfbench/steadiness.py repeats --set A --seeds 1-10 [--workloads ...]
    python3 perfbench/steadiness.py traced  --seed 21
    python3 perfbench/steadiness.py summary

`curves` runs each workload once with a long window and keeps every
operation's wall time by index, from the first warm-up operation on,
each marked with its phase ("warmup", "checked" or "timed"): the warm-up
curve that decides where the timed window starts (run.WARMUP_OPS). `repeats` runs each workload once
per seed with the settings in BENCHMARK.json and keeps every
end-to-end metric; two independent sets of the same commit (A and B)
show the run-to-run spread the bounds must cover. `summary` prints each
set's median, quartiles and spread ((Q3 - Q1) / median) per metric, and
how far the two sets' medians differ. `traced` runs each workload once
with --trace 1 and keeps its non-zero per-layer metrics, a baseline for
later changes.

Results go to perfbench/steadiness/*.json. Run from the checkout root,
one run at a time (the runs would otherwise compete for the cores).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "steadiness")
WORKLOADS = ("tag_tile_write", "hydro_chain", "knn_grid")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: float, trace: int = 0) -> tuple[dict, dict, float]:
    """(detail line, result line, process wall seconds) of one run."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def curves(args) -> None:
    out = {}
    for w in args.workloads:
        detail, result, wall = run_once(w, args.seed, args.seconds)
        out[w] = {"seed": args.seed, "warmup_ops": detail["warmup_ops"],
                  "op_times": detail["op_times"],
                  "correct": result["correct"], "process_wall_s": wall}
        print(w, [(p, round(t, 3)) for p, t in detail["op_times"]], flush=True)
    _save("warmup_curves.json", out)


def repeats(args) -> None:
    seconds = _bench()["run_seconds"]
    path = os.path.join(OUT, f"repeats_{args.set}.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    for w in args.workloads:
        runs = out.setdefault(w, [])
        for seed in _seeds(args.seeds):
            detail, result, wall = run_once(w, seed, seconds)
            runs.append({"seed": seed, "fingerprint": detail["fingerprint"],
                         "correct": result["correct"], "attempted": result["attempted"],
                         "failed": result["failed"], "process_wall_s": wall,
                         "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                         "op_times": detail["op_times"]})
            print(w, seed, round(wall, 1), json.dumps(runs[-1]["metrics"]), flush=True)
            _save(f"repeats_{args.set}.json", out)


def traced(args) -> None:
    seconds = _bench()["run_seconds"]
    out = {}
    for w in args.workloads:
        detail, result, wall = run_once(w, args.seed, seconds, trace=1)
        out[w] = {"seed": args.seed, "correct": result["correct"], "process_wall_s": wall,
                  "per_layer": {k: v["value"] for k, v in result["metrics"].items() if v["value"]}}
        print(w, json.dumps(out[w]["per_layer"]), flush=True)
    _save(f"traced_seed{args.seed}.json", out)


def _stats(values: list[float]) -> dict:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def summary(args) -> None:
    bounds = {m["name"]: m["bound"] for m in _bench()["end_to_end"]}
    sets = {}
    for name in sorted(os.listdir(OUT)):
        if name.startswith("repeats_"):
            with open(os.path.join(OUT, name)) as f:
                sets[name[len("repeats_"):-len(".json")]] = json.load(f)
    report = {}
    for w in WORKLOADS:
        for metric, bound in bounds.items():
            row = {"bound": bound}
            for set_name, data in sets.items():
                vals = [r["metrics"][metric] for r in data.get(w, [])]
                if len(vals) >= 2:
                    row[set_name] = _stats(vals)
            meds = [row[s]["median"] for s in sets if s in row]
            if len(meds) == 2:
                row["median_shift"] = abs(meds[1] - meds[0]) / meds[0]
            report[f"{w}/{metric}"] = row
            print(f"{w:15s} {metric:18s} bound {bound:.2f} " + "  ".join(
                f"{s}: med {row[s]['median']:.4g} spread {row[s]['spread']:.3f}"
                for s in sets if s in row)
                + (f"  shift {row['median_shift']:.3f}" if "median_shift" in row else ""))
    _save("summary.json", report)


def _save(name: str, data) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(data, f, indent=1)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("curves")
    c.add_argument("--seed", type=int, default=7)
    c.add_argument("--seconds", type=float, default=40)
    c.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    r = sub.add_parser("repeats")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    t = sub.add_parser("traced")
    t.add_argument("--seed", type=int, default=21)
    t.add_argument("--workloads", nargs="+", default=list(WORKLOADS))
    sub.add_parser("summary")
    args = ap.parse_args(argv)
    {"curves": curves, "repeats": repeats, "traced": traced, "summary": summary}[args.cmd](args)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
