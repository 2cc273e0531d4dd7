"""Steadiness self-check: run the benchmark several times per workload,
each with another seed, and report every end-to-end metric's spread
(inter-quartile distance / median) against its bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workload daily_chain] [--first-seed 1]
    python3 perfbench/steadiness.py --compare A.json B.json
    python3 perfbench/steadiness.py --overhead [--workload daily_chain] [--first-seed 1]

A run writes its raw results to .perfbench/steadiness/<timestamp>.json.
Every metric, ``setup_s`` included, must have a spread within its bound.
``--compare`` checks that the second set's medians are within each
metric's bound of the first's, in either direction (two sets of runs of
the same code must agree).
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


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    out["seed"] = seed
    out["info"] = dict(ln[2:].split(": ", 1) for ln in lines if ln.startswith("# "))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def report(spec: dict, results: dict[str, list[dict]]) -> bool:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    steady = True
    for wl, runs in results.items():
        walls = [r["wall_s"] for r in runs]
        failed = sum(r["failed"] for r in runs)
        print(f"\n{wl}: {len(runs)} runs, wall median {statistics.median(walls):.1f} s, "
              f"failed ops {failed}, all correct {all(r['correct'] for r in runs)}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, sp = spread(vals)
            steady &= sp <= bound
            flag = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "TOO WIDE")
            print(f"  {name:26s} median {med:12.6g}  spread {sp:7.3f}  bound {bound:5.2f}  {flag}")
    return steady


def compare(spec: dict, a: dict, b: dict) -> bool:
    """Two sets of runs of the same code agree if every median moved, in
    either direction, by at most the metric's bound."""
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    agree = True
    for wl in a:
        print(f"\n{wl}:")
        for name, bound in bounds.items():
            ma = statistics.median(r["metrics"][name]["value"] for r in a[wl])
            mb = statistics.median(r["metrics"][name]["value"] for r in b[wl])
            moved = (mb - ma) / ma
            ok = abs(moved) <= bound
            agree &= ok
            print(f"  {name:26s} {ma:12.6g} -> {mb:12.6g}  moved {moved:+.3f} (bound {bound:.2f}) "
                  f"{'ok' if ok else 'DISAGREE'}")
    return agree


def save(results: dict, prefix: str = "") -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, prefix + time.strftime("%Y%m%dT%H%M%S") + ".json")
    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nraw results: {os.path.relpath(path, ROOT)}")


def overhead(spec: dict, names: list[str], seed: int) -> None:
    """Tracing overhead, and the traced run's dominant layer: the same
    workload and seed untraced, then traced."""
    results = {}
    for w in names:
        plain = run_once(spec, w, seed)
        traced = run_once(spec, w, seed, trace=1)
        results[w] = {"untraced": plain, "traced": traced}
        a = plain["metrics"]["op_p50_s"]["value"]
        b = traced["metrics"]["trace.op_p50_s"]["value"]
        print(f"{w} seed {seed}: correct {plain['correct'] and traced['correct']}, "
              f"dominant layer {traced['info'].get('dominant_layer')}, "
              f"op_p50_s untraced {a:.4g} s, traced {b:.4g} s, "
              f"overhead {b - a:+.4g} s ({(b - a) / a:+.1%})", flush=True)
    save(results, "overhead-")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", nargs=2, metavar="RESULTS_JSON")
    ap.add_argument("--overhead", action="store_true", help="measure the tracing overhead instead")
    args = ap.parse_args()
    spec = load_spec()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        return 0 if compare(spec, a, b) else 1
    names = args.workload or [w["name"] for w in spec["workloads"]]
    if args.overhead:
        overhead(spec, names, args.first_seed)
        return 0
    results: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        for w in names:
            r = run_once(spec, w, args.first_seed + i)
            results[w].append(r)
            print(f"{w} seed {r['seed']}: {r['wall_s']:.1f} s, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    save(results)
    return 0 if report(spec, results) else 1


if __name__ == "__main__":
    sys.exit(main())
