#!/usr/bin/env python3
"""Steadiness evidence for the benchmark, written under perfbench/evidence/.

  python3 perfbench/steady.py sets  --workload W --seeds 1-10 [--sets 2]
  python3 perfbench/steady.py curve --workload W --seed 1 --passes 6
  python3 perfbench/steady.py trace --workload W --seed 12

``sets`` runs ``run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), repeated as separate sets, and records for every
end-to-end metric each set's median and quartiles, the spread
(q3 - q1) / median, and the drift of the second set's median from the
first. Per pass it keeps wall, CPU, host steal seconds and the
pure-Python control loop as diagnostics. ``curve`` runs one session
with only the cold pass as warm-up and then many full passes: the
pass-index curve that sizes the warm-up. ``trace`` keeps one traced run's per-layer metrics and passes.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int, extra: list[str],
             traced: int = 0) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced), *extra]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    passes = [json.loads(line.split(" ", 1)[1]) for line in p.stderr.splitlines()
              if line.startswith("perfbench-pass ")]
    warm = [json.loads(line.split(" ", 1)[1]) for line in p.stderr.splitlines()
            if line.startswith("perfbench-warm ")]
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        raise RuntimeError(f"run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return {"seed": seed, "run_s": time.time() - t0, "result": json.loads(out[-1]),
            "passes": [{k: v[k] for k in ("label", "tag", "wall_s", "cpu_s", "steal_s",
                                          "control_ms", "proc")} for v in passes],
            "warm_s": [w["wall_s"] for w in warm]}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def cmd_sets(args) -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = _seeds(args.seeds)
    sets = []
    for k in range(args.sets):
        runs = []
        for s in seeds:
            r = run_once(args.workload, s, bench["run_seconds"], [])
            print(f"set {k} seed {s}: run {r['run_s']:.1f}s "
                  + " ".join(f"{n}={v['value']:.4g}" for n, v in r["result"]["metrics"].items()),
                  flush=True)
            runs.append(r)
        sets.append(runs)
    report = {"workload": args.workload, "seeds": seeds, "run_seconds": bench["run_seconds"],
              "sets": [], "drift": {}}
    for runs in sets:
        metrics = {n: summary([r["result"]["metrics"][n]["value"] for r in runs])
                   for n in bounds}
        report["sets"].append({"metrics": metrics, "runs": runs,
                               "max_run_s": max(r["run_s"] for r in runs)})
    for n, bound in bounds.items():
        meds = [s["metrics"][n]["median"] for s in report["sets"]]
        report["drift"][n] = {"bound": bound,
                              "drift": (meds[-1] - meds[0]) / meds[0],
                              "spreads": [s["metrics"][n]["spread"] for s in report["sets"]]}
    out = HERE / "evidence" / f"{args.workload}_sets.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    for n, d in report["drift"].items():
        print(f"{n:20s} bound {d['bound']:.2f} spreads "
              + " ".join(f"{x:.3f}" for x in d["spreads"]) + f" drift {d['drift']:+.3f}")


def cmd_curve(args) -> None:
    r = run_once(args.workload, args.seed, 1,
                 ["--min-passes", str(args.passes)])
    walls = r["warm_s"] + [p["wall_s"] for p in r["passes"]]
    report = {"workload": args.workload, "seed": args.seed,
              "note": "pass index 0 is the cold pass right after set-up, index 1.. "
                      "are full passes; a timed run times indices 1, 2, ...",
              "cold_s": r["warm_s"][0], "passes": r["passes"],
              "wall_over_last_median": [w / statistics.median(walls[3:]) for w in walls]}
    out = HERE / "evidence" / f"{args.workload}_curve.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    print(f"cold: wall {r['warm_s'][0]:.2f}s")
    for p in r["passes"]:
        print(f"{p['label']}: wall {p['wall_s']:.2f}s cpu {p['cpu_s']:.1f}s "
              f"steal {p['steal_s']:.2f}s control {p['control_ms']:.1f}ms")


def cmd_trace(args) -> None:
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    r = run_once(args.workload, args.seed, seconds, [], traced=1)
    report = {"workload": args.workload, "seed": args.seed, "seconds": seconds,
              "note": f"python3 perfbench/run.py --workload {args.workload} --seed "
                      f"{args.seed} --seconds {seconds} --trace 1; an untraced then a "
                      "traced pass, repeated, after the cold pass",
              "run_s": r["run_s"], "warm_s": r["warm_s"], "passes": r["passes"],
              "result": r["result"]}
    out = HERE / "evidence" / f"{args.workload}_trace.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    for n, v in r["result"]["metrics"].items():
        print(f"{n:36s} {v['value']:.4g} {v['unit']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sets")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", default="1-10")
    s.add_argument("--sets", type=int, default=2)
    c = sub.add_parser("curve")
    c.add_argument("--workload", required=True)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--passes", type=int, default=6)
    t = sub.add_parser("trace")
    t.add_argument("--workload", required=True)
    t.add_argument("--seed", type=int, default=12)
    args = ap.parse_args()
    {"sets": cmd_sets, "curve": cmd_curve, "trace": cmd_trace}[args.cmd](args)


if __name__ == "__main__":
    main()
