"""Steadiness mode: are the benchmark's end-to-end metrics steady enough
for the bounds in BENCHMARK.json?

    python3 perfbench/run.py --steadiness 10

For every workload, runs the benchmark RUNS times in each of two sets
(seeds 1..RUNS, one process at a time) and reports per metric:
  spread  the interquartile range of a set's values over their median,
          as statistics.quantiles(values, n=4) gives the quartiles; it must
          stay within the metric's bound (aim: below a third of it);
  drift   how much worse the second set's median is than the first
          set's, as a share of the first; it must stay within the bound.
setup_s is exempt from the spread rule, not from the drift rule.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

SETS = 2


def _spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _drift(first: float, last: float, better: str) -> float:
    worse = last - first if better == "lower" else first - last
    return worse / first


def main(args, here: str) -> int:
    root = os.path.dirname(here)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ok = True
    report = {}
    for wl in names:
        sets = []
        for s in range(SETS):
            vals: dict[str, list[float]] = {m["name"]: [] for m in metrics}
            for seed in range(1, args.steadiness + 1):
                cmd = bench["command"] + [
                    "--workload", wl, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                p = subprocess.run(cmd, cwd=root, capture_output=True,
                                   text=True, timeout=600)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if lines else {}
                if p.returncode != 0 or not res.get("correct"):
                    print(f"{wl} set {s} seed {seed}: FAILED {res}",
                          file=sys.stderr)
                    ok = False
                    continue
                for m in metrics:
                    vals[m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"{wl} set {s} seed {seed}: "
                      + " ".join(f"{k}={v[-1]:.4g}" for k, v in vals.items()
                                 if v), file=sys.stderr, flush=True)
            sets.append(vals)
        for m in metrics:
            name, bound = m["name"], m["bound"]
            runs = [v[name] for v in sets if len(v[name]) >= 2]
            if not runs:
                ok = False
                continue
            spreads = [_spread(v) for v in runs]
            meds = [statistics.median(v) for v in runs]
            drift = _drift(meds[0], meds[-1], m["better"]) \
                if len(meds) > 1 else 0.0
            steady = name == "setup_s" or max(spreads) <= bound
            agree = drift <= bound
            ok &= steady and agree
            report[f"{wl}/{name}"] = {
                "medians": meds, "spreads": spreads, "drift": drift,
                "bound": bound, "steady": steady, "agree": agree,
                "below_third": max(spreads) < bound / 3}
            print(f"{wl:16s} {name:12s} median {meds[0]:>12.4g}  spread "
                  + "/".join(f"{x:.3f}" for x in spreads)
                  + f"  drift {drift:+.3f}  bound {bound}  "
                  + ("ok" if steady and agree else "NOT STEADY"),
                  flush=True)
    print(json.dumps({"steady": ok, "runs": args.steadiness,
                      "sets": SETS, "report": report}))
    return 0 if ok else 1
