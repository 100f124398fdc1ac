"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/summary.py --seeds 1-10 [--workload NAME ...]
        [--trace 0|1] [--json out.json]

Runs ``perfbench/run.py`` once per (workload, seed), one at a time,
then prints for every (workload, metric) its median, first and third
quartile (``statistics.quantiles(n=4)``), sample count and spread
(quartile distance / median). With ``--trace 0`` each end-to-end
metric's spread is compared with a third of its bound in
BENCHMARK.json. Every run is reported, failed ones included.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--json", default="")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for wl in names:
        runs = []
        for s in seeds(a.seeds):
            p = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True, check=False)
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            res = json.loads(last) if last.startswith("{") else {}
            res["seed"], res["exit"] = s, p.returncode
            runs.append(res)
            print(f"# {wl} seed {s}: exit {p.returncode} "
                  f"correct={res.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in
                             res.get("metrics", {}).items()
                             if k in bounds or a.trace),
                  file=sys.stderr, flush=True)
        ok = [r for r in runs if r.get("correct")]
        report[wl] = {"runs": runs, "failed": len(runs) - len(ok),
                      "metrics": {}}
        for name in (ok[0]["metrics"] if ok else {}):
            st = summarize([r["metrics"][name]["value"] for r in ok])
            st["unit"] = ok[0]["metrics"][name]["unit"]
            report[wl]["metrics"][name] = st
            flag = ""
            if name in bounds and name != "setup_s":
                flag = ("ok" if st["spread"] < bounds[name] / 3
                        else "WIDE")
            print(f"{wl:22s} {name:34s} median {st['median']:10.4g} "
                  f"q1 {st['q1']:10.4g} q3 {st['q3']:10.4g} n {st['n']:2d} "
                  f"spread {st['spread']:6.3f} {st['unit']} {flag}")
        print(f"{wl:22s} failed runs: {len(runs) - len(ok)} of {len(runs)}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
