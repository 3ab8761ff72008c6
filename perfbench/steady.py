"""Run each workload over several seeds and summarise each end-to-end
metric as median, quartiles and spread (IQR / median) — the test the
benchmark's bounds are judged by.

    python3 perfbench/steady.py --seeds 101-110 --out /tmp/set-a.json [--workloads cdc_stream]
    python3 perfbench/steady.py --combine /tmp/set-a.json /tmp/set-b.json --out perfbench/steadiness.json

Run from the root of a checkout. The runs are sequential; each prints its
result line as it finishes. ``--combine`` joins two sets into the
steadiness evidence, with each metric's bound and how much worse set B's
median is than set A's.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def combine(path_a: str, path_b: str, host: str) -> dict:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    sets = {}
    for key, path in (("a", path_a), ("b", path_b)):
        with open(path) as fh:
            sets[key] = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    out = {
        "what": "Two independent sets of ten runs of the same commit per workload, each run with its own seed, "
        "as perfbench/steady.py prints them. spread = (q3 - q1) / median; worse_b_vs_a = how much set B's "
        "median is worse than set A's, as a share of set A's (negative: better).",
        "host": host,
        "sets": {k: {"seeds": v["seeds"]} for k, v in sets.items()},
        "workloads": {},
    }
    for wl, a in sets["a"]["workloads"].items():
        b = sets["b"]["workloads"][wl]
        metrics = {}
        for m in bench["end_to_end"]:
            name = m["name"]
            sa, sb = a["metrics"][name], b["metrics"][name]
            worse = (sb["median"] - sa["median"]) / sa["median"]
            metrics[name] = {
                "bound": m["bound"],
                **{k: {f: (round(v, 4) if f != "values" else [round(x, 4) for x in v]) for f, v in s.items()}
                   for k, s in (("a", sa), ("b", sb))},
                "worse_b_vs_a": round(worse if better[name] == "lower" else -worse, 4),
            }
        out["workloads"][wl] = {
            "runs_per_set": a["runs"],
            "all_correct": a["correct"] == a["runs"] and b["correct"] == b["runs"],
            "run_elapsed_s": {"a": a["elapsed_s"], "b": b["elapsed_s"]},
            "metrics": metrics,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", help="first-last, inclusive")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--combine", nargs=2, metavar=("SET_A", "SET_B"))
    ap.add_argument("--host", default="", help="with --combine: the hardware the sets ran on")
    args = ap.parse_args()
    if args.combine:
        with open(args.out, "w") as fh:
            json.dump(combine(*args.combine, args.host), fh, indent=1)
        return
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report: dict = {"seeds": [lo, hi], "run_seconds": bench["run_seconds"], "workloads": {}}
    for wl in names:
        runs = []
        for seed in range(lo, hi + 1):
            t = time.time()
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            last = (p.stdout.strip().splitlines() or ["{}"])[-1]
            res = json.loads(last) if last.startswith("{") else {}
            runs.append({"seed": seed, "exit": p.returncode, "elapsed_s": round(time.time() - t, 1), **res})
            print(wl, seed, p.returncode, last, flush=True)
        ok = [r for r in runs if r.get("correct")]
        metrics = {
            m["name"]: summarise([r["metrics"][m["name"]]["value"] for r in ok])
            for m in bench["end_to_end"]
        } if len(ok) >= 2 else {}
        report["workloads"][wl] = {"runs": len(runs), "correct": len(ok), "metrics": metrics,
                                   "elapsed_s": [r["elapsed_s"] for r in runs]}
        for name, s in metrics.items():
            print(f"{wl:12s} {name:16s} median {s['median']:12.2f} q1 {s['q1']:12.2f} q3 {s['q3']:12.2f} spread {s['spread']:.3f}")
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    sys.exit(0 if all(w["correct"] == w["runs"] for w in report["workloads"].values()) else 1)


if __name__ == "__main__":
    main()
