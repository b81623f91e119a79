"""Same-code steadiness: run each workload on several seeds (the workloads
taking turns) and report,
per end-to-end metric, the median, the quartiles and the interquartile
range as a share of the median; with ``--traced``, also one traced run
per workload and its end-to-end metrics minus the untraced medians (the
tracing overhead).

    python3 perfbench/steadiness.py --runs 10 --first-seed 1 \
        --label set-a [--traced] [--workloads datagen mor-scan query-mix]

Run from the root of a checkout.  Runs are sequential; each is one
``perfbench/run.py`` process.  Results go to
``perfbench/out/steadiness-<label>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} failed ({out.returncode}): {out.stderr[-2000:]}")
    return {"detail": json.loads(lines[-2])["perfbench"], "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--label", required=True)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open(BENCH) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report = {"run_seconds": seconds, "workloads": {}}
    # seed-major order: the workloads take turns, so a slow stretch of the
    # host lands on all of them rather than on one workload's runs
    runs_of = {wl: [] for wl in names}
    for i in range(args.runs):
        for wl in names:
            r = one_run(wl, args.first_seed + i, seconds, 0)
            runs_of[wl].append(r)
            print(wl, args.first_seed + i, json.dumps(r["detail"]["end_to_end"]), flush=True)
    for wl in names:
        runs = runs_of[wl]
        rep = {
            "seeds": [args.first_seed + i for i in range(args.runs)],
            "failed": sum(r["result"]["failed"] for r in runs),
            "attempted": sum(r["result"]["attempted"] for r in runs),
            "host_ref_s": spread([r["detail"]["env"]["host_ref_s"] for r in runs]),
            "metrics": {},
        }
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            rep["metrics"][m["name"]] = {**spread(vals), "bound": m["bound"]}
        if args.traced:
            t = one_run(wl, args.first_seed, seconds, 1)
            rep["traced"] = {
                "seed": args.first_seed,
                "end_to_end": t["detail"]["end_to_end"],
                "overhead": {
                    k: t["detail"]["end_to_end"][k] - rep["metrics"][k]["median"]
                    for k in rep["metrics"]
                },
                "per_layer": t["detail"]["per_layer"],
            }
        report["workloads"][wl] = rep
        for k, v in rep["metrics"].items():
            print(f"  {wl:9s} {k:22s} median {v['median']:.6g}  "
                  f"IQR/median {v['iqr_share']:.4f}  bound {v['bound']}", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", f"steadiness-{args.label}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print("wrote", os.path.relpath(path))
    return 0


if __name__ == "__main__":
    sys.exit(main())
