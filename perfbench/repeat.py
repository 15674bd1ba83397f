#!/usr/bin/env python3
"""Run one workload once per seed and report each end-to-end metric's median
and spread: (Q3 - Q1) / median over the runs, with Q1/Q3 from
statistics.quantiles(values, n=4), next to the metric's bound in
BENCHMARK.json.

    python3 perfbench/repeat.py --workload corpus_dedup --seeds 1-10 [--out summary.json]

Use it for before/after comparisons: run it on both commits and compare
medians against the bounds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()
    manifest = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    secs = a.seconds or manifest["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run failed ({p.returncode})")
        ctx, res = (json.loads(l) for l in p.stdout.strip().splitlines()[-2:])
        full = json.load(open(os.path.join(ROOT, ".bench_build", "work", a.workload, "result.json")))
        stamp = {k: full[k] for k in ("cores", "heap_mb", "spark")}
        runs.append({"seed": s, **stamp, "cpu_steal_share": ctx["cpu_steal_share"],
                     "raw_walls": ctx["raw_walls"], **res})
        print(json.dumps({"seed": s, "correct": res["correct"], "steal": ctx["cpu_steal_share"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
    summary = {}
    for m in manifest["end_to_end"] if len(runs) > 1 else []:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"], "values": vals}
    for k, v in summary.items():
        print(f"{k:28s} median {v['median']:12.4f} {v['unit']:4s} spread {v['spread']:.3f} "
              f"(bound {v['bound']})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": secs, "runs": runs,
                       "all_correct": all(r["correct"] for r in runs), "summary": summary},
                      f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
