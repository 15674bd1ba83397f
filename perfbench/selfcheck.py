#!/usr/bin/env python3
"""Self-check of the benchmark itself, at sf0.001:

1. a corrupted reference answer makes that entry's ops fail;
2. an exception thrown inside an op makes that op fail;
3. a one-pass run of every workload in BENCHMARK.json prints every
   end-to-end metric (--trace 0) and every per-layer metric (--trace 1),
   each with the unit BENCHMARK.json gives it.

    python3 perfbench/selfcheck.py

Exits 0 when every check holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

SF = os.path.join(run.DATA, "sf0.001")
failures = []


def bench(workload, *extra, trace=0):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--data", SF,
                        *extra], stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        failures.append(f"{workload} {extra} trace={trace}: exit {p.returncode}")
        return None, None
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def main():
    manifest = run.load_manifest()
    victim = "dedup_simhash"

    # 1. corrupted reference
    refs = json.load(open(os.path.join(run.REFS, "sf0.001.json")))
    refs[victim]["sha256"] = "0" * 64
    bad_refs = os.path.join(run.BUILD, "selfcheck_refs.json")
    os.makedirs(run.BUILD, exist_ok=True)
    json.dump(refs, open(bad_refs, "w"))
    ctx, res = bench("corpus_dedup", "--refs", bad_refs)
    if res:
        expect(not res["correct"] and res["failed"] == 1 and victim in ctx["failed_entries"],
               f"corrupted reference for {victim} counts as one failed op")

    # 2. thrown exception
    ctx, res = bench("corpus_dedup", "--throw", victim)
    if res:
        expect(not res["correct"] and res["failed"] == 1 and victim in ctx["failed_entries"],
               f"exception thrown in {victim} counts as one failed op")

    # 3. every metric, with its unit, from a one-pass run of each workload
    for w in [x["name"] for x in manifest["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            _, res = bench(w, trace=trace)
            if not res:
                continue
            want = {m["name"]: m["unit"] for m in manifest[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want and res["correct"] and res["attempted"] >= 1,
                   f"{w} --trace {trace}: all {len(want)} {key} metrics with units, answers correct")
    if failures:
        print(f"{len(failures)} self-check failure(s)")
        sys.exit(1)
    print("self-check passed")


if __name__ == "__main__":
    main()
