#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client in one driver JVM, timed from
outside the library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: interactive_sql, corpus_dedup, daily_cycle (see perfbench/README.md).
The first run in a checkout compiles graft's sources together with the
harness (perfbench/build.sbt) into .bench_build/. Every op's answer is
checked; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or the per-layer
ones (--trace 1). A traced run also writes its per-op / per-span / per-module
rollup to .bench_build/trace/<workload>-<seed>.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(BUILD, "cache")
DATA = os.path.join(HERE, "data")
REFS = os.path.join(HERE, "refs")
# workload -> (dataset, JVM time limit in s); the gated workloads must end
# within the 180 s a run is given, interactive_sql is not gated
WORKLOADS = {
    "interactive_sql": ("sf0.01", 600),
    "corpus_dedup": ("sf0.01", 170),
    "daily_cycle": ("sf0.01", 170),
}
HEAP = "3g"
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(dp, f)


def build():
    """Compile graft + harness once per checkout; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must name a Spark installation")
    cp_file = os.path.join(BUILD, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    shutil.rmtree(CACHE, ignore_errors=True)  # caches are per build
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
    lf_out = p.stdout.splitlines()
    with open(log, "a") as lf:
        lf.write(p.stdout)
    cps = [l for l in lf_out if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if p.returncode != 0 or not cps:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def run_jvm(cp, args, work, trace, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a pre-touched, fixed-size heap: resident memory then moves with
    # off-heap and metaspace use, not with when G1 decides to grow
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    if trace:
        # keep the whole graft frame chain in each execution's call site
        cmd += ["-Dspark.callstack.depth=400"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"benchmark JVM timed out (see {log})")
    if rc != 0:
        tail = open(log, errors="replace").read()[-3000:]
        die(f"benchmark JVM exited {rc}:\n{tail}")


# --- answer checks (tools/check.py's rules) ---------------------------------

def render(con, sql):
    """Sorted columns, types and check.py's row rendering of a result."""
    rel = con.sql(sql)
    types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    df = rel.df()
    cols = sorted(df.columns)
    rows = [[str(v) for v in row] for row in df[cols].itertuples(index=False)]
    return cols, types, rows


def fingerprint(cols, types, rows):
    h = hashlib.sha256(json.dumps(rows, separators=(",", ":")).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "sha256": h,
            "hugeint": sorted(c for c, t in types.items() if t == "HUGEINT")}


def check_dumps(dump_dir, refs):
    """Entry -> reason, for every entry whose dumped answer differs from
    its DuckDB reference."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for name, ref in sorted(refs.items()):
        d = os.path.join(dump_dir, name)
        if not glob.glob(os.path.join(d, "*.parquet")):
            bad[name] = "no answer (the warm-up run threw)"
            continue
        got = fingerprint(*render(con, f"SELECT * FROM read_parquet('{d}/*.parquet')"))
        if ref.get("hugeint") or got["hugeint"]:
            bad[name] = "HUGEINT column in the comparison"
        elif got["cols"] != ref["cols"]:
            bad[name] = f"columns {got['cols']} != reference {ref['cols']}"
        elif got["rows"] != ref["rows"]:
            bad[name] = f"{got['rows']} rows != reference {ref['rows']}"
        elif got["sha256"] != ref["sha256"]:
            bad[name] = "values differ from the reference"
    return bad


# --- metrics ------------------------------------------------------------------

def tail_rank(n):
    """op_tail_s: the highest of these percentiles leaving >= 10 samples
    above it; with fewer than 11 samples, the maximum."""
    for p in (99, 95, 90, 80, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return 100


def quantile(xs, p):
    s = sorted(xs)
    pos = p / 100 * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(r, tail_pct, adjust=True):
    """The end-to-end metrics. Walls are taken times their unstolen share
    (busy / (busy + steal) jiffies over the same interval): the wall on a
    host whose hypervisor steals nothing from this guest."""
    def walls(pairs):
        return [w * (u if adjust else 1.0) for w, u in pairs]
    ops = walls((o["wall"], o["unstolen"]) for o in r["ops"])
    passes = len(r["pass_s"])
    return {
        "setup_s": statistics.median(walls(r["setup_s"])),
        "pass_s": statistics.median(walls(r["pass_s"])),
        "op_p50_s": statistics.median(ops),
        "op_tail_s": quantile(ops, tail_pct),
        "cpu_s": r["cpu_s"] / passes,
        "peak_rss_mb": r["peak_rss_mb"],
        "write_bytes_per_input_byte": r["write_bytes"] / (r["input_bytes_per_pass"] * passes),
    }


def load_manifest():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="input dir (default: the workload's committed dataset)")
    ap.add_argument("--refs", help="reference file (default: perfbench/refs/<sf>.json)")
    ap.add_argument("--throw", help="make this entry's timed ops throw (self-check)")
    a = ap.parse_args()

    manifest = load_manifest()
    sf, timeout = WORKLOADS[a.workload]
    data = os.path.abspath(a.data or os.path.join(DATA, sf))
    refs_path = a.refs or os.path.join(REFS, f"{os.path.basename(data)}.json")
    if not os.path.isdir(data):
        die(f"input data {data} missing")
    cp = build()
    cache = os.path.join(CACHE, os.path.basename(data))
    if not os.path.exists(os.path.join(cache, "daily_prefix", "_COMPLETE")):
        # part of the checkout's one-time build: daily_cycle's cached prefix
        # (built in daily_cycle's own work dir: its checkpoint keeps paths)
        work = os.path.join(BUILD, "work", "daily_cycle")
        shutil.rmtree(work, ignore_errors=True)
        run_jvm(cp, ["--workload", "daily_cycle", "--seed", "0", "--seconds", "0", "--trace", "0",
                     "--data", data, "--work", work, "--cache", cache, "--out", "-",
                     "--prepare-only", "1"], work, False, timeout=BUILD_TIMEOUT_S)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--cache", cache, "--out", out]
    if a.throw:
        args += ["--throw", a.throw]
    run_jvm(cp, args, work, a.trace == 1, timeout)
    r = json.load(open(out))

    # correctness: per-entry reference check + per-op digest check, or
    # (daily_cycle) the post-run parity checks
    bad = {}
    if a.workload == "daily_cycle":
        if not r["checks"].get("ok"):
            bad = {o["name"]: "post-run parity check failed" for o in r["ops"]}
    else:
        all_refs = json.load(open(refs_path))
        names = {o["name"] for o in r["ops"]}
        bad = check_dumps(os.path.join(work, "dumps"), {n: all_refs.get(n, {}) for n in names})
    failed_ops = {}
    for o in r["ops"]:
        reason = bad.get(o["name"]) or ("" if o["ok"] else o["err"] or "failed")
        if reason:
            failed_ops.setdefault(o["name"], reason)
    failed = sum(1 for o in r["ops"] if o["name"] in failed_ops)
    attempted = len(r["ops"])

    tail_pct = tail_rank(attempted)
    if a.trace:
        names = [m["name"] for m in manifest["per_layer"]]
        units = {m["name"]: m["unit"] for m in manifest["per_layer"]}
        layers = r["layers"]
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": units[n]} for n in names}
        tdir = os.path.join(BUILD, "trace")
        os.makedirs(tdir, exist_ok=True)
        jsonl = os.path.join(tdir, f"{a.workload}-{a.seed}.jsonl")
        with open(jsonl, "w") as f:
            head = {"kind": "run", "workload": a.workload, "seed": a.seed, "cores": r["cores"],
                    "heap_mb": r["heap_mb"], "spark": r["spark"], "pass_s": r["pass_s"],
                    "setup_s": r["setup_s"], "checks": r["checks"], "layers": layers}
            f.write(json.dumps(head) + "\n")
            for rec in r["rollup"]:
                f.write(json.dumps(rec) + "\n")
    else:
        e2e = end_to_end(r, tail_pct)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in manifest["end_to_end"]}

    # context line (entries that failed, the tail percentile used), then the result
    print(json.dumps({"workload": a.workload, "seed": a.seed, "passes": len(r["pass_s"]),
                      "cpu_steal_share": round(r["steal_share"], 3),
                      "raw_walls": {k: round(v, 4) for k, v in end_to_end(r, tail_pct, False).items()
                                    if k in ("setup_s", "pass_s", "op_p50_s", "op_tail_s")},
                      "op_tail_percentile": tail_pct, "op_samples": attempted,
                      "failed_entries": failed_ops, "checks": r["checks"]}, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
