#!/usr/bin/env python3
"""Per-day job timeline of the daily-cycle sink, from Spark's event log.

Run a daily_cycle benchmark with the event log on, e.g.

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev" \\
      python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 8 --trace 0
    zstd -dc /tmp/ev/*/events_1_*.zstd > /tmp/ev.json
    python3 plans/cycle_timeline.py /tmp/ev.json 6 7

and this prints, per micro-batch (one day): its jobs and tasks, when each
leg of the sink's first `StateVersions.par2` ended, the serial tail after
both legs, the one-task parquet schema-inference jobs (per leg; "-" = on
the stream thread outside any par2), and the tail's jobs grouped by SQL
execution (a write names its target dir). The event log roughly doubles
the bytes a run writes, so never enable it in timed A/B runs.

Jobs are attributed to a batch by their `streaming.sql.batchId` property;
a par2 leg's jobs by the batch of the stream-thread leg (a) of the same
par2 call, because a pool thread may carry a stale batch id.
"""
import collections
import json
import re
import sys


def load(path):
    execs, jobs, stage_tasks = {}, {}, {}
    for line in open(path):
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            m = re.search(r"InsertIntoHadoopFsRelationCommand.*?Arguments: (\w+:/[^,]+),", plan, re.S)
            execs[e["executionId"]] = ("write " + "/".join(m.group(1).split("/")[-3:])) if m \
                else ("exec " + " | ".join(x.strip() for x in plan.split("\n")[1:3] if x.strip()))[:80]
        elif ev == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            stages = e["Stage Infos"]
            scopes = sorted({json.loads(r["Scope"])["name"]
                             for s in stages for r in s["RDD Info"] if r.get("Scope")})
            tag = re.findall(r"graft-par2-(\d+)-([ab])", p.get("spark.job.tags", ""))
            ex = p.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = dict(
                t0=e["Submission Time"], t1=None, batch=p.get("streaming.sql.batchId"),
                call=int(tag[0][0]) if tag else None, leg=tag[0][1] if tag else "-",
                stages=[s["Stage ID"] for s in stages], scopes=scopes,
                what=execs.get(int(ex), "?") if ex else "rdd " + ",".join(scopes))
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_tasks[si["Stage ID"]] = si["Number of Tasks"] if "Submission Time" in si else 0
    for j in jobs.values():
        j["tasks"] = sum(stage_tasks.get(s, 0) for s in j["stages"])
        # Spark's mergeSchemasInParallel: parallelize(paths).mapPartitions(read footers)
        j["inference"] = j["scopes"] == ["mapPartitions", "parallelize"] and j["tasks"] == 1
        if j["inference"]:
            j["what"] = "parquet schema inference"
    call_batch = {}
    for _, j in sorted(jobs.items()):
        if j["leg"] == "a" and j["batch"] is not None:
            call_batch.setdefault(j["call"], j["batch"])
    for j in jobs.values():
        j["day"] = call_batch.get(j["call"]) if j["call"] is not None else j["batch"]
    return [j for j in jobs.values() if j["t1"] is not None]


def day(jobs, batch):
    js = sorted((j for j in jobs if j["day"] == batch), key=lambda j: j["t0"])
    if not js:
        return None
    t0, t1 = js[0]["t0"], max(j["t1"] for j in js)
    first = min(j["call"] for j in js if j["call"] is not None)
    legs = {leg: max(j["t1"] for j in js if j["call"] == first and j["leg"] == leg)
            for leg in ("a", "b")}
    legs_end = max(legs.values())
    inference = [j for j in js if j["inference"]]
    phases = collections.OrderedDict()
    for j in js:
        if j["t1"] <= legs_end:
            continue
        k = j["what"] + ("" if j["call"] is None else " [par2 %d leg %s]" % (j["call"], j["leg"]))
        ph = phases.setdefault(k, dict(jobs=0, tasks=0, start=j["t0"], end=j["t1"]))
        ph["jobs"] += 1
        ph["tasks"] += j["tasks"]
        ph["start"], ph["end"] = min(ph["start"], j["t0"]), max(ph["end"], j["t1"])
    s = lambda ms: round(ms / 1000, 2)
    return dict(
        jobs=len(js), tasks=sum(j["tasks"] for j in js), span_s=s(t1 - t0),
        par2_calls=len({j["call"] for j in js if j["call"] is not None}),
        leg_a_end_s=s(legs["a"] - t0), leg_b_end_s=s(legs["b"] - t0),
        serial_tail_s=s(t1 - legs_end),
        schema_inference_jobs=len(inference),
        schema_inference_by_leg=dict(collections.Counter(j["leg"] for j in inference)),
        schema_inference_after_legs=sum(1 for j in inference if j["t0"] >= legs_end),
        tail=[dict(what=k, jobs=v["jobs"], tasks=v["tasks"], start_s=s(v["start"] - legs_end),
                   end_s=s(v["end"] - legs_end)) for k, v in phases.items()])


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    jobs = load(sys.argv[1])
    batches = sys.argv[2:] or sorted({j["day"] for j in jobs if j["day"] is not None}, key=int)
    print(json.dumps({b: day(jobs, b) for b in batches}, indent=1))
