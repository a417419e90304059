#!/usr/bin/env python3
"""Per-trigger timeline of a structured-streaming run, from Spark's event log.

Usage:

    python3 tools/trigger_timeline.py <event log file or directory> [--query NAME] [--skip N]

The log must be uncompressed and unrolled: run the JVM with
-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>
-Dspark.eventLog.compress=false -Dspark.eventLog.rolling.enabled=false.
Given a directory, the newest file in it is read.

For each trigger (one QueryProgressEvent) it prints, in milliseconds:
  trigger   the trigger's triggerExecution duration
  planning  its queryPlanning duration
  pre-job   from the trigger's start to the first job submitted for it
and, for each stage of the jobs that carry the trigger's batch id
(`streaming.sql.batchId`), in submission order:
  total     stage submission to completion
  lag       stage submission to its first task launch
  deser     the largest task deserialize time
  run       the largest task run time
A last block gives the median of each figure over the triggers kept.
Stages are matched across triggers by their position in the trigger and
their name. --skip drops the first N triggers of each query (warm-up);
--query keeps the triggers of the named query only.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict
from datetime import datetime, timezone

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def log_file(path):
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in os.listdir(path)]
        files = [f for f in files if os.path.isfile(f)]
        if not files:
            sys.exit(f"no event log under {path}")
        return max(files, key=os.path.getmtime)
    return path


def epoch_ms(iso):
    # progress timestamps look like 2026-01-01T10:00:00.123Z
    t = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0


def read(path):
    jobs = {}                     # job id -> (query id, batch id, submit ms)
    stage_job = {}                # stage id -> job id
    stages = {}                   # stage id -> dict
    progress = []
    with open(path, errors="replace") as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue          # a torn last line of an in-progress log
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                bid = props.get("streaming.sql.batchId")
                if bid is not None:
                    jobs[ev["Job ID"]] = (props.get("sql.streaming.queryId"), int(bid),
                                          ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"launch": None, "deser": 0, "run": 0})
                st["name"] = info.get("Stage Name", "")
                st["submit"] = info.get("Submission Time")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"launch": None, "deser": 0, "run": 0})
                st["name"] = info.get("Stage Name", st.get("name", ""))
                st["submit"] = info.get("Submission Time", st.get("submit"))
                st["complete"] = info.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], {"launch": None, "deser": 0, "run": 0})
                launch = ev["Task Info"]["Launch Time"]
                st["launch"] = launch if st["launch"] is None else min(st["launch"], launch)
                m = ev.get("Task Metrics") or {}
                st["deser"] = max(st["deser"], m.get("Executor Deserialize Time", 0))
                st["run"] = max(st["run"], m.get("Executor Run Time", 0))
            elif kind == PROGRESS:
                progress.append(ev["progress"])
    return jobs, stage_job, stages, progress


def timeline(jobs, stage_job, stages, p):
    """(trigger, planning, pre-job, [(name, total, lag, deser, run)])"""
    d = p.get("durationMs", {})
    mine = sorted((sub, jid) for jid, (qid, bid, sub) in jobs.items()
                  if bid == p["batchId"] and qid in (None, p["id"]))
    start = epoch_ms(p["timestamp"])
    pre = mine[0][0] - start if mine else None
    rows = []
    sids = sorted((sid for sid, jid in stage_job.items() if jid in {j for _, j in mine}),
                  key=lambda s: (stages.get(s, {}).get("submit") or 0, s))
    for sid in sids:
        st = stages.get(sid)
        if not st or st.get("submit") is None or st.get("complete") is None:
            continue      # skipped stage (shuffle output reused) or never ran
        lag = st["launch"] - st["submit"] if st["launch"] is not None else None
        rows.append((st["name"], st["complete"] - st["submit"], lag, st["deser"], st["run"]))
    return d.get("triggerExecution"), d.get("queryPlanning"), pre, rows


def fmt(v):
    return "-" if v is None else f"{v:.0f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--query", help="keep the triggers of this query name only")
    ap.add_argument("--skip", type=int, default=0, help="drop the first N triggers of each query")
    a = ap.parse_args()
    path = log_file(a.log)
    jobs, stage_job, stages, progress = read(path)
    seen = defaultdict(int)
    kept = []
    for p in progress:
        if a.query and p.get("name") != a.query:
            continue
        seen[p["id"]] += 1
        if seen[p["id"]] > a.skip:
            kept.append(p)
    if not kept:
        sys.exit(f"no trigger progress in {path}")
    print(f"# {path}: {len(kept)} triggers")
    print("# query batch | trigger planning pre-job | per stage: name total lag deser run (ms)")
    cols = defaultdict(list)
    for p in kept:
        trig, plan, pre, rows = timeline(jobs, stage_job, stages, p)
        for k, v in (("trigger", trig), ("planning", plan), ("pre-job", pre)):
            if v is not None:
                cols[(k,)].append(v)
        parts = []
        for i, (name, total, lag, deser, run) in enumerate(rows):
            parts.append(f"[s{i} {name}: {fmt(total)} {fmt(lag)} {fmt(deser)} {fmt(run)}]")
            for k, v in (("total", total), ("lag", lag), ("deser", deser), ("run", run)):
                if v is not None:
                    cols[(i, name, k)].append(v)
        print(f"{p.get('name') or p['id'][:8]} {p['batchId']} | {fmt(trig)} {fmt(plan)} {fmt(pre)} | "
              + " ".join(parts))
    print("# medians")
    for k in ("trigger", "planning", "pre-job"):
        if cols[(k,)]:
            print(f"{k:>10} {statistics.median(cols[(k,)]):8.1f} ms  (n={len(cols[(k,)])})")
    stage_keys = sorted({key[:2] for key in cols if len(key) == 3})
    for i, name in stage_keys:
        vals = [statistics.median(cols[(i, name, k)]) if cols[(i, name, k)] else None
                for k in ("total", "lag", "deser", "run")]
        n = len(cols[(i, name, "total")])
        print(f"  s{i} {name}: total {fmt(vals[0])}  lag {fmt(vals[1])}  "
              f"deser {fmt(vals[2])}  run {fmt(vals[3])} ms  (n={n})")


if __name__ == "__main__":
    main()
