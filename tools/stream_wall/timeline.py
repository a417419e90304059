#!/usr/bin/env python3
"""Per-trigger phase timeline of a stream thread, from StreamWall's samples.

Usage:

    python3 tools/stream_wall/timeline.py <samples file> [--skip N]

The file is what tools/stream_wall/StreamWall.java writes: progress lines
(P batchId startEpochMs triggerExecutionMs numInputRows) and stack
samples (S epochMs frames, innermost first). Each sample that falls in a
trigger's [start, start + triggerExecution) window is charged one
sampling interval to the first phase whose frames it shows:

  explain    QueryExecution.explainString: the plan description Spark
             builds for the SQL UI, a second planning of the micro-batch
  broadcast  a driver-side broadcast outside the scheduler (the state
             store RDD's Hadoop configuration)
  job        waiting on a Spark job (SparkContext.runJob)
  toRdd      building the RDD of the micro-batch plan (QueryExecution.toRdd)
  plan       planning the micro-batch (IncrementalExecution, the planner,
             the optimizer's rule executor)
  sink       the rest of the sink call (ForeachBatchSink, TxnParquet)
  log        the offset and commit logs
  other      anything else in the trigger

It prints one line per trigger (ms per phase) and then the median of
each column over the triggers kept. --skip drops the first N triggers.
"""
import argparse
import statistics
import sys

PHASES = [
    ("explain", (".explainString",)),
    ("broadcast", ("SerializableConfiguration$.broadcast", "SparkContext.broadcast")),
    ("job", ("SparkContext.runJob",)),
    ("toRdd", (".toRdd", "QueryExecution.toRdd")),
    ("plan", ("IncrementalExecution", "QueryPlanner.plan", "RuleExecutor.execute",
              "QueryExecution.executedPlan", "QueryExecution.sparkPlan",
              "QueryExecution.optimizedPlan")),
    ("sink", ("ForeachBatchSink", "TxnParquet", "LeanParquetWriter")),
    ("log", ("HDFSMetadataLog", "CommitLog", "OffsetSeqLog")),
]
NAMES = [p for p, _ in PHASES] + ["other"]


def phase(frames):
    for name, marks in PHASES:
        for f in frames:
            if any(m in f for m in marks):
                if name == "broadcast" and "DAGScheduler" in "|".join(frames):
                    break
                return name
    return "other"


def read(path):
    progress, samples = [], []
    with open(path, errors="replace") as fh:
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            if parts[0] == "P" and len(parts) == 5:
                progress.append((int(parts[1]), int(parts[2]), int(parts[3]), int(parts[4])))
            elif parts[0] == "S" and len(parts) == 3:
                samples.append((int(parts[1]), parts[2].split("|")))
    return progress, samples


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("samples")
    ap.add_argument("--skip", type=int, default=0)
    args = ap.parse_args()
    progress, samples = read(args.samples)
    if not progress or len(samples) < 2:
        sys.exit("no progress or samples in " + args.samples)
    times = [t for t, _ in samples]
    step = statistics.median(b - a for a, b in zip(times, times[1:]))
    rows = []
    j = 0
    for batch, start, dur, n in sorted(progress, key=lambda p: p[1])[args.skip:]:
        ms = dict.fromkeys(NAMES, 0.0)
        while j < len(samples) and samples[j][0] < start:
            j += 1
        k = j
        while k < len(samples) and samples[k][0] < start + dur:
            ms[phase(samples[k][1])] += step
            k += 1
        rows.append((batch, n, dur, ms))
    print(f"{len(samples)} samples, one every {step:.1f} ms; {len(rows)} triggers")
    head = ["batch", "rows", "trigger"] + NAMES
    print(" ".join(f"{h:>9}" for h in head))
    for batch, n, dur, ms in rows:
        print(" ".join(f"{v:>9}" for v in [batch, n, dur] + [f"{ms[p]:.0f}" for p in NAMES]))
    med = ["median", statistics.median(r[1] for r in rows), statistics.median(r[2] for r in rows)]
    med += [f"{statistics.median(r[3][p] for r in rows):.0f}" for p in NAMES]
    print(" ".join(f"{v:>9}" for v in med))


if __name__ == "__main__":
    main()
