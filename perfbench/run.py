#!/usr/bin/env python3
"""Same-host benchmark of the graft streaming dedup job and the registry.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Workloads: stream_live, registry_mix (see perfbench/README.md).

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt), generates the registry's tables with tools/gen_sf.py,
cross-checks the registry set once against the DuckDB oracle with
tools/compare.py, and writes the catch-up's prior output. Everything it writes stays under .bench_build/ and
.bench_out/. Each run then measures one workload in a fresh JVM and
prints, as its last line, one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. It exits non-zero when
an output check fails.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
PRIOR = os.path.join(BUILD, "prior")  # the catch-up's prior output
SPARK_JARS = "/opt/spark/jars"
SF = "0.01"
WORKLOADS = ("stream_live", "registry_mix")
HEAP = "3g"
RUN_LIMIT_S = 175      # a run after the first in a checkout
FIRST_RUN_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the engine and the harness; skipped when no source changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=FIRST_RUN_LIMIT_S).returncode
    if rc != 0:
        die(f"build failed:\n{tail(log)}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return True


def tables():
    """The registry's tables, generated once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{SF}")
    if os.path.exists(os.path.join(d, ".done")):
        return d, False
    shutil.rmtree(d, ignore_errors=True)
    with open(os.path.join(BUILD, "gen.log"), "w") as fh:
        rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"), d, SF],
                            stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        die("table generation failed")
    open(os.path.join(d, ".done"), "w").close()
    return d, True


def jvm(workload, seed, seconds, trace, data, work, limit):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(os.cpu_count()), "--data", data,
            "--prior", PRIOR, "--work", work, "--result", result]
    log = os.path.join(OUT, f"{workload}.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            die(f"{workload} did not finish within {limit:.0f} s")
    if rc != 0 or not os.path.exists(result):
        die(f"{workload} failed (exit {rc}):\n{tail(log)}")
    with open(result) as fh:
        return json.load(fh)


def load_compare():
    spec = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prepare(data, limit):
    """Once per checkout: the catch-up's prior output, and the registry
    fingerprints, vouched for by the DuckDB oracle (SparkEntry.oracleSql
    under tools/compare.py's normalisation)."""
    path = os.path.join(BUILD, "registry_expected.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh), False
    shutil.rmtree(PRIOR, ignore_errors=True)
    work = os.path.join(BUILD, "prepare")
    res = jvm("prepare", 0, 0, 0, data, work, limit)
    check_dir = os.path.join(work, "check")
    with contextlib.redirect_stdout(sys.stderr):
        rc = load_compare().main(data, check_dir)
    if rc != 0:
        die("the registry set disagrees with the DuckDB oracle")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    exp = {}
    for key, fp in res["info"].items():
        if key.startswith("fp.check."):
            q = key[len("fp.check."):]
            # without an oracle only the row count is vouched for
            exp[q] = fp if q in oracle else fp.split(":")[0]
    with open(path, "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    return exp, True


def check_fingerprints(res, exp):
    bad = []
    for key, fp in res["info"].items():
        if key.startswith("fp."):
            q = key.split(".", 2)[2]
            want = exp.get(q)
            got = fp if want is None or ":" in want else fp.split(":")[0]
            if got != want:
                bad.append(f"{key}: {fp}, expected {want}")
    res["failed"] += len(bad)
    res["notes"] += [f"fingerprint mismatch {b}" for b in bad]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(workload, seed, trace, res, correct):
    p = lambda s="": print(s, flush=True)
    p(f"== perfbench {workload} seed={seed} trace={trace} "
      f"({res['info'].get('cores')} cores, heap {res['info'].get('max_heap_mb')} MB, "
      f"Spark {res['info'].get('spark')}) ==")
    err = res["failed"] / max(1, res["attempted"])
    p("-- end to end --")
    for k, m in res["e2e"].items():
        p(f"  {k:<34} {fmt(m['value']):>14} {m['unit']}")
    p(f"  {'error_rate':<34} {fmt(err):>14} ratio ({res['failed']} of {res['attempted']} failed)")
    for k, v in res["info"].items():
        if not k.startswith("fp."):
            p(f"  {k:<34} {v}")
    if trace:
        p("-- per layer --")
        for k, m in res["layers"].items():
            p(f"  {k:<48} {fmt(m['value']):>14} {m['unit']}")
        base = os.path.join(OUT, f"untraced-{workload}.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)
            p("-- tracing overhead (this traced run minus the last untraced run) --")
            for k, m in res["e2e"].items():
                if k in untraced:
                    d = m["value"] - untraced[k]
                    p(f"  {k:<34} {fmt(d):>14} {m['unit']} ({100 * d / untraced[k]:+.1f}%)")
    elif correct:
        with open(os.path.join(OUT, f"untraced-{workload}.json"), "w") as fh:
            json.dump({k: m["value"] for k, m in res["e2e"].items()}, fh)
    for n in res["notes"]:
        p(f"  ! {n}")
    if res["invalid"]:
        p(f"  ! invalid run: {res['invalid']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala", "tools/gen_sf.py", "tools/compare.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    os.makedirs(OUT, exist_ok=True)
    first = build()
    data, generated = tables()
    exp, prepared = prepare(data, FIRST_RUN_LIMIT_S - (time.time() - T_START))
    deadline = T_START + (FIRST_RUN_LIMIT_S if first or generated or prepared else RUN_LIMIT_S)
    work = os.path.join(OUT, "run")
    res = jvm(a.workload, a.seed, a.seconds, a.trace, data, work, deadline - time.time())
    if res["invalid"]:
        # an open-loop run whose generator lagged is not measured: run again
        print(f"perfbench: {res['invalid']}; running again", file=sys.stderr)
        res = jvm(a.workload, a.seed, a.seconds, a.trace, data, work, deadline - time.time())
        if res["invalid"]:
            die(f"invalid run: {res['invalid']}")
    check_fingerprints(res, exp)
    correct = res["failed"] == 0
    report(a.workload, a.seed, a.trace, res, correct)

    s = spec()
    wanted = s["per_layer"] if a.trace else s["end_to_end"]
    have = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        got = have.get(m["name"])
        if got is None and not a.trace:
            die(f"end-to-end metric {m['name']} was not measured")
        # a layer this workload does not exercise reads 0
        metrics[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
