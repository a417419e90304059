#!/usr/bin/env python3
"""Registry plan-identity gate: compare two `graft.Explain` dumps.

Usage:
    python3 tools/plan_diff.py A.explain B.explain

Each dump is the stdout of `graft.Explain <sf dir>` (one
`========== <name> ==========` section per registered query). Both
dumps are split per query and normalised, then every query whose plan
differs (or that only one dump has) is printed, followed by its first
differing lines; the exit status is 1 when any query differs.

Normalisation:
  - expression ids `#<n>` -> `#N`, exchange ids `plan_id=<n>` -> `plan_id=N`;
  - `<X>RDD[<n>] at <op> at <File>.scala:<line>` -> `RDD` (the RDD ids
    and call sites of checkpointed inputs, which move with the code).

The RUN_DEPENDENT queries plan an `Expand` for several distinct
aggregates whose column order differs from run to run of one build, so
they are compared on their operator lines only: the plan tree and the
`(n) <Operator>` headers, without the Arguments/Input/Keys/Results/...
detail lines.
"""
import difflib
import re
import sys

RUN_DEPENDENT = {"corpus_dataset_card", "dedup_normalization_curve", "profile_events"}
SHOW = 6  # differing lines printed per query

SECTION = re.compile(r"^========== (\S+) ==========$", re.M)
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
RDD = re.compile(r"\w*RDD\[\d+\] at \w+ at \w+\.scala:\d+")
DETAIL = re.compile(r"^[A-Za-z][A-Za-z ]*(?: \[\d+\])? ?: ")


def sections(path):
    text = open(path, encoding="utf-8").read()
    parts = SECTION.split(text)
    # parts = [preamble, name1, body1, name2, body2, ...]
    return {parts[i]: parts[i + 1] for i in range(1, len(parts), 2)}


def normalise(name, body):
    body = RDD.sub("RDD", PLAN_ID.sub("plan_id=N", EXPR_ID.sub("#N", body)))
    lines = [l.rstrip() for l in body.strip("\n").split("\n")]
    if name in RUN_DEPENDENT:
        lines = [l for l in lines if not DETAIL.match(l)]
    return lines


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    a, b = sections(argv[0]), sections(argv[1])
    names = set(a) | set(b)
    differ = []
    for name in sorted(names):
        if name not in a or name not in b:
            differ.append(name)
            print(f"DIFF {name}: only in {argv[0] if name in a else argv[1]}")
            continue
        la, lb = normalise(name, a[name]), normalise(name, b[name])
        if la != lb:
            differ.append(name)
            print(f"DIFF {name}")
            d = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
                 if l[:1] in "+-" and l[:3] not in ("---", "+++")]
            for l in d[:SHOW]:
                print("    " + l[:200])
    print(f"== {len(names) - len(differ)} identical, {len(differ)} differ "
          f"({len(RUN_DEPENDENT & names)} compared on operator lines) ==")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
