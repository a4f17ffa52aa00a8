#!/usr/bin/env python3
"""Compare two `graft.ExplainQuery` dumps after normalizing what changes
from run to run but not with the plan.

    python3 tools/plan_diff.py before.txt after.txt

Normalized: expression ids (`#123`, `#123L`), whole-stage codegen ids
(`*(3)`, `[codegen id : 3]`), AQE stage numbers (`QueryStage 5`),
`Arguments: n`, exchange `plan_id`s, RDD ids (`MapPartitionsRDD[239]`),
silver table names (`graft_silver_<run id>...`), the warehouse directory,
and sbt's own `[info]`/`[success]` lines. Prints a unified diff of what
remains and exits 1 if anything does, 0 otherwise.
"""
import difflib
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"Arguments: \d+\b"), "Arguments: N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"graft_silver_\w*(\.\.\.)?"), "graft_silver_T"),
    (re.compile(r"file:[^\s\],]*/spark-warehouse/"), "WAREHOUSE/"),
]
SBT_LINE = re.compile(r"^\[(info|success|warn|error)\]")


def normalize(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if SBT_LINE.match(line):
                continue
            line = line.rstrip("\n")
            for rx, repl in RULES:
                line = rx.sub(repl, line)
            out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: plan_diff.py <before dump> <after dump>")
    before, after = normalize(argv[1]), normalize(argv[2])
    diff = list(difflib.unified_diff(before, after, argv[1], argv[2],
                                     lineterm="", n=1))
    if diff:
        print("\n".join(diff))
        print(f"plan_diff: DIFFERENT ({len(before)} vs {len(after)} lines)")
        return 1
    print(f"plan_diff: identical ({len(before)} normalized lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
