#!/usr/bin/env python3
"""Compare two directories of formatted physical plans, query by query.

The plans are the `.explain("formatted")` dumps that graft.BenchExtra
writes as <query>_<suffix>.txt into $SPARK_GRAFT_PLAN_DIR. Two runs of the
same code differ in ids that Spark hands out per JVM, so both sides are
normalized before the diff:

  - expression ids          lat#11341            -> lat#N
  - exchange plan ids       [plan_id=23955]      -> [plan_id=N]
  - RDD ids                 MapPartitionsRDD[705] -> MapPartitionsRDD[N]
  - lambda-variable counters lambda x_23#11189   -> lambda x_N#N
  - source line numbers     at Docs.scala:191    -> at Docs.scala:N
  - JVM lambda classes      Clustering$$$Lambda$5587/0x7f..@1c39 -> Clustering$$$Lambda

A file is keyed by its name without the trailing _<suffix>.txt, so the two
directories may use different BenchExtra suffixes. Every query present on
one side only, and every query whose normalized plan differs, is reported;
the exit status is 1 if there is any such query and 0 otherwise.

Usage:
    python3 tools/plan_diff.py BEFORE_DIR AFTER_DIR
"""
import argparse
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(\$\$Lambda)[$/\w]*@[0-9a-f]+"), r"\1"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def load(directory):
    plans = {}
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".txt"):
            continue
        stem = name[: -len(".txt")]
        key = stem.rsplit("_", 1)[0] if "_" in stem else stem
        if key in plans:
            sys.exit(f"plan_diff: two files for query {key!r} in {directory}")
        with open(os.path.join(directory, name), encoding="utf-8") as f:
            plans[key] = normalize(f.read())
    return plans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()

    before, after = load(args.before), load(args.after)
    same = bad = 0
    for key in sorted(set(before) | set(after)):
        if key not in after:
            print(f"ONLY-BEFORE {key}")
            bad += 1
        elif key not in before:
            print(f"ONLY-AFTER {key}")
            bad += 1
        elif before[key] != after[key]:
            print(f"DIFF {key}")
            sys.stdout.writelines(difflib.unified_diff(
                before[key].splitlines(keepends=True),
                after[key].splitlines(keepends=True),
                fromfile=f"before/{key}", tofile=f"after/{key}", n=2))
            bad += 1
        else:
            same += 1
    print(f"plans: {same} identical, {bad} different or unmatched")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
