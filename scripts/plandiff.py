#!/usr/bin/env python3
"""Compare the formatted physical plans of two `graft.Profile` runs.

    python3 scripts/plandiff.py <dirA> <suffixA> <dirB> <suffixB>

`graft.Profile` writes each query's plan to `<dir>/<query>_<suffix>.txt`,
after a first line of the run's totals (`jobs= checkpoints= stages= tasks=`),
so a query that ran a different number of jobs, checkpoints, stages or tasks
in the two runs differs on that line even when its plan is the same.
Two runs number expression ids (`name#123`), exchange `plan_id`s, RDD ids and
lambda variables (`lambda x_12`, from a JVM-wide counter) differently, so each
is renumbered in order of first appearance before the compare: two plans are
identical when they differ only in those numbers.
Prints each query whose plan differs (or that only one side has), or
"N identical"; exits 1 when any plan differs.
"""
import difflib
import re
import sys
from pathlib import Path

IDS = [re.compile(prefix + r"(\d+)")
       for prefix in (r"(#)", r"(plan_id=)", r"(RDD\[)", r"(lambda [a-z]+_)")]


def canonical(text):
    for pat in IDS:
        seen = {}
        text = pat.sub(lambda m: m.group(1) + seen.setdefault(m.group(2), str(len(seen))), text)
    return text.splitlines()


def plans(directory, suffix):
    tail = f"_{suffix}.txt"
    return {p.name[: -len(tail)]: p for p in Path(directory).glob(f"*{tail}")}


def main(argv):
    if len(argv) != 5:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    a, b = plans(argv[1], argv[2]), plans(argv[3], argv[4])
    differ = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {argv[1] if q in a else argv[3]}")
            differ += 1
            continue
        la, lb = canonical(a[q].read_text()), canonical(b[q].read_text())
        if la != lb:
            differ += 1
            print(f"{q}: plans differ")
            for line in list(difflib.unified_diff(la, lb, lineterm="", n=0))[2:12]:
                print("    " + line[:200])
    same = len(a.keys() | b.keys()) - differ
    print(f"{same} identical" + (f", {differ} differ" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
