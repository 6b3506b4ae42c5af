#!/usr/bin/env python3
"""Plan-identity check for refactors: diff two `graft.Explain` logs.

Usage: python3 scripts/plan_diff.py <before.log> <after.log> [query ...]

Each log is the sbt output of
  sbt -batch "runMain graft.Explain <sfDir> q1 q2 ..."
run on the two trees being compared. Expression ids (`#123`), operand
counts (`[7]`), RDD ids, plan ids and exchange ids differ between any
two runs, and a checkpoint's call-site line moves with any edit above
it, so all of them are normalized away; every other character of the
formatted physical plan must match. Prints the identical/differing query names and
the unified diff of each differing query named on the command line (all
of them when none is named). Exits 1 when any query differs.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[\d+\]"), "[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#\d+\]"), "[id=N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
]


def plans(path):
    out, cur = {}, None
    for line in open(path, encoding="utf-8"):
        line = line.rstrip("\n")
        if not line.startswith("[info]"):
            continue
        line = line[7:] if line.startswith("[info] ") else line[6:]
        m = HEADER.match(line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur is not None:
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
            out[cur].append(line)
    return out


def main(before, after, shown):
    a, b = plans(before), plans(after)
    same = sorted(k for k in set(a) | set(b) if a.get(k) == b.get(k))
    diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    for k in diff:
        if not shown or k in shown:
            print(f"--- {k}")
            print("\n".join(difflib.unified_diff(
                a.get(k, []), b.get(k, []), lineterm="", n=1)))
    print(f"identical {len(same)}, differ {len(diff)}: {' '.join(diff)}")
    return 1 if diff else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
