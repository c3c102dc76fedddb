#!/usr/bin/env python3
"""Plan-identity check between two graft.Bench plan-meta files.

Reads two ``bench_plan_meta.json`` files (written by ``graft.Bench`` to
``SPARK_GRAFT_PLAN_META``), typically one from the parent commit and one
from a change, and prints every query whose ``plan_hash_v2``,
``exchanges``, ``broadcasts``, ``construct_jobs``, ``jobs`` or
``stages`` differ, that is missing from one side, or that has no plan
on a side (its planning failed; the ``error`` field says why). The job
and stage counts are exact integers of a deterministic plan, and
``construct_jobs`` is 0 for every query whose construction only plans;
shuffle bytes and records are not compared. When ``plan_hash_v2``
moved and both sides carry the ``plan`` text it is the md5 of, the
query's line is followed by a zero-context unified diff of the two
texts, at most 40 lines of it. Ends with a one-line summary.

Exit status: 0 when every query is identical, 1 on any difference.

Usage: python3 tools/plan_diff.py <parent.json> <change.json>
"""
import difflib
import json
import sys

FIELDS = ("plan_hash_v2", "exchanges", "broadcasts", "construct_jobs", "jobs",
          "stages")
MAX_PLAN_LINES = 40


def load(path):
    with open(path) as f:
        return json.load(f)


def plan_lines(name, a, b):
    """The zero-context unified diff of two plan texts, capped."""
    d = list(difflib.unified_diff(a.splitlines(), b.splitlines(),
                                  f"{name} (parent)", f"{name} (change)",
                                  lineterm="", n=0))
    more = len(d) - MAX_PLAN_LINES
    return d[:MAX_PLAN_LINES] + ([f"\u2026 {more} more lines"] if more > 0 else [])


def diff(parent, change):
    """Yields (query, lines) for each query that is not plan-identical."""
    for name in sorted(set(parent) | set(change)):
        if name not in change:
            yield name, [f"{name}: missing from change"]
        elif name not in parent:
            yield name, [f"{name}: missing from parent"]
        else:
            a, b = parent[name] or {}, change[name] or {}
            lines = [f"{name}: no plan in {side}: {meta.get('error', 'unknown')}"
                     for side, meta in (("parent", a), ("change", b))
                     if "plan_hash_v2" not in meta]
            moved = [f"{k} {a.get(k)} -> {b.get(k)}" for k in FIELDS
                     if a.get(k) != b.get(k)]
            if moved and not lines:
                lines.append(f"{name}: " + ", ".join(moved))
                if a["plan_hash_v2"] != b["plan_hash_v2"] and "plan" in a and "plan" in b:
                    lines += plan_lines(name, a["plan"], b["plan"])
            if lines:
                yield name, lines


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    parent, change = load(argv[1]), load(argv[2])
    bad = list(diff(parent, change))
    for _, lines in bad:
        print("\n".join(lines))
    names = set(parent) | set(change)
    print(f"{len(names) - len(bad)}/{len(names)} queries identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
