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
shuffle bytes and records are not compared. Ends with a one-line
summary.

Exit status: 0 when every query is identical, 1 on any difference.

Usage: python3 tools/plan_diff.py <parent.json> <change.json>
"""
import json
import sys

FIELDS = ("plan_hash_v2", "exchanges", "broadcasts", "construct_jobs", "jobs",
          "stages")


def load(path):
    with open(path) as f:
        return json.load(f)


def diff(parent, change):
    """Yields one line per query that is not plan-identical."""
    for name in sorted(set(parent) | set(change)):
        if name not in change:
            yield f"{name}: missing from change"
        elif name not in parent:
            yield f"{name}: missing from parent"
        else:
            a, b = parent[name] or {}, change[name] or {}
            for side, meta in (("parent", a), ("change", b)):
                if "plan_hash_v2" not in meta:
                    yield f"{name}: no plan in {side}: {meta.get('error', 'unknown')}"
            moved = [f"{k} {a.get(k)} -> {b.get(k)}" for k in FIELDS
                     if a.get(k) != b.get(k)]
            if moved and "plan_hash_v2" in a and "plan_hash_v2" in b:
                yield f"{name}: " + ", ".join(moved)


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    parent, change = load(argv[1]), load(argv[2])
    lines = list(diff(parent, change))
    for line in lines:
        print(line)
    names = set(parent) | set(change)
    bad = {line.split(":", 1)[0] for line in lines}
    print(f"{len(names) - len(bad)}/{len(names)} queries identical")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
