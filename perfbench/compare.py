#!/usr/bin/env python3
"""Compare two run records of the same workload (perfbench/out/*.json).

    python3 perfbench/compare.py BEFORE.json AFTER.json

Refuses, with exit code 2, to compare records taken with a different
thread count, shuffle partition count or driver heap: times and even
record counts (partial aggregation depends on the partition count) are
not comparable across them.
"""
import json
import sys

MUST_MATCH = ("workload", "nproc", "spark_graft_cpus", "shuffle_partitions",
              "driver_heap_mb")


def main(a_path: str, b_path: str) -> int:
    with open(a_path) as fa, open(b_path) as fb:
        a, b = json.load(fa), json.load(fb)
    diff = [(k, a["env"].get(k), b["env"].get(k)) for k in MUST_MATCH
            if a["env"].get(k) != b["env"].get(k)]
    if diff:
        for k, x, y in diff:
            print(f"REFUSED: {k} differs: {x} vs {y}", file=sys.stderr)
        return 2
    for k in ("spark_version", "java_version", "git_commit", "seed"):
        print(f"{k}: {a['env'].get(k)} -> {b['env'].get(k)}")
    for name, m in a["e2e"].items():
        x, y = m["value"], b["e2e"][name]["value"]
        pct = f"{100 * (y - x) / x:+.1f}%" if x else "n/a"
        print(f"{name}: {x:.6g} -> {y:.6g} {m['unit']} ({pct})")
    wa, wb = a.get("work_counts", {}), b.get("work_counts", {})
    for q in sorted(set(wa) | set(wb)):
        if wa.get(q) != wb.get(q):
            print(f"work counts {q}: {wa.get(q)} -> {wb.get(q)}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
