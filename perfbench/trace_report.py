#!/usr/bin/env python3
"""Build the committed trace artifact, perfbench/TRACE.json.

    python3 perfbench/trace_report.py --seed 1 --seconds 16

For each workload it makes one untraced and one traced run with the same
seed, then records the traced per-layer metrics (n/a where a workload
never enters the layer), the per-query (batch) or per-micro-batch
(stream) spans and counts, the tracing overhead (traced minus untraced
wall_s and latency_p50_ms), the local[1] round's speed-up, and the two
accounting checks: build + Catalyst + execution spans against each
query's wall time, and busy + no-task time against the execution wall.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
from run import OUT, WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def checks(traced: dict) -> dict:
    if traced["workload_kind"] == "stream":
        return {"busy_plus_no_task_equals_trigger_wall": all(
            abs(b["busy_ms"] + b["no_task_ms"] - b["trigger_ms"]) < 1e-6
            for b in traced["per_batch"])}
    spans = {}
    for op in traced["per_op"]:
        parts = (op["build_ms"] + op["analyze_ms"] + op["optimize_ms"] +
                 op["physical_ms"] + op["exec_ms"])
        spans[f"{op['query']}#{op['round']}"] = parts / op["wall_ms"]
    return {
        "spans_over_wall": spans,
        "spans_within_5pct": all(abs(r - 1) <= 0.05 for r in spans.values()),
        "busy_plus_no_task_equals_exec_wall": all(
            abs(op["busy_ms"] + op["no_task_ms"] - op["exec_wall_ms"]) < 1e-6
            for op in traced["per_op"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        out["env"] = traced["env"]
        overhead = {k: {"untraced": plain["e2e"][k]["value"],
                        "traced": traced["e2e"][k]["value"],
                        "traced_minus_untraced":
                            traced["e2e"][k]["value"] - plain["e2e"][k]["value"]}
                    for k in ("wall_s", "latency_p50_ms")}
        entry = {
            "correct": plain["correct"] and traced["correct"],
            "fail_ratio": {"untraced": plain["fail_ratio"], "traced": traced["fail_ratio"]},
            "end_to_end_untraced": plain["e2e"],
            "tracing_overhead": overhead,
            "layer": {k: ("n/a" if m.get("na") else m["value"])
                      for k, m in traced["layer"].items()},
            "local1": traced.get("local1"),
            "work_counts": traced["work_counts"],
            "checks": checks(traced),
        }
        if traced["workload_kind"] == "stream":
            entry["stream_only"] = traced["stream_only"]
            entry["per_batch"] = traced["per_batch"]
        else:
            entry["per_query"] = traced["per_query"]
        out["workloads"][w] = entry
    with open(os.path.join(BENCH, "TRACE.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
