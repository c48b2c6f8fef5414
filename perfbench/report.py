"""Turns the harness's raw run record into metrics and verdicts.

End-to-end metrics (untraced runs), per workload kind:
  batch  - wall_s / cpu_s: median over timed rounds of one round's wall
           and process CPU seconds; latency_p50_ms: median query latency.
  stream - wall_s / cpu_s: median wall and process CPU seconds of one
           closed-loop micro-batch (landing to sink return); latency_*:
           scheduled landing of an open-loop slice to the return of its
           micro-batch's sink.
Layer metrics (traced runs) are per round for batch workloads and per
micro-batch for the stream; a layer a workload never enters is n/a.
"""
import collections
import datetime as dt
import os
import statistics

import metrics as M

NA = None

# name -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "catalyst.analyze_ms": "ms", "catalyst.optimize_ms": "ms",
    "catalyst.physical_ms": "ms", "catalyst.exchanges": "count",
    "catalyst.broadcasts": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.no_task_ms": "ms",
    "scheduler.per_job_overhead_ms": "ms",
    "tasks.run_ms": "ms", "tasks.cpu_ms": "ms", "tasks.deser_ms": "ms",
    "tasks.busy_ms": "ms", "tasks.util": "ratio", "tasks.skew_max": "ratio",
    "shuffle.write_records": "count", "shuffle.write_bytes": "bytes",
    "shuffle.write_ms": "ms", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "memory.gc_ms": "ms", "memory.spill_bytes": "bytes",
    "memory.peak_heap_mb": "MB", "memory.peak_rss_mb": "MB",
    "store.fs_write_ops": "count", "store.fs_read_ops": "count",
    "store.fs_bytes_written": "bytes", "store.fs_bytes_read": "bytes",
    "store.files": "count", "store.bytes": "bytes", "store.write_amp": "ratio",
    **{f"microbatch.{p}_{q}": "ms" for p in (
        "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
        "wal_commit_ms", "commit_offsets_ms", "trigger_ms") for q in ("p50", "p90")},
    "microbatch.jobs_per_batch": "count", "microbatch.rows_per_batch": "rows",
    "state.rows_total": "rows", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms", "state.update_ms": "ms",
    "gen.late_ms_p50": "ms", "gen.late_ms_max": "ms", "gen.write_ms": "ms",
}

CATALYST_PHASES = {"analyze_ms": "analysis", "optimize_ms": "optimization",
                   "physical_ms": "planning"}

PROGRESS_KEYS = {
    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution"}

# task_log columns (Recorder.onTaskEnd)
(T_STAGE, T_LAUNCH, T_FINISH, T_RUN, T_CPU_NS, T_DESER, T_GC, T_SW_REC,
 T_SW_BYTES, T_SW_NS, T_SR_BYTES, T_FETCH_WAIT, T_SPILL) = range(13)
# job_log columns (Recorder.onJobStart)
J_ID, J_SUBMIT, J_BATCH = range(3)


# peak RSS moved 10-15 % between runs of the same code, so it is a layer
# metric (memory.peak_rss_mb), printed here for every run
RSS_NOTE = "peak_rss_mb = {:.1f} MB (n=1; gated as a layer metric only)"


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else NA


def oracle_mismatches(data_dir: str, oracle: dict, results: dict) -> dict:
    """query -> reason, for every query whose first-round result differs
    from its DuckDB oracle on the same generated tables (column names,
    row count, dtypes and every value, as the engine's oracle gate)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    bad = {}
    for name, sql in oracle.items():
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        if name not in results:
            bad[name] = "no result"
            continue
        try:
            want = con.execute(sql).fetchdf()
            got = con.execute(f"SELECT * FROM '{results[name]}/*.parquet'").fetchdf()
            want = want[sorted(want.columns)].reset_index(drop=True)
            got = got[sorted(got.columns)].reset_index(drop=True)
            if list(want.columns) != list(got.columns):
                bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(want) != len(got):
                bad[name] = f"rows {len(got)} != {len(want)}"
            else:
                pd.testing.assert_frame_equal(got, want, check_dtype=True,
                                              check_exact=True)
        except Exception as e:  # any failure of the compare is a mismatch
            bad[name] = str(e)[:300]
    return bad


def work_counts(op):
    """(jobs, shuffle-write records, files written, bytes written)."""
    return (op["jobs"], op["shuffle_write_records"], op["files_written"], op["fs"][1])


def evaluate(raw: dict, t0: float, slices, data_dir: str) -> dict:
    if raw["kind"] == "batch":
        return _batch(raw, t0, data_dir)
    return _stream(raw, t0, slices)


def _task_sums(tasks):
    """Task-level sums of one operation or micro-batch."""
    by_stage = collections.defaultdict(list)
    for t in tasks:
        by_stage[t[T_STAGE]].append(t[T_FINISH] - t[T_LAUNCH])
    return {
        "tasks": len(tasks),
        "run_ms": sum(t[T_RUN] for t in tasks),
        "cpu_ms": sum(t[T_CPU_NS] for t in tasks) / 1e6,
        "deser_ms": sum(t[T_DESER] for t in tasks),
        "skew_max": max([M.skew(d) for d in by_stage.values() if len(d) > 1], default=1.0),
        "shuffle_write_bytes": sum(t[T_SW_BYTES] for t in tasks),
        "shuffle_write_ms": sum(t[T_SW_NS] for t in tasks) / 1e6,
        "shuffle_read_bytes": sum(t[T_SR_BYTES] for t in tasks),
        "fetch_wait_ms": sum(t[T_FETCH_WAIT] for t in tasks),
        "spill_bytes": sum(t[T_SPILL] for t in tasks),
    }


def _window(tasks, lo, hi):
    """Busy (union of task intervals), no-task and summed task time
    inside the window [lo, hi]."""
    busy, idle = M.busy_and_idle([(t[T_LAUNCH], t[T_FINISH]) for t in tasks], lo, hi)
    task_time = sum(max(0, min(t[T_FINISH], hi) - max(t[T_LAUNCH], lo)) for t in tasks)
    return {"busy_ms": busy, "no_task_ms": idle, "task_time_ms": task_time}


# ---------------------------------------------------------------- batch

def _op_layers(op):
    """Per-query spans and counts of one traced operation."""
    sp = op["spans"]
    tasks = op.get("task_log", [])
    jobs = op.get("job_log", [])
    ex_lo = sp["to_rdd"]["start_ms"]
    ex_hi = sp["collect"]["end_ms"]
    return {
        "wall_ms": op["wall_ms"],
        "build_ms": sp["build"]["ms"], "analyze_call_ms": sp["analyze"]["ms"],
        "optimize_call_ms": sp["optimize"]["ms"], "physical_call_ms": sp["physical"]["ms"],
        # Catalyst's own phase timings: they may lie inside the build call
        **{k: op["phases"].get(ph, {}).get("ms", 0) for k, ph in CATALYST_PHASES.items()},
        "exec_ms": sp["to_rdd"]["ms"] + sp["collect"]["ms"],
        "exec_wall_ms": ex_hi - ex_lo, **_window(tasks, ex_lo, ex_hi),
        "jobs": op["jobs"],
        "exec_jobs": sum(1 for j in jobs if ex_lo <= j[J_SUBMIT] <= ex_hi),
        "build_jobs": sum(1 for j in jobs if j[J_SUBMIT] <= sp["build"]["end_ms"]),
        "stages": op["stages"], **_task_sums(tasks),
        "shuffle_write_records": op["shuffle_write_records"],
        "gc_ms": op["gc_ms"], "heap_peak_mb": op["heap_peak_bytes"] / 2**20,
        "exchanges": op["exchanges"], "broadcasts": op["broadcasts"],
        "fs_write_ops": op["files_written"],
        "fs_bytes_read": op["fs"][0], "fs_bytes_written": op["fs"][1],
        "store_files": op["store_files"], "store_bytes": op["store_bytes"],
    }


def _round_layers(ops, nproc):
    s = lambda k: sum(o[k] for o in ops)  # noqa: E731
    exec_wall = s("exec_wall_ms")
    store_bytes = max(o["store_bytes"] for o in ops)
    return {
        "queries.build_ms": s("build_ms"), "queries.build_jobs": s("build_jobs"),
        "catalyst.analyze_ms": s("analyze_ms"), "catalyst.optimize_ms": s("optimize_ms"),
        "catalyst.physical_ms": s("physical_ms"), "catalyst.exchanges": s("exchanges"),
        "catalyst.broadcasts": s("broadcasts"),
        "scheduler.jobs": s("jobs"), "scheduler.stages": s("stages"),
        "scheduler.tasks": s("tasks"), "scheduler.no_task_ms": s("no_task_ms"),
        "scheduler.per_job_overhead_ms":
            s("no_task_ms") / s("exec_jobs") if s("exec_jobs") else NA,
        "tasks.run_ms": s("run_ms"), "tasks.cpu_ms": s("cpu_ms"),
        "tasks.deser_ms": s("deser_ms"), "tasks.busy_ms": s("busy_ms"),
        "tasks.util": s("task_time_ms") / (nproc * exec_wall) if exec_wall else NA,
        "tasks.skew_max": max(o["skew_max"] for o in ops),
        "shuffle.write_records": s("shuffle_write_records"),
        "shuffle.write_bytes": s("shuffle_write_bytes"),
        "shuffle.write_ms": s("shuffle_write_ms"),
        "shuffle.read_bytes": s("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": s("fetch_wait_ms"),
        "memory.gc_ms": s("gc_ms"), "memory.spill_bytes": s("spill_bytes"),
        "memory.peak_heap_mb": max(o["heap_peak_mb"] for o in ops),
        "store.fs_write_ops": s("fs_write_ops"), "store.fs_read_ops": NA,
        "store.fs_bytes_written": s("fs_bytes_written"),
        "store.fs_bytes_read": s("fs_bytes_read"),
        "store.files": max(o["store_files"] for o in ops), "store.bytes": store_bytes,
        "store.write_amp": s("fs_bytes_written") / store_bytes if store_bytes else NA,
    }


def _batch(raw, t0, data_dir):
    rounds = raw["rounds"]
    timed = [op for r in rounds for op in r["ops"]]
    notes = []
    bad_oracle = oracle_mismatches(data_dir, raw["oracle"], raw["results"])
    for q, why in sorted(bad_oracle.items()):
        notes.append(f"ORACLE MISMATCH {q}: {why}")
    # work-equivalence guard: every round, warm-up included, must repeat
    # the first round's shuffle-write records, files written and bytes
    # written exactly; a changed job count alone is reported but is not a
    # failure, since adaptive execution may add or fold a job without
    # changing the work
    all_ops = [op for r in raw["warm_rounds"] + rounds for op in r["ops"]]
    first = {}
    for op in all_ops:
        first.setdefault(op["query"], work_counts(op))
    drifted, jobs_moved = set(), set()
    for op in all_ops:
        c, f = work_counts(op), first[op["query"]]
        if c[1:] != f[1:]:
            drifted.add(op["query"])
        elif c != f:
            jobs_moved.add(op["query"])
    for q in sorted(drifted | jobs_moved):
        seen = sorted({work_counts(op) for op in all_ops if op["query"] == q})
        kind = "WORK DRIFT" if q in drifted else "JOB COUNT MOVED"
        notes.append(f"{kind} {q}: (jobs, shuffle records, files written, bytes written) {seen}")
    failed_ops = [op for op in timed if not op["ok"] or op["query"] in bad_oracle
                  or work_counts(op)[1:] != first[op["query"]][1:]]
    for op in failed_ops:
        if op.get("error"):
            notes.append(f"FAILED {op['query']} round {op['round']}: {op['error'][:200]}")
    warm_bad = [op for r in raw["warm_rounds"] for op in r["ops"] if not op["ok"]]
    notes.append(RSS_NOTE.format(raw["peak_rss_kb"] / 1024))
    attempted, failed = len(timed), len(failed_ops)
    lat = [op["wall_ms"] for op in timed]
    e2e = {
        "latency_p50_ms": metric(M.percentile(lat, 0.5), "ms", len(lat)),
        "wall_s": metric(median(r["wall_s"] for r in rounds), "s", len(rounds)),
        "cpu_s": metric(median(r["cpu_s"] for r in rounds), "s", len(rounds)),
        "setup_s": metric(raw["timed_start_ms"] / 1000 - t0, "s", 1),
    }
    counts = {q: dict(zip(("jobs", "shuffle_write_records", "files_written", "bytes_written"), c))
              for q, c in sorted(first.items())}
    record = {"workload_kind": "batch", "rounds": len(rounds),
              "e2e": e2e, "work_counts": counts, "work_drift": sorted(drifted),
              "job_count_moved": sorted(jobs_moved),
              "oracle_mismatches": bad_oracle,
              "round_walls_s": [r["wall_s"] for r in rounds],
              "round_cpus_s": [r["cpu_s"] for r in rounds],
              "warm_walls_s": [r["wall_s"] for r in raw["warm_rounds"]],
              "op_walls_ms": {q: [op["wall_ms"] for op in all_ops if op["query"] == q]
                              for q in sorted(first)}}
    layer = {}
    if raw["trace"]:
        nproc = raw["env"]["nproc"]
        per_round = [[_op_layers(op) for op in r["ops"]] for r in rounds]
        sums = [_round_layers(ops, nproc) for ops in per_round]
        for k, unit in LAYER_UNITS.items():
            vals = [s.get(k) for s in sums]
            v = median(vals) if k in sums[0] else NA
            layer[k] = metric(v, unit, len(rounds) if v is not None else 0)
        layer["memory.peak_rss_mb"] = metric(raw["peak_rss_kb"] / 1024, "MB", 1)
        per_query = collections.defaultdict(list)
        for ops, r in zip(per_round, rounds):
            for lo, op in zip(ops, r["ops"]):
                per_query[op["query"]].append(lo)
        record["per_query"] = {
            q: {k: median(o[k] for o in os_) for k in os_[0]}
            for q, os_ in sorted(per_query.items())}
        record["per_op"] = [dict(o, query=op["query"], round=op["round"])
                            for ops, r in zip(per_round, rounds)
                            for o, op in zip(ops, r["ops"])]
        if raw.get("local1_round"):
            l1 = raw["local1_round"]
            record["local1"] = {"wall_s": l1["wall_s"],
                                "speedup": l1["wall_s"] / e2e["wall_s"]["value"]}
    return _finish(e2e, layer, record, notes, attempted, failed,
                   extra_ok=not bad_oracle and not warm_bad and not drifted)


# ---------------------------------------------------------------- stream

def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


def _stream(raw, t0, slices):
    import gen
    main = raw["main"]
    warm, n_open, closed = raw["warm"], raw["open"], raw["closed"]
    n = warm + n_open + closed
    notes = []
    if main["error"]:
        notes.append(f"STREAM ERROR: {main['error']}")
    ret = {b["batch"]: b for b in main["batches"]}
    expected = gen.expected_join(slices)
    bad = [b for b in range(n) if b not in ret or
           collections.Counter(map(tuple, ret[b]["rows"])) != collections.Counter(expected[b])]
    for b in bad[:10]:
        notes.append(f"BATCH MISMATCH {b}: got {len(ret[b]['rows']) if b in ret else 'nothing'}"
                     f", want {len(expected[b])} rows")
    emitted = collections.Counter(tuple(r) for b in ret.values() for r in b["rows"])
    batch_rows = raw.get("batch_rows")
    batch_ok = batch_rows is not None and emitted == collections.Counter(map(tuple, batch_rows))
    if not batch_ok:
        notes.append("STREAM/BATCH MISMATCH: the stream's emitted multiset differs from "
                     f"Stedi.pipeline run as a batch ({raw.get('batch_error')})")
    sched = main["scheduled_ms"]
    lat = [ret[s]["return_ms"] - sched[s] for s in range(warm, warm + n_open) if s in ret]
    # closed loop: a slice lands when the previous batch has returned, so
    # each slice's landing-to-return time and CPU is one batch's alone
    closed_ix = [s for s in range(warm + n_open, n) if s in ret]
    walls = [(ret[s]["return_ms"] - sched[s]) / 1000 for s in closed_ix]
    cpus = [(main["cpu_returned_ns"][s] - main["cpu_landed_ns"][s]) / 1e9 for s in closed_ix]
    wall = median(walls)
    rows_per_slice = gen.SLICE_CUSTOMERS + gen.SLICE_EVENTS
    e2e = {
        "latency_p50_ms": metric(M.percentile(lat, 0.5), "ms", len(lat)),
        "wall_s": metric(wall, "s", len(walls)),
        "cpu_s": metric(median(cpus), "s", len(cpus)),
        "setup_s": metric(sched[warm] / 1000 - t0, "s", 1),
    }
    extra = {
        "latency_p90_ms": metric(M.percentile(lat, 0.9), "ms", len(lat)),
        "capacity_rows_s": metric(rows_per_slice / wall if wall else NA,
                                  "rows/s", len(walls)),
    }
    notes.append(RSS_NOTE.format(raw["peak_rss_kb"] / 1024))
    for k, m in extra.items():
        notes.append(f"{k} = {m['value']} {m['unit']} (n={m['n']})")
    timed = set(range(warm, n))
    failed = len([b for b in bad if b in timed])
    record = {"workload_kind": "stream", "e2e": e2e, "stream_only": extra,
              "batch_mismatches": bad, "stream_batch_equal": batch_ok,
              "slice_latency_ms": lat, "closed_walls_s": walls, "closed_cpus_s": cpus,
              "work_counts": {"jobs": main["jobs"],
                              "shuffle_write_records": main["shuffle_write_records"],
                              "files_written": main["files_written"]}}
    layer = {}
    if raw["trace"]:
        layer = _stream_layers(raw, main, warm, n_open, record)
    return _finish(e2e, layer, record, notes, len(timed), failed,
                   extra_ok=batch_ok and not bad)


def _stream_layers(raw, main, warm, n_open, record):
    prog = [p for p in main["progress"] if p["batch"] >= warm]
    nb = len(prog)
    out = {}
    for k, key in PROGRESS_KEYS.items():
        vals = [p["duration_ms"].get(key, 0) for p in prog]
        out[f"microbatch.{k}_p50"] = M.percentile(vals, 0.5)
        out[f"microbatch.{k}_p90"] = M.percentile(vals, 0.9)
    jobs_by_batch = collections.Counter(j[J_BATCH] for j in main.get("job_log", [])
                                        if j[J_BATCH] >= warm)
    out["microbatch.jobs_per_batch"] = median(jobs_by_batch.values())
    out["microbatch.rows_per_batch"] = median(p["input_rows"] for p in prog)
    out["state.rows_total"] = prog[-1]["state_rows"] if prog else NA
    out["state.memory_bytes"] = prog[-1]["state_bytes"] if prog else NA
    out["state.commit_ms"] = median(p["state_commit_ms"] for p in prog)
    out["state.update_ms"] = median(p["state_update_ms"] for p in prog)
    sched, landed = main["scheduled_ms"], main["landed_ms"]
    late = [landed[s] - sched[s] for s in range(warm, warm + n_open)]
    out["gen.late_ms_p50"] = M.percentile(late, 0.5)
    out["gen.late_ms_max"] = max(late)
    out["gen.write_ms"] = median(x / 1e6 for x in main["move_ns"])
    # scheduler / task / shuffle layers per micro-batch window
    tasks = main.get("task_log", [])
    nproc = raw["env"]["nproc"]
    per_batch = []
    for p in prog:
        lo = _iso_ms(p["timestamp"])
        hi = lo + p["duration_ms"].get("triggerExecution", 0)
        ts = [t for t in tasks if lo <= t[T_LAUNCH] <= hi]
        jobs = jobs_by_batch.get(p["batch"], 0)
        b = {"batch": p["batch"], "trigger_ms": hi - lo, **_window(ts, lo, hi),
             "jobs": jobs, "stages": len({t[T_STAGE] for t in ts}), **_task_sums(ts),
             "shuffle_write_records": sum(t[T_SW_REC] for t in ts),
             "gc_ms": sum(t[T_GC] for t in ts), "state_rows": p["state_rows"],
             **{k: p["duration_ms"].get(v, 0) for k, v in PROGRESS_KEYS.items()}}
        b["per_job_overhead_ms"] = b["no_task_ms"] / jobs if jobs else None
        b["util"] = b["task_time_ms"] / (nproc * (hi - lo)) if hi > lo else None
        per_batch.append(b)
    pb = lambda k: median(b[k] for b in per_batch)  # noqa: E731
    out.update({
        "scheduler.jobs": pb("jobs"), "scheduler.stages": pb("stages"),
        "scheduler.tasks": pb("tasks"), "scheduler.no_task_ms": pb("no_task_ms"),
        "scheduler.per_job_overhead_ms": pb("per_job_overhead_ms"),
        "tasks.run_ms": pb("run_ms"), "tasks.cpu_ms": pb("cpu_ms"),
        "tasks.deser_ms": pb("deser_ms"), "tasks.busy_ms": pb("busy_ms"),
        "tasks.util": pb("util"), "tasks.skew_max": pb("skew_max"),
        "shuffle.write_records": pb("shuffle_write_records"),
        "shuffle.write_bytes": pb("shuffle_write_bytes"),
        "shuffle.write_ms": pb("shuffle_write_ms"),
        "shuffle.read_bytes": pb("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": pb("fetch_wait_ms"),
        "memory.gc_ms": pb("gc_ms"), "memory.spill_bytes": pb("spill_bytes"),
        "memory.peak_heap_mb": main["heap_peak_bytes"] / 2**20,
        "memory.peak_rss_mb": raw["peak_rss_kb"] / 1024,
        "store.fs_write_ops": main["files_written"] / nb, "store.fs_read_ops": NA,
        "store.fs_bytes_written": main["fs"][1] / nb, "store.fs_bytes_read": main["fs"][0] / nb,
        "store.files": main["ckpt_files"], "store.bytes": main["ckpt_bytes"],
        "store.write_amp": main["fs"][1] / main["ckpt_bytes"] if main["ckpt_bytes"] else NA,
    })
    record["per_batch"] = per_batch
    if raw.get("local1_round"):
        l1, np_ = raw["local1_round"]["wall_s"], raw["nproc_round"]["wall_s"]
        record["local1"] = {"wall_s": l1, "nproc_wall_s": np_, "speedup": l1 / np_}
    return {k: metric(out.get(k), u, nb if out.get(k) is not None else 0)
            for k, u in LAYER_UNITS.items()}


def _finish(e2e, layer, record, notes, attempted, failed, extra_ok):
    for k, m in layer.items():
        if m["value"] is None:
            m["value"], m["na"] = 0, True
    record["layer"] = layer
    ratio = M.fail_ratio(attempted, failed)
    e2e_ok = all(m["value"] is not None for m in e2e.values())
    correct = failed == 0 and extra_ok and e2e_ok
    record.update(attempted=attempted, failed=failed, fail_ratio=ratio,
                  correct=correct, notes=notes)
    for m in e2e.values():
        if m["value"] is None:
            m["value"] = 0
    return {"e2e": e2e, "layer": layer, "record": record, "notes": notes,
            "correct": correct, "attempted": attempted, "failed": failed,
            "fail_ratio": ratio}
