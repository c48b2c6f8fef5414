#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload store_lifecycle --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The harness (perfbench/src) is built
together with the engine's sources by perfbench/build.sbt when either
changed. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end metrics with --trace 0 and the per-layer metrics with
--trace 1. A run record with the environment, the per-query work counts
and (traced) every span is kept under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(BENCH, "out")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp.json")

sys.path.insert(0, BENCH)
import gen  # noqa: E402
import report  # noqa: E402

# Why each workload exists is in perfbench/README.md. A batch workload
# times --seconds // round_s whole rounds (at least one): a fixed amount
# of work per run, sized to its usual round time. batch_compute is not
# in BENCHMARK.json (see the README) but runs the same way by hand.
WORKLOADS = {
    "batch_compute": {
        "kind": "batch", "warm": 4, "round_s": 4, "queries": ["q143_triangle_counts"]},
    "store_lifecycle": {
        "kind": "batch", "warm": 3, "round_s": 3, "queries": ["q264_neardedup_store_purge"]},
    # open-loop slices: as many as --seconds holds at one per period
    "stream_stedi": {"kind": "stream", "warm": 8, "closed": 20, "period_ms": 1500},
}

HEAP = "4g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash() -> str:
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), ENGINE_SRC]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build() -> tuple:
    """Compile harness + engine when their sources changed; returns
    (classpath, source hash)."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            st = json.load(fh)
        if st.get("hash") == digest:
            return st["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "perfbench" in ln and "classes" in ln
           and ln.startswith("/")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def other_jvms() -> list:
    """Spark or sbt JVMs running on this host, other than our own."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        exe = cmd.split(" ", 1)[0]
        if exe.endswith("java") and ("sbt" in cmd or "spark" in cmd):
            found.append(f"{pid}: {cmd[:160]}")
    return found


def wait_for_quiet_host(limit_s: float = 60.0) -> None:
    """Concurrent Spark/sbt JVMs poison the timing window: wait a
    little for them to finish, then refuse to run."""
    end = time.time() + limit_s
    while True:
        jvms = other_jvms()
        if not jvms:
            return
        if time.time() > end:
            fail("another Spark/sbt JVM is running; refusing to measure:\n  " +
                 "\n  ".join(jvms), 3)
        time.sleep(2)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def stage_stream(scratch: str, tables: dict, w: dict, seed: int) -> list:
    n = w["warm"] + w["open"] + w["closed"]
    rows = gen.slices(tables, n, seed)
    stage = os.path.join(scratch, "stage")
    gen.write_slices(rows, stage)
    # distinct, increasing modification times: the file source takes
    # the oldest unseen file first, so landing order is slice order
    base = time.time() - n
    for s in range(n):
        f = os.path.join(stage, f"slice-{s:05d}.parquet")
        os.utime(f, (base + s, base + s))
    return rows


def run_jvm(cmd: list, env: dict, log_path: str) -> None:
    """Run the harness JVM to completion; on failure keep its log as
    perfbench/out/last-jvm.log and exit non-zero."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = f"timeout after {JVM_TIMEOUT_S} s"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        shutil.copy(log_path, os.path.join(OUT, "last-jvm.log"))
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness JVM failed: {code}", 5)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation to build against")
    marks = {"start": time.time()}
    wait_for_quiet_host()
    marks["quiet"] = time.time()
    classpath, digest = build()
    marks["built"] = time.time()
    w = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    t0 = time.time()
    scratch = os.path.join(OUT, f"scratch-{args.workload}-{args.seed}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(os.path.join(scratch, "tmp"))
        data = os.path.join(scratch, "data")
        tables = gen.tables(data)
        raw_path = os.path.join(scratch, "raw.json")
        cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
               "-cp", classpath, "perfbench.Harness",
               "--kind", w["kind"], "--seed", str(args.seed), "--trace", str(args.trace),
               "--data", data, "--scratch", scratch, "--out", raw_path]
        slices = None
        if w["kind"] == "batch":
            cmd += ["--queries", ",".join(w["queries"]), "--warm", str(w["warm"]),
                    "--rounds", str(max(1, args.seconds // w["round_s"]))]
        else:
            w = dict(w, open=max(1, args.seconds * 1000 // w["period_ms"]))
            slices = stage_stream(scratch, tables, w, args.seed)
            cmd += ["--slices", os.path.join(scratch, "stage"),
                    "--warm", str(w["warm"]), "--open", str(w["open"]),
                    "--closed", str(w["closed"]), "--period_ms", str(w["period_ms"]),
                    "--timeout_ms", str((JVM_TIMEOUT_S - 45) * 1000)]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
                   SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        marks["generated"] = time.time()
        run_jvm(cmd, env, os.path.join(scratch, "jvm.log"))
        marks["jvm_done"] = time.time()
        with open(raw_path) as fh:
            raw = json.load(fh)
        res = report.evaluate(raw, t0, slices, data)
        marks["evaluated"] = time.time()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    env_rec = dict(raw["env"], seed=args.seed, seconds=args.seconds,
                   workload=args.workload, git_commit=git_commit(),
                   source_sha256=digest, heap=HEAP,
                   phases_s={k: round(marks[k] - marks[p], 3) for p, k in
                             zip(list(marks), list(marks)[1:])})
    record = dict(res["record"], env=env_rec)
    os.makedirs(OUT, exist_ok=True)
    rec_path = os.path.join(
        OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)

    metrics = res["layer"] if args.trace else res["e2e"]
    print(f"# env: {json.dumps(env_rec)}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for line in res["notes"]:
        print(f"# {line}")
    print(f"# correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']} fail_ratio={res['fail_ratio']} record={rec_path}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics.items()}}))


if __name__ == "__main__":
    main()
