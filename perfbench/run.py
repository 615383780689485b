#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 26 --trace 0

Run from the repository root. It builds the program and the harness from
source (sbt, offline; skipped when nothing changed since the last build),
generates the workload's inputs from the seed, runs the harness JVM at
local[nproc] with a pinned heap, checks every output, and prints one
report line and then the result line:

    {"correct": true, "attempted": 33, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics, with
--trace 1 its per-layer metrics. It exits non-zero when any check fails.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

HEAP = "3g"
BUILD_DIR = os.path.join(HERE, "target", "bench-build")
# Input sizes. The warm-up input has the same shape and size and its own
# seed: a first loop's cost is almost all fixed (class loading, code
# generation, first use of each path), so a full-size warm-up costs about
# what a small one does and leaves the JIT trained on the real sizes.
# `analytics` generates nothing: it reads the fixed TESTDATA tables named
# by --testdata.
SIZES = {
    "etl_daily": dict(days=2, files_per_day=3, videos_per_file=250,
                      channels_per_day=40),
    "analytics": {},
    "table_cdc": dict(rows=40_000, batches=2),
    "table_cdc_or_delete": dict(rows=40_000, batches=2),
}

WARM_SEED_OFFSET = 1_000_003
# How long the harness JVM may run. The workloads in BENCHMARK.json finish
# well inside 160 s, so a run ends within 180 s; analytics, run by hand on
# TESTDATA's sf0.1, takes several minutes.
JVM_TIMEOUT = {"analytics": 900}
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout, or when this process
    is interrupted or terminated, kills the whole group (sbt and java may
    start children of their own) and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{cmd[0]} timed out after {timeout} s", 1)
        raise
    return p.returncode, out


def host_cpu():
    """(steal, total) CPU time of the whole machine, in clock ticks, or None
    where /proc/stat is missing. On a virtual machine, steal is the time its
    CPUs were runnable but held by the host for other guests; the report
    records its share during the run, because it slows every timing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program source next to perfbench/ (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " " + " ".join(opts)).strip())
    try:
        rc, out = run_group(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                            600, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    except OSError as e:
        fail(f"build failed: {e}")
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l]
    if rc != 0 or not lines:
        fail("build failed:\n" + out[-3000:])
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def make_inputs(workload, out_dir, seed, sizes, testdata=None):
    """Generates one input set with its plan.json; returns the plan. For
    `analytics` the plan only names the TESTDATA directory and its sizes."""
    if workload == "analytics":
        tables = {f[:-len(".parquet")]: pq.read_metadata(os.path.join(testdata, f)).num_rows
                  for f in sorted(os.listdir(testdata)) if f.endswith(".parquet")}
        plan = {"corpus": os.path.abspath(testdata), "tables": tables,
                "input_rows": sum(tables.values())}
    elif workload == "etl_daily":
        plan = gen.etl_days(out_dir, seed, **sizes)
    else:
        plan = gen.cdc_source(out_dir, seed, **sizes,
                              or_delete=workload == "table_cdc_or_delete")
        plan["input_rows"] = plan["rows"] + plan["upsert_rows"]
    plan["sizes"] = sizes
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, ops, plan):
    untraced = [p for p in res["passes"] if not p["traced"]]
    wall = median([p["wall_s"] for p in untraced])
    good = [o["latency_s"] for o in ops if o["ok"]]
    m = {"setup_s": res["setup_s"], "wall_s": wall,
         "cpu_s": median([p["cpu_s"] for p in untraced]),
         "rows_per_s": plan["input_rows"] / wall if wall else 0.0,
         "op_p50_s": median(good),
         "heap_live_peak_mb": res["heap_live_peak_mb"],
         "fail_frac": sum(not o["ok"] for o in ops) / max(1, len(ops))}
    m["op_samples"] = len(good)
    # the highest percentile with at least ten samples beyond it
    if len(good) >= 100:
        m["op_p90_s"] = statistics.quantiles(good, n=10)[-1]
    elif len(good) >= 40:
        m["op_p75_s"] = statistics.quantiles(good, n=4)[-1]
    if workload == "analytics":
        per_pass = {}
        for o in ops:
            if o["kind"] == "frozen19" and o["ok"]:
                per_pass.setdefault(o["pass"], []).append(o["latency_s"])
        m["frozen19_s"] = median([sum(v) for v in per_pass.values() if len(v) == 19])
    if workload.startswith("table_cdc"):
        m["cdf_drain_s"] = median([o["latency_s"] for o in ops
                                   if o["kind"] == "drain" and o["ok"]])
    if "storage_amp" in res["extras"]:
        m["storage_amp"] = res["extras"]["storage_amp"]
    return m


ENGINE_KINDS = ("insert", "update", "merge", "delete", "compact", "read", "timetravel")


def per_call(ops, queries):
    """Per-layer latencies of whole operations: each engine statement kind,
    the replay, and each query, as the median over the run's successful
    calls (0 where the workload makes none). They are taken here, after the
    oracle check, so that a call with a wrong result is left out."""
    def med(keep):
        return median([o["latency_s"] for o in ops if o["ok"] and keep(o)])
    m = {f"engine.{k}_s": med(lambda o, k=k: o["kind"] == k) for k in ENGINE_KINDS}
    m["pipeline.replay_s"] = med(lambda o: o["kind"] == "replay")
    m.update({f"query.{q}_s": med(lambda o, q=q: o["name"] == q) for q in queries})
    return m


UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
         "op_samples": "count", "op_p75_s": "s", "op_p90_s": "s", "frozen19_s": "s", "cdf_drain_s": "s",
         "storage_amp": "ratio", "heap_live_peak_mb": "MiB", "fail_frac": "ratio"}


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--testdata", help="analytics only: the TESTDATA directory "
                    "to read (one parquet file per table), e.g. its sf0.1")
    ap.add_argument("--corrupt", help="give this query or read a wrong answer "
                    "(used by the benchmark's own tests)")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so run_group and the work-dir clean-up run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload == "analytics" and not (
            args.testdata and os.path.isfile(os.path.join(args.testdata, "lineitem.parquet"))):
        fail("analytics needs --testdata DIR, a TESTDATA directory such as its sf0.1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, warm, jvm_work = (os.path.join(work, d) for d in ("inputs", "warm", "jvm"))
    for d in (inputs, warm, os.path.join(jvm_work, "tmp")):
        os.makedirs(d)
    try:
        plan = make_inputs(args.workload, inputs, args.seed, SIZES[args.workload],
                           args.testdata)
        make_inputs(args.workload, warm, args.seed + WARM_SEED_OFFSET,
                    SIZES[args.workload], args.testdata)
        cpus = len(os.sched_getaffinity(0))
        out = os.path.join(jvm_work, "result.json")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
                f"-Djava.io.tmpdir={jvm_work}/tmp", "-cp", classpath,
                "perfbench.Main", "--workload", args.workload,
                "--inputs", inputs, "--warm-inputs", warm, "--work", jvm_work,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cpus", str(cpus), "--out", out]
               + (["--corrupt", args.corrupt] if args.corrupt else []))
        steal0 = host_cpu()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc, _ = run_group(cmd, JVM_TIMEOUT.get(args.workload, 160),
                              stdout=log, stderr=subprocess.STDOUT)
        steal1 = host_cpu()
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                fail(f"harness exited {rc}:\n" + f.read()[-3000:], 1)
        with open(out) as f:
            res = json.load(f)
        if steal0 and steal1:
            res["env"]["host_steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        ops = res["ops"]
        results, oracle_sql = (os.path.join(jvm_work, f) for f in ("results", "oracle_sql.json"))
        if args.workload == "analytics":
            bad = oracle.queries(plan["corpus"], results, oracle_sql)
        elif args.workload.startswith("table_cdc"):
            bad = oracle.table_cdc(inputs, results, plan["steps"], ops, oracle_sql)
        else:
            bad = oracle.etl_daily(plan, ops)
        for o in ops:
            why = bad.get(o["name"]) or bad.get((o["pass"], o["name"]))
            if why and o["ok"]:
                o["ok"], o["error"] = False, why
        failed = [o for o in ops if not o["ok"]]
        correct = (not failed and not res["stream_failures"]
                   and not res["warmup_failures"] and len(ops) > 0)

        e2e = end_to_end(args.workload, res, ops, plan)
        if args.trace:
            res["layers"].update(per_call(ops, res["queries"]))
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = res["layers"] if args.trace else e2e
        missing = [m["name"] for m in wanted if m["name"] not in source]
        if missing:
            fail(f"metrics not produced: {missing}", 1)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "input_sizes": {"rows": plan["input_rows"], **plan["sizes"]},
            "passes": res["passes"], "warmup_loops_s": res["warmup_loops_s"], "end_to_end": {
                k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
            "extras": res["extras"], "env": res["env"],
            "failures": [f"pass {o['pass']} {o['name']}: {o['error']}" for o in failed][:20]
                        + res["stream_failures"] + res["warmup_failures"]}
        if args.trace:
            report["per_layer"] = res["layers"]
            report["spans"] = os.path.join("perfbench", "work", f"spans-{args.workload}.json")
            shutil.copy(os.path.join(jvm_work, "spans.json"), os.path.join(ROOT, report["spans"]))
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": correct, "attempted": len(ops), "failed": len(failed),
            "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                        for m in wanted}}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
