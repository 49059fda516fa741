#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness with sbt (once per source change, stamped in .bench_build/);
every run then generates its inputs from the seed, starts one plain JVM
on the built classpath (local[nproc], one client thread, closed loop),
checks every materialized output against DuckDB, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans and Spark listener records of the same run.
A line starting with "# context" before it records the run context.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# workload -> input scale factor (0.01: lineitem 60k rows, documents 500)
WORKLOADS = {"catalog": 0.01, "etl_scheduled": 0.01}
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 720  # the first run of a checkout, which builds, within 900 s
# Spark 4 on JDK 17 outside spark-submit needs these (the list of
# org.apache.spark.launcher.JavaModuleOptions, as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads: a change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program and harness once per source change; return the
    classpath and whether this call built it."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no program source at {p}: run from the root of a checkout")
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1], True


def inputs(seed, scale):
    """Generate (or reuse) the seed's tables under .bench_work/data."""
    d = os.path.join(WORK, "data", f"seed{seed}-sf{scale}")
    mark = os.path.join(d, "_complete")
    if not os.path.exists(mark):
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
        gen.write(d, seed, scale)
        open(mark, "w").close()
    return d


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms1g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("run exceeded its time limit", 3)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-20:]
        fail(f"JVM exited {rc}:\n{''.join(tail)}", 3)


def end_to_end(run, ops, rounds):
    """The end-to-end metrics of one untraced run. Wall-clock latencies
    go to the context line instead (see README: on a shared host they
    swing with CPU steal far beyond any useful bound)."""
    stats.account(ops)  # validates the records
    m = {
        "setup_s": (run["setup_s"], "s"),
        "cpu_s": (stats.median([r["cpu_ms"] for r in rounds]) / 1e3, "s"),
        "written_mb": (stats.median([r["written_bytes"] for r in rounds]) / 1e6, "MB"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def wall_figures(ops, rounds):
    """Wall-clock figures of the timed phase, for the context line."""
    _, _, times = stats.account(ops)
    wall_ms = [r["ms"] for r in rounds]
    return {"wall_s": round(stats.median(wall_ms) / 1e3, 3),
            "op_p50_ms": round(stats.median(times), 3) if times else None,
            "rows_per_s": round(sum(o["rows"] for o in ops if o["ok"]) / (sum(wall_ms) / 1e3), 3)}


def detail(ops):
    """Per-kind latency figures for the human-readable context line."""
    out = {}
    for kind in sorted({o["kind"] for o in ops}):
        t = [o["ms"] for o in ops if o["kind"] == kind and o["ok"]]
        if t:
            out[f"{kind}_p50_ms"] = round(stats.median(t), 3)
            out[f"{kind}_n"] = len(t)
            if len(t) >= 100:
                out[f"{kind}_p90_ms"] = round(stats.percentile(t, 90), 3)
    return out


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0 or a.seconds <= 0:
        fail("seed must be >= 0 and seconds > 0")

    started = time.time()
    cp, built = build()
    deadline = started + (880 if built else RUN_LIMIT_S)
    data = inputs(a.seed, WORKLOADS[a.workload])
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    run_jvm(cp, [a.workload, data, work, out, str(a.seed), str(a.seconds), str(a.trace)],
            work, deadline)

    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    ops = layers.read_jsonl(os.path.join(out, "ops.jsonl"))
    rounds = layers.read_jsonl(os.path.join(out, "rounds.jsonl"))
    attempted, failed, _ = stats.account(ops)
    if attempted == 0:
        fail("no operation was attempted", 3)
    problems = list(run["problems"]) + oracle.check(a.workload, data, out, work)
    if a.trace:
        metrics = layers.per_layer(run, ops, rounds, out)
    else:
        metrics = end_to_end(run, ops, rounds)
    context = {k: run[k] for k in ("workload", "seed", "cpus", "fixture_fingerprint",
                                   "load1_start", "load1_end", "steal_pct",
                                   "session_ms", "seed_ms", "warm_ms")}
    context.update(git_head=git_head(), source_hash=source_hash()[:16],
                   rounds=len(rounds), problems=problems[:10], **wall_figures(ops, rounds),
                   **detail(ops))
    print("# context " + json.dumps(context, sort_keys=True))
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
