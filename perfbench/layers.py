"""Per-layer metrics of a traced run, from the spans and counters the
harness recorded (spans.jsonl, counters.jsonl) and the Spark listener
records (jobs.jsonl, stages.jsonl). Only records inside the timed phase
count. Every metric is reported for every workload; a layer a workload
does not exercise reads 0.

Conventions: `*_ms` of a call the benchmark makes is the median per
call; counts, bytes and task times are totals per round of the
workload's fixed work.
"""
import json
import os

import stats
from oracle import FUNCTIONS

PIPELINES = ("revenue", "jdbc", "curate", "cdc")
SPANS = {  # metric -> span name (median duration per call)
    "ops.build_ms": "ops.build",
    "ops.bm25_append_ms": "ops.bm25_append",
    "ops.bm25_compact_ms": "ops.bm25_compact",
    "ops.bm25_serve_ms": "ops.bm25_serve",
    "sched.tick_ms": "sched.tick",
    "store.history_read_ms": "store.history_read",
}
UNITS = {"_ms": "ms", "_mb": "MB", "_rows": "count", "_per_s": "rows/s", "_s": "s"}


def _unit(name):
    for part, u in UNITS.items():
        if name.endswith(part) or part + "." in name:
            return u
    return "ratio" if name.endswith("util") or name.endswith("amp") else "count"


def names():
    """Every per-layer metric name, in report order."""
    return (["ops.op_p50_ms", "ops.round_s", "ops.rows_per_s",
             "ops.build_ms", "ops.build_jobs", "ops.cached_blocks",
             "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
             "spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_ms",
             "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms", "spark.core_util",
             "spark.input_mb", "spark.input_rows", "spark.output_mb", "spark.output_rows",
             "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb"]
            + [f"functions.{f}_ms" for f in FUNCTIONS] + ["functions.rows_per_s"]
            + ["ops.bm25_append_ms", "ops.bm25_serve_ms", "ops.bm25_compact_ms",
               "connect.index_mb", "connect.index_files"]
            + [f"exec.run_ms.{p}" for p in PIPELINES]
            + ["exec.jobs_per_run", "exec.audit_jobs", "exec.audit_ms",
               "connect.jdbc_read_ms", "connect.jdbc_write_ms", "connect.jdbc_rows",
               "connect.write_mb", "connect.output_files",
               "streaming.drain_ms", "streaming.rows_in", "streaming.snapshot_mb",
               "streaming.write_amp", "sched.tick_ms", "sched.start_lag_ms",
               "store.history_mb", "store.history_read_ms",
               "setup.session_ms", "setup.seed_ms", "setup.warm_ms"])


def _med(xs):
    return stats.median(xs) if xs else 0.0


def read_jsonl(path):
    """Records of one JSON-lines file ([] when it does not exist)."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _read(out, name):
    return read_jsonl(os.path.join(out, name))


def per_layer(run, ops, rounds, out):
    t0, t1 = run["timed_start_ns"], run["timed_end_ns"]
    n_rounds = max(1, len(rounds))
    spans = [s for s in _read(out, "spans.jsonl") if t0 <= s["start_ns"] <= t1]
    counters = _read(out, "counters.jsonl")
    jobs = [j for j in _read(out, "jobs.jsonl") if t0 / 1e6 <= j["start_ms"] <= t1 / 1e6]
    stages_by_id = {s["stage"]: s for s in _read(out, "stages.jsonl")}
    job_stages = {j["job"]: [stages_by_id[i] for i in j["stages"] if i in stages_by_id]
                  for j in jobs}
    stages = [s for j in jobs for s in job_stages[j["job"]]]
    by_op = {o["id"]: o for o in ops}

    def dur(name):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]

    def cnt(name):
        return [c["value"] for c in counters if c["name"] == name and c["value"] is not None]

    def total(key, ss=stages):
        return sum(s[key] for s in ss)

    def op_of(job):  # job group "op-<id>-<phase>" set by the harness
        g = job["group"]
        return int(g.split("-")[1]) if g.startswith("op-") else None

    def site(job, *needles):
        return any(n in job["call_site"] for n in needles)

    m = {}
    _, _, times = stats.account(ops)
    wall_ms = sum(r["ms"] for r in rounds)
    m["ops.op_p50_ms"] = _med(times)
    m["ops.round_s"] = _med([r["ms"] for r in rounds]) / 1e3
    m["ops.rows_per_s"] = sum(o["rows"] for o in ops if o["ok"]) / (wall_ms / 1e3) if wall_ms else 0.0
    for k, span in SPANS.items():
        m[k] = _med(dur(span))
    m["ops.build_jobs"] = sum(1 for j in jobs if j["group"].endswith("-build")) / n_rounds
    m["ops.cached_blocks"] = sum(cnt("ops.cached_blocks")) / n_rounds
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = _med(cnt(f"catalyst.{p}_ms"))
    tasks = total("tasks")
    m["spark.jobs"] = len(jobs) / n_rounds
    m["spark.stages"] = len(stages) / n_rounds
    m["spark.tasks"] = tasks / n_rounds
    m["spark.task_wait_ms"] = total("task_wait_ms") / tasks if tasks else 0.0
    m["spark.task_run_ms"] = total("task_run_ms") / n_rounds
    m["spark.task_cpu_ms"] = total("task_cpu_ns") / 1e6 / n_rounds
    m["spark.gc_ms"] = total("gc_ms") / n_rounds
    m["spark.core_util"] = total("task_run_ms") / (wall_ms * run["cpus"]) if wall_ms else 0.0
    for key, metric, scale in (("input_bytes", "spark.input_mb", 1e6),
                               ("input_rows", "spark.input_rows", 1),
                               ("output_bytes", "spark.output_mb", 1e6),
                               ("output_rows", "spark.output_rows", 1),
                               ("shuffle_write_bytes", "spark.shuffle_write_mb", 1e6),
                               ("shuffle_read_bytes", "spark.shuffle_read_mb", 1e6),
                               ("spill_bytes", "spark.spill_mb", 1e6)):
        m[metric] = total(key) / scale / n_rounds

    fn_ops = {o["id"] for o in ops if o["kind"] == "function" and o["ok"]}
    for f in FUNCTIONS:
        m[f"functions.{f}_ms"] = _med(dur(f"functions.{f}"))
    fn_rows = sum(total("input_rows", job_stages[j["job"]]) for j in jobs if op_of(j) in fn_ops)
    fn_s = sum(by_op[i]["ms"] for i in fn_ops) / 1e3
    m["functions.rows_per_s"] = fn_rows / fn_s if fn_s else 0.0
    m["connect.index_mb"] = _med(cnt("connect.index_mb"))
    m["connect.index_files"] = _med(cnt("connect.index_files"))

    runs = [o for o in ops if o["kind"] == "run"]
    for p in PIPELINES:
        m[f"exec.run_ms.{p}"] = _med([o["ms"] for o in runs if o["name"] == p and o["ok"]])
    # pool-thread and streaming jobs carry no harness group; the
    # benchmark's own landing writes are attributed to its own source
    pipeline_jobs = [j for j in jobs if not j["group"].startswith("op-")
                     and not site(j, "Etl.scala", "Main.scala")]
    m["exec.jobs_per_run"] = len(pipeline_jobs) / len(runs) if runs else 0.0
    audit = [j for j in pipeline_jobs if site(j, "PipelineRunner.scala")]
    m["exec.audit_jobs"] = len(audit) / n_rounds
    m["exec.audit_ms"] = sum(j["end_ms"] - j["start_ms"] for j in audit) / n_rounds
    jdbc_read = [s for s in stages if "JDBC" in s["rdds"]]
    jdbc_write = [j for j in pipeline_jobs if site(j, "JdbcUtils", "save at Sources.scala")]
    m["connect.jdbc_read_ms"] = sum(s["completed_ms"] - s["submitted_ms"] for s in jdbc_read) / n_rounds
    m["connect.jdbc_write_ms"] = sum(j["end_ms"] - j["start_ms"] for j in jdbc_write) / n_rounds
    m["connect.jdbc_rows"] = total("input_rows", jdbc_read) / n_rounds
    m["connect.write_mb"] = sum(total("output_bytes", job_stages[j["job"]])
                                for j in pipeline_jobs) / 1e6 / n_rounds
    m["connect.output_files"] = _med(cnt("connect.output_files"))
    # a streaming query runs its micro-batch jobs under its run id as group
    stream = [j for j in pipeline_jobs if j["group"]]
    m["streaming.drain_ms"] = sum(j["end_ms"] - j["start_ms"] for j in stream) / n_rounds
    m["streaming.rows_in"] = sum(o["rows"] for o in runs if o["name"] == "cdc" and o["ok"]) / n_rounds
    m["streaming.snapshot_mb"] = _med(cnt("streaming.snapshot_mb"))
    landed = _med(cnt("streaming.landed_mb"))
    batches = len([o for o in ops if o["kind"] == "tick"]) + 1  # + the warm round's batch
    snap_out = sum(total("output_bytes", job_stages[j["job"]]) for j in stream) / 1e6 / n_rounds
    m["streaming.write_amp"] = snap_out / (landed / batches) if landed else 0.0
    m["sched.start_lag_ms"] = _med(cnt("sched.start_lag_ms"))
    m["store.history_mb"] = _med(cnt("store.history_mb"))
    m["setup.session_ms"] = run["session_ms"]
    m["setup.seed_ms"] = run["seed_ms"]
    m["setup.warm_ms"] = run["warm_ms"]
    return {k: {"value": float(m[k]), "unit": _unit(k)} for k in names()}
