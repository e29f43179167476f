"""Per-layer metrics of a traced run (``--trace 1``).

Only ops of traced cycles count (every second timed cycle; the others
run with the wrappers idle and give the tracing overhead). Per-op
figures are means over those ops, so on a commit
``spark.busy_s_per_commit + driver_gap_s_per_commit`` is exactly
``trace.commit_wall_s``.
"""

from __future__ import annotations

import os
import time
from statistics import median

import pyarrow.parquet as pq

from tracing import busy_s, jobs_of, spark_jobs, timed_commits


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _false_positives(kt, man, keys, candidates) -> tuple[float, float]:
    """(candidate files ÷ live files, files passed without holding any
    probe key ÷ files holding none), from reading every live file's keys."""
    from hudi_glue_spark.table import manifest as M

    ddir = M.data_dir(kt.path)
    want = set(keys)
    cand = set(candidates)
    empty = fp = 0
    for f in man.files:
        ids = pq.read_table(os.path.join(ddir, f), columns=["id"]).column("id")
        if want.isdisjoint(ids.to_pylist()):
            empty += 1
            fp += f in cand
    return len(cand) / len(man.files), (fp / empty if empty else 0.0)


def layer_metrics(b, session_s: float) -> dict:
    from hudi_glue_spark.table import manifest as M

    tr, spark = b.tracer, b.spark
    ops = [r for r in b.ops if r.extra["timed"]]
    traced = [r for r in ops if r.traced]
    commits = [r for r in timed_commits(b.ops) if r.traced]
    reads = [r for r in traced if r.kind not in ("commit", "clean")]
    lookups = [r for r in reads if r.kind == "lookup"]

    offset = time.time() - time.perf_counter()
    jobs = spark_jobs(spark)

    def op_jobs(r):
        return jobs_of(jobs, r.extra["group"], r.start + offset, r.end + offset)

    def commit_parts(r):
        return (r, r.extra["clean_op"])

    c_wall, c_busy, c_jobs, c_tasks, c_task_s = [], [], [], [], []
    for r in commits:
        wall = busy = 0.0
        njobs = ntasks = 0
        task_s = 0.0
        for part in commit_parts(r):
            js = op_jobs(part)
            wall += part.wall
            busy += busy_s(js, part.start + offset, part.end + offset)
            njobs += len(js)
            ntasks += sum(j.get("numCompletedTasks", 0) for j in js)
            task_s += sum(j["task_s"] for j in js)
        c_wall.append(wall)
        c_busy.append(busy)
        c_jobs.append(njobs)
        c_tasks.append(ntasks)
        c_task_s.append(task_s)

    r_jobs, r_gap = [], []
    for r in reads:
        js = op_jobs(r)
        r_jobs.append(len(js))
        r_gap.append(r.wall - busy_s(js, r.start + offset, r.end + offset))

    all_ops = [p for r in commits for p in commit_parts(r)] + reads

    def span_per_op(name, ops_):
        calls = [tr.outer_time(o.op, name) for o in ops_]
        return _mean(c for c, _ in calls), _mean(s for _, s in calls)

    m_read_calls, m_read_s = span_per_op("manifest.read", all_ops)
    m_list_calls, m_list_s = span_per_op("manifest.list", all_ops)
    _, m_write_s = span_per_op("manifest.write", commits)
    bloom_build_s = _mean(tr.outer_time(r.op, "bloom.build")[1] for r in commits)
    bloom_keys = _mean(tr.built_keys(r.op) for r in commits)
    probe_s = _mean(tr.outer_time(r.op, "bloom.probe")[1] for r in lookups)

    man = M.read_manifest(b.kt.path)
    ratios = [
        _false_positives(b.kt, man, r.extra["keys"], b.kt.files_with_keys(r.extra["keys"], man))
        for r in lookups
    ]

    progress = [
        p["durationMs"]
        for p in b.query.recentProgress
        if int(p.get("numInputRows", 0)) > 0
    ]

    def cdc(key):
        vals = [d.get(key, 0) for d in progress]
        return median(vals) if vals else 0.0

    plan_reads = [r for r in reads if r.kind in ("snapshot", "pruned")]
    untraced = [r for r in ops if not r.traced]
    u_commit = [r.wall + r.extra["clean_s"] for r in timed_commits(b.ops) if not r.traced]
    u_read = [r.wall for r in untraced if r.kind not in ("commit", "clean")]
    t_commit = [r.wall + r.extra["clean_s"] for r in commits]
    t_read = [r.wall for r in reads]

    m = {
        "spark.jobs_per_commit": (_mean(c_jobs), "count"),
        "spark.tasks_per_commit": (_mean(c_tasks), "count"),
        "spark.busy_s_per_commit": (_mean(c_busy), "s"),
        "driver_gap_s_per_commit": (_mean(c_wall) - _mean(c_busy), "s"),
        "trace.commit_wall_s": (_mean(c_wall), "s"),
        "spark.task_s_per_commit": (_mean(c_task_s), "s"),
        "spark.jobs_per_read": (_mean(r_jobs), "count"),
        "driver_gap_s_per_read": (_mean(r_gap), "s"),
        "python.cpu_s_per_commit": (
            _mean(r.py_cpu_s + r.extra["clean_op"].py_cpu_s for r in commits),
            "s",
        ),
        "jvm.cpu_s_per_commit": (
            _mean(r.jvm_cpu_s + r.extra["clean_op"].jvm_cpu_s for r in commits),
            "s",
        ),
        "manifest.read_calls_per_op": (m_read_calls, "count"),
        "manifest.read_s_per_op": (m_read_s, "s"),
        "manifest.list_calls_per_op": (m_list_calls, "count"),
        "manifest.list_s_per_op": (m_list_s, "s"),
        "manifest.write_s_per_commit": (m_write_s, "s"),
        "manifest.bytes_per_commit": (
            _mean(r.extra["meta_bytes"] for r in commits),
            "bytes",
        ),
        "bloom.build_s_per_commit": (bloom_build_s, "s"),
        "bloom.keys_built_per_commit": (bloom_keys, "count"),
        "bloom.probe_s_per_lookup": (probe_s, "s"),
        "lookup.candidate_file_ratio": (_mean(c for c, _ in ratios), "ratio"),
        "lookup.false_positive_ratio": (_mean(f for _, f in ratios), "ratio"),
        "data.files_written_per_commit": (
            _mean(r.extra["data_files"] for r in commits),
            "count",
        ),
        "data.bytes_written_per_commit": (
            _mean(r.extra["data_bytes"] for r in commits),
            "bytes",
        ),
        "data.partitions_rewritten_per_commit": (
            _mean(r.extra["parts_rewritten"] for r in commits),
            "count",
        ),
        "data.live_files": (len(man.files), "count"),
        "clean.s_per_call": (_mean(r.extra["clean_s"] for r in commits), "s"),
        "clean.files_deleted_per_call": (
            _mean(r.extra["clean_deleted"] for r in commits),
            "count",
        ),
        "read.plan_s": (median(r.extra["plan_s"] for r in plan_reads), "s"),
        "read.exec_s": (
            median(r.wall - r.extra["plan_s"] for r in plan_reads),
            "s",
        ),
        "cdc.latest_offset_ms": (cdc("latestOffset"), "ms"),
        "cdc.planning_ms": (cdc("queryPlanning"), "ms"),
        "cdc.add_batch_ms": (cdc("addBatch"), "ms"),
        "cdc.wal_commit_ms": (cdc("walCommit"), "ms"),
        "cdc.trigger_ms": (cdc("triggerExecution"), "ms"),
        "jvm.gc_s_per_op": (_mean(r.gc_s for r in all_ops), "s"),
        "session.start_s": (session_s, "s"),
        "trace.overhead_commit_s": (median(t_commit) - median(u_commit), "s"),
        "trace.overhead_read_s": (median(t_read) - median(u_read), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
