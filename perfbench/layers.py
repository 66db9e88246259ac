"""Per-layer metrics of a traced run: spans from ``spans.py``, Spark's
job/stage/task counters from ``eventlog.py`` and CPU from ``/proc``.

Every metric covers the timed region (the spans opened during a timed
operation and the Spark jobs submitted during one) except
``session.start_s`` (the median session start of the set-ups), the
``index.*merge_s`` metrics and ``index.files``, which cover the whole
run, because the workloads build their indexes during set-up and only
probe them in the timed region.
"""

from __future__ import annotations

import os

import eventlog
import spans

MB = 2 ** 20
FAMILIES = tuple(spans.OPS)
#: layers whose self time is reported on its own
SELF_LAYERS = ("query", "sources", "plans", "index", "streaming")


def count_files(paths) -> int:
    """Regular files under the given directories (missing ones count 0)."""
    n = 0
    for p in paths:
        for _, _, files in os.walk(p):
            n += len(files)
    return n


def _in_ops(t: float, ops) -> "dict | None":
    for op in ops:
        if op["start"] <= t <= op["end"]:
            return op
    return None


def per_layer(tracer, ops, event_dir: str, *, session_s: float, cpu,
              released: int, index_files: int, e2e: dict) -> dict:
    """name -> (value, unit) for every per-layer metric."""
    out: dict = {"session.start_s": (session_s, "s")}
    all_spans = tracer.spans
    timed_spans = [sp for sp in all_spans if sp.op is not None]
    by_id = {sp.sid: sp for sp in all_spans}
    summary = spans.layer_summary(timed_spans)

    def layer(name: str) -> dict:
        return summary.get(name, {"calls": 0, "self_s": 0.0, "incl_s": 0.0})

    jobs = []
    for path in eventlog.log_files(event_dir):
        jobs.extend(eventlog.parse(path))
    timed_jobs = [j for j in jobs if _in_ops(j.submit_ms / 1e3, ops)]

    def job_layer(job) -> str:
        if not job.description.startswith(spans.JOB_TAG):
            return "untagged"
        return spans.layer_of_job(
            by_id, int(job.description[len(spans.JOB_TAG):]))

    done = [op for op in ops if "error" not in op]
    build = sum(op["build_s"] for op in done)
    action = sum(op["action_s"] for op in done)
    eager = sum(1 for j in timed_jobs
                if (op := _in_ops(j.submit_ms / 1e3, done)) is not None
                and j.submit_ms / 1e3 <= op["start"] + op["build_s"])

    out["sources.calls"] = (layer("sources")["calls"], "count")
    out["sources.build_s"] = (layer("sources")["incl_s"], "s")
    out["plans.build_s"] = (build, "s")
    out["plans.build_share"] = (build / (build + action)
                                if build + action else 0.0, "ratio")
    out["plans.eager_jobs"] = (eager, "count")
    out["plans.cache_released"] = (released, "count")

    layer_jobs: dict = {}
    for j in timed_jobs:
        name = job_layer(j)
        layer_jobs[name] = layer_jobs.get(name, 0) + 1
    for fam in FAMILIES:
        d = layer(f"ops.{fam}")
        out[f"ops.{fam}.calls"] = (d["calls"], "count")
        out[f"ops.{fam}.self_s"] = (d["self_s"], "s")
        out[f"ops.{fam}.jobs"] = (layer_jobs.get(f"ops.{fam}", 0), "count")
    for name in SELF_LAYERS:
        out[f"{name}.self_s"] = (layer(name)["self_s"], "s")

    roles = {"probe": 0.0, "merge": 0.0}
    per_role = {}
    for sp in all_spans:
        if sp.role is None:
            continue
        fam, role = sp.role.split(".")
        if role == "probe" and sp.op is None:
            continue
        roles[role] += sp.duration
        key = f"index.{fam}.{role}_s"
        per_role[key] = per_role.get(key, 0.0) + sp.duration
    out["index.probe_s"] = (roles["probe"], "s")
    out["index.merge_s"] = (roles["merge"], "s")
    for fam in spans.INDEX_FAMILIES:
        for role in ("probe", "merge"):
            key = f"index.{fam}.{role}_s"
            out[key] = (per_role.get(key, 0.0), "s")
    out["index.files"] = (index_files, "count")

    out["streaming.calls"] = (layer("streaming")["calls"], "count")
    out["streaming.batch_s"] = (layer("streaming")["incl_s"], "s")

    tot = eventlog.Job(-1, 0)
    n_stage_ids = 0
    for j in timed_jobs:
        n_stage_ids += len(j.stage_ids)
        for f in ("tasks", "failed_tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_write_b", "shuffle_read_b", "spill_b",
                  "input_b"):
            setattr(tot, f, getattr(tot, f) + getattr(j, f))
    stages_run = sum(len(j.stages_run) for j in timed_jobs)
    skipped = sum(j.stages_skipped for j in timed_jobs)
    wall = sum(op["wall_s"] for op in ops)
    job_union = spans.union_length(
        (j.submit_ms / 1e3, j.end_ms / 1e3) for j in timed_jobs if j.end_ms)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    out.update({
        "exec.jobs": (len(timed_jobs), "count"),
        "exec.stages": (stages_run, "count"),
        "exec.stages_skipped_ratio": (skipped / n_stage_ids
                                      if n_stage_ids else 0.0, "ratio"),
        "exec.driver_gap_s": (max(0.0, wall - job_union), "s"),
        "exec.tasks": (tot.tasks, "count"),
        "exec.failed_tasks": (tot.failed_tasks, "count"),
        "exec.task_s": (tot.task_s, "s"),
        "exec.cpu_s": (tot.cpu_s, "s"),
        "exec.gc_s": (tot.gc_s, "s"),
        "exec.utilization": (tot.task_s / (cores * action)
                             if action else 0.0, "ratio"),
        "exec.shuffle_write_mb": (tot.shuffle_write_b / MB, "MB"),
        "exec.shuffle_read_mb": (tot.shuffle_read_b / MB, "MB"),
        "exec.spill_mb": (tot.spill_b / MB, "MB"),
        "exec.input_mb": (tot.input_b / MB, "MB"),
    })
    cpu0, cpu1 = cpu
    for part in ("jvm", "driver", "pyworkers"):
        out[f"cpu.{part}_s"] = (cpu1[part] - cpu0[part], "s")
    for name, (value, unit) in e2e.items():
        out[f"traced.{name}"] = (value, unit)
    return out
