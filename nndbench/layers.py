"""Per-layer metrics of a traced run, named after the program's modules.

Each metric is attributed by the job group of the public call it belongs
to (see spans.py). Per-call values are medians over the run's calls of
that kind. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from spans import EventLog, find_log

MB = 1e6

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "schemas.validate_jobs": ("count", "lower"),
    "schemas.validate_s": ("s", "lower"),
    "nnd.descent.build.jobs": ("count", "lower"),
    "nnd.descent.build.stages": ("count", "lower"),
    "nnd.descent.build.first_iter_s": ("s", "lower"),
    "nnd.descent.build.iter_s": ("s", "lower"),
    "nnd.descent.build.tail_s": ("s", "lower"),
    "nnd.descent.build.gc_s": ("s", "lower"),
    "nnd.descent.build.spill_mb": ("MB", "lower"),
    "nnd.descent.build.iterations": ("count", "lower"),
    "nnd.descent.build.updated_edges": ("count", "lower"),
    "nnd.descent.build.shuffle_write_mb": ("MB", "lower"),
    "nnd.descent.build.shuffle_read_mb": ("MB", "lower"),
    "nnd.descent.build.max_stage_shuffle_mb": ("MB", "lower"),
    "nnd.descent.build.py_run_s": ("s", "lower"),
    "nnd.descent.build.py_sent_mb": ("MB", "lower"),
    "nnd.descent.build.py_returned_mb": ("MB", "lower"),
    "nnd.descent.build.task_cpu_s": ("s", "lower"),
    "nnd.descent.update.py_run_s": ("s", "lower"),
    "nnd.descent.update.py_sent_mb": ("MB", "lower"),
    "nnd.search.jobs": ("count", "lower"),
    "nnd.search.stages": ("count", "lower"),
    "nnd.search.shuffle_write_mb": ("MB", "lower"),
    "nnd.search.gc_s": ("s", "lower"),
    "nnd.search.task_cpu_s": ("s", "lower"),
    "operators.knn_graph_index.persist_s": ("s", "lower"),
    "operators.knn_graph_index.persist_jobs": ("count", "lower"),
    "operators.knn_graph_index.extend.jobs": ("count", "lower"),
    "operators.knn_graph_index.extend.stages": ("count", "lower"),
    "operators.knn_graph_index.extend.written_mb": ("MB", "lower"),
    "operators.knn_graph_index.extend.shuffle_write_mb": ("MB", "lower"),
    "operators.knn_graph_index.probe_s": ("s", "lower"),
    "operators.knn_graph_index.probe_jobs": ("count", "lower"),
    "operators.knn_graph_index.compact_s": ("s", "lower"),
    "operators.knn_graph_index.compact_jobs": ("count", "lower"),
    "operators.index_lifecycle.upsert_jobs": ("count", "lower"),
    "operators.index_lifecycle.retract_s": ("s", "lower"),
    "proc.jvm_cpu_s": ("s", "lower"),
    "proc.pyworker_cpu_s": ("s", "lower"),
    "proc.pyworkers": ("count", "lower"),
    "host.steal_s": ("s", "lower"),
    "trace.round_s": ("s", "lower"),
    "trace.parse_s": ("s", "lower"),
}


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(tracer, out, session_s, timed, before, after, monitor, rounds) -> dict:
    t0 = time.perf_counter()
    log = EventLog(find_log(os.path.join(out, "events")))
    parse_s = time.perf_counter() - t0
    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}

    def calls(name):
        return [s for s in timed if s.name == name]

    def each(name, fn, site=None):
        return _med(fn(log.stats(s.groups, site)) for s in calls(name))

    v["session.start_s"] = session_s
    v["session.warmup_s"] = sum(s.wall for s in tracer.named("session.warmup"))

    build = "nnd.descent.build"
    v["schemas.validate_jobs"] = each(build, lambda g: g.jobs, "schemas.py")
    v["schemas.validate_s"] = each(build, lambda g: g.job_s, "schemas.py")
    for key, fn in {
        "jobs": lambda g: g.jobs,
        "stages": lambda g: g.stages,
        "gc_s": lambda g: g.gc_ms / 1e3,
        "spill_mb": lambda g: g.spill / MB,
        "shuffle_write_mb": lambda g: g.shuffle_write / MB,
        "shuffle_read_mb": lambda g: g.shuffle_read / MB,
        "max_stage_shuffle_mb": lambda g: g.max_stage_shuffle / MB,
        "py_run_s": lambda g: g.py_run_ms / 1e3,
        "py_sent_mb": lambda g: g.py_sent / MB,
        "py_returned_mb": lambda g: g.py_returned / MB,
        "task_cpu_s": lambda g: g.cpu_ns / 1e9,
    }.items():
        v[f"{build}.{key}"] = each(build, fn)
    builds = [s for s in calls(build) if s.marks]
    if builds:
        v[f"{build}.first_iter_s"] = _med(s.marks[0][0] for s in builds)
        v[f"{build}.iter_s"] = _med(
            b[0] - a[0] for s in builds for a, b in zip(s.marks, s.marks[1:])
        )
        v[f"{build}.tail_s"] = _med(s.wall - s.marks[-1][0] for s in builds)
        v[f"{build}.iterations"] = _med(len(s.marks) for s in builds)
        v[f"{build}.updated_edges"] = _med(sum(x for _, x in s.marks) for s in builds)

    extend = "operators.knn_graph_index.extend"
    v["nnd.descent.update.py_run_s"] = each(extend, lambda g: g.py_run_ms / 1e3)
    v["nnd.descent.update.py_sent_mb"] = each(extend, lambda g: g.py_sent / MB)
    v[f"{extend}.jobs"] = each(extend, lambda g: g.jobs)
    v[f"{extend}.stages"] = each(extend, lambda g: g.stages)
    v[f"{extend}.written_mb"] = each(extend, lambda g: g.written / MB)
    v[f"{extend}.shuffle_write_mb"] = each(extend, lambda g: g.shuffle_write / MB)
    # The upsert's jobs carry no Python call site (checkpoints and
    # AQE stages); they are the jobs extend submits before its first
    # sited one, the read of the index's pinned build parameters. The
    # count includes the batch's own checkpoint and, with deltas
    # pending, their resolution.
    v["operators.index_lifecycle.upsert_jobs"] = _med(
        log.stats(s.groups, before_first_site=True).jobs for s in calls(extend)
    )

    # the round's one search is the probe; nnd.search does its work
    probe = "operators.knn_graph_index.probe"
    search = "nnd.search"
    v[f"{search}.jobs"] = each(probe, lambda g: g.jobs)
    v[f"{search}.stages"] = each(probe, lambda g: g.stages)
    v[f"{search}.shuffle_write_mb"] = each(probe, lambda g: g.shuffle_write / MB)
    v[f"{search}.gc_s"] = each(probe, lambda g: g.gc_ms / 1e3)
    v[f"{search}.task_cpu_s"] = each(probe, lambda g: g.cpu_ns / 1e9)

    index = "operators.knn_graph_index"
    persist = tracer.named(f"{index}.persist")
    v[f"{index}.persist_s"] = sum(s.wall for s in persist)
    v[f"{index}.persist_jobs"] = sum(log.stats(s.groups).jobs for s in persist)
    for op in ("probe", "compact"):
        v[f"{index}.{op}_s"] = _med(s.wall for s in calls(f"{index}.{op}"))
        v[f"{index}.{op}_jobs"] = each(f"{index}.{op}", lambda g: g.jobs)
    v["operators.index_lifecycle.retract_s"] = _med(
        s.wall for s in calls("operators.index_lifecycle.retract")
    )

    v["proc.jvm_cpu_s"] = after.jvm - before.jvm
    v["proc.pyworker_cpu_s"] = after.pyworker - before.pyworker
    v["proc.pyworkers"] = monitor.max_pyworkers
    v["host.steal_s"] = after.steal - before.steal
    v["trace.round_s"] = _med(r["round_s"] for r in rounds)
    v["trace.parse_s"] = parse_s
    return {k: {"value": float(v[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}
