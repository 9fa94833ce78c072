"""Per-layer metrics and the layer table of a traced run.

Layers are the library's modules. Each metric has one source: a benchmark
span around a public call (S), Spark's event-log task / SQL metrics of the
jobs that span caused (E), a value the call returned (R), or the /proc
sampler (P). The metrics reported are the ``per_layer`` list of
``BENCHMARK.json``; a workload that does not exercise a layer reports 0 for
it, and computing a metric the list does not declare is an error.
Per-op values are medians over the run's timed ops. Candidate rows and pairs are the
output rows of the join node, so where Spark folds the refine predicate into
the join condition (convex PIP, radius join) they equal the result rows.
"""

from __future__ import annotations

import statistics

from spans import PY_BOOT, PY_RECV, PY_RUN, PY_SENT, self_seconds, union_seconds

MB = 1e6


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _has_python(job) -> bool:
    return any(PY_SENT in t.by_name for s in job.stages for t in s.tasks)


def _build(att, sampler, span, index) -> dict:
    """One build call: stats jobs, the fused local-finish job, driver time."""
    jobs = att.jobs(span.id)
    fused = [j for j in jobs if _has_python(j)]
    first_fused = min((j.start for j in fused), default=float("inf"))
    stats = [j for j in jobs if j not in fused and j.start < first_fused]
    py_tasks = [t for j in fused for s in j.stages for t in s.tasks if PY_SENT in t.by_name]
    durations = sorted(t.finish - t.launch for t in py_tasks)
    tasks = att.tasks(jobs)
    fused_iv = [(j.start, j.end) for j in fused]
    lineage = index.lineage if index is not None else []
    finish = next((r for r in lineage if r.get("local_finish")), {})
    return {
        "build.call_s": span.seconds,
        "build.stats_jobs": len(stats),
        "build.stats_s": union_seconds([(j.start, j.end) for j in stats]),
        "build.fused_s": union_seconds(fused_iv),
        "build.fused.task_max_s": durations[-1] if durations else 0.0,
        "build.fused.task_p50_s": _median(durations),
        "build.fused.py_run_s": att.named(py_tasks, PY_RUN),
        "build.fused.py_boot_s": att.named(py_tasks, PY_BOOT),
        "build.fused.py_sent_mb": att.named(py_tasks, PY_SENT) / MB,
        "build.fused.py_received_mb": att.named(py_tasks, PY_RECV) / MB,
        "build.fused.py_peak_rss_mb": max(
            (sampler.worker_peak(s, e) for s, e in fused_iv), default=0) / MB,
        "build.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "build.spill_mb": sum(t.spill for t in tasks) / MB,
        "build.gc_s": sum(t.gc_s for t in tasks),
        "build.driver_s": span.seconds - union_seconds(
            [(max(j.start, span.start), min(j.end, span.end)) for j in jobs]),
        "build.levels": sum(1 for r in lineage if r["depth"] >= 0),
        "build.deferred_subtrees": finish.get("n_deferred_nodes", 0),
        "build.max_subtree_rows": finish.get("max_node_points", 0),
    }


def per_layer(units, wl, tracer, att, sampler, op_walls, starts, extra, e2e, untraced_e2e):
    """(metrics, layer table, child spans by span id) of a traced run;
    ``units`` maps every declared metric name to its unit."""
    timed = [s for s in tracer.spans if s.op in op_walls]
    by_key: dict[str, list] = {}
    for s in timed:
        by_key.setdefault(f"{s.layer}.{s.part}", []).append(s)

    def med_s(key):
        return _median(s.seconds for s in by_key.get(key, []))

    def per_span(key, fn):
        return _median(fn(att.jobs(s.id)) for s in by_key.get(key, []))

    def shuffle_mb(jobs):
        return sum(t.shuffle_write for t in att.tasks(jobs)) / MB

    def task_max(jobs):
        return max((t.finish - t.launch for t in att.tasks(jobs)), default=0.0)

    v = {name: 0.0 for name in units}
    v["session.start_s"] = _median(starts)

    builds = by_key.get("build.call") or [s for s in tracer.spans
                                           if s.op == "setup" and s.layer == "build"
                                           and s.part == "call"]
    if builds:
        rows = [_build(att, sampler, s, wl.index()) for s in builds]
        for name in rows[0]:
            v[name] = _median(r[name] for r in rows)

    if "knn.exec" in by_key:
        v["tree.query_arrays_s"] = med_s("tree.query_arrays")
        v["tree.bbox_cover_s"] = med_s("tree.bbox_cover")
        cover = wl.cover["pip"]
        v["tree.pip_cover_intervals"] = cover["intervals"]
        v["tree.pip_cover_key_frac"] = cover["key_frac"]
        v["interval_join.replicated_rows"] = cover["replicated_rows"]
        v["tree.knn_cover_key_frac"] = extra["knn_cover_key_frac"]
        v["knn.plan_s"] = med_s("knn.plan")
        v["knn.exec_s"] = med_s("knn.exec")
        v["knn.planner.py_run_s"] = per_span("knn.exec", lambda j: att.named(att.tasks(j), PY_RUN))
        v["knn.planner.py_boot_s"] = per_span("knn.exec", lambda j: att.named(att.tasks(j), PY_BOOT))
        v["knn.candidate_rows"] = per_span("knn.exec", att.join_rows)
        v["knn.result_rows"] = len(wl.knn_expect)
        v["knn.task_max_s"] = per_span("knn.exec", task_max)
        v["knn.gc_s"] = per_span("knn.exec", lambda j: sum(t.gc_s for t in att.tasks(j)))
        if v["knn.candidate_rows"]:
            v["knn.refine_ratio"] = v["knn.result_rows"] / v["knn.candidate_rows"]
        v["pip.plan_s"] = med_s("pip.plan")
        v["pip.exec_s"] = med_s("pip.exec")
        v["pip.candidate_rows"] = per_span("pip.exec", att.join_rows)
        v["pip.result_rows"] = wl.pip_expect[0]
        if v["pip.candidate_rows"]:
            v["pip.refine_ratio"] = v["pip.result_rows"] / v["pip.candidate_rows"]
        v["interval_join.broadcast"] = per_span("pip.exec", lambda j: float(att.broadcast_join(j)))
        v["codes.label_s"] = med_s("codes.label")
        v["codes.py_run_s"] = per_span("catalog.write", lambda j: att.named(att.tasks(j), PY_RUN))
        v["codes.py_sent_mb"] = per_span("catalog.write",
                                         lambda j: att.named(att.tasks(j), PY_SENT) / MB)
        v["codes.py_received_mb"] = per_span("catalog.write",
                                             lambda j: att.named(att.tasks(j), PY_RECV) / MB)
        v["catalog.write_s"] = med_s("catalog.write")
        v["catalog.bytes_written_mb"] = per_span(
            "catalog.write", lambda j: sum(t.out_bytes for t in att.tasks(j)) / MB)

    if "spatial_join.call" in by_key:
        v["spatial_join.call_s"] = med_s("spatial_join.call")
        v["spatial_join.shuffle_mb"] = per_span("spatial_join.call", shuffle_mb)
        v["spatial_join.candidate_pairs"] = per_span("spatial_join.call", att.join_rows)
        if v["spatial_join.candidate_pairs"]:
            v["spatial_join.refine_ratio"] = wl.radius_expect[0] / v["spatial_join.candidate_pairs"]
        v["dedup.call_s"] = med_s("dedup.call")
        v["dedup.tasks"] = per_span("dedup.call", lambda j: len(att.tasks(j)))
        v["dedup.shuffle_mb"] = per_span("dedup.call", shuffle_mb)
        v["dedup.candidate_pairs"] = per_span("dedup.call", att.join_rows)
        v["similarity.call_s"] = med_s("similarity.call")
        v["similarity.shuffle_mb"] = per_span("similarity.call", shuffle_mb)
        v["similarity.task_max_s"] = per_span("similarity.call", task_max)
        v["raster.call_s"] = med_s("raster.call")
        v["raster.shuffle_mb"] = per_span("raster.call", shuffle_mb)
        v["raster.task_max_s"] = per_span("raster.call", task_max)

    # layer table: busy and self time per layer over the timed ops
    children = {s.id: att.stage_children(s.id) for s in tracer.spans}
    wall = sum(op_walls.values())
    table: dict[str, dict] = {}
    for s in timed:
        row = table.setdefault(s.layer, {"layer": s.layer, "count": 0, "busy_s": 0.0,
                                         "self_s": 0.0})
        row["count"] += 1
        row["busy_s"] += s.seconds
        row["self_s"] += self_seconds(s, children[s.id])
    covered = 0.0
    for op in op_walls:
        covered += union_seconds([(s.start, s.end) for s in timed if s.op == op])
    unattributed = max(wall - covered, 0.0)
    rows = sorted(table.values(), key=lambda r: -r["busy_s"])
    rows.append({"layer": "unattributed", "count": len(op_walls), "busy_s": unattributed,
                 "self_s": unattributed})
    for r in rows:
        r["share"] = r["busy_s"] / wall if wall else 0.0
    v["trace.unattributed_frac"] = unattributed / wall if wall else 0.0
    for name, value in e2e.items():
        v[f"trace.overhead_frac.{name}"] = value / untraced_e2e[name] - 1
    undeclared = sorted(set(v) - set(units))
    if undeclared:
        raise ValueError(f"metrics not declared in BENCHMARK.json per_layer: {undeclared}")
    metrics = {name: {"value": float(v[name]), "unit": unit} for name, unit in units.items()}
    return metrics, rows, children
