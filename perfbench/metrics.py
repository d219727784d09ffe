"""Turns one client artifact (the JSON the JVM writes) into metrics.

End-to-end metrics come from the untraced run, per-layer metrics from
the traced one; README.md defines each. Only ops that completed and
passed the correctness gate contribute latency samples.
"""
import math
import statistics

MB = 1e6
TAIL_MIN_BEYOND = 10


def tail(samples, q):
    """The q-quantile (nearest rank), or None unless at least ten samples
    lie beyond it."""
    n = len(samples)
    if n == 0:
        return None
    rank = math.ceil(q * n)
    if n - rank < TAIL_MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def assign_parents(spans):
    """Links each span to the innermost span of the same op that contains
    its start: an op holds op.construct and op.execute; those hold
    catalyst.action and catalyst.plan; actions hold spark.job."""
    rank = {"op": 0, "op.construct": 1, "op.execute": 1, "catalyst.action": 2, "catalyst.plan": 3, "spark.job": 3}
    by_op = {}
    for i, s in enumerate(spans):
        by_op.setdefault(s["op"], []).append(i)
    parent = [None] * len(spans)
    for idx in by_op.values():
        for i in idx:
            s, best = spans[i], None
            for j in idx:
                p = spans[j]
                if j != i and rank[p["name"]] < rank[s["name"]] and p["start"] <= s["start"] < p["end"]:
                    if best is None or rank[p["name"]] > rank[spans[best]["name"]]:
                        best = j
            parent[i] = best
    return parent


def self_times(spans, parent):
    """Per span: duration minus the part of it its children cover;
    `parent` is what assign_parents returns."""
    children = {}
    for i, p in enumerate(parent):
        if p is not None:
            children.setdefault(p, []).append(i)
    out = []
    for i, s in enumerate(spans):
        covered = union_length([(spans[c]["start"], spans[c]["end"]) for c in children.get(i, [])], s["start"], s["end"])
        out.append((s["end"] - s["start"]) - covered)
    return out


def timed(ops):
    """The ops of the timed phase; warm-up ops (pass -1) are only checked."""
    return [o for o in ops if o["pass"] >= 0]


def _ok_walls(ops, family=None):
    return [o["wall_s"] for o in ops if o["ok"] and (family is None or o["family"] == family)]


def end_to_end(a):
    ops = timed(a["ops"])
    attempted = len(ops)
    ok = [o for o in ops if o["ok"]]
    t = a["tasks"]
    return {
        "setup_s": (statistics.median(a["setup_s"]), "s"),
        "ops_per_s": (len(ok) / a["timed_s"], "1/s"),
        "shuffle_mb_per_op": (t["shuffle_write_bytes"] / MB / attempted, "MB"),
        "cached_mb": (a["cached_mb"], "MB"),
    }


def report(a):
    """Figures kept in the artifact and printed to stderr but not in the
    result line: executor CPU per op, latency percentiles (a tail one
    only where ten samples lie beyond it), write latencies, failures by
    name, and time per op family."""
    ops = timed(a["ops"])
    walls, writes = _ok_walls(ops), _ok_walls(ops, "cypher.write")
    failed = [o for o in a["ops"] if not o["ok"]]
    families = {}
    for o in ops:
        families[o["family"]] = families.get(o["family"], 0.0) + o["wall_s"]
    return {
        "samples": len(walls),
        "cpu_s_per_op": a["tasks"]["cpu_ns"] / 1e9 / len(ops),
        "op_p50_s": statistics.median(walls) if walls else None,
        "op_p90_s": tail(walls, 0.9),
        "write_samples": len(writes),
        "write_p50_s": statistics.median(writes) if writes else None,
        "write_p90_s": tail(writes, 0.9),
        "failed_frac": len(failed) / len(a["ops"]),
        "failed_ops": sorted({f"{o['name']}: {o['error']}" for o in failed}),
        "family_s": families,
        "plan_nodes_by_session": _plan_nodes(ops),
    }


def _plan_nodes(ops):
    """Logical-plan node counts after each write, one list per session."""
    sessions = {}
    for o in ops:
        if o["family"] == "cypher.write":
            sessions.setdefault((o["pass"], o["name"].split(".")[0]), []).append(o["plan_nodes"])
    return list(sessions.values())


def per_layer(a):
    ops = timed(a["ops"])
    n = len(ops)
    tr = a["trace"]
    spans = tr["spans"]
    parent = assign_parents(spans)
    for s, p in zip(spans, parent):
        s["parent"] = p
    selfs = self_times(spans, parent)
    jobs = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs.setdefault(s["op"], []).append((s["start"], s["end"]))
    ids = {o["id"] for o in ops}
    op_span = {s["op"]: s for s in spans if s["name"] == "op" and s["op"] in ids}
    job_s, driver_only = {}, {}
    for op, s in op_span.items():
        covered = union_length(jobs.get(op, []), s["start"], s["end"]) / 1e3
        job_s[op] = covered
        driver_only[op] = (s["end"] - s["start"]) / 1e3 - covered
    plan_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "catalyst.plan" and s["op"] in op_span) / 1e3
    actions = [x for x in tr["actions"] if x["op"] in op_span]
    checkpoints = [x for x in actions if x["name"] in ("checkpoint", "localCheckpoint")]
    per_op = [tr["tasks"].get(str(op), {}) for op in op_span]

    def task_sum(key, scale):
        return sum(t.get(key, 0) for t in per_op) / scale

    run_s, all_job_s = task_sum("run_ms", 1e3), sum(job_s.values())
    setups, builds = a["setup_s"], a["graph_build_s"]
    writes = [o for o in ops if o["family"] == "cypher.write"]
    metrics = {
        "graph.build_s": (statistics.median(builds), "s"),
        "setup.inputs_s": (statistics.median([s - b for s, b in zip(setups[1:], builds[1:])] or [setups[0] - builds[0]]), "s"),
        "setup.cached_mb": (a["setup_cached_mb"], "MB"),
        "session.start_s": (a["session_s"], "s"),
        "op.construct_s": (sum(o["construct_s"] for o in ops) / n, "s"),
        "op.execute_s": (sum(o["execute_s"] for o in ops) / n, "s"),
        "catalyst.plan_s": (plan_s / n, "s"),
        "catalyst.actions": (len(actions) / n, "count"),
        "algorithms.checkpoints": (len(checkpoints) / n, "count"),
        "scheduler.jobs": (sum(len(v) for k, v in jobs.items() if k in op_span) / n, "count"),
        "scheduler.stages": (sum(tr["stages"].get(str(op), 0) for op in op_span) / n, "count"),
        "scheduler.tasks": (task_sum("tasks", 1) / n, "count"),
        "scheduler.job_s": (all_job_s / n, "s"),
        "driver.only_s": (sum(driver_only.values()) / n, "s"),
        "executor.run_s": (run_s / n, "s"),
        "executor.cpu_s": (task_sum("cpu_ns", 1e9) / n, "s"),
        "executor.busy_frac": (run_s / (all_job_s * a["cores"]) if all_job_s else 0.0, "ratio"),
        "scan.read_mb": (task_sum("input_bytes", MB) / n, "MB"),
        "shuffle.write_mb": (task_sum("shuffle_write_bytes", MB) / n, "MB"),
        "shuffle.read_mb": (task_sum("shuffle_read_bytes", MB) / n, "MB"),
        "spill.disk_mb": (task_sum("disk_spill_bytes", MB) / n, "MB"),
        "jvm.driver_gc_s": (a["driver_gc_s"], "s"),
        "cypher.write_plan_nodes": (sum(o["plan_nodes"] for o in writes) / len(writes) if writes else 0.0, "count"),
        "trace.ops_per_s": (sum(1 for o in ops if o["ok"]) / a["timed_s"], "1/s"),
    }
    detail = {
        "self_s": _sum_by_name(spans, selfs),
        "cypher_parse_s": sum(o["parse_s"] for o in ops),
        "cypher_compile_s": sum(o["construct_s"] - o["parse_s"] for o in ops if o["family"] == "cypher.readback"),
        "executor_gc_s": task_sum("gc_ms", 1e3),
        "shuffle_fetch_wait_s": task_sum("fetch_wait_ms", 1e3),
        "spill_mem_mb": task_sum("mem_spill_bytes", MB),
        "ops": _op_breakdown(ops, job_s, driver_only),
    }
    return metrics, detail


def _sum_by_name(spans, values):
    out = {}
    for s, v in zip(spans, values):
        out[s["name"]] = out.get(s["name"], 0.0) + v / 1e3
    return out


def _op_breakdown(ops, job_s, driver_only):
    """Per op name: summed wall, job-covered and driver-only seconds."""
    out = {}
    for o in ops:
        row = out.setdefault(o["name"], {"wall_s": 0.0, "job_s": 0.0, "driver_only_s": 0.0})
        row["wall_s"] += o["wall_s"]
        row["job_s"] += job_s.get(o["id"], 0.0)
        row["driver_only_s"] += driver_only.get(o["id"], 0.0)
    return out
