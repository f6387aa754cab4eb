"""Metric arithmetic shared by the runner and its tests: the percentile
rule, the metric-name grammar, op accounting and the per-layer roll-up of a
traced run."""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def check_name(name):
    """Metric names follow `[A-Za-z0-9_.-]+`, start with a letter or digit
    and have at most 64 characters."""
    if not NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile of PERCENTILES that has at least `beyond`
    samples above its nearest-rank position, as (value, percentile, n).
    None when no percentile qualifies (fewer than 2*beyond samples)."""
    xs = sorted(samples)
    n = len(xs)
    for p in PERCENTILES:
        rank = max(1, math.ceil(p * n / 100 - 1e-9))
        if n - rank >= beyond:
            return xs[rank - 1], p, n
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def account(ops, verdicts):
    """(attempted, failed): every op counts as attempted; an op fails when
    it raised or its output check says so. An op without a verdict fails —
    nothing is dropped."""
    failed = sum(1 for o in ops
                 if o.get("error") or verdicts.get(o["id"]) is not True)
    return len(ops), failed


def module_of(site, kind):
    """The graft module a Spark job belongs to, from the innermost `graft.`
    frame of its call site. Jobs with no graft frame ran from a harness call
    on a frame the program returned; they belong to the layer that built
    that frame: a preview is the operators' normalization projection, a
    query result belongs to the query builders."""
    m = re.match(r"graft\.([a-z]+)\.", site)
    if m:
        return m.group(1)
    if re.match(r"graft\.Graft\$\.(table|events|fanOutSmallScan)", site):
        return "sources"
    return {"preview": "operators", "query": "queries"}.get(kind, "harness")


def _cover_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layers(result, cpus):
    """Per-layer metrics of a traced run, per pass unless named otherwise."""
    ops = {o["id"]: o for o in result["ops"]}
    walls = result["passes"]
    passes = max(1, len(walls))
    jobs = [j for j in result["jobs"]
            if j["group"].split("/")[0].isdigit()
            and int(j["group"].split("/")[0]) in ops]
    for j in jobs:
        op_id, _, phase = j["group"].partition("/")
        j["op"], j["phase"] = int(op_id), phase
        j["module"] = module_of(j["site"], ops[j["op"]]["kind"])

    def per_pass(x):
        return x / passes

    def total(key, js=jobs):
        return sum(j[key] for j in js)

    tasks = total("tasks")
    queries = [o for o in ops.values() if o["kind"] == "query"]
    # Catalyst planning of the query executions each query op ran, from
    # their own planning trackers, attributed by start time: to the op, and
    # to its run phase (the result write), which planning is part of
    plannings = result["plannings"]

    def plan_s(start, end):
        return sum(p["plan_ms"] for p in plannings if start <= p["start_ms"] <= end) / 1e3

    run_spans = [s for s in result["spans"] if s["name"] == "run"
                 and s["op"] in ops and ops[s["op"]]["kind"] == "query"]
    run_s = sum(o["phases"].get("run", 0) for o in queries)
    out = {
        "queries.build_s": per_pass(sum(o["phases"].get("build", 0) for o in queries)),
        "queries.build_jobs": per_pass(sum(1 for j in jobs if j["phase"] == "build")),
        "catalyst.plan_s": per_pass(sum(plan_s(o["start_ms"], o["end_ms"]) for o in queries)),
        "exec.run_s": per_pass(run_s - sum(plan_s(s["start_ms"], s["end_ms"]) for s in run_spans)),
        "spark.jobs": per_pass(len(jobs)),
        "spark.stages": per_pass(total("stages")),
        "spark.tasks": per_pass(tasks),
        "spark.stages_per_query": total("stages") / max(1, len(queries) or len(ops)),
        "spark.empty_task_ratio": total("empty_tasks") / max(1, tasks),
        "spark.task_busy_s": per_pass(total("run_ms") / 1e3),
        "spark.core_util": total("run_ms") / 1e3 / max(1e-9, sum(walls) * cpus),
        "spark.task_overhead_s": per_pass((total("task_wall_ms") - total("run_ms")) / 1e3),
        "spark.failed_tasks": per_pass(total("failed_tasks")),
        "gc.s": per_pass(result["gc_s"]),
        "scan.input_bytes": per_pass(total("input_bytes")),
        "shuffle.write_bytes": per_pass(total("shuffle_write_bytes")),
        "shuffle.read_bytes": per_pass(total("shuffle_read_bytes")),
        "shuffle.fetch_wait_s": per_pass(total("fetch_wait_ms") / 1e3),
        "spill.bytes": per_pass(total("spill_bytes")),
        "mem.peak_exec_bytes": max([j["peak_exec_bytes"] for j in jobs] or [0]),
        "materialize.bytes": max([v for k, v in result["block_peaks"].items()
                                  if k.isdigit() and int(k) in ops] or [0]),
        "materialize.resident_after_bytes": max(
            [o["observed"].get("resident_after_bytes", 0) for o in ops.values()] or [0]),
    }
    for module in ("sources", "operators", "sinks"):
        js = [j for j in jobs if j["module"] == module]
        out[f"{module}.jobs"] = per_pass(len(js))
        out[f"{module}.busy_s"] = per_pass(sum(j["end_ms"] - j["start_ms"] for j in js) / 1e3)
        out[f"{module}.task_s"] = per_pass(total("run_ms", js) / 1e3)
        out[f"{module}.shuffle_bytes"] = per_pass(total("shuffle_write_bytes", js))

    session_ops = [o for o in ops.values() if o["kind"] != "query"]
    self_ms = 0
    for o in session_ops:
        spans = [(max(j["start_ms"], o["start_ms"]), min(j["end_ms"], o["end_ms"]))
                 for j in jobs if j["op"] == o["id"] and j["end_ms"] >= 0]
        self_ms += (o["end_ms"] - o["start_ms"]) - _cover_ms([s for s in spans if s[0] < s[1]])
    out["session.driver_self_s"] = per_pass(self_ms / 1e3)
    sm = session_metrics(session_ops)
    for name in ("create_s", "preview_p50_s", "validate_p50_s", "export_s",
                 "export_rows_per_s", "snapshot_s"):
        out[f"session.{name}"] = sm[name]
    out["sinks.bytes_written"] = sm["bytes_written"]
    out["sinks.readback_s"] = sm["readback_s"]
    out["trace.self_s"] = per_pass(result["trace_self_s"])
    out["trace.wall_s"] = median(walls)
    return out


def session_metrics(ops):
    """Clinical-path phase figures from the session ops of one window
    (0 where the window has no such op)."""
    def of(kind):
        return [o for o in ops if o["kind"] == kind and not o.get("error")]
    exports = of("export")
    export_s = median([o["seconds"] for o in exports])
    rows = [sum(o["observed"]["rows"].values()) for o in of("readback")]
    return {
        "create_s": median([o["seconds"] for o in of("create")]),
        "preview_p50_s": median([o["seconds"] for o in of("preview")]),
        "validate_p50_s": median([o["seconds"] for o in of("validate")]),
        "export_s": export_s,
        "export_rows_per_s": median(rows) / export_s if export_s else 0.0,
        "snapshot_s": median([o["seconds"] for o in of("save")]),
        "readback_s": median([o["seconds"] for o in of("readback")]),
        "bytes_written": median([o["observed"]["bytes"] for o in exports]),
    }
