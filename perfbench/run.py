#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on one Graft.session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (build.py), generates the
workload's inputs from the seed, runs the harness JVM (perfbench.Main),
checks every op's output, and prints the metrics. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The lines before it give the run context and per-workload detail.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import xml.etree.ElementTree as ET

import build
import datagen
import metrics
import studygen
from oracle import Oracle

# The first name, in sorted order, of each graft.queries object that has at
# least nine queries: 10 objects holding 397 of the 427 queries when the
# list was fixed (later queries do not join it).
FIXED_COST_QUERIES = [
    "dq10_keys", "iv1_inverted", "d10_decontaminate", "dq17_nullpat",
    "mm10_phash_clusters", "pipe3_hybrid", "gr10_modularity", "pv10_kmap",
    "v1_population", "n10_copy"]
# The two queries with the highest sf0.1/sf0.001 time ratio on 4 cores
# (gr2 13.8x, gr7 11.9x), both over the co-purchase graph, whose builders
# hold the checkpoints ROADMAP item 3 revisits. Measured in this harness on
# the generated tables, a pass at sf 0.05 takes 2.7 times a pass at
# sf 0.001, so data work is most of it (perfbench/README.md). The dedup
# queries read `documents`, which has a 500-row floor up to sf 0.01.
DATA_HEAVY_QUERIES = ["gr2_triangles", "gr7_clustercoef"]

WORKLOADS = {
    "ops_fixed_cost": {"kind": "ops", "sf": 0.001, "queries": FIXED_COST_QUERIES},
    "ops_data_heavy": {"kind": "ops", "sf": 0.05, "queries": DATA_HEAVY_QUERIES},
    "clinical_study": {"kind": "clinical", "subjects": 150},
}
TRACE_DIR = os.path.join(build.BUILD_DIR, "traces")
HEAP = "3g"
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "retained_heap_mb": "MB"}
# A run's window is marked as shared with other load when the ambient-load
# sentinel reads this much slower or faster at its end than at its start,
# or when more than STEAL_LIMIT of the machine's CPU time was stolen by the
# host during the timed window.
POLLUTED_RATIO = 1.25
STEAL_LIMIT = 0.05


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classpath, work, argv, timeout):
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--cpus", str(cpus)] + argv)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {timeout:.0f}s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness exited with {rc}")
    return cpus


def check_ops(result, data_dir):
    """op id -> True, or the reason the output is wrong."""
    oracle = Oracle(data_dir, result["oracles"])
    verdicts = {}
    for o in result["ops"]:
        if o.get("error"):
            continue
        why = oracle.check(o["name"], o["observed"]["path"])
        verdicts[o["id"]] = True if why is None else why
    return verdicts


def check_clinical(result, manifest):
    """op id -> True, or the reason the op's observed result is wrong.
    Readback counts must equal the generated rows (SUPP rows included),
    define.xml must list every written dataset, and the V4 (partial date),
    V8 (CT) and X1 (orphan subject) counts of the planted variables must
    equal the planted ones."""
    rows = dict(manifest["rows"])
    for dom, cfgs in manifest["supp"].items():
        rows["SUPP" + dom] = rows[dom] * len(cfgs)
    planted = manifest["planted"]
    want_issues = {}
    for check, kind in (("partial_dates", "NonIso8601"),
                        ("ct_violations", "InvalidCtValue")):
        for dom, var in manifest["planted_variables"][check].items():
            want_issues[f"{dom}:{var}:{kind}"] = planted[check][dom]
    want_cross = {f"{d}:USUBJID:SubjectNotInDm": n
                  for d, n in planted["orphan_subjects"].items()}
    verdicts = {}
    for o in result["ops"]:
        if o.get("error"):
            continue
        obs, why = o["observed"], None
        if o["kind"] == "validate":
            want = {k: v for k, v in want_issues.items()
                    if k.startswith(o["name"] + ":")}
            got = {k: obs["issues"].get(k, 0) for k in want}
            why = None if got == want else f"issues {got} != planted {want}"
        elif o["kind"] == "validate_cross":
            why = None if obs["issues"] == want_cross else \
                f"cross issues {obs['issues']} != planted {want_cross}"
        elif o["kind"] == "readback":
            why = None if obs["rows"] == rows else f"rows {obs['rows']} != {rows}"
        elif o["kind"] == "export":
            datasets = {f[:-4].upper() for f in obs["written"] if f.endswith(".xpt")}
            tree = ET.parse(obs["define"])
            defined = {e.get("Name") for e in tree.iter()
                       if e.tag.endswith("ItemGroupDef")}
            why = None if datasets == set(rows) and datasets <= defined else \
                f"xpt {sorted(datasets)}, define {sorted(defined)}"
        elif o["kind"] == "preview":
            why = None if obs["rows"] == min(50, rows[o["name"]]) else "short page"
        verdicts[o["id"]] = True if why is None else why
    return verdicts


def end_to_end(result):
    return {
        "setup_s": metrics.median(result["setup_s"]),
        "wall_s": metrics.median(result["passes"]),
        "cpu_s": result["cpu_s"] / len(result["passes"]),
        "retained_heap_mb": result["retained_heap_mb"],
    }


def detail(result, spec):
    """Workload-specific figures printed beside the contract line."""
    timed = result["ops"]
    out = {"passes": result["passes"], "ops": len(timed), "gc_s": result["gc_s"],
           "op_p50_s": metrics.median([o["seconds"] for o in timed]),
           "ops_per_s": len(timed) / sum(result["passes"])}
    t = metrics.tail([o["seconds"] for o in timed])
    out["op_tail"] = ({"value_s": t[0], "percentile": t[1], "samples": t[2]}
                      if t else {"value_s": None, "samples": len(timed),
                                 "why": "fewer than 20 samples"})
    if spec["kind"] == "clinical":
        out.update(metrics.session_metrics(timed))
    else:
        by = {}
        for o in timed:
            by.setdefault(o["name"], []).append(o["seconds"])
        out["query_p50_s"] = {k: metrics.median(v) for k, v in sorted(by.items())}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = WORKLOADS[args.workload]
    t_start = time.time()
    try:
        classpath, source_sha = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    work = os.path.join(build.BUILD_DIR, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if spec["kind"] == "ops":
            data = os.path.join(work, "data")
            datagen.generate(data, spec["sf"], args.seed)
            inputs = ["--data", data, "--queries", ",".join(spec["queries"])]
        else:
            study = os.path.join(work, "study")
            manifest = studygen.generate(study, spec["subjects"], args.seed)
            inputs = ["--study", study]
        log(f"inputs {time.time() - t_start:.1f}s")
        # a traced run measures the same pass untraced first, then traced:
        # the per-layer figures come from the second, and the difference
        # between the two is the tracing overhead
        results = []
        for trace in ([0, 1] if args.trace else [0]):
            out = os.path.join(work, f"out-{trace}")
            t0 = time.time()
            cpus = run_jvm(classpath, work, [
                "--workload", spec["kind"], "--seconds", str(args.seconds),
                "--trace", str(trace),
                "--out", out] + inputs, RUN_LIMIT_S - (time.time() - t_start))
            log(f"harness {time.time() - t0:.1f}s")
            with open(os.path.join(out, "result.json")) as f:
                result = json.load(f)
            if trace:  # keep the traced run's spans and jobs for reading
                os.makedirs(TRACE_DIR, exist_ok=True)
                shutil.copy(os.path.join(out, "result.json"), os.path.join(
                    TRACE_DIR, f"{args.workload}-{args.seed}.json"))
            t0 = time.time()
            verdicts = (check_ops(result, data) if spec["kind"] == "ops"
                        else check_clinical(result, manifest))
            log(f"checks {time.time() - t0:.1f}s")
            results.append((result, verdicts))
    except Exception as e:  # any failure of the run itself: no result line
        log(f"run failed: {type(e).__name__}: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = failed = 0
    for result, verdicts in results:
        a, f = metrics.account(result["ops"], verdicts)
        attempted, failed = attempted + a, failed + f
        for o in result["ops"]:
            why = o.get("error") or verdicts.get(o["id"])
            if why is not True:
                log(f"FAILED op {o['id']} {o['kind']} {o['name']}: {why}")
    result = results[-1][0]
    context = dict(result["context"], workload=args.workload, seed=args.seed,
                   source_sha256=source_sha, failed_ratio=failed / attempted)
    ratio = context["sentinel_after_s"] / context["sentinel_before_s"]
    context["polluted"] = (not 1 / POLLUTED_RATIO <= ratio <= POLLUTED_RATIO
                           or context["steal_share"] > STEAL_LIMIT)
    print("context " + json.dumps(context, sort_keys=True))
    print("detail " + json.dumps(detail(result, spec), sort_keys=True))
    if args.trace:
        values = metrics.layers(result, cpus)
        untraced = metrics.median(results[0][0]["passes"])
        values["trace.overhead_ratio"] = values["trace.wall_s"] / untraced - 1
        units = LAYER_UNITS
    else:
        values = end_to_end(result)
        units = END_TO_END
    out = {name: {"value": values[name], "unit": units[metrics.check_name(name)]}
           for name in units}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def _layer_units():
    units = {}
    for name in ("queries.build_s", "catalyst.plan_s", "exec.run_s",
                 "spark.task_busy_s", "spark.task_overhead_s", "gc.s",
                 "shuffle.fetch_wait_s", "session.driver_self_s",
                 "session.create_s", "session.preview_p50_s",
                 "session.validate_p50_s", "session.export_s",
                 "session.snapshot_s", "sinks.readback_s", "trace.self_s",
                 "trace.wall_s"):
        units[name] = "s"
    for name in ("queries.build_jobs", "spark.jobs", "spark.stages",
                 "spark.tasks", "spark.failed_tasks"):
        units[name] = "count"
    for name in ("spark.stages_per_query", "spark.empty_task_ratio",
                 "spark.core_util", "trace.overhead_ratio"):
        units[name] = "ratio"
    for name in ("scan.input_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
                 "spill.bytes", "mem.peak_exec_bytes", "materialize.bytes",
                 "materialize.resident_after_bytes", "sinks.bytes_written"):
        units[name] = "bytes"
    units["session.export_rows_per_s"] = "1/s"
    for module in ("sources", "operators", "sinks"):
        units.update({f"{module}.jobs": "count", f"{module}.busy_s": "s",
                      f"{module}.task_s": "s", f"{module}.shuffle_bytes": "bytes"})
    return units


LAYER_UNITS = _layer_units()

if __name__ == "__main__":
    sys.exit(main())
