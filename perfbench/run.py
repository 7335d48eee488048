#!/usr/bin/env python3
"""graft's benchmark: closed-loop workloads over the project's test tables.

    python3 perfbench/run.py --workload adhoc_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles graft
and the benchmark (sbt, offline); later runs reuse the build until a source
file changes. Each run starts one JVM sized from the host (cores from
`nproc`; heap half of MemTotal, clamped to 2-8 GiB), sets up several times
and reports the median set-up, checks every distinct op's output against
its DuckDB oracle outside the timed window, then measures whole closed-loop
passes for at least `--seconds` (and at least the workload's minimum number
of passes). `--trace 0` reports the end-to-end metrics; `--trace 1` also
runs traced passes and reports the per-layer metrics. The last stdout line
is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. The exit code is nonzero
when an output check fails or the run cannot be made.

Everything a run writes stays under `perfbench/.work/`: the build stamp,
the per-run directory (index root, warehouse, Spark scratch; removed after
the run), the oracle cache and, per run, the full result and the trace
spans under `results/`. The test tables are read from `$GRAFT_TESTDATA`
(default `/root/testdata`, see TESTDATA.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

# The project's read-only test tables (see TESTDATA.md).
TESTDATA = os.environ.get("GRAFT_TESTDATA", "/root/testdata")


# name -> (test-table scale, JVM time limit in seconds, why the workload is
# in the benchmark). The gated workloads must end well inside three minutes.
WORKLOADS = {
    "adhoc_queries": ("sf0.1", 170, "13 short registry queries, 1 client: fixed per-query "
                                    "overhead (Catalyst phases, job scheduling, eager probes) "
                                    "dominates"),
    "loops_concurrent": ("sf0.01", 170, "4 loop-heavy operators, 2 clients on one session: "
                                        "per-iteration cost, and the graph loops' JVM-wide "
                                        "lock"),
    "report_export": ("sf0.1", 900, "the analyze-to-export path, 1 client, report and export "
                                    "alternating; the export fails under the Tier-1 heap "
                                    "(UNABLE_TO_ACQUIRE_MEMORY)"),
}

END_TO_END = {
    "setup_s": "s", "first_op_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "report_p50_s": "s", "export_p50_s": "s", "error_rate": "fraction",
    "peak_heap_mb": "MiB",
}

LOOP_QUERIES = ["rel_connected_components", "rel_label_propagation",
                "sim_nndescent_topk", "dd_dedup_pipeline"]
IG_BLOCKS = ["enrich", "engagement_metrics", "top_posts", "partnership",
             "collaborations", "fake_followers", "personality", "niche",
             "location", "hashtags"]
ADHOC_FAMILIES = ["agg", "win", "rel", "ta", "txt", "sim", "mm"]

PER_LAYER = {
    "sessions.start_s": "s", "sessions.concurrency_gain": "ratio",
    "sources.first_scan_s": "s", "sources.index_builds_setup": "count",
    "sources.index_mb": "MiB", "sources.index_builds_timed": "count",
    "op.build_s": "s", "op.execute_s": "s",
    "plans.analysis_ms_per_op": "ms", "plans.optimization_ms_per_op": "ms",
    "plans.planning_ms_per_op": "ms", "plans.executions_per_op": "count",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count", "exec.exchanges_per_op": "count",
    "exec.shuffle_write_mb_per_op": "MiB", "exec.shuffle_read_mb_per_op": "MiB",
    "exec.spill_mb_per_op": "MiB", "exec.peak_task_mem_mb": "MiB",
    "exec.failed_tasks": "count", "exec.task_busy_s_per_op": "s",
    "exec.slot_idle_frac": "fraction",
    **{f"operators.{q.split('_', 1)[1]}_s": "s" for q in LOOP_QUERIES},
    "operators.jobs_per_loop_query": "count",
    "operators.checkpoint_jobs_per_loop_query": "count",
    **{f"ig.block.{b}_s": "s" for b in IG_BLOCKS},
    "ig.assemble_s": "s", "ig.report_build_s": "s",
    "ig.export.jsonl_s": "s", "ig.export.csv_s": "s", "ig.export.mb_written": "MiB",
    "ig.export.report_passes": "count",
    **{f"adhoc.{f}_s": "s" for f in ADHOC_FAMILIES},
    "trace.overhead_frac": "fraction",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- host sizing -----------------------------------------------------------

def host_cores():
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True,
                                  env=env, check=True).stdout.strip())
    except (OSError, subprocess.CalledProcessError, ValueError):
        return os.cpu_count() or 1


def host_heap_gib():
    """Half of MemTotal in whole GiB, clamped to 2-8 (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return min(8, max(2, g))
    except OSError:
        pass
    return 2


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles graft and the benchmark when a source changed; returns the
    runtime classpath."""
    build_dir = os.path.join(WORK, "build")
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the benchmark (sbt) ...")
    t0 = time.time()
    # resolve from the local caches only, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    return sum(xs) / len(xs) if xs else None


def tail(latencies):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return None, None, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def op_latency(o):
    return (o["end_ms"] - o["start_ms"]) / 1000.0


def throughput(phase):
    ok = [o for o in phase["ops"] if o["error"] is None]
    wall = (phase["end_ms"] - phase["start_ms"]) / 1000.0
    return len(ok) / wall if wall > 0 else None


def end_to_end(res, failed, attempted):
    win = res["phases"]["window"]
    ok = [o for o in win["ops"] if o["error"] is None]
    lat = [op_latency(o) for o in ok]
    tv, tp, tn = tail(lat)
    by_kind = lambda k: median([op_latency(o) for o in ok if o["kind"] == k])
    m = {
        "setup_s": median([s["total_s"] for s in res["setup"]]),
        "first_op_s": (res["first_timed_op_ms"] - res["process_start_ms"]) / 1000.0,
        "ops_per_s": throughput(win),
        "op_p50_s": median(lat),
        "op_tail_s": tv,
        "report_p50_s": by_kind("ig_report_synth") if res["workload"] == "report_export" else None,
        "export_p50_s": by_kind("export") if res["workload"] == "report_export" else None,
        "error_rate": failed / attempted,
        "peak_heap_mb": win["peak_heap_mb"],
    }
    extra = {"op_tail_pct": tp, "op_samples": tn,
             "setup_runs_s": [s["total_s"] for s in res["setup"]]}
    return m, extra


def self_times(spans):
    """Per layer name: summed self time (duration minus the part of it its
    children cover) in seconds."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        ivs = sorted((max(a, c["start_ms"]), min(b, c["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for x, y in ivs:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, (b - a) - covered) / 1000.0
    return out


def per_layer(res, spans):
    cores = res["cores"]
    phases = res["phases"]
    tr = phases["traced"]
    ops = [o for o in tr["ops"] if o["error"] is None]
    stats = res.get("op_stats", {})
    st = [stats[o["id"]] for o in ops if o["id"] in stats]
    per_op = lambda k, scale=1.0: mean([s[k] * scale for s in st])
    mib = 1.0 / 1048576.0
    setup = res["setup"]
    m = dict.fromkeys(PER_LAYER)
    m["sessions.start_s"] = median([s["session_s"] for s in setup])
    m["sources.first_scan_s"] = median([s["first_scan_s"] for s in setup])
    m["sources.index_builds_setup"] = res["index_builds"]
    m["sources.index_mb"] = res["index_bytes"] * mib
    m["sources.index_builds_timed"] = sum(p["index_builds"] for p in phases.values())
    m["op.build_s"] = median([(o["build_end_ms"] - o["start_ms"]) / 1000.0 for o in ops])
    m["op.execute_s"] = median([(o["end_ms"] - o["build_end_ms"]) / 1000.0 for o in ops])
    m["plans.analysis_ms_per_op"] = per_op("analysis_ms")
    m["plans.optimization_ms_per_op"] = per_op("optimization_ms")
    m["plans.planning_ms_per_op"] = per_op("planning_ms")
    m["plans.executions_per_op"] = per_op("executions")
    m["exec.jobs_per_op"] = per_op("jobs")
    m["exec.stages_per_op"] = per_op("stages")
    m["exec.tasks_per_op"] = per_op("tasks")
    m["exec.exchanges_per_op"] = per_op("exchanges")
    m["exec.shuffle_write_mb_per_op"] = per_op("shuffle_write_bytes", mib)
    m["exec.shuffle_read_mb_per_op"] = per_op("shuffle_read_bytes", mib)
    m["exec.spill_mb_per_op"] = per_op("spill_bytes", mib)
    m["exec.peak_task_mem_mb"] = max([s["peak_task_mem"] * mib for s in st], default=None)
    m["exec.failed_tasks"] = sum(s["failed_tasks"] for s in st)
    m["exec.task_busy_s_per_op"] = per_op("busy_ms", 0.001)
    wall = (tr["end_ms"] - tr["start_ms"]) / 1000.0
    busy = sum(s["busy_ms"] for s in st) / 1000.0
    m["exec.slot_idle_frac"] = 1.0 - busy / (cores * wall) if wall > 0 else None

    # ops/s with 2 clients over ops/s with 1, both traced
    alt = next((p for k, p in phases.items() if k.startswith("traced_clients")), None)
    if alt is not None:
        two, one = (tr, alt) if tr["clients"] == 2 else (alt, tr)
        m["sessions.concurrency_gain"] = throughput(two) / throughput(one)

    # the loop operators, from the single-client traced pass
    single = tr if tr["clients"] == 1 else alt
    if single is not None:
        loop_ops = [o for o in single["ops"] if o["kind"] in LOOP_QUERIES and o["error"] is None]
        for q in LOOP_QUERIES:
            m[f"operators.{q.split('_', 1)[1]}_s"] = median(
                [op_latency(o) for o in loop_ops if o["kind"] == q])
        lst = [stats[o["id"]] for o in loop_ops if o["id"] in stats]
        if lst:
            m["operators.jobs_per_loop_query"] = mean([s["jobs"] for s in lst])
            m["operators.checkpoint_jobs_per_loop_query"] = mean([s["checkpoint_jobs"] for s in lst])

    blocks = res.get("ig_blocks", {})
    for b in IG_BLOCKS:
        if b in blocks and blocks[b]["error"] is None:
            m[f"ig.block.{b}_s"] = blocks[b]["seconds"]
    if "assemble" in blocks and blocks["assemble"]["error"] is None:
        m["ig.assemble_s"] = blocks["assemble"]["seconds"]
    reports = [o for o in ops if o["kind"] == "ig_report_synth"]
    if reports:
        m["ig.report_build_s"] = median([(o["build_end_ms"] - o["start_ms"]) / 1000.0 for o in reports])
    exports = [o for o in ops if o["kind"] == "export"]
    if exports:
        m["ig.export.jsonl_s"] = median([o["parts"]["jsonl_s"] for o in exports])
        m["ig.export.csv_s"] = median([o["parts"]["csv_s"] for o in exports])
        m["ig.export.mb_written"] = median([o["parts"]["mb_written"] for o in exports])
        m["ig.export.report_passes"] = mean([stats[o["id"]]["executions"] for o in exports
                                            if o["id"] in stats])

    # per pass, the seconds each query family took in the traced window
    if res["workload"] == "adhoc_queries":
        passes = len(tr["ops"]) / len({o["kind"] for o in tr["ops"]})
        for f in ADHOC_FAMILIES:
            m[f"adhoc.{f}_s"] = sum(op_latency(o) for o in ops
                                    if o["kind"].split("_", 1)[0] == f) / passes

    untraced = throughput(phases["window"])
    if untraced:
        m["trace.overhead_frac"] = throughput(tr) / untraced - 1.0
    return m, {"self_s_by_layer": self_times(spans)}


def reported(trace, units):
    """The metrics BENCHMARK.json lists for this kind of run (all of them
    when there is no BENCHMARK.json)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return list(units)
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


# ---- one run ---------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", help="test-table scale directory (default: the workload's)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft's sources are not next to the benchmark ({ROOT}); "
             "run from a full checkout")
    scale, time_limit, why = WORKLOADS[a.workload]
    data = os.path.join(TESTDATA, a.scale or scale)
    if not os.path.isfile(os.path.join(data, "orders.parquet")):
        fail(f"test tables not found at {data}")

    cores = host_cores()
    heap = host_heap_gib()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    index_root = os.path.join(run_dir, "target", "index")
    print(f"[perfbench] workload={a.workload} seed={a.seed} cores={cores} "
          f"heap={heap}g index_root={index_root} data={data}", flush=True)
    print(f"[perfbench] why: {why}", flush=True)

    cp = classpath()
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}g", f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local", "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
        str(a.trace), data, run_dir, str(cores)]
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=index_root)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=time_limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM ended with {rc}", 1)
    with open(result_file) as f:
        res = json.load(f)

    # output checks, outside the timed window
    from checks import Checker
    checker = Checker(data, os.path.join(WORK, "oracle-cache"))
    check_dir = os.path.join(run_dir, "check")
    mismatches = []
    for c in res["check"]:
        if c["error"] is not None:
            reason = None  # counted as a failed op below
        elif c["name"] != "export":
            reason = checker.check_query(check_dir, c["name"])
        elif not os.path.exists(os.path.join(check_dir, "ig_report_synth.sql")):
            reason = "no ig_report_synth oracle to check the export against"
        else:
            with open(os.path.join(check_dir, "ig_report_synth.sql")) as f:
                reason = checker.check_export(os.path.join(check_dir, "export"), f.read())
        c["mismatch"] = reason
        if reason:
            mismatches.append((c["name"], reason))
    rebuilt = sum(p["index_builds"] for p in res["phases"].values())
    if rebuilt:
        mismatches.append(("index", f"{rebuilt} index tables built or rewritten in timed passes"))
    for name, reason in mismatches:
        log(f"CHECK FAILED {name}: {reason}")

    timed = [o for p in res["phases"].values() for o in p["ops"]]
    op_errors = [o for o in timed if o["error"] is not None]
    check_errors = [c for c in res["check"] if c["error"] is not None]
    for o in op_errors[:5] + check_errors[:5]:
        log(f"op failed {o.get('id', o.get('name'))}: {o['error']}")
    attempted = len(timed) + len(res["check"])
    failed = len(op_errors) + len(check_errors) + len(mismatches)

    e2e, e2e_extra = end_to_end(res, failed, attempted)
    spans = []
    spans_file = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans_file):
        with open(spans_file) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
    layer, layer_extra = per_layer(res, spans) if a.trace else ({}, {})

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    base = os.path.join(results_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(base + ".json", "w") as f:
        json.dump({"run": res, "end_to_end": e2e, "end_to_end_extra": e2e_extra,
                   "per_layer": layer, "per_layer_extra": layer_extra,
                   "mismatches": mismatches}, f)
    if spans:
        shutil.copy(spans_file, base + ".spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": "end_to_end", "metrics": {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}, **e2e_extra}))
    if a.trace:
        print(json.dumps({"detail": "per_layer", "metrics": {
            k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}, **layer_extra}))
    units, values = (PER_LAYER, layer) if a.trace else (END_TO_END, e2e)
    metrics = {k: {"value": values.get(k), "unit": units[k]} for k in reported(a.trace, units)}
    print(json.dumps({"correct": not mismatches, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
