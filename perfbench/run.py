"""perfbench: the repository benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload <medallion|query_sweep>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py) or copies the sf0.01
fixture (perfbench/fixture), takes one host-probe
reading, runs one JVM (perfbench/src, local[4]) that drives the program's
public entry points for at least --seconds, checks the outputs with DuckDB
(perfbench/check.py) and prints one JSON result as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Every run works in its own directory under
.bench_build/runs (inputs, silver, gold, warehouse, Derby home, Spark local
dirs), deleted afterwards; the full run record is kept in
.bench_build/records. See perfbench/NOTES.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion", "query_sweep")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
JVM_TIMEOUT_S = 160
HEAP = "4g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

SWEEP_MODULES = ["vendas_mart", "relational", "text_analysis", "dedup",
                 "similarity", "multimodal", "analytics", "set_ops_json"]
OLIST_TABLES = ["customers", "sellers", "geolocation", "products",
                "order_payments", "orders", "order_items", "order_reviews"]
PREWARM_PHASES = ["corpus_counts", "fingerprints", "shingle_index",
                  "jaccard_prefix", "jaccard_docsets", "minhash_signatures",
                  "lsh_pairs", "clusters", "batch_signatures"]
# RunCorpus's stages, by the registry queries of query_sweep that run
# the same operators.
CORPUS_STAGES = {"dedup.survivors": ["q_dedup_survivors"],
                 "dedup.funnel": ["q_dedup_funnel"],
                 "text.quality": ["q_text_quality"],
                 "text.packs": ["q_pipeline_corpus"],
                 "text.audit": ["q_corpus_split", "q_corpus_contam"]}
SPARK_COUNTERS = ["shuffle_write_mb", "shuffle_read_mb", "spill_mb", "tasks",
                  "tasks_failed", "task_cpu_s", "gc_s"]


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.endswith(".crc"))
    return total


def make_inputs(workload, seed, into):
    """Makes the workload's inputs in the run directory; returns
    (input_dir, sizes). query_sweep's input is the fixed fixture, whatever
    the seed; a copy keeps the committed files out of the program's reach."""
    d = os.path.join(into, "input")
    if workload == "medallion":
        os.makedirs(d)
        tables = gen.olist_bronze(np.random.default_rng([seed, 0]), d)
        return d, {"tables": tables, "bytes": sum(t["bytes"] for t in tables.values())}
    shutil.copytree(FIXTURE, d)
    return d, {"fixture": "sf0.01", "bytes": du(d)}


def host_probe(probe_dir):
    p = subprocess.run(["java", "-cp", probe_dir, "host_probe", "1"],
                       stdout=subprocess.PIPE, text=True, timeout=60, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def steal_s():
    """Seconds of CPU time the hypervisor took from this machine so far
    (the `steal` column of /proc/stat), or None where it is not exposed."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classes, work, args):
    jars = os.path.join(build.spark_jars(), "*")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    for d in ("local", "tmp", "derby"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java", f"-Xmx{HEAP}", *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness JVM exited with {code}")
    with open(args["out"]) as f:
        return json.load(f)


# ---- metrics --------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def adjusted_wall(span):
    """Wall seconds the span would have taken without the host's CPU steal.
    A CPU the process keeps busy loses the same share of its time to
    steal as the CPUs together did: steal ÷ (process CPU + steal)."""
    busy = span["cpu_s"] + span["steal_s"]
    return span["seconds"] * (span["cpu_s"] / busy if busy else 1.0)


def work_cpu(span):
    """Process CPU seconds over the span less the JIT compiler's."""
    return span["cpu_s"] - span["jit_s"]


def timed_passes(rec):
    return [s for s in rec["spans"] if s["attrs"].get("kind") == "pass"
            and not s["attrs"].get("warm")]


def children(rec, parent_ids):
    return [s for s in rec["spans"] if s["parent"] in parent_ids]


def op_spans(rec, traced=None):
    """Operation spans of the timed part (warm pass excluded), optionally
    only the traced or only the untraced ones."""
    warm = {s["id"] for s in rec["spans"] if s["attrs"].get("warm")}
    by_id = {s["id"]: s for s in rec["spans"]}
    ops = []
    for s in rec["spans"]:
        if s["attrs"].get("kind") != "op":
            continue
        p, skip = s["parent"], False
        while p:
            skip |= p in warm
            p = by_id[p]["parent"]
        if not skip and (traced is None or s["traced"] == traced):
            ops.append(s)
    return ops


def end_to_end(rec, inputs):
    """The gated metrics. `run_s` and the query percentiles are wall time
    corrected for the host's CPU steal, so they see a change in
    parallelism; `run_cpu_s` is process CPU seconds less the JIT
    compiler's, which steal does not inflate. The raw wall-clock and CPU
    twins are kept in the run record (`wall_metrics`)."""
    if rec["workload"] == "medallion":
        stored = median([p["silver_bytes"] + p["bucketed_bytes"] + p["gold_bytes"]
                         for p in rec["passes"] if not p["warm"]])
    else:
        stored = rec["bucketed_bytes"]

    def timings(value):
        per_op = {}
        for s in op_spans(rec, traced=False):
            per_op.setdefault(s["name"], []).append(value(s))
        op_s = [median(v) for v in per_op.values()]
        return (median([value(p) for p in timed_passes(rec)]),
                float(np.percentile(op_s, 50)), float(np.percentile(op_s, 85)))

    run_cpu, p50_cpu, p85_cpu = timings(work_cpu)
    run_adj, p50_adj, p85_adj = timings(adjusted_wall)
    run_wall, p50_wall, p85_wall = timings(lambda s: s["seconds"])
    rec["wall_metrics"] = {
        "run_s": run_wall, "query_p50_s": p50_wall, "query_p85_s": p85_wall,
        "query_p50_cpu_s": p50_cpu, "query_p85_cpu_s": p85_cpu,
        "setup_s": rec["setup_s"] + rec.get("prewarm_s", 0.0)}
    return {
        "run_s": (run_adj, "s"),
        "run_cpu_s": (run_cpu, "s"),
        "setup_s": (rec["setup_cpu_s"] + rec.get("prewarm_cpu_s", 0.0), "s"),
        "task_mem_peak_mb": (rec["task_mem_peak_mb"], "MB"),
        "stored_bytes_ratio": (stored / inputs["bytes"], "ratio"),
        "query_p50_s": (p50_adj, "s"),
        "query_p85_s": (p85_adj, "s"),
    }


def per_layer(rec, inputs):
    """Per-layer figures from the traced spans: medians over traced passes
    (medallion) or sums over the traced query runs (query_sweep).
    A layer the workload does not exercise reads 0."""
    w = rec["workload"]
    m = {}
    traced = [p for p in timed_passes(rec) if p["traced"]]
    untraced = [p for p in timed_passes(rec) if not p["traced"]]

    def per_pass(fn):
        return median([fn(p) for p in traced]) if traced else 0.0

    def span_s(p, name):
        ids, out = {p["id"]}, 0.0
        while ids:  # descendants of the pass
            kids = children(rec, ids)
            out += sum(s["seconds"] for s in kids if s["name"] == name)
            ids = {s["id"] for s in kids}
        return out

    def sql_s(p, parent_name, command):
        parents = {s["id"] for s in children(rec, {p["id"]}) if s["name"] == parent_name}
        return sum(s["seconds"] for s in children(rec, parents)
                   if s["attrs"].get("command") == command)

    m["session.start_s"] = (rec["session_start_s"], "s")
    m["sources.ingest_s"] = (per_pass(lambda p: span_s(p, "sources.ingest")), "s")
    for t in OLIST_TABLES:
        m[f"sources.ingest.{t}_s"] = (per_pass(lambda p: span_s(p, f"sources.ingest.{t}")), "s")
    med = w == "medallion"
    info = [p for p in rec["passes"] if not p["warm"]] if med else []
    m["sources.bronze_mb"] = (inputs["bytes"] / 1e6 if med else 0.0, "MB")
    m["sources.silver_mb"] = (median([p["silver_bytes"] for p in info]) / 1e6, "MB")
    m["sources.bucketed_silver_s"] = (per_pass(lambda p: sql_s(
        p, "sources.gold", "CreateDataSourceTableAsSelectCommand")), "s")
    m["sources.gold_write_s"] = (per_pass(lambda p: sql_s(
        p, "sources.gold", "InsertIntoHadoopFsRelationCommand")), "s")
    m["sources.gold_mb"] = (median([p["gold_bytes"] for p in info]) / 1e6, "MB")
    m["sources.jdbc_s"] = (per_pass(lambda p: sql_s(
        p, "sources.gold", "SaveIntoDataSourceCommand")), "s")
    m["sources.jdbc_rows"] = (median([p["jdbc_rows"] for p in info]), "count")
    m["sources.check_s"] = (per_pass(lambda p: span_s(p, "sources.check")), "s")

    prewarm = [s for s in rec["spans"] if s["name"] == "dedup.prewarm"]
    phases = rec["prewarm_phases_s"]
    m["dedup.index_build_s"] = (sum(s["seconds"] for s in prewarm), "s")
    for ph in PREWARM_PHASES:
        m[f"dedup.prewarm.{ph}_s"] = (phases.get(ph, 0.0), "s")
    m["dedup.index_resident_mb"] = (rec.get("resident_mb", 0.0), "MB")
    sweep_t = [s for s in op_spans(rec, traced=True) if s["name"].startswith("sweep.")]
    sweep_u = [s for s in op_spans(rec, traced=False) if s["name"].startswith("sweep.")]
    for layer, queries in CORPUS_STAGES.items():
        m[f"{layer}_s"] = (sum(s["seconds"] for s in sweep_t
                               if s["attrs"]["query"] in queries), "s")
    m["dedup.verify_yield"] = (rec.get("verify_yield", 0.0), "ratio")
    for mod in SWEEP_MODULES:
        m[f"sweep.{mod}_s"] = (sum(s["seconds"] for s in sweep_t
                                   if s["name"].split(".")[1] == mod), "s")
    m["sweep.prewarm.bucketed_silver_s"] = (phases.get("bucketed_silver", 0.0), "s")
    m["sweep.prewarm.mart_join_stats_s"] = (phases.get("mart_join_stats", 0.0), "s")

    units = {"tasks": "count", "tasks_failed": "count", "task_cpu_s": "s", "gc_s": "s"}
    counted = sweep_t if w == "query_sweep" else traced
    for c in SPARK_COUNTERS:
        vals = [s["counters"].get(c, 0.0) for s in counted]
        v = sum(vals) if w == "query_sweep" else median(vals)
        m[f"spark.{c}"] = (v, units.get(c, "MB"))
    sql = [s for s in rec["spans"] if s["name"] == "sql"]
    n_sql = len(sql) if w == "query_sweep" else len(sql) / max(1, len(traced))
    m["spark.sql_executions"] = (n_sql, "count")

    if w == "query_sweep":
        ratio = sum(s["seconds"] for s in sweep_t) / sum(s["seconds"] for s in sweep_u)
    else:
        ratio = median([p["seconds"] for p in traced]) / median(
            [p["seconds"] for p in untraced])
    m["trace.overhead_ratio"] = (ratio, "ratio")
    return m


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out = os.path.join(ROOT, ".bench_build")
    classes, probe = build.build(out)
    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        clock = [time.time()]

        def lap():
            clock.append(time.time())
            return clock[-1] - clock[-2]
        data, inputs = make_inputs(a.workload, a.seed, work)
        wall = {"inputs": lap()}
        probe_reading = host_probe(probe)
        wall["host_probe"] = lap()
        steal0 = steal_s()
        rec = run_jvm(classes, work, {
            "workload": a.workload, "input": data, "work": work,
            "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
            "clk_tck": os.sysconf("SC_CLK_TCK"),
            "out": os.path.join(work, "record.json")})
        wall["jvm"] = lap()
        steal1 = steal_s()
        host = dict(probe_reading, steal_s_during_jvm=None if steal0 is None
                    else steal1 - steal0)
        if a.workload == "medallion":
            fails = check.medallion(rec, data, {t: v["rows"] for t, v in
                                                inputs["tables"].items()})
        else:
            fails = check.query_sweep(rec, data)
        wall["checks"] = lap()
        for op, msg in fails:
            print(f"[perfbench] check failed: {op}: {msg}", file=sys.stderr)

        # An op fails when it throws, or when the output its last
        # execution left behind fails a check.
        ops = op_spans(rec)
        last_exec = {s["name"]: s["id"] for s in ops}
        failed = {s["id"] for s in ops if not s["ok"]}
        failed |= {last_exec[op] for op, _ in fails if op in last_exec}
        metrics = per_layer(rec, inputs) if a.trace else end_to_end(rec, inputs)
        result = {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        rec.pop("oracle", None)
        rec.update(result=result, inputs=inputs, host=host,
                   wall_s=wall, fail_ratio=len(failed) / max(1, len(ops)),
                   failures=[f"{op}: {msg}" for op, msg in fails])
        os.makedirs(os.path.join(out, "records"), exist_ok=True)
        with open(os.path.join(out, "records", f"{a.workload}-seed{a.seed}"
                               f"-trace{a.trace}.json"), "w") as f:
            # Paths relative to the checkout, so a record reads the same
            # wherever the run was made.
            f.write(json.dumps(rec, indent=1).replace(ROOT + os.sep, ""))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # SIGTERM unwinds like an exception, so the JVM and the run directory
    # are cleaned up.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, subprocess.SubprocessError) as e:
        sys.exit(f"perfbench: {e}")
