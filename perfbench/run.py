#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <dag_build|incremental_cycles>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness
(`perfbench/build.py`, skipped when up to date), generates the workload's
inputs from the seed (`perfbench/gen.py`), runs one JVM that drives the
engine through its public API (`perfbench/harness`), checks every output
against DuckDB (`perfbench/oracle.py`), and prints the metrics. The last
line of standard output is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics. All scratch
files live under `.bench_work/` and are removed at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

THREADS = 4
DEADLINE_S = 175
WORKLOADS = ("dag_build", "incremental_cycles")
# the LLM-data stage of incremental_cycles, run in this order: the
# functions kernels (minhash) and the streaming harness
ENTRIES = ("x_dedup_minhash_lsh", "st_sessionize_equiv")
OPS_SF = 0.02         # the stage's corpus scale; its warm-up runs at a tenth
OPS_SEED = 42         # the stage's corpus is fixed; --seed has no effect on it
OPS_TABLES = ("documents", "events")
PER_LAYER = [
    "run.load_s", "run.select_s", "run.artifacts_s", "compile.s", "compile.ms_per_model",
    "dag.nodes", "dag.node_sum_s", "dag.critical_path_s", "dag.parallel_eff", "dag.slack_s",
    "dag.noop_run_ms",
    "mat.table_s", "mat.table_n", "mat.view_s", "mat.view_n", "mat.incremental_s", "mat.incremental_n",
    "mat.snapshot_s", "mat.snapshot_n", "mat.mv_s", "mat.mv_n", "mat.seed_s", "mat.seed_n",
    "dq.tests", "dq.s", "dq.failures",
    "wh.files_written", "wh.mb_written", "wh.files_on_disk", "wh.versions",
    "fs.read_ops", "fs.write_ops", "fs.mb_read",
    "plans.mv_hit_ratio", "read.rows_scanned_per_row",
    "plan.queries", "plan.s", "plan.ms_per_query",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.jobs_per_node", "spark.busy_s", "spark.gap_s",
    "spark.task_s", "spark.util", "spark.shuffle_mb",
] + [f"ops.{e}_s" for e in ENTRIES] + [
    "ops.staging_s", "jvm.gc_s", "jvm.heap_peak_mb", "trace.overhead", "trace.wall_s",
]
def unit_of(name):
    last = name.split(".")[-1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.startswith("ms") or last.endswith("_ms"):
        return "ms"
    if last.startswith("mb") or last.endswith("_mb"):
        return "MB"
    if last in ("parallel_eff", "util", "mv_hit_ratio", "overhead", "rows_scanned_per_row", "jobs_per_node"):
        return "ratio"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(root, strip):
    """sha256 over a generated input tree, with `strip` (its absolute
    location) removed so that two trees can be compared."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read().replace(strip.encode(), b"<root>"))
    return h.hexdigest()


def generate(workload, work, seed):
    """Writes the workload's inputs under `work`; returns harness args."""
    if workload == "dag_build":
        plan = gen.gen_dag_build(work, seed)
        return {"proj_full": f"{work}/proj_full", "proj_ci": f"{work}/proj_ci",
                "cone": ",".join(plan["cone"])}, plan
    meta = gen.gen_incremental(work, seed)
    gen.gen_tables(f"{work}/corpus", OPS_SEED, OPS_SF, OPS_TABLES)
    gen.gen_tables(f"{work}/warm", OPS_SEED, OPS_SF / 10, OPS_TABLES)
    return {"proj": meta["proj"], "keys0": meta["keys0"], "step": meta["step"], "cycles": meta["cycles"],
            "corpus": f"{work}/corpus", "warm": f"{work}/warm", "entries": ",".join(ENTRIES)}, meta


def self_check(workload, work, seed, digest):
    """The generators' own contract: the same seed gives byte-identical
    inputs; for dag_build another seed gives a different DAG of the same
    size class. Returns a list of failures."""
    errs = []
    again = f"{work}/regen"
    generate(workload, again, seed)
    if tree_digest(again, again) != digest:
        errs.append("same seed generated different inputs")
    if workload == "dag_build":
        other = gen.DagProject(seed + 1, "x")
        this = gen.DagProject(seed, "x")
        if [m["sql"] for m in other.models.values()] == [m["sql"] for m in this.models.values()]:
            errs.append("another seed generated the same DAG")
        if other.node_count() != this.node_count():
            errs.append(f"another seed generated {other.node_count()} nodes")
    shutil.rmtree(again, ignore_errors=True)
    return errs


def run_jvm(root, workload, work, args, seconds, trace, budget_s):
    """Runs the harness JVM to completion (killing it at the deadline or
    when this process is stopped) and returns its result.json."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    if workload == "incremental_cycles":
        env["GRAFT_COMMIT_MODE"] = "manifest"   # materialized_view needs it
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = (build.jvm_args(root, f"{work}/tmp")
           + ["graft.perfbench.Main", f"workload={workload}", f"work={work}", f"seconds={seconds}",
              f"trace={trace}"]
           + [f"{k}={v}" for k, v in args.items()])
    log = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        rc = p.wait(timeout=max(10, budget_s))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if rc != 0:
        lines = open(f"{work}/jvm.log").read().splitlines()
        first = [ln for ln in lines if "Exception" in ln or "Error" in ln][:10]
        fail(f"harness JVM failed ({rc}):\n" + "\n".join(first + ["..."] + lines[-15:]))
    with open(f"{work}/result.json") as f:
        return json.load(f)


def check(workload, work, meta, res):
    ex = res["exports"]
    if workload == "dag_build":
        return oracle.check_dag_build(work, meta, f"{work}/data",
                                      {"full": f"{work}/proj_full", "ci": f"{work}/proj_ci"}, ex)
    with open(f"{work}/oracle_sql.json") as f:
        ops_sql = json.load(f)
    return oracle.check_incremental(work, meta, int(res["samples"]["last_cycle"][0]), ex,
                                    f"{work}/corpus", ops_sql)


def pct(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def main():
    # a stop request unwinds like an error, so the JVM is killed and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    build.ensure(root)
    t_start = time.time()  # the time limit runs from here; a first build may take longer
    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_setup = time.time()
        args, meta = generate(a.workload, work, a.seed)
        gen_s = time.time() - t_setup
        digest = tree_digest(work, work)
        res = run_jvm(root, a.workload, work, args, a.seconds, a.trace,
                      DEADLINE_S - (time.time() - t_start) - 15)
        setup_s = res["setup_done_ms"] / 1000.0 - t_setup
        t_check = time.time()
        chk = check(a.workload, work, meta, res)
        t_self = time.time()
        for e in self_check(a.workload, work, a.seed, digest):
            chk.require("generator self-check", False, e)
        print(f"perfbench: generate {gen_s:.1f} s, jvm {t_check - t_setup - gen_s:.1f} s, "
              f"check {t_self - t_check:.1f} s, self-check {time.time() - t_self:.1f} s", file=sys.stderr)
        out = report(a, res, chk, setup_s, gen_s, digest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    if not out["correct"]:
        sys.exit(1)


def report(a, res, chk, setup_s, gen_s, digest):
    s = res["samples"]
    attempted = res["attempted"] + chk.attempted
    failed = res["failed"] + len(chk.failures)
    for e in res["errors"] + chk.failures:
        print(f"FAILED {e}")
    op_key = {"dag_build": "node_s", "incremental_cycles": "read_s"}[a.workload]
    pass_s = s["pass_s"]
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "run_s": (statistics.median(pass_s), "s", len(pass_s)),
        "op_mean_s": (statistics.fmean(s[op_key]), "s", len(s[op_key])),
    }
    print(f"workload {a.workload} seed {a.seed}: {len(pass_s)} passes, inputs generated in {gen_s:.2f} s, "
          f"inputs sha256 {digest[:16]}, results sha256 {chk.results.hexdigest()[:16]}")
    named = {"warmup_s": "warmup_s", "build_s": "build_s", "ci_build_s": "ci_build_s", "cycle_p50_s": "cycle_s",
             "read_p50_s": "read_s", "ops_p50_s": "ops_s", "entry_p50_s": "entry_s",
             "node_p50_s": "node_s", "warehouse_mb": "warehouse_mb"}
    for n, k in named.items():
        if k in s:
            print(f"  {n:14s} {statistics.median(s[k]):10.4f} {'MB' if n.endswith('mb') else 's':5s} n={len(s[k])}")
    if "node_s" in s and len(s["node_s"]) >= 100:
        print(f"  {'node_p90_s':14s} {pct(s['node_s'], 90):10.4f} s     n={len(s['node_s'])}")
    print(f"  {'failed_frac':14s} {failed / max(1, attempted):10.4f} ratio n={attempted}")
    for n, (v, u, cnt) in e2e.items():
        print(f"  {n:14s} {v:10.4f} {u:5s} n={cnt}")
    if a.trace:
        metrics = per_layer(res)
        for n, m in metrics.items():
            print(f"  {n:28s} {m['value']:12.4f} {m['unit']}")
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u, _) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def per_layer(res):
    """Every per-layer metric, with the ratios derived from the traced
    figures; a layer the workload does not exercise reads 0."""
    L = dict(res["layer"])
    def g(k):
        return L.get(k, 0.0) or 0.0
    L["dag.parallel_eff"] = g("dag.node_sum_s") / (g("dag.build_wall_s") * THREADS) if g("dag.build_wall_s") else 0.0
    L["spark.jobs_per_node"] = g("spark.jobs") / g("dag.nodes") if g("dag.nodes") else 0.0
    L["spark.util"] = g("spark.task_s") / (g("spark.busy_s") * THREADS) if g("spark.busy_s") else 0.0
    L["plan.ms_per_query"] = g("plan.s") * 1000 / g("plan.queries") if g("plan.queries") else 0.0
    L["plans.mv_hit_ratio"] = g("plans.mv_hits") / g("plans.mv_reads") if g("plans.mv_reads") else 0.0
    L["read.rows_scanned_per_row"] = (g("read.rows_scanned") / g("read.rows_returned")
                                      if g("read.rows_returned") else 0.0)
    return {k: {"value": float(g(k)), "unit": unit_of(k)} for k in PER_LAYER}


if __name__ == "__main__":
    main()
