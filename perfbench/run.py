#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <etl_daily|query_warm> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and
the harness into .bench_build/ (see build.py). Each run generates its
inputs from --seed under .bench_run/, runs the workload in one JVM at
local[N] (N = usable cores), checks every output against independent
truth, writes a report to .bench_out/, and prints one JSON object as
its last line. With --trace 0 it holds the end-to-end metrics; with
--trace 1 the per-layer metrics. The exit code is 1 when any operation
failed or any output check failed. README.md in this directory
describes the workloads and metrics.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

JVM_LIMIT_S = 170
# query_warm operations whose engine call drives an ops.Cluster
# convergence loop from the driver; Cluster.lastRounds counts its rounds
ROUND_QUERIES = {"q_dedup_cluster_star", "q_dedup_embedding_clusters"}
# every query_warm operation with a driver loop: the Cluster loops and
# ops.Graph's fixed three PageRank rounds (lazily composed, so they
# count toward loop.jobs and loop.s but report no rounds)
LOOP_QUERIES = ROUND_QUERIES | {"q_pagerank_loop"}
WORKLOADS = {
    # the paper's own dataflow: listing pages -> Extract -> Transform ->
    # JSONL interchange -> JDBC staging + MERGE into Derby, one
    # region-run at a time (gen.ListingRuns: 20 pages of 20 cards, six
    # region-runs a day). 40 untimed warm-up runs first: after only six,
    # run times still fell by a third across a 12 s window as the JVM
    # warmed. Then enough runs for one every 1/6 s of the window.
    "etl_daily": {"warm_runs": 40, "runs_per_s": 6},
    # an analyst's steady mix: every stage already built by the first pass
    "query_warm": {"sf": 0.01, "queries": [
        "q_transform_listings", "q_merge_scd2",                     # ETL parity, merge
        "q_waiting_orders", "q_pricing_summary",                    # TPC-H relational
        "q_dedup_prefix", "q_dedup_embedding_clusters",             # dedup
        "q_dedup_cluster_star", "q_dedup_simhash_pairs",
        "q_knn_bruteforce", "q_ann_ivf",                            # ANN
        "q_text_tfidf", "q_text_bigrams",                           # text
        "q_events_funnel", "q_events_sessionize",                   # events
        "q_pagerank_loop", "q_graph_degrees"]},                     # graph
}
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s")]
# per-layer metric units; the rest are counts
UNITS = {"session.build_s": "s", "extract.s": "s", "extract.exec_cpu_s": "s",
         "transform.keep_ratio": "ratio", "transform.shuffle_bytes": "bytes",
         "transform.exec_cpu_s": "s", "load.jsonl_bytes": "bytes", "load.jsonl_s": "s",
         "load.jdbc_stage_s": "s", "load.merge_s": "s", "plan.analysis_s": "s",
         "plan.optimize_s": "s", "plan.physical_s": "s", "exec.executor_run_s": "s",
         "exec.executor_cpu_s": "s", "exec.shuffle_write_bytes": "bytes",
         "exec.spill_bytes": "bytes", "exec.task_skew": "ratio", "stage.build_s": "s",
         "stage.bytes_written": "bytes", "stage.hit_ratio": "ratio", "loop.s": "s"}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def refuse_persistent_stage_root():
    if os.environ.get("SPARK_GRAFT_STAGE_ROOT"):
        fail("SPARK_GRAFT_STAGE_ROOT is set; a persistent stage root turns cold "
             "stage builds into adoptions. Unset it to benchmark.")
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"):
        if "graft.stage.root" in os.environ.get(var, ""):
            fail(f"{var} sets graft.stage.root; unset it to benchmark.")


def run_jvm(classpath, run_dir, jvm_args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", classpath, "perfbench.Main", *jvm_args]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        if rc == "timeout":
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM ended with {rc}")
    with open(os.path.join(run_dir, "samples.json")) as f:
        return json.load(f)


# ---- metrics ---------------------------------------------------------------

def end_to_end(samples, ops, setup_s, measured_s=None):
    durs = [o["dur_s"] for o in ops]
    p50 = stats.median(durs)
    t, level, n = stats.tail(durs)
    return {"setup_s": setup_s, "op_p50_s": p50, "op_tail_s": t,
            "ops_per_s": len(ops) / (measured_s or samples["measured_s"])}, (level, n)


def per_layer(samples):
    """Per-layer metrics of a traced run. Unless a ratio or a maximum,
    each is a mean per operation: per traced window operation, except
    the stage-build metrics, which are per operation of the traced
    first pass (where a workload builds its stages)."""
    spans = samples.get("spans", [])
    counters = {int(k): v for k, v in samples.get("span_counters", {}).items()}
    by_id = {s["id"]: s for s in spans}
    root = {s["id"]: stats.root_of(by_id, s["id"])["id"] for s in spans}
    selft = stats.self_times(spans)
    ops = [o for o in samples["ops"] if o["traced"]]
    # root spans of the traced window, one per operation and in order
    win = [s for s in spans if s["parent"] == -1 and s["name"] in ("region_run", "query")]
    win_ids = {s["id"] for s in win}
    first = [s for s in spans if s["parent"] == -1 and s["name"] == "first_pass"]
    first_ops = [o for o in samples.get("setup_ops", []) if o["traced"]]
    n_ops = max(len(ops), 1)

    def under(roots, name=None):
        ids = {r["id"] for r in roots}
        return [s for s in spans if root[s["id"]] in ids and name in (None, s["name"])]

    def cnt(s, key):
        return counters.get(s["id"], {}).get(key, 0)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def attr(ss, key):
        return [s["attrs"].get(key, 0) for s in ss]

    m = {"session.build_s": samples["session_build_s"]}
    ex, tf = under(win, "extract"), under(win, "transform")
    jl, jd = under(win, "load.jsonl"), under(win, "load.jdbc")
    cards, kept = sum(attr(ex, "cards")), sum(attr(tf, "rows_out"))
    runs = [o for o in ops if o["name"].startswith("run")]
    m.update({
        "extract.pages": mean(attr(ex, "pages")),
        "extract.cards": mean(attr(ex, "cards")),
        "extract.s": mean(selft[s["id"]] for s in ex),
        "extract.exec_cpu_s": mean(cnt(s, "executor_cpu_s") for s in ex),
        "transform.rows_in": mean(attr(ex, "cards")),
        "transform.rows_out": mean(attr(tf, "rows_out")),
        "transform.keep_ratio": kept / cards if cards else 0.0,
        "transform.shuffle_bytes": mean(cnt(s, "shuffle_write_bytes") for s in tf),
        "transform.exec_cpu_s": mean(cnt(s, "executor_cpu_s") for s in tf),
        "load.jsonl_bytes": mean(attr(jl, "bytes")),
        "load.jsonl_s": mean(selft[s["id"]] for s in jl),
        "load.jdbc_rows": mean(attr(jd, "rows")),
        "load.jdbc_stage_s": mean(cnt(s, "job_s") for s in jd),
        "load.merge_s": mean(selft[s["id"]] - cnt(s, "job_s") for s in jd),
        "load.inserted": mean(o["extra"]["inserted"] for o in runs),
        "load.updated": mean(o["extra"]["staged"] - o["extra"]["inserted"] for o in runs),
    })

    # plans: charged to the operation whose root span was open
    plans_of = {}
    for p in samples.get("plans", []):
        s = stats.innermost_span(spans, p["start_ms"])
        if s is not None:
            plans_of.setdefault(root[s["id"]], []).append(p)
    win_plans = [p for r in win_ids for p in plans_of.get(r, [])]
    for key in ("analysis_s", "optimize_s", "physical_s", "nodes", "exchanges"):
        m[f"plan.{key}"] = sum(p[key] for p in win_plans) / n_ops

    wc = [counters[s["id"]] for s in under(win) if s["id"] in counters]
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                "shuffle_records", "spill_bytes"):
        m[f"exec.{key}"] = sum(c[key] for c in wc) / n_ops
    m["exec.task_skew"] = max([c["task_skew"] for c in wc], default=1.0)

    # stage store: builds in the first pass, reads in the window
    m.update({
        "stage.builds": mean(len(o["extra"].get("stages_written", [])) for o in first_ops),
        "stage.build_s": mean((s["end_ms"] - s["start_ms"]) / 1e3
                              for s in under(first, "query.build")),
        "stage.bytes_written": mean(o["extra"].get("stage_bytes", 0) for o in first_ops),
        "stage.rows_written": mean(cnt(s, "output_records") for s in under(first, "query.build")),
    })
    qpairs = [(r, o) for r, o in zip(win, ops) if r["name"] == "query"]
    refs = hits = 0
    for r, o in qpairs:
        written = {os.path.normpath(w) for w in o["extra"].get("stages_written", [])}
        scanned = {os.path.normpath(path.removeprefix("file:"))
                   for p in plans_of.get(r["id"], []) for path in p["stage_scans"]}
        refs += len(scanned)
        hits += len(scanned - written)
    m["stage.hit_ratio"] = hits / refs if refs else 0.0

    loops = [(r, o) for r, o in qpairs if o["name"] in LOOP_QUERIES]
    m.update({
        # a Cluster loop served from the memo runs no round (-1 -> 0)
        "loop.rounds": mean(max(o["extra"].get("rounds", -1), 0) for _, o in loops
                            if o["name"] in ROUND_QUERIES),
        "loop.jobs": mean(sum(cnt(s, "jobs") for s in under([r])) for r, _ in loops),
        "loop.s": mean(o["dur_s"] for _, o in loops),
    })
    return m


# ---- workloads ---------------------------------------------------------------

def prepare(workload, seed, seconds, trace, run_dir):
    """Generate the run's inputs; return (JVM arguments, check context)."""
    cfg = WORKLOADS[workload]
    if workload == "etl_daily":
        pages_dir = os.path.join(run_dir, "pages")
        warm = gen.ListingRuns(seed + 1_000_003)
        for i in range(1, cfg["warm_runs"] + 1):
            warm.write_run(i, os.path.join(pages_dir, f"warm{i}"))
        runs = gen.ListingRuns(seed)
        n_runs = int(cfg["runs_per_s"] * seconds * (1 + trace)) + 4
        for r in range(1, n_runs + 1):
            runs.write_run(r, os.path.join(pages_dir, f"run{r}"))
        return ["--pages-dir", pages_dir, "--runs", str(n_runs), "--warm-runs",
                str(cfg["warm_runs"]), "--runs-per-day", str(runs.REGIONS)], runs
    tables = os.path.join(run_dir, "tables")
    gen.write_tables(tables, seed, cfg["sf"])
    names = list(cfg["queries"])
    if workload == "query_warm":
        random.Random(seed).shuffle(names)
    return ["--tables", tables, "--queries", ",".join(names)], tables


def check(workload, samples, ctx, run_dir):
    """Mark failed operations in place; return a list of problems."""
    ops, problems = samples["ops"], []
    for o in ops:
        o["failed"] = o["error"] is not None
        if o["failed"]:
            problems.append(f"{o['name']}: {o['error']}")
    if workload == "etl_daily":
        runs = ctx
        expected, last_run = runs.expected_after(samples["runs_done"])
        for o in ops:
            r = o["extra"]["run"]
            o["extra"]["expected_landed"] = sum(runs.run_counts[r - 1])
            if o["extra"]["inserted"] != runs.run_counts[r - 1][0]:
                o["failed"] = True
                problems.append(f"run{r}: inserted {o['extra']['inserted']}, "
                                f"expected {runs.run_counts[r - 1][0]}")
        bad = oracle.check_table(samples["main_table"], expected)
        bad_runs = {last_run.get(link, samples["runs_done"]) for link in bad}
        for o in ops:
            if o["extra"]["run"] in bad_runs:
                o["failed"] = True
        if bad:
            problems.append(f"{len(bad)} Derby rows differ from the expected table, "
                            f"e.g. {bad[0]}")
        return problems
    untimed_errors = {}
    for label, key in (("first pass", "setup_ops"), ("warm cycle", "warm_ops")):
        for o in samples[key]:
            if o["error"]:
                untimed_errors.setdefault(o["name"], o["error"])
                problems.append(f"{o['name']} {label}: {o['error']}")
    missing = [n for n, sql in samples["oracle_sql"].items() if sql is None]
    if missing:
        problems.append(f"no oracle SQL for {missing}")
    sqls = {n: s for n, s in samples["oracle_sql"].items() if s is not None}
    results = {"first pass": os.path.join(run_dir, "results"),
               "warm cycle": os.path.join(run_dir, "results_warm")}
    verdict = oracle.check_queries(ctx, results, sqls, cores())
    for name, (rows, ok, detail) in verdict.items():
        if not ok:
            problems.append(f"{name}: {detail}")
        for o in ops:
            if o["name"] == name and (not ok or o["rows"] != rows):
                if ok:
                    problems.append(f"{name} cycle {o['cycle']}: {o['rows']} rows, "
                                    f"oracle {rows}")
                o["failed"] = True
    for o in ops:
        if o["name"] in missing or o["name"] in untimed_errors:
            o["failed"] = True
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    refuse_persistent_stage_root()
    classpath = build.build()

    setup_t0 = time.time()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n = cores()
    try:
        jvm_args, ctx = prepare(a.workload, a.seed, a.seconds, a.trace, run_dir)
        samples = run_jvm(classpath, run_dir, [
            "--workload", a.workload, "--run-dir", run_dir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(n), *jvm_args], setup_t0 + JVM_LIMIT_S)
        problems = check(a.workload, samples, ctx, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = samples["ops"]
    failed = sum(1 for o in ops if o["failed"])
    first_ms = min(o["start_ms"] for o in ops)
    setup_s = first_ms / 1e3 - setup_t0
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n,
              "cycles": samples["cycles"], "measured_s": samples["measured_s"],
              "attempted": len(ops), "failed": failed, "problems": problems,
              "peak_rss_mb": samples["peak_rss_mb"],
              "first_pass_s": {o["name"]: o["dur_s"] for o in samples.get("setup_ops", [])},
              "ops": [{k: o[k] for k in ("name", "cycle", "traced", "dur_s", "build_s", "rows",
                                         "failed")} for o in ops]}
    for p in problems[:20]:
        print(f"CHECK FAILED {p}")

    plain = [o for o in ops if not o["traced"]]
    e2e, tail_at = end_to_end(samples, plain, setup_s)
    report["end_to_end"] = e2e
    if a.trace == 0:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    else:
        layer = per_layer(samples)
        metrics = {k: {"value": v, "unit": UNITS.get(k, "count")} for k, v in layer.items()}
        e_t, _ = end_to_end(samples, [o for o in ops if o["traced"]], setup_s,
                            samples["traced_measured_s"])
        report.update(per_layer=layer, spans=span_records(samples),
                      tracing_overhead={k: e_t[k] - e2e[k] for k, _ in END_TO_END[1:]})
    print_report(a.workload, report, samples, plain, tail_at)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def span_records(samples):
    """The span file: one record per span with its job counters and self time."""
    spans = samples.get("spans", [])
    selft = stats.self_times(spans)
    counters = samples.get("span_counters", {})
    return [{"name": s["name"], "id": s["id"], "parent": s["parent"], "run_id": s["run_id"],
             "start_ms": s["start_ms"], "end_ms": s["end_ms"], "self_s": selft[s["id"]],
             "attrs": s["attrs"], "counters": counters.get(str(s["id"]), {})} for s in spans]


def print_report(workload, report, samples, plain, tail_at):
    e2e, (level, n_s) = report["end_to_end"], tail_at
    print(f"workload {workload}: {report['attempted']} operations in {samples['cycles']} "
          f"cycles, {samples['measured_s']:.2f} s measured untraced, {report['cores']} cores")
    print(f"setup_s {e2e['setup_s']:.3f} s")
    if workload == "etl_daily":
        listings = sum(o["extra"]["expected_landed"] for o in plain)
        print(f"etl_listings_per_s {listings / samples['measured_s']:.2f} listings/s")
        print(f"etl_run_p50_s {e2e['op_p50_s']:.4f} s")
        print(f"etl_run_tail_s {e2e['op_tail_s']:.4f} s (p{level:.1f}, {n_s} samples)")
    else:
        print(f"query_p50_s {e2e['op_p50_s']:.4f} s")
        print(f"query_tail_s {e2e['op_tail_s']:.4f} s (p{level:.1f}, {n_s} samples)")
        print(f"queries_per_s {e2e['ops_per_s']:.3f} 1/s")
    print(f"fail_ratio {report['failed'] / report['attempted']:.4f} ratio "
          f"({report['failed']} of {report['attempted']})")
    # informational only: it does not repeat within a tenth across runs
    print(f"peak_rss_mb {samples['peak_rss_mb']:.1f} MB")
    for k, v in report.get("per_layer", {}).items():
        print(f"layer {k} {v:.6g} {UNITS.get(k, 'count')}")
    for k, v in report.get("tracing_overhead", {}).items():
        print(f"tracing_overhead {k} {v:+.4f}")


if __name__ == "__main__":
    sys.exit(main())
