#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark's JVM program from source (see
build.py), generates the workload's inputs from the seed (see gen.py), runs
the JVM program (perfbench/src/graft/perfbench/Main.scala), checks the outputs (see
checks.py) and prints, as its last stdout line, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it is a ``stamp`` object: host load and calibration, input sizes, passes,
per-query medians, errors, and the trace file of a traced run.

``--slice N`` runs only the first N queries of the workload; the
self-test uses it.
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

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DEADLINE_S = 160  # from the end of the build; inputs and checks fit in 180 s

# Fixed slices of each registry family (picked by name prefix), sized so
# that one pass takes about five seconds at the generated scale. The
# ROADMAP target queries (q60, llm_jaccard_neardup, llm_pipeline_e2e,
# llm_ann_graph) run once per traced run as layer rows instead.
WORKLOADS = {
    # q1-q10, the first ten of the family in registry order: the TPC-H-style
    # scans, filters and aggregates, the multi-table joins (q3, q4, q5, q8),
    # the anti join (q7) and windows (q9, q10)
    "relational": [
        "q1_pricing_summary", "q2_filter_project", "q3_top_unshipped_orders",
        "q4_order_priority", "q5_revenue_by_nation", "q6_forecast_revenue",
        "q7_customers_without_big_orders", "q8_order_line_counts",
        "q9_top3_orders_per_customer", "q10_running_customer_spend"],
    "road_graph": [
        "g1_ingest_counts", "g2_dijkstra_path", "g3_dijkstra_summary",
        "g4_sssp_distances", "g5_astar_summary", "g6_yen_k3", "g10_wcc",
        "g11_pagerank", "csr_pair_loop"],
    # runnable, but not in BENCHMARK.json: its run budget fits two
    # workloads (see perfbench/README.md)
    "llm_corpus": [
        "llm_exact_dedup", "llm_text_stats", "llm_langid", "llm_quality_score",
        "llm_minhash_neardup", "llm_simhash_neardup", "llm_ann_bruteforce",
        "llm_vector_ops"],
    "stream_ingest": [
        "stream_hourly_counts", "stream_dedup", "stream_cms_update"],
}
# Registry entries no workload may run: they read fixed files outside the
# checkout, so they cannot see the seeded inputs.
EXCLUDED = {
    "g27_append_graph": "appends the fixed Shenzhen slice-2 CSV (Graph.Slice2EdgeList)",
    "stream_graph_append": "streams the fixed Shenzhen slice-1 and slice-2 CSVs",
}
SCALE = 0.01          # fact-table scale factor of the generated tables
GRAPH_NODES = 3600    # nodes of the generated road network
PAIRS = 24            # (source, target) pairs of the CSR pair loop
# two cores: on a contended 4-vCPU host, interleaved runs of relational
# gave a lower and steadier pass_s with local[2] than with local[4]
CORES = min(2, os.cpu_count() or 1)
# set-ups per untraced run after the first, cold one; setup_s is their
# median (the cold set-up, 10-20 s of class loading and first compilation,
# is reported in the stamp only)
WARM_SETUPS = 3

END_TO_END_UNITS = {"pass_s": "s", "cpu_s": "s", "setup_s": "s",
                    "peak_heap_mb": "MB", "ok_rate": "ratio"}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_jvm(cmd, env, cwd, deadline):
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slice", type=int, default=0)
    a = ap.parse_args()
    queries = WORKLOADS[a.workload][:a.slice or None]

    work = os.path.join(ROOT, ".bench_build")
    classpath = build.build(work)
    deadline = time.monotonic() + JVM_DEADLINE_S

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    for d in (data, out, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "stream")):
        os.makedirs(d)
    gen.tables(a.seed, data, SCALE)
    graph_csv = os.path.join(data, "road.csv")
    road = gen.road_network(a.seed, graph_csv, GRAPH_NODES, PAIRS)
    pairs_file = os.path.join(data, "pairs.csv")
    with open(pairs_file, "w") as f:
        f.write("".join(f"{s},{d}\n" for s, d in road.pop("pairs")))

    env = dict(os.environ, GRAFT_EDGELIST=graph_csv,
               SPARK_GRAFT_STREAM_SCRATCH=os.path.join(run_dir, "stream"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    # default tiered compilation (C1 and C2), as graft.Bench runs; the
    # compiler threads are kept alive so that cpu_s can leave their CPU out
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", *JVM_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--data", data, "--graph", graph_csv,
           "--queries", ",".join(queries), "--pairs", pairs_file,
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
           "--check", ",".join(q for q in queries if q in checks.GRAPH_CHECKED),
           "--cores", str(CORES), "--setups", str(1 if a.trace else 1 + WARM_SETUPS),
           "--seed", str(a.seed)]
    if run_jvm(cmd, env, run_dir, deadline) != 0:
        raise SystemExit("benchmark JVM failed")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    check_dir = os.path.join(out, "check")
    wrong = checks.oracle(data, check_dir)
    wrong.update(checks.graph(graph_csv, check_dir))
    for name, err in sorted(wrong.items()):
        print(f"[perfbench] wrong answer {name}: {err}", file=sys.stderr)
    # errors count per query of the workload, however many passes it failed in
    attempted = len(queries)
    failed = len(set(res["errors"]) | set(wrong))

    trace_file = None
    if a.trace:
        trace_file = os.path.join(work, "traces", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        shutil.move(os.path.join(out, "trace.json"), trace_file)
        units = per_layer_units()
        missing = sorted(set(units) - set(res["layers"]))
        if missing:
            raise SystemExit(f"benchmark JVM did not report {missing}")
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in units.items()}
    else:
        values = {"pass_s": statistics.median(res["pass_s"]),
                  "cpu_s": statistics.median(res["cpu_s"]),
                  "setup_s": statistics.median(res["setup_s"][1:]),
                  "peak_heap_mb": max(res["heap_mb"]),
                  "ok_rate": 1.0 - failed / attempted}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

    print(json.dumps({"stamp": {
        "workload": a.workload, "seed": a.seed, "cores": CORES,
        "host": res["host"], "graph": road, "queries": res["query_s"],
        "passes": len(res["pass_s"]), "pass_s": res["pass_s"], "setup_s": res["setup_s"],
        "heap_mb": res["heap_mb"], "jit_cpu_s": res["jit_cpu_s"],
        "errors": res["errors"], "wrong": wrong, "excluded": EXCLUDED,
        "trace_file": trace_file and os.path.relpath(trace_file, ROOT)}}))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
