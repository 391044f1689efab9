#!/usr/bin/env python3
"""spark-mz benchmark: one seeded workload per run, measured end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Builds the engine and the harness (perfbench/harness) with sbt when their
sources are newer than the last build, generates the workload's inputs from
the seed under .perfbench/ in the repository, runs the harness in one JVM at
local[nproc], checks its outputs against DuckDB, and prints one JSON line
last on stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones, and the spans and per-layer detail go to .perfbench/traces/.
See perfbench/README.md.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch-args")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# The first query of each of the 16 inventories SparkEntry aggregates, in
# SparkEntry's order. A pass over all 146 queries takes over a minute on 4
# cores, longer than a benchmark run may last.
SUITE = ["join_salted_skew", "window_rank", "subquery_scalar", "reduce_stats",
         "fn_string", "jsonb_agg_ordered", "fn_pg_datebin", "tpch_q01", "dedup_exact",
         "ann_cosine_topk", "media_image_decode", "events_tumbling_15m",
         "stream_upsert_replay", "mv_incremental_refresh", "source_load_generator",
         "sink_iceberg_upsert_read"]

# BENCHMARK.json gates query_suite and mv_freshness; mv_join and
# upsert_stream run the same way but take too long per run for the
# benchmark's run budget (README, "Workloads").
WORKLOADS = {
    "query_suite": {"sf": 0.01, "queries": SUITE},
    "mv_freshness": {"base_rows": 200_000, "groups": 20_000, "batches": 6, "batch_rows": 2_000},
    "mv_join": {"rows": 20_000, "batches": 3, "batch_rows": 1_000},
    "upsert_stream": {"events": 100_000, "keys": 10_000, "chunks": 4},
}
# The untimed warm-up round runs the same operations over the first batch
# (chunk) of inputs of the same size, so it plans and compiles what the timed
# rounds run.
WARM = {
    "mv_freshness": dict(WORKLOADS["mv_freshness"], batches=1),
    "mv_join": dict(WORKLOADS["mv_join"], batches=1),
    "upsert_stream": {"events": 25_000, "keys": 10_000, "chunks": 1},
}
SMOKE = {
    "query_suite": {"sf": 0.001, "queries": ["q1_agg", "mv_incremental_refresh"]},
    "mv_freshness": {"base_rows": 2_000, "groups": 200, "batches": 1, "batch_rows": 100},
    "mv_join": {"rows": 1_000, "batches": 1, "batch_rows": 50},
    "upsert_stream": {"events": 2_000, "keys": 200, "chunks": 2},
}
GENERATE = {"query_suite": gen.tables, "mv_freshness": gen.agg, "mv_join": gen.join,
            "upsert_stream": gen.upsert}
# The one known fault the benchmark keeps visible: incremental refresh loses
# every change to the NULL group (README, "the NULL-group fault").
EXPECTED_FAILURES = {"peek_null"}
PRIMARY = {"query_suite": "query", "mv_freshness": "commit", "mv_join": "join"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------- build

def _newest(paths):
    newest = 0.0
    for p in paths:
        for f in ([p] if os.path.isfile(p) else glob.glob(os.path.join(p, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the engine with its own build definition and the harness on
    top of it, unless the last build is newer than every source."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources here (build.sbt, src/main/scala/graft)")
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")] + \
        [os.path.join(HARNESS, p) for p in ("build.sbt", "project/build.properties", "src")]
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= _newest(sources):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building engine and harness with sbt")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/launchArgs"],
                   cwd=HARNESS, env=env, stdout=sys.stderr, check=True, timeout=600)


# --------------------------------------------------------------------- inputs

def generate(workload, seed, sizes, out):
    g = GENERATE[workload]
    g(out, seed, **{k: v for k, v in sizes.items() if k != "queries"})
    if workload in WARM:
        warm = {k: min(v, sizes[k]) for k, v in WARM[workload].items()}
        g(os.path.join(out, "warm"), seed, **warm)


# ------------------------------------------------------------------- harness

def run_harness(args, workload, inputs, out, queries):
    with open(LAUNCH) as f:
        launch = [line for line in f.read().splitlines() if line]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + launch + [
        "perfbench.Main", "--workload", workload, "--in", inputs, "--out", out,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(len(os.sched_getaffinity(0))), "--queries", ",".join(queries) or "-"]
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=170)  # a benchmark run must end within 180 s
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def samples(workload, res):
    """Latencies of the workload's primary operation, in seconds."""
    if workload == "upsert_stream":
        return [m["trigger_ms"] / 1e3 for r in res["extra"]["rounds"] for m in r["microbatches"]]
    return [o["seconds"] for o in res["ops"] if o["kind"] == PRIMARY[workload]]


def end_to_end(workload, res, setup_s):
    xs = samples(workload, res)
    per_round = {}
    for o in res["ops"]:
        per_round[o["round"]] = per_round.get(o["round"], 0.0) + o["seconds"]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(xs), "s"),
        "op_geomean_s": (geomean(xs), "s"),
        "round_s": (statistics.median(per_round.values()), "s"),
    }


LAYER_SUMS = ["plan.optimization_s", "plan.planning_s", "plan.actions",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.gap_s",
              "exec.task_cpu_s", "exec.input_bytes", "exec.output_bytes",
              "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes"]
LAYER_UNITS = {"_s": "s", "_bytes": "bytes"}


def _unit(name):
    return next((u for suf, u in LAYER_UNITS.items() if name.endswith(suf)), "count")


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(workload, res):
    """(metrics for the JSON line, detail for the trace file). Layer sums are
    per round: totals over every timed operation divided by the rounds."""
    tr = res["trace"]
    ops = {o["id"]: o for o in res["ops"]}
    rounds = len(res["rounds"])
    metrics = {n: (sum(p[n] for p in tr["per_op"]) / rounds, _unit(n)) for n in LAYER_SUMS}
    prog = [p for p in tr["progress"] if p["op"] >= 0]  # timed operations only
    metrics["stream.batches"] = (len(prog) / rounds, "count")
    metrics["stream.state_rows"] = (max((p["state_rows"] for p in prog), default=0), "count")

    by_kind = {}
    for p in tr["per_op"]:
        by_kind.setdefault(ops[p["op"]]["kind"], []).append(p)
    detail = {"per_kind_mean": {k: {n: sum(p[n] for p in ps) / len(ps) for n in ps[0] if n != "op"}
                                for k, ps in by_kind.items()}}
    # parsing and analysis run when a DataFrame is built; the listener only
    # sees them for plans analyzed by the action itself (see README)
    for n in ("plan.parsing_s", "plan.analysis_s"):
        detail[n] = sum(p[n] for p in tr["per_op"]) / rounds
    # reconciliation: planning + job union + gap = wall by construction, so
    # the check is that the listener-measured parts never exceed the wall
    over = [p for p in tr["per_op"] if p["exec.gap_s"] < -(0.05 * ops[p["op"]]["seconds"] + 0.005)]
    detail["reconcile"] = {"ops": len(tr["per_op"]), "parts_exceed_wall": len(over),
                           "tolerance": "5% of wall + 5 ms"}
    if workload == "query_suite":
        inv = res["extra"]["inventory"]
        suite = {}
        for o in res["ops"]:
            k = f"suite.{inv[o['name']]}_s"
            suite[k] = suite.get(k, 0.0) + o["seconds"] / rounds
        detail["suite"] = suite
        detail["per_query"] = {ops[p["op"]]["name"]: p for p in tr["per_op"] if ops[p["op"]]["round"] == 0}
    elif workload == "mv_freshness":
        k = detail["per_kind_mean"]
        last = res["extra"]["rounds"][-1]
        detail["views"] = {
            "views.agg_commit_jobs": k["commit"]["exec.jobs"],
            "views.commit_input_bytes": k["commit"]["exec.input_bytes"],
            "views.commit_written_bytes": k["commit"]["exec.output_bytes"],
            "views.write_s": k["commit"]["exec.job_s"],
            "views.snapshot_writes": last["snapshot_writes"],
            "views.chain_len_max": last["chain_len_max"],
            "views.peek_jobs": k["peek"]["exec.jobs"],
        }
    elif workload == "mv_join":
        detail["views"] = {"views.join_commit_jobs": detail["per_kind_mean"]["join"]["exec.jobs"]}
    else:
        d = lambda key: [p["duration_ms"].get(key, 0) / 1e3 for p in prog]
        last = res["extra"]["rounds"][-1]
        detail["stream"] = {
            "stream.batches": len(prog) / rounds,
            "stream.trigger_p50_s": _p50(d("triggerExecution")),
            "stream.add_batch_p50_s": _p50(d("addBatch")),
            "stream.query_planning_p50_s": _p50(d("queryPlanning")),
            "stream.wal_commit_p50_s": _p50(d("walCommit")),
            "stream.latest_offset_p50_s": _p50(d("latestOffset")),
            "stream.state_rows": max((p["state_rows"] for p in prog), default=0),
            "stream.state_memory_bytes": max((p["state_memory_bytes"] for p in prog), default=0),
            "stream.state_commit_p50_s": _p50([p["state_commit_ms"] / 1e3 for p in prog]),
        }
        detail["sink"] = {
            "sink.commit_p50_s": detail["stream"]["stream.add_batch_p50_s"],
            "sink.data_files": last["data_files"],
            "sink.delete_files": last["delete_files"],
            "sink.bytes_written": last["table_bytes"],
            "sink.read_jobs": detail["per_kind_mean"]["read"]["exec.jobs"],
        }
    return metrics, detail


def context(workload, res, load_start):
    """Machine context for reading a run; neither a metric nor a gate."""
    ctx = {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": load_start,
           "loadavg_end": os.getloadavg(), "calib_spark_s": res["calib_spark_s"],
           "rounds": len(res["rounds"])}
    kind = lambda k: [o["seconds"] for o in res["ops"] if o["kind"] == k]
    if workload in ("mv_freshness", "mv_join"):
        ctx.update({"hydrate_s": _p50(kind("hydrate")),
                    "view_bytes": res["extra"]["rounds"][-1]["view_bytes"]})
    if workload == "mv_freshness":
        ctx.update({"peek_p50_s": _p50(kind("peek")), "recompute_s": _p50(kind("recompute"))})
    elif workload == "upsert_stream":
        events = json.load(open(os.path.join(res["inputs"], "upsert", "meta.json")))["events"]
        ctx.update({"ingest_events_per_s": events / _p50(kind("ingest")),
                    "sink_read_s": _p50(kind("read"))})
    elif workload == "query_suite":
        ctx["suite_s"] = statistics.median(
            sum(o["seconds"] for o in res["ops"] if o["round"] == r["round"]) for r in res["rounds"])
    return ctx


# ----------------------------------------------------------------------- run

def run(args, sizes):
    load_start = os.getloadavg()
    build()
    # oracle.py takes the canonical form from the repository's scripts/,
    # so it is imported once build() has found the engine's checkout
    import oracle
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    try:
        inputs = os.path.join(out, "in")
        generate(args.workload, args.seed, sizes, inputs)
        t_gen = time.time()
        res = run_harness(args, args.workload, inputs, os.path.join(out, "w"),
                          sizes.get("queries", []))
        res["inputs"] = inputs
        setup_s = res["first_op_ms"] / 1e3 - t0

        orc = oracle.Oracle(inputs)
        bad = {}
        for c in res["checks"]:
            why = orc.check(c["kind"], c["spec"])
            if why is not None:
                bad.setdefault(c["op"], []).append(f"{c['kind']}: {why}")
        ops = {o["id"]: o for o in res["ops"]}
        unexpected = {i: w for i, w in bad.items() if ops[i]["kind"] not in EXPECTED_FAILURES}
        for i, why in sorted(bad.items()):
            if ops[i]["round"] == 0 or i in unexpected:
                log(f"FAILED op {i} {ops[i]['kind']} {ops[i]['name']}: {'; '.join(why)}")

        e2e = end_to_end(args.workload, res, setup_s)
        ctx = context(args.workload, res, load_start)
        ctx["setup_parts_s"] = {"generate": t_gen - t0, "session": res["session_ms"] / 1e3 - t_gen,
                                "warm_up": (res["first_op_ms"] - res["session_ms"]) / 1e3}
        log("context: " + json.dumps(ctx))
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "end_to_end": {k: v for k, (v, _) in e2e.items()}, "context": ctx,
                  "ops": [[o["round"], o["kind"], o["name"], o["seconds"]] for o in res["ops"]]}
        if args.trace:
            metrics, detail = per_layer(args.workload, res)
            untraced = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}.json")
            if os.path.isfile(untraced):
                base = json.load(open(untraced))["end_to_end"]
                record["tracing_overhead"] = {k: record["end_to_end"][k] / base[k] - 1 for k in base}
                log("tracing overhead (traced / untraced - 1): " + json.dumps(record["tracing_overhead"]))
            record.update(per_layer={k: v for k, (v, _) in metrics.items()}, detail=detail,
                          spans=res["trace"]["spans"])
            dest = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            log("layer detail: " + json.dumps({k: v for k, v in detail.items() if k != "per_query"}))
        else:
            metrics = e2e
            dest = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(dest, "w") as f:
            json.dump(record, f)
        log(f"perfbench: {len(bad)} of {len(ops)} operations failed "
            f"({len(unexpected)} unexpectedly); detail in {os.path.relpath(dest, ROOT)}")
        return {"correct": not unexpected, "attempted": len(ops), "failed": len(bad),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at a tiny size as the benchmark's own test")
    args = p.parse_args()
    if args.smoke:
        ok = True
        for w in sorted(WORKLOADS):
            args.workload, args.seconds, args.trace = w, 1, 1
            r = run(args, SMOKE[w])
            log(f"smoke {w}: {json.dumps(r)}")
            ok &= r["correct"] and r["attempted"] > 0
        raise SystemExit(0 if ok else 1)
    if not args.workload:
        p.error("--workload is required")
    print(json.dumps(run(args, WORKLOADS[args.workload])), flush=True)


if __name__ == "__main__":
    main()
