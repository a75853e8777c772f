#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload <dashboard_mix|etl_tick|news_knn> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (cached), generates the seeded inputs under
a per-run temp root inside `perfbench/`, runs the JVM runner
(`perfbench.Main`) for the timed closed loop, checks every output, deletes
the temp root and prints as its last line one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. The line before it is the run's full record.
"""
import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

sys.dont_write_bytecode = True  # nothing lands in tools/ or perfbench/
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dashboard_mix", "etl_tick", "news_knn")
# settle_ops: the first timed op; the ops before it run untimed after
# set-up, while the JIT still compiles the op paths (a whole number of
# blocks: 3 on dashboard_mix, 2 on etl_tick and news_knn)
SIZES = {
    "dashboard_mix": {"sf": 0.01, "ops": 5000, "settle_ops": 144},
    "etl_tick": {"sf": 0.1, "ops": 600, "settle_ops": 40},
    "news_knn": {"corpus": 20000, "ops": 600, "settle_ops": 20},
}
# ops per block of each op list: every whole block holds the same mix of
# op kinds (gen.py)
BLOCK = {"dashboard_mix": gen.DASHBOARD_BLOCK, "etl_tick": gen.REDELIVER_EVERY,
         "news_knn": gen.APPEND_EVERY}
# set-ups per run; setup_s is the median of all but the first, which runs
# in a cold JVM and moved most with the host's load
SETUP_REPS = 3
DEADLINE_S = 175      # a run must end within 180 s
CHECK_RESERVE_S = 25  # kept for the checks after the JVM exits

# name -> (unit, better); the end-to-end ones print untraced, the per-layer
# ones traced. A layer metric of a layer the workload bypasses reads 0.
# Wall-clock latencies are per-layer: on a shared 4-core host their spread
# across seeds was up to 0.55 (IQR over median). CPU per op in ms spread
# 0.10-0.16 over ten seeds, partly with the host's speed during the run;
# divided by the reference kernel's CPU in the same run, 0.05-0.16.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_per_op_ref": ("ratio", "lower"),
}
PER_LAYER = {
    "cpu_ms_per_op": ("ms", "lower"),
    "host.ref_cpu_ms": ("ms", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "op_p95_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_samples": ("count", "higher"),
    "failed_frac": ("fraction", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "jvm.jit_cpu_ms_per_op": ("ms", "lower"),
    "events_per_s": ("1/s", "higher"),
    "trace.op_p50_ms": ("ms", "lower"),
    "trace.overhead_ms_per_op": ("ms", "lower"),
    "session.start_ms": ("ms", "lower"),
    "session.warm_ms": ("ms", "lower"),
    "queries.build_ms": ("ms", "lower"),
    "queries.plan_ms": ("ms", "lower"),
    "queries.exec_ms": ("ms", "lower"),
    "queries.memo_hit_frac": ("fraction", "higher"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.stages_skipped_per_op": ("count", "higher"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.task_cpu_ms_per_op": ("ms", "lower"),
    "spark.task_run_ms_per_op": ("ms", "lower"),
    "spark.gc_ms_per_op": ("ms", "lower"),
    "spark.shuffle_read_bytes_per_op": ("bytes", "lower"),
    "spark.shuffle_write_bytes_per_op": ("bytes", "lower"),
    "spark.spill_bytes_per_op": ("bytes", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.driver_only_ms_per_op": ("ms", "lower"),
    "sources.input_bytes_per_op": ("bytes", "lower"),
    "sources.output_bytes_per_op": ("bytes", "lower"),
    "sources.sink_files_per_tick": ("count", "lower"),
    "sources.sink_files_total": ("count", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.tick_probe_ms": ("ms", "lower"),
    "streaming.tick_append_ms": ("ms", "lower"),
    "streaming.redelivery_noop_frac": ("fraction", "higher"),
}
# news_knn runs (and its record carries append_p50_ms, recall_at_10,
# index_build_s, index_bytes_per_vec and the operators.nsw_* numbers) but
# is not in BENCHMARK.json: see README.md


def jvm_cmd(classes, run_dir, workload, seconds, settle, trace, cores):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            "--add-exports", "java.management/sun.management=ALL-UNNAMED",
            "-Xmx3g", "-Xss4m",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}", "perfbench.Main",
            workload, run_dir, str(seconds), str(settle), str(trace),
            str(cores), str(SETUP_REPS), str(BLOCK[workload])]


def check_dashboard(run_dir):
    """Each pool query's dumped result against its DuckDB oracle SQL, with
    the comparison rules of tools/check_oracle.py. Returns failing names."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run_dir}/data/{t}.parquet')")
    oracle = json.load(open(f"{run_dir}/dump/oracle_sql.json"))
    bad = {}
    for name, sql in sorted(oracle.items()):
        if sql is None:
            bad[name] = ["no oracle SQL"]
            continue
        problems = check_oracle.compare(
            name, pd.read_parquet(f"{run_dir}/dump/{name}"),
            con.execute(sql).fetchdf())
        if problems:
            bad[name] = problems
    return bad


def check_news(run_dir, props):
    """Recall@10 of every search against exact brute-force cosine top-10
    over the corpus as it stood at that op; ids must exist at that op."""
    vecs = np.load(f"{run_dir}/vectors.npy")
    qs = np.load(f"{run_dir}/queries.npy")
    recalls, invalid = [], 0
    for line in open(f"{run_dir}/found.tsv").read().splitlines():
        if not line:
            continue
        _, q, appended, ids = line.split("\t")
        live = props["corpus_size"] + int(appended) * props["append_batch"]
        got = [int(x) for x in ids.split(",")] if ids else []
        exact = np.argpartition(-(vecs[:live] @ qs[int(q)]), 10)[:10]
        recalls.append(len(set(got) & set(exact.tolist())) / 10.0)
        if any(g >= live or g < 0 for g in got):
            invalid += 1
    return recalls, invalid


def trace_overhead(ops):
    """Traced minus untraced latency of like ops. A traced run alternates
    traced and untraced ops; the ops are grouped by what they run (query
    and kind), each group gives the difference of its two medians, and the
    groups are averaged weighted by their op counts. Groups with ops on one
    side only are left out."""
    groups = {}
    for o in ops:
        k = (o.get("key", ""), o["kind"])
        groups.setdefault(k, {"timed": [], "traced": []})[o["phase"]].append(o["ms"])
    diffs = [(len(g["timed"]) + len(g["traced"]),
              statistics.median(g["traced"]) - statistics.median(g["timed"]))
             for g in groups.values() if g["timed"] and g["traced"]]
    n = sum(w for w, _ in diffs)
    return sum(w * d for w, d in diffs) / n if n else 0.0


def op_group(workload, line):
    """What an op of the op list runs, as far as its cost goes: the query
    and whether it builds a fresh lineage (dashboard_mix), tick or
    redelivery (etl_tick), search or append (news_knn)."""
    f = line.rstrip("\n").split("\t")
    return {"dashboard_mix": (f[0], f[1]), "etl_tick": f[1], "news_knn": f[0]}[workload]


def mix_cpu_per_op(timed, groups, block):
    """CPU of one op at the workload's fixed mix: each op group's median
    CPU over the timed ops, weighted by the group's share of a block. The
    medians keep a stray GC or JIT burst out, and the fixed weights keep the
    few ops of a partial block from shifting the mix. The timed loop holds
    at least one whole block, so every group has a timed op."""
    whole = groups[:len(groups) - len(groups) % block]
    cpu = {}
    for o in timed:
        cpu.setdefault(groups[o["i"]], []).append(o["cpu_ms"])
    return sum(statistics.median(cpu[g]) * n for g, n in
               collections.Counter(whole).items()) / len(whole)


def pct(xs, p):
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default=None,
                    help="JSON overrides of the workload size (smoke runs)")
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run still deletes its temp root and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    size = dict(SIZES[a.workload], **json.loads(a.size or "{}"))
    cores = len(os.sched_getaffinity(0))
    runs_root = os.path.join(HERE, "tmp")
    run_dir = os.path.join(runs_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        props = gen.generate(a.workload, a.seed, run_dir, size)
        t_gen = time.time()
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(f"{run_dir}/{d}", exist_ok=True)
        budget = DEADLINE_S - CHECK_RESERVE_S - (time.time() - t_start)
        with open(f"{run_dir}/jvm.log", "w") as log:
            p = subprocess.run(
                jvm_cmd(classes, run_dir, a.workload, a.seconds,
                        size["settle_ops"], a.trace, cores),
                cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                timeout=max(30, budget))
        if p.returncode != 0:
            sys.stderr.write(open(f"{run_dir}/jvm.log").read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
        res = json.load(open(f"{run_dir}/result.json"))
        t_jvm = time.time()
        record = check_and_measure(a, res, props, run_dir)
        record["wall_s"] = {"build_gen": t_gen - t_start, "jvm": t_jvm - t_gen,
                            "check": time.time() - t_jvm}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_root)
        except OSError:
            pass  # another run's temp root is still there
    if os.path.exists(run_dir):
        raise SystemExit(f"perfbench: run left {run_dir} behind")
    record["leftovers"] = False
    print(json.dumps(record))
    out = {"correct": record["correct"], "attempted": record["attempted"],
           "failed": record["failed"], "metrics": {}}
    for n, (unit, _) in (PER_LAYER if a.trace else END_TO_END).items():
        out["metrics"][n] = {"value": record["metrics"][n], "unit": unit}
    print(json.dumps(out))


def check_and_measure(a, res, props, run_dir):
    ops = res["ops"]
    timed = [o for o in ops if o["phase"] == "timed"]
    traced = [o for o in ops if o["phase"] == "traced"]
    measured = timed + traced  # the workload metrics use both segments
    if not timed:
        raise SystemExit("perfbench: no timed ops")
    ms = [o["ms"] for o in timed]
    attempted = res["attempted"]
    failed = res["errors"] + res["wrong"]
    checks = {"errors": res["error_messages"]}
    m = {}
    wl = res["workload"]

    if a.workload == "dashboard_mix":
        bad = check_dashboard(run_dir)
        checks["oracle_failures"] = bad
        m["warm_ms_by_query"] = wl["warm_ms_by_query"]
        # repeats were checked against the first result in the JVM; every
        # op of a query whose result disagrees with its oracle is wrong too
        opq = [line.split("\t")[0] for line in open(f"{run_dir}/ops.tsv")]
        failed += sum(1 for o in ops if o["ok"] and opq[o["i"]] in bad)
        for o in ops:
            o["key"] = opq[o["i"]]
        # how much of cpu_ms_per_op each query carries: the pool weights
        # are an assumption, so a change can be read against them
        cpu = {}
        for o in timed:
            cpu[o["key"]] = cpu.get(o["key"], 0.0) + o["cpu_ms"]
        total = sum(cpu.values()) or 1.0
        m["cpu_share_by_query"] = {q: c / total for q, c in sorted(cpu.items())}
    if a.workload == "etl_tick":
        checks["parity"] = {k: wl[k] for k in
                            ("sink_rows", "expected_rows", "mismatched_rows")}
        # events delivered by the timed ticks (redeliveries add none)
        opl = [line.split("\t")[0] for line in open(f"{run_dir}/ops.tsv")]
        ev = sum(pq.ParquetFile(f"{run_dir}/hours/{opl[o['i']]}.parquet")
                 .metadata.num_rows for o in measured if o["kind"] == "tick")
        secs = sum(o["ms"] for o in measured) / 1000
        m["events_per_s"] = ev / secs if secs else 0.0
        m["sources.sink_files_total"] = wl["sink_files_total"]
    if a.workload == "news_knn":
        recalls, invalid = check_news(run_dir, props)
        failed += invalid
        m["recall_at_10"] = statistics.fmean(recalls) if recalls else 0.0
        apps = [o["ms"] for o in measured if o["kind"] == "append"]
        m["append_p50_ms"] = statistics.median(apps) if apps else 0.0
        m["index_build_s"] = res["prepare"]["index_build_s"]
        m["index_bytes_per_vec"] = wl["index_bytes_per_vec"]
        checks["invalid_searches"] = invalid
        checks["raw_resident_frac"] = wl["raw_resident_frac"]

    m["setup_s"] = statistics.median(res["setup_s_reps"][1:])
    m["op_p50_ms"] = pct(ms, 50)
    m["op_p95_ms"] = pct(ms, 95)
    m["ops_per_s"] = len(ms) / (sum(ms) / 1000) if ms else 0.0
    groups = [op_group(a.workload, line) for line in open(f"{run_dir}/ops.tsv")]
    # a traced run times only every second op untraced: it takes both halves
    m["cpu_ms_per_op"] = mix_cpu_per_op(measured if a.trace else timed, groups,
                                        BLOCK[a.workload])
    m["host.ref_cpu_ms"] = statistics.median(
        o["ref_ms"] for o in (measured if a.trace else timed))
    m["cpu_per_op_ref"] = m["cpu_ms_per_op"] / m["host.ref_cpu_ms"]
    jit_ops = traced if a.trace else timed
    m["jvm.jit_cpu_ms_per_op"] = (
        sum(o["jit_ms"] for o in jit_ops) / len(jit_ops)) if jit_ops else 0.0
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["failed_frac"] = failed / max(1, attempted)
    m["op_samples"] = len(traced) if a.trace else len(ms)
    if a.trace:
        m.update(res["layers"])
        sm = res["self_ms"]
        n = max(1, len(traced))
        for name in ("queries.build", "queries.plan", "queries.exec"):
            m[f"{name}_ms"] = sm.get(name, {}).get("self_ms", 0.0) / n
        for name in ("session.start", "session.warm"):
            # the set-ups after the first, as setup_s
            reps = sorted((s[4], s[5] - s[4]) for s in res["spans"] if s[3] == name)
            m[f"{name}_ms"] = statistics.median(
                [d for _, d in reps[1:]] or [0]) / 1e6
        m["trace.op_p50_ms"] = pct([o["ms"] for o in traced], 50)
        m["trace.overhead_ms_per_op"] = trace_overhead(timed + traced)
        # the spans themselves: [id, parent, op, name, start_ns, end_ns]
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out",
                               f"{a.workload}-seed{a.seed}-spans.json"), "w") as f:
            json.dump(res["spans"], f)
    for n in [*PER_LAYER, *END_TO_END]:
        m.setdefault(n, 0.0)
    correct = failed == 0 and attempted > 0
    return {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "correct": correct, "attempted": attempted, "failed": failed,
            "inputs": props, "checks": checks, "metrics": m,
            "setup_s_reps": res["setup_s_reps"], "loop_s": res["loop_s"],
            "self_ms": res.get("self_ms", {}),
            "op_ms": [[o["phase"], o["kind"], round(o["ms"], 3), round(o["cpu_ms"], 1),
                       round(o["jit_ms"], 1), round(o["ref_ms"], 2)] for o in ops]}


if __name__ == "__main__":
    main()
