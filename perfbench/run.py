#!/usr/bin/env python3
"""Benchmark of the engine on one workload; prints one JSON line last.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 20 \\
        --trace 0

The run generates its tables from ``--seed`` into a work directory
inside the benchmark's own folder (removed at exit), starts one
``local[<cpus>]`` session with a fixed 2 GB JVM heap and the JIT
stopped at C1, runs two warm-up passes (the first checks every output
against DuckDB), then times whole passes until ``--seconds`` have
elapsed and at least four passes ran, and summarises the half of them
(at least four) that lost the least CPU time to other guests of the
machine.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (spans, job groups and the
Spark event log). README.md beside this file explains each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
# The heap is fixed (initial = maximum), so heap sizing does not vary
# from run to run, and the JIT stops at C1: C2 compiles 2-6 CPU-s of
# every pass for minutes after start, more than a run can warm past,
# and which passes it lands in set cpu_s. README.md has the figures.
JVM_OPTS = (f"-Xms{HEAP}", "-XX:TieredStopAtLevel=1")
# two warm-up passes (the first also checks every output), then at
# least MIN_PASSES timed passes: the sizing and the convergence curve
# behind it are in README.md. The guaranteed sample count fixes the
# tail percentile, so it is the same on every run.
WARMUP_PASSES = 2
MIN_PASSES = 4
# Co-tenant guests share this box's CPUs, and a pass's wall time grows
# with the share of its CPU time the hypervisor gave to them (/proc/stat
# "steal"). The metrics therefore use the half of the window's passes
# (at least MIN_PASSES) that lost the least, steal shares that round to
# the same percent counting as equal and the later, better warmed-up
# pass going first among equals. README.md gives the measurements.
SMOKE_SF = 0.001
BUILD_LAYERS = {"queries.build", "catalog.table", "materialize",
                "plan.catalyst"}
UNITS = {"jobs": "count", "tasks": "count", "executor_cpu_s": "s",
         "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
         "spill_mb": "MB", "gc_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("sql_adhoc", "llm_dedup"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001, one checked pass, one timed pass")
    return p.parse_args(argv)


def start_session(work: str, cpus: int, trace: bool):
    from mini_sql_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(
            (f"-Djava.io.tmpdir={tmp}",) + JVM_OPTS),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) has
    exited."""
    from pyspark import SparkContext

    started = probes.descendants()
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(map(probes.alive, started)):
        time.sleep(0.1)
    for pid in filter(probes.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(probes.alive, started)):
        time.sleep(0.05)


def run(args, work: str, t_proc: float, state: dict) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from datagen import generate
    from workloads import SF, WORKLOADS, Oracle, Runner

    from mini_sql_engine_spark.plans import new_generation

    keys = WORKLOADS[args.workload]
    sf, n_warm, min_passes = ((SMOKE_SF, 1, 1) if args.smoke else
                              (SF, WARMUP_PASSES, MIN_PASSES))
    cpus = len(os.sched_getaffinity(0))
    data_dir = os.path.join(work, "data")

    t0 = time.time()
    generate(data_dir, sf, args.seed)
    gen_s = time.time() - t0

    t0 = time.time()
    spark = state["spark"] = start_session(work, cpus, bool(args.trace))
    start_s = time.time() - t0

    tracer = probes.Tracer(spark, bool(args.trace))
    runner = Runner(keys, spark, data_dir, tracer)
    oracle = Oracle(data_dir, work, cpus)
    jvm = probes.Jvm(spark)
    if args.trace:
        runner.trace_layers()
    order = np.random.default_rng(args.seed)
    attempted, failures = 0, []

    def one(op_id: str, key: str, checked: bool = False):
        nonlocal attempted
        tracer.op = op_id
        attempted += 1
        try:
            if not checked:
                return runner.run(key)
            if not runner.check(key, oracle):
                failures.append(f"{op_id}:{key}:mismatch")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failures.append(f"{op_id}:{key}:error")
        return None

    # warm-up; its first pass checks every output instead of timing it
    t0 = time.time()
    warm_passes, warm_jit = [], []
    for p in range(n_warm):
        j0, tp = jvm.jit_ms(), time.perf_counter()
        for i, key in enumerate(runner.pass_ops(order)):
            one(f"u{p}.{i}", key, checked=p == 0)
        warm_passes.append(time.perf_counter() - tp)
        warm_jit.append(jvm.jit_ms() - j0)
    warm_s = time.time() - t0 - oracle.seconds
    setup_s = time.time() - t_proc - gen_s - oracle.seconds

    # the timed window: whole passes until --seconds have elapsed and
    # at least MIN_PASSES ran
    jit0, gc0 = jvm.jit_ms(), jvm.gc_s()
    passes: list[dict] = []
    t_w = time.perf_counter()
    while True:
        cpu0, steal0, tp = (probes.tree_cpu_seconds(),
                            probes.steal_seconds(), time.perf_counter())
        rec = {"index": len(passes), "ops": [], "samples": []}
        for i, key in enumerate(runner.pass_ops(order)):
            op_id = f"w{len(passes)}.{i}"
            rec["ops"].append(op_id)
            dt = one(op_id, key)
            if dt is not None:
                rec["samples"].append((key, dt))
        rec["wall"] = time.perf_counter() - tp
        rec["cpu"] = probes.tree_cpu_seconds() - cpu0
        rec["steal_share"] = ((probes.steal_seconds() - steal0)
                              / (rec["wall"] * cpus))
        passes.append(rec)
        if (len(passes) >= min_passes
                and time.perf_counter() - t_w >= args.seconds):
            break
    window_s = time.perf_counter() - t_w
    jit1, gc1 = jvm.jit_ms(), jvm.gc_s()
    used = sorted(passes, key=lambda p: (round(p["steal_share"], 2),
                                         -p["index"]))[
        :max(min_passes, len(passes) // 2)]
    new_generation()  # free the last build's checkpoints, as a build would
    mem_mb = jvm.live_heap_mb()

    n = len(passes)
    samples = [s for p in used for s in p["samples"]]
    window_ops = {op for p in used for op in p["ops"]}
    vals = [dt for _, dt in samples]
    tail_pct = probes.tail_pct(min_passes * len(keys))
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (float(np.median([p["wall"] for p in used])), "s"),
        "op_p50_s": (float(np.median(vals)), "s"),
        "op_tail_s": (float(np.percentile(vals, tail_pct)), "s"),
        "cpu_s": (float(np.median([p["cpu"] for p in used])), "s"),
        "mem_mb": (mem_mb, "MB"),
    }
    by_key: dict[str, list] = {}
    for key, dt in samples:
        by_key.setdefault(key, []).append(dt)
    report = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "cpus": cpus, "heap": HEAP,
        "ops_failed": len(failures) / attempted, "failures": failures,
        "op_tail_pct": tail_pct, "op_samples": len(vals),
        "setup": {"generate_s": gen_s, "session_start_s": start_s,
                  "warmup_s": warm_s, "oracle_s": oracle.seconds},
        "warmup_pass_s": warm_passes, "warmup_jit_ms": warm_jit,
        "window_s": window_s,
        "pass_times_s": [p["wall"] for p in passes],
        "pass_steal_share": [p["steal_share"] for p in passes],
        "passes_used": [p["index"] for p in used],
        "window_jit_ms": jit1 - jit0, "window_gc_s": gc1 - gc0,
        "per_key_p50_s": {k: float(np.median(v))
                          for k, v in by_key.items()},
    }
    layers = {}
    if args.trace:
        tracer.unwrap()
        spark.stop()  # flushes the event log
        state["spark"] = None
        events = probes.parse_event_log(os.path.join(work, "eventlog"))
        layers = layer_metrics(tracer, events, window_ops, len(used),
                               runner)
        layers.update({
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warm_s, "s"),
            "jvm.jit_ms": ((jit1 - jit0) / n, "ms"),
            "jvm.gc_s": ((gc1 - gc0) / n, "s"),
            "trace.pass_s": e2e["pass_s"],
        })
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
    return {"e2e": e2e, "layers": layers, "report": report,
            "attempted": attempted, "failed": len(failures)}


def layer_metrics(tracer, events, window_ops, n, runner) -> dict:
    """Per-pass self times, call counts and event-log totals of each
    layer over the timed window's ops."""
    self_s, total_s, calls = tracer.totals(window_ops)

    def ev(field, keep):
        return sum(row[field] for group, row in events.items()
                   if group.partition(":")[0] in window_ops
                   and keep(group.partition(":")[2])) / n

    def layer_jobs(name):
        return ev("jobs", lambda layer: layer == name)

    out = {
        "queries.build_s": (self_s.get("queries.build", 0.0) / n, "s"),
        "queries.build_jobs": (layer_jobs("queries.build"), "count"),
        "catalog.table_s": (total_s.get("catalog.table", 0.0) / n, "s"),
        "catalog.table_calls": (calls.get("catalog.table", 0) / n, "count"),
        "catalog.table_jobs": (layer_jobs("catalog.table"), "count"),
        "plan.catalyst_s": (total_s.get("plan.catalyst", 0.0) / n, "s"),
        "materialize.calls": (calls.get("materialize", 0) / n, "count"),
        "materialize.s": (total_s.get("materialize", 0.0) / n, "s"),
        "materialize.jobs": (layer_jobs("materialize"), "count"),
        "materialize.storage_mb": (float(np.mean(
            [mb for op, mb in runner.storage_mb if op in window_ops])), "MB"),
        "execute.s": (total_s.get("execute", 0.0) / n, "s"),
    }
    for field in probes.TASK_FIELDS:
        out[f"execute.{field}"] = (
            ev(field, lambda layer: layer not in BUILD_LAYERS), UNITS[field])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_proc = probes.process_start_epoch()
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    state = {"spark": None}
    try:
        res = run(args, work, t_proc, state)
    finally:
        try:
            stop_session(state["spark"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(work_root)
            except OSError:  # another run is using it
                pass
    metrics = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({"report": res["report"]}), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
