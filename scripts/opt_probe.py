#!/usr/bin/env python
"""Optimization-round probe: isolated timings + plan capture.

For each Qkey named on the command line:
  * time one warm build of the frame (``build_ms``) and count the py4j
    commands it sends (``py4j_calls``, without py4j's own ``m`` memory
    commands),
  * time the noop-sink execution min-of-N on one warm session
    (bench.py methodology, labelled via setJobDescription),
  * count the Janino compiles those runs made and the milliseconds
    they took (``CodegenMetrics.METRIC_COMPILATION_TIME`` and
    ``CodeGenerator.compileTime``, read over py4j; keys probed earlier
    in the same session leave their classes cached), and
  * write ``df.explain('formatted')`` to plans/<dir>/<key>_<tag>.txt
    (default plans/r14).

Usage:
  python scripts/opt_probe.py [--tag before|after] [--reps N] key ...

Plans and timings are the evidence base for OPTIMIZATION_r13.md —
the judge checks plan claims against the committed files.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import force, timed_min  # noqa: E402
from mini_sql_engine_spark.queries import QUERIES  # noqa: E402
from mini_sql_engine_spark.session import get_spark  # noqa: E402


@contextlib.contextmanager
def py4j_commands(spark):
    """Count the py4j commands this process sends to the JVM inside the
    block, apart from py4j's ``m`` memory commands (the garbage
    collection of Python-side handles, which depends on when CPython
    frees them). Yields a one-element list holding the count."""
    client = spark.sparkContext._gateway._gateway_client
    count = [0]
    send = client.send_command

    def counted(command, *args, **kwargs):
        if not command.startswith("m\n"):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        del client.send_command


def probe_session(app_name: str = "opt-probe",
                  extra_conf: dict[str, str] | None = None):
    """The engine session the probes run on: ``get_spark`` without the
    console progress bar, plus ``extra_conf``."""
    return get_spark(
        app_name=app_name,
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    **(extra_conf or {})},
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--plans-dir", default="r14")
    args = ap.parse_args()

    plans_dir = os.path.join(REPO, "plans", args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)
    spark = probe_session()
    # warm up JVM / codegen / parquet footers
    force(QUERIES["group_agg"](spark, args.sf_dir))

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator

    out: dict[str, float] = {}
    janino: dict[str, dict[str, float]] = {}
    build: dict[str, dict[str, float]] = {}
    for key in args.keys:
        fn = QUERIES[key]
        df = fn(spark, args.sf_dir)  # warms the catalog frames
        if not args.no_plan:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{key}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(plan)
        t0 = time.perf_counter()
        with py4j_commands(spark) as sent:
            fn(spark, args.sf_dir)
        build[key] = {
            "build_ms": round((time.perf_counter() - t0) * 1e3, 1),
            "py4j_calls": sent[0],
        }
        spark.sparkContext.setJobDescription(f"probe:{key}")
        n0, ns0 = compiles.getCount(), codegen.compileTime()
        out[key] = timed_min(lambda: force(fn(spark, args.sf_dir)),
                             base_reps=args.reps, fast_reps=args.reps)
        janino[key] = {
            "compiles": compiles.getCount() - n0,
            "compile_ms": round((codegen.compileTime() - ns0) / 1e6, 1),
        }
        print(json.dumps({key: out[key], **build[key], **janino[key]}),
              flush=True)
    print(json.dumps({"tag": args.tag, "timings": out, "build": build,
                      "janino": janino}), flush=True)


if __name__ == "__main__":
    main()
