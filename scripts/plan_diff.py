#!/usr/bin/env python
"""Save and compare the normalised Catalyst plans of every Qkey.

``--save DIR`` builds each key and writes ``DIR/<key>.plan``: the
optimized and physical plan of the returned frame and of every frame
the build checkpointed (each ``materialized()`` barrier), in build
order. ``--against DIR`` builds the same keys from this tree and
prints the keys whose plans differ from the saved ones, each with a
unified diff; it exits 1 when any key differs.

Plans are normalised before they are written, so that two builds of
the same code compare equal:

- expression ids (``l_quantity#4``) become ``#n``;
- generated lambda variables (``lambda x_12``) lose their counter;
- exchange plan ids (``[plan_id=217]``) become ``plan_id=n``.

File-scan metadata is printed untruncated, so a changed pushed filter
shows up in the diff. Partition counts follow the session's
parallelism (``SPARK_GRAFT_CPUS``), so save and compare with the same
value.

Usage:
  python scripts/plan_diff.py --save DIR [--sf-dir D] [--conf K=V] [key ...]
  python scripts/plan_diff.py --against DIR [--sf-dir D] [--conf K=V] [key ...]

With no keys, every key of ``QUERIES`` is built. ``--sf-dir`` defaults
to the sf0.001 dir beside the catalog's default one.
"""

from __future__ import annotations

import argparse
import contextlib
import difflib
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from mini_sql_engine_spark import catalog  # noqa: E402
from opt_probe import probe_session  # noqa: E402

# sf0.001 beside the catalog's default data dir
DEFAULT_SF_DIR = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR),
                              "sf0.001")

# Print plans whole: scan metadata (PushedFilters, DataFilters) and
# wide projections are otherwise cut at 100 characters / 25 fields.
PLAN_CONF = {
    "spark.sql.maxMetadataStringLength": "100000",
    "spark.sql.debug.maxToStringFields": "10000",
}

_NORMALISE = (
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
)


def normalise(plan: str) -> str:
    for pattern, repl in _NORMALISE:
        plan = pattern.sub(repl, plan)
    return plan.rstrip() + "\n"


def _plans(df) -> tuple[str, str]:
    qe = df._jdf.queryExecution()
    return (normalise(qe.optimizedPlan().toString()),
            normalise(qe.executedPlan().toString()))


@contextlib.contextmanager
def _barriers():
    """Collect the plans of every frame checkpointed inside the block
    (``materialized()`` is an eager ``localCheckpoint``). They are read
    before the checkpoint runs: the adaptive plan of an executed frame
    numbers its query stages in completion order, which varies from
    run to run."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen: list[tuple[str, str]] = []
    original = DataFrame.localCheckpoint

    def recorded(self, *args, **kwargs):
        seen.append(_plans(self))
        return original(self, *args, **kwargs)

    DataFrame.localCheckpoint = recorded
    try:
        yield seen
    finally:
        DataFrame.localCheckpoint = original


def plan_text(spark, sf_dir: str, build) -> str:
    """The normalised plan file of one build."""
    sections = []
    with _barriers() as barriers:
        try:
            df = build(spark, sf_dir)
        except Exception as exc:  # recorded, so a broken key diffs too
            df = None
            sections.append(f"== error ==\n{type(exc).__name__}: "
                            f"{str(exc).splitlines()[0] if str(exc) else ''}\n")
    for i, (opt, phys) in enumerate(barriers, 1):
        sections += [f"== barrier {i}: optimized ==\n{opt}",
                     f"== barrier {i}: physical ==\n{phys}"]
    if df is not None:
        opt, phys = _plans(df)
        sections += [f"== optimized ==\n{opt}", f"== physical ==\n{phys}"]
    return "".join(sections)


def save(spark, sf_dir: str, keys, out_dir: str) -> None:
    """Write ``out_dir/<key>.plan`` for each key."""
    queries = _queries()
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        with open(os.path.join(out_dir, f"{key}.plan"), "w") as fh:
            fh.write(plan_text(spark, sf_dir, queries[key]))
        print(f"saved {key}", flush=True)


def against(spark, sf_dir: str, keys, saved_dir: str,
            queries=None) -> dict[str, str]:
    """Unified diffs, by key, of this tree's plans against ``saved_dir``;
    keys whose plans are unchanged are left out."""
    queries = queries or _queries()
    diffs = {}
    for key in keys:
        path = os.path.join(saved_dir, f"{key}.plan")
        if not os.path.exists(path):
            diffs[key] = f"no saved plan at {path}\n"
            continue
        with open(path) as fh:
            old = fh.read()
        new = plan_text(spark, sf_dir, queries[key])
        if new != old:
            diffs[key] = "".join(difflib.unified_diff(
                old.splitlines(keepends=True), new.splitlines(keepends=True),
                fromfile=path, tofile=f"{key} (this tree)"))
    return diffs


def _queries():
    from mini_sql_engine_spark.queries import QUERIES

    return QUERIES


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--save", metavar="DIR")
    mode.add_argument("--against", metavar="DIR")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V",
                    help="extra Spark conf for the session (repeatable)")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    conf = dict(PLAN_CONF)
    for kv in args.conf:
        k, _, v = kv.partition("=")
        conf[k] = v
    spark = probe_session("plan-diff", conf)
    keys = args.keys or list(_queries())
    if args.save:
        save(spark, args.sf_dir, keys, args.save)
        return 0
    diffs = against(spark, args.sf_dir, keys, args.against)
    for key, text in diffs.items():
        print(f"DIFF {key}\n{text}")
    print(f"{len(keys)} keys compared, {len(diffs)} differ"
          + (f": {' '.join(diffs)}" if diffs else ""))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
