"""Materialization barrier for fan-out subplans.

Spark recomputes a shared subplan once PER CONSUMER: a self-join on a
derived DataFrame (fingerprints, LSH keys, inverted index) evaluates
the whole upstream pipeline for each side unless an identical exchange
gets reused — which canonicalization rarely grants across differently
-aliased join branches. For derived tables that are small relative to
their input (a 64-bit fingerprint per multi-KB document) the right
plan is: compute once, materialize, fan out.

``materialized`` uses ``localCheckpoint`` — executor-local blocks, no
lineage, computed exactly once and shared by every consumer in the
same action. Local checkpoints don't survive executor loss: a query
that loses an executor mid-action fails instead of recomputing.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

# Live local-checkpoint block sets, as (generation, JVM-RDD handle)
# pairs. localCheckpoint blocks are never freed by Spark until the
# session dies, so a long sequential run (339 bench keys, a full
# oracle drive) accumulates every fan-out intermediate it ever
# materialized on the executor heap — the r13 verdict measured the
# dedup keys reading ~2× their isolated times in-suite from exactly
# this pressure. The registry below frees them at the two moments
# their lifetime provably ends: when the NEXT top-level query build
# starts (``new_generation`` — wired into the QUERIES registry), and
# when an iterative loop supersedes its per-round state (``release``
# — wired into the CC loops).
_TRACKED: list = []  # [(generation, py4j RDD handle)]
_GEN: int = 0

# What a py4j call on a checkpoint handle can raise: the JVM call
# failed or the gateway is gone (Py4JError), or the frame has no JVM
# plan at all (AttributeError: no ``_jdf``, e.g. a Connect frame).
_HANDLE_ERRORS = (Py4JError, AttributeError)
_WARNED: set = set()  # sites that have already warned in this process


def _warn_once(site: str, exc: Exception) -> None:
    """Report a failed tracking or unpersist step once per process and
    site: the query still runs, but the blocks involved stay on the
    executor heap until the session ends."""
    if site in _WARNED:
        return
    _WARNED.add(site)
    warnings.warn(
        f"plans.materialize.{site} failed ({exc!r}); the local-checkpoint "
        "blocks involved stay cached until the session ends",
        RuntimeWarning,
        stacklevel=3,
    )


def _track(ck: DataFrame) -> None:
    try:
        # the checkpointed Dataset's logical plan is a LogicalRDD
        # wrapping the persisted RDD — the one handle unpersist needs
        _TRACKED.append((_GEN, ck._jdf.queryExecution().analyzed().rdd()))
    except _HANDLE_ERRORS as exc:
        _warn_once("_track", exc)


def new_generation() -> None:
    """Mark a top-level query-build boundary and free every checkpoint
    created before it. Callers of the QUERIES registry build, execute,
    and discard one query at a time (bench, the round driver, the
    contract drive), so any checkpoint from an earlier build belongs
    to a consumer that has already finished its action. Use-after-free
    is loud, not silent: a released local checkpoint raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, it can never return stale rows
    (lineage is truncated, blocks are gone).

    ``SPARK_GRAFT_KEEP_CHECKPOINTS=1`` disables the release entirely
    (operational escape hatch for a consumer that builds several
    query frames before executing them)."""
    if os.environ.get("SPARK_GRAFT_KEEP_CHECKPOINTS") == "1":
        return
    global _GEN
    _GEN += 1
    cur = _GEN
    keep = []
    for gen, jrdd in _TRACKED:
        if gen < cur:
            try:
                jrdd.unpersist(False)
            except _HANDLE_ERRORS as exc:
                _warn_once("new_generation", exc)
        else:  # pragma: no cover - same-generation entries stay
            keep.append((gen, jrdd))
    _TRACKED[:] = keep


def release(df: DataFrame) -> None:
    """Immediately free the local-checkpoint blocks backing ``df`` (a
    frame returned by ``materialized``). Only for call
    sites that OWN the frame's lifetime — e.g. an iterative loop whose
    round-N state is dead once round N+1 has materialized."""
    try:
        target = df._jdf.queryExecution().analyzed().rdd()
    except _HANDLE_ERRORS:  # not a checkpointed frame: nothing to free
        return
    tid = target.id()
    keep = []
    for gen, jrdd in _TRACKED:
        if jrdd.id() == tid:
            try:
                jrdd.unpersist(False)
            except _HANDLE_ERRORS as exc:
                _warn_once("release", exc)
        else:
            keep.append((gen, jrdd))
    _TRACKED[:] = keep


def materialized(df: DataFrame) -> DataFrame:
    """Force ``df`` to compute once (eager ``localCheckpoint``) and be
    re-read by all consumers. The checkpoint is tracked so its blocks
    are freed once the consuming query's lifetime ends (see
    ``new_generation``)."""
    ck = df.localCheckpoint(eager=True)
    _track(ck)
    return ck


def spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-heavy per-row kernels
    (optimization guide §2: derive partitioning from the input, never
    from a local constant).

    A parquet scan's task count is bounded by its file/row-group
    layout: a small input (one file, one row group) plans as ONE task,
    and every per-row kernel upstream of the first exchange — shingle
    explosion, per-seed MinHash md5s, bigram builds — then runs on one
    core no matter how many the session has. At real scale the scan
    has thousands of splits and this helper is a NO-OP (the planned
    partition count already meets the session's parallelism); below
    that it inserts one round-robin exchange whose cost is
    proportional to the (small, by construction) input.

    The check reads the PLANNED partitioning on the JVM side (no job
    runs, and no Python RDD is built just to count its partitions);
    the target is ``sparkContext.defaultParallelism``, so the decision
    scales with the session rather than hard-coding any local core
    count.

    Call it on the catalog's frame and project afterwards,
    ``spread(t).select(...)``: Spark memoizes ``toRdd()`` on that
    cached frame's query execution, so only a session's first build
    pays for the probe (50 → 10 ms per call on ``documents`` at sf0.01),
    and ColumnPruning pushes the projection under the round-robin
    exchange, so the plan is the one ``spread(t.select(...))`` gives.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        current = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # non-queryable plan (e.g. streaming) — leave it
        return df
    if current >= target:
        return df
    return df.repartition(target)
