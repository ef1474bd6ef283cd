"""Batch MERGE (upsert) and slowly-changing-dimension history.

A warehouse engine needs MERGE even without a transactional table
format: the nightly "apply this changelog to the snapshot" job is a
single full-outer hash join away. Lakehouse MERGE implementations
(Delta/Iceberg, both public) do exactly this join under the hood and
add file-level conflict handling; the relational core is here.

Scale notes: the changelog is usually ≪ the snapshot — pass
``broadcast_updates=True`` and the merge becomes a broadcast join, no
shuffle of the snapshot at all. When both sides are large, the
full-outer join shuffles each side once on the key — the minimum any
MERGE can do. Snapshots stored bucketed by the merge key
(``DataFrameWriter.bucketBy``) skip even that exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    insert_defaults: dict[str, Column] | None = None,
    broadcast_updates: bool = False,
) -> DataFrame:
    """SCD-1 MERGE of a changelog into a snapshot:

    - matched row            → update columns take the updates side;
    - only-in-updates (new)  → inserted; base-only columns come from
      ``insert_defaults``, NULL where no default is given;
    - only-in-base           → carried forward unchanged.

    Two physical strategies with identical results:

    ``broadcast_updates=False`` — ONE full-outer hash join on the
    keys. Spark cannot broadcast a full-outer equi join (the hint is
    silently ignored; both sides shuffle), so this is the
    both-sides-large plan, and the shuffle is the minimum any such
    MERGE can do. Bucketed snapshots skip even that exchange.

    ``broadcast_updates=True`` — the small-changelog plan, split so
    the snapshot NEVER shuffles: (a) base LEFT broadcast-join updates
    (map-side hash probe over every snapshot row — update + carry
    branches), UNION ALL (b) inserts = updates left-anti the
    snapshot's KEY COLUMN — the only exchange in the plan carries one
    key column of the snapshot, not its rows. This is the join
    topology lakehouse MERGE implementations (Delta/Iceberg, public)
    lower to when the source fits in memory.

    Column contract: ``updates`` must contain ``keys`` plus a subset
    of base's columns (the ones being updated). The result has exactly
    base's schema; keys must be unique on both sides. Update values
    must be non-null (a null update value is indistinguishable from
    "no update" in the coalesce plan; SCD deletes are a separate
    tombstone column, not nulls).
    """
    insert_defaults = insert_defaults or {}
    upd_cols = [c for c in updates.columns if c not in keys]
    missing = set(upd_cols) - set(base.columns)
    if missing:
        raise ValueError(f"updates columns not in base schema: {sorted(missing)}")

    def merged_col(c: str) -> Column:
        if c in keys:
            return F.col(c)  # USING-join key: already coalesced
        if c in upd_cols:
            return F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
        if c in insert_defaults:
            return F.coalesce(F.col(f"b.{c}"), insert_defaults[c]).alias(c)
        return F.col(f"b.{c}").alias(c)

    def insert_col(c: str) -> Column:
        if c in keys or c in upd_cols:
            return F.col(c)
        if c in insert_defaults:
            return insert_defaults[c].alias(c)
        # same NULL the full-outer strategy produces for this branch
        return F.lit(None).cast(base.schema[c].dataType).alias(c)

    if not broadcast_updates:
        joined = base.alias("b").join(updates.alias("u"), on=keys,
                                      how="full_outer")
        return joined.select(*[merged_col(c) for c in base.columns])

    upserts = (
        base.alias("b")
        .join(F.broadcast(updates.alias("u")), on=keys, how="left")
        .select(*[merged_col(c) for c in base.columns])
    )
    inserts = (
        updates.join(base.select(*keys), on=keys, how="left_anti")
        .select(*[insert_col(c) for c in base.columns])
    )
    return upserts.unionByName(inserts)


def scd2_history(
    df: DataFrame,
    key: str,
    change_ts: str,
    attrs: list[str],
    tiebreak: str | None = None,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension layout from a change log:
    each (key, change) row becomes a versioned interval
    ``[valid_from, valid_to)`` with ``is_current`` on the newest.

    One keyed window (lead over the per-key change order) — a single
    shuffle on the entity key, no self-join. The standard dimension-
    table shape every warehouse ETL emits. ``tiebreak`` makes the
    per-key order total when change timestamps can collide (module
    determinism rule).
    """
    from pyspark.sql.window import Window

    order_cols = [F.col(change_ts)] + (
        [F.col(tiebreak)] if tiebreak is not None else []
    )
    w = Window.partitionBy(key).orderBy(*order_cols)
    return df.select(
        key,
        *attrs,
        F.col(change_ts).alias("valid_from"),
        F.coalesce(
            F.lead(change_ts).over(w), F.lit(end_of_time).cast("timestamp")
        ).alias("valid_to"),
        F.lead(change_ts).over(w).isNull().alias("is_current"),
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    insert_defaults: dict[str, Column] | None = None,
    broadcast_changes: bool = True,
) -> DataFrame:
    """Apply a CDC changelog with tombstones: rows whose ``op_col`` is
    ``'D'`` DELETE the matching snapshot key; every other op upserts
    (``merge_upsert`` semantics). Deletes are a keys-only anti join —
    with a broadcast changelog the snapshot still never shuffles.

    This is the full Debezium-style apply loop: I/U collapse into the
    upsert branch (an insert for an unseen key IS an upsert), D is the
    only op needing its own branch.
    """
    dels = changes.filter(F.col(op_col) == "D").select(*keys)
    ups = changes.filter(F.col(op_col) != "D").drop(op_col)
    survivors = base.join(
        F.broadcast(dels) if broadcast_changes else dels, keys, "left_anti"
    )
    return merge_upsert(
        survivors, ups, keys,
        insert_defaults=insert_defaults,
        broadcast_updates=broadcast_changes,
    )
