"""CDC apply: the engine's APPLY CHANGES INTO equivalent.

Semantics target (SURVEY §2.9 ST3/ST4, reference
02-Retail_DLT_CDC_Python.py:169-219): merge a change stream into a target
keyed table with

- ``sequence_by`` ordering (out-of-order events resolve by sequence, not
  arrival),
- intra-batch dedup (latest change per key within the micro-batch),
- ``apply_as_delete_when`` tombstones (SCD1 keeps each deleted key's
  sequence, so an older update arriving in a later batch stays deleted),
- ``except_columns`` dropped from the target,
- SCD type 1 (current state) or type 2 (validity-interval history).

The SCD2 hard part — a late event must SPLIT an existing validity
interval — is handled by *rebuilding intervals for affected keys only*:
each batch unions the target's existing change rows for the touched keys
with the new changes, recomputes intervals with ``lead()`` (the batch
oracle in operators.scd), and merges on (keys, __valid_from). Intervals
only ever split or extend, so update+insert covers every repair case.
At scale each batch's work is proportional to the touched keys' history,
never the full table.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_tacklebox_spark.operators.dedup import keep_latest
from lakehouse_tacklebox_spark.operators.scd import scd2_from_changes
from lakehouse_tacklebox_spark.tablestore import TackleTable

TOMBSTONE_COL = "__deleted"
# SCD1 delete sequences, a TackleTable nested in the target directory:
# target reads and vacuum walk only the target's _log and data/
TOMBSTONE_DIR = "_tombstones"


def apply_changes_batch(
    table_path: str,
    changes: DataFrame,
    keys: list[str],
    sequence_by: str,
    apply_as_delete_when: str | None = None,
    except_columns: tuple[str, ...] = (),
    scd_type: int = 1,
) -> None:
    """Apply one batch of CDC rows (the foreachBatch body — usable
    directly for batch CDC too)."""
    spark = changes.sparkSession
    changes = changes.drop(*[c for c in except_columns if c in changes.columns])
    # drop expectation-violating rows: null keys can't merge
    for k in keys:
        changes = changes.filter(F.col(k).isNotNull())

    if scd_type == 1:
        _apply_scd1(spark, table_path, changes, keys, sequence_by, apply_as_delete_when)
    elif scd_type == 2:
        _apply_scd2(spark, table_path, changes, keys, sequence_by, apply_as_delete_when)
    else:
        raise ValueError(f"scd_type must be 1 or 2, got {scd_type}")


def _apply_scd1(spark, table_path, changes, keys, sequence_by, delete_when) -> None:
    deduped = keep_latest(changes, keys=keys, order_by=[sequence_by])
    is_delete = (
        F.coalesce(F.expr(delete_when), F.lit(False)) if delete_when else F.lit(False)
    )
    upserts = deduped.filter(~is_delete)
    tombstones = deduped.filter(is_delete)
    has_tombstones = bool(delete_when) and bool(tombstones.take(1))
    # a deleted key is forgotten by the target, so its delete sequence is
    # kept beside it: an upsert not newer than the key's tombstone is a
    # late event the delete already superseded
    tomb_path = os.path.join(table_path, TOMBSTONE_DIR)
    try:
        tomb_table = TackleTable(spark, tomb_path)
    except FileNotFoundError:
        tomb_table = None
    else:
        latest = tomb_table.read().groupBy(*keys).agg(F.max(sequence_by).alias("__tomb_seq"))
        upserts = (
            upserts.join(latest, keys, "left")
            .filter(F.col("__tomb_seq").isNull() | (F.col(sequence_by) > F.col("__tomb_seq")))
            .select(*upserts.columns)
        )
    try:
        table = TackleTable(spark, table_path)
    except FileNotFoundError:
        TackleTable.create(spark, table_path, upserts)
    else:
        # sequence guard: an older change never overwrites a newer target row
        guard = f"s.{sequence_by} >= t.{sequence_by}"
        (
            table.merge(upserts, on=keys)
            .whenMatchedUpdateAll(condition=guard)
            .whenNotMatchedInsertAll()
            .execute()
        )
        if has_tombstones:
            # tombstones merge separately: matched rows drop (sequence-
            # guarded); tombstones for unknown keys leave the target as is
            table.merge(tombstones, on=keys).whenMatchedDelete(condition=guard).execute()
    if has_tombstones:
        # append-only: a key's effective tombstone is its latest sequence
        seqs = tombstones.select(*keys, sequence_by)
        if tomb_table is None:
            TackleTable.create(spark, tomb_path, seqs)
        else:
            tomb_table.append(seqs)


def _apply_scd2(spark, table_path, changes, keys, sequence_by, delete_when) -> None:
    # intra-batch: keep every distinct change (history wants them all),
    # but collapse exact (key, sequence) duplicates
    changes = keep_latest(changes, keys=[*keys, sequence_by], order_by=[sequence_by])
    is_delete = (
        F.coalesce(F.expr(delete_when), F.lit(False)) if delete_when else F.lit(False)
    )
    changes = changes.withColumn(TOMBSTONE_COL, is_delete)

    try:
        table = TackleTable(spark, table_path)
        existing = table.read()
    except FileNotFoundError:
        history = _rebuild_intervals(changes, keys, sequence_by)
        TackleTable.create(spark, table_path, history)
        return

    touched_keys = changes.select(*keys).distinct()
    affected = existing.join(F.broadcast(touched_keys), keys, "left_semi")
    # existing history rows → back to change rows (drop interval cols)
    data_cols = [c for c in changes.columns]
    prior_changes = affected.select(
        *[c for c in data_cols if c in affected.columns]
    )
    all_changes = prior_changes.unionByName(
        changes.select(*[c for c in data_cols]), allowMissingColumns=True
    )
    all_changes = keep_latest(all_changes, keys=[*keys, sequence_by], order_by=[sequence_by])
    history = _rebuild_intervals(all_changes, keys, sequence_by)
    (
        table.merge(history, on=[*keys, "__valid_from"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def _rebuild_intervals(changes: DataFrame, keys: list[str], sequence_by: str) -> DataFrame:
    h = scd2_from_changes(changes, keys=keys, sequence_col=sequence_by, tiebreaker=sequence_by)
    # a tombstone closes the interval: the deleted "state" row is kept
    # with __is_current=false so history shows the deletion
    return h.withColumn(
        "__is_current", F.col("__is_current") & ~F.col(TOMBSTONE_COL)
    )


def apply_changes(
    source: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    sequence_by: str,
    apply_as_delete_when: str | None = None,
    except_columns: tuple[str, ...] = (),
    scd_type: int = 1,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Streaming APPLY CHANGES INTO: wire a change stream into the
    batch apply via foreachBatch."""
    trigger = trigger or {"availableNow": True}

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        apply_changes_batch(
            table_path,
            batch_df,
            keys=keys,
            sequence_by=sequence_by,
            apply_as_delete_when=apply_as_delete_when,
            except_columns=except_columns,
            scd_type=scd_type,
        )

    return (
        source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )
