"""Idempotent streaming materialized-view maintenance.

``run_mv`` is the one micro-batch harness behind every foreachBatch MV
entry (the DLT incremental gold-table loop): it streams a chunked
source one file per trigger, applies each micro-batch to the MV tables,
and proves the apply idempotent by running it a second time on the same
batch, while the micro-batch DataFrame is still defined, and checking
that no table version moved. That is the Delta ``txn`` contract: an
epoch retried after its commit but before the stream checkpoint
advanced must no-op.

``fold_sums`` is the additive-aggregate apply most of those views share:
one snapshot read, one data write, one commit per epoch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Sequence

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.tablestore import TackleTable

DEADLINE_S = 300


def _versions(spark: SparkSession, tables: Sequence[str]) -> tuple[int, ...]:
    return tuple(TackleTable(spark, p).version() for p in tables)


def run_mv(
    spark: SparkSession,
    chunks: DataFrame,
    apply_epoch: Callable[[DataFrame, int], None],
    tables: Sequence[str],
) -> bool:
    """Stream ``chunks`` through ``apply_epoch(batch, epoch)`` and return
    ``replay_noop``: whether every in-batch replay left the versions of
    all ``tables`` (TackleTable paths) unchanged.

    ``chunks`` is written as given, so the caller's ``repartition(n)``
    sets the number of micro-batches; it is read back one file per
    trigger under ``availableNow``. A stream still running at the
    deadline is stopped and raises TimeoutError; an exception raised by
    ``apply_epoch`` propagates as itself. The source and the checkpoint
    are removed on every exit path.
    """
    tmp = tempfile.mkdtemp(prefix="mv_")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    replay_noop = True
    errors: list[BaseException] = []

    def _epoch(batch: DataFrame, epoch: int) -> None:
        nonlocal replay_noop
        try:
            apply_epoch(batch, epoch)
            before = _versions(batch.sparkSession, tables)
            apply_epoch(batch, epoch)
            replay_noop = replay_noop and before == _versions(batch.sparkSession, tables)
        except BaseException as e:
            errors.append(e)
            raise

    try:
        chunks.write.parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_epoch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(DEADLINE_S)
        except StreamingQueryException as e:
            if errors:
                raise errors[0] from e
            raise
        finally:
            # a stream outliving the deadline must not keep running: it
            # would poison every later timing in the session
            q.stop()
        if not finished:
            raise TimeoutError(f"availableNow stream exceeded the {DEADLINE_S}s deadline")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return replay_noop


def fold_sums(
    table: TackleTable, partials: DataFrame, keys: Sequence[str], txn: tuple[str, int]
) -> int:
    """Fold per-key partial sums into ``table``: its rows ⊎ ``partials``,
    grouped by ``keys``, every other table column summed, every column
    cast back to its table type and kept in table order, committed by
    :meth:`TackleTable.rewrite` under the ``txn=(app_id, epoch)`` stamp.
    An epoch the log already holds returns before any work; a commit
    that lands after the rows were read raises CommitConflictError (or
    no-ops the fold when it carried this fold's own stamp) instead of
    being overwritten. The folded rows hold every key of the table, so
    the replace writes what a MERGE would, without its touched-file scan
    and join.

    Running sums stay exact because the fold is associative: the result
    does not depend on how the source was split into batches. Per-batch
    cost is the batch's partials plus a |groups|-row rewrite."""

    def fold(current: DataFrame) -> DataFrame:
        fields = current.schema.fields
        sums = [F.sum(f.name).alias(f.name) for f in fields if f.name not in keys]
        return (
            current.unionByName(partials)
            .groupBy(*keys)
            .agg(*sums)
            .select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields])
        )

    return table.rewrite(fold, txn)
