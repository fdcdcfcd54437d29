"""The idempotent streaming-MV runner (streaming/mv.py): the in-batch
replay proof, failure cleanup, and the additive fold."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
from lakehouse_tacklebox_spark.tablestore import TackleTable

SUMS_SCHEMA = "k bigint, n bigint, total bigint"


def _rows(spark, n=40):
    return spark.range(n).select((F.col("id") % 3).alias("k"), F.col("id").alias("v"))


def _partials(df):
    return df.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("v").cast("bigint").alias("total")
    )


def _oneshot(df):
    return sorted(tuple(r) for r in _partials(df).collect())


def _table_rows(spark, path):
    return sorted(tuple(r) for r in TackleTable(spark, path).read().select("k", "n", "total").collect())


def test_fold_sums_two_epochs_equal_oneshot_sum(spark, tmp_path):
    path = str(tmp_path / "mv")
    table = TackleTable.create(spark, path, schema=SUMS_SCHEMA)
    rows = _rows(spark)
    first, second = rows.filter("v < 25"), rows.filter("v >= 25")
    fold_sums(table, _partials(first), ["k"], ("t", 0))
    v1 = fold_sums(table, _partials(second), ["k"], ("t", 1))
    # a replayed epoch the log already holds is a no-op
    assert fold_sums(table, _partials(second), ["k"], ("t", 1)) == v1 == table.version()
    assert _table_rows(spark, path) == _oneshot(rows)


def test_run_mv_fold_is_replay_safe(spark, tmp_path):
    path = str(tmp_path / "mv")
    TackleTable.create(spark, path, schema=SUMS_SCHEMA)

    def _apply(batch, epoch):
        fold_sums(TackleTable(batch.sparkSession, path), _partials(batch), ["k"], ("t", epoch))

    rows = _rows(spark)
    assert run_mv(spark, rows.repartition(2), _apply, [path]) is True
    assert TackleTable(spark, path).txn_version("t") >= 1  # two files, two epochs
    assert _table_rows(spark, path) == _oneshot(rows)


def test_run_mv_unstamped_apply_is_not_replay_noop(spark, tmp_path):
    path = str(tmp_path / "mv")
    TackleTable.create(spark, path, schema="k bigint, v bigint")

    def _apply(batch, epoch):
        TackleTable(batch.sparkSession, path).append(batch)  # no txn stamp

    assert run_mv(spark, _rows(spark, 10).repartition(1), _apply, [path]) is False


class _Boom(RuntimeError):
    pass


def test_run_mv_failure_propagates_and_cleans_up(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = str(tmp_path / "mv")
    TackleTable.create(spark, path, schema="k bigint, v bigint")

    def _apply(batch, epoch):
        raise _Boom(f"epoch {epoch}")

    with pytest.raises(_Boom):
        run_mv(spark, _rows(spark, 10).repartition(1), _apply, [path])
    assert glob.glob(os.path.join(str(tmp_path), "mv_*")) == []
    assert spark.streams.active == []
