"""The idempotent streaming-MV runner (streaming/mv.py): the in-batch
replay proof, failure cleanup, and the additive fold with its
one-snapshot commit."""

from __future__ import annotations

import glob
import os
import tempfile
import unittest.mock as mock

import pytest
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.streaming.mv import fold_sums, run_mv
from lakehouse_tacklebox_spark.tablestore import TackleTable
from lakehouse_tacklebox_spark.tablestore import table as tt

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


@pytest.mark.parametrize("winner_stamp", [("u", 0), ("t", 1)], ids=["other_writer", "own_stamp"])
def test_fold_sums_commit_after_its_read_is_never_overwritten(spark, tmp_path, winner_stamp):
    """Another fold commits after this fold has read the rows it folds.
    Under another writer's stamp this fold must raise, leaving the
    winner's increments in place; under this fold's own stamp (a zombie
    retry of the same epoch that won) it must no-op. Never a silent
    overwrite of the winner's rows."""
    path = str(tmp_path / "mv")
    table = TackleTable.create(spark, path, schema=SUMS_SCHEMA)
    rows = _rows(spark)
    base, mine, theirs = rows.filter("v < 10"), rows.filter("v >= 10 AND v < 25"), rows.filter("v >= 25")
    fold_sums(table, _partials(base), ["k"], ("t", 0))
    own = winner_stamp == ("t", 1)
    winner_rows = mine if own else theirs
    orig_read = TackleTable._read
    raced = []

    def read_then_race(self, *args, **kwargs):
        df = orig_read(self, *args, **kwargs)
        if not raced:
            raced.append(True)
            fold_sums(TackleTable(spark, path), _partials(winner_rows), ["k"], winner_stamp)
        return df

    with mock.patch.object(TackleTable, "_read", read_then_race):
        if own:
            assert fold_sums(table, _partials(mine), ["k"], ("t", 1)) == table.version()
        else:
            with pytest.raises(tt.CommitConflictError):
                fold_sums(table, _partials(mine), ["k"], ("t", 1))
    assert raced
    assert _table_rows(spark, path) == _oneshot(base.unionByName(winner_rows))


def test_fold_sums_is_one_log_read_one_write_no_merge(spark, tmp_path):
    """A fold reads the log once and writes its rows once, never through
    MERGE; a replayed epoch writes no data file; the table's schema DDL
    and column order survive a fold whose key is not the leading column."""
    schema = "n bigint, total bigint, k bigint"
    path = str(tmp_path / "mv")
    table = TackleTable.create(spark, path, schema=schema)
    rows = _rows(spark)
    calls = {"entries": 0, "writes": 0}
    orig_entries, orig_write = TackleTable._entries, tt._write_files

    def counting_entries(self):
        calls["entries"] += 1
        return orig_entries(self)

    def counting_write(df, root):
        calls["writes"] += 1
        return orig_write(df, root)

    def no_merge(self):
        raise AssertionError("fold_sums ran a MERGE")

    data = tmp_path / "mv" / "data"
    with mock.patch.object(TackleTable, "_entries", counting_entries), mock.patch.object(
        tt, "_write_files", counting_write
    ), mock.patch.object(tt.MergeBuilder, "execute", no_merge):
        for epoch, part in enumerate((rows.filter("v < 25"), rows.filter("v >= 25"))):
            calls.update(entries=0, writes=0)
            fold_sums(table, _partials(part), ["k"], ("t", epoch))
            assert calls == {"entries": 1, "writes": 1}, epoch
        written = sorted(data.iterdir())
        calls.update(entries=0, writes=0)
        fold_sums(table, _partials(part), ["k"], ("t", 1))  # replayed epoch
        assert calls == {"entries": 1, "writes": 0}
    assert sorted(data.iterdir()) == written
    assert table.snapshot().schema == schema
    assert table.read().columns == ["n", "total", "k"]
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


@pytest.mark.parametrize(
    "name, prefix",
    [
        ("stream_pq_index_mv", "pq_mv_"),
        ("stream_epoch_shuffle_mv", "epoch_mv_"),
        ("cdc_span_census_deletes", "spanforget_"),
        ("stream_mv_retraction", "mv_retract_"),
        ("stream_heavy_hitters_mv", "mg_mv_"),
    ],
)
def test_entry_leaves_no_scratch_table_behind(spark, tmp_path, monkeypatch, name, prefix):
    """These entries return rows that no longer read their TackleTable
    scratch directory, so the directory is gone once the result is
    collected."""
    from lakehouse_tacklebox_spark.queries import REGISTRY
    from tests.conftest import SF_DIR

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert REGISTRY[name].fn(spark, SF_DIR).collect()
    assert glob.glob(os.path.join(str(tmp_path), prefix + "*")) == []
