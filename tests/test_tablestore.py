"""TackleTable: commit log, merge, time travel, restore, DML, CDF,
optimize, vacuum, concurrency conflicts."""

from __future__ import annotations

import sys
import threading
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_tacklebox_spark.tablestore import TackleTable
from lakehouse_tacklebox_spark.tablestore.table import CommitConflictError


@pytest.fixture()
def users(spark):
    return spark.createDataFrame(
        [(1, "alice", 100.0), (2, "bob", 200.0), (3, "carol", 300.0)],
        "id bigint, name string, balance double",
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_read_roundtrip(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    assert t.version() == 0
    assert rows(t.read()) == rows(users)
    assert t.detail()["numFiles"] >= 1


def test_append_and_time_travel(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    more = spark.createDataFrame([(4, "dave", 400.0)], "id bigint, name string, balance double")
    v1 = t.append(more)
    assert v1 == 1
    assert t.read().count() == 4
    assert t.read(version=0).count() == 3  # VERSION AS OF
    hist = t.history()
    assert [h["operation"] for h in hist] == ["APPEND", "CREATE"]


def test_append_schema_mismatch_rejected(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    bad = spark.createDataFrame([(9, "x", 1.0, "EXTRA")], "id bigint, name string, balance double, extra string")
    with pytest.raises(ValueError):
        t.append(bad)
    # mergeSchema evolves instead
    t.append(bad, merge_schema=True)
    assert "extra" in t.read().columns
    assert t.read().filter("id = 1").select("extra").collect()[0][0] is None


def test_overwrite_and_restore(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    replacement = spark.createDataFrame([(99, "zed", 0.0)], "id bigint, name string, balance double")
    t.overwrite(replacement)
    assert t.read().count() == 1
    t.restore(0)
    assert rows(t.read()) == rows(users)
    assert t.history()[0]["operation"] == "RESTORE"


def test_merge_upsert(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    src = spark.createDataFrame(
        [(2, "bob2", 250.0), (4, "dave", 400.0)], "id bigint, name string, balance double"
    )
    t.merge(src, on=["id"]).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    got = {r["id"]: (r["name"], r["balance"]) for r in t.read().collect()}
    assert got == {1: ("alice", 100.0), 2: ("bob2", 250.0), 3: ("carol", 300.0), 4: ("dave", 400.0)}


def test_merge_delete_and_conditional_update(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    src = spark.createDataFrame(
        [(1, "alice", -1.0), (2, "bob-up", 999.0)], "id bigint, name string, balance double"
    )
    (
        t.merge(src, on=["id"])
        .whenMatchedDelete(condition="s.balance < 0")
        .whenMatchedUpdateAll(condition="s.balance >= 0")
        .execute()
    )
    got = {r["id"]: r["name"] for r in t.read().collect()}
    assert got == {2: "bob-up", 3: "carol"}


def test_merge_only_rewrites_touched_files(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    # second file via append; merge touching only the appended key
    t.append(spark.createDataFrame([(10, "ten", 1.0)], "id bigint, name string, balance double"))
    src = spark.createDataFrame([(10, "TEN", 2.0)], "id bigint, name string, balance double")
    t.merge(src, on=["id"]).whenMatchedUpdateAll().execute()
    metrics = t.history()[0]["operationMetrics"]
    assert metrics["numTargetFilesRewritten"] <= 1  # untouched create-file kept
    assert t.read().filter("id = 1").count() == 1


def test_delete_update_dml(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    t.delete("balance >= 300")
    assert t.read().count() == 2
    t.update("name = 'alice'", {"balance": "balance * 2"})
    assert t.read().filter("name = 'alice'").collect()[0]["balance"] == 200.0


def test_change_data_feed(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    src = spark.createDataFrame(
        [(2, "bob2", 250.0), (4, "dave", 400.0), (3, "carol", -5.0)],
        "id bigint, name string, balance double",
    )
    (
        t.merge(src, on=["id"])
        .whenMatchedUpdateAll(condition="s.balance >= 0")
        .whenMatchedDelete(condition="s.balance < 0")
        .whenNotMatchedInsertAll()
        .withChangeDataFeed()
        .execute()
    )
    changes = {(r["id"], r["_change_type"]) for r in t.read_changes(1).collect()}
    assert changes == {(2, "update"), (4, "insert"), (3, "delete")}
    # CDF from version 0 includes the CREATE rows as inserts
    all_changes = t.read_changes(0)
    assert all_changes.filter("_commit_version = 0").count() == 3


def test_optimize_compacts_and_preserves(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    for i in range(4):
        t.append(spark.createDataFrame([(100 + i, "u", 1.0)], "id bigint, name string, balance double"))
    before = t.detail()["numFiles"]
    data_before = rows(t.read())
    t.optimize()
    assert t.detail()["numFiles"] < before
    assert rows(t.read()) == data_before


def test_vacuum_removes_unreferenced(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    t.overwrite(spark.createDataFrame([(5, "e", 1.0)], "id bigint, name string, balance double"))
    removed = t.vacuum(keep_versions=1)
    assert removed >= 1
    assert t.read().count() == 1  # current version intact
    with pytest.raises(Exception):
        t.read(version=0).count()  # time travel gone after vacuum


def test_concurrent_append_no_lost_updates(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    errs = []

    def worker(i):
        try:
            tt = TackleTable(spark, t.path)
            tt.append(
                spark.createDataFrame([(1000 + i, f"w{i}", 1.0)], "id bigint, name string, balance double")
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs
    assert t.read().filter("id >= 1000").count() == 4


def test_conflicting_rewrite_raises(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    t2 = TackleTable(spark, t.path)
    snap = t2.snapshot()
    t.delete("id = 1")  # moves version forward
    with pytest.raises(CommitConflictError):
        t2._commit(snap, "DELETE", {}, [], [], {})


def test_merge_null_key_matches_regardless_of_file_layout(spark, tmp_path):
    """Phase-1 touched-file discovery and the phase-2 merge join must agree
    on null-key semantics (both null-safe): a null-key target row sitting
    ALONE in its file must still be updated, not duplicated by the insert
    branch."""
    schema = "id bigint, name string, balance double"
    t = TackleTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([(1, "alice", 100.0)], schema)
    )
    # second commit -> the null-key row lives in its own file, sharing no
    # file with any non-null matched key
    t.append(spark.createDataFrame([(None, "ghost", 5.0)], schema))
    src = spark.createDataFrame([(None, "ghost2", 9.0)], schema)
    t.merge(src, on=["id"]).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    got = {r["name"]: (r["id"], r["balance"]) for r in t.read().collect()}
    assert got == {"alice": (1, 100.0), "ghost2": (None, 9.0)}


def test_txn_idempotent_merge_and_append(spark, users, tmp_path):
    """Delta-protocol txn stamps: a retried epoch's MERGE/APPEND no-ops.

    Models a streaming foreachBatch retry — the merge committed but the
    checkpoint didn't advance, so the writer re-runs the same epoch. The
    txn stamp lives in the same commit as the data, so the retry is
    detected and running sums are not double-applied."""
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    assert t.txn_version("mv") == -1

    delta = spark.createDataFrame(
        [(1, "alice", 50.0), (4, "dave", 400.0)], "id bigint, name string, balance double"
    )
    v1 = (
        t.merge(delta, on=["id"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withTransaction("mv", 0)
        .execute()
    )
    assert t.txn_version("mv") == 0
    # retry of epoch 0: must be a no-op (same table version, same rows)
    v2 = (
        t.merge(delta, on=["id"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withTransaction("mv", 0)
        .execute()
    )
    assert v2 == v1
    got = {r["id"]: r["balance"] for r in t.read().collect()}
    assert got == {1: 50.0, 2: 200.0, 3: 300.0, 4: 400.0}

    # a NEW epoch applies; its retry no-ops; a different appId is untracked
    t.merge(delta, on=["id"]).whenMatchedUpdateAll().withTransaction("mv", 1).execute()
    assert t.txn_version("mv") == 1
    assert t.txn_version("other") == -1

    # append path: epoch 2 lands once, its retry no-ops
    extra = spark.createDataFrame([(5, "eve", 500.0)], "id bigint, name string, balance double")
    t.append(extra, txn=("mv", 2))
    n_before = t.read().count()
    t.append(extra, txn=("mv", 2))
    assert t.read().count() == n_before


def test_empty_source_merge_commits_nothing(spark, tmp_path):
    """A MERGE whose source is empty changes nothing: no version, no
    file. With a txn stamp it commits the stamp alone, so a retried
    epoch still sees it."""
    schema = "id bigint, name string, balance double"
    t = TackleTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "alice", 100.0)], schema).coalesce(1),
    )
    empty = spark.createDataFrame([], schema)
    for _ in range(2):
        v = t.merge(empty, on=["id"]).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        assert v == 0
    assert t.version() == 0
    assert len(t._active_files()[0]) == 1
    assert len(list((tmp_path / "t" / "data").iterdir())) == 1

    v = t.merge(empty, on=["id"]).whenMatchedUpdateAll().withTransaction("mv", 7).execute()
    assert v == 1 and t.version() == 1
    last = t._entries()[-1]
    assert last.operation == "MERGE" and last.add == [] and last.remove == []
    assert len(t._active_files()[0]) == 1
    assert len(list((tmp_path / "t" / "data").iterdir())) == 1
    assert t.txn_version("mv") == 7
    # the retried epoch no-ops
    assert t.merge(empty, on=["id"]).whenMatchedUpdateAll().withTransaction("mv", 7).execute() == 1
    assert rows(t.read()) == [(1, "alice", 100.0)]


def test_txn_recheck_inside_commit_window(spark, users, tmp_path):
    """The idempotence stamp is re-validated INSIDE _commit's attempt
    loop, not only in append()'s pre-check: a zombie writer sharing the
    app_id (streaming failover) that wins the version between the
    pre-check and the log write must turn the straggler's commit into a
    no-op, never a double-apply (Delta's SetTransaction conflict rule)."""
    from lakehouse_tacklebox_spark.tablestore.table import _write_files

    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    extra = spark.createDataFrame(
        [(9, "zoe", 900.0)], "id bigint, name string, balance double"
    )
    # the straggler read its snapshot, passed its pre-check
    # (txn_version('mv') == -1), wrote its files, and is about to commit ...
    snap = t.snapshot()
    assert not snap.has_txn(("mv", 3))
    files, n = _write_files(extra, t.path)
    # ... when the zombie sharing the app_id commits the same epoch first
    t.append(extra, txn=("mv", 3))
    v_after_zombie = t.version()
    n_rows = t.read().count()
    # the straggler's commit attempt must detect the stamp and no-op
    v = t._commit(
        snap,
        "APPEND",
        {"txn": {"appId": "mv", "version": 3}},
        files,
        [],
        {"numOutputRows": n, "numAddedFiles": len(files)},
        txn=("mv", 3),
    )
    assert v == v_after_zombie
    assert t.version() == v_after_zombie
    assert t.read().count() == n_rows  # epoch applied exactly once


def test_merge_txn_conflict_resolves_to_noop(spark, users, tmp_path):
    """A MERGE whose snapshot conflict was caused by a zombie retry of
    the SAME (app_id, version) resolves to idempotent success instead of
    raising — any other winner still surfaces CommitConflictError."""
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    delta = spark.createDataFrame(
        [(1, "alice", 50.0), (4, "dave", 400.0)],
        "id bigint, name string, balance double",
    )

    raced = {"done": False}
    orig_snapshot = TackleTable.snapshot

    def racing_snapshot(self, *args, **kwargs):
        # fire the zombie's winning commit after the straggler read its
        # snapshot but before its own commit lands
        out = orig_snapshot(self, *args, **kwargs)
        if not raced["done"]:
            raced["done"] = True
            zombie = TackleTable(spark, t.path)
            (
                zombie.merge(delta, on=["id"])
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .withTransaction("mv", 5)
                .execute()
            )
        return out

    import unittest.mock as mock

    with mock.patch.object(TackleTable, "snapshot", racing_snapshot):
        v = (
            t.merge(delta, on=["id"])
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .withTransaction("mv", 5)
            .execute()
        )
    assert raced["done"]
    assert v == t.version()
    got = {r["id"]: r["balance"] for r in t.read().collect()}
    assert got == {1: 50.0, 2: 200.0, 3: 300.0, 4: 400.0}  # applied once


def test_txn_idempotent_overwrite(spark, users, tmp_path):
    """overwrite(txn=...) carries the same Delta-txn contract as append:
    a replayed epoch's full replace no-ops instead of re-applying on top
    of its own output (the streaming sketch-MV fold shape, where a
    double-applied overwrite would double-count the folded batch)."""
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    s1 = spark.createDataFrame([(1, "a", 1.0)], "id bigint, name string, balance double")
    v1 = t.overwrite(s1, txn=("fold", 0))
    assert t.txn_version("fold") == 0
    # replay of epoch 0: no-op — version unchanged, contents unchanged
    assert t.overwrite(s1, txn=("fold", 0)) == v1
    assert t.version() == v1
    assert [r["id"] for r in t.read().collect()] == [1]
    # next epoch replaces; its replay no-ops
    s2 = spark.createDataFrame([(2, "b", 2.0)], "id bigint, name string, balance double")
    v2 = t.overwrite(s2, txn=("fold", 1))
    assert v2 > v1 and t.overwrite(s2, txn=("fold", 1)) == v2
    assert [r["id"] for r in t.read().collect()] == [2]


def test_overwrite_txn_conflict_resolves_to_noop(spark, users, tmp_path):
    """An overwrite whose snapshot conflict was caused by a zombie retry
    of the SAME (app_id, version) resolves to idempotent success instead
    of raising (ADVICE r7): the zombie landing after the straggler read
    its snapshot makes the straggler lose the race for its version — the
    recheck must recognise its own stamp and no-op, exactly like
    MergeBuilder.execute."""
    import unittest.mock as mock

    import lakehouse_tacklebox_spark.tablestore.table as T

    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    new = spark.createDataFrame(
        [(7, "gil", 700.0)], "id bigint, name string, balance double"
    )

    raced = {"done": False}
    orig = T._collect_stats

    def racing_collect_stats(path, add):
        # fire the zombie's winning overwrite after the straggler read
        # its snapshot but before its log write
        if not raced["done"]:
            raced["done"] = True
            TackleTable(spark, t.path).overwrite(new, txn=("mv", 9))
        return orig(path, add)

    with mock.patch.object(T, "_collect_stats", racing_collect_stats):
        v = t.overwrite(new, txn=("mv", 9))
    assert raced["done"]
    assert v == t.version()
    assert t.read().count() == 1  # epoch applied exactly once


@pytest.mark.parametrize("op", ["optimize", "overwrite"])
def test_rewrite_conflicts_with_delete_during_its_write(spark, tmp_path, op):
    """A rewrite commits on the version it read: a DELETE that lands
    while OPTIMIZE or OVERWRITE writes its files makes the rewrite raise
    CommitConflictError, and the table stays as the DELETE left it (a
    rewrite committing over it would bring the deleted row back, or keep
    the DELETE's rewritten file next to the new contents)."""
    import unittest.mock as mock

    import lakehouse_tacklebox_spark.tablestore.table as T

    schema = "id bigint, tag string"
    t = TackleTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1),
    )
    t.append(spark.createDataFrame([(3, "c")], schema))

    raced = {"done": False}
    orig = T._write_files

    def racing_write_files(df, root):
        if not raced["done"]:
            raced["done"] = True
            TackleTable(spark, t.path).delete("id = 1")
        return orig(df, root)

    with mock.patch.object(T, "_write_files", racing_write_files):
        with pytest.raises(CommitConflictError):
            if op == "optimize":
                t.optimize()
            else:
                t.overwrite(spark.createDataFrame([(9, "z")], schema))
    assert raced["done"]
    assert t.version() == 2
    assert rows(t.read()) == [(2, "b"), (3, "c")]


def test_each_operation_reads_the_log_once(spark, users, tmp_path):
    """An uncontended operation lists and parses the log exactly once:
    all of its metadata comes from one snapshot."""
    import unittest.mock as mock

    from lakehouse_tacklebox_spark.tablestore.clone import clone

    schema = "id bigint, name string, balance double"
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    more = spark.createDataFrame([(4, "dave", 400.0)], schema)
    delta = spark.createDataFrame([(1, "alice", 50.0), (5, "eve", 500.0)], schema)
    ops = {
        "append(txn=)": lambda: t.append(more, txn=("a", 0)),
        "merge(txn=)": lambda: t.merge(delta, on=["id"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withTransaction("m", 0)
        .execute(),
        "delete": lambda: t.delete("id = 2"),
        "update": lambda: t.update("id = 3", {"balance": "balance + 1"}),
        "optimize": lambda: t.optimize(),
        "restore": lambda: t.restore(1),
        "set_properties": lambda: t.set_properties({"k": "v"}),
        "overwrite": lambda: t.overwrite(users),
        "rewrite(txn=)": lambda: t.rewrite(lambda r: r.filter("id > 1"), txn=("r", 0)),
        "vacuum": lambda: t.vacuum(keep_versions=2),
        "clone": lambda: clone(t, str(tmp_path / "c")),
    }
    calls = []
    orig = TackleTable._entries

    def counting_entries(self):
        calls.append(self.path)
        return orig(self)

    got = {}
    with mock.patch.object(TackleTable, "_entries", counting_entries):
        for name, op in ops.items():
            calls.clear()
            op()
            got[name] = len(calls)
    assert got == {name: 1 for name in ops}
    assert t.version() == 9  # every write above committed
    assert [h["operation"] for h in t.history()][:3] == ["OVERWRITE", "OVERWRITE", "SET TBLPROPERTIES"]
    assert rows(t.read().select("id")) == [(2,), (3,)]
    assert TackleTable(spark, str(tmp_path / "c")).history()[0]["operationParameters"]["sourceVersion"] == 9


@pytest.mark.parametrize("winner_stamp", [("other", 0), ("fold", 1)], ids=["other_stamp", "own_stamp"])
def test_rewrite_commit_after_its_read_is_never_overwritten(spark, users, tmp_path, winner_stamp):
    """A commit that lands after rewrite read its rows (here: from inside
    ``fn``) makes the rewrite raise CommitConflictError under another
    stamp, or no-op under the rewrite's own stamp (a zombie retry of the
    same epoch that won); either way the winner's rows stay."""
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    winner = spark.createDataFrame([(9, "zed", 9.0)], "id bigint, name string, balance double")
    raced = []

    def fn(current):
        if not raced:
            raced.append(True)
            TackleTable(spark, t.path).overwrite(winner, txn=winner_stamp)
        return current.filter("id > 1")

    if winner_stamp == ("fold", 1):
        assert t.rewrite(fn, txn=("fold", 1)) == t.version()
    else:
        with pytest.raises(CommitConflictError):
            t.rewrite(fn, txn=("fold", 1))
    assert raced
    assert t.version() == 1
    assert rows(t.read()) == [(9, "zed", 9.0)]


def test_rewrite_replayed_stamp_never_calls_fn(spark, users, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    v = t.rewrite(lambda r: r.filter("id > 1"), txn=("fold", 0))

    def never(current):
        raise AssertionError("fn ran for a stamp the log already holds")

    assert t.rewrite(never, txn=("fold", 0)) == v == t.version() == 1
    assert rows(t.read().select("id")) == [(2,), (3,)]


def test_rewrite_aligns_to_the_table_schema(spark, users, tmp_path):
    """``fn``'s rows are aligned as an append's are: a column outside the
    schema raises ValueError and commits nothing; a missing column is
    null and the table's column order is kept."""
    from pyspark.sql import functions as F

    t = TackleTable.create(spark, str(tmp_path / "t"), users)
    data = tmp_path / "t" / "data"
    before = sorted(data.iterdir())
    with pytest.raises(ValueError, match="not in table schema"):
        t.rewrite(lambda r: r.withColumn("extra", F.lit(1)))
    assert t.version() == 0
    assert sorted(data.iterdir()) == before
    t.rewrite(lambda r: r.select("balance", "id").filter("id = 1"))
    assert t.read().columns == ["id", "name", "balance"]
    assert rows(t.read()) == [(1, None, 100.0)]
