"""TackleTable: a versioned parquet table format with a JSON commit log.

A from-scratch, dependency-free re-expression of the lakehouse table
semantics the reference gets from Delta Lake (SURVEY.md §1, §2.11):
ACID-ish commits, MERGE, DELETE/UPDATE DML, time travel (`VERSION AS OF`),
RESTORE, DESCRIBE HISTORY/DETAIL, VACUUM, OPTIMIZE (compaction), and a
change-data-feed. Layout:

    <root>/_log/00000000000N.json   one entry per commit (atomic rename)
    <root>/data/<uuid>/part-*.parquet   immutable data files
    <root>/_changes/v=N/            CDF rows for commits that produce them

Each log entry records added/removed file lists; the table state at
version V (active files, schema, per-file stats and sketches,
properties, txn stamps, identity watermarks) is one fold of entries
0..V into an immutable :class:`Snapshot`. Every operation reads the log
once, into one snapshot, and takes all of its metadata from it. Data
files are immutable — every operation commits by swapping file lists,
exactly the Delta model, so readers are never torn and old versions
stay readable until VACUUM.

Scale design:
- Writes go through Spark (distributed); the log touches only file
  *lists*, never data, so commit cost is O(files), not O(rows).
- MERGE/DELETE/UPDATE rewrite only the files that actually contain
  affected rows (found with one pushdown scan over ``input_file_name``),
  the same touched-file pruning Delta's MERGE does.
- Optimistic concurrency: a write commits at its snapshot's version + 1
  with a put-if-absent hard link, which is the conflict check. A
  rewrite (``rewrite``, overwrite, DELETE, UPDATE, MERGE, RESTORE,
  OPTIMIZE) that loses the race raises CommitConflictError, unless the
  winner carried the rewrite's own txn stamp (then it is a no-op); a
  blind append re-reads the snapshot and retries.

Reference semantics ported (capability, not code): merge upsert
(delta_sync.py:54-66), RESTORE rollback (transactions.py:420-449),
DESCRIBE HISTORY (deltaoptimizer.py:1345-1423), OPTIMIZE/VACUUM
(deltalogger.py:284-338), CDF (Advanced CDC With SCD:262-271,496-501).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_log"
_DATA_DIR = "data"
_CHANGES_DIR = "_changes"


class CommitConflictError(RuntimeError):
    """Another writer committed the version this transaction targeted."""


@dataclass
class LogEntry:
    version: int
    timestamp_ms: int
    operation: str
    operation_parameters: dict[str, Any]
    add: list[str]
    remove: list[str]
    schema: str
    metrics: dict[str, Any] = field(default_factory=dict)
    # per added file: {col: [lo, hi]} (JSON-safe; timestamps/dates as ISO
    # strings, which order lexicographically) — Delta-style data-skipping
    # stats, written once at commit so scans never re-read footers.
    file_stats: dict[str, Any] = field(default_factory=dict)
    # {identity column: next free id AFTER this commit} — the Delta
    # IDENTITY high-watermark, persisted in table metadata so appends
    # never scan the table to find the current max.
    identity_watermark: dict[str, int] = field(default_factory=dict)
    # per added file: {col: {"m": bits, "k": hashes, "bits": base64}} —
    # bloom-style membership sketches for designated point-lookup
    # columns (the BLOOMFILTER-index analogue); lets prune_files skip
    # files for high-cardinality equality predicates min/max can't.
    file_sketches: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        d = {
            "version": self.version,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "operationParameters": self.operation_parameters,
            "add": self.add,
            "remove": self.remove,
            "schema": self.schema,
            "metrics": self.metrics,
        }
        if self.file_stats:
            d["fileStats"] = self.file_stats
        if self.identity_watermark:
            d["identityWatermark"] = self.identity_watermark
        if self.file_sketches:
            d["fileSketches"] = self.file_sketches
        return json.dumps(d)

    @staticmethod
    def from_json(s: str) -> "LogEntry":
        d = json.loads(s)
        return LogEntry(
            version=d["version"],
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            operation_parameters=d.get("operationParameters", {}),
            add=d.get("add", []),
            remove=d.get("remove", []),
            schema=d.get("schema", ""),
            metrics=d.get("metrics", {}),
            file_stats=d.get("fileStats", {}),
            identity_watermark=d.get("identityWatermark", {}),
            file_sketches=d.get("fileSketches", {}),
        )


@dataclass(frozen=True)
class Snapshot:
    """The table state at one version, folded from the log in one pass.

    Every operation reads one snapshot at its start and takes all of its
    metadata from it. Never mutated once :meth:`replay` has built it."""

    version: int
    schema: str
    files: tuple[str, ...]  # active files, in replay order
    stats: dict[str, dict]  # per active file: {col: [lo, hi]}
    sketches: dict[str, dict]  # per active file: {col: sketch}
    properties: dict[str, str]
    txns: dict[str, int]  # latest txn stamp per appId
    identity_watermarks: dict[str, int]
    entries: tuple[LogEntry, ...]  # entries 0..version

    @staticmethod
    def replay(entries: Sequence[LogEntry], version: int | None = None) -> "Snapshot":
        """Fold entries 0..version (all when None) into table state."""
        kept = tuple(e for e in entries if version is None or e.version <= version)
        stats: dict[str, dict] = {}
        sketches: dict[str, dict] = {}
        schema = ""
        props: dict[str, str] = {}
        txns: dict[str, int] = {}
        watermarks: dict[str, int] = {}
        for e in kept:
            for f in e.remove:
                stats.pop(f, None)
                sketches.pop(f, None)
            for f in e.add:
                stats[f] = e.file_stats.get(f, {})
                sketches[f] = e.file_sketches.get(f, {})
            schema = e.schema or schema
            if e.operation == "SET TBLPROPERTIES":
                props.update(e.operation_parameters.get("properties", {}))
            txn = e.operation_parameters.get("txn")
            if txn:
                txns[txn["appId"]] = int(txn["version"])
            watermarks.update(e.identity_watermark)
        version = kept[-1].version if kept else -1
        return Snapshot(version, schema, tuple(stats), stats, sketches, props, txns, watermarks, kept)

    def has_txn(self, txn: tuple[str, int] | None) -> bool:
        """True when ``txn=(app_id, version)`` is already committed."""
        return txn is not None and self.txns.get(txn[0], -1) >= txn[1]


class TackleTable:
    """Handle to a versioned parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        if not os.path.isdir(self._log_path()):
            raise FileNotFoundError(f"not a TackleTable (no _log): {path}")

    # ---------- creation ----------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        schema: str | None = None,
        mode: str = "error",
    ) -> "TackleTable":
        """Create a table at path, optionally with initial data.

        mode: 'error' | 'overwrite' (drop existing) | 'ignore'.
        """
        path = os.path.abspath(path)
        exists = os.path.isdir(os.path.join(path, _LOG_DIR))
        if exists:
            if mode == "error":
                raise FileExistsError(path)
            if mode == "ignore":
                return TackleTable(spark, path)
            shutil.rmtree(path)
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        if df is None and schema is None:
            raise ValueError("need df or schema")
        ddl = schema or _schema_ddl(df)
        files: list[str] = []
        n_rows = 0
        if df is not None:
            files, n_rows = _write_files(df, path)
        entry = LogEntry(
            version=0,
            timestamp_ms=int(time.time() * 1000),
            operation="CREATE",
            operation_parameters={},
            add=files,
            remove=[],
            schema=ddl,
            metrics={"numOutputRows": n_rows, "numAddedFiles": len(files)},
            file_stats=_collect_stats(path, files),
        )
        _commit_entry(path, entry)
        return TackleTable(spark, path)

    # ---------- log plumbing ----------

    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def _entries(self) -> list[LogEntry]:
        """The only place that lists and parses the log."""
        out = []
        for n in sorted(n for n in os.listdir(self._log_path()) if n.endswith(".json")):
            with open(os.path.join(self._log_path(), n)) as f:
                out.append(LogEntry.from_json(f.read()))
        return out

    def snapshot(self, version: int | None = None) -> Snapshot:
        """The table state at ``version`` (latest when None), from one
        read of the log."""
        return Snapshot.replay(self._entries(), version)

    def version(self) -> int:
        """Latest committed version."""
        return self.snapshot().version

    def _active_files(self, version: int | None = None) -> tuple[list[str], str]:
        """(active file list, schema DDL) at version."""
        snap = self.snapshot(version)
        return list(snap.files), snap.schema

    def set_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES. Properties accumulate across
        commits (later commits win per key). ``pointlookup.columns`` —
        comma-separated int/string columns — enables bloom-style
        membership sketches on every subsequently written file."""
        return self._commit(
            self.snapshot(), "SET TBLPROPERTIES", {"properties": dict(props)}, [], [], {}
        )

    def properties(self) -> dict[str, str]:
        return dict(self.snapshot().properties)

    def txn_version(self, app_id: str) -> int:
        """Latest transaction version committed under ``app_id``, or -1.

        Delta-style idempotent-writer support (public Delta protocol's
        ``txn`` action / ``txnAppId``+``txnVersion`` options): a writer
        that stamps each commit with a monotonically increasing version
        can detect, after a crash/retry, whether its write already
        committed — the stamp travels IN the data commit, so there is no
        window where data is applied but the marker is not."""
        return self.snapshot().txns.get(app_id, -1)

    def identity_watermark(self, col: str) -> int:
        """Next free id for an identity column — from the persisted
        high-watermark in the commit log (no data scan). Tables written
        before watermarking fall back to the footer min/max stats of the
        active files (metadata already in the log); a full column read
        happens only if some active file predates stats collection."""
        return self._identity_watermark(self.snapshot(), col)

    def _identity_watermark(self, snap: Snapshot, col: str) -> int:
        if col in snap.identity_watermarks:
            return snap.identity_watermarks[col]
        if not snap.files:
            return 0
        ranges = [snap.stats[f].get(col) for f in snap.files]
        if None in ranges:  # a legacy file without footer stats
            m = self._read(snap).agg(F.max(col)).collect()[0][0]
            return int(m) + 1 if m is not None else 0
        return int(max(hi for _, hi in ranges)) + 1

    # ---------- reads ----------

    def _read(self, snap: Snapshot, files: Sequence[str] | None = None) -> DataFrame:
        """``files`` (default: all active files) read with the snapshot's schema."""
        files = snap.files if files is None else files
        if not files:
            return self.spark.createDataFrame([], snap.schema)
        return self.spark.read.schema(snap.schema).parquet(*[os.path.join(self.path, f) for f in files])

    def read(self, version: int | None = None, timestamp_ms: int | None = None) -> DataFrame:
        """Snapshot read, optionally time-traveled (VERSION/TIMESTAMP AS OF)."""
        if timestamp_ms is not None and version is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        snap = self.snapshot(version)
        if timestamp_ms is not None:
            candidates = [e.version for e in snap.entries if e.timestamp_ms <= timestamp_ms]
            if not candidates:
                raise ValueError(f"no version at or before timestamp {timestamp_ms}")
            snap = Snapshot.replay(snap.entries, max(candidates))
        return self._read(snap)

    def scan(self, condition: str | None = None, version: int | None = None) -> DataFrame:
        """Predicate scan with log-stats file skipping (Delta data
        skipping): files whose [min, max] envelope on a filtered column
        cannot satisfy a conjunct are never handed to Spark, so at
        100 TB a selective scan opens the few files ZORDER clustered the
        matching keys into. The full condition is still applied as a
        DataFrame filter — pruning is a superset guarantee, correctness
        never depends on stats."""
        snap = self.snapshot(version)
        if not condition:
            return self._read(snap)
        return self._read(snap, self._prune(snap, condition)[0]).filter(F.expr(condition))

    def prune_files(self, condition: str, version: int | None = None) -> tuple[list[str], list[str]]:
        """Split active files into (kept, skipped) for a predicate using
        the log's per-file column envelopes."""
        return self._prune(self.snapshot(version), condition)

    def _prune(self, snap: Snapshot, condition: str) -> tuple[list[str], list[str]]:
        bounds = _conjunct_bounds(condition)
        # Pre-hash each equality literal once (one tiny JVM job per
        # predicate, control-plane): the sketch check needs the same
        # xxhash64-of-string the builder used.
        probes: dict[str, tuple[int, int]] = {}
        for col, op, val in bounds:
            if op != "=" or isinstance(val, (float, bool)):
                continue
            if any(col in sk for sk in snap.sketches.values()):
                probes[col] = _probe_hashes(self.spark, val)
        kept, skipped = [], []
        for f in snap.files:
            ok = _file_may_match(snap.stats[f], bounds)
            if ok and probes:
                fsk = snap.sketches[f]
                for col, raw in probes.items():
                    sk = fsk.get(col)
                    if sk is not None and not _sketch_may_contain(sk, raw):
                        ok = False
                        break
            if ok:
                kept.append(f)
            else:
                skipped.append(f)
        return kept, skipped

    def history(self) -> list[dict[str, Any]]:
        """DESCRIBE HISTORY equivalent, newest first."""
        return [
            {
                "version": e.version,
                "timestamp_ms": e.timestamp_ms,
                "operation": e.operation,
                "operationParameters": e.operation_parameters,
                "operationMetrics": e.metrics,
            }
            for e in reversed(self.snapshot().entries)
        ]

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL equivalent."""
        snap = self.snapshot()
        size = sum(os.path.getsize(os.path.join(self.path, f)) for f in snap.files)
        return {
            "location": self.path,
            "numFiles": len(snap.files),
            "sizeInBytes": size,
            "schema": snap.schema,
            "version": snap.version,
        }

    def read_changes(self, starting_version: int, ending_version: int | None = None) -> DataFrame:
        """Change-data-feed read: per-row change type + commit version.

        Only commits made by change-tracking operations (merge/delete/
        update with CDF) produce rows; append commits contribute their
        rows as inserts.
        """
        snap = self.snapshot()
        frames = []
        for e in snap.entries:
            if e.version < starting_version:
                continue
            if ending_version is not None and e.version > ending_version:
                continue
            cdf_dir = os.path.join(self.path, _CHANGES_DIR, f"v={e.version}")
            if os.path.isdir(cdf_dir):
                frames.append(self.spark.read.parquet(cdf_dir))
            elif e.operation in ("APPEND", "CREATE") and e.add:
                df = self.spark.read.schema(e.schema).parquet(*[os.path.join(self.path, f) for f in e.add])
                frames.append(
                    df.withColumn("_change_type", F.lit("insert")).withColumn(
                        "_commit_version", F.lit(e.version).cast("long")
                    )
                )
        if not frames:
            return self.spark.createDataFrame([], snap.schema + ", _change_type string, _commit_version long")
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf, allowMissingColumns=True)
        return out

    # ---------- writes ----------

    def _commit(
        self,
        snap: Snapshot,
        operation: str,
        params: dict[str, Any],
        add: list[str],
        remove: list[str],
        metrics: dict[str, Any],
        schema: str | None = None,
        retries: int = 5,
        identity_reserve: tuple[str, int] | None = None,
        txn: tuple[str, int] | None = None,
        cdf: DataFrame | None = None,
    ) -> int:
        """Commit at ``snap.version + 1``, ``snap`` being the snapshot the
        operation read. Losing the put-if-absent race to another writer
        raises CommitConflictError, except for a blind APPEND, which
        re-reads the snapshot and retries. ``cdf`` (change rows without
        ``_commit_version``) is written once the commit has landed."""
        sketch_cols = [c.strip() for c in snap.properties.get("pointlookup.columns", "").split(",")]
        file_sketches = _build_sketches(self.spark, self.path, add, schema or snap.schema, sketch_cols)
        file_stats = _collect_stats(self.path, add)
        id_wm: dict[str, int] = {}
        if identity_reserve is not None:
            col, expected_wm = identity_reserve
            his = [int(file_stats[f][col][1]) for f in add if col in file_stats.get(f, {})]
            id_wm[col] = max(his) + 1 if his else expected_wm
        for attempt in range(retries):
            # Delta SetTransaction conflict rule: re-validate the idempotence
            # stamp on EVERY attempt, not only in the caller's pre-check — a
            # concurrent/zombie writer sharing the app_id (streaming failover)
            # may have committed this version after the operation read its
            # snapshot, and committing past it would double-apply the data.
            # A hit means the work is already durably committed: succeed as
            # a no-op.
            if snap.has_txn(txn):
                return snap.version
            if attempt and operation != "APPEND":
                raise CommitConflictError(f"{operation} lost the race: table moved to v{snap.version}")
            if identity_reserve is not None:
                # ids in `add` were assigned from the watermark the caller
                # read; if a concurrent commit moved it, those ids may
                # collide — the caller must reassign and rewrite. A
                # concurrent commit that did NOT move the watermark is
                # still safe to blind-retry past.
                col, expected_wm = identity_reserve
                live_wm = self._identity_watermark(snap, col)
                if live_wm != expected_wm:
                    raise CommitConflictError(
                        f"identity watermark for {col} moved {expected_wm} -> {live_wm}; reassign ids"
                    )
            entry = LogEntry(
                version=snap.version + 1,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                operation_parameters=params,
                add=add,
                remove=remove,
                schema=schema or snap.schema,
                metrics=metrics,
                file_stats=file_stats,
                identity_watermark=id_wm,
                file_sketches=file_sketches,
            )
            try:
                _commit_entry(self.path, entry)
            except FileExistsError:
                # another writer won this version: a blind append backs
                # off and retries on the new state, a rewrite conflicts
                # (unless the winner carried its own txn stamp)
                if operation == "APPEND":
                    time.sleep(0.05 * (2**attempt))
                snap = self.snapshot()
                continue
            if cdf is not None:
                rows = cdf.withColumn("_commit_version", F.lit(entry.version).cast("long"))
                rows.write.mode("overwrite").parquet(os.path.join(self.path, _CHANGES_DIR, f"v={entry.version}"))
            return entry.version
        raise CommitConflictError("retries exhausted")

    def append(
        self,
        df: DataFrame,
        merge_schema: bool = False,
        identity_reserve: tuple[str, int] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Append rows (blind insert — retries through concurrent commits).

        ``identity_reserve=(col, watermark)`` declares that ``col`` ids in
        ``df`` were assigned from ``watermark``; the commit advances the
        persisted watermark past the written max, and conflicts (rather
        than blind-retrying) if a concurrent commit moved it first.

        ``txn=(app_id, version)`` makes the append idempotent for a
        single writer per app_id (e.g. a streaming foreachBatch retrying
        an epoch): if the log already holds this app_id at >= version the
        append is a no-op, and otherwise the stamp is recorded in the
        same commit as the data (see :meth:`txn_version`)."""
        snap = self.snapshot()
        if snap.has_txn(txn):
            return snap.version
        df = _align_schema(df, snap.schema, allow_new=merge_schema)
        files, n = _write_files(df, self.path)
        return self._commit(
            snap,
            "APPEND",
            _txn_params(txn),
            files,
            [],
            {"numOutputRows": n, "numAddedFiles": len(files)},
            schema=_schema_ddl(df) if merge_schema else None,
            identity_reserve=identity_reserve,
            txn=txn,
        )

    def overwrite(
        self,
        df: DataFrame,
        identity_reserve: tuple[str, int] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Replace the full contents (CREATE OR REPLACE semantics).

        ``txn=(app_id, version)`` gives the replace the same idempotence
        contract as :meth:`append` (Delta ``txn`` action): a retried
        epoch whose overwrite already committed is detected — both here
        and when its commit loses the race to the retry that did land —
        and no-opped, so a replayed streaming fold can never re-apply on
        top of its own output. Any other commit that lands while the
        overwrite runs is a conflict."""
        snap = self.snapshot()
        if snap.has_txn(txn):
            return snap.version
        return self._replace(snap, df, _schema_ddl(df), identity_reserve, txn)

    def _replace(
        self,
        snap: Snapshot,
        df: DataFrame,
        schema: str | None = None,
        identity_reserve: tuple[str, int] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Write ``df`` and commit it as an OVERWRITE of ``snap``'s files
        at ``snap.version + 1`` — the one replace path. ``schema`` is the
        DDL to commit (``snap.schema`` when None); the caller has already
        checked ``snap.has_txn(txn)``."""
        files, n = _write_files(df, self.path)
        return self._commit(
            snap,
            "OVERWRITE",
            _txn_params(txn),
            files,
            list(snap.files),
            {"numOutputRows": n, "numAddedFiles": len(files), "numRemovedFiles": len(snap.files)},
            schema=schema,
            identity_reserve=identity_reserve,
            txn=txn,
        )

    def rewrite(
        self, fn: Callable[[DataFrame], DataFrame], txn: tuple[str, int] | None = None
    ) -> int:
        """Read-modify-replace: commit ``fn(rows)`` as the new contents,
        ``rows`` being the table's rows at one snapshot, and return the
        committed version.

        The rows and the commit come from that one snapshot: the replace
        lands at its version + 1, so a commit that lands after the read
        raises CommitConflictError, or no-ops the rewrite when it carried
        the rewrite's own ``txn=(app_id, version)`` stamp; it is never
        overwritten. A snapshot that already holds ``txn`` returns its
        version without calling ``fn``. ``fn``'s columns are aligned to
        the table schema as :meth:`append` aligns them: a missing column
        is null, a column outside the schema raises ValueError before
        anything is written."""
        snap = self.snapshot()
        if snap.has_txn(txn):
            return snap.version
        new = _align_schema(fn(self._read(snap)), snap.schema, allow_new=False)
        return self._replace(snap, new, txn=txn)

    def _touched(self, snap: Snapshot, condition: str) -> list[str]:
        """Local paths of the active files holding a row that matches."""
        tagged = self._read(snap).withColumn("__file", F.input_file_name())
        return [
            _local_path(r["__file"])
            for r in tagged.filter(F.expr(condition)).select("__file").distinct().collect()
        ]

    def delete(self, condition: str) -> int:
        """DELETE WHERE condition — rewrites only files containing matches."""
        snap = self.snapshot()
        touched = self._touched(snap, condition)
        if not touched:
            return self._commit(snap, "DELETE", {"predicate": condition}, [], [], {"numRemovedRows": 0})
        kept = self._read(snap, touched).filter(~F.coalesce(F.expr(condition), F.lit(False)))
        files, n_kept = _write_files(kept, self.path)
        rel_touched = [_entry_path(self.path, p) for p in touched]
        return self._commit(
            snap,
            "DELETE",
            {"predicate": condition},
            files,
            rel_touched,
            {"numRewrittenFiles": len(rel_touched), "numOutputRows": n_kept},
        )

    def update(self, condition: str, assignments: dict[str, str]) -> int:
        """UPDATE SET col=expr WHERE condition — touched-file rewrite."""
        snap = self.snapshot()
        touched = self._touched(snap, condition)
        if not touched:
            return self._commit(snap, "UPDATE", {"predicate": condition}, [], [], {"numUpdatedRows": 0})
        df = self._read(snap, touched)
        cond = F.coalesce(F.expr(condition), F.lit(False))
        updated = df.select(
            *[
                F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        files, n = _write_files(updated, self.path)
        rel_touched = [_entry_path(self.path, p) for p in touched]
        return self._commit(
            snap,
            "UPDATE",
            {"predicate": condition},
            files,
            rel_touched,
            {"numRewrittenFiles": len(rel_touched), "numOutputRows": n},
        )

    def merge(self, source: DataFrame, on: list[str]) -> "MergeBuilder":
        """MERGE INTO builder (DeltaTable.merge equivalent)."""
        return MergeBuilder(self, source, on)

    # ---------- maintenance ----------

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF — new commit, old data files
        (still on disk until VACUUM) become active again."""
        snap = self.snapshot()
        target = Snapshot.replay(snap.entries, version)
        current, wanted = set(snap.files), set(target.files)
        add = [f for f in target.files if f not in current]
        remove = [f for f in snap.files if f not in wanted]
        return self._commit(
            snap,
            "RESTORE",
            {"version": version},
            add,
            remove,
            {"numRestoredFiles": len(add), "numRemovedFiles": len(remove)},
            schema=target.schema,
        )

    def optimize(
        self,
        target_file_rows: int = 1_000_000,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int:
        """Compact small files (OPTIMIZE equivalent), optionally
        range-clustering on ``zorder_by`` columns (ZORDER analogue:
        ``repartitionByRange`` + ``sortWithinPartitions`` gives each
        output file a tight min/max envelope on those columns, so
        parquet row-group stats skip non-matching files on read —
        the same file-skipping payoff as Delta ZORDER for the
        single-and-few-column cases that dominate the reference's own
        strategy output, deltaoptimizer.py:1829-1834).

        ``where`` scopes the rewrite to files whose stats envelope can
        match (partition-filtered OPTIMIZE, deltalogger.py:301-323) —
        untouched files keep their layout, so an hourly job can compact
        only today's partition of a years-deep table.

        Local heuristic is row-count based; on a real cluster pass a
        target derived from the reference's size ladder
        (deltaoptimizer.py:1295-1313) via ``plans.optimizer``.
        """
        snap = self.snapshot()
        files = self._prune(snap, where)[0] if where else list(snap.files)
        if not files or (len(files) <= 1 and not zorder_by):
            return snap.version
        df = self._read(snap, files)
        n = df.count()
        parts = max(1, (n + target_file_rows - 1) // target_file_rows)
        if zorder_by:
            cols = [F.col(c) for c in zorder_by]
            compacted = df.repartitionByRange(parts, *cols).sortWithinPartitions(*cols)
        else:
            compacted = df.repartition(parts)
        new_files, _ = _write_files(compacted, self.path)
        return self._commit(
            snap,
            "OPTIMIZE",
            {"targetFileRows": target_file_rows, "zorderBy": zorder_by or [], "where": where or ""},
            new_files,
            files,
            {"numFilesBefore": len(files), "numFilesAfter": len(new_files)},
        )

    def vacuum(self, keep_versions: int = 1) -> int:
        """Physically delete files unreferenced by the last N versions.

        Versions older than (latest - keep_versions) stop being
        time-travelable, like Delta VACUUM with a retention window.
        """
        snap = self.snapshot()
        horizon = max(0, snap.version - keep_versions + 1)
        # a file active at some retained version is active at the
        # horizon or added after it
        keep = set(Snapshot.replay(snap.entries, horizon).files)
        for e in snap.entries:
            if e.version > horizon:
                keep.update(e.add)
        removed = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for dirpath, _dirs, files in os.walk(data_root):
            for fname in files:
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, self.path)
                if rel not in keep:
                    os.remove(full)
                    removed += 1
        # prune empty dirs
        for dirpath, dirs, files in list(os.walk(data_root, topdown=False)):
            if dirpath != data_root and not dirs and not files:
                os.rmdir(dirpath)
        return removed


class MergeBuilder:
    """whenMatchedUpdateAll / whenMatchedDelete / whenNotMatchedInsertAll,
    executed as a touched-file rewrite + append (Delta MERGE dataflow)."""

    def __init__(self, table: TackleTable, source: DataFrame, on: list[str]):
        self.table = table
        self.source = source
        self.on = on
        self._update_all = False
        self._update_cond: str | None = None
        self._delete = False
        self._delete_cond: str | None = None
        self._insert_all = False
        self._write_cdf = False
        self._txn: tuple[str, int] | None = None

    def whenMatchedUpdateAll(self, condition: str | None = None) -> "MergeBuilder":
        self._update_all, self._update_cond = True, condition
        return self

    def whenMatchedDelete(self, condition: str | None = None) -> "MergeBuilder":
        self._delete, self._delete_cond = True, condition
        return self

    def whenNotMatchedInsertAll(self) -> "MergeBuilder":
        self._insert_all = True
        return self

    def withChangeDataFeed(self) -> "MergeBuilder":
        self._write_cdf = True
        return self

    def withTransaction(self, app_id: str, version: int) -> "MergeBuilder":
        """Idempotent MERGE for a single writer per ``app_id``: no-op if
        the log already holds ``app_id`` at >= ``version``; otherwise the
        stamp lands in the same atomic commit as the rewritten files, so
        a retried streaming epoch can never double-apply (Delta protocol
        ``txn`` action semantics — see :meth:`TackleTable.txn_version`)."""
        self._txn = (app_id, version)
        return self

    def execute(self) -> int:
        t = self.table
        snap = t.snapshot()
        if snap.has_txn(self._txn):
            return snap.version
        cols = [n for n, _ in _schema_fields(snap.schema)]
        src = self.source.select(*cols)

        # Phase 1 (find touched files): one pushdown scan, broadcast
        # semi-join against the distinct source keys — only these files
        # can contain matched rows, everything else is untouched.
        # Null-safe key match in both phases: a null-key target row must
        # be discovered in phase 1 too, or whether it gets updated would
        # depend on which file it shares with other matched keys.
        null_safe = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.on]
        touched: list[str] = []
        if snap.files:
            by_file = t._read(snap).withColumn("__file", F.input_file_name())
            keys = src.select(*self.on).distinct()
            touched = [
                _local_path(r["__file"])
                for r in by_file.alias("t")
                .join(F.broadcast(keys.alias("s")), null_safe, "left_semi")
                .select("__file")
                .distinct()
                .collect()
            ]

        tgt = t._read(snap, touched)

        s_struct = F.struct(*[F.col(f"s.{c}").alias(c) for c in cols])
        t_struct = F.struct(*[F.col(f"t.{c}").alias(c) for c in cols])
        # presence markers make match detection correct even for null keys
        joined = tgt.withColumn("__t", F.lit(1)).alias("t").join(
            src.withColumn("__s", F.lit(1)).alias("s"), null_safe, "full_outer"
        )
        matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
        t_only = F.col("s.__s").isNull() & F.col("t.__t").isNotNull()
        s_only = F.col("t.__t").isNull() & F.col("s.__s").isNotNull()

        def cond_expr(sql: str | None):
            return F.lit(True) if sql is None else F.coalesce(F.expr(sql), F.lit(False))

        delete_hit = matched & F.lit(self._delete) & cond_expr(self._delete_cond)
        update_hit = matched & F.lit(self._update_all) & cond_expr(self._update_cond)
        action = (
            F.when(delete_hit, F.lit("delete"))
            .when(update_hit, F.lit("update"))
            .when(matched, F.lit("keep"))
            .when(t_only, F.lit("keep"))
            .when(s_only & F.lit(self._insert_all), F.lit("insert"))
            .otherwise(F.lit("drop"))
        )
        tagged = joined.select(
            action.alias("__action"),
            F.when(action.isin("update", "insert"), s_struct).otherwise(t_struct).alias("__row"),
        )
        result = tagged.filter(F.col("__action").isin("keep", "update", "insert")).select("__row.*")

        new_files, n_rows = _write_files(result, t.path)
        if n_rows == 0 and not touched:
            # Nothing matched and nothing was inserted: the table is
            # unchanged, so drop the empty output instead of committing
            # a version. A txn stamp still commits on its own (no files
            # added or removed), so a retried epoch sees it.
            for d in {os.path.dirname(f) for f in new_files}:
                shutil.rmtree(os.path.join(t.path, d))
            new_files = []
            if self._txn is None:
                return snap.version
        rel_touched = [_entry_path(t.path, p) for p in touched]
        metrics = {
            "numTargetFilesRewritten": len(rel_touched),
            "numOutputRows": n_rows,
        }
        cdf = None
        if self._write_cdf and (new_files or rel_touched):
            cdf = tagged.filter(F.col("__action").isin("update", "insert", "delete")).select(
                "__row.*", F.col("__action").cast("string").alias("_change_type")
            )
        # A commit that lands after the snapshot is a conflict, unless it
        # carried our own (app_id, >= version) stamp — a zombie retry of
        # the same epoch — which makes this merge an idempotent no-op
        # (the files written above stay orphaned/uncommitted).
        return t._commit(
            snap,
            "MERGE",
            {"on": self.on, **_txn_params(self._txn)},
            new_files,
            rel_touched,
            metrics,
            txn=self._txn,
            cdf=cdf,
        )


# ---------- helpers ----------


def _txn_params(txn: tuple[str, int] | None) -> dict[str, Any]:
    return {"txn": {"appId": txn[0], "version": txn[1]}} if txn else {}


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def _schema_fields(schema_ddl: str) -> list[tuple[str, str]]:
    out = []
    for part in _split_ddl(schema_ddl):
        name, typ = part.split(" ", 1)
        out.append((name.strip("`"), typ.strip()))
    return out


def _entry_path(root: str, p: str) -> str:
    """Map a local file path back to its commit-log entry form: relative
    when the file lives under the table root, absolute otherwise (shallow
    clones reference source files by absolute path)."""
    return os.path.relpath(p, root) if p.startswith(root + os.sep) else p


def _local_path(p: str) -> str:
    """input_file_name() yields file:// URIs; normalize to a local path."""
    if p.startswith("file://"):
        p = p[len("file://") :]
    return p


def _split_ddl(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas."""
    parts, depth, cur = [], 0, ""
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        parts.append(cur.strip())
    return parts


def _align_schema(df: DataFrame, schema_ddl: str, allow_new: bool) -> DataFrame:
    if not schema_ddl:
        return df
    fields = _schema_fields(schema_ddl)
    want = [n for n, _ in fields]
    types = dict(fields)
    have = set(df.columns)
    missing = [c for c in want if c not in have]
    extra = [c for c in df.columns if c not in set(want)]
    if extra and not allow_new:
        raise ValueError(f"columns not in table schema: {extra} (use merge_schema=True)")
    for c in missing:
        df = df.withColumn(c, F.lit(None).cast(types[c]))
    ordered = want + [c for c in df.columns if c not in set(want)]
    return df.select(*ordered)


def _write_files(df: DataFrame, root: str) -> tuple[list[str], int]:
    """Write df as parquet under data/<uuid>/, return (relative paths, rows)."""
    sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
    out = os.path.join(root, sub)
    df.write.mode("errorifexists").parquet(out)
    rel_files = [
        os.path.join(sub, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    # row count from parquet footers (metadata-only, no second scan)
    import pyarrow.parquet as pq

    n = sum(pq.ParquetFile(os.path.join(out, os.path.basename(f))).metadata.num_rows for f in rel_files)
    return rel_files, n


def _collect_stats(root: str, rel_files: list[str]) -> dict[str, dict]:
    """Per-file {col: [lo, hi]} from parquet footers (metadata-only read,
    once per commit). JSON-safe values: numbers stay numeric;
    timestamps/dates/strings become strings (ISO order == value order).
    Columns without footer stats are omitted — absent stats mean
    "cannot prune", never "no rows"."""
    import datetime as dt
    import decimal

    import pyarrow.parquet as pq

    def safe(v):
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (dt.datetime, dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
        if isinstance(v, str):
            return v
        return None  # bytes etc.: not comparable from SQL literals

    out: dict[str, dict] = {}
    for rel in rel_files:
        full = os.path.join(root, rel)
        try:
            meta = pq.ParquetFile(full).metadata
        except Exception:
            continue
        cols: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested: skip
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    cols[name] = None  # one group without stats poisons the column
                    continue
                lo, hi = safe(st.min), safe(st.max)
                if lo is None or hi is None:
                    cols[name] = None
                    continue
                if name in cols and cols[name] is None:
                    continue
                if name not in cols:
                    cols[name] = [lo, hi]
                else:
                    cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
        out[rel] = {k: v for k, v in cols.items() if v is not None}
    return out


_SKETCH_BITS = 8192  # 1 KiB per column per file in the commit log
_SKETCH_HASHES = 4


def _build_sketches(
    spark: SparkSession,
    root: str,
    rel_files: list[str],
    schema_ddl: str,
    cols: list[str],
    m: int = _SKETCH_BITS,
    k: int = _SKETCH_HASHES,
) -> dict[str, dict]:
    """Per-file bloom-style membership sketches for designated columns
    (the BLOOMFILTER-index analogue). One distributed pass over ONLY the
    newly written files per commit: values hash JVM-side
    (xxhash64 of the string form, double-hashing for k probes), each
    file's set positions come back as a small collect_set, and the
    driver packs them into an m-bit bitset stored in the log entry.
    False positives only cost an un-skipped file; a zero bit proves
    absence, so skipping keeps the superset guarantee."""
    import base64

    schema_cols = {n for n, _ in _schema_fields(schema_ddl)}
    cols = [c for c in cols if c in schema_cols]
    if not cols or not rel_files:
        return {}
    paths = [os.path.join(root, f) for f in rel_files]
    df = spark.read.schema(schema_ddl).parquet(*paths)
    structs = []
    for c in cols:
        s = F.col(c).cast("string")
        h1 = F.pmod(F.xxhash64(s), F.lit(m))
        h2 = F.pmod(F.xxhash64(s, F.lit(1)), F.lit(m - 1)) + F.lit(1)
        pos = F.array(*[F.pmod(h1 + F.lit(j) * h2, F.lit(m)) for j in range(k)])
        structs.append(
            F.when(F.col(c).isNotNull(), F.struct(F.lit(c).alias("c"), pos.alias("p")))
        )
    ex = (
        df.select(F.input_file_name().alias("__f"), F.explode(F.array(*structs)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("__f", F.col("e.c").alias("c"), F.explode("e.p").alias("pos"))
    )
    rows = ex.groupBy("__f", "c").agg(F.collect_set("pos").alias("ps")).collect()
    by_rel: dict[str, dict] = {}
    for r in rows:
        rel = os.path.relpath(_local_path(r["__f"]), root)
        bits = bytearray(m // 8)
        for p in r["ps"]:
            bits[p // 8] |= 1 << (p % 8)
        by_rel.setdefault(rel, {})[r["c"]] = {
            "m": m,
            "k": k,
            "bits": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return by_rel


def _probe_hashes(spark: SparkSession, val: Any) -> tuple[int, int]:
    """The two raw xxhash64 values for a literal, computed with the same
    JVM function and input typing (string form) the sketch builder used."""
    row = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit(str(val))).alias("h1"),
            F.xxhash64(F.lit(str(val)), F.lit(1)).alias("h2"),
        )
        .first()
    )
    return int(row["h1"]), int(row["h2"])


def _sketch_may_contain(sketch: dict, raw: tuple[int, int]) -> bool:
    import base64

    m, k = sketch["m"], sketch["k"]
    bits = base64.b64decode(sketch["bits"])
    h1 = raw[0] % m
    h2 = raw[1] % (m - 1) + 1
    for j in range(k):
        p = (h1 + j * h2) % m
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


def _has_top_level_or(condition: str) -> bool:
    """True when an OR sits outside every paren group and string literal.
    Such a predicate is not a pure AND-chain, so no part of it may be
    treated as a required conjunct."""
    import re

    masked = re.sub(r"'(?:[^']|'')*'", "''", condition)
    prev = None
    while prev != masked:
        prev = masked
        masked = re.sub(r"\([^()]*\)", " ", masked)
    return re.search(r"\bOR\b", masked, re.I) is not None


def _conjunct_bounds(condition: str) -> list[tuple[str, str, Any]]:
    """Extract simple top-level conjuncts ``col op literal`` (op in
    =, <, <=, >, >=) from a predicate. Anything unparseable is ignored —
    it just can't contribute to pruning. A predicate with a top-level OR
    yields no bounds at all: `a = 1 AND b = 2 OR c = 3` parses as
    `(a=1 AND b=2) OR c=3`, so neither a=1 nor b=2 is required."""
    import re

    if _has_top_level_or(condition):
        return []

    out = []
    for part in re.split(r"\bAND\b", condition, flags=re.I):
        m = re.match(
            r"""\s*(\w+)\s*(<=|>=|=|<|>)\s*(?:(?:timestamp|date)\s*)?('(?:[^']*)'|[-+]?\d+(?:\.\d+)?)\s*$""",
            part.strip(),
            re.I,
        )
        if not m:
            continue
        col, op, lit = m.groups()
        val: Any = lit[1:-1] if lit.startswith("'") else (float(lit) if "." in lit else int(lit))
        out.append((col, op, val))
    return out


def _file_may_match(stats: dict, bounds: list[tuple[str, str, Any]]) -> bool:
    import re

    for col, op, val in bounds:
        rng = stats.get(col)
        if not rng:
            continue
        lo, hi = rng
        # compare only like-typed values (numeric vs numeric, str vs str)
        if isinstance(val, (int, float)) != isinstance(lo, (int, float)):
            continue
        if isinstance(val, str) and re.fullmatch(r"\d{4}-\d{2}-\d{2}", val) and isinstance(lo, str) and " " in lo:
            # date literal vs timestamp stats: Spark casts the literal to
            # midnight — mirror that or boundary files prune wrongly
            val = val + " 00:00:00"
        if op == "=" and not (lo <= val <= hi):
            return False
        if op in ("<", "<=") and lo > val:
            return False
        if op in (">", ">=") and hi < val:
            return False
        if op == "<" and lo == val == hi:
            return False
        if op == ">" and hi == val == lo:
            return False
    return True


def _commit_entry(root: str, entry: LogEntry) -> None:
    """Atomic commit: write temp file, hard-link/rename to the version name.

    os.link fails with FileExistsError if the version already exists —
    the optimistic-concurrency check.
    """
    log_dir = os.path.join(root, _LOG_DIR)
    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(entry.to_json())
    final = os.path.join(log_dir, f"{entry.version:012d}.json")
    try:
        os.link(tmp, final)  # atomic, fails if exists
    finally:
        os.remove(tmp)
