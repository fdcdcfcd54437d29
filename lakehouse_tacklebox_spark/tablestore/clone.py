"""CLONE for TackleTable: deep and shallow (SURVEY.md §2.11 M14).

Reference semantics (00-Upgrade-database-to-UC.sql:137 DEEP CLONE;
01.5-Delta-pipeline-spark-churn.py:321-323): a clone is a new table
whose first commit captures the source's current snapshot.

- SHALLOW: the clone's log references the source's data files by
  absolute path — zero data copy, O(files) metadata commit. The clone's
  VACUUM only walks its own data directory, so it can never delete
  source files (verified by test); like Delta, vacuuming the SOURCE can
  break shallow clones — document, don't "fix", to keep parity.
- DEEP: data files are copied into the clone's root — independent
  lifecycle, O(data) cost.

Either way the clone starts a fresh history (version 0 = the clone
commit), exactly like Delta CLONE.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from lakehouse_tacklebox_spark.tablestore.table import (
    _DATA_DIR,
    _LOG_DIR,
    LogEntry,
    TackleTable,
    _collect_stats,
    _commit_entry,
)


def clone(source: TackleTable, dest_path: str, deep: bool = False) -> TackleTable:
    dest_path = os.path.abspath(dest_path)
    if os.path.isdir(os.path.join(dest_path, _LOG_DIR)):
        raise FileExistsError(dest_path)
    snap = source.snapshot()
    os.makedirs(os.path.join(dest_path, _LOG_DIR))
    os.makedirs(os.path.join(dest_path, _DATA_DIR))

    if deep:
        sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        os.makedirs(os.path.join(dest_path, sub))
        add = []
        for f in snap.files:
            name = os.path.basename(f)
            shutil.copyfile(os.path.join(source.path, f), os.path.join(dest_path, sub, name))
            add.append(os.path.join(sub, name))
    else:
        # absolute refs into the source root; os.path.join in read()
        # passes absolute paths through untouched
        add = [os.path.join(source.path, f) for f in snap.files]

    entry = LogEntry(
        version=0,
        timestamp_ms=int(time.time() * 1000),
        operation="CLONE",
        operation_parameters={"source": source.path, "deep": deep, "sourceVersion": snap.version},
        add=add,
        remove=[],
        schema=snap.schema,
        metrics={"numCopiedFiles": len(add) if deep else 0, "numReferencedFiles": 0 if deep else len(add)},
        file_stats=_collect_stats(dest_path, add),
    )
    _commit_entry(dest_path, entry)
    return TackleTable(source.spark, dest_path)
