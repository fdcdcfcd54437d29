"""Identity and generated columns for TackleTable (SURVEY.md §2.11 M17).

Reference semantics: ``GENERATED BY DEFAULT AS IDENTITY`` run ids
(deltalogger.py:180, Step 1:39) and computed columns like
``update_date DATE GENERATED ALWAYS AS (update_timestamp::date)``
(deltalogger.py:191-193).

``ColumnManagedTable`` wraps a TackleTable and applies both at write
time, which is exactly where Delta applies them:

- identity: new rows get ``watermark + monotonically_increasing_id()``
  where the watermark is the persisted high-watermark from the
  TackleTable commit log (``LogEntry.identity_watermark``) — no table
  scan per append, exactly like Delta identity metadata. Values are
  unique and increasing per append but may have gaps — the same
  contract as Delta identity columns (which reserve per-task ranges);
  NOT contiguous. This is the scalable choice: no global row_number
  over one partition, no O(table) max() before each insert. Two
  concurrent appenders are serialized by the commit protocol: the
  loser's commit raises CommitConflictError (watermark moved) and the
  ids are reassigned from the fresh watermark before retrying, so
  ranges never overlap.
- generated: each column is a SQL expression over the incoming batch,
  computed with built-in functions (JVM, codegen) before the write.
  GENERATED ALWAYS semantics: a provided value is overwritten.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.tablestore.table import CommitConflictError, TackleTable


class ColumnManagedTable:
    def __init__(
        self,
        table: TackleTable,
        identity_col: str | None = None,
        generated: dict[str, str] | None = None,
    ):
        self.table = table
        self.identity_col = identity_col
        self.generated = generated or {}

    def _apply(self, df: DataFrame, watermark: int = 0) -> DataFrame:
        if self.identity_col:
            df = df.withColumn(
                self.identity_col,
                (F.lit(watermark) + F.monotonically_increasing_id()).cast("bigint"),
            )
        for col, expr in self.generated.items():
            df = df.withColumn(col, F.expr(expr))
        return df

    def _write(self, write: Callable[..., int], df: DataFrame) -> int:
        """``write`` (the table's append or overwrite) of ``df`` with its
        columns applied. Identity ids are assigned from the persisted
        watermark and reserved in the commit; a commit that finds the
        watermark moved raises CommitConflictError, and the ids are
        reassigned from the fresh watermark, up to five times."""
        if not self.identity_col:
            return write(self._apply(df))
        last_err: Exception | None = None
        for _ in range(5):
            wm = self.table.identity_watermark(self.identity_col)
            try:
                return write(self._apply(df, wm), identity_reserve=(self.identity_col, wm))
            except CommitConflictError as e:  # watermark moved: reassign
                last_err = e
        raise last_err  # type: ignore[misc]

    def append(self, df: DataFrame) -> int:
        return self._write(self.table.append, df)

    def overwrite(self, df: DataFrame) -> int:
        # Identity survives an overwrite (Delta semantics): ids keep
        # counting up from the persisted watermark, and the commit
        # advances it so later appends never reuse the overwritten range.
        return self._write(self.table.overwrite, df)

    def read(self, **kwargs) -> DataFrame:
        return self.table.read(**kwargs)
