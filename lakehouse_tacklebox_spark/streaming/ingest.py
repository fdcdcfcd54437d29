"""Structured-streaming ingest helpers.

OSS re-expression of the reference's Autoloader/COPY INTO ingest surface
(SURVEY §2.1 S7/S8, §2.9 ST1/ST10): incremental file listing with
checkpointed exactly-once progress, schema enforcement with a rescue
column, rate limiting (maxFilesPerTrigger), glob filtering, and
availableNow/processingTime/once triggers. Sink side lands in a
TackleTable via foreachBatch (idempotent per epoch).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lakehouse_tacklebox_spark.tablestore import TackleTable
from lakehouse_tacklebox_spark.tablestore.table import _schema_ddl

RESCUE_COL = "_rescued_data"


def file_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
    rescue: bool = False,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental file source with schema enforcement.

    ``rescue=True`` emulates Autoloader's ``_rescued_data``: rows whose
    raw JSON carries fields outside the declared schema keep them as a
    JSON string instead of dropping them silently
    (02-Retail_DLT_CDC_Python.py:142 semantics).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if rescue and fmt == "json":
        # read the raw line too, then keep any fields not in the schema
        reader = reader.option("columnNameOfCorruptRecord", RESCUE_COL)
        df = spark.readStream.format("text").options(**(options or {})).load(path)
        parsed = df.select(
            F.from_json(F.col("value"), schema, {"mode": "PERMISSIVE"}).alias("r"),
            F.col("value"),
        )
        declared = [f.strip().split(" ", 1)[0] for f in schema.split(",")]
        return parsed.select(
            "r.*",
            F.when(
                F.from_json(F.col("value"), "map<string,string>").isNotNull(),
                _extra_fields_json(F.col("value"), declared),
            ).alias(RESCUE_COL),
        )
    return reader.load(path)


def _extra_fields_json(value_col, declared: list[str]):
    m = F.from_json(value_col, "map<string,string>")
    extras = F.map_filter(m, lambda k, _v: ~k.isin(*declared))
    return F.when(F.size(F.map_keys(extras)) > 0, F.to_json(extras))


def stream_to_table(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    trigger: dict[str, Any] | None = None,
    mode: str = "append",
) -> StreamingQuery:
    """writeStream → TackleTable via foreachBatch, exactly once.

    The table is created empty from ``df.schema`` before the stream
    starts, so every epoch takes the same write path, and each append or
    overwrite carries the Delta-style stamp ``txn=(<checkpoint>, epoch)``:
    an epoch re-run after its commit but before the checkpoint advanced
    finds its stamp in the log and no-ops.
    trigger: {"availableNow": True} (default) | {"processingTime": "3 seconds"} | {"once": True}.
    """
    trigger = trigger or {"availableNow": True}
    app_id = f"stream_to_table:{os.path.abspath(checkpoint)}"
    TackleTable.create(df.sparkSession, table_path, schema=_schema_ddl(df), mode="ignore")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        table = TackleTable(batch_df.sparkSession, table_path)
        if mode == "append":
            table.append(batch_df, txn=(app_id, epoch_id))
        else:
            table.overwrite(batch_df, txn=(app_id, epoch_id))

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )
