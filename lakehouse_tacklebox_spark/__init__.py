"""lakehouse_tacklebox_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of the reference
lakehouse toolbox (dbsys21/lakehouse-tacklebox) as an idiomatic Apache Spark
library:

- ``session``     — tuned SparkSession builder (AQE, Arrow, shuffle sizing)
- ``tablestore``  — versioned parquet table format (merge / time travel /
                    restore / history / vacuum / compact) replacing the
                    reference's Delta Lake dependency
- ``operators``   — relational + training-data operators (dedup, SCD,
                    windows, similarity search, text analysis, multimodal)
- ``sources``     — batch/stream readers, idempotent COPY-INTO-style ingest
- ``functions``   — scalar/aggregate helper expressions
- ``plans``       — plan inspection, column-usage profiling, optimizer
                    strategy generation (file sizing, clustering-key scoring)
- ``streaming``   — structured-streaming helpers (apply_changes CDC, the
                    idempotent MV runner, monitoring)
- ``validation``  — hash-diff data validator, count reconciliation
- ``queries``     — the registered query battery (correctness + bench corpus)

Everything is DataFrame/SQL-first: logical plans are declared with the
PySpark DataFrame API and Catalyst chooses the physical strategy. Python
UDFs appear only where built-ins cannot express the semantics, and then as
Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from lakehouse_tacklebox_spark.session import get_spark  # noqa: F401
