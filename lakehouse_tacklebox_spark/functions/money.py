"""Exact money and ratio encoding of the query modules.

Double-precision money math is not reproducible across engines: Spark's
``round`` rounds the double's shortest decimal representation while other
engines (DuckDB, Postgres) round the exact binary value, so products of
2-decimal inputs (price × (1-discount)) diverge at half-cent boundaries.

The contract every query module keeps for decimal money columns and
integer ratios, on the engine side and the oracle side alike:

- **Money is integer cents.** An amount is cast to ``DECIMAL(14,2)``
  (:func:`dmoney`), scaled by 100 and rounded half-up to ``BIGINT``
  (:func:`cents`); sums add those integers, so no summation order can
  disagree.
- **Rates are ``DECIMAL(7,4)``.** A discount or tax factor such as
  ``1 - l_discount`` is cast after the subtraction (:func:`drate`);
  :func:`disc_price` is the exact ``DECIMAL(14,2) × DECIMAL(7,4)``
  product and :func:`rev_cents` rounds it to cents per row. A 3-factor
  product stays ≤ DECIMAL(30,10), under the 38-digit cap of both Spark
  and DuckDB, so neither engine applies lossy precision reduction.
- **Ratios are floor parts-per-million.** :func:`ppm` is
  ``floor(a::double * 1e6 / b)::bigint``: its inputs are exact integers,
  the one double op is the same, in the same order, on both engines, and
  the floor makes the result an integer.

``CENTS_SQL``, ``DISC_PRICE_SQL`` and ``REV_CENTS_SQL`` are the DuckDB
twins of the cents and discounted-price forms that oracle strings format
in. They are templates, not helpers: a formatted twin must render
byte-for-byte the SQL the oracle always held, so that the gate compares
against an unchanged reference. ppm has no twin: oracle strings spell it
inline as ``CAST(floor(CAST(a AS DOUBLE) * 1000000.0 / b) AS BIGINT)``.
The events ``value`` column (a double) is outside this contract: its
cents are ``round(value * 100)`` on both engines.

Cost note: decimal ops are a few× slower than double ops per-row, but
remain JVM-side / codegen'd; for 100 TB aggregates the scan still
dominates.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CENTS_SQL = "CAST(round(CAST({c} AS DECIMAL(14,2)) * 100) AS BIGINT)"
DISC_PRICE_SQL = "CAST({p} AS DECIMAL(14,2)) * CAST(1 - {d} AS DECIMAL(7,4))"
REV_CENTS_SQL = "CAST(round(" + DISC_PRICE_SQL + " * 100) AS BIGINT)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dmoney(c: Column | str) -> Column:
    """2-decimal money amount → DECIMAL(14,2) (exact)."""
    return _col(c).cast("decimal(14,2)")


def drate(c: Column) -> Column:
    """Small rate factor (e.g. 1-discount, 1+tax) → DECIMAL(7,4)."""
    return c.cast("decimal(7,4)")


def cents(c: Column | str) -> Column:
    """Money amount → integer cents (BIGINT). Twin: ``CENTS_SQL``."""
    return F.round(dmoney(c) * 100).cast("bigint")


def disc_price() -> Column:
    """Exact discounted price ``l_extendedprice × (1 - l_discount)``.
    Twin: ``DISC_PRICE_SQL``."""
    return dmoney("l_extendedprice") * drate(F.lit(1) - F.col("l_discount"))


def rev_cents() -> Column:
    """Discounted price rounded to integer cents per row. Twin:
    ``REV_CENTS_SQL``."""
    return F.round(disc_price() * 100).cast("bigint")


def ppm(a: Column | str, b: Column | str) -> Column:
    """Ratio a / b as floor parts-per-million (BIGINT).

    ``a`` may be a double product such as ``x.cast("double") * n`` when
    the oracle multiplies in that order; the cast of a double is a
    no-op, so the double ops stay the oracle's."""
    return F.floor(_col(a).cast("double") * 1000000.0 / _col(b)).cast("bigint")


def dsum_dbl(c: Column, scale: int = 2) -> Column:
    """SUM in exact decimal, rounded, returned as double."""
    return F.round(F.sum(c), scale).cast("double")


def round_dbl(c: Column, scale: int = 2) -> Column:
    """Round (decimal input ⇒ exact half-up) and return double."""
    return F.round(c, scale).cast("double")
