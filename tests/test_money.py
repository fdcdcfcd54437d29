"""The exact money and ratio encoding (functions/money.py): the Spark
spellings, their DuckDB twins and a pure-Decimal reference agree on a
grid that hits half-cent products, and no query module grows its own
copy again."""

from __future__ import annotations

import ast
import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_tacklebox_spark.functions import (  # noqa: E402
    CENTS_SQL,
    REV_CENTS_SQL,
    cents,
    ppm,
    rev_cents,
)

# 2-decimal prices × every 2-decimal discount: 1.10 × (1 - 0.05) = 1.045
# and 0.50 × (1 - 0.01) = 0.495 are half-cent products, where double
# rounding and exact rounding part ways
PRICES = [round(i * 0.35, 2) for i in range(200)] + [1.10, 1999.20, 104949.50]
DISCOUNTS = [round(j * 0.01, 2) for j in range(101)]

# the per-module spelling shapes17/18 used before the shared one
REV_CENTS_5_4_SQL = (
    "CAST(round(CAST({p} AS DECIMAL(14,2)) * (1 - CAST({d} AS DECIMAL(5,4))) * 100, 0)"
    " AS BIGINT)"
)
# ppm as oracle strings spell it inline: it has no twin template
PPM_SQL = "CAST(floor(CAST(a AS DOUBLE) * 1000000.0 / b) AS BIGINT)"


def _grid() -> pd.DataFrame:
    return pd.DataFrame(
        [(p, d) for p in PRICES for d in DISCOUNTS], columns=["l_extendedprice", "l_discount"]
    )


def _ref_cents(x: float) -> int:
    return int((Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100).to_integral_value())


def _ref_rev_cents(p: float, d: float) -> int:
    price = Decimal(repr(p)).quantize(Decimal("0.01"), ROUND_HALF_UP)
    rate = Decimal(repr(1 - d)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    return int((price * rate * 100).quantize(Decimal("1"), ROUND_HALF_UP))


def test_cents_and_rev_cents_match_duckdb_twins_and_decimal_reference(spark):
    pdf = _grid()
    assert _ref_rev_cents(1.10, 0.05) == 105 and _ref_rev_cents(0.50, 0.01) == 50
    got = (
        spark.createDataFrame(pdf)
        .select(
            "l_extendedprice",
            "l_discount",
            cents("l_extendedprice").alias("c"),
            rev_cents().alias("rc"),
            F.round(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (1 - F.col("l_discount").cast("decimal(5,4)"))
                * 100
            ).cast("bigint").alias("rc54"),
        )
        .collect()
    )
    spark_rows = sorted(tuple(r) for r in got)

    con = duckdb.connect()
    con.register("grid", pdf)
    duck_rows = sorted(
        con.execute(
            f"""SELECT l_extendedprice, l_discount,
                       {CENTS_SQL.format(c="l_extendedprice")},
                       {REV_CENTS_SQL.format(p="l_extendedprice", d="l_discount")},
                       {REV_CENTS_5_4_SQL.format(p="l_extendedprice", d="l_discount")}
                FROM grid"""
        ).fetchall()
    )
    con.close()

    ref = sorted(
        (p, d, _ref_cents(p), _ref_rev_cents(p, d), _ref_rev_cents(p, d))
        for p, d in zip(pdf["l_extendedprice"], pdf["l_discount"])
    )
    assert len(ref) == len(PRICES) * len(DISCOUNTS)
    assert spark_rows == ref
    assert duck_rows == ref


def test_ppm_matches_duckdb_and_exact_floor(spark):
    pairs = [(a, b) for a in range(0, 400, 7) for b in range(1, 300, 11)]
    pairs += [(10**10 + 7, 3), (123456789012, 987654321), (1, 3), (2, 3), (999999, 1000000)]
    pdf = pd.DataFrame(pairs, columns=["a", "b"])
    got = spark.createDataFrame(pdf).select("a", "b", ppm("a", "b")).collect()
    spark_rows = sorted(tuple(r) for r in got)

    con = duckdb.connect()
    con.register("pairs", pdf)
    duck_rows = sorted(con.execute(f"SELECT a, b, {PPM_SQL} FROM pairs").fetchall())
    con.close()

    ref = sorted((a, b, a * 10**6 // b) for a, b in pairs)
    assert spark_rows == ref
    assert duck_rows == ref


def test_no_query_module_keeps_its_own_encoding():
    helpers = {"_cents", "_rev_cents", "_ppm", "_disc_price"}
    twins = {"_CENTS_SQL", "_REV_CENTS_SQL"}
    found = []
    for path in sorted((ROOT / "lakehouse_tacklebox_spark" / "queries").glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name in helpers:
                found.append(f"{path.name}: def {node.name}")
        for node in tree.body:
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and t.id in twins:
                    found.append(f"{path.name}: {t.id} =")
    assert not found, f"use functions.money instead: {found}"
