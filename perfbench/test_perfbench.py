"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from run import E2E, PER_LAYER  # noqa: E402
from workloads import DATA, passes_for  # noqa: E402

# ---------------------------------------------------------- percentiles


@pytest.mark.parametrize(
    "n, pct",
    [(1, None), (19, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
     (10_000, 99.9)],
)
def test_reported_percentile_has_ten_samples_beyond(n, pct):
    assert stats.supported_percentile(n) == pct
    if pct is not None:
        assert stats.beyond(n, pct) >= stats.MIN_BEYOND


def test_summary_reports_count_median_and_upper():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    s = stats.summarize(vals)
    assert s["n"] == 100
    assert s["p50"] == 50.5
    assert s["upper_pct"] == 90.0 and s["upper"] == 90.0
    assert sum(v > s["upper"] for v in vals) == 10
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}
    assert stats.summarize([]) == {"n": 0}


def test_entry_p50_is_geomean_of_entry_medians():
    lat = {"a": [1.0, 3.0, 2.0], "b": [8.0, 8.0]}
    assert stats.entry_p50(lat) == pytest.approx(4.0)  # sqrt(2 * 8)
    # one slow op of a cheap entry does not move it to another entry's cost
    assert stats.entry_p50({"a": [1.0, 1.0, 50.0], "b": [4.0]}) == pytest.approx(2.0)
    assert stats.entry_p50({}) == 0.0


# ------------------------------------------------------------ seeding


def test_tables_are_the_oracle_corpora():
    for t in oracle.TABLES:
        assert os.path.isfile(os.path.join(DATA, f"{t}.parquet")), t


def test_same_seed_same_schedules():
    names = [f"q{i}" for i in range(50)]
    assert gen.pass_order(3, names, 1) == gen.pass_order(3, names, 1)
    assert gen.pass_order(3, names, 1) != gen.pass_order(4, names, 1)
    passes = [gen.pass_order(3, names, k) for k in range(4)]
    assert all(sorted(p) == sorted(names) for p in passes)  # each pass runs every entry once
    assert len({tuple(p) for p in passes}) == 4


def test_seconds_set_a_fixed_amount_of_work():
    assert passes_for(10, 3.5) == 3
    assert passes_for(10, 13.0) == 1
    assert passes_for(1, 13.0) == 1  # at least one pass
    assert passes_for(60, 13.0) == 5


# ------------------------------------------------------------ comparator


def test_norm_decimal_float_nan_dates():
    n = oracle.norm_value
    assert n(Decimal("1.10")) == n(1.1)
    # exact, as the repository's own comparator: no float rounding
    assert n(0.1 + 0.2) != n(Decimal("0.3"))
    assert n(1.0000000001) != n(1.0)
    assert n(float("nan")) == n(float("nan")) == "NaN"
    assert n(-0.0) == n(0.0)
    assert n(datetime(2024, 1, 1, 5, tzinfo=timezone.utc)) == n(datetime(2024, 1, 1, 5))
    assert n(date(2024, 1, 2)) == "2024-01-02"
    assert n([Decimal("2.50"), None]) == (2.5, None)
    assert n(True) is True


def test_compare_ignores_row_and_column_order():
    exp = oracle.canonical(["b", "a"], [(1.0, "x"), (2.5, "y")])
    assert oracle.compare(exp, ["a", "b"], [("y", Decimal("2.50")), ("x", 1)]) is None
    assert "row count" in oracle.compare(exp, ["a", "b"], [("y", 2.5)])
    assert "columns" in oracle.compare(exp, ["a", "c"], [("y", 2.5), ("x", 1.0)])
    assert "differ" in oracle.compare(exp, ["a", "b"], [("y", 2.5), ("x", 1.5)])
    # dates and timestamps from either engine compare equal
    t = datetime(2001, 2, 3, 4, 5, 6)
    exp = oracle.canonical(["t"], [(t,)])
    assert oracle.compare(exp, ["t"], [(t.replace(tzinfo=timezone.utc),)]) is None


# ------------------------------------------------------------ spans


def test_self_time_subtracts_union_of_children():
    # children overlap each other and one sticks out of the parent
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(4.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_self_times_over_span_tree():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
    ]
    st = stats.self_times(spans)
    assert st == {1: pytest.approx(6.0), 2: pytest.approx(2.0), 3: 1.0, 4: 1.0}
    assert math.isclose(sum(st.values()), 10.0)


def test_union_length():
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4), (4, 4)]) == 3.0
    assert stats.union_length([]) == 0.0


# ---------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_matches_printed_metrics():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
