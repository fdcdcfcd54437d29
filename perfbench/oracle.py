"""Expected answers, computed before timing, and the check of a result.

The comparison is the repository's own (``tests/oracle_check.py``):
columns sorted by name, rows sorted, exact equality after its value
normalisation. This module only splits it in two, so each entry's
``oracle_sql`` runs on DuckDB before anything is timed and the timed op
only has to collect its rows.
"""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_oracle_check():
    # loaded by path: a "tests" package elsewhere on sys.path must not shadow it
    path = os.path.join(REPO, "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_oc = _load_oracle_check()
TABLES = _oc.TABLES
norm_value = _oc._norm


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values normalised, rows sorted."""
    out, sorted_cols = _oc._rows_to_sorted([tuple(r) for r in rows], list(cols))
    return sorted_cols, out


def compare(expected: tuple[list[str], list[tuple]], cols: list[str], rows) -> str | None:
    """None when (cols, rows) matches the canonical ``expected``, else a
    short description of the first difference."""
    exp_cols, exp_rows = expected
    got_cols, got_rows = canonical(cols, rows)
    if got_cols != exp_cols:
        return f"columns differ: got {got_cols} expected {exp_cols}"
    if len(got_rows) != len(exp_rows):
        return f"row count differs: got {len(got_rows)} expected {len(exp_rows)}"
    bad = [i for i, (a, b) in enumerate(zip(got_rows, exp_rows)) if a != b]
    if bad:
        i = bad[0]
        return f"{len(bad)} rows differ; first: got {got_rows[i]} expected {exp_rows[i]}"
    return None


def expected_answers(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple[list[str], list[tuple]]]:
    con = _oc.duck_connection(data_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = canonical([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
