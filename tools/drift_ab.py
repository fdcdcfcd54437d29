"""Standing A/B drift adjudication.

When a round's frozen-subset scalar (`common_subset_total_s` in
BENCH_FULL.json) moves more than 1.25x against the recorded baseline, do
NOT chase code: run THIS tool in the same machine session. It times a
slice of the frozen DRIFT_SUBSET on the working tree and on a `git
archive` of the prior ref, each pass a fresh `tools/opt_bench.py
--time-only --tree <side>` process, so each side runs under its own
tree's `session.get_spark` confs with the same timer (warm-up, then
min-of-3). If the two sides agree (ratio ~1.0), the move is
machine/environment drift and the ledger gets re-baselined; only a
prior-ref side that is genuinely faster indicts the code.

Usage:
    python tools/drift_ab.py <prior-git-ref> [sf_dir] [n_queries]

Prints one JSON line: per-query seconds for both sides, the total
ratio, and the verdict string recorded in BENCH_FULL.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

TIMER = os.path.join(REPO, "tools", "opt_bench.py")


def _time_side(tag: str, tree: str, names: list[str], sf_dir: str) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, TIMER, "--time-only", "--tree", tree, tag, *names],
        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        capture_output=True,
        text=True,
        timeout=3600,
    )
    try:
        return bench.opt_bench_queries(proc.stdout)
    except StopIteration:
        raise RuntimeError(
            f"timer produced no payload for {tree}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
        ) from None


def main() -> None:
    prior_ref = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    names = bench.DRIFT_SUBSET[:n_queries]

    with tempfile.TemporaryDirectory(prefix="drift_ab_") as tmp:
        tar = subprocess.run(
            ["git", "archive", prior_ref], cwd=REPO, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=tar, check=True)
        # A/B/B/A: each side gets one early and one late pass and a
        # per-query min-of-2, so page-cache/JIT/thermal warm-up across the
        # session cancels instead of favouring one side
        cur_a1 = _time_side("current", REPO, names, sf_dir)
        prior_b1 = _time_side("prior", tmp, names, sf_dir)
        prior_b2 = _time_side("prior", tmp, names, sf_dir)
        cur_a2 = _time_side("current", REPO, names, sf_dir)
    cur = {n: min(cur_a1[n], cur_a2[n]) for n in cur_a1}
    prior = {n: min(prior_b1[n], prior_b2[n]) for n in prior_b1}

    cur_total = round(sum(cur.values()), 3)
    prior_total = round(sum(prior.values()), 3)
    ratio = round(cur_total / prior_total, 3) if prior_total else None
    verdict = (
        "code regression: prior HEAD is materially faster on the same session"
        if ratio is not None and ratio > 1.25
        else "environmental: prior-HEAD code is not faster in the same session"
        " — re-baseline the ledger, do not chase code"
    )
    print(
        json.dumps(
            {
                "prior_ref": prior_ref,
                "sf_dir": sf_dir,
                "timer": "tools/opt_bench.py --time-only --tree <side>: each side's own session.get_spark, warm-up then min-of-3",
                "queries": names,
                "current_s": cur,
                "current_pass_totals_s": [
                    round(sum(cur_a1.values()), 3),
                    round(sum(cur_a2.values()), 3),
                ],
                "prior_pass_totals_s": [
                    round(sum(prior_b1.values()), 3),
                    round(sum(prior_b2.values()), 3),
                ],
                "prior_head_s": prior,
                "current_total_s": cur_total,
                "prior_head_total_s": prior_total,
                "current_over_prior": ratio,
                "verdict": verdict,
            }
        )
    )


if __name__ == "__main__":
    main()
