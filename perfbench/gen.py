"""Seeded inputs: the order in which a workload's clients take its entries.

The tables are fixed (``perfbench/data``); what the seed decides is the
order of every pass. The same seed gives the same orders.
"""

from __future__ import annotations

import zlib

import numpy as np


def rng_for(seed: int, label: str) -> np.random.Generator:
    """An independent stream per (seed, label), stable across runs."""
    return np.random.default_rng([seed, zlib.crc32(label.encode())])


def pass_order(seed: int, names: list[str], k: int) -> list[str]:
    """The seed-ordered pass number ``k`` over ``names`` (the order in
    which the clients take the entries)."""
    return [names[i] for i in rng_for(seed, f"pass{k}").permutation(len(names))]
