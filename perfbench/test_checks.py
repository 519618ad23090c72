"""The near-duplicate recall floor is the exact lower quantile it claims.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bulk  # noqa: E402


def _p(j: float) -> float:
    rows = bulk.LSH["num_hashes"] // bulk.LSH["bands"]
    return 1 - (1 - j**rows) ** bulk.LSH["bands"]


def test_floor_of_certain_and_impossible_pairs():
    assert bulk.lsh_recall_floor([1.0] * 25) == 25
    assert bulk.lsh_recall_floor([0.5] * 25) == 0  # below the threshold: never kept
    assert bulk.lsh_recall_floor([1.0] * 25 + [0.5] * 5) == 25


def test_floor_is_the_binomial_lower_quantile():
    n, j = 100, 0.8
    p = _p(j)
    below = [math.comb(n, k) * p**k * (1 - p) ** (n - k) for k in range(n + 1)]
    floor = bulk.lsh_recall_floor([j] * n)
    assert sum(below[:floor]) <= bulk.RECALL_TAIL < sum(below[: floor + 1])
    # far below the "mean minus 4 sigma" of a normal approximation
    assert floor < n * p - 4 * math.sqrt(n * p * (1 - p)) - 1
