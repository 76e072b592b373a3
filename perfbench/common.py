"""Small helpers shared by the workloads."""

from __future__ import annotations

import os
import random
import statistics


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def seeded_order(names: list[str], seed: int, k: int) -> list[str]:
    """The query order of pass ``k`` under ``seed``."""
    out = list(names)
    random.Random(seed * 1000 + k).shuffle(out)
    return out
