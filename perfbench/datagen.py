"""Seeded landing plan for the pipeline backfill.

The query workloads read fixed tables: ``perfbench/data/sf0.01`` and
``sf0.001`` are byte-for-byte copies of the repository's reference test
data (TESTDATA.md, generator seed 42), the tables the repository's tests
and oracle checks use. They ship with the benchmark so that a run reads
nothing outside its own checkout; the benchmark seed only changes the
order of operations.

``launch_days`` plans the backfill: which days land, in what order, how
many records each carries and which are re-run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FIRST_DAY = dt.date(2024, 11, 1)


def launch_days(seed: int, n_days: int, records: tuple[int, int],
                n_reruns: int = 3) -> list[dict]:
    """Plan a backfill of ``n_days`` consecutive days from ``FIRST_DAY``.

    Each entry is ``{"day", "records", "rerun"}`` in run order. The seed
    makes one day empty, deals the other days record counts spread
    evenly over ``records`` (inclusive range) in a shuffled order, swaps
    one adjacent pair so a day lands after its successor, and re-runs
    ``n_reruns`` non-empty days right after their first run. Every seed
    thus lands the same records on first runs, in different days and
    orders. Days are ISO dates.
    """
    rng = np.random.default_rng(seed)
    days = [(FIRST_DAY + dt.timedelta(days=k)).isoformat()
            for k in range(n_days)]
    sizes = np.linspace(records[0], records[1], n_days - 1).round().astype(int)
    counts = np.insert(rng.permutation(sizes), rng.integers(1, n_days), 0)
    order = list(range(n_days))
    swap = int(rng.integers(1, n_days - 1)) if n_days > 2 else 0
    if swap:
        order[swap], order[swap + 1] = order[swap + 1], order[swap]
    landed = [k for k in range(1, n_days) if counts[k]]
    reruns = set(rng.choice(landed, min(n_reruns, len(landed)),
                            replace=False).tolist())
    plan = []
    for k in order:
        plan.append({"day": days[k], "records": int(counts[k]), "rerun": False})
        if k in reruns:
            plan.append({"day": days[k], "records": int(counts[k]), "rerun": True})
    return plan
