"""Query pools and the seeded, cost-balanced sample each batch workload runs.

A plain random sample of a dozen queries from a heavy-tailed pool would
make the pass time depend mostly on which heavy queries the seed drew.
So each seed draws a stratified sample (one query per stratum of
queries with similar reference cost): the costliest stratum's query
uniformly, and for the other strata, of several draws, the one that
brings the mix's total and median reference cost closest to the pool's
average total and median. Every seed thus runs a different mix
of about the same expected cost, and every pool query can be drawn. Reference costs live in ``costs.json``
(``python3 perfbench/calibrate.py`` rewrites it); a query missing from
it counts at the pool median.
"""

from __future__ import annotations

import json
import os
import random
import statistics

QUERY_FLOOR_CATEGORIES = (
    "join aggregation json window sql scalar sampling sort setop scan timeseries cdc storage "
    "functions reshape time sensor-scalar layout audit"
).split()

#: workload -> (pool categories, queries per pass)
MIXES = {"query-floor": (QUERY_FLOOR_CATEGORIES, 10)}
DRAWS = 16

COSTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "costs.json")


def pool(registry, categories) -> list[str]:
    cats = set(categories)
    return sorted(name for name, spec in registry.items() if spec.category in cats)


def load_costs() -> dict[str, float]:
    if not os.path.exists(COSTS_PATH):
        return {}
    with open(COSTS_PATH) as f:
        return json.load(f)["warm_s"]


def sample(names: list[str], n: int, seed: int, costs: dict[str, float]) -> list[str]:
    """``n`` queries from ``names`` in seeded order (see module doc)."""
    rng = random.Random(seed)
    known = [costs[q] for q in names if q in costs]
    fill = statistics.median(known) if known else 1.0
    cost = {q: costs.get(q, fill) for q in names}
    ranked = sorted(names, key=lambda q: (cost[q], q))
    strata = [ranked[len(ranked) * i // n : len(ranked) * (i + 1) // n] for i in range(n)]
    target = sum(cost.values()) * n / len(names)
    target_median = statistics.median(cost.values())
    # the costliest stratum is drawn uniformly, so its heavy tail is
    # never balanced away; the other strata are balanced around it
    top = rng.choice(strata[-1])
    best = None
    for _ in range(DRAWS):
        draw = [rng.choice(s) for s in strata[:-1]] + [top]
        gap = abs(sum(cost[q] for q in draw) / target - 1) + abs(
            statistics.median(cost[q] for q in draw) / target_median - 1
        )
        if best is None or gap < best[0]:
            best = (gap, draw)
    out = list(best[1])
    rng.shuffle(out)
    return out
