"""The connected-components engine (plans/components.py): both paths
against a plain-Python union-find with null-safe keys, the round
budget, and the cost of one propagation round in Spark jobs."""

import os
import random
import time

import pytest

from geocube_spark.exceptions import GeoCubeError
from geocube_spark.plans import components as C

KEYS = ("measurement", "group_key")


def _reference(pairs):
    """(*keys, node) -> minimum node id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for m, g, a, b in pairs:
        ra, rb = find((m, g, a)), find((m, g, b))
        if ra != rb:
            parent[max(ra, rb, key=lambda n: n[2])] = min(
                ra, rb, key=lambda n: n[2])
    return {n: find(n)[2] for n in parent}


def _shuffled_path(n, seed=0):
    ids = list(range(1, n + 1))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


@pytest.mark.parametrize("cap", [None, 0])
def test_components_match_union_find(spark, monkeypatch, cap):
    """A random graph over two groups that reuse the same node ids,
    one group with a null key, plus a shuffled 41-node path (about 24
    rounds) in that group. On the distributed path no round may take
    seconds: with null-safe join keys each round past ~15 ran about
    2.5x longer than the one before."""
    rounds = []
    if cap is not None:
        monkeypatch.setattr(C, "DRIVER_CAP", cap)
        flat = C._flat

        def timed(df):
            t = time.monotonic()
            out = flat(df)
            rounds.append(time.monotonic() - t)
            return out

        monkeypatch.setattr(C, "_flat", timed)
    rng = random.Random(7)
    pairs = []
    for g in ("g", None):
        for _ in range(16):
            a, b = rng.randrange(24), rng.randrange(24)
            pairs.append(("m", g, a, b))
    pairs += [("m", None, a + 100, b + 100) for a, b in _shuffled_path(41)]
    df = spark.createDataFrame(
        pairs, "measurement string, group_key string, a long, b long")
    got = {(r["measurement"], r["group_key"], r["node"]): r["label"]
           for r in C.components(df, KEYS).collect()}
    assert got == _reference(pairs)
    if cap is not None:
        assert len(rounds) > 20 and max(rounds[1:]) < 5.0, rounds


def test_propagate_round_costs_one_materialization(spark):
    """Plan shape of the propagation loop: a round is one flattened
    output plus the count of its moved labels, so every round past
    the first costs a bounded number of Spark jobs. A shuffled path
    of 41 ids needs about 24 rounds, so both budgets raise."""
    df = spark.createDataFrame(_shuffled_path(41), "a long, b long")
    sc = spark.sparkContext
    jobs = {}
    for rounds in (3, 6):
        group = f"test-components-jobs-{rounds}-{os.getpid()}"
        sc.setJobGroup(group, f"propagate, {rounds} rounds", False)
        try:
            with pytest.raises(GeoCubeError, match="converge"):
                C.propagate(df, max_rounds=rounds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[6] - jobs[3] <= 3 * 10, jobs
