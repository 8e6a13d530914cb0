"""Hand-computed funnel / transition-matrix semantics on tiny fixtures:
strictly-after step ordering, dropped-out users, null-next handling, and
row-normalized probabilities."""

from __future__ import annotations

import pytest

from sdg_big_data_spark.operators.sequence import funnel, transitions


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, u, t, ty) for i, (u, t, ty) in enumerate(rows)],
        "event_id long, user_id long, ts long, event_type string",
    )


def test_funnel_strictly_after_and_dropouts(spark):
    rows = [
        # u1 completes the funnel in order
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2 clicks BEFORE viewing — click must not count
        (2, 20, "click"), (2, 30, "view"),
        # u3 views only
        (3, 10, "view"),
        # u4 purchase simultaneous with click — strictly-after drops it
        (4, 10, "view"), (4, 20, "click"), (4, 20, "purchase"),
        # u5 never views; later steps can't start
        (5, 10, "click"), (5, 20, "purchase"),
    ]
    out = {
        r["step_name"]: r["n_users"]
        for r in funnel(
            _events(spark, rows), ["view", "click", "purchase"], ts_col="ts"
        ).collect()
    }
    assert out == {"view": 4, "click": 2, "purchase": 1}


def test_funnel_retry_after_false_start(spark):
    # u1: view, click, view, click, purchase — first chain wins:
    # t1=10 (first view), t2=20 (first click after 10), purchase at 50
    rows = [(1, 10, "view"), (1, 20, "click"), (1, 30, "view"),
            (1, 40, "click"), (1, 50, "purchase")]
    out = {
        r["step_name"]: r["n_users"]
        for r in funnel(
            _events(spark, rows), ["view", "click", "purchase"], ts_col="ts"
        ).collect()
    }
    assert out == {"view": 1, "click": 1, "purchase": 1}


def test_transitions_counts_and_probabilities(spark):
    rows = [
        (1, 10, "a"), (1, 20, "b"), (1, 30, "a"), (1, 40, "c"),
        (2, 10, "a"), (2, 20, "b"),
    ]
    # pairs: u1 a->b, b->a, a->c; u2 a->b  →  a->b:2, a->c:1, b->a:1
    out = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in transitions(_events(spark, rows)).collect()
    }
    assert out[("a", "b")] == (2, 2 / 3)
    assert out[("a", "c")] == (1, 1 / 3)
    assert out[("b", "a")] == (1, 1.0)
    assert len(out) == 3  # final events (no successor) emit nothing


class TestConversionLatency:
    @pytest.mark.parametrize("seed", range(3))
    def test_matches_pure_python(self, spark, seed):
        """Randomized differential: conversion_latency equals the hand
        model (first A, first B strictly after, whole-second deltas,
        exact ceil(q*n) order statistics)."""
        import datetime as dt
        import math
        import random

        from sdg_big_data_spark.operators.sequence import conversion_latency

        rng = random.Random(seed)
        base = dt.datetime(2021, 3, 1)
        rows = []
        for u in range(30):
            for _ in range(rng.randint(0, 8)):
                rows.append(
                    (u, base + dt.timedelta(seconds=rng.randint(0, 86400)),
                     rng.choice(["click", "purchase", "view"]))
                )
        if not rows:
            return
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        got = conversion_latency(df, "click", "purchase").collect()[0]

        t0, t1 = {}, {}
        for u, ts, t in rows:
            if t == "click":
                t0[u] = min(t0.get(u, ts), ts)
        for u, ts, t in rows:
            if t == "purchase" and u in t0 and ts > t0[u]:
                t1[u] = min(t1.get(u, ts), ts)
        deltas = sorted(
            (int(t1[u].timestamp()) - int(t0[u].timestamp()), u)
            for u in t1
        )
        n = len(deltas)
        if n == 0:
            assert got["n_converted"] == 0
            return
        assert got["n_converted"] == n
        assert got["mean_s"] == round(sum(d for d, _ in deltas) / n, 4)
        assert got["q50_s"] == deltas[max(1, math.ceil(0.5 * n)) - 1][0]
        assert got["q90_s"] == deltas[max(1, math.ceil(0.9 * n)) - 1][0]


def test_funnel_matches_sequential_min_reference(spark):
    """``funnel`` keeps per-step timestamp arrays + a conditional min
    (no ordered history). Counts must equal the naive per-user
    sequential scan (strictly-after semantics), incl. users who skip
    steps / do them out of order / repeat them."""
    import itertools

    steps = ["view", "click", "purchase"]
    rows = []
    eid = 0
    # all orderings of up to 4 events over the 3 types, multiple users
    evs = ["view", "click", "purchase", "view", "click", "other"]
    for u, perm in enumerate(itertools.permutations(range(6), 4)):
        for k, i in enumerate(perm):
            rows.append((u, evs[i], k * 10))
            eid += 1
    # a user with simultaneous view+click (strictly-after must reject)
    u0 = 10_000
    rows += [(u0, "view", 0), (u0, "click", 0), (u0, "purchase", 5)]
    df = spark.createDataFrame(rows, schema="user_id long, event_type string, ts long")
    got = {
        r["step_name"]: r["n_users"]
        for r in funnel(df, steps).collect()
    }
    # naive python reference
    from collections import defaultdict

    hist = defaultdict(list)
    for u, t, ts in rows:
        hist[u].append((ts, t))
    exp = {s: 0 for s in steps}
    for u, h in hist.items():
        prev = None
        for s in steps:
            cand = [ts for ts, t in h if t == s and (prev is None or ts > prev)]
            if not cand:
                break
            prev = min(cand)
            exp[s] += 1
    assert got == exp
