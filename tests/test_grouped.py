"""Grouped-map algorithms (F2-F4): stop detection, re-clustering,
home/work labeling on a seeded synthetic pings fixture (FIXTURES.md §1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

HOME = (40.7000, -74.0000)
WORK = (40.7100, -73.9900)
CAFE = (40.7050, -73.9950)
DAY = 86400


def _venue_pings(user, venue, t0, t1, step, rng, jitter_deg=0.0002):
    rows = []
    for t in range(t0, t1, step):
        rows.append(
            {
                "user_id": user,
                "lat": venue[0] + rng.uniform(-jitter_deg, jitter_deg),
                "lon": venue[1] + rng.uniform(-jitter_deg, jitter_deg),
                "accuracy": float(rng.uniform(5, 40)),
                "timestamp": t,
            }
        )
    return rows


@pytest.fixture(scope="module")
def pings_pdf() -> pd.DataFrame:
    """14 days, 3 users: u1 commutes home->work daily + cafe visits; u2 is
    home-only; u3 has only junk-accuracy pings."""
    rng = np.random.RandomState(42)
    rows = []
    base = 1_700_000_000 - (1_700_000_000 % DAY)  # midnight-aligned
    for day in range(14):
        d0 = base + day * DAY
        # u1: night at home (00-07 + 20-24), work 9-17 on weekdays, cafe 18h
        rows += _venue_pings("u1", HOME, d0, d0 + 7 * 3600, 900, rng)
        weekday = (day % 7) not in (5, 6)
        if weekday:
            rows += _venue_pings("u1", WORK, d0 + 9 * 3600, d0 + 17 * 3600, 900, rng)
        rows += _venue_pings("u1", CAFE, d0 + 18 * 3600, d0 + 19 * 3600, 600, rng)
        rows += _venue_pings("u1", HOME, d0 + 20 * 3600, d0 + 24 * 3600, 900, rng)
        # u2: home only, sparse
        rows += _venue_pings("u2", HOME, d0 + 1 * 3600, d0 + 6 * 3600, 1800, rng)
    # u3: accuracy > 100 everywhere → all filtered
    for t in range(base, base + 2 * DAY, 3600):
        rows.append(
            {"user_id": "u3", "lat": 40.7, "lon": -74.0, "accuracy": 500.0, "timestamp": t}
        )
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def pings(spark, pings_pdf):
    return spark.createDataFrame(pings_pdf).repartition(8)


def test_detect_stops_basic(spark, pings):
    from sdg_big_data_spark.operators.grouped import detect_stops

    stops = detect_stops(pings).cache()
    pdf = stops.toPandas()
    assert set(pdf["user_id"]) == {"u1", "u2"}  # u3 fully accuracy-filtered
    u1 = pdf[pdf.user_id == "u1"]
    # every stop ≥ stay_time and ordered
    assert (u1.t_end - u1.t_start >= 300).all()
    assert (u1.n_pings >= 2).all()
    # u1's recurrent locations collapse to 3 clusters (home/work/cafe)
    assert u1.cluster_label.nunique() == 3
    # home cluster must contain a stop located near HOME
    d_home = np.abs(u1.lat - HOME[0]) + np.abs(u1.lon - HOME[1])
    assert d_home.min() < 0.001


def test_detect_stops_order_invariant(spark, pings):
    """Property (SURVEY §5.2): stop detection sorts internally, so input
    row order must not change the result."""
    from sdg_big_data_spark.operators.grouped import detect_stops

    a = detect_stops(pings).toPandas().sort_values(["user_id", "t_start"]).reset_index(drop=True)
    shuffled = pings.orderBy(F.rand(7))
    b = detect_stops(shuffled).toPandas().sort_values(["user_id", "t_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_recluster_after_union(spark, pings):
    """F3: splitting pings into two batches, detecting separately, then
    re-clustering the union must yield the same cluster structure as
    detecting in one pass (count of distinct locations per user)."""
    from sdg_big_data_spark.operators.grouped import detect_stops, recluster_stops

    mid = 1_700_000_000 - (1_700_000_000 % DAY) + 7 * DAY
    s1 = detect_stops(pings.where(F.col("timestamp") < mid))
    s2 = detect_stops(pings.where(F.col("timestamp") >= mid))
    merged = recluster_stops(s1.unionByName(s2))
    full = detect_stops(pings)
    m = merged.groupBy("user_id").agg(F.countDistinct("cluster_label").alias("k")).collect()
    f = full.groupBy("user_id").agg(F.countDistinct("cluster_label").alias("k")).collect()
    assert {r.user_id: r.k for r in m} == {r.user_id: r.k for r in f}


def test_home_work_labeling(spark, pings):
    from sdg_big_data_spark.operators.grouped import detect_stops, label_home_work

    stops = detect_stops(pings).withColumn(
        "duration", F.col("t_end") - F.col("t_start")
    )
    labels = label_home_work(stops).toPandas()
    u1 = labels[labels.user_id == "u1"].set_index("cluster_label")["location_type"]
    assert (u1 == "H").sum() == 1
    assert (u1 == "W").sum() == 1
    # cafe is neither home nor work
    assert (u1 == "O").sum() >= 1
    # u2 (home only): one H, no W
    u2 = labels[labels.user_id == "u2"]["location_type"]
    assert (u2 == "H").sum() == 1 and (u2 == "W").sum() == 0


def test_cap_group_size(spark, pings):
    from sdg_big_data_spark.operators.grouped import cap_group_size

    capped = cap_group_size(pings, "user_id", "timestamp", 50)
    counts = capped.groupBy("user_id").count().collect()
    assert all(r["count"] <= 50 for r in counts)
    # deterministic: keeps the EARLIEST rows
    first = capped.where(F.col("user_id") == "u1").agg(F.min("timestamp")).first()[0]
    overall_first = pings.where(F.col("user_id") == "u1").agg(F.min("timestamp")).first()[0]
    assert first == overall_first


def test_label_home_work_dynamic_switch(spark):
    """A user whose nightly location moves at day 40 gets a switched
    home label once the new cluster dominates the trailing window."""
    from sdg_big_data_spark.operators.grouped import label_home_work_dynamic

    rows = []
    day0 = 19000  # epoch day index
    for d in range(80):
        t_night = (day0 + d) * 86400 + 21 * 3600
        cluster = 1 if d < 40 else 2
        rows.append(("u", cluster, t_night, 4 * 3600))
        # stable daytime work cluster on weekdays
        dw = (day0 + d + 4) % 7
        if dw not in (0, 6):
            rows.append(("u", 9, (day0 + d) * 86400 + 10 * 3600, 5 * 3600))
    df = spark.createDataFrame(
        rows, schema="user_id string, cluster_label long, t_start long, duration long"
    )
    out = label_home_work_dynamic(df, hw_days=21, ww_days=21).collect()
    # date(1970,1,1).toordinal() == 719163
    by_day = {r["day"].toordinal() - 719163 - day0: r for r in out}
    # cold-start days are bfilled from the first qualifying window
    assert by_day[0]["home_cluster"] == 1
    # established period before the move: home = 1
    assert by_day[30]["home_cluster"] == 1
    # well after the move (window fully flipped): home = 2
    assert by_day[70]["home_cluster"] == 2
    # work cluster is the weekday cluster, present every day via fill,
    # and never equals home
    assert by_day[30]["work_cluster"] == 9
    assert by_day[70]["work_cluster"] == 9
    assert all(
        r["work_cluster"] != r["home_cluster"]
        for r in out
        if r["work_cluster"] is not None
    )


def test_detect_stops_batched_equals_grouped(spark, pings):
    """The partition-batched mapInPandas form returns exactly the rows of
    the per-group applyInPandas form."""
    from sdg_big_data_spark.operators.grouped import (
        detect_stops,
        detect_stops_batched,
    )

    a = sorted(map(tuple, detect_stops(pings).collect()))
    b = sorted(map(tuple, detect_stops_batched(pings).collect()))
    # also under an adversarially tiny Arrow batch size (forces user
    # stitching across batches)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        c = sorted(map(tuple, detect_stops_batched(pings, partitions=3).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == b == c


def test_recluster_batched_equals_grouped(spark, pings):
    from sdg_big_data_spark.operators.grouped import (
        detect_stops,
        recluster_stops,
        recluster_stops_batched,
    )

    stops = detect_stops(pings)
    a = sorted(map(tuple, recluster_stops(stops).collect()))
    b = sorted(map(tuple, recluster_stops_batched(stops).collect()))
    assert a == b


class TestEwma:
    def test_matches_pandas_ewm(self, spark):
        import numpy as np
        import pandas as pd

        from sdg_big_data_spark.operators.grouped import ewma

        rng = np.random.RandomState(7)
        pdf = pd.DataFrame(
            {
                "g": np.repeat([1, 2, 3], 40),
                "t": np.tile(np.arange(40), 3),
                "x": rng.randn(120),
            }
        )
        df = spark.createDataFrame(pdf)
        got = (
            ewma(df, ["g"], ["t"], "x", 0.25)
            .orderBy("g", "t")
            .select("ewma")
            .toPandas()["ewma"]
            .to_numpy()
        )
        exp = (
            pdf.sort_values(["g", "t"])
            .groupby("g")["x"]
            .transform(lambda s: s.ewm(alpha=0.25, adjust=False).mean())
            .to_numpy()
        )
        assert np.allclose(got, exp, atol=1e-12)

    def test_partition_invariant(self, spark):
        import numpy as np
        import pandas as pd

        from sdg_big_data_spark.operators.grouped import ewma

        pdf = pd.DataFrame(
            {"g": [1] * 50 + [2] * 50, "t": list(range(50)) * 2,
             "x": np.linspace(-1, 1, 100)}
        )
        df = spark.createDataFrame(pdf)
        a = ewma(df, ["g"], ["t"], "x", 0.5).orderBy("g", "t").collect()
        b = ewma(df.repartition(17), ["g"], ["t"], "x", 0.5).orderBy("g", "t").collect()
        assert a == b

    def test_null_group_key_is_one_group(self, spark):
        """ADVICE r4: a NULL group key surfaces as None/NaN in the Arrow
        batch; NaN != NaN meant every row of a null-keyed group restarted
        the recursion (y = x) instead of accumulating — a silent change
        from the groupBy semantics, which treat nulls as one group."""
        import numpy as np

        from sdg_big_data_spark.operators.grouped import ewma

        df = spark.createDataFrame(
            [(None, 0, 1.0), (None, 1, 0.0), (None, 2, 0.0),
             ("a", 0, 1.0), ("a", 1, 0.0)],
            "g string, t long, x double",
        )
        got = {
            (r["g"], r["t"]): r["ewma"]
            for r in ewma(df, ["g"], ["t"], "x", 0.5).collect()
        }
        # null group must ACCUMULATE: 1.0 -> 0.5 -> 0.25, not restart at x
        assert got[(None, 0)] == 1.0
        assert np.isclose(got[(None, 1)], 0.5)
        assert np.isclose(got[(None, 2)], 0.25)
        # and be independent from the "a" group
        assert got[("a", 0)] == 1.0 and np.isclose(got[("a", 1)], 0.5)

    def test_nan_numeric_group_key_is_one_group(self, spark):
        """Same contract for a DOUBLE group column whose null arrives as
        NaN in pandas."""
        import numpy as np

        from sdg_big_data_spark.operators.grouped import ewma

        df = spark.createDataFrame(
            [(None, 0, 2.0), (None, 1, 0.0), (5.0, 0, 2.0)],
            "g double, t long, x double",
        )
        got = {
            (None if r["g"] is None else r["g"], r["t"]): r["ewma"]
            for r in ewma(df, ["g"], ["t"], "x", 0.5).collect()
        }
        assert got[(None, 0)] == 2.0
        assert np.isclose(got[(None, 1)], 1.0)  # accumulated, not restarted
        assert got[(5.0, 0)] == 2.0


class TestRollingMedianMad:
    def test_hand_computed(self, spark):
        from sdg_big_data_spark.operators.grouped import rolling_median_mad

        rows = [(1, i, float(v)) for i, v in enumerate([1, 2, 3, 100, 2, 3])]
        df = spark.createDataFrame(rows, ["g", "t", "v"])
        out = {
            r["t"]: r
            for r in rolling_median_mad(
                df, "g", ["t"], "v", window=3, z=3.0
            ).collect()
        }
        # t=0: window [1] -> med 1, mad 0, no anomaly (mad=0 guard)
        assert (out[0]["roll_med"], out[0]["roll_mad"], out[0]["is_anomaly"]) == (
            1.0, 0.0, 0,
        )
        # t=1: [1,2] -> med 1.5, mad 0.5; |2-1.5|=0.5 <= 1.5
        assert (out[1]["roll_med"], out[1]["roll_mad"]) == (1.5, 0.5)
        assert out[1]["is_anomaly"] == 0
        # t=3: [2,3,100] -> med 3, mad 1; |100-3| > 3 -> anomaly
        assert (out[3]["roll_med"], out[3]["roll_mad"], out[3]["is_anomaly"]) == (
            3.0, 1.0, 1,
        )
        # t=4: [3,100,2] -> med 3, mad 1; |2-3| = 1 <= 3 -> calm
        assert out[4]["is_anomaly"] == 0

    def test_constant_series_never_flags(self, spark):
        from sdg_big_data_spark.operators.grouped import rolling_median_mad

        df = spark.createDataFrame(
            [(1, i, 5.0) for i in range(10)], ["g", "t", "v"]
        )
        out = rolling_median_mad(df, "g", ["t"], "v", window=4).collect()
        assert all(r["is_anomaly"] == 0 for r in out)
        assert all(r["roll_mad"] == 0.0 for r in out)

    def test_groups_independent(self, spark):
        from sdg_big_data_spark.operators.grouped import rolling_median_mad

        rows = [(1, 0, 1.0), (1, 1, 1.0), (2, 0, 100.0), (2, 1, 100.0)]
        df = spark.createDataFrame(rows, ["g", "t", "v"])
        out = {(r["g"], r["t"]): r for r in rolling_median_mad(
            df, "g", ["t"], "v", window=2).collect()}
        assert out[(2, 0)]["roll_med"] == 100.0
        assert out[(1, 1)]["roll_med"] == 1.0


class TestHoltLinear:
    def test_hand_computed(self, spark):
        from sdg_big_data_spark.operators.grouped import holt_linear

        df = spark.createDataFrame(
            [(1, 0, 10.0), (1, 1, 12.0), (1, 2, 14.0)], ["g", "t", "v"]
        )
        out = {
            r["t"]: r
            for r in holt_linear(df, ["g"], ["t"], "v", 0.5, 0.5).collect()
        }
        # t0: l=10, b=0
        assert (out[0]["level"], out[0]["trend"]) == (10.0, 0.0)
        # t1: l = .5*12 + .5*(10+0) = 11; b = .5*(11-10) + .5*0 = 0.5
        assert (out[1]["level"], out[1]["trend"]) == (11.0, 0.5)
        # t2: l = .5*14 + .5*(11+.5) = 12.75; b = .5*1.75 + .5*.5 = 1.125
        assert (out[2]["level"], out[2]["trend"]) == (12.75, 1.125)

    def test_python_loop_differential(self, spark):
        import numpy as np
        from sdg_big_data_spark.operators.grouped import holt_linear

        rng = np.random.RandomState(3)
        rows = []
        for g in range(4):
            for t in range(50):
                rows.append((g, t, float(rng.randint(0, 100))))
        df = spark.createDataFrame(rows, ["g", "t", "v"])
        a, b = 0.3, 0.1
        got = {
            (r["g"], r["t"]): (r["level"], r["trend"])
            for r in holt_linear(df, ["g"], ["t"], "v", a, b).collect()
        }
        by_g: dict[int, list[tuple[int, float]]] = {}
        for g, t, v in rows:
            by_g.setdefault(g, []).append((t, v))
        for g, series in by_g.items():
            lv, tr = None, 0.0
            for t, x in sorted(series):
                if lv is None:
                    lv, tr = x, 0.0
                else:
                    new_l = a * x + (1.0 - a) * (lv + tr)
                    tr = b * (new_l - lv) + (1.0 - b) * tr
                    lv = new_l
                assert got[(g, t)] == (lv, tr)  # bit-exact

    def test_tracks_linear_ramp(self, spark):
        from sdg_big_data_spark.operators.grouped import holt_linear

        df = spark.createDataFrame(
            [(1, t, 2.0 * t) for t in range(60)], ["g", "t", "v"]
        )
        last = (
            holt_linear(df, ["g"], ["t"], "v", 0.5, 0.3)
            .orderBy(F.desc("t")).limit(1).collect()[0]
        )
        # on a clean ramp the trend converges to the slope
        assert last["trend"] == pytest.approx(2.0, abs=0.05)
        assert last["level"] == pytest.approx(118.0, abs=1.0)


def test_grouped_prefix_sum_plans_no_python_eval(spark):
    """``grouped_prefix_sum`` stays pure-JVM — its mapInPandas stage
    was removed (no Python boundary where built-ins exist): no
    ArrowEvalPython/MapInPandas/BatchEvalPython node anywhere in the
    executed plan (pin disabled so the full subtree is visible)."""
    from sdg_big_data_spark.operators.windows import grouped_prefix_sum

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), i % 7) for i in range(500)],
        schema="id long, g string, v int",
    )
    out = grouped_prefix_sum(
        df, ["g"], [F.col("id").asc()], "v", cum_col="c", pin_layout=False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, f"Python stage reintroduced: {node}"
    # the scalable shape itself is still range-partitioned
    assert "rangepartitioning" in plan.lower()


def test_grouped_prefix_sum_multi_column_single_pass(spark):
    """The multi-value form still carries both running sums in one pass
    and matches independent single-column passes exactly."""
    from sdg_big_data_spark.operators.windows import grouped_prefix_sum

    df = spark.createDataFrame(
        [(i, i % 2, i % 5, (i * 7) % 11) for i in range(400)],
        schema="id long, g int, a int, b int",
    )
    both = grouped_prefix_sum(
        df, ["g"], [F.col("id").asc()], ["a", "b"], cum_col=["ca", "cb"]
    )
    only_a = grouped_prefix_sum(df, ["g"], [F.col("id").asc()], "a", cum_col="ca")
    only_b = grouped_prefix_sum(df, ["g"], [F.col("id").asc()], "b", cum_col="cb")
    got = {(r["id"], r["ca"], r["cb"]) for r in both.collect()}
    ref_a = {r["id"]: r["ca"] for r in only_a.collect()}
    ref_b = {r["id"]: r["cb"] for r in only_b.collect()}
    assert got == {(i, ref_a[i], ref_b[i]) for i in ref_a}
