"""k-means: planted clusters recovered, deterministic across reruns."""

from __future__ import annotations

import os

import numpy as np
import pytest


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(11)
    centers = np.array([[5.0] * 8, [-5.0] * 8, [5.0] * 4 + [-5.0] * 4])
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, true_c int"
    )


def test_kmeans_recovers_planted_clusters(planted):
    from sdg_big_data_spark.operators.clustering import kmeans

    assigned, cents = kmeans(planted, k=3, max_iter=15)
    rows = assigned.select("true_c", "cluster_id").collect()
    # purity: every true cluster maps to exactly one kmeans cluster
    mapping = {}
    impure = 0
    for r in rows:
        got = mapping.setdefault(r["true_c"], r["cluster_id"])
        if got != r["cluster_id"]:
            impure += 1
    assert impure == 0
    assert len(set(mapping.values())) == 3
    # centroids land near the planted centers
    import numpy as np

    centers = {tuple(np.sign(c).astype(int)) for c in cents}
    assert (1,) * 8 in centers and (-1,) * 8 in centers


def test_kmeans_deterministic(planted):
    from sdg_big_data_spark.operators.clustering import kmeans

    _, c1 = kmeans(planted, k=3, max_iter=5)
    _, c2 = kmeans(planted.repartition(7), k=3, max_iter=5)
    # same init rows regardless of partitioning; centroids agree to float
    # tolerance (summation order may differ)
    for a, b in zip(c1, c2):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9


def test_kmeans_round_dp_pins_trajectory(planted):
    """round_dp must make centroids EXACTLY reproducible across
    partitionings (not merely float-tolerant): every updated component is
    floor(avg*10^dp + 0.5)/10^dp, so summation-order noise below the
    rounding grain cannot leak into the next iteration."""
    from sdg_big_data_spark.operators.clustering import kmeans

    _, c1 = kmeans(planted, k=3, max_iter=4, tol=0.0, round_dp=6)
    _, c2 = kmeans(planted.repartition(13), k=3, max_iter=4, tol=0.0, round_dp=6)
    assert c1 == c2  # bitwise, not approx
    for cent in c1:
        for v in cent:
            assert v == int(v * 1e6 + (0.5 if v >= 0 else -0.5)) / 1e6 or abs(
                v * 1e6 - round(v * 1e6)
            ) < 1e-6  # every component sits on the 1e-6 grid


def test_kmeans_assignment_is_map_only(planted):
    """The per-iteration assignment must stay a narrow map-only pass:
    the centroid codebook rides in the task closure, so the plan has NO
    Exchange and no Join (a shuffle here would be per-iteration corpus
    movement at 100 TB). The one allowed Python node is the vectorized
    ArrowEvalPython argmin (r10: the interpreted k×d expression fold was
    734 s of JVM CPU at the 100x fixture; the numpy batch argmin is
    bit-identical and ~14x faster) — row-at-a-time BatchEvalPython stays
    banned."""
    from sdg_big_data_spark.operators.clustering import assign_clusters, kmeans

    _, cents = kmeans(planted, k=3, max_iter=2, tol=0.0, round_dp=6)
    plan = (
        assign_clusters(planted, cents, "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for bad in ("Exchange", "Join", "BatchEvalPython"):
        assert bad not in plan, f"assignment plan contains {bad}:\n{plan[:800]}"
    assert plan.count("ArrowEvalPython") == 1, plan[:800]


def test_assign_clusters_matches_expression_fold(spark, sf_dir):
    """Bit-parity gate for the numpy assignment: cluster ids equal the
    interpreted ``zip_with``/``aggregate`` squared-distance fold's
    first-minimum argmin (``array_position(d, array_min(d))``) on every
    sf0.01 embedding, a duplicated centroid forces exact ties (lowest
    cell wins), and a null vector keeps a null id."""
    from pyspark.sql import functions as F

    from sdg_big_data_spark.functions.text import let
    from sdg_big_data_spark.operators.clustering import assign_clusters
    from sdg_big_data_spark.operators.similarity import _sq_dist

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    seeds = emb.orderBy("vec_id").limit(6).collect()
    cents = [[float(x) for x in r["embedding"]] for r in seeds]
    cents.insert(3, cents[1])  # cells 1 and 3 tie for every vector
    null_row = spark.createDataFrame(
        [(-1, None)], schema="vec_id long, embedding array<float>"
    )
    df = emb.unionByName(null_row)

    dists = F.array(*[_sq_dist(F.col("embedding"), F.lit(c)) for c in cents])
    ref = let(dists, lambda d: F.array_position(d, F.array_min(d)) - 1)
    both = assign_clusters(df, cents).select(
        "vec_id", "cluster_id", ref.cast("int").alias("ref_id")
    )
    rows = both.collect()
    assert len(rows) == emb.count() + 1
    bad = [r for r in rows if r["cluster_id"] != r["ref_id"]]
    assert not bad, bad[:5]
    assert {r["vec_id"]: r["cluster_id"] for r in rows}[-1] is None
    ids = {r["cluster_id"] for r in rows}
    assert 1 in ids and 3 not in ids  # every 1-vs-3 tie went to cell 1
