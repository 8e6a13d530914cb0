"""Distributed k-means (Lloyd) over embedding columns — the codebook
trainer for the IVF similarity path (operators/similarity.ivf_topk) and
the engine's representative iterative algorithm.

Spark-first shape: the driver controls the (short, fixed) iteration loop;
each iteration is ONE distributed pass —

  assign:    broadcast the k×dim codebook, per-row argmin (a vectorized
             Arrow projection over ONLY the vector column — no exchange,
             no join);
  recompute: posexplode → groupBy (cluster, pos) avg → k×dim rows
             collected to the driver (tiny by definition of k).

At 100 TB the corpus is never shuffled: assignment is a map-side pass,
and the only shuffle carries (cluster, pos, partial-sum) combiner output.
Initialization is deterministic (hash-ordered sample), so runs are
reproducible; exact float centroids still depend on partition-summation
order, as in every distributed k-means.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vec import cross_sq_dists, stack
from .sampling import hash_bucket


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid id (0..k-1) per row, as ONE vectorized Arrow
    projection (the guide §4.2 shape: Spark distributes, numpy computes
    the batch). Map-only is preserved — no exchange, no join; the single
    ``ArrowEvalPython`` node ships ONLY the vector column.

    The k×d codebook rides in the task closure; distances accumulate per
    dimension in index order (``vec.cross_sq_dists``), bit-identical
    to the interpreted ``zip_with``/``aggregate`` fold this replaces, and
    ``np.argmin`` returns the FIRST minimum = lowest cell id on ties —
    the same tie-break as ``array_position(arr, array_min(arr))``.
    Null vectors yield null cluster ids, as before.

    Why not expressions: the fold is an interpreted higher-order chain
    (k aggregate folds × d steps per row, no effective codegen) measured
    at 734 s of JVM CPU for the 100x fixture's k=223 semantic-dedup
    assign; flattening it into literal codegen arithmetic makes the
    generated method exceed JIT limits and run as interpreted bytecode
    (measured 6x SLOWER than the fold). This numpy path measured
    8.6 s → 0.56 s per assign pass at 10x (k=23) and 38.8 s → 2.7 s at
    100x (k=223), with 0/200k assignment differences vs the fold."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def _nearest(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            V, pos = stack(s)
            ids = np.zeros(len(s), dtype=np.int32)
            ids[pos] = np.argmin(cross_sq_dists(V, C), axis=1)
            null = np.ones(len(s), dtype=bool)
            null[pos] = False
            yield pd.Series(pd.arrays.IntegerArray(ids, null))

    return df.withColumn("cluster_id", _nearest(F.col(vec_col)))


def kmeans(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
    round_dp: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means. Returns (assignments frame with ``cluster_id``,
    final centroids). Deterministic init: the k rows with the smallest
    key hash (stable across partitionings/reruns — SURVEY §7.5.5).

    ``round_dp`` pins the float trajectory for exact cross-engine
    replay (the pagerank/EWMA discipline): each UPDATED centroid
    component is rounded to ``floor(v·10^dp + 0.5)/10^dp`` — the same
    formula a SQL oracle can state verbatim, so per-iteration
    summation-order differences between engines cannot compound across
    iterations. Initial centroids stay unrounded (float32→double is
    exact in both engines), as do carried-over centroids of emptied
    clusters."""
    init_rows = (
        df.select(id_col, vec_col)
        .orderBy(hash_bucket(F.col(id_col)), F.col(id_col))
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    for _ in range(max_iter):
        assigned = assign_clusters(df, centroids, vec_col)
        new_rows = (
            assigned.select(
                "cluster_id", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("v"))
            .collect()
        )
        new_cents = [list(c) for c in centroids]
        acc: dict[int, dict[int, float]] = {}
        for r in new_rows:
            acc.setdefault(r["cluster_id"], {})[r["pos"]] = r["v"]
        for cid, comps in acc.items():
            vals = [comps[p] for p in sorted(comps)]
            if round_dp is not None:
                m = 10.0 ** round_dp
                # floor(v*10^dp + 0.5)/10^dp — NOT Python round() (it is
                # half-even) — so the oracle can replay it verbatim
                vals = [math.floor(v * m + 0.5) / m for v in vals]
            new_cents[cid] = vals
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new)) ** 0.5
            for old, new in zip(centroids, new_cents)
        )
        centroids = new_cents
        if shift < tol:
            break

    return assign_clusters(df, centroids, vec_col), centroids
