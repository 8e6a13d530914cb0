"""Connected-components unit tests: hand-checkable topologies + a
randomized differential against a Python union-find."""

from __future__ import annotations

import numpy as np

from sdg_big_data_spark.operators.graph import connected_components


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, schema="id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_chain_collapses_transitively(spark):
    # a-b, b-c, c-d: one component labeled by the min id — the case the
    # greedy pair-drop resolution gets wrong
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components(spark):
    got = _cc(spark, [(10, 20), (30, 40), (40, 50), (7, 8)])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30, 7: 7, 8: 7}


def test_star_and_cycle(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3), (2, 3), (3, 1)])
    assert set(got.values()) == {1}


def test_matches_union_find_on_random_graph(spark):
    rng = np.random.default_rng(6)
    n = 400
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, (300, 2))
        if a != b
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id per component for every node that appears in edges
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    roots: dict[int, int] = {}
    for v in sorted(nodes):
        roots.setdefault(find(v), v)  # min id reaches each root first
    want = {v: roots[find(v)] for v in nodes}
    got = _cc(spark, pairs)
    assert got == want


def test_near_dup_components_strategy_keeps_one_per_cluster(spark, sf_dir):
    from pyspark.sql import functions as F

    from sdg_big_data_spark.cachescope import cache_scope
    from sdg_big_data_spark.pipelines.dataprep import near_dup_removal
    from sdg_big_data_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").limit(300)
    with cache_scope(blocking=True):
        greedy = {r["doc_id"] for r in near_dup_removal(docs).select("doc_id").collect()}
        comp = {
            r["doc_id"]
            for r in near_dup_removal(docs, strategy="components")
            .select("doc_id")
            .collect()
        }
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    # both keep canonical minima; components may RETAIN chain-endpoints
    # greedy over-drops, never the reverse
    assert comp >= greedy
    assert comp <= all_ids


class TestPageRank:
    def _ranks(self, spark, edges, **kw):
        from sdg_big_data_spark.operators.graph import pagerank

        df = spark.createDataFrame(edges, "src string, dst string")
        return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}

    def test_hand_computed_two_node_cycle(self, spark):
        # a <-> b: symmetric, stationary at 0.5 each from the uniform
        # start — every iteration must hold it there exactly
        got = self._ranks(spark, [("a", "b"), ("b", "a")], n_iter=4)
        assert got == {"a": 0.5, "b": 0.5}

    def test_hub_ranks_highest(self, spark):
        # symmetric star: leaves exchange mass with the hub only; the hub
        # collects 3 full ranks per step and dominates (the one-out-edge
        # form h->x oscillates period-2 and needs ~50 iters to settle)
        got = self._ranks(
            spark,
            [("x", "h"), ("y", "h"), ("z", "h"),
             ("h", "x"), ("h", "y"), ("h", "z")],
            n_iter=10,
        )
        assert got["h"] == max(got.values())
        assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved

    def test_dangling_node_donates_uniformly(self, spark):
        # a -> b, b dangling: without redistribution mass leaks; with it,
        # total stays 1 and numpy replay matches exactly
        import numpy as np

        got = self._ranks(spark, [("a", "b")], n_iter=3, round_dp=12)
        d, n = 0.85, 2
        r = np.array([0.5, 0.5])  # [a, b]
        for _ in range(3):
            m = r[1]  # b has no out-edges
            contrib = np.array([0.0, r[0]])  # a -> b
            r = np.round((1 - d) / n + d * (contrib + m / n), 12)
        assert abs(got["a"] - r[0]) < 1e-12 and abs(got["b"] - r[1]) < 1e-12

    def test_partition_count_invariance(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        df = spark.createDataFrame(edges, "src string, dst string")
        from sdg_big_data_spark.operators.graph import pagerank

        r1 = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
        r2 = {
            r["node"]: r["rank"]
            for r in pagerank(df.repartition(7), n_iter=3).collect()
        }
        assert r1 == r2

    def test_shuffle_path_matches_broadcast_path(self, spark):
        # broadcast_nodes_max=0 forces the billion-node shuffle-join plan;
        # ranks must be bit-identical to the broadcast fast path (both
        # with and without dangling nodes)
        from sdg_big_data_spark.operators.graph import pagerank

        for edges in (
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
            [("a", "b"), ("b", "c")],  # c dangling
        ):
            df = spark.createDataFrame(edges, "src string, dst string")
            fast = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
            slow = {
                r["node"]: r["rank"]
                for r in pagerank(df, n_iter=3, broadcast_nodes_max=0).collect()
            }
            assert fast == slow

    def test_assume_distinct_matches_dedup(self, spark):
        from sdg_big_data_spark.operators.graph import pagerank

        dup = [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("b", "c")]
        uniq = [("a", "b"), ("b", "a"), ("b", "c")]
        d1 = spark.createDataFrame(dup, "src string, dst string")
        d2 = spark.createDataFrame(uniq, "src string, dst string")
        r1 = {r["node"]: r["rank"] for r in pagerank(d1, n_iter=3).collect()}
        r2 = {
            r["node"]: r["rank"]
            for r in pagerank(d2, n_iter=3, assume_distinct=True).collect()
        }
        assert r1 == r2

    def test_fast_path_flags_match_general_path(self, spark):
        """assume_no_dangling (node universe = degree frame) and
        assume_no_sinks (no per-iteration nodes left-join) are pure
        physical-plan shortcuts: on a symmetrized graph — where both
        preconditions hold by construction — ranks must be bit-identical
        to the general path's, on both the broadcast and shuffle plans."""
        from sdg_big_data_spark.operators.graph import pagerank

        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")]
        sym = sorted({(u, v) for u, v in pairs} | {(v, u) for u, v in pairs})
        df = spark.createDataFrame(sym, "src string, dst string")
        general = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
        for bmax in (2_000_000, 0):
            fast = {
                r["node"]: r["rank"]
                for r in pagerank(
                    df,
                    n_iter=3,
                    assume_distinct=True,
                    assume_no_dangling=True,
                    assume_no_sinks=True,
                    broadcast_nodes_max=bmax,
                ).collect()
            }
            assert fast == general, f"broadcast_nodes_max={bmax}"


class TestTriangleCounts:
    def test_k4_and_normalization(self, spark):
        from sdg_big_data_spark.operators.graph import triangle_counts

        # K4 on {1,2,3,4}: C(4,3)=4 triangles, every node in exactly 3.
        # Noise: self-loop, duplicate edge, reversed duplicate, and a
        # pendant node 5 (in no triangle -> absent from output).
        edges = [(1,2),(1,3),(1,4),(2,3),(2,4),(3,4),
                 (2,1),(3,3),(1,2),(4,5)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_differential_vs_naive(self, spark):
        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators.graph import triangle_counts

        # seeded random graph on 20 nodes, dense enough to contain many
        # triangles (Python's Mersenne Twister is stable across runs)
        import random

        rng = random.Random(7)
        rows = [(rng.randrange(20), rng.randrange(20)) for _ in range(120)]
        df = spark.createDataFrame(rows, "src long, dst long")
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df).collect()}

        e = {(min(a, b), max(a, b)) for a, b in rows if a != b}
        naive = {}
        es = sorted({x for p in e for x in p})
        for a in es:
            for b in es:
                for c in es:
                    if a < b < c and (a, b) in e and (b, c) in e and (a, c) in e:
                        for n in (a, b, c):
                            naive[n] = naive.get(n, 0) + 1
        assert got == naive and naive  # non-vacuous

def test_dangling_lazy_plan_does_not_blow_up(spark):
    """ADVICE r4: with dangling nodes each iteration references the prior
    ranks frame twice (mass aggregate + contribution join); under the
    lazy n_iter<=4 default the un-materialized subtree used to double
    per iteration (~2^n recompute). The loop now re-materializes a lazy
    ranks frame at the top of every dangling-graph iteration — the final
    plan must therefore reference the initial uniform-rank projection a
    bounded number of times, not 2^(n-1)."""
    from sdg_big_data_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"  # c dangling
    )
    out = pagerank(df, n_iter=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the uniform initial rank literal (1/n_nodes = 1/3) appears wherever
    # iteration-0's projection is inlined; lazily-doubled plans inline it
    # 2^(n-1) = 8 times, the materialized loop at most twice (the final
    # iteration's two consumers read a checkpoint, not the projection)
    hits = plan.count("0.3333333333333333")
    assert hits <= 2, f"iteration-0 subtree inlined {hits}x — lazy blow-up"
    # values unchanged by the materialization (numpy replay, as above)
    import numpy as np

    got = {r["node"]: r["rank"] for r in out.collect()}
    d, n = 0.85, 3
    r = np.array([1 / 3, 1 / 3, 1 / 3])  # [a, b, c]
    for _ in range(4):
        m = r[2]
        contrib = np.array([0.0, r[0], r[1]])
        r = np.round((1 - d) / n + d * (contrib + m / n), 9)
    for node, i in (("a", 0), ("b", 1), ("c", 2)):
        assert abs(got[node] - r[i]) < 1e-9


class TestBfsHops:
    def _edges(self, spark, pairs):
        sym = pairs + [(b, a) for a, b in pairs]
        return spark.createDataFrame(sym, ["src", "dst"])

    def test_hand_computed_hops(self, spark):
        from sdg_big_data_spark.operators.graph import bfs_hops

        # path 1-2-3-4-5 plus isolated-from-seed pair (8,9)
        e = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)])
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, max_hops=3).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}

    def test_multi_source_takes_min(self, spark):
        from sdg_big_data_spark.operators.graph import bfs_hops

        e = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        seeds = spark.createDataFrame([(1,), (5,)], ["node"])
        got = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, max_hops=4).collect()}
        assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}

    def test_early_stop_on_exhausted_frontier(self, spark):
        from sdg_big_data_spark.operators.graph import bfs_hops

        e = self._edges(spark, [(1, 2)])
        seeds = spark.createDataFrame([(1,)], ["node"])
        # frontier empties at hop 2; max_hops=10 must not loop 10 times
        got = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, max_hops=10).collect()}
        assert got == {1: 0, 2: 1}

    def test_cycle_does_not_blow_up(self, spark):
        from sdg_big_data_spark.operators.graph import bfs_hops

        e = self._edges(spark, [(1, 2), (2, 3), (3, 1)])
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {r["node"]: r["hop"] for r in bfs_hops(e, seeds, max_hops=5).collect()}
        assert got == {1: 0, 2: 1, 3: 1}


class TestKCore:
    def _sym(self, spark, pairs):
        return spark.createDataFrame(pairs, ["src", "dst"])

    def test_hand_computed_2core(self, spark):
        from sdg_big_data_spark.operators.graph import k_core

        # triangle (1,2,3) with pendant 4 and a 2-path 5-6
        e = self._sym(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)])
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(e, k=2).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}

    def test_cascading_peel(self, spark):
        from sdg_big_data_spark.operators.graph import k_core

        # chain hung off a triangle: peeling 6 drops 5, then 4 — multiple
        # rounds needed; the triangle alone survives
        e = self._sym(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)])
        got = {r["node"]: r["core_degree"] for r in k_core(e, k=2).collect()}
        assert set(got) == {1, 2, 3}

    def test_empty_core(self, spark):
        from sdg_big_data_spark.operators.graph import k_core

        e = self._sym(spark, [(1, 2), (2, 3)])
        assert k_core(e, k=3).count() == 0

    def test_whole_graph_is_core(self, spark):
        from sdg_big_data_spark.operators.graph import k_core

        # K4: every node has degree 3
        pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(self._sym(spark, pairs), k=3).collect()
        }
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}


class TestPageRankScalePlan:
    def test_above_threshold_plan_avoids_edge_sorts(self, spark):
        # the above-threshold loop must never sort-merge-join (sorting
        # something edge-sized every iteration was the measured 33x
        # degradation at the 2.1M-node fixture): hash joins built on the
        # node-sized side, edge frame scanned from its one persisted
        # hash-partitioned copy
        from sdg_big_data_spark.operators.graph import pagerank

        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "b")]
        df = spark.createDataFrame(edges, "src string, dst string")
        out = pagerank(df, n_iter=3, broadcast_nodes_max=0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "InMemoryTableScan" in plan  # the pre-partitioned edge copy
        # correctness of the exact same frame (not just its plan)
        total = sum(r["rank"] for r in out.collect())
        assert abs(total - 1.0) < 1e-6


def test_graph_degree_joins_broadcast_below_gate(spark):
    """Below the edge-count gate, triangle_counts and
    common_neighbor_similarity must plan ZERO SortMergeJoins — the
    |nodes|-sized degree/is-edge frames broadcast, so the edge frame
    (triangles) and the wedge-pair frame (common neighbors) are never
    exchanged for them (cached frames carry no size stats, so without
    the hint the planner exchanges and sorts the BIG side). Above the gate (threshold 0) the same code must
    fall back to shuffle joins without error."""
    from sdg_big_data_spark.operators.graph import (
        common_neighbor_similarity,
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 40) for i in range(120)] + [(i, i + 1) for i in range(40)],
        schema="src long, dst long",
    )

    tri = triangle_counts(edges, "src", "dst")
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    cn = common_neighbor_similarity(edges, src="src", dst="dst", top_k=5)
    plan = cn._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan

    # above-gate fallback stays correct (same rows, any join strategy)
    small = {tuple(r) for r in tri.collect()}
    big = {
        tuple(r)
        for r in triangle_counts(edges, "src", "dst", broadcast_edges_max=0).collect()
    }
    assert small == big
