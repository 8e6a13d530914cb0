"""Iterative graph operators — connected components over pair edges.

Why it exists: near-duplicate detection emits PAIRS (LSH candidates that
pass verify), but retention policy needs CLUSTERS — "keep one document
per group of mutual near-dups". The greedy drop-larger-id-of-each-pair
resolution (pipelines/dataprep.py) is one aggregation but not
transitive: in a chain a–b, b–c (a≁c) it keeps {a} where cluster
semantics keep {a, c}'s canonical... a true component labeling is the
correct operator, and the standard Spark formulation is an iterative
DataFrame loop (min-label propagation; Kiveris et al.'s star algorithms
are the constant-factor-tuned variant of the same fixpoint).

Scale notes: each iteration is one equi-join + one min-aggregation —
shuffle on node id; iterations ≈ graph diameter (near-dup clusters are
shallow — a handful). ``localCheckpoint`` every iteration truncates the
lineage so the plan doesn't grow exponentially (the classic iterative-
DataFrame trap); the convergence probe piggybacks on the aggregation
(max label change), one action per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cachescope import (
    checkpoint_with_ids,
    new_persistent_ids,
    register_checkpoint_ids,
    scoped_cache,
    unpersist_ids,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """Label every node with the MINIMUM node id reachable from it
    (= its component id). Returns (node, component).

    Deterministic: min-label fixpoint has a unique solution regardless of
    join order or partitioning. Physical strategy mirrors
    :func:`pagerank`: when the node set is ≤ ``broadcast_nodes_max`` the
    label frame is explicitly broadcast into each iteration's join —
    checkpointed inputs carry no size stats, so without the hint the
    planner sort-merge-joins (re-shuffles) the edge frame every round;
    above the threshold the same loop runs as shuffle joins on node id.

    Driver-memory interaction: every iteration re-broadcasts a fresh
    |nodes|-sized frame, and superseded broadcasts are only reclaimed
    by GC — with an 8 GB driver, ~25 iterations of multi-hundred-MB
    broadcasts can transiently exceed headroom between GC ticks. The
    2M-row default budgets ≈ 2M × (8 B key + 8 B value + ~2x JVM object
    overhead) ≈ 64 MB per broadcast — comfortably inside default
    driver/executor memory even with several un-collected generations
    in flight. Raise it only for wide-memory drivers; for STRING node
    ids (≈ 40-80 B/row vs 8) divide your budget accordingly — or
    pre-encode ids to longs as ``g_pagerank`` does.
    """
    spark = edges.sparkSession
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym, sym_ids = checkpoint_with_ids(sym.distinct())

    labels, label_ids = checkpoint_with_ids(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    small = labels.count() <= broadcast_nodes_max
    hint = F.broadcast if small else (lambda df: df)
    for _ in range(max_iter):
        # each node proposes its label to every neighbor; keep the min of
        # (own label, best neighbor proposal). The node's own row is
        # tagged so the PREVIOUS label rides through the same aggregation
        # — the convergence probe is then a narrow filter-count over the
        # checkpoint blocks instead of a second (new x old) join job.
        proposals = sym.join(
            hint(labels.withColumnRenamed("node", "u")), "u"
        ).select(F.col("v").alias("node"), "component", F.lit(0).alias("__own"))
        own = labels.select("node", "component", F.lit(1).alias("__own"))
        # LAZY checkpoint materialized by the convergence count below —
        # one job per iteration, not checkpoint-job + count-job (the
        # count's scan over fresh checkpoint blocks is what forces the
        # materialization; ids are collected after it so unpersist
        # tracking still sees the blocks)
        with new_persistent_ids(spark) as new_ids:
            new_labels = (
                proposals.unionByName(own)
                .groupBy("node")
                .agg(
                    F.min("component").alias("component"),
                    F.max(F.when(F.col("__own") == 1, F.col("component"))).alias(
                        "__old"
                    ),
                )
                .localCheckpoint(eager=False)
            )
            # min-label propagation only ever lowers labels, so "changed" is
            # exactly "new < old"
            changed = new_labels.where(F.col("component") < F.col("__old")).count()
        unpersist_ids(spark, label_ids)  # superseded iteration state
        labels, label_ids = new_labels.drop("__old"), new_ids
        if changed == 0:
            break
    unpersist_ids(spark, sym_ids)
    # the final labels checkpoint must outlive this function (the caller
    # consumes it); register so release_caches()/cache_scope sweeps it
    register_checkpoint_ids(spark, label_ids)
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    round_dp: int = 10,
    assume_distinct: bool = False,
    assume_no_dangling: bool = False,
    assume_no_sinks: bool = False,
    broadcast_nodes_max: int = 4_000_000,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list → (node, rank).

    The iterative-DataFrame formulation (the same loop shape as
    :func:`connected_components`). Out-degrees live on the RANK side,
    not the edge side: the edge list is checkpointed RAW (two longs per
    row — never a weighted 1.5x copy of the biggest frame in the job),
    and each iteration joins the |nodes|-sized degree frame into the
    |nodes|-sized rank frame BEFORE the edge join, so the per-edge
    contribution is ``rank / out_degree`` (the exact arithmetic the
    oracle replays). Each iteration is then

    - one node-sized (rank x degree) join — inside the broadcast build
      when |nodes| is small, a node-sized shuffle otherwise,
    - one (edge -> rank) equi-join producing ``rank / od`` contributions,
    - one groupBy(dst) sum (map-side combined),
    - a 1-row broadcast of the dangling-node mass (nodes without
      out-edges donate their rank uniformly — the standard
      stochastic-matrix fix, so total rank stays 1). The dangling node
      SET is static, so it is computed once before the loop — and when
      it is empty (every node has out-edges, e.g. symmetrized graphs)
      the per-iteration mass aggregation is skipped entirely.

    Fixed ``n_iter`` (no convergence probe) keeps the computation a
    finite deterministic DAG — the DuckDB oracle replays it as
    ``n_iter`` unrolled CTEs (same pattern as the BPE trainer's exact
    oracle). Per-iteration ranks are rounded to ``round_dp`` decimals IN
    BOTH ENGINES, pinning the float trajectory so summation-order
    differences can't drift across iterations.

    Physical strategy: the rank frame is |nodes|-sized — orders of
    magnitude smaller than |edges| on real graphs. When |nodes| ≤
    ``broadcast_nodes_max`` the rank side of the per-iteration join is
    explicitly broadcast, so the EDGE frame never re-shuffles: each
    iteration is a map-side join over the stationary edge partitions
    plus one |nodes|-group aggregate. (The explicit hint matters
    because checkpointed inputs carry no size stats — without it the
    planner sort-merge-joins the edge frame every round.) Above the
    threshold the edge frame is hash-repartitioned on ``src`` ONCE and
    persisted: ``InMemoryTableScan`` reports the cached plan's output
    partitioning (a ``localCheckpoint`` does NOT — probed: the scan of
    a pre-partitioned checkpoint gets an ``ENSURE_REQUIREMENTS``
    exchange re-added), so every iteration's edge join satisfies its
    distribution requirement with ZERO edge-side exchange and only the
    |nodes|-sized rank frame shuffles to match. Joins carry a
    ``shuffle_hash`` hint above the threshold: the default
    prefer-sort-merge planner would otherwise SORT the |edges| frame
    every round, which is exactly the degradation measured at the 2.1M-
    node / 118M-edge fixture (4.8 s @10x → 157 s @100x when the node
    count first crossed the old 2M threshold — 33x wall for 10x data;
    re-measured at ~linear after this fix). Skewed in-degree (a hub
    page) is split by AQE. ``broadcast_nodes_max`` is a ROW threshold —
    estimate ~40 bytes/row for long ids (more for wide string ids)
    against free driver memory before raising it further: each
    iteration re-broadcasts a fresh |nodes|-sized frame (the 4M default
    is ~160 MB per broadcast — sized for multi-GB drivers; reclamation
    between iterations rides the periodic GC tick). ``assume_distinct=True`` skips the edge-dedup
    shuffle when the caller already guarantees unique (src, dst) pairs.
    ``assume_no_dangling=True`` skips the dangling-set anti-join AND its
    materialization + probe when the caller guarantees every node has an
    out-edge (true by construction for symmetrized graphs: every node
    appears as a src) — it also collapses the node universe to the
    degree frame itself (dst values are a subset of src values), so the
    separate union+distinct nodes job disappears. ``assume_no_sinks=True``
    (every node has an IN-edge — also true for symmetrized graphs)
    additionally drops the per-iteration nodes left-join: the
    contribution aggregate already emits every node, so the step
    formula applies directly to it.

    ``checkpoint_every`` sets the lineage-truncation cadence
    (iterative-plan blow-up guard). Default (None) = auto: for
    ``n_iter`` ≤ 4 the loop stays LAZY — all iterations fuse into the
    single job that consumes the result (each iteration's plan
    references the previous exactly once, so there is no recompute
    blow-up, just linear plan depth; measured 4.1→~2 s at sf0.1 from
    dropping the per-iteration materializations) — while longer runs
    checkpoint every 2 iterations. Explicit N = materialize every N
    iterations. EXCEPTION: when the graph has dangling nodes, each
    iteration references the prior ranks frame TWICE (the dangling-mass
    aggregate and the contribution join), so a lazy prior frame would
    double the un-materialized subtree per iteration (2^n recompute) —
    the loop therefore re-materializes a lazy ranks frame at the top of
    every dangling-graph iteration, overriding the cadence.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    # ONE materialization of the RAW edge set (two longs per row — the
    # former weighted-edge checkpoint carried a double per edge and paid
    # an edge-sized join before the loop; degrees now join into the
    # node-sized rank frame each iteration instead, which is strictly
    # cheaper at scale: |nodes| << |edges| work per iteration vs a 1.5x
    # copy of the biggest frame in the job)
    ec, ec_ids = checkpoint_with_ids(e)
    # |nodes|-sized static degree frame, derived from the checkpoint
    # blocks (map-side-combined aggregate — one narrow shuffle)
    deg, deg_ids = checkpoint_with_ids(
        ec.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    )
    if assume_no_dangling:
        # every node has an out-edge => dst ⊆ src => the degree frame IS
        # the node universe; no union+distinct job at all
        nodes = deg.select(F.col("src").alias("node"))
        node_ids: set[int] = set()
        n_nodes = deg.count()
        dang, dang_ids = None, set()
        has_dangling = False
    else:
        nodes, node_ids = checkpoint_with_ids(
            ec.select(F.col("src").alias("node"))
            .unionByName(ec.select(F.col("dst").alias("node")))
            .distinct()
        )
        n_nodes = nodes.count()
        # the dangling-node SET is static; only its mass changes per round
        dang, dang_ids = checkpoint_with_ids(
            nodes.join(
                deg.select("src"),
                nodes["node"] == F.col("src"),
                "left_anti",
            )
        )
        has_dangling = dang.limit(1).count() > 0
    small = n_nodes <= broadcast_nodes_max
    if small:
        hint = F.broadcast
    else:
        # above-threshold: hash joins built on the node-sized side (no
        # per-iteration sort of anything edge-sized), and the edge frame
        # pre-partitioned on the join key ONCE — the persisted scan
        # advertises its partitioning, so iterations re-use the single
        # edge exchange instead of paying it every round
        def hint(df: DataFrame) -> DataFrame:
            return df.hint("shuffle_hash")

        try:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            # platforms with auto-optimized shuffle report a non-numeric
            # value (e.g. "auto") — fall back to the cluster's default
            # parallelism rather than crashing before any work runs
            n_part = spark.sparkContext.defaultParallelism
        ec = scoped_cache(ec.repartition(n_part, "src"))
    if checkpoint_every is None:
        checkpoint_every = n_iter + 1 if n_iter <= 4 else 2
    ranks = nodes.select(
        "node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("rank")
    )
    rank_ids: set[int] = set()
    rank_is_lazy = False  # iteration 0's frame is a projection over the
    # checkpointed nodes blocks — evaluating it twice is two cheap scans
    base = (1.0 - damping) / float(n_nodes)
    for _i in range(n_iter):
        if has_dangling and rank_is_lazy:
            # a dangling graph references the prior ranks frame TWICE per
            # iteration (the mass aggregate below + the rw join) — left
            # lazy, each iteration would DOUBLE the un-materialized
            # subtree (2^n recompute, ADVICE r4), so materialize before
            # the first of the two consumers regardless of the cadence
            new_ranks, new_ids = checkpoint_with_ids(ranks)
            unpersist_ids(spark, rank_ids)
            ranks, rank_ids = new_ranks, new_ids
            rank_is_lazy = False
        if has_dangling:
            dangling = ranks.join(hint(dang), "node").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__m")
            )
        else:
            dangling = None
        # degrees fold into the NODE-sized rank frame (map-side when
        # small — the join runs inside the broadcast build), so the
        # per-edge term is rank / out_degree: the oracle's arithmetic
        # verbatim, with no weighted edge copy anywhere
        rw = (
            ranks.withColumnRenamed("node", "src")
            .join(hint(deg), "src")
            .select("src", (F.col("rank") / F.col("__od")).alias("__rw"))
        )
        contribs = (
            ec.join(hint(rw), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("__rw")).alias("__c"))
            .withColumnRenamed("dst", "node")
        )
        if assume_no_sinks and not has_dangling:
            # every node receives contributions => contribs IS the node
            # universe; apply the step formula directly (no left join, no
            # coalesce, no dangling term)
            stepped = contribs.select(
                "node",
                F.round(F.lit(base) + damping * F.col("__c"), round_dp).alias(
                    "rank"
                ),
            )
        else:
            dmass = (
                dangling
                if dangling is not None
                else spark.range(1).select(F.lit(0.0).alias("__m"))
            )
            stepped = (
                nodes.join(hint(contribs), "node", "left")
                .crossJoin(F.broadcast(dmass))
                .select(
                    "node",
                    F.round(
                        F.lit(base)
                        + damping
                        * (
                            F.coalesce(F.col("__c"), F.lit(0.0))
                            + F.col("__m") / F.lit(float(n_nodes))
                        ),
                        round_dp,
                    ).alias("rank"),
                )
            )
        if (_i + 1) % checkpoint_every == 0 and _i + 1 < n_iter:
            new_ranks, new_ids = checkpoint_with_ids(stepped)
            unpersist_ids(spark, rank_ids)  # superseded iteration state
            ranks, rank_ids = new_ranks, new_ids
            rank_is_lazy = False
        else:
            # lazy step: the next iteration (or the consuming action)
            # extends this plan; any prior checkpoint stays persisted
            # because the plan still reads from its blocks. Safe ONLY
            # because each iteration consumes the previous ranks once —
            # the dangling double-reference case re-materializes at the
            # top of the next iteration.
            ranks = stepped
            rank_is_lazy = True
    # the final frame is lazy (the last iteration never checkpoints) —
    # its plan still reads the edge/degree/nodes (and possibly a mid-loop
    # rank) checkpoint blocks; keep them alive for the consuming action,
    # swept later by release_caches()
    register_checkpoint_ids(spark, node_ids)
    register_checkpoint_ids(spark, ec_ids)
    register_checkpoint_ids(spark, deg_ids)
    register_checkpoint_ids(spark, dang_ids)
    register_checkpoint_ids(spark, rank_ids)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    broadcast_edges_max: int = 5_000_000,
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph
    (self-loops and duplicate/reverse edges are normalized away).
    Returns (node, n_triangles) for every node in >=1 triangle.

    The scalable shape is degree orientation (the classic
    "compact-forward" / MapReduce triangle-enumeration trick, Suri &
    Vassilvitskii WWW 2011): orient every edge from its lower-(degree,
    id) endpoint to its higher one, then a triangle a→b, a→c, b→c is
    enumerated EXACTLY once, and the wedge join's fan-out per node is
    its OUT-degree under this orientation — O(sqrt(m)) for any graph,
    versus unbounded hub fan-out under naive id ordering (a low-id
    celebrity node with a million neighbors would otherwise build
    10^12 wedges). Shuffles: degree aggregate, wedge self-join on the
    low endpoint, closing-edge equi-join.

    The WEDGE set (Σ out-deg²) is the big intermediate — orders of
    magnitude larger than the edge set. When the edge set fits a
    broadcast (``broadcast_edges_max`` rows; 5M ≈ ~100 MB of long
    pairs), the closing-edge join is broadcast-hinted so wedges STREAM
    through the probe inside one stage instead of being shuffled
    (measured 13.5 s → 8.7 s warm on a 1.2M-edge / 72M-wedge graph at
    sf0.1; the remainder is the wedge enumeration itself). Above the
    threshold it falls back to a shuffle join — the only plan at
    web-graph scale, where the wedge shuffle is the known cost of exact
    triangle enumeration.
    """
    u, v = F.col(src), F.col(dst)
    e_und = (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e_und = scoped_cache(e_und)  # feeds degrees + the oriented edge build
    deg = (
        e_und.select(F.col("u").alias("node"))
        .unionByName(e_und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # the broadcast gate is shared by the degree joins and the closing
    # join: counting the cache here ALSO materializes it before its
    # first consumer, so the decision costs no extra pass
    small = e_und.count() <= broadcast_edges_max
    hint = F.broadcast if small else (lambda d: d)
    # orient low -> high under the (deg, id) total order. The degree
    # frames are |nodes|-sized (≤ 2|edges|) — broadcast them below the
    # gate so the edge frame is never exchanged for the orientation
    # (cached frames carry no useful size estimate, so the planner
    # would otherwise sort-merge-join: 2 exchanges + 4 sorts of the
    # edge frame, guide §3.1)
    with_deg = e_und.join(hint(du), "u").join(hint(dv), "v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = scoped_cache(
        with_deg.select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lo_first, F.col("du")).otherwise(F.col("dv")).alias("da"),
            F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    # wedges from a: out-neighbor pairs (b, c) with order(b) < order(c)
    x = oriented.select("a", F.col("b"), F.col("db"))
    y = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("db").alias("dc")
    )
    wedges = x.join(y, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    if small:
        closing = F.broadcast(closing)
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    # One corner row per triangle endpoint via explode — a 3-way union of
    # `tri` would recompute the wedge join (the dominant cost) three times,
    # since `tri` is deliberately not cached (the wedge set is orders of
    # magnitude larger than the edges and must stream, never persist).
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    broadcast_frontier_max: int = 2_000_000,
) -> DataFrame:
    """Multi-source breadth-first search → (node, hop): the minimum
    number of edges from any seed node, for every node reachable within
    ``max_hops``. Seeds themselves come back with hop 0.

    The Pregel-style frontier loop (same iterative-DataFrame shape as
    :func:`connected_components`): per level, one equi-join expands the
    frontier through the edge list, one ``distinct`` collapses parallel
    paths, and one anti-join against the visited set enforces
    first-visit-wins (which IS minimality for BFS — level k is reached
    before level k+1). State per iteration is one |frontier|-sized
    frame; nothing path-shaped is ever materialized, so dense graphs
    cannot blow up combinatorially the way a naive path-recursive form
    does.

    Physical strategy: the frontier (and the visited set it accumulates
    into) is usually orders of magnitude smaller than the edge list, so
    the expansion join broadcasts the frontier while the PREVIOUS
    level's frontier stayed under ``broadcast_frontier_max`` rows, and
    the visited anti-join broadcasts the visited set while its
    CUMULATIVE row count (which can be ~``max_hops`` times a single
    frontier) stays under the same threshold — the edge frame,
    checkpointed once, never re-shuffles. Past either threshold that
    join degrades to a shuffle join on node id (per-level cost linear
    in the frontier's incident edges; hub-node skew split by AQE). The
    per-level ``count`` that drives early stop doubles as the lazy
    checkpoint's materialization job, exactly like the CC convergence
    probe.

    Deterministic: hop labels are a unique fixpoint of the level order;
    no tie-breaking is involved.
    """
    spark = edges.sparkSession
    e, e_ids = checkpoint_with_ids(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    frontier, f_ids = checkpoint_with_ids(
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
    )
    levels = [frontier]
    level_ids = [f_ids]
    n_frontier = frontier.count()
    n_visited = n_frontier
    visited = frontier.select("node")
    for h in range(1, max_hops + 1):
        if n_frontier == 0:
            break
        hint_f = (
            F.broadcast
            if n_frontier <= broadcast_frontier_max
            else (lambda df: df)
        )
        # The visited set is the UNION of all prior frontiers — up to
        # ~max_hops times the current frontier — so its broadcast is
        # gated on the CUMULATIVE visited count, not the frontier's.
        hint_v = (
            F.broadcast
            if n_visited <= broadcast_frontier_max
            else (lambda df: df)
        )
        with new_persistent_ids(spark) as new_ids:
            nxt = (
                e.join(hint_f(frontier.withColumnRenamed("node", "src")), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(hint_v(visited), "node", "left_anti")
                .withColumn("hop", F.lit(h))
                .localCheckpoint(eager=False)
            )
            n_frontier = nxt.count()
        if n_frontier == 0:
            unpersist_ids(spark, new_ids)
            break
        levels.append(nxt)
        level_ids.append(new_ids)
        frontier = nxt
        visited = visited.unionByName(nxt.select("node"))
        n_visited += n_frontier

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    unpersist_ids(spark, e_ids)
    for ids in level_ids:
        register_checkpoint_ids(spark, ids)
    return out


def common_neighbor_similarity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 20,
    min_common: int = 1,
    round_dp: int = 6,
    broadcast_edges_max: int = 5_000_000,
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg
    2003): for every node pair sharing ≥ ``min_common`` neighbors,
    the common-neighbor count and Jaccard similarity
    ``|N(a)∩N(b)| / |N(a)∪N(b)|``, plus whether the pair is already an
    edge — the classic "people you may know" / co-purchase-affinity
    scorer. Returns the global top ``top_k`` by (jaccard DESC, pair
    ASC).

    Shape: normalize to an undirected simple graph, explode each node's
    adjacency both ways, and enumerate each unordered co-neighbor pair
    exactly once via a wedge self-join on the center with ``n1 < n2``
    — intersection counts are then one map-side-combined groupBy. The
    wedge set is Σ deg(center)² — the inherent cost of EXACT pairwise
    overlap (same intermediate as exact triangle enumeration); unlike
    triangles it cannot be degree-oriented away because every wedge
    contributes to a pair. At web scale, hub centers dominate: AQE
    splits the skewed wedge build, and the standard mitigation is
    min-hashing neighborhoods instead (the repo's MinHash/LSH dedup
    ladder applies verbatim to adjacency sets — that IS the approximate
    version of this operator). Union sizes come from two broadcastable
    |nodes|-sized degree joins; the final top-k is
    TakeOrderedAndProject (per-partition heaps + k-row driver merge),
    never a global sort.
    """
    u, v = F.col(src), F.col(dst)
    e_und = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e_und = scoped_cache(e_und)
    # gate + materialize the cache in one job (same pattern as
    # triangle_counts): below it, the |nodes|-sized degree frames and
    # the |edges|-sized is_edge frame broadcast, so the PAIR frame —
    # the Σdeg²-sized output of the wedge aggregation, orders of
    # magnitude larger than either — is never exchanged again after its
    # groupBy (the planner would otherwise sort-merge-join it three
    # times: by a, by b, by (a, b); cached inputs carry no size stats,
    # guide §3.1)
    small = e_und.count() <= broadcast_edges_max
    hint = F.broadcast if small else (lambda d: d)
    adj = e_und.select(F.col("u").alias("w"), F.col("v").alias("n")).unionByName(
        e_und.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    wedges = (
        adj.select("w", F.col("n").alias("a"))
        .join(adj.select("w", F.col("n").alias("b")), "w")
        .where(F.col("a") < F.col("b"))
    )
    common = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common")
    ).where(F.col("n_common") >= min_common)
    deg = (
        adj.groupBy("w").agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("w").alias("a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("w").alias("b"), F.col("deg").alias("__db"))
    is_edge = e_und.select(
        F.col("u").alias("a"), F.col("v").alias("b"), F.lit(1).alias("are_connected")
    )
    scored = (
        common.join(hint(da), "a")
        .join(hint(db), "b")
        .join(hint(is_edge), ["a", "b"], "left")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("n_common"))
            ).alias("__jac"),
            F.coalesce(F.col("are_connected"), F.lit(0)).alias("are_connected"),
        )
    )
    return (
        scored.orderBy(
            F.col("__jac").desc(), F.col("node_a").asc(), F.col("node_b").asc()
        )
        .limit(top_k)
        .select(
            "node_a", "node_b", "n_common",
            F.round("__jac", round_dp).alias("jaccard"), "are_connected",
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """The k-core of an undirected simple graph — the maximal subgraph
    in which every node has degree ≥ k (Seidman 1983; the standard
    graph-summarization / influential-subgraph primitive). Returns the
    surviving (node, core_degree) rows, where ``core_degree`` is the
    node's degree WITHIN the core.

    Iterative peeling, the CC/PageRank loop shape: each round drops
    nodes whose current degree < k and the edges incident to them, then
    recomputes degrees — one map-side-combined degree aggregate + one
    (or two) semi-joins per round, with the surviving-node frame
    broadcast below ``broadcast_nodes_max`` so the edge frame never
    re-shuffles. Early-stops when a round removes nothing (the
    convergence count doubles as the lazy checkpoint's materialization
    job). The fixpoint is UNIQUE and peeling-order-independent, so the
    result is deterministic regardless of partitioning or round
    batching — and an oracle may peel in any schedule that reaches the
    fixpoint.
    """
    spark = edges.sparkSession
    u, v = F.col(src), F.col(dst)
    e0 = (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e0.select("u", "v").unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    cur, cur_ids = checkpoint_with_ids(sym)
    n_cur = cur.count()
    for _ in range(max_iter):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
        # both semi-joins consume keep — cache it so the degree
        # aggregate runs once per round, not once per join side
        keep = scoped_cache(deg.where(F.col("__d") >= k).select("u"))
        # |keep| <= |nodes| <= |sym edge rows| = n_cur (every node is
        # some u), already known from the previous round's count — the
        # conservative gate costs zero extra jobs where an exact |keep|
        # count would re-aggregate degrees once more per round
        hint = F.broadcast if n_cur <= broadcast_nodes_max else (lambda d: d)
        keep_b = hint(keep)
        with new_persistent_ids(spark) as new_ids:
            nxt = (
                cur.join(keep_b, "u", "left_semi")
                .join(
                    keep_b.withColumnRenamed("u", "v"), "v", "left_semi"
                )
                .localCheckpoint(eager=False)
            )
            n_next = nxt.count()  # materializes the lazy checkpoint
        unpersist_ids(spark, cur_ids)
        cur, cur_ids = nxt, new_ids
        converged = n_next == n_cur
        n_cur = n_next
        if converged:
            break
    out = cur.groupBy("u").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.col("u").alias("node"), "core_degree"
    )
    register_checkpoint_ids(spark, cur_ids)
    return out
