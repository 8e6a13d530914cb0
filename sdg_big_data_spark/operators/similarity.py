"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **Brute-force cosine top-k** — exact baseline: broadcast the query set,
  one narrow pass over the corpus, per-query top-k via window over the
  (small) candidate set. Linear in corpus size; right answer, right
  shape for ≤ millions of vectors per query batch.
- **LSH-bucketed (random hyperplane)** — the scale path: sign-bit
  sketches bucket the corpus; only same-bucket pairs are scored. Buckets
  are an equi-join key, so candidate generation is a hash join, not a
  cross join.

Dot products have one summation order: the index-order left fold of
:func:`dot` (``F.zip_with`` + ``F.aggregate``), which the DuckDB oracle
replays. The scoring paths evaluate it in vectorized Arrow UDFs whose
numpy kernels (``functions/vec.py``) keep that order bit for bit; the
expression forms stay as the reference the parity tests compare
against. ``pandas_cosine_topk`` alone trades the order for BLAS.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vec import cross_dots, cross_sq_dists, dots, pair_dots, stack

# Fixed deterministic hyperplane constants (mixed by index) so LSH buckets
# are reproducible across runs/engines.
_HP_MIX_A = 2654435761
_HP_MIX_B = 40503


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _pairwise_arrow(kernel):
    """Build a (a, b) → double vectorized Arrow UDF from a function of
    the two stacked vector matrices. Null on either side → null (as the
    expression forms: zip_with/aggregate propagate null); so is a NaN
    result, which the Arrow serializer turns into null."""

    @F.pandas_udf("double")
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        both = a.notna() & b.notna()
        A, pos = stack(a.where(both))
        B, _ = stack(b.where(both))
        out = np.full(len(a), np.nan)
        with np.errstate(divide="ignore", invalid="ignore"):
            out[pos] = kernel(A, B)
        return pd.Series(out)

    return _udf


def dot_arrow(a: Column, b: Column) -> Column:
    """:func:`dot` as ONE vectorized Arrow projection (r11, guide §4.2):
    the pair-scoring joins evaluated three interpreted 64-step aggregate
    folds PER PAIR; the numpy kernel computes the same per-dimension
    index-order sums batch-wide — bit-identical values (gate test:
    ``test_arrow_pair_scores_match_expression_forms``)."""
    return _pairwise_arrow(dots)(a, b)


def cosine_arrow(a: Column, b: Column) -> Column:
    """:func:`cosine` as one vectorized Arrow projection — same floats:
    ``dot/(sqrt(dot_aa)·sqrt(dot_bb))``, each dot in fold order (norms
    recomputed per pair give the identical double as a per-row norm
    column: both are the same pure function of the row's vector).

    Degenerate rows differ from :func:`cosine`: a zero-norm or NaN
    vector makes the quotient NaN here, which comes back NULL; the
    expression form raises ``DIVIDE_BY_ZERO`` on a zero norm under
    Spark's ANSI default."""
    return _pairwise_arrow(
        lambda A, B: dots(A, B)
        / (np.sqrt(dots(A, A)) * np.sqrt(dots(B, B)))
    )(a, b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    ``queries`` is broadcast (query batches are small by construction);
    the corpus is scanned once — no shuffle until the per-query top-k,
    which AQE sizes by query count, not corpus size. Ties broken by
    neighbor id ascending (deterministic).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_arrow(F.col("__qv"), F.col("__cv")))
        .drop("__qv", "__cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def pandas_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k with the math in numpy (Arrow batches) — the
    fast path for wide vectors / big query batches where per-pair SQL
    expressions lose to BLAS.

    The query matrix is closed over (driver-side collect — query batches
    are small by contract); each corpus Arrow batch computes a
    (batch × queries) similarity matrix in one ``A @ Q.T``, keeps its
    local top-k per query, and the tiny per-batch candidate sets reduce
    to the global top-k with a window. Float caveat: BLAS summation order
    differs from the sequential fold, so ranks can differ from
    :func:`brute_force_topk` only on near-exact ties.
    """
    import numpy as np
    import pandas as pd

    from ..session import ship_package

    ship_package(corpus.sparkSession)
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            cn = np.linalg.norm(cm, axis=1)
            sims = (cm @ qm.T) / np.outer(cn, qn)
            out = []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                top = cand_idx[np.argsort(-col[cand_idx], kind="stable")[:k]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": ids[top],
                            "cos": col[top],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _plane_matrix(dim: int, n_planes: int):
    """The fixed pseudo-random hyperplanes as an (n_planes, dim) float64
    matrix — each component computed with the SAME Python-float
    arithmetic the expression literals used, so projections are
    bit-identical."""
    return np.array(
        [
            [
                (((p * 1_000_003 + j) * _HP_MIX_A + _HP_MIX_B) % 2_000_001)
                / 1_000_000.0
                - 1.0
                for j in range(dim)
            ]
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of ``n_planes`` fixed
    pseudo-random hyperplanes. Hyperplane p's j-th component is a
    deterministic integer mix in [-1, 1] — reproducible everywhere.

    One vectorized Arrow projection (r11): the expression form ran
    n_planes interpreted 64-step aggregate folds per row. Projections
    accumulate per dimension in index order (same floats as the fold →
    same sign bits → same bucket, oracle-replayable by the identical
    ``_sql_bucket`` literals); a NULL vector keeps its expression-form
    bucket 0 (every ``when(null > 0)`` took the otherwise branch).
    Parity gate: ``test_hyperplane_bucket_matches_expression_form``."""
    P = _plane_matrix(dim, n_planes)
    weights = np.array([2**p for p in range(n_planes)], dtype=np.int64)

    @F.pandas_udf("long")
    def _bucket(s: pd.Series) -> pd.Series:
        V, pos = stack(s)
        out = np.zeros(len(s), dtype=np.int64)
        out[pos] = (cross_dots(V, P) > 0) @ weights
        return pd.Series(out)

    # The UDF never returns null, but Spark types it nullable, so the
    # planner derives isnotnull(bucket) for the bucket equi-join and
    # pushes that filter below the projection — evaluating the UDF twice
    # per side (5 ArrowEvalPython nodes in e_lsh_topk's plan instead of
    # 3). coalesce with a literal makes the bucket non-nullable, so the
    # derived isnotnull folds to true and the filter goes away.
    return F.coalesce(_bucket(vec), F.lit(0).cast("long"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: score only same-bucket pairs.

    Recall is tunable via ``n_planes`` (fewer planes → bigger buckets →
    higher recall, more compute). At 100 TB the bucket join replaces the
    corpus × queries cross product with |bucket|-sized probes.
    """
    cb = corpus.withColumn("__bkt", hyperplane_bucket(F.col(vec_col), dim, n_planes))
    qb = queries.withColumn("__bkt", hyperplane_bucket(F.col(vec_col), dim, n_planes))
    q = qb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "__bkt"
    )
    c = cb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "__bkt"
    )
    scored = (
        c.join(F.broadcast(q), "__bkt")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", cosine_arrow(F.col("__qv"), F.col("__cv"))
        )
        .drop("__qv", "__cv", "__bkt")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def train_centroids(
    corpus: DataFrame, label_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """IVF codebook: per-``label_col`` mean vectors (posexplode → avg →
    reassemble). In production the codebook comes from k-means sampling;
    any (label, cv array<double>) frame slots in."""
    return (
        corpus.select(label_col, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(label_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("v"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
            ).alias("cv")
        )
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_to_double(a), b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _nearest_cells(
    vecs: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, n: int
) -> DataFrame:
    """Per vector: the ``n`` nearest centroid cells (broadcast codebook,
    deterministic ties)."""
    pairs = vecs.crossJoin(
        F.broadcast(centroids.select(F.col("__cell"), "cv"))
    ).withColumn("__dist", _sq_dist(F.col(vec_col), F.col("cv")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__dist").asc(), F.col("__cell").asc()
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__dist", "__rn", "cv")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k — the inverted-file scale path:

    1. codebook = per-label centroids (swap in k-means offline at scale);
    2. every corpus vector is assigned to its nearest cell (one pass,
       broadcast codebook — this is the index build, amortized);
    3. each query probes its ``nprobe`` nearest cells and scores ONLY
       vectors in those cells (an equi-join on cell id, so candidate
       generation is a hash join over ~nprobe/|cells| of the corpus).

    Recall/latency tunes via ``nprobe``; exact baseline is
    ``brute_force_topk``.

    ``centroids``: pass an explicit ``(label_col, cv array<double>)``
    codebook frame to search against — e.g. the output of
    ``clustering.kmeans`` (the production regime: train offline, search
    online). Default trains per-label mean centroids from the corpus.
    """
    cent = (
        centroids.select(F.col(label_col).alias("__cell"), "cv")
        if centroids is not None
        else train_centroids(corpus, label_col, vec_col).select(
            F.col(label_col).alias("__cell"), "cv"
        )
    )
    assign = _nearest_cells(
        corpus.select(id_col, vec_col), cent, id_col, vec_col, 1
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv_vec"),
        "__cell",
    )
    probes = _nearest_cells(
        queries.select(id_col, vec_col), cent, id_col, vec_col, nprobe
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "__cell")
    scored = (
        assign.join(F.broadcast(probes), "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            cosine_arrow(F.col("__qv"), F.col("__cv_vec")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def auto_n_planes(n_rows: int, target_bucket_rows: int = 1024) -> int:
    """Plane count for :func:`embedding_near_dups` that keeps expected
    bucket size ~``target_bucket_rows`` as the corpus grows.

    LSH verify work is Σ n_b² over buckets — QUADRATIC in corpus size
    whenever the plane count is held fixed (measured: the 4-plane
    catalog fixture runs 50x slower on 10x the vectors). Growing planes
    as log2(n / target) keeps buckets constant-sized, so verify work —
    and wall time — scales linearly; recall degrades gracefully (each
    extra plane halves the chance a near-dup pair shares the bucket,
    which multi-probe or a second rotated bucketing recovers). The
    fixed-plane default remains for exact-oracle replay at test scale.
    """
    import math

    if n_rows <= target_bucket_rows:
        return 1
    return max(1, math.ceil(math.log2(n_rows / target_bucket_rows)))


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int | str = 6,
    max_bucket_rows: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    cosine verify (pairs a < b with cos >= threshold).

    Verify groups by bucket and ``applyInPandas`` computes the bucket's
    pairwise cosines in numpy. Each vector crosses Arrow once (not once
    per candidate pair, as a pair self-join materializes), and the
    per-pair dot is vectorized across pairs while summing each pair in
    index order (``functions/vec.py``) — the same left-to-right order as
    the SQL fold, so results are bit-identical to the declarative form
    (not just close).

    **Hot-bucket salting** (``max_bucket_rows``): a bucket
    of n rows is n²/2 pairs in ONE task — a single hot bucket (near-dup
    clusters, zero vectors, spam floods) straggles or OOMs the stage no
    matter how many executors exist. Buckets larger than
    ``max_bucket_rows`` are split into ``s = ceil(n / cap)`` salt
    sub-groups by id hash, and each unordered sub-group pair (sa ≤ sb)
    becomes its own verify task keyed (bucket, sa, sb): per-task work is
    bounded by cap² pairs and 2·cap rows, coverage is exact (every pair
    lands in exactly one task), and results are bit-identical — same
    per-pair arithmetic, just a different task decomposition. Cost: hot
    buckets replicate rows s× (only hot buckets pay; cold buckets have
    s=1 and one task, the unsalted plan). ``None`` disables.

    ``n_planes="auto"`` sizes the plane count from a corpus count via
    :func:`auto_n_planes` (one extra cheap action) so bucket sizes — and
    therefore total verify work — stay CONSTANT per row as the corpus
    grows; any fixed plane count makes Σ n_b² quadratic in corpus size.
    """
    if n_planes == "auto":
        n_planes = auto_n_planes(df.count())
    b = df.withColumn(
        "__bkt", hyperplane_bucket(F.col(vec_col), dim, n_planes)
    ).select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"), "__bkt")
    return _bucket_pairs_arrow(b, threshold, max_bucket_rows)


def _bucket_pairs_arrow(
    b: DataFrame, threshold: float, max_bucket_rows: int | None
) -> DataFrame:
    """Per-bucket Arrow/numpy pairwise cosine verify over a frame with
    columns (__id, __v, __bkt) — the shared verify engine of
    :func:`embedding_near_dups` (buckets = LSH sketches) and
    :func:`semantic_dedup` (buckets = cluster cells), including the
    hot-bucket salting decomposition documented on embedding_near_dups.
    Emits (id_a < id_b, cos) pairs with cos >= threshold, bit-identical
    to the SQL fold (index-order kernels of ``functions/vec.py``)."""
    from ..session import ship_package

    ship_package(b.sparkSession)

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos": "float64"}
        )

    def _pairs(ids_a, V_a, ids_b, V_b, ia, ib) -> "pd.DataFrame":
        nrm_a = np.sqrt(dots(V_a, V_a))
        nrm_b = np.sqrt(dots(V_b, V_b))
        cos = pair_dots(V_a, V_b, ia, ib) / (nrm_a[ia] * nrm_b[ib])
        keep = cos >= threshold
        lo = np.minimum(ids_a[ia[keep]], ids_b[ib[keep]])
        hi = np.maximum(ids_a[ia[keep]], ids_b[ib[keep]])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[keep]})

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return _empty()
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        V = np.array(list(pdf["__v"]), dtype=np.float64)
        ia, ib = np.triu_indices(n, k=1)
        return _pairs(ids, V, ids, V, ia, ib)

    if max_bucket_rows is None:
        return b.groupBy("__bkt").applyInPandas(
            verify, schema="id_a long, id_b long, cos double"
        )

    from ..cachescope import scoped_cache

    b = scoped_cache(b)  # feeds the size probe AND the verify pass
    sizes = b.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__nb"))
    # Adaptive: the size table is <= 2^n_planes rows — probe its max
    # (one partial-agg pass that also materializes the cache) and keep
    # the plain one-task-per-bucket plan when nothing is hot; only a
    # skewed corpus pays the fan-out's join/explode overhead.
    max_nb = sizes.agg(F.max("__nb")).collect()[0][0] or 0
    if max_nb <= max_bucket_rows:
        return b.groupBy("__bkt").applyInPandas(
            verify, schema="id_a long, id_b long, cos double"
        )
    salted = (
        # ≤ 2^n_planes buckets → the size table is always broadcastable
        b.join(F.broadcast(sizes), "__bkt")
        .withColumn(
            "__s",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("__nb") / F.lit(max_bucket_rows)),
            ).cast("int"),
        )
        .withColumn(
            "__salt", F.pmod(F.hash(F.col("__id")), F.col("__s")).cast("int")
        )
    )
    task_t = "array<struct<sa:int,sb:int,role:string>>"
    # Row with salt t joins tasks (t, j≥t) as side 'a' and (i<t, t) as
    # side 'b'; the diagonal task (t, t) appears once, side 'a' only —
    # so every unordered pair is generated in exactly one task.
    tasks = F.concat(
        F.transform(
            F.sequence(F.col("__salt"), F.col("__s") - 1),
            lambda j: F.struct(
                F.col("__salt").alias("sa"),
                j.cast("int").alias("sb"),
                F.lit("a").alias("role"),
            ),
        ),
        F.when(
            F.col("__salt") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__salt") - 1),
                lambda i: F.struct(
                    i.cast("int").alias("sa"),
                    F.col("__salt").alias("sb"),
                    F.lit("b").alias("role"),
                ),
            ),
        ).otherwise(F.array().cast(task_t)),
    )
    fanned = salted.select(
        "__id", "__v", "__bkt", F.explode(tasks).alias("__t")
    ).select(
        "__id",
        "__v",
        "__bkt",
        F.col("__t.sa").alias("__sa"),
        F.col("__t.sb").alias("__sb"),
        F.col("__t.role").alias("__role"),
    )

    def verify_task(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["__sa"].iat[0] == pdf["__sb"].iat[0]:
            return verify(pdf)  # diagonal task: triangular pairs
        a = pdf[pdf["__role"] == "a"].sort_values("__id")
        c = pdf[pdf["__role"] == "b"].sort_values("__id")
        if not len(a) or not len(c):
            return _empty()
        ids_a = a["__id"].to_numpy()
        ids_b = c["__id"].to_numpy()
        V_a = np.array(list(a["__v"]), dtype=np.float64)
        V_b = np.array(list(c["__v"]), dtype=np.float64)
        ia, ib = np.meshgrid(
            np.arange(len(ids_a)), np.arange(len(ids_b)), indexing="ij"
        )
        return _pairs(ids_a, V_a, ids_b, V_b, ia.ravel(), ib.ravel())

    return fanned.groupBy("__bkt", "__sa", "__sb").applyInPandas(
        verify_task, schema="id_a long, id_b long, cos double"
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric scalar quantization to ``bits``-bit signed
    codes: code = round(x / scale), scale = max|x| / (2^(bits-1) - 1).

    The ANN memory-scale path: a 768-dim float32 vector is 3 KB; int8
    codes + one float scale are ~770 B — 4x more corpus per executor
    page-cache, which at 100 TB is the difference between memory-resident
    buckets and disk thrash. Dot products on codes underestimate |error|
    <= O(scale) per term; rank-sensitive stages re-score survivors on the
    float vectors (the standard two-stage retrieve+rescore).

    Pure expressions (transform + round) — codegen, and exactly
    replayable by a SQL oracle.
    """
    top = (1 << (bits - 1)) - 1
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / F.lit(
        float(top)
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.when(
            scale > 0,
            F.transform(
                v, lambda x: F.round(x.cast("double") / scale).cast("int")
            ),
        )
        .otherwise(F.transform(v, lambda x: F.lit(0)))
        .alias("codes"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    threshold: float = 0.95,
    max_cell_rows: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each cluster cell, a vector is DROPPED when
    some same-cell vector with a smaller id has cosine ≥ ``threshold``
    to it — the deterministic "keep the canonical representative of each
    ε-ball" policy (smallest id = the representative, so survivors are
    unique and order-independent).

    Input must already carry a cell assignment (``cell_col``) — compose
    with :func:`train_centroids` + :func:`_nearest_cells`, k-means
    (operators/clustering.kmeans), or any partitioning; the whole point
    of SemDeDup is that clustering first makes the pair space per-cell
    quadratic instead of corpus-quadratic. Returns every input id with
    its cell and a ``kept`` flag (1 = survivor).

    Scale shape: candidate pairs come from the SAME per-bucket Arrow
    verify engine as :func:`embedding_near_dups` (buckets = cells,
    vectors cross Arrow once, pairwise cosines vectorized in numpy in
    index order — bit-identical to the SQL fold), including
    its hot-cell salting decomposition (``max_cell_rows``); no corpus
    cross product anywhere. **The cell count is the scale knob**: work
    is Σ n_cell², so a FIXED k makes semantic dedup quadratic in corpus
    size (measured: the fixed-codebook catalog fixture runs 24x slower
    on 10x the vectors) — grow k with the corpus (k ≈ n / target_cell
    for constant per-cell cost, the paper's regime; k ≈ √n for total
    work ~n^1.5 when centroid training cost matters). Transitive-chain
    semantics (components instead of greedy balls) are available by
    feeding the pair list into graph.connected_components.

    The (id, cell, vector) input projection is MATERIALIZED once
    (tracked ``localCheckpoint``): it feeds three consumers — pair
    generation, the survivor anti-set, and the output join's left side
    — and its upstream lineage is typically the interpreted
    nearest-centroid distance fold, which neither codegen nor CSE
    dedupes across references. One barrier job instead of three
    replays, and downstream plans read a lineage-free scan.
    """
    from ..cachescope import tracked_local_checkpoint

    base = tracked_local_checkpoint(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(cell_col).alias("__cell"),
            F.col(vec_col).alias("__v"),
        )
    )
    keyed = base.select("__id", "__v", F.col("__cell").alias("__bkt"))
    pairs = _bucket_pairs_arrow(keyed, threshold, max_cell_rows)
    # pairs emit id_a < id_b with cos >= threshold, so "has a smaller-id
    # near neighbor in my cell" is exactly "appears as id_b"
    dropped = (
        pairs.select(F.col("id_b").alias("__id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        base.join(dropped, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").alias(cell_col),
            F.when(F.col("__dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("kept"),
        )
    )


def dequantize_dot(codes_a: Column, scale_a: Column, codes_b: Column, scale_b: Column) -> Column:
    """Approximate dot product from quantized codes: integer dot
    (exact, overflow-safe for 8-bit codes up to ~2^46 dims) times the two
    scales."""
    int_dot = F.aggregate(
        F.zip_with(codes_a, codes_b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return int_dot.cast("double") * scale_a * scale_b


# --- product quantization ---------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization sub-codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the ``dim`` vector
    into ``m`` contiguous subspaces of ``dim/m`` and learn one codebook
    per subspace. Returns (subspace, cell, cv) with ``cv`` the
    sub-centroid array.

    Codebook source mirrors the IVF path (`train_centroids`): per-label
    sub-vector means — ONE posexplode + groupBy pass over the corpus
    (shuffle payload = m × cells × dim/m partial sums, map-side
    combined). Swap in per-subspace k-means (`clustering.kmeans` on a
    sliced frame) offline for unlabeled corpora; any
    (subspace, cell, cv) frame slots into encode/search unchanged.
    """
    sub = dim // m
    flat = corpus.select(
        F.col(label_col).alias("cell"), F.posexplode(vec_col).alias("pos", "x")
    )
    return (
        flat.groupBy(
            "cell",
            (F.col("pos") / sub).cast("int").alias("subspace"),
            (F.col("pos") % sub).alias("sp"),
        )
        .agg(F.avg(F.col("x").cast("double")).alias("v"))
        .groupBy("subspace", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sp", "v"))),
                lambda s: s["v"],
            ).alias("cv")
        )
    )


def collect_pq_codebooks(cb: DataFrame) -> list[list[tuple[int, list[float]]]]:
    """Driver-side materialization of a (subspace, cell, cv) codebook
    frame: ``out[j] = [(cell_id, subcentroid), ...]`` sorted by cell.
    Codebooks are dimension-sized by construction (m × cells × dim/m
    floats — a few KB), the same contract as broadcasting a dimension
    table."""
    rows = cb.collect()
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        by_sub.setdefault(r["subspace"], []).append(
            (r["cell"], [float(x) for x in r["cv"]])
        )
    return [sorted(by_sub[j]) for j in sorted(by_sub)]


def _sub_dist_arr(
    vec: Column, j: int, sub: int, cents: list[list[float]]
) -> Column:
    """Array of squared L2 distances from subspace ``j`` of ``vec`` to
    EVERY sub-centroid, as one expression: the whole codebook rides in as
    a single nested-array literal and a single ``transform`` computes all
    cells. One literal + 3 lambda resolutions per subspace, vs one
    fold-expression per cell — with m × cells copies, per-cell folds made
    driver-side plan construction/analysis the dominant term of the PQ
    pipeline (~3 s at sf0.1 before any job ran)."""
    sl = F.slice(_to_double(vec), j * sub + 1, sub)
    cb = F.lit([[float(x) for x in c] for c in cents])
    return F.transform(
        cb,
        lambda c: F.aggregate(
            F.zip_with(sl, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector as ``m`` sub-codebook cell ids → the PQ code
    array (here 4 ints standing in for the packed uint8s — 64x smaller
    than the 64-float vector, the memory lever that lets a 100 TB
    embedding corpus fit an ANN index in cluster RAM).

    MAP-ONLY: the codebook rides in the task closure (same shape as
    `clustering.assign_clusters` after its r10 vectorization), so
    encoding is one narrow ``ArrowEvalPython`` projection over ONLY the
    vector column — no shuffle, no join. Distances accumulate per
    dimension in index order (``vec.cross_sq_dists`` on each subspace
    slice), bit-identical to the interpreted
    ``zip_with``/``aggregate`` left fold this replaces (r11 — the fold
    ran m × cells interpreted aggregates of ``dim/m`` steps per row and
    was the dominant term of e_pq_encode/e_pq_topk at sf0.1), and
    ``np.argmin`` keeps the first-minimum tie-break of
    ``array_position(arr, array_min(arr))`` — lowest cell on ties
    (codebooks are cell-sorted), matching the oracle's
    ``ORDER BY dist, cell``. Null vectors yield an array of m nulls,
    exactly as the expression form did (each sub-code evaluated null).
    Equality with the expression form is pinned by
    ``tests/test_r11_optimizations.py::test_pq_encode_matches_expression_form``."""
    sub = len(codebooks[0][0][1])
    m = len(codebooks)
    cell_ids = [np.array([int(c) for c, _ in cb]) for cb in codebooks]
    cents = [
        np.array([cent for _, cent in cb], dtype=np.float64) for cb in codebooks
    ]

    @F.pandas_udf("array<int>")
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            V, pos = stack(s)
            codes = np.empty((len(pos), m), dtype=np.int64)
            for j in range(m):
                D = cross_sq_dists(V[:, j * sub : (j + 1) * sub], cents[j])
                codes[:, j] = cell_ids[j][np.argmin(D, axis=1)]
            out = [[None] * m] * len(s)  # a null vector: m null sub-codes
            for i, row in zip(pos.tolist(), codes.tolist()):
                out[i] = row
            yield pd.Series(out, dtype=object)

    return df.withColumn(code_col, _encode(F.col(vec_col)))


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    k: int = 5,
    round_dp: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: approximate squared L2 from each query
    to each ENCODED corpus vector as the sum over subspaces of
    ||q_j − codebook_j[code_j]||². The corpus side touches only the
    m-int code column — the full vectors never load.

    The classic PQ LUT memoization, expressed in the plan: the m×k
    sub-distance table is MATERIALIZED AS COLUMNS ON THE QUERY FRAME
    (one evaluation per query row) BEFORE the broadcast crossJoin, so
    per (query, corpus-row) pair the only work is m ``element_at``
    lookups + adds. Inlining the table into the join expression instead
    re-evaluates every aggregate fold per pair — measured 79 s vs ~1 s
    at sf0.1 (interpreted higher-order functions, no CSE across rows) —
    the difference between O(queries·m·k·sub + pairs·m) and
    O(pairs·m·k·sub).
    """
    sub = len(codebooks[0][0][1])
    qv = F.col(vec_col)
    # one LUT column per subspace, evaluated once per QUERY row — built in
    # a SINGLE select (every withColumn re-analyzes the whole plan
    # eagerly; chaining m of them over these wide expression trees was
    # measured as seconds of driver time before any job ran)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            _sub_dist_arr(qv, j, sub, [cent for _, cent in cb]).alias(
                f"__lut{j}"
            )
            for j, cb in enumerate(codebooks)
        ],
    )
    pairs = codes.select(
        F.col(id_col).alias("neighbor_id"), code_col
    ).crossJoin(F.broadcast(q))
    dist = F.lit(0.0)
    for j, cb in enumerate(codebooks):
        cells = [int(c) for c, _ in cb]
        if cells == list(range(len(cells))):
            # dense 0..k-1 cell ids: the code IS the LUT position
            pos = F.element_at(F.col(code_col), j + 1) + 1
        else:
            # sparse cell ids; map code -> position in the LUT array
            pos = F.element_at(
                F.map_from_arrays(
                    F.lit(cells), F.lit(list(range(1, len(cells) + 1)))
                ),
                F.element_at(F.col(code_col), j + 1),
            )
        dist = dist + F.element_at(F.col(f"__lut{j}"), pos)
    if round_dp is not None:
        # rank on the ROUNDED distance: sub-distance summation order
        # differs across engines by ~1 ulp, and ranking on raw floats
        # would let that flip the order of genuinely-tied pairs (e.g.
        # identical codes); rounding collapses ulp noise before the
        # deterministic id tiebreak
        dist = F.round(dist, round_dp)
    scored = pairs.where(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "adc_dist", dist
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def class_prototypes(
    corpus: DataFrame,
    label_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label L2-NORMALIZED mean embedding — the class-prototype /
    nearest-centroid-classifier primitive (and the retrieval "query by
    class" vector): prototype_c = mean(v : label=c) / ||mean||.

    Same single posexplode + two dimension-bounded aggregates as
    :func:`train_centroids` (shuffle payload = labels × dim partial
    sums, map-side combined), plus one row-local normalization over the
    #labels-row result. Zero-norm prototypes (all-zero class) pass
    through unnormalized rather than dividing by zero.
    """
    cent = train_centroids(corpus, label_col, vec_col)
    nrm = F.sqrt(
        F.aggregate(F.col("cv"), F.lit(0.0), lambda a, x: a + x * x)
    )
    from ..functions.text import let

    proto = let(
        nrm,
        lambda n: F.when(
            n > 0, F.transform(F.col("cv"), lambda x: x / n)
        ).otherwise(F.col("cv")),
    )
    return cent.select(label_col, proto.alias("prototype"))


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_candidates: int = 25,
    k_select: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998, SIGIR): greedily pick ``k_select`` of the top
    ``k_candidates`` exact-cosine neighbors, each step maximizing
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` (the first pick has
    an empty selected set — its diversity term is 0 by convention).
    The standard redundancy killer for retrieval-augmented pipelines:
    relevance alone returns five near-copies; MMR trades a little
    relevance for coverage.

    Scale shape: candidate generation is :func:`brute_force_topk`
    (broadcast queries, one corpus pass — swap in :func:`ivf_topk` for
    a corpus-scale deployment); everything after operates on
    k-bounded-per-query frames — one id-join to re-attach candidate
    vectors, one within-query pair join (k² rows per query, k≈25), and
    the greedy itself is a grouped-map over one query's ≤k² pair rows.
    Nothing downstream of the top-k ever scales with the corpus.

    Determinism: rel and pairwise sims are the engine-portable
    sequential-fold cosines (:func:`dot`); the greedy does only IEEE
    double compares and ``λ·rel − (1−λ)·div`` combines on them, with
    candidate-id ascending tie-breaks — so a SQL oracle can replay the
    selection exactly, step by unrolled step.
    """
    import numpy as np
    import pandas as pd

    from ..session import ship_package

    ship_package(corpus.sparkSession)
    cands = brute_force_topk(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k_candidates
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
    )
    cands_v = cands.join(cv, "neighbor_id").select(
        "query_id", F.col("neighbor_id").alias("cand_id"),
        F.col("cos").alias("rel"), "__v",
    )
    a = cands_v.select(
        "query_id", "cand_id", "rel", F.col("__v").alias("__va")
    )
    b = cands_v.select(
        "query_id", F.col("cand_id").alias("other_id"), F.col("__v").alias("__vb")
    )
    pairs = (
        a.join(b, "query_id")
        .where(F.col("cand_id") != F.col("other_id"))
        .select(
            "query_id", "cand_id", "rel", "other_id",
            cosine_arrow(F.col("__va"), F.col("__vb")).alias("sim"),
        )
    )
    # One null-sim SELF row per candidate rides along so a query whose
    # candidate set has exactly one member (k_candidates=1, or a tiny
    # corpus) still reaches the grouped map — the pair join alone yields
    # zero rows for it and the query would silently vanish from the
    # output. k extra rows per query on top of k²; the greedy skips them
    # when building the pairwise-sim table.
    pairs = pairs.unionByName(
        cands_v.select(
            "query_id", "cand_id", "rel",
            F.col("cand_id").alias("other_id"),
            F.lit(None).cast("double").alias("sim"),
        )
    )
    lam_f = float(lam)
    mu_f = 1.0 - lam_f
    m = int(k_select)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        rels = (
            pdf[["cand_id", "rel"]]
            .drop_duplicates("cand_id")
            .set_index("cand_id")["rel"]
            .to_dict()
        )
        # self-marker rows are identified STRUCTURALLY (cand == other —
        # they are built that way above), not by null sim: a NaN test
        # would also drop genuine pair rows whose cosine is NaN
        # (zero-norm vectors), silently flipping their diversity term
        # from NaN-propagating to 0.0 (ADVICE r8)
        sims: dict[tuple[int, int], float] = {
            (c, o): s
            for c, o, s in zip(pdf["cand_id"], pdf["other_id"], pdf["sim"])
            if c != o
        }
        selected: list[tuple[int, float, float]] = []  # (id, rel, mmr)
        remaining = set(rels)
        while remaining and len(selected) < m:
            best = None
            for c in remaining:
                div = max(
                    (sims[(c, s)] for s, _, _ in selected if (c, s) in sims),
                    default=0.0,
                )
                score = lam_f * rels[c] - mu_f * div
                # strict-greater + id-ascending tiebreak = deterministic
                if best is None or score > best[1] or (
                    score == best[1] and c < best[0]
                ):
                    best = (c, score)
            selected.append((best[0], rels[best[0]], best[1]))
            remaining.discard(best[0])
        return pd.DataFrame(
            {
                "query_id": np.repeat(qid, len(selected)),
                "neighbor_id": [s[0] for s in selected],
                "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
                "rel": [s[1] for s in selected],
                "mmr": [s[2] for s in selected],
            }
        )

    schema = (
        "query_id long, neighbor_id long, mmr_rank int, rel double, mmr double"
    )
    return pairs.groupBy("query_id").applyInPandas(greedy, schema=schema)


def truncated_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_coarse: int = 16,
    k_coarse: int = 50,
    k: int = 5,
) -> DataFrame:
    """Two-stage ANN via dimension truncation — the Matryoshka-
    representation retrieval pattern (Kusupati et al. 2022,
    arXiv:2205.13147 §4.3 "adaptive retrieval"): stage 1 scores every
    corpus vector against the query using only the FIRST ``d_coarse``
    dimensions (a prefix slice — MRL-trained embeddings front-load
    information, and even generic embeddings retain most energy early),
    keeps ``k_coarse`` candidates per query, and stage 2 re-ranks just
    those with the exact full-dimension cosine. Returns
    (query_id, neighbor_id, rank, cos) — top ``k`` by full cosine.

    Why it scales: stage 1 reads ``d_coarse/d`` of the vector bytes per
    corpus row (with a columnar layout storing the prefix separately,
    that is a proportional I/O cut) and is a pure map + per-query top-k
    — the same shape as :func:`brute_force_topk` but ~d/d_coarse
    cheaper arithmetic; stage 2 touches ``k_coarse`` rows per query.
    The quality/throughput dial is (d_coarse, k_coarse), exactly like
    IVF's nprobe — and the recall measurement loop (`ev_ann_recall`)
    applies to this path unchanged.

    Determinism: both stages use the sequential-fold :func:`dot` (a
    prefix slice then the same left-to-right sum), so candidates AND
    final ranks replay exactly in the SQL oracle; ties break by
    neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.slice(F.col(vec_col), 1, d_coarse).alias("__qc"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.slice(F.col(vec_col), 1, d_coarse).alias("__cc"),
    )
    coarse = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__coarse", dot_arrow(F.col("__qc"), F.col("__cc")))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("__coarse").desc(), F.col("neighbor_id").asc()
    )
    cands = coarse.withColumn("__crank", F.row_number().over(w1)).where(
        F.col("__crank") <= k_coarse
    )
    rer = cands.withColumn("cos", cosine_arrow(F.col("__qv"), F.col("__cv")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
