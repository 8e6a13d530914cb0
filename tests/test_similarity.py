"""Similarity-search variants agree: the Arrow/numpy top-k matches the
expression-based exact baseline (modulo float-tie rank swaps)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(400)
    ]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")


def test_pandas_topk_matches_brute_force(spark, emb):
    from sdg_big_data_spark.operators.similarity import (
        brute_force_topk,
        pandas_cosine_topk,
    )

    queries = emb.where(F.col("vec_id") < 4)
    a = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    b = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pandas_cosine_topk(emb, queries, k=5).collect()
    }
    assert a == b  # random gaussian data: no near-exact ties


def test_pandas_topk_across_batches(spark, emb):
    """Per-batch top-k + global reduce must equal single-batch results."""
    from sdg_big_data_spark.operators.similarity import pandas_cosine_topk

    queries = emb.where(F.col("vec_id") < 2)
    one = pandas_cosine_topk(emb.coalesce(1), queries, k=3)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        many = pandas_cosine_topk(emb.repartition(13), queries, k=3)
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_cosine_arrow_degenerate_rows_are_null(spark):
    """Pins the Arrow scorer's current edge behaviour: a zero-norm or
    NaN-component vector gives a NaN quotient, which comes back NULL (the
    expression form instead raises DIVIDE_BY_ZERO on a zero norm under
    ANSI); a null vector gives NULL; a sound pair still scores."""
    from sdg_big_data_spark.operators.similarity import cosine_arrow, dot_arrow

    nan = float("nan")
    rows = [
        (0, [1.0, 0.0], [0.0, 0.0]),  # zero norm on one side
        (1, [0.0, 0.0], [0.0, 0.0]),  # 0/0
        (2, [nan, 1.0], [1.0, 1.0]),  # NaN component
        (3, None, [1.0, 1.0]),  # null vector
        (4, [3.0, 4.0], [3.0, 4.0]),  # sound pair
    ]
    df = spark.createDataFrame(
        rows, schema="id long, a array<float>, b array<float>"
    )
    got = {
        r["id"]: (r["cos"], r["dot"])
        for r in df.select(
            "id",
            cosine_arrow(F.col("a"), F.col("b")).alias("cos"),
            dot_arrow(F.col("a"), F.col("b")).alias("dot"),
        ).collect()
    }
    assert got == {
        0: (None, 0.0),
        1: (None, 0.0),
        2: (None, None),
        3: (None, None),
        4: (1.0, 25.0),
    }


# --- hot-bucket salting (VERDICT r2 #5) --------------------------------------


@pytest.fixture(scope="module")
def hot_emb(spark):
    """300 near-identical vectors (one hot LSH bucket) + 100 spread ones."""
    rng = np.random.default_rng(9)
    base = rng.normal(0, 1, 16)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 0.01, 16)])
        for i in range(300)
    ]
    rows += [
        (300 + i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(100)
    ]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")


def _pair_set(df):
    return {(r["id_a"], r["id_b"], round(r["cos"], 12)) for r in df.collect()}


def test_salted_near_dups_match_unsalted(spark, hot_emb):
    from sdg_big_data_spark.cachescope import cache_scope
    from sdg_big_data_spark.operators.similarity import embedding_near_dups

    kw = dict(dim=16, threshold=0.9, n_planes=4)
    with cache_scope(blocking=True):
        plain = _pair_set(embedding_near_dups(hot_emb, max_bucket_rows=None, **kw))
        salted = _pair_set(embedding_near_dups(hot_emb, max_bucket_rows=40, **kw))
    assert len(plain) > 100  # the hot bucket really produced mass
    assert salted == plain  # exact coverage, once per pair, same floats


def test_salting_bounds_per_task_rows(spark, hot_emb):
    """With cap=40 and a ~300-row hot bucket, no verify task may see more
    than 2*cap rows (bipartite) — the per-task pair bound cap^2 follows."""
    from pyspark.sql import functions as F

    from sdg_big_data_spark.cachescope import cache_scope
    from sdg_big_data_spark.operators.similarity import hyperplane_bucket

    cap = 40
    b = hot_emb.withColumn(
        "__bkt", hyperplane_bucket(F.col("embedding"), 16, 4)
    ).select(F.col("vec_id").alias("__id"), "__bkt")
    sizes = b.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__nb"))
    hot = sizes.agg(F.max("__nb")).collect()[0][0]
    assert hot >= 250  # fixture really is skewed

    salted = (
        b.join(F.broadcast(sizes), "__bkt")
        .withColumn(
            "__s",
            F.greatest(F.lit(1), F.ceil(F.col("__nb") / F.lit(cap))).cast("int"),
        )
        .withColumn("__salt", F.pmod(F.hash(F.col("__id")), F.col("__s")).cast("int"))
    )
    # replicate the operator's task fan-out and measure group sizes
    tasks = F.concat(
        F.transform(
            F.sequence(F.col("__salt"), F.col("__s") - 1),
            lambda j: F.struct(
                F.col("__salt").alias("sa"), j.cast("int").alias("sb")
            ),
        ),
        F.when(
            F.col("__salt") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("__salt") - 1),
                lambda i: F.struct(
                    i.cast("int").alias("sa"), F.col("__salt").alias("sb")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<sa:int,sb:int>>")),
    )
    per_task = (
        salted.select("__bkt", F.explode(tasks).alias("__t"))
        .groupBy("__bkt", "__t")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # hash salting is multinomial, not exact-equal split; 3x cap would
    # only trip if salting were broken outright
    assert per_task.agg(F.max("n_rows")).collect()[0][0] <= 3 * cap


def test_quantized_dot_tracks_exact_dot(spark, emb):
    """int8 codes reconstruct dot products within the scalar-quantization
    error envelope (~1% relative for unit-scale gaussian vectors)."""
    from sdg_big_data_spark.operators.similarity import (
        dequantize_dot,
        dot,
        quantize_embeddings,
    )

    sample = emb.limit(40)
    q = quantize_embeddings(sample)
    j = (
        sample.alias("x")
        .join(sample.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
        .join(
            q.select(
                F.col("vec_id").alias("xid"),
                F.col("codes").alias("ca"),
                F.col("scale").alias("sa"),
            ),
            F.col("x.vec_id") == F.col("xid"),
        )
        .join(
            q.select(
                F.col("vec_id").alias("yid"),
                F.col("codes").alias("cb"),
                F.col("scale").alias("sb"),
            ),
            F.col("y.vec_id") == F.col("yid"),
        )
        .select(
            dot(F.col("x.embedding"), F.col("y.embedding")).alias("exact"),
            dequantize_dot(
                F.col("ca"), F.col("sa"), F.col("cb"), F.col("sb")
            ).alias("approx"),
        )
    )
    rows = j.collect()
    assert len(rows) == 40 * 39 // 2
    import math

    for r in rows:
        # absolute envelope: d * scale_a * scale_b / 2-ish per term; with
        # 16 dims and ~N(0,1) entries a 0.15 absolute bound is generous
        # yet catches any broken scale/rounding
        assert math.isfinite(r["approx"])
        assert abs(r["approx"] - r["exact"]) < 0.15, (r["exact"], r["approx"])


def test_lsh_and_ivf_recall_vs_brute_force(spark, emb):
    """The approximate paths must actually retrieve: recall@5 vs the
    exact baseline, measured on the shared fixture. LSH with few planes
    and IVF probing half the cells should both clear 50% easily; a
    bucketing bug (wrong hash, empty probes) collapses recall to ~0."""
    from sdg_big_data_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    queries = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        hit = tot = 0
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for q, t in truth.items():
            tot += len(t)
            hit += len(t & got.get(q, set()))
        return hit / tot

    # Random gaussian vectors are the HARDEST case for sign-bit LSH (true
    # neighbors barely correlate, so same-bucket probability is near
    # chance) — the meaningful invariants are (a) far above the random-
    # chance floor (5 of ~400 ≈ 1.3%), (b) recall rises as buckets
    # coarsen (the documented n_planes recall/cost dial).
    r3 = recall(lsh_topk(emb, queries, dim=16, k=5, n_planes=3).collect())
    r1 = recall(lsh_topk(emb, queries, dim=16, k=5, n_planes=1).collect())
    assert r3 > 0.15, "LSH recall collapsed to chance"
    assert r1 > r3 - 0.05, "coarser buckets must not lose recall"
    assert r1 > 0.5

    corpus_lab = emb.withColumn("label", (F.col("vec_id") % 8).cast("int"))
    q_lab = queries.withColumn("label", (F.col("vec_id") % 8).cast("int"))
    ivf = ivf_topk(corpus_lab, q_lab, k=5, nprobe=4).collect()
    assert recall(ivf) > 0.5, "IVF recall collapsed"


def test_two_stage_quantized_retrieve_then_rescore(spark, emb):
    """The documented 100 TB pattern: retrieve a candidate pool with
    cheap int8 dots, rescore survivors with float cosine — final top-5
    must nearly match the all-float baseline."""
    import numpy as np

    from sdg_big_data_spark.operators.similarity import (
        brute_force_topk,
        dequantize_dot,
        quantize_embeddings,
    )
    from pyspark.sql.window import Window

    queries = emb.where(F.col("vec_id") < 5)
    q = quantize_embeddings(emb)
    qq = q.join(queries.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("codes").alias("qc"),
        F.col("scale").alias("qs"),
    )
    pool_w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    pool = (
        q.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("codes").alias("cc"),
            F.col("scale").alias("cs"),
        )
        .join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qdot", dequantize_dot(F.col("qc"), F.col("qs"), F.col("cc"), F.col("cs"))
        )
        .withColumn("prank", F.row_number().over(pool_w))
        .where(F.col("prank") <= 20)  # 4x over-retrieve
        .select("query_id", "neighbor_id")
    )
    # rescore pool in float
    from sdg_big_data_spark.operators.similarity import cosine

    vecs = emb.select(F.col("vec_id"), F.col("embedding"))
    rescored = (
        pool.join(vecs.withColumnRenamed("vec_id", "query_id").withColumnRenamed("embedding", "qv"), "query_id")
        .join(vecs.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("embedding", "cv"), "neighbor_id")
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    final = rescored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)

    exact = brute_force_topk(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in final.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(t) for t in truth.values())
    assert hits / total >= 0.8  # int8 first pass rarely loses a true top-5


# --- semantic dedup ---------------------------------------------------------


def test_semantic_dedup_drops_planted_neighbors(spark):
    """Plant two exact-duplicate groups in separate cells; the smallest id
    of each dup group survives, everything else in the group drops, and
    unrelated vectors are untouched."""
    from sdg_big_data_spark.operators.similarity import semantic_dedup

    base = [1.0] + [0.0] * 7
    other = [0.0] * 7 + [1.0]
    rows = [
        # cell 0: ids 10, 11, 12 identical (near-dups); 13 orthogonal
        (10, base, 0), (11, base, 0), (12, base, 0), (13, other, 0),
        # cell 1: ids 20, 21 identical; 22 orthogonal
        (20, base, 1), (21, base, 1), (22, other, 1),
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, cell int"
    )
    out = semantic_dedup(df, threshold=0.99)
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert kept == {10: 1, 11: 0, 12: 0, 13: 1, 20: 1, 21: 0, 22: 1}


def test_semantic_dedup_is_cell_local(spark):
    """Identical vectors in DIFFERENT cells never see each other — the
    clustering bounds the pair space (recall is the clustering's job)."""
    from sdg_big_data_spark.operators.similarity import semantic_dedup

    v = [1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, v, 0), (2, v, 1)],
        schema="vec_id long, embedding array<float>, cell int",
    )
    out = semantic_dedup(df, threshold=0.9)
    assert {r["kept"] for r in out.collect()} == {1}


class TestProductQuantization:
    """PQ codebooks / encode / ADC top-k (similarity.train_pq_codebooks,
    pq_encode, pq_adc_topk)."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # 4 well-separated clusters in 16-dim: PQ with per-label
        # codebooks must reconstruct cluster membership exactly
        rng = np.random.default_rng(11)
        centers = rng.normal(0, 10, (4, 16))
        rows = []
        for i in range(200):
            lab = i % 4
            v = centers[lab] + rng.normal(0, 0.1, 16)
            rows.append((i, int(lab), [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )

    def _codebooks(self, spark, clustered, m=4, dim=16):
        from sdg_big_data_spark.operators import similarity

        return similarity.collect_pq_codebooks(
            similarity.train_pq_codebooks(clustered, m=m, dim=dim)
        )

    def test_encode_recovers_cluster_labels(self, spark, clustered):
        from sdg_big_data_spark.operators import similarity

        cbs = self._codebooks(spark, clustered)
        out = similarity.pq_encode(clustered, cbs).collect()
        # tight clusters: every subspace code == true label
        for r in out:
            assert r["pq_code"] == [r["label"]] * 4

    def test_encode_is_map_only(self, spark, clustered):
        from sdg_big_data_spark.operators import similarity

        cbs = self._codebooks(spark, clustered)
        plan = (
            similarity.pq_encode(clustered, cbs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan  # codebook rides as literals
        assert "Join" not in plan

    def test_adc_topk_finds_same_cluster(self, spark, clustered):
        from sdg_big_data_spark.operators import similarity

        cbs = self._codebooks(spark, clustered)
        codes = similarity.pq_encode(clustered, cbs).select(
            "vec_id", "pq_code"
        )
        queries = clustered.where(F.col("vec_id") < 4)
        out = similarity.pq_adc_topk(codes, queries, cbs, k=5).collect()
        labels = {
            r["vec_id"]: r["label"]
            for r in clustered.select("vec_id", "label").collect()
        }
        assert len(out) == 4 * 5
        for r in out:
            # every retrieved neighbor shares the query's cluster
            assert labels[r["neighbor_id"]] == labels[r["query_id"]]

    def test_adc_distance_matches_numpy_lut(self, spark, clustered):
        import numpy as np

        from sdg_big_data_spark.operators import similarity

        cbs = self._codebooks(spark, clustered)
        codes_df = similarity.pq_encode(clustered, cbs)
        queries = clustered.where(F.col("vec_id") == 0)
        out = similarity.pq_adc_topk(
            codes_df.select("vec_id", "pq_code"), queries, cbs, k=3
        ).collect()
        qv = np.array(
            clustered.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        )
        codes = {r["vec_id"]: r["pq_code"] for r in codes_df.collect()}
        cb = {
            (j, c): np.array(cent)
            for j, book in enumerate(cbs)
            for c, cent in book
        }
        for r in out:
            expect = sum(
                float(
                    np.sum(
                        (qv[j * 4: (j + 1) * 4] - cb[(j, codes[r["neighbor_id"]][j])]) ** 2
                    )
                )
                for j in range(4)
            )
            assert abs(r["adc_dist"] - expect) < 1e-9


def test_class_prototypes_normalized_and_exact(spark):
    import numpy as np

    from sdg_big_data_spark.operators.similarity import class_prototypes

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]), (0, [0.0, 1.0, 0.0, 0.0]),
        (1, [2.0, 2.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero class passes through
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    got = {r["label"]: np.array(r["prototype"]) for r in class_prototypes(df, "label").collect()}
    want0 = np.array([0.5, 0.5, 0, 0]); want0 = want0 / np.linalg.norm(want0)
    assert np.allclose(got[0], want0)
    assert abs(np.linalg.norm(got[1]) - 1.0) < 1e-12
    assert np.allclose(got[2], 0.0)


class TestMmrRerank:
    def _frame(self, spark):
        # query 0 at [1,0,0]; (1,2) are near-duplicates of each other,
        # equally relevant; (3) is exactly as relevant as (1) but far
        # from it — rel(3)=0.8, sim(3,1)=0.28, sim(2,1)≈0.99995
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.8, 0.6, 0.0]),
            (2, [0.8, 0.6, 0.01]),
            (3, [0.8, -0.6, 0.0]),
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_lambda_one_is_pure_relevance(self, spark):
        from sdg_big_data_spark.operators.similarity import (
            brute_force_topk, mmr_rerank,
        )

        emb = self._frame(spark)
        q = emb.where(F.col("vec_id") == 0)
        rel = [
            r["neighbor_id"]
            for r in brute_force_topk(emb, q, k=3)
            .orderBy("rank").collect()
        ]
        mmr = [
            r["neighbor_id"]
            for r in mmr_rerank(emb, q, k_candidates=3, k_select=3, lam=1.0)
            .orderBy("mmr_rank").collect()
        ]
        assert mmr == rel

    def test_diversifies_against_near_duplicates(self, spark):
        from sdg_big_data_spark.operators.similarity import mmr_rerank

        emb = self._frame(spark)
        q = emb.where(F.col("vec_id") == 0)
        out = [
            r["neighbor_id"]
            for r in mmr_rerank(emb, q, k_candidates=3, k_select=2, lam=0.5)
            .orderBy("mmr_rank").collect()
        ]
        # rank 1 = most relevant (1); rank 2 skips its near-copy (2)
        # for the diverse vector (3)
        assert out == [1, 3]

    def test_k_select_capped_by_candidates(self, spark):
        from sdg_big_data_spark.operators.similarity import mmr_rerank

        emb = self._frame(spark)
        q = emb.where(F.col("vec_id") == 0)
        out = mmr_rerank(emb, q, k_candidates=3, k_select=10).collect()
        assert len(out) == 3
        assert sorted(r["mmr_rank"] for r in out) == [1, 2, 3]

    def test_single_candidate_query_returns_rank_one(self, spark):
        # k_candidates=1 -> the within-query pair join is empty; the
        # query must still emit its rank-1 selection (the SQL oracle
        # does), not vanish from the output
        from sdg_big_data_spark.operators.similarity import mmr_rerank

        emb = self._frame(spark)
        q = emb.where(F.col("vec_id") == 0)
        out = mmr_rerank(emb, q, k_candidates=1, k_select=5).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["query_id"], r["neighbor_id"], r["mmr_rank"]) == (0, 1, 1)


class TestTruncatedRerank:
    def test_full_truncation_equals_brute_force(self, spark):
        from sdg_big_data_spark.operators.similarity import (
            brute_force_topk, truncated_rerank_topk,
        )
        import numpy as np

        rng = np.random.RandomState(11)
        rows = [(i, rng.randn(8).tolist()) for i in range(40)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = emb.where(F.col("vec_id") < 2)
        # d_coarse = full dim and k_coarse = corpus -> identical to exact
        exact = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in brute_force_topk(emb, q, k=5).collect()
        )
        trunc = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in truncated_rerank_topk(
                emb, q, d_coarse=8, k_coarse=40, k=5
            ).collect()
        )
        assert trunc == exact

    def test_candidate_pruning_respected(self, spark):
        from sdg_big_data_spark.operators.similarity import (
            truncated_rerank_topk,
        )

        # coarse prefix [first dim] ranks vec 3 last -> with k_coarse=2
        # it cannot appear even though its full cosine is the best
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, -0.3, 0.0]),
            (2, [0.8, -0.4, 0.0]),
            (3, [0.1, 0.99, 0.0]),
        ]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = emb.where(F.col("vec_id") == 0)
        got = [
            r["neighbor_id"]
            for r in truncated_rerank_topk(
                emb, q, d_coarse=1, k_coarse=2, k=3
            ).orderBy("rank").collect()
        ]
        assert got == [1, 2]  # 3 pruned at the coarse stage


def test_pq_encode_matches_expression_form(spark, sf_dir):
    """The numpy encode must be code-for-code identical to the
    expression form (per-subspace interpreted fold + first-min
    argmin), and stay a map-only ArrowEvalPython projection."""
    from sdg_big_data_spark.functions.text import let
    from sdg_big_data_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cbs = similarity.collect_pq_codebooks(
        similarity.train_pq_codebooks(emb, m=4, dim=64)
    )
    sub = len(cbs[0][0][1])

    def expression_codes(df):  # the expression form, kept as the reference
        def argmin_code(d_arr, cells_arr):
            return let(
                d_arr,
                lambda a: F.element_at(
                    cells_arr, F.array_position(a, F.array_min(a)).cast("int")
                ),
            )

        codes = []
        for j, cb in enumerate(cbs):
            d_arr = similarity._sub_dist_arr(
                F.col("embedding"), j, sub, [cent for _, cent in cb]
            )
            codes.append(argmin_code(d_arr, F.lit([int(c) for c, _ in cb])))
        return df.withColumn("pq_ref", F.array(*codes))

    got = similarity.pq_encode(emb, cbs).select("vec_id", "pq_code")
    ref = expression_codes(emb).select("vec_id", "pq_ref")
    j = got.join(ref, "vec_id")
    bad = j.where(~F.col("pq_code").eqNullSafe(F.col("pq_ref"))).count()
    assert bad == 0, "numpy pq_encode diverged from the expression fold"
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    for node in ("Exchange", "Join", "BatchEvalPython"):
        assert node not in plan, f"pq_encode is no longer map-only: {node}"


def test_arrow_pair_scores_match_expression_forms(spark, sf_dir):
    """``dot_arrow``/``cosine_arrow`` must be BITWISE equal to the
    interpreted zip_with/aggregate folds they replaced (per-dimension
    index-order accumulation; eqNullSafe catches NaN and null parity)."""
    from sdg_big_data_spark.operators import similarity as S

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("cv")
    ).join(F.broadcast(q), F.col("qid") != F.col("nid"))
    both = pairs.select(
        "qid",
        "nid",
        S.cosine(F.col("qv"), F.col("cv")).alias("c_ref"),
        S.cosine_arrow(F.col("qv"), F.col("cv")).alias("c_new"),
        S.dot(F.col("qv"), F.col("cv")).alias("d_ref"),
        S.dot_arrow(F.col("qv"), F.col("cv")).alias("d_new"),
    )
    bad = both.where(
        ~F.col("c_ref").eqNullSafe(F.col("c_new"))
        | ~F.col("d_ref").eqNullSafe(F.col("d_new"))
    ).count()
    assert bad == 0, "Arrow pair kernels diverged from the expression folds"


def test_hyperplane_bucket_matches_expression_form(spark, sf_dir):
    """The vectorized bucket must reproduce the expression form's bucket
    for every row: same fold-order projections → same sign bits (and a
    null vector keeps bucket 0)."""
    from sdg_big_data_spark.operators import similarity as S

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))

    def expression_bucket(vec, dim, n_planes):  # the expression form
        bucket = F.lit(0).cast("long")
        for p in range(n_planes):
            comps = F.array(
                *[
                    F.lit(
                        (((p * 1_000_003 + j) * S._HP_MIX_A + S._HP_MIX_B)
                         % 2_000_001) / 1_000_000.0 - 1.0
                    )
                    for j in range(dim)
                ]
            )
            proj = S.dot(vec, comps)
            bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
        return bucket

    for n_planes in (4, 8):
        both = emb.select(
            expression_bucket(F.col("embedding"), 64, n_planes).alias("b_ref"),
            S.hyperplane_bucket(F.col("embedding"), 64, n_planes).alias("b_new"),
        )
        bad = both.where(~F.col("b_ref").eqNullSafe(F.col("b_new"))).count()
        assert bad == 0, f"bucket diverged at n_planes={n_planes}"


def test_lsh_bucket_udf_not_duplicated_by_join_null_filter(spark, sf_dir):
    """The planner derives an isnotnull() filter for the bucket
    equi-join key and, for a nullable UDF result, pushes it below the
    projection — evaluating the bucket UDF twice per side (observed as
    5 ArrowEvalPython nodes). ``hyperplane_bucket`` returns
    ``coalesce(udf, 0)``, which is non-nullable, so the derived filter
    folds away: one evaluation per side + one pair scorer."""
    from sdg_big_data_spark.operators import similarity as S

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = S.lsh_topk(emb, emb.where("vec_id < 5"), dim=64, k=5, n_planes=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = plan.count("ArrowEvalPython")
    assert n <= 3, f"bucket UDF duplicated again: {n} ArrowEvalPython nodes"
