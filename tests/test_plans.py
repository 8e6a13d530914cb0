"""Plan-quality regression gates — the physical plans we designed for
must survive refactors: filters pushed to scans, dimension joins
broadcast, no sort-merge or cartesian fallbacks, narrow read schemas.

These are the properties that decide 100 TB behavior; a silent
regression here is invisible at test scale and catastrophic at cluster
scale.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sdg_big_data_spark.plans import catalog


def _plan(spark, sf_dir, name: str) -> str:
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")  # no "..."
    qs = catalog.queries()
    df = qs[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "p_predicate_pushdown")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), plan


def test_threshold_indicator_pushes_score_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a11_threshold_indicator")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "GreaterThan" in pushed or "value" in pushed, plan


def test_multiway_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "j8_multiway_join")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_spatial_join_is_broadcast_hash(spark, sf_dir):
    """The two-phase grid join must plan as a broadcast hash join on the
    cell key — never a nested-loop/cartesian against the polygon side."""
    plan = _plan(spark, sf_dir, "sp_bbox_join")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_small_input_lift_preserves_pushdown_and_pruning(spark, sf_dir):
    """The S10 small-input lift repartitions the documents scan; filters
    and column pruning must still reach the parquet reader THROUGH the
    lift's round-robin Exchange (Catalyst pushes Filter/Project below
    Repartition), and the lift must actually widen the single-file,
    single-row-group scan beyond one partition."""
    from pyspark.sql import functions as F

    from sdg_big_data_spark.sources.readers import read_table

    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    docs = read_table(spark, sf_dir, "documents")
    q = docs.where(F.col("doc_id") > 100).select("doc_id", "lang")
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "GreaterThan" in pushed, plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(len(s.split(",")) <= 2 for s in schemas), plan
    if docs.rdd.getNumPartitions() > 1:  # lift engaged at this sf
        assert "Exchange RoundRobinPartitioning" in plan, plan


def test_scans_are_narrow(spark, sf_dir):
    """Column pruning: the pricing summary reads only the needed lineitem
    columns, not the full 7+-column table."""
    plan = _plan(spark, sf_dir, "a1_pricing_summary")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, plan
    # Q1 needs exactly 6 of lineitem's 16 columns — pruned, not full-width.
    assert all(len(s.split(",")) <= 6 for s in schemas), schemas


def test_lsh_candidates_no_cross_product(spark, sf_dir):
    """LSH near-dup generation must be an equi-join on the bucket, not an
    all-pairs product."""
    plan = _plan(spark, sf_dir, "e_near_dups")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dedup_encoders_never_broadcast_corpus_frames(spark, sf_dir):
    """r1 judge finding #2: the minhash/simhash encoders must not
    broadcast a corpus-derived dictionary. With hash encoding there is no
    dictionary at all — the LOGICAL plan must carry zero explicit
    broadcast hints (AQE may still choose broadcast at toy scale; an
    explicit hint is what forces it at 100 TB)."""
    for name in ("d_minhash_signatures", "d_minhash_lsh", "d_simhash", "d_simhash_pairs"):
        df = catalog.queries()[name](spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in logical.lower(), (name, logical)


def test_near_dup_verify_never_joins_on_shingle_alone(spark, sf_dir):
    """r1 judge finding #1: the Jaccard verify stage must not contain a
    join keyed on `shingle` only (that enumerates every co-shingle pair
    corpus-wide — quadratic on stop-word shingles). The candidate-walk
    form joins on (id_b, shingle); the only shingle-table joins allowed
    are candidate-restriction semi-joins."""
    from sdg_big_data_spark.pipelines import dataprep
    from sdg_big_data_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents")
    nd = dataprep.near_dup_removal(docs)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    plan = nd._jdf.queryExecution().executedPlan().toString()
    bad = re.findall(r"Join \[shingle#\d+[L]?\], \[shingle#\d+[L]?\],", plan)
    assert not bad, plan


def test_salted_join_matches_plain(spark):
    from pyspark.sql import functions as F

    from sdg_big_data_spark.operators.joins import salted_join

    big = spark.range(10_000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], schema="k long, tag string"
    )
    plain = big.join(small, "k").groupBy("tag").count()
    salted = salted_join(big, small, "k").groupBy("tag").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


class TestIntervalJoin:
    def _fixtures(self, spark):
        pts = spark.createDataFrame(
            [(1, 0, 10.0), (1, 100, 20.0), (1, 3600, 30.0), (1, 7199, 40.0),
             (2, 100, 50.0)],
            "k long, t long, v double",
        )
        iv = spark.createDataFrame(
            [
                (1, 100, 0, 7200),   # spans 2+ buckets; t=0 out, 7199 in
                (1, 101, 100, 101),  # just t=100
                (1, 102, 50, 50),    # degenerate: end == start -> empty
                (2, 103, 0, 99),     # end-exclusive: t=100 NOT in [0,99)
            ],
            "k long, iid long, s long, e long",
        )
        return pts, iv

    def test_semantics_boundaries_and_single_production(self, spark):
        from sdg_big_data_spark.operators.joins import interval_join

        pts, iv = self._fixtures(spark)
        out = interval_join(
            pts, iv, keys=["k"], point_col="t", start_col="s",
            end_col="e", bucket_width=3600,
        )
        pairs = sorted((r["iid"], r["t"]) for r in out.collect())
        # interval 100 = [0, 7200): t=0 start-inclusive, t=7199 = end-1 in;
        # interval 101 = [100, 101): exactly t=100;
        # 102 degenerate -> dropped; 103 = [0, 99): t=100 end-side out
        assert pairs == [(100, 0), (100, 100), (100, 3600), (100, 7199),
                         (101, 100)]
        # each qualifying pair exactly once despite multi-bucket explode
        assert len(pairs) == len(set(pairs))

    def test_no_cartesian_or_nested_loop(self, spark):
        from sdg_big_data_spark.operators.joins import interval_join

        pts, iv = self._fixtures(spark)
        out = interval_join(
            pts, iv, keys=["k"], point_col="t", start_col="s",
            end_col="e", bucket_width=3600,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_matches_naive_range_join(self, spark):
        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators.joins import interval_join

        pts = spark.range(500).select(
            (F.col("id") % 7).alias("k"),
            ((F.col("id") * 37) % 1000).alias("t"),
            F.lit(1.0).alias("v"),
        )
        iv = spark.range(60).select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("iid"),
            ((F.col("id") * 101) % 900).alias("s"),
            (((F.col("id") * 101) % 900) + (F.col("id") % 5) * 80).alias("e"),
        )
        fast = interval_join(
            pts, iv, keys=["k"], point_col="t", start_col="s",
            end_col="e", bucket_width=64,
        )
        naive = pts.join(iv.withColumnRenamed("k", "k2"),
                         (F.col("k") == F.col("k2"))
                         & (F.col("t") >= F.col("s"))
                         & (F.col("t") < F.col("e"))).drop("k2")
        a = sorted((r["iid"], r["k"], r["t"]) for r in fast.collect())
        b = sorted((r["iid"], r["k"], r["t"]) for r in naive.collect())
        assert a == b


def test_optimize_table_compacts(spark, tmp_path):
    from sdg_big_data_spark.sources.writers import optimize_table

    import os

    p = str(tmp_path / "frag")
    spark.range(1000).repartition(20).write.parquet(p)
    n_before = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    optimize_table(spark, p)
    n_after = len([f for f in os.listdir(p) if f.endswith(".parquet")])
    assert n_before == 20 and n_after == 1
    assert spark.read.parquet(p).count() == 1000


def test_optimize_table_preserves_partitioned_layout(spark, tmp_path):
    """Regression (ADVICE r1): compaction must keep the Hive ``date=``
    directories (per-leaf-dir rewrite), not flatten the table."""
    import os

    from pyspark.sql import functions as F

    from sdg_big_data_spark.sources.writers import optimize_table, write_partitioned

    p = str(tmp_path / "part")
    df = spark.range(400).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("date")
    )
    write_partitioned(df.repartition(10), p, ["date"])
    dirs_before = sorted(d for d in os.listdir(p) if d.startswith("date="))
    assert dirs_before == ["date=0", "date=1"]
    optimize_table(spark, p)
    dirs_after = sorted(d for d in os.listdir(p) if d.startswith("date="))
    assert dirs_after == dirs_before  # layout intact → pruning still works
    for d in dirs_after:
        n = len([f for f in os.listdir(os.path.join(p, d)) if f.endswith(".parquet")])
        assert n == 1
    back = spark.read.parquet(p)
    assert back.count() == 400
    assert "date" in back.columns  # partition column still derived from path
    assert back.where(F.col("date") == "0").count() == 200


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """S6+/J1 at scale: two tables bucketed on the join key by the same
    bucket count sort-merge-join with NO Exchange — the co-location is
    paid once at write time."""
    from pyspark.sql import functions as F

    from sdg_big_data_spark.sources.writers import write_bucketed

    a = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_a", 4, ["k"], sort_cols=["k"], path=str(tmp_path / "a"))
    write_bucketed(b, "bkt_b", 4, ["k"], sort_cols=["k"], path=str(tmp_path / "b"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle
        assert j.count() == 10_000
        # same join WITHOUT bucketing does shuffle both sides
        pa = spark.read.parquet(str(tmp_path / "a"))
        pb = spark.read.parquet(str(tmp_path / "b"))
        plain = pa.join(pb, "k")
        plan2 = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


# --- sketch + histogram operators -------------------------------------------


def test_hll_estimate_tolerance(spark):
    """Beyond the sparse-exact regime the HLL estimate must track the true
    cardinality within the published error bound (~1.04/sqrt(2^lg_k);
    assert a loose 3-sigma ~5% at lg_k=12 for 200k distincts)."""
    from sdg_big_data_spark.operators.relational import hll_distinct_rollup

    n = 200_000
    df = spark.range(n).selectExpr("id % 4 as g", "id as v")
    out = hll_distinct_rollup(df, ["g"], [], "v", lg_k=12)
    est = out.collect()[0]["approx_distinct"]
    assert abs(est - n) / n < 0.05


def test_hll_union_merges_partial_sketches(spark):
    """Mergeability — the property countDistinct lacks: the union of
    per-half sketches estimates the SAME value as one sketch over the
    whole data (identical sketch state, not merely close)."""
    import pyspark.sql.functions as F

    df = spark.range(50_000).selectExpr(
        "case when id < 25000 then 'a' else 'b' end as half", "id % 30000 as v"
    )
    whole = df.agg(F.hll_sketch_agg("v", F.lit(12)).alias("s")).select(
        F.hll_sketch_estimate("s").alias("e")
    ).collect()[0]["e"]
    merged = (
        df.groupBy("half")
        .agg(F.hll_sketch_agg("v", F.lit(12)).alias("s"))
        .agg(F.hll_union_agg("s").alias("s"))
        .select(F.hll_sketch_estimate("s").alias("e"))
        .collect()[0]["e"]
    )
    assert whole == merged


def test_histogram_counts_cover_all_rows(spark):
    from sdg_big_data_spark.operators.relational import equi_width_histogram

    df = spark.range(1000).selectExpr("cast(id as double) as x")
    out = equi_width_histogram(df, "x", 7).collect()
    assert sum(r["n"] for r in out) == 1000
    assert len(out) == 7
    buckets = sorted(r["bucket"] for r in out)
    assert buckets == list(range(7))


def test_histogram_degenerate_single_value(spark):
    from sdg_big_data_spark.operators.relational import equi_width_histogram

    df = spark.range(5).selectExpr("cast(42 as double) as x")
    out = equi_width_histogram(df, "x", 4).collect()
    assert len(out) == 1 and out[0]["bucket"] == 0 and out[0]["n"] == 5


def test_theta_overlap_tolerance(spark):
    """Beyond the exact regime, theta set-operation estimates stay within
    a loose relative band (intersection error compounds — allow 10%)."""
    from sdg_big_data_spark.operators.relational import theta_set_overlap

    df = spark.range(200_000).selectExpr(
        "case when id < 100000 then 'a' else 'b' end as side",
        # a: 0..99999, b: 50000..149999 -> true intersection 50000
        "case when id < 100000 then id else id - 50000 end as v",
    )
    r = theta_set_overlap(df, "v", "side", "a", "b").collect()[0]
    assert abs(r["n_a"] - 100_000) / 100_000 < 0.05
    assert abs(r["n_intersection"] - 50_000) / 50_000 < 0.10
    assert abs(r["n_union"] - 150_000) / 150_000 < 0.05


def test_kll_rollup_rank_error(spark):
    """Merged-sketch quantiles respect the KLL rank-error bound: the
    returned p50/p99 must sit within ~2% RANK distance of the true
    quantile of 0..n-1 (value == rank for this fixture)."""
    from sdg_big_data_spark.operators.relational import kll_quantile_rollup

    n = 100_000
    df = spark.range(n).selectExpr("id % 16 as g", "cast(id as double) as x")
    r = kll_quantile_rollup(df, ["g"], [], "x", [0.5, 0.99]).collect()[0]
    assert r["n"] == n
    assert abs(r["q_0_5"] - 0.5 * n) / n < 0.02
    assert abs(r["q_0_99"] - 0.99 * n) / n < 0.02


class TestFuzzyJoin:
    """joins.fuzzy_join — blocked edit-distance record linkage."""

    def _mk(self, spark):
        left = spark.createDataFrame(
            [(1, "smith"), (2, "smyth"), (3, "jones"), (4, "smithe")],
            "lid long, lname string",
        )
        right = spark.createDataFrame(
            [(10, "smith"), (11, "johns")], "rid long, rname string"
        )
        return left, right

    def test_refine_bounds_distance(self, spark):
        from sdg_big_data_spark.operators import joins

        left, right = self._mk(spark)
        # block on first char: smith/smyth/smithe vs smith; jones vs johns
        out = joins.fuzzy_join(
            left, right, "lname", "rname", max_dist=1,
            block_key=lambda c: F.substring(c, 1, 1),
        )
        got = {(r["lname"], r["rname"], r["edit_dist"]) for r in out.collect()}
        assert got == {("smith", "smith", 0), ("smyth", "smith", 1),
                       ("smithe", "smith", 1)}

    def test_blocking_skips_cross_block_pairs(self, spark):
        from sdg_big_data_spark.operators import joins

        left, right = self._mk(spark)
        # block on length: "jones"(5) vs "johns"(5) compared; smithe(6)
        # never compared to smith(5) even though dist 1
        out = joins.fuzzy_join(
            left, right, "lname", "rname", max_dist=2,
            block_key=F.length,
        )
        got = {(r["lname"], r["rname"]) for r in out.collect()}
        assert ("smithe", "smith") not in got
        assert ("jones", "johns") in got

    def test_no_nested_loop_in_plan(self, spark):
        from sdg_big_data_spark.operators import joins

        left, right = self._mk(spark)
        out = joins.fuzzy_join(
            left, right, "lname", "rname", max_dist=2,
            block_key=F.length,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoop" not in plan
        assert "Cartesian" not in plan


class TestRuntimeBloomFilterPruning:
    """The session leaves Spark 4's runtime bloom-filter join pruning ON
    (session.py docstring): a selective dim-side filter injects a bloom
    prefilter into the fact side of a shuffle join BEFORE the shuffle —
    the idiomatic engine-level form of a hand-built bloom semi-join.
    Its size thresholds (creation <= 10 MB, probe scan >= 10 GB) target
    exactly the 100 TB shapes and never local fixtures, so this gate
    lowers them to prove the rewrite fires and pushes the filter below
    the Exchange."""

    def test_fires_and_prunes_before_shuffle(self, spark, tmp_path):
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
                "10GB",
            )
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "0",
            )
            # force a shuffle join: broadcast joins don't need the bloom
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

            fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
            spark.range(0, 100_000).withColumn(
                "k", F.col("id") % 1000
            ).write.parquet(fact_p)
            spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
                "flag", F.col("k") % 97
            ).write.parquet(dim_p)

            fact = spark.read.parquet(fact_p)
            dim = spark.read.parquet(dim_p).where(F.col("flag") == 0)
            j = fact.join(dim, "k")

            opt = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in opt and "might_contain" in opt
            # the might_contain filter must sit on the fact SCAN side,
            # i.e. appear in the executed plan below the join
            ex = j._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in ex
            # and the join result is still exact
            assert j.count() == fact.where((F.col("k") % 97) == 0).count()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def test_group_topk_plans_window_group_limit(spark, sf_dir):
    """o_group_topk's rank<=k filter must push into the sort as
    WindowGroupLimit — each map task keeps k rows per key BEFORE the
    exchange, so the shuffle carries ~k x groups rows, not the corpus."""
    from sdg_big_data_spark.plans import catalog

    catalog._load_all()
    p = (
        catalog.REGISTRY["o_group_topk"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in p


def test_fuzzy_join_soundex_blocking(spark):
    """The blocker is pluggable: soundex blocking links phonetic variants
    (smith/smyth share S530) that the default prefix blocker would split
    across blocks — and the plan stays a hash equi-join."""
    import pyspark.sql.functions as F

    from sdg_big_data_spark.operators.joins import fuzzy_join

    left = spark.createDataFrame(
        [(1, "smith"), (2, "smyth"), (3, "jones")], "lid long, lname string"
    )
    right = spark.createDataFrame(
        [(10, "smith"), (11, "jonas")], "rid long, rname string"
    )
    out = fuzzy_join(
        left, right, "lname", "rname", max_dist=2, block_key=F.soundex
    )
    pairs = {(r["lid"], r["rid"]) for r in out.collect()}
    assert (1, 10) in pairs and (2, 10) in pairs  # smyth~smith via S530
    assert (3, 11) in pairs  # jones~jonas via J520
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_ssjoin_prefix_is_equi_join_all_the_way(spark, sf_dir):
    """The exact set-similarity join must stay equi-joins end-to-end:
    prefix-token candidate join, df join-back, and array verify join-back
    — no cartesian/nested-loop stage anywhere in the executed plan."""
    plan = _plan(spark, sf_dir, "d_ssjoin_prefix")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q10_broadcasts_nation_and_pushes_filters(spark, sf_dir):
    from sdg_big_data_spark.plans.catalog import REGISTRY, _load_all

    _load_all()
    q = REGISTRY["tpch_q10_returns"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # returnflag + date predicates reach the parquet scans
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan


def test_tpch_q18_semi_join_prunes_orders(spark, sf_dir):
    from sdg_big_data_spark.plans.catalog import REGISTRY, _load_all

    _load_all()
    q = REGISTRY["tpch_q18_big_orders"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_tpch_q8_star_join_broadcasts_all_dimensions(spark, sf_dir):
    """Q8's six-table star: part/customer-region/supplier-nation all ride
    in as broadcasts; the only shuffle joins are fact-fact
    (lineitem-orders). The part type predicate reaches its scan."""
    plan = _plan(spark, sf_dir, "tpch_q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "PushedFilters" in plan and "p_type" in plan, plan


def test_tpch_q21_is_aggregate_decorrelated(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS must stay the decorrelated two-aggregate
    form — no nested-loop or cartesian probe anywhere."""
    plan = _plan(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_psi_drift_single_corpus_histogram_pass(spark, sf_dir):
    """dq_psi_drift: the bin histogram is map-side combined (partial
    aggregate before the exchange), the edges ride as LITERAL codegen
    comparisons (no interpreted higher-order filter — measured 81 of
    96 s at 100x before the literal form), and nothing joins the corpus
    to anything."""
    plan = _plan(spark, sf_dir, "dq_psi_drift")
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert "ArrayFilter" not in plan and "lambdafunction" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop join is the 1-row totals frame riding back
    # onto the k-row histogram (the repo-wide scalar-broadcast pattern)
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_gate_chain_evaluates_featurizer_once(spark, sf_dir):
    """The curation gates (quality_gate -> language_gate) must keep
    their featurizers OUT of the Filter nodes: PushDownPredicates used
    to substitute the q_score / lang_pred alias chains into the Filter,
    re-running the tokenizer 25x per row (271 s vs ~96 s sum-of-parts
    at the 100x fixture). The pushdown_barrier pins it: tokenizer runs
    exactly twice overall (quality counters + lang-id), zero times
    inside any Filter."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    from sdg_big_data_spark.plans import catalog

    df = catalog.queries()["s_gate_replay"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if line.lstrip("+- :").startswith("Filter"):
            assert "regexp_replace" not in line, line
    # 2 tokenize sites + 1 punctuation regex = 3; anything more means an
    # optimizer rule re-inlined a featurizer copy somewhere
    assert plan.count("regexp_replace") <= 3, plan.count("regexp_replace")


class TestHllSlidingDistinct:
    def test_exact_in_sparse_regime_and_window_semantics(self, spark):
        import datetime as dt

        from sdg_big_data_spark.operators.relational import (
            hll_sliding_distinct,
        )

        rows = []
        d0 = dt.datetime(2024, 1, 1)
        # day 0: users 0..9; day 1: users 5..14; day 9: user 99 only
        for u in range(10):
            rows.append((d0, u))
        for u in range(5, 15):
            rows.append((d0 + dt.timedelta(days=1), u))
        rows.append((d0 + dt.timedelta(days=9), 99))
        df = spark.createDataFrame(rows, "ts timestamp, user_id long")
        out = {
            str(r["day"]): r["approx_distinct"]
            for r in hll_sliding_distinct(
                df, "ts", "user_id", window_days=3
            ).collect()
        }
        # trailing windows: day0 sees only day0; day1 sees day0+day1
        assert out["2024-01-01"] == 10
        assert out["2024-01-02"] == 15
        # day9 is beyond every earlier window: only its own user
        assert out["2024-01-10"] == 1
        # no rows for days with no data (day2 would see day0+day1 but
        # is not in the input)
        assert set(out) == {"2024-01-01", "2024-01-02", "2024-01-10"}


class TestIntervalOverlapJoin:
    def _run(self, spark, left_rows, right_rows, w=10):
        from sdg_big_data_spark.operators.joins import interval_overlap_join

        l = spark.createDataFrame(left_rows, "k long, lid long, ls long, le long")
        r = spark.createDataFrame(right_rows, "k long, rid long, rs long, re long")
        out = interval_overlap_join(
            l, r, keys=["k"], l_start="ls", l_end="le",
            r_start="rs", r_end="re", bucket_width=w,
        )
        return sorted((x["lid"], x["rid"]) for x in out.collect())

    def test_exactly_once_across_many_shared_buckets(self, spark):
        # both intervals span many buckets; the pair must appear ONCE
        got = self._run(
            spark,
            [(1, 1, 0, 100)],
            [(1, 2, 5, 95)],
            w=10,
        )
        assert got == [(1, 2)]

    def test_half_open_touching_intervals_do_not_overlap(self, spark):
        got = self._run(spark, [(1, 1, 0, 10)], [(1, 2, 10, 20)])
        assert got == []

    def test_boundary_and_key_semantics(self, spark):
        got = self._run(
            spark,
            [(1, 1, 0, 10), (2, 2, 0, 10)],
            [(1, 3, 9, 15), (1, 4, 20, 30), (2, 5, -5, 1)],
        )
        # (1,3): overlaps by 1; (1,4): disjoint; (2,5): negative start,
        # overlaps [0,1)
        assert got == [(1, 3), (2, 5)]

    def test_degenerate_intervals_dropped(self, spark):
        got = self._run(spark, [(1, 1, 5, 5)], [(1, 2, 0, 10)])
        assert got == []

    def test_differential_vs_quadratic_join(self, spark):
        import random

        rng = random.Random(13)
        left, right = [], []
        for i in range(120):
            k = rng.randint(1, 4)
            s = rng.randint(-50, 200)
            left.append((k, i, s, s + rng.randint(1, 60)))
        for j in range(120):
            k = rng.randint(1, 4)
            s = rng.randint(-50, 200)
            right.append((k, 1000 + j, s, s + rng.randint(1, 60)))
        expected = sorted(
            (l[1], r[1])
            for l in left for r in right
            if l[0] == r[0] and l[2] < r[3] and r[2] < l[3]
        )
        assert self._run(spark, left, right, w=16) == expected


class TestAutoBlockDigits:
    def test_widths(self):
        from sdg_big_data_spark.operators.joins import auto_block_digits

        assert auto_block_digits(0) == 3
        assert auto_block_digits(1500) == 3          # sf0.01 customer
        assert auto_block_digits(150_000) == 3       # 10x
        assert auto_block_digits(500_000) == 3       # exactly 1000 blocks
        assert auto_block_digits(500_001) == 4       # first width-4 corpus
        assert auto_block_digits(1_500_000) == 4     # 100x customer
        assert auto_block_digits(5_000_001) == 5

    def test_matches_oracle_integer_arithmetic(self):
        # the j_fuzzy_match oracle recomputes k in SQL; the two integer
        # formulas must agree for EVERY corpus size, not just fixtures
        import duckdb

        from sdg_big_data_spark.operators.joins import auto_block_digits

        con = duckdb.connect()
        ns = [1, 499, 500, 501, 1500, 15_000, 150_000, 499_999,
              500_000, 500_001, 1_500_000, 49_999_999, 50_000_001]
        for n in ns:
            (k_sql,) = con.execute(
                "SELECT GREATEST(3, length(CAST("
                f"GREATEST(1, ({n} + 499) // 500) - 1 AS VARCHAR)))"
            ).fetchone()
            assert k_sql == auto_block_digits(n), n

    def test_auto_default_blocks_on_trailing_digits(self, spark):
        from sdg_big_data_spark.operators.joins import fuzzy_join

        left = spark.createDataFrame(
            [(i, f"Customer#{i:09d}") for i in range(1, 30)],
            "lid long, lname string",
        )
        right = spark.createDataFrame(
            [(i, f"Customer#{i:09d}") for i in range(1, 30, 7)],
            "rid long, rname string",
        )
        auto = fuzzy_join(left, right, "lname", "rname", max_dist=0)
        explicit = fuzzy_join(
            left, right, "lname", "rname", max_dist=0,
            block_key=lambda c: F.substring(c, -3, 3),
        )
        a = {(r["lid"], r["rid"]) for r in auto.collect()}
        e = {(r["lid"], r["rid"]) for r in explicit.collect()}
        assert a == e == {(i, i) for i in range(1, 30, 7)}


class TestFuzzyJoinLeftOuter:
    def test_left_outer_keeps_unmatched_rows(self, spark):
        # the naive join(how)+refine spelling silently dropped unmatched
        # left rows (null distance fails `>= 0`), degrading left joins
        # to inner — the two-phase form keeps them null-extended
        from sdg_big_data_spark.operators.joins import fuzzy_join

        left = spark.createDataFrame(
            [(1, "smith"), (2, "smyth"), (3, "zzzzz")],
            "lid long, lname string",
        )
        right = spark.createDataFrame(
            [(10, "smith")], "rid long, rname string"
        )
        out = fuzzy_join(
            left, right, "lname", "rname", max_dist=1, how="left",
            block_key=lambda c: F.substring(c, 1, 1),
        ).collect()
        rows = {r["lid"]: r for r in out}
        assert set(rows) == {1, 2, 3}
        assert rows[1]["rid"] == 10 and rows[1]["edit_dist"] == 0
        assert rows[2]["rid"] == 10 and rows[2]["edit_dist"] == 1
        assert rows[3]["rid"] is None and rows[3]["edit_dist"] is None

    def test_blocked_but_refine_failed_row_still_kept(self, spark):
        # a left row that shares a block but fails the distance bound is
        # STILL an unmatched left row — it must survive with nulls
        from sdg_big_data_spark.operators.joins import fuzzy_join

        left = spark.createDataFrame([(1, "sabcde")], "lid long, lname string")
        right = spark.createDataFrame([(10, "sxxxxx")], "rid long, rname string")
        out = fuzzy_join(
            left, right, "lname", "rname", max_dist=1, how="left",
            block_key=lambda c: F.substring(c, 1, 1),
        ).collect()
        assert len(out) == 1
        assert out[0]["lid"] == 1 and out[0]["rid"] is None

    def test_unsupported_how_raises(self, spark):
        from sdg_big_data_spark.operators.joins import fuzzy_join

        left = spark.createDataFrame([(1, "a")], "lid long, lname string")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="fuzzy_join supports"):
            fuzzy_join(left, left, "lname", "lname", 1, how="full")


def test_salted_join_left_outer_and_rejected_hows(spark):
    from sdg_big_data_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, tag string"
    )
    small = spark.createDataFrame([(1, "x")], "k long, dim string")
    out = salted_join(big, small, "k", how="left").collect()
    rows = {r["tag"]: r["dim"] for r in out}
    # every big row exactly once; unmatched ones null-extended once
    assert len(out) == 3 and rows == {"a": "x", "b": None, "c": None}
    import pytest as _pytest

    # right/full outer would null-extend each unmatched small row once
    # per salt replica — rejected loudly instead of silently duplicating
    for bad in ("right", "full", "outer"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how=bad)


def test_plan_shapes_match_record():
    """Every catalog query's plan shape — physical node counts and
    interpreted-lambda sites — matches the committed
    ``PLAN_SHAPES.json``, and no query is a duplication suspect. The
    walk runs in a fresh interpreter: a cold session, like the one that
    wrote the record, so this suite's caches and memos cannot shift it.
    After an intended shape change, re-run ``python
    tools/plan_shapes.py`` and commit the record."""
    import subprocess
    import sys
    from pathlib import Path

    proc = subprocess.run(
        [sys.executable, "tools/plan_shapes.py", "--check"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
