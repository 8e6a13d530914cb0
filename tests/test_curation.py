"""Unit tests for the corpus-curation operators (operators/quality.py):
repetition signals, PII scrubbing, domain-mixture weighting, and the
calibration diagnostics — hand-computed expectations on tiny fixtures
(the catalog oracle parity covers the full-table forms)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sdg_big_data_spark.operators import evaluation, quality


def _rows(df):
    return [r.asDict() for r in df.collect()]


class TestRepetitionSignals:
    def test_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                # 6 tokens, 3 distinct; bigrams: "a b","b a","a b","b c","c c"
                # top = "a b" x2 -> frac 2*2/6
                (1, "a b a b c c"),
                # all distinct, every bigram unique -> top is the first
                # lexicographically among count-1 ties
                (2, "x y z"),
                (3, ""),  # empty -> zero signals, NULL bigram
                (4, "solo"),  # one token -> no bigram
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in _rows(quality.repetition_signals(df, "doc_id", "text"))
        }
        r1 = out[1]
        assert r1["n_tokens"] == 6
        assert r1["dup_token_frac"] == pytest.approx(1 - 3 / 6)
        assert r1["top_bigram"] == "a b"
        assert r1["top_bigram_frac"] == pytest.approx(4 / 6)
        r2 = out[2]
        assert r2["dup_token_frac"] == pytest.approx(0.0)
        assert r2["top_bigram"] == "x y"  # smallest gram wins the tie
        assert r2["top_bigram_frac"] == pytest.approx(2 / 3)
        assert out[3]["n_tokens"] == 0
        assert out[3]["top_bigram"] is None
        assert out[3]["top_bigram_frac"] == 0.0
        assert out[4]["top_bigram"] is None

    def test_degenerate_page_saturates(self, spark):
        df = spark.createDataFrame(
            [(1, "spam spam spam spam")], "doc_id long, text string"
        )
        (r,) = _rows(quality.repetition_signals(df, "doc_id", "text"))
        assert r["dup_token_frac"] == pytest.approx(0.75)
        # 3 overlapping "spam spam" occurrences over 4 tokens -> 1.5
        assert r["top_bigram_frac"] == pytest.approx(1.5)


class TestScrubPii:
    def test_counts_and_masking(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a.user@example.org and b_2@test.co now"),
                (2, "call +1-555-0134 or +1-555-9999"),
                (3, "clean text with no identifiers"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in _rows(quality.scrub_pii(df, "doc_id", "text"))}
        assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 0
        assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
        assert out[2]["n_phone"] == 2 and out[2]["n_email"] == 0
        assert out[2]["clean_text"] == "call <PHONE> or <PHONE>"
        assert out[3]["clean_text"] == "clean text with no identifiers"

    def test_no_python_udf_in_plan(self, spark):
        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = quality.scrub_pii(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestMixtureWeights:
    def test_rates_and_cap(self, spark):
        # srcA: 10 tokens, srcB: 2 tokens, srcC unweighted
        df = spark.createDataFrame(
            [
                (1, "srcA", "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
                (2, "srcB", "u1 u2"),
                (3, "srcC", "v1 v2 v3"),
            ],
            "doc_id long, source string, text string",
        )
        out = {
            r["source"]: r
            for r in _rows(
                quality.mixture_weights(
                    df, {"srcA": 0.5, "srcB": 0.5}, budget_tokens=8
                )
            )
        }
        # srcA: wants 4 of 10 -> rate .4, expected 4
        assert out["srcA"]["rate"] == pytest.approx(0.4)
        assert out["srcA"]["expected_tokens"] == 4
        # srcB: wants 4 but only has 2 -> capped at 1.0, shortfall visible
        assert out["srcB"]["rate"] == 1.0
        assert out["srcB"]["expected_tokens"] == 2
        # srcC: no target share -> excluded entirely
        assert out["srcC"]["share"] == 0.0
        assert out["srcC"]["expected_tokens"] == 0


class TestCalibration:
    def test_perfectly_sharp_predictor(self, spark):
        # p in {0.05, 0.95} predicting y exactly -> brier = ece = per-bin gap
        rows = [(0.05, 0) for _ in range(10)] + [(0.95, 1) for _ in range(10)]
        df = spark.createDataFrame(rows, "p double, y int")
        out = _rows(evaluation.calibration(df, "y", "p"))
        by_bin = {r["bin"]: r for r in out}
        assert set(by_bin) == {0, 9}
        assert by_bin[0]["conf"] == pytest.approx(0.05)
        assert by_bin[0]["acc"] == 0.0
        assert by_bin[9]["acc"] == 1.0
        # brier = mean(0.05^2) ; ece = mean |conf-acc| = 0.05
        assert out[0]["brier"] == pytest.approx(0.0025)
        assert out[0]["ece"] == pytest.approx(0.05)

    def test_edge_bin_assignment(self, spark):
        df = spark.createDataFrame(
            [(0.0, 0), (1.0, 1), (0.999, 1)], "p double, y int"
        )
        out = {r["bin"]: r for r in _rows(evaluation.calibration(df, "y", "p"))}
        assert out[0]["n"] == 1  # p=0.0 -> bin 0
        assert out[9]["n"] == 2  # p=1.0 clamps into bin 9

    def test_brier_matches_direct(self, spark):
        rows = [((i * 37 % 100) / 100.0, i % 2) for i in range(200)]
        df = spark.createDataFrame(rows, "p double, y int")
        out = _rows(evaluation.calibration(df, "y", "p"))
        direct = sum((p - y) ** 2 for p, y in rows) / len(rows)
        assert out[0]["brier"] == pytest.approx(direct, rel=1e-9)
        assert 0.0 <= out[0]["ece"] <= 1.0
        assert not math.isnan(out[0]["ece"])


class TestContamination:
    def test_hand_computed(self, spark):
        from sdg_big_data_spark.operators.dedup import contamination_overlap

        train = spark.createDataFrame(
            [
                (1, "a b c d"),       # shingles: abc bcd -> 1 overlap (abc)
                (2, "x y z"),         # xyz -> no overlap
                (3, "a b c a b c"),   # distinct shingles incl 'a b c' -> hit
                (4, "t u"),           # too short: 0 shingles
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "a b c q r s")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in contamination_overlap(
                train, bench, "doc_id", "text"
            ).collect()
        }
        assert out[1]["n_shingles"] == 2 and out[1]["n_overlap"] == 1
        assert out[1]["contamination"] == pytest.approx(0.5)
        assert out[2]["n_overlap"] == 0
        assert out[3]["n_overlap"] >= 1
        assert out[4]["n_shingles"] == 0
        assert out[4]["contamination"] == 0.0
        assert len(out) == 4  # every train doc reported

    def test_broadcast_plan(self, spark):
        from sdg_big_data_spark.operators.dedup import contamination_overlap

        train = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        bench = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
        plan = (
            contamination_overlap(train, bench, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan


class TestNdcg:
    def test_perfect_ranking(self, spark):
        from sdg_big_data_spark.operators.evaluation import ndcg_at_k

        rows = [(i, 1.0 - i / 10.0, 1 if i < 3 else 0) for i in range(10)]
        df = spark.createDataFrame(rows, "id long, s double, y int")
        (r,) = ndcg_at_k(df, "y", "s", "id", k=5).collect()
        # positives occupy ranks 1-3 exactly -> dcg == idcg
        assert r["n_pos"] == 3
        assert r["ndcg"] == pytest.approx(1.0)

    def test_worst_ranking_and_zero_pos(self, spark):
        from sdg_big_data_spark.operators.evaluation import ndcg_at_k
        import math

        rows = [(i, 1.0 - i / 10.0, 1 if i >= 8 else 0) for i in range(10)]
        df = spark.createDataFrame(rows, "id long, s double, y int")
        (r,) = ndcg_at_k(df, "y", "s", "id", k=5).collect()
        # positives at ranks 9,10 -> outside top-5 -> dcg 0
        assert r["dcg"] == 0.0 and r["ndcg"] == 0.0
        assert r["idcg"] == pytest.approx(1.0 + 1.0 / math.log2(3))

        none = spark.createDataFrame([(1, 0.5, 0)], "id long, s double, y int")
        (z,) = ndcg_at_k(none, "y", "s", "id", k=5).collect()
        assert z["ndcg"] == 0.0 and z["idcg"] == 0.0


class TestBpeSegment:
    def test_roundtrip_segments(self, spark):
        from sdg_big_data_spark.operators import bpe

        docs = spark.createDataFrame(
            [(1, "low low lower")], "doc_id long, text string"
        )
        merges, _ = bpe.train_bpe(docs, "text", n_merges=3)
        pairs = [(m[1], m[2]) for m in merges]
        out = docs.select(
            bpe.bpe_segment(F.col("text"), pairs).alias("syms")
        ).collect()[0]["syms"]
        # concatenating symbols reconstructs the tokens (with </w> marks)
        joined = "".join(out)
        assert joined == "low</w>low</w>lower</w>"
        # the trained merges actually compressed: fewer symbols than chars
        assert len(out) < len("lowlowlower") + 3


class TestDuplicatedSpans:
    """dedup.duplicated_spans — token-window exact substring dedup."""

    def _spans(self, spark, rows, n=3, min_docs=2):
        from sdg_big_data_spark.operators import dedup

        df = spark.createDataFrame(rows, "id long, text string")
        out = dedup.duplicated_spans(df, "id", "text", n=n, min_docs=min_docs)
        return {
            (r["id"], r["span_start"]): (r["span_len"], r["n_windows"])
            for r in out.collect()
        }

    def test_planted_shared_span_found_with_maximal_merge(self, spark):
        # docs 1 and 2 share "a b c d e" (5 tokens, n=3 -> 3 adjacent
        # windows merging into ONE maximal 5-token span each)
        got = self._spans(
            spark,
            [
                (1, "x y a b c d e q r"),
                (2, "a b c d e m n o p"),
                (3, "entirely different words here now"),
            ],
        )
        assert got == {(1, 2): (5, 3), (2, 0): (5, 3)}

    def test_disjoint_spans_stay_separate(self, spark):
        # doc 1 has TWO separated shared spans -> two output rows
        got = self._spans(
            spark,
            [
                (1, "a b c zz1 zz2 zz3 zz4 d e f"),
                (2, "a b c k1 k2 k3 k4 k5 d e f"),
            ],
        )
        assert got == {
            (1, 0): (3, 1),
            (1, 7): (3, 1),
            (2, 0): (3, 1),
            (2, 8): (3, 1),
        }

    def test_within_doc_repeat_not_flagged_alone(self, spark):
        # a span repeated inside ONE doc only: count(DISTINCT doc)=1 < 2
        got = self._spans(spark, [(1, "a b c q a b c"), (2, "u v w x y z")])
        assert got == {}

    def test_min_docs_threshold(self, spark):
        rows = [
            (1, "a b c d"),
            (2, "a b c e"),
            (3, "a b c f"),
        ]
        assert self._spans(spark, rows, min_docs=4) == {}
        got = self._spans(spark, rows, min_docs=3)
        assert set(got) == {(1, 0), (2, 0), (3, 0)}


class TestCanonicalizeUrl:
    def _canon(self, spark, urls):
        from sdg_big_data_spark.operators.quality import canonicalize_url

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [
            r["c"] for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()
        ]

    def test_variants_collapse(self, spark):
        variants = [
            "HTTPS://WWW.Example.com:443/a/b/?utm_source=x&id=1#frag",
            "https://example.com/a/b?id=1",
            "https://EXAMPLE.com:443/a/b/?id=1&utm_medium=email",
            "https://www.example.com/a/b/?fbclid=zzz&id=1",
        ]
        got = self._canon(spark, variants)
        assert set(got) == {"https://example.com/a/b?id=1"}

    def test_param_order_is_not_identity(self, spark):
        got = self._canon(
            spark,
            ["http://h.com/p?b=2&a=1", "http://h.com:80/p?a=1&b=2"],
        )
        assert got[0] == got[1] == "http://h.com/p?a=1&b=2"

    def test_path_case_preserved_and_distinct(self, spark):
        got = self._canon(
            spark, ["http://h.com/Path", "http://h.com/path"]
        )
        assert got == ["http://h.com/Path", "http://h.com/path"]

    def test_no_shuffle_in_plan(self, spark):
        from sdg_big_data_spark.operators.quality import canonicalize_url

        df = spark.createDataFrame([("http://a.com/x?y=1",)], "url string")
        plan = (
            df.select(canonicalize_url(F.col("url")).alias("c"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestSetSimilarityJoin:
    """dedup.set_similarity_join — exact Jaccard threshold via df-ordered
    prefix filtering (VernicaJoin). Must equal the brute-force
    jaccard_pairs filter, and must prune the candidate space."""

    ROWS = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "a completely different document about spark planning"),
        (4, "a completely different document about spark planning"),
        (5, "one more unrelated text body with its own shingles"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.ROWS, "doc_id long, text string")

    @pytest.mark.parametrize("t", [0.3, 0.6, 0.9])
    def test_equals_bruteforce(self, spark, t):
        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators import dedup

        docs = self._df(spark)
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in dedup.set_similarity_join(
                docs, "doc_id", "text", threshold=t
            ).collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in dedup.jaccard_pairs(docs, "doc_id", "text")
            .where(F.col("jaccard") >= t)
            .collect()
        }
        assert got == want and (t > 0.3 or got)  # non-vacuous at low t

    def test_exact_duplicates_always_pair(self, spark):
        from sdg_big_data_spark.operators import dedup

        out = dedup.set_similarity_join(
            self._df(spark), "doc_id", "text", threshold=1.0
        ).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(3, 4)}
        assert all(r.jaccard == 1.0 for r in out)

    def test_prefix_prunes_candidates(self, spark):
        """The prefix self-join must generate strictly fewer candidate
        pairs than the full inverted index at a high threshold — the
        whole point of the algorithm."""
        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators import dedup

        docs = self._df(spark)
        sh = dedup.shingle_table(docs, "doc_id", "text")
        a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
        full = (
            a.join(b, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        # reproduce the operator's candidate stage at t=0.9
        t = 0.9
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("t_df"))
        ranked = (
            sh.join(dfreq, "shingle")
            .join(sizes, "doc_id")
            .withColumn(
                "pos",
                F.row_number().over(
                    __import__("pyspark.sql.window", fromlist=["Window"])
                    .Window.partitionBy("doc_id")
                    .orderBy("t_df", "shingle")
                ),
            )
        )
        pref = ranked.where(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")).cast("int") + 1
        )
        pa = pref.select(F.col("doc_id").alias("id_a"), "shingle")
        pb = pref.select(F.col("doc_id").alias("id_b"), "shingle")
        pruned = (
            pa.join(pb, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        assert pruned < full


class TestIncrementalDedup:
    """dedup.incremental_dedup — new batch statused against a standing
    index: exact fingerprint hit, LSH+Jaccard near hit, or kept."""

    BASE = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to find some food for the long cold winter that is coming soon"
    )

    def test_statuses(self, spark):
        from sdg_big_data_spark.operators import dedup

        index = spark.createDataFrame(
            [(2, self.BASE),
             (4, "a completely different indexed document about spark "
                 "planning and adaptive query execution at large scale")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, self.BASE + " http://tracker.example/x"),  # exact after normalize
             (3, self.BASE.replace("cold winter", "cold dark winter")),  # near
             (5, "entirely novel content with no overlap whatsoever in "
                 "any shingle of the existing corpus documents today")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["status"]
            for r in dedup.incremental_dedup(new, index, "doc_id", "text", 0.5).collect()
        }
        assert got == {1: "exact_dup", 3: "near_dup", 5: "kept"}

    def test_empty_index_keeps_everything(self, spark):
        from sdg_big_data_spark.operators import dedup

        new = spark.createDataFrame([(1, self.BASE)], "doc_id long, text string")
        index = spark.createDataFrame([], "doc_id long, text string")
        got = dedup.incremental_dedup(new, index, "doc_id", "text").collect()
        assert [(r["doc_id"], r["status"]) for r in got] == [(1, "kept")]


class TestSetSimilarityJoinFloatBoundary:
    """fl(t*n) can round UP across an integer (fl(0.28*25) =
    7.000000000000001 -> ceil 8, exact 7), which under the textbook
    prefix length n-ceil(t*n)+1 silently misses pairs whose overlap sits
    exactly at the threshold. The operator carries a 2-token prefix
    guard for this; these tests pin the adversarial construction."""

    def test_exact_threshold_pair_at_float_boundary(self, spark):
        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators import dedup

        # A: 27 distinct tokens -> 25 distinct shingles.
        # B: A's last 9 tokens -> its 7 shingles are A's last 7, so
        # i=7, n_a=25, n_b=7 -> jaccard = 7/25 = 0.28 exactly, and the
        # shared shingles (df=2) sort AFTER A's unshared ones (df=1) —
        # precisely the suffix the unguarded prefix would skip.
        toks = [f"w{i:02d}" for i in range(27)]
        a_text = " ".join(toks)
        b_text = " ".join(toks[-9:])
        docs = spark.createDataFrame(
            [(1, a_text), (2, b_text)], "doc_id long, text string"
        )
        got = dedup.set_similarity_join(docs, "doc_id", "text", 0.28).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]
        assert abs(got[0].jaccard - 0.28) < 1e-12
        # and it agrees with brute force
        want = (
            dedup.jaccard_pairs(docs, "doc_id", "text")
            .where(F.col("jaccard") >= 0.28)
            .collect()
        )
        assert len(want) == 1

    def test_randomized_differential_vs_bruteforce(self, spark):
        """Random small-alphabet corpora across a threshold sweep that
        includes the float-boundary values: prefix-filtered result must
        equal the brute-force filter exactly, every time."""
        import random

        from pyspark.sql import functions as F

        from sdg_big_data_spark.operators import dedup

        rng = random.Random(13)
        words = [f"t{i}" for i in range(8)]
        for trial in range(4):
            rows = [
                (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 12))))
                for i in range(10)
            ]
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            pairs = dedup.jaccard_pairs(docs, "doc_id", "text")
            for t in (0.28, 0.4, 0.55, 0.7, 1.0):
                got = {
                    (r.id_a, r.id_b)
                    for r in dedup.set_similarity_join(
                        docs, "doc_id", "text", t
                    ).collect()
                }
                want = {
                    (r.id_a, r.id_b)
                    for r in pairs.where(F.col("jaccard") >= t).collect()
                }
                assert got == want, (trial, t, got ^ want)


class TestDsirLogweights:
    def test_target_like_docs_score_higher(self, spark):
        # target docs speak "alpha beta"; off-target docs speak "gamma delta".
        rows = []
        for i in range(8):
            rows.append((i, "en", "alpha beta alpha beta alpha"))
        for i in range(8, 16):
            rows.append((i, "de", "gamma delta gamma delta gamma"))
        # one held-out doc per dialect, NOT in the target class
        rows.append((16, "de", "alpha beta alpha"))
        rows.append((17, "de", "gamma delta gamma"))
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        out = {
            r["doc_id"]: r
            for r in _rows(
                quality.dsir_logweights(df, F.col("lang") == "en", buckets=64)
            )
        }
        assert len(out) == 18
        # the target-like held-out doc must outscore the off-target one
        assert out[16]["dsir_logw"] > out[17]["dsir_logw"]
        # target-vocabulary docs have positive weight, off-target negative
        assert out[0]["dsir_logw"] > 0 > out[8]["dsir_logw"]

    def test_empty_doc_weight_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "en", "alpha beta"), (2, "en", ""), (3, "de", "gamma")],
            "doc_id long, lang string, text string",
        )
        out = {
            r["doc_id"]: r
            for r in _rows(
                quality.dsir_logweights(df, F.col("lang") == "en", buckets=32)
            )
        }
        assert out[2]["n_grams"] == 0
        assert out[2]["dsir_logw"] == 0.0

    def test_matches_hand_computation(self, spark):
        # Single-token docs, no hash collisions checked explicitly: weight
        # of a doc = sum over grams of ln(p_t(b)) - ln(p_r(b)).
        import math as m

        from sdg_big_data_spark.operators.dedup import portable_hash60

        df = spark.createDataFrame(
            [(1, "en", "alpha"), (2, "de", "beta")],
            "doc_id long, lang string, text string",
        )
        B = 64
        bucket = {
            r["g"]: r["b"]
            for r in spark.createDataFrame(
                [("alpha",), ("beta",)], "g string"
            )
            .select("g", (portable_hash60(F.col("g")) % B).alias("b"))
            .collect()
        }
        # histogram: alpha -> target+raw, beta -> raw only
        ct = {bucket["alpha"]: 1}
        cr = {bucket["alpha"]: 1, bucket["beta"]: 1}
        if bucket["alpha"] == bucket["beta"]:
            pytest.skip("hash collision in fixture")
        t_tot, r_tot = 1, 2
        a = 0.5

        def delta(b):
            return m.log((ct.get(b, 0) + a) / (t_tot + a * B)) - m.log(
                (cr.get(b, 0) + a) / (r_tot + a * B)
            )

        out = {
            r["doc_id"]: r["dsir_logw"]
            for r in _rows(
                quality.dsir_logweights(df, F.col("lang") == "en", buckets=B)
            )
        }
        assert out[1] == pytest.approx(round(delta(bucket["alpha"]), 6), abs=2e-6)
        assert out[2] == pytest.approx(round(delta(bucket["beta"]), 6), abs=2e-6)


class TestKAnonymity:
    def test_small_classes_suppressed(self, spark):
        df = spark.createDataFrame(
            [(i, "X", 1) for i in range(5)] + [(99, "Y", 2)],
            "id long, qa string, qb long",
        )
        out = {
            r["id"]: r
            for r in _rows(quality.k_anonymity(df, ["qa", "qb"], k=5, id_col="id"))
        }
        assert out[0]["is_k_anon"] and out[0]["qa"] == "X" and out[0]["n_class"] == 5
        assert not out[99]["is_k_anon"]
        assert out[99]["qa"] is None and out[99]["qb"] is None
        assert out[99]["n_class"] == 1

    def test_no_id_col_keeps_payload(self, spark):
        df = spark.createDataFrame(
            [(1, "X", "payload")], "id long, qa string, body string"
        )
        row = _rows(quality.k_anonymity(df, ["qa"], k=2))[0]
        assert row["body"] == "payload"
        assert row["qa"] is None  # class of 1 < 2

    def test_null_quasi_values_form_a_class(self, spark):
        """NULL is a legal quasi-identifier value (ADVICE r4): every
        input row must appear in the release — a null-unsafe join-back
        silently dropped null-quasi rows. Three rows share (NULL, 1) so
        at k=3 they pass; the lone (NULL, 2) row is suppressed but still
        EMITTED."""
        df = spark.createDataFrame(
            [(1, None, 1), (2, None, 1), (3, None, 1), (4, None, 2),
             (5, "X", 1), (6, "X", 1), (7, "X", 1)],
            "id long, qa string, qb long",
        )
        rows = {
            r["id"]: r
            for r in _rows(quality.k_anonymity(df, ["qa", "qb"], k=3, id_col="id"))
        }
        assert sorted(rows) == [1, 2, 3, 4, 5, 6, 7]  # nothing vanishes
        assert rows[1]["is_k_anon"] and rows[1]["n_class"] == 3
        assert rows[1]["qa"] is None and rows[1]["qb"] == 1
        assert not rows[4]["is_k_anon"] and rows[4]["n_class"] == 1
        assert rows[4]["qb"] is None  # suppressed, not dropped
        assert rows[5]["is_k_anon"] and rows[5]["qa"] == "X"


class TestLeakageSafeSplit:
    def test_near_dups_share_split_and_rep(self, spark, sf_dir):
        from sdg_big_data_spark.operators import dedup
        from sdg_big_data_spark.operators.graph import connected_components
        from sdg_big_data_spark.pipelines.dataprep import leakage_safe_split
        from sdg_big_data_spark.plans.catalog import table as _table

        docs = _table(spark, sf_dir, "documents")
        out = leakage_safe_split(docs).cache()
        try:
            n = out.count()
            assert n == docs.count()
            # every LSH candidate pair lands in the SAME split
            cand = dedup.minhash_lsh_candidates(docs, "doc_id", "text")
            a = out.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            )
            b = out.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            )
            crossed = (
                cand.join(a, "id_a").join(b, "id_b")
                .where(F.col("sa") != F.col("sb"))
                .count()
            )
            assert crossed == 0
            # all three splits are populated and roughly proportioned
            sizes = {r["split"]: r["n"] for r in _rows(
                out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
            )}
            assert set(sizes) == {"train", "val", "test"}
            assert sizes["train"] > sizes["val"]
            assert sizes["train"] > sizes["test"]
            assert sizes["train"] / n > 0.6
        finally:
            out.unpersist()

    def test_bad_fractions_raise(self, spark):
        from sdg_big_data_spark.pipelines.dataprep import leakage_safe_split

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            leakage_safe_split(df, {"train": 0.5, "test": 0.4})


class TestTemperatureMixture:
    def test_flattens_toward_uniform(self, spark):
        # srcA 9x the tokens of srcB; alpha=0.5 must give srcB a larger
        # q than its natural share (upsampling low-resource).
        df = spark.createDataFrame(
            [(1, "srcA", " ".join(["t"] * 90)), (2, "srcB", " ".join(["u"] * 10))],
            "doc_id long, source string, text string",
        )
        out = {
            r["source"]: r
            for r in _rows(quality.temperature_mixture(df, 0.5, budget_tokens=50))
        }
        # natural share of B is .1; q_B = sqrt(.1)/(sqrt(.9)+sqrt(.1)) ~ .25
        assert out["srcB"]["q"] == pytest.approx(0.25, abs=0.01)
        assert out["srcA"]["q"] + out["srcB"]["q"] == pytest.approx(1.0, abs=1e-5)
        # rates follow q * budget / tokens, capped at 1
        assert out["srcB"]["rate"] == 1.0  # wants 12.5 of 10 -> capped
        assert out["srcB"]["expected_tokens"] == 10
        assert out["srcA"]["rate"] == pytest.approx(50 * 0.75 / 90, abs=1e-3)

    def test_alpha_one_is_natural_share(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "x x x"), (2, "b", "y")],
            "doc_id long, source string, text string",
        )
        out = {
            r["source"]: r
            for r in _rows(quality.temperature_mixture(df, 1.0, budget_tokens=4))
        }
        assert out["a"]["q"] == pytest.approx(0.75)
        assert out["b"]["q"] == pytest.approx(0.25)


class TestKeySkewProfile:
    def test_hand_computed(self, spark):
        import math as m

        from sdg_big_data_spark.operators.quality import key_skew_profile

        # key 7 x4, key 3 x4 (tie -> smallest key string '3'), key 9 x2
        df = spark.createDataFrame(
            [(7,)] * 4 + [(3,)] * 4 + [(9,)] * 2, "k long"
        )
        r = key_skew_profile(df, "k").collect()[0]
        assert r["n_rows"] == 10 and r["n_keys"] == 3
        assert r["top_key"] == "3" and r["top_share"] == 0.4
        assert r["mean_rows_per_key"] == round(10 / 3, 6)
        h = -(0.4 * m.log(0.4) * 2 + 0.2 * m.log(0.2))
        assert r["norm_entropy"] == round(h / m.log(3), 6)

    def test_single_key_degenerate(self, spark):
        from sdg_big_data_spark.operators.quality import key_skew_profile

        df = spark.createDataFrame([(1,)] * 5, "k long")
        r = key_skew_profile(df, "k").collect()[0]
        assert r["top_share"] == 1.0 and r["norm_entropy"] == 0.0

    def test_null_hot_key_reported_as_sentinel(self, spark):
        """A NULL-dominated key column must report the hot key, not drop
        it: NULLs coalesce to the '<NULL>' sentinel before the histogram
        so min()-based tie-break and top_share stay well-defined."""
        from sdg_big_data_spark.operators.quality import key_skew_profile

        df = spark.createDataFrame(
            [(None,)] * 6 + [(4,)] * 3 + [(5,)], "k bigint"
        )
        r = key_skew_profile(df, "k").collect()[0]
        assert r["n_rows"] == 10 and r["n_keys"] == 3
        assert r["top_key"] == "<NULL>" and r["top_share"] == 0.6

    def test_literal_null_string_not_merged_with_real_nulls(self, spark):
        """A GENUINE '<NULL>' string key must stay a separate histogram
        row from real nulls — the bare-sentinel form merged them,
        inflating that key's count/top_share."""
        from sdg_big_data_spark.operators.quality import key_skew_profile

        df = spark.createDataFrame(
            [("<NULL>",)] * 3 + [(None,)] * 3 + [("a",)] * 4, "k string"
        )
        r = key_skew_profile(df, "k").collect()[0]
        assert r["n_keys"] == 3  # '<NULL>' string, real nulls, 'a'
        assert r["top_key"] == "a" and r["top_share"] == 0.4


class TestChi2NullCategory:
    def test_null_category_is_one_row(self, spark):
        """A NULL category present in BOTH windows is ONE category (the
        eqNullSafe join), with both counts on the same row — not two
        half-rows that inflate k."""
        from sdg_big_data_spark.operators.quality import (
            chi2_categorical_drift,
        )

        rdf = spark.createDataFrame(
            [("a",), (None,), (None,), ("b",)], "cat string"
        )
        cdf = spark.createDataFrame(
            [("a",), ("a",), (None,), ("c",)], "cat string"
        )
        rows = {
            r["category"]: r
            for r in chi2_categorical_drift(rdf, cdf, "cat").collect()
        }
        # categories: a, b, c, NULL -> k = 4 exactly
        assert len(rows) == 4 and None in rows
        nr, nc = rows[None]["n_ref"], rows[None]["n_cur"]
        assert (nr, nc) == (2, 1)
        # expected/term use k=4 (not the 5 a null-splitting join yields)
        exp = (2 + 0.5) / (4 + 0.5 * 4) * 4
        assert rows[None]["expected_cur"] == round(exp, 6)
        assert rows[None]["chi2_term"] == round((1 - exp) ** 2 / exp, 6)


class TestBigramBroadcastGate:
    def test_shuffle_fallback_matches_broadcast_path(self, spark):
        """broadcast_vocab_max=0 withholds the hint (shuffle-join path);
        results must be identical to the default broadcast path."""
        from sdg_big_data_spark.operators.quality import bigram_perplexity

        df = spark.createDataFrame(
            [(1, "a b a c"), (2, "b b a"), (3, "c a b a c")],
            "doc_id long, text string",
        )
        want = sorted(
            map(tuple, bigram_perplexity(df).collect())
        )
        got = sorted(
            map(tuple, bigram_perplexity(df, broadcast_vocab_max=0).collect())
        )
        assert got == want


class TestPsiDrift:
    @staticmethod
    def _py_psi(ref, cur, bins=10):
        import math as m

        n = len(ref)
        srt = sorted(ref)
        positions = sorted({(j * n) // bins for j in range(1, bins)} - {0})
        edges = sorted(srt[p - 1] for p in positions)  # rank p is 1-based
        def b(x):
            return sum(1 for e in edges if e < x)
        hist = {}
        for x in ref:
            hist.setdefault(b(x), [0, 0])[0] += 1
        for x in cur:
            hist.setdefault(b(x), [0, 0])[1] += 1
        k, tr, tc = len(hist), len(ref), len(cur)
        out = {}
        for bn, (nr, nc) in hist.items():
            pr = (nr + 0.5) / (tr + 0.5 * k)
            pc = (nc + 0.5) / (tc + 0.5 * k)
            out[bn] = (nr, nc, round(pr, 6), round(pc, 6),
                       round((pc - pr) * m.log(pc / pr), 6))
        return out

    @pytest.mark.parametrize("seed", range(3))
    def test_matches_pure_python(self, spark, seed):
        """Randomized differential: psi_drift equals an independent
        Python model using the same rank-based edges and smoothing."""
        import random

        from sdg_big_data_spark.operators.quality import psi_drift

        rng = random.Random(seed)
        ref = [round(rng.uniform(0, 100), 2) for _ in range(rng.randint(40, 120))]
        cur = [round(rng.uniform(20, 140), 2) for _ in range(rng.randint(40, 120))]
        rdf = spark.createDataFrame([(x,) for x in ref], "v double")
        cdf = spark.createDataFrame([(x,) for x in cur], "v double")
        got = {
            r["bin"]: (r["n_ref"], r["n_cur"], r["p_ref"], r["p_cur"],
                       r["psi_term"])
            for r in psi_drift(rdf, cdf, "v").collect()
        }
        assert got == self._py_psi(ref, cur)

    def test_identical_distributions_near_zero(self, spark):
        from sdg_big_data_spark.operators.quality import psi_drift

        vals = [(float(i % 50),) for i in range(500)]
        df = spark.createDataFrame(vals, "v double")
        rows = psi_drift(df, df, "v").collect()
        assert sum(abs(r["psi_term"]) for r in rows) < 1e-9

    def test_broadcast_gate_switches_join_strategy(self, spark):
        """Plan gate for the size-gated unigram broadcast. With the
        planner's auto-broadcast disabled (so only the operator's own
        hint can force one): under the default cap the scoring joins
        are hint-forced broadcast hash joins; with the cap at 0 the
        documented shuffle-join fallback actually materializes."""
        from sdg_big_data_spark.operators.quality import bigram_perplexity

        df = spark.createDataFrame(
            [(i, "a b c d e f g h " * 3) for i in range(20)],
            "doc_id long, text string",
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            hinted = bigram_perplexity(df)
            p1 = hinted._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in p1, p1
            gated = bigram_perplexity(df, broadcast_vocab_max=0)
            p2 = gated._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in p2 or "ShuffledHashJoin" in p2, p2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_explicit_broadcast_vocab_skips_gating_job(self, spark):
        """broadcast_vocab=True/False must build the plan WITHOUT
        running the eager vocabulary-count job (plan dumps, HOF audits,
        lazy compositions) — and still match the gated result."""
        from unittest.mock import patch

        from pyspark.sql import DataFrame

        from sdg_big_data_spark.operators.quality import bigram_perplexity

        df = spark.createDataFrame(
            [(i, "a b c d e f " * 2) for i in range(10)],
            "doc_id long, text string",
        )
        with patch.object(
            DataFrame, "count", side_effect=AssertionError("eager job ran")
        ):
            explicit = bigram_perplexity(df, broadcast_vocab=True)
        want = {r["doc_id"]: r for r in bigram_perplexity(df).collect()}
        for r in explicit.collect():
            assert r["ppl"] == want[r["doc_id"]]["ppl"]

    def test_single_row_reference_degenerates_to_one_bin(self, spark):
        """n=1 reference: every quantile position floors to 0, so there
        are no edges and everything lands in bin 0 — finite PSI, no
        crash (the degenerate branch)."""
        from sdg_big_data_spark.operators.quality import psi_drift

        ref = spark.createDataFrame([(5.0,)], "v double")
        cur = spark.createDataFrame([(1.0,), (9.0,), (5.0,)], "v double")
        rows = psi_drift(ref, cur, "v").collect()
        assert len(rows) == 1 and rows[0]["bin"] == 0
        assert rows[0]["n_ref"] == 1 and rows[0]["n_cur"] == 3


class TestCusumAlerts:
    @pytest.mark.parametrize("seed", range(3))
    def test_matches_recursive_definition(self, spark, seed):
        """The prefix-sum/prefix-min closed form equals the textbook
        recursion S_t = max(0, S_{t-1} + x_t - k) on random dailies."""
        import datetime as dt
        import random

        from sdg_big_data_spark.operators.quality import cusum_alerts

        rng = random.Random(seed)
        rows = []
        day_vals = {}
        for d in range(20):
            day = dt.datetime(2022, 1, 1 + d)
            vals = [round(rng.uniform(0, 100), 2) for _ in range(rng.randint(1, 9))]
            day_vals[day.date()] = vals
            rows += [(day + dt.timedelta(hours=h % 24), v) for h, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        k, h = 5000, 800
        got = {
            r["day"]: r for r in cusum_alerts(df, "ts", "value", k, h).collect()
        }
        s = 0
        for day in sorted(day_vals):
            units = sum(round(v * 100) for v in day_vals[day])
            x = units // len(day_vals[day])
            s = max(0, s + x - k)
            r = got[day]
            assert r["mean_v"] == round(x / 100, 2)
            assert r["cusum"] == round(s / 100, 2)
            assert r["alert"] == int(s > h)

    def test_negative_values_floor_divide(self, spark):
        """Days whose summed units are NEGATIVE (deltas, P&L) must floor
        the daily mean like Python's // — Spark's DIV truncates toward
        zero, which shifted x_t by one unit and diverged the whole CUSUM
        trajectory before the pmod fix."""
        import datetime as dt
        import random

        from sdg_big_data_spark.operators.quality import cusum_alerts

        rng = random.Random(7)
        rows, day_vals = [], {}
        for d in range(15):
            day = dt.datetime(2022, 3, 1 + d)
            vals = [round(rng.uniform(-50, 20), 2) for _ in range(rng.randint(1, 7))]
            day_vals[day.date()] = vals
            rows += [(day + dt.timedelta(hours=h % 24), v) for h, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        k, h = -1000, 900
        got = {r["day"]: r for r in cusum_alerts(df, "ts", "value", k, h).collect()}
        s = 0
        for day in sorted(day_vals):
            units = sum(round(v * 100) for v in day_vals[day])
            assert units < 0 or len(day_vals[day]) > 0  # exercise negatives
            x = units // len(day_vals[day])
            s = max(0, s + x - k)
            r = got[day]
            assert r["mean_v"] == round(x / 100, 2)
            assert r["cusum"] == round(s / 100, 2)
            assert r["alert"] == int(s > h)

    def test_shift_is_localized(self, spark):
        """A level shift mid-series alerts from (shortly after) the
        shift day onward and never before it."""
        import datetime as dt

        from sdg_big_data_spark.operators.quality import cusum_alerts

        rows = []
        for d in range(20):
            v = 10.0 if d < 10 else 30.0  # shift at day 10
            rows.append((dt.datetime(2022, 2, 1 + d), v))
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        out = sorted(
            cusum_alerts(df, "ts", "value", k_units=1100, h_units=2000).collect(),
            key=lambda r: r["day"],
        )
        alerts = [r["alert"] for r in out]
        assert all(a == 0 for a in alerts[:10])
        assert alerts[-1] == 1 and 1 in alerts[10:]
        first = alerts.index(1)
        assert all(a == 1 for a in alerts[first:])


class TestLineDedup:
    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha\nshared line\nbeta"),
                (2, "shared line\ngamma\nshared line"),
                (3, "delta\n\nalpha"),
            ],
            ["doc_id", "text"],
        )

    def test_keep_first_semantics(self, spark):
        from sdg_big_data_spark.operators.dedup import line_dedup

        out = {
            r["doc_id"]: r
            for r in line_dedup(self._corpus(spark), "doc_id", "text").collect()
        }
        # doc 1 is first everywhere: keeps all three lines.
        assert out[1]["text_deduped"] == "alpha\nshared line\nbeta"
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
        # doc 2: both copies of "shared line" lose to doc 1 (and its own
        # second copy loses to its first-position copy anyway).
        assert out[2]["text_deduped"] == "gamma"
        assert (out[2]["n_lines"], out[2]["n_kept"]) == (3, 1)
        # doc 3: empty line dropped from the count entirely; "alpha" is a
        # later copy of doc 1's line.
        assert out[3]["text_deduped"] == "delta"
        assert (out[3]["n_lines"], out[3]["n_kept"]) == (2, 1)

    def test_within_doc_duplicate_keeps_first_position(self, spark):
        from sdg_big_data_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(7, "x\ny\nx\nx")], ["doc_id", "text"]
        )
        row = line_dedup(df, "doc_id", "text").collect()[0]
        assert row["text_deduped"] == "x\ny"
        assert (row["n_lines"], row["n_kept"]) == (4, 2)

    def test_all_lines_duplicated_elsewhere_yields_empty_doc(self, spark):
        from sdg_big_data_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "only line"), (2, "only line")], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text").collect()}
        assert out[1]["text_deduped"] == "only line"
        assert out[2]["text_deduped"] == ""
        assert out[2]["n_kept"] == 0

    def test_regex_metacharacter_separator_is_literal(self, spark):
        # sep='|' would split between EVERY character as a regex; it
        # must split only on the literal pipe (and '.' likewise)
        from sdg_big_data_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "alpha|shared|beta"), (2, "shared|gamma")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in line_dedup(df, "doc_id", "text", sep="|").collect()
        }
        assert out[1]["text_deduped"] == "alpha|shared|beta"
        assert out[2]["text_deduped"] == "gamma"
        dot = spark.createDataFrame([(1, "a.b.a")], ["doc_id", "text"])
        row = line_dedup(dot, "doc_id", "text", sep=".").collect()[0]
        assert row["text_deduped"] == "a.b"
        assert (row["n_lines"], row["n_kept"]) == (3, 2)


class TestGopherQualityFlags:
    def test_hand_computed_rules(self, spark):
        df = spark.createDataFrame(
            [
                # 4 words, mean len (3+2+2+4)/4=2.75 -> fails count+mean;
                # has 2 distinct stops (the, is)
                (1, "the is is that"),
                # 6 words incl digits-only word -> alpha frac 5/6 ~ 0.8333
                (2, "the cat sat on 123 mat"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in quality.gopher_quality_flags(
                df, "doc_id", "text", min_words=5, max_words=100
            ).collect()
        }
        r1 = out[1]
        assert r1["n_words"] == 4 and r1["f_word_count"] == 0
        assert r1["mean_word_len"] == pytest.approx(11 / 4)
        assert r1["f_mean_word_len"] == 0
        assert r1["stop_hits"] == 3  # the, is, that (distinct)
        assert r1["pass_all"] == 0
        r2 = out[2]
        assert r2["f_word_count"] == 1
        assert r2["alpha_word_frac"] == pytest.approx(round(5 / 6, 4))
        assert r2["f_alpha_words"] == 1
        assert r2["stop_hits"] == 1 and r2["f_stop_words"] == 0

    def test_symbol_ratio_counts_hashes_and_ellipses(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota # ...")],
            ["doc_id", "text"],
        )
        row = quality.gopher_quality_flags(
            df, "doc_id", "text", min_words=5
        ).collect()[0]
        # 11 words, 1 '#' + 1 '...' -> 2/11
        assert row["symbol_ratio"] == pytest.approx(round(2 / 11, 4))
        assert row["f_symbol_ratio"] == 0


class TestConstraintSuite:
    def test_mixed_pass_fail(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 5.0), (2, "b", -1.0), (2, "a", None)],
            ["id", "cat", "v"],
        )
        out = {
            r["constraint"]: r
            for r in quality.constraint_suite(
                df,
                [
                    ("completeness", "v", 0.9),
                    ("uniqueness", "id", 1.0),
                    ("min", "v", 0),
                    ("max", "v", 10),
                    ("in_set", "cat", ("a", "b"), 1.0),
                    ("non_negative", "v", 1.0),
                    ("row_count", 1, 5),
                ],
            ).collect()
        }
        assert out["completeness(v)>=0.9"]["passed"] == 0
        assert out["completeness(v)>=0.9"]["metric"] == pytest.approx(2 / 3, abs=1e-6)
        assert out["uniqueness(id)>=1.0"]["passed"] == 0  # id 2 twice
        assert out["min(v)>=0"]["passed"] == 0
        assert out["max(v)<=10"]["passed"] == 1
        assert out["in_set(cat)>=1.0"]["passed"] == 1
        # only 5.0 passes >= 0: -1.0 fails and the NULL row contributes
        # nothing to the conditional sum
        assert out["non_negative(v)>=1.0"]["metric"] == pytest.approx(
            round(1 / 3, 6)
        )
        assert out["row_count[1,5]"]["passed"] == 1

    def test_unknown_kind_raises(self, spark):
        df = spark.createDataFrame([(1,)], ["x"])
        with pytest.raises(ValueError, match="unknown constraint"):
            quality.constraint_suite(df, [("nope", "x", 1)])

    def test_empty_frame_fails_not_null(self, spark):
        # x/0 fractions and min/max on an EMPTY frame are NULL metrics;
        # passed must coalesce to 0 so a min(passed) circuit breaker
        # trips on an empty micro-batch — except row_count, whose count
        # is a real 0 and keeps its own band semantics
        df = spark.createDataFrame([], "id long, cat string, v double")
        out = {
            r["constraint"]: r
            for r in quality.constraint_suite(
                df,
                [
                    ("completeness", "v", 0.9),
                    ("uniqueness", "id", 1.0),
                    ("min", "v", 0),
                    ("max", "v", 10),
                    ("in_set", "cat", ("a", "b"), 1.0),
                    ("non_negative", "v", 1.0),
                    ("row_count", 0, 5),
                    ("row_count", 1, 5),
                ],
            ).collect()
        }
        for label, r in out.items():
            if label == "row_count[0,5]":
                assert r["passed"] == 1
            else:
                assert r["passed"] == 0, label
        assert out["completeness(v)>=0.9"]["metric"] is None

    def test_all_null_column_bounds_fail(self, spark):
        df = spark.createDataFrame([(1, None), (2, None)], "id long, v double")
        out = {
            r["constraint"]: r["passed"]
            for r in quality.constraint_suite(
                df, [("min", "v", 0), ("max", "v", 10)]
            ).collect()
        }
        assert out == {"min(v)>=0": 0, "max(v)<=10": 0}


def _reference_ngrams(t, n):
    """The positional ``transform(sequence, concat_ws(slice))`` form of
    word n-grams, kept as the reference for the one-regex ``ngrams``."""
    from sdg_big_data_spark.functions.text import let

    def body(tc):
        k = F.size(tc) - (n - 1)
        return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(tc, i + 1, n)),
            )
        )

    return let(t, body)


def test_ngrams_regex_matches_positional_reference(spark):
    """``ngrams`` is ONE compiled-regex pass over the space-joined token
    string; it must stay element-for-element identical to the
    positional reference, including order, multiplicity, sub-n inputs,
    empties and nulls."""
    from sdg_big_data_spark.functions import text as T

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "one two"),  # fewer than n=3 tokens
        (2, "single"),
        (3, ""),  # empty -> empty token array
        (4, None),  # null text -> null tokens -> null grams
        (5, "it's a dog's life it's fine"),  # apostrophe tokens
        (6, "a a a a a"),  # repeated tokens (multiplicity must match)
        (7, "num 42 mix3d t0kens 7"),
        (8, "x " * 200),  # long doc
        (9, "Á L'école!! http://x.io déjà-vu 9"),  # normalize first
    ]
    df = spark.createDataFrame(texts, schema="id long, text string")
    toks = df.select("id", T.tokenize(F.col("text")).alias("t"))
    for n in (2, 3, 5, 8):
        got = toks.select("id", T.ngrams(F.col("t"), n).alias("g"))
        ref = toks.select("id", _reference_ngrams(F.col("t"), n).alias("g"))
        j = got.alias("a").join(ref.alias("b"), "id")
        bad = j.where(~F.col("a.g").eqNullSafe(F.col("b.g"))).count()
        assert bad == 0, f"ngrams(n={n}) diverged from positional form"
