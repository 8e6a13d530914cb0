"""Model-evaluation operators — the reference's evaluation harness
(SURVEY.md §5.1.3) as distributed operators:

- AUROC (`12-model_training_eval.Rmd:19-35` evaluates BERT with AUROC):
  Mann-Whitney rank statistic with average-rank tie handling — exact,
  one sort, no sklearn;
- precision@k (`sample_tweets_to_validate_inference_on_random_set.py`):
  share of positives in the top-k by score;
- recall proxy on seeded positives (`estimate_recall.py:64-77`): share
  of known-positive ids the scorer recovers above a cutoff.

Scale: AUC ranks every row through ``windows.global_rank`` (one range
shuffle, no single-partition stage); precision@k prunes per-partition
(shuffle-free ``partition_local_rank``) before a global rank that sees
at most k × n_partitions rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import windows


def auc(df: DataFrame, label_col: str | Column, score_col: str) -> DataFrame:
    """AUROC via the Mann-Whitney U statistic:
    AUC = (Σ rank(positives) − n_pos(n_pos+1)/2) / (n_pos · n_neg),
    with tied scores assigned their average rank (the exact value
    sklearn's roc_auc_score returns). Returns a 1-row frame
    (n_pos, n_neg, auc).

    Rank-free form: per-row ranks are never materialized. Group by
    distinct score (one map-side-combined shuffle: the corpus collapses
    to its distinct scores), take an exact running count over the score
    order via :func:`windows.grouped_prefix_sum`, and fold — the average
    rank of a tie group is ``cum_before + (cnt + 1) / 2`` by definition.
    All terms are integers-and-halves well inside double's 2^53 exact
    range, so the statistic is bit-deterministic and engine-portable
    (the r4 100x parity probe caught the previous global_rank-based form
    returning a different wrong AUC per action at 10M rows — the
    two-branch materialization hazard fixed in windows.global_rank; this
    form removes the per-row rank frame from the plan entirely)."""
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(label.cast("int").alias("__y"), F.col(score_col).alias("__s"))
    g = base.groupBy("__s").agg(
        F.count(F.lit(1)).cast("double").alias("__cnt"),
        F.sum("__y").cast("double").alias("__pos"),
    )
    cum = windows.grouped_prefix_sum(
        g.withColumn("__grp", F.lit(1)),
        ["__grp"],
        [F.col("__s").asc()],
        "__cnt",
        cum_col="__cum",
    )
    ar = F.col("__cum") - F.col("__cnt") + (F.col("__cnt") + 1) / 2.0
    np_, nn = F.sum("__pos"), F.sum(F.col("__cnt") - F.col("__pos"))
    return cum.agg(
        np_.cast("long").alias("n_pos"),
        nn.cast("long").alias("n_neg"),
        (
            (F.sum(F.col("__pos") * ar) - np_ * (np_ + 1) / 2.0) / (np_ * nn)
        ).alias("auc"),
    )


def precision_at_k(
    df: DataFrame, label_col: str | Column, score_col: str, k: int, id_col: str
) -> DataFrame:
    """Share of positives among the top-k by (score desc, id) — the
    rank-evaluation metric behind the reference's log-spaced sampling.
    Per-partition prune before the global top-k (never a full global
    sort)."""
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(label.cast("int").alias("__y"), score_col, id_col)
    ordering = [F.col(score_col).desc(), F.col(id_col).asc()]
    pruned = (
        windows.partition_local_rank(base, ordering, rank_col="__pr")
        .where(F.col("__pr") <= k)
        .drop("__pr")
    )
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    top = pruned.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= k)
    return top.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__y").alias("n_pos"),
        (F.sum("__y") / F.count(F.lit(1))).alias("precision"),
    )


def classification_metrics(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
    labels: tuple[str, ...] = ("H", "W"),
    other: str = "O",
) -> DataFrame:
    """Accuracy + per-label P/R/F1 + macro-F1 over ``labels`` — the
    reference's home/work quality gate (`08-optimization.Rmd:74-101`:
    ``skm.f1_score(..., labels=['H','W'], average='macro')`` after
    ``filter_o``). Matches sklearn semantics exactly: rows where BOTH
    columns equal ``other`` are dropped (filter_o); remaining ``other``
    values still count as fp/fn against each label; zero-denominator
    precision/recall collapse to 0 (sklearn ``zero_division=0``).

    One pass of conditional aggregation — no confusion-matrix collect,
    no sklearn; scales to any validation-set size.
    """
    t, p = F.col(truth_col), F.col(pred_col)
    kept = df.where((t != other) | (p != other))

    def _n(cond) -> Column:
        return F.sum(cond.cast("long"))

    aggs = [_n(t == p).alias("__hits"), F.count(F.lit(1)).alias("n")]
    for lbl in labels:
        aggs += [
            _n((t == lbl) & (p == lbl)).alias(f"__tp_{lbl}"),
            _n((t != lbl) & (p == lbl)).alias(f"__fp_{lbl}"),
            _n((t == lbl) & (p != lbl)).alias(f"__fn_{lbl}"),
        ]
    g = kept.agg(*aggs)

    def _safe_div(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    out_cols = [F.col("n"), _safe_div(F.col("__hits"), F.col("n")).alias("accuracy")]
    f1s = []
    for lbl in labels:
        tp = F.col(f"__tp_{lbl}")
        prec = _safe_div(tp, tp + F.col(f"__fp_{lbl}"))
        rec = _safe_div(tp, tp + F.col(f"__fn_{lbl}"))
        f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(
            F.lit(0.0)
        )
        f1s.append(f1)
        out_cols.append(f1.alias(f"f1_{lbl}"))
    macro = sum(f1s[1:], f1s[0]) / float(len(labels))
    out_cols.append(macro.alias("macro_f1"))
    return g.select(*out_cols)


def cohen_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    labels: tuple[str, ...] = ("H", "W"),
) -> DataFrame:
    """Cohen's κ between two raters restricted to ``labels`` — the
    reference's validator-vs-algorithm agreement statistic
    (`08-optimization.Rmd:85-88`: ``skm.cohen_kappa_score(...,
    labels=['H','W'])``). sklearn's label restriction drops rows where
    either rater's value is outside ``labels``; κ = (p_o − p_e)/(1 − p_e)
    with p_e from the marginals. Returns (n, p_o, p_e, kappa) in one
    conditional-aggregation pass."""
    a, b = F.col(col_a), F.col(col_b)
    kept = df.where(a.isin(*labels) & b.isin(*labels))

    aggs = [F.count(F.lit(1)).alias("n"), F.sum((a == b).cast("long")).alias("__agree")]
    for lbl in labels:
        aggs += [
            F.sum((a == lbl).cast("long")).alias(f"__ma_{lbl}"),
            F.sum((b == lbl).cast("long")).alias(f"__mb_{lbl}"),
        ]
    g = kept.agg(*aggs)
    p_o = F.col("__agree") / F.col("n")
    p_e_terms = [
        (F.col(f"__ma_{lbl}") / F.col("n")) * (F.col(f"__mb_{lbl}") / F.col("n"))
        for lbl in labels
    ]
    p_e = sum(p_e_terms[1:], p_e_terms[0])
    kappa = F.when(p_e < 1.0, (p_o - p_e) / (1.0 - p_e)).otherwise(F.lit(1.0))
    return g.select(
        "n", p_o.alias("p_o"), p_e.alias("p_e"), kappa.alias("kappa")
    )


# LCG-style mixing constants for the deterministic bootstrap draws —
# chosen so both engines compute identical BIGINT arithmetic (all
# intermediates < 2^63 for validation-set-sized inputs). The seed word is
# affine in (i, j); WITHOUT further mixing `seed_word % nb` would be a
# bijection of j (no modulus wrap for small strides) and every "resample"
# would degenerate to the identity sample. Two MINSTD modular multiplies
# (`x * 48271 % MOD`, twice) make the effective stride ~2^30, wrapping
# MOD every few steps — the residue mod nb is then effectively uniform
# and multiplicities are genuinely multinomial.
_BOOT_A = 1_103_515_245
_BOOT_B = 12_345
_BOOT_MULT = 48_271
_BOOT_MOD = 2_147_483_647


def balanced_bootstrap_metrics(
    df: DataFrame,
    truth_col: str,
    pred_col: str,
    user_col: str,
    bucket_col: str,
    n_samples: int = 100,
    seed: int = 7,
    labels: tuple[str, ...] = ("H", "W"),
    other: str = "O",
) -> DataFrame:
    """Balanced bootstrap of the macro-F1/accuracy gate
    (`08-optimization.Rmd:104-125`: 100 resamples of users WITH
    replacement, balanced within activity buckets; mean/std of each
    metric across resamples).

    Deterministic-by-construction: draws come from integer LCG mixing of
    (replicate, draw, seed) — not ``rand()`` — so results are
    partition-count-invariant, retry-safe, AND exactly replayable by a
    SQL oracle. Fully distributed plan:

      1. index distinct users per bucket (one keyed window — buckets are
         activity deciles, so no single-partition stage);
      2. synthesize ``n_samples × n_b`` draws per bucket via
         explode(sequence) and map draw→user by equi-join on the index;
      3. per (replicate, user) multiplicity joins the label rows once;
      4. per-replicate weighted conditional aggregation → macro-F1 /
         accuracy; final tiny agg over ``n_samples`` rows.

    At 100 TB the validation set is still annotation-bounded, but nothing
    here collects to the driver — the same plan runs on the full corpus.
    """
    t, p = F.col(truth_col), F.col(pred_col)
    base = df.where((t != other) | (p != other)).select(
        F.col(user_col).alias("__u").cast("long"),
        F.col(bucket_col).alias("__bk").cast("long"),
        t.alias("__t"),
        p.alias("__p"),
    )

    users = base.select("__bk", "__u").distinct()
    w = Window.partitionBy("__bk").orderBy("__u")
    indexed = users.withColumn("__idx", F.row_number().over(w))
    sizes = indexed.groupBy("__bk").agg(F.max("__idx").alias("__nb"))

    draws = (
        sizes.withColumn("__i", F.explode(F.sequence(F.lit(1), F.lit(n_samples))))
        .withColumn("__j", F.explode(F.sequence(F.lit(1), F.col("__nb"))))
        .select(
            "__bk",
            "__i",
            (
                (
                    (
                        (
                            (
                                F.col("__i").cast("long") * F.lit(_BOOT_A)
                                + F.col("__j").cast("long") * F.lit(_BOOT_B)
                                + F.lit(seed)
                                + F.col("__bk") * F.lit(997)
                            )
                            % F.lit(_BOOT_MOD)
                        )
                        * F.lit(_BOOT_MULT)
                        % F.lit(_BOOT_MOD)
                    )
                    * F.lit(_BOOT_MULT)
                    % F.lit(_BOOT_MOD)
                )
                % F.col("__nb").cast("long")
                + 1
            ).alias("__idx"),
        )
    )
    # ``indexed`` (one row per validation user) and ``mult`` (n_samples x
    # users) are annotation-bounded — a human-labeled validation set, not
    # the corpus — so both sides broadcast; each hint removes a full
    # shuffle exchange from the hot path. The corpus-sized frame never
    # moves: ``base`` stays where the scan put it.
    mult = (
        draws.join(F.broadcast(indexed), ["__bk", "__idx"])
        .groupBy("__i", "__u")
        .agg(F.count(F.lit(1)).alias("__m"))
    )

    weighted = base.join(F.broadcast(mult), "__u")
    m = F.col("__m")
    aggs = [
        F.sum(m).alias("n"),
        F.sum(F.when(F.col("__t") == F.col("__p"), m).otherwise(0)).alias("__hits"),
    ]
    for lbl in labels:
        aggs += [
            F.sum(
                F.when((F.col("__t") == lbl) & (F.col("__p") == lbl), m).otherwise(0)
            ).alias(f"__tp_{lbl}"),
            F.sum(
                F.when((F.col("__t") != lbl) & (F.col("__p") == lbl), m).otherwise(0)
            ).alias(f"__fp_{lbl}"),
            F.sum(
                F.when((F.col("__t") == lbl) & (F.col("__p") != lbl), m).otherwise(0)
            ).alias(f"__fn_{lbl}"),
        ]
    per_rep = weighted.groupBy("__i").agg(*aggs)

    def _safe_div(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den).otherwise(F.lit(0.0))

    f1s = []
    for lbl in labels:
        tp = F.col(f"__tp_{lbl}")
        prec = _safe_div(tp, tp + F.col(f"__fp_{lbl}"))
        rec = _safe_div(tp, tp + F.col(f"__fn_{lbl}"))
        f1s.append(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
        )
    macro = sum(f1s[1:], f1s[0]) / float(len(labels))
    scored = per_rep.select(
        F.col("__i").alias("sample"),
        _safe_div(F.col("__hits"), F.col("n")).alias("accuracy"),
        macro.alias("macro_f1"),
    )
    # percentile CI bounds (linear interpolation — identical semantics to
    # DuckDB quantile_cont, so the CI itself is oracle-exact)
    return scored.agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.avg("macro_f1").alias("f1_mean"),
        F.stddev_samp("macro_f1").alias("f1_std"),
        F.percentile("macro_f1", F.lit(0.025)).alias("f1_lo"),
        F.percentile("macro_f1", F.lit(0.975)).alias("f1_hi"),
        F.avg("accuracy").alias("acc_mean"),
        F.stddev_samp("accuracy").alias("acc_std"),
    )


def recall_proxy(
    scores: DataFrame,
    seed_positives: DataFrame,
    id_col: str,
    score_col: str,
    cutoff: float,
) -> DataFrame:
    """Recall proxy (`estimate_recall.py:64-77`): of the known-positive
    seed ids, what share scores >= cutoff. Seed set is dimension-sized →
    broadcast semi/inner join."""
    hits = scores.join(F.broadcast(seed_positives.select(id_col)), id_col)
    return hits.agg(
        F.count(F.lit(1)).alias("n_seed"),
        F.sum((F.col(score_col) >= cutoff).cast("int")).alias("n_recovered"),
        (
            F.sum((F.col(score_col) >= cutoff).cast("int")) / F.count(F.lit(1))
        ).alias("recall"),
    )


def calibration(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Probability-calibration diagnostics: the reliability table plus
    Brier score and expected calibration error (ECE).

    Bins are equal-width on [0,1] (``least(floor(p·k), k−1)`` so p=1.0
    lands in the last bin); per bin the mean confidence vs the empirical
    positive rate. Brier = mean (p−y)²; ECE = Σ_b (n_b/N)·|conf_b −
    acc_b|. One shuffle (the k-row bin aggregate); the global scores
    derive from the SAME tiny frame and broadcast back onto every bin
    row, so the full table + scores cost a single pass over the corpus.
    """
    p, y = F.col(prob_col), F.col(label_col).cast("double")
    b = F.least(F.floor(p * n_bins).cast("long"), F.lit(n_bins - 1).cast("long"))
    bins = (
        df.select(b.alias("bin"), p.alias("__p"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__p").alias("conf"),
            F.avg("__y").alias("acc"),
            F.sum((F.col("__p") - F.col("__y")) * (F.col("__p") - F.col("__y"))).alias(
                "__se"
            ),
        )
    )
    glob = bins.agg(
        F.sum("n").alias("__N"),
        (F.sum("__se") / F.sum("n")).alias("brier"),
        (F.sum(F.col("n") * F.abs(F.col("conf") - F.col("acc"))) / F.sum("n")).alias(
            "ece"
        ),
    )
    return bins.crossJoin(F.broadcast(glob)).select(
        "bin", "n", "conf", "acc", "brier", "ece"
    )


def roc_points(
    df: DataFrame,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """ROC curve points — at every distinct score threshold t, the
    (FPR, TPR) of the classifier "predict positive iff score ≥ t".
    Returns one row per distinct score:
    (score, cum_tp, cum_fp, tpr, fpr), ordered implicitly by score.

    The curve behind the AUC scalar (:func:`auc` integrates it;
    this materializes it for threshold selection / plotting — the
    reference picks its indicator cutoffs by inspecting exactly these
    rank-vs-precision tradeoffs, `12-model_training_eval.Rmd:59-75`).

    Scale shape (same as `quality.ks_statistic`): one groupBy(score)
    shuffle collapses the corpus to per-score (tp, fp) counts, then BOTH
    running sums ride one `grouped_prefix_sum` pass (range shuffle +
    narrow Arrow cumsum + broadcast offsets — no single-partition sort
    at any score cardinality); totals broadcast back. TPR/FPR are
    ratios of exact integers, so they are bit-identical across engines.
    """
    from .windows import grouped_prefix_sum

    y = F.col(label_col).cast("long")
    per_score = (
        df.select(F.col(score_col).alias("__s"), y.alias("__y"))
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("__p"),
            (F.count(F.lit(1)) - F.sum("__y")).alias("__n"),
        )
    )
    cum = grouped_prefix_sum(
        per_score.withColumn("__g", F.lit(1)),
        ["__g"],
        [F.col("__s").desc()],
        ["__p", "__n"],
        ["cum_tp", "cum_fp"],
    )
    totals = per_score.agg(
        F.sum("__p").alias("__tp"), F.sum("__n").alias("__tn")
    )
    return cum.crossJoin(F.broadcast(totals)).select(
        F.col("__s").alias("score"),
        # the Arrow cumsum stage carries float64; counts are exact
        # integers well under 2^53, so the cast back is lossless
        F.col("cum_tp").cast("long").alias("cum_tp"),
        F.col("cum_fp").cast("long").alias("cum_fp"),
        (F.col("cum_tp") / F.col("__tp")).alias("tpr"),
        (F.col("cum_fp") / F.col("__tn")).alias("fpr"),
    )


def ndcg_at_k(
    df: DataFrame,
    label_col: str,
    score_col: str,
    id_col: str,
    k: int = 100,
) -> DataFrame:
    """nDCG@k for binary relevance: DCG over the top-k by score
    (deterministic tie-break on ``id_col``), normalized by the ideal DCG
    (all positives first). Returns one row (k, n_pos, dcg, idcg, ndcg).

    Scale shape: top-k is a ``TakeOrdered`` (per-partition heap + k-row
    driver merge — never a global sort); the positive count is one
    aggregate; the ideal-DCG harmonic sum is a driver-free expression
    over ``sequence(1, min(k, n_pos))``.
    """
    y = F.col(label_col).cast("double")
    topk = (
        df.select(y.alias("__y"), F.col(score_col).alias("__s"), F.col(id_col).alias("__id"))
        .orderBy(F.col("__s").desc(), F.col("__id").asc())
        .limit(k)
        .withColumn(
            "__rank",
            F.row_number().over(
                Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
            ),
        )
    )
    dcg = topk.agg(
        F.sum(F.col("__y") / F.log2(F.col("__rank") + 1)).alias("dcg")
    )
    npos = df.agg(F.sum(y).cast("long").alias("n_pos"))
    joined = dcg.crossJoin(F.broadcast(npos))
    m = F.least(F.lit(k).cast("long"), F.col("n_pos"))
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard m < 1
    idcg = F.when(m < 1, F.lit(0.0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1).cast("long"), m),
            F.lit(0.0),
            lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
        )
    )
    return joined.select(
        F.lit(k).alias("k"),
        "n_pos",
        F.col("dcg"),
        idcg.alias("idcg"),
        F.when(idcg > 0, F.col("dcg") / idcg).otherwise(F.lit(0.0)).alias("ndcg"),
    )


def mean_reciprocal_rank(
    df: DataFrame,
    label_col: str,
    score_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """MRR over per-``group_col`` rankings (queries): each query
    contributes 1/rank of its FIRST relevant item under (score desc, id
    asc); queries with no relevant item contribute 0 (the standard MRR
    convention — they stay in the denominator). Returns one row
    (n_queries, n_with_relevant, mrr).

    Scale shape: one per-query window (query-sized groups, a hash
    shuffle on the query key) + one aggregate; nothing global-sorted,
    nothing collected.
    """
    y = F.col(label_col).cast("int")
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(group_col).alias("__q"), y.alias("__y"),
        F.row_number().over(w).alias("__r"),
    )
    per_q = ranked.groupBy("__q").agg(
        F.min(F.when(F.col("__y") == 1, F.col("__r"))).alias("__first")
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count("__first").alias("n_with_relevant"),
        F.avg(
            F.coalesce(1.0 / F.col("__first"), F.lit(0.0))
        ).alias("mrr"),
    )


def grid_search_configs(
    stops: DataFrame,
    truth: DataFrame,
    configs: list[dict],
    labeler,
    join_cols: tuple[str, str] = ("user_id", "cluster_label"),
    truth_col: str = "final_op",
    pred_col: str = "location_type",
    labels: tuple[str, ...] = ("H", "W"),
    other: str = "O",
) -> DataFrame:
    """The reference's parameter grid search (`08-optimization.Rmd:
    141-216`): label stops under EVERY config, score each against the
    validators' truth, return one metrics row per config.

    Spark-first parallelization of the reference's ``joblib.Parallel(
    n_jobs=32)`` loop: the per-config metric aggregates are UNIONED into
    one plan and computed in ONE action — the cluster schedules all
    configs' stages together (sharing executors and, when the optimizer
    can, the stops scan) instead of 32 driver processes re-reading the
    inputs. Returns (config_id, config, n, accuracy, f1_<label>...,
    macro_f1) — a #configs-row frame.
    """
    import json as _json

    frames = []
    for i, cfg in enumerate(configs):
        labeled = labeler(stops, **cfg)
        joined = truth.join(labeled, list(join_cols), "full_outer").fillna(
            {truth_col: other, pred_col: other}
        )
        m = classification_metrics(joined, truth_col, pred_col, labels, other)
        frames.append(
            m.select(
                F.lit(i).alias("config_id"),
                F.lit(_json.dumps(cfg, sort_keys=True)).alias("config"),
                "*",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def select_compatible_config(
    grid: DataFrame, f1_col: str = "macro_f1", std_col: str | None = None
) -> DataFrame:
    """The reference's configuration selection
    (`08-optimization.Rmd:218-231` ``get_country_compatibilities``):
    keep configs whose f1 + std reaches best_f1 − best_std (statistically
    compatible with the optimum), ranked best-first. Without a std column
    (no bootstrap run) this degenerates to exact argmax. The grid frame
    is #configs rows — window over it is trivially safe."""
    std = F.col(std_col) if std_col else F.lit(0.0)
    w = Window.orderBy(F.col(f1_col).desc(), F.col("config_id").asc())
    ranked = grid.withColumn("__best_f1", F.first(f1_col).over(w)).withColumn(
        "__best_std", F.first(std_col).over(w) if std_col else F.lit(0.0)
    )
    return (
        ranked.where(
            F.col(f1_col) + std >= F.col("__best_f1") - F.col("__best_std")
        )
        .drop("__best_f1", "__best_std")
        .orderBy(F.col(f1_col).desc(), F.col("config_id").asc())
    )


def grouped_auc(
    df: DataFrame,
    group_cols: list[str],
    label_col: str | Column,
    score_col: str,
) -> DataFrame:
    """Per-segment AUROC — one (n_pos, n_neg, auc) row per group, the
    grouped sibling of :func:`auc` (the reference's evaluation is
    per-country throughout, `08-optimization.Rmd:218-231`).

    Mann-Whitney with average-rank ties, per group: one keyed window
    ranks within the segment, a second window over (group, score)
    averages tied ranks, then a #groups-row aggregate. One shuffle on
    the group key. Segments are evaluation slices (countries, model
    versions) — dimension-bounded by construction; for one corpus-sized
    segment use the global :func:`auc`, whose range-partitioned rank
    never puts the whole table in one window partition.

    Degenerate-segment contract: a group with zero positives or zero
    negatives has no defined AUROC (the denominator n_pos·n_neg is 0)
    and gets ``auc = NULL`` — the row is still emitted with its
    n_pos/n_neg so consumers can distinguish "undefined" from
    "missing"; rank such segments explicitly (e.g. ``F.coalesce`` to a
    sentinel, or filter on n_pos > 0 AND n_neg > 0) rather than
    sorting on the nullable auc directly.
    """
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.select(
        *group_cols, label.cast("int").alias("__y"), F.col(score_col).alias("__s")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.col("__s").asc())
    ranked = base.withColumn("__r", F.row_number().over(w))
    avg_r = ranked.withColumn(
        "__ar", F.avg("__r").over(Window.partitionBy(*group_cols, "__s"))
    )
    np_, nn = F.sum("__y"), F.sum(1 - F.col("__y"))
    return avg_r.groupBy(*group_cols).agg(
        np_.cast("long").alias("n_pos"),
        nn.cast("long").alias("n_neg"),
        (
            (F.sum(F.col("__ar") * F.col("__y")) - np_ * (np_ + 1) / 2.0)
            / (np_ * nn)
        ).alias("auc"),
    )


def ab_test(
    df: DataFrame,
    arm_col: str,
    arm_a,
    arm_b,
    value_col: str | Column,
) -> DataFrame:
    """Two-sample A/B comparison of a numeric metric between two arms:
    one row with per-arm (n, mean, var) and the Welch t statistic
    t = (mean_a − mean_b) / sqrt(s²_a/n_a + s²_b/n_b) — the experiment
    readout primitive (for a 0/1 conversion column the same statistic is
    the unpooled two-proportion z).

    ONE pass of conditional aggregation (map-side combined, 1-row
    output) — never a per-arm collect; degrees of freedom via
    Welch–Satterthwaite, left to the caller's CDF of choice (no scipy
    dependency).

    Null contract: ``n_a``/``n_b`` count NON-NULL metric values (the
    same rows that enter mean/var), not arm membership — a row in arm A
    with a null metric contributes to neither n_a nor the moments, so
    t and dof are always computed over a consistent sample.
    """
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast(
        "double"
    )
    arm = F.col(arm_col)
    va = F.when(arm == arm_a, v)
    vb = F.when(arm == arm_b, v)
    g = df.agg(
        F.count(va).cast("long").alias("n_a"),
        F.count(vb).cast("long").alias("n_b"),
        F.avg(va).alias("mean_a"),
        F.avg(vb).alias("mean_b"),
        F.var_samp(va).alias("var_a"),
        F.var_samp(vb).alias("var_b"),
    )
    se2a = F.col("var_a") / F.col("n_a")
    se2b = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2a + se2b)
    dof = (se2a + se2b) * (se2a + se2b) / (
        se2a * se2a / (F.col("n_a") - 1) + se2b * se2b / (F.col("n_b") - 1)
    )
    return g.select(
        "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        t.alias("t_welch"), dof.alias("dof"),
    )


def selection_diversity(
    sel: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: int = 1_000_000,
    round_dp: int = 6,
    use_arrow: bool | None = None,
    arrow_min_k: int = 2_000,
) -> DataFrame:
    """Embedding-diversity of a SELECTED set (an active-learning top-k
    batch, a dedup survivor sample): the reference's mean / mean-max
    pairwise-cosine diversity scores
    (`twitter-analytics/code/3-model_evaluation/diversity/
    compute_diversity.py:34-39,163-166`), which it computes as one k×k
    torch matrix on a GPU. Returns ONE row:

    - ``mean_diversity``  = −Σ_{i,j} cos(i,j) / k²  (diagonal included,
      as in the reference — each row contributes its self-similarity 1)
    - ``mean_max_diversity`` = mean_i max_j (−cos(i,j)) — how far each
      selected item is from its NEAREST other selection; high = spread
      out, low = the batch collapsed onto near-duplicates.

    Physical strategy: the selection is k-sized BY CONTRACT (the
    reference caps it at topk=10000), so one side is broadcast and the
    k² pair scores stream through a map-side-combined per-i aggregate —
    the corpus itself is never touched, and nothing bigger than k rows
    shuffles. For k beyond ~10⁵ pre-bucket with
    ``similarity.lsh_bucket_topk`` instead; an exact k² matrix is the
    wrong tool at that size in ANY engine.

    Float-order proofing: each pairwise cosine is pinned to integer
    ``1/unit`` units before summation (exact long arithmetic, engine-
    independent), the same trajectory-pinning as the tpch_* entries.

    ``use_arrow`` selects the backend; the default ``None`` AUTO-SELECTS
    by counting the selection (one cheap job on a k-sized frame): the
    expression fold below ``arrow_min_k`` — bit-identical oracle
    trajectories where fixtures live — and Arrow/BLAS above it, because
    the fold's interpreted per-element cost is quadratic in k (a 12k
    selection measured 327 s fold vs 11.1 s Arrow; a catalog fixture
    whose selection GREW with the corpus walked into that cliff at the
    100x universe before auto-selection). ``use_arrow=True`` is the
    scale backend (the ``embedding_near_dups`` verify /
    ``pandas_cosine_topk`` pattern): the k×dim selection matrix is
    closed over (k-sized by contract — the same budget as broadcasting
    it) and each Arrow batch
    computes its rows' cosines against ALL of it in one BLAS
    ``A @ Q.T`` — measured 253 s → 11.1 s
    at a 12k-vector selection (the interpreted per-element fold is the
    entire cost of the default path). Same 1/unit pinning applied in
    numpy BEFORE the exact int64 row sums, with the SAME tie rule —
    HALF_UP (away from zero), matching ``F.round`` — so the two
    backends agree everywhere except a cosine sitting within ~1e-16 of
    a unit boundary; the default stays the fold for bit-identical
    oracle trajectories at fixture scale.
    """
    from .similarity import cosine

    a = sel.select(F.col(id_col).alias("__i"), F.col(vec_col).alias("__va"))
    if use_arrow is None:
        use_arrow = a.count() > arrow_min_k
    if use_arrow:
        import numpy as np

        from ..session import ship_package

        ship_package(sel.sparkSession)
        q_rows = sel.select(vec_col).collect()
        qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        u = float(unit)

        def score(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                cm = np.array(list(pdf["__va"]), dtype=np.float64)
                cn = np.linalg.norm(cm, axis=1)
                raw = (cm @ qm.T) / np.outer(cn, qn) * u
                # HALF_UP like F.round (ties away from zero) — np.rint's
                # half-to-even would systematically diverge from the
                # default backend on exact .5 unit boundaries
                cu = np.trunc(raw + np.copysign(0.5, raw)).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "__i": pdf["__i"].to_numpy(),
                        "__mx": (-cu).max(axis=1),
                        "__s": cu.sum(axis=1),
                    }
                )

        id_type = dict(a.dtypes)["__i"]
        per_i = a.mapInPandas(score, f"__i {id_type}, __mx long, __s long")
    else:
        b = sel.select(F.col(vec_col).alias("__vb"))
        cu = F.round(cosine(F.col("__va"), F.col("__vb")) * unit).cast("long")
        per_i = (
            a.join(F.broadcast(b))
            .select(F.col("__i"), cu.alias("__cu"))
            .groupBy("__i")
            .agg(
                F.max(-F.col("__cu")).alias("__mx"),
                F.sum("__cu").alias("__s"),
            )
        )
    k = F.count(F.lit(1)).cast("long")
    u = F.lit(float(unit))
    return per_i.agg(
        k.alias("n_selected"),
        F.round(
            -F.sum("__s").cast("double") / (u * k * k), round_dp
        ).alias("mean_diversity"),
        F.round(
            F.sum("__mx").cast("double") / (u * k), round_dp
        ).alias("mean_max_diversity"),
    )


def average_precision(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Average precision (the area under the precision-recall curve by
    the step integral — sklearn's ``average_precision_score``
    semantics): AP = Σ_t (R_t − R_{t−1})·P_t over distinct score
    thresholds descending. The PR companion to :func:`auc` — the metric
    that stays informative under the heavy class imbalance every
    data-curation gate lives with (ROC-AUC saturates when negatives
    dominate; precision does not).

    Exactness: ΔTP at threshold t is simply the positive count AT that
    score, so no lag/window over the threshold list is needed — AP =
    Σ (__p/P) · (cum_tp/(cum_tp+cum_fp)) where every factor is a ratio
    of exact integer prefix sums (the :func:`roc_points` machinery:
    one groupBy(score) corpus collapse, both running sums on one
    scalable `grouped_prefix_sum` pass). Returns ONE row
    (n_pos, n_neg, avg_precision).
    """
    from .windows import grouped_prefix_sum

    y = F.col(label_col).cast("long")
    per_score = (
        df.select(F.col(score_col).alias("__s"), y.alias("__y"))
        .groupBy("__s")
        .agg(
            F.sum("__y").alias("__p"),
            (F.count(F.lit(1)) - F.sum("__y")).alias("__n"),
        )
    )
    cum = grouped_prefix_sum(
        per_score.withColumn("__g", F.lit(1)),
        ["__g"],
        [F.col("__s").desc()],
        ["__p", "__n"],
        ["cum_tp", "cum_fp"],
    )
    totals = per_score.agg(
        F.sum("__p").cast("long").alias("n_pos"),
        F.sum("__n").cast("long").alias("n_neg"),
    )
    term = (F.col("__p").cast("double") / F.col("n_pos")) * (
        F.col("cum_tp").cast("double")
        / (F.col("cum_tp") + F.col("cum_fp"))
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("n_pos", "n_neg")
        .agg(F.round(F.sum(term), round_dp).alias("avg_precision"))
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    unit: int = 1_000_000_000,
    round_dp: int = 6,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data — the agreement coefficient
    that handles ANY number of raters and missing ratings (Cohen's
    kappa, :func:`cohen_kappa`, is the 2-rater complete-data special
    case). The labeling-QA gate for multi-annotator training data:
    alpha >= 0.8 is the conventional publish bar, < 0.667 discard.

    Coincidence-matrix formulation (Krippendorff 2004 §11.3): over
    units with m_u >= 2 ratings,

        alpha = 1 - P*(n-1)/Q,
        P = sum_u [m_u*(m_u-1) - sum_c m_uc*(m_uc-1)] / (m_u - 1)
        Q = n^2 - sum_c n_c^2,   n = total ratings kept

    (P counts disagreeing ordered pairs per unit, each weighted
    1/(m_u-1); Q the same under the marginal null). Single-rating units
    drop out by definition; a rater column is unnecessary — only the
    per-unit value multiset enters.

    Exactness: every count is a long; each unit's fractional term is
    pinned to integer ``1/unit`` units before the cross-unit sum (exact
    long arithmetic — double summation order across units can never
    flip a hash), and the final alpha is one fixed-shape double
    expression both engines evaluate identically.

    Scale shape: one corpus pass collapses to a (unit, value) histogram
    (map-side combined), cached for its two dimension-sized consumers
    (per-unit disagreement, per-value marginals); everything after is
    key-sized aggregates. Returns one row (n_units, n_ratings, alpha);
    alpha is NULL for degenerate inputs (no multi-rated unit, or zero
    expected disagreement with n <= 1)."""
    from ..cachescope import scoped_cache

    uv = scoped_cache(
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(unit_col).alias("__u"),
            F.col(value_col).cast("string").alias("__v"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_unit = (
        uv.groupBy("__u")
        .agg(
            F.sum("__c").alias("__m"),
            F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__agree"),
        )
        .where(F.col("__m") >= 2)
    )
    u = F.lit(float(unit))
    unit_stats = per_unit.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("__m").cast("long").alias("n_ratings"),
        F.sum(
            F.round(
                u
                * (F.col("__m") * (F.col("__m") - 1) - F.col("__agree"))
                / (F.col("__m") - 1)
            ).cast("long")
        ).alias("__p_units"),
    )
    # marginals over the SAME kept units (m_u >= 2)
    kept = per_unit.select("__u")
    marg = (
        uv.join(kept, "__u", "left_semi")
        .groupBy("__v")
        .agg(F.sum("__c").alias("__nc"))
        .agg(F.sum(F.col("__nc") * F.col("__nc")).cast("long").alias("__sq"))
    )
    n = F.col("n_ratings").cast("double")
    p = F.col("__p_units").cast("double") / u
    q = n * n - F.col("__sq").cast("double")
    return unit_stats.crossJoin(F.broadcast(marg)).select(
        "n_units",
        "n_ratings",
        F.round(
            F.when(q > 0, F.lit(1.0) - p * (n - 1) / q),
            round_dp,
        ).alias("alpha"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 5,
) -> DataFrame:
    """Exact Spearman rank correlation (average-rank tie handling — the
    value ``scipy.stats.spearmanr`` returns): Pearson correlation over
    the per-row average ranks of ``x_col`` and ``y_col``. Returns a
    1-row frame (n, spearman).

    Rank-free ranking, same machinery as :func:`auc`: each variable
    collapses to its DISTINCT values (one map-side-combined shuffle),
    gets an exact running count via :func:`windows.grouped_prefix_sum`
    (no single-partition global window), and the average rank of a tie
    group is ``cum_before + (cnt + 1) / 2`` by definition. The two
    |distinct|-row rank maps join back on the value — at 100 TB these
    joins shuffle the corpus on the value key but build from frames no
    larger than the distinct-value counts. Ranks are integers-and-halves
    (exact in double), so only the final corr is rounded.
    """
    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def rank_map(col: str, out: str) -> DataFrame:
        g = base.groupBy(col).agg(F.count(F.lit(1)).cast("double").alias("__cnt"))
        cum = windows.grouped_prefix_sum(
            g.withColumn("__grp", F.lit(1)),
            ["__grp"],
            [F.col(col).asc()],
            "__cnt",
            cum_col="__cum",
        )
        ar = F.col("__cum") - F.col("__cnt") + (F.col("__cnt") + 1) / 2.0
        return cum.select(F.col(col), ar.alias(out))

    ranked = base.join(rank_map("__x", "__rx"), "__x").join(
        rank_map("__y", "__ry"), "__y"
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("__rx", "__ry"), round_dp).alias("spearman"),
    )
