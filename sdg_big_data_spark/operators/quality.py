"""Data-quality operators for training-data curation.

- two-sample Kolmogorov-Smirnov drift (:func:`ks_statistic`);
- Gopher-style repetition signals (:func:`repetition_signals`) —
  duplicate-token fraction and most-common-bigram coverage, the standard
  filters against boilerplate / degenerate pages;
- PII redaction (:func:`scrub_pii`) — pattern counts + masked text;
- domain mixture weighting (:func:`mixture_weights`) — per-source
  sampling rates that hit a target token distribution.

All pure built-in expressions (zero Python UDFs); every operator has an
exact DuckDB oracle in the catalog.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .windows import grouped_prefix_sum


def ks_statistic(
    df: DataFrame,
    value_col: str,
    side_col: str,
    side_a,
    side_b,
) -> DataFrame:
    """Two-sample KS over ``value_col``, comparing rows where
    ``side_col == side_a`` against ``side_col == side_b``. Returns one
    row: (n_a, n_b, ks).

    The sup over x of |ECDF_a − ECDF_b| is attained at a sample point,
    and with ties grouped the right-limit ECDFs at each distinct value
    are exactly the cumulative counts / n — so the grouped max IS the
    exact statistic.
    """
    tagged = df.where(F.col(side_col).isin(side_a, side_b)).select(
        F.col(value_col).alias("__v"),
        (F.col(side_col) == side_a).cast("long").alias("__a"),
    )
    per_value = tagged.groupBy("__v").agg(
        F.sum("__a").alias("__ca"),
        F.count(F.lit(1)).alias("__ct"),
    )
    # BOTH running counts ride one prefix-sum pass (one range shuffle,
    # one Arrow stage, one offset join) — the multi-column form halves
    # the operator cost vs two sequential passes
    cum = grouped_prefix_sum(
        per_value.withColumn("__g", F.lit(1)),
        ["__g"],
        [F.col("__v").asc()],
        ["__ct", "__ca"],
        cum_col=["__cum_t", "__cum_a"],
    )
    totals = tagged.agg(
        F.sum("__a").alias("__na"),
        (F.count(F.lit(1)) - F.sum("__a")).alias("__nb"),
    )
    scored = cum.crossJoin(F.broadcast(totals)).select(
        "__na",
        "__nb",
        (
            F.abs(
                F.col("__cum_a") / F.col("__na")
                - (F.col("__cum_t") - F.col("__cum_a")) / F.col("__nb")
            )
        ).alias("__d"),
    )
    return scored.agg(
        F.first("__na").alias("n_a"),
        F.first("__nb").alias("n_b"),
        F.max("__d").alias("ks"),
    )


def _top_sorted_run(arr: Column) -> Column:
    """Most frequent element of a SORTED array as (count, value), via one
    linear fold over runs of equal neighbours. Ties break to the
    lexicographically-smallest value (first run wins; strict ``>``
    keeps the earlier run on equal counts). Returns a struct
    ``(best bigint, bgram string)``; best=0 / bgram=NULL for empty input.

    Why a fold and not explode+groupBy: the fold is a NARROW map — the
    most-common-gram question never leaves the row, so a 100 TB corpus
    pays zero shuffle for it. The interpreted higher-order-function cost
    is linear in tokens per doc, the same work a shuffle-based plan
    would do anyway in its map phase.
    """
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(None).cast("string").alias("bgram"),
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bgram"]).alias("bgram"),
        )

    return F.aggregate(
        arr,
        init,
        merge,
        lambda acc: F.struct(acc["best"].alias("best"), acc["bgram"].alias("bgram")),
    )


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``dup_token_frac`` — 1 − distinct/total tokens (boilerplate and
      keyword-stuffed pages score high);
    - ``top_bigram`` / ``top_bigram_frac`` — the most frequent word
      bigram and the fraction of tokens its occurrences cover
      (2·count/total; overlapping occurrences each count, so a
      degenerate "a a a…" page scores ~2 — the signal saturates, which
      is fine for a threshold filter).

    Entirely per-row (tokenize → sort bigrams → linear run fold): a pure
    map with NO shuffle, so it composes into any corpus pass for free —
    unlike the textbook explode + groupBy(doc, gram) + argmax plan,
    which pays two wide exchanges for the same answer.
    """
    from ..functions.text import ngrams, tokens_of

    toks = df.select(F.col(id_col), tokens_of(df, text_col).alias("__toks"))
    # The run-fold struct is referenced twice downstream (bgram + best);
    # alias it in its OWN projection so it evaluates once per row —
    # higher-order functions are interpreted (no codegen CSE), and
    # CollapseProject keeps a non-cheap multiply-referenced alias, so the
    # two-step select halves the fold cost (measured ~2x at sf0.1).
    staged = toks.select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("__nd"),
        _top_sorted_run(F.array_sort(ngrams(F.col("__toks"), 2))).alias("__top"),
    )
    n = F.col("n_tokens")
    return staged.select(
        F.col(id_col),
        "n_tokens",
        F.when(n > 0, 1.0 - F.col("__nd") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        F.col("__top")["bgram"].alias("top_bigram"),
        F.when(n >= 2, F.col("__top")["best"] * 2.0 / n)
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


# Redaction patterns — deliberately RE2-compatible (no backrefs, no
# lookaround) so the DuckDB oracle runs the IDENTICAL pattern text.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    "phone": (r"\+1-555-[0-9]{4}", "<PHONE>"),
}


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: Mapping[str, tuple[str, str]] = PII_PATTERNS,
) -> DataFrame:
    """PII redaction pass: per pattern, count matches (``n_<name>``) and
    replace them with the mask token; ``clean_text`` carries the fully
    masked text. One narrow projection — counts and masking share the
    single regex engine pass per pattern, nothing shuffles."""
    clean = F.col(text_col)
    cols: list[Column] = [F.col(id_col)]
    for name, (pat, _mask) in patterns.items():
        cols.append(F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).alias(f"n_{name}"))
    for _name, (pat, mask) in patterns.items():
        clean = F.regexp_replace(clean, pat, mask)
    cols.append(clean.alias("clean_text"))
    return df.select(*cols)


def mixture_weights(
    docs: DataFrame,
    weights: Mapping[str, float],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixture planning: given a target share per source and a
    total token budget, compute each source's sampling rate.

    rate_s = min(1, share_s · budget / tokens_s): a source holding less
    than its target allocation is taken whole (rate 1 — the shortfall is
    a *reported* gap, not silently re-normalized away; rebalancing is a
    policy decision for the caller). Sources absent from ``weights`` get
    share 0. One groupBy(source) aggregation — source cardinality is
    dimension-sized, so the weight table joins as a broadcast literal.
    """
    from ..functions.text import tokens_of

    spark = docs.sparkSession
    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.size(tokens_of(docs, text_col))).alias("src_tokens")
    )
    wdf = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        "source string, share double",
    )
    j = per_src.join(F.broadcast(wdf), "source", "left").withColumn(
        "share", F.coalesce(F.col("share"), F.lit(0.0))
    )
    rate = F.least(
        F.lit(1.0), F.col("share") * F.lit(float(budget_tokens)) / F.col("src_tokens")
    )
    return j.select(
        "source",
        "src_tokens",
        "share",
        rate.alias("rate"),
        F.floor(rate * F.col("src_tokens")).cast("long").alias("expected_tokens"),
    )


# RE2-compatible (no lookarounds/backrefs) so the DuckDB oracle runs the
# IDENTICAL patterns — same contract as the PII patterns above.
_URL_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_URL_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_URL_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY_RE = "\\?([^#]*)"
_URL_TRACKING_RE = "^(utm_[A-Za-z0-9_]*|gclid|fbclid)="


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form — the key the web-corpus dedup ladder groups
    on BEFORE any content hashing (the same page is crawled under
    scheme-case, www-, port-, tracking-param and fragment variants that
    defeat an exact-string group-by):

    - scheme + host lowercased, leading ``www.`` and default ports
      (:80/:443) stripped;
    - path kept case-sensitive (per RFC 3986 only scheme/host are
      case-insensitive), trailing slashes trimmed;
    - query params: tracking params (utm_*, gclid, fbclid) removed,
      the rest SORTED (param order is not identity), empty query
      dropped;
    - fragment always dropped.

    One narrow projection of regexp/array built-ins — zero shuffle at
    any corpus size; the dedup group-by downstream shuffles the (short)
    canonical key only.
    """
    scheme = F.lower(F.regexp_extract(url, _URL_SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(url, _URL_HOST_RE, 1))
    host = F.regexp_replace(host, "^www\\.", "")
    host = F.regexp_replace(host, ":(80|443)$", "")
    path = F.regexp_extract(url, _URL_PATH_RE, 1)
    path = F.regexp_replace(path, "/+$", "")
    q = F.regexp_extract(url, _URL_QUERY_RE, 1)
    kept = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
        )
    )
    qs = F.array_join(kept, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def dsir_logweights(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score every
    document in the raw pool by how much it resembles a TARGET distribution,
    using hashed-n-gram bag-of-words class models.

    Two passes, matching the paper's fit/score split:

    1. **Fit** — featurize each doc as unigrams+bigrams hashed into
       ``buckets`` buckets (``portable_hash60 % B`` — per-row arithmetic,
       no vocabulary, same encoder as the dedup family), then ONE
       map-side-combined ``groupBy(bucket)`` producing the target and raw
       gram histograms. Output is B rows regardless of corpus size.
    2. **Score** — the B-bucket log-ratio table
       ``delta_b = ln p_target(b) - ln q_raw(b)`` (Laplace-smoothed with
       ``alpha``) is collected (codebook-sized, like the PQ codebooks) and
       embedded as a LITERAL array; each doc's
       ``log w = sum_g delta_{bucket(g)}`` is then a pure per-row array
       expression over the re-derived gram list — ZERO shuffle in the
       scoring pass at any corpus size.

    At 100 TB: pass 1 shuffles B rows after map-side combine; pass 2 is
    embarrassingly parallel. Nothing corpus-sized crosses the driver —
    only the 2·B-long histogram.

    Returns ``(id_col, n_grams, dsir_logw)`` — rank/threshold on
    ``dsir_logw`` (or Gumbel-perturb it with a seeded per-row draw) to
    select the target-like subset.
    """
    import math

    from ..functions.text import let, ngrams, tokens_of
    from .dedup import portable_hash60

    B = int(buckets)

    def grams_of(t: Column) -> Column:
        return F.concat(t, ngrams(t, 2))

    g = docs.select(
        is_target.cast("int").alias("is_t"),
        F.explode(let(tokens_of(docs, text_col), grams_of)).alias("g"),
    )
    hist = (
        g.groupBy((portable_hash60(F.col("g")) % F.lit(B)).alias("b"))
        .agg(F.count(F.lit(1)).alias("cr"), F.sum("is_t").alias("ct"))
        .collect()
    )
    ct = [0] * B
    cr = [0] * B
    for row in hist:
        ct[int(row["b"])] = int(row["ct"])
        cr[int(row["b"])] = int(row["cr"])
    t_tot, r_tot = sum(ct), sum(cr)
    a = float(alpha)
    delta = [
        math.log((ct[b] + a) / (t_tot + a * B))
        - math.log((cr[b] + a) / (r_tot + a * B))
        for b in range(B)
    ]
    delta_lit = F.array(*[F.lit(float(d)) for d in delta])

    def score(t: Column) -> Column:
        gs = grams_of(t)
        lw = F.aggregate(
            gs,
            F.lit(0.0),
            lambda acc, x: acc
            + F.element_at(delta_lit, (portable_hash60(x) % F.lit(B) + 1).cast("int")),
        )
        return F.struct(
            F.size(gs).cast("long").alias("n_grams"),
            F.round(lw, 6).alias("dsir_logw"),
        )

    scored = let(tokens_of(docs, text_col), score)
    # Generate barrier: selecting two fields of the struct would inline
    # the WHOLE scoring expression (tokenize + gram fold over the
    # codebook) twice per row — CollapseProject re-duplicates even
    # through an intermediate withColumn. explode(array(struct)) pins
    # one evaluation; the fields project off the generated row.
    once = docs.select(
        F.col(id_col), F.explode(F.array(scored)).alias("__s")
    )
    return once.select(
        F.col(id_col),
        F.col("__s.n_grams").alias("n_grams"),
        F.col("__s.dsir_logw").alias("dsir_logw"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    id_col: str | None = None,
) -> DataFrame:
    """k-anonymity suppression gate (Sweeney 2002): every row whose
    quasi-identifier combination is shared by fewer than ``k`` rows gets
    its quasi-identifiers SUPPRESSED (nulled), so no released combination
    identifies fewer than ``k`` individuals.

    The released-training-data privacy floor that PII regex scrubbing
    (:func:`scrub_pii`) cannot provide: rare attribute COMBINATIONS
    (nation x segment x balance band) re-identify even with direct
    identifiers removed.

    One map-side-combined ``groupBy(quasi)`` to the equivalence-class
    histogram + one join back — no corpus-wide window. The join-back is
    NULL-SAFE (``<=>``): NULL is a legal quasi-identifier value and its
    rows form an equivalence class like any other — a null-unsafe join
    would silently DROP those rows from the release (ADVICE r4). No
    broadcast hint either: quasi-combination cardinality approaches the
    corpus size in exactly the low-k regimes this gate targets, so the
    histogram is not guaranteed dimension-sized — AQE picks broadcast
    when the statistics actually allow it. Returns the input ids, the
    class size ``n_class``, ``is_k_anon``, and each quasi column masked
    to NULL where the class is small.
    """
    sizes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("n_class"))
    left, right = df.alias("__ka_l"), sizes.alias("__ka_r")
    cond = None
    for c in quasi_cols:
        e = F.col(f"__ka_l.{c}").eqNullSafe(F.col(f"__ka_r.{c}"))
        cond = e if cond is None else (cond & e)
    keep = (
        [F.col(f"__ka_l.{id_col}").alias(id_col)]
        if id_col
        else [
            F.col(f"__ka_l.{c}").alias(c)
            for c in df.columns
            if c not in quasi_cols
        ]
    )
    ok = F.col("__ka_r.n_class") >= k
    masked = [
        F.when(ok, F.col(f"__ka_l.{c}")).alias(c) for c in quasi_cols
    ]
    return left.join(right, cond).select(
        *keep,
        *masked,
        F.col("__ka_r.n_class").alias("n_class"),
        ok.alias("is_k_anon"),
    )


def temperature_mixture(
    docs: DataFrame,
    alpha: float,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based domain mixture (the multilingual α-sampling rule,
    Conneau et al. arXiv:1911.02116 §3.1): sample source s with
    probability ``q_s ∝ p_s^α`` where ``p_s`` is its natural token share.
    ``α < 1`` flattens the distribution — low-resource domains are
    upsampled relative to their raw share, high-resource ones damped —
    without the hand-curated target table :func:`mixture_weights` needs.

    rate_s = min(1, q_s · budget / tokens_s), same capping contract as
    :func:`mixture_weights` (an under-provisioned source is taken whole
    and the shortfall stays VISIBLE in expected_tokens).

    One map-side-combined ``groupBy(source)`` pass; the two normalizers
    (total tokens, Σ p^α) are source-cardinality aggregates broadcast
    back — nothing corpus-sized moves.
    """
    from ..functions.text import tokens_of

    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.size(tokens_of(docs, text_col))).alias("src_tokens")
    )
    tot = per_src.agg(F.sum("src_tokens").cast("double").alias("__tot"))
    p = per_src.crossJoin(F.broadcast(tot)).withColumn(
        "__p", F.col("src_tokens") / F.col("__tot")
    )
    z = p.agg(F.sum(F.pow("__p", F.lit(float(alpha)))).alias("__z"))
    q = F.pow("__p", F.lit(float(alpha))) / F.col("__z")
    rate = F.least(
        F.lit(1.0), q * F.lit(float(budget_tokens)) / F.col("src_tokens")
    )
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "src_tokens",
        F.round(q, 6).alias("q"),
        F.round(rate, 6).alias("rate"),
        F.floor(rate * F.col("src_tokens")).cast("long").alias("expected_tokens"),
    )


def chi2_categorical_drift(
    ref: DataFrame,
    cur: DataFrame,
    cat_col: str,
    laplace: float = 0.5,
) -> DataFrame:
    """Chi-square drift gate between a reference and a current CATEGORICAL
    distribution — the discrete sibling of :func:`ks_statistic` (KS only
    orders numeric values). The production question it answers: did the
    event-type / source / language mix shift between two ingest windows?

    expected_cur(c) = t_cur · (n_ref(c) + ``laplace``) / (t_ref + ``laplace``·k)
    — Laplace smoothing keeps categories absent from the reference
    finite-scored instead of dividing by zero; chi2_term(c) =
    (n_cur(c) − expected)² / expected, Σ terms ~ χ²(k−1) under no drift.

    Two map-side-combined category histograms + a full-outer join on the
    category key + one category-sized totals aggregate broadcast back —
    nothing corpus-sized shuffles twice, and the output is k rows.
    Returns (category, n_ref, n_cur, expected_cur, chi2_term).

    The join is NULL-SAFE (``eqNullSafe``): a NULL category present in
    both windows is ONE category with both counts, not two half-rows —
    a plain equi-join never matches NULL keys, which would inflate k
    and corrupt expected_cur/chi2_term for feeds with null event types
    (the same null-key discipline as :func:`k_anonymity`).
    """
    rc = ref.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    cc = cur.groupBy(F.col(cat_col).alias("category")).agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    cats = (
        rc.join(cc, rc["category"].eqNullSafe(cc["category"]), "full_outer")
        .select(
            F.coalesce(rc["category"], cc["category"]).alias("category"),
            F.coalesce(rc["n_ref"], F.lit(0)).alias("n_ref"),
            F.coalesce(cc["n_cur"], F.lit(0)).alias("n_cur"),
        )
    )
    tot = cats.agg(
        F.sum("n_ref").alias("__t_ref"),
        F.sum("n_cur").alias("__t_cur"),
        F.count(F.lit(1)).alias("__k"),
    )
    j = cats.crossJoin(F.broadcast(tot))
    p_ref = (F.col("n_ref") + F.lit(float(laplace))) / (
        F.col("__t_ref") + F.lit(float(laplace)) * F.col("__k")
    )
    expected = p_ref * F.col("__t_cur")
    term = (F.col("n_cur") - expected) * (F.col("n_cur") - expected) / expected
    return j.select(
        "category",
        "n_ref",
        "n_cur",
        F.round(expected, 6).alias("expected_cur"),
        F.round(term, 6).alias("chi2_term"),
    )


def key_skew_profile(df: DataFrame, key_col: str, round_dp: int = 6) -> DataFrame:
    """Join/groupBy-key skew diagnostic — the profile to run BEFORE
    keying a 100 TB shuffle on a column: a single hot key serializes one
    reducer no matter how many executors exist (the reason
    ``joins.salted_join`` and AQE skew-join exist; this operator tells
    you whether you need them).

    Returns ONE row: total rows, distinct keys, the hottest key (ties →
    smallest key string), its share of all rows, the mean rows-per-key,
    and the normalized Shannon entropy of the key distribution (1 =
    perfectly uniform, →0 = one key dominates).

    One map-side-combined ``groupBy(key)`` histogram + one key-sized
    aggregate over it — the corpus is touched once; nothing key-sized
    leaves the executors.

    NULL keys hash to one reducer like any other value, so they are a
    real skew hazard — the histogram keys them under the sentinel
    ``"<NULL>"`` so a null-dominated column reports ``top_key='<NULL>'``
    instead of a NULL that ``min`` would silently drop from the
    tie-break. Real values are histogrammed under a ``v:`` prefix so a
    GENUINE string key ``'<NULL>'`` never merges with actual nulls
    (their counts stay separate rows; the prefix is stripped on output,
    and nulls sort before every value in the tie-break)."""
    from ..cachescope import scoped_cache

    # cached: three key-sized consumers (totals, hottest-key tie-break,
    # entropy) over the one corpus-touching histogram
    hist = scoped_cache(
        df.groupBy(
            F.coalesce(
                F.concat(F.lit("v:"), F.col(key_col).cast("string")),
                F.lit("<NULL>"),
            ).alias("__k")
        ).agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = hist.agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__c").alias("__maxc"),
    )
    top_key = (
        hist.join(F.broadcast(totals.select("__maxc")), hist["__c"] == F.col("__maxc"))
        .agg(F.min("__k").alias("__tk"))
        .select(
            F.when(F.col("__tk") == "<NULL>", F.col("__tk"))
            .otherwise(F.substring(F.col("__tk"), 3, 2_000_000_000))
            .alias("top_key")
        )
    )
    ent = hist.crossJoin(F.broadcast(totals.select("n_rows"))).agg(
        F.sum(
            -(F.col("__c") / F.col("n_rows"))
            * F.log(F.col("__c") / F.col("n_rows"))
        ).alias("__h")
    )
    return (
        totals.crossJoin(F.broadcast(top_key))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_rows",
            "n_keys",
            "top_key",
            F.round(F.col("__maxc") / F.col("n_rows"), round_dp).alias(
                "top_share"
            ),
            F.round(F.col("n_rows") / F.col("n_keys"), round_dp).alias(
                "mean_rows_per_key"
            ),
            F.round(
                F.when(F.col("n_keys") > 1, F.col("__h") / F.log(F.col("n_keys")))
                .otherwise(F.lit(0.0)),
                round_dp,
            ).alias("norm_entropy"),
        )
    )


def bigram_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    round_dp: int = 4,
    broadcast_vocab_max: int = 2_000_000,
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """Interpolated bigram language-model perplexity per document
    (Jelinek-Mercer: p(w2|w1) = lam·MLE_bigram + (1−lam)·MLE_unigram) —
    the transition-level CCNet-style quality gate; boilerplate and
    keyword-stuffed docs look fluent to unigrams but have improbable
    transitions. Returns (id, n_bigrams, ppl); docs under 2 tokens have
    no transitions and are excluded by contract.

    Two map-side-combined count shuffles (unigram + bigram) train the
    model; scoring joins the count tables back on token keys. The
    broadcast of the unigram table is SIZE-GATED (the
    ``connected_components`` pattern, graph.py): at ≤
    ``broadcast_vocab_max`` distinct tokens — any plausible vocabulary
    by Heaps' law — the hint forces a broadcast hash join; above it the
    hint is withheld and the joins degrade to plain shuffle joins
    instead of OOM-ing the driver. CAVEAT: the gating count is an EAGER
    job at plan-construction time (one full tokenize+count over the
    cached unigram histogram — its result is reused by the model, but
    building the DataFrame lazily is impossible with a driver-side
    gate). Callers composing plans without executing them (plan dumps,
    audits) or who know their vocabulary size should pass
    ``broadcast_vocab=True``/``False`` explicitly — that skips the
    gating job entirely (the catalog entry passes ``True``: its corpus
    vocabulary is dimension-sized by construction). A HOT
    token (boilerplate filler) concentrates its bigram pairs on one
    key, but both count aggregates collapse map-side before the
    exchange, so the shuffle carries distinct pairs, not occurrences
    (probed in tools/skew_probe.py)."""
    from ..cachescope import scoped_cache
    from ..functions.text import tokens_of

    toks = scoped_cache(
        docs.select(F.col(id_col), tokens_of(docs, text_col).alias("t"))
    )
    uni = scoped_cache(
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab_small = (
        broadcast_vocab
        if broadcast_vocab is not None
        else uni.count() <= broadcast_vocab_max
    )
    hint = F.broadcast if vocab_small else (lambda d: d)
    total = uni.agg(F.sum("cu").cast("double").alias("total"))
    big = toks.where(F.size("t") >= 2).select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.expr("slice(t, 1, size(t) - 1)"),
                F.expr("slice(t, 2, size(t) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("cu").alias("cu2"))
    p = (
        F.lit(float(lam)) * F.col("cb").cast("double") / F.col("cu1")
        + F.lit(1.0 - float(lam)) * F.col("cu2").cast("double") / F.col("total")
    )
    return (
        big.join(bc, ["w1", "w2"])
        .join(hint(u1), "w1")
        .join(hint(u2), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.exp(F.avg(-F.log(p))), round_dp).alias("ppl"),
        )
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
    laplace: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    NUMERIC distribution — the third drift gate alongside
    :func:`ks_statistic` (ordered, binless) and
    :func:`chi2_categorical_drift` (categorical): PSI is what a
    production scorecard monitor pages on (rule of thumb: <0.1 stable,
    >0.25 shifted).

    Bins are the reference's EXACT ``bins``-quantile cut points — the
    value at global sorted position ``floor(j·n/bins)`` (j=1..bins-1),
    computed with the scalable range-shuffle rank
    (:func:`~.windows.global_rank` — never a single-partition window),
    so the same edge set is replayable verbatim by a SQL oracle's
    ``row_number`` (no percentile-interpolation divergence between
    engines). A value x lands in bin = #edges strictly below x
    (duplicate edges from heavy ties collapse bins deterministically).

    psi_term(b) = (p_cur − p_ref)·ln(p_cur/p_ref) with both fractions
    Laplace-smoothed over the OBSERVED bin count (an empty-in-cur bin
    scores finite, the same discipline as the chi-square gate).

    Shape: one cached narrow pass over ref (count + rank + histogram,
    released before returning); the bins−1 edge VALUES and the ≤ bins
    reference counts are dimension-sized by construction, so they come
    back to the driver (:func:`psi_reference_model`) and the current
    side is scored against LITERALS (:func:`psi_from_model`) — bins−1
    codegen'd `e < v` terms per row inside whole-stage codegen, one
    map-side-combined histogram, k-row output (the same
    expression-level-codebook pattern as `pq_encode` /
    `assign_clusters` / DSIR scoring). The first form shipped the edges
    as a broadcast ARRAY column filtered by a lambda; higher-order
    functions are interpreted, and that one expression was measured as
    81 of the 96 s at the 100x universe (60M rows) — the literal form
    bins the same rows in ~3 s. The model/score split exists for the
    streaming monitor: the reference is ranked ONCE per query, not once
    per micro-batch.
    """
    model = psi_reference_model(ref, value_col, bins=bins)
    return psi_from_model(cur, model, value_col, laplace=laplace,
                          round_dp=round_dp)


def psi_reference_model(
    ref: DataFrame, value_col: str, bins: int = 10
) -> tuple[list[float], list[tuple[int, int]]]:
    """Materialize the PSI reference ONCE: the exact ``bins``-quantile
    edge values and the per-bin reference counts — both dimension-sized
    (≤ bins rows), returned as plain Python so a streaming monitor can
    compute them a single time outside ``foreachBatch`` and score every
    micro-batch against literals (the first monitor form called
    :func:`psi_drift` per batch, re-ranking the full reference and
    leaking one un-released rank checkpoint + cache registration per
    batch on a continuous stream).

    Every cache this pass creates — including
    :func:`~.windows.global_rank`'s layout pin, a registered
    ``scoped_cache`` — is released by the ``cache_scope`` before
    returning."""
    from ..cachescope import cache_scope, scoped_cache
    from .windows import global_rank

    with cache_scope():
        v_ref = scoped_cache(
            ref.select(F.col(value_col).cast("double").alias("__v")).where(
                F.col("__v").isNotNull()
            )
        )
        n = v_ref.count()
        positions = sorted({(j * n) // bins for j in range(1, bins)} - {0})
        if positions:
            ranked = global_rank(v_ref, ["__v"], ascending=True, rank_col="__r")
            edge_vals = sorted(
                r["__v"]
                for r in ranked.where(F.col("__r").isin(positions))
                .select("__v")
                .collect()
            )
        else:  # degenerate tiny reference: one bin, PSI trivially 0 per bin
            edge_vals = []
        ref_hist = sorted(
            (r["bin"], r["n"])
            for r in v_ref.select(_psi_bin_expr(edge_vals).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        )
    return edge_vals, ref_hist


def _psi_bin_expr(edge_vals: list[float]) -> Column:
    """bin = #edges strictly below the value, unrolled to LITERAL
    codegen comparisons (the interpreted-HOF form was 81 of 96 s at the
    100x universe)."""
    v = F.col("__v")
    bin_expr = F.lit(0)
    for e in edge_vals:
        bin_expr = bin_expr + F.when(F.lit(float(e)) < v, 1).otherwise(0)
    return bin_expr


def psi_from_model(
    cur: DataFrame,
    model: tuple[list[float], list[tuple[int, int]]],
    value_col: str,
    laplace: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """PSI of ``cur`` against a pinned :func:`psi_reference_model` —
    ONE narrow pass over ``cur`` (literal-codegen binning + map-side
    combined histogram); the reference rides in as a ≤ bins-row literal
    frame. Value-identical to :func:`psi_drift` on the same inputs (the
    stream-batch parity test drives both)."""
    edge_vals, ref_hist = model
    spark = cur.sparkSession
    v_cur = cur.select(F.col(value_col).cast("double").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    cur_h = (
        v_cur.select(_psi_bin_expr(edge_vals).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cur"))
        .withColumn("n_ref", F.lit(0).cast("long"))
    )
    ref_h = spark.createDataFrame(
        [(int(b), int(c)) for b, c in ref_hist], "bin int, n_ref long"
    ).withColumn("n_cur", F.lit(0).cast("long"))
    h = (
        cur_h.unionByName(ref_h)
        .groupBy("bin")
        .agg(F.sum("n_ref").alias("n_ref"), F.sum("n_cur").alias("n_cur"))
    )
    tot = h.agg(
        F.sum("n_ref").alias("__t_ref"),
        F.sum("n_cur").alias("__t_cur"),
        F.count(F.lit(1)).alias("__k"),
    )
    lam = F.lit(float(laplace))
    j = h.crossJoin(F.broadcast(tot))
    p_ref = (F.col("n_ref") + lam) / (F.col("__t_ref") + lam * F.col("__k"))
    p_cur = (F.col("n_cur") + lam) / (F.col("__t_cur") + lam * F.col("__k"))
    return j.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, round_dp).alias("p_ref"),
        F.round(p_cur, round_dp).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), round_dp).alias(
            "psi_term"
        ),
    )


def cusum_alerts(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    k_units: int,
    h_units: int,
    unit: int = 100,
    round_dp: int = 2,
) -> DataFrame:
    """One-sided CUSUM change-point detection over the daily mean of a
    metric — the WHEN companion to the distribution gates (PSI/KS/
    chi-square say THAT two windows differ; CUSUM localizes the day a
    level shift began, the classic Page 1954 sequential test a
    production monitor pages on).

    S_t = max(0, S_{t-1} + x_t − k) has a non-recursive closed form:
    with P_t = Σ_{j≤t}(x_j − k),  S_t = P_t − min(0, min_{j≤t} P_j) —
    a prefix SUM and a prefix MIN, so the whole recursion is two window
    passes instead of a sequential loop. Alert when S_t > ``h_units``.

    Exactness: x_t is the day's FLOOR-DIVIDED mean in integer ``1/unit``
    units (sum of round(value·unit) longs // count — exact in any
    engine), and k/h are integers, so every S_t is exact long
    arithmetic; the only doubles are the final /unit display columns.

    Scale shape: the corpus collapses to one row per day in a map-side
    combined aggregate (the ONLY corpus-sized pass); the two window
    passes run over the day-sized series — hundreds of rows for a year
    at any corpus size, the sanctioned tiny-frame single-partition
    window (same class as roc/rank offset frames).
    """
    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("day")
    ).agg(
        F.sum(F.round(F.col(value_col) * unit).cast("long")).alias("__u"),
        F.count(F.lit(1)).alias("__n"),
    )
    # FLOOR division, not Spark's truncate-toward-zero DIV: pmod's
    # non-negative remainder makes (__u - pmod) exactly divisible, so
    # negative day-sums (deltas, P&L, temperatures) floor like the
    # oracle's `//` instead of rounding toward zero — exact long
    # arithmetic throughout.
    x = F.expr("(__u - pmod(__u, __n)) DIV __n")
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    p = daily.select("day", x.alias("__x")).withColumn(
        "__p", F.sum(F.col("__x") - F.lit(int(k_units))).over(w)
    )
    s = p.withColumn(
        "__s",
        F.col("__p")
        - F.least(F.lit(0).cast("long"), F.min("__p").over(w)),
    )
    u = float(unit)
    return s.select(
        "day",
        F.round(F.col("__x").cast("double") / u, round_dp).alias("mean_v"),
        F.round(F.col("__s").cast("double") / u, round_dp).alias("cusum"),
        (F.col("__s") > F.lit(int(h_units))).cast("int").alias("alert"),
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.80,
    max_symbol_ratio: float = 0.10,
    stop_words: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "that"),
    min_stop_hits: int = 2,
    round_dp: int = 4,
) -> DataFrame:
    """Gopher-style rule-based document quality gate (Rae et al. 2021,
    arXiv:2112.11446, Table A1 — the MassiveText filtering heuristics):
    per-document word-count bounds, mean-word-length band, alphabetic-word
    fraction, symbol-to-word ratio (``#`` and ``...``), and a minimum
    number of DISTINCT stop words present. Emits the per-rule metrics,
    one 0/1 flag per rule, and the conjunction ``pass_all`` — keeping the
    metrics visible is what makes the gate auditable (a rejected doc says
    WHICH rule fired).

    All pure built-in expressions over one whitespace tokenization —
    zero Python UDFs, zero shuffles: a narrow map the optimizer can
    pipeline into any downstream gate. Mean word length avoids a
    second array pass: total non-space chars / word count.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(words)
    mean_len = (
        F.length(F.regexp_replace(F.col(text_col), r"\s+", "")).cast("double")
        / n_words
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words
    )
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    n_ellipsis = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in stop_words]))
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_len, round_dp).alias("mean_word_len"),
        F.round(alpha_frac, round_dp).alias("alpha_word_frac"),
        F.round(symbol_ratio, round_dp).alias("symbol_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    f_words = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ).cast("int")
    f_mean = (
        (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
    ).cast("int")
    f_alpha = (F.col("alpha_word_frac") >= min_alpha_word_frac).cast("int")
    f_symbol = (F.col("symbol_ratio") <= max_symbol_ratio).cast("int")
    f_stops = (F.col("stop_hits") >= min_stop_hits).cast("int")
    return out.select(
        "*",
        f_words.alias("f_word_count"),
        f_mean.alias("f_mean_word_len"),
        f_alpha.alias("f_alpha_words"),
        f_symbol.alias("f_symbol_ratio"),
        f_stops.alias("f_stop_words"),
        (f_words * f_mean * f_alpha * f_symbol * f_stops).alias("pass_all"),
    )


def constraint_suite(
    df: DataFrame,
    constraints: list[tuple],
    round_dp: int = 6,
) -> DataFrame:
    """Deequ-style declarative data-quality verification (Schelter et
    al., VLDB 2018, "Automating Large-Scale Data Quality Verification"):
    evaluate a list of constraint specs in ONE aggregate pass and emit
    one row per constraint — ``(constraint, metric, passed)`` — so a
    pipeline can gate on ``min(passed)`` while the audit trail keeps the
    measured metric per rule.

    Specs (all thresholds inclusive):

    - ``("completeness", col, min_frac)`` — non-null fraction
    - ``("uniqueness", col, min_frac)`` — exact distinct/count ratio
    - ``("min", col, lo)`` / ``("max", col, hi)`` — bound checks
    - ``("in_set", col, values, min_frac)`` — membership fraction
    - ``("non_negative", col, min_frac)`` — sign check
    - ``("row_count", lo, hi)`` — table size band

    Physical shape: every metric is a mergeable aggregate (count /
    conditional count / min / max / count-distinct), so the whole suite
    is one map-side-combined aggregation to a single row, then a narrow
    k-row explode — one job, one scan, no per-constraint passes. The
    exact ``count(DISTINCT)`` for uniqueness adds the usual expand —
    swap in ``approx_count_distinct`` for fleet-wide 100 TB sweeps if a
    rank-error bound is acceptable (kept exact here so the oracle can
    hash-match).
    """
    aggs: list[Column] = []
    rows: list[tuple[str, str]] = []  # (constraint label, metric slot name)
    checks: dict[str, Column] = {}
    n = F.count(F.lit(1)).cast("double")
    for i, spec in enumerate(constraints):
        kind = spec[0]
        slot = f"__m{i}"
        if kind == "completeness":
            _, col, thr = spec
            aggs.append(
                F.try_divide(F.count(F.col(col)).cast("double"), n).alias(slot)
            )
            label = f"completeness({col})>={thr}"
        elif kind == "uniqueness":
            _, col, thr = spec
            aggs.append(
                F.try_divide(F.countDistinct(F.col(col)).cast("double"), n).alias(slot)
            )
            label = f"uniqueness({col})>={thr}"
        elif kind == "min":
            _, col, thr = spec
            aggs.append(F.min(F.col(col)).cast("double").alias(slot))
            label = f"min({col})>={thr}"
        elif kind == "max":
            _, col, thr = spec
            aggs.append(F.max(F.col(col)).cast("double").alias(slot))
            label = f"max({col})<={thr}"
        elif kind == "in_set":
            _, col, values, thr = spec
            aggs.append(
                F.try_divide(
                    F.sum(F.col(col).isin(list(values)).cast("long")).cast("double"),
                    n,
                ).alias(slot)
            )
            label = f"in_set({col})>={thr}"
        elif kind == "non_negative":
            _, col, thr = spec
            aggs.append(
                F.try_divide(
                    F.sum((F.col(col) >= 0).cast("long")).cast("double"), n
                ).alias(slot)
            )
            label = f"non_negative({col})>={thr}"
        elif kind == "row_count":
            _, lo, hi = spec
            aggs.append(n.alias(slot))
            label = f"row_count[{lo},{hi}]"
            checks[slot] = (F.col(slot) >= lo) & (F.col(slot) <= hi)
            rows.append((label, slot))
            continue
        else:
            raise ValueError(f"unknown constraint kind: {kind!r}")
        thr_val = spec[-1]
        if kind == "max":
            checks[slot] = F.col(slot) <= thr_val
        else:
            checks[slot] = F.col(slot) >= thr_val
        rows.append((label, slot))

    one = df.agg(*aggs)
    # A NULL metric — x/0 fractions and min/max on an EMPTY frame, or
    # min/max over an all-NULL column — must FAIL, not propagate NULL:
    # a min(passed) circuit breaker would otherwise ignore the rows and
    # never trip on an empty micro-batch (only row_count, whose count
    # metric is never NULL, keeps its own semantics).
    per_constraint = [
        F.struct(
            F.lit(label).alias("constraint"),
            F.round(F.col(slot), round_dp).alias("metric"),
            F.coalesce(checks[slot].cast("int"), F.lit(0)).alias("passed"),
        )
        for label, slot in rows
    ]
    return one.select(
        F.explode(F.array(*per_constraint)).alias("c")
    ).select("c.constraint", "c.metric", "c.passed")
