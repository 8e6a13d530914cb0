"""Batch-replay catalog entries for the streaming surface.

A Structured Streaming query has no DuckDB oracle (the driver's
correctness gate is batch SQL), so each streaming module's GATE
EXPRESSION — the transformation the stream actually runs per
micro-batch — is exercised here through the SAME module function on a
batch frame. Spark's unified Dataset API makes that literal reuse, not
re-implementation: ``windowed.session_aggregate``,
``joins.interval_pair_join`` and ``enrich.stream_static_enrich`` each
take streaming OR batch inputs and build the identical logical plan
(watermarks only attach on the streaming path). The local
batch/stream parity suites (tests/test_streaming_*.py) prove the two
execution modes agree; these entries put the shared expressions under
the driver's value-hash gate.

Coverage map (module -> driver-checkable entry):

- streaming/windowed.py   -> s_session_window here; w_tumbling_hour
  (extra_queries) calls ``tumbling_counts`` directly.
- streaming/joins.py      -> s_interval_pair_join here.
- streaming/enrich.py     -> s_stream_enrich here.
- streaming/curation.py   -> s_gate_replay here (quality_gate +
  language_gate, the exact functions it composes); its dedup arm is
  d_exact_dedup / d_incremental_dedup.
- streaming/monitor.py    -> dq_chi2_drift (same
  ``chi2_categorical_drift`` call) and dq_psi_drift (same
  ``psi_drift`` call), both in curation_queries.
- streaming/dedup.py      -> d_exact_dedup (same ``doc_fingerprint``
  key + keep-min), d_incremental_dedup (same index merge).
- streaming/incremental.py-> inc_overlap_merge / inc_agg_state
  (cdc_queries).
- streaming/stateful.py / transform_state.py -> g_sessionize carries
  the gap-segmentation semantics; the applyInPandasWithState /
  transformWithState state plumbing is inherently streaming-only and
  stays under the local parity suites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from .catalog import register, table
from .text_queries import _sql_list, _SQL_TOKS


@register(
    "s_session_window",
    sql="""
    WITH g AS (
      SELECT user_id, date_trunc('second', ts) AS ts, value FROM events
    ),
    b AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts) > 3600
                  THEN 1 ELSE 0 END AS brk
      FROM g
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM b
    )
    SELECT user_id, min(ts) AS sess_start,
           max(ts) + INTERVAL 1 HOUR AS sess_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM s GROUP BY user_id, sess
    """,
    tags=("streaming-batch", "session-window"),
    doc="session-window aggregate (streaming/windowed.py "
    "session_aggregate — F.session_window, 1h inactivity gap): the "
    "module function runs verbatim on the batch frame (watermark "
    "attaches only when the input is streaming). Timestamps truncated "
    "to whole seconds on BOTH sides — DuckDB's epoch() is integer "
    "seconds, so the sub-second fixture timestamps would otherwise "
    "split sessions differently between engines. Oracle: lag-gap "
    "segmentation + running-sum session ids, sess_end = last event + "
    "gap. A gap of exactly 1h keeps one session in both forms: "
    "session_window merges sessions whose [start, end) windows touch, "
    "and the oracle breaks on gap > 3600 s, as g_sessionize does)",
)
def s_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windowed import session_aggregate

    ev = table(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    out = session_aggregate(ev, "ts", gap="1 hour", key_col="user_id")
    return out.select(
        "user_id", "sess_start", "sess_end", "n_events",
        F.round("total_value", 2).alias("total_value"),
    )


@register(
    "s_interval_pair_join",
    sql="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming-batch", "stream-stream-join"),
    doc="click->purchase attribution pairs (streaming/joins.py "
    "interval_pair_join — the stream-stream time-range join whose "
    "range condition is what bounds each side's state retention): the "
    "module function on batch frames builds the identical join plan, "
    "stateless. Pure key+timestamp equi/range join, no floats",
)
def s_interval_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import interval_pair_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    out = interval_pair_join(
        clicks, buys, key="user_id", left_ts="click_ts", right_ts="buy_ts",
        max_delay="30 minutes",
    )
    return out.select("user_id", "click_id", "buy_id")


# Literal event-type weights — the static dimension a deployment would
# broadcast-join onto the feed (spend multipliers, severity weights).
_ENRICH_DIM = [
    ("click", 1.5), ("view", 0.5), ("purchase", 3.0),
    ("signup", 2.0), ("error", 0.0),
]


@register(
    "s_stream_enrich",
    sql=f"""
    WITH dim(event_type, weight) AS (
      VALUES {", ".join(f"('{t}', {w})" for t, w in _ENRICH_DIM)}
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(e.value * d.weight) AS DOUBLE), 2) AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    tags=("streaming-batch", "stream-static-join"),
    doc="stream-static dimension enrichment (streaming/enrich.py "
    "stream_static_enrich — the per-micro-batch broadcast hash join): "
    "the module function joins the batch frame to a 5-row literal "
    "weight dimension; aggregated to per-type weighted totals so the "
    "oracle pins the JOIN result, not row order",
)
def s_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.enrich import stream_static_enrich

    ev = table(spark, sf_dir, "events")
    dim = ev.sparkSession.createDataFrame(
        _ENRICH_DIM, "event_type string, weight double"
    )
    out = stream_static_enrich(ev, dim, on="event_type", how="inner")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
            "weighted_value"
        ),
    )


def _gate_sql() -> str:
    """The quality+language gate as SQL — the same score/marker
    construction as t_quality_score / t_lang_id (shared constants from
    functions.text), composed the way streaming_curation chains the two
    gates."""
    h = {
        lang: f"len(list_filter(toks, x -> list_contains({_sql_list(m)}, x)))"
        for lang, m in T.LANG_MARKERS.items()
    }
    stop = _sql_list(T.STOPWORDS_EN)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_SQL_TOKS.format(c="text")} AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(toks) AS q_n_tokens,
             CASE WHEN length(text) > 0 THEN
               CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / length(text) ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0 THEN
               CAST(len(list_filter(toks, x -> list_contains({stop}, x))) AS DOUBLE)
               / len(toks) ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0 THEN
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
               ELSE 0.0 END AS mean_tok_len,
             {h["de"]} AS h_de, {h["en"]} AS h_en,
             {h["es"]} AS h_es, {h["fr"]} AS h_fr
      FROM f0
    )
    SELECT doc_id,
           CASE
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
             WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
             WHEN h_fr > 0 THEN 'fr'
             ELSE 'und'
           END AS lang_pred
    FROM f
    WHERE round(CAST(
            (CASE WHEN q_n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
            + (CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END)
            + (CASE WHEN stop_ratio > 0.01 THEN 0.2 ELSE 0.0 END)
            + (CASE WHEN mean_tok_len BETWEEN 2 AND 12 THEN 0.2 ELSE 0.0 END)
            AS DOUBLE), 2) >= 0.6
      AND CASE
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de > 0 THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr AND h_en > 0 THEN 'en'
            WHEN h_es >= h_fr AND h_es > 0 THEN 'es'
            WHEN h_fr > 0 THEN 'fr'
            ELSE 'und'
          END IN ('en', 'es')
    """.replace("FROM f0", "FROM t")


@register(
    "s_gate_replay",
    sql=_gate_sql(),
    tags=("streaming-batch", "curation-gates"),
    doc="the quality->language gate chain EXACTLY as streaming_curation "
    "composes it per micro-batch (pipelines/dataprep.py quality_gate + "
    "language_gate on a batch frame): surviving (doc_id, lang_pred) "
    "rows with keep_langs=('en','es') — one fused narrow pass, the "
    "filter chain collapses into the scan",
)
def s_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipelines.dataprep import language_gate, quality_gate

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = language_gate(
        quality_gate(docs, min_score=0.6), keep_langs=("en", "es")
    )
    return out.select("doc_id", "lang_pred")


# --- s_dq_gate ----------------------------------------------------------------

_DQ_GATE_SQL = """
    WITH m AS (
      SELECT user_id % 3 AS batch_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(value) AS DOUBLE) / count(*) AS c_value,
             CAST(min(value) AS DOUBLE) AS min_value,
             CAST(sum(CASE WHEN event_type IN
                   ('click','view','purchase','signup','error')
                 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS s_type
      FROM events GROUP BY 1
    ),
    rows_ AS (
      SELECT batch_id, 'completeness(value)>=1.0' AS constraint,
             round(c_value, 6) AS metric,
             CAST(c_value >= 1.0 AS INTEGER) AS passed FROM m
      UNION ALL
      SELECT batch_id, 'min(value)>=0', round(min_value, 6),
             CAST(min_value >= 0 AS INTEGER) FROM m
      UNION ALL
      SELECT batch_id, 'in_set(event_type)>=1.0', round(s_type, 6),
             CAST(s_type >= 1.0 AS INTEGER) FROM m
      UNION ALL
      SELECT batch_id, 'row_count[100,1000000000]', round(n, 6),
             CAST(n >= 100 AND n <= 1000000000 AS INTEGER) FROM m
    )
    SELECT r.batch_id, r.constraint, r.metric, r.passed,
           g.all_passed
    FROM rows_ r JOIN (
      SELECT batch_id, min(passed) AS all_passed FROM rows_ GROUP BY batch_id
    ) g USING (batch_id)
"""


@register(
    "s_dq_gate",
    sql=_DQ_GATE_SQL,
    tags=("streaming-batch", "data-quality", "constraints"),
    doc="the per-micro-batch constraint gate EXACTLY as "
    "streaming_constraint_monitor evaluates it (streaming/monitor."
    "constraint_monitor_batch -> quality.constraint_suite on the batch "
    "frame + the min(passed) circuit-breaker column): replayed over "
    "three deterministic user_id%3 'micro-batches' so the driver "
    "value-hashes the full per-batch contract",
)
def s_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import constraint_suite

    ev = table(spark, sf_dir, "events")
    suite = [
        ("completeness", "value", 1.0),
        ("min", "value", 0),
        ("in_set", "event_type",
         ("click", "view", "purchase", "signup", "error"), 1.0),
        ("row_count", 100, 1_000_000_000),
    ]
    parts = []
    for b in range(3):
        res = constraint_suite(ev.where(F.col("user_id") % 3 == b), suite)
        gate = res.agg(F.min("passed").alias("__all"))
        parts.append(
            res.crossJoin(F.broadcast(gate)).select(
                F.lit(b).cast("long").alias("batch_id"),
                "constraint", "metric", "passed",
                F.col("__all").alias("all_passed"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
