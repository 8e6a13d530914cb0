"""Readers — SURVEY.md §2.1 S1-S5, S10, S12.

All readers return lazy DataFrames; filters/projections applied by callers
are pushed into the scan by Catalyst (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).

Reference parity: parquet scan (`wbgps/analysis.py:137`), ORC scan
(`build_random_sets.py:31`), JSON scan (`build_2020_sets.py:27`), CSV with
header/multiLine/FAILFAST (`geocode_stop_locations.scala:26`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver's synthetic star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1 — columnar scan; schema from footer, predicate/column pushdown."""
    return spark.read.parquet(path)


# Inputs below this size get the small-input lift (S10). 64 MB = half a
# default scan split: anything bigger is already splittable into enough
# tasks by `spark.sql.files.maxPartitionBytes`.
_LIFT_MAX_BYTES = 64 << 20
# Per-partition byte target for lifted inputs. Small relative to a scan
# split because lifted inputs feed compute-dense pipelines (tokenize /
# hash / explode expand work ~50x over input bytes).
_LIFT_TARGET_BYTES = 16 << 10
# Tables whose per-byte compute is high enough that fanning out a tiny
# scan beats the extra shuffle (text tokenize/hash/shingle pipelines).
_LIFT_TABLES = frozenset({"documents"})


def _input_bytes(path: str) -> int | None:
    """Total on-disk bytes of a local file or directory; None if unknown
    (remote filesystem URIs — the lift only targets local dev scans)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total
        return None
    except OSError:
        return None


def small_input_lift(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """S10 local→distributed lift for small single-row-group files.

    The driver fixtures are one parquet file with ONE row group per
    table, and Spark's scan splitting assigns row groups whole — so a
    sub-64 MB table scans as a single task and every narrow stage above
    it (tokenize, hash, explode, partial aggregation) runs on one core
    no matter how many executors exist. One round-robin repartition
    fans that work out. Predicate pushdown and column pruning pass
    through the Repartition node (verified in
    ``tests/test_plans.py::test_filter_pushdown_reaches_scan``), so the
    scan stays narrow.

    At cluster scale this is a no-op by construction: any input over
    64 MB — i.e. every real table — returns unchanged and relies on
    ordinary split planning, so no shuffle is ever added to a big scan.
    Catalog results are partitioning-independent (rank operators
    range-shuffle first; float aggregates round; sampling is
    content-hash-based), so the lift never changes answers.

    Only compute-dense tables are lifted (see ``_LIFT_TABLES``):
    measured at sf0.1, the round-robin shuffle pays for itself on text
    pipelines (tokenize/hash/explode expand work ~50x over input bytes
    — d_simhash_pairs 2.46→1.57 s, t_winnow 1.18→0.74 s) but costs
    more than it buys on plain scan→aggregate shapes
    (a1_pricing_summary 0.37→0.94 s), where single-partition partial
    aggregation is already near the floor at this size.
    """
    size = _input_bytes(path)
    if size is None or size > _LIFT_MAX_BYTES:
        return df
    n = min(
        spark.sparkContext.defaultParallelism, size // _LIFT_TARGET_BYTES
    )
    if n <= 1:
        return df
    return df.repartition(int(n))


# Resolved-plan memo: (applicationId, id(session), sf_dir, name,
# file-signature) →
# DataFrame. A DataFrame is a LAZY logical plan — every action on it
# still scans the parquet files — but *building* one costs 70-120 ms of
# driver-side work (file listing, footer read, schema analysis round
# trips), and the catalog calls read_table hundreds of times per bench
# pass on the same ten immutable fixture tables. Re-using the resolved
# plan is the same metadata reuse Spark itself performs per-session for
# file listings (spark.sql.hive.filesourcePartitionFileCacheSize, guide
# §6); no row data is cached. The signature (per-file size+mtime) keeps
# mutated inputs correct: any rewrite of the table directory (the
# incremental-append fixtures) re-resolves from disk. Entries from
# stopped sessions are pruned by applicationId mismatch, and a table's
# superseded signatures when its new one is stored.
_PLAN_MEMO: dict[tuple, DataFrame] = {}


def _dir_signature(path: str) -> tuple | None:
    """Cheap change-detection fingerprint of a parquet file/directory:
    sorted (relpath, size, mtime_ns) of every file. None → unknown
    (remote URI) → never memoize."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        if os.path.isdir(path):
            out = []
            for root, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    out.append((os.path.join(root, f), st.st_size, st.st_mtime_ns))
            return tuple(sorted(out))
        return None
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing physical-type quirks.

    The driver's ``events`` table stores TIMESTAMP(NANOS) which Spark's
    parquet reader rejects; we read nanos as long and convert to
    microsecond timestamps (integer DIV — same floor DuckDB applies when
    it narrows nanos to its µs TIMESTAMP).
    """
    import pyspark.sql.functions as F

    from ..session import ship_package

    ship_package(spark)  # executors must import this package for UDF ops

    # UTC discipline: the reference hard-fails on non-UTC sessions
    # (`geocode_stop_locations.scala:19`); the engine enforces instead so
    # epoch/calendar derivations are deterministic under any host session.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _dir_signature(path)
    app_id = None
    if sig is not None:
        try:
            app_id = spark.sparkContext.applicationId
        except Exception:  # noqa: BLE001 — stopped/odd context: no memo
            app_id = None
    if app_id is not None:
        # id(spark) too: sessions sharing one context (newSession) have
        # distinct confs, and a DataFrame is bound to its session
        key = (app_id, id(spark), os.path.abspath(sf_dir), name, sig)
        hit = _PLAN_MEMO.get(key)
        if hit is not None:
            return hit
    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution so the fallback triggers here
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # Spark 4 infers parquet timestamp[us] without isAdjustedToUTC as
    # TIMESTAMP_NTZ; CAST(ntz AS BIGINT)/unix_micros(ntz) then fail analysis.
    # Under the enforced-UTC session the NTZ wall clock IS the instant DuckDB
    # computes epoch() from, so re-typing to TIMESTAMP is value-preserving.
    for col_name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    if name in _LIFT_TABLES:
        df = small_input_lift(spark, df, path)
    if app_id is not None:
        # prune entries from other (stopped) applications, and this
        # table's superseded file signatures (a rewritten table, e.g. an
        # append batch), so the memo holds one plan per live table
        for k in [k for k in _PLAN_MEMO if k[0] != app_id or k[:4] == key[:4]]:
            del _PLAN_MEMO[k]
        _PLAN_MEMO[key] = df
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """S2 — ORC scan (`build_random_sets.py:31`)."""
    return spark.read.orc(path)


def read_json(spark: SparkSession, path: str, multi_line: bool = False) -> DataFrame:
    """S3 — JSON scan (`build_2020_sets.py:27`).

    Scale note: JSON is the slow path (no column pruning at the parser);
    the engine's S13 format-conversion job rewrites to parquet first for
    anything reread more than once.
    """
    return spark.read.option("multiLine", str(multi_line).lower()).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    multi_line: bool = True,
    mode: str = "FAILFAST",
    infer_schema: bool = True,
    schema: str | None = None,
) -> DataFrame:
    """S4 — CSV with the reference's options (`geocode_stop_locations.scala:26`).
    An explicit ``schema`` (DDL string) skips the inference scan."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("multiLine", str(multi_line).lower())
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    return reader.csv(path)


def read_xml(
    spark: SparkSession, path: str, row_tag: str = "row",
    schema: str | None = None,
) -> DataFrame:
    """S-family — XML scan (Spark 4 built-in, the merged spark-xml).
    ``row_tag`` names the repeating element treated as a row; an explicit
    DDL ``schema`` skips the inference scan (XML inference reads the
    whole input once — always pass a schema at scale)."""
    reader = spark.read.option("rowTag", row_tag).format("xml")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables and register temp views (S12).

    Views let every catalog query also be phrased as ``spark.sql``; the
    DataFrame and SQL forms compile to the same Catalyst plan.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)  # nanos/UTC normalization
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
