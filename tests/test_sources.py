"""IO-layer round-trips — SURVEY.md §2.1 S1-S14.

Every format the reference reads/writes (parquet, ORC, JSON, CSV with
options, partitioned layouts, single-file CSV, metastore tables, temp
views) round-trips through the engine's readers/writers with values
intact.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sdg_big_data_spark.sources import readers, writers


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5, "2024-01-01"), (2, "b", 2.5, "2024-01-02"),
         (3, "c,with,commas", 3.5, "2024-01-02"), (4, 'd "quoted"\nmultiline', 4.5, "2024-01-03")],
        schema="id long, name string, val double, date string",
    )


def _sorted_rows(df):
    return sorted([tuple(r) for r in df.select("id", "name", "val").collect()])


def test_parquet_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "pq")
    writers.write_parquet(small, p)
    back = readers.read_parquet(spark, p)
    assert _sorted_rows(back) == _sorted_rows(small)


def test_parquet_append(spark, small, tmp_path):
    p = str(tmp_path / "pq_append")
    writers.write_parquet(small, p)
    writers.write_parquet(small, p, mode="append")  # S7 append mode
    assert readers.read_parquet(spark, p).count() == 2 * small.count()


def test_orc_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "orc")
    small.write.mode("overwrite").orc(p)
    back = readers.read_orc(spark, p)
    assert _sorted_rows(back) == _sorted_rows(small)


def test_json_roundtrip(spark, small, tmp_path):
    p = str(tmp_path / "json")
    small.write.mode("overwrite").json(p)
    back = readers.read_json(spark, p)
    assert _sorted_rows(back) == _sorted_rows(small)


def test_csv_options_roundtrip(spark, small, tmp_path):
    """S4 — header/multiLine/FAILFAST options (geocode_stop_locations
    .scala:26): the multiline quoted value survives."""
    p = str(tmp_path / "csv")
    small.write.mode("overwrite").option("header", "true").option(
        "quoteAll", "true"
    ).csv(p)
    back = readers.read_csv(spark, p, multi_line=True)
    got = {r["name"] for r in back.collect()}
    assert 'd "quoted"\nmultiline' in got


def test_csv_failfast(spark, tmp_path):
    p = str(tmp_path / "bad_csv")
    os.makedirs(p)
    with open(os.path.join(p, "part.csv"), "w") as f:
        f.write("id,val\n1,2\nnot_a_number,xxx\n")
    bad = readers.read_csv(
        spark, p, schema="id int, val int", multi_line=False
    )
    with pytest.raises(Exception):
        bad.collect()


def test_partitioned_write_prunes(spark, small, tmp_path):
    """S6 — partition layout exists on disk and partition filters prune
    (the plan's file listing only touches the matching directory)."""
    p = str(tmp_path / "parts")
    writers.write_partitioned(small, p, ["date"])
    assert (tmp_path / "parts" / "date=2024-01-02").exists()
    pruned = readers.read_parquet(spark, p).where(F.col("date") == "2024-01-02")
    assert pruned.count() == 2
    plan = pruned.queryExecution if hasattr(pruned, "queryExecution") else None
    explained = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in explained or "date=2024-01-02" in explained


def test_single_file_csv(spark, small, tmp_path):
    p = str(tmp_path / "single")
    writers.write_single_csv(small.select("id", "val"), p)
    files = [f for f in os.listdir(p) if f.endswith(".csv")]
    assert len(files) == 1  # exactly one part file (S9 coalesce(1))


def test_convert_format(spark, small, tmp_path):
    src, dst = str(tmp_path / "src_orc"), str(tmp_path / "dst_pq")
    small.write.mode("overwrite").orc(src)
    writers.convert_format(spark, src, dst, "orc", "parquet")
    assert _sorted_rows(readers.read_parquet(spark, dst)) == _sorted_rows(small)


def test_save_as_table_and_view(spark, small, tmp_path):
    """S12 — temp view registration + SQL/table scans (S8 saveAsTable
    uses the same writer path against a metastore; the warehouse dir is a
    static conf, so only the view form is exercised here)."""
    small.createOrReplaceTempView("small_view")
    assert spark.sql("SELECT count(*) AS n FROM small_view").collect()[0]["n"] == 4
    assert spark.table("small_view").count() == 4


def test_load_tables(spark, sf_dir):
    """S1 over the driver tables through the normalizing reader."""
    tables = readers.load_tables(spark, sf_dir, ["region", "nation", "events"])
    assert tables["region"].count() > 0
    # nanos timestamp normalized to a usable timestamp type
    assert dict(tables["events"].dtypes)["ts"].startswith("timestamp")


def test_delta_unavailable_is_documented(spark, tmp_path):
    """Probes the environment: either Delta works end-to-end, or the
    writer fails fast with the documented limitation (COVERAGE.md 'Delta
    availability') instead of dying in the JVM."""
    import pytest

    from sdg_big_data_spark.sources import writers

    df = spark.range(10).withColumn("p", F.col("id") % 2)
    if writers._delta_available(spark):
        writers.write_partitioned(df, str(tmp_path / "d"), ["p"], fmt="delta")
        back = spark.read.format("delta").load(str(tmp_path / "d"))
        assert back.count() == 10
    else:
        with pytest.raises(RuntimeError, match="COVERAGE.md"):
            writers.write_partitioned(df, str(tmp_path / "d"), ["p"], fmt="delta")


def test_optimize_zorder_clusters_both_dims(spark, tmp_path):
    """Z-ordered compaction writes files whose footer stats cover small
    hyper-rectangles: every file's range in EACH dimension shrinks,
    enabling multi-column min/max skipping (a linear sort would keep the
    full range in the secondary column)."""
    import glob

    import numpy as np
    import pyarrow.parquet as pq

    from sdg_big_data_spark.sources.writers import optimize_table

    rng = np.random.default_rng(4)
    rows = [(float(a), float(b)) for a, b in rng.random((200_000, 2))]
    df = spark.createDataFrame(rows, schema="x double, y double")
    path = str(tmp_path / "zt")
    df.repartition(16).write.parquet(path)  # 16 small unclustered files

    path_plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(path_plain)

    optimize_table(spark, path, target_file_mb=1, zorder_cols=["x", "y"])
    optimize_table(spark, path_plain, target_file_mb=1)  # compact, unclustered

    def mean_file_area(p):
        areas = []
        for f in glob.glob(p + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            mins = {c: np.inf for c in ("x", "y")}
            maxs = {c: -np.inf for c in ("x", "y")}
            for g in range(md.num_row_groups):
                for c in ("x", "y"):
                    st = md.row_group(g).column(cols[c]).statistics
                    mins[c] = min(mins[c], st.min)
                    maxs[c] = max(maxs[c], st.max)
            areas.append((maxs["x"] - mins["x"]) * (maxs["y"] - mins["y"]))
        return float(np.mean(areas)), len(areas)

    z_area, z_files = mean_file_area(path)
    p_area, p_files = mean_file_area(path_plain)
    assert z_files > 1  # compaction really produced a multi-file layout
    # plain compaction files are random row samples: every file spans
    # ~the full (x, y) square (area ~1). Z-ordered files cover small
    # hyper-rectangles — the footer-stats skipping the operator claims.
    assert p_area > 0.9
    assert z_area < 0.75 * p_area
    # and the data survived intact
    assert spark.read.parquet(path).count() == 200_000


def test_xml_roundtrip(spark, tmp_path):
    from sdg_big_data_spark.sources.readers import read_xml

    p = str(tmp_path / "x.xml")
    with open(p, "w") as f:
        f.write(
            "<rows>"
            "<row><k>1</k><name>ann</name></row>"
            "<row><k>2</k><name>bob</name></row>"
            "</rows>"
        )
    df = read_xml(spark, p, row_tag="row")
    assert sorted((r["k"], r["name"]) for r in df.collect()) == [
        (1, "ann"),
        (2, "bob"),
    ]
    # explicit schema skips inference (the at-scale contract)
    df2 = read_xml(spark, p, row_tag="row", schema="k long, name string")
    assert df2.schema.simpleString() == "struct<k:bigint,name:string>"


class TestSyntheticEventsSource:
    def _read(self, spark, **opts):
        from sdg_big_data_spark.sources import custom

        custom.register(spark)
        r = spark.read.format("synthetic_events")
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def test_deterministic_and_complete(self, spark):
        df = self._read(spark, n_rows=100, n_partitions=4, seed=7)
        rows = sorted(map(tuple, df.collect()))
        assert len(rows) == 100
        assert [r[0] for r in rows] == list(range(100))
        # rerun bit-identical
        again = sorted(map(tuple, self._read(spark, n_rows=100, n_partitions=4, seed=7).collect()))
        assert rows == again

    def test_partition_count_does_not_change_content(self, spark):
        a = sorted(map(tuple, self._read(spark, n_rows=64, n_partitions=2).collect()))
        b = sorted(map(tuple, self._read(spark, n_rows=64, n_partitions=16).collect()))
        assert a == b
        # and the fan-out is real: 16 requested -> 16 planned partitions
        df = self._read(spark, n_rows=64, n_partitions=16)
        assert df.rdd.getNumPartitions() == 16

    def test_schema_and_value_domains(self, spark):
        df = self._read(spark, n_rows=50, n_users=10)
        assert df.schema.simpleString() == (
            "struct<event_id:bigint,user_id:bigint,"
            "event_type:string,value:double>"
        )
        from sdg_big_data_spark.sources.custom import EVENT_TYPES

        for r in df.collect():
            assert 0 <= r["user_id"] < 10
            assert r["event_type"] in EVENT_TYPES
            assert 0.0 <= r["value"] < 100.0


def test_read_table_plan_memo_hits_and_invalidates(spark, tmp_path, sf_dir):
    """``read_table`` memoizes the RESOLVED PLAN per (session, dir,
    file-signature) — a lazy plan, never row data: repeated calls return
    the same object, any file change invalidates, and the superseded
    entry is dropped so the memo holds one plan per table."""
    import shutil

    from sdg_big_data_spark.sources.readers import read_table

    src = os.path.join(sf_dir, "nation.parquet")
    d = str(tmp_path / "sf")
    os.makedirs(d)
    dst = os.path.join(d, "nation.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    df1 = read_table(spark, d, "nation")
    df2 = read_table(spark, d, "nation")
    assert df1 is df2, "repeat read_table should return the memoized plan"
    n = df1.count()
    # mutate the file -> signature changes -> fresh resolve
    os.utime(dst if os.path.isfile(dst) else os.path.join(
        dst, os.listdir(dst)[0]
    ))
    df3 = read_table(spark, d, "nation")
    assert df3 is not df1, "file change must invalidate the plan memo"
    assert df3.count() == n
    entries = [
        k for k in readers._PLAN_MEMO if k[2:4] == (os.path.abspath(d), "nation")
    ]
    assert len(entries) == 1, "a rewritten table must leave one memo entry"
