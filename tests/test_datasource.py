"""Spark 4 Python Data Source integration tests (S7 analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_spark import Band, Index
from ariadne_spark.plans.locate_local import list_filenames, locate_files_local
from ariadne_spark.sources.datasource import register

from .conftest import assert_same_rows


@pytest.fixture()
def ds_index(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("orders_ds", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_range_index("o_orderkey")
    idx.add_files(files).update()
    register(spark)
    return df, files, idx, storage


def _load(spark, storage, name="orders_ds"):
    return (
        spark.read.format("ariadne")
        .option("name", name)
        .option("storagePath", storage)
        .load()
    )


def test_datasource_full_scan(spark, ds_index):
    df, files, idx, storage = ds_index
    got = _load(spark, storage)
    assert got.count() == df.count()
    assert got.schema == df.schema


def test_datasource_filter_pushdown_prunes_and_matches(spark, ds_index):
    df, files, idx, storage = ds_index
    got = _load(spark, storage).where(F.col("o_custkey").isin([5, 6, 7]))
    exp = df.where(F.col("o_custkey").isin([5, 6, 7]))
    assert_same_rows(got, exp)
    # range pushdown: equality on the range-indexed column
    got2 = _load(spark, storage).where(F.col("o_orderkey") == 5)
    exp2 = df.where(F.col("o_orderkey") == 5)
    assert_same_rows(got2, exp2)


def test_local_planner_matches_spark_planner(spark, ds_index):
    """The JVM-free pyarrow planner must locate a superset-equal file
    set vs the Spark planner (both conservative, same index state)."""
    df, files, idx, storage = ds_index
    q = {"o_custkey": [5, 6, 7]}
    local = set(locate_files_local(idx.paths.index, idx.meta, q))
    via_spark = set(idx.locate_files(q))
    assert local == via_spark
    assert set(list_filenames(idx.paths.filelist)) == set(idx.filelist.filenames())


def test_datasource_refuses_temporal(spark, storage, events_files):
    df, files = events_files
    idx = Index.for_name("ev_ds", schema=df.schema, format="parquet", spark=spark)
    idx.add_temporal_index("user_id", "ts").add_files(files).update()
    register(spark)
    with pytest.raises(Exception, match="temporal"):
        _load(spark, storage, "ev_ds").count()


def test_datasource_range_band_pushdown_prunes_and_matches(spark, ds_index):
    """>, >=, <, <= on a RANGE-indexed column prune at file grain
    through the JVM-free planner, and row-level filters still apply
    (files are keyed by contiguous o_orderkey ranges, so a narrow band
    must hit a strict subset)."""
    df, files, idx, storage = ds_index
    lo, hi = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    width = (hi - lo) // 4 + 1
    band_lo, band_hi = lo + 1, lo + width // 2  # inside file 0 only
    got = (
        _load(spark, storage)
        .where(
            (F.col("o_orderkey") >= band_lo) & (F.col("o_orderkey") < band_hi)
        )
    )
    want = df.where(
        (F.col("o_orderkey") >= band_lo) & (F.col("o_orderkey") < band_hi)
    )
    assert_same_rows(
        got.select("o_orderkey", "o_custkey"),
        want.select("o_orderkey", "o_custkey"),
    )
    # planner-level: the band selects a strict subset of files
    bands = {"o_orderkey": Band(lo=band_lo, hi=band_hi, hi_inc=False)}
    sel = locate_files_local(idx.paths.index, idx.meta, {}, bands=bands)
    assert 0 < len(sel) < len(files)
    # an impossible band prunes everything
    none = locate_files_local(
        idx.paths.index, idx.meta, {},
        bands={"o_orderkey": Band(lo=hi + 10)},
    )
    assert none == []


def test_datasource_empty_result_schema_stable(spark, ds_index):
    """Impossible pushed filters return ZERO rows with the full source
    schema (EmptyResultSchemaTests analog for the native source)."""
    df, files, idx, storage = ds_index
    got = _load(spark, storage).where(F.col("o_custkey") == -999999)
    assert got.count() == 0
    assert got.schema == _load(spark, storage).schema


def test_datasource_reads_orc(spark, storage, tmp_path):
    """The Python Data Source decodes ORC partitions via pyarrow.orc,
    with the same pushFilters pruning as parquet."""
    import glob

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    files = []
    for i in range(2):
        out = str(tmp_path / f"dsorc{i}")
        df.where((F.col("g") % 2) == i).coalesce(1).write.mode(
            "overwrite"
        ).orc(out)
        files += glob.glob(f"{out}/*.orc")
    idx = Index.for_name("orc_ds", schema=df.schema, format="orc", spark=spark)
    idx.add_index("g").add_files(files).update()
    register(spark)
    got = _load(spark, storage, "orc_ds").where(F.col("g").isin([1, 3]))
    exp = df.where(F.col("g").isin([1, 3]))
    assert_same_rows(got, exp)
