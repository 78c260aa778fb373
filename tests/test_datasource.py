"""Spark 4 Python Data Source integration tests (S7 analog)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ariadne_spark import Band, Index
from ariadne_spark.index import _locate
from ariadne_spark.plans.locate_local import list_filenames
from ariadne_spark.sources.datasource import register
from ariadne_spark.sources.files import normalize_path

from .conftest import assert_same_rows


def locate_files_local(idx, query) -> list[str]:
    """The locate the Data Source runs: no SparkSession, so always the
    driver-side planner."""
    files, stats = _locate(None, idx.meta, None, None, query, paths=idx.paths)
    assert stats.planner == "local"
    return files


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
    local = set(locate_files_local(idx, q))
    via_spark = set(idx.locate_files(q))
    assert local == via_spark
    # the entry point's two planners, literal and DataFrame keys (every
    # index type: the test_planner_parity_* tests below)
    assert set(_assert_parity(idx, q)) == local
    keys = df.select("o_custkey").where(F.col("o_custkey").isin(q["o_custkey"]))
    assert set(_assert_parity(idx, keys, ["o_custkey"])) == local
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
    sel = locate_files_local(idx, bands)
    assert 0 < len(sel) < len(files)
    # an impossible band prunes everything
    none = locate_files_local(idx, {"o_orderkey": Band(lo=hi + 10)})
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


# ---------------------------------------------------------------- planners
#
# The driver-side planner (plans/locate_local.py) is the default for
# every locate; the Spark planner (plans/locate.py) runs above the byte
# bounds. Both must choose the same files for every index type.


def _planned(idx, query, columns=None, force_spark=False):
    """(sorted files, stats) from the locate entry point, with the
    Spark planner forced by an index-byte bound of -1."""
    from ariadne_spark.plans import locate as spark_planner

    cap = spark_planner.LOCAL_INDEX_MAX_BYTES
    if force_spark:
        spark_planner.LOCAL_INDEX_MAX_BYTES = -1
    try:
        files, stats = _locate(
            idx.spark, idx.meta, lambda: idx.index_df, idx._large_tables,
            query, columns, paths=idx.paths, totals=idx._index_totals,
        )
    finally:
        spark_planner.LOCAL_INDEX_MAX_BYTES = cap
    return sorted(files), stats


def _assert_parity(idx, query, columns=None):
    local, ls = _planned(idx, query, columns)
    via_spark, ss = _planned(idx, query, columns, force_spark=True)
    assert (ls.planner, ss.planner) == ("local", "spark"), ls.planner_reason
    assert local == via_spark, query
    assert ss.planner_reason.startswith("index bytes")
    assert all(r["planner"] == "spark" for r in ss.per_column.values())
    return local


def _keys_frame(spark, col, values, dtype):
    return spark.createDataFrame([(v,) for v in values], f"{col} {dtype}")


@pytest.fixture()
def typed_orders(spark, storage, orders_files):
    """Orders with one index of each non-temporal type."""
    df, files = orders_files
    idx = Index.for_name("o_types", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_range_index("o_orderkey")
    idx.add_computed_index("o_bucket", "o_custkey % 7")
    idx.add_bloom_index("o_totalprice", fpr=1e-6)
    idx.add_files(files).update()
    return df, files, idx


def test_planner_parity_regular_computed_bloom_range(spark, typed_orders):
    df, files, idx = typed_orders
    rows = df.orderBy("o_orderkey").collect()
    first, last = rows[0], rows[-1]
    cust = [first["o_custkey"], last["o_custkey"]]
    price = [first["o_totalprice"], last["o_totalprice"]]
    key = [first["o_orderkey"], last["o_orderkey"]]
    for q in (
        {"o_custkey": cust},
        {"o_custkey": [-1]},
        {"o_bucket": [first["o_custkey"] % 7]},
        {"o_totalprice": price},
        {"o_totalprice": [-1.5]},
        {"o_orderkey": key},
        {"o_orderkey": Band(lo=key[0], hi=key[0] + 3)},
        {"o_orderkey": Band(hi=key[0], hi_inc=False)},
        {"o_orderkey": Band()},
        {"o_custkey": [], "o_orderkey": key},
        # multi-column AND
        {"o_custkey": cust, "o_orderkey": Band(lo=key[1])},
    ):
        _assert_parity(idx, q)
    sel = _assert_parity(idx, {"o_orderkey": Band(lo=key[0], hi=key[0] + 3)})
    assert len(sel) == 1
    # DataFrame keys: one frame, one column and two columns
    frame = _keys_frame(spark, "o_custkey", cust, "long")
    assert _assert_parity(idx, frame, ["o_custkey"])
    _assert_parity(idx, _keys_frame(spark, "o_totalprice", price, "double"), ["o_totalprice"])
    _assert_parity(idx, _keys_frame(spark, "o_orderkey", key, "long"), ["o_orderkey"])
    pair = spark.createDataFrame([(cust[0], key[0])], "o_custkey long, o_orderkey long")
    assert len(_assert_parity(idx, pair, ["o_custkey", "o_orderkey"])) == 1
    # a dict mixing a frame and literals (the SQL rewrite's shape)
    _assert_parity(idx, {"o_custkey": frame, "o_orderkey": Band(lo=key[1])})


def test_planner_parity_exploded(spark, storage, tagged_files):
    df, files = tagged_files
    idx = Index.for_name("tags_par", schema=df.schema, format="parquet", spark=spark)
    idx.add_exploded_index("tags", as_column="tag_key", field="k")
    idx.add_files(files).update()
    for q in ({"tag_key": ["key1"]}, {"tag_key": ["key3", "nope"]}, {"tag_key": ["nope"]}):
        _assert_parity(idx, q)
    _assert_parity(idx, _keys_frame(spark, "tag_key", ["key2"], "string"), ["tag_key"])


def _temporal_index(spark, df, files, name):
    idx = Index.for_name(name, schema=df.schema, format="parquet", spark=spark)
    idx.add_temporal_index("user_id", "ts").add_files(files).update()
    return idx


def test_planner_parity_temporal(spark, storage, events_files):
    df, files = events_files
    idx = _temporal_index(spark, df, files, "ev_par")
    users = [r[0] for r in df.select("user_id").distinct().orderBy("user_id").limit(6).collect()]
    for q in ({"user_id": users}, {"user_id": [-7]}):
        _assert_parity(idx, q)
    sel = _assert_parity(idx, {"user_id": users[:1]})
    assert len(sel) == 1  # only the file holding the latest version
    _assert_parity(idx, _keys_frame(spark, "user_id", users, "long"), ["user_id"])


def test_planner_parity_large_spill(spark, storage, orders_files, events_files):
    """Arrays over largeIndexLimit spill to large_indexes/{col}: regular
    spills keep an auto-bloom in the main row, temporal spills do not;
    a regular spill whose auto-bloom column is gone probes the spill
    rows alone. Every shape keeps both planners in agreement and the
    join exact."""
    df, files = orders_files
    ev, ev_files = events_files
    spark.conf.set("spark.ariadne.largeIndexLimit", "3")
    try:
        idx = Index.for_name("o_spill", schema=df.schema, format="parquet", spark=spark)
        idx.add_index("o_custkey").add_files(files).update()
        tidx = _temporal_index(spark, ev, ev_files, "ev_spill")
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")
    assert idx.large_df("o_custkey") is not None  # the spill path ran
    assert "auto_bloom_o_custkey" in idx.index_df.columns
    cust = [r[0] for r in df.select("o_custkey").distinct().limit(3).collect()]
    for q in ({"o_custkey": cust}, {"o_custkey": [-1]}):
        _assert_parity(idx, q)
    keys = _keys_frame(spark, "o_custkey", cust, "long")
    _assert_parity(idx, keys, ["o_custkey"])
    assert_same_rows(idx.join(keys, "o_custkey"), df.join(keys, "o_custkey"))

    users = [r[0] for r in ev.select("user_id").distinct().limit(4).collect()]
    assert tidx.large_df("user_id") is not None
    _assert_parity(tidx, {"user_id": users})
    _assert_parity(tidx, _keys_frame(spark, "user_id", users, "long"), ["user_id"])

    # the same spill without its auto-bloom column
    idx.table.overwrite(idx.index_df.drop("auto_bloom_o_custkey"))
    idx._invalidate()
    assert _assert_parity(idx, {"o_custkey": cust})
    _assert_parity(idx, keys, ["o_custkey"])


def test_planner_fallbacks_over_bounds(spark, typed_orders):
    """Over the index-byte bound or the key-byte cap the Spark planner
    runs, says why, and agrees with the driver-side planner."""
    from ariadne_spark.plans import locate as spark_planner

    df, files, idx = typed_orders
    q = {"o_custkey": [df.first()["o_custkey"]]}
    local = idx.locate_files(q)
    spark_planner.LOCAL_INDEX_MAX_BYTES, cap = 0, spark_planner.LOCAL_INDEX_MAX_BYTES
    try:
        idx._locate_memo.clear()
        assert idx.locate_files(q) == local
    finally:
        spark_planner.LOCAL_INDEX_MAX_BYTES = cap
    st = idx._last_locate_stats
    assert st.planner == "spark" and "LOCAL_INDEX_MAX_BYTES" in st.planner_reason

    keys = _keys_frame(spark, "o_custkey", q["o_custkey"], "long")
    assert idx.locate_files(keys, ["o_custkey"]) == local
    assert idx._last_locate_stats.planner == "local"
    spark_planner.LOCAL_KEYS_MAX_BYTES, kcap = 0, spark_planner.LOCAL_KEYS_MAX_BYTES
    try:
        got = idx.join(keys, "o_custkey")
    finally:
        spark_planner.LOCAL_KEYS_MAX_BYTES = kcap
    st = idx._last_locate_stats
    assert st.planner == "spark" and "LOCAL_KEYS_MAX_BYTES" in st.planner_reason
    assert idx._last_metrics["planner"] == "spark"
    assert_same_rows(got.select(*df.columns), df.join(keys, "o_custkey").select(*df.columns))


def _jobs(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("locate-jobs", "locate jobs")
    try:
        out = fn()
    finally:
        sc.setJobGroup("other", "other")
    return out, len(list(sc.statusTracker().getJobIdsForGroup("locate-jobs")))


def test_literal_locate_and_prune_metrics_run_no_jobs(spark, typed_orders):
    df, files, idx = typed_orders
    idx = Index.for_name("o_types", spark=spark)  # a fresh handle: cold caches
    first = df.orderBy("o_orderkey").first()
    q = {"o_custkey": [first["o_custkey"]], "o_orderkey": Band(hi=first["o_orderkey"])}
    out, jobs = _jobs(spark, lambda: idx.read_matching(q))
    assert jobs == 0
    m = idx._last_metrics
    assert (m["total_files"], m["selected_files"]) == (len(files), 1)
    assert m["planner"] == "local" and m["planner_reason"] is None
    assert [r[0] for r in out.select("o_orderkey").collect()] == [first["o_orderkey"]]


def test_unselective_locate_matches_every_file_without_jobs(spark, typed_orders):
    """The wide-join shape: every file matches. Both planners agree and
    the driver-side one runs no Spark job."""
    df, files, idx = typed_orders
    every = [r[0] for r in df.select("o_custkey").distinct().collect()]
    sel, jobs = _jobs(spark, lambda: idx.locate_files({"o_custkey": every}))
    assert jobs == 0
    assert sel == sorted(idx.filelist.filenames())
    assert _assert_parity(idx, {"o_custkey": every}) == sel


def test_mistyped_values_raise(spark, typed_orders):
    """A value that cannot take the indexed column's type raises in
    both planners instead of selecting no files."""
    df, files, idx = typed_orders
    for q in (
        {"o_custkey": ["not a number"]},
        {"o_custkey": [1.5]},
        {"o_orderkey": Band(lo="x")},
    ):
        for force in (False, True):
            with pytest.raises(TypeError):
                _planned(idx, q, force_spark=force)
    # a DataFrame source is typed too: keys of another type are cast
    keys = _keys_frame(spark, "o_custkey", [str(df.first()["o_custkey"])], "string")
    assert _planned(idx, keys, ["o_custkey"])[0] == idx.locate_files(
        {"o_custkey": [df.first()["o_custkey"]]}
    )


def test_date_index_refuses_day_numbers(spark, storage, tmp_path, orders_files):
    import datetime

    df, _ = orders_files
    dated = df.select("o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
    out = str(tmp_path / "dated")
    dated.coalesce(1).write.parquet(out)
    files = [f"{out}/{f}" for f in os.listdir(out) if f.endswith(".parquet")]
    idx = Index.for_name("o_dated", schema=dated.schema, format="parquet", spark=spark)
    idx.add_index("o_orderdate").add_files(files).update()
    day = dated.first()["o_orderdate"]
    assert idx.locate_files({"o_orderdate": [day]}) == [normalize_path(files[0])]
    assert idx.locate_files({"o_orderdate": [day.isoformat()]}) == [normalize_path(files[0])]
    with pytest.raises(TypeError):
        idx.locate_files({"o_orderdate": [(day - datetime.date(1970, 1, 1)).days]})


def test_unbuilt_index_column_keeps_every_file(spark, typed_orders):
    """Between ``add_index`` and the ``update()`` that backfills it a
    column has no stored values: a locate on it must keep every file,
    never select none, in both planners."""
    df, files, idx = typed_orders
    idx.add_index("o_orderstatus").add_range_index("o_orderdate")
    idx.add_computed_index("o_prio", "substring(o_orderpriority, 1, 1)")
    every = sorted(idx.filelist.filenames())
    for q in (
        {"o_orderstatus": ["F"]},
        {"o_orderdate": [df.first()["o_orderdate"]]},
        {"o_prio": ["1"]},
        {"o_orderstatus": ["F"], "o_custkey": [df.first()["o_custkey"]]},
    ):
        files = _assert_parity(idx, q)
        if "o_custkey" not in q:
            assert files == every, q
    files = sorted(idx.locate_files({"o_orderstatus": ["F"]}))
    assert files == every
    assert_same_rows(
        idx.read_matching({"o_orderstatus": ["F"]}).select(*df.columns),
        df.where(F.col("o_orderstatus") == "F"),
    )
    idx.update()
    assert_same_rows(
        idx.read_matching({"o_orderstatus": ["F"]}).select(*df.columns),
        df.where(F.col("o_orderstatus") == "F"),
    )


def test_wide_string_keys_go_to_spark_planner_uncollected(spark, storage, orders_files, monkeypatch):
    """A string key longer than LOCAL_KEY_MAX_WIDTH sends the locate to
    the Spark planner, and the key collect never brings it to the
    driver: what the collect may return is bounded in bytes."""
    from ariadne_spark.plans import locate as spark_planner

    df, files = orders_files
    DataFrame = type(df)
    idx = Index.for_name("o_orderpriority", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_orderpriority").add_files(files).update()
    prio = df.first()["o_orderpriority"]
    wide = "w" * (spark_planner.LOCAL_KEY_MAX_WIDTH + 1)
    pulled = []
    to_arrow = DataFrame.toArrow
    monkeypatch.setattr(
        DataFrame, "toArrow", lambda self: pulled.append(to_arrow(self)) or pulled[-1]
    )
    keys = _keys_frame(spark, "o_orderpriority", [prio, wide], "string")
    files = idx.locate_files(keys, ["o_orderpriority"])
    st = idx._last_locate_stats
    assert st.planner == "spark" and "LOCAL_KEY_MAX_WIDTH" in st.planner_reason
    assert sorted(files) == sorted(idx.locate_files({"o_orderpriority": [prio]}))
    assert pulled and all(
        wide not in t.column("o_orderpriority").to_pylist() for t in pulled
    )
    # keys within the width stay on the driver-side planner
    narrow = _keys_frame(spark, "o_orderpriority", [prio], "string")
    assert idx.locate_files(narrow, ["o_orderpriority"])
    assert idx._last_locate_stats.planner == "local"
