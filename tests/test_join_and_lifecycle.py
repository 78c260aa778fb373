"""Join types, empty-result schema stability, selection, large-index
+ auto-bloom, delete/backfill/compaction lifecycle (reference
categories: IndexJoinOperationsTests, EmptyResultSchemaTests,
AutoBloomLargeIndexTests, DeleteFilesTests, ColumnBackfillTests,
CompactionTests, BatchedIndexUpdateTests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_spark import Index, catalog
from ariadne_spark.plans.batching import FileAnalysis, create_batches
from ariadne_spark.storage.table import ParquetTable

from .conftest import assert_same_rows, rows_set


@pytest.fixture()
def orders_idx(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("orders", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files).update()
    return df, files, idx


def _cust(spark, df):
    return (
        df.select(F.col("o_custkey")).distinct().limit(20)
        .withColumn("extra", F.col("o_custkey") * 2)
    )


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "full_outer"])
def test_join_types_match_plain_spark(spark, orders_idx, how):
    df, files, idx = orders_idx
    other = _cust(spark, df)
    res = idx.join(other, on=["o_custkey"], how=how)
    expected = df.join(other, ["o_custkey"], how)
    assert_same_rows(res, expected)


def test_join_no_match_keeps_schema(spark, orders_idx):
    df, files, idx = orders_idx
    none = spark.createDataFrame([(-1, -2)], ["o_custkey", "extra"])
    res = idx.join(none, on=["o_custkey"])
    assert res.count() == 0
    some = idx.join(_cust(spark, df), on=["o_custkey"])
    assert res.schema == some.schema


def test_selection_restricts_columns(spark, orders_idx):
    df, files, idx = orders_idx
    idx.select("o_orderkey", "o_custkey")
    res = idx.join(_cust(spark, df).select("o_custkey"), on=["o_custkey"])
    assert set(res.columns) == {"o_orderkey", "o_custkey"}
    idx.select()  # reset


@pytest.mark.slow
def test_large_index_and_auto_bloom(spark, storage, orders_files):
    """With largeIndexLimit lowered, value arrays spill to the large
    table, an auto_bloom column appears, and queries still answer
    exactly (reference: AutoBloomLargeIndexTests.scala:36-144)."""
    df, files = orders_files
    spark.conf.set("spark.ariadne.largeIndexLimit", "50")
    try:
        idx = Index.for_name("o_large", schema=df.schema, format="parquet", spark=spark)
        idx.add_index("o_orderkey").add_files(files).update()
        main = idx.index_df
        assert "auto_bloom_o_orderkey" in main.columns
        # every file is over the 50-distinct limit => all arrays nulled
        assert main.where(F.col("o_orderkey").isNotNull()).count() == 0
        assert idx.large_df("o_orderkey").count() > 0
        values = [5, 6, 7, 2999]
        res = idx.read_matching({"o_orderkey": values})
        assert_same_rows(
            res.select("o_orderkey"),
            df.where(F.col("o_orderkey").isin(values)).select("o_orderkey"),
        )
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")


@pytest.mark.slow
def test_large_index_superseded_when_file_shrinks(spark, storage, orders_files):
    """A file re-indexed under the limit must stop serving large rows
    (the delete-analog via main-row validity)."""
    df, files = orders_files
    spark.conf.set("spark.ariadne.largeIndexLimit", "50")
    idx = Index.for_name("o_shrink", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_orderkey").add_files(files[:1]).update()
    assert idx.large_df("o_orderkey").count() > 0
    spark.conf.set("spark.ariadne.largeIndexLimit", "1000000")
    try:
        idx.delete_files(files[:1])
        idx.add_files(files[:1]).update()
        large = idx.large_df("o_orderkey")
        assert large is None or large.count() == 0
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")


def test_delete_files(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("o_del", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files).update()
    assert idx.index_df.count() == len(files)
    idx.delete_files(files[:2])
    assert idx.index_df.count() == len(files) - 2
    assert set(idx.filelist.filenames()) == {f for f in map(str, files[2:])}
    # deleted files' data no longer appears
    res = idx.read_all()
    expected = spark.read.parquet(*files[2:])
    assert res.count() == expected.count()


def test_column_backfill(spark, storage, orders_files):
    """Registering a new index on an existing index re-indexes all
    files on the next update (reference: ColumnBackfillTests)."""
    df, files = orders_files
    idx = Index.for_name("o_back", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files).update()
    assert "range_o_totalprice" not in idx.index_df.columns
    idx.add_range_index("o_totalprice")
    assert idx._files_needing_column_update() == idx.filelist.filenames()
    idx.update()
    main = idx.index_df
    assert "range_o_totalprice" in main.columns
    assert main.where(F.col("range_o_totalprice").isNotNull()).count() == len(files)
    assert idx._files_needing_column_update() == []


@pytest.mark.slow
def test_compaction_folds_segments(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("o_cmp", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey")
    for f in files:  # one update per file => multiple segments
        idx.add_files([f]).update()
    assert idx.table.num_segments > 1
    idx.compact()
    assert idx.table.num_segments == 1
    assert idx.index_df.count() == len(files)


def test_batch_packing_properties():
    """Greedy FFD packing: budget respected, oversize isolated, all
    files placed exactly once (reference: BatchedIndexUpdateTests)."""
    analyses = [FileAnalysis(f"f{i}", c) for i, c in enumerate([1500, 900, 500, 400, 300, 200, 100, 50])]
    batches = create_batches(analyses, budget=1000)
    placed = [f for b in batches for f in b]
    assert sorted(placed) == sorted(a.filename for a in analyses)
    counts = {a.filename: a.max_distinct for a in analyses}
    for b in batches:
        if len(b) > 1:
            assert sum(counts[f] for f in b) <= 1000
    assert ["f0"] in batches  # oversize (1500 ≥ budget) is isolated


def test_catalog_and_stats(spark, storage, orders_files):
    df, files = orders_files
    idx = Index.for_name("o_cat", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_range_index("o_totalprice")
    idx.add_files(files).update()
    assert "o_cat" in catalog.list_indexes(spark)
    assert catalog.find_indexes("o_custkey", spark) == ["o_cat"]
    st = {r["column"]: r for r in idx.stats().collect()}
    assert st["o_custkey"]["files"] == len(files)
    assert st["o_custkey"]["max_values"] >= st["o_custkey"]["min_values"]
    catalog.remove("o_cat", spark)
    assert "o_cat" not in catalog.list_indexes(spark)


@pytest.mark.slow
def test_temporal_large_index_spill(spark, storage, events_files):
    """Temporal struct arrays spill to (filename, value, max_ts) rows
    when per-file cardinality crosses the limit; latest-version joins
    still answer exactly from the spilled form."""
    from pyspark.sql import Window

    df, files = events_files
    spark.conf.set("spark.ariadne.largeIndexLimit", "5")
    try:
        idx = Index.for_name("ev_large", schema=df.schema, format="parquet", spark=spark)
        idx.add_temporal_index("user_id", "ts").add_files(files).update()
        main = idx.index_df
        assert main.where(F.col("user_id").isNotNull()).count() == 0  # all spilled
        large = idx.large_df("user_id")
        assert set(large.columns) == {"filename", "value", "max_ts"}
        assert large.count() > 0
        users = spark.createDataFrame([(i,) for i in range(0, 8)], ["user_id"])
        res = idx.join(users, on=["user_id"])
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc_nulls_last())
        expected = (
            df.join(users, ["user_id"])
            .withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .drop("rn")
        )
        assert_same_rows(res, expected)
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")


def test_size_accounting(spark, storage, orders_files):
    """total_indexed_bytes tracks the sum of indexed file sizes and
    shrinks on delete (reference metadata v9: total_indexed_file_size)."""
    import os as _os

    df, files = orders_files
    idx = Index.for_name("o_size", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files).update()
    expected = sum(_os.path.getsize(f) for f in files)
    reloaded = Index.for_name("o_size", spark=spark)
    assert reloaded.meta.total_indexed_bytes == expected
    reloaded.delete_files(files[:1])
    again = Index.for_name("o_size", spark=spark)
    assert again.meta.total_indexed_bytes == expected - _os.path.getsize(files[0])


def test_package_shipped_to_executors(spark, storage, orders_files):
    """Opening an index ships the package zip to Python workers
    (addPyFile), so engine UDF closures that reference package modules
    (bloom probe, minhash signatures, media decode) deserialize even
    when the driver's working directory is not the repo root."""
    df, files = orders_files
    Index.for_name("ship_pkg", schema=df.schema, format="parquet", spark=spark)
    includes = list(spark.sparkContext._python_includes)
    assert any("ariadne_spark_" in p for p in includes), includes


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_reverse_join_matches_plain_spark(spark, orders_idx, how):
    """ariadne_spark.join(df, idx, ...) == df.join(data, ...) — the
    reference's DataFrameOps semantics (Index.scala:1296-1323)."""
    import ariadne_spark

    df, files, idx = orders_idx
    other = _cust(spark, df)
    res = ariadne_spark.join(other, idx, on=["o_custkey"], how=how)
    expected = other.join(df, ["o_custkey"], how)
    assert_same_rows(res, expected)


def test_reverse_join_equivalent_to_flipped_forward(spark, orders_idx):
    df, files, idx = orders_idx
    other = _cust(spark, df)
    a = idx.join_from(other, on=["o_custkey"], how="inner")
    b = idx.join(other, on=["o_custkey"], how="inner")
    assert rows_set(a.select(*sorted(a.columns))) == rows_set(
        b.select(*sorted(a.columns))
    )

def test_join_repartition_invariance(spark, orders_idx):
    """indexRepartitionCount spreads the index frame before the locate
    explode; it must never change the answer (reference
    IndexJoinOperationsTests repartition invariance)."""
    df, files, idx = orders_idx
    cust = _cust(spark, df)
    base = rows_set(idx.join(cust, on=["o_custkey"]))
    spark.conf.set("spark.ariadne.indexRepartitionCount", "3")
    try:
        idx2 = Index.for_name("orders", spark=spark)
        assert rows_set(idx2.join(cust, on=["o_custkey"])) == base
    finally:
        spark.conf.unset("spark.ariadne.indexRepartitionCount")


def test_incremental_update_pending_fast_path(spark, storage, orders_files):
    """r11: a handle whose last update() verified sync skips the
    filename set-diff read jobs on the next add_files→update pair
    (fingerprint-guarded pending set). Pin: (a) the fast path actually
    fires on the steady-state micro-batch loop, (b) it degrades to the
    exact computation when another writer commits in between, and
    (c) index content equals a from-scratch build either way."""
    df, files = orders_files
    idx = Index.for_name(
        "orders_pend", schema=df.schema, format="parquet", spark=spark
    )
    idx.add_index("o_custkey")
    idx.add_files(files[:1]).update()
    assert getattr(idx, "_synced_fingerprint", None) is not None

    calls = {"n": 0}
    orig = Index.unindexed_files

    def counting(self):
        calls["n"] += 1
        return orig(self)

    Index.unindexed_files = counting
    try:
        # steady state: one new file per "batch" — no set-diff reads
        idx.add_files([files[1]])
        assert idx._pending_files is not None
        idx.update()
        idx.add_files([files[2]])
        idx.update()
        assert calls["n"] == 0
        # foreign commit between add and update (here: a re-add from
        # another handle — any FileList version bump) → fallback to
        # the exact computation
        other = Index.for_name("orders_pend", spark=spark)
        idx.add_files([files[3]])
        other.add_files([files[0]])
        idx.update()
        assert calls["n"] == 1
    finally:
        Index.unindexed_files = orig
    # content parity vs a from-scratch build over the same files
    fresh = Index.for_name(
        "orders_pend_fresh", schema=df.schema, format="parquet", spark=spark
    )
    fresh.add_index("o_custkey").add_files(files).update()
    a = idx.table.read().select("filename", "o_custkey")
    b = fresh.table.read().select("filename", "o_custkey")
    ra = {(r[0].rsplit("/", 1)[-1], tuple(sorted(r[1]))) for r in a.collect()}
    rb = {(r[0].rsplit("/", 1)[-1], tuple(sorted(r[1]))) for r in b.collect()}
    assert ra == rb


@pytest.mark.parametrize("window", ["add_files", "update"])
def test_pending_fast_path_foreign_add_race(
    spark, storage, orders_files, monkeypatch, window
):
    """A second handle's add_files that commits inside one of this
    handle's fast-path windows must never be absorbed into the pending
    fingerprint: (add_files) just before this handle's FileList.add;
    (update) while update() builds the pending batch. Either way the
    next add_files→update pair indexes the foreign file too."""
    import ariadne_spark.index as index_mod

    df, files = orders_files
    name = f"orders_race_{window}"
    idx = Index.for_name(name, schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey")
    idx.add_files(files[:1]).update()
    other = Index.for_name(name, spark=spark)
    fired = []

    def foreign_add():
        if not fired:
            fired.append(True)
            other.add_files([files[2]])

    if window == "add_files":
        own_add = idx.filelist.add

        def racing_add(names):
            foreign_add()
            own_add(names)

        monkeypatch.setattr(idx.filelist, "add", racing_add)
    else:
        build = index_mod.build_index_rows

        def racing_build(*args, **kwargs):
            foreign_add()
            return build(*args, **kwargs)

        monkeypatch.setattr(index_mod, "build_index_rows", racing_build)
    idx.add_files([files[1]]).update()
    assert fired
    idx.add_files([files[3]]).update()
    assert idx.unindexed_files() == []
