"""Driver-side commits and the write-through store index.

A local ParquetTable writes small Arrow segments and compacts with
pyarrow; an incremental store append whose keys the locate already
collected commits its FileList and bloom rows in the same step, so the
next store-index refresh runs no Spark job. These tests pin that the
driver-side paths write what the Spark paths write, that a crash
between the two commits is reported and converges, and that every
fallback still refreshes through Spark.
"""

from __future__ import annotations

import datetime
import decimal
import json
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ariadne_spark.operators import dedup as dd
from ariadne_spark.plans import batching
from ariadne_spark.plans import locate as spark_planner
from ariadne_spark.storage.metadata import IndexConfig, IndexMetadata
from ariadne_spark.storage.table import ParquetTable
from ariadne_spark.sql import surface

from .conftest import SF_DIR, assert_same_rows

BASE = "the quick brown fox jumps over the lazy dog again and again"


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"write-through-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("other", "other")
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _canon(df) -> list[str]:
    """Rows as sorted reprs: order- and nesting-proof equality."""
    return sorted(repr(r) for r in df.select(*sorted(df.columns)).collect())


def _docs(spark, lo, n, text=BASE):
    return spark.createDataFrame(
        [(lo + i, f"{text} {i} w{i % 7}") for i in range(n)], ["doc_id", "text"]
    )


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def crawl(spark, tmp_path):
    """A signature store with two history batches, its store index and
    a second store holding the same history for the unindexed oracle."""
    spark.conf.set("spark.ariadne.storagePath", str(tmp_path / "ariadne"))
    store, oracle = str(tmp_path / "sigs"), str(tmp_path / "oracle")
    for path in (store, oracle):
        for b, text in enumerate((BASE, "w0 x1 y2 z3 q4 r5 s6 t7 u8")):
            dd.signature_store_write(
                dd.minhash_signatures_fast(_docs(spark, 100 * b, 20, text), "text", "doc_id"),
                path,
                mode="append",
            )
    idx = dd.signature_store_index(spark, store, "sigs_wt")
    return store, oracle, idx


def _batch(spark, store, oracle, idx, docs):
    """One indexed batch plus its refresh, and the unindexed oracle."""
    got = dd.incremental_near_dup(docs, store, threshold=0.5, store_index=idx)
    pairs = _pairs(got)
    refreshed, jobs = _jobs(
        spark, lambda: dd.signature_store_index(spark, store, "sigs_wt", handle=idx)
    )
    want = _pairs(dd.incremental_near_dup(docs, oracle, threshold=0.5))
    return pairs, want, refreshed, jobs


def test_write_through_refresh_runs_no_job_and_row_matches_spark_build(spark, crawl):
    store, oracle, idx = crawl
    for b in range(2):
        pairs, want, idx, jobs = _batch(spark, store, oracle, idx, _docs(spark, 1000 * (b + 1), 15))
        assert pairs == want and pairs
        assert jobs == 0
        assert idx.unindexed_files() == []
    files = dd._snapshot_files(spark, store, "signature")
    assert sorted(idx.filelist.filenames()) == files

    # the Spark build of the same files gives the same rows, blobs byte
    # for byte, and the same stored schema
    spark_built = dd.signature_store_index(spark, store, "sigs_spark")
    mine = {r["filename"]: r for r in idx.table.read().collect()}
    theirs = {r["filename"]: r for r in spark_built.table.read().collect()}
    assert mine.keys() == theirs.keys() == set(files)
    for f in files:
        assert mine[f]["file_size"] == theirs[f]["file_size"]
        assert bytes(mine[f]["bloom_band_key"]) == bytes(theirs[f]["bloom_band_key"])
    assert idx.meta.total_indexed_bytes == spark_built.meta.total_indexed_bytes


def test_write_through_row_schema_matches_spark_append(spark, crawl):
    store, oracle, idx = crawl
    seg_schema = json.loads(idx.table._read_manifest()["segments"][-1]["schema"])
    dd.incremental_near_dup(_docs(spark, 5000, 10), store, threshold=0.5, store_index=idx)
    segs = ParquetTable(spark, idx.paths.index)._read_manifest()["segments"]
    assert len(segs) == 2
    assert all(json.loads(s["schema"]) == seg_schema for s in segs)


def test_crash_between_filelist_and_index_commit_converges(spark, crawl, monkeypatch):
    store, oracle, idx = crawl
    listing = set(idx._ariadne_store_listing)

    def crash(data):
        raise RuntimeError("crash before the index row commits")

    monkeypatch.setattr(idx.table, "append", crash)
    with pytest.raises(RuntimeError):
        dd.incremental_near_dup(_docs(spark, 3000, 10), store, threshold=0.5, store_index=idx)
    monkeypatch.undo()
    new = sorted(set(dd._snapshot_files(spark, store, "signature")) - listing)
    assert len(new) == 1
    # registered but unindexed: reported, and the listing did not advance
    assert idx.unindexed_files() == new
    assert idx._ariadne_store_listing == listing
    dd.incremental_near_dup(_docs(spark, 3000, 10), oracle, threshold=0.5)  # keep stores equal
    idx = dd.signature_store_index(spark, store, "sigs_wt", handle=idx)
    assert idx.unindexed_files() == []
    pairs, want, idx, jobs = _batch(spark, store, oracle, idx, _docs(spark, 4000, 10))
    assert pairs == want and pairs and jobs == 0


@pytest.mark.parametrize(
    "module,bound,value",
    [(spark_planner, "LOCAL_KEYS_MAX_BYTES", 64), (dd, "WRITE_THROUGH_MAX_KEYS", 8)],
    ids=["key_bytes", "write_through_keys"],
)
def test_fallback_over_key_bound_refreshes_through_spark(spark, crawl, monkeypatch, module, bound, value):
    """Keys over the collect bound, or over the write-through bound
    (collected for the locate, but too many for one part file and a
    driver-side bloom), leave the append to the Spark refresh."""
    store, oracle, idx = crawl
    monkeypatch.setattr(module, bound, value)
    before = set(idx.filelist.filenames())
    got = _pairs(dd.incremental_near_dup(_docs(spark, 6000, 10), store, threshold=0.5, store_index=idx))
    assert set(idx.filelist.filenames()) == before  # nothing written through
    idx, jobs = _jobs(spark, lambda: dd.signature_store_index(spark, store, "sigs_wt", handle=idx))
    assert jobs > 0 and idx.unindexed_files() == []
    assert got == _pairs(dd.incremental_near_dup(_docs(spark, 6000, 10), oracle, threshold=0.5))


def test_fallback_multi_file_append_refreshes_through_spark(spark, crawl):
    store, oracle, idx = crawl
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try:
        before = set(idx.filelist.filenames())
        got = _pairs(dd.incremental_near_dup(_docs(spark, 7000, 10), store, threshold=0.5, store_index=idx))
        assert set(idx.filelist.filenames()) == before
        new = set(dd._snapshot_files(spark, store, "signature")) - before
        assert len(new) > 1
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    idx, jobs = _jobs(spark, lambda: dd.signature_store_index(spark, store, "sigs_wt", handle=idx))
    assert jobs > 0 and idx.unindexed_files() == []
    assert got == _pairs(dd.incremental_near_dup(_docs(spark, 7000, 10), oracle, threshold=0.5))


def test_filelist_compacts_and_handle_stays_synced(spark, crawl, monkeypatch, tmp_path):
    """With consolidation after every batch, the FileList folds with the
    index table, and the handle's own fold keeps it synced: the next
    add_files -> update pair reads no filename set."""
    import shutil

    from ariadne_spark import Index

    store, oracle, idx = crawl
    spark.conf.set("spark.ariadne.stagingConsolidationThreshold", "1")
    try:
        for b in range(3):
            pairs, want, idx, jobs = _batch(spark, store, oracle, idx, _docs(spark, 1000 * (b + 1), 15))
            assert pairs == want and jobs == 0
        assert idx.filelist.table.num_segments == 1
        assert idx.table.num_segments == 1
        assert idx.unindexed_files() == []
        assert sorted(idx.filelist.filenames()) == dd._snapshot_files(spark, store, "signature")
        extra = str(tmp_path / "extra.parquet")
        shutil.copy(idx.filelist.filenames()[0], extra)
        calls = []
        monkeypatch.setattr(
            Index, "unindexed_files", lambda self: calls.append(1) or []
        )
        idx.add_files([extra]).update()
        assert calls == []
        assert extra in {r["filename"] for r in idx.index_df.collect()}
        assert idx.filelist.table.num_segments == 1
    finally:
        spark.conf.unset("spark.ariadne.stagingConsolidationThreshold")


def test_window_store_write_through(spark, tmp_path):
    spark.conf.set("spark.ariadne.storagePath", str(tmp_path / "ariadne"))
    store, oracle = str(tmp_path / "win"), str(tmp_path / "win_oracle")
    hist = spark.createDataFrame([(1, "a b c d e f"), (2, "p q r s t u")], ["doc_id", "text"])
    for path in (store, oracle):
        dd.incremental_substring_dedup(hist, path, k=3)
    idx = dd.window_store_index(spark, store, "win_wt")
    for i, text in enumerate(["a b c x y z", "p q r a b c"]):
        batch = spark.createDataFrame([(10 + i, text)], ["doc_id", "text"])
        got = sorted(map(tuple, dd.incremental_substring_dedup(batch, store, k=3, store_index=idx).collect()))
        want = sorted(map(tuple, dd.incremental_substring_dedup(batch, oracle, k=3).collect()))
        assert got == want
        idx, jobs = _jobs(spark, lambda: dd.window_store_index(spark, store, "win_wt", handle=idx))
        assert jobs == 0 and idx.unindexed_files() == []


# ------------------------------------------------------------ storage


TYPED = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("d", T.DateType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("bin", T.BinaryType()),
        T.StructField("vals", T.ArrayType(T.LongType())),
        T.StructField("dates", T.ArrayType(T.DateType())),
        T.StructField("rng", T.StructType([T.StructField("min", T.LongType()), T.StructField("max", T.LongType())])),
        T.StructField(
            "latest",
            T.ArrayType(T.StructType([T.StructField("value", T.StringType()), T.StructField("max_ts", T.TimestampType())])),
        ),
    ]
)


def _typed_rows(tag: str, n: int):
    ts = datetime.datetime(2024, 3, 10, 1, 30, 15, 123456)
    return [
        (
            f"{tag}{i}",
            ts + datetime.timedelta(hours=i),
            ts + datetime.timedelta(minutes=i),
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
            decimal.Decimal(f"{i}.125"),
            bytes([i, 255 - i]),
            [i, i + 1],
            [datetime.date(2023, 12, 31)],
            (i, i * 10),
            [("u", ts), ("v", None)],
        )
        for i in range(n)
    ]


@pytest.fixture()
def los_angeles(spark):
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", tz)


def _force_spark(monkeypatch):
    monkeypatch.setattr(ParquetTable, "_local_compact_bound", lambda self: -1)


def test_arrow_and_spark_segments_read_back_equal(spark, tmp_path, los_angeles, monkeypatch):
    df = spark.createDataFrame(_typed_rows("f", 3), TYPED)
    arrow = ParquetTable(spark, str(tmp_path / "arrow"), key_cols=("filename",))
    arrow.append(df.toArrow())
    with monkeypatch.context() as m:
        _force_spark(m)
        sparkt = ParquetTable(spark, str(tmp_path / "spark"), key_cols=("filename",))
        sparkt.append(df)
    seg = arrow._read_manifest()["segments"][0]
    assert T.StructType.fromJson(json.loads(seg["schema"])) == TYPED
    assert _canon(arrow.read()) == _canon(sparkt.read()) == _canon(df)


@pytest.mark.parametrize("dedup,unique", [("last", True), ("first", True), ("last", False)])
def test_local_compact_equals_spark_compact(spark, tmp_path, los_angeles, monkeypatch, dedup, unique):
    """Replace-per-key survives the driver-side fold for both dedup
    modes and for a multi-row-per-key (spill) table, over segments the
    Spark writer and the Arrow writer both made, one of them narrower
    (a column backfill)."""
    rows = _typed_rows("f", 4)
    if not unique:  # spill shape: several rows per key in one segment
        rows = rows + [("f1",) + r[1:] for r in _typed_rows("g", 2)]
    first = spark.createDataFrame(rows, TYPED)
    second = spark.createDataFrame(_typed_rows("f", 2), TYPED).drop("dates")
    third = spark.createDataFrame(
        [("f0",) + r[1:] for r in _typed_rows("h", 1)] + _typed_rows("z", 1), TYPED
    )
    tables = {}
    for kind in ("local", "spark"):
        t = ParquetTable(spark, str(tmp_path / kind), key_cols=("filename",), dedup=dedup, segment_unique=unique)
        with monkeypatch.context() as m:
            _force_spark(m)
            t.append(first)
        t.append(second.toArrow())
        with monkeypatch.context() as m:
            _force_spark(m)
            t.append(third)
        expected = t.read()
        expected_rows = expected.collect()
        with monkeypatch.context() as m:
            if kind == "spark":
                _force_spark(m)
            t.compact()
        assert t.num_segments == 1
        assert _canon(t.read()) == _canon(spark.createDataFrame(expected_rows, expected.schema))
        tables[kind] = t
    assert _canon(tables["local"].read()) == _canon(tables["spark"].read())
    schemas = [
        json.loads(t._read_manifest()["segments"][0]["schema"]) for t in tables.values()
    ]
    assert schemas[0] == schemas[1]


def test_table_keys_on_at_most_one_column(spark, tmp_path):
    with pytest.raises(ValueError):
        ParquetTable(spark, str(tmp_path / "t"), key_cols=("a", "b"))


def test_filelist_add_runs_no_job(spark, storage, tmp_path):
    from ariadne_spark.storage.filelist import FileList

    fl = FileList(spark, str(tmp_path / "fl"))
    _, jobs = _jobs(spark, lambda: (fl.add(["/a", "/b", "/a"]), fl.add(["/b", "/c"])))
    assert jobs == 0
    assert sorted(r[0] for r in fl.files.collect()) == ["/a", "/b", "/c"]
    _, jobs = _jobs(spark, fl.table.compact)
    assert jobs == 0 and fl.filenames() == ["/a", "/b", "/c"]


# ------------------------------------------------------------ satellites


def test_history_read_mixes_legacy_and_stamped_files(spark, tmp_path):
    """A batch appended before the ``__seq`` stamp existed reads it as
    null through the explicit-schema history read, in one job."""
    store = str(tmp_path / "sigs")
    legacy = dd.minhash_signatures_fast(_docs(spark, 0, 10), "text", "doc_id")
    legacy.coalesce(1).write.parquet(store)  # unstamped
    dd.signature_store_write(
        dd.minhash_signatures_fast(_docs(spark, 100, 10, "w0 x1 y2 z3 q4 r5"), "text", "doc_id"),
        store,
        mode="append",
    )
    files = dd._snapshot_files(spark, store, "signature")
    hist = dd._read_signature_history(spark, files, 64)
    assert hist.schema.names == ["__id"] + [f"h{i}" for i in range(64)] + ["__seq"]
    seqs = {r["__id"]: r["__seq"] for r in hist.select("__id", "__seq").collect()}
    assert len(seqs) == 20
    assert all(seqs[i] is None for i in range(10))
    assert all(seqs[100 + i] is not None for i in range(10))
    # a batch of near-copies of the legacy documents finds them
    batch = _docs(spark, 500, 5)
    got = _pairs(dd.incremental_near_dup(batch, store, threshold=0.5, update_store=False))
    assert any(a < 10 for a, b, _ in got)


def test_footer_rule_covers_fixed_length_array_bloom(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"h0": list(range(100)), "h1": list(range(100)), "t": ["a b"] * 100}), path)
    sch = T.StructType(
        [T.StructField("h0", T.LongType()), T.StructField("h1", T.LongType()), T.StructField("t", T.StringType())]
    )
    meta = IndexMetadata("x", "parquet", sch.json())

    def fits(expr, budget):
        cfg = IndexConfig("bloom", "k", expression=expr, fpr=0.01)
        return _jobs(spark, lambda: batching.fits_one_batch(spark, meta, [path], [cfg], budget))

    # 100 rows x 2 elements: under 201, not under 200; no job either way
    assert fits("array(xxhash64(h0), xxhash64(h1))", 201) == (True, 0)
    assert fits("array(xxhash64(h0), xxhash64(h1))", 200) == (False, 0)
    # an array of no fixed length keeps the HLL analysis
    assert fits("split(t, ' ')", 10**6)[0] is False
    assert fits("array_distinct(array(h0, h1))", 10**6)[0] is False


def test_sql_join_skips_probe_when_literals_leave_one_file(spark, storage, orders_files):
    from ariadne_spark.index import Index

    df, files = orders_files
    idx = Index.for_name("orders_wt_sql", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_range_index("o_orderkey")
    idx.add_files(files).update()
    surface.register_views(spark, ["orders_wt_sql"])
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    customer.createOrReplaceTempView("customer_wt")
    key, seg = (
        df.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_mktsegment")
        .orderBy("o_orderkey")
        .first()
    )
    res = surface.sql(
        "SELECT o.o_orderkey, o.o_custkey, c.c_name FROM orders_wt_sql o "
        "JOIN customer_wt c ON o.o_custkey = c.c_custkey "
        f"WHERE o.o_orderkey = {key} AND c.c_mktsegment = '{seg}'",
        spark,
    )
    assert surface._PROBE_TRACE == []  # the customer side never ran
    rep = {r["view"]: r for r in surface.prune_report(spark).collect()}
    assert rep["orders_wt_sql"]["files_selected"] == 1
    expected = (
        df.where(F.col("o_orderkey") == key)
        .join(customer.where(F.col("c_mktsegment") == seg), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name")
    )
    assert_same_rows(res, expected)
    assert res.count() == 1


def test_collected_arrow_keys_are_normalized_like_literals():
    """Keys handed to the locate as an Arrow array are de-duplicated,
    null-dropped and cast like a literal list; an uncastable one is a
    ``TypeError``."""
    from ariadne_spark.plans.locate_local import typed_values

    got = typed_values("k", pa.array([3, None, 3, 4], pa.int32()), pa.int64())
    assert got.type == pa.int64() and sorted(got.to_pylist()) == [3, 4]
    with pytest.raises(TypeError):
        typed_values("k", pa.array(["1", "x"]), pa.int64())
