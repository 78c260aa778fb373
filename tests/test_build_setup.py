"""Index set-up cost paths and their fallbacks: the vectorized bloom
build (byte-equal to a per-value reference), footer-bounded batch
planning (no analysis scan when parquet footers prove one batch) and
the temporal-only build (no filename distinct + full-outer join)."""

from __future__ import annotations

import datetime
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import ariadne_spark.index as index_mod
from ariadne_spark import Index
from ariadne_spark.functions import bloom as bloomfn
from ariadne_spark.operators import build as buildmod
from ariadne_spark.plans import batching
from ariadne_spark.sources.files import (
    FILENAME_COL,
    apply_virtual_columns,
    normalize_path,
    read_base,
    with_filename,
)


# ---------------------------------------------------------------- bloom


def _reference_build(values, fpr):
    """Per-value bloom builder: one sha256, one position vector and one
    ``bitwise_or.at`` per value. The oracle for ``bloomfn.build``."""
    if values is None:
        return None
    vals = [v for v in values if v is not None]
    m, k = bloomfn._params(len(vals), fpr)
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for v in vals:
        d = hashlib.sha256(str(v).encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:16], "little") | 1
        idx = (h1 + np.arange(k, dtype=np.uint64) * np.uint64(h2)) % np.uint64(m)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8),
        )
    return bloomfn._HEADER.pack(bloomfn._MAGIC, m, k) + bits.tobytes()


_BLOOM_INPUTS = {
    "int": list(range(3000)),
    "str": [f"key-{i}" for i in range(500)],
    "date": [datetime.date(2020, 1, 1) + datetime.timedelta(days=d) for d in range(90)],
    "float": [i * 0.25 for i in range(200)] + [-1.5, 1e300],
    "none": [None, 3, None, "x"],
    "all_none": [None, None],
    "empty": [],
    "np_int64": np.arange(4700, dtype=np.int64) * 7919,
    "no_array": None,
}


@pytest.mark.parametrize("fpr", [0.01, 1e-3, 1e-6])
@pytest.mark.parametrize("kind", sorted(_BLOOM_INPUTS))
def test_bloom_build_bytes_equal_reference(kind, fpr):
    values = _BLOOM_INPUTS[kind]
    assert bloomfn.build(values, fpr) == _reference_build(values, fpr)


def test_bloom_one_hasher_matches_digest_wire_form():
    vals = [1, "a", datetime.date(2021, 3, 4), 2.5]
    pairs = bloomfn.hash_values(vals + [None])
    assert pairs.shape == (4, 2) and pairs.dtype == np.uint64
    wire = bloomfn.pairs_from_digests([bytearray(bloomfn.digest16(v)) for v in vals])
    assert np.array_equal(pairs, wire)
    assert bloomfn.hash_values([]).shape == (0, 2)
    blob = bloomfn.build(vals)
    assert bloomfn.might_contain_np(blob, pairs).all()
    assert all(bloomfn.might_contain(blob, v) for v in vals)
    assert not bloomfn.might_contain(blob, None)


# ------------------------------------------------------------- batching


def _counting_analysis(monkeypatch):
    calls = {"n": 0}
    orig = index_mod.analyze_files

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(index_mod, "analyze_files", counting)
    return calls


def _canon(idx):
    """Index rows keyed by file basename; arrays as sorted tuples."""

    def val(v):
        if isinstance(v, list):
            return tuple(sorted(map(repr, v)))
        if isinstance(v, bytearray):
            return bytes(v)
        return repr(v)

    df = idx.table.read()
    cols = sorted(c for c in df.columns if c != "filename" and not c.startswith("_ariadne"))
    return {
        os.path.basename(r["filename"]): tuple(val(r[c]) for c in cols)
        for r in df.collect()
    }


def test_footer_batching_skips_analysis_and_matches_hll_path(
    spark, storage, orders_files, monkeypatch
):
    df, files = orders_files
    calls = _counting_analysis(monkeypatch)

    def make(name):
        idx = Index.for_name(name, schema=df.schema, format="parquet", spark=spark)
        idx.add_index("o_custkey")
        idx.add_computed_index("o_year", "year(o_orderdate)")
        idx.add_bloom_index("o_orderpriority", fpr=1e-3)
        idx.add_range_index("o_orderkey")
        return idx.add_files(files)

    foot = make("o_foot")
    sc = spark.sparkContext
    sc.setJobGroup("footer-rule", "footer rule")
    try:
        fits = batching.fits_one_batch(spark, foot.meta, files, foot.meta.indexes, 500_000)
    finally:
        sc.setJobGroup("other", "other")
    assert fits
    assert list(sc.statusTracker().getJobIdsForGroup("footer-rule")) == []

    foot.update()
    assert calls["n"] == 0
    monkeypatch.setattr(index_mod, "fits_one_batch", lambda *a, **kw: False)
    hll = make("o_hll").update()
    assert calls["n"] == 1
    assert _canon(foot) == _canon(hll)
    assert len(_canon(foot)) == len(files)


def _assert_analyzed(monkeypatch, idx):
    # the footer rule belongs to the Spark build: keep plain-column
    # indexes off the driver build
    monkeypatch.setattr(buildmod, "DRIVER_BUILD_MAX_BYTES", -1)
    calls = _counting_analysis(monkeypatch)
    idx.update()
    assert calls["n"] == 1
    assert idx.unindexed_files() == []


def test_footer_batching_falls_back_for_exploded(spark, storage, tagged_files, monkeypatch):
    df, files = tagged_files
    idx = Index.for_name("tags_fb", schema=df.schema, format="parquet", spark=spark)
    idx.add_exploded_index("tags", as_column="tag_key", field="k")
    _assert_analyzed(monkeypatch, idx.add_files(files))


def test_footer_batching_falls_back_for_array_expression_bloom(
    spark, storage, orders_files, monkeypatch
):
    # an array of no fixed length: its element count has no footer bound
    df, files = orders_files
    idx = Index.for_name("o_arr_fb", schema=df.schema, format="parquet", spark=spark)
    idx.add_bloom_index(
        "okpair", fpr=1e-6, expression="array_distinct(array(o_orderkey, o_custkey))"
    )
    _assert_analyzed(monkeypatch, idx.add_files(files))


def test_footer_batching_covers_fixed_length_array_bloom(
    spark, storage, orders_files, monkeypatch
):
    """A fixed-length ``array(...)`` bloom adds at most its length in
    distinct elements per row, so footer rows x length bounds the batch:
    no analysis scan, and the same rows as the HLL path."""
    df, files = orders_files
    calls = _counting_analysis(monkeypatch)

    def make(name):
        idx = Index.for_name(name, schema=df.schema, format="parquet", spark=spark)
        idx.add_bloom_index("okpair", fpr=1e-6, expression="array(o_orderkey, o_custkey)")
        return idx.add_files(files)

    foot = make("o_arr_foot").update()
    assert calls["n"] == 0
    monkeypatch.setattr(index_mod, "fits_one_batch", lambda *a, **kw: False)
    hll = make("o_arr_hll").update()
    assert calls["n"] == 1
    assert _canon(foot) == _canon(hll)


def test_footer_batching_falls_back_over_budget(spark, storage, orders_files, monkeypatch):
    df, files = orders_files
    total = sum(pq.read_metadata(f).num_rows for f in files)
    spark.conf.set("spark.ariadne.largeIndexLimit", str(total - 1))
    try:
        idx = Index.for_name("o_big_fb", schema=df.schema, format="parquet", spark=spark)
        idx.add_index("o_custkey")
        _assert_analyzed(monkeypatch, idx.add_files(files))
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")


def test_footer_batching_falls_back_for_csv(spark, storage, orders_files, monkeypatch, tmp_path):
    df, _ = orders_files
    small = df.select("o_orderkey", "o_custkey").limit(40)
    paths = []
    for i in range(2):
        out = str(tmp_path / f"csv{i}")
        small.where(F.col("o_orderkey") % 2 == i).coalesce(1).write.csv(out)
        paths += [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".csv")]
    idx = Index.for_name("o_csv_fb", schema=small.schema, format="csv", spark=spark)
    idx.add_index("o_custkey")
    _assert_analyzed(monkeypatch, idx.add_files(paths))


# ------------------------------------------------------- temporal build


def _old_temporal_plan(spark, meta, files):
    """The former temporal-only plan: distinct filenames full-outer
    joined to each temporal frame, then the file-size left join."""
    base = read_base(spark, files, meta.format, meta.schema, meta.read_options)
    base = apply_virtual_columns(with_filename(base, files), meta.indexes)
    agg = base.select(FILENAME_COL).distinct()
    for cfg in meta.indexes:
        agg = agg.join(buildmod._temporal_frame(base, cfg), FILENAME_COL, "full_outer")
    return buildmod._with_file_sizes(
        spark, [normalize_path(f) for f in files], agg.withColumnRenamed(FILENAME_COL, "filename")
    )


def _rows(df):
    def val(v):
        return tuple(sorted(map(repr, v))) if isinstance(v, list) else v

    return sorted(tuple(val(x) for x in r) for r in df.collect())


@pytest.mark.parametrize("second", [False, True])
def test_temporal_only_build_matches_old_plan(spark, storage, tmp_path, second):
    rows = [
        (1, 10, datetime.datetime(2024, 1, 1, 0, 0, i)) for i in range(3)
    ] + [(2, 20, datetime.datetime(2024, 1, 2)), (None, 21, None)]
    schema = "user_id long, item long, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    files = []
    for name, part in (
        ("a", df.where("user_id = 1")),
        ("b", df.where("user_id = 2 OR user_id IS NULL")),
        ("nulls", df.where("user_id IS NULL")),
        ("empty", df.where("false")),
    ):
        out = str(tmp_path / name)
        part.coalesce(1).write.parquet(out)
        files += [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
    idx = Index.for_name(f"ev_tonly_{int(second)}", schema=df.schema, format="parquet", spark=spark)
    idx.add_temporal_index("user_id", "ts")
    if second:
        idx.add_temporal_index("item", "ts")
    new = buildmod.build_index_rows(spark, idx.meta, files)
    old = _old_temporal_plan(spark, idx.meta, files)
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)
    assert len(_rows(new)) == len(files)
