"""The driver-side index build against the Spark build.

Plain-column indexes over local parquet build on the driver with
pyarrow (``operators.build.plan_driver_build``); everything else builds
through Spark. These tests pin that both builders write the same live
index rows and schemas for every plain type, spill included, and that
each reason to decline sends the batch through Spark with the same
locate answers.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

import ariadne_spark.index as index_mod
from ariadne_spark import Index
from ariadne_spark.operators import build as buildmod

NAN = float("nan")

SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField(
            "arr",
            T.ArrayType(
                T.StructType([T.StructField("x", T.LongType()), T.StructField("y", T.StringType())])
            ),
        ),
        T.StructField("la", T.ArrayType(T.LongType())),
    ]
)
PLAIN = ["i", "l", "d", "s", "b", "dt", "dec", "ts", "ntz"]


def _row(k: int) -> tuple:
    return (
        k % 5,
        k * 10 if k % 3 else None,
        [NAN, -0.0, 0.0, 1.5, None][k % 5],
        f"s{k % 7}" if k % 4 else None,
        bytes([k % 3]) if k % 2 else None,
        datetime.date(2020, 1, 1) + datetime.timedelta(days=k % 9),
        decimal.Decimal(k) / 4 if k % 5 else None,
        # crosses a daylight-saving change in the session time zone
        datetime.datetime(2020, 3, 8, 1, 30) + datetime.timedelta(hours=k),
        datetime.datetime(2021, 1, 1) + datetime.timedelta(minutes=k) if k % 6 else None,
        [{"x": k % 4, "y": f"y{k % 3}"}, {"x": None, "y": None}, None] if k % 3 else None,
        [k, k + 1, None] if k % 2 else [],
    )


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """Spark-written files (INT96 instants, NTZ micros) under a non-UTC
    session time zone: four data files, an all-null file, an empty file
    and a file without two columns."""
    root = tmp_path_factory.mktemp("driver_build")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:

        def write(name, rows, drop=()):
            df = spark.createDataFrame(rows, SCHEMA).drop(*drop)
            df.coalesce(1).write.parquet(str(root / name))

        for f in range(4):
            write(f"f{f}", [_row(20 * f + k) for k in range(20)])
        write("nulls", [(None,) * len(SCHEMA.fields)] * 3)
        write("empty", [])
        write("missing", [_row(k) for k in range(5)], drop=("s", "ts"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    files = sorted(str(p) for p in root.glob("*/*.parquet"))
    assert pq.read_metadata(files[0]).schema.column(7).physical_type == "INT96"
    return files


def _configure(idx: Index, kind: str) -> Index:
    if kind == "regular":
        for c in PLAIN:
            idx.add_index(c)
        idx.add_exploded_index("la", "la_v")
        idx.add_exploded_index("arr", "arr_x", field="x")
    elif kind == "range":
        for c in PLAIN:
            idx.add_range_index(c)
    elif kind == "bloom":
        for c in PLAIN:
            idx.add_bloom_index(c, fpr=0.01)
    else:
        for c in ["i", "l", "d", "s", "b", "dt", "dec"]:
            idx.add_temporal_index(c, "ts")
        idx.add_temporal_index("ntz", "ntz")
    return idx


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"driver-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("other", "other")
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _canon(v):
    """Order-free, NaN-proof value form: arrays as sorted sets."""
    if isinstance(v, list):
        return tuple(sorted({_canon(x) for x in v}, key=repr))
    if isinstance(v, float) and v != v:
        return "nan"
    if isinstance(v, T.Row):
        return tuple((k, _canon(x)) for k, x in v.asDict().items())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _live(df) -> dict:
    return {r["filename"]: {c: _canon(r[c]) for c in df.columns} for r in df.collect()}


def _stored_fields(idx: Index) -> dict:
    """Every stored field of every index segment, by name."""
    out: dict = {}
    for s in idx.table._read_manifest()["segments"]:
        for f in json.loads(s["schema"])["fields"]:
            assert out.setdefault(f["name"], f) == f
    return out


def _build(spark, storage, files, kind, driver, monkeypatch, name):
    spark.conf.set("spark.ariadne.storagePath", f"{storage}/{name}")
    monkeypatch.setattr(buildmod, "DRIVER_BUILD_MAX_BYTES", 1 << 40 if driver else -1)
    idx = _configure(Index.for_name(name, schema=SCHEMA, format="parquet", spark=spark), kind)
    idx.add_files(files)
    _, jobs = _jobs(spark, idx.update)
    return idx, jobs


@pytest.mark.parametrize("kind", ["regular", "range", "bloom", "temporal"])
def test_driver_build_matches_spark_build(spark, storage, lake, monkeypatch, kind):
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    spark.conf.set("spark.ariadne.largeIndexLimit", "6")
    try:
        mine, mine_jobs = _build(spark, storage, lake, kind, True, monkeypatch, f"drv_{kind}")
        theirs, their_jobs = _build(spark, storage, lake, kind, False, monkeypatch, f"spk_{kind}")
        assert mine_jobs == 0 and their_jobs > 0
        assert mine.table.num_segments == 1
        assert mine.index_df.schema == theirs.index_df.schema
        assert _stored_fields(mine) == _stored_fields(theirs)
        got, want = _live(mine.index_df), _live(theirs.index_df)
        assert got.keys() == want.keys() == set(lake)
        assert got == want
        spilled = 0
        for cfg in mine.meta.indexes:
            a, b = mine.large_df(cfg.column), theirs.large_df(cfg.column)
            assert (a is None) == (b is None)
            if a is not None:
                spilled += 1
                assert a.schema == b.schema
                assert sorted(map(_canon, a.collect()), key=repr) == sorted(
                    map(_canon, b.collect()), key=repr
                )
        assert spilled if kind in ("regular", "temporal") else not spilled
        assert mine.meta.total_indexed_bytes == theirs.meta.total_indexed_bytes
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.unset("spark.ariadne.largeIndexLimit")


# ------------------------------------------------------------ fallbacks


def _files_with(files, column, value) -> list[str]:
    """The files holding a row whose ``column`` equals ``value``."""
    return sorted(
        f for f in files if value in pq.read_table(f, columns=[column])[column].to_pylist()
    )


@pytest.fixture()
def spy(monkeypatch):
    """The driver-build plans ``Index.update`` makes, in order."""
    plans = []
    orig = index_mod.plan_driver_build

    def recording(*args, **kwargs):
        out = orig(*args, **kwargs)
        plans.append(out)
        return out

    monkeypatch.setattr(index_mod, "plan_driver_build", recording)
    return plans


def _assert_spark_built(spark, idx, spy, reason):
    _, jobs = _jobs(spark, idx.update)
    assert len(spy) == 1 and isinstance(spy[0], str) and reason in spy[0], spy
    assert jobs > 0 and idx.unindexed_files() == []


def test_computed_index_builds_through_spark(spark, storage, orders_files, spy):
    df, files = orders_files
    idx = Index.for_name("fb_computed", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_computed_index("o_year", "year(o_orderdate)")
    _assert_spark_built(spark, idx.add_files(files), spy, "computed index")
    key = pq.read_table(files[1], columns=["o_custkey"])["o_custkey"][0].as_py()
    assert sorted(idx.locate_files({"o_custkey": [key]})) == _files_with(files, "o_custkey", key)
    years = {
        f: {d.year for d in pq.read_table(f, columns=["o_orderdate"])["o_orderdate"].to_pylist()}
        for f in files
    }
    year = min(years[files[0]])
    assert sorted(idx.locate_files({"o_year": [year]})) == sorted(
        f for f in files if year in years[f]
    )


def test_expression_bloom_builds_through_spark(spark, storage, orders_files, spy):
    df, files = orders_files
    idx = Index.for_name("fb_expr", schema=df.schema, format="parquet", spark=spark)
    idx.add_bloom_index("o_key2", fpr=1e-6, expression="o_orderkey * 2")
    _assert_spark_built(spark, idx.add_files(files), spy, "expression bloom")
    key = pq.read_table(files[2], columns=["o_orderkey"])["o_orderkey"][3].as_py()
    assert idx.locate_files({"o_key2": [key * 2]}) == [files[2]]


def test_csv_builds_through_spark(spark, storage, orders_files, spy, tmp_path):
    df, files = orders_files
    paths = []
    for i, f in enumerate(files):
        out = str(tmp_path / f"part{i}")
        spark.read.parquet(f).select("o_orderkey", "o_custkey").coalesce(1).write.csv(out, header=True)
        paths += [os.path.join(out, p) for p in os.listdir(out) if p.endswith(".csv")]
    schema = "o_orderkey long, o_custkey long"
    idx = Index.for_name("fb_csv", schema=T._parse_datatype_string(schema), format="csv", spark=spark)
    idx.meta.read_options = {"header": "true"}
    idx.add_index("o_custkey")
    _assert_spark_built(spark, idx.add_files(paths), spy, "not parquet")
    key = pq.read_table(files[0], columns=["o_custkey"])["o_custkey"][0].as_py()
    want = [paths[i] for i, f in enumerate(files) if f in _files_with(files, "o_custkey", key)]
    assert sorted(idx.locate_files({"o_custkey": [key]})) == sorted(want)


def _pair(spark, df, files, name, spy, monkeypatch, reason, bound=None):
    """The same index built on the driver first, then declined for
    ``reason``; returns both handles."""
    drv = Index.for_name(f"{name}_drv", schema=df.schema, format="parquet", spark=spark)
    drv.add_index("o_custkey").add_range_index("o_orderkey").add_bloom_index("o_orderdate")
    drv.add_files(files).update()
    assert len(spy) == 1 and not isinstance(spy[0], str)
    spy.clear()
    if bound is not None:
        monkeypatch.setattr(buildmod, "DRIVER_BUILD_MAX_BYTES", bound)
    spk = Index.for_name(f"{name}_spk", schema=df.schema, format="parquet", spark=spark)
    spk.add_index("o_custkey").add_range_index("o_orderkey").add_bloom_index("o_orderdate")
    _assert_spark_built(spark, spk.add_files(files), spy, reason)
    return drv, spk


def _same_answers(drv, spk, files):
    key = pq.read_table(files[1], columns=["o_custkey"])["o_custkey"][0].as_py()
    day = pq.read_table(files[2], columns=["o_orderdate"])["o_orderdate"][0].as_py()
    for query in ({"o_custkey": [key]}, {"o_orderdate": [day]}):
        assert sorted(drv.locate_files(query)) == sorted(spk.locate_files(query))
    assert sorted(drv.locate_files({"o_custkey": [key]})) == _files_with(files, "o_custkey", key)


def test_over_byte_bound_builds_through_spark(spark, storage, orders_files, spy, monkeypatch):
    df, files = orders_files
    drv, spk = _pair(spark, df, files, "fb_bound", spy, monkeypatch, "DRIVER_BUILD_MAX_BYTES", bound=1)
    _same_answers(drv, spk, files)


def test_remote_store_builds_through_spark(spark, storage, orders_files, spy, monkeypatch):
    df, files = orders_files

    def make(name):
        idx = Index.for_name(name, schema=df.schema, format="parquet", spark=spark)
        return idx.add_index("o_custkey").add_range_index("o_orderkey").add_bloom_index("o_orderdate")

    drv = make("fb_remote_drv").add_files(files).update()
    assert len(spy) == 1 and not isinstance(spy[0], str)
    spy.clear()
    spark.conf.set("spark.ariadne.forceHadoopFS", "true")
    try:
        spk = make("fb_remote_spk")
        _assert_spark_built(spark, spk.add_files(files), spy, "not a local filesystem")
        _same_answers(drv, spk, files)
    finally:
        spark.conf.unset("spark.ariadne.forceHadoopFS")


def test_uncastable_column_builds_through_spark(spark, storage, orders_files, spy, monkeypatch, tmp_path):
    """A column Spark reads under a wider type than the driver build
    reads (an int as a decimal) declines the batch."""
    df, files = orders_files
    narrow = []
    for i, f in enumerate(files):
        t = pq.read_table(f, columns=["o_orderkey", "o_custkey", "o_orderdate"])
        t = t.set_column(1, "o_custkey", t["o_custkey"].cast(pa.int32()))
        narrow.append(str(tmp_path / f"narrow{i}.parquet"))
        pq.write_table(t, narrow[-1])
    wide = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.DecimalType(12, 0)),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    idx = Index.for_name("fb_cast", schema=wide, format="parquet", spark=spark)
    idx.add_index("o_custkey")
    _assert_spark_built(spark, idx.add_files(narrow), spy, "does not read as")
    key = pq.read_table(files[1], columns=["o_custkey"])["o_custkey"][0].as_py()
    want = [narrow[i] for i, f in enumerate(files) if f in _files_with(files, "o_custkey", key)]
    assert sorted(idx.locate_files({"o_custkey": [decimal.Decimal(key)]})) == sorted(want)


def test_failed_cast_while_reading_builds_through_spark(spark, storage, orders_files, monkeypatch):
    """A value that fails its cast mid-build commits nothing and the
    batch builds through Spark."""
    df, files = orders_files

    def fail(*args, **kwargs):
        raise buildmod.DriverBuildDeclined("injected cast failure")

    monkeypatch.setattr(buildmod, "_source_columns", fail)
    idx = Index.for_name("fb_readcast", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey").add_files(files)
    _, jobs = _jobs(spark, idx.update)
    assert jobs > 0 and idx.unindexed_files() == []
    key = pq.read_table(files[3], columns=["o_custkey"])["o_custkey"][0].as_py()
    assert sorted(idx.locate_files({"o_custkey": [key]})) == _files_with(files, "o_custkey", key)


def test_driver_build_reads_plain_widenings(spark, storage, spy, monkeypatch, tmp_path):
    """int32 read as long, float as double, naive micros as TIMESTAMP:
    the driver build reads them as Spark does."""
    paths = []
    for i in range(2):
        t = pa.table(
            {
                "k": pa.array([i, i + 10, None], pa.int32()),
                "f": pa.array([0.5 + i, None, 2.5], pa.float32()),
                "t": pa.array([datetime.datetime(2020, 1, 1 + i), None, None], pa.timestamp("us")),
            }
        )
        paths.append(str(tmp_path / f"w{i}.parquet"))
        pq.write_table(t, paths[-1])
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("f", T.DoubleType()),
            T.StructField("t", T.TimestampType()),
        ]
    )

    def make(name):
        idx = Index.for_name(name, schema=schema, format="parquet", spark=spark)
        idx.add_index("k").add_range_index("f").add_bloom_index("t")
        return idx.add_files(paths)

    mine, jobs = _jobs(spark, make("widen_drv").update)
    assert jobs == 0 and not isinstance(spy[0], str)
    monkeypatch.setattr(buildmod, "DRIVER_BUILD_MAX_BYTES", -1)
    theirs = make("widen_spk").update()
    assert mine.index_df.schema == theirs.index_df.schema
    assert _live(mine.index_df) == _live(theirs.index_df)
    assert sorted(mine.locate_files({"k": [10]})) == [paths[0]]
