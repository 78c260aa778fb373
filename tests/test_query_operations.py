"""Query-operation behaviors ported from the reference's
IndexQueryOperationsTests.scala, IndexMetadataTests.scala:384-397,
and ConsolidatedLargeIndexTests.scala — locate precision across index
types, stats shape on empty/computed/large indexes, metadata
validation, and incremental large-index merging."""

from __future__ import annotations

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from ariadne_spark.exceptions import InvalidMetadataError
from ariadne_spark.index import Index
from ariadne_spark.storage.metadata import IndexMetadata

from .conftest import WORK


@pytest.fixture()
def mixed_files(spark):
    """Three json-like parquet files with array-of-struct users, a
    priority column, and an event id (reference
    IndexQueryOperationsTests.scala:251-276 mixed schema)."""
    out = f"{WORK}/queryops-{uuid.uuid4().hex[:8]}"
    rows = [
        ("evt1", 1, [(100, "admin")]),
        ("evt2", 2, [(101, "user")]),
        ("evt3", 3, [(100, "admin"), (102, "ops")]),
        ("evt4", 4, [(103, "user")]),
        ("evt5", 1, [(104, "user")]),
        ("evt6", 3, [(100, "admin")]),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id string, priority int, "
        "users array<struct<id: long, role: string>>",
    )
    for i in range(3):
        df.where(F.crc32(F.col("event_id")) % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/p{i}")
    files = sorted(glob.glob(f"{out}/p*/*.parquet"))
    yield df, files
    import shutil

    shutil.rmtree(out, ignore_errors=True)


def _index(spark, storage, df, files, name=None):
    idx = Index.for_name(
        name or f"qo_{uuid.uuid4().hex[:8]}",
        schema=df.schema,
        format="parquet",
        spark=spark,
    )
    idx.add_files(files)
    return idx


@pytest.mark.slow
def test_mixed_locate_across_three_index_types(spark, storage, mixed_files):
    """reference: IndexQueryOperationsTests.scala:252-305 — regular +
    computed + exploded indexes queried singly and AND-combined."""
    df, files = mixed_files
    idx = _index(spark, storage, df, files)
    idx.add_index("event_id")
    idx.add_computed_index(
        "priority_level",
        "case when priority > 2 then 'high' else 'low' end",
    )
    idx.add_exploded_index("users", "user_id", field="id")
    idx.update()

    ev = set(idx.locate_files({"event_id": ["evt1", "evt2"]}))
    # precision: exactly the files that contain either value
    truth = {
        r[0]
        for r in spark.read.parquet(*[os.path.dirname(f) for f in files])
        .withColumn("__f", F.input_file_name())
        .where(F.col("event_id").isin("evt1", "evt2"))
        .select("__f")
        .collect()
    }
    assert {os.path.basename(p) for p in ev} == {
        os.path.basename(t) for t in truth
    }

    pr = idx.locate_files({"priority_level": ["high"]})
    assert pr
    us = idx.locate_files({"user_id": [100]})
    assert us
    both = set(idx.locate_files({"event_id": ["evt1"], "user_id": [100]}))
    assert both and both <= set(ev) | set(us)


def test_locate_nonexistent_value_empty(spark, storage, mixed_files):
    """reference: IndexQueryOperationsTests.scala:59-70."""
    df, files = mixed_files
    idx = _index(spark, storage, df, files)
    idx.add_index("event_id")
    idx.update()
    assert idx.locate_files({"event_id": ["no_such"]}) == []


def test_stats_empty_index_zero_rows(spark, storage, mixed_files):
    """reference: IndexQueryOperationsTests.scala:151-157 — stats on a
    never-updated index is an empty frame with the stable schema."""
    df, _files = mixed_files
    idx = Index.for_name(
        f"qo_empty_{uuid.uuid4().hex[:8]}",
        schema=df.schema,
        format="parquet",
        spark=spark,
    )
    idx.add_index("event_id")
    st = idx.stats()
    assert st.count() == 0
    assert "column" in st.columns and "files" in st.columns


@pytest.mark.slow
def test_stats_includes_computed_and_counts_files(
    spark, storage, mixed_files
):
    """reference: IndexQueryOperationsTests.scala:121-172."""
    df, files = mixed_files
    idx = _index(spark, storage, df, files)
    idx.add_index("event_id")
    idx.add_computed_index("priority_level", "priority * 2")
    idx.update()
    st = idx.stats()
    names = {r["column"] for r in st.collect()}
    assert {"event_id", "priority_level"} <= names
    fc = {r["column"]: r["files"] for r in st.collect()}
    assert fc["event_id"] == len(files)


def test_metadata_missing_required_fields_rejected():
    """reference: IndexMetadataTests.scala:384-397."""
    with pytest.raises(InvalidMetadataError):
        IndexMetadata.from_json("x", '{"schema": {}}')
    with pytest.raises(InvalidMetadataError):
        IndexMetadata.from_json("x", '{"format": "parquet"}')
    with pytest.raises(InvalidMetadataError):
        IndexMetadata.from_json("x", "not json {")


@pytest.mark.slow
def test_large_index_incremental_merge(spark, storage):
    """reference: ConsolidatedLargeIndexTests.scala:91-165 — a column
    over largeIndexLimit spills to the large table; a second update
    batch merges instead of clobbering, and locate sees both batches."""
    out = f"{WORK}/qo_large-{uuid.uuid4().hex[:8]}"
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    for i in range(4):
        df.where(F.col("k") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/p{i}")
    files = sorted(glob.glob(f"{out}/p*/*.parquet"))

    spark.conf.set("spark.ariadne.largeIndexLimit", "10")
    try:
        idx = Index.for_name(
            f"qo_large_{uuid.uuid4().hex[:8]}",
            schema=df.schema,
            format="parquet",
            spark=spark,
        )
        idx.add_index("k")
        idx.add_files(files[:2])
        idx.update()
        first = set(idx.locate_files({"k": [0, 1, 2, 3]}))
        assert first  # batch-1 files found via the large path
        assert idx.large_df("k") is not None

        idx.add_files(files[2:])
        idx.update()
        both = set(idx.locate_files({"k": [0, 1, 2, 3]}))
        # values 0..3 live in every file (k % 4 partitioning puts k=0
        # in p0, 1 in p1, ...): each value maps to exactly one file
        assert both == set(files)
        # batch-1 entries survived the second update
        assert first <= both
    finally:
        spark.conf.unset("spark.ariadne.largeIndexLimit")

    import shutil

    shutil.rmtree(out, ignore_errors=True)


def test_locate_stats_recorded_for_all_paths(spark, storage, mixed_files):
    """Every queried column leaves a per-column stats record (type,
    source kind, skip state) — observability parity with the
    reference's prune metrics (IndexQueryOperations A7)."""
    df, files = mixed_files
    idx = _index(spark, storage, df, files)
    idx.add_index("event_id")
    idx.add_computed_index("plevel", "priority * 10")
    idx.update()
    idx.locate_files({"event_id": ["evt1"], "plevel": [10, 30]})
    st = idx._last_locate_stats.per_column
    assert st["event_id"] == {
        "type": "regular",
        "skipped": False,
        "source": "values",
        "n_values": 1,
        "planner": "local",
    }
    assert st["plevel"]["n_values"] == 2
    # DataFrame source records source=frame without executing extra jobs
    frame = df.select("event_id").limit(2)
    idx.locate_files(frame, columns=["event_id"])
    st2 = idx._last_locate_stats.per_column
    assert st2["event_id"]["source"] == "frame"
    assert "n_values" not in st2["event_id"]


def test_combined_computed_and_exploded_on_one_index(
    spark, storage, mixed_files
):
    """reference: IndexFileOperationsTests.scala:151-216 — a computed
    CASE expression and an exploded struct field coexist on one index;
    both locate AND their candidate sets intersect."""
    df, files = mixed_files
    idx = _index(spark, storage, df, files, "combined_ce")
    idx.add_computed_index(
        "priority_level", "case when priority > 2 then 'high' else 'low' end"
    )
    idx.add_exploded_index("users", as_column="user_id", field="id")
    idx.update()

    high = idx.locate_files({"priority_level": ["high"]})
    assert high
    by_user = idx.locate_files({"user_id": [100]})
    assert by_user
    both = idx.locate_files({"priority_level": ["high"], "user_id": [100]})
    assert set(both) <= set(high) & set(by_user)
    # value-exact reads: every returned row satisfies BOTH predicates
    res = idx.read_matching({"priority_level": ["high"], "user_id": [100]})
    rows = res.select("event_id", "priority_level", "user_id").collect()
    assert rows and all(
        r["priority_level"] == "high" and r["user_id"] == 100 for r in rows
    )
    want = {
        r["event_id"]
        for r in df.select(
            "event_id",
            F.expr("case when priority > 2 then 'high' else 'low' end").alias("pl"),
            F.explode(F.transform("users", lambda u: u["id"])).alias("uid"),
        )
        .where((F.col("pl") == "high") & (F.col("uid") == 100))
        .collect()
    }
    assert {r["event_id"] for r in rows} == want


def test_bloom_saturation_hint_logged(spark, storage, caplog):
    """A bloom probed with enough keys that fpr x keys >= 1 passes
    every file; when pruning comes out weak the metrics must say WHY
    (index-type advice), never leave it as a silent mystery."""
    import logging

    from ariadne_spark import Index

    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    files = []
    for i in range(4):
        part = df.where((F.col("k") >= i * 1000) & (F.col("k") < (i + 1) * 1000))
        out = f"{storage}/satsrc/p{i}"
        part.coalesce(1).write.mode("overwrite").parquet(out)
        import glob as _g

        files += _g.glob(f"{out}/*.parquet")
    idx = Index.for_name(
        "bloom_sat", schema=df.schema, format="parquet", spark=spark
    )
    idx.add_bloom_index("k", fpr=0.01)
    idx.add_files(files).update()
    keys = spark.range(0, 4000, 2).select(F.col("id").alias("k"))  # 2000 keys
    with caplog.at_level(logging.INFO, logger="ariadne"):
        idx.join(keys, on=["k"]).count()
    assert any(
        "false-positive pass rate" in r.message for r in caplog.records
    ), "saturated bloom probe with weak pruning must emit the hint"


def test_locate_memo_hits_and_invalidates(spark, storage, orders_files):
    """Literal-dict locates memoize per handle keyed on the manifest
    fingerprint (the JVM rule's AriadneState.locateCache twin): a
    repeated query pays the locate job once per index version, and an
    index update invalidates — the new file must appear."""
    import glob as _glob

    from ariadne_spark import Index

    df, files = orders_files
    idx = Index.for_name(
        "loc_memo", schema=df.schema, format="parquet", spark=spark
    )
    idx.add_index("o_custkey").add_files(files[:-1]).update()
    q = {"o_custkey": [1, 2, 3]}
    first = idx.locate_files(q)
    assert len(idx._locate_memo) == 1
    again = idx.locate_files(q)
    assert again == first
    # a DataFrame-keyed locate is never cached
    keys = spark.createDataFrame([(1,), (2,)], ["o_custkey"])
    idx.locate_files(keys, columns=["o_custkey"])
    assert len(idx._locate_memo) == 1
    # update invalidates: the held-out file joins the candidate set
    idx.add_files([files[-1]]).update()
    after = idx.locate_files(q)
    assert set(first) <= set(after)
    assert len(after) > 0
    expected = set(
        Index.for_name("loc_memo", spark=spark).locate_files(q)
    )
    assert set(after) == expected
