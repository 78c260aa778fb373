"""ParquetTable / FileList / lock / metadata / path validation tests
(reference categories: FileListTests, IndexLockTests,
IndexMetadataOperationsTests, IndexPathUtilsTests)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from ariadne_spark.exceptions import InvalidIndexNameError, LockAcquisitionError
from ariadne_spark.storage.filelist import FileList
from ariadne_spark.storage.lock import IndexLock
from ariadne_spark.storage.metadata import (
    IndexConfig,
    IndexMetadata,
    load_metadata,
    save_metadata,
)
from ariadne_spark.storage.paths import IndexPaths, validate_index_name
from ariadne_spark.storage.table import ParquetTable

from .conftest import rows_set


def test_table_append_and_upsert(spark, storage):
    t = ParquetTable(spark, f"{storage}/t1", key_cols=("k",))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    assert rows_set(t.read()) == {(1, "a"), (2, "B"), (3, "c")}
    assert t.num_segments == 2
    t.compact()
    assert t.num_segments == 1
    assert rows_set(t.read()) == {(1, "a"), (2, "B"), (3, "c")}


def test_table_replace_all_rows_per_key(spark, storage):
    """Group-keyed replacement: a new segment's rows for key k replace
    ALL older rows of k (large-index semantics)."""
    t = ParquetTable(spark, f"{storage}/t2", key_cols=("k",))
    t.append(spark.createDataFrame([(1, 10), (1, 11), (2, 20)], ["k", "v"]))
    t.append(spark.createDataFrame([(1, 12)], ["k", "v"]))
    assert rows_set(t.read()) == {(1, 12), (2, 20)}


def test_table_first_wins_dedup(spark, storage):
    t = ParquetTable(spark, f"{storage}/t3", key_cols=("k",), dedup="first")
    t.append(spark.createDataFrame([(1, "orig")], ["k", "v"]))
    t.append(spark.createDataFrame([(1, "dupe"), (2, "new")], ["k", "v"]))
    assert rows_set(t.read()) == {(1, "orig"), (2, "new")}


def test_table_schema_evolution(spark, storage):
    t = ParquetTable(spark, f"{storage}/t4", key_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "b", 9)], ["k", "v", "extra"]))
    rows = rows_set(t.read())
    assert rows == {(1, "a", None), (2, "b", 9)}


def test_table_segment_unique_dedup_paths(spark, storage):
    """segment_unique tables resolve replace-per-key via max_by/min_by
    partial agg (r08 verdict #5): same answers as the general path for
    single-row-per-key segments, for both dedup orders, including a
    column added mid-history (null-filled in older segments)."""
    t = ParquetTable(
        spark, f"{storage}/tsu", key_cols=("k",), segment_unique=True
    )
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "B", 9), (3, "c", 7)], ["k", "v", "x"]))
    t.append(spark.createDataFrame([(3, "C")], ["k", "v"]))
    assert rows_set(t.read()) == {(1, "a", None), (2, "B", 9), (3, "C", None)}

    f = ParquetTable(
        spark,
        f"{storage}/tsuf",
        key_cols=("k",),
        dedup="first",
        segment_unique=True,
    )
    f.append(spark.createDataFrame([(1, "orig")], ["k", "v"]))
    f.append(spark.createDataFrame([(1, "dupe"), (2, "new")], ["k", "v"]))
    assert rows_set(f.read()) == {(1, "orig"), (2, "new")}


def test_table_multisegment_read_has_no_window_node(spark, storage):
    """r08 verdict #5 plan assertion: an uncompacted 3-segment read
    plans WITHOUT a Window node on either dedup path — segment_unique
    tables as a single partial-agg groupBy, multi-row-per-key tables
    as a broadcast winners semi-join (the wide side is never
    shuffled)."""
    su = ParquetTable(
        spark, f"{storage}/tplan_u", key_cols=("k",), segment_unique=True
    )
    multi = ParquetTable(spark, f"{storage}/tplan_m", key_cols=("k",))
    for t in (su, multi):
        t.append(spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]))
        t.append(spark.createDataFrame([(2, 21), (3, 30)], ["k", "v"]))
        t.append(spark.createDataFrame([(3, 31)], ["k", "v"]))
        assert t.num_segments == 3
        plan = t.read()._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
    uplan = su.read()._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in uplan or "SortAggregate" in uplan, uplan
    mplan = multi.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in mplan and "LeftSemi" in mplan, mplan
    assert rows_set(su.read()) == rows_set(multi.read()) == {
        (1, 10), (2, 21), (3, 31)
    }


def test_winner_broadcast_gated_by_table_bytes(spark, storage):
    """r10 (ADVICE): the winner-set broadcast on multi-row-per-key
    reads is FORCED only while the table's on-disk bytes stay under
    spark.ariadne.winnerBroadcastMaxBytes; above the threshold the
    hint is dropped (AQE may still broadcast at runtime from the
    agg's actual size) and the answers are identical — a huge
    uncompacted exploded table degrades to a shuffle join instead of
    a driver OOM."""
    t = ParquetTable(spark, f"{storage}/tgate", key_cols=("k",))
    t.append(spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]))
    t.append(spark.createDataFrame([(2, 21), (3, 30)], ["k", "v"]))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = t.read()
        fplan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in fplan, fplan
        spark.conf.set("spark.ariadne.winnerBroadcastMaxBytes", "0")
        gated = t.read()
        gplan = gated._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in gplan, gplan
        assert rows_set(gated) == rows_set(forced) == {
            (1, 10), (2, 21), (3, 30)
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.ariadne.winnerBroadcastMaxBytes")


def test_segment_unique_append_debug_invariant(spark, storage):
    """r10 (ADVICE): with spark.ariadne.debugInvariants=true an append
    violating the segment_unique promise (two rows, one key) fails
    loudly instead of silently dropping a row at read time; off by
    default, the append is accepted unchecked."""
    spark.conf.set("spark.ariadne.debugInvariants", "true")
    try:
        t = ParquetTable(
            spark, f"{storage}/tinv", key_cols=("k",), segment_unique=True
        )
        t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
        with pytest.raises(ValueError, match="segment_unique"):
            t.append(
                spark.createDataFrame([(3, "x"), (3, "y")], ["k", "v"])
            )
        spark.conf.set("spark.ariadne.debugInvariants", "false")
        t2 = ParquetTable(
            spark, f"{storage}/tinv2", key_cols=("k",), segment_unique=True
        )
        t2.append(spark.createDataFrame([(3, "x"), (3, "y")], ["k", "v"]))
    finally:
        spark.conf.unset("spark.ariadne.debugInvariants")


def test_table_keys_only_segment_unique(spark, storage):
    """A keys-only segment_unique table degenerates to distinct."""
    t = ParquetTable(
        spark, f"{storage}/tko", key_cols=("k",), segment_unique=True
    )
    t.append(spark.createDataFrame([(1,), (2,)], ["k"]))
    t.append(spark.createDataFrame([(2,), (3,)], ["k"]))
    assert rows_set(t.read()) == {(1,), (2,), (3,)}


def test_table_delete_where_and_vacuum(spark, storage):
    t = ParquetTable(spark, f"{storage}/t5", key_cols=("k",))
    t.append(spark.createDataFrame([(i, i * 2) for i in range(10)], ["k", "v"]))
    t.delete_where(F.col("k") >= 5)
    assert rows_set(t.read()) == {(i, i * 2) for i in range(5)}
    t.vacuum(keep_manifests=1)
    assert rows_set(t.read()) == {(i, i * 2) for i in range(5)}
    data_dirs = os.listdir(os.path.join(t.path, "data"))
    assert len(data_dirs) == 1  # unreferenced segments removed


def test_filelist_dedup_keeps_original(spark, storage):
    fl = FileList(spark, f"{storage}/fl")
    fl.add(["/a", "/b"])
    fl.add(["/b", "/c"])
    assert sorted(r[0] for r in fl.files.collect()) == ["/a", "/b", "/c"]
    fl.remove(["/a"])
    assert set(fl.filenames()) == {"/b", "/c"}
    assert fl.contains("/c") and not fl.contains("/a")


def test_lock_mutual_exclusion(storage):
    a = IndexLock(f"{storage}/locks", max_wait=0.5, retry_interval=0.1)
    b = IndexLock(f"{storage}/locks", max_wait=0.5, retry_interval=0.1)
    a.acquire()
    with pytest.raises(LockAcquisitionError):
        b.acquire()
    a.release()
    b.acquire()
    b.release()


def test_lock_stale_heal(storage):
    a = IndexLock(f"{storage}/locks", timeout=0.2, max_wait=5, retry_interval=0.1)
    a.acquire()
    time.sleep(0.3)  # let the holder go stale
    b = IndexLock(f"{storage}/locks", timeout=0.2, max_wait=5, retry_interval=0.1)
    b.acquire()  # heals the stale lock instead of waiting forever
    b.release()


def test_lock_refresh_keeps_alive(storage):
    a = IndexLock(f"{storage}/locks", timeout=0.4, max_wait=0.3, retry_interval=0.1)
    a.acquire()
    stop = threading.Event()

    def beat():
        while not stop.is_set():
            a.refresh()
            time.sleep(0.1)

    t = threading.Thread(target=beat, daemon=True)
    t.start()
    time.sleep(0.6)
    b = IndexLock(f"{storage}/locks", timeout=0.4, max_wait=0.3, retry_interval=0.1)
    with pytest.raises(LockAcquisitionError):
        b.acquire()  # refreshed lock is not stale
    stop.set()
    t.join()
    a.release()


def test_metadata_roundtrip(storage):
    meta = IndexMetadata(
        name="m1",
        format="parquet",
        schema_json=json.dumps(
            {"type": "struct", "fields": [
                {"name": "a", "type": "long", "nullable": True, "metadata": {}}]}
        ),
        indexes=[
            IndexConfig("regular", "a"),
            IndexConfig("bloom", "b", fpr=0.05),
            IndexConfig("temporal", "c", timestamp_column="meta.updatedAt"),
        ],
        read_options={"header": "true"},
    )
    path = f"{storage}/meta/metadata.json"
    save_metadata(path, meta)
    back = load_metadata(path, "m1")
    assert back.format == "parquet"
    assert [c.to_dict() for c in back.indexes] == [c.to_dict() for c in meta.indexes]
    assert back.read_options == {"header": "true"}
    assert back.config_for("b").fpr == 0.05
    assert back.config_for("b").stored_column == "bloom_b"


def test_index_name_validation():
    validate_index_name("good_name-1.x")
    for bad in ["../etc", "a/b", "", ".hidden", "a" * 300]:
        with pytest.raises(InvalidIndexNameError):
            validate_index_name(bad)
    with pytest.raises(InvalidIndexNameError):
        IndexPaths("/tmp/s", "../oops")


def test_table_time_travel(spark, storage):
    """read(version=N) reconstructs any committed state; versions()
    lists them; unknown versions raise with the available range."""
    t = ParquetTable(spark, f"{storage}/tt", key_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))
    t.append(spark.createDataFrame([(1, "a2")], ["k", "v"]))  # upsert k=1
    assert t.versions() == [1, 2, 3]
    v1 = {tuple(r) for r in t.read(version=1).collect()}
    v2 = {tuple(r) for r in t.read(version=2).collect()}
    v3 = {tuple(r) for r in t.read().collect()}
    assert v1 == {(1, "a")}
    assert v2 == {(1, "a"), (2, "b")}
    assert v3 == {(1, "a2"), (2, "b")}
    with pytest.raises(ValueError):
        t.read(version=99)


def test_time_travel_survives_compact_until_vacuum(spark, storage):
    """compact() folds segments into a new version; PRIOR versions stay
    readable until vacuum reclaims their segments."""
    t = ParquetTable(spark, f"{storage}/ttc", key_cols=("k",))
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], ["k", "v"]))
    pre = t.versions()[-1]
    t.compact()
    assert t.versions()[-1] > pre
    # historical read pre-compaction still works (segments intact)
    assert {r["k"] for r in t.read(version=2).collect()} == {0, 1}
    t.vacuum()
    # latest still intact after vacuum
    assert {r["k"] for r in t.read().collect()} == {0, 1, 2, 3}


def test_table_restore_rolls_back_as_new_version(spark, storage):
    """restore(N) commits a NEW manifest reusing version N's segments:
    read() returns the old state, history keeps growing (the rollback
    is itself a version), appends after a restore continue from the
    restored state, and unknown versions raise."""
    t = ParquetTable(spark, f"{storage}/tr", key_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "bad")], ["k", "v"]))
    t.append(spark.createDataFrame([(1, "worse")], ["k", "v"]))
    assert rows_set(t.read()) == {(1, "worse"), (2, "bad")}
    t.restore(1)
    assert t.versions() == [1, 2, 3, 4]  # rollback is version 4
    assert rows_set(t.read()) == {(1, "a")}
    # the in-between states stay readable (segments untouched)
    assert rows_set(t.read(version=3)) == {(1, "worse"), (2, "bad")}
    # life goes on from the restored state
    t.append(spark.createDataFrame([(3, "c")], ["k", "v"]))
    assert rows_set(t.read()) == {(1, "a"), (3, "c")}
    import pytest as _pt

    with _pt.raises(ValueError):
        t.restore(99)


# --------------------------------------------- non-atomic store warning

from ariadne_spark.storage.fs import PosixFS


class _RacyFS(PosixFS):
    """Fake S3-style store: create_exclusive works but is
    check-then-write, and the facade says so."""

    def supports_atomic_create(self, path):
        return False


def test_lock_warns_loudly_on_non_atomic_store(tmp_path, caplog):
    import logging

    from ariadne_spark.storage import lock as lock_mod

    lock_mod._WARNED_NON_ATOMIC.clear()
    with caplog.at_level(logging.WARNING, logger="ariadne"):
        lk = IndexLock(str(tmp_path / "locks"), "racy", fs=_RacyFS())
        lk.acquire()
        lk.release()
    assert any(
        "WITHOUT atomic create-exclusive" in r.message for r in caplog.records
    ), "racy store must never be silently advisory"
    # once per path: a second acquire does not flood
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="ariadne"):
        lk = IndexLock(str(tmp_path / "locks"), "racy", fs=_RacyFS())
        lk.acquire()
        lk.release()
    assert not any(
        "WITHOUT atomic" in r.message for r in caplog.records
    )


def test_lock_quiet_on_atomic_store(tmp_path, caplog):
    import logging

    with caplog.at_level(logging.WARNING, logger="ariadne"):
        lk = IndexLock(str(tmp_path / "locks"), "safe")
        lk.acquire()
        lk.release()
    assert not any("WITHOUT atomic" in r.message for r in caplog.records)


def test_hadoop_fs_local_scheme_is_atomic(spark, tmp_path):
    """forceHadoopFS routes local paths through the py4j backend; the
    file scheme is in the atomic-rename set, so no warning fires and
    create_exclusive still refuses an existing path."""
    from ariadne_spark.storage.fs import HadoopFS

    fs = HadoopFS(spark, f"file://{tmp_path}")
    p = f"file://{tmp_path}/claim.json"
    assert fs.supports_atomic_create(p)
    assert fs.create_exclusive(p, "{}")
    assert not fs.create_exclusive(p, "{}")


def test_hadoop_fs_conditional_create_branch(spark, tmp_path, monkeypatch):
    """Object stores with conditional-create support take the direct
    create(overwrite=false) path instead of temp+rename. Fake the
    probe over the local Hadoop FS: the branch must claim once, then
    refuse (FileAlreadyExists surfaces as False, not an exception)."""
    from ariadne_spark.storage.fs import HadoopFS

    fs = HadoopFS(spark, f"file://{tmp_path}")
    monkeypatch.setattr(HadoopFS, "_scheme", lambda self: "s3a")
    monkeypatch.setattr(
        HadoopFS, "_has_conditional_create", lambda self, p: True
    )
    p = f"file://{tmp_path}/cond/claim.json"
    assert fs.supports_atomic_create(p)
    assert fs.create_exclusive(p, '{"v": 1}')
    assert fs.read_text(p) == '{"v": 1}'
    assert not fs.create_exclusive(p, '{"v": 2}')
    assert fs.read_text(p) == '{"v": 1}'  # loser never clobbers


def test_signature_store_compact(spark, tmp_path):
    """Batch-per-append store folds to few files; newest signature
    wins for re-crawled ids; incremental results are unchanged."""
    from pyspark.sql import functions as F

    from ariadne_spark.operators.dedup import (
        minhash_signatures_fast,
        signature_store_compact,
        signature_store_write,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text padding") for i in range(30)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "sigstore")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        signature_store_write(
            minhash_signatures_fast(batch, "text", "doc_id"), store
        )
    # re-crawl doc 5 with DIFFERENT text: its new signature must win
    # even within the same mtime second — the explicit __seq batch
    # stamp is the supersede key, not filesystem mtime (r04 ADVICE:
    # coarse mtime granularity could tie and keep a stale signature)
    recrawl = spark.createDataFrame(
        [(5, "completely different recrawled content here")],
        "doc_id long, text string",
    )
    new_sig = minhash_signatures_fast(recrawl, "text", "doc_id")
    expected_h0 = new_sig.collect()[0]["h0"]
    signature_store_write(new_sig, store)

    import glob

    before = len(glob.glob(f"{store}/*.parquet"))
    n = signature_store_compact(spark, store, rows_per_file=1000)
    after = len(glob.glob(f"{store}/*.parquet"))
    assert n == 30  # 31 rows, doc 5's old signature discarded
    assert after < before and after == 1
    kept = spark.read.parquet(store)
    assert kept.count() == 30
    assert kept.where("__id = 5").collect()[0]["h0"] == expected_h0


def test_signature_store_crashed_swap_detected(spark, tmp_path):
    """A compact that crashed between rename-aside and rename-in
    leaves the history at store.__old and nothing at the store path.
    Both compact and the incremental read must refuse loudly — a
    silent 'first batch' would re-admit every historical near-dup
    (r04 ADVICE medium)."""
    import shutil

    from ariadne_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signatures_fast,
        signature_store_compact,
        signature_store_write,
    )

    docs = spark.createDataFrame(
        [(i, f"some document body {i}") for i in range(5)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "crashstore")
    signature_store_write(minhash_signatures_fast(docs, "text", "doc_id"), store)
    # simulate the crash window: history renamed aside, store gone
    shutil.move(store, store + ".__old")
    with pytest.raises(OSError, match="mid-swap"):
        incremental_near_dup(docs, store, update_store=False)
    with pytest.raises(OSError, match="mid-swap"):
        signature_store_compact(spark, store)
    # recovery: rename back, both paths work again
    shutil.move(store + ".__old", store)
    assert signature_store_compact(spark, store) == 5


def test_metadata_future_versions_refused(tmp_path):
    """A metadata document written by a NEWER engine is refused, never
    silently half-read (reference: UnsupportedMetadataVersionException
    family)."""
    import json as _json

    from ariadne_spark.exceptions import (
        UnsupportedMetadataVersionError,
        UnsupportedStorageFormatVersionError,
    )
    from ariadne_spark.storage.metadata import IndexMetadata

    base = {
        "format": "parquet",
        "schema": {"type": "struct", "fields": []},
    }
    IndexMetadata.from_json("x", _json.dumps(base))  # current: fine
    with pytest.raises(UnsupportedMetadataVersionError, match="upgrade"):
        IndexMetadata.from_json(
            "x", _json.dumps({**base, "metadata_version": 99})
        )
    with pytest.raises(UnsupportedStorageFormatVersionError, match="upgrade"):
        IndexMetadata.from_json(
            "x", _json.dumps({**base, "storage_format_version": 99})
        )
    # the guard runs BEFORE required-field validation: a newer engine
    # that renamed format/schema must still surface the upgrade signal,
    # not a confusing missing-field error (r04 ADVICE)
    with pytest.raises(UnsupportedMetadataVersionError, match="upgrade"):
        IndexMetadata.from_json(
            "x",
            _json.dumps(
                {"metadata_version": 99, "layout": "parquet-v2"}
            ),
        )
    # a non-integer version scheme ("2.1") is a newer engine too —
    # wrapped in the same upgrade signal, never a bare ValueError
    with pytest.raises(UnsupportedMetadataVersionError, match="upgrade"):
        IndexMetadata.from_json(
            "x", _json.dumps({**base, "metadata_version": "2.1"})
        )


def test_parquet_table_manifest_extra_versions_with_commit(spark, tmp_path):
    """manifest_extra versions atomically with the data: each commit's
    extra replaces the previous one (no carry-over), a commit without
    extra clears it, and a fresh table reports {} — the contract the
    streaming sinks' replay guards rely on."""
    from pyspark.sql import functions as F

    from ariadne_spark.storage.table import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "mx"))
    assert t.manifest_extra() == {}
    df = spark.range(3).select(F.col("id"))
    t.overwrite(df, extra={"last_batch": 0, "note": "a"})
    assert t.manifest_extra() == {"last_batch": 0, "note": "a"}
    t.overwrite(df, extra={"last_batch": 1})
    assert t.manifest_extra() == {"last_batch": 1}
    # a plain commit does not inherit stale metadata
    t.overwrite(df)
    assert t.manifest_extra() == {}
    # time travel: restore() commits NEW state; extra stays whatever
    # the restoring commit wrote (none here)
    t.restore(t.versions()[0])
    assert t.manifest_extra() == {}
    assert t.read().count() == 3


def test_table_column_pruned_read(spark, storage):
    """r10: read(columns=...) returns the same per-key winners as the
    full read restricted to those columns, on every dedup path, and
    the pruned plan's parquet scan reads only keys + requested columns
    (the full multi-segment plan packs every column into the max_by
    struct, defeating parquet column pruning)."""
    su = ParquetTable(
        spark, f"{storage}/tprune_u", key_cols=("k",), segment_unique=True
    )
    multi = ParquetTable(spark, f"{storage}/tprune_m", key_cols=("k",))
    for t in (su, multi):
        t.append(
            spark.createDataFrame(
                [(1, 10, "x"), (2, 20, "y")], ["k", "v", "w"]
            )
        )
        t.append(
            spark.createDataFrame(
                [(2, 21, "Y"), (3, 30, "z")], ["k", "v", "w"]
            )
        )
        full = {(r["k"], r["v"]) for r in t.read().select("k", "v").collect()}
        pruned = t.read(columns=["k", "v"])
        assert pruned.columns == ["k", "v"]
        assert {tuple(r) for r in pruned.collect()} == full
        # value-only projection (no key in the output)
        vals = sorted(r[0] for r in t.read(columns=["v"]).collect())
        assert vals == sorted(v for _, v in full)
        plan = (
            t.read(columns=["v"])._jdf.queryExecution().executedPlan().toString()
        )
        assert "w#" not in plan, plan  # unrequested column never scanned
    # keys-only segment_unique projection
    assert sorted(
        r[0] for r in su.read(columns=["k"]).collect()
    ) == [1, 2, 3]
    # single-segment fast path honors columns too
    su.compact()
    assert su.read(columns=["v"]).columns == ["v"]


def test_segment_schema_in_manifest_and_inference_fallback(spark, storage):
    """r11: append/overwrite store the writer's schema per segment so
    reads run with an explicit schema (no per-segment footer
    schema-inference job per read — the cost that GREW with table
    history on every micro-batch path). Pin: (a) the manifest carries
    the schema and the read round-trips exactly, including timestamp
    and array types; (b) a pre-r11 manifest (schema keys stripped)
    still reads identically via the inference fallback."""
    import datetime
    import glob as _glob
    import json as _json

    t = ParquetTable(spark, f"{storage}/tschema", key_cols=("k",))
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), [1.5, 2.5], "a")],
        "k long, ts timestamp, vec array<double>, s string",
    )
    t.append(df)
    t.append(
        spark.createDataFrame(
            [(2, datetime.datetime(2024, 2, 2), [3.5], None)],
            "k long, ts timestamp, vec array<double>, s string",
        )
    )
    m = t._read_manifest()
    assert all(s.get("schema") for s in m["segments"])
    with_schema = t.read()
    assert with_schema.schema == df.schema
    rows = sorted(map(tuple, with_schema.collect()))
    # strip the stored schemas -> the pre-r11 manifest shape
    for mf in _glob.glob(f"{storage}/tschema/_manifest/v*.json"):
        doc = _json.loads(open(mf).read())
        for s in doc.get("segments", []):
            s.pop("schema", None)
        open(mf, "w").write(_json.dumps(doc))
    t2 = ParquetTable(spark, f"{storage}/tschema", key_cols=("k",))
    assert sorted(map(tuple, t2.read().collect())) == rows


def _append_during_commit(monkeypatch, t, foreign):
    """Run ``foreign()`` once, between ``t.compact``'s manifest read and
    its commit."""
    orig = t._commit
    calls = {"n": 0}

    def commit(build, *args, **kwargs):
        if not calls["n"]:
            foreign()
        calls["n"] += 1
        return orig(build, *args, **kwargs)

    monkeypatch.setattr(t, "_commit", commit)


@pytest.mark.parametrize("site", ["local", "spark"])
@pytest.mark.parametrize("dedup", ["last", "first"])
def test_compact_keeps_segment_appended_during_fold(spark, storage, monkeypatch, site, dedup):
    path = f"{storage}/race-{site}-{dedup}"
    t = ParquetTable(spark, path, key_cols=("k",), dedup=dedup)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]))
    if site == "spark":
        monkeypatch.setattr(t, "_local_compact_bound", lambda: -1)
    other = ParquetTable(spark, path, key_cols=("k",), dedup=dedup)
    late = spark.createDataFrame([(3, "late"), (4, "d")], ["k", "v"])
    _append_during_commit(monkeypatch, t, lambda: other.append(late))
    folded, committed = t.compact()
    assert (folded, committed) == (2, 4)
    assert t.num_segments == 2
    want = {(1, "a"), (2, "B"), (3, "late"), (4, "d")}
    if dedup == "first":
        want = {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert rows_set(t.read()) == want
    # a later append still takes precedence over both
    t.append(spark.createDataFrame([(1, "z")], ["k", "v"]))
    assert ((1, "z") in rows_set(t.read())) == (dedup == "last")


def test_compact_abandons_fold_stale_by_concurrent_rewrite(spark, storage, monkeypatch):
    path = f"{storage}/race-rewrite"
    t = ParquetTable(spark, path, key_cols=("k",))
    t.append(spark.createDataFrame([(1, "a")], ["k", "v"]))
    t.append(spark.createDataFrame([(2, "b")], ["k", "v"]))
    other = ParquetTable(spark, path, key_cols=("k",))
    _append_during_commit(monkeypatch, t, lambda: other.delete_where(F.col("k") == 1))
    assert t.compact() is None
    assert rows_set(t.read()) == {(2, "b")}


def test_index_compact_takes_update_lock(spark, storage, orders_files, monkeypatch):
    from ariadne_spark import Index

    df, files = orders_files
    idx = Index.for_name("compact_lock", schema=df.schema, format="parquet", spark=spark)
    idx.add_index("o_custkey")
    for f in files:
        idx.add_files([f]).update()
    held = []
    orig = IndexLock.acquire

    def acquire(self):
        held.append(self)
        return orig(self)

    monkeypatch.setattr(IndexLock, "acquire", acquire)
    idx.compact()
    assert len(held) == 1
    assert idx.table.num_segments == idx.filelist.table.num_segments == 1
    # a synced handle stays synced across its own compaction
    assert idx._synced_fingerprint == idx._tables_fingerprint()
