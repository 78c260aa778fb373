"""Structured Streaming integration.

The reference is batch-only (``BATCH_READ`` is its sole table
capability — reference: catalog/AriadneTable.scala:64-68; SURVEY §2.9
marks streaming as an optional extension). This module supplies the
streaming surface a lake-index engine needs in production:

* ``attach_index_maintenance`` — keep an index up to date from a
  streaming source via ``foreachBatch``: each micro-batch's new files
  are registered and indexed (the pattern SURVEY §2.9 prescribes:
  ``index.add_files(...); index.update()``).
* ``index_file_sink`` — same, driven by a stream of file paths.
* ``streaming_latest_version`` — the temporal index's latest-version
  semantics as a stateful streaming operator
  (``applyInPandasWithState``): emits, per key, the row with the
  greatest timestamp seen so far.
* ``streaming_exact_dedup`` — watermarked ``dropDuplicates`` for
  exactly-once-ish event dedup with bounded state.
* ``attach_near_dup_maintenance`` / ``attach_substring_dedup_maintenance``
  — continuous-crawl dedup sinks over the persisted signature /
  window-count stores (state on disk, restart-safe).
"""

from __future__ import annotations

import glob
import logging
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

log = logging.getLogger("ariadne")


def attach_index_maintenance(
    stream_df: DataFrame,
    index_name: str,
    path_glob: str,
    checkpoint: str,
    trigger: dict | None = None,
):
    """Start a query that, per micro-batch, registers any new files
    matching ``path_glob`` with the index and updates it. The stream
    itself is only the clock; file discovery is glob-based so the
    index converges even if batches are empty."""
    from ..index import Index

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        idx = Index.for_name(index_name, spark=batch_df.sparkSession)
        files = sorted(glob.glob(path_glob))
        if files:
            idx.add_files(files)
        idx.update()
        log.info("index %s maintained at batch %d (%d files)", index_name, batch_id, len(files))

    writer = stream_df.writeStream.foreachBatch(do_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def index_file_sink(
    paths_stream: DataFrame,
    index_name: str,
    checkpoint: str,
    path_col: str = "path",
    trigger: dict | None = None,
):
    """Maintain an index from a stream whose rows carry file paths."""
    from ..index import Index

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        paths = [r[0] for r in batch_df.select(path_col).distinct().collect()]
        if not paths:
            return
        idx = Index.for_name(index_name, spark=batch_df.sparkSession)
        idx.add_files(paths).update()
        log.info("index %s: batch %d added %d files", index_name, batch_id, len(paths))

    writer = paths_stream.writeStream.foreachBatch(do_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def streaming_latest_version(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Stateful latest-version-per-key: for every input batch, emit
    the current winner row (greatest ``ts_col``; first-seen wins
    ties) for each updated key. State per key is one row — bounded by
    key cardinality, not stream length. Output mode: update."""
    fields = stream_df.schema.fields
    out_schema = T.StructType(fields)
    state_schema = T.StructType(fields)
    names = [f.name for f in fields]
    ts_i = names.index(ts_col)

    def fn(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        best = list(state.get) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized per-batch winner: idxmax returns the FIRST
            # occurrence of the max (first-seen wins ties, matching
            # the row-at-a-time semantics this replaces) and skips
            # nulls; an all-null batch can only seed an empty state
            ts = pdf.iloc[:, ts_i]
            if ts.notna().any():
                cand = list(pdf.loc[ts.idxmax()])
            else:
                cand = list(pdf.iloc[0])
            b_ts = None if best is None else best[ts_i]
            if best is None or (
                not pd.isna(cand[ts_i]) and (pd.isna(b_ts) or cand[ts_i] > b_ts)
            ):
                best = cand
        if best is not None:
            state.update(tuple(best))
            yield pd.DataFrame([best], columns=names)

    return stream_df.groupBy(F.col(key_col)).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    keys: list[str],
    event_time_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked exact dedup: duplicates within the watermark window
    are dropped; state is bounded by the watermark horizon."""
    return stream_df.withWatermark(event_time_col, watermark).dropDuplicates(
        keys + [event_time_col]
    )


def streaming_windowed_agg(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    keys: list[str],
    aggs: list,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the canonical
    Structured Streaming shape (readStream → withWatermark →
    window groupBy → agg). Late rows beyond ``watermark`` are
    dropped and their window state is reclaimed, so state size is
    bounded by (windows inside the watermark horizon) × |keys|,
    independent of stream length.

    Pair with ``outputMode("append")`` for exactly-once sink rows
    (windows emit once finalized) or ``"complete"`` to re-emit the
    whole running table each trigger (right for small dashboards and
    for deterministic availableNow backfills, where append mode would
    hold back windows the final watermark never passes).

    Returns (window struct, *keys, *aggs); callers typically project
    ``window.start``.
    """
    ts = F.col(ts_col).cast("timestamp")
    return (
        stream_df.withColumn("__evt", ts)
        .withWatermark("__evt", watermark)
        .groupBy(F.window(F.col("__evt"), window_duration).alias("window"), *keys)
        .agg(*aggs)
    )


def attach_near_dup_maintenance(
    stream_df: DataFrame,
    store_path: str,
    flags_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    trigger: dict | None = None,
    signature_index_name: str | None = None,
):
    """Continuous-crawl near-dup as a streaming sink: every micro-batch
    of documents is checked against the persisted minhash signature
    store (directed new-vs-all band join — never old×old), flagged
    pairs are appended to ``flags_path`` as parquet, and the batch's
    signatures join the store for the next batch.

    foreachBatch gives exactly-once-per-batch semantics against the
    store the same way the reference's staging pipeline relies on
    idempotent batch commits; state lives entirely in the store
    (restart-safe, no in-memory signature state).

    Pass ``signature_index_name`` to maintain a bloom file-index over
    the signature store keyed by the derived LSH band keys
    (:func:`~ariadne_spark.operators.dedup.signature_store_index`) so
    each batch's history read touches only store files whose bloom may
    contain a batch band key — the same engine-over-pipeline-store
    pattern as ``ledger_index_name`` on the URL dedup sink. The index
    refresh scans only files appended since the previous batch (J1
    left_anti); this batch's own append is picked up by the NEXT
    refresh and, until then, read unconditionally (lagging index =
    wider scan, never a lost collision)."""
    from ..operators.dedup import (
        _snapshot_files,
        incremental_near_dup,
        signature_store_index,
    )

    idx_cache: dict = {}

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        store_index = None
        if signature_index_name:
            # fs-abstracted listing (os.path would silently disable the
            # index on hdfs:/s3a: stores); the listing is reused by the
            # index refresh, so the first-batch case costs one probe
            sfiles = _snapshot_files(spark, store_path, "signature")
            if sfiles:
                store_index = signature_store_index(
                    spark, store_path, signature_index_name,
                    files=sfiles, handle=idx_cache.get("idx"),
                )
                idx_cache["idx"] = store_index
        pairs = incremental_near_dup(
            batch_df,
            store_path,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            update_store=True,
            store_index=store_index,
        )
        (
            pairs.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(flags_path)
        )
        log.info(
            "near-dup maintenance: batch %d flagged %d pairs",
            batch_id, pairs.count(),
        )

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def attach_substring_dedup_maintenance(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    trigger: dict | None = None,
):
    """Continuous-crawl exact substring dedup as a streaming sink:
    every micro-batch of documents is cleaned against the persisted
    window-count store (history text never rescanned), cleaned rows
    append to ``out_path`` as parquet, and the batch's window counts
    join the store for the next batch.

    Same foreachBatch/idempotent-store posture as
    :func:`attach_near_dup_maintenance`: all state lives in the store
    (restart-safe, no in-memory window state), and each batch costs
    O(batch + digest-colliding history)."""
    from ..operators.dedup import incremental_substring_dedup

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        cleaned = incremental_substring_dedup(
            batch_df,
            store_path,
            k=k,
            text_col=text_col,
            id_col=id_col,
            min_count=min_count,
            update_store=True,
        )
        (
            cleaned.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )
        log.info(
            "substring-dedup maintenance: batch %d cleaned %d docs",
            batch_id, cleaned.count(),
        )

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def attach_quality_gate(
    stream_df: DataFrame,
    out_path: str,
    rejects_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger: dict | None = None,
    **gopher_thresholds,
):
    """Streaming corpus-cleaning front gate: every micro-batch runs
    the Gopher composite quality rules
    (:func:`ariadne_spark.operators.text.gopher_filter_columns`);
    keepers append to ``out_path``, rejects — WITH their
    violated-rule audit trail — to ``rejects_path`` when given.

    Stateless by construction (the rules are per-row integer
    comparisons), so there is no watermark, no state store, and a
    restart simply reprocesses from the checkpoint offset — the same
    idempotent-append posture as the other maintenance sinks. At lake
    scale this is the shape of the first pass over a crawl firehose:
    the gate runs at scan speed inside the batch's whole-stage
    codegen, and only keepers reach the expensive dedup stages
    downstream (compose with :func:`attach_near_dup_maintenance` /
    :func:`attach_substring_dedup_maintenance` reading ``out_path``)."""
    from ..operators.text import gopher_filter_columns

    cols = gopher_filter_columns(text_col, **gopher_thresholds)

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        judged = batch_df.withColumns(
            {name: c for name, c in cols.items()}
        ).withColumn("batch_id", F.lit(batch_id))
        judged.where(F.col("keep")).drop(
            "failed_rules", "keep"
        ).write.mode("append").parquet(out_path)
        if rejects_path:
            judged.where(~F.col("keep")).write.mode("append").parquet(
                rejects_path
            )

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _quota_batch_survivors(
    domained: DataFrame,
    used: DataFrame,
    n_per_domain: int,
    id_col: str,
) -> DataFrame:
    """One micro-batch's quota survivors against a ``(domain, used)``
    budget table. Ranks within (batch, domain) by the deterministic
    md5 rule and pre-filters on the LITERAL bound before the budget
    join: since ``used >= 0``, ``__rk <= n`` is a correct superset of
    the final budget predicate, and the literal bound lets Catalyst
    run the window as WindowGroupLimit (map-side per-domain top-n — a
    hot domain never sorts its whole batch partition in one task,
    same plan shape as the batch operator ``quota_sample``;
    plan-asserted in tests)."""
    ranked = (
        domained.withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("domain").orderBy(
                    F.md5(F.col(id_col).cast("string")), F.col(id_col)
                )
            ),
        )
        .where(F.col("__rk") <= F.lit(n_per_domain))
        .join(F.broadcast(used), "domain", "left")
    )
    return ranked.where(
        F.col("__rk") + F.coalesce(F.col("used"), F.lit(0))
        <= F.lit(n_per_domain)
    ).drop("__rk", "used")


def attach_domain_quota_maintenance(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    n_per_domain: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    trigger: dict | None = None,
    checkpoint_location: str | None = None,
):
    """Continuous-crawl per-domain quota as a streaming sink: across
    ALL micro-batches, at most ``n_per_domain`` documents per
    registerable domain (:func:`~ariadne_spark.operators.corpus.
    registrable_domain`) survive — the anti-monoculture cap applied
    at ingest time instead of as a batch pass. Within a batch each
    domain's remaining budget is filled by the smallest-md5(id) rows
    (quota_sample's deterministic rule); the persisted store holds
    one ``(domain, used)`` row per domain. NULL-domain rows are
    dropped (same contract as the batch operator).

    Crash consistency mirrors :func:`attach_drift_maintenance`: the
    ``(domain, used)`` store is the engine's own
    :class:`~ariadne_spark.storage.table.ParquetTable` (atomic
    create-exclusive manifest commits — no delete-then-rename window
    where budget state can vanish), and the ledger carries the batch
    id that committed it, so foreachBatch REPLAY of a committed batch
    is skipped entirely instead of double-counting ``used`` (which
    would permanently under-admit those domains). Write ordering is
    survivors-first, ledger-last: a ledger committed at batch N
    implies batch N's survivors already landed, so the replay skip
    never loses rows; a crash between the two re-emits the batch's
    survivors on restart (at-least-once output, exactly-once budget).
    The replay guard keys on the micro-batch id, which is only
    monotone across restarts when the query keeps a STABLE checkpoint
    — pass ``checkpoint_location`` for any run that may restart (a
    fresh implicit checkpoint restarts ids at 0 and the guard would
    then skip genuinely new batches). Read the store with
    ``ParquetTable(spark, store_path).read()``; it stays
    domains-cardinality-sized — one row per DOMAIN, not per doc."""
    from ..operators.corpus import registrable_domain
    from ..storage.table import ParquetTable

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        ledger = ParquetTable(spark, store_path)
        cur = ledger.read()
        # replay guard from the manifest's extra metadata — one tiny
        # JSON read, no Spark job (the guard versions atomically with
        # the ledger commit). Fallback: scan the last_batch column for
        # ledgers written before the manifest carried it.
        applied = ledger.manifest_extra().get("last_batch")
        if applied is None and cur is not None and "last_batch" in cur.columns:
            applied = cur.agg(F.max("last_batch")).first()[0]
        if applied is not None and applied >= batch_id:
            # replayed committed batch: survivors-first ordering means
            # the output already landed, and folding the counts again
            # would double-spend every domain's budget — skip
            if not checkpoint_location:
                # without a stable checkpoint the guard can only
                # distinguish "replay of the same input set" (safe to
                # skip) from "NEW stream over a grown input set"
                # (skipping loses data) by trusting the caller — be
                # loud about which contract is in force
                log.warning(
                    "domain quota maintenance: batch %d skipped by the "
                    "replay guard WITHOUT a stable checkpoint — this is "
                    "only correct when re-running the same input set; "
                    "pass checkpoint_location (or clear the store) if "
                    "this stream carries new data", batch_id,
                )
            log.info("domain quota maintenance: batch %d replay skipped", batch_id)
            return
        domained = batch_df.withColumn(
            "domain", registrable_domain(url_col)
        ).where(F.col("domain").isNotNull())
        if cur is not None:
            used = cur.select("domain", "used")
        elif glob.glob(f"{store_path}/*.parquet"):
            # one-time migration import: an r07-format store is plain
            # parquet at the root (no manifest) — fold its budgets into
            # the first ParquetTable commit instead of silently
            # re-admitting every exhausted domain
            used = spark.read.parquet(store_path).select("domain", "used")
            log.info(
                "domain quota maintenance: importing pre-manifest "
                "budget store at %s", store_path,
            )
        else:
            used = spark.createDataFrame([], "domain string, used bigint")
        # cache the survivors: both the sink write and the ledger
        # aggregation read them, and an unpersisted plan would re-run
        # the window + broadcast join per action (measured 2×)
        kept = _quota_batch_survivors(
            domained, used, n_per_domain, id_col
        ).cache()
        kept.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)
        # domain is non-null by construction on both sides, so a plain
        # name join is null-safe here (unlike the drift ledger's group
        # keys); the fold stays a pure JVM plan end to end — a collect
        # + createDataFrame round-trip would put a Python-RDD source
        # under the write, costing a fresh Python worker per batch
        # (measured ~3.7 s per tiny write vs 0.2 s for the JVM plan)
        new_used = (
            kept.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("__add"))
            .join(used, "domain", "full")
            .select(
                "domain",
                (
                    F.coalesce(F.col("__add"), F.lit(0))
                    + F.coalesce(F.col("used"), F.lit(0))
                ).cast("bigint").alias("used"),
            )
        )
        # coalesce(1): the ledger is domains-cardinality-sized; one
        # file per version beats 32 shuffle-partition shards per batch
        ledger.overwrite(
            new_used.coalesce(1).withColumn("last_batch", F.lit(batch_id)),
            extra={"last_batch": batch_id},
        )
        kept.unpersist()
        log.info("domain quota maintenance: batch %d done", batch_id)

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def attach_drift_maintenance(
    stream_df: DataFrame,
    ref_counts_path: str,
    store_path: str,
    out_path: str,
    group_cols: list[str] | None = None,
    trigger: dict | None = None,
    checkpoint_location: str | None = None,
):
    """Streaming snapshot-drift monitor: per micro-batch, fold the
    batch's per-key doc counts into a cumulative count ledger, then
    overwrite ``out_path`` with the current
    :func:`~ariadne_spark.operators.corpus.drift_from_counts` table
    against a persisted reference histogram (``ref_counts_path``:
    ``group_cols…, n_docs`` — write it once from the reference
    snapshot with a groupBy-count). The alerting table a crawl
    pipeline watches while ingesting.

    Counts are ADDITIVE, so unlike the quota/dedup sinks the final
    table is independent of micro-batch order and count — the
    cumulative ledger equals the batch operator's counts over the
    whole stream by construction (which is what makes the gate row
    fully oracle-checkable with no batch-confinement trick).

    Crash consistency: BOTH tables are the engine's own
    :class:`~ariadne_spark.storage.table.ParquetTable` (atomic
    create-exclusive manifest commits — no delete-then-rename window
    where state can vanish), and the ledger carries the batch id that
    produced it, so foreachBatch REPLAY of a committed batch (crash
    after the ledger commit, before the drift-table commit) skips the
    additive fold instead of double-counting and only re-derives the
    output — exactly-once ledger semantics on at-least-once batch
    delivery. The guard keys on the micro-batch id, which is only
    monotone across restarts when the query keeps a STABLE checkpoint:
    pass ``checkpoint_location`` for any run that may restart (a fresh
    implicit checkpoint restarts ids at 0, and the guard would then
    skip genuinely new batches whose ids fall at or under the ledger's
    ``last_batch``). Both tables are group-cardinality-sized — one row
    per key, never per document. Read them with ``ParquetTable(...,
    path).read()``."""
    from ..storage.table import ParquetTable

    cols = list(group_cols or ["source", "lang"])
    # per-query closure cache: the reference histogram is immutable for
    # the stream's lifetime — re-planning the parquet read (schema
    # inference + listing) every micro-batch is pure overhead
    ref_cache: dict = {}

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        from ..operators.corpus import drift_from_counts

        ledger = ParquetTable(spark, store_path)
        out = ParquetTable(spark, out_path)
        cur = ledger.read()
        # replay guard from the manifest's extra metadata — one tiny
        # JSON read, no Spark job (it versions atomically with the
        # ledger commit). Fallback: scan the last_batch column for
        # ledgers written before the manifest carried it.
        applied = ledger.manifest_extra().get("last_batch")
        if applied is None and cur is not None and "last_batch" in cur.columns:
            applied = cur.agg(F.max("last_batch")).first()[0]
        if applied is not None and applied >= batch_id:
            # replayed batch: the additive fold already committed —
            # folding again would double-count every key in the batch
            if not checkpoint_location:
                log.warning(
                    "drift maintenance: batch %d fold skipped by the "
                    "replay guard WITHOUT a stable checkpoint — only "
                    "correct when re-running the same input set; pass "
                    "checkpoint_location (or clear the store) if this "
                    "stream carries new data", batch_id,
                )
            counts = cur.select(*cols, "n_docs")
        else:
            add = batch_df.groupBy(*[F.col(c) for c in cols]).agg(
                F.count(F.lit(1)).cast("bigint").alias("__add")
            )
            if cur is not None:
                # NULL-SAFE fold: a NULL-keyed group (e.g. lang
                # unknown) is a real bucket that drift_from_counts
                # matches to itself with eqNullSafe — a plain
                # name-based join would never match it here, appending
                # a duplicate ledger row per batch that the downstream
                # null-safe full_outer then fans the reference row
                # across. Rename-prefix both sides (same pattern as
                # drift_from_counts) so the condition is unambiguous.
                a = add.select(
                    *[F.col(c).alias(f"__a_{c}") for c in cols], "__add"
                )
                b = cur.select(
                    *[F.col(c).alias(f"__b_{c}") for c in cols], "n_docs"
                )
                cond = None
                for c in cols:
                    eq = a[f"__a_{c}"].eqNullSafe(b[f"__b_{c}"])
                    cond = eq if cond is None else (cond & eq)
                counts = a.join(b, cond, "full").select(
                    *[
                        F.coalesce(a[f"__a_{c}"], b[f"__b_{c}"]).alias(c)
                        for c in cols
                    ],
                    (
                        F.coalesce(F.col("__add"), F.lit(0))
                        + F.coalesce(F.col("n_docs"), F.lit(0))
                    ).cast("bigint").alias("n_docs"),
                )
            else:
                counts = add.select(*cols, F.col("__add").alias("n_docs"))
            # coalesce(1): group-cardinality table — one file per
            # version beats 32 shuffle-partition shards per batch
            ledger.overwrite(
                counts.coalesce(1).withColumn("last_batch", F.lit(batch_id)),
                extra={"last_batch": batch_id},
            )
        # derive the drift table from the COMMITTED ledger version —
        # ledger.read() pins the just-committed segment dirs eagerly,
        # so the small written segment is scanned once instead of
        # re-running the fold plan
        ref = ref_cache.get("ref")
        if ref is None:
            ref = spark.read.parquet(ref_counts_path)
            ref_cache["ref"] = ref
        drift = drift_from_counts(
            ref, ledger.read().select(*cols, "n_docs"), cols
        )
        out.overwrite(drift.coalesce(1))
        log.info("drift maintenance: batch %d done", batch_id)

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def url_ledger_compact(
    spark, store_path: str, rows_per_file: int = 20_000_000
) -> int:
    """Fold the append-per-batch URL seen-key ledger into few large
    files, deduplicating ``url_key`` (re-crawl batches append keys the
    ledger already holds — harmless for the anti-join semantics, pure
    waste on disk). Same single-writer contract and crash-safe
    rename-aside swap as
    :func:`~ariadne_spark.operators.dedup.signature_store_compact`;
    stop the streaming query (or run inside its maintenance window)
    first, and refresh the ledger index afterwards —
    :func:`url_ledger_index` drops the replaced files from the index
    and scans only the new ones. The rewrite RANGE-clusters on
    ``url_key``: the whole point of this table is being probed
    through per-file blooms, and a hash rewrite would smear every
    key range across every file (measured: a post-hash-compaction
    probe read 4 of 4 files where the range layout reads 1).
    Returns distinct keys kept."""
    from ..operators.dedup import _compact_store

    def build():
        return spark.read.parquet(store_path).select("url_key").distinct()

    return _compact_store(
        spark, store_path, "url ledger", build, rows_per_file,
        cluster_by=["url_key"],
    )


def url_ledger_index(
    spark,
    store_path: str,
    name: str,
    fpr: float = 1e-6,
    files: list[str] | None = None,
    handle=None,
):
    """Maintain a bloom file-index over the URL seen-key ledger — the
    engine's file-level pruning applied to the crawl front end's
    largest state table (billions of url_key rows at lake scale).
    Call after appends: only files not yet indexed are scanned (the
    engine's J1 left_anti), so steady-state maintenance costs one
    pass over the NEW batch's ledger file. Pass the index name to
    :func:`attach_url_dedup_maintenance` as ``ledger_index_name`` and
    the per-batch anti-join reads only ledger files whose bloom may
    contain a batch key — O(batch + colliding history) instead of a
    full ledger scan per batch. Same pattern as
    :func:`~ariadne_spark.operators.dedup.window_store_index`, with
    one key difference: a file survives pruning if ANY batch key hits
    its bloom, so with K keys per batch the expected false-file rate
    is ~K*fpr per file — the default 1e-6 keeps that ~1% for a
    10k-URL batch, where the window store's 1e-2 (probed with a few
    dozen digests) would keep every file. Bloom size scales with
    ln(1/fpr): ~29 bits/key here vs ~10 at 1e-2 — the right trade for
    the table whose whole point is NOT being scanned. ``files`` /
    ``handle`` let a micro-batch loop skip relisting the store and
    reloading index metadata every batch."""
    from pyspark.sql import types as T

    from ..operators.dedup import _bloom_store_index

    schema = T.StructType([T.StructField("url_key", T.StringType())])
    return _bloom_store_index(
        spark, store_path, name, schema, "url_key", "url ledger", fpr,
        files=files, handle=handle,
    )


def attach_url_dedup_maintenance(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    trigger: dict | None = None,
    checkpoint_location: str | None = None,
    ledger_index_name: str | None = None,
):
    """Continuous-crawl URL dedup as a streaming sink: every
    micro-batch keeps one row (smallest id) per
    :func:`ariadne_spark.operators.corpus.normalized_url` key that
    has never been seen before — the first pass of a crawl firehose,
    upstream of content dedup. Survivors (with their ``url_key``)
    append to ``out_path``; the batch's NEW keys append to the
    ``store_path`` seen-key ledger. Rows with no parseable URL pass
    through unconditionally (a missing URL is not a duplicate of
    other missing URLs).

    State lives entirely in the key ledger (restart-safe, nothing in
    memory). Write ordering is survivors-first, ledger-last: a crash
    between the two re-emits the batch on restart (at-least-once
    output) but can never LOSE a URL, and duplicate ledger keys are
    harmless (the anti-join treats them as one). At lake scale the
    anti-join shuffles (key) against the ledger — pass
    ``ledger_index_name`` to maintain a bloom file-index over the
    ledger (:func:`url_ledger_index`) so each batch reads only ledger
    files whose bloom may contain a batch key; files the index has
    not seen yet are read unconditionally, so a lagging index widens
    the scan but can never re-admit a seen URL."""
    from ..operators.corpus import normalized_url
    from ..operators.dedup import _prune_snapshot_with_index

    # per-query closure cache: reuse the open Index handle across
    # micro-batches instead of reloading its metadata per batch
    idx_cache: dict = {}

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        sjd = batch_df.sparkSession.sparkContext.setJobDescription
        sjd(f"url-dedup b{batch_id}: batch guard")
        if not batch_df.take(1):
            sjd(None)
            return
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn("url_key", normalized_url(url_col))
        null_rows = keyed.where(F.col("url_key").isNull())
        cand = keyed.where(F.col("url_key").isNotNull())
        # within-batch survivor: smallest id per key
        firsts = cand.join(
            cand.groupBy("url_key").agg(F.min(id_col).alias(id_col)),
            ["url_key", id_col],
            "leftsemi",
        )
        files = sorted(glob.glob(f"{store_path}/*.parquet"))
        if files:
            if ledger_index_name:
                sjd(f"url-dedup b{batch_id}: ledger index refresh")
                idx = url_ledger_index(
                    spark, store_path, ledger_index_name,
                    files=files, handle=idx_cache.get("idx"),
                )
                idx_cache["idx"] = idx
                sjd(f"url-dedup b{batch_id}: bloom prune")
                files = _prune_snapshot_with_index(
                    spark,
                    files,
                    idx,
                    firsts.select("url_key").distinct(),
                    column="url_key",
                )
            if files:
                # explicit schema: the ledger is (url_key string) by
                # construction (written 10 lines below) — inferring it
                # from footers again costs a driver listing + footer
                # read per batch for a schema that never changes
                seen = spark.read.schema("url_key string").parquet(*files)
                firsts = firsts.join(seen, "url_key", "left_anti")
        # cache the survivors: both the sink write and the ledger-key
        # write read them, and an unpersisted plan would re-run the
        # batch scan + min-id semi-join + ledger anti-join per action
        # (the same 2× the quota sink measured for its `kept`)
        firsts = firsts.cache()
        out = firsts.unionByName(null_rows).withColumn(
            "batch_id", F.lit(batch_id)
        )
        sjd(f"url-dedup b{batch_id}: sink write")
        out.write.mode("append").parquet(out_path)
        sjd(f"url-dedup b{batch_id}: ledger append")
        firsts.select("url_key").write.mode("append").parquet(store_path)
        sjd(None)
        firsts.unpersist()
        log.info("url dedup maintenance: batch %d done", batch_id)

    writer = stream_df.writeStream.foreachBatch(do_batch)
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
