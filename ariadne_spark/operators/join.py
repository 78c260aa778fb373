"""Index-accelerated join orchestration helpers.

The join path (reference:
src/main/scala/dev/cjfravel/ariadne/IndexJoinOperations.scala:79-400):
validate join columns → locate candidate files from the other side's
key values → read only those files → apply temporal latest-version
deduplication → hand off to a plain Spark join of any type. The final
join itself is ordinary ``DataFrame.join`` — Catalyst/AQE pick
broadcast vs shuffle strategy.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..storage.metadata import TEMPORAL, IndexConfig

log = logging.getLogger("ariadne")


def apply_temporal_dedup(df: DataFrame, configs: list[IndexConfig]) -> DataFrame:
    """W1: keep, per temporal value column, only each key's latest row
    (timestamp desc, nulls last). All rank columns are computed against
    the ORIGINAL rows, then filtered conjunctively — the multi-temporal
    semantics pinned by the reference
    (IndexJoinOperations.scala:303-337, CHANGELOG 0.1.5/0.1.8).

    Single-config path: ``Window.partitionBy(value)`` serializes every
    row of a hot key into ONE task — faithful to the reference but a
    scale-killer on skewed keys (r05 verdict). For one temporal config
    the same result comes from a partial-aggregatable
    ``max_by(struct(*), order_key)`` groupBy: map-side combine keeps
    per-task state at one row per distinct key, so a 10⁹-row hot key
    costs the same as any other. The order key is
    ``struct(ts IS NOT NULL, ts)`` so null timestamps lose to any
    non-null one (desc_nulls_last parity) while an all-null key still
    keeps a row. Ties on the timestamp pick an arbitrary row in both
    forms (row_number over a non-total order is equally tie-arbitrary).

    Multi-config path (r10, replaces the last hot-path Window): each
    config's winner set is the SAME partial-agg ``max_by`` computed
    against the ORIGINAL rows — never against another config's
    filtered output — and the conjunction intersects the winner
    frames by null-safe full-row semi-joins. The semi-joins touch
    only the already-collapsed winner frames (≤ distinct keys per
    config), so the data itself is shuffled once per config with
    map-side combine and never sorted — a hot key costs the same as
    any other, where the window form serialized it into one task.
    Tie envelope: when two DISTINCT rows tie on a config's
    ``(key, ts)`` order, both forms pick arbitrarily (the window
    per physical row, the agg per value); conjunction outcomes for
    such ties are non-deterministic in both. Map-typed columns
    cannot be join keys, so schemas containing maps keep the window
    form."""
    applicable = [
        c
        for c in configs
        if c.type == TEMPORAL
        and c.column in df.columns
    ]
    if not applicable:
        return df

    def _winners(cfg: IndexConfig) -> DataFrame:
        ts = F.col(cfg.timestamp_column)
        order_key = F.struct(ts.isNotNull().alias("nn"), ts.alias("ts"))
        return (
            df.groupBy(F.col(cfg.column).alias("__ariadne_key"))
            .agg(F.max_by(F.struct("*"), order_key).alias("__ariadne_row"))
            .select("__ariadne_row.*")
        )

    if len(applicable) == 1:
        return _winners(applicable[0])
    if any(_contains_map(f.dataType) for f in df.schema.fields):
        return _window_temporal_dedup(df, applicable)
    cols = df.columns
    out = _winners(applicable[0])
    for j, cfg in enumerate(applicable[1:]):
        right = _winners(cfg).select(
            *[F.col(c).alias(f"__ariadne_w{j}_{c}") for c in cols]
        )
        cond = F.lit(True)
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__ariadne_w{j}_{c}"))
        out = out.join(right, cond, "left_semi")
    return out


def _contains_map(dtype) -> bool:
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def _window_temporal_dedup(
    df: DataFrame, applicable: list[IndexConfig]
) -> DataFrame:
    """The original conjunctive window form — kept only for schemas
    with map-typed columns (maps are not comparable, so the full-row
    semi-join intersection cannot engage). Rank columns are computed
    against the original rows and filtered conjunctively."""
    rank_cols = []
    out = df
    for i, cfg in enumerate(applicable):
        w = Window.partitionBy(F.col(cfg.column)).orderBy(
            F.col(cfg.timestamp_column).desc_nulls_last()
        )
        rc = f"__ariadne_rank_{i}"
        out = out.withColumn(rc, F.row_number().over(w))
        rank_cols.append(rc)
    cond = F.lit(True)
    for rc in rank_cols:
        cond = cond & (F.col(rc) == 1)
    return out.where(cond).drop(*rank_cols)


def prune_metrics_local(
    selected_sizes: dict, totals: tuple[int, int] | None, locate_stats=None
) -> dict:
    """Same metric dict/log line as ``log_prune_metrics``, computed
    driver-side from the sizes captured during the locate collect plus
    the index's cached (total_files, total_bytes) — zero extra Spark
    jobs on the query path. When a bloom probe's key volume saturates
    its false-positive rate (1-(1-fpr)^keys ~ 1, so every file passes)
    and pruning came out weak, say so — the fix is an index-type
    choice (range on clustered files), not a bug."""
    total_files, total_b = totals or (0, 0)
    sel_b = sum(v or 0 for v in selected_sizes.values())
    pct = 100.0 * (1 - sel_b / total_b) if total_b else 0.0
    if locate_stats is not None and total_b and pct < 20.0:
        for col, info in getattr(locate_stats, "per_column", {}).items():
            k, fpr = info.get("bloom_keys"), info.get("fpr")
            if k and fpr and k * fpr >= 1.0:
                log.info(
                    "bloom index on %r probed with %d keys at fpr=%g: "
                    "expected false-positive pass rate is ~100%% "
                    "(1-(1-fpr)^keys), so weak pruning is inherent at "
                    "this key volume — for large key sets a RANGE index "
                    "on value-clustered files prunes better",
                    col, k, fpr,
                )
    metrics = {
        "total_files": total_files,
        "selected_files": len(selected_sizes),
        "total_bytes": total_b,
        "selected_bytes": sel_b,
        "pruned_pct": pct,
    }
    if locate_stats is not None:
        # which planner chose these files, and why not the driver-side one
        metrics["planner"] = locate_stats.planner
        metrics["planner_reason"] = locate_stats.planner_reason
    log.info(
        "loaded %d of %d files (%d of %d bytes) — %.1f%% data pruned",
        len(selected_sizes), total_files, sel_b, total_b, pct,
    )
    return metrics


def log_prune_metrics(index_df: DataFrame | None, selected: list[str]) -> dict:
    """The reference's only quantified performance signal: the
    'loaded N of M files (X of Y bytes) — P% pruned' line
    (IndexJoinOperations.scala:176-185). Returns the numbers too so
    callers/tests can assert on them. One aggregation job: totals and
    selected-subset sums are conditional aggregates over a single
    pass of the index table (big literal isin lists are avoided via a
    broadcast flag join when the selected set is large)."""
    if index_df is None:
        return {}
    selected = list(selected or [])
    if len(selected) <= 1000:
        sel_pred = F.col("filename").isin(selected) if selected else F.lit(False)
        df = index_df
    else:
        spark = index_df.sparkSession
        flags = spark.createDataFrame([(f, 1) for f in selected], ["filename", "__sel"])
        df = index_df.join(F.broadcast(flags), "filename", "left")
        sel_pred = F.col("__sel").isNotNull()
    row = df.agg(
        F.count("*").alias("files"),
        F.sum("file_size").alias("bytes"),
        F.count(F.when(sel_pred, 1)).alias("sel_files"),
        F.sum(F.when(sel_pred, F.col("file_size"))).alias("sel_bytes"),
    ).collect()[0]
    total_b = row["bytes"] or 0
    sel_b = row["sel_bytes"] or 0
    pct = 100.0 * (1 - sel_b / total_b) if total_b else 0.0
    metrics = {
        "total_files": row["files"],
        "selected_files": row["sel_files"],
        "total_bytes": total_b,
        "selected_bytes": sel_b,
        "pruned_pct": pct,
    }
    log.info(
        "loaded %d of %d files (%d of %d bytes) — %.1f%% data pruned",
        row["sel_files"], row["files"], sel_b, total_b, pct,
    )
    return metrics
