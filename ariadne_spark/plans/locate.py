"""Distributed file-location planner — the path above the byte bounds.

Every locate enters through ``ariadne_spark.index._locate``, which types
the query values and runs the driver-side planner
(plans/locate_local.py, the semantic spec) by default. This module runs
instead when the index tables a query reads sum past
``LOCAL_INDEX_MAX_BYTES`` on disk, when a DataFrame source's distinct
keys pass ``LOCAL_KEYS_MAX_BYTES``, or when the index lives on remote
storage. It computes the same candidate set as Spark jobs: per-column
candidate frames AND-intersected by inner joins on filename (reference:
src/main/scala/dev/cjfravel/ariadne/IndexQueryOperations.scala:623-751;
AND-intersection :725-745; per-type probes :484-599, :769-885;
auto-bloom pre-filter :387-468; bounding-box degradation :845-868).

Scale-driven departures from the reference:

* Bloom probing is DISTRIBUTED: query values are hashed once on the
  driver (k small sha256 pairs), shipped in a pandas-UDF closure, and
  probed against each file's serialized filter executor-side. The
  reference collects every file's filter bytes to the driver and
  notes the OOM hazard in-code (BloomFilterOperations.scala:240-247).
* Candidate intersection happens as DataFrame inner joins on
  filename; only the final pruned *file list* (O(matching files), not
  O(values)) is collected — it must be, to construct the pruned read.
* The values side of regular-index semi-joins stays a DataFrame
  (no collect), so join-key sets of any size work.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import ColumnNotIndexedError
from ..functions import bloom as bloomfn
from ..storage.metadata import (
    BLOOM,
    COMPUTED,
    EXPLODED,
    RANGE,
    REGULAR,
    TEMPORAL,
    IndexMetadata,
)

log = logging.getLogger("ariadne")

# reference caps: range collects ≤10k values, degrades to a bounding
# box beyond 1k (IndexQueryOperations.scala:831-868). Bloom probing
# never collects values: join keys are hashed executor-side and only
# the 16-byte digests come back (16 B/value ⇒ 2M values ≈ 32 MB on
# the driver), so the cap is a memory guard, not a semantics cliff.
RANGE_COLLECT_CAP = 10_000
RANGE_BBOX_THRESHOLD = 1_000
BLOOM_PROBE_CAP = 2_000_000
# The driver-side planner (plans/locate_local.py) serves a locate while
# the index tables it reads (main table plus the queried columns' spill
# tables) sum to at most LOCAL_INDEX_MAX_BYTES on disk and a DataFrame
# source's distinct keys fit LOCAL_KEYS_MAX_BYTES as Arrow (collected
# once, a string/binary key counted at LOCAL_KEY_MAX_WIDTH bytes); above
# either bound this module's distributed planner runs. The bounds cap
# driver memory, not latency: tools/locate_crossover.py (4 vCPUs, 64
# files of random int64 keys, regular index) found the driver-side
# planner faster at every size it ran — 0.13 against 1.41 s at a 7.6 MB
# index, 1.08 against 5.50 s at 122 MB; 1.0 against 5.0 s for 10k
# DataFrame keys and 7.9 against 18.0 s for 4M, against the 122 MB
# index — while its peak RSS grew ~3.5x the index's on-disk bytes (32
# MB at 7.6 MB, 426 MB at 122 MB) and the keys took 8 B each (30.5 MB
# for 4M). 64 MiB of index (~225 MB of RSS) and 32 MiB of keys (~4M
# int64) keep one locate's added driver memory near a quarter GiB.
# Charging a string key 256 B admits up to ~130k of them; a longer key
# goes to the Spark planner uncollected.
LOCAL_INDEX_MAX_BYTES = 64 << 20
LOCAL_KEYS_MAX_BYTES = 32 << 20
LOCAL_KEY_MAX_WIDTH = 256

_VAL = "__ariadne_value"


@dataclass(frozen=True)
class Band:
    """An interval query constraint for RANGE-indexed columns:
    ``{col: Band(lo, hi)}`` prunes by [min,max] overlap instead of
    value containment — the natural form of SQL ``>=``/``<`` bands.
    ``None`` bounds are unbounded; ``*_inc`` control inclusivity."""

    lo: object = None
    hi: object = None
    lo_inc: bool = True
    hi_inc: bool = True


def tighten_band(b: Band | None, op: str, value) -> Band:
    """Fold one comparison conjunct into band ``b`` (None: unbounded),
    keeping the TIGHTEST bound per side. ``op`` is the
    Catalyst/datasource class name: GreaterThan[OrEqual] /
    LessThan[OrEqual]. Shared by the SQL rewriter and the native data
    source so their band semantics can never diverge."""
    b = b or Band()
    if op in ("GreaterThan", "GreaterThanOrEqual"):
        inc = op == "GreaterThanOrEqual"
        if b.lo is None or value > b.lo or (value == b.lo and not inc):
            return replace(b, lo=value, lo_inc=inc)
    else:
        inc = op == "LessThanOrEqual"
        if b.hi is None or value < b.hi or (value == b.hi and not inc):
            return replace(b, hi=value, hi_inc=inc)
    return b


@dataclass
class LocateStats:
    per_column: dict = field(default_factory=dict)
    # {filename: file_size} for the candidate set, captured in the same
    # collect that fetches the filenames — pruning metrics then need no
    # extra Spark job
    sizes: dict = field(default_factory=dict)
    # (total_files, total_bytes) of the index, when the planner's own
    # scan saw every live row (the driver-side planner does)
    totals: tuple | None = None
    # which planner ran ("local" | "spark") and, for spark, why
    planner: str = "spark"
    planner_reason: str | None = None


def _values_df(spark: SparkSession, source, column: str) -> DataFrame | None:
    """Distinct non-null query values as a 1-column frame.

    DataFrame sources stay distributed (no collect); literal lists
    become a tiny broadcast frame. Returns None for an empty literal
    list (caller short-circuits to an empty candidate set)."""
    if isinstance(source, DataFrame):
        return (
            source.select(F.col(column).alias(_VAL))
            .where(F.col(_VAL).isNotNull())
            .distinct()
        )
    vals = sorted({v for v in source if v is not None}, key=str)
    if not vals:
        return None
    return F.broadcast(spark.createDataFrame([(v,) for v in vals], [_VAL]))


def _collect_values(source, values_df: DataFrame, cap: int) -> list | None:
    """Distinct values up to ``cap``; None if over the cap. Literal
    sources resolve driver-side (zero Spark jobs); DataFrame sources
    pay one capped collect."""
    if not isinstance(source, DataFrame):
        vals = sorted({v for v in source if v is not None}, key=str)
        return vals if len(vals) <= cap else None
    rows = values_df.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return [r[0] for r in rows]


def _probe_udf(hash_pairs):
    """Bloom-probe pandas UDF over filter blobs. ``hash_pairs`` is an
    (n, 2) uint64 ndarray embedded in the closure — PySpark broadcasts
    UDF commands above ~1 MB automatically, so a multi-megabyte pair
    array ships to each executor once, not per task."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    pairs = np.asarray(hash_pairs, dtype=np.uint64).reshape(-1, 2)

    def probe(blobs: pd.Series) -> pd.Series:
        arr = pa.Array.from_pandas(blobs, type=pa.binary())
        return pd.Series(bloomfn.might_contain_many(arr, pairs), index=blobs.index)

    probe.__annotations__ = {"blobs": pd.Series, "return": pd.Series}
    return F.pandas_udf(probe, T.BooleanType())


def _collect_hash_pairs(source, values_df: DataFrame, cap: int):
    """Hash-pair array for the query values, computed WITHOUT ever
    collecting the values of a DataFrame source: a pandas UDF digests
    each distinct value to 16 bytes executor-side and only those come
    back (the scale fix for the reference's driver-side collect,
    BloomFilterOperations.scala:240-287). Literal lists hash on the
    driver (they are already driver-resident). Returns None only past
    ``cap`` distinct values — a driver-memory guard, ~16 B/value."""
    if not isinstance(source, DataFrame):
        vals = {v for v in source if v is not None}
        if len(vals) > cap:
            return None
        return bloomfn.hash_values(sorted(vals, key=str))

    import pandas as pd

    def digest(vals: pd.Series) -> pd.Series:
        return vals.map(bloomfn.digest16)

    digest.__annotations__ = {"vals": pd.Series, "return": pd.Series}
    digest_udf = F.pandas_udf(digest, T.BinaryType())
    # Deliberately NOT limit(cap+1).collect(): CollectLimit evaluates
    # the child incrementally (1 partition, then scaleUpFactor rounds),
    # re-running an expensive upstream values frame — e.g. the SQL
    # rewriter's executed join side — an unpredictable number of times.
    # A count guard + one single-row collect_list runs the (cached, see
    # locate_files) frame exactly once each and returns one picklable
    # row instead of one Row object per value.
    if values_df.count() > cap:
        return None
    row = (
        values_df.select(digest_udf(F.col(_VAL)).alias("__hp"))
        .agg(F.collect_list("__hp").alias("__hps"))
        .collect()[0]
    )
    return bloomfn.pairs_from_digests(row[0])


def _regular_candidates(
    index_df: DataFrame,
    large_df: DataFrame | None,
    auto_bloom_col: str | None,
    source,
    values_df: DataFrame,
    column: str,
) -> DataFrame:
    """Exploded-array semi-join (+ large-table union, with auto-bloom
    pre-filter shrinking the large scan)."""
    small = (
        index_df.where(F.col(column).isNotNull())
        .select("filename", F.explode(F.col(column)).alias(_VAL))
    )
    parts = [small]
    if large_df is not None:
        large = large_df.select("filename", F.col("value").alias(_VAL))
        if auto_bloom_col is not None:
            pairs = _collect_hash_pairs(source, values_df, BLOOM_PROBE_CAP)
            if pairs is not None and len(pairs):
                probe = _probe_udf(pairs)
                keep = (
                    index_df.where(F.col(auto_bloom_col).isNotNull())
                    .where(probe(F.col(auto_bloom_col)))
                    .select("filename")
                )
                large = large.join(F.broadcast(keep), "filename", "left_semi")
        parts.append(large)
    union = reduce(lambda a, b: a.unionByName(b), parts)
    return (
        union.join(values_df, _VAL, "left_semi").select("filename").distinct()
    )


def _bloom_candidates(
    index_df: DataFrame, stored_col: str, pairs
) -> DataFrame:
    """Distributed probe: files whose filter may contain ANY query value.
    Files with a null filter (e.g. empty) are conservatively included."""
    probe = _probe_udf(pairs)
    return (
        index_df.where(F.col(stored_col).isNull() | probe(F.col(stored_col)))
        .select("filename")
    )


def _range_candidates(
    index_df: DataFrame, stored_col: str, source, values_df: DataFrame
) -> DataFrame:
    """Interval containment per value. Up to RANGE_BBOX_THRESHOLD
    distinct values: an exact broadcast theta semi-join of the file
    intervals against the value set (NOT an OR-fold of literal
    predicates — thousands of nested Column nodes overflow the
    Catalyst stack and blow codegen past 64 KB). Beyond the
    threshold: degrade to one min/max bounding box (false positives
    OK — pruning must only be conservative)."""
    lo = F.col(stored_col).getField("min")
    hi = F.col(stored_col).getField("max")
    vals = _collect_values(source, values_df, RANGE_BBOX_THRESHOLD)
    if vals is not None:
        if not vals:
            return index_df.select("filename").limit(0)
        return index_df.join(
            F.broadcast(values_df),
            (lo <= F.col(_VAL)) & (hi >= F.col(_VAL)),
            "left_semi",
        ).select("filename")
    if not isinstance(source, DataFrame):
        vs = [v for v in source if v is not None]
        bounds = {"lo": min(vs), "hi": max(vs)}
    else:
        bounds = values_df.agg(
            F.min(_VAL).alias("lo"), F.max(_VAL).alias("hi")
        ).collect()[0]
    pred = (hi >= F.lit(bounds["lo"])) & (lo <= F.lit(bounds["hi"]))
    return index_df.where(pred).select("filename")


def _temporal_candidates(
    index_df: DataFrame,
    large_df: DataFrame | None,
    column: str,
    values_df: DataFrame,
) -> DataFrame:
    """Keep only the file holding the LATEST version of each query value
    (reference W2: IndexQueryOperations.scala:546-554, 784-791).

    A null value array with no LIVE spill rows is ambiguous: it is
    either an empty file (exact to prune) or a mid-backfill null-fill
    for a newly added temporal column (pruning would LOSE that file's
    possibly-latest rows). Such *orphan* files stay candidates —
    W2 is pure file pruning, the read path's W1 row dedup
    (operators/join.py) still picks the latest row per key, so
    over-inclusion is row-exact and the steady state (every null
    array backed by spill rows) adds nothing."""
    pairs = (
        index_df.where(F.col(column).isNotNull())
        .select("filename", F.explode(F.col(column)).alias("__s"))
        .select(
            "filename",
            F.col("__s").getField("value").alias(_VAL),
            F.col("__s").getField("max_ts").alias("__ts"),
        )
    )
    orphans = index_df.where(F.col(column).isNull()).select("filename")
    if large_df is not None:
        pairs = pairs.unionByName(
            large_df.select(
                "filename", F.col("value").alias(_VAL), F.col("max_ts").alias("__ts")
            )
        )
        orphans = orphans.join(
            large_df.select("filename").distinct(), "filename", "left_anti"
        )
    matched = pairs.join(values_df, _VAL, "left_semi")
    w = Window.partitionBy(_VAL).orderBy(
        F.col("__ts").desc_nulls_last(), F.col("filename")
    )
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("filename")
        .unionByName(orphans)
        .distinct()
    )


def locate_files(
    spark: SparkSession,
    meta: IndexMetadata,
    index_df: DataFrame | None,
    large_tables: dict[str, DataFrame | None],
    query: "DataFrame | dict",
    columns: list[str] | None = None,
    repartition: int | None = None,
    min_bloom_bytes: int = 0,
    total_bytes: int | None = None,
) -> tuple[list[str], LocateStats]:
    """Candidate files for ``query``.

    ``query`` is either a DataFrame whose ``columns`` are join keys, or
    a dict {column: [values]}. All queried columns must be indexed;
    their candidate sets are AND-intersected. ``repartition`` (the
    indexRepartitionCount conf) optionally spreads the index frame
    before the explode — useful when few files hold huge value arrays
    and the default partitioning leaves executors idle."""
    stats = LocateStats()
    if index_df is None:
        return [], stats
    if repartition:
        index_df = index_df.repartition(repartition)
    if isinstance(query, dict):
        cols = list(query.keys())
    else:
        cols = list(columns or [])

    candidate_dfs: list[DataFrame] = []
    cached: list[DataFrame] = []
    for col in cols:
        cfg = meta.config_for(col)
        if cfg is None:
            raise ColumnNotIndexedError(col)
        source = query[col] if isinstance(query, dict) else query
        if cfg.stored_column not in index_df.columns:
            # added but not yet backfilled by update(): no stored
            # values, so the column constrains no file
            stats.per_column[col] = {
                "type": cfg.type, "skipped": True, "reason": "column not built yet",
            }
            continue
        if isinstance(source, Band):
            if cfg.type != RANGE:
                raise ColumnNotIndexedError(
                    f"{col}: Band queries need a range index, not {cfg.type}"
                )
            stats.per_column[col] = {
                "type": cfg.type, "skipped": False, "source": "band",
            }
            lo = F.col(cfg.stored_column).getField("min")
            hi = F.col(cfg.stored_column).getField("max")
            if source.lo is None and source.hi is None:
                # a boundless band applies NO row predicate — all-null
                # files must stay candidates or their rows vanish
                candidate_dfs.append(index_df.select("filename"))
                continue
            pred = lo.isNotNull()
            if source.lo is not None:
                p = F.lit(source.lo)
                pred = pred & ((hi >= p) if source.lo_inc else (hi > p))
            if source.hi is not None:
                p = F.lit(source.hi)
                pred = pred & ((lo <= p) if source.hi_inc else (lo < p))
            candidate_dfs.append(index_df.where(pred).select("filename"))
            continue
        values_df = _values_df(spark, source, col)
        if values_df is not None and isinstance(source, DataFrame):
            # A DataFrame source can be arbitrarily expensive (the SQL
            # rewriter hands over an executed join side); every probe
            # below — bloom count+digest, range value collect, the
            # semi-joins — is a separate action over it. Persist the
            # one-column distinct projection so the source executes
            # once, and release it after the final file collect.
            values_df = values_df.persist()
            cached.append(values_df)
        # default per-column record; probe paths below override/extend
        # (zero extra Spark jobs: value counts only for literal lists)
        stats.per_column[col] = {
            "type": cfg.type,
            "skipped": False,
            "source": "frame" if isinstance(source, DataFrame) else "values",
            **(
                {"n_values": len({v for v in source if v is not None})}
                if not isinstance(source, DataFrame)
                else {}
            ),
        }
        if values_df is None:
            stats.per_column[col]["empty_values"] = True
            candidate_dfs.append(index_df.select("filename").limit(0))
            continue
        if cfg.type in (REGULAR, COMPUTED, EXPLODED):
            auto_col = f"auto_bloom_{col}"
            cand = _regular_candidates(
                index_df,
                large_tables.get(col),
                auto_col if auto_col in index_df.columns else None,
                source,
                values_df,
                col,
            )
        elif cfg.type == BLOOM:
            if (
                isinstance(source, DataFrame)
                and min_bloom_bytes
                and total_bytes is not None
                and total_bytes < min_bloom_bytes
            ):
                # cost-model skip — DataFrame sources only: probing a
                # frame EXECUTES it (the SQL rewriter hands over a live
                # join side), which costs more than scanning this
                # little data. Literal value lists hash on the driver
                # for free and always probe.
                # (spark.ariadne.minBloomPruneBytes)
                stats.per_column[col].update(
                    skipped=True,
                    reason=f"index bytes {total_bytes} < minBloomPruneBytes",
                )
                continue
            pairs = _collect_hash_pairs(source, values_df, BLOOM_PROBE_CAP)
            if pairs is None:
                # conservative no-prune — but never silent: callers see
                # the skip in stats.per_column (and prune metrics)
                log.warning(
                    "bloom column %s: > %d distinct query values; "
                    "probing skipped, no pruning from this column",
                    col,
                    BLOOM_PROBE_CAP,
                )
                stats.per_column[col].update(
                    skipped=True,
                    reason=f"> {BLOOM_PROBE_CAP} distinct query values",
                )
                continue
            stats.per_column[col].update(
                bloom_keys=len(pairs), fpr=cfg.fpr or 0.01
            )
            if not len(pairs):
                cand = index_df.select("filename").limit(0)
            else:
                cand = _bloom_candidates(index_df, cfg.stored_column, pairs)
        elif cfg.type == RANGE:
            cand = _range_candidates(
                index_df, cfg.stored_column, source, values_df
            )
        elif cfg.type == TEMPORAL:
            cand = _temporal_candidates(
                index_df, large_tables.get(col), col, values_df
            )
        else:  # pragma: no cover
            raise ColumnNotIndexedError(col)
        candidate_dfs.append(cand.distinct())

    has_size = "file_size" in index_df.columns

    try:
        if not candidate_dfs:
            cols_sel = ["filename", "file_size"] if has_size else ["filename"]
            rows = index_df.select(*cols_sel).collect()
            stats.sizes = {r[0]: (r[1] if has_size else None) for r in rows}
            return [r[0] for r in rows], stats

        intersected = reduce(
            lambda a, b: a.join(b, "filename", "inner"), candidate_dfs
        ).distinct()
        if has_size:
            intersected = intersected.join(
                index_df.select("filename", "file_size"), "filename", "left"
            )
            rows = intersected.collect()
            stats.sizes = {r[0]: r[1] for r in rows}
            return [r[0] for r in rows], stats
        files = [r[0] for r in intersected.collect()]
        stats.sizes = {f: None for f in files}
        return files, stats
    finally:
        for df in cached:
            df.unpersist()
