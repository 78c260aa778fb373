"""Index build pipeline.

Computes, per source file, one row of index summaries: distinct-value
arrays (regular/computed/exploded), bloom binaries, min/max range
structs, per-value latest-timestamp arrays (temporal), and file_size
(reference build code:
src/main/scala/dev/cjfravel/ariadne/IndexBuildOperations.scala:821-947,
bloom at BloomFilterOperations.scala:95-173, file_size at
Index.scala:861-908).

Spark-first design difference from the reference: instead of building
one frame per index type and full-outer-joining them on filename
(reference J2, SURVEY §2.3), every per-file aggregate that shares row
multiplicity is computed in a SINGLE ``groupBy(filename)`` — one
shuffle for regular + computed + exploded + bloom + range. Exploded
columns avoid a row-multiplying ``explode`` entirely by aggregating
``array_distinct(flatten(collect_set(arr)))``. Only the temporal
index needs its own two-level aggregation (max ts per (file, value),
then pack per file), joined back on filename; a temporal-only index
starts from that frame instead.

At 100 TB the shuffle width is bounded by the batch planner
(plans/batching.py): each batch's total distinct-value volume is
capped by largeIndexLimit, so collect_set state stays executor-sized.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bloom as bloomfn
from ..sources.files import (
    FILENAME_COL,
    apply_virtual_columns,
    normalize_path,
    read_base,
    with_filename,
)
from ..storage.metadata import (
    BLOOM,
    COMPUTED,
    EXPLODED,
    RANGE,
    REGULAR,
    TEMPORAL,
    IndexConfig,
    IndexMetadata,
)

FILE_SIZE_COL = "file_size"


def _bloom_udf(fpr: float):
    import pandas as pd

    def make_bloom(vals: pd.Series) -> pd.Series:
        return vals.map(lambda v: bloomfn.build(v, fpr) if v is not None else None)

    make_bloom.__annotations__ = {"vals": pd.Series, "return": pd.Series}
    return F.pandas_udf(make_bloom, T.BinaryType())


def _distinct_array_agg(cfg: IndexConfig, array_source: bool | None = None, alias: str | None = None):
    """Aggregate expression producing the distinct-value array for one
    array-shaped index column (no explode => no row blow-up).
    ``array_source`` overrides the per-type default (array-expression
    blooms share the EXPLODED flatten shape); ``alias`` overrides the
    output name (bloom temps)."""
    if array_source is None:
        array_source = cfg.type == EXPLODED
    out = alias or cfg.column
    if array_source:
        collected = F.collect_set(F.col(cfg.column))
        merged = F.array_distinct(F.flatten(collected))
        return F.filter(merged, lambda x: x.isNotNull()).alias(out)
    return F.collect_set(F.col(cfg.column)).alias(out)


def _temporal_frame(base: DataFrame, cfg: IndexConfig) -> DataFrame:
    """array<struct<value,max_ts>> per file for one temporal config.

    Two-level aggregation (max ts per (file,value), then pack) — the
    second shuffle runs over already-aggregated rows. Null values are
    excluded (they can never match a join key); null timestamps are
    legal and rank last at query time."""
    value = F.col(cfg.column)
    ts = F.col(cfg.timestamp_column)
    per_value = (
        base.where(value.isNotNull())
        .groupBy(FILENAME_COL, cfg.column)
        .agg(F.max(ts).alias("_max_ts"))
    )
    return per_value.groupBy(FILENAME_COL).agg(
        F.collect_set(
            F.struct(F.col(cfg.column).alias("value"), F.col("_max_ts").alias("max_ts"))
        ).alias(cfg.column)
    )


def build_index_rows(
    spark: SparkSession,
    meta: IndexMetadata,
    files: list[str],
    configs: list[IndexConfig] | None = None,
) -> DataFrame:
    """One index row per file in ``files`` covering ``configs``
    (default: all configured indexes). Always emits a row per file —
    even empty files — so re-index detection converges."""
    configs = meta.indexes if configs is None else configs
    norm = [normalize_path(f) for f in files]

    df = read_base(spark, files, meta.format, meta.schema, meta.read_options)
    df = with_filename(df, files)
    df = apply_virtual_columns(df, configs, explode_rows=False)

    aggs = []
    bloom_tmp: list[tuple[IndexConfig, str]] = []
    for cfg in configs:
        if cfg.type in (REGULAR, COMPUTED, EXPLODED):
            aggs.append(_distinct_array_agg(cfg))
        elif cfg.type == RANGE:
            aggs.append(
                F.struct(
                    F.min(cfg.column).alias("min"), F.max(cfg.column).alias("max")
                ).alias(cfg.stored_column)
            )
        elif cfg.type == BLOOM:
            tmp = f"__bloom_vals_{cfg.column}"
            # an array-valued source (expression bloom over derived
            # keys) blooms distinct ELEMENTS — the exploded-index
            # flatten shape, still one shuffle
            aggs.append(
                _distinct_array_agg(
                    cfg,
                    array_source=isinstance(
                        df.schema[cfg.column].dataType, T.ArrayType
                    ),
                    alias=tmp,
                )
            )
            bloom_tmp.append((cfg, tmp))

    temporal = [_temporal_frame(df, cfg) for cfg in configs if cfg.type == TEMPORAL]
    if aggs:
        agg_df = df.groupBy(FILENAME_COL).agg(*aggs)
    elif temporal:
        # temporal-only: start from the first temporal frame — the
        # file-size left join below still emits a row for every file
        agg_df = temporal.pop(0)
    else:
        agg_df = df.select(FILENAME_COL).distinct()

    for cfg, tmp in bloom_tmp:
        agg_df = agg_df.withColumn(
            cfg.stored_column, _bloom_udf(cfg.fpr or 0.01)(F.col(tmp))
        ).drop(tmp)

    for frame in temporal:
        agg_df = agg_df.join(frame, FILENAME_COL, "full_outer")

    # left join from the authoritative file list => empty files still
    # get an index row (otherwise they'd be re-indexed forever)
    return _with_file_sizes(
        spark, norm, agg_df.withColumnRenamed(FILENAME_COL, "filename")
    )


def _with_file_sizes(
    spark: SparkSession, norm_files: list[str], agg_df: DataFrame
) -> DataFrame:
    """Left-join per-file aggregates onto the authoritative (filename,
    file_size) frame. Hadoop-FS-aware batch stat (one listStatus per
    parent dir) so hdfs:/s3a: lakes work; local paths hit the POSIX
    fast path (reference sizes files the same way,
    Index.scala:861-908)."""
    from ..storage.fs import batch_sizes

    sizes = list(zip(norm_files, batch_sizes(spark, norm_files)))
    files_df = spark.createDataFrame(
        sizes,
        T.StructType(
            [
                T.StructField("filename", T.StringType(), False),
                T.StructField(FILE_SIZE_COL, T.LongType(), False),
            ]
        ),
    )
    return files_df.join(agg_df, "filename", "left")


def split_large_indexes(
    spark: SparkSession,
    indexed: DataFrame,
    array_cols: list[str],
    limit: int,
    auto_bloom_fpr: float,
    temporal_cols: list[str] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Large-index separation + auto-bloom
    (reference: IndexBuildOperations.scala:1022-1074, 1131-1189).

    For any distinct-array column whose per-file cardinality reaches
    ``limit``: spill the values to an exploded ``(filename, value)``
    side table, keep a compact ``auto_bloom_{col}`` binary in the main
    row, and null the in-row array. Temporal struct arrays spill to
    ``(filename, value, max_ts)`` rows (no auto-bloom — the reference
    auto-blooms only value-array types). Returns the rewritten main
    frame and the per-column spill frames. ``indexed`` should be
    cached by the caller (double pass)."""
    temporal_cols = temporal_cols or []
    all_cols = list(array_cols) + list(temporal_cols)
    if not all_cols:
        return indexed, {}
    maxes = indexed.agg(
        *[F.max(F.size(F.col(c))).alias(c) for c in all_cols]
    ).collect()[0]
    over = [c for c in all_cols if (maxes[c] or 0) >= limit]
    if not over:
        return indexed, {}
    large: dict[str, DataFrame] = {}
    out = indexed
    bloom_udf = _bloom_udf(auto_bloom_fpr)
    for c in over:
        big = F.size(F.col(c)) >= limit
        if c in temporal_cols:
            large[c] = (
                out.where(big)
                .select("filename", F.explode(F.col(c)).alias("__s"))
                .select(
                    "filename",
                    F.col("__s").getField("value").alias("value"),
                    F.col("__s").getField("max_ts").alias("max_ts"),
                )
            )
            out = out.withColumn(c, F.when(~big, F.col(c)))
        else:
            large[c] = (
                out.where(big)
                .select("filename", F.explode(F.col(c)).alias("value"))
            )
            out = out.withColumn(
                f"auto_bloom_{c}", F.when(big, bloom_udf(F.col(c)))
            ).withColumn(c, F.when(~big, F.col(c)))
    return out, large


def build_range_rows_from_footers(
    spark: SparkSession,
    meta: IndexMetadata,
    files: list[str],
) -> DataFrame:
    """RANGE index rows computed from parquet FOOTER statistics only —
    no data scan. Indexing an existing 100 TB lake becomes a
    footer-read per file (KBs each) distributed over the cluster,
    instead of a full table pass.

    Semantics vs the scan build: numeric/timestamp column-chunk stats
    are exact, so the resulting [min,max] structs are identical.
    String stats may be TRUNCATED bounds in parquet (min ≤ true min,
    max ≥ true max) — a wider range is pruning-safe (never a false
    negative), just occasionally less selective. All-null and empty
    files yield null min/max, matching ``F.min``/``F.max``.

    Caller guarantees: ``meta.format == 'parquet'`` and every config
    is RANGE (checked by ``Index.update``).
    """
    configs = meta.indexes
    cols = [(c.column, c.stored_column) for c in configs]
    norm = [normalize_path(f) for f in files]

    def one_file(path: str):
        import pyarrow.parquet as pq

        local = path[len("file:"):] if path.startswith("file:") else path
        md = pq.ParquetFile(local).metadata
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        out = [path]
        for col, _ in cols:
            i = name_to_idx.get(col)
            mn = mx = None
            if i is not None:
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    if g.num_rows == 0:
                        continue
                    st = g.column(i).statistics
                    if st is not None and st.has_min_max:
                        if mn is None or st.min < mn:
                            mn = st.min
                        if mx is None or st.max > mx:
                            mx = st.max
                    elif st is not None and st.null_count == g.num_rows:
                        pass  # all-null chunk legitimately has no bounds
                    else:
                        # stats absent for REAL values (e.g. INT96
                        # timestamps, statistics disabled at write) —
                        # a null range would read as prune-everything
                        # and silently drop rows; force the scan build
                        raise ValueError(
                            f"no usable statistics for column {col!r} "
                            f"in {path} (row group {rg})"
                        )
            out.append((mn, mx))
        return tuple(out)

    n_slices = max(1, min(len(norm), spark.sparkContext.defaultParallelism))
    rows = spark.sparkContext.parallelize(norm, n_slices).map(one_file).collect()

    schema_types = {f.name: f.dataType for f in meta.schema.fields}
    fields = [T.StructField("filename", T.StringType(), False)]
    for col, stored in cols:
        vt = schema_types[col]
        fields.append(
            T.StructField(
                stored,
                T.StructType(
                    [T.StructField("min", vt), T.StructField("max", vt)]
                ),
            )
        )
    agg_df = spark.createDataFrame(rows, T.StructType(fields))
    return _with_file_sizes(spark, norm, agg_df)
