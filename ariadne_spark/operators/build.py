"""Index build pipeline.

Computes, per source file, one row of index summaries: distinct-value
arrays (regular/computed/exploded), bloom binaries, min/max range
structs, per-value latest-timestamp arrays (temporal), and file_size
(reference build code:
src/main/scala/dev/cjfravel/ariadne/IndexBuildOperations.scala:821-947,
bloom at BloomFilterOperations.scala:95-173, file_size at
Index.scala:861-908).

The rows are built at one of two sites, chosen per batch by
:func:`plan_driver_build` from the index configs and the parquet
footers alone; a batch never mixes them.

* **Driver.** When the index store is a local filesystem, the files
  are local parquet, every index is regular, exploded, range, temporal
  or a bloom over a column, all of plain value types, and the indexed
  column chunks sum, uncompressed, to at most
  ``DRIVER_BUILD_MAX_BYTES``, the driver reads those columns with
  pyarrow, one file per thread, and computes every summary directly:
  per-file distinct counts are exact, so the spill at
  ``largeIndexLimit`` needs no sizing pass and the batch needs no
  batch planning. The rows, schema and bloom bytes equal the Spark
  build's, and the commit runs no Spark job.
* **Spark.** Everything else: computed indexes and expression blooms
  (they need Catalyst), CSV/JSON sources, remote storage, batches over
  the bound. Instead of building one frame per index type and
  full-outer-joining them on filename (reference J2, SURVEY §2.3),
  every per-file aggregate that shares row multiplicity is computed in
  a SINGLE ``groupBy(filename)``: one shuffle for regular + computed +
  exploded + bloom + range. Exploded columns avoid a row-multiplying
  ``explode`` by aggregating ``array_distinct(flatten(collect_set(arr)))``.
  Only the temporal index needs its own two-level aggregation (max ts
  per (file, value), then pack per file), joined back on filename; a
  temporal-only index starts from that frame instead. At 100 TB the
  shuffle width is bounded by the batch planner (plans/batching.py):
  each batch's total distinct-value volume is capped by
  largeIndexLimit, so collect_set state stays executor-sized.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bloom as bloomfn
from ..sources.files import (
    FILENAME_COL,
    apply_virtual_columns,
    nested_root,
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
    local: "DriverBuild | None" = None,
) -> "DataFrame | DriverRows":
    """One index row per file in ``files`` covering ``configs``
    (default: all configured indexes). Always emits a row per file —
    even empty files — so re-index detection converges.

    With ``local`` (a plan from :func:`plan_driver_build`) the rows are
    computed on the driver with pyarrow and returned as
    :class:`DriverRows`, spill tables included; otherwise they are a
    lazy Spark DataFrame that :func:`split_large_indexes` may split."""
    if local is not None:
        return _driver_rows(local)
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




# ------------------------------------------------------------ driver build

# A batch whose indexed column chunks sum, uncompressed in the parquet
# footers, to at most this many bytes builds on the driver; a larger one
# builds through Spark. tools/build_crossover.py (point_lookup's indexes,
# 4 vCPUs, local[4]) found no crossover up to the largest lake it ran:
# update() took 0.34-0.38 s against 3.0-3.8 s at 7.0 MiB, 0.95-1.22 s
# against 11.1-16.0 s at 28.6 MiB and 3.7-3.8 s against 28.6-30.9 s at
# 117.6 MiB, so the bound stops at that size.
DRIVER_BUILD_MAX_BYTES = 118 << 20

# value types the driver build reads; anything nested builds through Spark
_PLAIN_TYPES = (
    T.NumericType,
    T.StringType,
    T.BinaryType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


class DriverBuildDeclined(Exception):
    """A driver build met a value it cannot read as Spark's parquet
    reader does; the batch builds through Spark instead."""


@dataclass
class DriverBuild:
    """A batch the driver builds (see :func:`plan_driver_build`)."""

    configs: list[IndexConfig]
    schema: T.StructType
    files: list[str]  # normalized local paths
    read_types: dict[str, pa.DataType]  # source column -> Arrow read type
    timezone: str  # the session's: bloom keys of timestamps follow it
    threads: int
    limit: int  # largeIndexLimit
    auto_bloom_fpr: float


@dataclass
class DriverRows:
    """Driver-built rows: the main index rows and, per spilled column,
    its large-index rows."""

    main: pa.Table
    large: dict[str, pa.Table]


def _field_type(dt: T.DataType, path: str | None) -> T.DataType:
    for part in path.split(".") if path else []:
        dt = dt[part].dataType
    return dt


def _value_types(cfg: IndexConfig, fields: dict) -> list[T.DataType]:
    """The Spark types of what ``cfg`` indexes: its values, plus the
    timestamp of a temporal index. KeyError or TypeError for a column
    path the schema lacks."""
    if cfg.type == EXPLODED:
        return [_field_type(fields[cfg.source_column].elementType, cfg.field)]
    out = [fields[cfg.column]]
    if cfg.type == TEMPORAL:
        root, _, rest = cfg.timestamp_column.partition(".")
        out.append(_field_type(fields[root], rest or None))
    return out


def _roots(cfg: IndexConfig) -> list[str]:
    if cfg.type == EXPLODED:
        return [cfg.source_column]
    if cfg.type == TEMPORAL:
        return [cfg.column, nested_root(cfg.timestamp_column)]
    return [cfg.column]


def _reads_as(file_type: pa.DataType, target: pa.DataType) -> bool:
    """Whether a parquet column of ``file_type`` reads as ``target`` the
    way Spark's parquet reader reads it under the index schema: the same
    type; a timestamp of at most microsecond unit as either timestamp
    type (an Arrow cast keeps the UTC instant as Spark does: a naive
    value reads as UTC, a zoned one as its UTC wall time); a signed
    integer as a wider one, one of at most 32 bits as a double; a float
    as a double; a nested type that Arrow casts as is. Spark's other
    widenings build through Spark."""
    is_ = pa.types
    if file_type.equals(target):
        return True
    if is_.is_timestamp(file_type) and is_.is_timestamp(target):
        return file_type.unit != "ns"
    if is_.is_signed_integer(file_type):
        return (
            is_.is_signed_integer(target) and target.bit_width > file_type.bit_width
        ) or (is_.is_float64(target) and file_type.bit_width <= 32)
    if is_.is_float32(file_type):
        return is_.is_float64(target)
    if is_.is_nested(file_type) and is_.is_nested(target):
        try:
            pa.array([], file_type).cast(target)
            return True
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return False
    return False


def plan_driver_build(
    spark: SparkSession,
    fs,
    meta: IndexMetadata,
    files: list[str],
    limit: int,
    auto_bloom_fpr: float,
) -> "DriverBuild | str":
    """The driver build of ``files``, or why they build through Spark.

    The driver builds when the index store is a local filesystem, the
    files are local parquet read without options, every index is
    regular, exploded, range, temporal or a bloom over a column, of
    plain value types, every file's columns read as the index schema's
    types (:func:`_reads_as`) and the needed column chunks sum,
    uncompressed, to at most ``DRIVER_BUILD_MAX_BYTES``. Only the
    footers are read."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    from ..storage.fs import PosixFS

    if not isinstance(fs, PosixFS):
        return "index storage is not a local filesystem"
    if meta.format != "parquet":
        return f"source format {meta.format} is not parquet"
    if meta.read_options:
        return "read options are set"
    fields = {f.name: f.dataType for f in meta.schema.fields}
    roots: dict[str, T.DataType] = {}
    for cfg in meta.indexes:
        if cfg.type == COMPUTED:
            return f"computed index {cfg.column} needs Catalyst"
        if cfg.type == BLOOM and cfg.expression is not None:
            return f"expression bloom {cfg.column} needs Catalyst"
        try:
            types = _value_types(cfg, fields)
        except (KeyError, TypeError) as e:
            return f"{cfg.column}: no column {e} in the schema"
        for vt in types:
            if not isinstance(vt, _PLAIN_TYPES):
                return f"{cfg.column}: {vt.simpleString()} values are not plain"
        roots.update({r: fields[r] for r in _roots(cfg)})
    norm = [normalize_path(f) for f in files]
    if not all(p.startswith("/") for p in norm):
        return "source files are not local"
    read_types = {r: to_arrow_type(dt) for r, dt in roots.items()}
    nbytes = 0
    for path in norm:
        try:
            pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        except (OSError, pa.ArrowException) as e:
            return f"footer of {path} unreadable ({e})"
        schema = pf.schema_arrow
        lower = {n.lower() for n in schema.names}
        for r, t in read_types.items():
            if r in schema.names:
                ft = schema.field(r).type
                if not _reads_as(ft, t):
                    return f"{r} in {path}: {ft} does not read as {t}"
            elif r.lower() in lower:
                return f"{r} in {path} matches a column only up to case"
        md = pf.metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                if chunk.path_in_schema.split(".")[0] in read_types:
                    nbytes += chunk.total_uncompressed_size
        if nbytes > DRIVER_BUILD_MAX_BYTES:
            return f"indexed column bytes over DRIVER_BUILD_MAX_BYTES {DRIVER_BUILD_MAX_BYTES}"
    return DriverBuild(
        configs=list(meta.indexes),
        schema=meta.schema,
        files=norm,
        read_types=read_types,
        timezone=spark.conf.get("spark.sql.session.timeZone"),
        threads=spark.sparkContext.defaultParallelism,
        limit=limit,
        auto_bloom_fpr=auto_bloom_fpr,
    )


def _collect_set(values: pa.Array) -> pa.Array:
    """The non-null distinct values as Spark's ``collect_set`` gives
    them: it compares floats with ``==``, so 0.0 and -0.0 are one value
    (the first one read) and every NaN is its own."""
    values = values.drop_null()
    if not pa.types.is_floating(values.type):
        return pc.unique(values)
    v = values.to_numpy(zero_copy_only=False)
    nan = np.isnan(v)
    rest = v[~nan]
    zero = rest == 0
    kept = np.unique(rest[~zero])
    if zero.any():
        kept = np.concatenate([kept, rest[zero][:1]])
    return pa.array(np.concatenate([kept, v[nan]]), values.type)


def _min_max(values: pa.Array) -> tuple:
    """Spark's ``min``/``max`` as Python values: NaN sorts above every
    other float, where ``pc.min_max`` skips it. (None, None) without a
    non-null value."""
    values = values.drop_null()
    if pa.types.is_floating(values.type) and len(values):
        nan = pc.is_nan(values)
        if pc.any(nan).as_py():
            rest = values.filter(pc.invert(nan))
            lo = pc.min(rest).as_py() if len(rest) else float("nan")
            return lo, float("nan")
    mm = pc.min_max(values)
    return mm["min"].as_py(), mm["max"].as_py()


def _bloom_of(values: pa.Array, elem: T.DataType, fpr: float, tz: str) -> bytes:
    """``bloomfn.build`` over ``values`` as the Spark build's pandas UDF
    sees them: converted by PySpark's own Arrow-to-pandas path, so every
    key stringifies identically (timestamps in the session time zone,
    floats as numpy scalars) and the blob is byte-identical."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer

    lists = pa.ListArray.from_arrays(pa.array([0, len(values)], pa.int32()), values)
    ser = ArrowStreamPandasSerializer(tz, False, False)
    keys = ser.arrow_to_pandas(lists, 0, spark_type=T.ArrayType(elem, False))[0]
    return bloomfn.build(keys, fpr)


def _source_columns(plan: DriverBuild, path: str) -> tuple[int, dict]:
    """(rows, {source column: values}) of one file, each column cast to
    its read type; a column the file lacks reads as nulls, as Spark's
    read under the index schema gives it."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
    present = [r for r in plan.read_types if r in pf.schema_arrow.names]
    t = pf.read(columns=present)
    n = pf.metadata.num_rows
    cols = {}
    for r, typ in plan.read_types.items():
        if r not in present:
            cols[r] = pa.nulls(n, typ)
            continue
        try:
            cols[r] = t[r].combine_chunks().cast(typ)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
            raise DriverBuildDeclined(f"{r} in {path}: {e}") from e
    return n, cols


def _walk(values: pa.Array, path: str | None) -> pa.Array:
    for part in path.split(".") if path else []:
        values = pc.struct_field(values, part)
    return values


def _latest(value: pa.Array, ts: pa.Array):
    """struct<value,max_ts> per non-null value, or None when there is
    none (the Spark build's full join then leaves the column null).
    Spark's grouping folds -0.0 into 0.0."""
    if pa.types.is_floating(value.type):
        value = pc.if_else(pc.equal(value, 0), pa.scalar(0.0, value.type), value)
    pairs = pa.table({"value": value, "ts": ts}).filter(pc.is_valid(value))
    if not pairs.num_rows:
        return None
    latest = pairs.group_by("value").aggregate([("ts", "max")])
    return pa.StructArray.from_arrays(
        [latest["value"].combine_chunks(), latest["ts_max"].combine_chunks()],
        names=["value", "max_ts"],
    )


def _file_summaries(plan: DriverBuild, path: str) -> dict:
    """{column: summary} of one file; every summary is None for an empty
    file, as the Spark build's left join from the file list leaves it."""
    n, cols = _source_columns(plan, path)
    out: dict = {}
    for cfg in plan.configs:
        if n == 0:
            out[cfg.column] = None
        elif cfg.type == REGULAR:
            out[cfg.column] = _collect_set(cols[cfg.column])
        elif cfg.type == EXPLODED:
            flat = _walk(pc.list_flatten(cols[cfg.source_column]), cfg.field)
            out[cfg.column] = pc.unique(flat.drop_null())
        elif cfg.type == RANGE:
            out[cfg.column] = _min_max(cols[cfg.column])
        elif cfg.type == BLOOM:
            out[cfg.column] = _bloom_of(
                _collect_set(cols[cfg.column]),
                plan.schema[cfg.column].dataType,
                cfg.fpr or 0.01,
                plan.timezone,
            )
        else:
            root, _, rest = cfg.timestamp_column.partition(".")
            out[cfg.column] = _latest(cols[cfg.column], _walk(cols[root], rest or None))
    return out


def _stored_type(cfg: IndexConfig, sources: dict) -> T.DataType:
    """The Spark type of ``cfg``'s stored column as the Spark build
    writes it: ``collect_set`` arrays hold no null, an exploded array
    keeps the read's nullable elements."""
    vt = _value_types(cfg, sources)
    if cfg.type in (REGULAR, EXPLODED):
        return T.ArrayType(vt[0], cfg.type == EXPLODED)
    if cfg.type == RANGE:
        return T.StructType([T.StructField("min", vt[0]), T.StructField("max", vt[0])])
    if cfg.type == BLOOM:
        return T.BinaryType()
    return T.ArrayType(
        T.StructType([T.StructField("value", vt[0]), T.StructField("max_ts", vt[1])]),
        False,
    )


def _list_column(parts: list, typ: pa.ListType) -> pa.Array:
    """One list per file from per-file value arrays (None -> null)."""
    lens = [0 if p is None else len(p) for p in parts]
    offsets = pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32())
    vals = [p.cast(typ.value_type) for p in parts if p is not None]
    values = pa.concat_arrays(vals) if vals else pa.array([], typ.value_type)
    mask = pa.array([p is None for p in parts], pa.bool_())
    return pa.ListArray.from_arrays(offsets, values, type=typ, mask=mask)


def _arrow_column(parts: list, typ: pa.DataType) -> pa.Array:
    if pa.types.is_list(typ):
        return _list_column(parts, typ)
    if pa.types.is_struct(typ):  # a range: (min, max) per file
        mask = pa.array([p is None for p in parts], pa.bool_())
        bounds = [
            pa.array([None if p is None else p[i] for p in parts], typ.field(i).type)
            for i in (0, 1)
        ]
        return pa.StructArray.from_arrays(bounds, fields=list(typ), mask=mask)
    return pa.array(parts, typ)


def _driver_rows(plan: DriverBuild) -> DriverRows:
    """Build ``plan``'s rows with pyarrow, one file per task over a pool
    of ``plan.threads``: the rows, column order and Spark schema of the
    Spark build, with the spill at ``largeIndexLimit`` that
    :func:`split_large_indexes` makes. Per-file value counts are exact,
    so the spill needs no sizing pass."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.pandas.types import to_arrow_schema

    with ThreadPoolExecutor(max(1, min(plan.threads, len(plan.files)))) as pool:
        per_file = list(pool.map(lambda p: _file_summaries(plan, p), plan.files))
    sources = {f.name: f.dataType for f in plan.schema.fields}
    names = plan.files
    # the Spark build's column order: per-file aggregates, blooms, temporals
    order = [c for c in plan.configs if c.type in (REGULAR, EXPLODED, RANGE)]
    order += [c for c in plan.configs if c.type == BLOOM]
    order += [c for c in plan.configs if c.type == TEMPORAL]
    fields = [
        T.StructField("filename", T.StringType(), False),
        T.StructField(FILE_SIZE_COL, T.LongType(), False),
    ]
    fields += [T.StructField(c.stored_column, _stored_type(c, sources)) for c in order]
    columns = [names, [os.path.getsize(p) for p in names]]
    columns += [[s[c.column] for s in per_file] for c in order]
    large: dict[str, pa.Table] = {}
    for i, cfg in enumerate(order, start=2):
        if cfg.type not in (REGULAR, EXPLODED, TEMPORAL):
            continue
        parts = columns[i]
        big = [p is not None and len(p) >= plan.limit for p in parts]
        if not any(big):
            continue
        spilled = [p for p, b in zip(parts, big) if b]
        owners = [f for f, b in zip(names, big) if b]
        owner = pa.array(np.repeat(np.array(owners, object), [len(p) for p in spilled]), pa.string())
        values = pa.concat_arrays(spilled)
        dt = fields[i].dataType
        key = T.StructField("filename", T.StringType(), False)
        if cfg.type == TEMPORAL:
            side = T.StructType([key, *dt.elementType.fields])
            cols = [owner, values.field("value"), values.field("max_ts")]
        else:
            side = T.StructType([key, T.StructField("value", dt.elementType, dt.containsNull)])
            cols = [owner, values]
            fields.append(T.StructField(f"auto_bloom_{cfg.column}", T.BinaryType()))
            columns.append(
                [
                    _bloom_of(p, dt.elementType, plan.auto_bloom_fpr, plan.timezone) if b else None
                    for p, b in zip(parts, big)
                ]
            )
        target = to_arrow_schema(side)
        large[cfg.column] = pa.Table.from_arrays(
            [c.cast(f.type) for c, f in zip(cols, target)], schema=target
        )
        columns[i] = [None if b else p for p, b in zip(parts, big)]
    schema = to_arrow_schema(T.StructType(fields))
    arrays = [_arrow_column(parts, f.type) for f, parts in zip(schema, columns)]
    return DriverRows(pa.Table.from_arrays(arrays, schema=schema), large)
