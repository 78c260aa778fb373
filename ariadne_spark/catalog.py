"""IndexCatalog — global directory of indexes under the storage path
(reference: src/main/scala/dev/cjfravel/ariadne/IndexCatalog.scala:77-420).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import context
from .exceptions import IndexNotFoundError
from .index import Index
from .storage.fs import get_fs
from .storage.metadata import load_metadata
from .storage.paths import IndexPaths, indexes_root


def _root(spark: SparkSession) -> str:
    return indexes_root(context.AriadneConf.load(spark).storage_path)


def list_indexes(spark: SparkSession | None = None) -> list[str]:
    spark = spark or context.get_spark()
    root = _root(spark)
    fs = get_fs(spark, root)
    out = []
    for name in fs.list_names(root):
        if fs.exists(f"{root}/{name}/metadata.json"):
            out.append(name)
    return out


def exists(name: str, spark: SparkSession | None = None) -> bool:
    return name in list_indexes(spark)


def get(name: str, spark: SparkSession | None = None) -> Index:
    spark = spark or context.get_spark()
    if not exists(name, spark):
        raise IndexNotFoundError(name)
    return Index.for_name(name, spark=spark)


def remove(name: str, spark: SparkSession | None = None) -> None:
    get(name, spark).drop_storage()


_DESCRIBE_SCHEMA = T.StructType(
    [
        T.StructField("index", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("detail", T.StringType()),
        T.StructField("num_files", T.LongType()),
    ]
)


def _file_counts(spark: SparkSession, names: list[str]) -> dict[str, int]:
    """FileList row counts for all named indexes in ONE Spark job.

    Filelists are counted from a single parquet scan over every
    live segment of every index (explicit schema, so no
    per-table schema-inference job; the per-table ``read()`` plan
    union previously cost one listing/inference job per index — 500
    indexes would mean 500 jobs before the count even ran). Rows are
    attributed to their index from the file path. ``count_distinct``
    over raw segment rows equals each table's replace-per-key read
    count because the FileList keys on ``filename`` (re-adds append
    duplicate keys that the read collapses)."""
    from pyspark.sql import functions as F

    counts: dict[str, int] = {name: 0 for name in names}
    seg_dirs: list[str] = []
    for name in names:
        tbl = Index.for_name(name, spark=spark).filelist.table
        seg_dirs.extend(tbl.segment_dirs())
    if seg_dirs:
        rows = (
            spark.read.schema("filename string")
            .parquet(*seg_dirs)
            .select(
                F.regexp_extract(
                    F.input_file_name(), r"/indexes/([^/]+)/filelist/", 1
                ).alias("__index"),
                "filename",
            )
            .groupBy("__index")
            .agg(F.count_distinct("filename").alias("n"))
            .collect()
        )
        for r in rows:
            if r["__index"] in counts:
                counts[r["__index"]] = r["n"]
    return counts


def _describe_rows(name: str, meta, n_files: int) -> list[tuple]:
    rows = []
    for cfg in meta.indexes:
        detail = (
            cfg.expression
            or (f"{cfg.source_column}[].{cfg.field}" if cfg.source_column else None)
            or cfg.timestamp_column
            or (f"fpr={cfg.fpr}" if cfg.fpr else None)
            or ""
        )
        rows.append((name, cfg.column, cfg.type, detail, n_files))
    if not rows:
        rows = [(name, None, None, "", n_files)]
    return rows


def describe(name: str, spark: SparkSession | None = None) -> DataFrame:
    """One row per configured index column."""
    spark = spark or context.get_spark()
    idx = get(name, spark)
    n_files = _file_counts(spark, [name])[name]
    return spark.createDataFrame(
        _describe_rows(name, idx.meta, n_files), _DESCRIBE_SCHEMA
    )


def describe_all(spark: SparkSession | None = None) -> DataFrame:
    """All indexes' descriptions from one Spark job: metadata comes
    from driver-side manifest reads, file counts from a single
    unioned groupBy (reference describeAll:
    IndexCatalog.scala:330-372, which loops per index)."""
    spark = spark or context.get_spark()
    conf = context.AriadneConf.load(spark)
    fs = get_fs(spark, conf.storage_path)
    names = list_indexes(spark)
    counts = _file_counts(spark, names)
    rows = []
    for name in names:
        meta = load_metadata(
            IndexPaths(conf.storage_path, name).metadata, name, fs=fs
        )
        if meta is None:
            continue
        rows.extend(_describe_rows(name, meta, counts[name]))
    return spark.createDataFrame(rows, _DESCRIBE_SCHEMA)


def find_indexes(column: str, spark: SparkSession | None = None) -> list[str]:
    """Indexes that have an index on ``column``."""
    spark = spark or context.get_spark()
    conf = context.AriadneConf.load(spark)
    fs = get_fs(spark, conf.storage_path)
    out = []
    for name in list_indexes(spark):
        meta = load_metadata(
            IndexPaths(conf.storage_path, name).metadata, name, fs=fs
        )
        if meta and meta.config_for(column) is not None:
            out.append(name)
    return out


def find_indexes_for_file(
    file_name: str, spark: SparkSession | None = None
) -> list[str]:
    """Indexes whose FileList tracks ``file_name`` — answers "which
    indexes must I update if this file changed?" (reference semantics:
    IndexCatalog.scala:248-262 findIndexes(fileName)). Sorted, like
    the reference's sorted list() traversal. The column-based lookup
    is the separate :func:`find_indexes` extension."""
    if not file_name or not file_name.strip():
        raise ValueError("file_name must not be null or blank")
    from .sources.files import normalize_path

    spark = spark or context.get_spark()
    # FileList stores canonicalized names (add_files normalizes) — the
    # lookup must normalize too or URI/percent-encoded forms never match
    target = normalize_path(file_name)
    out = []
    for name in list_indexes(spark):
        try:
            idx = get(name, spark)
        except IndexNotFoundError:
            continue
        if idx.filelist.contains(target):
            out.append(name)
    return out


_TODF_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("format", T.StringType(), False),
        T.StructField("regular_indexes", T.StringType(), False),
        T.StructField("bloom_indexes", T.StringType(), False),
        T.StructField("computed_indexes", T.StringType(), False),
        T.StructField("temporal_indexes", T.StringType(), False),
        T.StructField("range_indexes", T.StringType(), False),
        T.StructField("exploded_field_indexes", T.StringType(), False),
        T.StructField("file_count", T.LongType(), False),
        T.StructField("total_indexed_file_size", T.LongType(), False),
    ]
)


def to_df(spark: SparkSession | None = None) -> DataFrame:
    """One row per index with the reference's exact column set
    (IndexCatalog.scala:322-358): per-type comma-joined sorted column
    lists, file count, total indexed bytes. Metadata comes from
    driver-side manifest reads; file counts from the single unioned
    job :func:`describe_all` uses — never one job per index."""
    from .storage import metadata as M

    spark = spark or context.get_spark()
    conf = context.AriadneConf.load(spark)
    fs = get_fs(spark, conf.storage_path)
    names = list_indexes(spark)
    counts = _file_counts(spark, names)
    type_field = {
        M.REGULAR: "regular_indexes",
        M.BLOOM: "bloom_indexes",
        M.COMPUTED: "computed_indexes",
        M.TEMPORAL: "temporal_indexes",
        M.RANGE: "range_indexes",
        M.EXPLODED: "exploded_field_indexes",
    }
    rows = []
    for name in names:
        meta = load_metadata(
            IndexPaths(conf.storage_path, name).metadata, name, fs=fs
        )
        if meta is None:
            continue
        by_type: dict[str, list[str]] = {f: [] for f in type_field.values()}
        for cfg in meta.indexes:
            by_type[type_field[cfg.type]].append(cfg.column)
        rows.append(
            (
                name,
                meta.format,
                *(", ".join(sorted(by_type[f])) for f in _TODF_SCHEMA.names[2:8]),
                counts[name],
                int(meta.total_indexed_bytes),
            )
        )
    return spark.createDataFrame(rows, _TODF_SCHEMA)
