"""Spark 4 Python Data Source exposing an index as a native table
with file-pruning filter pushdown.

The reference integrates through a JVM DataSourceV2 catalog whose scan
builder accepts EqualTo/In filters for file-grain pruning and returns
every filter for Spark to re-apply row-level (reference:
catalog/AriadneTable.scala:78-79, catalog/AriadneScan.scala:50-60,
90-95). Python cannot implement a JVM catalog, but Spark 4's Python
Data Source API provides the same hooks natively
(``DataSourceReader.pushFilters`` + partition planning):

    spark.dataSource.register(AriadneDataSource)
    df = (spark.read.format("ariadne")
          .option("name", "orders")
          .option("storagePath", "/lake/_ariadne")
          .load())
    df.where(df.o_custkey == 5).show()   # reads only candidate files

The API runs planning callbacks in a dedicated Python worker with no
SparkSession, so planning goes through the same locate entry point as
every other surface (``ariadne_spark.index._locate``), which without a
session always runs the driver-side pyarrow planner
(plans/locate_local.py) over the on-disk index state. Each candidate
file becomes one InputPartition; executors stream their file as Arrow
record batches (no row-at-a-time Python).

Scope (documented divergences from the view/API surfaces):

* ``storagePath`` is a required option (no session conf to read).
* source columns only — computed/exploded virtual columns are Spark
  SQL expressions that cannot be evaluated in a Python worker; use
  the SQL views or ``Index.read_matching`` for those.
* no temporal latest-version dedup (a cross-file window); an index
  with temporal configs raises rather than silently returning stale
  versions.
* every filter is reported back as unhandled, so Spark re-applies all
  predicates row-level — pruning is only ever conservative.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from ..plans.locate import Band, tighten_band
from ..plans.locate_local import list_filenames
from ..storage.metadata import TEMPORAL, IndexMetadata, load_metadata
from ..storage.paths import IndexPaths


class AriadneDataSource(DataSource):
    """format("ariadne") — options: name, storagePath (both required)."""

    @classmethod
    def name(cls) -> str:
        return "ariadne"

    def _load(self) -> tuple[IndexPaths, IndexMetadata]:
        storage = self.options.get("storagepath")
        name = self.options.get("name")
        if not storage or not name:
            raise ValueError(
                "ariadne data source requires options 'name' and 'storagePath'"
            )
        paths = IndexPaths(storage.rstrip("/"), name)
        meta = load_metadata(paths.metadata, name)
        if meta is None:
            raise ValueError(f"no such index: {name} under {storage}")
        if any(c.type == TEMPORAL for c in meta.indexes):
            raise NotImplementedError(
                "index has temporal configs: latest-version dedup is a "
                "cross-file window the data source cannot apply — use the "
                "SQL view or Index API surfaces"
            )
        if (
            meta.format == "json"
            and str(meta.read_options.get("multiLine", "false")).lower() == "true"
        ):
            raise NotImplementedError(
                "multiLine JSON is not supported by the pyarrow-backed data "
                "source reader — use the SQL view or Index API surfaces"
            )
        return paths, meta

    def schema(self) -> StructType:
        _, meta = self._load()
        return meta.schema

    def reader(self, schema: StructType) -> "AriadneReader":
        paths, meta = self._load()
        return AriadneReader(paths, meta)


class _FilePartition(InputPartition):
    def __init__(self, path: str, fmt: str, schema_json: str, options: dict):
        self.path = path
        self.fmt = fmt
        self.schema_json = schema_json
        self.options = options


class AriadneReader(DataSourceReader):
    def __init__(self, paths: IndexPaths, meta: IndexMetadata):
        self._paths = paths
        self._meta = meta
        self._pushed: dict[str, list] = {}
        self._bands: dict[str, Band] = {}

    def pushFilters(self, filters):
        """Collect EqualTo/In (value pruning) plus >, >=, <, <= against
        RANGE-indexed columns (interval pruning) on indexed top-level
        columns; report EVERY filter back as unhandled so Spark
        re-applies them row-level (reference P8 semantics)."""
        indexed = {c.column for c in self._meta.indexes}
        range_cols = {
            c.column for c in self._meta.indexes if c.type == "range"
        }
        for f in filters:
            if isinstance(f, (EqualTo, In)) and len(f.attribute) == 1:
                col = f.attribute[0]
                if col in indexed:
                    vals = list(f.value) if isinstance(f, In) else [f.value]
                    self._pushed.setdefault(col, []).extend(vals)
            elif (
                isinstance(
                    f,
                    (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
                )
                and len(f.attribute) == 1
                and f.attribute[0] in range_cols
            ):
                col = f.attribute[0]
                self._bands[col] = tighten_band(
                    self._bands.get(col), type(f).__name__, f.value
                )
            yield f  # all filters remain Spark's responsibility

    def partitions(self):
        if self._pushed or self._bands:
            from .. import index

            # equality values bound a column tighter than its band
            query = {**self._bands, **self._pushed}
            files, _ = index._locate(
                None, self._meta, None, None, query, paths=self._paths
            )
        else:
            files = list_filenames(self._paths.filelist)
        parts = [
            _FilePartition(
                f,
                self._meta.format,
                self._meta.schema.json(),
                dict(self._meta.read_options),
            )
            for f in sorted(files)
        ]
        if not parts:
            # everything pruned: Spark still schedules one task (with a
            # None partition) — hand it an explicit empty marker so
            # read() can return zero rows with the right schema
            parts = [
                _FilePartition(
                    None,
                    self._meta.format,
                    self._meta.schema.json(),
                    {},
                )
            ]
        return parts

    def read(self, partition: _FilePartition):
        """Executor-side: stream the file as Arrow record batches."""
        import json

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType as _St

        schema = _St.fromJson(json.loads(partition.schema_json))
        if partition.path is None:  # empty marker: no candidate files
            return
        arrow_schema = to_arrow_schema(schema)
        if partition.fmt == "parquet":
            import pyarrow.parquet as pq

            table = pq.read_table(partition.path)
        elif partition.fmt == "csv":
            import pyarrow.csv as pacsv

            opts = partition.options
            header = opts.get("header", "false").lower() == "true"
            delim = opts.get("delimiter", opts.get("sep", ","))
            names = [f.name for f in schema.fields]
            read_opts = pacsv.ReadOptions(column_names=None if header else names)
            parse_opts = pacsv.ParseOptions(delimiter=delim)
            conv_opts = pacsv.ConvertOptions(
                column_types={
                    f.name: t for f, t in zip(schema.fields, arrow_schema.types)
                }
            )
            table = pacsv.read_csv(
                partition.path,
                read_options=read_opts,
                parse_options=parse_opts,
                convert_options=conv_opts,
            )
        elif partition.fmt == "orc":
            import pyarrow.orc as paorc

            table = paorc.ORCFile(partition.path).read()
        elif partition.fmt == "json":
            import pyarrow.json as pajson

            if partition.options.get("multiline", "false").lower() == "true":
                raise NotImplementedError(
                    "multiLine JSON is not supported by the pyarrow-backed "
                    "data source reader — use the SQL view or Index API"
                )
            table = pajson.read_json(partition.path)
        else:  # pragma: no cover
            raise ValueError(f"unsupported format {partition.fmt}")
        # align to the declared schema (order, types, missing columns)
        cols = []
        for field, a_type in zip(schema.fields, arrow_schema.types):
            if field.name in table.column_names:
                cols.append(table[field.name].cast(a_type))
            else:
                cols.append(pa.nulls(len(table), a_type))
        aligned = pa.table(dict(zip([f.name for f in schema.fields], cols)))
        yield from aligned.to_batches(max_chunksize=65536)


def register(spark) -> None:
    from .. import context

    context.ship_package(spark)
    # pushFilters requires the (off-by-default) python pushdown flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AriadneDataSource)
