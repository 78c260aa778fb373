"""FileList — the ledger of files registered with an index.

A ParquetTable of ``(filename string)`` with insert-if-absent
semantics, mirroring the reference's Delta FileList
(reference: src/main/scala/dev/cjfravel/ariadne/FileList.scala:62-67,
dedup at :112-126). It holds no timestamp, so the same adds always
write the same bytes.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .fs import PosixFS
from .table import ParquetTable

FILELIST_SCHEMA = StructType(
    [
        StructField("filename", StringType(), False),
    ]
)
_ARROW_SCHEMA = pa.schema([pa.field("filename", pa.string(), nullable=False)])


class FileList:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        # segment_unique: add() dedups each batch (sorted(set(...))),
        # so every segment holds one row per filename -> min_by read
        self.table = ParquetTable(
            spark,
            path,
            key_cols=("filename",),
            dedup="first",
            segment_unique=True,
        )

    @property
    def files(self) -> DataFrame:
        df = self.table.read()
        if df is None:
            return self.spark.createDataFrame([], FILELIST_SCHEMA)
        return df

    def filenames(self) -> list[str]:
        if isinstance(self.table.fs, PosixFS):
            # a local ledger reads driver-side with pyarrow: no Spark job
            from ..plans.locate_local import list_filenames

            return list_filenames(self.table.path)
        # one filename-only scan of the live segments (explicit schema,
        # no shuffle); the driver set() collapses re-adds exactly like
        # the replace-per-key read would
        dirs = self.table.segment_dirs()
        if not dirs:
            return []
        rows = (
            self.spark.read.schema("filename string")
            .parquet(*dirs)
            .collect()
        )
        return sorted({r[0] for r in rows})

    def add(self, filenames: list[str]) -> None:
        """Register ``filenames``: one segment, written driver-side on
        local storage (see ``ParquetTable.append``)."""
        if not filenames:
            return
        names = pa.array(sorted(set(filenames)), pa.string())
        self.table.append(pa.Table.from_arrays([names], schema=_ARROW_SCHEMA))

    def remove(self, filenames: list[str]) -> None:
        if not filenames or not self.table.exists:
            return
        self.table.delete_where(F.col("filename").isin(list(filenames)))

    def contains(self, filename: str) -> bool:
        return (
            self.table.exists
            and self.files.where(F.col("filename") == filename).limit(1).count() > 0
        )
