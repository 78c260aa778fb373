"""Pre-flight analysis + greedy batch packing for index builds.

Before building, measure each file's worst-case distinct-value count
across indexed columns, then first-fit-decreasing pack files into
batches whose summed counts stay under ``largeIndexLimit``; oversize
files get a batch of their own (reference:
src/main/scala/dev/cjfravel/ariadne/IndexBuildOperations.scala:686-733
(analysis), :747-808 (packing); behavior pinned by its
BatchedIndexUpdateTests.scala:45-231).

This is the memory-control story at 100 TB: ``collect_set`` state per
(file, column) group is bounded by the batch budget, so executor heap
use is independent of total lake size. Analysis uses
``approx_count_distinct`` (HLL sketch, no exact-distinct shuffle) —
an upper-ish estimate is fine because the budget only controls
batching, not correctness.

Footer rule (``fits_one_batch``): a scalar column holds at most one
distinct value per row, and a fixed-length ``array(e1, ..., en)``
expression bloom at most n, so when the parquet footers' ``num_rows``
summed over the files, times that per-row bound, is below the budget,
the files form one batch by construction — and, the product being
below the budget, no file reaches ``largeIndexLimit`` distinct
values, so ``Index.update`` skips the spill-size job. That rule reads
only the footers, on the driver with pyarrow (no Spark job), and
needs local parquet paths; anything else — other array-shaped indexes
(exploded aliases, array expressions of no fixed length), other
formats, remote paths, an unreadable footer or a product over the
budget — runs the HLL analysis and the packing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.files import (
    FILENAME_COL,
    apply_virtual_columns,
    normalize_path,
    read_base,
    with_filename,
)
from ..storage.metadata import BLOOM, COMPUTED, EXPLODED, REGULAR, TEMPORAL, IndexConfig, IndexMetadata


def _counted(configs: list[IndexConfig]) -> list[IndexConfig]:
    return [
        cfg
        for cfg in configs
        if cfg.type in (REGULAR, COMPUTED, BLOOM, TEMPORAL, EXPLODED)
    ]


def fits_one_batch(
    spark: SparkSession,
    meta: IndexMetadata,
    files: list[str],
    configs: list[IndexConfig],
    budget: int,
) -> bool:
    """True when the footer rule proves ``files`` fit one batch under
    ``budget`` (see the module docstring); False means "analyze"."""
    if meta.format != "parquet":
        return False
    # resolve virtual-column types on an empty frame: analysis only
    base = read_base(spark, [], meta.format, meta.schema)
    df = apply_virtual_columns(base, configs)
    per_row = 1
    for cfg in _counted(configs):
        if isinstance(df.schema[cfg.column].dataType, T.ArrayType):
            n = _array_length(base, cfg)
            if n is None:
                return False
            per_row = max(per_row, n)
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = 0
    for f in files:
        path = normalize_path(f)
        if not path.startswith("/"):
            return False
        try:
            rows += pq.read_metadata(path).num_rows
        except (OSError, pa.ArrowException):
            return False
        if rows * per_row >= budget:  # spills start AT the limit (build.py)
            return False
    return True


def _array_length(base, cfg: IndexConfig) -> int | None:
    """The element count of an expression bloom whose analyzed
    expression is a fixed-length ``array(e1, ..., en)`` (a Catalyst
    ``CreateArray``): each row adds at most n distinct elements. None
    for any other array-valued index, which keeps the HLL analysis."""
    if cfg.type != BLOOM or cfg.expression is None:
        return None
    try:
        plan = base.select(F.expr(cfg.expression).alias("__n"))._jdf
        expr = plan.queryExecution().analyzed().projectList().apply(0).child()
        if expr.getClass().getSimpleName() != "CreateArray":
            return None
        return int(expr.children().size())
    except Exception:  # no analyzable projection: stay conservative
        return None


@dataclass
class FileAnalysis:
    filename: str
    max_distinct: int


def analyze_files(
    spark: SparkSession,
    meta: IndexMetadata,
    files: list[str],
    configs: list[IndexConfig],
) -> list[FileAnalysis]:
    """Per-file max estimated distinct count over value-indexed columns."""
    counted = _counted(configs)
    if not counted:
        return [FileAnalysis(f, 1) for f in files]

    df = read_base(spark, files, meta.format, meta.schema, meta.read_options)
    df = with_filename(df, files)
    df = apply_virtual_columns(df, configs, explode_rows=False)

    value_cols: list[F.Column] = []
    for cfg in counted:
        # array-shaped columns (exploded aliases, array-expression
        # blooms): size of the flattened distinct array ≈ distinct
        # elements; approximate with sum of array sizes (upper bound,
        # cheap). Scalars: approx_count_distinct.
        if isinstance(df.schema[cfg.column].dataType, T.ArrayType):
            value_cols.append(
                F.sum(F.coalesce(F.size(F.col(cfg.column)), F.lit(0))).alias(cfg.column)
            )
        else:
            value_cols.append(
                F.approx_count_distinct(F.col(cfg.column)).alias(cfg.column)
            )
    rows = df.groupBy(FILENAME_COL).agg(*value_cols).collect()
    seen = {}
    for r in rows:
        counts = [r[cfg.column] or 0 for cfg in configs if cfg.column in r.asDict()]
        seen[r[FILENAME_COL]] = FileAnalysis(r[FILENAME_COL], max([1] + [int(c) for c in counts]))
    # files with zero rows never appear in the groupBy output
    return [seen.get(normalize_path(f), FileAnalysis(normalize_path(f), 1)) for f in files]


def create_batches(analyses: list[FileAnalysis], budget: int) -> list[list[str]]:
    """First-fit-decreasing bin packing under ``budget`` distinct values;
    oversize files are isolated in singleton batches."""
    batches: list[tuple[int, list[str]]] = []
    for a in sorted(analyses, key=lambda a: -a.max_distinct):
        if a.max_distinct >= budget:
            batches.append((a.max_distinct, [a.filename]))
            continue
        for i, (used, names) in enumerate(batches):
            if used + a.max_distinct <= budget:
                batches[i] = (used + a.max_distinct, names + [a.filename])
                break
        else:
            batches.append((a.max_distinct, [a.filename]))
    return [names for _, names in batches]
