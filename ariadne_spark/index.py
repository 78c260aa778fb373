"""The public ``Index`` API.

An Index is a named collection of per-file summaries over a set of
registered data-lake files (csv/json/parquet), supporting six index
types (regular, computed, exploded, bloom, temporal, range — one type
per column), incremental batched builds, file-level pruning queries,
and index-accelerated joins of any Spark join type (reference public
surface: src/main/scala/dev/cjfravel/ariadne/Index.scala:34-1279 and
the trait stack documented in SURVEY §0).

Usage::

    spark.conf.set("spark.ariadne.storagePath", "/tmp/ariadne")
    idx = Index.for_name("orders", schema=schema, format="parquet")
    idx.add_index("o_custkey")
    idx.add_range_index("o_totalprice")
    idx.add_files(["/lake/orders/day1.parquet", ...])
    idx.update()
    result = idx.join(customers_df, on=["o_custkey"])   # pruned join
"""

from __future__ import annotations

import json
import logging

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import context
from .exceptions import (
    ColumnNotFoundError,
    ColumnNotIndexedError,
    FormatMismatchError,
    IndexNotFoundError,
    IndexTypeConflictError,
    InvalidFprError,
    MissingFormatError,
    NotArrayColumnError,
    NotTopLevelColumnError,
    ReservedColumnError,
    SchemaMismatchError,
    SchemaNotProvidedError,
    UnsupportedFormatError,
)
from .operators.build import (
    DriverBuildDeclined,
    build_index_rows,
    plan_driver_build,
    split_large_indexes,
)
from .operators.join import apply_temporal_dedup, prune_metrics_local
from .plans.batching import analyze_files, create_batches, fits_one_batch
from .plans import locate as spark_planner
from .plans import locate_local as local_planner
from .plans.locate import Band, LocateStats
from .sources.files import (
    FILENAME_COL,
    SUPPORTED_FORMATS,
    normalize_path,
    nested_root,
    read_pipeline,
)
from .storage.filelist import FileList
from .storage.fs import PosixFS, get_fs
from .storage.lock import IndexLock
from .storage.metadata import (
    BLOOM,
    COMPUTED,
    EXPLODED,
    RANGE,
    REGULAR,
    TEMPORAL,
    IndexConfig,
    IndexMetadata,
    load_metadata,
    save_metadata,
)
from .storage.paths import IndexPaths
from .storage.table import ParquetTable

log = logging.getLogger("ariadne")

_WIDE_KEY = "__ariadne_wide_key"


def _locate(
    spark: SparkSession | None,
    meta: IndexMetadata,
    index_df,
    large_tables,
    query: "DataFrame | dict",
    columns: list[str] | None = None,
    *,
    paths: IndexPaths,
    repartition: int | None = None,
    min_bloom_bytes: int = 0,
    totals=None,
) -> tuple[list[str], LocateStats]:
    """Candidate files for ``query`` — the one entry point of every
    locate: ``Index.locate_files``, ``located_data`` (``join`` /
    ``join_from``), the SQL rewrite, the store-index prune of
    ``operators.dedup`` and the Data Source.

    ``query`` is a DataFrame of join keys (its ``columns``) or a dict
    {column: literal values | Band | DataFrame | Arrow array}. Literal
    values, a list or an Arrow array alike, are first de-duplicated,
    null-dropped and cast to the indexed column's type (``TypeError``
    for a value that cannot be cast). The driver-side planner
    (plans/locate_local.py) then runs when the index tables the query
    reads stay under ``LOCAL_INDEX_MAX_BYTES`` and each DataFrame
    source's keys under ``LOCAL_KEYS_MAX_BYTES`` (collected once, as
    distinct values through Arrow); otherwise the Spark planner
    (plans/locate.py) runs, unchanged. ``stats.planner`` and every
    ``per_column`` record say which ran, ``planner_reason`` why Spark.

    ``index_df`` (-> DataFrame | None), ``large_tables`` (columns ->
    {column: DataFrame | None}) and ``totals`` (-> (files, bytes)) are
    callables only the Spark planner evaluates. ``spark`` None (the
    Data Source's planning worker) always plans on the driver."""
    cols = list(query) if isinstance(query, dict) else list(columns or [])
    cfgs = {}
    for col in cols:
        cfgs[col] = meta.config_for(col)
        if cfgs[col] is None:
            raise ColumnNotIndexedError(col)
    local = local_planner.is_local(paths.index)
    segs = local_planner.segments(paths.index) if local else None
    sources = {c: query[c] if isinstance(query, dict) else query for c in cols}
    types = {c: local_planner.value_type(meta, cfgs[c], segs) for c in cols}
    typed: dict = {}
    for col, src in sources.items():
        if isinstance(src, DataFrame):
            continue
        if isinstance(src, Band):
            if cfgs[col].type != RANGE:
                raise ColumnNotIndexedError(
                    f"{col}: Band queries need a range index, not {cfgs[col].type}"
                )
            typed[col] = local_planner.typed_band(col, src, types[col])
        else:
            typed[col] = local_planner.typed_values(col, src, types[col])

    reason = scanned = None
    if not local:
        if spark is None:
            raise ValueError(f"remote index {paths.index!r} needs a SparkSession")
        reason = "index storage is not a local filesystem"
    else:
        large_segs = {
            c: local_planner.segments(paths.large_index(c))
            for c in cols
            if cfgs[c].type in local_planner.SPILL_TYPES
        }
        nbytes = sum(
            s.nbytes for ss in [segs, *large_segs.values()] for s in ss or []
        )
        cap = spark_planner.LOCAL_INDEX_MAX_BYTES
        if spark is not None and nbytes > cap:
            reason = f"index bytes {nbytes} > LOCAL_INDEX_MAX_BYTES {cap}"
    if reason is None:
        stats = LocateStats(planner="local")
        if segs is None:
            return [], stats
        live = local_planner.LocalIndex(meta, segs, large_segs, cols)
        stats.totals = live.totals
        plan: dict = {}
        frames: dict = {}
        for col, src in sources.items():
            cfg = cfgs[col]
            rec = stats.per_column[col] = {
                "type": cfg.type,
                "skipped": False,
                "source": (
                    "band" if isinstance(src, Band)
                    else "frame" if isinstance(src, DataFrame) else "values"
                ),
                "planner": "local",
            }
            if not isinstance(src, DataFrame):
                if not isinstance(src, Band):
                    rec["n_values"] = len(typed[col])
                plan[col] = typed[col]
            elif (
                cfg.type == BLOOM
                and min_bloom_bytes
                and live.totals[1] < min_bloom_bytes
            ):
                # the Spark planner's cost-model skip, kept as is
                # (spark.ariadne.minBloomPruneBytes)
                rec.update(
                    skipped=True,
                    reason=f"index bytes {live.totals[1]} < minBloomPruneBytes",
                )
            else:
                frames.setdefault(id(src), (src, []))[1].append(col)
        for frame, fcols in frames.values():
            keys, reason = _collect_keys(frame, fcols)
            if reason is not None:
                break
            for col in fcols:
                t = types[col]
                try:
                    plan[col] = keys[col] if t is None else keys[col].cast(t)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                    reason = f"{col}: {keys[col].type} keys do not cast to {t}"
                    break
            if reason is not None:
                break
        if reason is None:
            return live.locate(plan, stats), stats
        scanned = live.totals
        totals = (lambda: scanned)

    spark_query = query
    if isinstance(query, dict):
        spark_query = {
            c: (
                typed[c] if isinstance(typed.get(c), Band)
                else local_planner.python_values(cfgs[c], typed[c]) if c in typed
                else query[c]
            )
            for c in cols
        }
    files, stats = spark_planner.locate_files(
        spark,
        meta,
        index_df(),
        large_tables(cols),
        spark_query,
        columns,
        repartition=repartition,
        min_bloom_bytes=min_bloom_bytes,
        total_bytes=totals()[1] if min_bloom_bytes else None,
    )
    stats.totals, stats.planner_reason = scanned, reason
    for rec in stats.per_column.values():
        rec.update(planner="spark", planner_reason=reason)
    return files, stats


def _collect_keys(frame: DataFrame, cols: list[str]):
    """({column: distinct non-null keys as Arrow}, None), or (None,
    reason) for a key set the driver should not hold. The frame executes
    once and what comes back is bounded in bytes before it is pulled:
    at most ``LOCAL_KEYS_MAX_BYTES`` over the row width distinct rows,
    where a fixed-width key counts its width and a string or binary key
    ``LOCAL_KEY_MAX_WIDTH`` (+4 offset bytes). A longer key comes back
    as null with a flag that sends the locate to the Spark planner, as
    does a key type of no fixed width."""
    from pyspark.sql.pandas.types import to_arrow_type

    sel = frame.select(*cols)
    wmax = spark_planner.LOCAL_KEY_MAX_WIDTH
    width, var = 0, []
    for f in sel.schema.fields:
        try:
            t = to_arrow_type(f.dataType)
        except TypeError as e:  # an exotic key type: stay distributed
            return None, f"keys have no Arrow form ({e})"
        if pa.types.is_string(t) or pa.types.is_binary(t):
            var.append(f.name)
            width += wmax + 4
        elif pa.types.is_primitive(t) or pa.types.is_decimal(t):
            width += max(1, t.bit_width // 8)
        else:
            return None, f"{f.name}: {t} keys have no bounded width"
    cap = spark_planner.LOCAL_KEYS_MAX_BYTES
    max_rows = cap // width
    limited = sel.distinct().limit(max_rows + 1)
    if var:
        limited = limited.select(
            *[
                F.when(F.octet_length(c) <= wmax, F.col(c)).alias(c)
                if c in var else F.col(c)
                for c in cols
            ],
            F.greatest(
                *[F.coalesce(F.octet_length(c) > wmax, F.lit(False)) for c in var],
                F.lit(False),
            ).alias(_WIDE_KEY),
        )
    tbl = limited.toArrow()
    if tbl.num_rows > max_rows:
        return None, f"distinct keys over LOCAL_KEYS_MAX_BYTES {cap}"
    if var and pc.any(tbl[_WIDE_KEY]).as_py():
        return None, f"a key over LOCAL_KEY_MAX_WIDTH {wmax} bytes"
    return {c: pc.unique(tbl[c].drop_null()) for c in cols}, None


class Index:
    """Handle to one named index under ``spark.ariadne.storagePath``."""

    # ------------------------------------------------------------ create

    def __init__(self, spark: SparkSession, meta: IndexMetadata, paths: IndexPaths):
        context.ship_package(spark)
        self.spark = spark
        self.meta = meta
        self.paths = paths
        self.fs = get_fs(spark, paths.root)
        self.filelist = FileList(spark, paths.filelist)
        # segment_unique: every update() batch appends exactly one row
        # per file (build.py attach_file_sizes frames a unique file
        # list), so reads take the max_by partial-agg dedup path
        self.table = ParquetTable(
            spark, paths.index, key_cols=("filename",), segment_unique=True
        )
        self._selection: list[str] | None = None
        self._index_df_cache: DataFrame | None = None
        self._index_df_cached = False
        self._totals_cache: tuple[int, int] | None = None
        self._last_locate_stats = LocateStats()
        self._locate_memo: dict = {}

    @classmethod
    def for_name(
        cls,
        name: str,
        schema: T.StructType | str | None = None,
        format: str | None = None,
        read_options: dict | None = None,
        allow_schema_mismatch: bool = False,
        spark: SparkSession | None = None,
    ) -> "Index":
        """Open or create an index (reference factory:
        Index.scala:1149-1279 with identical schema/format rules)."""
        spark = spark or context.get_spark()
        conf = context.AriadneConf.load(spark)
        paths = IndexPaths(conf.storage_path, name)
        fs = get_fs(spark, paths.root)
        if isinstance(schema, str):
            schema = T.StructType.fromJson(json.loads(schema))

        existing = load_metadata(paths.metadata, name, fs=fs)
        if existing is None:
            if schema is None:
                raise SchemaNotProvidedError(name)
            if format is None:
                raise MissingFormatError(name)
            if format not in SUPPORTED_FORMATS:
                raise UnsupportedFormatError(format)
            meta = IndexMetadata(
                name=name,
                format=format,
                schema_json=schema.json(),
                read_options=dict(read_options or {}),
            )
            save_metadata(paths.metadata, meta, fs=fs)
            return cls(spark, meta, paths)

        if format is not None and format != existing.format:
            raise FormatMismatchError(f"{existing.format} != {format}")
        changed = False
        if schema is not None and json.loads(schema.json()) != json.loads(
            existing.schema_json
        ):
            if not allow_schema_mismatch:
                raise SchemaMismatchError(name)
            new_fields = {f.name for f in schema.fields}
            for cfg in existing.indexes:
                needed = cfg.source_column if cfg.type == EXPLODED else cfg.column
                if cfg.type != COMPUTED and needed not in new_fields:
                    raise SchemaMismatchError(
                        f"indexed column {needed} missing from new schema"
                    )
            existing.schema_json = schema.json()
            changed = True
        if read_options:
            merged = {**existing.read_options, **read_options}
            if merged != existing.read_options:
                existing.read_options = merged
                changed = True
        if changed:
            # reconnect is read-only unless schema/options actually merge
            # (new-wins merge semantics: reference Index.scala:1256-1273)
            save_metadata(paths.metadata, existing, fs=fs)
        return cls(spark, existing, paths)

    @classmethod
    def exists(cls, name: str, spark: SparkSession | None = None) -> bool:
        spark = spark or context.get_spark()
        conf = context.AriadneConf.load(spark)
        paths = IndexPaths(conf.storage_path, name)
        fs = get_fs(spark, paths.root)
        return load_metadata(paths.metadata, name, fs=fs) is not None

    # ------------------------------------------------------------ config

    @property
    def conf(self) -> context.AriadneConf:
        return context.AriadneConf.load(self.spark)

    @property
    def name(self) -> str:
        return self.meta.name

    def _schema_fields(self) -> dict[str, T.StructField]:
        return {f.name: f for f in self.meta.schema.fields}

    def _require_top_level(self, column: str) -> None:
        if "." in column:
            raise NotTopLevelColumnError(column)

    def _require_source_column(self, column: str) -> T.StructField:
        fields = self._schema_fields()
        if column not in fields:
            raise ColumnNotFoundError(column)
        return fields[column]

    def _virtual_columns(self) -> set[str]:
        return {
            c.column for c in self.meta.indexes if c.type in (COMPUTED, EXPLODED)
        }

    # internal columns of the index/filelist tables; indexing one would
    # collide at build time (reference reserves its staging columns the
    # same way, StagingRecoveryTests "internal staging column names")
    _RESERVED_COLUMNS = frozenset(
        {"filename", "file_size", "_ariadne_seq", "_ariadne_pick"}
    )

    def _register(self, cfg: IndexConfig) -> None:
        if (
            cfg.column in self._RESERVED_COLUMNS
            or cfg.column.startswith("_ariadne")
        ):
            raise ReservedColumnError(cfg.column)
        if cfg.type == BLOOM:
            fpr = 0.01 if cfg.fpr is None else cfg.fpr
            if not (0.0 < fpr < 1.0):
                raise InvalidFprError(f"fpr must be in (0, 1), got {cfg.fpr}")
        current = self.meta.config_for(cfg.column)
        if current is not None:
            if current.to_dict() == cfg.to_dict():
                return  # idempotent re-register
            raise IndexTypeConflictError(
                f"column {cfg.column!r} already has a {current.type} index"
            )
        if cfg.type in (REGULAR, TEMPORAL, RANGE) or (
            cfg.type == BLOOM and cfg.expression is None
        ):
            self._require_top_level(cfg.column)
            self._require_source_column(cfg.column)
        # alias-style configs (computed, exploded, expression blooms)
        # must not shadow a source column
        if (
            cfg.type in (COMPUTED, EXPLODED)
            or (cfg.type == BLOOM and cfg.expression is not None)
        ) and (cfg.column in self._schema_fields() or "." in cfg.column):
            raise IndexTypeConflictError(
                f"alias {cfg.column!r} collides with a source column"
            )
        if cfg.type == TEMPORAL:
            self._require_source_column(nested_root(cfg.timestamp_column))
        if cfg.type == EXPLODED:
            f = self._require_source_column(cfg.source_column)
            if not isinstance(f.dataType, T.ArrayType):
                raise NotArrayColumnError(cfg.source_column)
        self.meta.indexes.append(cfg)
        save_metadata(self.paths.metadata, self.meta, fs=self.fs)

    def add_index(self, column: str) -> "Index":
        self._register(IndexConfig(REGULAR, column))
        return self

    def add_computed_index(self, column: str, expression: str) -> "Index":
        self._register(IndexConfig(COMPUTED, column, expression=expression))
        return self

    def add_exploded_index(
        self, source_column: str, as_column: str, field: str | None = None
    ) -> "Index":
        self._register(
            IndexConfig(EXPLODED, as_column, source_column=source_column, field=field)
        )
        return self

    def add_bloom_index(
        self, column: str, fpr: float = 0.01, expression: str | None = None
    ) -> "Index":
        """Bloom index over ``column``, or — with ``expression`` — over
        a build-time Spark SQL expression aliased as ``column``. An
        array-valued expression blooms the distinct ELEMENTS, which
        lets the index prune files by DERIVED keys the rows don't
        store (e.g. per-row MinHash band keys — see
        ``operators.dedup.signature_store_index``). The alias is probe-
        only: it never appears in read/join output (unlike computed
        columns), exactly like the reference's bloom columns
        (BloomFilterOperations.scala:95-173)."""
        self._register(IndexConfig(BLOOM, column, fpr=fpr, expression=expression))
        return self

    def add_temporal_index(self, column: str, timestamp_column: str) -> "Index":
        self._register(
            IndexConfig(TEMPORAL, column, timestamp_column=timestamp_column)
        )
        return self

    def add_range_index(self, column: str) -> "Index":
        self._register(IndexConfig(RANGE, column))
        return self

    # ------------------------------------------------------------ files

    def add_file(self, path: str) -> "Index":
        return self.add_files([path])

    def _tables_fingerprint(self) -> tuple:
        """(filelist version, index-table version) — two manifest
        directory listings, no Spark job. Any committed write to
        either table changes it, including writes by OTHER handles or
        processes, so state keyed on it can never go stale silently."""
        return (
            self.filelist.table._latest_version(),
            self.table._latest_version(),
        )

    def add_files(self, paths: list[str]) -> "Index":
        """Register files with the FileList.

        r11 (guide §1.3/§6.2): a handle whose last ``update()``
        verified the index fully synced tracks the files added since
        as ``_pending_files``, fingerprint-guarded — the steady-state
        one-new-file micro-batch ``update()`` then skips the two
        filename set-diff read jobs entirely. Any fingerprint mismatch
        (another writer, a crash, a fresh handle) falls back to the
        exact FileList ∖ index computation, so the fast path can never
        hide an unindexed file."""
        names = [normalize_path(p) for p in paths]
        pre = self._tables_fingerprint()
        if pre == getattr(self, "_synced_fingerprint", None):
            base: set | None = set()
        elif (
            getattr(self, "_pending_files", None) is not None
            and pre == getattr(self, "_pending_fingerprint", None)
        ):
            base = set(self._pending_files)
        else:
            base = None
        self.filelist.add(names)
        if not names:
            return self
        if base is not None:
            post = self._tables_fingerprint()
            # version continuity: the only commit since ``pre`` must be
            # this add's own FileList commit — a foreign add that landed
            # in between would otherwise be absorbed into the fingerprint
            # without being in the pending set
            if post != ((pre[0] or 0) + 1, pre[1]):
                base = None
        if base is None:
            self._pending_files = None
        else:
            self._pending_files = base | set(names)
            self._pending_fingerprint = post
        return self

    def has_file(self, path: str) -> bool:
        """Whether ``path`` is registered with this index (reference:
        Index.scala:107 ``hasFile`` — same FileList membership check,
        same path normalization as :meth:`add_files`)."""
        return self.filelist.contains(normalize_path(path))

    @property
    def files(self) -> DataFrame:
        return self.filelist.files

    @property
    def indexes(self) -> set[str]:
        """The union of all indexed column names across every index
        type (reference: Index.scala:372 ``indexes`` — the reference
        unions six per-type metadata collections; here every type
        lives in one IndexConfig list under its indexed/aliased
        column)."""
        return {cfg.column for cfg in self.meta.indexes}

    @property
    def index_df(self) -> DataFrame | None:
        """Current main-index frame; the DataFrame object is reused
        across locate/metrics/join steps of one operation so Spark
        analyzes the lineage once (invalidated by any write)."""
        if not self._index_df_cached:
            self._index_df_cache = self.table.read()
            self._index_df_cached = True
        return self._index_df_cache

    def _invalidate(self) -> None:
        self._index_df_cache = None
        self._index_df_cached = False
        self._totals_cache = None

    def _index_totals(self) -> tuple[int, int]:
        """(total_files, total_bytes) of the index — one agg job,
        cached until the next write (query-path metrics reuse it)."""
        if self._totals_cache is None:
            idx = self.index_df
            if idx is None:
                self._totals_cache = (0, 0)
            elif "file_size" in idx.columns:
                row = idx.agg(
                    F.count("*").alias("f"), F.sum("file_size").alias("b")
                ).collect()[0]
                self._totals_cache = (row["f"], row["b"] or 0)
            else:
                self._totals_cache = (idx.count(), 0)
        return self._totals_cache

    def large_df(self, column: str) -> DataFrame | None:
        t = ParquetTable(
            self.spark, self.paths.large_index(column), key_cols=("filename",)
        )
        if not t.exists:
            return None
        df = t.read()
        if df is None:
            return None
        # A large row is live only while the main row's array is nulled
        # (re-indexing a file back under the limit supersedes its spill
        # rows without needing a delete — SURVEY S9's MERGE-delete analog).
        idx = self.index_df
        if idx is not None and column in idx.columns:
            df = df.join(
                idx.where(F.col(column).isNull()).select("filename"),
                "filename",
                "left_semi",
            )
        return df

    def unindexed_files(self) -> list[str]:
        """FileList ∖ index (reference J1: Index.scala:166-183).

        Two raw filename-only reads of the live segments (explicit
        schema, so parquet prunes to one tiny column and no shuffle
        runs) with the set difference on the driver — exact because
        both tables key on filename (see ``ParquetTable.segment_dirs``),
        and driver-sized because ``update()`` materializes this list
        anyway. A replace-per-key read + anti-join plan costs 5 Spark
        jobs per update against 2; on a local store both reads run
        driver-side with pyarrow, no job at all."""
        if isinstance(self.fs, PosixFS):
            return sorted(
                set(self.filelist.filenames())
                - set(local_planner.list_filenames(self.paths.index))
            )
        fl_dirs = self.filelist.table.segment_dirs()
        if not fl_dirs:
            return []
        reader = self.spark.read.schema("filename string")
        fl_names = {
            r[0] for r in reader.parquet(*fl_dirs).collect()
        }
        ix_dirs = self.table.segment_dirs()
        ix_names = (
            {r[0] for r in reader.parquet(*ix_dirs).collect()}
            if ix_dirs
            else set()
        )
        return sorted(fl_names - ix_names)

    def _files_needing_column_update(self) -> list[str]:
        """Column backfill: if a newly-registered index column is absent
        from the stored table, every file must be re-indexed for it
        (reference: Index.scala:194-212)."""
        idx = self.index_df
        if idx is None:
            return []
        expected = {c.stored_column for c in self.meta.indexes}
        if expected - set(idx.columns):
            return self.filelist.filenames()
        return []

    # ------------------------------------------------------------ build

    def update(self, footer_stats: bool = False) -> "Index":
        """Bring the index up to date with the FileList (reference
        orchestration: Index.scala:635-693). Batched so per-batch
        collect_set state stays under largeIndexLimit; every batch
        commit is atomic, so a crashed update resumes where it left
        off (unindexed files are recomputed from FileList ∖ index).
        Plain-column indexes over a bounded local parquet batch build
        on the driver in one batch, with no Spark job
        (``operators.build.plan_driver_build``).

        ``footer_stats=True`` builds RANGE indexes from parquet FOOTER
        statistics instead of scanning data — indexing an existing
        lake costs one footer read per file. Eligible only when every
        configured index is RANGE and the format is parquet; falls
        back to the scan build otherwise (and on any footer-read
        error). String ranges may be wider than scan-built (parquet
        truncates string stats) — pruning-safe, never lossy."""
        conf = self.conf
        lock = self._update_lock(conf)
        with lock, lock.heartbeat():
            # pending fast path (see add_files): when the only writes
            # since the last verified-synced update are this handle's
            # own add_files calls — proven by the version fingerprint,
            # re-checked here UNDER the lock — the unindexed set is
            # exactly the pending set, no read jobs needed. The
            # FileList version is taken BEFORE the unindexed set is
            # computed, so _mark_synced can tell whether a foreign
            # add_files landed while this update ran.
            fp = self._tables_fingerprint()
            pend = getattr(self, "_pending_files", None)
            if pend is not None and fp == getattr(
                self, "_pending_fingerprint", None
            ):
                unindexed = set(pend)
            else:
                unindexed = set(self.unindexed_files())
            todo = unindexed | set(self._files_needing_column_update())
            if not todo:
                self._mark_synced(fp[0])
                return self
            use_footers = (
                footer_stats
                and self.meta.format == "parquet"
                and self.meta.indexes
                and all(c.type == RANGE for c in self.meta.indexes)
            )
            if not use_footers and self._driver_update(conf, lock, sorted(todo), fp[0]):
                return self
            # footer proof: every counted index is scalar and the
            # files' footer rows sum under largeIndexLimit, so no file
            # holds that many distinct values — nothing can spill
            no_spill = use_footers or fits_one_batch(
                self.spark,
                self.meta,
                sorted(todo),
                self.meta.indexes,
                conf.large_index_limit,
            )
            if no_spill or len(todo) == 1:
                # range structs hold no collect_set state, so batch
                # packing (and its HLL analysis scan) is unnecessary;
                # a single file likewise always forms exactly one
                # batch (oversize files get their own batch anyway),
                # so the analysis scan would only re-derive that —
                # skipping it saves 2 jobs on the steady-state
                # one-new-file micro-batch path; and scalar indexes
                # over few enough footer rows fit one batch by count
                batches = [sorted(todo)]
            else:
                analyses = analyze_files(
                    self.spark, self.meta, sorted(todo), self.meta.indexes
                )
                batches = create_batches(analyses, conf.large_index_limit)
            log.info(
                "index %s: updating %d files in %d batches",
                self.name, len(todo), len(batches),
            )
            array_cols = [
                c.column
                for c in self.meta.indexes
                if c.type in (REGULAR, COMPUTED, EXPLODED)
            ]
            temporal_cols = [
                c.column for c in self.meta.indexes if c.type == TEMPORAL
            ]
            synced = fp[0]
            for batch in batches:
                if use_footers:
                    try:
                        from .operators.build import (
                            build_range_rows_from_footers,
                        )

                        rows = build_range_rows_from_footers(
                            self.spark, self.meta, batch
                        )
                    except Exception as e:
                        log.warning(
                            "index %s: footer-stats build failed (%s); "
                            "falling back to scan build", self.name, e,
                        )
                        rows = build_index_rows(self.spark, self.meta, batch)
                else:
                    rows = build_index_rows(self.spark, self.meta, batch)
                if not no_spill:
                    # the spill check and the write both read the rows
                    rows = rows.cache()
                try:
                    main_rows, large = rows, {}
                    if not no_spill:
                        main_rows, large = split_large_indexes(
                            self.spark,
                            rows,
                            array_cols,
                            conf.large_index_limit,
                            conf.auto_bloom_fpr,
                            temporal_cols=temporal_cols,
                        )
                    self._commit_rows(main_rows, large)
                finally:
                    rows.unpersist()
                synced = self._batch_committed(conf, lock, synced)
            self._finish_update(conf, synced)
        return self

    def _driver_update(self, conf, lock, todo: list[str], synced: int | None) -> bool:
        """Build and commit ``todo`` as one driver-side batch when
        :func:`plan_driver_build` accepts it; False, having committed
        nothing, when the batch builds through Spark."""
        plan = plan_driver_build(
            self.spark,
            self.fs,
            self.meta,
            todo,
            conf.large_index_limit,
            conf.auto_bloom_fpr,
        )
        try:
            if isinstance(plan, str):
                raise DriverBuildDeclined(plan)
            built = build_index_rows(self.spark, self.meta, todo, local=plan)
        except DriverBuildDeclined as e:
            log.info("index %s: building through Spark: %s", self.name, e)
            return False
        self._commit_rows(built.main, built.large)
        self._finish_update(conf, self._batch_committed(conf, lock, synced))
        return True

    def _commit_rows(self, main, large: dict) -> None:
        """Commit one batch's index rows: the spill tables first, then
        the main rows that make them live. Frames or Arrow tables."""
        for col, rows in large.items():
            ParquetTable(
                self.spark, self.paths.large_index(col), key_cols=("filename",)
            ).append(rows)
        self.table.append(main)
        self._invalidate()

    def _update_lock(self, conf) -> IndexLock:
        return IndexLock(
            self.paths.locks,
            "update",
            timeout=conf.lock_timeout,
            retry_interval=conf.lock_retry_interval,
            max_wait=conf.lock_max_wait,
            fs=self.fs,
        )

    def _batch_committed(self, conf, lock, synced: int | None) -> int | None:
        """Bookkeeping after one batch's index rows commit: count it,
        and consolidate once ``stagingConsolidationThreshold`` batches
        have accumulated. ``synced`` is the FileList version the indexed
        set stands for; returns it as the consolidation leaves it (see
        :meth:`_compact_tables`)."""
        self.meta.batches_since_compact += 1
        lock.refresh()
        if self.meta.batches_since_compact >= conf.staging_consolidation_threshold:
            synced = self._compact_tables(synced)
            self.meta.batches_since_compact = 0
        return synced

    def _finish_update(self, conf, filelist_version: int | None) -> None:
        """The tail of every update: size accounting, auto-compaction,
        the metadata save and the synced fingerprint."""
        self.meta.update_count += 1
        self._refresh_size_accounting()
        if (
            conf.auto_compact_threshold is not None
            and self.meta.batches_since_compact >= conf.auto_compact_threshold
        ):
            filelist_version = self._compact_tables(filelist_version)
            self.meta.batches_since_compact = 0
        save_metadata(self.paths.metadata, self.meta, fs=self.fs)
        self._mark_synced(filelist_version)

    def write_through(self, path: str, values: dict) -> bool:
        """Register ``path`` and commit its index row from values the
        caller already holds, with no Spark job — the write-through of a
        pipeline store whose writer knows each new file's keys
        (``operators.dedup``). ``values`` maps each configured column
        to an Arrow array of the file's values.

        It runs when the index is on local storage, every configured
        index is a bloom over integer or string values, every bloom
        has at least one value, and the stored table already carries
        every bloom column; otherwise it commits nothing and returns
        False, and ``update()`` builds the row through Spark. The row
        is the one ``update()`` builds, byte for byte: ``(filename,
        file_size, bloom_<column> = bloom.build(distinct values,
        fpr))``. Under the update lock the FileList commits first and
        the index row second, so a crash between the two leaves the
        file registered and reported by ``unindexed_files()``, which
        the next ``update()`` builds. A handle synced before the call
        stays synced."""
        from .functions import bloom as bloomfn
        from .storage.fs import batch_sizes

        cfgs = self.meta.indexes
        if not (
            isinstance(self.fs, PosixFS)
            and cfgs
            and all(c.type == BLOOM and c.column in values for c in cfgs)
        ):
            return False
        keys = {c.column: pc.unique(values[c.column].drop_null()) for c in cfgs}
        if not all(
            len(k) and (pa.types.is_integer(k.type) or pa.types.is_string(k.type))
            for k in keys.values()
        ):
            return False
        segs = local_planner.segments(self.paths.index)
        stored = {f["name"] for s in segs or [] for f in (s.schema or {}).get("fields", [])}
        if segs and not {c.stored_column for c in cfgs} <= stored:
            return False  # a column backfill is due: update() runs it
        name = normalize_path(path)
        blooms = [
            bloomfn.build(keys[c.column].to_pylist(), c.fpr or 0.01) for c in cfgs
        ]
        row = pa.Table.from_arrays(
            [
                pa.array([name], pa.string()),
                pa.array(batch_sizes(self.spark, [name]), pa.int64()),
                *[pa.array([b], pa.binary()) for b in blooms],
            ],
            schema=pa.schema(
                [
                    pa.field("filename", pa.string(), nullable=False),
                    pa.field("file_size", pa.int64(), nullable=False),
                    *[pa.field(c.stored_column, pa.binary()) for c in cfgs],
                ]
            ),
        )
        conf = self.conf
        lock = self._update_lock(conf)
        with lock, lock.heartbeat():
            fp = self._tables_fingerprint()
            synced = fp == getattr(self, "_synced_fingerprint", None)
            self.filelist.add([name])
            added = self.filelist.table._latest_version()
            self.table.append(row)
            self._invalidate()
            # synced before, and the only FileList commit since is this
            # one: the FileList is the synced set plus ``name``
            version = added if synced and added == (fp[0] or 0) + 1 else None
            self._finish_update(conf, self._batch_committed(conf, lock, version))
        return True

    def _mark_synced(self, filelist_version: int | None) -> None:
        """Record the synced fingerprint (taken AFTER all appends and
        compactions) so the next add_files→update pair can take the
        pending fast path — but only while the FileList is still at
        ``filelist_version``, the version the indexed set was computed
        against. A foreign add_files that committed during the update
        may not be indexed, so the next update must recompute."""
        self._pending_files = None
        cur = self._tables_fingerprint()
        self._synced_fingerprint = cur if cur[0] == filelist_version else None

    # ------------------------------------------------------------ query

    def _large_tables(self, columns: list[str]) -> dict[str, DataFrame | None]:
        out: dict[str, DataFrame | None] = {}
        for col in columns:
            cfg = self.meta.config_for(col)
            if cfg is not None and cfg.type in (REGULAR, COMPUTED, EXPLODED, TEMPORAL):
                out[col] = self.large_df(col)
        return out

    def _locate_cache_key(self, query: dict, columns) -> tuple | None:
        """Memo key for a literal-dict locate, or None when the query
        is not cacheable (DataFrame join keys — arbitrary upstream
        plans). Keyed on the same manifest fingerprint the SQL surface
        uses, so ANY index data/metadata change invalidates. The JVM
        extension keeps the identical cache
        (AriadneState.locateCache, keyed fingerprint+predicates)."""
        if not isinstance(query, dict):
            return None
        parts = []
        for col in sorted(query):
            v = query[col]
            if isinstance(v, Band):
                parts.append((str(col), "band", repr(v)))
            elif isinstance(v, (list, tuple, set, frozenset)):
                try:
                    vals = tuple(sorted(map(repr, v)))
                except Exception:
                    return None
                parts.append((str(col), "in", vals))
            else:
                return None
        fingerprint = (
            self.table._latest_version(),
            self.filelist.table._latest_version(),
            self.fs.mtime(self.paths.metadata),
        )
        return (fingerprint, tuple(parts), tuple(columns or ()))

    def _run_locate(self, query, columns) -> tuple[list[str], LocateStats]:
        conf = self.conf
        files, stats = _locate(
            self.spark,
            self.meta,
            lambda: self.index_df,
            self._large_tables,
            query,
            columns,
            paths=self.paths,
            repartition=conf.index_repartition_count,
            min_bloom_bytes=conf.min_bloom_prune_bytes,
            totals=self._index_totals,
        )
        self._last_locate_stats = stats
        if stats.totals is not None:
            # the driver-side planner read every live row: its totals
            # spare prune metrics the aggregation job
            self._totals_cache = stats.totals
        return files, stats

    def locate_files(self, query: "dict | DataFrame", columns: list[str] | None = None) -> list[str]:
        """Candidate files whose contents can match ``query``
        ({column: values} or a DataFrame of join keys). AND semantics
        across columns.

        Literal-dict locates memoize per handle (fingerprint-keyed, so
        index updates invalidate): a repeated dashboard/bench query
        pays the locate job once per index version."""
        key = None
        try:
            key = self._locate_cache_key(query, columns)
        except Exception:
            key = None
        if key is not None:
            hit = self._locate_memo.get(key)
            if hit is not None:
                files, stats = hit
                self._last_locate_stats = stats
                if stats.totals is not None:
                    self._totals_cache = stats.totals
                return list(files)
        files, stats = self._run_locate(query, columns)
        out = sorted(files)
        if key is not None:
            if len(self._locate_memo) >= 128:
                self._locate_memo.pop(next(iter(self._locate_memo)))
            self._locate_memo[key] = (list(out), stats)
        return out

    def select(self, *columns: str) -> "Index":
        """Restrict subsequent reads/joins to these columns (validated
        against source schema + virtual columns; reference P1)."""
        known = set(self._schema_fields()) | self._virtual_columns()
        for c in columns:
            if c not in known:
                raise ColumnNotFoundError(c)
        self._selection = list(columns) if columns else None
        return self

    def _applicable_temporal(self, available: set[str]) -> list[IndexConfig]:
        return [
            c
            for c in self.meta.indexes
            if c.type == TEMPORAL
            and c.column in available
        ]

    def read_files(
        self,
        files: list[str],
        extra_columns: list[str] | None = None,
        include_all_virtuals: bool = False,
    ) -> DataFrame:
        """Read a specific file subset through the full pipeline
        (computed + exploded columns, selection, temporal dedup).

        Exploded aliases MULTIPLY rows (inner explode), so they are
        applied only when actually requested — via the selection, the
        join/extra columns, or ``include_all_virtuals`` (the SQL-view
        surface, where the alias is part of the exposed schema).
        Computed columns are row-preserving and always available."""
        selection = list(self._selection) if self._selection else None
        extra = list(extra_columns or [])
        requested = set(extra) | set(selection or [])
        virtuals = [
            c
            for c in self.meta.indexes
            if c.type == COMPUTED
            or (
                c.type == EXPLODED
                and (include_all_virtuals or c.column in requested)
            )
        ]
        ts_roots: list[str] = []
        if selection is not None:
            needed = set(selection) | set(extra)
            # transparently include temporal timestamp roots so dedup
            # can run, then drop them (reference IndexJoinOperations.scala:247-271)
            for cfg in self._applicable_temporal(needed):
                root = nested_root(cfg.timestamp_column)
                if root not in needed:
                    ts_roots.append(root)
            selection = list(dict.fromkeys(selection + extra + ts_roots))
            virtuals = [v for v in virtuals if v.column in set(selection)]
        df = read_pipeline(
            self.spark,
            self.meta,
            files,
            virtual_configs=virtuals,
            selection=selection,
            explode_rows=True,
        )
        conf = self.conf
        if conf.repartition_data_files and files:
            # spread a skewed pruned read (few large files) across the
            # cluster before downstream joins/windows
            df = df.repartition(
                conf.index_repartition_count
                or self.spark.sparkContext.defaultParallelism
            )
        df = apply_temporal_dedup(df, self._applicable_temporal(set(df.columns)))
        if ts_roots:
            df = df.drop(*ts_roots)
        return df

    def read_all(self) -> DataFrame:
        """Full (unpruned) read exposing every virtual column — the
        frame behind the SQL views."""
        return self.read_files(
            self.filelist.filenames(), include_all_virtuals=True
        )

    def read_matching(self, values: dict, filter_rows: bool = True) -> DataFrame:
        """Pruned read: only files that can match ``values``; with
        ``filter_rows`` also re-apply the predicates row-level (file
        pruning alone is coarse — reference P8 returns all filters to
        Spark for post-scan application)."""
        for col in values:
            if self.meta.config_for(col) is None:
                raise ColumnNotIndexedError(col)
        files = self.locate_files(values)
        self._last_metrics = prune_metrics_local(
            self._last_locate_stats.sizes,
            self._index_totals(),
            self._last_locate_stats,
        )
        df = self.read_files(files, extra_columns=list(values.keys()))
        if filter_rows:
            for col, vals in values.items():
                if isinstance(vals, Band):
                    c = F.col(col)
                    if vals.lo is not None:
                        df = df.where(
                            (c >= vals.lo) if vals.lo_inc else (c > vals.lo)
                        )
                    if vals.hi is not None:
                        df = df.where(
                            (c <= vals.hi) if vals.hi_inc else (c < vals.hi)
                        )
                    continue
                vlist = [v for v in vals if v is not None]
                if len(vlist) <= 64:
                    df = df.where(F.col(col).isin(vlist))
                else:
                    # big literal IN-lists blow codegen; broadcast
                    # semi-join keeps the filter JVM-side and compact
                    vdf = self.spark.createDataFrame([(v,) for v in vlist], [col])
                    df = df.join(F.broadcast(vdf), col, "left_semi")
        return df

    def located_data(
        self, other: DataFrame, on: list[str] | str
    ) -> DataFrame:
        """The indexed data pruned to files that can match ``other``'s
        key values, temporal-deduped — the reference's ``joinDf``
        (IndexJoinOperations.scala:373-400; join columns must be
        indexed, :129-137). Both join directions build on this."""
        cols = [on] if isinstance(on, str) else list(on)
        for c in cols:
            if self.meta.config_for(c) is None:
                raise ColumnNotIndexedError(c)
            if c not in other.columns:
                raise ColumnNotFoundError(f"{c} not in other DataFrame")
        files, stats = self._run_locate(other.select(*cols), cols)
        self._last_metrics = prune_metrics_local(
            stats.sizes, self._index_totals(), stats
        )
        return self.read_files(sorted(files), extra_columns=cols)

    def join(
        self,
        other: DataFrame,
        on: list[str] | str,
        how: str = "inner",
    ) -> DataFrame:
        """Index-accelerated equi-join (USING-style): prune files by the
        other side's key values, read only those, temporal-dedup, then
        plain Spark join with the located data on the LEFT (reference
        J7: IndexJoinOperations.scala:373-400)."""
        cols = [on] if isinstance(on, str) else list(on)
        return self.located_data(other, cols).join(other, cols, how)

    def join_from(
        self,
        other: DataFrame,
        on: list[str] | str,
        how: str = "inner",
    ) -> DataFrame:
        """Reverse-direction join: ``other`` on the LEFT, located data
        on the right — the reference's implicit ``DataFrameOps.join``
        (Index.scala:1296-1323). Since pruning only removes files whose
        rows cannot match ``other``, results are exact for inner/left/
        semi/anti joins; right/full joins would need the unmatched data
        rows too, same as the reference."""
        cols = [on] if isinstance(on, str) else list(on)
        return other.join(self.located_data(other, cols), cols, how)

    # ------------------------------------------------------------ stats

    def stats(self) -> DataFrame:
        """Per-index-column diagnostics (reference A8:
        IndexQueryOperations.scala:911-972)."""
        idx = self.index_df
        rows = []
        schema = T.StructType(
            [
                T.StructField("column", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("files", T.LongType()),
                T.StructField("min_values", T.LongType()),
                T.StructField("max_values", T.LongType()),
                T.StructField("avg_values", T.DoubleType()),
                T.StructField("stddev_values", T.DoubleType()),
                T.StructField("median_values", T.DoubleType()),
            ]
        )
        if idx is None:
            return self.spark.createDataFrame([], schema)
        for cfg in self.meta.indexes:
            sc = cfg.stored_column
            if sc not in idx.columns:
                continue
            if cfg.type in (REGULAR, COMPUTED, EXPLODED, TEMPORAL):
                size = F.size(F.col(sc))
                agg = idx.where(F.col(sc).isNotNull()).agg(
                    F.count("*").alias("files"),
                    F.min(size).alias("mn"),
                    F.max(size).alias("mx"),
                    F.avg(size).alias("av"),
                    F.stddev(size).alias("sd"),
                    F.percentile_approx(size, 0.5).alias("md"),
                ).collect()[0]
                rows.append(
                    (cfg.column, cfg.type, agg["files"], agg["mn"], agg["mx"],
                     agg["av"], agg["sd"], float(agg["md"]) if agg["md"] is not None else None)
                )
            else:
                n = idx.where(F.col(sc).isNotNull()).count()
                rows.append((cfg.column, cfg.type, n, None, None, None, None, None))
        return self.spark.createDataFrame(rows, schema)

    # ------------------------------------------------------------ lifecycle

    def delete_files(self, paths: list[str]) -> "Index":
        """Remove files from the index + FileList (reference:
        Index.scala:532-616)."""
        names = [normalize_path(p) for p in paths]
        cond = F.col("filename").isin(names)
        if self.table.exists:
            self.table.delete_where(cond)
        self._invalidate()
        for cfg in self.meta.indexes:
            t = ParquetTable(
                self.spark, self.paths.large_index(cfg.column), key_cols=("filename",)
            )
            if t.exists:
                t.delete_where(cond)
        self.filelist.remove(names)
        self._refresh_size_accounting()
        save_metadata(self.paths.metadata, self.meta, fs=self.fs)
        return self

    def _refresh_size_accounting(self) -> None:
        """Persisted total of indexed source bytes (the reference keeps
        the same counter for its pruning metrics and size reporting —
        metadata v9's total_indexed_file_size). Recomputed exactly from
        the index table: one tiny aggregation beats incremental
        bookkeeping that can drift. A local index sums driver-side."""
        if isinstance(self.fs, PosixFS):
            # a local index sums its live file_size column with pyarrow
            live = local_planner.read_live(
                local_planner.segments(self.paths.index) or [],
                ["filename", "file_size"],
            )
            total = (
                pc.sum(live["file_size"]).as_py()
                if "file_size" in live.column_names
                else 0
            )
            self.meta.total_indexed_bytes = int(total or 0)
            return
        # column-pruned replace-per-key read: the default plan packs
        # every index column into the max_by struct, so this one SUM
        # would otherwise rescan every bloom blob and value array
        # after each update
        idx = (
            self.table.read(columns=["file_size"])
            if self.table.exists
            else None
        )
        if idx is None:
            self.meta.total_indexed_bytes = 0
            return
        row = idx.agg(F.sum("file_size")).collect()[0]
        self.meta.total_indexed_bytes = int(row[0] or 0)

    def _compact_tables(self, synced: int | None = None) -> int | None:
        """Fold the index, spill and FileList tables to one segment each.
        ``synced`` is the FileList version the indexed set stands for;
        the result is the version that stands for it afterwards: the
        FileList compaction's own commit when it folded exactly
        ``synced`` and nothing committed in between, ``synced`` when the
        FileList was not folded, else None."""
        self.table.compact()
        self._invalidate()
        for cfg in self.meta.indexes:
            t = ParquetTable(
                self.spark, self.paths.large_index(cfg.column), key_cols=("filename",)
            )
            if t.exists:
                t.compact()
        folded = self.filelist.table.compact()
        if folded is None:
            return synced
        read, committed = folded
        return committed if read == synced and committed == read + 1 else None

    def compact(self) -> "Index":
        """Fold every table of the index to one segment, under the update
        lock. A handle synced before stays synced."""
        conf = self.conf
        lock = self._update_lock(conf)
        with lock, lock.heartbeat():
            fp = self._tables_fingerprint()
            synced = fp == getattr(self, "_synced_fingerprint", None)
            version = self._compact_tables(fp[0] if synced else None)
            self.meta.batches_since_compact = 0
            save_metadata(self.paths.metadata, self.meta, fs=self.fs)
            if synced:
                self._mark_synced(version)
        return self

    def vacuum(self, retention_hours: float = 168.0) -> "Index":
        """Reclaim dead storage across the index's tables, keeping
        ``retention_hours`` of history (reference: Index.scala:761
        ``vacuum(retentionHours: Int = 168)`` — same default, same
        passthrough to every owned table; here LSM segments/manifests
        younger than the window survive so concurrent readers pinned
        to a recent version never lose files mid-scan, mirroring
        Delta's VACUUM retention contract)."""
        self.table.vacuum(retention_hours=retention_hours)
        for cfg in self.meta.indexes:
            t = ParquetTable(
                self.spark, self.paths.large_index(cfg.column), key_cols=("filename",)
            )
            if t.exists:
                t.vacuum(retention_hours=retention_hours)
        self.filelist.table.vacuum(retention_hours=retention_hours)
        return self

    def drop_storage(self) -> None:
        if self.fs.exists(self.paths.root):
            self.fs.delete(self.paths.root, recursive=True)
