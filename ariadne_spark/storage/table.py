"""Manifest-based versioned parquet tables.

The reference stores its index state in Delta tables and leans on
Delta MERGE for upsert/delete and OPTIMIZE/VACUUM for maintenance
(reference: src/main/scala/dev/cjfravel/ariadne/IndexBuildOperations.scala:1319-1373,
Index.scala:724-778). delta-spark is not available in this
environment, so this module provides the minimal transactional table
the engine needs, built on plain parquet + an atomic JSON manifest:

* A table directory holds immutable parquet *segments* (one directory
  per commit) plus ``_manifest/v{N}.json`` files. The manifest with
  the highest N is the current table state; commits are atomic via
  ``O_CREAT|O_EXCL`` manifest creation (same primitive the reference
  uses for its lock files, IndexLock.scala:396-411).
* Writes are LSM-style appends: a new segment with a higher sequence
  number. Readers resolve upserts by keeping, per key, only the rows
  of the newest segment containing that key — the read-time analog of
  ``MERGE ... whenMatchedUpdateAll`` with replace-per-key semantics.
* ``compact()`` folds all segments into one (the analog of staging
  consolidation + OPTIMIZE); ``vacuum()`` deletes unreferenced files.

Scale note (r09, replaces the window dedup): multi-segment reads
resolve replace-per-key without any Window node. Tables whose
segments hold at most one row per key (``segment_unique=True`` — the
main index and the FileList append exactly one row per filename per
batch) use a ``max_by(struct(...), seq)`` / ``min_by`` partial-agg
groupBy: map-side combine collapses each partition to one candidate
row per key, so the single shuffle carries at most one row per key
per map partition — strictly less than the window's
every-segment-copy shuffle, and no sort. Multi-row-per-key tables
(the exploded ``(filename, value)`` large indexes) aggregate the
per-key winning sequence from a column-pruned scan (filename + seq
only) and broadcast-semi-join it back: the wide exploded side is
never shuffled at all. The broadcast hint is forced only while the
table's on-disk bytes stay under
``spark.ariadne.winnerBroadcastMaxBytes`` (default 256 MiB); above
it AQE decides from the agg's actual output size, so a huge
uncompacted store degrades to a shuffle join instead of a driver
OOM. The winner set is O(distinct keys) = O(files)
— the same file-cardinality driver contract the locate path already
has (``plans/locate.py`` returns the pruned file list). The
single-segment fast path (the common state after compaction) skips
all of it.

Storage backends: local paths use POSIX O_EXCL (truly atomic);
remote URIs (``hdfs:``, ``s3a:``, ``abfs:``) go through the Hadoop
``FileSystem`` API (``storage/fs.py``) — atomic create-no-overwrite on
HDFS/ABFS, check-then-write on raw S3A (the same hazard the reference
accepts for its Hadoop-FS lock files, IndexLock.scala:396-411).
"""

from __future__ import annotations

import json
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import TableCommitConflictError
from .fs import PosixFS, get_fs, join as _join, strip_file_scheme

_MANIFEST_DIR = "_manifest"
_SEQ_COL = "_ariadne_seq"


def manifest_versions(fs, path: str) -> list[int]:
    """Committed manifest versions of the table at ``path``, ascending."""
    return sorted(
        int(f[1:-5])
        for f in fs.list_names(_join(path, _MANIFEST_DIR))
        if f.startswith("v") and f.endswith(".json")
    )


def read_manifest(fs, path: str, version: int | None = None) -> dict | None:
    """The manifest of the table at ``path`` — ``version`` or, by
    default, the latest — with its version stamped in; None for a
    table never written. Spark-free: ``fs`` is any storage backend,
    and the local one (``get_fs(None, path)``) needs no session, so
    the Data Source planner reads index state through this too."""
    if version is None:
        versions = manifest_versions(fs, path)
        if not versions:
            return None
        version = versions[-1]
    raw = fs.read_text(_join(path, _MANIFEST_DIR, f"v{version:020d}.json"))
    if raw is None:
        return None
    m = json.loads(raw)
    m["version"] = version
    return m


def _spark_schema(data: "DataFrame | pa.Table") -> T.StructType:
    """The Spark schema a segment of ``data`` is stored under; for Arrow,
    a zoned timestamp maps to TIMESTAMP and a naive one to
    TIMESTAMP_NTZ."""
    if isinstance(data, pa.Table):
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(data.schema, prefer_timestamp_ntz=True)
    return data.schema


def _nullable(dt):
    """``dt`` with every nested field, element and value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def live_rows(tables, key: str | None) -> pa.Table | None:
    """Replace-per-key fold of per-segment Arrow tables given in
    precedence order (newest first for ``dedup='last'``, oldest first
    for ``'first'``): per ``key`` value, every row of the first table
    holding it; with no key, every row — :meth:`ParquetTable.read`'s
    semantics. ``tables`` may be a generator, so segments load one at a
    time. None when no row is live."""
    parts: list[pa.Table] = []
    seen: list[pa.Array] = []
    for t in tables:
        if key is not None and seen:
            known = pa.concat_arrays([k.cast(t[key].type) for k in seen])
            t = t.filter(pc.invert(pc.is_in(t[key], value_set=known)))
        if t.num_rows:
            parts.append(t)
            if key is not None:
                seen.append(pc.unique(t[key]))
    if not parts:
        return None
    return pa.concat_tables(parts, promote_options="permissive").combine_chunks()


class ParquetTable:
    """A versioned parquet table with replace-per-key append semantics.

    ``key_cols`` (at most one column) define the replacement key: an
    append whose rows share a key with older segments supersedes *all*
    older rows of that key (``dedup='last'``) or is ignored in favor of
    them (``dedup='first'``, the insert-if-absent semantics the FileList
    needs).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: tuple[str, ...] = (),
        dedup: str = "last",
        segment_unique: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.fs = get_fs(spark, self.path)
        if len(key_cols) > 1:
            raise ValueError("a ParquetTable keys on at most one column")
        self.key_cols = tuple(key_cols)
        assert dedup in ("last", "first")
        self.dedup = dedup
        # declared by the owner: every segment holds at most one row
        # per key (enables the cheaper max_by read path; a multi-row
        # segment under this flag would silently lose rows, so only
        # writers that append keyed rows exactly once set it)
        self.segment_unique = segment_unique

    # ------------------------------------------------------------ manifest

    def _manifest_dir(self) -> str:
        return _join(self.path, _MANIFEST_DIR)

    def _versions(self) -> list[int]:
        return manifest_versions(self.fs, self.path)

    def _latest_version(self) -> int | None:
        versions = self._versions()
        return versions[-1] if versions else None

    def _read_manifest(self, version: int | None = None) -> dict | None:
        v = self._latest_version() if version is None else version
        return None if v is None else read_manifest(self.fs, self.path, v)

    def versions(self) -> list[int]:
        """All committed manifest versions, ascending (time travel:
        pass one to :meth:`read`). Older versions stay readable until
        :meth:`vacuum` reclaims segments no current manifest
        references — the Delta-style retention caveat."""
        return self._versions()

    def _commit(
        self, build_segments, retries: int = 20, extra: dict | None = None
    ) -> int | None:
        """Optimistically commit: recompute segments from the latest
        manifest, write v+1 create-exclusive, retry on collision, and
        return v+1; ``build_segments`` returning None abandons the
        commit (returns None). ``extra`` is a small JSON-able dict
        stored in the manifest under ``"extra"`` — application metadata
        (e.g. a streaming sink's last committed batch id) that versions
        ATOMICALLY with the data and reads back without any Spark job
        (:meth:`manifest_extra`)."""
        self.fs.mkdirs(self._manifest_dir())
        for _ in range(retries):
            current = self._read_manifest()
            version = (current["version"] if current else 0) + 1
            segments = build_segments(current["segments"] if current else [])
            if segments is None:
                return None
            body: dict = {"segments": segments}
            if extra:
                body["extra"] = extra
            doc = json.dumps(body, indent=0)
            target = _join(self._manifest_dir(), f"v{version:020d}.json")
            if self.fs.create_exclusive(target, doc):
                return version
        raise TableCommitConflictError(self.path)

    def manifest_extra(self) -> dict:
        """The ``extra`` metadata dict of the latest manifest (empty if
        none) — one small JSON read, no Spark job."""
        m = self._read_manifest()
        return (m or {}).get("extra", {}) or {}

    # ------------------------------------------------------------ reads

    def _read_segment(self, s: dict) -> DataFrame:
        """One segment as a DataFrame. Segments committed since r11
        carry their writer's schema in the manifest, so the read runs
        with an EXPLICIT schema — without it every
        ``spark.read.parquet`` pays a footer schema-inference job, one
        per segment per read call, which dominated the per-micro-batch
        fixed cost of the streaming/incremental paths (guide §6.2).
        Pre-r11 manifests (no stored schema) fall back to inference."""
        reader = self.spark.read
        sch = s.get("schema")
        if sch:
            reader = reader.schema(T.StructType.fromJson(json.loads(sch)))
        return reader.parquet(_join(self.path, s["dir"]))

    @property
    def exists(self) -> bool:
        return self._latest_version() is not None

    def read(
        self, version: int | None = None, columns: list[str] | None = None
    ) -> DataFrame | None:
        """Table state as of ``version`` (default: latest), or None if
        the table doesn't exist. Unknown versions raise with the
        available range; versions older than the last vacuum may
        reference reclaimed segments and fail at scan time.

        ``columns`` narrows the result to those columns (keys are
        still read internally to resolve replace-per-key). Pass it
        when only a few columns matter: the default multi-segment plan
        packs EVERY non-key column into the ``max_by`` struct, which
        defeats parquet column pruning — a caller summing one numeric
        column would otherwise scan every bloom blob and value array
        in the table."""
        if version is not None:
            vs = self._versions()  # one listing for check + message
            if version not in vs:
                raise ValueError(
                    f"version {version} not found for {self.path}; "
                    f"available: {vs}"
                )
        m = self._read_manifest(version)
        return None if m is None else self._read_segments(m["segments"], columns)

    def _read_segments(
        self, segments: list[dict], columns: list[str] | None = None
    ) -> DataFrame | None:
        """The live rows of ``segments`` (see :meth:`read`)."""
        if not segments:
            return None
        if len(segments) == 1 or not self.key_cols:
            dfs = [self._read_segment(s) for s in segments]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out.select(*columns) if columns is not None else out
        dfs = [
            self._read_segment(s).withColumn(_SEQ_COL, F.lit(s["seq"]))
            for s in segments
        ]
        union = dfs[0]
        for d in dfs[1:]:
            union = union.unionByName(d, allowMissingColumns=True)
        keys = list(self.key_cols)
        if columns is not None:
            # prune BEFORE the agg so the parquet scan reads only the
            # requested columns (+ keys); replace-per-key semantics
            # are unchanged — dedup picks the same winning row/segment
            keep = list(
                dict.fromkeys(keys + list(columns) + [_SEQ_COL])
            )
            union = union.select(
                *[c for c in union.columns if c in keep]
            )
        data_cols = [c for c in union.columns if c != _SEQ_COL]
        out_cols = list(columns) if columns is not None else data_cols
        if self.segment_unique:
            # ≤1 row per key per segment: a max_by/min_by partial-agg
            # groupBy resolves replace-per-key in ONE shuffle whose
            # map-side combine already collapsed each partition to one
            # candidate row per key — no Window, no sort (same
            # transform as the W1 dedup in operators/join.py:53-63).
            pick_fn = F.max_by if self.dedup == "last" else F.min_by
            others = [c for c in data_cols if c not in self.key_cols]
            if not others:  # keys-only table: all rows per key equal
                return union.select(*keys).distinct().select(*out_cols)
            packed = union.groupBy(*keys).agg(
                pick_fn(F.struct(*others), F.col(_SEQ_COL)).alias("__row")
            )
            return packed.select(
                *keys, *[F.col("__row")[c].alias(c) for c in others]
            ).select(*out_cols)
        # multi-row-per-key segments (exploded large indexes): find
        # each key's winning segment from a column-pruned scan (the
        # agg reads only the key columns; seq is a literal), then
        # broadcast the O(distinct keys) winner set back over the wide
        # side — the exploded rows are never shuffled. Winner columns
        # are renamed to fresh attributes so the self-referential join
        # resolves unambiguously.
        pick = F.max(_SEQ_COL) if self.dedup == "last" else F.min(_SEQ_COL)
        winners = (
            union.groupBy(*keys)
            .agg(pick.alias("__pick"))
            .select(
                *[F.col(k).alias(f"__w_{k}") for k in keys], "__pick"
            )
        )
        cond = F.col(_SEQ_COL) == F.col("__pick")
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__w_{k}"))
        # the winner set is O(distinct keys) with no a-priori cap, so
        # FORCING the broadcast is only safe while the underlying data
        # is provably small; above the threshold drop the hint and let
        # AQE pick at runtime from the agg's ACTUAL output size (it
        # still broadcasts when the winner set turns out small, and
        # degrades to a shuffle join instead of an executor/driver OOM
        # when it doesn't).
        if self._bytes_of(segments) <= self._winner_broadcast_max_bytes():
            winners = F.broadcast(winners)
        out = union.join(winners, cond, "left_semi").drop(_SEQ_COL)
        return out.select(*out_cols) if columns is not None else out

    def _bytes_of(self, segments: list[dict]) -> int:
        """Total on-disk bytes of the referenced segments (driver-side
        listing, O(files)); conservative ``maxsize`` on any failure so
        an unlistable store never forces a broadcast."""
        try:
            total = 0
            for s in segments:
                files = self.fs.list_files(_join(self.path, s["dir"]))
                total += sum(
                    sz
                    for f, sz in zip(files, self.fs.sizes(files))
                    if f.endswith(".parquet") and sz
                )
            return total
        except Exception:
            return sys.maxsize

    def _winner_broadcast_max_bytes(self) -> int:
        raw = self.spark.conf.get(
            "spark.ariadne.winnerBroadcastMaxBytes", str(256 << 20)
        )
        try:
            return int(raw)
        except (TypeError, ValueError):
            return 256 << 20

    # ------------------------------------------------------------ writes

    def _write_segment(self, data: "DataFrame | pa.Table") -> str:
        """Write one segment and return its directory. An Arrow table is
        already whole in driver memory: on local storage pyarrow writes
        it as one snappy part file, no Spark job; on remote storage it
        goes through ``df.write`` like a DataFrame."""
        seg = f"data/seg-{uuid.uuid4().hex}"
        if isinstance(data, pa.Table):
            if isinstance(self.fs, PosixFS):
                d = strip_file_scheme(_join(self.path, seg))
                os.makedirs(d, exist_ok=True)
                name = f"part-00000-{uuid.uuid4().hex}.snappy.parquet"
                pq.write_table(data, os.path.join(d, name), compression="snappy")
                return seg
            data = self.spark.createDataFrame(data, schema=_spark_schema(data))
        data.write.mode("overwrite").parquet(_join(self.path, seg))
        return seg

    def append(self, data: "DataFrame | pa.Table") -> None:
        """Append a segment; per-key replacement resolves at read time.
        ``data`` is a DataFrame or, for a small driver-side commit, an
        Arrow table (see :meth:`_write_segment`)."""
        if isinstance(data, DataFrame):
            self._check_segment_unique(data)
        seg = self._write_segment(data)
        sch = _spark_schema(data).json()

        def build(old):
            next_seq = max([s["seq"] for s in old], default=0) + 1
            return old + [{"seq": next_seq, "dir": seg, "schema": sch}]

        self._commit(build)

    def _check_segment_unique(self, df: DataFrame) -> None:
        """Opt-in invariant check (``spark.ariadne.debugInvariants``):
        ``segment_unique=True`` promises at most one row per key per
        appended segment — a violating writer would silently LOSE rows
        at read time (the max_by path keeps one candidate per key).
        The check costs one aggregation job, so it is off by default
        and enabled in tests/debug runs to fail loudly instead."""
        if not (self.segment_unique and self.key_cols):
            return
        if str(
            self.spark.conf.get("spark.ariadne.debugInvariants", "false")
        ).lower() != "true":
            return
        dup = (
            df.groupBy(*self.key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key = {k: dup[0][k] for k in self.key_cols}
            raise ValueError(
                f"segment_unique table {self.path} got an append with "
                f">1 row for key {key}; replace-per-key reads would "
                "silently drop rows — fix the writer or create the "
                "table with segment_unique=False"
            )

    def overwrite(
        self, data: "DataFrame | pa.Table", extra: dict | None = None
    ) -> None:
        seg = self._write_segment(data)
        sch = _spark_schema(data).json()
        self._commit(
            lambda old: [{"seq": 1, "dir": seg, "schema": sch}], extra=extra
        )

    def delete_where(self, condition) -> None:
        """Rewrite the table without rows matching ``condition``.

        Index tables are small relative to the lake (per-file summaries),
        so a filtered rewrite is the simple, safe choice — the analog of
        the reference's MERGE whenMatchedDelete."""
        df = self.read()
        if df is None:
            return
        self.overwrite(df.where(~condition))

    def restore(self, version: int) -> None:
        """Roll the table back to ``version`` by committing a NEW
        manifest that references that version's segments — Delta
        RESTORE semantics: history is preserved (the rollback is
        itself a version; the states in between stay readable until
        :meth:`vacuum`), and the operation writes no data, only a
        manifest. Unknown versions raise with the available range;
        restoring past a vacuum may reference reclaimed segments and
        fail at scan time, exactly like an old-version :meth:`read`.

        Reference parity: the reference's storage substrate is Delta
        throughout (FileList.scala:62-67), where ``RESTORE TABLE …
        VERSION AS OF`` is the operational rollback; this is the LSM
        analog, the recovery path after a bad index build or a
        mistaken deleteFiles."""
        vs = self._versions()
        if version not in vs:
            raise ValueError(
                f"version {version} not found for {self.path}; "
                f"available: {vs}"
            )
        m = self._read_manifest(version)
        self._commit(lambda old: m["segments"])

    def _local_compact_bound(self) -> int:
        """Segment bytes under which a local table compacts driver-side:
        the fold loads every segment into driver memory."""
        from ..plans.locate import LOCAL_INDEX_MAX_BYTES

        return LOCAL_INDEX_MAX_BYTES if isinstance(self.fs, PosixFS) else -1

    def compact(self) -> tuple[int, int] | None:
        """Fold the segments of the latest manifest into one (OPTIMIZE
        analog). A local table whose segments sum under
        :meth:`_local_compact_bound` folds driver-side with pyarrow
        (:meth:`_live_arrow`), no Spark job.

        The commit keeps every segment committed after the fold's
        manifest read, and the folded segment takes the highest folded
        seq, so those later segments keep their precedence in both
        dedup modes. When a concurrent rewrite removed a folded segment
        the fold is stale and nothing commits. Returns (the version
        folded, the version committed), or None when nothing committed."""
        m = self._read_manifest()
        if m is None or len(m["segments"]) <= 1:
            return None
        folded = m["segments"]
        live = None
        if self._bytes_of(folded) <= self._local_compact_bound():
            live = self._live_arrow(folded)
        data = self._read_segments(folded) if live is None else live
        seg = self._write_segment(data)
        new = {
            "seq": max(s["seq"] for s in folded),
            "dir": seg,
            "schema": _spark_schema(data).json(),
        }
        dirs = {s["dir"] for s in folded}

        def build(old):
            if not dirs <= {s["dir"] for s in old}:
                return None
            return [new] + [s for s in old if s["dir"] not in dirs]

        committed = self._commit(build)
        return None if committed is None else (m["version"], committed)

    def _live_arrow(self, segments: list[dict]) -> pa.Table | None:
        """The live rows as Arrow (:func:`live_rows` over the segments in
        ``dedup`` order), in the schema :meth:`read` gives: segment
        columns in union order, the key first on the one-row-per-key
        path, and every field nullable, as a Spark file read makes it.
        None when a segment carries no stored schema (pre-r11)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        fields: dict[str, T.StructField] = {}
        for s in segments:
            if not s.get("schema"):
                return None
            for f in T.StructType.fromJson(json.loads(s["schema"])).fields:
                fields.setdefault(f.name, T.StructField(f.name, _nullable(f.dataType)))
        key = self.key_cols[0] if self.key_cols else None
        if key is not None and self.segment_unique:
            fields = {key: fields[key], **fields}
        target = to_arrow_schema(T.StructType(list(fields.values())))

        def conform(s: dict) -> pa.Table:
            files = self.fs.list_files(_join(self.path, s["dir"]), ".parquet")
            parts = [
                pq.read_table(strip_file_scheme(f), coerce_int96_timestamp_unit="us")
                for f in files
            ]
            t = pa.concat_tables(parts, promote_options="permissive") if parts else None
            n = 0 if t is None else t.num_rows
            return pa.Table.from_arrays(
                [
                    t[f.name].cast(f.type)
                    if t is not None and f.name in t.column_names
                    else pa.nulls(n, f.type)
                    for f in target
                ],
                schema=target,
            )

        order = sorted(segments, key=lambda s: s["seq"], reverse=self.dedup == "last")
        live = live_rows((conform(s) for s in order), key)
        return target.empty_table() if live is None else live

    def vacuum(
        self, retention_hours: float | None = None, keep_manifests: int = 3
    ) -> None:
        """Delete segment dirs unreferenced by the latest manifest and
        trim old manifests.

        With ``retention_hours`` set, unreferenced segments and old
        manifests modified within the window are KEPT: a reader that
        pinned an older manifest version is still scanning those
        segment files, and deleting them mid-scan fails the read —
        the same reader-protection contract Delta's VACUUM retention
        gives (reference: Index.scala:761 takes retentionHours and
        forwards it to Delta VACUUM)."""
        import time as _time

        m = self._read_manifest()
        if m is None:
            return
        cutoff = (
            _time.time() - retention_hours * 3600.0
            if retention_hours is not None
            else None
        )

        def _old_enough(p: str) -> bool:
            if cutoff is None:
                return True
            try:
                return self.fs.mtime(p) < cutoff
            except Exception:
                return False  # unknown age: keep (conservative)

        live = {s["dir"].split("/", 1)[1] for s in m["segments"]}
        data_dir = _join(self.path, "data")
        for entry in self.fs.list_names(data_dir):
            p = _join(data_dir, entry)
            if entry not in live and _old_enough(p):
                self.fs.delete(p, recursive=True)
        d = self._manifest_dir()
        for v in self._versions()[:-keep_manifests]:
            p = _join(d, f"v{v:020d}.json")
            if _old_enough(p):
                self.fs.delete(p)

    def drop(self) -> None:
        if self.fs.exists(self.path):
            self.fs.delete(self.path, recursive=True)

    @property
    def num_segments(self) -> int:
        m = self._read_manifest()
        return len(m["segments"]) if m else 0

    def segment_dirs(self) -> list[str]:
        """Absolute paths of the LIVE segment directories (empty when
        the table has never been written). Lets key-only readers scan
        every live segment in one pruned pass with an explicit schema:
        for replace-per-key tables the distinct key set across raw
        segment rows equals the post-dedup key set (dedup only picks
        which ROW wins per key; deletes rewrite segments), so "which
        keys exist" never needs the full replace-per-key read plan."""
        m = self._read_manifest()
        if m is None:
            return []
        return [_join(self.path, s["dir"]) for s in m["segments"]]
