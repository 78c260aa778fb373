"""Driver-side file-location planner (pyarrow + numpy) — the default.

Every locate goes through ``ariadne_spark.index._locate``. It runs this
planner whenever the index tables a query reads, summed from their
segment listing, stay under ``LOCAL_INDEX_MAX_BYTES`` and a DataFrame
source's distinct keys fit ``LOCAL_KEYS_MAX_BYTES`` (both in
plans/locate.py); above either bound the Spark planner there runs. The
Spark 4 Python Data Source plans in a worker with no SparkSession and
always lands here.

The planner reads the live index rows straight from the ParquetTable
layout — per filename the row of the newest segment holding it — and
computes each queried column's verdict for every file at once with
``pyarrow.compute`` and numpy (no per-row Python):

* regular/computed/exploded: ``list_flatten`` + ``is_in`` +
  ``list_parent_indices`` over the per-file distinct arrays. A spilled
  file (null array) is pre-filtered by its ``auto_bloom`` and then
  matched against its live rows in ``large_indexes/{col}`` — live only
  where the main row's array is null.
* bloom: every file's filter probed with one hash of the query values
  (``functions.bloom.might_contain_many``).
* range: value containment by a sorted search of the values; a
  ``Band`` by interval overlap.
* temporal: the file holding the latest version of each value (max_ts
  desc nulls last, then filename asc) over in-row arrays and live spill
  rows; files with a null array and no live spill rows (orphans: empty
  files or a mid-backfill column) stay candidates.
* a queried column with no stored values yet (added, not yet
  backfilled by ``update()``) keeps every file.
* AND-intersection across queried columns.

The same scan yields each file's ``file_size`` and the index's
``(total_files, total_bytes)``, so prune metrics cost no Spark job.
This module is the semantic spec of locate; the Spark planner must
agree with it (the parity tests in tests/test_datasource.py).

Values reach the planner typed: :func:`typed_values` casts a query's
literals to the indexed column's Arrow type and raises ``TypeError``
for a value that cannot be cast, so a mistyped literal (days for a
DATE, say) never turns into an empty candidate set.
"""

from __future__ import annotations

import datetime
import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..functions import bloom as bloomfn
from ..storage.fs import get_fs, join, scheme_of, strip_file_scheme
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
from ..storage.table import live_rows, read_manifest
from . import locate as spark_planner
from .locate import Band, LocateStats

ARRAY_TYPES = (REGULAR, COMPUTED, EXPLODED)
# index types whose oversized per-file arrays spill to large_indexes/{col}
SPILL_TYPES = ARRAY_TYPES + (TEMPORAL,)


@dataclass
class Segment:
    files: list[str]
    nbytes: int
    schema: dict | None  # the writer's Spark schema, when the manifest has it


def is_local(path: str) -> bool:
    return scheme_of(path) in (None, "file")


def segments(table_path: str) -> list[Segment] | None:
    """Live segments in commit order, or None for a table never
    written. A missing segment directory raises: skipping it could drop
    a file that matches."""
    fs = get_fs(None, table_path)
    m = read_manifest(fs, table_path)
    if m is None:
        return None
    out = []
    for seg in sorted(m["segments"], key=lambda s: s["seq"]):
        d = join(table_path, seg["dir"])
        if not fs.is_dir(d):
            raise FileNotFoundError(f"segment directory {d} is missing")
        files = fs.list_files(d, ".parquet")
        sch = seg.get("schema")
        out.append(
            Segment(
                files,
                sum(fs.sizes(files)),
                json.loads(sch) if sch else None,
            )
        )
    return out


def list_filenames(filelist_path: str) -> list[str]:
    """All registered filenames (re-adds collapse: filename is the key)."""
    names: set[str] = set()
    for seg in segments(filelist_path) or []:
        for f in seg.files:
            t = pq.read_table(strip_file_scheme(f), columns=["filename"])
            names.update(t["filename"].to_pylist())
    return sorted(names)


def _read_segment(seg: Segment, columns: list[str]) -> pa.Table:
    if seg.schema is not None:
        present = {f["name"] for f in seg.schema["fields"]}
    elif seg.files:
        present = set(pq.read_schema(strip_file_scheme(seg.files[0])).names)
    else:
        present = set()
    cols = [c for c in columns if c in present]
    parts = [
        pq.read_table(
            strip_file_scheme(f), columns=cols, coerce_int96_timestamp_unit="us"
        )
        for f in seg.files
    ]
    if not parts:
        return pa.table({"filename": pa.array([], pa.string())})
    return pa.concat_tables(parts, promote_options="permissive")


def read_live(segs: list[Segment], columns: list[str]) -> pa.Table:
    """Live rows of a table keyed on filename: the rows of the newest
    segment holding each filename (``storage.table.live_rows``), read
    one segment at a time, newest first. Columns a segment lacks read
    as null."""
    live = live_rows((_read_segment(s, columns) for s in reversed(segs)), "filename")
    return pa.table({"filename": pa.array([], pa.string())}) if live is None else live


# ------------------------------------------------------------------ typing


def _spark_type(meta: IndexMetadata, cfg: IndexConfig, segs: list[Segment]):
    """The Spark type of the VALUES indexed under ``cfg``: the element
    type of the stored array / temporal struct / range bounds, read from
    the newest segment schema that holds the column; plain blooms (and
    any column whose segments carry no schema) use the source schema.
    None when nothing records it (an expression bloom)."""
    from pyspark.sql import types as T

    if cfg.type != BLOOM:
        for seg in reversed(segs or []):
            if seg.schema is None:
                continue
            for f in seg.schema["fields"]:
                if f["name"] != cfg.stored_column:
                    continue
                dt = T.StructType.fromJson({"fields": [f]})[0].dataType
                if cfg.type == RANGE:
                    return dt["min"].dataType
                if isinstance(dt, T.ArrayType):
                    el = dt.elementType
                    if cfg.type == TEMPORAL:
                        return el["value"].dataType
                    return el
    if cfg.type in (REGULAR, TEMPORAL, RANGE) or (
        cfg.type == BLOOM and cfg.expression is None
    ):
        fields = {f.name: f.dataType for f in meta.schema.fields}
        return fields.get(cfg.column)
    return None


def value_type(meta: IndexMetadata, cfg: IndexConfig, segs) -> pa.DataType | None:
    """Arrow type of the values indexed under ``cfg`` (None: unknown)."""
    from pyspark.sql.pandas.types import to_arrow_type

    dt = _spark_type(meta, cfg, segs)
    if dt is None:
        return None
    try:
        return to_arrow_type(dt)
    except TypeError:  # a type Arrow cannot carry: leave values untyped
        return None


def _temporal(t: pa.DataType) -> bool:
    return (
        pa.types.is_date(t) or pa.types.is_timestamp(t) or pa.types.is_time(t)
        or pa.types.is_duration(t)
    )


def typed_values(column: str, values, t: pa.DataType | None) -> pa.Array:
    """Distinct non-null ``values`` (an iterable, or an Arrow array of
    keys a caller collected) as an Arrow array of type ``t``.

    Raises ``TypeError`` for a value that cannot be cast — a number for
    a DATE/TIMESTAMP column (days or microseconds: Catalyst's internal
    form, never a date), a float that does not fit an integer column, a
    string that does not parse. Untyped (``t`` None) values pass through
    as Arrow infers them."""
    if isinstance(values, pa.Array):
        arr = pc.unique(values.drop_null())
        vals = arr.slice(0, 5).to_pylist()  # for the messages
    else:
        vals = list(dict.fromkeys(v for v in values if v is not None))
        if t is not None and pa.types.is_timestamp(t) and t.tz:
            # a naive datetime names local time, as PySpark reads it; pass
            # Arrow UTC instants (it keeps an offset datetime's wall clock)
            vals = [
                v.astimezone(datetime.timezone.utc)
                if isinstance(v, datetime.datetime)
                else v
                for v in vals
            ]
        try:
            arr = pa.array(vals) if vals else pa.array([], t or pa.null())
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise TypeError(f"{column}: values {vals[:5]!r} do not share a type") from e
    if t is None or arr.type == t:
        return arr
    if _temporal(t) and (
        pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type)
        or pa.types.is_boolean(arr.type)
    ):
        raise TypeError(
            f"{column}: {arr.type} values {vals[:5]!r} for a {t} column "
            "(pass dates/datetimes, not day or microsecond counts)"
        )
    try:
        if pa.types.is_decimal(t) and pa.types.is_integer(arr.type):
            return pa.array(arr.to_pylist(), type=t)  # an int64 cast needs precision 19+
        return arr.cast(t, safe=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError) as e:
        raise TypeError(
            f"{column}: values {vals[:5]!r} cannot be cast to {t}: {e}"
        ) from e


def typed_band(column: str, band: Band, t: pa.DataType | None) -> Band:
    def one(v):
        return None if v is None else typed_values(column, [v], t)[0].as_py()

    return Band(one(band.lo), one(band.hi), band.lo_inc, band.hi_inc)


def python_values(cfg: IndexConfig, arr: pa.Array) -> list:
    """Typed values as the Python objects the Spark planner and the
    bloom hash take. A bloom hashes ``str(value)``, and the build saw a
    zoned timestamp as a naive wall-clock time, so bloom probes get the
    naive local time a PySpark caller passes (and reads back)."""
    vals = arr.to_pylist()
    if cfg.type == BLOOM and pa.types.is_timestamp(arr.type) and arr.type.tz:
        return [v.astimezone().replace(tzinfo=None) for v in vals]
    return vals


# ------------------------------------------------------------------ verdicts


def _rows_holding(lists: pa.Array, vals: pa.Array, n: int) -> np.ndarray:
    """Rows of a list array holding any of ``vals``."""
    flat = pc.list_flatten(lists)
    hit = pc.is_in(flat, value_set=vals.cast(flat.type))
    out = np.zeros(n, dtype=bool)
    out[pc.list_parent_indices(lists).filter(hit).to_numpy()] = True
    return out


def _fields(arr: pa.StructArray) -> dict[str, pa.Array]:
    """Struct fields with the parent's nulls merged in."""
    return {f.name: a for f, a in zip(arr.type, arr.flatten())}


def _bounds(rng: pa.StructArray) -> tuple[pa.Array, pa.Array]:
    f = _fields(rng)
    return f["min"], f["max"]


def _sortable(arr: pa.Array) -> np.ndarray:
    return np.asarray(arr.to_numpy(zero_copy_only=False))


def _range_holding(rng: pa.StructArray, vals: pa.Array) -> np.ndarray:
    """Per row: does [min, max] contain any value? A null range (an
    all-null or empty file) contains none."""
    lo, hi = _bounds(rng)
    ok = pc.and_(pc.is_valid(lo), pc.is_valid(hi)).to_numpy(zero_copy_only=False)
    if not len(vals) or not ok.any():
        return np.zeros(len(rng), dtype=bool)
    vals = vals.cast(lo.type)
    v = _sortable(pc.array_take(vals, pc.array_sort_indices(vals)))
    fill = vals[0]
    a = _sortable(pc.fill_null(lo, fill))
    b = _sortable(pc.fill_null(hi, fill))
    inside = np.searchsorted(v, b, side="right") - np.searchsorted(v, a, side="left")
    return ok & (inside > 0)


def _band_overlaps(rng: pa.StructArray, band: Band) -> np.ndarray:
    n = len(rng)
    if band.lo is None and band.hi is None:
        return np.ones(n, dtype=bool)  # no row predicate: all-null files stay
    lo, hi = _bounds(rng)
    pred = pc.is_valid(lo)
    if band.lo is not None:
        p = pa.scalar(band.lo).cast(hi.type)
        pred = pc.and_(pred, (pc.greater_equal if band.lo_inc else pc.greater)(hi, p))
    if band.hi is not None:
        p = pa.scalar(band.hi).cast(lo.type)
        pred = pc.and_(pred, (pc.less_equal if band.hi_inc else pc.less)(lo, p))
    return pc.fill_null(pred, False).to_numpy(zero_copy_only=False)


# ------------------------------------------------------------------ planner


class LocalIndex:
    """The live rows of one index, read once per locate: filename,
    file_size and the stored columns of the queried indexes."""

    def __init__(
        self,
        meta: IndexMetadata,
        segs: list[Segment],
        large_segs: dict[str, list[Segment] | None],
        columns: list[str],
    ) -> None:
        self.meta = meta
        self.large_segs = large_segs
        wanted = ["filename", "file_size"]
        for col in columns:
            cfg = meta.config_for(col)
            wanted.append(cfg.stored_column)
            if cfg.type in ARRAY_TYPES:
                wanted.append(f"auto_bloom_{col}")
        self.rows = read_live(segs, list(dict.fromkeys(wanted)))
        self.n = self.rows.num_rows
        self.names = self.rows["filename"]
        self.sizes = (
            self.rows["file_size"] if "file_size" in self.rows.column_names else None
        )
        total_b = pc.sum(self.sizes).as_py() if self.sizes is not None else 0
        self.totals = (self.n, int(total_b or 0))

    def _col(self, name: str) -> pa.Array | None:
        if name not in self.rows.column_names:
            return None
        return self.rows[name].combine_chunks()

    def _spill(self, col: str, rows: np.ndarray, columns: list[str]) -> pa.Table:
        """Live spill rows of ``col`` for the main rows flagged in
        ``rows`` (whose arrays are null); empty without a spill table."""
        segs = self.large_segs.get(col)
        if not segs or not rows.any():
            return pa.table({c: pa.array([], pa.string()) for c in columns})
        large = read_live(segs, columns)
        keep = self.names.filter(pa.array(rows))
        return large.filter(pc.is_in(large["filename"], value_set=keep))

    def _row_of(self, filenames) -> np.ndarray:
        return pc.index_in(filenames, value_set=self.names).to_numpy(
            zero_copy_only=False
        )

    def _array_verdict(
        self, cfg: IndexConfig, arr: pa.Array, vals: pa.Array
    ) -> np.ndarray:
        out = _rows_holding(arr, vals, self.n)
        spilled = arr.is_null().to_numpy(zero_copy_only=False)
        if spilled.any():
            blobs = self._col(f"auto_bloom_{cfg.column}")
            if blobs is not None:
                pairs = bloomfn.hash_values(python_values(cfg, vals))
                spilled &= bloomfn.might_contain_many(blobs, pairs)
            large = self._spill(cfg.column, spilled, ["filename", "value"])
            if large.num_rows:
                hit = pc.is_in(large["value"], value_set=vals.cast(large["value"].type))
                out[self._row_of(large["filename"].filter(hit))] = True
        return out

    def _temporal_verdict(
        self, cfg: IndexConfig, arr: pa.Array, vals: pa.Array
    ) -> np.ndarray:
        flat = pc.list_flatten(arr)
        fields = _fields(flat)
        value, ts = fields["value"], fields["max_ts"]
        hit = pc.is_in(value, value_set=vals.cast(value.type))
        rows = pc.list_parent_indices(arr).filter(hit).to_numpy()
        v, t = value.filter(hit), ts.filter(hit)
        spilled = arr.is_null().to_numpy(zero_copy_only=False)
        orphans = spilled.copy()
        if spilled.any():
            large = self._spill(cfg.column, spilled, ["filename", "value", "max_ts"])
            if large.num_rows:
                orphans[self._row_of(pc.unique(large["filename"]))] = False
                lhit = pc.is_in(large["value"], value_set=vals.cast(large["value"].type))
                lv = large.filter(lhit)
                rows = np.concatenate([rows, self._row_of(lv["filename"])])
                v = pa.concat_arrays([v, lv["value"].combine_chunks().cast(v.type)])
                t = pa.concat_arrays([t, lv["max_ts"].combine_chunks().cast(t.type)])
        out = orphans
        if len(rows):
            cand = pa.table({"v": v, "t": t, "f": self.names.take(pa.array(rows))})
            order = pc.sort_indices(
                cand,
                sort_keys=[("v", "ascending"), ("t", "descending"), ("f", "ascending")],
                null_placement="at_end",
            )
            sv = cand["v"].take(order).combine_chunks()
            first = np.ones(len(sv), dtype=bool)
            if len(sv) > 1:
                first[1:] = pc.not_equal(sv[1:], sv[:-1]).to_numpy(zero_copy_only=False)
            out[rows[order.to_numpy()[first]]] = True
        return out

    def verdict(self, col: str, q, stats: LocateStats) -> np.ndarray:
        """Per file: may it hold a row matching ``q`` (typed values or a
        Band) on ``col``?"""
        cfg = self.meta.config_for(col)
        rec = stats.per_column[col]
        stored = self._col(cfg.stored_column)
        if stored is None:
            # added but not yet backfilled by update(): no stored
            # values, so the column constrains no file
            rec.update(skipped=True, reason="column not built yet")
            return np.ones(self.n, dtype=bool)
        if isinstance(q, Band):
            return _band_overlaps(stored, q)
        if not len(q):
            rec["empty_values"] = True
            return np.zeros(self.n, dtype=bool)
        if cfg.type in ARRAY_TYPES:
            return self._array_verdict(cfg, stored, q)
        if cfg.type == BLOOM:
            cap = spark_planner.BLOOM_PROBE_CAP
            if len(q) > cap:  # the Spark planner's driver-memory guard
                rec.update(skipped=True, reason=f"> {cap} distinct query values")
                return np.ones(self.n, dtype=bool)
            pairs = bloomfn.hash_values(python_values(cfg, q))
            rec.update(bloom_keys=len(pairs), fpr=cfg.fpr or 0.01)
            return bloomfn.might_contain_many(stored, pairs)
        if cfg.type == RANGE:
            return _range_holding(stored, q)
        return self._temporal_verdict(cfg, stored, q)

    def locate(self, query: dict, stats: LocateStats) -> list[str]:
        """Candidate filenames for ``query`` ({col: typed values |
        Band}; columns absent from it apply no constraint), with
        ``stats.sizes`` and ``stats.totals`` filled from the same scan."""
        keep = np.ones(self.n, dtype=bool)
        for col, q in query.items():
            keep &= self.verdict(col, q, stats)
        sel = pa.array(np.flatnonzero(keep))
        files = self.names.take(sel).to_pylist()
        sizes = (
            self.sizes.take(sel).to_pylist()
            if self.sizes is not None
            else [None] * len(files)
        )
        stats.sizes = dict(zip(files, sizes))
        stats.totals = self.totals
        return files

