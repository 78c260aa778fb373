"""JVM-free file-location planner (pyarrow).

The Spark 4 Python Data Source API executes planning callbacks
(``schema``/``partitions``/``pushFilters``) in a dedicated Python
worker with no SparkSession, so the data-source integration needs a
planner that reads index state straight from disk. This module
re-implements candidate location over the ParquetTable layout with
pyarrow only, mirroring plans/locate.py semantics:

* regular/computed/exploded: literal membership against the per-file
  distinct arrays; spilled files (null array) probe ``auto_bloom``
  when present, else stay candidates (conservative).
* bloom: probe the serialized filter.
* range: min/max containment.
* AND-intersection across queried columns.

Memory note: in-row arrays are bounded by ``largeIndexLimit``; rows
stream one segment batch at a time, and per-file state keeps only the
verdict bits plus the winning segment number — not the arrays.
"""

from __future__ import annotations

from ..functions import bloom as bloomfn
from ..storage.fs import get_fs, join
from ..storage.metadata import (
    BLOOM,
    COMPUTED,
    EXPLODED,
    RANGE,
    REGULAR,
    TEMPORAL,
    IndexMetadata,
)
from ..storage.table import read_manifest
from .locate import Band


def _segments(table_path: str) -> list[tuple[int, list[str]]] | None:
    """(seq, parquet files) per live segment in commit order, or None
    for a table never written. A missing segment directory raises:
    skipping it could drop a file that matches."""
    fs = get_fs(None, table_path)
    m = read_manifest(fs, table_path)
    if m is None:
        return None
    out = []
    for seg in sorted(m["segments"], key=lambda s: s["seq"]):
        d = join(table_path, seg["dir"])
        if not fs.is_dir(d):
            raise FileNotFoundError(f"segment directory {d} is missing")
        out.append((seg["seq"], fs.list_files(d, ".parquet")))
    return out


def list_filenames(filelist_path: str) -> list[str]:
    """All registered filenames (segment dedup is irrelevant here:
    filenames are the key, duplicates collapse via the set)."""
    import pyarrow.parquet as pq

    names: set[str] = set()
    for _, files in _segments(filelist_path) or []:
        for f in files:
            names.update(pq.read_table(f, columns=["filename"])["filename"].to_pylist())
    return sorted(names)


def locate_files_local(
    index_table_path: str,
    meta: IndexMetadata,
    query: dict[str, list],
    bands: dict[str, Band] | None = None,
) -> list[str]:
    """Candidate filenames for {column: [literal values]} without a
    SparkSession. Conservative by construction.

    ``bands``: optional {column: Band} interval constraints (from
    pushed >, >=, <, <= filters) evaluated against RANGE index
    [min,max] by interval overlap; non-range columns ignore their band
    (conservative)."""
    import pyarrow.parquet as pq

    segs = _segments(index_table_path)
    if segs is None:
        return []
    bands = bands or {}
    cols_needed = ["filename"]
    per_col = {}
    band_col = {}
    for col, values in query.items():
        cfg = meta.config_for(col)
        if cfg is None:
            raise KeyError(f"column {col} not indexed")
        vals = [v for v in values if v is not None]
        per_col[col] = (cfg, vals, bloomfn.hash_values(vals))
        cols_needed.append(cfg.stored_column)
        if cfg.type in (REGULAR, COMPUTED, EXPLODED):
            cols_needed.append(f"auto_bloom_{col}")
    for col, b in bands.items():
        cfg = meta.config_for(col)
        if cfg is None:
            raise KeyError(f"column {col} not indexed")
        if cfg.type == RANGE:
            band_col[col] = (cfg, b)
            cols_needed.append(cfg.stored_column)

    # last-writer-wins per filename across segments
    state: dict[str, tuple[int, bool]] = {}  # filename -> (seq, verdict)
    for seq, files in segs:
        for fpath in files:
            schema_names = set(pq.read_schema(fpath).names)
            use_cols = [c for c in cols_needed if c in schema_names]
            pf = pq.ParquetFile(fpath)
            for batch in pf.iter_batches(columns=use_cols, batch_size=1024):
                tbl = batch.to_pydict()
                n = len(tbl["filename"])
                for i in range(n):
                    fname = tbl["filename"][i]
                    ok = True
                    for col, (cfg, vals, pairs) in per_col.items():
                        if not vals:
                            ok = False
                            break
                        if not _match(cfg, vals, pairs, tbl, i):
                            ok = False
                            break
                    if ok:
                        for col, (cfg, b) in band_col.items():
                            if not _match_band(cfg, b, tbl, i):
                                ok = False
                                break
                    state[fname] = (seq, ok)
    return sorted(f for f, (_, ok) in state.items() if ok)


def _match_band(cfg, band: Band, tbl, i) -> bool:
    """Interval-overlap test of a pushed band against a RANGE
    [min,max] struct: file may match unless its whole range lies
    outside the band."""
    lo, hi = band.lo, band.hi
    if lo is None and hi is None:
        return True  # boundless band applies no row predicate
    sc = cfg.stored_column
    rng = tbl.get(sc, [None])[i] if sc in tbl else None
    if rng is None or rng.get("min") is None:
        return False  # all-null column can't satisfy a comparison
    if lo is not None:
        if rng["max"] < lo or (rng["max"] == lo and not band.lo_inc):
            return False
    if hi is not None:
        if rng["min"] > hi or (rng["min"] == hi and not band.hi_inc):
            return False
    return True


def _match(cfg, vals, pairs, tbl, i) -> bool:
    """May file row ``i`` hold one of ``vals``? ``pairs`` are their
    bloom hash pairs, hashed once per query column."""
    sc = cfg.stored_column
    if cfg.type in (REGULAR, COMPUTED, EXPLODED):
        arr = tbl.get(sc, [None])[i] if sc in tbl else None
        if arr is not None:
            have = set(arr)
            return any(v in have for v in vals)
        ab = f"auto_bloom_{cfg.column}"
        blob = tbl.get(ab, [None])[i] if ab in tbl else None
        if blob is not None:
            return bloomfn.might_contain_any(blob, pairs)
        return True  # spilled with no bloom: conservative
    if cfg.type == BLOOM:
        blob = tbl.get(sc, [None])[i] if sc in tbl else None
        if blob is None:
            return True
        return bloomfn.might_contain_any(blob, pairs)
    if cfg.type == RANGE:
        rng = tbl.get(sc, [None])[i] if sc in tbl else None
        if rng is None or rng.get("min") is None:
            return False  # all-null column can't match a non-null literal
        return any(rng["min"] <= v <= rng["max"] for v in vals)
    if cfg.type == TEMPORAL:  # pragma: no cover — refused upstream
        return True
    return True
