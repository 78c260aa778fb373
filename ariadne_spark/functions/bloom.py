"""Pure-Python bloom filters over string-ized values.

The reference serializes Guava ``BloomFilter[CharSequence]`` binaries
into a BinaryType index column and probes string representations of
values (reference:
src/main/scala/dev/cjfravel/ariadne/BloomFilterOperations.scala:95-173,
probe :225-287; string-typed membership documented in SURVEY §1.3).
The wire format is internal to the index, so this implementation uses
its own deterministic format (no Guava compatibility needed —
BloomFilterOperations.scala:26-28 documents the bytes as an
implementation detail):

    b"ABF1" | uint64 m_bits | uint32 k | bit array (little-endian packed)

Hashing is Kirsch–Mitzenmacher double hashing over the two 64-bit
halves of ``sha256(utf8(str(value)))`` — deterministic across Python
versions and processes (unlike ``hash()``). Only the sha256 runs per
value; bit positions are set and probed as numpy arrays.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pyarrow as pa

_MAGIC = b"ABF1"
_HEADER = struct.Struct("<4sQI")

_MIN_BITS = 64
# rows per (chunk × k) position matrix in build and probe
_CHUNK = 65536
# positions per (filters × values) matrix in the many-filter probe
_PROBE_CELLS = 1 << 22


def _params(n: int, fpr: float) -> tuple[int, int]:
    """Optimal (m_bits, k) for n insertions at target fpr."""
    n = max(n, 1)
    m = max(_MIN_BITS, int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2))))
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 32)


def digest16(value) -> bytes:
    """First 16 bytes of sha256(str(value)) — the wire form of a hash
    pair (little-endian h1 ‖ h2-before-odd-or). Computed executor-side
    so the driver only ever collects 16 B per distinct query value,
    never the values themselves."""
    return hashlib.sha256(str(value).encode("utf-8")).digest()[:16]


def pairs_from_digests(digests) -> np.ndarray:
    """Decode 16-byte digests into an (n, 2) uint64 pair array,
    h2 |= 1 so the double-hash stride has full period mod 2^x."""
    arr = np.frombuffer(b"".join(digests), dtype="<u8").reshape(-1, 2).copy()
    arr[:, 1] |= np.uint64(1)
    return arr


def hash_values(values) -> np.ndarray:
    """(n, 2) uint64 hash pairs of the non-None ``values``, in order —
    the one hasher behind build and every probe."""
    return pairs_from_digests([digest16(v) for v in values if v is not None])


def _positions(h1, h2, i, m):
    """Bit positions (h1 + i·h2) mod m, broadcast over numpy arrays
    (uint64 wraps mod 2^64): the one probe schedule of build and every
    probe."""
    return (h1 + i * h2) % m


def _bits_set(data: np.ndarray, base, pos) -> np.ndarray:
    """Whether bits ``pos`` are set in the little-endian packed bit
    array that starts at byte ``base`` of ``data``."""
    byte = data[(base + (pos >> np.uint64(3))).astype(np.int64)]
    return ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)) == 1


def build(values, fpr: float = 0.01) -> bytes | None:
    """Serialize a bloom filter containing ``values`` (None-safe)."""
    if values is None:
        return None
    pairs = hash_values(values)
    m, k = _params(len(pairs), fpr)
    bits = np.zeros(m, dtype=bool)
    ks = np.arange(k, dtype=np.uint64)[None, :]
    for start in range(0, len(pairs), _CHUNK):
        p = pairs[start : start + _CHUNK]
        bits[_positions(p[:, :1], p[:, 1:], ks, np.uint64(m)).ravel()] = True
    return _HEADER.pack(_MAGIC, m, k) + np.packbits(bits, bitorder="little").tobytes()


def _parse(blob: bytes) -> tuple[int, int, np.ndarray]:
    magic, m, k = _HEADER.unpack_from(blob)
    if magic != _MAGIC:
        raise ValueError("not an ariadne bloom filter")
    bits = np.frombuffer(blob, dtype=np.uint8, offset=_HEADER.size)
    return m, k, bits


def might_contain(blob: bytes | None, value) -> bool:
    """Single probe. None blob (no filter built) => must read the file;
    a None value never matches."""
    return might_contain_any(blob, hash_values([value]))


def might_contain_any(blob: bytes | None, pairs: np.ndarray) -> bool:
    """Probe many pre-hashed values (an (n, 2) uint64 array from
    ``hash_values`` or ``pairs_from_digests``) against one filter;
    True if any value may be present."""
    return bool(might_contain_many(pa.array([blob], pa.binary()), pairs)[0])


def might_contain_many(blobs: pa.Array, pairs: np.ndarray) -> np.ndarray:
    """Per serialized filter in ``blobs`` (an Arrow binary array): may
    it hold ANY of the hashed values? A null filter (none built) is a
    must-read, True; an empty value set matches nothing. All filters
    are probed together: their headers parse as one gather and each
    hash round is one (filters x values) position matrix over the
    concatenated bit arrays, chunked to ``_PROBE_CELLS`` positions."""
    n = len(blobs)
    out = blobs.is_null().to_numpy(zero_copy_only=False).copy()
    rows = np.flatnonzero(~out)
    if not len(rows) or not len(pairs):
        return out
    blobs = blobs.cast(pa.binary())
    offs = np.frombuffer(blobs.buffers()[1], dtype=np.int32)[
        blobs.offset : blobs.offset + n + 1
    ]
    data = np.frombuffer(blobs.buffers()[2], dtype=np.uint8)
    start = offs[rows].astype(np.int64)
    hdr = data[start[:, None] + np.arange(_HEADER.size)]
    if (hdr[:, :4] != np.frombuffer(_MAGIC, dtype=np.uint8)).any():
        raise ValueError("not an ariadne bloom filter")
    m = hdr[:, 4:12].copy().view("<u8")  # (filters, 1)
    k = hdr[:, 12:16].copy().view("<u4").ravel()
    base = (start + _HEADER.size).astype(np.uint64)[:, None]
    per = max(1, _PROBE_CELLS // len(rows))
    hit = np.zeros(len(rows), dtype=bool)
    for s in range(0, len(pairs), per):
        h1 = pairs[s : s + per, 0][None, :]
        h2 = pairs[s : s + per, 1][None, :]
        alive = np.ones((len(rows), h1.shape[1]), dtype=bool)
        for i in range(int(k.max())):
            pos = _positions(h1, h2, np.uint64(i), m)
            alive &= _bits_set(data, base, pos) | (i >= k)[:, None]
        hit |= alive.any(axis=1)
    out[rows] = hit
    return out


def might_contain_np(blob: bytes | None, pairs: np.ndarray) -> np.ndarray:
    """Vectorized membership for an (n, 2) uint64 hash-pair array
    against one filter: returns a boolean array (True = maybe
    present). Chunked so the (chunk × k) index matrix stays small."""
    if blob is None:
        return np.ones(len(pairs), dtype=bool)
    m, k, bits = _parse(blob)
    ks = np.arange(k, dtype=np.uint64)[None, :]
    out = np.empty(len(pairs), dtype=bool)
    for start in range(0, len(pairs), _CHUNK):
        p = pairs[start : start + _CHUNK]
        pos = _positions(p[:, :1], p[:, 1:], ks, np.uint64(m))
        out[start : start + _CHUNK] = _bits_set(bits, np.uint64(0), pos).all(axis=1)
    return out
