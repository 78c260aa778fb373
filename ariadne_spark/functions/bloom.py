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

_MAGIC = b"ABF1"
_HEADER = struct.Struct("<4sQI")

_MIN_BITS = 64
# rows per (chunk × k) position matrix in build and probe
_CHUNK = 65536


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


def _positions(pairs: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions (h1 + i·h2) mod m; uint64 wraps mod 2^64."""
    ks = np.arange(k, dtype=np.uint64)
    return (pairs[:, 0:1] + ks[None, :] * pairs[:, 1:2]) % np.uint64(m)


def build(values, fpr: float = 0.01) -> bytes | None:
    """Serialize a bloom filter containing ``values`` (None-safe)."""
    if values is None:
        return None
    pairs = hash_values(values)
    m, k = _params(len(pairs), fpr)
    bits = np.zeros(m, dtype=bool)
    for start in range(0, len(pairs), _CHUNK):
        bits[_positions(pairs[start : start + _CHUNK], k, m).ravel()] = True
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
    if blob is None:
        return True
    return any(
        might_contain_np(blob, pairs[start : start + _CHUNK]).any()
        for start in range(0, len(pairs), _CHUNK)
    )


def might_contain_np(blob: bytes | None, pairs: np.ndarray) -> np.ndarray:
    """Vectorized membership for an (n, 2) uint64 hash-pair array
    against one filter: returns a boolean array (True = maybe
    present). Chunked so the (chunk × k) index matrix stays small."""
    if blob is None:
        return np.ones(len(pairs), dtype=bool)
    m, k, bits = _parse(blob)
    out = np.empty(len(pairs), dtype=bool)
    for start in range(0, len(pairs), _CHUNK):
        idx = _positions(pairs[start : start + _CHUNK], k, m)
        byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
        out[start : start + _CHUNK] = np.all(
            byte & (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)), axis=1
        )
    return out
