"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, batch shapes, UDF signatures,
partition sizing — is real and tested. The codec layer (actual
image/audio decoding) is stubbed: the decode libraries aren't in this
container, so ``decode_media`` routes to either a clearly-marked
``NotImplementedError`` or the deterministic fake codec used by
tests/oracles (``codec='fake'``), which "decodes" by parsing a tiny
fake header out of the bytes. Swapping in PIL/ffmpeg later is a
drop-in replacement of ``_decode_fake`` — no plan changes.

Scale notes: media bytes never pass through Python row-at-a-time —
``mapInPandas`` streams Arrow record batches; metadata-only
transformations (routing, filtering, size accounting) stay pure-JVM
on the metadata struct without touching the blob column (parquet
column pruning keeps blobs unread on disk).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("format", T.StringType()),       # png|jpg|wav|mp4|fake
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("byte_len", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decoded_width", T.IntegerType()),
        T.StructField("decoded_height", T.IntegerType()),
        T.StructField("phash", T.LongType()),
    ]
)

_NO_DECODE = {
    "content_hash": None,
    "mean_byte": None,
    "feature": None,
    "decoded_width": None,
    "decoded_height": None,
    "phash": None,
}


def _resize_bilinear(gray, out_h: int, out_w: int):
    """Separable bilinear resample (pixel-center aligned) — smooth for
    both up- and down-scaling, so a single-pixel perturbation moves
    low-frequency DCT coefficients only marginally (integer-bin area
    pooling on sub-32 inputs produced zero-area comb artifacts that
    made the median threshold flip ~20 bits on 1-pixel noise)."""
    import numpy as np

    h, w = gray.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)
    rows = gray[y0] * (1.0 - fy)[:, None] + gray[y1] * fy[:, None]
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fx = np.clip(xs - x0, 0.0, 1.0)
    return rows[:, x0] * (1.0 - fx)[None, :] + rows[:, x1] * fx[None, :]


def _phash64(gray) -> int:
    """64-bit DCT perceptual hash of a 2-D grayscale array: bilinear
    resample to 32×32, 2-D DCT-II by matrix product (pure numpy, no
    scipy), keep the 8×8 low-frequency block, threshold at the median
    of its 63 non-DC coefficients. Robust to small pixel
    perturbations, resizes, and re-encodes; hamming distance on the
    result measures visual similarity."""
    import numpy as np

    small = _resize_bilinear(gray.astype(np.float64), 32, 32)
    n = np.arange(32)
    c = np.cos(np.pi * (n[None, :] + 0.5) * n[:, None] / 32.0)
    dct = c @ small @ c.T
    low = dct[:8, :8].reshape(-1)
    med = np.median(low[1:])  # DC excluded from the threshold
    bits = (low > med).astype(np.uint8)
    packed = np.packbits(bits)
    return int.from_bytes(packed.tobytes(), "big", signed=True)


def pack_fake_media(
    df: DataFrame, payload_col: str, media_type: str = "image"
) -> DataFrame:
    """Deterministically wrap a string/binary payload into a fake
    media blob: 16-byte header (magic, width, height) + payload.
    Gives tests/oracles real binary columns without codec libs."""
    payload = F.encode(F.col(payload_col).cast("string"), "utf-8")
    w = (F.crc32(payload) % 1920).cast("int")
    h = (F.crc32(F.reverse(F.col(payload_col).cast("string"))) % 1080).cast("int")
    header = F.concat(
        F.encode(F.lit("FAKE"), "utf-8"),
        F.lpad(w.cast("string"), 6, "0").cast("binary"),
        F.lpad(h.cast("string"), 6, "0").cast("binary"),
    )
    blob = F.concat(header, payload)
    meta = F.struct(
        F.lit(media_type).alias("media_type"),
        F.lit("fake").alias("format"),
        w.alias("width"),
        h.alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.length(blob).cast("long").alias("byte_len"),
    )
    return df.withColumn("media", blob).withColumn("media_meta", meta)


# per-worker-process flag: decode_media's task body sets it (python
# workers run one task at a time, so per-task assignment is race-free)
_COMPUTE_PHASH = False


def _pixel_features(pixels, w: int, h: int) -> dict:
    """Shared feature extraction over decoded pixel bytes (uint8)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(-1)
    mean = float(arr.mean()) if len(arr) else 0.0
    # 8-dim "feature": byte-histogram over 8 bins, L1-normalized
    hist = np.histogram(arr, bins=8, range=(0, 256))[0].astype("float64")
    total = hist.sum() or 1.0
    # grayscale plane for the perceptual hash: RGB mean when the
    # payload is exactly w*h*3 (every real codec), else the raw bytes
    # zero-padded to the declared shape (fake-codec payloads are
    # arbitrary-length). Computed only when the caller asked
    # (decode_media(with_phash=True) — the resample+DCT is real work
    # per image and most feature passes don't want it).
    n = max(w, 0) * max(h, 0)
    if n > 0 and _COMPUTE_PHASH:
        if len(arr) == n * 3:
            gray = (
                arr.reshape(h, w, 3).astype(np.float64).mean(axis=2)
            )
        else:
            flat = np.zeros(n, dtype=np.float64)
            take = min(len(arr), n)
            flat[:take] = arr[:take]
            gray = flat.reshape(h, w)
        phash = _phash64(gray)
    else:
        phash = None
    return {
        "content_hash": hashlib.md5(arr.tobytes()).hexdigest(),
        "mean_byte": round(mean, 6),
        "feature": [float(x) for x in (hist / total).round(6)],
        "decoded_width": w,
        "decoded_height": h,
        "phash": phash,
    }


def _decode_fake(blob: bytes) -> dict:
    if blob is None or len(blob) < 16 or blob[:4] != b"FAKE":
        return dict(_NO_DECODE)
    w, h = int(blob[4:10]), int(blob[10:16])
    return _pixel_features(memoryview(blob)[16:], w, h)


def _ppm_pixels(blob: bytes):
    """Binary-PPM (P6) pixel reader: ``(h, w, 3)`` uint8 array, or
    None for anything unparseable. Header: ``P6 <ws> width <ws>
    height <ws> maxval \\n``, then width*height*3 raw bytes ('#'
    comment lines allowed). Shared by the feature decoder and the
    real :func:`image_resize`."""
    import numpy as np

    if blob is None or not bytes(blob[:2]) == b"P6":
        return None
    data = bytes(blob)
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(data):
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            return None
        fields.append(data[start:pos])
    if len(fields) < 3:
        return None
    try:
        w, h, maxval = (int(f) for f in fields)
    except ValueError:
        return None
    pos += 1  # single whitespace after maxval
    n = w * h * 3
    if maxval != 255 or w <= 0 or h <= 0 or len(data) - pos < n:
        return None
    return np.frombuffer(data, dtype=np.uint8, count=n, offset=pos).reshape(
        h, w, 3
    )


def _encode_ppm(arr) -> bytes:
    """Inverse of :func:`_ppm_pixels` — same header layout
    ``pack_synthetic_ppm`` writes, so an identity round-trip is
    byte-exact."""
    h, w = arr.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _decode_ppm(blob: bytes) -> dict:
    """REAL codec: binary PPM (P6), pure numpy — no PIL needed."""
    px = _ppm_pixels(blob)
    if px is None:
        return dict(_NO_DECODE)
    h, w = px.shape[:2]
    return _pixel_features(px, w, h)


def _decode_bmp(blob: bytes) -> dict:
    """REAL codec: uncompressed 24-bpp Windows BMP (BITMAPINFOHEADER),
    pure numpy. Rows are bottom-up and padded to 4 bytes; pixels are
    emitted top-down as RGB (BMP stores BGR)."""
    import struct

    import numpy as np

    if blob is None or bytes(blob[:2]) != b"BM" or len(blob) < 54:
        return dict(_NO_DECODE)
    data = bytes(blob)
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        return dict(_NO_DECODE)
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    if w <= 0 or h <= 0 or len(data) - pix_off < row_bytes * h:
        return dict(_NO_DECODE)
    raw = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * h, offset=pix_off
    ).reshape(h, row_bytes)
    bgr = raw[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    rgb = bgr[:, :, ::-1]
    return _pixel_features(np.ascontiguousarray(rgb), w, h)


def _png_paeth(a, b, c):
    """Paeth predictor (PNG spec §9.4) over int arrays."""
    import numpy as np

    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _decode_png(blob: bytes) -> dict:
    """REAL codec: PNG via stdlib ``zlib`` + numpy — no PIL needed.
    Supports 8-bit greyscale (type 0), RGB (2) and RGBA (6),
    non-interlaced; all five scanline filters (None/Sub/Up/Average/
    Paeth) are unfiltered. Per-scanline reconstruction runs in numpy
    with a sequential pass only where the filter demands one (Sub/
    Average/Paeth recursion along x); a production deployment would
    swap in a native decoder behind this same signature."""
    import struct
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    if blob is None or bytes(blob[:8]) != sig:
        return dict(_NO_DECODE)
    data = bytes(blob)
    pos, w = 8, None
    idat = b""
    try:
        while pos + 8 <= len(data):
            ln, ctype = struct.unpack_from(">I4s", data, pos)
            body = data[pos + 8 : pos + 8 + ln]
            if len(body) < ln:
                return dict(_NO_DECODE)
            if ctype == b"IHDR":
                w, h, depth, color, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
                if (
                    depth != 8
                    or color not in (0, 2, 6)
                    or comp != 0
                    or filt != 0
                    or interlace != 0
                ):
                    return dict(_NO_DECODE)
                ch = {0: 1, 2: 3, 6: 4}[color]
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            pos += 12 + ln  # len + type + data + crc
        if w is None or not idat:
            return dict(_NO_DECODE)
        raw = zlib.decompress(idat)
    except (struct.error, zlib.error):
        return dict(_NO_DECODE)
    stride = w * ch
    if len(raw) < h * (stride + 1):
        return dict(_NO_DECODE)
    lines = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(
        h, stride + 1
    )
    out = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):
        f, line = int(lines[r, 0]), lines[r, 1:].astype(np.int16)
        prev = out[r - 1].astype(np.int16) if r else np.zeros(stride, np.int16)
        if f == 0:
            rec = line
        elif f == 2:  # Up: no x-recursion, fully vectorized
            rec = line + prev
        elif f in (1, 3, 4):  # x-recursive: walk pixel columns
            rec = line.copy()
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                if f == 1:
                    rec[i] += a
                elif f == 3:
                    rec[i] += (a + prev[i]) >> 1
                else:
                    c = prev[i - ch] if i >= ch else 0
                    rec[i] += _png_paeth(
                        np.int16(a), prev[i], np.int16(c)
                    )
                rec[i] &= 0xFF
        else:
            return dict(_NO_DECODE)
        out[r] = rec & 0xFF
    return _pixel_features(out, w, h)


_CODECS = {
    "fake": _decode_fake,
    "ppm": _decode_ppm,
    "bmp": _decode_bmp,
    "png": _decode_png,
}


def _pil_available() -> bool:
    try:
        from PIL import Image  # noqa: F401

        return True
    except Exception:
        return False


def _decode_pil(blob: bytes) -> dict:
    """Optional-dependency codec: any format Pillow opens (JPEG being
    the one the pure-numpy codecs can't). Import errors propagate
    loudly (an executor without Pillow is an env misconfiguration,
    not a bad blob); undecodable blobs degrade to the null-feature
    row like every other codec."""
    from io import BytesIO

    import numpy as np
    from PIL import Image

    if blob is None:
        return dict(_NO_DECODE)
    try:
        img = Image.open(BytesIO(bytes(blob)))
        rgb = np.asarray(img.convert("RGB"), dtype=np.uint8)
    except Exception:
        return dict(_NO_DECODE)
    h, w = rgb.shape[:2]
    return _pixel_features(np.ascontiguousarray(rgb), w, h)


# codec -> (decoder, availability probe, human install hint). Probed
# at decode_media() call time so the same build works with or without
# the optional library.
_OPTIONAL_CODECS = {
    "jpeg": (_decode_pil, _pil_available, "Pillow (pip install pillow)"),
    "jpg": (_decode_pil, _pil_available, "Pillow (pip install pillow)"),
}


def decode_media(
    df: DataFrame,
    blob_col: str = "media",
    codec: str = "fake",
    batch_cols: list[str] | None = None,
    with_phash: bool = False,
) -> DataFrame:
    """Feature-extract media blobs with ``mapInPandas`` (Arrow
    batches). Real pure-numpy codecs: ``'ppm'`` (binary P6), ``'bmp'``
    (uncompressed 24-bpp), and ``'png'`` (stdlib zlib inflate + full
    scanline unfiltering); ``'fake'`` is the deterministic test codec.
    ``'jpeg'``/``'jpg'`` decode through Pillow when it is importable
    (driver-side probe; executors must carry the same package) and
    raise a clear install hint when it is not."""
    decode = _CODECS.get(codec)
    if decode is None and codec in _OPTIONAL_CODECS:
        fn, avail, hint = _OPTIONAL_CODECS[codec]
        if not avail():
            raise NotImplementedError(
                f"codec {codec!r} requires {hint}, which is not "
                f"importable in this environment"
            )
        decode = fn
    if decode is None:
        raise NotImplementedError(
            f"codec {codec!r}: not available in this environment — use "
            f"one of {sorted(_CODECS) + sorted(_OPTIONAL_CODECS)}"
        )
    from .. import context

    context.ship_package(df.sparkSession)
    keep = batch_cols or [c for c in df.columns if c != blob_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + list(FEATURE_SCHEMA.fields)
    )

    def run(batches: Iterator) -> Iterator:
        import ariadne_spark.operators.multimodal as _mm

        _mm._COMPUTE_PHASH = with_phash
        for pdf in batches:
            feats = pdf[blob_col].map(decode)
            res = pdf[keep].copy()
            for field in FEATURE_SCHEMA.fieldNames():
                res[field] = [f[field] for f in feats]
            yield res

    return df.mapInPandas(run, out_schema)


def image_near_dup(
    df: DataFrame,
    blob_col: str = "media",
    id_col: str = "doc_id",
    codec: str = "ppm",
    max_hamming: int = 3,
    block_cap: int = 10000,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: decode → 64-bit DCT
    pHash (:func:`_phash64` — robust to small pixel perturbations and
    re-encodes, unlike the byte-exact ``content_hash``) → the simhash
    hamming machinery (16-bit chunk blocking with the capped
    re-blocking scale guard, never all-pairs) → exact
    ``bit_count(xor)`` filter. Returns (id_a, id_b, hamming).
    Undecodable blobs are dropped, not errored — a crawl's corrupt
    images shouldn't kill the dedup pass."""
    from .dedup import simhash_near_pairs

    feats = decode_media(
        df.select(id_col, blob_col),
        blob_col,
        codec,
        batch_cols=[id_col],
        with_phash=True,
    )
    sigs = feats.where(F.col("phash").isNotNull()).select(
        id_col, F.col("phash").alias("simhash")
    )
    return simhash_near_pairs(sigs, id_col, max_hamming, block_cap)


def pack_synthetic_ppm(df: DataFrame, id_col: str) -> DataFrame:
    """Real binary-PPM (P6) blobs with closed-form pixels: for row id
    ``k``, width = 4 + k%13, height = 3 + k%7, and pixel byte ``i`` is
    ``(k*7 + i) % 256``. Decodable by the real ``'ppm'`` codec AND
    reproducible in plain SQL — which makes the real-codec path
    oracle-checkable without shipping image fixtures."""
    from .. import context

    context.ship_package(df.sparkSession)

    def pack(ids) -> "pd.Series":
        import numpy as np
        import pandas as pd

        out = []
        for k in ids:
            if k is None:
                out.append(None)
                continue
            k = int(k)
            w, h = 4 + k % 13, 3 + k % 7
            px = ((k * 7 + np.arange(w * h * 3)) % 256).astype(np.uint8)
            out.append(f"P6\n{w} {h}\n255\n".encode() + px.tobytes())
        return pd.Series(out)

    import pandas as pd

    pack.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return df.withColumn(
        "media", F.pandas_udf(pack, T.BinaryType())(F.col(id_col))
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("afp", T.LongType()),
    ]
)

_NO_AUDIO = {f.name: None for f in AUDIO_FEATURE_SCHEMA.fields}

# per-worker-process flag, same contract as _COMPUTE_PHASH: set by
# decode_audio's task body (one task at a time per python worker)
_COMPUTE_AFP = False


def _audio_fp64(amp, ch: int) -> int:
    """64-bit spectral audio fingerprint (Haitsma & Kalker 2002
    shape, pure numpy): mono mixdown → linear resample to a fixed
    8192-sample grid (sample-rate invariance) → 9 overlapping frames
    → rFFT magnitude → 9 log-spaced band energies per frame → bit =
    sign of the time-and-frequency energy difference
    (E[n+1,m]−E[n+1,m+1])−(E[n,m]−E[n,m+1]) over the 8×8 grid.
    Robust to mild PCM noise, re-encodes, and resampling; hamming
    distance measures acoustic similarity. Same caveat as the image
    pHash: characterized for dense-spectrum audio — a pure tone's
    near-zero band differences flip freely."""
    import numpy as np

    mono = amp.reshape(-1, ch).mean(axis=1)
    n = 8192
    src = np.arange(len(mono), dtype=np.float64)
    dst = np.linspace(0.0, max(len(mono) - 1, 1), n)
    x = np.interp(dst, src, mono) if len(mono) > 1 else np.zeros(n)
    frame_len, hop = 2048, 768
    window = np.hanning(frame_len)
    bands = np.unique(
        np.rint(np.logspace(np.log10(2), np.log10(frame_len // 2), 10))
    ).astype(int)
    while len(bands) < 10:  # degenerate tiny frames: pad the grid
        bands = np.append(bands, bands[-1] + 1)
    e = np.empty((9, 9), dtype=np.float64)
    for i in range(9):
        seg = x[i * hop : i * hop + frame_len]
        mag = np.abs(np.fft.rfft(seg * window)) ** 2
        for m in range(9):
            e[i, m] = mag[bands[m] : bands[m + 1]].sum()
    d = e[:, :8] - e[:, 1:9]  # frequency-adjacent differences
    bits = ((d[1:, :] - d[:-1, :]) > 0).astype(np.uint8).reshape(-1)
    packed = np.packbits(bits)
    return int.from_bytes(packed.tobytes(), "big", signed=True)


def _decode_wav(blob: bytes) -> dict:
    """REAL codec: RIFF/WAVE PCM (8- or 16-bit, any channel count),
    pure struct + numpy. Emits sample stats (RMS over centered
    amplitudes, exact duration) plus an md5 over the raw PCM bytes."""
    import hashlib
    import struct

    import numpy as np

    if blob is None or len(blob) < 12:
        return dict(_NO_AUDIO)
    data = bytes(blob)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return dict(_NO_AUDIO)
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, sz = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            return dict(_NO_AUDIO)
        if cid == b"fmt " and sz >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif cid == b"data":
            pcm = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        return dict(_NO_AUDIO)
    audio_format, ch, rate, _byterate, _align, bits = fmt
    if audio_format != 1 or bits not in (8, 16) or ch < 1 or rate < 1:
        return dict(_NO_AUDIO)
    width = bits // 8
    frames = len(pcm) // (ch * width)
    if frames == 0:
        return dict(_NO_AUDIO)
    pcm = pcm[: frames * ch * width]
    if bits == 16:
        amp = np.frombuffer(pcm, dtype="<i2").astype(np.float64)
    else:  # 8-bit WAV is unsigned, centered at 128
        amp = np.frombuffer(pcm, dtype=np.uint8).astype(np.float64) - 128.0
    return {
        "content_hash": hashlib.md5(pcm).hexdigest(),
        "n_samples": int(frames),
        "n_channels": int(ch),
        "sample_rate_hz": int(rate),
        "duration_ms": frames * 1000.0 / rate,
        "rms": round(float(np.sqrt(np.mean(amp * amp))), 6),
        "afp": _audio_fp64(amp, ch) if _COMPUTE_AFP else None,
    }


_AUDIO_CODECS = {"wav": _decode_wav}


def _soundfile_available() -> bool:
    try:
        import soundfile  # noqa: F401

        return True
    except Exception:
        return False


def _decode_soundfile(blob: bytes) -> dict:
    """Optional-dependency audio codec: any container libsndfile reads
    (FLAC/OGG and, with libsndfile >= 1.1, MP3). Emits the same
    AUDIO_FEATURE_SCHEMA as the pure-numpy WAV codec: samples are
    normalized to int16 range so content_hash/rms agree with
    ``_decode_wav`` on losslessly round-tripped PCM."""
    import hashlib
    from io import BytesIO

    import numpy as np
    import soundfile as sf

    if blob is None:
        return dict(_NO_AUDIO)
    try:
        data, rate = sf.read(BytesIO(bytes(blob)), dtype="int16")
    except Exception:
        return dict(_NO_AUDIO)
    if data.ndim == 1:
        data = data[:, None]
    frames, ch = data.shape
    if frames == 0:
        return dict(_NO_AUDIO)
    pcm = np.ascontiguousarray(data.astype("<i2")).tobytes()
    amp = data.astype(np.float64)
    return {
        "content_hash": hashlib.md5(pcm).hexdigest(),
        "n_samples": int(frames),
        "n_channels": int(ch),
        "sample_rate_hz": int(rate),
        "duration_ms": frames * 1000.0 / rate,
        "rms": round(float(np.sqrt(np.mean(amp * amp))), 6),
        "afp": _audio_fp64(amp, ch) if _COMPUTE_AFP else None,
    }


_OPTIONAL_AUDIO_CODECS = {
    fmt: (
        _decode_soundfile,
        _soundfile_available,
        "soundfile (pip install soundfile)",
    )
    for fmt in ("flac", "ogg", "mp3")
}


def decode_audio(
    df: DataFrame,
    blob_col: str = "media",
    codec: str = "wav",
    batch_cols: list[str] | None = None,
    with_fingerprint: bool = False,
) -> DataFrame:
    """Feature-extract audio blobs with ``mapInPandas`` (Arrow
    batches). ``'wav'`` (RIFF PCM) is a real pure-numpy codec;
    ``'flac'``/``'ogg'``/``'mp3'`` decode through soundfile when it
    is importable (driver-side probe; executors must carry the same
    package) and raise a clear install hint when it is not."""
    decode = _AUDIO_CODECS.get(codec)
    if decode is None and codec in _OPTIONAL_AUDIO_CODECS:
        fn, avail, hint = _OPTIONAL_AUDIO_CODECS[codec]
        if not avail():
            raise NotImplementedError(
                f"audio codec {codec!r} requires {hint}, which is not "
                f"importable in this environment"
            )
        decode = fn
    if decode is None:
        raise NotImplementedError(
            f"audio codec {codec!r}: not available in this environment — "
            f"use one of {sorted(_AUDIO_CODECS) + sorted(_OPTIONAL_AUDIO_CODECS)}"
        )
    from .. import context

    context.ship_package(df.sparkSession)
    keep = batch_cols or [c for c in df.columns if c != blob_col]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + list(AUDIO_FEATURE_SCHEMA.fields)
    )

    def run(batches: Iterator) -> Iterator:
        import ariadne_spark.operators.multimodal as _mm

        _mm._COMPUTE_AFP = with_fingerprint
        for pdf in batches:
            feats = pdf[blob_col].map(decode)
            res = pdf[keep].copy()
            for field in AUDIO_FEATURE_SCHEMA.fieldNames():
                res[field] = [f[field] for f in feats]
            yield res

    return df.mapInPandas(run, out_schema)


def audio_near_dup(
    df: DataFrame,
    blob_col: str = "media",
    id_col: str = "doc_id",
    codec: str = "wav",
    max_hamming: int = 3,
    block_cap: int = 10000,
) -> DataFrame:
    """Acoustic near-duplicate pairs: decode → 64-bit spectral
    fingerprint (:func:`_audio_fp64` — robust to mild PCM noise and
    re-encodes, unlike the byte-exact ``content_hash``) → the simhash
    hamming machinery (chunk blocking + capped re-blocking, never
    all-pairs) → exact ``bit_count(xor)`` filter. Returns
    (id_a, id_b, hamming); undecodable blobs are dropped."""
    from .dedup import simhash_near_pairs

    feats = decode_audio(
        df.select(id_col, blob_col),
        blob_col,
        codec,
        batch_cols=[id_col],
        with_fingerprint=True,
    )
    sigs = feats.where(F.col("afp").isNotNull()).select(
        id_col, F.col("afp").alias("simhash")
    )
    return simhash_near_pairs(sigs, id_col, max_hamming, block_cap)


def pack_synthetic_wav(df: DataFrame, id_col: str) -> DataFrame:
    """Real RIFF/WAVE 16-bit PCM mono blobs with closed-form samples:
    for row id ``k``, sample_rate = 8000 Hz, n = 64 + k%97 frames, and
    sample ``i`` is ``((k*31 + i*7) % 2001) - 1000``. Decodable by the
    real ``'wav'`` codec AND reproducible in plain SQL (duration =
    n × 0.125 ms exactly), keeping the audio path oracle-checkable."""
    from .. import context

    context.ship_package(df.sparkSession)

    def pack(ids) -> "pd.Series":
        import struct

        import numpy as np
        import pandas as pd

        out = []
        for k in ids:
            if k is None:
                out.append(None)
                continue
            k = int(k)
            n = 64 + k % 97
            samples = (((k * 31 + np.arange(n) * 7) % 2001) - 1000).astype(
                "<i2"
            )
            pcm = samples.tobytes()
            fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
            body = (
                b"WAVE"
                + b"fmt "
                + struct.pack("<I", len(fmt))
                + fmt
                + b"data"
                + struct.pack("<I", len(pcm))
                + pcm
            )
            out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
        return pd.Series(out)

    import pandas as pd

    pack.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return df.withColumn(
        "media", F.pandas_udf(pack, T.BinaryType())(F.col(id_col))
    )


def pack_synthetic_png(df: DataFrame, id_col: str) -> DataFrame:
    """Real PNG blobs (signature, IHDR/IDAT/IEND chunks, CRCs, zlib
    stream) with closed-form pixels: for row id ``k``, width =
    4 + k%11, height = 3 + k%5, RGB, and pixel byte ``i`` is
    ``(k*11 + i) % 256``. Scanline ``r`` is encoded with filter
    ``r % 5``, so decoding exercises every PNG filter type
    (None/Sub/Up/Average/Paeth) — and the pixel formula keeps the
    real-codec path oracle-checkable in plain SQL."""
    from .. import context

    context.ship_package(df.sparkSession)

    def pack(ids) -> "pd.Series":
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        def chunk(ctype: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        out = []
        for k in ids:
            if k is None:
                out.append(None)
                continue
            k = int(k)
            w, h, ch = 4 + k % 11, 3 + k % 5, 3
            px = ((k * 11 + np.arange(w * h * ch)) % 256).astype(np.int16)
            px = px.reshape(h, w * ch)
            scan = bytearray()
            for r in range(h):
                raw = px[r]
                prev = px[r - 1] if r else np.zeros(w * ch, np.int16)
                left = np.concatenate([np.zeros(ch, np.int16), raw[:-ch]])
                upleft = np.concatenate([np.zeros(ch, np.int16), prev[:-ch]])
                f = r % 5
                if f == 0:
                    enc = raw
                elif f == 1:
                    enc = raw - left
                elif f == 2:
                    enc = raw - prev
                elif f == 3:
                    enc = raw - ((left + prev) >> 1)
                else:
                    enc = raw - _png_paeth(left, prev, upleft)
                scan.append(f)
                scan.extend((enc % 256).astype(np.uint8).tobytes())
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            out.append(
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(scan)))
                + chunk(b"IEND", b"")
            )
        return pd.Series(out)

    import pandas as pd

    pack.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return df.withColumn(
        "media", F.pandas_udf(pack, T.BinaryType())(F.col(id_col))
    )


_PIXEL_CODECS = {"ppm": "_ppm_pixels"}


def image_resize(
    df: DataFrame,
    width: int | str,
    height: int | str,
    blob_col: str = "media",
    batch_cols: list[str] | None = None,
    codec: str = "ppm",
) -> DataFrame:
    """REAL image resize (r07, upgrading the former metadata-only
    stub): decode → separable pixel-center-aligned bilinear resample
    per channel (:func:`_resize_bilinear`, the same kernel the pHash
    uses) → re-encode as binary PPM. Pure numpy over ``mapInPandas``
    Arrow batches — the canonical "heavy media kernel as a vectorized
    Pandas UDF" shape; a cluster deployment swaps the codec table for
    PIL/ffmpeg readers without touching the Spark plumbing.

    ``width``/``height`` take an int (one target for the frame) or a
    COLUMN NAME (per-row targets — the thumbnail-pipeline shape where
    each image keeps its own aspect ratio).

    Identity contract: resizing to the source's own dimensions is
    BYTE-EXACT (pixel-center alignment degenerates to unit weights
    and the PPM writer mirrors ``pack_synthetic_ppm``'s header), so
    the full decode→resample→re-encode path carries an equality
    oracle despite the float kernel. Unparseable blobs — and rows
    whose per-row target is NULL or non-positive — yield NULL output
    (crawl posture: corrupt rows don't kill the job). Returns
    ``batch_cols`` + ``blob_col`` (resized) + ``resized_width``/
    ``resized_height`` (NULL when skipped)."""
    if codec not in _PIXEL_CODECS:
        raise NotImplementedError(
            f"codec {codec!r}: pixel access implemented for "
            f"{sorted(_PIXEL_CODECS)} — decode other formats upstream "
            f"or install an image library and extend _PIXEL_CODECS"
        )
    for dim in (width, height):
        if isinstance(dim, int) and dim <= 0:
            raise ValueError(f"target size must be positive, got {dim}")
    from .. import context

    context.ship_package(df.sparkSession)
    target_cols = [d for d in (width, height) if isinstance(d, str)]
    keep = batch_cols or [
        c for c in df.columns if c != blob_col and c not in target_cols
    ]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField(blob_col, T.BinaryType()),
            T.StructField("resized_width", T.IntegerType()),
            T.StructField("resized_height", T.IntegerType()),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            wt = pdf[width] if isinstance(width, str) else [width] * n
            ht = pdf[height] if isinstance(height, str) else [height] * n
            blobs, ws, hs = [], [], []
            for blob, tw, th in zip(pdf[blob_col], wt, ht):
                px = _ppm_pixels(blob)
                ok = (
                    px is not None
                    and tw is not None
                    and th is not None
                    # Arrow hands nullable int columns to pandas as
                    # float64 + NaN; NaN != NaN filters those
                    and tw == tw
                    and th == th
                    and int(tw) > 0
                    and int(th) > 0
                )
                if not ok:
                    blobs.append(None)
                    ws.append(None)
                    hs.append(None)
                    continue
                tw, th = int(tw), int(th)
                chans = [
                    np.clip(
                        np.rint(
                            _resize_bilinear(
                                px[:, :, c].astype(np.float64), th, tw
                            )
                        ),
                        0,
                        255,
                    )
                    for c in range(3)
                ]
                out = np.stack(chans, axis=2).astype(np.uint8)
                blobs.append(_encode_ppm(out))
                ws.append(tw)
                hs.append(th)
            res = pdf[keep].copy()
            res[blob_col] = blobs
            res["resized_width"] = ws
            res["resized_height"] = hs
            yield res

    return df.mapInPandas(run, out_schema)


def _wav_pcm16(blob: bytes):
    """(samples int16 (frames, ch), rate) for a RIFF/WAVE PCM16 blob,
    or None for anything else (8-bit and non-PCM inputs are feature-
    decodable via :func:`_decode_wav` but not resample targets)."""
    import struct

    import numpy as np

    if blob is None or len(blob) < 12:
        return None
    data = bytes(blob)
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, sz = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + sz]
        if len(body) < sz:
            return None
        if cid == b"fmt " and sz >= 16:
            fmt = struct.unpack_from("<HHIIHH", body)
        elif cid == b"data":
            pcm = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or pcm is None:
        return None
    audio_format, ch, rate, _br, _al, bits = fmt
    if audio_format != 1 or bits != 16 or ch < 1 or rate < 1:
        return None
    frames = len(pcm) // (ch * 2)
    if frames == 0:
        return None
    samples = np.frombuffer(pcm, dtype="<i2", count=frames * ch).reshape(
        frames, ch
    )
    return samples, rate


def _encode_wav(samples, rate: int) -> bytes:
    """Inverse of :func:`_wav_pcm16` — same chunk layout
    ``pack_synthetic_wav`` writes (RIFF, fmt(16), data), so an
    identity round-trip is byte-exact."""
    import struct

    import numpy as np

    frames, ch = samples.shape
    pcm = np.ascontiguousarray(samples.astype("<i2")).tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_resample(
    df: DataFrame,
    rate: int | str,
    blob_col: str = "media",
    batch_cols: list[str] | None = None,
) -> DataFrame:
    """REAL audio resample (r07): decode RIFF/WAVE PCM16 → per-channel
    linear interpolation onto the target rate's sample grid
    (sample-aligned: out frame ``j`` reads source position
    ``j · src_rate / out_rate``) → re-encode WAV. Pure numpy over
    ``mapInPandas`` Arrow batches, same plumbing contract as
    :func:`image_resize`; ``rate`` is an int or a per-row column
    name.

    Identity contract: resampling to the source's own rate is
    BYTE-EXACT (integer sample positions, unit weights, mirrored
    writer) — the oracle hook. Unparseable / non-PCM16 blobs and
    NULL or non-positive targets yield NULL rows. Returns
    ``batch_cols`` + ``blob_col`` (resampled) + ``resampled_rate`` +
    ``resampled_frames``."""
    if isinstance(rate, int) and rate <= 0:
        raise ValueError(f"target rate must be positive, got {rate}")
    from .. import context

    context.ship_package(df.sparkSession)
    target_cols = [rate] if isinstance(rate, str) else []
    keep = batch_cols or [
        c for c in df.columns if c != blob_col and c not in target_cols
    ]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField(blob_col, T.BinaryType()),
            T.StructField("resampled_rate", T.IntegerType()),
            T.StructField("resampled_frames", T.LongType()),
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            rt = pdf[rate] if isinstance(rate, str) else [rate] * n
            blobs, rates, counts = [], [], []
            for blob, tr in zip(pdf[blob_col], rt):
                parsed = _wav_pcm16(blob)
                ok = (
                    parsed is not None
                    and tr is not None
                    and tr == tr  # NaN guard (Arrow nullable ints)
                    and int(tr) > 0
                )
                if not ok:
                    blobs.append(None)
                    rates.append(None)
                    counts.append(None)
                    continue
                samples, src_rate = parsed
                tr = int(tr)
                frames = samples.shape[0]
                out_n = max(1, frames * tr // src_rate)
                xs = np.arange(out_n, dtype=np.float64) * (src_rate / tr)
                src = np.arange(frames, dtype=np.float64)
                chans = [
                    np.clip(
                        np.rint(
                            np.interp(xs, src, samples[:, c].astype(np.float64))
                        ),
                        -32768,
                        32767,
                    )
                    for c in range(samples.shape[1])
                ]
                out = np.stack(chans, axis=1).astype("<i2")
                blobs.append(_encode_wav(out, tr))
                rates.append(tr)
                counts.append(out_n)
            res = pdf[keep].copy()
            res[blob_col] = blobs
            res["resampled_rate"] = rates
            res["resampled_frames"] = counts
            yield res

    return df.mapInPandas(run, out_schema)


def pack_synthetic_video(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic raw-RGB 'video' container with closed-form
    pixels (the fixture side of the REAL :func:`frame_sample`):
    header ``VID0`` + four 6-digit ascii ints (width, height,
    n_frames, frame_ms), then ``n_frames`` raw w*h*3 frames. For row
    id ``k``: w = 4 + k%5, h = 3 + k%4, n_frames = 2 + k%4,
    frame_ms = 250·(1 + k%3); frame ``f`` pixel byte ``i`` is
    ``(k*7 + f*31 + i) % 256`` — every sampled-frame statistic is
    reproducible in plain SQL, so the real decode path is
    oracle-checkable without shipping media fixtures."""
    from .. import context

    context.ship_package(df.sparkSession)

    def pack(ids) -> "pd.Series":
        import numpy as np
        import pandas as pd

        out = []
        for k in ids:
            if k is None:
                out.append(None)
                continue
            k = int(k)
            w, h = 4 + k % 5, 3 + k % 4
            nf, fms = 2 + k % 4, 250 * (1 + k % 3)
            hdr = f"VID0{w:06d}{h:06d}{nf:06d}{fms:06d}".encode()
            n = w * h * 3
            frames = [
                ((k * 7 + f * 31 + np.arange(n)) % 256).astype(np.uint8)
                for f in range(nf)
            ]
            out.append(hdr + b"".join(fr.tobytes() for fr in frames))
        return pd.Series(out)

    import pandas as pd

    pack.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return df.withColumn(
        "media", F.pandas_udf(pack, T.BinaryType())(F.col(id_col))
    )


def _video_frames(blob: bytes):
    """(w, h, n_frames, frame_ms, frames_u8_array) for a ``VID0``
    container, or None when unparseable."""
    import numpy as np

    if blob is None or bytes(blob[:4]) != b"VID0":
        return None
    data = bytes(blob)
    try:
        w = int(data[4:10])
        h = int(data[10:16])
        nf = int(data[16:22])
        fms = int(data[22:28])
    except ValueError:
        return None
    n = w * h * 3
    if w <= 0 or h <= 0 or nf <= 0 or fms <= 0 or len(data) - 28 < n * nf:
        return None
    frames = np.frombuffer(data, dtype=np.uint8, count=n * nf, offset=28)
    return w, h, nf, fms, frames.reshape(nf, n)


FRAME_SCHEMA_FIELDS = [
    T.StructField("frame_ts_ms", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("frame_width", T.IntegerType()),
    T.StructField("frame_height", T.IntegerType()),
    T.StructField("frame_mean_byte", T.DoubleType()),
]


def frame_sample(
    df: DataFrame,
    every_ms: int = 1000,
    blob_col: str = "media",
    batch_cols: list[str] | None = None,
) -> DataFrame:
    """REAL video frame sampling (r07, upgrading the metadata-only
    stub): decode the ``VID0`` container, take one frame per
    ``every_ms`` tick across the clip's duration (tick → the frame
    covering it: ``index = ts // frame_ms``), and emit that frame's
    pixel statistics — one OUTPUT ROW PER SAMPLED FRAME from
    ``mapInPandas`` (the row-expanding Arrow-batch shape a video
    pipeline needs; a cluster deployment swaps the container parser
    for ffmpeg without touching the Spark plumbing). Unparseable
    blobs produce no rows (crawl posture)."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    from .. import context

    context.ship_package(df.sparkSession)
    keep = batch_cols or [c for c in df.columns if c != blob_col]
    out_schema = T.StructType([df.schema[c] for c in keep] + FRAME_SCHEMA_FIELDS)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                parsed = _video_frames(pdf[blob_col].iloc[i])
                if parsed is None:
                    continue
                w, h, nf, fms, frames = parsed
                base = {c: pdf[c].iloc[i] for c in keep}
                for ts in range(0, nf * fms, every_ms):
                    f = ts // fms
                    rows.append(
                        {
                            **base,
                            "frame_ts_ms": ts,
                            "frame_index": f,
                            "frame_width": w,
                            "frame_height": h,
                            "frame_mean_byte": round(
                                float(frames[f].mean()), 6
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=keep + [fld.name for fld in FRAME_SCHEMA_FIELDS],
            )

    return df.mapInPandas(run, out_schema)


def frame_sample_stub(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """STUB: video frame sampling — emits planned frame timestamps
    from metadata (duration_ms) without decoding; one row per frame.
    Rows with NULL duration produce no frames (explode of a NULL
    array), matching what a SQL generate_series oracle yields."""
    dur = F.col("media_meta").getField("duration_ms")
    frames = F.when(
        dur.isNotNull(), F.sequence(F.lit(0), dur, F.lit(every_ms))
    )
    return df.withColumn("frame_ts_ms", F.explode(frames))
