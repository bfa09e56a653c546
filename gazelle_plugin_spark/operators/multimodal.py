"""Multimodal (image/audio/video) column plumbing.

Media assets are opaque ``binary`` columns plus a typed metadata
struct; feature extraction runs as Arrow-batched ``mapInPandas``
pipelines (the ColumnarArrowEvalPythonExec analog — batches cross to
Python once, vectorized inside). PIXEL decode (:func:`decode_pixels`)
handles the two formats the registered queries plant, with no codec
library: PNG (stdlib zlib + numpy unfilter; every color type, palette,
8/16-bit, Adam7) and Huffman-coded JPEG — baseline, extended
sequential, AND progressive (SOF0/1/2 incl. spectral selection,
successive approximation, restart intervals, chroma subsampling). Any
other format, and the non-Huffman-DCT JPEG variants (lossless/
hierarchical/arithmetic, SOF3/5-7/9-15), raise a named
NotImplementedError. The fixture encoders (:func:`encode_png_gray16`,
:func:`encode_jpeg_gray`) build the planted blobs of
plans/multimodal.py's pixel-stats queries. Tested in
tests/test_multimodal.py.

Scale notes (100 TB of media): blobs should live in the lake as
(metadata parquet + object-store URIs or inline binary <= a few MB);
feature extraction is embarrassingly parallel per batch — size
partitions by bytes (maxPartitionBytes), never collect blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: Feature schema produced by extract_byte_features.
BYTE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("n_distinct_bytes", IntegerType()),
        StructField("head_byte", IntegerType()),
    ]
)


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate an ingested media column: utf-8 bytes of ``text_col``
    as the opaque blob + a typed metadata struct (every real media
    table carries one)."""
    blob = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit("application/octet-stream").alias("mime"),
        F.length(blob).alias("n_bytes"),
        F.md5(blob).alias("checksum"),
    )
    return df.withColumn("blob", blob).withColumn("media_meta", meta)


#: Peak-memory bound for the vectorized byte-stat kernel: blobs are
#: processed in row groups whose concatenated bytes stay under this, so
#: the scratch arrays (concat copy + int32 scatter index + int64 cumsum,
#: ~13 bytes per blob byte) are bounded per task regardless of how many
#: rows Arrow packs into a batch. A single blob larger than the chunk
#: processes alone (blobs are contractually inline <= a few MB).
BYTE_FEATURE_CHUNK = 64 << 20


def extract_byte_features(
    df: DataFrame, id_col: str = "doc_id", chunk_bytes: int = BYTE_FEATURE_CHUNK
) -> DataFrame:
    """Arrow-batched feature extraction over the blob column: byte
    statistics computed vectorized in numpy — blobs concatenate into
    one uint8 view and per-blob stats fall out of offset arithmetic
    (segment sums via cumsum, head bytes via start-index gather,
    distinct counts via an n x 256 presence matrix). The concatenation
    runs over BYTE_FEATURE_CHUNK-bounded row groups so scratch memory
    is O(chunk), not O(batch bytes): a 10k-row batch of MB-scale blobs
    would otherwise allocate tens of GB of scatter indices. No per-row
    Python inside a group: the mapInPandas boundary buys one Arrow
    crossing, and the body keeps the vectorization it paid for (the
    ColumnarArrowEvalPythonExec analog). Swap the body for an
    image/audio featurizer when codecs are available."""
    featurize = _byte_featurizer(id_col, chunk_bytes)
    return df.select(id_col, "blob").mapInPandas(featurize, BYTE_FEATURES_SCHEMA)


def _byte_featurizer(id_col: str, chunk_bytes: int):
    """The mapInPandas kernel of :func:`extract_byte_features`. An empty batch
    yields a frame typed from BYTE_FEATURES_SCHEMA, not all-float64 columns."""
    import numpy as np
    from pyspark.sql.pandas.types import to_arrow_schema

    names = [f.name for f in BYTE_FEATURES_SCHEMA.fields]
    empty = to_arrow_schema(BYTE_FEATURES_SCHEMA).empty_table().to_pandas()

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            col = list(pdf["blob"])
            n = len(col)
            if n == 0:
                yield empty
                continue
            lengths = np.fromiter(map(len, col), dtype=np.int64, count=n)
            cum = np.cumsum(lengths)
            mean = np.zeros(n, dtype=np.float64)
            distinct = np.zeros(n, dtype=np.int32)
            head = np.full(n, -1, dtype=np.int32)
            lo = 0
            while lo < n:
                base = int(cum[lo - 1]) if lo else 0
                hi = int(np.searchsorted(cum, base + chunk_bytes, side="left")) + 1
                hi = min(max(hi, lo + 1), n)
                glen = lengths[lo:hi]
                buf = np.frombuffer(b"".join(col[lo:hi]), dtype=np.uint8)
                ends = np.cumsum(glen)
                starts = ends - glen
                csum = np.concatenate(([0], np.cumsum(buf, dtype=np.int64)))
                sums = csum[ends] - csum[starts]
                mean[lo:hi] = np.where(glen > 0, sums / np.maximum(glen, 1), 0.0)
                if buf.size:
                    head_at = buf[np.minimum(starts, buf.size - 1)].astype(np.int32)
                    head[lo:hi] = np.where(glen > 0, head_at, np.int32(-1))
                    presence = np.zeros((hi - lo, 256), dtype=bool)
                    presence[np.repeat(np.arange(hi - lo, dtype=np.int32), glen), buf] = True
                    distinct[lo:hi] = presence.sum(axis=1).astype(np.int32)
                lo = hi
            yield pd.DataFrame(
                {
                    names[0]: pdf[id_col].to_numpy(),
                    names[1]: lengths,
                    names[2]: mean,
                    names[3]: distinct,
                    names[4]: head,
                }
            )

    return featurize


#: Feature schema produced by extract_pixel_stats.
PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_px", IntegerType()),
        StructField("px_sum", LongType()),
        StructField("px_min", IntegerType()),
        StructField("px_max", IntegerType()),
    ]
)


def extract_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", blob_col: str = "blob"
) -> DataFrame:
    """Arrow-batched PIXEL-grain featurizer: run :func:`decode_pixels`
    on each blob inside mapInPandas and reduce the raster to exact
    integer stats (count / sum / min / max over all samples). The
    per-blob loop is the real shape — each blob is an independent
    codec stream — and the reductions are numpy. Sum/min/max over the
    DECODED samples make the whole decode path externally checkable:
    any bit error in unfiltering, bit-depth handling, or interlace
    reassembly shifts px_sum."""
    import numpy as np

    names = [f.name for f in PIXEL_STATS_SCHEMA.fields]

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in names}
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                px = decode_pixels(bytes(b)).astype(np.int64).reshape(-1)
                out["doc_id"].append(int(i))
                out["n_px"].append(int(px.size))
                # a zero-pixel raster (0-width/height stream) yields
                # null stats instead of raising inside the Arrow task
                out["px_sum"].append(int(px.sum()) if px.size else None)
                out["px_min"].append(int(px.min()) if px.size else None)
                out["px_max"].append(int(px.max()) if px.size else None)
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(stats, PIXEL_STATS_SCHEMA)


def encode_png_gray16(raster, interlace: int = 1, filters=(0, 1, 2, 3, 4)) -> bytes:
    """Planted-fixture PNG encoder: 16-bit GRAYSCALE, optionally
    Adam7-interlaced, one filter type per scanline cycling ``filters``
    — the forward transform of RFC 2083 §6 over big-endian 2-byte
    samples (bpp=2, left neighbor two bytes back). Exists so a
    DRIVER-visible query (plans/multimodal.py mm_png_pixel_stats) can
    exercise the decoder's hardest path — 16-bit depth x all five
    filters x Adam7 reassembly — on deterministic rasters whose pixel
    values an external oracle re-derives arithmetically; the general
    multi-color-type twin used by the pytest suite lives in
    tests/test_multimodal.py."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(raster, dtype=np.uint16)
    h, w = arr.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def encode_sub(sub: "np.ndarray") -> bytearray:
        stride = sub.shape[1] * 2
        out = bytearray()
        prev = [0] * stride
        for y in range(sub.shape[0]):
            f = filters[y % len(filters)]
            row = list(sub[y].astype(">u2").tobytes())
            out.append(f)
            for i in range(stride):
                a = row[i - 2] if i >= 2 else 0
                up = prev[i]
                ul = prev[i - 2] if i >= 2 else 0
                pred = {0: 0, 1: a, 2: up, 3: (a + up) >> 1, 4: _paeth(a, up, ul)}[f]
                out.append((row[i] - pred) & 0xFF)
            prev = row
        return out

    body = bytearray()
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        sub = arr[y0::dy, x0::dx]
        if sub.size or not interlace:  # an empty Adam7 pass has no scanlines
            body += encode_sub(sub)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 1 if interlace else 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )


#: T.81 size-ordered AC symbol table shared by the fixture encoder:
#: code index == symbol rank, so the DHT counts (162 symbols at 8
#: bits) make every AC code exactly 8 bits — trivially decodable and
#: trivially encodable.
_JPEG_AC_SYMS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
_JPEG_AC_CODE = {sym: i for i, sym in enumerate(_JPEG_AC_SYMS)}


class _JpegBitWriter:
    """MSB-first bit packer with T.81 B.1.1.5 byte stuffing."""

    def __init__(self):
        self.buf, self.acc, self.nb = bytearray(), 0, 0

    def put(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.nb += 1
            if self.nb == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc, self.nb = 0, 0

    def flush(self) -> None:
        while self.nb:
            self.put(1, 1)


def encode_jpeg_gray(raster, progressive: bool = False) -> bytes:
    """Planted-fixture JPEG encoder: 8-bit GRAYSCALE, unit
    quantization, fixed size-ordered Huffman tables; ``progressive``
    emits SOF2 with a spectral-selection DC scan (Ss=Se=0) followed by
    one full-band AC scan (Ss=1, Se=63), else SOF0 with one
    interleaved DC+AC scan. Exists so a DRIVER-visible query
    (plans/multimodal.py mm_jpeg_pixel_stats) can push deterministic
    BLOCK-CONSTANT rasters — whose DC-only 8x8 blocks round-trip
    EXACTLY through the lossy codec — through the real decoder
    (:func:`_jpeg_pixels`: Huffman + dequant + IDCT + MCU crop) under
    an arithmetic external oracle. The general color/sampling/restart
    twin used by the pytest suite lives in tests/test_multimodal.py."""
    import struct

    import numpy as np

    arr = np.asarray(raster, dtype=np.float64)
    h, w = arr.shape
    nbx, nby = -(-w // 8), -(-h // 8)
    plane = np.pad(arr, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge")
    A = _dct_basis()
    zz = list(_JPEG_ZZ)
    coefs = np.zeros((nby, nbx, 64), np.int64)
    for by in range(nby):
        for bx in range(nbx):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coefs[by, bx] = np.rint(A @ (blk - 128.0) @ A.T).reshape(-1)[zz]

    def put_dc(bw: _JpegBitWriter, diff: int) -> None:
        s = abs(diff).bit_length()
        bw.put(s, 4)  # DC code == symbol == size (size-ordered DHT)
        if s:
            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)

    def put_ac(bw: _JpegBitWriter, vec) -> None:
        run = 0
        for k in range(1, 64):
            v = int(vec[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw.put(_JPEG_AC_CODE[0xF0], 8)
                run -= 16
            s = abs(v).bit_length()
            bw.put(_JPEG_AC_CODE[(run << 4) | s], 8)
            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            bw.put(_JPEG_AC_CODE[0x00], 8)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dht = (
        b"\x00" + bytes([0, 0, 0, 12] + [0] * 12) + bytes(range(12))
        + b"\x10" + bytes([0] * 7 + [162] + [0] * 8) + bytes(_JPEG_AC_SYMS)
    )
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0])
    out = (
        b"\xff\xd8" + seg(0xDB, b"\x00" + bytes([1] * 64)) + seg(0xC4, dht)
        + seg(0xC2 if progressive else 0xC0, sof)
    )
    # spectral band (Ss, Se) per scan
    for ss, se in ((0, 0), (1, 63)) if progressive else ((0, 63),):
        bw, pred = _JpegBitWriter(), 0
        for i in range(nbx * nby):
            vec = coefs[divmod(i, nbx)]
            if ss == 0:
                put_dc(bw, int(vec[0]) - pred)
                pred = int(vec[0])
            if se:
                put_ac(bw, vec)
        bw.flush()
        out += seg(0xDA, bytes([1, 1, 0x00, ss, se, 0])) + bytes(bw.buf)
    return out + b"\xff\xd9"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6) over left, up, upper-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


#: Adam7 interlace pass grid (RFC 2083 §2.6): (x0, y0, dx, dy) per pass.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, off: int, w: int, h: int, bpp: int):
    """Unfilter one (sub-)image of h scanlines of w pixels x bpp bytes
    starting at raw[off]; returns ((h, w*bpp) uint8 array, next offset).
    The five PNG filter types are byte recurrences with the LEFT
    neighbor bpp bytes back (RFC 2083 §6) — bpp generalizes the same
    code to 8- and 16-bit samples."""
    import numpy as np

    stride = w * bpp
    need = h * (stride + 1)
    if off + need > len(raw):
        raise ValueError("malformed PNG: IDAT size mismatch")
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(h):
        base = off + y * (stride + 1)
        f = raw[base]
        line = np.frombuffer(raw, np.uint8, stride, base + 1)
        if f == 0:  # None
            rec = line.copy()
        elif f == 1:  # Sub: recon[i] = raw[i] + recon[i-bpp] — a
            # per-byte-position cumulative sum mod 256 (uint8 wraps)
            rec = line.reshape(w, bpp).cumsum(axis=0, dtype=np.uint8).reshape(-1)
        elif f == 2:  # Up (vectorized: uint8 addition wraps)
            rec = line + prev
        elif f in (3, 4):  # Average / Paeth: left-recurrences, per byte
            rec = np.empty(stride, np.uint8)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                up = int(prev[i])
                if f == 3:
                    pr = (a + up) >> 1
                else:
                    pr = _paeth(a, up, int(prev[i - bpp]) if i >= bpp else 0)
                rec[i] = (int(line[i]) + pr) & 0xFF
        else:
            raise ValueError(f"malformed PNG: filter type {f}")
        out[y] = rec
        prev = rec
    return out, off + need


def _png_pixels(b: bytes):
    """Codec-free PNG pixel decode: stdlib zlib inflate + numpy
    per-scanline unfilter (the five PNG filter types are simple byte
    recurrences — RFC 2083 §6). Supports 8- and 16-bit gray /
    gray+alpha / RGB / RGBA, 8-bit palette, both non-interlaced and
    Adam7-interlaced (each interlace pass is its own independently
    filtered sub-image — RFC 2083 §2.6). Sub-byte depths (1/2/4-bit)
    raise NotImplementedError (fail-loud contract)."""
    import struct
    import zlib

    import numpy as np

    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth not in (8, 16):
        raise NotImplementedError(f"PNG bit depth {depth} is not supported")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"malformed PNG: color type {ctype}")
    if ctype == 3 and depth != 8:
        raise ValueError(f"malformed PNG: palette with depth {depth}")
    bpp = nch * (depth // 8)
    if interlace not in (0, 1):
        raise ValueError(f"malformed PNG: interlace method {interlace}")
    raw = zlib.decompress(b"".join(idat))
    out = np.zeros((h, w * bpp), np.uint8)
    off = 0
    # a non-interlaced image is one pass over the full grid
    for x0, y0, dx, dy in _ADAM7 if interlace else ((0, 0, 1, 1),):
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if interlace and (wp <= 0 or hp <= 0):
            continue  # an empty Adam7 pass carries no scanlines
        sub, off = _png_unfilter(raw, off, wp, hp, bpp)
        cols = (
            (x0 + np.arange(wp) * dx)[:, None] * bpp + np.arange(bpp)
        ).reshape(-1)
        out[np.ix_(np.arange(y0, h, dy), cols)] = sub
    if off != len(raw):
        raise ValueError("malformed PNG: IDAT size mismatch")
    if ctype == 3:  # palette indices -> RGB
        if plte is None:
            raise ValueError("malformed PNG: palette image without PLTE")
        pal = np.frombuffer(plte, np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        return pal[out.reshape(h, w)]
    if depth == 16:  # big-endian sample pairs -> native uint16
        out = np.frombuffer(out.tobytes(), np.dtype(">u2")).astype(np.uint16)
    return out.reshape((h, w, nch) if nch > 1 else (h, w))


#: JPEG zigzag scan order: stream position k -> natural block index.
_JPEG_ZZ = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)


def _dct_basis():
    """8x8 DCT basis A[u, x] = C(u)/2 * cos((2x+1) u pi / 16): forward
    F = A f A.T, inverse f = A.T F A."""
    import numpy as np

    u = np.arange(8)
    A = 0.5 * np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16)
    A[0] /= np.sqrt(2.0)
    return A


#: JPEG markers that carry no length segment (standalone).
_JPEG_STANDALONE = frozenset({0xD8, 0x01} | set(range(0xD0, 0xD8)))


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical JPEG Huffman table: (code_length, code) -> symbol
    (ITU T.81 Annex C code assignment)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_pixels(b: bytes):
    """Codec-free JPEG pixel decode (ITU T.81 DCT-based, Huffman
    entropy coding): the marker walk collects DQT/DHT/SOF/DRI, every
    SOS scan is un-stuffed (0xFF00), split at RSTn restarts, and
    entropy-decoded by a pure-Python canonical-Huffman bit reader into
    per-component COEFFICIENT stores (so sequential single-scan,
    sequential multi-scan, and progressive multi-scan frames all share
    one path), then numpy does dequantization, de-zigzag, a
    block-vectorized separable 8x8 IDCT, pixel-replication chroma
    upsampling, and JFIF YCbCr->RGB.

    Supported frames: baseline (SOF0), extended sequential Huffman
    (SOF1), and progressive Huffman (SOF2) — including spectral
    selection, successive approximation (DC and AC first/refinement
    passes, EOBn band runs), and restart intervals. Lossless,
    hierarchical, and arithmetic-coded frames raise
    NotImplementedError (a different coder, honestly gated). Per-bit
    Python Huffman is a correctness path for test-scale blobs, not a
    production codec; the Spark-side plumbing (schema, batching,
    partitioning) is what production swaps a native codec into."""
    import struct

    import numpy as np

    qt: dict[int, np.ndarray] = {}  # id -> 64 dequant factors, zigzag order
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None  # (h, w, [(comp_id, hi, vi, qt_id), ...])
    coefs: list | None = None  # per-component (blocks_y, blocks_x, 64) int32
    dri = 0
    nscans = 0
    i, n = 2, len(b)
    while i + 3 < n:
        if b[i] != 0xFF:
            raise ValueError("malformed JPEG: desynced marker stream")
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker in _JPEG_STANDALONE:
            i += 2
            continue
        seglen = int.from_bytes(b[i + 2 : i + 4], "big")
        if seglen < 2:
            raise ValueError("malformed JPEG: bad segment length")
        seg = b[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT: one or more tables per segment
            j = 0
            while j < len(seg):
                prec, tid = seg[j] >> 4, seg[j] & 15
                width = 2 if prec else 1
                vals = seg[j + 1 : j + 1 + 64 * width]
                dt = np.dtype(">u2") if prec else np.uint8
                qt[tid] = np.frombuffer(vals, dt).astype(np.float64)
                j += 1 + 64 * width
        elif marker == 0xC4:  # DHT: one or more tables per segment
            j = 0
            while j < len(seg):
                cls, tid = seg[j] >> 4, seg[j] & 15
                counts = seg[j + 1 : j + 17]
                nsym = sum(counts)
                huff[(cls, tid)] = _jpeg_huff_table(
                    counts, seg[j + 17 : j + 17 + nsym]
                )
                j += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            h, w = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            comps = [
                (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                for c in range(ncomp)
            ]
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"decode_pixels: {ncomp}-component JPEG (CMYK/unknown) "
                    "is not supported codec-free"
                )
            if any(c[1] < 1 or c[2] < 1 for c in comps):
                raise ValueError("malformed JPEG: zero sampling factor")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if any(hmax % c[1] or vmax % c[2] for c in comps):
                raise NotImplementedError(
                    "decode_pixels: non-integer chroma sampling ratio is "
                    "not supported codec-free"
                )
            mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            frame = (h, w, comps)
            coefs = [
                np.zeros((mcuy * v, mcux * hh, 64), np.int32)
                for (_cid, hh, v, _q) in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7) or 0xC9 <= marker <= 0xCF:
            raise NotImplementedError(
                "decode_pixels: only Huffman sequential/progressive JPEG "
                f"decodes codec-free (SOF marker 0x{marker:02x} — "
                "lossless/hierarchical/arithmetic JPEG needs a codec "
                "library; this environment ships none)"
            )
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded scan follows
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            if len(seg) < 4 + 2 * seg[0] or seg[0] < 1:
                raise ValueError("malformed JPEG: truncated SOS header")
            nsc = seg[0]
            scomps = [
                (seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
                for c in range(nsc)
            ]
            ss, se = seg[1 + 2 * nsc], seg[2 + 2 * nsc]
            ah, al = seg[3 + 2 * nsc] >> 4, seg[3 + 2 * nsc] & 15
            i = _jpeg_decode_scan(
                b, i + 2 + seglen, frame, coefs, huff, scomps, ss, se, ah, al, dri
            )
            nscans += 1
            continue
        i += 2 + seglen
    if frame is None or nscans == 0:
        raise ValueError("malformed JPEG: no SOS scan")
    return _jpeg_reconstruct(frame, coefs, qt)


def _jpeg_decode_scan(b, start, frame, coefs, huff, scomps, ss, se, ah, al, dri):
    """Entropy-decode ONE scan (sequential full-band or progressive
    spectral/successive-approximation pass) into the per-component
    coefficient stores; returns the byte offset of the marker that
    terminated the scan (see :func:`_jpeg_pixels`)."""
    h, w, comps = frame
    if not (0 <= ss <= se <= 63):
        raise ValueError("malformed JPEG: bad spectral band")

    # -- un-stuff the scan and split at restart markers ----------------
    segments, cur, i, n = [], bytearray(), start, len(b)
    while i < n:
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        m = b[i + 1] if i + 1 < n else 0xD9
        if m == 0x00:  # stuffed literal 0xFF
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn: restart interval boundary
            segments.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # EOI or any other marker terminates the scan
            break
    segments.append(bytes(cur))
    end = i

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # resolve scan components against the frame; tables are required
    # only for the passes that consume them (refinement DC needs none)
    sel = []
    for cid, dcid, acid in scomps:
        ci = next((j for j, c in enumerate(comps) if c[0] == cid), None)
        if ci is None:
            raise ValueError("malformed JPEG: scan names unknown component")
        dc = huff.get((0, dcid))
        ac = huff.get((1, acid))
        if ss == 0 and ah == 0 and dc is None:
            raise ValueError("malformed JPEG: missing DC Huffman table")
        if se >= 1 and ac is None:
            raise ValueError("malformed JPEG: missing AC Huffman table")
        sel.append((ci, dc, ac))

    interleaved = len(sel) > 1
    if ss > 0 and interleaved:
        raise ValueError("malformed JPEG: multi-component AC scan")
    if interleaved:
        total_units = mcux * mcuy
    else:
        # non-interleaved scans walk the component's OWN ceil-block
        # grid (T.81 A.2.2), not the MCU-padded grid
        ci0 = sel[0][0]
        _cid, hh, v, _q = comps[ci0]
        cw, ch = -(-(w * hh) // hmax), -(-(h * v) // vmax)
        cbx, cby = -(-cw // 8), -(-ch // 8)
        total_units = cbx * cby

    per_seg = dri if dri else total_units
    unit = 0
    for seg in segments:
        if unit >= total_units:
            break
        preds = [0] * len(sel)  # DC predictors reset at each restart
        eobrun = 0
        pos, nbits = 0, len(seg) * 8

        def bit():
            nonlocal pos
            if pos >= nbits:
                raise ValueError("malformed JPEG: truncated scan")
            byte = seg[pos >> 3]
            v = (byte >> (7 - (pos & 7))) & 1
            pos += 1
            return v

        def receive(s):
            v = 0
            for _ in range(s):
                v = (v << 1) | bit()
            return v

        def extend(v, s):
            return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

        def huffdec(tbl):
            code = 0
            for ln in range(1, 17):
                code = (code << 1) | bit()
                sym = tbl.get((ln, code))
                if sym is not None:
                    return sym
            raise ValueError("malformed JPEG: invalid Huffman code")

        def decode_unit(block, si, dc_tbl, ac_tbl):
            nonlocal eobrun
            if ss == 0:
                if ah == 0:  # DC first pass
                    s = huffdec(dc_tbl)
                    diff = extend(receive(s), s) if s else 0
                    preds[si] += diff
                    block[0] = preds[si] << al
                elif bit():  # DC refinement: one bit per block
                    block[0] |= 1 << al
            if se == 0:
                return
            k = max(ss, 1)
            if ah == 0:  # AC first pass (band [k..se], values << al)
                if eobrun:
                    eobrun -= 1
                    return
                while k <= se:
                    rs = huffdec(ac_tbl)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:  # EOBn: this + (eobrun) blocks end
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += receive(r)
                            break
                        k += 16  # ZRL
                    else:
                        k += r
                        if k > se:
                            raise ValueError("malformed JPEG: AC overrun")
                        block[k] = extend(receive(s), s) << al
                        k += 1
                return
            # AC refinement pass (T.81 G.1.2.3: correction bits for
            # nonzero history, +-1<<al for newly nonzero coefficients)
            p1, m1 = 1 << al, -1 << al
            if eobrun == 0:
                while k <= se:
                    rs = huffdec(ac_tbl)
                    r, s = rs >> 4, rs & 15
                    val = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += receive(r)
                            break
                        # ZRL: r stays 15 — skip 16 zero-history slots
                    else:
                        if s != 1:
                            raise ValueError(
                                "malformed JPEG: bad refinement magnitude"
                            )
                        val = p1 if bit() else m1
                    while k <= se:
                        if block[k] != 0:
                            if bit() and (block[k] & p1) == 0:
                                block[k] += p1 if block[k] > 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        block[k] = val
                    k += 1
            if eobrun > 0:  # finish the current block's corrections
                while k <= se:
                    if block[k] != 0 and bit() and (block[k] & p1) == 0:
                        block[k] += p1 if block[k] > 0 else m1
                    k += 1
                eobrun -= 1

        for _ in range(min(per_seg, total_units - unit)):
            if interleaved:
                my, mx = divmod(unit, mcux)
                for si, (ci, dc_tbl, ac_tbl) in enumerate(sel):
                    _cid, hh, v, _q = comps[ci]
                    for by in range(v):
                        for bx in range(hh):
                            decode_unit(
                                coefs[ci][my * v + by, mx * hh + bx],
                                si, dc_tbl, ac_tbl,
                            )
            else:
                ci, dc_tbl, ac_tbl = sel[0]
                by, bx = divmod(unit, cbx)
                decode_unit(coefs[ci][by, bx], 0, dc_tbl, ac_tbl)
            unit += 1
    if unit < total_units:
        raise ValueError("malformed JPEG: truncated scan")
    return end


def _jpeg_reconstruct(frame, coefs, qt):
    """Dequantize + de-zigzag + block-vectorized IDCT the accumulated
    coefficient stores, upsample chroma by pixel replication, crop the
    MCU padding, and color-convert (see :func:`_jpeg_pixels`)."""
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    A = _dct_basis()
    zz = np.array(_JPEG_ZZ)

    full = []
    for ci, (_cid, hh, v, qid) in enumerate(comps):
        q = qt.get(qid)
        if q is None:
            raise ValueError("malformed JPEG: missing quantization table")
        deq = coefs[ci].astype(np.float64) * q[None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, zz] = deq  # de-zigzag: stream position k -> index zz[k]
        by, bx = nat.shape[:2]
        blocks = nat.reshape(by, bx, 8, 8)
        spatial = np.einsum("ux,abuv,vy->abxy", A, blocks, A) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        if hh < hmax:
            plane = np.repeat(plane, hmax // hh, axis=1)
        if v < vmax:
            plane = np.repeat(plane, vmax // v, axis=0)
        full.append(plane[:h, :w])
    if len(full) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, bl], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_pixels(b: bytes):
    """Decode a PNG or JPEG blob to a raster numpy array, picking the
    decoder from the signature bytes. PNG decodes through stdlib zlib +
    numpy unfilter (:func:`_png_pixels`); Huffman-coded JPEG — baseline,
    extended sequential, and progressive, incl. spectral selection /
    successive approximation / restart intervals — through pure-Python
    entropy decode + numpy IDCT (:func:`_jpeg_pixels`). Any other blob
    raises NotImplementedError naming the two formats; inside them,
    variants no decoder here handles (sub-byte PNG depths, lossless/
    hierarchical/arithmetic JPEG) raise it too, and malformed streams
    raise ValueError."""
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        return _png_pixels(b)
    if b.startswith(b"\xff\xd8"):
        return _jpeg_pixels(b)
    raise NotImplementedError(
        "decode_pixels: only PNG and JPEG blobs decode; this blob starts "
        f"with {bytes(b[:8])!r}"
    )


def sample_frames(df: DataFrame, blob_col: str = "blob", every_n: int = 1000) -> DataFrame:
    """Deterministic fake of video frame sampling: take every
    ``every_n``-th byte of the blob as a 'frame' marker — exercises
    the exploding (1 blob -> N rows) pipeline shape that real frame
    extraction has, without a video codec. A zero-length blob yields
    zero frames (the sequence lower bound would otherwise emit one
    phantom frame at offset 0)."""
    frames = F.expr(
        f"case when length({blob_col}) > 0 then "
        f"transform(sequence(0, cast(length({blob_col}) as int) - 1, {every_n}),"
        f" i -> struct(i as frame_offset, substr({blob_col}, i + 1, 16) as frame_chunk))"
        f" else array() end"
    )
    return (
        df.withColumn("frame", F.explode(frames))
        .select("*", "frame.frame_offset", "frame.frame_chunk")
        .drop("frame")
    )
