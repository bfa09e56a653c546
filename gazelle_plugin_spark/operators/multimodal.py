"""Multimodal (image/audio/video) column plumbing.

Media assets are opaque ``binary`` columns plus a typed metadata
struct; feature extraction runs as Arrow-batched ``mapInPandas``
pipelines (the ColumnarArrowEvalPythonExec analog — batches cross to
Python once, vectorized inside). PIXEL decode (:func:`decode_pixels`)
handles what the registered pixel-stats queries plant, with no codec
library: grayscale PNG (stdlib zlib + numpy unfilter; 8/16-bit, all
five filters, Adam7 or not) and one-component Huffman JPEG (baseline
SOF0, and progressive SOF2 spectral-selection scans). Every other
variant — color or palette PNG, multi-component JPEG, restart
intervals, successive approximation, EOBn runs, SOF1 and the other
SOFs, 16-bit quantization tables — and every other format raise a
NotImplementedError naming it. The fixture encoders
(:func:`encode_png_gray16`, :func:`encode_jpeg_gray`) build the planted
blobs of plans/multimodal.py's pixel-stats queries. Tested in
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


def attach_blob(df: DataFrame) -> DataFrame:
    """Simulate an ingested media column: utf-8 bytes of ``text`` as
    the opaque blob + a typed metadata struct (every real media table
    carries one)."""
    blob = F.encode(F.col("text"), "UTF-8")
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
    df: DataFrame, chunk_bytes: int = BYTE_FEATURE_CHUNK
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
    featurize = _byte_featurizer(chunk_bytes)
    return df.select("doc_id", "blob").mapInPandas(featurize, BYTE_FEATURES_SCHEMA)


def _byte_featurizer(chunk_bytes: int):
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
                    names[0]: pdf["doc_id"].to_numpy(),
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


def extract_pixel_stats(df: DataFrame) -> DataFrame:
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
            for i, b in zip(pdf["doc_id"], pdf["blob"]):
                px = decode_pixels(bytes(b)).astype(np.int64).reshape(-1)
                out["doc_id"].append(int(i))
                out["n_px"].append(int(px.size))
                # a zero-pixel raster (0-width/height stream) yields
                # null stats instead of raising inside the Arrow task
                out["px_sum"].append(int(px.sum()) if px.size else None)
                out["px_min"].append(int(px.min()) if px.size else None)
                out["px_max"].append(int(px.max()) if px.size else None)
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(stats, PIXEL_STATS_SCHEMA)


def encode_png_gray16(raster) -> bytes:
    """Planted-fixture PNG encoder: 16-bit GRAYSCALE, Adam7-interlaced,
    filter type ``y % 5`` (None, Sub, Up, Average, Paeth) on scanline y
    of each pass — the forward transform of RFC 2083 §6 over big-endian
    2-byte samples (bpp=2, left neighbor two bytes back). Exists so a
    DRIVER-visible query (plans/multimodal.py mm_png_pixel_stats) can
    exercise the decoder's hardest path — 16-bit depth x all five
    filters x Adam7 reassembly — on deterministic rasters whose pixel
    values an external oracle re-derives arithmetically; the general
    twin (any color type, depth, filter list, interlace or not) used by
    the pytest suite lives in tests/test_multimodal.py."""
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
            f = y % 5
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
    for x0, y0, dx, dy in _ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size:  # an empty Adam7 pass has no scanlines
            body += encode_sub(sub)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 1)
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
    """Codec-free grayscale PNG pixel decode: stdlib zlib inflate +
    numpy per-scanline unfilter (the five PNG filter types are simple
    byte recurrences — RFC 2083 §6). Supports 8- and 16-bit grayscale,
    both non-interlaced and Adam7-interlaced (each interlace pass is its
    own independently filtered sub-image — RFC 2083 §2.6). Color and
    palette images and sub-byte depths (1/2/4-bit) raise
    NotImplementedError (fail-loud contract)."""
    import struct
    import zlib

    import numpy as np

    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth not in (8, 16):
        raise NotImplementedError(f"PNG bit depth {depth} is not supported")
    color = {2: "RGB", 3: "palette", 4: "gray+alpha", 6: "RGBA"}.get(ctype)
    if color:
        raise NotImplementedError(
            f"decode_pixels: {color} PNG (color type {ctype}) is not "
            "supported; only grayscale PNG decodes"
        )
    if ctype:
        raise ValueError(f"malformed PNG: color type {ctype}")
    bpp = depth // 8
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
    if depth == 16:  # big-endian sample pairs -> native uint16
        return out.view(">u2").astype(np.uint16)
    return out


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
    """Codec-free decode of a one-component (grayscale) Huffman JPEG
    (ITU T.81, DCT-based): the marker walk collects DQT/DHT/SOF, every
    SOS scan is entropy-decoded by :func:`_jpeg_decode_scan` into one
    COEFFICIENT store (so a baseline frame's single scan and a
    progressive frame's spectral-selection scans share one path), then
    numpy does dequantization, de-zigzag, a block-vectorized separable
    8x8 IDCT and the crop of the block padding.

    Supported frames: baseline (SOF0) and progressive Huffman (SOF2)
    first-pass spectral-selection scans (Ah=Al=0) ending blocks with
    plain EOB. More than one component, 16-bit quantization tables,
    restart intervals, successive approximation, EOBn runs, and every
    other SOF (extended sequential, lossless, hierarchical,
    arithmetic) raise a NotImplementedError naming the variant. Per-bit
    Python Huffman is a correctness path for test-scale blobs, not a
    production codec; the Spark-side plumbing (schema, batching,
    partitioning) is what production swaps a native codec into."""
    import struct

    import numpy as np

    qt: dict[int, np.ndarray] = {}  # id -> 64 dequant factors, zigzag order
    huff: dict[tuple[int, int], dict] = {}  # (class 0=DC/1=AC, id) -> table
    frame = None  # (h, w, comp_id, qt_id)
    coefs = None  # (blocks_y, blocks_x, 64) int32, zigzag order
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
            for j in range(0, len(seg), 65):
                if seg[j] >> 4:
                    raise NotImplementedError(
                        "decode_pixels: 16-bit JPEG quantization tables "
                        "are not supported"
                    )
                q = np.frombuffer(seg[j + 1 : j + 65], np.uint8)
                qt[seg[j] & 15] = q.astype(np.float64)
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
        elif marker in (0xC0, 0xC2):  # baseline / progressive
            h, w = struct.unpack_from(">HH", seg, 1)
            if seg[5] != 1:
                raise NotImplementedError(
                    f"decode_pixels: {seg[5]}-component JPEG (color, any "
                    "chroma sampling) is not supported; only one-component "
                    "grayscale JPEG decodes"
                )
            # one component: its MCU is one block whatever its factors
            if seg[7] >> 4 < 1 or seg[7] & 15 < 1:
                raise ValueError("malformed JPEG: zero sampling factor")
            frame = (h, w, seg[6], seg[8])
            coefs = np.zeros((-(-h // 8), -(-w // 8), 64), np.int32)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7) or 0xC9 <= marker <= 0xCF:
            raise NotImplementedError(
                f"decode_pixels: SOF{marker - 0xC0} JPEG (extended "
                "sequential, lossless, hierarchical or arithmetic) needs a "
                "codec library; only baseline (SOF0) and progressive (SOF2) "
                "Huffman JPEG decodes codec-free"
            )
        elif marker == 0xDD:  # DRI
            raise NotImplementedError(
                "decode_pixels: JPEG restart intervals (DRI) are not supported"
            )
        elif marker == 0xDA:  # SOS — entropy-coded scan follows
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            if len(seg) < 4 + 2 * seg[0] or seg[0] < 1:
                raise ValueError("malformed JPEG: truncated SOS header")
            nsc = seg[0]
            ss, se, ahal = seg[1 + 2 * nsc], seg[2 + 2 * nsc], seg[3 + 2 * nsc]
            if not ss <= se <= 63:
                raise ValueError("malformed JPEG: bad spectral band")
            if ahal:
                raise NotImplementedError(
                    "decode_pixels: JPEG successive approximation "
                    "(Ah/Al != 0) is not supported"
                )
            if any(seg[1 + 2 * c] != frame[2] for c in range(nsc)):
                raise ValueError("malformed JPEG: scan names unknown component")
            if nsc > 1:
                raise ValueError("malformed JPEG: scan repeats its component")
            dc, ac = huff.get((0, seg[2] >> 4)), huff.get((1, seg[2] & 15))
            if ss == 0 and dc is None:
                raise ValueError("malformed JPEG: missing DC Huffman table")
            if se >= 1 and ac is None:
                raise ValueError("malformed JPEG: missing AC Huffman table")
            i = _jpeg_decode_scan(b, i + 2 + seglen, coefs, dc, ac, ss, se)
            nscans += 1
            continue
        i += 2 + seglen
    if frame is None or nscans == 0:
        raise ValueError("malformed JPEG: no SOS scan")
    h, w, _cid, qid = frame
    q = qt.get(qid)
    if q is None:
        raise ValueError("malformed JPEG: missing quantization table")
    deq = coefs.astype(np.float64) * q[None, None, :]
    nat = np.zeros_like(deq)
    nat[:, :, list(_JPEG_ZZ)] = deq  # de-zigzag
    by, bx = nat.shape[:2]
    A = _dct_basis()
    spatial = np.einsum("ux,abuv,vy->abxy", A, nat.reshape(by, bx, 8, 8), A) + 128.0
    plane = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)[:h, :w]
    return np.clip(np.round(plane), 0, 255).astype(np.uint8)


def _jpeg_decode_scan(b, start, coefs, dc_tbl, ac_tbl, ss, se):
    """Entropy-decode ONE scan — band [ss, se] of every block, in raster
    order over the component's ceil(dim/8) block grid (T.81 A.2.2) —
    into the coefficient store; returns the byte offset of the marker
    that ends the scan (see :func:`_jpeg_pixels`)."""
    import re

    import numpy as np

    # the scan runs to the first 0xFF that is not a stuffed 0xFF00
    m = re.compile(rb"\xff(?!\x00)").search(b, start)
    end = m.start() if m else len(b)
    bits = np.unpackbits(
        np.frombuffer(b[start:end].replace(b"\xff\x00", b"\xff"), np.uint8)
    ).tolist()
    pos = 0

    def bit():
        nonlocal pos
        if pos >= len(bits):
            raise ValueError("malformed JPEG: truncated scan")
        pos += 1
        return bits[pos - 1]

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

    pred = 0  # DC predictor
    for block in coefs.reshape(-1, 64):
        if ss == 0:
            s = huffdec(dc_tbl)
            pred += extend(receive(s), s) if s else 0
            block[0] = pred
        k = max(ss, 1)
        while k <= se:
            rs = huffdec(ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 0:  # EOB
                    break
                if r != 15:
                    raise NotImplementedError(
                        "decode_pixels: JPEG EOBn runs are not supported"
                    )
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("malformed JPEG: AC overrun")
            block[k] = extend(receive(s), s)
            k += 1
    return end


def decode_pixels(b: bytes):
    """Decode a PNG or JPEG blob to a raster numpy array, picking the
    decoder from the signature bytes: grayscale PNG (8/16-bit, any
    filter, Adam7 or not) through stdlib zlib + numpy unfilter
    (:func:`_png_pixels`) to an (h, w) uint8/uint16 array, and
    one-component Huffman JPEG (baseline SOF0, or progressive SOF2
    spectral-selection scans) through pure-Python entropy decode +
    numpy IDCT (:func:`_jpeg_pixels`) to an (h, w) uint8 array. Any
    other blob raises NotImplementedError naming the two formats;
    inside them, every variant the decoders leave out (color or palette
    PNG, sub-byte depths, multi-component JPEG, restart intervals,
    successive approximation, EOBn runs, other SOFs, 16-bit
    quantization tables) raises it too, naming the variant, and
    malformed streams raise ValueError."""
    if b.startswith(b"\x89PNG\r\n\x1a\n"):
        return _png_pixels(b)
    if b.startswith(b"\xff\xd8"):
        return _jpeg_pixels(b)
    raise NotImplementedError(
        "decode_pixels: only PNG and JPEG blobs decode; this blob starts "
        f"with {bytes(b[:8])!r}"
    )


def sample_frames(df: DataFrame, every_n: int = 1000) -> DataFrame:
    """Deterministic fake of video frame sampling: take every
    ``every_n``-th byte of the blob as a 'frame' marker — exercises
    the exploding (1 blob -> N rows) pipeline shape that real frame
    extraction has, without a video codec. A zero-length blob yields
    zero frames (the sequence lower bound would otherwise emit one
    phantom frame at offset 0)."""
    frames = F.expr(
        "case when length(blob) > 0 then "
        f"transform(sequence(0, cast(length(blob) as int) - 1, {every_n}),"
        " i -> struct(i as frame_offset, substr(blob, i + 1, 16) as frame_chunk))"
        " else array() end"
    )
    return (
        df.withColumn("frame", F.explode(frames))
        .select("*", "frame.frame_offset", "frame.frame_chunk")
        .drop("frame")
    )
