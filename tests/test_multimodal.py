"""Multimodal plumbing tests: blob attachment schema, mapInPandas
feature extraction verified against a plain-Python oracle, grayscale PNG
and one-component Huffman-JPEG pixel decode round-tripped through
test-side encoders (and the NotImplementedError every other format and
variant raises), and the frame-sample explosion."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gazelle_plugin_spark.operators.multimodal import (
    attach_blob,
    extract_byte_features,
    sample_frames,
)
from gazelle_plugin_spark.plans._util import t
from tests.conftest import SF_SMALL


@pytest.fixture()
def docs(spark):
    return t(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 20)


def test_attach_blob_schema(docs):
    d = attach_blob(docs)
    types = dict(d.dtypes)
    assert types["blob"] == "binary"
    assert types["media_meta"].startswith("struct<mime:string,n_bytes:int")


def test_byte_features_match_python(docs):
    got = {
        r.doc_id: (r.n_bytes, r.mean_byte, r.n_distinct_bytes, r.head_byte)
        for r in extract_byte_features(attach_blob(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        arr = np.frombuffer(row.text.encode(), dtype=np.uint8)
        expected = (arr.size, float(arr.mean()), int(np.unique(arr).size), int(arr[0]))
        assert got[row.doc_id] == expected


@pytest.mark.parametrize("rows", [[], [(7, b"abca")]], ids=["empty", "one_row"])
def test_byte_features_kernel_output_is_typed(rows):
    """The kernel's frame converts to BYTE_FEATURES_SCHEMA's Arrow types
    column for column, for an empty batch as for a non-empty one (an
    untyped ``pd.DataFrame({col: []})`` comes out all float64)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from gazelle_plugin_spark.operators.multimodal import (
        BYTE_FEATURE_CHUNK,
        BYTE_FEATURES_SCHEMA,
        _byte_featurizer,
    )

    batch = pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "blob": pd.Series([r[1] for r in rows], dtype=object),
        }
    )
    [out] = _byte_featurizer(BYTE_FEATURE_CHUNK)(iter([batch]))
    declared = to_arrow_schema(BYTE_FEATURES_SCHEMA)
    assert pa.Table.from_pandas(out, preserve_index=False).schema.equals(declared)
    assert out.to_dict("records") == (
        [{"doc_id": 7, "n_bytes": 4, "mean_byte": 97.75, "n_distinct_bytes": 3,
          "head_byte": 97}] if rows else []
    )


def _png(w: int, h: int) -> bytes:
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + bytes([8, 0, 0, 0, 0])
    )


def _jpeg(w: int, h: int) -> bytes:
    """Header-only one-component JPEG stub: no tables, no scan."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w)
    return b"\xff\xd8" + app0 + sof0 + b"\x01" + b"\x00" * 3 + b"\xff\xda\x00\x02"


def _webp_vp8l(w: int, h: int) -> bytes:
    import struct

    bits = (w - 1) | ((h - 1) << 14)
    return (
        b"RIFF" + struct.pack("<I", 20) + b"WEBP"
        + b"VP8L" + struct.pack("<I", 8) + b"\x2f" + struct.pack("<I", bits)
    )


def test_decode_pixels_native_and_gated():
    """Only PNG and JPEG decode: a GIF, BMP or WEBP blob raises the
    NotImplementedError naming the two formats. Inside JPEG, every
    variant the decoder leaves out raises it naming the variant —
    3-component (4:4:4 and subsampled), restart intervals, successive
    approximation, EOBn runs, SOF1, 16-bit quantization tables — and
    arithmetic-coded frames (SOF10) keep the codec gate. A header-only
    stub (no tables, no scan) is MALFORMED — fail-loud, never a
    silently-wrong raster."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    for blob in (b"GIF89a" + bytes(7), b"BM" + bytes(52), _webp_vp8l(4, 4)):
        with pytest.raises(NotImplementedError, match="only PNG and JPEG"):
            decode_pixels(blob)
    with pytest.raises(NotImplementedError, match="codec"):
        decode_pixels(_jpeg(4, 4).replace(b"\xff\xc0", b"\xff\xca"))
    with pytest.raises(ValueError, match="malformed JPEG"):
        decode_pixels(_jpeg(4, 4))

    rng = np.random.RandomState(11)
    y = rng.randint(0, 256, (18, 21), dtype=np.uint8)
    cb, cr = np.full_like(y, 90), np.full_like(y, 170)
    for sampling in [(1, 1), (2, 1), (2, 2)]:
        with pytest.raises(NotImplementedError, match="3-component JPEG"):
            decode_pixels(_encode_jpeg(y, cb, cr, sampling=sampling))
    with pytest.raises(NotImplementedError, match="restart intervals"):
        decode_pixels(_encode_jpeg(y, dri=1))
    base = _encode_jpeg(y)
    with pytest.raises(NotImplementedError, match="SOF1 "):
        decode_pixels(base.replace(b"\xff\xc0", b"\xff\xc1", 1))
    dqt8 = _jpeg_seg(0xDB, b"\x00" + bytes([1] * 64))
    dqt16 = _jpeg_seg(0xDB, b"\x10" + bytes([0, 1] * 64))
    with pytest.raises(NotImplementedError, match="16-bit JPEG quantization"):
        decode_pixels(base.replace(dqt8, dqt16, 1))

    # successive approximation: a DC first pass at Al=1 over one block
    bw_ = _BitWriter()
    bw_.put(4, 4)
    bw_.put(8, 4)
    bw_.flush()
    sa = (
        _jpeg_tables_prelude(0xC2, 8, 8)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01])) + bytes(bw_.buf)
        + b"\xff\xd9"
    )
    with pytest.raises(NotImplementedError, match="successive approximation"):
        decode_pixels(sa)

    # EOBn: two DC-only blocks whose AC scan ends both with one EOB1
    # run (a second AC table codes EOB as '0' and EOB1 as '1')
    eob1 = _jpeg_tables_prelude(0xC2, 8, 16) + _jpeg_seg(
        0xC4, b"\x11" + bytes([2] + [0] * 15) + bytes([0x00, 0x10])
    )
    bw_ = _BitWriter()
    bw_.put(0, 4)
    bw_.put(0, 4)
    bw_.flush()
    eob1 += _jpeg_seg(0xDA, bytes([1, 1, 0x01, 0, 0, 0])) + bytes(bw_.buf)
    bw_ = _BitWriter()
    bw_.put(1, 1)  # EOB1
    bw_.put(0, 1)  # run extension bit: 2 blocks end
    bw_.flush()
    eob1 += _jpeg_seg(0xDA, bytes([1, 1, 0x01, 1, 63, 0])) + bytes(bw_.buf) + b"\xff\xd9"
    with pytest.raises(NotImplementedError, match="EOBn"):
        decode_pixels(eob1)


#: Adam7 pass grid (RFC 2083 §2.6) — mirrored in the decoder.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _encode_png(
    raster,
    color_type: int,
    filters,
    palette: bytes | None = None,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Minimal PNG encoder for the decode tests: applies the requested
    filter type per scanline (the forward transform of RFC 2083 §6,
    with the left neighbor bpp bytes back so 16-bit samples filter
    correctly), optionally splits into the 7 Adam7 passes, deflates,
    and wraps proper CRC'd chunks."""
    import struct
    import zlib

    import numpy as np

    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    dt = np.uint16 if depth == 16 else np.uint8
    arr = np.asarray(raster, dtype=dt)
    h = arr.shape[0]
    arr = arr.reshape(h, -1, nch)
    w = arr.shape[1]
    bpp = nch * (depth // 8)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def paeth(a, b_, c):
        p = a + b_ - c
        pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
        return a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)

    def row_bytes(pixels) -> list[int]:
        if depth == 16:
            return list(pixels.astype(">u2").tobytes())
        return [int(v) for v in pixels.reshape(-1)]  # Python ints: the
        # filter predictors need unwrapped arithmetic (Paeth p=a+b-c)

    def encode_sub(sub) -> bytearray:
        """Filter one (sub-)image of pixel rows; prev resets per pass."""
        stride = sub.shape[1] * bpp
        out = bytearray()
        prev = [0] * stride
        for y in range(sub.shape[0]):
            f = filters[y % len(filters)]
            row = row_bytes(sub[y])
            out.append(f)
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                pred = {0: 0, 1: a, 2: up, 3: (a + up) >> 1, 4: paeth(a, up, ul)}[f]
                out.append((row[i] - pred) & 0xFF)
            prev = row
        return out

    out = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                out += encode_sub(sub)
    else:
        out = encode_sub(arr)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    body = chunk(b"IHDR", ihdr)
    if palette is not None:
        body += chunk(b"PLTE", palette)
    return (
        b"\x89PNG\r\n\x1a\n" + body
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_decode_pixels_png_all_filters():
    """Grayscale PNG pixels decode codec-free (stdlib zlib + numpy
    unfilter): every filter type (None/Sub/Up/Average/Paeth)
    round-trips a planted raster exactly."""
    import numpy as np

    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(7)
    # one scanline per filter type (h=5 exercises all five)
    gray = rng.randint(0, 256, (5, 7), dtype=np.uint8)
    got = decode_pixels(_encode_png(gray, 0, [0, 1, 2, 3, 4]))
    assert got.dtype == np.uint8 and got.shape == (5, 7) and (got == gray).all()
    # the left-recurrence filters back to back
    gray = rng.randint(0, 256, (4, 9), dtype=np.uint8)
    got = decode_pixels(_encode_png(gray, 0, [1, 3, 4, 2]))
    assert got.shape == (4, 9) and (got == gray).all()


def test_decode_pixels_png_16bit():
    """16-bit PNGs round-trip exactly: samples are big-endian byte
    PAIRS on the wire, and the filter left-neighbor is bpp=2 bytes
    back — an 8-bit-offset bug would corrupt every Sub/Paeth row."""
    import numpy as np

    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(5)
    gray = rng.randint(0, 65536, (7, 5), np.uint16)
    got = decode_pixels(_encode_png(gray, 0, [0, 1, 2, 3, 4], depth=16))
    assert got.dtype == np.uint16 and got.shape == (7, 5) and (got == gray).all()
    gray = rng.randint(0, 65536, (3, 8), np.uint16)
    assert (decode_pixels(_encode_png(gray, 0, [1, 4], depth=16)) == gray).all()


def test_decode_pixels_png_adam7():
    """Adam7-interlaced PNGs reassemble the original raster: each of
    the 7 passes is an independently filtered sub-image (odd dimensions
    exercise partial and empty passes)."""
    import numpy as np

    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(9)
    # tiny images leave some passes empty entirely
    for shape in ((13, 11), (9, 7), (5, 3), (1, 1)):
        img = rng.randint(0, 256, shape, np.uint8)
        got = decode_pixels(_encode_png(img, 0, [0, 1, 2, 3, 4], interlace=1))
        assert (got == img).all(), shape
    # 16-bit + Adam7 compose
    img16 = rng.randint(0, 65536, (10, 6), np.uint16)
    got = decode_pixels(_encode_png(img16, 0, [3, 4, 1], depth=16, interlace=1))
    assert got.dtype == np.uint16 and (got == img16).all()


def test_decode_pixels_png_unsupported_shapes_fail_loud():
    """Color and palette PNGs and sub-byte depths raise
    NotImplementedError naming the variant (not a silently-wrong
    raster); truncated streams raise ValueError."""
    import struct
    import zlib

    import numpy as np

    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    base = _encode_png(np.zeros((2, 2), np.uint8), 0, [0])

    def with_ihdr(depth: int, interlace: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, interlace)
        chunk = struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(
            ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
        )
        return base[:8] + chunk + base[8 + 25:]

    with pytest.raises(NotImplementedError, match="bit depth"):
        decode_pixels(with_ihdr(4, 0))
    with pytest.raises(ValueError, match="malformed PNG"):
        decode_pixels(_png(4, 4))  # header-only stream, no IDAT

    rng = np.random.RandomState(13)
    for ctype, name, shape, depth in (
        (2, "RGB", (3, 5, 3), 8),
        (2, "RGB", (6, 4, 3), 16),
        (4, "gray\\+alpha", (2, 6, 2), 8),
        (6, "RGBA", (5, 7, 4), 8),
        (6, "RGBA", (3, 8, 4), 16),
    ):
        img = rng.randint(0, 1 << depth, shape).astype(f"uint{depth}")
        for interlace in (0, 1):
            blob = _encode_png(img, ctype, [0, 1, 2], depth=depth, interlace=interlace)
            variant = f"{name} PNG \\(color type {ctype}\\)"
            with pytest.raises(NotImplementedError, match=variant):
                decode_pixels(blob)
    idx = rng.randint(0, 16, (3, 4), dtype=np.uint8)
    with pytest.raises(NotImplementedError, match="palette PNG"):
        decode_pixels(_encode_png(idx, 3, [0, 1, 2], palette=bytes(range(48))))


# ---------------------------------------------------------------------------
# JPEG: minimal test-side encoders (quality-0 style: all-ones quant
# scaled by qscale, fixed-length canonical Huffman tables — DC 12
# symbols @ 4 bits, AC 162 symbols @ 8 bits) + decoder round trips
# ---------------------------------------------------------------------------

#: AC symbols in canonical order; code == index, all 8 bits long.
_AC_SYMS = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
_AC_CODE = {sym: i for i, sym in enumerate(_AC_SYMS)}


def _jpeg_dct_basis():
    u = np.arange(8)
    A = 0.5 * np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16)
    A[0] /= np.sqrt(2.0)
    return A


class _BitWriter:
    def __init__(self):
        self.buf, self.acc, self.nb = bytearray(), 0, 0

    def put(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.nb += 1
            if self.nb == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte-stuff per T.81 B.1.1.5
                    self.buf.append(0x00)
                self.acc, self.nb = 0, 0

    def flush(self) -> None:  # pad the last byte with 1-bits
        while self.nb:
            self.put(1, 1)


def _encode_jpeg(y, cb=None, cr=None, sampling=(1, 1), dri=0, qscale=1):
    """Minimal baseline-JPEG encoder (test oracle for _jpeg_pixels):
    grayscale by default; ``cb``/``cr``, ``sampling`` and ``dri`` build
    the color, subsampled and restart-interval streams the decoder
    refuses (luma sampling = ``sampling``, chroma 1x1 picked top-left)."""
    import struct

    from gazelle_plugin_spark.operators.multimodal import _JPEG_ZZ

    A = _jpeg_dct_basis()
    zz = list(_JPEG_ZZ)
    h, w = y.shape
    hy, vy = sampling
    mcux, mcuy = -(-w // (8 * hy)), -(-h // (8 * vy))

    def pad(plane, bh, bw):
        return np.pad(
            plane.astype(np.float64),
            ((0, bh * 8 - plane.shape[0]), (0, bw * 8 - plane.shape[1])),
            mode="edge",
        )

    comps = [(1, hy, vy, pad(y, mcuy * vy, mcux * hy))]
    if cb is not None:
        comps.append((2, 1, 1, pad(cb[::vy, ::hy], mcuy, mcux)))
        comps.append((3, 1, 1, pad(cr[::vy, ::hy], mcuy, mcux)))

    bw_ = _BitWriter()
    pred = [0] * len(comps)
    rst = 0
    for mcu in range(mcux * mcuy):
        if dri and mcu and mcu % dri == 0:
            bw_.flush()
            bw_.buf += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            pred = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for ci, (_cid, hs, vs, plane) in enumerate(comps):
            for by in range(vs):
                for bx in range(hs):
                    blk = plane[
                        (my * vs + by) * 8 : (my * vs + by) * 8 + 8,
                        (mx * hs + bx) * 8 : (mx * hs + bx) * 8 + 8,
                    ]
                    F_ = np.rint(np.rint(A @ (blk - 128.0) @ A.T) / qscale)
                    vec = F_.reshape(-1)[zz].astype(int)
                    diff = int(vec[0]) - pred[ci]
                    pred[ci] = int(vec[0])
                    s = abs(diff).bit_length()
                    bw_.put(s, 4)  # DC code == symbol == size
                    if s:
                        bw_.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
                    run = 0
                    for k in range(1, 64):
                        v = int(vec[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            bw_.put(_AC_CODE[0xF0], 8)
                            run -= 16
                        s2 = abs(v).bit_length()
                        bw_.put(_AC_CODE[(run << 4) | s2], 8)
                        bw_.put(v if v >= 0 else v + (1 << s2) - 1, s2)
                        run = 0
                    if run:
                        bw_.put(_AC_CODE[0x00], 8)
    bw_.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    dc_counts = bytes([0, 0, 0, 12] + [0] * 12)
    ac_counts = bytes([0] * 7 + [162] + [0] * 8)
    dht = (
        b"\x00" + dc_counts + bytes(range(12))
        + b"\x10" + ac_counts + bytes(_AC_SYMS)
    )
    sof = b"\x08" + struct.pack(">HH", h, w) + bytes([len(comps)])
    sos = bytes([len(comps)])
    for cid, hs, vs, _plane in comps:
        sof += bytes([cid, (hs << 4) | vs, 0])
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"  # Ss / Se / AhAl (baseline fixed)
    out = b"\xff\xd8" + seg(0xDB, b"\x00" + bytes([qscale] * 64)) + seg(0xC4, dht)
    out += seg(0xC0, sof)
    if dri:
        out += seg(0xDD, dri.to_bytes(2, "big"))
    out += seg(0xDA, sos) + bytes(bw_.buf) + b"\xff\xd9"
    return out


def test_decode_pixels_jpeg_grayscale_roundtrip():
    """Constant DC-only block decodes EXACTLY (incl. a non-1 quant
    scale); random gray with unit quant round-trips within DCT
    rounding error; odd dimensions crop the MCU padding."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    flat = np.full((8, 8), 130, np.uint8)
    assert (decode_pixels(_encode_jpeg(flat)) == flat).all()
    assert (decode_pixels(_encode_jpeg(flat, qscale=4)) == flat).all()

    rng = np.random.RandomState(7)
    gray = rng.randint(0, 256, (24, 17), dtype=np.uint8)
    got = decode_pixels(_encode_jpeg(gray))
    assert got.shape == (24, 17)
    assert np.abs(got.astype(int) - gray.astype(int)).max() <= 2


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def _jpeg_tables_prelude(sof_marker: int, h: int, w: int) -> bytes:
    """SOI + all-ones DQT + the fixed-length DHT pair + a one-component
    SOFn for the test encoders."""
    import struct

    dc_counts = bytes([0, 0, 0, 12] + [0] * 12)
    ac_counts = bytes([0] * 7 + [162] + [0] * 8)
    dht = (
        b"\x00" + dc_counts + bytes(range(12))
        + b"\x10" + ac_counts + bytes(_AC_SYMS)
    )
    sof = b"\x08" + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, b"\x00" + bytes([1] * 64))
        + _jpeg_seg(0xC4, dht)
        + _jpeg_seg(sof_marker, sof)
    )


def _encode_jpeg_progressive(y):
    """Spectral-selection-only progressive grayscale encoder (test
    oracle): one DC scan (Ss=0, Se=0) then one full-band AC scan (Ss=1,
    Se=63), no successive approximation. Coefficients are identical to
    _encode_jpeg's, so the decoded raster must match the baseline
    encoding bit-for-bit."""
    from gazelle_plugin_spark.operators.multimodal import _JPEG_ZZ

    A = _jpeg_dct_basis()
    zz = list(_JPEG_ZZ)
    h, w = y.shape
    nbx, nby = -(-w // 8), -(-h // 8)
    plane = np.pad(
        y.astype(np.float64), ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge"
    )
    coefs = np.zeros((nby, nbx, 64), np.int64)
    for rr in range(nby):
        for cc in range(nbx):
            blk = plane[rr * 8 : rr * 8 + 8, cc * 8 : cc * 8 + 8]
            coefs[rr, cc] = np.rint(A @ (blk - 128.0) @ A.T).reshape(-1)[zz]

    out = _jpeg_tables_prelude(0xC2, h, w)
    # DC scan
    bw_ = _BitWriter()
    pred = 0
    for dc in coefs[:, :, 0].reshape(-1):
        diff, pred = int(dc) - pred, int(dc)
        s = abs(diff).bit_length()
        bw_.put(s, 4)
        if s:
            bw_.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    bw_.flush()
    out += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bytes(bw_.buf)

    # full-band AC scan
    bw_ = _BitWriter()
    for vec in coefs.reshape(-1, 64):
        run = 0
        for k in range(1, 64):
            v = int(vec[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                bw_.put(_AC_CODE[0xF0], 8)
                run -= 16
            s2 = abs(v).bit_length()
            bw_.put(_AC_CODE[(run << 4) | s2], 8)
            bw_.put(v if v >= 0 else v + (1 << s2) - 1, s2)
            run = 0
        if run:
            bw_.put(_AC_CODE[0x00], 8)  # plain EOB
    bw_.flush()
    out += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0])) + bytes(bw_.buf)
    return out + b"\xff\xd9"


def test_decode_pixels_jpeg_progressive_spectral_matches_baseline():
    """A spectral-selection progressive stream carrying the SAME
    coefficients as the baseline encoding must decode to the identical
    raster — odd dimensions included."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(23)
    for shape in ((19, 13), (18, 21)):
        gray = rng.randint(0, 256, shape, dtype=np.uint8)
        assert (
            decode_pixels(_encode_jpeg_progressive(gray))
            == decode_pixels(_encode_jpeg(gray))
        ).all(), shape


def test_decode_pixels_jpeg_sequential_multiscan():
    """SEQUENTIAL multi-scan (SOF0 with a DC scan and an AC scan, T.81
    allows it) decodes identically to the one-scan baseline stream with
    the same coefficients: scans accumulate into one coefficient
    store whatever the SOF."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(31)
    y = rng.randint(0, 256, (10, 12), dtype=np.uint8)
    seq = _encode_jpeg_progressive(y).replace(b"\xff\xc2", b"\xff\xc0", 1)
    assert (decode_pixels(seq) == decode_pixels(_encode_jpeg(y))).all()


@pytest.mark.parametrize("dims", [(1, 1), (3, 5), (7, 24), (40, 1), (9, 9)])
def test_decode_pixels_jpeg_edge_dimensions(dims):
    """Tiny images, single-row/column and block-straddling odd sizes
    round-trip: error bounded by DCT rounding (<=2); progressive equals
    baseline bit-for-bit."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    h, w = dims
    rng = np.random.RandomState(h * 41 + w)
    y = rng.randint(0, 256, (h, w), dtype=np.uint8)
    g = decode_pixels(_encode_jpeg(y))
    assert g.shape == (h, w)
    assert np.abs(g.astype(int) - y.astype(int)).max() <= 2
    assert (decode_pixels(_encode_jpeg_progressive(y)) == g).all()


def test_decode_pixels_jpeg_truncated_fails_loud():
    """A scan cut mid-MCU raises ValueError, never returns a partial
    raster."""
    from gazelle_plugin_spark.operators.multimodal import decode_pixels

    rng = np.random.RandomState(3)
    blob = _encode_jpeg(rng.randint(0, 256, (16, 16), dtype=np.uint8))
    with pytest.raises(ValueError, match="malformed JPEG"):
        decode_pixels(blob[: len(blob) - 40])


def test_byte_features_chunked_matches_unchunked(docs):
    """A tiny chunk bound (forcing one-blob groups) must produce
    byte-identical features to the one-shot path — the memory bound
    changes scratch layout only, never results."""
    base = attach_blob(docs)
    one = {r.doc_id: r for r in extract_byte_features(base).collect()}
    chunked = {
        r.doc_id: r
        for r in extract_byte_features(base, chunk_bytes=8).collect()
    }
    assert set(one) == set(chunked)
    for k in one:
        assert (one[k].n_bytes, one[k].mean_byte, one[k].n_distinct_bytes,
                one[k].head_byte) == (
            chunked[k].n_bytes, chunked[k].mean_byte,
            chunked[k].n_distinct_bytes, chunked[k].head_byte)


def test_sample_frames_explodes(docs):
    d = attach_blob(docs)
    out = sample_frames(d, every_n=100)
    rows = out.select("doc_id", "frame_offset", "frame_chunk").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for row in docs.select("doc_id", "text").collect():
        n_frames = len(range(0, len(row.text.encode()), 100))
        assert len(by_doc[row.doc_id]) == n_frames
        first = min(by_doc[row.doc_id], key=lambda r: r.frame_offset)
        assert bytes(first.frame_chunk) == row.text.encode()[:16]


def test_sample_frames_empty_blob_yields_no_frames(spark):
    """A zero-length blob must produce ZERO frame rows (the sequence
    lower bound would otherwise emit a phantom frame at offset 0 —
    breaking parity with the generate_series oracle)."""
    d = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    out = sample_frames(attach_blob(d), every_n=2)
    got = {(r.doc_id, r.frame_offset) for r in out.collect()}
    assert got == {(1, 0), (1, 2)}


def test_encode_png_gray16_roundtrip_adam7():
    """The package's planted-fixture encoder (16-bit grayscale, Adam7,
    all five filters) round-trips through decode_pixels exactly — the
    unit-level twin of the registered query mm_png_pixel_stats — and so does
    the same raster non-interlaced, built by the test-side encoder."""
    from gazelle_plugin_spark.operators.multimodal import (
        decode_pixels,
        encode_png_gray16,
    )

    rng = np.random.default_rng(7)
    for h, w in ((7, 9), (1, 1), (8, 8), (3, 16)):
        raster = rng.integers(0, 65536, (h, w)).astype(np.uint16)
        for blob in (
            encode_png_gray16(raster),
            _encode_png(raster, 0, [0, 1, 2, 3, 4], depth=16),
        ):
            got = decode_pixels(blob)
            assert got.dtype == np.uint16 and got.shape == (h, w)
            assert (got == raster).all(), (h, w)


def test_mm_png_pixel_stats_matches_formula(spark):
    """The driver query's decoded pixel stats equal the arithmetic
    formula the DuckDB oracle uses — computed here independently in
    numpy (decode errors in 16-bit/filters/Adam7 would shift px_sum)."""
    from gazelle_plugin_spark.plans import QUERIES
    from gazelle_plugin_spark.plans.multimodal import PNG_DOCS, PNG_H, PNG_W

    rows = {r["doc_id"]: r for r in QUERIES["mm_png_pixel_stats"](spark, SF_SMALL).collect()}
    assert len(rows) == PNG_DOCS
    y, x = np.mgrid[0:PNG_H, 0:PNG_W]
    for d in range(PNG_DOCS):
        v = (9001 * d + 257 * x + 263 * y) % 65536
        r = rows[d]
        assert r["n_px"] == PNG_W * PNG_H
        assert r["px_sum"] == int(v.sum())
        assert r["px_min"] == int(v.min())
        assert r["px_max"] == int(v.max())
    # 16-bit depth is load-bearing: every blob must contain samples > 255
    assert all(r["px_max"] > 255 for r in rows.values())
