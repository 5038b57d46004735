"""Pure-Python image codecs (PNG encode/decode, BMP decode).

The reference's primary artifact is a PNG rendered from a colormapped
raster (DataDownloader_V1.py:70-72 saves ``plt.imsave`` output;
fix_transparency.py:11-12 re-opens it with PIL). Pillow is not in this
container, but PNG needs only ``zlib`` + ``struct`` + NumPy, so the codec
is implemented here from the public PNG spec (RFC 2083) — no stub, no
dependency. This makes the S7 sink and the multimodal image decode path
real end-to-end.

Supported surface (deliberately the subset the engine produces/ingests):
- encode: 8-bit grayscale (H,W), RGB (H,W,3), RGBA (H,W,4); filter 0.
- decode: 8-bit color types 0 (gray), 2 (RGB), 4 (gray+alpha),
  6 (RGBA); all five scanline filters; no interlace, no palette.
- BMP decode: uncompressed 24/32-bit BI_RGB (the other codec-free
  format a training corpus commonly carries).

Scale note: these run inside ``mapInPandas`` batches on executors —
one image per call, vectorized per-scanline with NumPy. The unfilter
loop is per-row (inherent: Paeth is a running recurrence across rows)
but each row is a vector op.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_BMP_MAGIC = b"BM"

# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 array (H,W) | (H,W,3) | (H,W,4) → PNG bytes (zlib level 6)."""
    a = np.ascontiguousarray(arr)
    if a.dtype != np.uint8:
        raise ValueError(f"encode_png wants uint8, got {a.dtype}")
    if a.ndim == 2:
        color_type, channels = 0, 1
        a = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] == 3:
        color_type, channels = 2, 3
    elif a.ndim == 3 and a.shape[2] == 4:
        color_type, channels = 6, 4
    else:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w = a.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 (None) prepended to each scanline
    raw = np.empty((h, 1 + w * channels), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = a.reshape(h, w * channels)
    idat = zlib.compress(raw.tobytes(), 6)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    # a=left, b=up, c=up-left (plain ints — no overflow)
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (H,W) gray or (H,W,C). 8-bit,
    non-interlaced, color types 0/2/4/6 only."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad magic)")
    pos, w = 8, None
    idat = bytearray()
    h = bit_depth = color_type = interlace = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + tag + payload + crc
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("no IHDR chunk")
    if bit_depth != 8 or color_type not in _CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={bit_depth} color={color_type} "
            f"interlace={interlace}); codec handles 8-bit 0/2/4/6 only"
        )
    ch = _CHANNELS[color_type]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if raw.size != h * (1 + stride):
        raise ValueError("PNG data length mismatch")
    raw = raw.reshape(h, 1 + stride)
    filters, lines = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    zero_prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f, cur = filters[y], lines[y].copy()
        prev = out[y - 1] if y else zero_prev
        if f == 0:
            out[y] = cur
        elif f == 1:  # Sub: running left sum per channel lane (mod 256)
            lane = cur.reshape(w, ch)
            acc = np.cumsum(lane, axis=0, dtype=np.uint64) & 0xFF
            out[y] = acc.astype(np.uint8).reshape(stride)
        elif f == 2:  # Up
            out[y] = cur + prev
        elif f == 3:  # Average
            row = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(row[x - ch]) if x >= ch else 0
                row[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
            out[y] = row
        elif f == 4:  # Paeth
            row = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(row[x - ch]) if x >= ch else 0
                up = int(prev[x])
                ul = int(prev[x - ch]) if x >= ch else 0
                row[x] = (int(cur[x]) + _paeth(left, up, ul)) & 0xFF
            out[y] = row
        else:
            raise ValueError(f"bad PNG filter {f}")
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (H,W,3) RGB → 24-bit bottom-up BI_RGB BMP bytes."""
    a = np.ascontiguousarray(arr)
    if a.dtype != np.uint8 or a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_bmp wants uint8 (H,W,3) RGB")
    h, w = a.shape[:2]
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    bgr = a[:, :, ::-1]
    px = b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(px), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 2835, 2835, 0, 0
    )
    return header + dib + px


def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed BI_RGB 24/32-bit BMP → uint8 (H,W,3|4), top-down."""
    if data[:2] != _BMP_MAGIC:
        raise ValueError("not a BMP (bad magic)")
    (off,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp} compression={compression})")
    flip = h > 0
    h = abs(h)
    ch = bpp // 8
    row_stride = (w * ch + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=row_stride * h, offset=off)
    rows = raw.reshape(h, row_stride)[:, : w * ch].reshape(h, w, ch)
    if flip:
        rows = rows[::-1]
    # BMP stores BGR(A) → return RGB(A)
    if ch == 3:
        return np.ascontiguousarray(rows[:, :, [2, 1, 0]])
    return np.ascontiguousarray(rows[:, :, [2, 1, 0, 3]])


def decode_image(data: bytes) -> np.ndarray:
    """Sniff magic and decode. PNG and BMP supported; anything else
    raises ValueError (callers map that to decode_ok=False)."""
    if data[:8] == _PNG_MAGIC:
        return decode_png(data)
    if data[:2] == _BMP_MAGIC:
        return decode_bmp(data)
    raise ValueError("unknown image format (magic not PNG/BMP)")


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (gray 2-D or channel-last 3-D).

    Source index for output pixel i is floor(i · src/out) — the classic
    integer mapping, deterministic and dependency-free. Constant-color
    inputs stay constant, which is what lets the resize gate query carry
    a closed-form luma oracle."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return np.ascontiguousarray(img[np.ix_(rows, cols)])


def mean_luma(img: np.ndarray) -> float:
    """Rec.601 luma for RGB(A); identity for grayscale. Alpha ignored."""
    if img.ndim == 2:
        return float(img.mean())
    ch = img.shape[2]
    if ch == 2:  # gray + alpha
        return float(img[:, :, 0].mean())
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    return float((0.299 * r + 0.587 * g + 0.114 * b).mean())


def _gray_plane(img: np.ndarray) -> np.ndarray:
    """Float64 luma plane: Rec.601 for color, identity for grayscale."""
    if img.ndim == 2:
        return img.astype(np.float64)
    ch = img.shape[2]
    if ch == 2:  # gray + alpha
        return img[:, :, 0].astype(np.float64)
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    return 0.299 * r + 0.587 * g + 0.114 * b


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash (dHash) — the standard perceptual
    fingerprint for image near-dup detection (public algorithm:
    grayscale → 9×8 downsample → bit c of row r set iff
    pixel[r,c] > pixel[r,c+1], packed at bit index r·8+c).

    Perceptually-identical images (same gradient structure at any
    resolution or contrast) collapse to the same 64-bit key, turning
    image dedup into the same hash-groupBy shape as exact text dedup —
    no pairwise comparison. Returned as a SIGNED 64-bit value so it
    lands in a Spark/parquet BIGINT column unchanged.
    """
    small = resize_nearest(_gray_plane(img), 9, 8)
    bits = (small[:, :-1] > small[:, 1:]).astype(np.uint64)
    idx = (
        np.arange(8, dtype=np.uint64)[:, None] * np.uint64(8)
        + np.arange(8, dtype=np.uint64)[None, :]
    )
    v = int((bits << idx).sum(dtype=np.uint64))
    return v - (1 << 64) if v >= (1 << 63) else v
