"""Minimal pure-Python image codecs for the image/caption validation pipeline.

The container has no PIL/cv2, so:

* **PNG**: real encoder (RGB8, filter 0) + FOREIGN-CAPABLE decoder:
  scanline filters 0-4, grayscale/gray+alpha/RGB/RGBA/palette, 8- and
  16-bit depths, Adam7 interlacing — stdlib + numpy only.
* **BMP**: real encoder + decoder (24-bit uncompressed).
* **JPEG**: two paths — the fast zlib-payload stub container (used by the
  synthetic data generator; lossless round-trip), and a REAL baseline
  encoder/decoder (``jpegcodec.py``: pure-numpy DCT + Huffman) used for
  foreign JPEG bytes when PIL is absent. Dimension parsing is a real SOF
  scan either way.
* **GIF**: real LZW codec both directions — single-frame decode, FULL
  animation decode (``decode_gif_frames``: graphic-control transparency +
  disposal none/keep/background/previous compositing) and a multi-frame
  encoder (``encode_gif_animation``) for fixtures.

Format sniffing uses the same magic-byte signatures as the reference
(``tensorflow_data_validation/statistics/generators/image_stats_generator.py:56-62``):
png / jpeg / gif / bmp, else UNKNOWN.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
GIF_MAGICS = (b"GIF87a", b"GIF89a")
BMP_MAGIC = b"BM"

# Native-codec seam: when the deploy image carries PIL (the reference decodes
# via PIL too — image_stats_generator.py:226-399), use it for real
# JPEG/GIF/PNG pixel decode; this sandbox lacks it, so the pure-Python
# decoders below remain the tested fallback. Import is attempted once at
# module load (workers import this module fresh, so each executor resolves
# its own environment).
try:  # pragma: no cover - not installed in this sandbox
    import io as _io

    from PIL import Image as _PILImage

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


def _decode_native(data: bytes) -> Optional[np.ndarray]:  # pragma: no cover
    """PIL decode → RGB uint8 array; None on any failure (e.g. our stub-JPEG
    container, which is sniffable JFIF but has no scan data)."""
    try:
        with _PILImage.open(_io.BytesIO(data)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    except Exception:
        return None


def sniff_format(data: Optional[bytes]) -> str:
    if not data:
        return "UNKNOWN"
    if data[:8] == PNG_MAGIC:
        return "png"
    if data[:3] == JPEG_MAGIC:
        return "jpeg"
    if data[:6] in GIF_MAGICS:
        return "gif"
    if data[:2] == BMP_MAGIC:
        return "bmp"
    return "UNKNOWN"


# ------------------------------------------------------------------ PNG -----
def encode_png(rgb: np.ndarray) -> bytes:
    """RGB8 (h, w, 3) → PNG bytes (color type 2, bit depth 8, filter 0)."""
    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    idat = zlib.compress(raw, 1)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type → samples/pixel


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int) -> Optional[np.ndarray]:
    """Reverse PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth).

    None/Up rows are pure vector ops; Sub vectorizes as a per-lane modular
    prefix sum (addition mod 256 is associative, so cumsum & 0xFF is exact).
    Average/Paeth carry a nonlinear serial dependency along the row, so they
    run as plain-Python list loops — scalar list indexing is ~10× faster
    than per-element numpy indexing, putting foreign screenshots in the
    tens-of-Mpx/s range instead of ~2."""
    stride = w * bpp + 1
    if len(raw) < stride * h:
        return None
    lines = np.frombuffer(raw[: stride * h], dtype=np.uint8).reshape(h, stride)
    ftypes = lines[:, 0]
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    n = w * bpp
    for y in range(h):
        f = ftypes[y]
        row = lines[y, 1:]
        if f == 0:
            out[y] = row
        elif f == 2:  # Up
            out[y] = row + out[y - 1] if y else row  # uint8 wraparound == mod 256
        elif f == 1:  # Sub: modular prefix sum per byte lane
            out[y] = (
                row.reshape(w, bpp).astype(np.int64).cumsum(axis=0) & 0xFF
            ).astype(np.uint8).reshape(n)
        elif f == 3:  # Average
            o = row.tolist()
            prev = out[y - 1].tolist() if y else [0] * n
            for x in range(bpp):
                o[x] = (o[x] + (prev[x] >> 1)) & 0xFF
            for x in range(bpp, n):
                o[x] = (o[x] + ((o[x - bpp] + prev[x]) >> 1)) & 0xFF
            out[y] = o
        elif f == 4:  # Paeth
            o = row.tolist()
            prev = out[y - 1].tolist() if y else [0] * n
            for x in range(bpp):
                o[x] = (o[x] + prev[x]) & 0xFF  # a=c=0 → predictor is b
            for x in range(bpp, n):
                a = o[x - bpp]
                b = prev[x]
                c = prev[x - bpp]
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                o[x] = (o[x] + pred) & 0xFF
            out[y] = o
        else:
            return None
    return out


# Adam7 pass grid: (x offset, y offset, x step, y step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def decode_png(data: bytes) -> Optional[np.ndarray]:
    """PNG bytes → RGB8 array. Foreign-capable: 8- and 16-bit depth (16-bit
    reduced to 8 via the high byte) in grayscale, gray+alpha, RGB, RGBA, and
    palette color types; scanline filters 0-4 (Sub/Up/Average/Paeth);
    Adam7 interlacing. Sub-8-bit depths return None (PIL seam)."""
    if data[:8] != PNG_MAGIC:
        return None
    pos = 8
    w = h = None
    depth = 8
    ctype = interlace = 0
    plte = None
    idat = b""
    try:
        while pos + 8 <= len(data):
            (length,) = struct.unpack(">I", data[pos : pos + 4])
            tag = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if tag == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", body[:13]
                )
                if ctype not in _PNG_CHANNELS:
                    return None
                if depth not in (8, 16) and not (
                    depth in (1, 2, 4) and ctype in (0, 3)
                ):
                    return None  # sub-8-bit is only defined for gray/palette
                if depth == 16 and ctype == 3:
                    return None  # palette is ≤8-bit by spec
            elif tag == b"PLTE":
                plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + length
        if w is None or not idat:
            return None
        nch = _PNG_CHANNELS[ctype]
        raw = zlib.decompress(idat)
        if depth < 8:
            # sub-8-bit gray/palette: filters operate on the PACKED bytes
            # (bpp=1); rows are ceil(w*depth/8) bytes, unpacked afterwards
            if interlace:
                return None  # rare combination; PIL seam
            rb = (w * depth + 7) // 8
            packed = _png_unfilter(raw, rb, h, 1)
            if packed is None:
                return None
            bits = np.unpackbits(packed.reshape(h, rb), axis=1)
            vals = bits.reshape(h, -1, depth)
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            idx = (vals * weights).sum(axis=2)[:, :w].astype(np.uint8)
            if ctype == 3:
                if plte is None:
                    return None
                return plte[np.minimum(idx, len(plte) - 1)]
            scale = 255 // ((1 << depth) - 1)  # gray: expand to full range
            return np.repeat((idx * scale).astype(np.uint8)[:, :, None], 3, 2)
        bpp = nch * (depth // 8)  # filters operate on BYTES
        if not interlace:
            flat = _png_unfilter(raw, w, h, bpp)
            if flat is None:
                return None
        else:  # Adam7: seven independently-filtered sub-images
            flat = np.zeros((h, w * bpp), dtype=np.uint8)
            grid = flat.reshape(h, w, bpp)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = pw * bpp + 1
                sub = _png_unfilter(raw[off : off + stride * ph], pw, ph, bpp)
                if sub is None:
                    return None
                off += stride * ph
                grid[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if depth == 16:
            # big-endian u16 → 8-bit via the high byte
            px = flat.reshape(h, w, nch, 2)[:, :, :, 0]
        else:
            px = flat.reshape(h, w, nch)
        if ctype == 2:  # RGB
            return px.copy()
        if ctype == 6:  # RGBA → drop alpha
            return px[:, :, :3].copy()
        if ctype == 0:  # grayscale
            return np.repeat(px, 3, axis=2)
        if ctype == 4:  # gray + alpha
            return np.repeat(px[:, :, :1], 3, axis=2)
        if ctype == 3:  # palette
            if plte is None:
                return None
            idx = np.minimum(px[:, :, 0], len(plte) - 1)
            return plte[idx]
        return None
    except Exception:
        return None


def png_dimensions(data: bytes) -> Optional[tuple[int, int]]:
    if len(data) >= 24 and data[:8] == PNG_MAGIC and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return w, h
    return None


# ------------------------------------------------------------------ BMP -----
def encode_bmp(rgb: np.ndarray) -> bytes:
    """RGB8 (h, w, 3) → 24-bit BMP (bottom-up, BGR, 4-byte row padding)."""
    h, w, _ = rgb.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = rgb[::-1, :, ::-1]  # bottom-up rows, BGR channel order
    pad = b"\x00" * (row_size - w * 3)
    body = b"".join(bgr[y].tobytes() + pad for y in range(h))
    return header + dib + body


def decode_bmp(data: bytes) -> Optional[np.ndarray]:
    try:
        if data[:2] != BMP_MAGIC:
            return None
        (offset,) = struct.unpack("<I", data[10:14])
        w, h = struct.unpack("<ii", data[18:26])
        (bpp,) = struct.unpack("<H", data[28:30])
        if bpp != 24 or h <= 0:
            return None
        row_size = (w * 3 + 3) & ~3
        body = data[offset : offset + row_size * h]
        arr = np.frombuffer(body, dtype=np.uint8).reshape(h, row_size)
        bgr = arr[:, : w * 3].reshape(h, w, 3)
        return bgr[::-1, :, ::-1].copy()
    except Exception:
        return None


def bmp_dimensions(data: bytes) -> Optional[tuple[int, int]]:
    if len(data) >= 26 and data[:2] == BMP_MAGIC:
        w, h = struct.unpack("<ii", data[18:26])
        return w, abs(h)
    return None


# ----------------------------------------------------------------- JPEG -----
def encode_jpeg_stub(rgb: np.ndarray, quality: int = 85) -> bytes:
    """Sniffable JPEG container carrying the raw pixels zlib-compressed in an
    APP15 comment segment. NOT a real JPEG encoder (no DCT — no codec libs in
    this container): real JFIF header + SOF0 with true dimensions, so format
    sniffing and dimension parsing behave exactly like real files; only the
    entropy-coded payload is synthetic. decode_jpeg() round-trips losslessly.
    """
    h, w, _ = rgb.shape
    jfif = b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    payload = zlib.compress(rgb.tobytes(), 1)
    # chunk payload into APP15 segments (max 65533 bytes each)
    segs = []
    for i in range(0, len(payload), 60000):
        part = payload[i : i + 60000]
        segs.append(b"\xff\xef" + struct.pack(">H", len(part) + 2) + part)
    return jfif + sof0 + b"".join(segs) + b"\xff\xd9"


def decode_jpeg(data: bytes) -> Optional[np.ndarray]:
    """Decode JPEG bytes: our stub container (zlib payload in APP15,
    lossless) if present, else the real pure-numpy decoder
    (``jpegcodec.decode`` — baseline SOF0/SOF1 and progressive SOF2, 1-3
    components, subsampling ≤2, restart markers). Arithmetic-coded and
    lossless JPEG still need the PIL seam."""
    dims = jpeg_dimensions(data)
    if dims is None:
        return None
    w, h = dims
    payload = b"".join(_iter_jpeg_segments(data, marker=0xEF))
    if payload:
        try:
            raw = zlib.decompress(payload)
            return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()
        except Exception:
            pass  # APP15 present but not ours: fall through to real decode
    from data_validation_spark.stats import jpegcodec

    return jpegcodec.decode(data)


def jpeg_dimensions(data: bytes) -> Optional[tuple[int, int]]:
    """Real SOF-marker scan — works on any baseline/progressive JPEG."""
    if data[:3] != JPEG_MAGIC:
        return None
    pos = 2
    n = len(data)
    try:
        while pos + 4 <= n:
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[pos + 5 : pos + 9])
                return w, h
            pos += 2 + seglen
    except Exception:
        return None
    return None


def _iter_jpeg_segments(data: bytes, marker: int):
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        m = data[pos + 1]
        if m in (0xD8, 0xD9):
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if m == marker:
            yield data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen


# ------------------------------------------------------------------ GIF -----
def encode_gif_stub(rgb: np.ndarray) -> bytes:
    """Sniffable GIF89a container with true logical-screen dimensions and the
    pixels zlib-compressed in an application extension (STUB — no LZW encoder)."""
    h, w, _ = rgb.shape
    header = b"GIF89a" + struct.pack("<HH", w, h) + b"\x70\x00\x00"
    payload = zlib.compress(rgb.tobytes(), 1)
    blocks = []
    for i in range(0, len(payload), 255):
        part = payload[i : i + 255]
        blocks.append(bytes([len(part)]) + part)
    appext = b"\x21\xff\x0bDVSPARK10.0" + b"".join(blocks) + b"\x00"
    return header + appext + b"\x3b"


def decode_gif(data: bytes) -> Optional[np.ndarray]:
    """Decode GIF bytes: our stub container (zlib payload in an application
    extension, lossless) if present, else a real LZW decode of the first
    frame (87a/89a, global/local palette, interlace)."""
    dims = gif_dimensions(data)
    if dims is None:
        return None
    w, h = dims
    idx = data.find(b"DVSPARK10.0")
    if idx >= 0:
        pos = idx + 11
        payload = b""
        try:
            while pos < len(data):
                blen = data[pos]
                if blen == 0:
                    break
                payload += data[pos + 1 : pos + 1 + blen]
                pos += 1 + blen
            raw = zlib.decompress(payload)
            return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()
        except Exception:
            return None
    return _decode_gif_lzw(data)


def _lzw_decode(min_code_size: int, payload: bytes, expected: int) -> Optional[np.ndarray]:
    """GIF-variant LZW → uint8 index array of length ``expected``."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # bit reader, LSB-first per GIF spec
    acc = 0
    nbits = 0
    pos = 0
    n = len(payload)

    def init_dict():
        return {i: (i,) for i in range(clear)}

    table = init_dict()
    next_code = eoi + 1
    width = min_code_size + 1
    out = np.empty(expected, dtype=np.uint8)
    filled = 0
    prev: Optional[tuple] = None
    while filled < expected:
        while nbits < width:
            if pos >= n:
                return out[:filled] if filled == expected else None
            acc |= payload[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = init_dict()
            next_code = eoi + 1
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                return None
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + (prev[0],)
        else:
            return None
        take = min(len(entry), expected - filled)
        out[filled : filled + take] = entry[:take]
        filled += take
        if prev is not None and next_code < 4096:
            table[next_code] = prev + (entry[0],)
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out if filled == expected else None


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """GIF 4-pass interlace row reordering."""
    h = idx.shape[0]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


def _decode_gif_lzw(data: bytes) -> Optional[np.ndarray]:
    """First-frame LZW decode of a real GIF (87a/89a)."""
    try:
        w, h = struct.unpack("<HH", data[6:10])
        packed = data[10]
        pos = 13
        gct = None
        if packed & 0x80:
            sz = 3 * (2 << (packed & 0x07))
            gct = np.frombuffer(data[pos : pos + sz], dtype=np.uint8).reshape(-1, 3)
            pos += sz
        while pos < len(data):
            block = data[pos]
            if block == 0x21:  # extension: skip sub-blocks
                pos += 2
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                fx, fy, fw, fh = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
                ipacked = data[pos + 9]
                pos += 10
                palette = gct
                if ipacked & 0x80:
                    sz = 3 * (2 << (ipacked & 0x07))
                    palette = np.frombuffer(
                        data[pos : pos + sz], dtype=np.uint8
                    ).reshape(-1, 3)
                    pos += sz
                if palette is None:
                    return None
                min_code_size = data[pos]
                pos += 1
                payload = bytearray()
                while pos < len(data) and data[pos] != 0:
                    blen = data[pos]
                    payload += data[pos + 1 : pos + 1 + blen]
                    pos += 1 + blen
                idx = _lzw_decode(min_code_size, bytes(payload), fw * fh)
                if idx is None:
                    return None
                idx = idx.reshape(fh, fw)
                if ipacked & 0x40:
                    idx = _deinterlace(idx)
                frame = palette[np.minimum(idx, len(palette) - 1)]
                if (fx, fy, fw, fh) == (0, 0, w, h):
                    return frame.copy()
                # frame smaller than logical screen: paste on black canvas
                canvas = np.zeros((h, w, 3), dtype=np.uint8)
                canvas[fy : fy + fh, fx : fx + fw] = frame
                return canvas
            elif block == 0x3B:
                return None
            else:
                return None
    except Exception:
        return None
    return None


def encode_gif_baseline(rgb: np.ndarray, interlace: bool = False) -> bytes:
    """Real single-frame GIF89a encoder (LZW, exact palette). Requires ≤256
    distinct colors — build quantized inputs upstream if needed."""
    h, w, _ = rgb.shape
    flat = rgb.reshape(-1, 3)
    palette, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} colors > 256; quantize first")
    # pad palette to a power of two (min 2)
    bits = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    padded = np.zeros((1 << bits, 3), dtype=np.uint8)
    padded[: len(palette)] = palette
    header = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0])
    gct = padded.tobytes()
    idx2 = idx.reshape(h, w)
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        idx2 = idx2[order]
    descriptor = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x40 if interlace else 0])
    min_code_size = max(bits, 2)
    body = _lzw_encode(min_code_size, idx2.ravel())
    blocks = bytearray()
    for i in range(0, len(body), 255):
        part = body[i : i + 255]
        blocks += bytes([len(part)]) + part
    return (
        header + gct + descriptor + bytes([min_code_size]) + bytes(blocks) + b"\x00\x3b"
    )


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    """GIF-variant LZW encoder (emits CLEAR up front, EOI at the end)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    seq = ()
    for v in indices.tolist():
        cand = seq + (v,)
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = (v,)
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_dimensions(data: bytes) -> Optional[tuple[int, int]]:
    if len(data) >= 10 and data[:6] in GIF_MAGICS:
        w, h = struct.unpack("<HH", data[6:10])
        return w, h
    return None


# ------------------------------------------------------- GIF animation -----
def decode_gif_frames(
    data: bytes, max_frames: Optional[int] = None
) -> Optional[list[np.ndarray]]:
    """Decode ALL frames of an animated GIF with full compositing semantics
    (GIF89a spec): graphic-control transparency, and disposal methods
    none/keep (0/1), restore-to-background (2), restore-to-previous (3).
    Returns the rendered canvas after each frame, or None if undecodable."""
    try:
        if data[:6] not in GIF_MAGICS:
            return None
        w, h = struct.unpack("<HH", data[6:10])
        packed = data[10]
        bg_index = data[11]
        pos = 13
        gct = None
        if packed & 0x80:
            sz = 3 * (2 << (packed & 0x07))
            gct = np.frombuffer(data[pos : pos + sz], dtype=np.uint8).reshape(-1, 3)
            pos += sz
        bg_rgb = (
            gct[bg_index] if gct is not None and bg_index < len(gct)
            else np.zeros(3, np.uint8)
        )
        canvas = np.tile(bg_rgb, (h, w, 1)).astype(np.uint8)
        frames: list[np.ndarray] = []
        disposal = 0
        transparent: Optional[int] = None
        while pos < len(data):
            block = data[pos]
            if block == 0x21:  # extension
                label = data[pos + 1]
                if label == 0xF9:  # graphic control
                    gpacked = data[pos + 3]
                    disposal = (gpacked >> 2) & 0x7
                    transparent = data[pos + 6] if gpacked & 1 else None
                pos += 2
                while pos < len(data) and data[pos] != 0:
                    pos += 1 + data[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                fx, fy, fw, fh = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
                ipacked = data[pos + 9]
                pos += 10
                palette = gct
                if ipacked & 0x80:
                    sz = 3 * (2 << (ipacked & 0x07))
                    palette = np.frombuffer(
                        data[pos : pos + sz], dtype=np.uint8
                    ).reshape(-1, 3)
                    pos += sz
                if palette is None:
                    return None
                min_code_size = data[pos]
                pos += 1
                payload = bytearray()
                while pos < len(data) and data[pos] != 0:
                    blen = data[pos]
                    payload += data[pos + 1 : pos + 1 + blen]
                    pos += 1 + blen
                pos += 1  # block terminator
                idx = _lzw_decode(min_code_size, bytes(payload), fw * fh)
                if idx is None:
                    return None
                idx = idx.reshape(fh, fw)
                if ipacked & 0x40:
                    idx = _deinterlace(idx)
                prev = canvas.copy() if disposal == 3 else None
                region = canvas[fy : fy + fh, fx : fx + fw]
                rgb = palette[np.minimum(idx, len(palette) - 1)]
                if transparent is not None:
                    mask = idx != transparent
                    region[mask] = rgb[mask]
                else:
                    region[:] = rgb
                frames.append(canvas.copy())
                if max_frames is not None and len(frames) >= max_frames:
                    return frames
                if disposal == 2:
                    canvas[fy : fy + fh, fx : fx + fw] = bg_rgb
                elif disposal == 3 and prev is not None:
                    canvas = prev
                disposal = 0
                transparent = None
            elif block == 0x3B:  # trailer
                break
            else:
                return None
        return frames or None
    except Exception:
        return None


def encode_gif_animation(
    frames: list[np.ndarray],
    disposals: Optional[list[int]] = None,
    regions: Optional[list[Optional[tuple[int, int, int, int]]]] = None,
    transparent_color: Optional[tuple[int, int, int]] = None,
    delay_cs: int = 10,
    loop: bool = True,
) -> bytes:
    """Real multi-frame GIF89a encoder (fixture-grade): one global palette
    from the union of frame colors (≤255 + optional transparent slot),
    per-frame graphic-control extensions (disposal, delay, transparency),
    optional sub-rectangle frames via ``regions`` (fx, fy, fw, fh) slices of
    each full-canvas array, and a NETSCAPE loop block."""
    h, w, _ = frames[0].shape
    stack = np.concatenate([f.reshape(-1, 3) for f in frames])
    palette, _ = np.unique(stack, axis=0, return_inverse=True)
    limit = 255 if transparent_color is not None else 256
    if len(palette) > limit:
        raise ValueError(f"{len(palette)} colors > {limit}; quantize first")
    lut = {tuple(c): i for i, c in enumerate(palette)}
    tindex = None
    if transparent_color is not None:
        tindex = len(palette)
        palette = np.vstack([palette, np.zeros((1, 3), np.uint8)])
    bits = max(1, int(np.ceil(np.log2(max(len(palette), 2)))))
    padded = np.zeros((1 << bits, 3), dtype=np.uint8)
    padded[: len(palette)] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0])
    out += padded.tobytes()
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    min_code_size = max(bits, 2)
    for i, frame in enumerate(frames):
        disposal = (disposals or [])[i] if disposals and i < len(disposals) else 1
        gpacked = (disposal & 0x7) << 2
        if tindex is not None:
            gpacked |= 1
        out += bytes([0x21, 0xF9, 4, gpacked])
        out += struct.pack("<H", delay_cs)
        out += bytes([tindex or 0, 0])
        reg = (regions or [])[i] if regions and i < len(regions) else None
        fx, fy, fw, fh = reg if reg else (0, 0, w, h)
        sub = frame[fy : fy + fh, fx : fx + fw]
        idx = np.empty((fh, fw), dtype=np.uint16)
        flat = sub.reshape(-1, 3)
        if transparent_color is not None:
            tc = np.array(transparent_color, np.uint8)
            is_t = np.all(flat == tc, axis=1)
        else:
            is_t = np.zeros(len(flat), bool)
        codes = np.array(
            [tindex if t else lut[tuple(px)] for px, t in zip(flat, is_t)],
            dtype=np.uint16,
        )
        idx = codes.reshape(fh, fw)
        out += b"\x2c" + struct.pack("<HHHH", fx, fy, fw, fh) + bytes([0])
        body = _lzw_encode(min_code_size, idx.ravel())
        out += bytes([min_code_size])
        for j in range(0, len(body), 255):
            part = body[j : j + 255]
            out += bytes([len(part)]) + part
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


# -------------------------------------------------------------- dispatch ----
_ENCODERS = {"png": encode_png, "bmp": encode_bmp, "jpeg": encode_jpeg_stub, "gif": encode_gif_stub}
_DECODERS = {"png": decode_png, "bmp": decode_bmp, "jpeg": decode_jpeg, "gif": decode_gif}
_DIMS = {
    "png": png_dimensions,
    "bmp": bmp_dimensions,
    "jpeg": jpeg_dimensions,
    "gif": gif_dimensions,
}


def encode(fmt: str, rgb: np.ndarray) -> bytes:
    return _ENCODERS[fmt](rgb)


def decode(data: Optional[bytes]) -> Optional[np.ndarray]:
    fmt = sniff_format(data)
    if fmt == "UNKNOWN":
        return None
    if _HAVE_PIL:  # pragma: no cover - exercised only where PIL is installed
        out = _decode_native(data)
        if out is not None:
            return out
        # fall through: e.g. our zlib-payload stub-JPEG container, which PIL
        # rejects but the pure decoder below understands
    return _DECODERS[fmt](data)


def dimensions(data: Optional[bytes]) -> Optional[tuple[int, int]]:
    fmt = sniff_format(data)
    if fmt == "UNKNOWN":
        return None
    return _DIMS[fmt](data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    if a.shape != b.shape:
        return 0.0
    # Lossless codecs round-trip exactly, so the common case is identity:
    # a memcmp-speed equality check skips the float math entirely.
    if a.dtype == b.dtype and np.array_equal(a, b):
        return float("inf")
    d = np.subtract(a, b, dtype=np.int32).ravel()
    mse = np.dot(d, d.astype(np.float64)) / d.size
    if mse == 0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)
