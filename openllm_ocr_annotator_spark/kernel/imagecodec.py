"""Dependency-free image codecs: BMP / PPM (incl. P6 frame streams) / GIF /
PNG, plus baseline JPEG via the sibling ``kernel/jpegcodec.py`` (dispatched
from ``decode_geometry`` / ``decode_gray`` below).

The container has no PIL/ffmpeg, so the engine's real-decode leg
(operators/media.py) would otherwise be code that never executes. These are
honest format parsers for three PUBLIC formats (all header layouts from
their published specs), each ~30 lines:

- BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (Windows bitmap spec) — geometry
  from the fixed-offset header fields, top-down (negative height) handled.
- PPM: netpbm ``P6``/``P5`` ASCII header (whitespace/comment tokenizer per
  the netpbm spec). Concatenated P6 frames — the ``ppm_pipe`` image2pipe
  convention — decode as a multi-frame stream (n_frames = frame count).
- GIF: GIF87a/89a logical screen descriptor + block walk; n_frames = image
  descriptor (0x2C) count, skipping extensions and color tables by their
  declared sizes (the animated-GIF frame-count rule).

Encoders exist so tests and the driver contract can synthesize REAL bytes
(actual pixel data for the small geometries used in checks) and round-trip
them through the decoders — the decode leg runs unconditionally in CI, with
PIL remaining the preferred path for formats these parsers don't cover
(reference decode behavior: annotators/base.py:77-163).
"""

from __future__ import annotations

import struct

# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------


def pattern_rgb(x: int, y: int) -> tuple[int, int, int]:
    """Default deterministic test-pixel texture, shared by EVERY encoder
    so the same geometry yields the same IMAGE regardless of container —
    the fixture perceptual-hash dedup needs (same picture, different
    bytes). Odd multipliers mod 256 make the luma non-monotone in both
    axes (a plain gradient collapses every dHash to all-ones)."""
    return (
        (37 * x + 101 * y) % 256,
        (59 * x + 149 * y + 83) % 256,
        (97 * x + 13 * y + 29) % 256,
    )


def encode_bmp(width: int, height: int) -> bytes:
    """24-bit uncompressed BMP. Faithful to the spec: samples stored
    B,G,R, rows bottom-up — a standard decoder recovers RGB pixel
    (x, y) = ``pattern_rgb(x, y)``, the SAME image ``encode_png(w, h)``
    produces."""
    row = width * 3
    pad = (4 - row % 4) % 4
    pixels = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up row order per spec
        for x in range(width):
            r, g, b = pattern_rgb(x, y)
            pixels += bytes((b, g, r))
        pixels += b"\x00" * pad
    data_offset = 14 + 40
    file_size = data_offset + len(pixels)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + bytes(pixels)


def decode_bmp(payload: bytes) -> tuple[int, int, int]:
    if len(payload) < 26 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    info_size = struct.unpack_from("<I", payload, 14)[0]
    if info_size >= 40:
        width, height = struct.unpack_from("<ii", payload, 18)
    elif info_size == 12:  # OS/2 BITMAPCOREHEADER: u16 dims
        width, height = struct.unpack_from("<HH", payload, 18)
    else:
        raise ValueError(f"unsupported BMP header size {info_size}")
    return abs(width), abs(height), 1  # negative height = top-down rows


# --------------------------------------------------------------------------
# PPM / PGM (netpbm) + concatenated-frame streams
# --------------------------------------------------------------------------


def encode_ppm(width: int, height: int) -> bytes:
    """Binary P6 with the shared deterministic pixel texture."""
    header = f"P6\n{width} {height}\n255\n".encode()
    pixels = bytearray()
    for y in range(height):
        for x in range(width):
            pixels += bytes(pattern_rgb(x, y))
    return header + bytes(pixels)


def encode_ppm_stream(width: int, height: int, n_frames: int) -> bytes:
    """Concatenated P6 frames — the image2pipe ppm sequence convention."""
    return encode_ppm(width, height) * n_frames


def _ppm_header(payload: bytes, pos: int) -> tuple[int, int, int, int]:
    """Parse one netpbm header from ``pos``: returns (w, h, bpp, data_pos)."""
    magic = payload[pos : pos + 2]
    bands = {b"P6": 3, b"P5": 1}.get(magic)
    if bands is None:
        raise ValueError("not a binary PPM/PGM payload")
    i = pos + 2
    fields: list[int] = []
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment runs to end of line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        try:
            fields.append(int(payload[i:j]))
        except ValueError:
            raise ValueError(
                f"corrupt PPM header: non-numeric field {payload[i:j]!r} at byte {i}"
            ) from None
        i = j
    width, height, maxval = fields
    # Explicit bounds per the netpbm spec: dimensions strictly positive,
    # maxval in (0, 65536). Unchecked, a negative/zero field makes the
    # caller's frame loop advance ``pos`` by a non-positive byte count and
    # re-parse the same header forever (a hung executor task, not an error).
    if width <= 0 or height <= 0:
        raise ValueError(f"corrupt PPM header: dimensions {width}x{height} at byte {pos}")
    if not (0 < maxval < 65536):
        raise ValueError(f"corrupt PPM header: maxval {maxval} at byte {pos}")
    if maxval >= 256:
        bands *= 2  # 16-bit samples
    return width, height, bands, i + 1  # single whitespace after maxval


def decode_ppm(payload: bytes) -> tuple[int, int, int]:
    """Single frame or concatenated P6 stream → (w, h, n_frames)."""
    width, height, bands, pos = _ppm_header(payload, 0)
    n_frames = 1
    pos += width * height * bands
    while pos < len(payload):
        prev = pos
        w2, h2, b2, pos = _ppm_header(payload, pos)
        pos += w2 * h2 * b2
        if pos <= prev:  # defense-in-depth: a frame must consume >=1 byte
            raise ValueError(f"corrupt PPM stream: frame at byte {prev} consumed no bytes")
        n_frames += 1
    return width, height, n_frames


# --------------------------------------------------------------------------
# GIF (87a/89a), animated
# --------------------------------------------------------------------------


def encode_gif(width: int, height: int, n_frames: int = 1) -> bytes:
    """Minimal animated GIF: header-complete, per-frame descriptors with a
    2-entry local color table and a clear+EOI LZW stream (header-level
    decoders — ours, PIL's open() — read geometry and frame count without
    touching pixel data)."""
    if not (0 < width <= 0xFFFF and 0 < height <= 0xFFFF):
        raise ValueError("GIF dimensions are u16")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x00, 0, 0)  # no global table
    for _ in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0x80)
        out += b"\x00\x00\x00\xff\xff\xff"  # 2-entry local color table
        # LZW min code size 2: clear(4) then EOI(5), 3-bit codes LSB-packed
        out += b"\x02\x01\x2c\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif(payload: bytes) -> tuple[int, int, int]:
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height, packed = struct.unpack_from("<HHB", payload, 6)
    pos = 13
    if packed & 0x80:  # global color table: 3·2^(size+1) bytes
        pos += 3 * (2 << (packed & 0x07))
    n_frames = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            pos = _skip_subblocks(payload, pos)
        elif block == 0x2C:  # image descriptor
            n_frames += 1
            _l, _t, _w, _h, fpacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if fpacked & 0x80:
                pos += 3 * (2 << (fpacked & 0x07))
            pos += 1  # LZW minimum code size
            pos = _skip_subblocks(payload, pos)
        else:
            raise ValueError(f"corrupt GIF block 0x{block:02x} at {pos - 1}")
    return width, height, max(n_frames, 1)


def _skip_subblocks(payload: bytes, pos: int) -> int:
    while pos < len(payload):
        size = payload[pos]
        pos += 1 + size
        if size == 0:
            return pos
    return pos


# --------------------------------------------------------------------------
# PNG (stdlib zlib; spec: https://www.w3.org/TR/png-3/ public chunk layout)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# bytes per pixel for 8-bit depth by color type: gray, truecolor, indexed,
# gray+alpha, truecolor+alpha
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def encode_png(width: int, height: int, pixel=pattern_rgb) -> bytes:
    """Real 8-bit truecolor PNG with the shared deterministic texture:
    IHDR + one zlib-compressed IDAT of filter-0 scanlines + IEND, CRCs
    included — round-trips through any spec decoder (ours below, PIL
    where present)."""
    import zlib

    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 (None) per scanline
        for x in range(width):
            raw += bytes(pixel(x, y))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int]:
    """Chunk walk → IHDR geometry, verified by REALLY inflating the IDAT
    stream and checking the unfiltered scanline payload has exactly
    height·(1 + width·bpp) bytes (so a lying header or truncated stream
    raises instead of passing). n_frames = acTL num_frames for APNG, 1
    otherwise. 8-bit depths only — others raise (PIL remains the
    wider-coverage path where importable)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    bpp = 0
    n_frames = 1
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError(f"corrupt PNG: truncated {ctype!r} chunk at {pos}")
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, _inter = struct.unpack_from(
                ">IIBBBBB", data, 0
            )
            if width <= 0 or height <= 0:
                raise ValueError(f"corrupt PNG header: dimensions {width}x{height}")
            if depth != 8 or color not in _PNG_CHANNELS:
                raise ValueError(
                    f"unsupported PNG (depth {depth}, color type {color}); "
                    "only 8-bit depths decode dependency-free"
                )
            bpp = _PNG_CHANNELS[color]
        elif ctype == b"acTL":  # APNG animation control: frame count
            (n_frames,) = struct.unpack_from(">I", data, 0)
            n_frames = max(n_frames, 1)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + CRC
    if width is None:
        raise ValueError("corrupt PNG: no IHDR chunk")
    if not idat:
        raise ValueError("corrupt PNG: no IDAT data")
    raw = zlib.decompress(bytes(idat))
    expect = height * (1 + width * bpp)
    if len(raw) != expect:
        raise ValueError(
            f"corrupt PNG: inflated {len(raw)} bytes, geometry implies {expect}"
        )
    if any(raw[y * (1 + width * bpp)] > 4 for y in range(height)):
        raise ValueError("corrupt PNG: invalid scanline filter type")
    return width, height, n_frames


# --------------------------------------------------------------------------
# pixel decode (first frame, 8-bit integer luma) — feeds perceptual hashing
# --------------------------------------------------------------------------


def _luma(r: int, g: int, b: int) -> int:
    """ITU-R BT.601 luma, integer arithmetic only (floor-div) so every
    engine that replays it — the Spark kernel, the pure-Python golden
    chain — lands on the identical byte."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _bmp_gray(payload: bytes) -> tuple[int, int, bytes]:
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    info_size = struct.unpack_from("<I", payload, 14)[0]
    if info_size < 40:
        raise ValueError("BMP pixel decode needs BITMAPINFOHEADER (v3+)")
    width, height = struct.unpack_from("<ii", payload, 18)
    bits = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bits != 24 or compression != 0:
        raise ValueError(f"BMP pixel decode supports 24-bit BI_RGB only "
                         f"(got {bits}-bit, compression {compression})")
    top_down = height < 0
    w, h = abs(width), abs(height)
    stride = w * 3 + (4 - (w * 3) % 4) % 4
    if len(payload) < data_offset + stride * h:
        raise ValueError("corrupt BMP: truncated pixel array")
    out = bytearray(w * h)
    for row in range(h):
        src_row = row if top_down else h - 1 - row
        base = data_offset + src_row * stride
        for x in range(w):
            b_, g_, r_ = payload[base + 3 * x: base + 3 * x + 3]
            out[row * w + x] = _luma(r_, g_, b_)
    return w, h, bytes(out)


def _ppm_gray(payload: bytes) -> tuple[int, int, bytes]:
    width, height, bands, pos = _ppm_header(payload, 0)
    if bands not in (1, 3):
        raise ValueError("PPM pixel decode supports 8-bit samples only")
    need = width * height * bands
    if len(payload) < pos + need:
        raise ValueError("corrupt PPM: truncated pixel data")
    out = bytearray(width * height)
    if bands == 1:  # P5 grayscale — samples ARE luma
        out[:] = payload[pos: pos + need]
    else:
        for i in range(width * height):
            r, g, b = payload[pos + 3 * i: pos + 3 * i + 3]
            out[i] = _luma(r, g, b)
    return width, height, bytes(out)


def _png_unfilter(raw: bytes, width: int, height: int, ch: int) -> bytearray:
    """Reverse the five PNG scanline filters (spec §9: None/Sub/Up/
    Average/Paeth) → raw channel bytes, top-down row-major."""
    stride = width * ch
    out = bytearray(stride * height)
    for y in range(height):
        ftype = raw[y * (1 + stride)]
        line = bytearray(raw[y * (1 + stride) + 1: (y + 1) * (1 + stride)])
        prev = out[(y - 1) * stride: y * stride] if y else bytes(stride)
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"corrupt PNG: invalid scanline filter {ftype}")
        out[y * stride: (y + 1) * stride] = line
    return out


def _png_gray(payload: bytes) -> tuple[int, int, bytes]:
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    ch = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + length]
        if len(data) < length:
            raise ValueError(f"corrupt PNG: truncated {ctype!r} chunk at {pos}")
        if ctype == b"IHDR":
            width, height, depth, color, _c, _f, interlace = struct.unpack_from(
                ">IIBBBBB", data, 0
            )
            if width <= 0 or height <= 0:
                raise ValueError(f"corrupt PNG header: dimensions {width}x{height}")
            if depth != 8 or color not in (0, 2, 6) or interlace:
                raise ValueError(
                    "PNG pixel decode supports 8-bit gray/RGB/RGBA, "
                    "non-interlaced only"
                )
            ch = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("corrupt PNG: missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (1 + width * ch):
        raise ValueError("corrupt PNG: inflated size does not match geometry")
    px = _png_unfilter(raw, width, height, ch)
    out = bytearray(width * height)
    if ch == 1:
        out[:] = px
    else:
        for i in range(width * height):
            r, g, b = px[ch * i], px[ch * i + 1], px[ch * i + 2]
            out[i] = _luma(r, g, b)  # alpha (ch=4) ignored for luma
    return width, height, bytes(out)


def decode_gray(payload: bytes) -> tuple[int, int, bytes]:
    """First frame of a recognized payload → (width, height, luma bytes,
    top-down row-major). The pixel-level twin of ``decode_geometry`` —
    feeds ``kernel/phash.py``. GIF raises (pixels sit behind LZW, which
    these dependency-free parsers deliberately do not implement); callers
    route GIF/undecodable rows around perceptual hashing explicitly."""
    import zlib

    try:
        if payload[:2] == b"BM":
            return _bmp_gray(payload)
        if payload[:2] in (b"P6", b"P5"):
            return _ppm_gray(payload)
        if payload[:8] == _PNG_SIG:
            return _png_gray(payload)
        if payload[:3] == b"\xff\xd8\xff":
            from .jpegcodec import decode_jpeg_gray

            return decode_jpeg_gray(payload)
        if payload[:3] == b"GIF":
            raise ValueError("GIF pixel decode not supported (LZW)")
    except (struct.error, IndexError, zlib.error) as e:
        raise ValueError(f"corrupt {payload[:2]!r} payload: {e}") from e
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------


def decode_geometry(payload: bytes) -> tuple[int, int, int]:
    """Sniff magic bytes → (width, height, n_frames). Raises ValueError
    both on formats these parsers don't cover (the caller may then try
    PIL) and on TRUNCATED/CORRUPT payloads of a recognized format — the
    parsers' internal struct/index errors must not escape as anything but
    ValueError, or the lenient fake-fallback path would crash instead of
    falling back (pinned by tests)."""
    import zlib

    try:
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:2] in (b"P6", b"P5"):
            return decode_ppm(payload)
        if payload[:3] == b"GIF":
            return decode_gif(payload)
        if payload[:8] == _PNG_SIG:
            return decode_png(payload)
        if payload[:3] == b"\xff\xd8\xff":
            from .jpegcodec import decode_jpeg

            return decode_jpeg(payload)
    except (struct.error, IndexError, zlib.error) as e:
        raise ValueError(f"corrupt {payload[:2]!r} payload: {e}") from e
    raise ValueError(f"unrecognized image magic {payload[:4]!r}")
