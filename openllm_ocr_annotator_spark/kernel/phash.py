"""Perceptual image hashing (difference hash) — pure Python, integer-only.

dHash (public algorithm: Krawetz, "Kind of Like That", hackerfactor 2013;
widely re-implemented, e.g. the imagehash package): sample the luma image
on a 9x8 grid, emit one bit per horizontally-adjacent cell pair
("right cell brighter than left"), giving a 64-bit fingerprint that is
stable under re-encoding, container changes, and mild resizing — exactly
the duplicates byte-level hashing cannot see. The reference annotator
re-encodes every image to base64 JPEG/PNG before shipping it to the LLM
(reference: annotators/base.py:77-163), so a corpus built from its output
is FULL of pixel-identical files with different bytes; perceptual dedup is
the media-side twin of text MinHash.

Everything here is integer arithmetic (nearest-neighbour cell-centre
sampling, strict > comparison) so the Spark kernel and the pure-Python
golden replay (scripts/make_goldens.py) are bit-identical by construction
— no float resampling, no libm.
"""

from __future__ import annotations

GRID_COLS = 9  # 9 columns -> 8 horizontal differences per row
GRID_ROWS = 8


def dhash64(width: int, height: int, gray: bytes) -> int:
    """64-bit difference hash of a top-down row-major luma image.

    Cell (i, j) samples the pixel at the cell centre of an even
    GRID_ROWS x GRID_COLS partition: row = ((2i+1)·h)//(2·GRID_ROWS),
    col = ((2j+1)·w)//(2·GRID_COLS) — pure integer nearest-neighbour, so
    tiny images (w < 9) simply repeat columns. Bit (i·8+j), counted from
    the most significant bit, is 1 iff cell (i, j+1) is strictly brighter
    than cell (i, j). Returns an UNSIGNED 64-bit int (see ``to_signed64``
    for the Spark LongType representation)."""
    if width <= 0 or height <= 0 or len(gray) < width * height:
        raise ValueError("dhash64 needs a non-empty w*h luma buffer")
    cells = [
        [
            gray[(((2 * i + 1) * height) // (2 * GRID_ROWS)) * width
                 + ((2 * j + 1) * width) // (2 * GRID_COLS)]
            for j in range(GRID_COLS)
        ]
        for i in range(GRID_ROWS)
    ]
    h = 0
    for i in range(GRID_ROWS):
        for j in range(GRID_COLS - 1):
            h = (h << 1) | (1 if cells[i][j + 1] > cells[i][j] else 0)
    return h


def to_signed64(h: int) -> int:
    """Unsigned 64-bit hash -> two's-complement signed (Spark LongType)."""
    return h - (1 << 64) if h >= (1 << 63) else h


def to_unsigned64(h: int) -> int:
    """Spark LongType (signed) -> unsigned 64-bit hash."""
    return h + (1 << 64) if h < 0 else h


def bands16(h: int) -> list[int]:
    """Split an unsigned 64-bit hash into four 16-bit bands (MSB first).

    Pigeonhole guarantee: two hashes within Hamming distance d share at
    least one identical band whenever d < 4, so a 4-band bucket join has
    PERFECT recall for d <= 3 — the same banding argument as SimHash
    chunking in kernel/dedup.py, and the reason the exhaustive golden
    replay and the bucketed Spark plan agree exactly."""
    return [(h >> s) & 0xFFFF for s in (48, 32, 16, 0)]
