"""Bloom-filter primitives for distributed exact dedup prefiltering.

Pure numpy — no Spark imports — so the operator layer can call these inside
Arrow-batched UDFs and tests can replay them sequentially (the same
kernel-vs-cluster twin contract as ``kernel/bpe.py`` / ``kernel/lm.py``).

Division of labor: bit POSITIONS are computed Spark-side
(``pmod(xxhash64(text, i), m_bits)`` for probe index i in 0..k-1) so the
build and membership paths share IDENTICAL JVM hashing and nothing here
needs to replicate xxhash64. The distributed build is a JVM bitmap
aggregate whose chunks use this module's bit order. This module sizes,
packs and probes bitmaps:

- ``suggest_params(n, fpp)``  — standard (m, k) sizing formulas
- ``empty_bitmap(m_bits)``    — packed uint8 bitmap, little-endian bits
- ``set_bits(bitmap, pos)``   — vectorized sequential build (duplicate-safe)
- ``probe_rows(bitmap, mat)`` — per-row all-k-bits-set membership test

The Bloom property the exact-dedup operator relies on: NO false negatives
— a row whose k bits are not all set is provably absent from the build
side; false positives are tolerated because the operator re-verifies
candidates with an exact join (`operators/dedup.bloom_incremental_dedup`).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "suggest_params",
    "empty_bitmap",
    "set_bits",
    "probe_rows",
]


def suggest_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (m_bits, k) for ``n_items`` at target false-positive rate.

    m = -n·ln(p)/ln(2)^2, k = (m/n)·ln(2) — the textbook sizing. m is
    rounded up to a multiple of 8 (whole packed bytes); k clamped to ≥1.
    """
    if n_items <= 0:
        raise ValueError(f"n_items must be positive, got {n_items}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = -n_items * math.log(fpp) / (math.log(2) ** 2)
    m_bits = int(math.ceil(m / 8.0)) * 8
    k = max(1, round((m_bits / n_items) * math.log(2)))
    return m_bits, int(k)


def empty_bitmap(m_bits: int) -> np.ndarray:
    """Zeroed packed bitmap of ``m_bits`` bits (uint8, bit i lives at
    byte i>>3, mask 1<<(i&7))."""
    if m_bits <= 0 or m_bits % 8:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    return np.zeros(m_bits // 8, dtype=np.uint8)


def set_bits(bitmap: np.ndarray, positions: np.ndarray) -> None:
    """Set every bit in ``positions`` (int64 in [0, m_bits)) in place.

    ``np.bitwise_or.at`` is an unbuffered scatter, so duplicate byte
    indexes in one call all land (a plain fancy-index |= would drop all
    but one duplicate — the classic numpy scatter bug).
    """
    if positions.size == 0:
        return
    pos = positions.astype(np.int64, copy=False)
    if pos.min() < 0 or pos.max() >= bitmap.size * 8:
        raise ValueError("bit position out of range")
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def probe_rows(bitmap: np.ndarray, positions_mat: np.ndarray) -> np.ndarray:
    """Membership test for ``positions_mat`` of shape (rows, k): True where
    ALL k bits are set (possibly-present); False rows are PROVABLY absent
    from the build set (no false negatives)."""
    if positions_mat.size == 0:
        return np.zeros(positions_mat.shape[0], dtype=bool)
    pos = positions_mat.astype(np.int64, copy=False)
    hit = (bitmap[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=1)
