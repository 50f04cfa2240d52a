"""Numpy kernels for near-duplicate detection: MinHash + SimHash.

Pure functions shared between the Spark operators (called per Arrow batch
from a column UDF over the text) and the pytest oracles. No
third-party hash libs: a splitmix64-style avalanche over a polynomial
rolling hash gives deterministic, well-mixed 64-bit shingle hashes
identically on every platform.
"""

from __future__ import annotations

import zlib

import numpy as np

MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_POLY_P = np.uint64(1099511628211)  # FNV-ish multiplier


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK64
    return x ^ (x >> np.uint64(31))


def hash_token(token: str) -> np.uint64:
    """Deterministic 64-bit string hash.

    Two salted CRC32 passes (C-speed, stable across platforms/processes —
    unlike Python's hash()) packed to 64 bits, then a splitmix finalizer
    for avalanche. The finalizer runs in plain Python ints (masked 64-bit
    arithmetic — bit-identical to the numpy ``_splitmix64``, pinned by
    test_dedup_kernel's scalar≡batch check) because a one-element numpy
    round-trip plus its errstate guard costs ~35µs/call — profiled at 94%
    of the DSIR weighting pass before the swap.
    """
    b = token.encode("utf-8")
    h = zlib.crc32(b) | (zlib.crc32(b, 0x9E3779B9) << 32)
    m = 0xFFFFFFFFFFFFFFFF
    h = (h + 0x9E3779B97F4A7C15) & m
    h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & m
    h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & m
    return np.uint64(h ^ (h >> 31))


def hash_tokens(tokens: list[str]) -> np.ndarray:
    """Vectorized batch variant of ``hash_token``."""
    packed = np.fromiter(
        (
            zlib.crc32(b) | (zlib.crc32(b, 0x9E3779B9) << 32)
            for b in (t.encode("utf-8") for t in tokens)
        ),
        dtype=np.uint64,
        count=len(tokens),
    )
    with np.errstate(over="ignore"):
        return _splitmix64(packed)


def shingle_hashes(text: str, n: int = 3) -> np.ndarray:
    """Distinct n-gram (word-shingle) hashes; combines token hashes with a
    positional polynomial so 'a b'+'c' != 'a'+'b c'."""
    tokens = text.lower().split()
    if len(tokens) < n:
        tokens = tokens + [""] * (n - len(tokens))  # short docs: pad to one shingle
    th = hash_tokens(tokens)
    with np.errstate(over="ignore"):
        acc = th[: len(th) - n + 1].copy()
        for k in range(1, n):
            acc = (acc * _POLY_P + th[k : len(th) - n + 1 + k]) & MASK64
        return np.unique(_splitmix64(acc))


def shingle_hashes_batch(texts: list[str], n: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """Batch twin of ``shingle_hashes``: one token-hash pass over ALL docs.

    Returns (concatenated per-doc distinct shingle hashes, per-doc counts).
    The polynomial windows are computed over the flat token-hash array;
    windows that would cross a document boundary are simply never selected
    (each doc contributes positions start..start+len-n only). Per-doc
    results are bit-identical to ``shingle_hashes``.
    """
    padded: list[list[str]] = []
    for t in texts:
        tk = t.lower().split()
        if len(tk) < n:
            tk = tk + [""] * (n - len(tk))
        padded.append(tk)
    lens = np.fromiter((len(p) for p in padded), dtype=np.int64, count=len(padded))
    flat = [w for p in padded for w in p]
    if not flat:
        return np.empty(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    th = hash_tokens(flat)
    with np.errstate(over="ignore"):
        m = th.size - n + 1
        acc = th[:m].copy()
        for k in range(1, n):
            acc = (acc * _POLY_P + th[k : m + k]) & MASK64
        mixed = _splitmix64(acc)
    starts = np.zeros(lens.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    uniq_parts: list[np.ndarray] = []
    counts = np.empty(lens.size, dtype=np.int64)
    for i in range(lens.size):
        u = np.unique(mixed[starts[i] : starts[i] + lens[i] - n + 1])
        uniq_parts.append(u)
        counts[i] = u.size
    return np.concatenate(uniq_parts), counts


# --- MinHash -----------------------------------------------------------------

_MERSENNE = np.uint64((1 << 61) - 1)


def perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=num_perm).astype(np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=num_perm).astype(np.uint64)
    return a, b


def minhash_signature(shingles: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(num_perm,) signature: min over shingles of (a*h + b) mod 2^61-1."""
    if shingles.size == 0:
        return np.full(a.shape, np.iinfo(np.uint64).max, dtype=np.uint64)
    with np.errstate(over="ignore"):
        # (num_perm, n_shingles): wrap-around multiply is fine — it is a
        # fixed deterministic mixing, applied identically everywhere.
        prod = (a[:, None] * shingles[None, :] + b[:, None]) & MASK64
        prod %= _MERSENNE
        return prod.min(axis=1)


def minhash_signatures_batch(
    allsh: np.ndarray, counts: np.ndarray, a: np.ndarray, b: np.ndarray,
    slab: int = 1 << 16,
) -> np.ndarray:
    """(n_docs, num_perm) signatures for a whole batch, slab-bounded memory.

    The shingle axis is processed in fixed-size slabs: per slab, one
    (num_perm × slab) product matrix + ``np.minimum.reduceat`` over the doc
    segments intersecting it, folded into the running per-doc minima. Peak
    transient is num_perm × slab (e.g. 64 × 65536 × 8 B = 32 MB) regardless
    of batch row count or mega-doc shingle counts — a session that doesn't
    set arrow.maxRecordsPerBatch (default 10k rows) can no longer drive a
    multi-GB allocation. Per-doc results are bit-identical to the unsliced
    pass (min over slab partials == global min). Every doc has ≥1 shingle
    by construction (``shingle_hashes`` pads short docs), so segments are
    never empty.
    """
    if counts.size == 0:
        return np.empty((0, a.size), dtype=np.uint64)
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    ends = starts + counts
    out = np.full((counts.size, a.size), np.iinfo(np.uint64).max, dtype=np.uint64)
    total = int(allsh.size)
    for lo in range(0, total, slab):
        hi = min(lo + slab, total)
        with np.errstate(over="ignore"):
            prod = (a[:, None] * allsh[None, lo:hi] + b[:, None]) & MASK64
            prod %= _MERSENNE
        # docs overlapping [lo, hi): contiguous, each contributes ≥1 element
        d0 = int(np.searchsorted(ends, lo, side="right"))
        d1 = int(np.searchsorted(starts, hi, side="left"))
        seg_starts = np.maximum(starts[d0:d1], lo) - lo
        mins = np.minimum.reduceat(prod, seg_starts, axis=1).T
        np.minimum(out[d0:d1], mins, out=out[d0:d1])
    return out


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(sig_a == sig_b))


def exact_jaccard(text_a: str, text_b: str) -> float:
    sa, sb = set(shingle_hashes(text_a, 3)), set(shingle_hashes(text_b, 3))
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


# --- SimHash -----------------------------------------------------------------


def simhash64(text: str) -> np.uint64:
    """64-bit SimHash over word tokens (unweighted)."""
    tokens = text.lower().split()
    if not tokens:
        return np.uint64(0)
    th = hash_tokens(tokens)
    bits = ((th[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    counts = (2 * bits - 1).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if counts[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return out


def simhash64_batch(texts: list[str]) -> np.ndarray:
    """(n_docs,) uint64 SimHashes — batch twin of ``simhash64``.

    One token-hash pass over all docs, bit contributions summed per doc via
    ``np.add.reduceat``; bit-identical to the per-doc function (empty docs
    hash to 0, matching the reference of ``simhash64``).
    """
    toks = [t.lower().split() for t in texts]
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    out = np.zeros(len(toks), dtype=np.uint64)
    nonzero = np.flatnonzero(lens)
    if nonzero.size == 0:
        return out
    flat = [w for tk in toks for w in tk]
    th = hash_tokens(flat)
    bits = ((th[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    contrib = 2 * bits - 1  # (total_tokens, 64)
    # reduceat only over non-empty docs (empty segments misbehave)
    nz_lens = lens[nonzero]
    starts = np.zeros(nz_lens.size, dtype=np.int64)
    np.cumsum(nz_lens[:-1], out=starts[1:])
    sums = np.add.reduceat(contrib, starts, axis=0)  # (n_nonzero, 64)
    mask = (sums > 0).astype(np.uint64)
    packed = (mask << np.arange(64, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nonzero] = packed
    return out


def hamming64(a: int, b: int) -> int:
    """Hamming distance between two unsigned 64-bit hashes (SimHash, dHash)."""
    return bin(int(a) ^ int(b)).count("1")
