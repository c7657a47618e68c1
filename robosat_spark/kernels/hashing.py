"""Text hashing kernels for web-scale dedup: shingles, MinHash, SimHash,
rolling fingerprints. Vectorized NumPy; no Spark imports.

These extend the reference's pipeline with the dedup/similarity operators a
training-data pipeline needs (task brief); the reference's own dedupe is
geometric IoU (/root/reference/robosat/tools/dedupe.py) — implemented in
``kernels.geometry.exact_iou`` and ``raster_iou_multi`` — while these
cover the text side.
"""

from __future__ import annotations

import hashlib

import numpy as np

_MERSENNE = (1 << 61) - 1


def char_shingles(text: str, k: int = 5) -> np.ndarray:
    """Distinct k-char shingle hashes of a string -> uint64 array."""
    if len(text) < k:
        data = [text] if text else []
    else:
        data = [text[i : i + k] for i in range(len(text) - k + 1)]
    if not data:
        return np.zeros(0, dtype=np.uint64)
    hs = {int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") for s in data}
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def word_shingles(text: str, k: int = 3) -> np.ndarray:
    """Distinct k-word shingle hashes -> uint64 array."""
    words = text.split()
    if len(words) < k:
        grams = [" ".join(words)] if words else []
    else:
        grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    hs = {int.from_bytes(hashlib.md5(g.encode("utf-8")).digest()[:8], "big") for g in grams}
    if not hs:
        return np.zeros(0, dtype=np.uint64)
    return np.fromiter(hs, dtype=np.uint64, count=len(hs))


def minhash_params(num_perm: int = 64, seed: int = 42):
    """Deterministic (a, b) universal-hash coefficients for MinHash."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature: min over shingles of (a*x + b) mod 2^61-1.

    Vectorized (num_perm, n_shingles) in uint64 with object-free modmul via
    Python ints avoided — uses float-free exact mod by splitting."""
    if shingle_hashes.size == 0:
        return np.full(a.shape[0], _MERSENNE, dtype=np.uint64)
    x = shingle_hashes.astype(np.uint64) & np.uint64(_MERSENNE)
    # (a*x + b) mod M with M = 2^61-1 using 128-bit emulation:
    # split a*x = hi*2^64 + lo is overkill; use Python object dtype fallback
    # only when needed. Here a, x < 2^61 so a*x < 2^122: do it in two limbs.
    prod_lo = (a[:, None] * x[None, :])  # wraps mod 2^64
    a_hi = a >> np.uint64(32)
    a_lo = a & np.uint64(0xFFFFFFFF)
    x_hi = x >> np.uint64(32)
    x_lo = x & np.uint64(0xFFFFFFFF)
    # full 128-bit product limbs
    ll = a_lo[:, None] * x_lo[None, :]
    lh = a_lo[:, None] * x_hi[None, :]
    hl = a_hi[:, None] * x_lo[None, :]
    hh = a_hi[:, None] * x_hi[None, :]
    mid = (ll >> np.uint64(32)) + (lh & np.uint64(0xFFFFFFFF)) + (hl & np.uint64(0xFFFFFFFF))
    lo = (ll & np.uint64(0xFFFFFFFF)) | ((mid & np.uint64(0xFFFFFFFF)) << np.uint64(32))
    hi = hh + (lh >> np.uint64(32)) + (hl >> np.uint64(32)) + (mid >> np.uint64(32))
    # x mod (2^61-1): fold hi:lo = hi*2^64 + lo; 2^64 ≡ 8 (mod 2^61-1)
    m = np.uint64(_MERSENNE)
    folded = (lo & m) + (lo >> np.uint64(61)) + ((hi << np.uint64(3)) & m) + (hi >> np.uint64(58))
    folded = (folded & m) + (folded >> np.uint64(61))
    folded = (folded & m) + (folded >> np.uint64(61))
    val = (folded + b[:, None]) % m
    del prod_lo
    return val.min(axis=1).astype(np.uint64)


def minhash_bands(sig: np.ndarray, bands: int = 16) -> list:
    """LSH banding: hash each band of the signature -> list of band keys."""
    rows = sig.shape[0] // bands
    keys = []
    for bidx in range(bands):
        chunk = sig[bidx * rows : (bidx + 1) * rows]
        digest = hashlib.md5(chunk.tobytes() + bytes([bidx])).digest()[:8]
        keys.append(int.from_bytes(digest, "big") >> 1)  # fit int64
    return keys


def simhash64(text: str, k: int = 4) -> int:
    """64-bit SimHash over k-char shingles (sign of per-bit weight sums)."""
    hs = char_shingles(text, k)
    if hs.size == 0:
        return 0
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    weights = (2 * bits - 1).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if weights[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out.astype(np.int64))  # reinterpret as signed for Spark LongType


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two shingle-hash sets."""
    if a.size == 0 and b.size == 0:
        return 1.0
    if a.size == 0 or b.size == 0:
        return 0.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    return inter / float(a.size + b.size - inter)


def rolling_fingerprint(text: str, window: int = 64, mod: int = (1 << 61) - 1, base: int = 257) -> int:
    """Winnowing-style document fingerprint: min rolling polynomial hash
    over all ``window``-codepoint windows (deterministic content
    fingerprint). Defined over UNICODE CODE POINTS (not UTF-8 bytes) so a
    SQL engine can replay it exactly with per-character ``ord`` — the
    DuckDB twin in ``__spark_entry__.oracle_sql()['doc_fingerprint_rolling']``
    evaluates the identical polynomial with list lambdas."""
    cps = [ord(c) for c in text]
    n = len(cps)
    if n == 0:
        return 0
    if n <= window:
        h = 0
        for cp in cps:
            h = (h * base + cp) % mod
        return h
    powers = pow(base, window - 1, mod)
    h = 0
    for cp in cps[:window]:
        h = (h * base + cp) % mod
    best = h
    for i in range(window, n):
        h = ((h - cps[i - window] * powers) * base + cps[i]) % mod
        if h < best:
            best = h
    return best
