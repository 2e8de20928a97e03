"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy driven by one ``numpy.random.Generator``, so
the same seed always yields the same tables. The library never sees the
seed: it receives only the DataFrames built from these arrays.
"""

from __future__ import annotations

import numpy as np

# BGP-like IPv4 prefix-length mix: /24 dominates, /22-/23 next, a thin
# tail of short aggregates and of host-level routes longer than /24.
V4_LENGTHS = {8: 0.2, 12: 0.3, 14: 0.4, 16: 2.0, 17: 0.8, 18: 1.2, 19: 2.5, 20: 4.0, 21: 4.0,
              22: 11.0, 23: 10.0, 24: 60.0, 25: 0.6, 26: 0.6, 27: 0.5, 28: 0.5, 29: 0.4,
              30: 0.4, 32: 0.7}
# IPv6 mix: /48 and /32 dominate; /19, /29, /33, /46, /47 and /50 end
# inside a nibble, which is the partial-nibble case of the hex domain.
V6_LENGTHS = {19: 0.3, 24: 0.6, 28: 2.0, 29: 4.0, 32: 12.0, 33: 2.0, 36: 4.0, 40: 6.0,
              44: 8.0, 46: 3.0, 47: 2.0, 48: 45.0, 50: 1.0, 52: 1.5, 56: 3.0, 64: 3.0}

_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _lengths(rng: np.random.Generator, mix: dict[int, float], n: int) -> np.ndarray:
    lens = np.array(sorted(mix), dtype=np.int64)
    w = np.array([mix[l] for l in lens], dtype=np.float64)
    return rng.choice(lens, size=n, p=w / w.sum())


def _mask_v4(addr: np.ndarray, plen: np.ndarray) -> np.ndarray:
    host = (np.int64(1) << (32 - plen)) - 1
    return addr & ~host


def _fill_v4(prefix: np.ndarray, plen: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    host = (np.int64(1) << (32 - plen)) - 1
    return prefix | (rng.integers(0, 1 << 32, size=len(prefix), dtype=np.int64) & host)


def v4_routes(rng: np.random.Generator, n: int, n_blocks: int = 96) -> tuple[list[str], np.ndarray, np.ndarray]:
    """``n`` distinct-ish IPv4 routes nested inside ``n_blocks`` allocated
    /12 blocks, so short routes cover longer ones. Returns the CIDR strings
    plus the masked prefix and length arrays."""
    blocks = rng.integers(16, 224, size=n_blocks, dtype=np.int64) << 24 | (
        rng.integers(0, 16, size=n_blocks, dtype=np.int64) << 20
    )
    base = blocks[rng.integers(0, n_blocks, size=n)] | rng.integers(0, 1 << 20, size=n, dtype=np.int64)
    plen = _lengths(rng, V4_LENGTHS, n)
    prefix = _mask_v4(base, plen)
    keys = np.unique(np.stack([prefix, plen], axis=1), axis=0)
    prefix, plen = keys[:, 0], keys[:, 1]
    octets = [(prefix >> s) & 255 for s in (24, 16, 8, 0)]
    cidrs = [f"{a}.{b}.{c}.{d}/{l}" for a, b, c, d, l in zip(*octets, plen)]
    return cidrs, prefix, plen


def v4_addresses(rng: np.random.Generator, prefix: np.ndarray, plen: np.ndarray, n: int,
                 hit_frac: float = 0.7) -> np.ndarray:
    """``hit_frac`` of the addresses fall inside a random route (so some hit
    deep routes); the rest are uniform over the unicast space and mostly
    fall to the default route."""
    pick = rng.integers(0, len(prefix), size=n)
    inside = _fill_v4(prefix[pick], plen[pick], rng)
    anywhere = rng.integers(1 << 24, 224 << 24, size=n, dtype=np.int64)
    return np.where(rng.random(n) < hit_frac, inside, anywhere)


def _to_hex32(hi: np.ndarray, lo: np.ndarray) -> list[str]:
    """Two uint64 halves -> canonical 32-char lowercase hex strings."""
    words = np.stack([hi, lo], axis=1).astype(">u8").view(np.uint8).reshape(-1, 16)
    nib = np.empty((len(words), 32), dtype=np.uint8)
    nib[:, 0::2] = words >> 4
    nib[:, 1::2] = words & 15
    return _HEX[nib].view("S32").ravel().astype(str).tolist()


def _mask_v6(hi: np.ndarray, lo: np.ndarray, plen: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    hi_bits = np.minimum(plen, 64).astype(np.uint64)
    lo_bits = np.maximum(plen - 64, 0).astype(np.uint64)
    full = np.uint64(0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        hi_keep = np.where(hi_bits == 0, np.uint64(0), full << (np.uint64(64) - hi_bits))
        lo_keep = np.where(lo_bits == 0, np.uint64(0), full << (np.uint64(64) - lo_bits))
    return hi & hi_keep, lo & lo_keep


def v6_routes(rng: np.random.Generator, n: int, n_blocks: int = 64) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """``n`` IPv6 routes nested inside ``n_blocks`` allocated /20 blocks of
    2000::/3. Returns masked 32-char hex prefixes, their halves and lengths."""
    top = np.uint64(0x2000) << np.uint64(48)
    blocks = top | (rng.integers(0, 1 << 17, size=n_blocks, dtype=np.uint64) << np.uint64(44))
    hi = blocks[rng.integers(0, n_blocks, size=n)] | rng.integers(0, 1 << 44, size=n, dtype=np.uint64)
    lo = rng.integers(0, 1 << 63, size=n, dtype=np.uint64)
    plen = _lengths(rng, V6_LENGTHS, n)
    hi, lo = _mask_v6(hi, lo, plen)
    keys = np.unique(np.stack([hi, lo, plen.astype(np.uint64)], axis=1), axis=0)
    hi, lo, plen = keys[:, 0], keys[:, 1], keys[:, 2].astype(np.int64)
    return _to_hex32(hi, lo), hi, lo, plen


def v6_addresses(rng: np.random.Generator, hi: np.ndarray, lo: np.ndarray, plen: np.ndarray, n: int,
                 hit_frac: float = 0.7) -> tuple[list[str], np.ndarray]:
    """Same mix as ``v4_addresses``: inside a random route, or anywhere in
    2000::/3. Returns the 32-char hex addresses and their upper halves."""
    pick = rng.integers(0, len(hi), size=n)
    rhi = rng.integers(0, 1 << 63, size=n, dtype=np.uint64) << np.uint64(1)
    rlo = rng.integers(0, 1 << 63, size=n, dtype=np.uint64)
    mhi, mlo = _mask_v6(np.full(n, 0xFFFFFFFFFFFFFFFF, dtype=np.uint64),
                        np.full(n, 0xFFFFFFFFFFFFFFFF, dtype=np.uint64), plen[pick])
    ihi = hi[pick] | (rhi & ~mhi)
    ilo = lo[pick] | (rlo & ~mlo)
    ahi = (np.uint64(0x2000) << np.uint64(48)) | (rhi >> np.uint64(3))
    inside = rng.random(n) < hit_frac
    out_hi = np.where(inside, ihi, ahi)
    return _to_hex32(out_hi, np.where(inside, ilo, rlo)), out_hi


def lpm_depths(prefix: np.ndarray, plen: np.ndarray, addrs: np.ndarray, width: int) -> np.ndarray:
    """Exact longest-prefix-match depth of every address (0 = no route),
    by brute force over the distinct route lengths. ``addrs`` and
    ``prefix`` are the top ``width`` bits of the key (32 for IPv4, the
    upper 64 for IPv6, whose route lengths here never exceed 64)."""
    addrs = addrs.astype(np.uint64)
    prefix = prefix.astype(np.uint64)
    best = np.zeros(len(addrs), dtype=np.int64)
    full = np.uint64((1 << width) - 1)
    for length in np.unique(plen):
        keep = full ^ np.uint64((1 << (width - int(length))) - 1)
        hit = np.isin(addrs & keep, prefix[plen == length])
        best[hit] = length
    return best


def near_dup_docs(rng: np.random.Generator, n_docs: int, dup_frac: float = 0.2, vocab: int = 20_000,
                  min_tokens: int = 30, max_tokens: int = 60) -> list[str]:
    """Whitespace-token documents over a large vocabulary (so unrelated
    documents share almost no 3-gram shingles), where ``dup_frac`` of them
    are copies of an earlier document with 0-3 tokens replaced. The edit
    count spreads planted pairs' Jaccard around the 0.7 threshold."""
    docs: list[np.ndarray] = []
    lens = rng.integers(min_tokens, max_tokens + 1, size=n_docs)
    is_dup = rng.random(n_docs) < dup_frac
    for i in range(n_docs):
        if is_dup[i] and i > 0:
            toks = docs[int(rng.integers(0, i))].copy()
            edits = int(rng.integers(0, 4))
            toks[rng.integers(0, len(toks), size=edits)] = rng.integers(0, vocab, size=edits)
        else:
            toks = rng.integers(0, vocab, size=int(lens[i]))
        docs.append(toks)
    return [" ".join(f"w{t}" for t in d.tolist()) for d in docs]
