"""Vectorized hash kernels shared by all sketches.

Every per-row hash in the library is computed on ``sha256(content)``
digests (the per-row invariant from BASELINE.json `input_hint`): Spark
computes ``unhex(sha2(col, 256))`` JVM-side, truncated to the first
``DIGEST_W`` (16) bytes, the Arrow boundary hands the digests to numpy,
and everything below is batch matrix math — no per-row Python.

``DIGEST_W = 16``: the JVM→Python Arrow traffic and the FNV loop are both
linear in digest width, and on a memory-bandwidth-bound host halving the
bytes/row is the single biggest kernel-path lever (BENCH/BASELINE.md).
128 truncated sha256 bits remain collision-resistant (birthday bound
~2^64 keys before any collision is expected — far beyond 100 TB row
counts), so estimates and exact-confirm semantics are unchanged.

Kernels:

- ``fnv1a64``: canonical FNV-1a 64-bit over fixed-width byte matrices.
  The reference has two FNV variants: the C one hashes payload bytes only
  (/root/reference/src/fnv/fnv.c:3-10, authoritative) while the Python one
  accidentally hashes interpreter object-header bytes
  (/root/reference/prototype/fnv.py:12-23) — we implement the canonical
  semantics and golden-test against published FNV-1a vectors.

- ``km_indices``: Kirsch–Mitzenmacher double hashing — derive k probe
  indices from one 64-bit hash as ``(h1 + i*h2) mod m``
  (law per /root/reference/prototype/bloomfilter.py:79-86 and
  /root/reference/src/bloom/bloom.c:41-47; our split/odd-forcing details
  are our own).

- ``spark_xxhash64``: Spark's ``xxhash64`` over int/long arguments, so a
  kernel computes the same 64-bit key a JVM expression would (the CIDR
  LPM probe, operators/cidr.py).
"""

from __future__ import annotations

import hashlib

import numpy as np

FNV_OFFSET = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x100000001B3)

_U64_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)
_LOW32 = np.uint64(0xFFFFFFFF)

# Library-wide key-digest width: sha256 truncated to its first 16 bytes.
# Kernel traffic (Arrow transfer, FNV loop, FIB rows) is linear in this.
DIGEST_W = 16


def digests_to_matrix(digests, width: int | None = None) -> np.ndarray:
    """(n,) sequence of fixed-width ``bytes`` -> (n, width) uint8 matrix.

    ``width=None`` infers the width from the data (all keys must share
    it). The ``b"".join`` runs at C speed; no per-row Python logic.
    """
    if hasattr(digests, "to_list"):
        digests = digests.to_list()
    if len(digests) == 0:
        return np.empty((0, width if width else DIGEST_W), dtype=np.uint8)
    buf = b"".join(digests)
    if width is None:
        width, rem = divmod(len(buf), len(digests))
        if rem:
            raise ValueError("keys are not fixed-width")
    if len(buf) != width * len(digests):
        raise ValueError(f"expected fixed-width {width}-byte keys")
    return np.frombuffer(buf, dtype=np.uint8).reshape(-1, width)


def fnv1a64(byte_matrix: np.ndarray) -> np.ndarray:
    """Canonical FNV-1a 64-bit, vectorized across rows.

    byte_matrix: (n, w) uint8. Returns (n,) uint64. The loop is over the
    fixed key width w (DIGEST_W for truncated sha256), each iteration a
    full-batch numpy op.
    """
    n, w = byte_matrix.shape
    with np.errstate(over="ignore"):
        h = np.full(n, FNV_OFFSET, dtype=np.uint64)
        for j in range(w):
            h ^= byte_matrix[:, j].astype(np.uint64)
            h *= FNV_PRIME
    return h


def fnv1a64_scalar(data: bytes) -> int:
    """Scalar reference implementation (tests / driver-side single keys)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def split_hash(h64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """h64 -> (h1, h2) for double hashing; h2 forced odd so the probe
    sequence cycles through all residues for power-of-two-free m too."""
    h1 = h64 & _LOW32
    h2 = (h64 >> np.uint64(32)) | np.uint64(1)
    return h1, h2


def km_indices(h64: np.ndarray, hash_ixs: np.ndarray, m: int) -> np.ndarray:
    """Probe-index matrix: (n, len(hash_ixs)) uint64 in [0, m).

    ix[r, j] = (h1[r] + hash_ixs[j] * h2[r]) mod m
    """
    h1, h2 = split_hash(h64)
    ixs = np.asarray(hash_ixs, dtype=np.uint64)
    with np.errstate(over="ignore"):
        mat = h1[:, None] + ixs[None, :] * h2[:, None]
    return mat % np.uint64(m)


def rehash(h64: np.ndarray, salt: int) -> np.ndarray:
    """Derive an independent 64-bit hash family member from a base hash.

    Used by CMS rows / MinHash permutations: one multiply-xorshift mix per
    salt (splitmix64-style finalizer, public domain construction).
    """
    with np.errstate(over="ignore"):
        z = h64 + np.uint64((salt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_XXH_SEED = 42  # Spark's ``xxhash64`` seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh_fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _XXH_P2
    h = (h ^ (h >> np.uint64(29))) * _XXH_P3
    return h ^ (h >> np.uint64(32))


def spark_xxhash64(ints, longs=()) -> np.ndarray:
    """Bit-exact numpy copy of Spark's ``xxhash64(int i, long w0, long
    w1, ...)`` (``XXH64.hashInt`` on ``i``, then ``XXH64.hashLong`` per
    word, each chaining the previous hash as its seed). All arguments
    broadcast; returns uint64 (view as int64 for Spark's signed long)."""
    with np.errstate(over="ignore"):
        i32 = np.asarray(ints).astype(np.int64).astype(np.uint64) & _LOW32
        h = np.uint64(SPARK_XXH_SEED) + _XXH_P5 + np.uint64(4)
        h = _rotl(h ^ (i32 * _XXH_P1), 23) * _XXH_P2 + _XXH_P3
        h = _xxh_fmix(h)
        for w in longs:
            w = np.asarray(w).astype(np.uint64, copy=False)
            h = h + _XXH_P5 + np.uint64(8)
            h = h ^ (_rotl(w * _XXH_P2, 31) * _XXH_P1)
            h = _xxh_fmix(_rotl(h, 27) * _XXH_P1 + _XXH_P4)
    return h


def sha256_bytes(data: bytes) -> bytes:
    return hashlib.sha256(data).digest()


def key_digest(data: bytes | str) -> bytes:
    """The library's per-row key digest: sha256 truncated to DIGEST_W
    bytes — the Python replica of the JVM-side
    ``substring(unhex(sha2(col, 256)), 1, DIGEST_W)``."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    return hashlib.sha256(data).digest()[:DIGEST_W]


def series_sha256(texts) -> np.ndarray:
    """pd.Series[str] -> (n, DIGEST_W) uint8 key-digest matrix (test
    utility; production path computes sha2 JVM-side in Spark)."""
    return digests_to_matrix([key_digest(t) for t in texts], width=DIGEST_W)
