"""Hash-kernel tests: canonical FNV-1a vectors + vectorized == scalar,
and the numpy copy of Spark's xxhash64 against Spark itself."""

import numpy as np
from pyspark.sql import functions as F

from ip_filter_spark.sketches.hashing import (
    digests_to_matrix,
    fnv1a64,
    fnv1a64_scalar,
    km_indices,
    rehash,
    series_sha256,
)

# Published FNV-1a 64-bit test vectors (public domain, Fowler/Noll/Vo).
FNV_VECTORS = {
    b"": 0xCBF29CE484222325,
    b"a": 0xAF63DC4C8601EC8C,
    b"b": 0xAF63DF4C8601F1A5,
    b"foobar": 0x85944171F73967E8,
}


def test_fnv_scalar_vectors():
    for data, want in FNV_VECTORS.items():
        assert fnv1a64_scalar(data) == want


def test_fnv_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    keys = [rng.bytes(32) for _ in range(257)]
    mat = digests_to_matrix(keys)
    vec = fnv1a64(mat)
    for i, k in enumerate(keys):
        assert int(vec[i]) == fnv1a64_scalar(k)


def test_km_indices_law():
    """ix_i = (h1 + i*h2) % m with h2 odd."""
    h = np.array([0x0123456789ABCDEF, 0xFFFFFFFFFFFFFFFF], dtype=np.uint64)
    m = 1009
    ix = km_indices(h, np.arange(5), m)
    for r in range(2):
        h1 = int(h[r]) & 0xFFFFFFFF
        h2 = ((int(h[r]) >> 32) | 1) & 0xFFFFFFFFFFFFFFFF
        for i in range(5):
            assert int(ix[r, i]) == ((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m
    assert (ix < m).all()


def test_rehash_families_differ():
    h = np.arange(1000, dtype=np.uint64)
    a, b = rehash(h, 1), rehash(h, 2)
    assert (a != b).mean() > 0.99


def test_sha256_matrix():
    from ip_filter_spark.sketches.hashing import DIGEST_W

    mat = series_sha256(["hello", "world"])
    import hashlib

    assert bytes(mat[0]) == hashlib.sha256(b"hello").digest()[:DIGEST_W]
    assert mat.shape == (2, DIGEST_W)


EDGE_WORDS = [0, 1, 2**32 - 1, -(2**63), -1]  # -(2**63) is the word 2^63


def test_spark_xxhash64_matches_spark(spark):
    """The kernel's numpy XXH64 is bit-identical to Spark's
    ``xxhash64(int d, long w0[, long w1])`` on edge words at every depth
    0-128 (word boundaries 63/64/65 included)."""
    from ip_filter_spark.sketches.hashing import spark_xxhash64

    rows = [(d, a, b) for d in range(129) for a in EDGE_WORDS for b in EDGE_WORDS]
    df = spark.createDataFrame(rows, "d int, a long, b long")
    got = df.select(
        "d", "a", "b", F.xxhash64("d", "a").alias("h1"), F.xxhash64("d", "a", "b").alias("h2")
    ).toPandas()
    d, a, b = (got[c].to_numpy() for c in ("d", "a", "b"))
    assert (spark_xxhash64(d, [a]).view(np.int64) == got["h1"].to_numpy()).all()
    assert (spark_xxhash64(d, [a, b]).view(np.int64) == got["h2"].to_numpy()).all()


def test_mask_domain_kernel_matches_jvm_key_hash(spark):
    """CIDR probe keys: the kernel's per-depth integer mask + numpy hash
    equals the JVM ``key_hash`` (the build's guide-walk hash) and
    ``route_hash`` of the truncated key (the build's route hash) at
    every depth, for v6 words straddling the 64-bit word boundary and
    for v4."""
    from ip_filter_spark.operators.cidr import ip4_trunc, ip6_trunc

    for dom, width, keys, ktype in (
        (ip6_trunc, 128, [f"{a % 2**64:016x}{b % 2**64:016X}" for a in EDGE_WORDS for b in EDGE_WORDS],
         "string"),
        (ip4_trunc, 32, [0, 1, 2**31, 2**32 - 1], "long"),
    ):
        depths = list(range(width + 1))
        df = spark.createDataFrame([(k, d) for k in keys for d in depths], f"k {ktype}, d int")
        jvm = df.select(
            "k",
            "d",
            dom.key_hash(F.col("k"), F.col("d")).alias("h"),
            dom.route_hash(dom(F.col("k"), F.col("d")), F.col("d")).alias("r"),
        ).toPandas()
        assert (jvm["r"] == jvm["h"]).all()
        words, to_hashes = dom.probe(F.col("k"), depths)
        K = np.column_stack(
            [df.select(w.alias("w")).toPandas()["w"].to_numpy().view(np.uint64) for w in words]
        )
        H = to_hashes(K).view(np.int64)
        assert (H[np.arange(len(jvm)), jvm["d"].to_numpy()] == jvm["h"].to_numpy()).all()
        # a literal depth folds the mask to constants: same hashes
        for d in (0, 1, width // 2 - 1, width // 2, width // 2 + 1, width):
            lit = df.where(F.col("d") == d).select(dom.key_hash(F.col("k"), d).alias("h")).toPandas()["h"]
            assert (lit.to_numpy() == jvm.loc[jvm["d"] == d, "h"].to_numpy()).all(), (dom, d)
