"""IPv4/IPv6 CIDR adapter for the LPM engine — the reference's own
domain (its prototype keys a route as ``(prefix_len << 32|128) +
prefix``, prototype/utils.py:53-56).

An address is held as int64 words, most significant first: one for v4,
two for v6 (hi/lo halves, parsed once per row from 32-char hex with
``conv(…, 16, -10)``). ``MaskDomain`` truncates to depth d by masking
the words to the top d bits — one truncation for both families — and a
route key hashes as Spark's ``xxhash64(int d, masked words…)``: JVM-side
for routes at build time, while a lookup ships only the raw words and
the numpy kernel masks and hashes them per route depth (see "Key
encoding" in operators/lpm.py). Key forms: a masked long (v4), masked
32-char lowercase hex (v6, rendered only where a prefix is returned).
The '/'-joined bit paths (``ip4_to_bitpath``) are a cross-domain oracle.

Goldens from the reference's tests (prototype/tests.py_bak:309-349):
1.0.0.0 → /24 when 1.0.0.0/24 is in the table; 0.255.255.255 → 0
(default route, miss); the 5-address traffic batch finds exactly 3.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ip_filter_spark.operators.lpm import KeyDomain, PathLPM
from ip_filter_spark.sketches.hashing import spark_xxhash64

V4_BITS = 32


def ip4_from_dotted(ip_str_col):
    """'1.2.3.4' → uint32 as LongType (JVM-side)."""
    o = F.split(ip_str_col, r"\.")
    return (
        o[0].cast("long") * 16777216
        + o[1].cast("long") * 65536
        + o[2].cast("long") * 256
        + o[3].cast("long")
    )


def ip4_bits(ip_col, nbits=V4_BITS):
    """Array of the address's bits, most-significant first. Uses
    floor(ip / 2^k) % 2 — exact in double for ip < 2^53, so safe for v4;
    v6 uses nibble arithmetic instead (see ip6_bits)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(nbits)),
        lambda i: (F.floor(ip_col / F.pow(F.lit(2.0), (F.lit(nbits) - i).cast("double"))).cast("long") % 2),
    )


def ip6_bits(hex_col):
    """Array of 128 bits from a 32-char lowercase hex string (the
    canonical fixed-width v6 form) — nibble-exact, no doubles."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda j: F.transform(
                F.sequence(F.lit(3), F.lit(0), F.lit(-1)),
                lambda b: (
                    F.floor(F.conv(F.substring(hex_col, j, 1), 16, 10).cast("long") / F.pow(F.lit(2.0), b.cast("double"))).cast("long") % 2
                ),
            ),
        )
    )


def _bits_to_path(bits_col, depth=None):
    sl = bits_col if depth is None else F.slice(bits_col, 1, depth)
    return F.array_join(F.transform(sl, lambda b: b.cast("string")), "/")


def ip4_to_bitpath(ip_col):
    """uint32 (long col) → 32-component bit path '1/0/0/...'."""
    return _bits_to_path(ip4_bits(ip_col))


def ip6_to_bitpath(hex_col):
    return _bits_to_path(ip6_bits(hex_col))


def _masked_hashes(depths: np.ndarray, masks: np.ndarray, K: np.ndarray) -> np.ndarray:
    """(n, c) raw words → (n, D) key hashes: the kernel twin of
    ``MaskDomain.key_hash``."""
    return spark_xxhash64(depths[None, :], [K[:, i : i + 1] & masks[i] for i in range(K.shape[1])])


class MaskDomain(KeyDomain):
    """Fixed-width address domain (module docstring). ``words(key_col)``
    splits a key into int64 word columns of ``widths`` bits, most
    significant first; ``render(words)`` turns masked words back into
    the key form. Route tables give prefixes in key form (already
    masked: ``cidr4_route_table`` / ``ip6_route_table``), so
    ``route_hash`` hashes their words as they are."""

    def __init__(self, widths, words, render):
        self.widths, self.words, self.render = widths, words, render
        self.offsets = [sum(widths[:i]) for i in range(len(widths))]

    def masks(self, depths) -> np.ndarray:
        """(words, D) uint64: word i keeps ``-1 << (width - keep)``
        (0 if keep = 0), keep = its share of the top ``depth`` bits."""
        keeps = [[min(max(d - off, 0), w) for d in depths] for w, off in zip(self.widths, self.offsets)]
        rows = [[(1 << 64) - (1 << (w - k)) if k else 0 for k in ks] for w, ks in zip(self.widths, keeps)]
        return np.array(rows, dtype=np.uint64)

    def mask(self, words, depth):
        """JVM twin of ``masks``; a literal depth folds to constants."""
        if not hasattr(depth, "cast"):
            consts = self.masks([depth])[:, 0].view(np.int64)
            return [c.bitwiseAND(F.lit(int(m))) for c, m in zip(words, consts)]
        out = []
        for c, w, off in zip(words, self.widths, self.offsets):
            k = F.least(F.greatest(depth - off, F.lit(0)), F.lit(w))
            m = F.call_function("shiftleft", F.lit(-1).cast("long"), (w - k).cast("int"))
            out.append(c.bitwiseAND(F.when(k > 0, m).otherwise(0)))
        return out

    def __call__(self, key_col, depth):
        return self.render(self.mask(self.words(key_col), depth))

    def key_hash(self, key_col, depth):
        d = depth if hasattr(depth, "cast") else F.lit(depth)
        return F.xxhash64(d.cast("int"), *self.mask(self.words(key_col), depth))

    def route_hash(self, prefix_col, depth):
        d = depth if hasattr(depth, "cast") else F.lit(depth)
        return F.xxhash64(d.cast("int"), *self.words(prefix_col))

    def probe(self, key_col, depths):
        kernel = partial(_masked_hashes, np.asarray(depths, dtype=np.int64), self.masks(depths))
        return self.words(key_col), kernel


def parse_cidr4(cidr_col):
    """'1.0.0.0/24' → struct(prefix_path, depth): the PathLPM route row."""
    ip = ip4_from_dotted(F.split(cidr_col, "/")[0])
    plen = F.split(cidr_col, "/")[1].cast("int")
    return F.struct(
        _bits_to_path(ip4_bits(ip), plen).alias("prefix"),
        plen.alias("depth"),
    )


def _hex_words(hex_col):
    """32-char hex (either case) → [hi, lo] signed int64 words."""
    return [F.conv(hex_col.substr(i, 16), 16, -10).cast("long") for i in (1, 17)]


def _words_hex(words):
    return F.concat(*[F.lower(F.lpad(F.hex(w), 16, "0")) for w in words])


# v4: uint32 address (long or decimal string) → masked long
ip4_trunc = MaskDomain((V4_BITS,), lambda c: [c.cast("long")], lambda ws: ws[0])
# v6: 32-char hex → masked 32-char lowercase hex
ip6_trunc = MaskDomain((64, 64), _hex_words, _words_hex)


def cidr4_route_table(cidrs: DataFrame, cidr_col: str = "cidr") -> DataFrame:
    """CIDR-string table → PathLPM (prefix, depth) table in the v4 key
    domain: prefix = masked address as a long."""
    ip = ip4_from_dotted(F.split(F.col(cidr_col), "/")[0])
    plen = F.split(F.col(cidr_col), "/")[1].cast("int")
    return cidrs.select(ip4_trunc(ip, plen).alias("prefix"), plen.alias("depth")).distinct()


def cidr4_bitpath_table(cidrs: DataFrame, cidr_col: str = "cidr") -> DataFrame:
    """CIDR-string table → (prefix, depth) in the '/'-joined bit-path
    domain — the form ``exact_lpm`` (the path-domain oracle) consumes."""
    p = parse_cidr4(F.col(cidr_col))
    return cidrs.select(p["prefix"].alias("prefix"), p["depth"].alias("depth")).distinct()


def build_ip4_lpm(cidrs: DataFrame, cidr_col: str = "cidr", **build_kw):
    """Build a guided LPM engine over an IPv4 CIDR route table (v4 key
    domain — pair lookups with ``lookup_ip4``)."""
    return PathLPM.build(cidr4_route_table(cidrs, cidr_col), trunc=ip4_trunc, **build_kw)


def lookup_ip4(
    engine, traffic: DataFrame, ip_col: str = "ip", mode: str = "guided", exact_repair=None
) -> DataFrame:
    """LPM every uint32 address in ``traffic``: adds lpm_depth (matched
    prefix length, 0 = default route) and lpm_prefix_ip (the matched
    prefix's masked address as a long, null on miss). The engine must
    have been built in the v4 key domain (``build_ip4_lpm`` or
    ``PathLPM.build(trunc=ip4_trunc)``). ``exact_repair``: the v4 route
    table (``cidr4_route_table``) to close the FIB's 64-bit collision
    window exactly (see operators/lpm.py module docstring)."""
    out = engine.lookup(traffic, path_col=ip_col, mode=mode, trunc=ip4_trunc, exact_repair=exact_repair)
    return out.withColumnRenamed("lpm_prefix", "lpm_prefix_ip")


def format_ip4(ip_col):
    """uint32 long → dotted-quad string (for reports / parity checks)."""
    c = F.col(ip_col) if isinstance(ip_col, str) else ip_col
    octets = [
        F.floor(c / 16777216).cast("long"),
        (F.floor(c / 65536) % 256).cast("long"),
        (F.floor(c / 256) % 256).cast("long"),
        (c % 256).cast("long"),
    ]
    return F.concat_ws(".", *[o.cast("string") for o in octets])


def ip6_route_table(routes: DataFrame, hex_col: str = "h", plen_col: str = "depth") -> DataFrame:
    """(32-char hex, prefix_len) table → PathLPM (prefix, depth) in the
    v6 key domain."""
    plen = F.col(plen_col).cast("int")
    return routes.select(ip6_trunc(F.col(hex_col), plen).alias("prefix"), plen.alias("depth")).distinct()


def build_ip6_lpm(routes: DataFrame, hex_col: str = "h", plen_col: str = "depth", **build_kw):
    """Guided LPM engine over IPv6 routes given as 32-char hex + prefix
    length (v6 key domain; pair with ``lookup_ip6``)."""
    return PathLPM.build(ip6_route_table(routes, hex_col, plen_col), trunc=ip6_trunc, **build_kw)


def lookup_ip6(
    engine, traffic: DataFrame, hex_col: str = "h", mode: str = "guided", exact_repair=None
) -> DataFrame:
    """LPM every v6 address (32-char hex, either case) in ``traffic``:
    adds lpm_depth and lpm_prefix_hex (masked 32-char lowercase hex of
    the matched prefix, null on miss). ``exact_repair``: the v6 route
    table (``ip6_route_table``) closes the FIB's 64-bit collision window
    exactly, same as the v4 and path domains."""
    out = engine.lookup(traffic, path_col=hex_col, mode=mode, trunc=ip6_trunc, exact_repair=exact_repair)
    return out.withColumnRenamed("lpm_prefix", "lpm_prefix_hex")
