"""IPv4 CIDR LPM adapter: reference golden behavior + engine agreement.

Goldens mirror /root/reference/prototype/tests.py_bak:309-349: known
address → its prefix length, unknown → default (0), 3-of-5 batch found.
"""

import pytest
from pyspark.sql import functions as F

from ip_filter_spark.operators.cidr import (
    build_ip4_lpm,
    format_ip4,
    ip4_from_dotted,
    ip4_to_bitpath,
    lookup_ip4,
)

CIDRS = [("1.0.0.0/24",), ("1.0.4.0/22",), ("192.0.0.0/2",)]
# 0.255.255.254, 192.0.0.0, 1.0.0.0, 1.0.4.0, 0.255.255.255 — 3/5 covered
TRAFFIC = [16777214, 3221225472, 16777216, 16778240, 16777215]


def test_ip4_bitpath_roundtrip(spark):
    df = spark.createDataFrame([("1.2.3.4",), ("255.255.255.255",), ("0.0.0.1",)], "s string")
    rows = df.select(ip4_from_dotted(F.col("s")).alias("ip")).collect()
    assert [r.ip for r in rows] == [16909060, 4294967295, 1]
    bp = df.select(ip4_to_bitpath(ip4_from_dotted(F.col("s"))).alias("p")).collect()
    assert bp[2].p == "/".join(["0"] * 31 + ["1"])
    back = df.select(format_ip4(ip4_from_dotted(F.col("s"))).alias("d")).collect()
    assert [r.d for r in back] == ["1.2.3.4", "255.255.255.255", "0.0.0.1"]


@pytest.mark.parametrize("mode", ["guided", "linear"])
def test_cidr_reference_goldens(spark, mode):
    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    eng = build_ip4_lpm(cidrs, num_partitions=2)
    traffic = spark.createDataFrame([(ip,) for ip in TRAFFIC], "ip long")
    out = {r.ip: (r.lpm_depth, r.lpm_prefix_ip) for r in lookup_ip4(eng, traffic, mode=mode).collect()}
    assert out[16777216][0] == 24  # 1.0.0.0 → 1.0.0.0/24 (tests.py_bak:322-324)
    assert out[16777216][1] == 16777216
    assert out[16777215][0] == 0  # miss → default route (tests.py_bak:326-332)
    assert out[16777215][1] is None
    assert sum(1 for d, _ in out.values() if d > 0) == 3  # 3/5 (tests.py_bak:334-349)
    # 1.0.4.0 matches the /22, not the /24
    assert out[16778240][0] == 22


def test_cidr_guided_equals_exact(spark):
    """Triple agreement on a wider synthetic table: the numeric-key
    guided engine vs the path-domain exact oracle run on the SAME routes
    expressed as bit paths — cross-domain agreement pins both the mask
    truncation and the bit-path encoding."""
    from ip_filter_spark.operators.cidr import cidr4_bitpath_table
    from ip_filter_spark.operators.lpm import exact_lpm

    base = spark.range(200)
    rts = base.select(
        F.concat(
            ((F.col("id") * 37) % 224).cast("string"), F.lit("."),
            ((F.col("id") * 101) % 256).cast("string"), F.lit(".0.0/"),
            (F.lit(12) + (F.col("id") % 3) * 6).cast("string"),
        ).alias("cidr")
    )
    # oracle routes in the bit-path domain; engine routes numeric
    routes = cidr4_bitpath_table(rts)
    traffic = spark.range(500).select((((F.col("id") + 7) * 2654435761) % 4294967296).alias("ip"))
    q = traffic.withColumn("path", ip4_to_bitpath(F.col("ip")))
    eng = build_ip4_lpm(rts, num_partitions=2)
    guided = {r.ip: r.lpm_depth for r in lookup_ip4(eng, traffic, mode="guided").collect()}
    exact = {r.ip: r.lpm_depth for r in exact_lpm(q, routes).collect()}
    assert guided == exact


def test_ip6_bitpath_and_lpm(spark):
    """IPv6: 128-bit addresses as 32-char hex → bit paths; LPM over a
    mixed-depth v6 table (nibble-exact, no doubles)."""
    from ip_filter_spark.operators.cidr import ip6_bits, ip6_to_bitpath, _bits_to_path
    from ip_filter_spark.operators.lpm import PathLPM

    # 2001:db8::/32 → hex 20010db8 + 24 zero chars
    p32 = "20010db8" + "0" * 24
    inside = "20010db8" + "000000000000000000000001"  # 2001:db8::1
    outside = "20010db9" + "0" * 23 + "1"
    df = spark.createDataFrame([(p32,), (inside,), (outside,)], "h string")
    bits = df.select(F.size(ip6_bits(F.col("h"))).alias("n")).collect()
    assert all(r.n == 128 for r in bits)
    routes = spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int").select(
        _bits_to_path(ip6_bits(F.col("h")), F.col("depth")).alias("prefix"), "depth"
    )
    eng = PathLPM.build(routes, num_partitions=2)
    q = spark.createDataFrame([(inside,), (outside,)], "h string").withColumn(
        "path", ip6_to_bitpath(F.col("h"))
    )
    got = {r.h: r.lpm_depth for r in eng.lookup(q, path_col="path", mode="guided").collect()}
    assert got[inside] == 32   # matches 2001:db8::/32
    assert got[outside] == 4   # falls back to the /4 covering 2xxx


def test_ip6_masked_hex_domain_agrees_with_bitpath(spark):
    """The masked-hex v6 domain (6 string/int ops per depth) must answer
    exactly like the 128-component bit-path domain on the same routes,
    including a non-nibble-aligned prefix length."""
    from ip_filter_spark.operators.cidr import (
        _bits_to_path,
        build_ip6_lpm,
        ip6_bits,
        ip6_to_bitpath,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import PathLPM

    p32 = "20010db8" + "0" * 24            # 2001:db8::/32
    p34 = "20010db8" + "0" * 24            # same base, /34 (non-aligned)
    p4 = "2" + "0" * 31                    # 2000::/4
    routes = spark.createDataFrame([(p32, 32), (p34, 34), (p4, 4)], "h string, depth int")
    addrs = [
        "20010db8" + "000000000000000000000001",  # inside /34 (bits 33-34 = 0)
        "20010db8" + "4" + "0" * 22 + "1",        # inside /32, outside /34 (bit 34 = 1... nibble 0100)
        "20010db9" + "0" * 23 + "1",              # inside /4 only
        "f" + "0" * 31,                           # miss entirely
    ]
    q = spark.createDataFrame([(a,) for a in addrs], "h string")

    eng_hex = build_ip6_lpm(routes, num_partitions=2)
    got_hex = {r.h: (r.lpm_depth, r.lpm_prefix_hex) for r in lookup_ip6(eng_hex, q).collect()}

    bp_routes = routes.select(_bits_to_path(ip6_bits(F.col("h")), F.col("depth")).alias("prefix"), "depth")
    eng_bp = PathLPM.build(bp_routes, num_partitions=2)
    qbp = q.withColumn("path", ip6_to_bitpath(F.col("h")))
    got_bp = {r.h: r.lpm_depth for r in eng_bp.lookup(qbp, path_col="path", mode="guided").collect()}

    assert {k: v[0] for k, v in got_hex.items()} == got_bp
    assert got_hex[addrs[0]][0] == 34
    assert got_hex[addrs[1]][0] == 32
    assert got_hex[addrs[2]][0] == 4
    assert got_hex[addrs[3]] == (0, None)
    # matched prefix comes back masked + zero-padded to canonical width
    assert got_hex[addrs[0]][1] == "20010db8" + "0" * 24


def test_exact_lpm_generalizes_to_ip_domains(spark):
    """exact_lpm with a domain trunc is a valid oracle for the numeric
    v4 and masked-hex v6 engines directly (no bit paths anywhere)."""
    from ip_filter_spark.operators.cidr import (
        build_ip6_lpm,
        cidr4_route_table,
        ip4_trunc,
        ip6_route_table,
        ip6_trunc,
        lookup_ip4,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import exact_lpm

    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    routes4 = cidr4_route_table(cidrs)
    traffic = spark.createDataFrame([(ip,) for ip in TRAFFIC], "ip long").withColumn(
        "k", F.col("ip").cast("string")
    )
    ex4 = {int(r.k): r.lpm_depth for r in exact_lpm(traffic, routes4, path_col="k", trunc=ip4_trunc).collect()}
    eng4 = build_ip4_lpm(cidrs, num_partitions=2)
    got4 = {r.ip: r.lpm_depth for r in lookup_ip4(eng4, traffic.drop("k"), mode="guided").collect()}
    assert ex4 == got4

    p32 = "20010db8" + "0" * 24
    routes6 = ip6_route_table(
        spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int")
    )
    q6 = spark.createDataFrame(
        [("20010db8" + "0" * 23 + "1",), ("20010db9" + "0" * 23 + "1",), ("f" + "0" * 31,)], "h string"
    )
    ex6 = {r.h: r.lpm_depth for r in exact_lpm(q6, routes6, path_col="h", trunc=ip6_trunc).collect()}
    eng6 = build_ip6_lpm(spark.createDataFrame([(p32, 32), ("2" + "0" * 31, 4)], "h string, depth int"), num_partitions=2)
    got6 = {r.h: r.lpm_depth for r in lookup_ip6(eng6, q6).collect()}
    assert ex6 == got6


def test_ip4_exact_repair_and_blob_version(spark):
    """exact_repair in the NUMERIC key domain: forge a 64-bit FIB
    collision (a non-route masked key inserted into FIB + filter) and
    verify lookup_ip4(..., exact_repair=routes) restores the true
    answer; plus the v1-blob version error is a clear ValueError."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ip_filter_spark.operators.cidr import (
        build_ip4_lpm,
        cidr4_route_table,
        ip4_trunc,
        lookup_ip4,
    )
    from ip_filter_spark.operators.lpm import PathLPM, _h64_expr

    cidrs = spark.createDataFrame([("10.0.0.0/8",), ("10.1.0.0/16",)], "cidr string")
    routes = cidr4_route_table(cidrs)
    eng = build_ip4_lpm(cidrs)
    # 10.2.3.4 -> /8 route only
    ip = (10 << 24) + (2 << 16) + (3 << 8) + 4
    traffic = spark.createDataFrame([(ip,)], "ip long")
    clean = lookup_ip4(eng, traffic, mode="linear").first()
    assert clean.lpm_depth == 8

    # forge: pretend the /16 truncation of this ip (10.2.0.0, NOT a route)
    # collided with a stored route hash
    h = traffic.select(_h64_expr(ip4_trunc(F.col("ip"), 16), 16).alias("h")).first().h
    hu = np.array([h], dtype=np.int64).view(np.uint64)
    eng.fib = np.sort(np.concatenate([eng.fib, hu]))
    eng.bf.insert_hashes(hu)
    wrong = lookup_ip4(eng, traffic, mode="linear").first()
    assert wrong.lpm_depth == 16  # phantom /16
    fixed = lookup_ip4(eng, traffic, mode="linear", exact_repair=routes).first()
    assert fixed.lpm_depth == 8 and fixed.lpm_prefix_ip == (10 << 24)

    # stale v1/v2 blobs fail loudly, not as a corrupt read — a v2 IP
    # engine hashed decimal/hex key strings and would otherwise load and
    # answer "default route" for every address
    for stale in (b"1", b"2"):
        blob = bytearray(eng.to_bytes())
        blob[5:6] = stale  # IFLPM3 -> IFLPM1 / IFLPM2
        with _pytest.raises(ValueError, match="incompatible PathLPM blob version"):
            PathLPM.from_bytes(bytes(blob))
    with _pytest.raises(ValueError, match="not a PathLPM blob"):
        PathLPM.from_bytes(b"garbage")


V6_EDGE_ROUTES = [
    ("8" + "0" * 31, 1),                        # 8000::/1 (hi >= 2^63)
    ("ff" + "0" * 30, 8),                       # ff00::/8
    ("20010db8" + "0" * 24, 32),
    ("20010db88" + "0" * 23, 33),               # partial nibble: bit 33 set
    ("20010db8000000a0" + "0" * 16, 64),        # whole hi word
    ("20010db8000000a08" + "0" * 15, 65),       # first bit of the lo word
    ("20010db8000000a08000000000000001", 128),
]
V6_EDGE_ADDRS = {
    "ffab" + "1" * 28: 8,
    "81" + "0" * 29 + "f": 1,
    "7f" + "f" * 30: 0,
    "20010db87" + "0" * 23: 32,                 # nibble 0111: outside /33
    "20010db89" + "0" * 22 + "3": 33,           # nibble 1001: inside /33
    "20010db8000000a0" + "0" * 15 + "5": 64,
    "20010db8000000a08" + "0" * 14 + "2": 65,
    "20010db8000000a08000000000000001": 128,
    "20010DB8000000A08000000000000001": 128,    # upper-case input
    "FFAB" + "E" * 28: 8,
}


def test_ip6_edge_prefixes_agree_across_domains(spark):
    """v6 edges of the integer-mask domain: hi words >= 2^63, the /64,
    /65 and /128 word boundaries, a partial-nibble /33 and upper-case
    hex input. lookup_ip6 (both modes) must equal exact_lpm in the v6
    key domain and the bit-path engine on the same routes."""
    from ip_filter_spark.operators.cidr import (
        _bits_to_path,
        build_ip6_lpm,
        ip6_bits,
        ip6_route_table,
        ip6_to_bitpath,
        ip6_trunc,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import PathLPM, exact_lpm

    raw = spark.createDataFrame(V6_EDGE_ROUTES, "h string, depth int")
    q = spark.createDataFrame([(a,) for a in V6_EDGE_ADDRS], "h string")
    eng = build_ip6_lpm(raw, num_partitions=2)
    got = {
        m: {r.h: (r.lpm_depth, r.lpm_prefix_hex) for r in lookup_ip6(eng, q, mode=m).collect()}
        for m in ("guided", "linear")
    }
    ex_out = exact_lpm(q, ip6_route_table(raw), path_col="h", trunc=ip6_trunc)
    ex = {r.h: (r.lpm_depth, r.lpm_prefix) for r in ex_out.collect()}
    bp_routes = raw.select(_bits_to_path(ip6_bits(F.col("h")), F.col("depth")).alias("prefix"), "depth")
    bp_eng = PathLPM.build(bp_routes, num_partitions=2)
    bp_out = bp_eng.lookup(q.withColumn("path", ip6_to_bitpath(F.col("h"))))
    bp = {r.h: r.lpm_depth for r in bp_out.collect()}

    assert got["guided"] == got["linear"] == ex
    assert {a: d for a, (d, _) in ex.items()} == bp == V6_EDGE_ADDRS
    # the matched prefix is the masked address, rendered lower-case
    assert ex["20010DB8000000A08000000000000001"][1] == "20010db8000000a08000000000000001"
    assert ex["FFAB" + "E" * 28][1] == "ff" + "0" * 30
    assert ex["20010db89" + "0" * 22 + "3"][1] == "20010db88" + "0" * 23
    assert ex["7f" + "f" * 30] == (0, None)


def test_ip6_exact_repair_forged_collision(spark):
    """exact_repair in the v6 key domain (mirrors the v4 test): a forged
    FIB collision on a non-route /48 truncation is reported by the
    kernel and undone by lookup_ip6(..., exact_repair=routes)."""
    import numpy as np

    from ip_filter_spark.operators.cidr import build_ip6_lpm, ip6_route_table, ip6_trunc, lookup_ip6

    raw = spark.createDataFrame(
        [("20010db8" + "0" * 24, 32), ("20010db80001" + "0" * 20, 48)], "h string, depth int"
    )
    routes = ip6_route_table(raw)
    eng = build_ip6_lpm(raw, num_partitions=2)
    addr = "20010db8ffff" + "0" * 19 + "9"  # inside the /32 only
    traffic = spark.createDataFrame([(addr,)], "h string")
    assert lookup_ip6(eng, traffic, mode="linear").first().lpm_depth == 32

    h = traffic.select(ip6_trunc.key_hash(F.col("h"), 48).alias("h")).first().h
    hu = np.array([h], dtype=np.int64).view(np.uint64)
    eng.fib = np.sort(np.concatenate([eng.fib, hu]))
    eng.bf.insert_hashes(hu)
    wrong = lookup_ip6(eng, traffic, mode="linear").first()
    assert wrong.lpm_depth == 48 and wrong.lpm_prefix_hex == "20010db8ffff" + "0" * 20  # phantom /48
    for mode in ("linear", "guided"):
        fixed = lookup_ip6(eng, traffic, mode=mode, exact_repair=routes).first()
        assert fixed.lpm_depth == 32 and fixed.lpm_prefix_hex == "20010db8" + "0" * 24


@pytest.mark.parametrize("mode", ["guided", "linear"])
def test_ip_null_and_unparsable_addresses_are_misses(spark, mode):
    """An address whose key words come out null is a miss, and every
    other row of its Arrow batch keeps its answer: v4 null addresses and
    (non-ANSI) strings that are not numbers; v6 null addresses and
    strings too short to hold the low word. Each side runs in one
    partition, so bad and good rows share a batch; both must equal
    exact_lpm in the same key domain."""
    from ip_filter_spark.operators.cidr import (
        build_ip6_lpm,
        cidr4_route_table,
        ip4_trunc,
        ip6_route_table,
        ip6_trunc,
        lookup_ip6,
    )
    from ip_filter_spark.operators.lpm import exact_lpm

    def answers(df, key):
        return sorted((r.i, r.lpm_depth, r[key]) for r in df.collect())

    cidrs = spark.createDataFrame(CIDRS, "cidr string")
    eng4 = build_ip4_lpm(cidrs, num_partitions=2)
    good4 = dict(zip(map(str, TRAFFIC), [0, 2, 24, 22, 0]))
    bad4 = [None, "not-an-ip", None, ""]
    addrs4 = [a for pair in zip(good4, bad4 + [None]) for a in pair]
    q4 = spark.createDataFrame(list(enumerate(addrs4)), "i int, ip string").coalesce(1)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")  # a bad v4 string casts to null
    try:
        got4 = answers(lookup_ip4(eng4, q4, mode=mode), "lpm_prefix_ip")
        ex4 = answers(exact_lpm(q4, cidr4_route_table(cidrs), path_col="ip", trunc=ip4_trunc), "lpm_prefix")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got4 == ex4
    assert [d for _i, d, _p in got4] == [good4.get(a, 0) for a in addrs4]
    assert all(p is None for i, _d, p in got4 if addrs4[i] not in good4)

    raw6 = spark.createDataFrame(V6_EDGE_ROUTES, "h string, depth int")
    eng6 = build_ip6_lpm(raw6, num_partitions=2)
    bad6 = [None, "2001:db8::1", "20010db8", "ffab", None]
    addrs6 = [a for pair in zip(V6_EDGE_ADDRS, bad6 * 2) for a in pair]
    q6 = spark.createDataFrame(list(enumerate(addrs6)), "i int, h string").coalesce(1)
    got6 = answers(lookup_ip6(eng6, q6, mode=mode), "lpm_prefix_hex")
    ex6 = answers(exact_lpm(q6, ip6_route_table(raw6), path_col="h", trunc=ip6_trunc), "lpm_prefix")
    assert got6 == ex6
    assert [d for _i, d, _p in got6] == [V6_EDGE_ADDRS.get(a, 0) for a in addrs6]
