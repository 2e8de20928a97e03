"""Longest-prefix-match gates: exact/linear/guided LPM over document paths and CIDR (v4/v6) event routing.

Split out of the former monolithic queries.py; see package __init__ for
the assembled QUERIES/ORACLES registry (order preserved exactly).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ip_filter_spark.functions.text import (
    LANG_MARKERS,
    MOD,
    fingerprint_expr,
    lang_id_expr,
    ngrams_expr,
    token_count_expr,
    tokens_expr,
)

from ip_filter_spark.queries._shared import (
    _t,
    _ensure_shipped,
)

# =====================================================================
# LPM over documents-derived paths (flagship: guided == linear == SQL)
# =====================================================================
def _doc_paths(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(
            "/", "source", "lang", F.concat(F.lit("b"), (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("f"), F.col("doc_id").cast("string")),
        ).alias("path"),
    )


_DOC_PATHS_SQL = "SELECT doc_id, source || '/' || lang || '/b' || CAST(doc_id % 7 AS VARCHAR) || '/f' || CAST(doc_id AS VARCHAR) AS path FROM documents"


def _doc_routes(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    p1 = d.select(F.col("source").alias("prefix")).distinct().withColumn("depth", F.lit(1))
    p2 = (
        d.select(F.concat_ws("/", "source", "lang").alias("prefix"))
        .distinct()
        .where(F.substring("prefix", -1, 1).isin("n", "s"))  # subset: langs en/es
        .withColumn("depth", F.lit(2))
    )
    p3 = (
        d.where((F.col("doc_id") % 3) == 0)
        .select(
            F.concat_ws("/", "source", "lang", F.concat(F.lit("b"), (F.col("doc_id") % 7).cast("string"))).alias(
                "prefix"
            )
        )
        .distinct()
        .withColumn("depth", F.lit(3))
    )
    return p1.unionByName(p2).unionByName(p3)


_DOC_ROUTES_SQL = """
SELECT source AS prefix, 1 AS depth FROM documents GROUP BY 1
UNION ALL
SELECT DISTINCT source || '/' || lang AS prefix, 2 AS depth FROM documents
WHERE substring(source || '/' || lang, -1, 1) IN ('n', 's')
UNION ALL
SELECT DISTINCT source || '/' || lang || '/b' || CAST(doc_id % 7 AS VARCHAR) AS prefix, 3 AS depth
FROM documents WHERE doc_id % 3 = 0
"""


LPM_SQL = f"""
WITH q AS ({_DOC_PATHS_SQL}),
p AS ({_DOC_ROUTES_SQL}),
m AS (
  SELECT q.doc_id, MAX(p.depth) AS best
  FROM q JOIN p
    ON p.prefix = array_to_string(list_slice(string_split(q.path, '/'), 1, p.depth), '/')
  GROUP BY q.doc_id)
SELECT q.doc_id, q.path, CAST(COALESCE(m.best, 0) AS INTEGER) AS lpm_depth,
       CASE WHEN m.best IS NOT NULL
            THEN array_to_string(list_slice(string_split(q.path, '/'), 1, m.best), '/') END AS lpm_prefix
FROM q LEFT JOIN m ON q.doc_id = m.doc_id
"""


def lpm_exact_docs(spark, sf_dir):
    from ip_filter_spark.operators.lpm import exact_lpm

    return exact_lpm(_doc_paths(spark, sf_dir), _doc_routes(spark, sf_dir))


def _lpm_engine(spark, sf_dir):
    from ip_filter_spark.operators.lpm import PathLPM

    return PathLPM.build(_doc_routes(spark, sf_dir), num_partitions=8)


def lpm_guided_docs(spark, sf_dir):
    _ensure_shipped(spark)
    eng = _lpm_engine(spark, sf_dir)
    out = eng.lookup(_doc_paths(spark, sf_dir), mode="guided")
    return out.select("doc_id", "path", "lpm_depth", "lpm_prefix")


def lpm_linear_docs(spark, sf_dir):
    _ensure_shipped(spark)
    eng = _lpm_engine(spark, sf_dir)
    out = eng.lookup(_doc_paths(spark, sf_dir), mode="linear")
    return out.select("doc_id", "path", "lpm_depth", "lpm_prefix")


# =====================================================================
# LPM over IPv4 CIDRs — the reference's real domain (prototype/
# utils.py:53-56, ipfilter.py:26-27), via the bit-path adapter
# =====================================================================
_KNUTH = 2654435761  # Knuth multiplicative hash — same literal in SQL


def lpm_cidr_events(spark, sf_dir):
    """Guided LPM over a deterministic IPv4 route table + traffic derived
    from the events table; the oracle recomputes LPM with pure mask
    arithmetic (no bit paths), so a hash match proves the whole adapter +
    engine chain end-to-end."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.cidr import ip4_trunc, lookup_ip4
    from ip_filter_spark.operators.dedup import _spread
    from ip_filter_spark.operators.lpm import PathLPM

    ev = _t(spark, sf_dir, "events")
    # the route table depends on user_id only through (user_id % 997,
    # user_id % 3) — deduplicate those two small ints FIRST (map-side
    # partial agg over the scan), then run the mask arithmetic on the
    # ≤2991 surviving combinations instead of every event row (r6,
    # guide §2.3 "aggregate before you shuffle"); the trailing distinct
    # keeps the result set definitionally identical
    uu = ev.select((F.col("user_id") % 997).alias("u1"), (F.col("user_id") % 3).alias("u3")).distinct()
    base = (F.col("u1") * F.lit(_KNUTH)) % F.lit(4294967296)
    plen = (F.lit(8) + F.col("u3") * F.lit(8)).cast("int")
    routes = uu.select(ip4_trunc(base, plen).alias("prefix"), plen.alias("depth")).distinct()
    eng = PathLPM.build(routes, num_partitions=8, trunc=ip4_trunc)
    # spread the probe side: the events parquet is a single row group, so
    # without the repartition the address synthesis + probe kernel run on
    # the scan's 1-4 splits (guide §2.5 input skew)
    traffic = _spread(ev.select("event_id")).select(
        "event_id", (((F.col("event_id") % 1000003) * F.lit(_KNUTH)) % F.lit(4294967296)).alias("ip")
    )
    out = lookup_ip4(eng, traffic, mode="guided")
    return out.select("event_id", "ip", "lpm_depth", "lpm_prefix_ip")


LPM_CIDR_SQL = f"""
WITH q AS (
  SELECT event_id, ((event_id % 1000003) * {_KNUTH}) % 4294967296 AS ip FROM events),
r AS (
  SELECT DISTINCT base - (base % CAST(POW(2, 32 - plen) AS BIGINT)) AS pfx, plen FROM (
    SELECT ((user_id % 997) * {_KNUTH}) % 4294967296 AS base,
           CAST(8 + (user_id % 3) * 8 AS INTEGER) AS plen
    FROM events)),
m AS (
  SELECT q.event_id, MAX(r.plen) AS best
  FROM q JOIN r ON (q.ip - (q.ip % CAST(POW(2, 32 - r.plen) AS BIGINT))) = r.pfx
  GROUP BY q.event_id)
SELECT q.event_id, q.ip, CAST(COALESCE(m.best, 0) AS INTEGER) AS lpm_depth,
       CASE WHEN m.best IS NOT NULL
            THEN q.ip - (q.ip % CAST(POW(2, 32 - m.best) AS BIGINT)) END AS lpm_prefix_ip
FROM q LEFT JOIN m ON q.event_id = m.event_id
"""


def _hex8(c):
    """Non-negative long column -> 8-char lowercase hex (one v6 word).
    r6: native ``hex()`` instead of ``conv(cast(string), 10, 16)`` —
    identical strings (verified mismatch-free at 1M rows), no
    decimal-string round trip."""
    return F.lpad(F.lower(F.hex(c)), 8, "0")


def lpm_cidr6_events(spark, sf_dir):
    """Guided LPM over a deterministic IPv6 route table (masked-hex
    domain, operators/cidr.py ip6_trunc) + traffic derived from events.
    Prefix lengths {16, 33, 50} exercise both the whole-nibble and
    partial-nibble mask paths. Traffic shares its user's first 64 bits,
    so every event matches at least its own user's route. The oracle
    recomputes LPM with pure hex/nibble arithmetic, so a hash match
    proves the v6 adapter + engine chain end-to-end (the reference's v6
    results are half its headline: /root/reference/doc/tex/report.tex:604-611)."""
    _ensure_shipped(spark)
    from ip_filter_spark.operators.cidr import build_ip6_lpm, lookup_ip6
    from ip_filter_spark.operators.dedup import _spread

    ev = _t(spark, sf_dir, "events")
    M = F.lit(4294967296)
    # route hex words depend on user_id only through (user_id % 997,
    # user_id % 3): deduplicate those ints first, then synthesize hex for
    # the ≤2991 survivors instead of every event (r6 — the hex/concat
    # string work per row dominated the route build; guide §2.3). The
    # trailing distinct keeps the route set definitionally identical.
    uu = ev.select((F.col("user_id") % 997).alias("u1"), (F.col("user_id") % 3).alias("u3")).distinct()
    ubu = F.col("u1") * F.lit(_KNUTH)
    uwu = [_hex8((ubu + F.lit(i * 7919)) % M) for i in range(4)]
    plenu = (F.lit(16) + F.col("u3") * F.lit(17)).cast("int")
    routes = uu.select(F.concat(*uwu).alias("h"), plenu.alias("depth")).distinct()
    eng = build_ip6_lpm(routes)
    # spread the probe side off the single-row-group scan (guide §2.5)
    # before the per-event hex synthesis + probe kernel
    evs = _spread(ev.select("event_id", "user_id"))
    ub = (F.col("user_id") % 997) * F.lit(_KNUTH)
    eb = (F.col("event_id") % 1000003) * F.lit(_KNUTH)
    uw = [_hex8((ub + F.lit(i * 7919)) % M) for i in range(4)]
    addr = F.concat(uw[0], uw[1], _hex8((eb + F.lit(2 * 7919)) % M), _hex8((eb + F.lit(3 * 7919)) % M))
    traffic = evs.select("event_id", addr.alias("addr"))
    out = lookup_ip6(eng, traffic, hex_col="addr")
    return out.select("event_id", "addr", "lpm_depth", "lpm_prefix_hex")


# DuckDB replica of ip6_trunc: whole nibbles via substr, the partial
# nibble via hex-digit -> int -> mask -> hex-digit, zero-padded to 32
_V6_MASK = """
CASE WHEN {plen} % 4 = 0 THEN rpad(substr({h}, 1, {plen} // 4), 32, '0')
     ELSE rpad(substr({h}, 1, {plen} // 4) ||
          substr('0123456789abcdef',
                 CAST((strpos('0123456789abcdef', substr({h}, {plen} // 4 + 1, 1)) - 1)
                      - ((strpos('0123456789abcdef', substr({h}, {plen} // 4 + 1, 1)) - 1)
                         % CAST(POW(2, 4 - {plen} % 4) AS INT)) AS INT) + 1, 1),
          32, '0') END
"""


LPM_CIDR6_SQL = f"""
WITH w AS (
  SELECT event_id, user_id,
         (user_id % 997) * {_KNUTH} AS ub,
         (event_id % 1000003) * {_KNUTH} AS eb
  FROM events),
q AS (
  SELECT event_id,
         lpad(lower(to_hex(ub % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((ub + 7919) % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((eb + 15838) % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((eb + 23757) % 4294967296)), 8, '0') AS addr
  FROM w),
r0 AS (
  SELECT DISTINCT
         lpad(lower(to_hex(ub % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((ub + 7919) % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((ub + 15838) % 4294967296)), 8, '0') ||
         lpad(lower(to_hex((ub + 23757) % 4294967296)), 8, '0') AS h,
         CAST(16 + (user_id % 3) * 17 AS INTEGER) AS plen
  FROM w),
r AS (SELECT DISTINCT {_V6_MASK.format(h='h', plen='plen')} AS pfx, plen FROM r0),
qm AS (
  SELECT q.event_id, q.addr, p.plen,
         {_V6_MASK.format(h='q.addr', plen='p.plen')} AS qpfx
  FROM q CROSS JOIN (SELECT DISTINCT plen FROM r) p),
m AS (
  SELECT qm.event_id, MAX(qm.plen) AS best
  FROM qm JOIN r ON qm.qpfx = r.pfx AND qm.plen = r.plen
  GROUP BY qm.event_id)
SELECT q.event_id, q.addr, CAST(COALESCE(m.best, 0) AS INTEGER) AS lpm_depth,
       b.qpfx AS lpm_prefix_hex
FROM q LEFT JOIN m ON q.event_id = m.event_id
       LEFT JOIN qm b ON b.event_id = m.event_id AND b.plen = m.best
"""


__all__ = [
    "_doc_paths",
    "_DOC_PATHS_SQL",
    "_doc_routes",
    "_DOC_ROUTES_SQL",
    "LPM_SQL",
    "lpm_exact_docs",
    "_lpm_engine",
    "lpm_guided_docs",
    "lpm_linear_docs",
    "_KNUTH",
    "lpm_cidr_events",
    "LPM_CIDR_SQL",
    "_hex8",
    "lpm_cidr6_events",
    "_V6_MASK",
    "LPM_CIDR6_SQL",
]
