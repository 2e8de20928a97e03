"""Guided longest-prefix-match over path prefixes — the reference's core.

The reference's domain is IP prefixes (length 0-32/128); ours is
'/'-separated path prefixes over the corpus (depth = component count) —
same algebra: a prefix table, a query stream, and LPM = deepest table
entry that prefixes the query.

Three lookup engines, all returning *exactly* the same answers:

- ``exact_lpm``: pure DataFrame formulation (explode candidate depths →
  broadcast join → max depth). The DuckDB-expressible oracle, mirroring
  the reference's FIB-only oracle (/root/reference/prototype/
  tests.py_bak:229-248).
- ``PathLPM.lookup(mode='linear')``: Bloom-probe every domain depth from
  deepest down with all k hashes, confirm hits in the exact FIB set
  (/root/reference/prototype/ipfilter.py:145-175 vectorized).
- ``PathLPM.lookup(mode='guided')``: descend the guide BST probing only
  hash 0; decode the best-matching-prefix *pointer* hidden in spare hash
  slots; validate with the remaining hashes + FIB; fall back to linear
  below the deepest hit on any inconsistency
  (/root/reference/prototype/ipfilter.py:184-238 vectorized,
  level-synchronous across each Arrow batch).

Build is the order-dependent reference algorithm
(/root/reference/prototype/ipfilter.py:78-122) re-derived as a two-pass
distributed job (SURVEY.md §7.3): membership/marker bits are
order-independent (OR-mergeable), and the BMP pointer of each prefix is
computed exactly via a self-join against *all* shorter prefixes — valid
because the reference's ascending insertion order guarantees every
candidate BMP precedes its descendants, so "filter so far" ≡ "complete
table at shorter depths" (invariant pinned at
/root/reference/prototype/ipfilter.py:67-69).

Exactness note: the reference can return a genuine-but-not-longest match
when false-positive noise corrupts the decoded pointer and the corrupted
hypothesis happens to be a real route (same failure mode it documents at
doc/tex/report.tex:288-305). We close that hole: an accepted hypothesis
h < hit additionally verifies the (h, hit] depth interval, so guided ≡
linear ≡ exact always — making the operator oracle-checkable — while
keeping the probe-count savings (the interval is almost always empty).

Key encoding: each (prefix, depth) route key hashes to ONE 64-bit value,
Spark's ``xxhash64``, which serves as both the Bloom hash base and the
FIB confirm key. A ``KeyDomain`` decides how that hash is formed and
where the probe computes it:

- the '/'-path domain (and any plain ``trunc`` callable) hashes
  ``xxhash64(depth, trunc(key, depth))`` JVM-side and ships 8 bytes per
  (row, depth) over Arrow — the Python kernel starts from ready-made
  hashes;
- the CIDR domains (``cidr.MaskDomain``) hash
  ``xxhash64(depth, masked int64 words)`` and ship only the raw address
  words, 8 or 16 bytes per row whatever the number of route depths; the
  kernel masks them per depth and runs a bit-exact numpy copy of the
  same hash (``hashing.spark_xxhash64``), so build (JVM) and probe
  (numpy) keys agree.

The FIB is a sorted uint64 array; its confirm is exact up to 64-bit
collisions between a probed non-route key and a stored route (expected
wrong rows ≈ n_routes·probes / 2^64 — under 3 per trillion probes at the
enforced 50M-route design bound (see build()'s assert); zero at any test
scale). Every such wrong answer necessarily names a (prefix, depth) that
is NOT in the route table, so ``lookup(..., exact_repair=routes)``
restores full exactness with one broadcast anti-join against the route
table plus an exact re-resolve of the (expected-empty) mismatch set.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ip_filter_spark.plans.obst import GuideTree
from ip_filter_spark.sketches.bloom import BloomFilter
SEP = "/"
# v3: CIDR keys hash masked int64 words (v2 hashed their decimal/hex
# strings; v1 shipped 16-byte sha256 digests). Same length as v2.
_MAGIC = b"IFLPM3"
_KERNEL_CHUNK = 8192


def _h64_expr(key_col, depth_col):
    """64-bit key hash of a (prefix, depth) pair, JVM-side — the analog
    of the reference's encoded key ``(len << b) + prefix``
    (prototype/utils.py:53-56). ``xxhash64`` is a native codegen
    expression (no sha2 rounds, no unhex/substring); the one value is
    the Kirsch–Mitzenmacher base for every Bloom probe AND the FIB
    confirm key (see module docstring for the collision bound and the
    ``exact_repair`` escape hatch)."""
    d = depth_col if hasattr(depth_col, "cast") else F.lit(depth_col)
    return F.xxhash64(d.cast("int"), key_col)


def _arrow_int64(arr) -> np.ndarray:
    """Arrow int64 array → uint64 numpy view, zero-copy when it has no
    nulls (a null reads as 0; the caller masks those rows)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.fill_null(0)
    return arr.to_numpy(zero_copy_only=False).view(np.uint64)


def _apply_insert_rows(bf: BloomFilter, b: pd.DataFrame) -> int:
    """Apply one batch of build insert rows (h64, kind, count_hit,
    pattern) to a filter: kind 0 = full route (all k hashes), 1 = guide
    marker (hash 0 only, not an item), 2 = BMP pointer pattern. Shared by
    the distributed partial builder and the driver-local small-table
    path — one code path, byte-identical filters."""
    if not len(b):
        return 0
    h64 = b["h64"].to_numpy().astype(np.int64, copy=False).view(np.uint64)
    kind = b["kind"].to_numpy()
    full = kind == 0
    if full.any():
        bf.insert_hashes(h64[full])
    mark = kind == 1
    if mark.any():
        bf.insert_hashes(h64[mark], hashes=[0])
        bf.n_items -= int(mark.sum())  # markers aren't items
    pat = kind == 2
    if pat.any():
        ch = b["count_hit"].to_numpy()[pat]
        pt = b["pattern"].to_numpy()[pat].astype(np.uint64)
        hp = h64[pat]
        for c in np.unique(ch):
            sel = ch == c
            bf.encode_pattern(hp[sel], start=int(c), patterns=pt[sel])
    return int(len(b))


def _trunc(path_col, depth):
    """First ``depth`` components of a path (depth: int or Column)."""
    d = depth if hasattr(depth, "cast") else F.lit(depth)
    return F.call_function("substring_index", path_col, F.lit(SEP), d.cast("int"))


def path_depth(path_col):
    return F.size(F.split(path_col, SEP))


def _stacked(K: np.ndarray) -> np.ndarray:
    return K


class KeyDomain:
    """A prefix domain: how a key truncates to a depth and how a (key,
    depth) pair becomes the 64-bit hash the filter and the FIB use.

    This base class is the string-key domain — '/'-paths by default, or
    any ``trunc(key_col, depth)`` callable: the JVM hashes
    ``xxhash64(depth, trunc(key, depth))`` and the probe ships those D
    hash columns, which the kernel just stacks. ``cidr.MaskDomain``
    overrides it for fixed-width addresses (module docstring)."""

    def __init__(self, trunc):
        self.trunc = trunc

    def __call__(self, key_col, depth):
        return self.trunc(key_col, depth)

    def route_hash(self, prefix_col, depth):
        """Hash of a route key, given in this domain's key form at its
        own depth (as ``exact_lpm`` and ``exact_repair`` also take it)."""
        return _h64_expr(prefix_col, depth)

    def key_hash(self, key_col, depth):
        """Hash of ``key_col`` truncated to ``depth``."""
        return _h64_expr(self(key_col, depth), depth)

    def probe(self, key_col, depths):
        """(int64 columns the probe ships per row, function turning an
        (n, c) uint64 matrix of them into the (n, D) key-hash matrix)."""
        return [self.key_hash(key_col, d) for d in depths], _stacked


def _domain(trunc) -> KeyDomain:
    return trunc if isinstance(trunc, KeyDomain) else KeyDomain(trunc or _trunc)


def derive_prefix_table(corpus: DataFrame, path_col: str = "path", max_depth: int = 3, every: int = 2) -> DataFrame:
    """Deterministic route table from corpus paths: all distinct depth-1/2
    truncations plus a hash-selected subset of deeper ones (so some
    queries hit deep routes, some shallow, some only the default)."""
    parts = []
    for d in range(1, max_depth + 1):
        t = corpus.select(_trunc(F.col(path_col), d).alias("prefix")).where(path_depth(F.col(path_col)) >= d).distinct()
        if d > 1:
            t = t.where((F.abs(F.xxhash64("prefix")) % every) == 0)
        parts.append(t.withColumn("depth", F.lit(d)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("prefix", "depth")


def exact_lpm(
    queries: DataFrame, prefix_df: DataFrame, path_col: str = "path", trunc=None, depth_guard: bool = None
) -> DataFrame:
    """Exact LPM via explode + broadcast join + groupBy max — the oracle.

    Scale shape: candidate explosion is bounded by the (small) distinct
    depth count; the join broadcasts the route table; one shuffle for the
    per-query max. Returns queries + (lpm_depth int, lpm_prefix string).

    ``trunc`` selects the prefix domain like ``PathLPM.build/lookup``
    (default '/'-path components). For non-path domains the path-depth
    candidate guard is skipped — fixed-width keys (masked IPs, hex) are
    truncatable at every route depth by construction.
    """
    trunc = trunc or _trunc
    if depth_guard is None:
        depth_guard = trunc is _trunc
    depths = [r.depth for r in prefix_df.select("depth").distinct().collect()]
    # __qid feeds two join branches; monotonically_increasing_id is
    # nondeterministic under recomputation (task retry / AQE replan), so
    # pin the ids with an eager localCheckpoint — recomputation then reads
    # the materialized blocks instead of re-assigning ids (ADVICE r1)
    qid = F.monotonically_increasing_id()
    q = queries.withColumn("__qid", qid).localCheckpoint(eager=True)
    cand = q.select(
        "__qid",
        F.col(path_col),
        F.explode(F.array(*[F.lit(d) for d in sorted(depths)])).alias("__d"),
    )
    if depth_guard:
        cand = cand.where(path_depth(F.col(path_col)) >= F.col("__d"))
    cand = cand.select("__qid", F.col("__d"), trunc(F.col(path_col), F.col("__d")).alias("__prefix"))
    joined = cand.join(
        F.broadcast(prefix_df.withColumnRenamed("prefix", "__prefix").withColumnRenamed("depth", "__d")),
        on=["__prefix", "__d"],
        how="inner",
    )
    best = joined.groupBy("__qid").agg(F.max("__d").alias("lpm_depth"))
    out = (
        q.join(best, on="__qid", how="left")
        .withColumn("lpm_depth", F.coalesce(F.col("lpm_depth"), F.lit(0)).cast("int"))
        .withColumn(
            "lpm_prefix",
            F.when(F.col("lpm_depth") > 0, trunc(F.col(path_col), F.col("lpm_depth"))).otherwise(F.lit(None)),
        )
        .drop("__qid")
    )
    return out


class PathLPM:
    """Immutable LPM engine: Bloom filter + guide tree + exact FIB set."""

    def __init__(
        self,
        bf: BloomFilter,
        tree: GuideTree,
        depths: list[int],
        fib: np.ndarray,  # (n_routes,) uint64 key hashes, sorted ascending
        enc_bits: int,
    ):
        self.bf = bf
        self.tree = tree
        self.depths = list(depths)  # sorted distinct route depths
        self.ix2len = [0] + self.depths
        self.len2ix = {l: i for i, l in enumerate(self.ix2len)}
        self.fib = fib
        self.enc_bits = enc_bits

    # ----------------------------------------------------------------- build
    @staticmethod
    def _share_weights(with_bmp: DataFrame, depths: list[int], base: float) -> list[float]:
        """Per-depth address/namespace-space share — the reference's
        ``weigh_by_prefix_range`` (/root/reference/data/obst.py:42-47)
        backed by its IPSet space stats (data/preprocess_bgp_tables.py:
        61-115), re-derived distributed: prefixes in a trie domain are
        nested-or-disjoint, so the TIGHT space of a prefix p (its span
        minus more-specific routes, which take precedence) is
        base^-len(p) - sum(base^-len(q)) over q whose immediate ancestor
        (BMP) is p. Two groupBys on the BMP table the build already has —
        no IPSet materialization. base=2 is exact for bit domains (CIDR);
        for '/'-path corpora it is the documented branching heuristic."""
        own = {
            int(r.depth): float(r.own)
            for r in with_bmp.groupBy("depth")
            .agg(F.sum(F.pow(F.lit(base), -F.col("depth").cast("double"))).alias("own"))
            .collect()
        }
        covered = {
            int(r.bmp_depth): float(r.cov)
            for r in with_bmp.where(F.col("bmp_depth") > 0)
            .groupBy("bmp_depth")
            .agg(F.sum(F.pow(F.lit(base), -F.col("depth").cast("double"))).alias("cov"))
            .collect()
        }
        return [max(own.get(d, 0.0) - covered.get(d, 0.0), 0.0) for d in depths]

    @staticmethod
    def required_k(n_depths: int, tree_height: int) -> tuple[int, int]:
        enc_bits = (n_depths + 1).bit_length()
        k = tree_height + enc_bits + 4
        return k, enc_bits

    @classmethod
    def build(
        cls,
        prefix_df: DataFrame,
        fpp: float = 1e-4,
        k: int | None = None,
        num_bits: int | None = None,
        weighting: str = "by_count",
        num_partitions: int = 32,
        bits_per_route: int | None = 40,
        share_base: float = 2.0,
        trunc=None,
        local_build_max_inserts: int = 1_000_000,
    ) -> "PathLPM":
        """Two-pass distributed guided build (see module docstring).

        The filter is sized at ``bits_per_route`` bits/route (40 by
        default) because hash-0 markers and pointer slots are only
        trustworthy in a sparse filter — the reference's own finding
        (its report, doc/tex/report.tex:548-569, 'keep it sparse').
        Note: 40 bits/route is NOT sparse on a deep table. Each route
        also sets hash 0 per right turn of its guide-tree walk plus a
        pointer pattern per turn, and k = tree height + enc_bits + 4. On
        ``perfbench``'s 3,000-route IPv4 table (19 depths, k=16) the
        measured fill is 0.33, so about 70 % of guided lookups
        fall back to the linear scan and a row costs about 147 bit
        probes. More bits per route would fix that at the price of a
        larger engine blob; the default is kept as is.

        ``trunc`` picks the prefix domain: a ``KeyDomain`` (the CIDR
        adapter passes ``cidr.ip4_trunc`` / ``cidr.ip6_trunc``) or a
        plain ``trunc(key_col, depth)`` callable returning the key
        truncated to that depth (int or Column). Default is '/'-path
        component truncation. The SAME trunc must be passed to
        ``lookup``.
        """
        dom = _domain(trunc)
        # the route table is consumed by ~6 separate actions below (stats,
        # BMP join, walk join, inserts, FIB collect); its lineage typically
        # contains a distinct() over the full corpus — cache it or every
        # action re-scans the corpus (measured 7x build-time difference)
        prefix_df = prefix_df.cache()
        stats_rows = prefix_df.groupBy("depth").count().orderBy("depth").collect()
        depths = [int(r.depth) for r in stats_rows]
        counts = [int(r["count"]) for r in stats_rows]
        n_routes = sum(counts)
        if not depths:
            # fail clearly here rather than as an opaque TypeError from
            # F.explode(structs) when structs is the empty list (ADVICE r2)
            raise ValueError("prefix_df is empty: cannot build an LPM filter from an empty route table")

        # exact BMP per route: deepest *strictly shorter* route that
        # prefixes it (the reference finds this against the filter-so-far,
        # ipfilter.py:98; sorted order makes the full-table self-join
        # equivalent — SURVEY.md §7.3). Computed before the guide tree
        # because the by_share weighting derives from it.
        cand = (
            prefix_df.withColumnRenamed("prefix", "p")
            .withColumn("__d", F.explode(F.array(*[F.lit(d) for d in depths])))
            .where(F.col("__d") < F.col("depth"))
            .select("p", "depth", "__d", dom(F.col("p"), F.col("__d")).alias("__prefix"))
        )
        bmp_join = cand.join(
            F.broadcast(prefix_df.select(F.col("prefix").alias("__prefix"), F.col("depth").alias("__d"))),
            on=["__prefix", "__d"],
            how="inner",
        ).groupBy("p", "depth").agg(F.max("__d").alias("bmp_depth"))
        with_bmp = prefix_df.withColumnRenamed("prefix", "p").join(bmp_join, on=["p", "depth"], how="left").withColumn(
            "bmp_depth", F.coalesce("bmp_depth", F.lit(0))
        )
        if weighting == "by_share":
            # by_share reads with_bmp twice (own/covered aggregations) on
            # top of the single-pass inserts job — cache it on this path
            with_bmp = with_bmp.cache()
            weights = cls._share_weights(with_bmp, depths, share_base)
        elif weighting == "by_count":
            weights = counts
        else:
            weights = [1.0] * len(depths)
        tree = GuideTree.from_weights(depths, weights)
        k_auto, enc_bits = cls.required_k(len(depths), tree.height())
        k = k or k_auto
        if num_bits is None and bits_per_route:
            num_bits = max(1024, bits_per_route * n_routes)

        # walk plans per route depth: right-turn nodes carry (node_val, count_hit)
        walk_rows = []
        walk_plan: dict[int, list[tuple[int, int]]] = {d: [] for d in depths}
        for L in depths:
            cnt = 0
            for v, turn in tree.walk(L):
                if turn == "R":
                    cnt += 1
                    walk_rows.append((L, v, cnt))
                    walk_plan[L].append((v, cnt))
        len2ix = {l: i for i, l in enumerate([0] + depths)}
        bmp_ix_expr = F.element_at(
            F.array(*[F.lit(len2ix.get(d, 0)) for d in [0] + depths]),
            F.coalesce(
                F.array_position(F.array(*[F.lit(d) for d in [0] + depths]), F.col("bmp_depth")), F.lit(1)
            ).cast("int"),
        )
        routes = with_bmp.withColumn("bmp_ix", bmp_ix_expr.cast("long"))

        # insert rows: kind 0 = full (all k hashes), 1 = marker (hash 0),
        # 2 = pointer pattern (hashes [count_hit, ...) encoding bmp_ix).
        # All three kinds are generated in ONE pass over the route table:
        # the walk plan is a per-depth literal, so each route explodes
        # into [full] + [marker per right-turn] + [pattern per right-turn
        # if it has a BMP] with no unions and no walk-table join (three
        # union branches each re-ran the BMP join's shuffle — measured
        # ~2.5 s of pure stage latency at 1k routes).
        def _ins(h64, kind, count_hit, pattern):
            return F.struct(
                h64.alias("h64"),
                F.lit(kind).cast("int").alias("kind"),
                (count_hit if hasattr(count_hit, "cast") else F.lit(count_hit)).cast("int").alias("count_hit"),
                (pattern if hasattr(pattern, "cast") else F.lit(pattern)).cast("long").alias("pattern"),
            )

        # each Column op is a py4j round trip, and at small table sizes
        # building this expression takes longer than running
        # it: build every distinct hash expression once and share it
        # across the depth branches. The full-route hash takes the
        # branch's literal depth (same value: the branch holds depth == d)
        p, bmp_ix, empty = F.col("p"), F.col("bmp_ix"), F.array().cast(
            "array<struct<h64:bigint,kind:int,count_hit:int,pattern:bigint>>"
        )
        key_at = {v: dom.key_hash(p, v) for v in {v for _d, v, _c in walk_rows}}

        def _for_depth(d: int):
            full = [_ins(dom.route_hash(p, d), 0, 0, 0)]
            markers = [_ins(key_at[v], 1, 0, 0) for v, _c in walk_plan[d]]
            pat_rows = [_ins(key_at[v], 2, c, bmp_ix) for v, c in walk_plan[d]]
            pats = F.when(bmp_ix > 0, F.array(*pat_rows) if pat_rows else empty).otherwise(empty)
            return F.concat(F.array(*full, *markers), pats)

        structs = depths and F.when(F.col("depth") == depths[0], _for_depth(depths[0]))
        for d in depths[1:]:
            structs = structs.when(F.col("depth") == d, _for_depth(d))
        inserts_plan = routes.select(F.explode(structs).alias("r")).select("r.*")

        bf_params = dict(fpp=fpp, n=max(n_routes, 1), k=k, num_bits=num_bits)

        # adaptive build strategy (same idea as Spark choosing a broadcast
        # join for a small side): the insert count is known exactly from
        # the per-depth stats + walk plans, so a driver-sized insert set
        # skips the distributed partials job entirely — one toPandas + one
        # numpy pass instead of shuffle + python stage + merge stage
        # (measured ~4.5 s of fixed job cost at 1k routes). Large tables
        # take the distributed partials → tree_merge path unchanged.
        rturns = {d: 0 for d in depths}
        for d, _v, _c in walk_rows:
            rturns[d] += 1
        n_markers = sum(c * rturns[d] for d, c in zip(depths, counts))
        n_inserts_max = n_routes + 2 * n_markers  # patterns <= markers
        fib_h64 = None
        if n_inserts_max <= local_build_max_inserts:
            pdf = inserts_plan.toPandas()
            bf = BloomFilter(**bf_params)
            _apply_insert_rows(bf, pdf)
            # the kind-0 (full) insert rows ARE the per-route key hashes,
            # one per route — reuse them as the FIB instead of running a
            # separate collect action (r6: each extra driver action on a
            # small build is ~0.3-0.5 s of pure stage latency)
            fib_h64 = pdf.loc[pdf["kind"] == 0, "h64"].to_numpy()
            assert len(fib_h64) == n_routes, (len(fib_h64), n_routes)
        else:
            # OR-merge the partial filters through the engine's
            # hierarchical tree_merge — O(P * blob) bytes over the
            # cluster, nothing byte-merged serially on the driver
            # (round-1 collected every blob and looped; fine at 539k
            # routes, a driver wall at 100x that — VERDICT #4)
            from ip_filter_spark.engine import SKETCH_ROW_SCHEMA, tree_merge
            from ip_filter_spark.sketches import from_bytes

            inserts = inserts_plan.repartition(num_partitions)

            def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                from pyspark import TaskContext

                bf = BloomFilter(**bf_params)
                rows_seen = 0
                for b in batches:
                    rows_seen += _apply_insert_rows(bf, b)
                yield pd.DataFrame(
                    {
                        "name": [bf.NAME],
                        "params": [bf.params_json()],
                        "payload": [bf.to_bytes()],
                        "n_items": [int(bf.n_items)],
                        "partition_id": [TaskContext.get().partitionId()],
                        "rows_seen": [rows_seen],
                        "wall_ms": [0.0],
                        "params_hash": ["lpm_filter"],
                    }
                )

            partials = inserts.mapInPandas(build_partials, schema=SKETCH_ROW_SCHEMA)
            merged = tree_merge(partials, num_partials=num_partitions).collect()
            assert len(merged) == 1
            bf = from_bytes(bytes(merged[0].payload))

        # FIB key hashes do come to the driver: 8 B/route — 6 MB at 750k
        # routes, ~400 MB at the 50M-route design bound; the confirm set must live
        # wherever probes run, so it is bounded by design. Assert the
        # documented bound rather than failing opaquely later.
        assert n_routes <= 50_000_000, (
            f"FIB of {n_routes} routes exceeds the broadcastable design bound; "
            "shard the route table per depth-1 prefix and build one engine per shard"
        )
        if fib_h64 is None:
            fib_h64 = prefix_df.select(
                dom.route_hash(F.col("prefix"), F.col("depth")).alias("h")
            ).toPandas()["h"].to_numpy()
        fib = np.sort(fib_h64.astype(np.int64, copy=False).view(np.uint64))
        if weighting == "by_share":
            with_bmp.unpersist()
        prefix_df.unpersist()
        return cls(bf, tree, depths, fib, enc_bits)

    # --------------------------------------------------------------- helpers
    def _fib_contains(self, h: np.ndarray) -> np.ndarray:
        """Membership of uint64 key hashes in the sorted FIB array — one
        searchsorted + equality gather (see module docstring for the
        64-bit collision bound and the exact_repair escape hatch)."""
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        pos = np.searchsorted(self.fib, h, side="left")
        in_range = pos < len(self.fib)
        out = np.zeros(len(h), dtype=bool)
        out[in_range] = self.fib[pos[in_range]] == h[in_range]
        return out

    def _probe_slots(self, h64: np.ndarray, slots: np.ndarray) -> np.ndarray:
        """Gather filter bits for per-row slot matrices (n, s)."""
        h1 = h64 & np.uint64(0xFFFFFFFF)
        h2 = (h64 >> np.uint64(32)) | np.uint64(1)
        with np.errstate(over="ignore"):
            ix = (h1[:, None] + slots.astype(np.uint64) * h2[:, None]) % np.uint64(self.bf.m)
        byte = self.bf.bits[(ix >> 3).astype(np.int64)]
        return (byte >> (ix & np.uint64(7)).astype(np.uint8)) & np.uint8(1)

    # ---------------------------------------------------------------- lookup
    def lookup(
        self,
        df: DataFrame,
        path_col: str = "path",
        mode: str = "guided",
        trunc=None,
        exact_repair: DataFrame | None = None,
    ) -> DataFrame:
        """Batch LPM: returns df + (lpm_depth, lpm_prefix, bit_lookups,
        fib_probes, fell_back). The blob+tree+FIB broadcast once; each
        Arrow batch is probed with pure numpy matrix ops.

        Python stage is ``mapInArrow``, not ``mapInPandas``: passthrough
        columns are re-emitted as the SAME Arrow arrays (zero copy — a
        wide corpus row never materializes as pandas objects). The key
        columns the domain ships (``KeyDomain.probe``: D JVM hashes for
        '/'-paths, the raw address words for CIDR) are int64 Arrow
        buffers viewed as one uint64 matrix with no copy; the domain's
        batch function turns each kernel chunk of it into the (n, D)
        key-hash matrix.

        ``trunc`` must match the one the engine was built with (see
        ``build``). ``exact_repair``: pass the route table (prefix,
        depth) to close the FIB's 64-bit collision window — answers are
        verified with a broadcast anti-join and the (expected-empty)
        mismatch set is re-resolved exactly; see module docstring."""
        assert mode in ("guided", "linear")
        dom = _domain(trunc)
        spark = df.sparkSession
        payload = self.to_bytes()
        bc = spark.sparkContext.broadcast(payload)

        # flat LongType columns, NOT array<bigint>: a nested list column
        # materializes per-row list cells plus a worker-side unpack —
        # flat int64 buffers arrive kernel-ready (the numpy kernel runs
        # ~1M rows/s/core)
        key_exprs, to_hashes = dom.probe(F.col(path_col), self.depths)
        kcols = [f"__k{j}" for j in range(len(key_exprs))]
        src = df.withColumns(dict(zip(kcols, key_exprs)))
        keep = [f for f in src.schema.fields if f.name not in kcols]
        names = [f.name for f in keep]
        out_schema = StructType(
            keep
            + [
                StructField("lpm_depth", IntegerType(), False),
                StructField("bit_lookups", LongType(), False),
                StructField("fib_probes", LongType(), False),
                StructField("fell_back", BooleanType(), False),
            ]
        )
        mode_guided = mode == "guided"

        def run(batches):
            import pyarrow as pa

            eng = PathLPM.from_bytes(bc.value)
            out_names = names + ["lpm_depth", "bit_lookups", "fib_probes", "fell_back"]
            for b in batches:
                nb = b.num_rows
                passthrough = [b.column(b.schema.get_field_index(nm)) for nm in names]
                if nb == 0:
                    ans = np.zeros(0, dtype=np.int64)
                    bits, fibp = ans, ans
                    fell = np.zeros(0, dtype=bool)
                else:
                    karrs = [b.column(b.schema.get_field_index(hc)) for hc in kcols]
                    K = np.column_stack([_arrow_int64(a) for a in karrs])
                    # kernel sub-chunks: one Arrow batch can be 64k+ rows
                    # (transfer-efficient), but the kernel's temporaries
                    # (hash/slot/hit matrices) scale with rows x depths —
                    # at 64k rows they spill to DRAM, and concurrent
                    # probe workers then fight for the one memory bus
                    # (streaming bandwidth on a shared box saturates at
                    # ~4 active cores). 8k-row sub-chunks keep the
                    # working set L2-resident; answers are row-local so
                    # chunking cannot change them.
                    kern = eng._lookup_batch_guided if mode_guided else eng._lookup_batch_linear
                    parts = [
                        kern(to_hashes(K[s : s + _KERNEL_CHUNK]))
                        for s in range(0, nb, _KERNEL_CHUNK)
                    ]
                    ans, bits, fibp, fell = (np.concatenate(x) for x in zip(*parts))
                    # a null key column (null address, or one the domain
                    # cannot parse) is a miss, as in ``exact_lpm``
                    for a in karrs:
                        if a.null_count:
                            ans[a.is_null().to_numpy(zero_copy_only=False)] = 0
                yield pa.RecordBatch.from_arrays(
                    passthrough
                    + [
                        pa.array(ans.astype(np.int32)),
                        pa.array(bits.astype(np.int64)),
                        pa.array(fibp.astype(np.int64)),
                        pa.array(fell),
                    ],
                    names=out_names,
                )

        out = src.mapInArrow(run, schema=out_schema)
        out = out.withColumn(
            "lpm_prefix",
            F.when(F.col("lpm_depth") > 0, dom(F.col(path_col), F.col("lpm_depth"))).otherwise(F.lit(None)),
        )
        if exact_repair is not None:
            out = self._repair_collisions(out, exact_repair, path_col, trunc)
        return out

    def _repair_collisions(self, out: DataFrame, routes: DataFrame, path_col: str, trunc) -> DataFrame:
        """Close the 64-bit FIB window exactly: every collision-corrupted
        answer names a (lpm_prefix, lpm_depth) NOT in the route table
        (module docstring), so a broadcast anti-join isolates the
        (expected-empty) mismatch set and ``exact_lpm`` re-resolves just
        those rows against the same routes. Verified rows pass through
        untouched; kernel metric columns are kept on repaired rows."""
        # materialize the probe output ONCE: the three-way split below
        # references it three times (depth==0 branch, semi 'ok', anti
        # 'bad'), which re-ran the whole mapInArrow probe stage ~3x
        # (ADVICE r5); the eager localCheckpoint pins one computation
        out = out.localCheckpoint(eager=True)
        rt = F.broadcast(
            routes.select(F.col("prefix").alias("__rp"), F.col("depth").cast("int").alias("__rd"))
        )
        claimed = out.where(F.col("lpm_depth") > 0)
        ok = claimed.join(
            rt,
            (F.col("lpm_prefix") == F.col("__rp")) & (F.col("lpm_depth") == F.col("__rd")),
            "left_semi",
        )
        bad = claimed.join(
            rt,
            (F.col("lpm_prefix") == F.col("__rp")) & (F.col("lpm_depth") == F.col("__rd")),
            "left_anti",
        )
        # collision mismatches are expected EMPTY (~5 wrong rows per
        # trillion probes); skip the exact re-resolve entirely then —
        # exact_lpm otherwise runs an unconditional localCheckpoint +
        # depth collect + join chain per call (ADVICE r5)
        if bad.isEmpty():
            return out.where(F.col("lpm_depth") == 0).unionByName(ok)
        fixed = exact_lpm(
            bad.drop("lpm_depth", "lpm_prefix"), routes, path_col=path_col, trunc=trunc
        ).select(*out.columns)
        return out.where(F.col("lpm_depth") == 0).unionByName(ok).unionByName(fixed)

    # ------------------------------------------------------- batch kernels
    def _scan_below(
        self, H: np.ndarray, rows: np.ndarray, cap_col: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Vectorized linear scan: for each row in ``rows``, find the deepest
        domain depth with column index <= cap_col whose key passes all k
        Bloom hashes AND the exact FIB — the reference's linear fallback
        (/root/reference/prototype/ipfilter.py:145-159) batched.
        Returns (answer_depth, bit_lookups, fib_probes) per row."""
        D = len(self.depths)
        k = self.bf.k
        nr = len(rows)
        if nr == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        hsub = H[rows]  # (nr, D)
        slots = np.arange(k, dtype=np.uint64)
        hit_all = np.ones((nr, D), dtype=bool)
        bitcount = np.zeros(nr, dtype=np.int64)
        valid = np.arange(D)[None, :] <= cap_col[:, None]
        for j in range(D):
            act = valid[:, j]
            if not act.any():
                continue
            bitsj = self._probe_slots(hsub[act, j], np.broadcast_to(slots, (int(act.sum()), k)))
            hit_all[act, j] = bitsj.all(axis=1)
            # branchless batch probe: count all k per candidate (upper bound;
            # scalar early-exit doesn't vectorize)
            bitcount[act] += k
        hit_all &= valid
        # FIB-confirm bloom hits, deepest first
        ans = np.zeros(nr, dtype=np.int64)
        fibp = np.zeros(nr, dtype=np.int64)
        unresolved = np.ones(nr, dtype=bool)
        for j in range(D - 1, -1, -1):
            chk = unresolved & hit_all[:, j]
            if not chk.any():
                continue
            rows_chk = np.nonzero(chk)[0]
            ok = self._fib_contains(hsub[rows_chk, j])
            fibp[rows_chk] += 1
            got = rows_chk[ok]
            ans[got] = self.depths[j]
            unresolved[got] = False
        return ans, bitcount, fibp

    def _lookup_batch_linear(self, H: np.ndarray):
        n = H.shape[0]
        cap = np.full(n, len(self.depths) - 1, dtype=np.int64)
        ans, bits, fibp = self._scan_below(H, np.arange(n), cap)
        return ans, bits, fibp, np.zeros(n, dtype=bool)

    def _lookup_batch_guided(self, H: np.ndarray):
        n, D = H.shape
        tree, bf = self.tree, self.bf
        col_of_val = {int(v): j for j, v in enumerate(self.depths)}
        node_col = np.array([col_of_val[int(v)] for v in tree.val], dtype=np.int64)

        cur = np.full(n, tree.root, dtype=np.int64)
        count_hit = np.zeros(n, dtype=np.int64)
        hit_col = np.full(n, -1, dtype=np.int64)
        bits_used = np.zeros(n, dtype=np.int64)

        # level-synchronous BST descent probing hash 0 only
        # (/root/reference/prototype/ipfilter.py:195-203)
        while True:
            active = cur >= 0
            if not active.any():
                break
            rows = np.nonzero(active)[0]
            cols = node_col[cur[rows]]
            h = H[rows, cols]
            bit0 = self._probe_slots(h, np.zeros((len(rows), 1), dtype=np.uint64))[:, 0].astype(bool)
            bits_used[rows] += 1
            count_hit[rows[bit0]] += 1
            hit_col[rows[bit0]] = cols[bit0]
            nxt = np.where(bit0, tree.right[cur[rows]], tree.left[cur[rows]])
            cur[rows] = nxt

        ans = np.zeros(n, dtype=np.int64)
        fibp = np.zeros(n, dtype=np.int64)
        fell = np.zeros(n, dtype=bool)
        hit_rows = np.nonzero(hit_col >= 0)[0]
        if len(hit_rows) == 0:
            return ans, bits_used, fibp, fell

        E = self.enc_bits
        k = bf.k
        depths_arr = np.array(self.depths, dtype=np.int64)
        ix2len_arr = np.array(self.ix2len, dtype=np.int64)

        # decode the BMP pointer from slots [count_hit, count_hit+E)
        hh = H[hit_rows, hit_col[hit_rows]]
        slot0 = count_hit[hit_rows]
        slots = slot0[:, None] + np.arange(E, dtype=np.int64)[None, :]
        ptr_bits = self._probe_slots(hh, slots)
        bits_used[hit_rows] += E
        bmp_ix = (ptr_bits.astype(np.int64) * (1 << np.arange(E, dtype=np.int64))[None, :]).sum(axis=1)

        hit_depth = depths_arr[hit_col[hit_rows]]
        all_ones = bmp_ix == (1 << E) - 1
        valid_ix = bmp_ix < len(ix2len_arr)
        hyp_depth = np.where(valid_ix, ix2len_arr[np.clip(bmp_ix, 0, len(ix2len_arr) - 1)], hit_depth)
        hyp_depth = np.where(all_ones, hit_depth, hyp_depth)

        # candidate accept: hypothesis must exist (depth>0) and be
        # self (all-ones) or strictly shorter (ipfilter.py:227)
        cand = (all_ones | (hyp_depth < hit_depth)) & (hyp_depth > 0)
        accepted = np.zeros(len(hit_rows), dtype=bool)
        if cand.any():
            c = np.nonzero(cand)[0]
            hyp_col = np.searchsorted(depths_arr, hyp_depth[c])
            hch = H[hit_rows[c], hyp_col]
            # remaining validation hashes [count_hit+E, k) (ipfilter.py:228-230)
            width = k - (slot0[c] + E)
            maxw = int(width.max()) if len(width) else 0
            ok = np.ones(len(c), dtype=bool)
            if maxw > 0:
                vs = (slot0[c] + E)[:, None] + np.arange(maxw, dtype=np.int64)[None, :]
                vbits = self._probe_slots(hch, vs)
                in_range = np.arange(maxw)[None, :] < width[:, None]
                ok = (vbits.astype(bool) | ~in_range).all(axis=1)
                bits_used[hit_rows[c]] += width
            # exact FIB confirm (ipfilter.py:231)
            fib_ok = self._fib_contains(H[hit_rows[c], hyp_col])
            fibp[hit_rows[c]] += 1
            accept = ok & fib_ok
            accepted[c] = accept
            acc = c[accept]
            ans[hit_rows[acc]] = hyp_depth[acc]
            # exactness patch: verify nothing deeper in (hyp, hit]
            gap = acc[hyp_depth[acc] < hit_depth[acc]]
            if len(gap):
                cap_col = hit_col[hit_rows[gap]]
                lo_col = np.searchsorted(depths_arr, hyp_depth[gap])
                deeper, gb, gf = self._scan_interval(H, hit_rows[gap], lo_col, cap_col)
                bits_used[hit_rows[gap]] += gb
                fibp[hit_rows[gap]] += gf
                upd = deeper > 0
                ans[hit_rows[gap[upd]]] = deeper[upd]

        # fallback: linear scan strictly below the deepest hit
        # (ipfilter.py:234-236)
        fb = np.nonzero(~accepted)[0]
        if len(fb):
            fell[hit_rows[fb]] = True
            cap_col = hit_col[hit_rows[fb]] - 1
            has = cap_col >= 0
            fbh = fb[has]
            if len(fbh):
                a2, b2, f2 = self._scan_below(H, hit_rows[fbh], cap_col[has])
                ans[hit_rows[fbh]] = a2
                bits_used[hit_rows[fbh]] += b2
                fibp[hit_rows[fbh]] += f2
        return ans, bits_used, fibp, fell

    def _scan_interval(self, H, rows, lo_col, cap_col):
        """FIB-backed scan of domain columns in (lo_col, cap_col]."""
        D = len(self.depths)
        nr = len(rows)
        ans = np.zeros(nr, dtype=np.int64)
        bits = np.zeros(nr, dtype=np.int64)
        fibp = np.zeros(nr, dtype=np.int64)
        unresolved = np.ones(nr, dtype=bool)
        k = self.bf.k
        slots = np.arange(k, dtype=np.uint64)
        for j in range(D - 1, -1, -1):
            act = unresolved & (lo_col < j) & (j <= cap_col)
            if not act.any():
                continue
            r = np.nonzero(act)[0]
            bj = self._probe_slots(H[rows[r], j], np.broadcast_to(slots, (len(r), k)))
            bits[r] += k
            hit = bj.all(axis=1)
            hr = r[hit]
            if len(hr):
                ok = self._fib_contains(H[rows[hr], j])
                fibp[hr] += 1
                got = hr[ok]
                ans[got] = self.depths[j]
                unresolved[got] = False
        return ans, bits, fibp

    # ------------------------------------------------------------ serialization
    def to_bytes(self) -> bytes:
        meta = {
            "depths": self.depths,
            "enc_bits": self.enc_bits,
            "bf_params": self.bf._params(),
            "bf_n_items": self.bf.n_items,
            "root": self.tree.root,
        }
        mj = json.dumps(meta, separators=(",", ":")).encode()
        arrs = [
            self.bf.bits,
            self.tree.val.astype(np.int64),
            self.tree.left.astype(np.int64),
            self.tree.right.astype(np.int64),
            np.ascontiguousarray(self.fib),
        ]
        head = [_MAGIC, struct.pack("<I", len(mj)), mj, struct.pack("<I", len(arrs))]
        for a in arrs:
            head.append(struct.pack("<cI", a.dtype.char.encode(), a.shape[0]))
            head.append(struct.pack("<I", a.shape[1] if a.ndim > 1 else 0))
            head.append(a.tobytes())
        return b"".join(head)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "PathLPM":
        if blob[: len(_MAGIC)] != _MAGIC:
            if blob[:5] == b"IFLPM":
                raise ValueError(
                    f"incompatible PathLPM blob version {blob[:6]!r}: this build "
                    f"reads {_MAGIC.decode()} (xxhash64 keys, CIDR keys over masked "
                    "int64 words); rebuild the engine from its route table"
                )
            raise ValueError("not a PathLPM blob")
        off = len(_MAGIC)
        (mlen,) = struct.unpack_from("<I", blob, off)
        off += 4
        meta = json.loads(blob[off : off + mlen])
        off += mlen
        (n_arr,) = struct.unpack_from("<I", blob, off)
        off += 4
        arrs = []
        for _ in range(n_arr):
            ch, n0 = struct.unpack_from("<cI", blob, off)
            off += 5
            (n1,) = struct.unpack_from("<I", blob, off)
            off += 4
            dt = np.dtype(ch.decode())
            count = n0 * (n1 if n1 else 1)
            a = np.frombuffer(blob[off : off + count * dt.itemsize], dtype=dt)
            if n1:
                a = a.reshape(n0, n1)
            arrs.append(a.copy())
            off += count * dt.itemsize
        bp = meta["bf_params"]
        bf = BloomFilter(fpp=bp["fpp"], n=bp["expected_n"], k=bp["k"], num_bits=bp["m"], _bits=arrs[0])
        bf.n_items = meta["bf_n_items"]
        tree = GuideTree(arrs[1], arrs[2], arrs[3], meta["root"])
        return cls(bf, tree, meta["depths"], arrs[4], meta["enc_bits"])
