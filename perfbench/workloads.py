"""The benchmark's workloads.

Each workload stages seeded inputs as parquet under its data directory,
builds whatever index its jobs need, and then runs one *job* at a time:
a closed loop with the driver thread as the single client. A job drives
the library only through its public functions and returns an answer that
``check`` compares, off the clock, with oracles computed once per run.

Every workload provides:

- ``setup()``: stage inputs and build indexes; returns per-layer timings.
- ``prepare_oracles()``: exact answers, computed off the clock.
- ``job()`` / ``traced_job(tracer)``: one unit of measured work. The traced
  form materialises each lazy layer on its own inside a span.
- ``check(answer)``: names of the checks the answer fails (empty = correct).
- ``corruptions(answer)``: (check name, corrupted answer) pairs; the
  self-test requires every one of them to fail exactly that check.
- ``accuracy(answer)``, ``layer_counts(answer)``, ``micro()``: the
  per-layer numbers that do not come from spans or the Spark event log.
"""

from __future__ import annotations

import copy
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from ip_filter_spark import engine
from ip_filter_spark.operators import cidr
from ip_filter_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
from ip_filter_spark.plans.obst import GuideTree
from ip_filter_spark.sketches import from_bytes, make_sketch
from ip_filter_spark.sketches.hashing import digests_to_matrix, fnv1a64, key_digest
from ip_filter_spark.sources.corpus import synthesize_corpus

QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
N_FILES = 4  # parquet files per staged table: one scan task per core at local[4]
N_ABSENT = 100_000  # held-out keys probed for the Bloom false-positive rate
DEDUP_THRESHOLD = 0.7


def _now() -> float:
    return time.perf_counter()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _h64(keys) -> np.ndarray:
    """Driver-side replica of the library's key hash: fnv1a64 over the
    truncated sha256 digest (the JVM computes the same digest)."""
    return fnv1a64(digests_to_matrix([key_digest(k) for k in keys]))


def _rank_err(sorted_vals: np.ndarray, x: float, q: float) -> float:
    """Rank error of the estimate ``x`` of the q-quantile of discrete data:
    the distance from q to the exact rank interval [P(v < x), P(v <= x)]
    of the nearer data value on either side of x. Ties make the interval
    wide, and an interpolated estimate between two adjacent data values
    counts as either of them."""
    n = len(sorted_vals)
    i = int(np.searchsorted(sorted_vals, x, side="left"))
    near = {sorted_vals[min(i, n - 1)], sorted_vals[max(i - 1, 0)]}

    def err(v):
        lo = np.searchsorted(sorted_vals, v, side="left") / n
        hi = np.searchsorted(sorted_vals, v, side="right") / n
        return max(lo - q, q - hi, 0.0)

    return float(min(err(v) for v in near))


def exact_jaccard_pairs(texts: list[str], threshold: float, n: int = 3) -> set[tuple[int, int]]:
    """All (i, j), i < j, whose distinct whitespace-token n-gram shingle sets
    have Jaccard >= threshold (rounded to 6 places, as the library's exact
    operators do). Driver-side and independent of Spark: candidates come
    from an inverted index over shingles, and every candidate is scored."""
    sets = []
    for t in texts:
        toks = t.split()
        if len(toks) < n:
            sets.append({" ".join(toks)})
        else:
            sets.append({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
    postings: dict[str, list[int]] = {}
    for i, sh in enumerate(sets):
        for x in sh:
            postings.setdefault(x, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for ids in postings.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                key = (ids[a], ids[b])
                shared[key] = shared.get(key, 0) + 1
    return {
        (a, b) for (a, b), k in shared.items()
        if round(k / (len(sets[a]) + len(sets[b]) - k), 6) >= threshold
    }


def _median_time(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = _now()
        fn()
        out.append(_now() - t0)
    return float(np.median(out))


def sketch_micro(specs, h64: np.ndarray, values: np.ndarray) -> dict:
    """In-process timings of each sketch the workload builds, on the
    workload's own hash and value arrays (the ``sketches`` layer)."""
    out = {}
    half = len(h64) // 2

    def feed(sk, lo, hi):
        if sk.NAME in ("kll", "tdigest"):
            sk.update_values(values[lo:hi])
        else:
            sk.update_hashes(h64[lo:hi])
        return sk

    for spec in specs:
        name, n = spec.sketch, len(values) if spec.sketch in ("kll", "tdigest") else len(h64)
        p = f"sketches.{name}"
        out[f"{p}.update_ns_per_row"] = _median_time(lambda: feed(make_sketch(name, **spec.params), 0, n)) / n * 1e9
        a_blob = feed(make_sketch(name, **spec.params), 0, half).to_bytes()
        b_blob = feed(make_sketch(name, **spec.params), half, n).to_bytes()
        merge_t = []
        for _ in range(3):
            a, b = from_bytes(a_blob), from_bytes(b_blob)
            t0 = _now()
            a.merge(b)
            merge_t.append(_now() - t0)
        out[f"{p}.merge_ms"] = float(np.median(merge_t)) * 1e3
        full = a
        out[f"{p}.to_bytes_ms"] = _median_time(full.to_bytes) * 1e3
        blob = full.to_bytes()
        out[f"{p}.from_bytes_ms"] = _median_time(lambda: from_bytes(blob)) * 1e3
        out[f"{p}.blob_bytes"] = len(blob)
        if name == "bloom":
            out["sketches.bloom.contains_ns_per_row"] = _median_time(lambda: full.contains_hashes(h64)) / len(h64) * 1e9
    return out


def hashing_micro(digests: list) -> dict:
    mat = digests_to_matrix(digests)
    n = len(digests)
    return {
        "sketches.hashing.digests_to_matrix_ns_per_row": _median_time(lambda: digests_to_matrix(digests)) / n * 1e9,
        "sketches.hashing.fnv1a64_ns_per_row": _median_time(lambda: fnv1a64(mat)) / n * 1e9,
    }


def _sample_digests(df, col: str, n: int) -> tuple[list, np.ndarray]:
    """JVM-computed key digests and ``length(col)`` of the first ``n`` rows."""
    pdf = df.limit(n).select(engine.sha256_digest(F.col(col)).alias("d"), F.length(col).alias("v")).toPandas()
    return [bytes(d) for d in pdf["d"]], pdf["v"].to_numpy(dtype=np.float64)


def _first_shuffle_rows(df) -> int:
    """Rows written by the topmost shuffle in the executed plan of ``df``'s
    last action, read from the plan's own metrics (through adaptive query
    stages)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Exchange":
            return int(node.metrics().apply("shuffleRecordsWritten").value())
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
    return 0


class Workload:
    name = ""
    rows_per_job = 0

    def __init__(self, spark, seed: int, data_dir: str):
        self.spark = spark
        self.seed = seed
        self.data_dir = data_dir

    def _stage(self, pdf_or_df, name: str, files: int = N_FILES):
        df = pdf_or_df if hasattr(pdf_or_df, "write") else self.spark.createDataFrame(pdf_or_df)
        path = os.path.join(self.data_dir, name)
        df.repartition(files).write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])


# ----------------------------------------------------------------------------
class CorpusIngest(Workload):
    """A batch of code files arrives and is sketched, probed against the base
    corpus, sketched per repo and de-duplicated.

    The base corpus comes from ``synthesize_corpus``; a Bloom filter over its
    ``sha256(content)`` is built in set-up. The batch mixes exact copies of
    base rows (already seen) with fresh documents over a large vocabulary,
    some of which are planted near-duplicates of each other. One job runs,
    in order: the global five-sketch ``build_and_merge`` over the batch,
    ``probe_membership`` against the base Bloom filter, a per-repo HLL
    through ``build_keyed_sketches`` over Zipf-skewed repos, and
    ``minhash_lsh_pairs``.
    """

    name = "corpus_ingest"
    N_BASE = 30_000
    N_BATCH = 5_000
    N_REPOS = 8
    SEEN_FRAC = 0.3
    BASE_FPP = 1e-2
    BATCH_FPP = 1e-3

    def setup(self) -> dict:
        t0 = _now()
        self.base = self._stage(synthesize_corpus(self.spark, self.N_BASE, n_repos=self.N_REPOS, seed=self.seed), "base")
        t_syn = _now() - t0
        t0 = _now()
        rng = self.rng(1)
        n_seen = int(self.N_BATCH * self.SEEN_FRAC)
        seen = (
            self.base.select("repo", "content")
            .orderBy(F.xxhash64("path", "content", F.lit(self.seed)))
            .limit(n_seen)
            .toPandas()
        )
        fresh = gen.near_dup_docs(rng, self.N_BATCH - n_seen, dup_frac=0.2)
        # Zipf-skewed repo sizes: a few repos hold most of the fresh files
        repo = np.minimum(rng.zipf(1.6, size=len(fresh)), self.N_REPOS) - 1
        order = rng.permutation(self.N_BATCH)
        pdf = pd.DataFrame({
            "repo": seen["repo"].tolist() + [f"repo-{r}" for r in repo],
            "content": seen["content"].tolist() + fresh,
        }).iloc[order].reset_index(drop=True)
        pdf.insert(0, "id", np.arange(self.N_BATCH, dtype=np.int64))
        self.seen_ids = set(np.flatnonzero(order < n_seen).tolist())
        self.batch_pdf = pdf
        self.batch = self._stage(pdf, "batch")
        t_batch = _now() - t0
        t0 = _now()
        bloom_spec = engine.SketchSpec("bloom", {"fpp": self.BASE_FPP, "n": self.N_BASE})
        self.base_bloom = engine.build_and_merge(self.base, [bloom_spec], key="content")[bloom_spec.key()]
        t_bloom = _now() - t0
        self.specs = [
            engine.SketchSpec("bloom", {"fpp": self.BATCH_FPP, "n": self.N_BATCH}),
            engine.SketchSpec("hll", {"p": 14}),
            engine.SketchSpec("cms", {"eps": 1e-4, "delta": 1e-3}),
            engine.SketchSpec("kll", {"k": 200}, on="value"),
            engine.SketchSpec("tdigest", {"delta": 200.0}, on="value"),
        ]
        self.keyed_spec = engine.SketchSpec("hll", {"p": 12})
        self.rows_per_job = self.N_BATCH
        return {"corpus.synthesize_s": t_syn, "setup.inputs_s": t_syn + t_batch, "engine.base_bloom_s": t_bloom}

    def _keys(self):
        return [s.key() for s in self.specs]

    def prepare_oracles(self) -> dict:
        pdf = self.batch_pdf.assign(length=self.batch_pdf["content"].str.len().astype(np.float64))
        counts = pdf["content"].value_counts()
        self.distinct = len(counts)
        top = counts.sort_values(ascending=False, kind="stable").head(20)
        self.top_h64, self.top_counts = _h64(top.index.tolist()), top.to_numpy()
        self.present_h64 = _h64(counts.index.tolist())
        self.absent_h64 = _h64([f"absent-{self.seed}-{i}" for i in range(N_ABSENT)])
        self.lengths = np.sort(pdf["length"].to_numpy())
        g = pdf.groupby("repo")
        self.repo_distinct = g["content"].nunique().to_dict()
        self.repo_rows = g.size().to_dict()
        self.exact_pairs = exact_jaccard_pairs(pdf["content"].tolist(), DEDUP_THRESHOLD)
        self.pairs_ref = None
        return {"corpus.rows": self.N_BATCH, "corpus.content_bytes": int(pdf["length"].sum())}

    # -- the four steps of a job; each is one or more Spark actions
    def _build(self):
        return engine.build_and_merge(self.batch, self.specs, key="content", value=F.length("content"))

    def _probe(self):
        out = engine.probe_membership(self.batch, "content", self.base_bloom)
        return {r.id for r in out.where("bloom_hit").select("id").collect()}

    def _keyed(self, df=None):
        if df is None:
            df = engine.build_keyed_sketches(self.batch, self.keyed_spec, "repo", key="content")
        return {r.group: bytes(r.payload) for r in df.collect()}

    def _pairs(self):
        out = minhash_lsh_pairs(self.batch, "id", "content", threshold=DEDUP_THRESHOLD)
        return {(r.id_a, r.id_b) for r in out.select("id_a", "id_b").collect()}

    def job(self):
        t = [_now()]
        ans = {"sketches": self._build()}
        t.append(_now())
        ans["hits"] = self._probe()
        t.append(_now())
        ans["hll"] = self._keyed()
        t.append(_now())
        ans["pairs"] = self._pairs()
        t.append(_now())
        ans["step_s"] = dict(zip(("build", "probe", "keyed", "dedup"), np.diff(t)))
        return ans

    def traced_job(self, tr):
        batch, specs = self.batch, self.specs
        ans = {}
        with tr.span("engine.digest"):
            _noop(batch.select(engine.sha256_digest(F.col("content"))))
        with tr.span("engine.build_partials") as s:
            parts = engine.build_partials(batch, specs, key="content", value=F.length("content")).cache()
            row = parts.agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("b")).collect()[0]
            s["counts"] = {"engine.partials": int(row.n), "engine.partial_bytes": int(row.b)}
        with tr.span("engine.tree_merge"):
            merged = engine.tree_merge(parts, num_partials=len(batch.inputFiles())).cache()
            merged.count()
        with tr.span("engine.collect_sketches"):
            got = engine.collect_sketches(merged)
        parts.unpersist()
        merged.unpersist()
        ans["sketches"] = {k: got[k] for k in self._keys()}
        with tr.span("engine.probe_membership"):
            ans["hits"] = self._probe()
        with tr.span("engine.build_keyed") as s:
            out = engine.build_keyed_sketches(batch, self.keyed_spec, "repo", key="content")
            ans["hll"] = self._keyed(out)
            # the partial sketches shuffled into the per-group merge
            s["counts"] = {"engine.keyed_partials": _first_shuffle_rows(out)}
        with tr.span("dedup.signatures"):
            _noop(minhash_signatures(batch, "id", "content"))
        with tr.span("dedup.pairs"):
            ans["pairs"] = self._pairs()
        return ans

    def _accuracy(self, ans) -> dict:
        bloom, hll, cms, kll, td = (ans["sketches"][k] for k in self._keys())
        est = np.asarray(cms.query_hashes(self.top_h64), dtype=np.int64)
        kll_q = np.asarray(kll.quantile(list(QS)))
        td_q = np.asarray(td.quantile(list(QS)))
        hits = ans["hits"]
        keyed_hll_err, keyed_n_bad = 0.0, 0
        for repo, blob in ans["hll"].items():
            sk = from_bytes(blob)
            d = self.repo_distinct.get(repo, 0)
            keyed_hll_err = max(keyed_hll_err, abs(sk.estimate() - d) / max(d, 1))
            keyed_n_bad += int(sk.n_items != self.repo_rows.get(repo, -1))
        found = ans["pairs"]
        return {
            "hll_rel_err": abs(hll.estimate() - self.distinct) / self.distinct,
            "hll_bound": float(hll.rel_error_bound()),
            "bloom_fpr": float(bloom.contains_hashes(self.absent_h64).mean()),
            "bloom_false_negatives": int((~bloom.contains_hashes(self.present_h64)).sum()),
            "cms_under": int((est < self.top_counts).sum()),
            "cms_over_frac": float((est - self.top_counts).max() / self.N_BATCH),
            "cms_bound": float(cms.error_bound()),
            "kll_rank_err": max(_rank_err(self.lengths, x, q) for x, q in zip(kll_q, QS)),
            "kll_bound": float(kll.rank_error_bound()),
            "kll_n": int(kll.n_items),
            "tdigest_rank_err": max(_rank_err(self.lengths, x, q) for x, q in zip(td_q, QS)),
            "probe_false_negatives": len(self.seen_ids - hits),
            "probe_fpr": len(hits - self.seen_ids) / (self.N_BATCH - len(self.seen_ids)),
            "keyed_hll_rel_err": keyed_hll_err,
            "keyed_n_bad": keyed_n_bad,
            "keyed_groups_ok": set(ans["hll"]) == set(self.repo_rows),
            "pair_recall": len(found & self.exact_pairs) / max(len(self.exact_pairs), 1),
        }

    def check(self, ans) -> list[str]:
        """Error bounds: the sketches' published bounds where they have one
        (HLL at 4 standard errors, CMS eps*N, KLL 2.3/k), twice the target
        false-positive rate for Bloom filters, and tolerances of this
        benchmark's own for the t-digest (0.02 rank) and MinHash recall
        (0.8 of the exact pairs at the same threshold)."""
        a = self._accuracy(ans)
        fails = []
        if a["hll_rel_err"] > 4 * a["hll_bound"]:
            fails.append("hll_rel_err")
        if a["bloom_false_negatives"]:
            fails.append("bloom_false_negative")
        if a["bloom_fpr"] > 2 * self.BATCH_FPP:
            fails.append("bloom_fpr")
        if a["cms_under"] or a["cms_over_frac"] * self.N_BATCH > a["cms_bound"]:
            fails.append("cms_error")
        if a["kll_rank_err"] > a["kll_bound"] or a["kll_n"] != self.N_BATCH:
            fails.append("kll_rank_err")
        if a["tdigest_rank_err"] > 0.02:
            fails.append("tdigest_rank_err")
        if a["probe_false_negatives"]:
            fails.append("probe_false_negative")
        if a["probe_fpr"] > 2 * self.BASE_FPP:
            fails.append("probe_fpr")
        if a["keyed_hll_rel_err"] > 4 * 1.04 / 64 or a["keyed_n_bad"] or not a["keyed_groups_ok"]:
            fails.append("keyed_hll")
        if a["pair_recall"] < 0.8:
            fails.append("pair_recall")
        # the pair set must not change from job to job within a run
        if self.pairs_ref is None:
            self.pairs_ref = ans["pairs"]
        elif ans["pairs"] != self.pairs_ref:
            fails.append("pairs_unstable")
        return fails

    def corruptions(self, ans):
        bloom_k, hll_k, cms_k, kll_k, td_k = self._keys()
        sk = ans["sketches"]
        full = copy.deepcopy(sk[bloom_k])
        full.bits[:] = 0xFF
        hll_bad = dict(ans["hll"])
        hll_bad[max(hll_bad, key=lambda r: self.repo_distinct[r])] = make_sketch("hll", p=12).to_bytes()
        low_half = self.lengths[: self.N_BATCH // 2]

        def swap(key, bad):
            return {**ans, "sketches": {**sk, key: bad}}

        return [
            ("hll_rel_err", swap(hll_k, make_sketch("hll", p=14))),
            ("bloom_false_negative", swap(bloom_k, make_sketch("bloom", fpp=self.BATCH_FPP, n=self.N_BATCH))),
            ("bloom_fpr", swap(bloom_k, full)),
            ("cms_error", swap(cms_k, make_sketch("cms", eps=1e-4, delta=1e-3))),
            ("kll_rank_err", swap(kll_k, make_sketch("kll", k=200).update_values(low_half))),
            ("tdigest_rank_err", swap(td_k, make_sketch("tdigest", delta=200.0).update_values(low_half))),
            ("probe_false_negative", {**ans, "hits": ans["hits"] - {min(self.seen_ids)}}),
            ("keyed_hll", {**ans, "hll": hll_bad}),
            ("pair_recall", {**ans, "pairs": set(sorted(ans["pairs"])[: len(ans["pairs"]) // 2])}),
        ]

    def accuracy(self, ans) -> dict:
        a = self._accuracy(ans)
        return {
            "accuracy.hll_rel_err": a["hll_rel_err"],
            "accuracy.bloom_fpr": a["bloom_fpr"],
            "accuracy.quantile_rank_err": max(a["kll_rank_err"], a["tdigest_rank_err"]),
            "accuracy.cms_over_frac": a["cms_over_frac"],
            "accuracy.probe_fpr": a["probe_fpr"],
            "accuracy.keyed_hll_rel_err": a["keyed_hll_rel_err"],
            "accuracy.pair_recall": a["pair_recall"],
        }

    def step_rates(self, ans) -> dict:
        return {f"{k}_rows_per_s": self.N_BATCH / v for k, v in ans["step_s"].items()}

    def _merged_bytes(self, ans) -> int:
        return sum(len(s.to_bytes()) for s in ans["sketches"].values())

    def _keyed_bytes(self, ans) -> int:
        return sum(len(b) for b in ans["hll"].values())

    def sketch_bytes(self, ans) -> int:
        return self._merged_bytes(ans) + self._keyed_bytes(ans)

    def layer_counts(self, ans) -> dict:
        return {
            "engine.merged_bytes": self._merged_bytes(ans),
            "engine.keyed_groups": len(ans["hll"]),
            "engine.keyed_bytes": self._keyed_bytes(ans),
            "dedup.pairs": len(ans["pairs"]),
            "dedup.exact_pairs": len(self.exact_pairs),
        }

    def micro(self) -> dict:
        digests, values = _sample_digests(self.batch, "content", self.N_BATCH)
        h64 = fnv1a64(digests_to_matrix(digests))
        return {**sketch_micro(self.specs, h64, values), **hashing_micro(digests)}


# ----------------------------------------------------------------------------
class LpmRouteLookup(Workload):
    """Guided LPM over seeded IPv4 and IPv6 forwarding tables."""

    name = "lpm_route_lookup"
    N_V4_ROUTES = 3_000
    N_V6_ROUTES = 1_500
    N_V4_ADDRS = 60_000
    N_V6_ADDRS = 30_000

    def setup(self) -> dict:
        t0 = _now()
        rng = self.rng(2)
        cidrs, p4, l4 = gen.v4_routes(rng, self.N_V4_ROUTES)
        h6, hi, lo, l6 = gen.v6_routes(rng, self.N_V6_ROUTES)
        a4 = gen.v4_addresses(rng, p4, l4, self.N_V4_ADDRS)
        a6, a6_hi = gen.v6_addresses(rng, hi, lo, l6, self.N_V6_ADDRS)
        self.depth_counts = {v: np.unique(l, return_counts=True) for v, l in (("v4", l4), ("v6", l6))}
        self.truth = {"v4": (p4, l4, a4, 32), "v6": (hi, l6, a6_hi, 64)}
        self.r4 = self._stage(pd.DataFrame({"cidr": cidrs}), "r4", 1)
        self.r6 = self._stage(pd.DataFrame({"h": h6, "depth": l6.astype(np.int32)}), "r6", 1)
        self.q4 = self._stage(pd.DataFrame({"id": np.arange(len(a4), dtype=np.int64), "ip": a4}), "q4")
        self.q6 = self._stage(pd.DataFrame({"id": np.arange(len(a6), dtype=np.int64), "h": a6}), "q6")
        out = {"setup.inputs_s": _now() - t0}
        t0 = _now()
        self.e4 = cidr.build_ip4_lpm(self.r4)
        out["lpm.build_s.v4"] = _now() - t0
        t0 = _now()
        self.e6 = cidr.build_ip6_lpm(self.r6)
        out["lpm.build_s.v6"] = _now() - t0
        self.rows_per_job = self.N_V4_ADDRS + self.N_V6_ADDRS
        return out

    @staticmethod
    def _summary(out):
        """The job's sink: one aggregate row per lookup. ``bit_xor`` of a
        per-row hash of (id, lpm_depth) is order-insensitive."""
        r = out.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("id", "lpm_depth")).alias("h"),
            F.sum("bit_lookups").alias("bits"),
            F.sum("fib_probes").alias("fib"),
            F.sum(F.col("fell_back").cast("int")).alias("fell"),
            F.sum((F.col("lpm_depth") > 0).cast("int")).alias("matched"),
        ).collect()[0]
        return r.asDict()

    def prepare_oracles(self) -> dict:
        """Exact depths by brute force in numpy, independent of Spark and
        of the library; Spark only hashes them the way the job's sink does."""
        self.oracle = {}
        for v, (prefix, plen, addrs, width) in self.truth.items():
            depth = gen.lpm_depths(prefix, plen, addrs, width)
            pdf = pd.DataFrame({"id": np.arange(len(depth), dtype=np.int64), "lpm_depth": depth.astype(np.int32)})
            r = self.spark.createDataFrame(pdf).agg(
                F.count("*").alias("n"), F.bit_xor(F.xxhash64("id", "lpm_depth")).alias("h")
            ).collect()[0]
            self.oracle[v] = (int(r.n), int(r.h))
        self.engine_bytes = len(self.e4.to_bytes()) + len(self.e6.to_bytes())
        return {"corpus.rows": self.rows_per_job, "corpus.content_bytes": 0}

    def job(self):
        t0 = _now()
        a4 = self._summary(cidr.lookup_ip4(self.e4, self.q4))
        t1 = _now()
        a6 = self._summary(cidr.lookup_ip6(self.e6, self.q6))
        t2 = _now()
        return {"v4": a4, "v6": a6, "t4": t1 - t0, "t6": t2 - t1}

    def traced_job(self, tr):
        ans = {}
        for v, eng, q, col, trunc, lookup in (
            ("v4", self.e4, self.q4, "ip", cidr.ip4_trunc, cidr.lookup_ip4),
            ("v6", self.e6, self.q6, "h", cidr.ip6_trunc, cidr.lookup_ip6),
        ):
            with tr.span(f"cidr.trunc_hash.{v}"):
                # the D truncated-and-hashed key columns the lookup ships to
                # its kernel, written to the noop sink on their own
                _noop(q.select(*[F.xxhash64(F.lit(d).cast("int"), trunc(F.col(col), d)) for d in eng.depths]))
            with tr.span(f"lpm.lookup.{v}") as s:
                ans[v] = self._summary(lookup(eng, q))
            ans["t" + v[1]] = s["end"] - s["start"]
        return ans

    def check(self, ans) -> list[str]:
        return [f"lpm_{v}" for v in ("v4", "v6") if (ans[v]["n"], ans[v]["h"]) != self.oracle[v]]

    def corruptions(self, ans):
        return [("lpm_v4", {**ans, "v4": {**ans["v4"], "h": ans["v4"]["h"] ^ 1}}),
                ("lpm_v6", {**ans, "v6": {**ans["v6"], "n": ans["v6"]["n"] - 1}})]

    def accuracy(self, ans) -> dict:
        return {}

    def sketch_bytes(self, ans) -> int:
        return self.engine_bytes

    def step_rates(self, ans) -> dict:
        return {
            "lookup_v4_rows_per_s": self.N_V4_ADDRS / ans["t4"],
            "lookup_v6_rows_per_s": self.N_V6_ADDRS / ans["t6"],
        }

    def layer_counts(self, ans) -> dict:
        out = {}
        for v in ("v4", "v6"):
            a = ans[v]
            out[f"lpm.bit_lookups_per_row.{v}"] = a["bits"] / a["n"]
            out[f"lpm.fib_probes_per_row.{v}"] = a["fib"] / a["n"]
            out[f"lpm.fell_back_frac.{v}"] = a["fell"] / a["n"]
        out["lpm.matched_frac"] = (ans["v4"]["matched"] + ans["v6"]["matched"]) / (ans["v4"]["n"] + ans["v6"]["n"])
        return out

    def micro(self) -> dict:
        def build_trees():
            for depths, counts in self.depth_counts.values():
                GuideTree.from_weights(depths.tolist(), counts.tolist())

        return {"obst.from_weights_ms": _median_time(build_trees, reps=5) * 1e3}


WORKLOADS = {w.name: w for w in (CorpusIngest, LpmRouteLookup)}
