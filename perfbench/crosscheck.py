"""Check the benchmark's driver-side oracles against the library's exact
operators on the inputs of one seed.

Run from the repository root:

    python3 perfbench/crosscheck.py --seed 1

Each benchmark run scores answers against oracles computed without Spark
(``gen.lpm_depths`` for LPM, ``workloads.exact_jaccard_pairs`` for
near-duplicate pairs), which keeps a run short. This script shows, for a
given seed, that those oracles equal ``exact_lpm`` and
``prefix_filter_jaccard_pairs``. Exit code 0 means both agree.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from run import check_root, prepare_work, spark_conf, stop_spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not check_root(root):
        return 2
    work = prepare_work(root)
    spark = None
    try:
        import gen
        from ip_filter_spark.config import get_spark
        from ip_filter_spark.operators import cidr
        from ip_filter_spark.operators.dedup import prefix_filter_jaccard_pairs
        from ip_filter_spark.operators.lpm import exact_lpm
        from workloads import DEDUP_THRESHOLD, CorpusIngest, LpmRouteLookup

        spark = get_spark("perfbench-crosscheck", extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        data = os.path.join(work, "data")
        ok = True

        c = CorpusIngest(spark, args.seed, data)
        c.setup()
        c.prepare_oracles()
        lib = prefix_filter_jaccard_pairs(c.batch, "id", "content", threshold=DEDUP_THRESHOLD)
        lib_pairs = {(r.id_a, r.id_b) for r in lib.select("id_a", "id_b").collect()}
        same = lib_pairs == c.exact_pairs
        ok &= same
        print(f"near-dup pairs: driver {len(c.exact_pairs)}, prefix_filter_jaccard_pairs {len(lib_pairs)}, "
              f"{'equal' if same else 'DIFFERENT'}")

        w = LpmRouteLookup(spark, args.seed, data)
        w.setup()
        for v, q, routes, col, trunc in (
            ("v4", w.q4, cidr.cidr4_route_table(w.r4), "ip", cidr.ip4_trunc),
            ("v6", w.q6, cidr.ip6_route_table(w.r6), "h", cidr.ip6_trunc),
        ):
            ex = exact_lpm(q, routes, path_col=col, trunc=trunc).select("id", "lpm_depth").toPandas()
            lib_depth = ex.sort_values("id")["lpm_depth"].to_numpy()
            mine = gen.lpm_depths(*w.truth[v])
            same = len(lib_depth) == len(mine) and bool((lib_depth == mine).all())
            ok &= same
            print(f"LPM {v}: {len(mine)} addresses, {(mine > 0).mean():.3f} matched, exact_lpm "
                  f"{'equal' if same else 'DIFFERENT'}")
        return 0 if ok else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
