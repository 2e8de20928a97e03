"""Same-box layered benchmark for ip_filter_spark.

Run from the repository root:

    python3 perfbench/run.py --workload corpus_ingest --seed 1 --seconds 8 --trace 0

One run starts Spark at local[4] with the library's own ``get_spark``
defaults, sets its workload up several times (reporting the median), then
runs jobs back to back, one at a time from the driver thread, until the
jobs' wall time adds up to ``--seconds``. Every answer is checked off the
clock against oracles computed in the same run.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` spends half the time untraced and half traced (spans around
every layer call, Spark event log on) and prints the per-layer metrics.
Human-readable lines come first; the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes goes under ``.perfbench/`` in the current
directory; the per-run scratch directory is removed at exit and the span
trace of a traced run is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
N_SETUP = 3  # set-ups per run; the first also launches the JVM, setup_s is the median of the rest
CORES = 4
WARM_S = 5  # warm-up jobs run until this much time has passed
DEADLINE_S = 150  # stop starting jobs past this point, so a run ends well inside 180 s

# traced span name -> per-layer metric its duration feeds (summed per job)
SPAN_METRICS = {
    "engine.digest": "engine.digest_s",
    "engine.build_partials": "engine.build_partials_s",
    "engine.tree_merge": "engine.tree_merge_s",
    "engine.collect_sketches": "engine.collect_sketches_s",
    "engine.probe_membership": "engine.probe_membership_s",
    "engine.build_keyed": "engine.build_keyed_s",
    "dedup.signatures": "dedup.signatures_s",
    "dedup.pairs": "dedup.pairs_tail_s",
    "cidr.trunc_hash.v4": "cidr.trunc_hash_s.v4",
    "cidr.trunc_hash.v6": "cidr.trunc_hash_s.v6",
    "lpm.lookup.v4": "lpm.lookup_s.v4",
    "lpm.lookup.v6": "lpm.lookup_s.v6",
}


def _now() -> float:
    return time.perf_counter()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _persistent_ids(sc) -> set[int]:
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _release(spark, before: set[int]) -> None:
    """Drop what a job left cached: the catalog's cached plans, then any
    persisted RDD that did not exist before the job."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    rdds = sc._jsc.getPersistentRDDs()
    for rid in _persistent_ids(sc) - before:
        rdds.get(rid).unpersist(False)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, spec: dict):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.spec = work, spec
        self.t_start = _now()
        self.notes: list[str] = []

    # ------------------------------------------------------------ set-up
    def set_up(self):
        from ip_filter_spark.config import get_spark
        from workloads import WORKLOADS

        conf, cls = spark_conf(self.work), WORKLOADS[self.workload]
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.event_dir,
            })
        self.setup_walls, parts = [], []
        for _ in range(N_SETUP):
            # only the first get_spark launches the JVM and starts the
            # session; later calls return that session
            t0 = _now()
            spark = get_spark("perfbench", extra_conf=conf)
            t_session = _now() - t0
            spark.sparkContext.setLogLevel("ERROR")
            w = cls(spark, self.seed, os.path.join(self.work, "data"))
            layer = w.setup()
            self.setup_walls.append(_now() - t0)
            layer["config.get_spark_s"] = t_session
            parts.append(layer)
        self.setup_layers = {k: statistics.median(p[k] for p in parts[1:]) for k in parts[0]}
        self.setup_layers["config.get_spark_s"] = parts[0]["config.get_spark_s"]
        self._phase(f"set-ups ({' '.join(f'{x:.1f}' for x in self.setup_walls)} s)")
        self.spark, self.w = spark, w

    # ------------------------------------------------------------ checks
    def prepare(self) -> bool:
        """Compute the oracles, run warm-up jobs, then require the last
        warm-up answer to pass every check and each corrupted copy of it to
        fail the check it targets."""
        w = self.w
        before = _persistent_ids(self.spark.sparkContext)
        self.oracle_counts = w.prepare_oracles()
        _release(self.spark, before)
        # warm-up jobs start the Python workers and let the JIT compile the
        # jobs' code paths: job times keep falling for a few jobs
        warm = self.measure(WARM_S)
        _release(self.spark, before)
        self.setup_layers["config.worker_warm_s"] = warm[0]["dt"]
        self.warm = warm[-1]["ans"]
        ok = True
        for r in warm:
            if r["fails"]:
                self.notes.append(f"warm-up job failed: {r['fails']}")
                ok = False
        if self.warm is None:
            return False
        for name, bad in w.corruptions(self.warm):
            caught = name in w.check(bad)
            print(f"self-test  corrupted {name:<22} {'caught' if caught else 'NOT CAUGHT'}")
            ok &= caught
        return ok

    # ------------------------------------------------------------ jobs
    def measure(self, budget: float, tracer=None) -> list[dict]:
        """Run jobs until their wall time adds up to ``budget``. Each job
        first releases what the previous one left cached; what the last
        one leaves stays for the caller to count and release."""
        spark, w = self.spark, self.w
        sc = spark.sparkContext
        base = _persistent_ids(sc)
        recs: list[dict] = []
        spent = 0.0
        while not recs or (spent < budget and _now() - self.t_start < DEADLINE_S):
            _release(spark, base)
            t0 = _now()
            try:
                if tracer is None:
                    ans = w.job()
                else:
                    with tracer.job(len(recs)):
                        ans = w.traced_job(tracer)
                err = None
            except Exception as e:  # a failed job is counted, and the loop goes on
                traceback.print_exc()
                ans, err = None, e
            dt = _now() - t0
            spent += dt
            fails = [f"raised {type(err).__name__}"] if err else w.check(ans)
            leaked = len(_persistent_ids(sc) - base)
            recs.append({"dt": dt, "fails": fails, "leaked": leaked, "ans": ans, "retained_mb": self.retained_mb()})
        return recs

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        return _vm_hwm_mb(jvm_pid) + own

    def retained_mb(self) -> float:
        """Live JVM heap with the job's leftovers still cached. Python's
        garbage collection first releases the JVM objects that dropped
        DataFrames still hold through py4j; a full GC follows, then a pause
        for Spark's ContextCleaner to drop the broadcasts and shuffles that
        GC let go, then a second full GC."""
        gc.collect()
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return heap / 2**20

    # ------------------------------------------------------------ output
    def _phase(self, name: str) -> None:
        print(f"perfbench: {name} done at {_now() - self.t_start:.1f} s", file=sys.stderr)

    def run(self) -> dict:
        self.set_up()
        ok = self.prepare()
        self._phase("oracles, warm-up and self-test")
        if self.trace:
            metrics, recs = self.run_traced()
        else:
            recs = self.measure(self.seconds)
            metrics = self.end_to_end(recs)
        self._phase("measurement")
        failed = sum(1 for r in recs if r["fails"])
        for r in recs:
            if r["fails"]:
                print(f"job failed: {r['fails']}")
        print(f"{'failed_frac':<34} {failed / max(len(recs), 1):.4f} ratio  ({failed} of {len(recs)} jobs)")
        print(f"{'checks':<34} {'all passed' if ok and not failed else 'FAILED'}")
        for note in self.notes:
            print(note)
        self.shutdown()
        return {"correct": bool(ok and not failed), "attempted": len(recs), "failed": failed, "metrics": metrics}

    def _last_ok(self, recs):
        good = [r["ans"] for r in recs if not r["fails"]]
        return good[-1] if good else self.warm

    def end_to_end(self, recs: list[dict]) -> dict:
        w = self.w
        dts = [r["dt"] for r in recs]
        ans = self._last_ok(recs)
        values = {
            "setup_s": statistics.median(self.setup_walls[1:]),
            "rows_per_s": w.rows_per_job * len(dts) / sum(dts),
            "job_s.p50": statistics.median(dts),
            "job_s.tail": max(dts),
            "peak_rss_mb": self.peak_rss_mb(),
            "retained_mb": statistics.median(r["retained_mb"] for r in recs),
            "sketch_bytes": w.sketch_bytes(ans),
        }
        metrics = {}
        for m in self.spec["end_to_end"]:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
            print(f"{m['name']:<34} {values[m['name']]:.6g} {m['unit']}")
        print(f"{'job_s.tail':<34} {values['job_s.tail']:.6g} s  (slowest of {len(dts)} jobs)")
        print(f"{'peak_rss_mb':<34} {values['peak_rss_mb']:.6g} MB")
        print(f"{'setup_s.each':<34} {' '.join(f'{s:.3f}' for s in self.setup_walls)} s")
        print(f"{'job_s.each':<34} {' '.join(f'{s:.3f}' for s in dts)} s")
        reported = dict(w.accuracy(ans))
        rates = [w.step_rates(r["ans"]) for r in recs if not r["fails"]]
        for k in rates[0] if rates else ():
            reported[k] = statistics.median(x[k] for x in rates)
        if "lpm.build_s.v4" in self.setup_layers:
            reported["index_build_s"] = self.setup_layers["lpm.build_s.v4"] + self.setup_layers["lpm.build_s.v6"]
        for k, v in reported.items():
            print(f"{k:<34} {v:.6g}")
        return metrics

    def run_traced(self):
        from tracing import SPARK_LAYER, Tracer, event_log_metrics

        w, spark = self.w, self.spark
        plain = self.measure(self.seconds / 2)
        tracer = Tracer(spark)
        traced = self.measure(self.seconds / 2, tracer)
        values = dict.fromkeys((m["name"] for m in self.spec["per_layer"]), 0.0)
        values.update(self.setup_layers)
        values.update(self.oracle_counts)
        ans = self._last_ok(traced)
        values.update(w.layer_counts(ans))
        values.update(w.accuracy(ans))
        values.update(w.micro())
        values["spark.persisted_rdds_delta"] = statistics.mean(r["leaked"] for r in plain)
        values["trace.overhead_frac"] = (
            statistics.median(r["dt"] for r in traced) / statistics.median(r["dt"] for r in plain) - 1
        )
        app_id = spark.sparkContext.applicationId
        self.shutdown()

        tracer.self_times()
        by_group = event_log_metrics(self.event_dir, app_id)
        per_job: dict[int, dict[str, float]] = {}
        for s in tracer.spans:
            job = per_job.setdefault(s["job"], {})
            s["spark"] = by_group.get(s["id"], {})
            for k, v in s["spark"].items():
                job[k] = job.get(k, 0.0) + v
            if s["name"] in SPAN_METRICS:
                k = SPAN_METRICS[s["name"]]
                job[k] = job.get(k, 0.0) + s["dur_s"]
            for k, v in s.get("counts", {}).items():
                job[k] = v
        for job in per_job.values():
            if "dedup.pairs_tail_s" in job:
                job["dedup.pairs_tail_s"] -= job.get("dedup.signatures_s", 0.0)
        keys = set().union(*per_job.values()) if per_job else set()
        for k in keys:
            values[k] = statistics.median(job.get(k, 0.0) for job in per_job.values())
        for k in SPARK_LAYER:
            values.setdefault(k, 0.0)

        os.makedirs(os.path.join(os.getcwd(), ".perfbench", "traces"), exist_ok=True)
        out = os.path.join(os.getcwd(), ".perfbench", "traces", f"{self.workload}-seed{self.seed}.json")
        with open(out, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed, "app_id": app_id, "spans": tracer.spans}, fh, indent=1)
        print(f"trace written to {os.path.relpath(out)}")

        metrics = {}
        for m in self.spec["per_layer"]:
            v = float(values.get(m["name"], 0.0))
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']:<48} {v:.6g} {m['unit']}")
        return metrics, plain + traced

    def shutdown(self) -> None:
        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)
            self.spark = None


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def check_root(root: str) -> bool:
    if os.path.isfile(os.path.join(root, "ip_filter_spark", "__init__.py")):
        return True
    print("perfbench: ip_filter_spark/ not found; run from the repository root", file=sys.stderr)
    return False


def prepare_work(root: str) -> str:
    """Create this process's scratch directory under ``.perfbench/`` and
    point every temporary and Spark local directory into it, so that
    Spark, the JVM and the Python workers write nothing outside the
    checkout. Must run before the first SparkSession starts."""
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    for d in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        # the launcher JVM of spark-submit would otherwise write its
        # performance-counter file under /tmp
        "SPARK_LAUNCHER_OPTS": (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip(),
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [HERE, root]
    return work


def spark_conf(work: str) -> dict:
    """The only settings added to ``get_spark``'s defaults: the JVM's temp
    directory, no performance-counter file under /tmp, and no console
    progress bar."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not check_root(root):
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2

    work = prepare_work(root)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work, spec)
    try:
        result = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
