"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload vector-serve --seed 1 --seconds 12 --trace 0

Run from the repository root.  With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` the per-layer metrics, and the spans
are written to ``.perfbench_out/``.  The process exits 1 (after printing
the result) when any answer check fails, and 2 without a result when the
program is not next to the benchmark.  See NOTES.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import MIX, WORKLOADS  # noqa: E402

# Set-up (session start, input generation, reads) runs this many times in
# one process; ``setup_s`` is the median.  The first pass also launches the
# JVM.  The warm-up runs once, after the last pass.
SETUP_REPS = 3

HEAP = "1g"  # driver JVM heap, fixed size

END_TO_END = {"setup_s": "s", "build_s": "s", "p50_ms": "ms", "tail_ms": "ms", "qps": "1/s",
              "peak_rss_mb": "MB"}

SPAN_MEANS = {  # per-layer metric -> span whose mean duration it reports
    "gt.call_s": "gt.call", "gt.exec_s": "gt.exec", "knn.call_s": "knn.call",
    "ivf.fit_s": "ivf.fit", "ivf.assign_s": "ivf.assign", "ivf.search_call_s": "ivf.search_call",
    "ivf.exec_s": "ivf.exec", "hnsw.build_s": "hnsw.build", "knn.exec_s": "knn.exec",
    "hnsw.search_call_s": "hnsw.search_call", "hnsw.exec_s": "hnsw.exec",
    "mut.snapshot_call_s": "mut.snapshot_call", "fknn.call_s": "fknn.call",
    "fknn.exec_s": "fknn.exec", "mut.checkpoint_s": "mut.checkpoint",
    **{f"entry.{q}.{p}_s": f"entry.{q}.{p}" for q in MIX for p in ("build", "plan", "exec")},
}
SETUP_LAYERS = {"session.start_s": "session.start", "sources.read_s": "sources.read",
                "bench.gen_s": "bench.gen", "bench.warmup_s": "bench.warmup"}
JOBS_PER_REQUEST = {"knn.jobs_per_request": "flat", "ivf.jobs_per_request": "ivf",
                    "hnsw.jobs_per_request": "hnsw", "fknn.jobs_per_request": "raw"}
P50 = {"flat_p50_ms": ("flat",), "ivf_p50_ms": ("ivf",), "hnsw_p50_ms": ("hnsw",),
       "raw_p50_ms": ("raw",)}
TAILS = {"serve_tail_ms": ("flat", "ivf", "hnsw"), "raw_tail_ms": ("raw",)}
FROM_WORKLOAD = ("ivf_build_s", "hnsw_build_s", "ivf.scan_frac", "hnsw.dist_evals_per_query",
                 "ivf_recall_at_10", "hnsw_recall_at_10", "mut.op_us", "mut.log_rows_at_read",
                 "checkpoint_s", "mix_wall_s")
SPARK = ("jobs", "stages", "tasks", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "executor_run_s", "executor_cpu_s", "output_bytes")
SELF_LAYERS = ("session", "sources", "bench", "req", "build", "knn", "gt", "ivf", "hnsw",
               "fknn", "mut", "entry")


def per_layer_units() -> dict[str, str]:
    units = {k: "s" for k in (*SETUP_LAYERS, *SPAN_MEANS)}
    units.update({k: "count" for k in JOBS_PER_REQUEST})
    units.update({k: "ms" for k in (*P50, *TAILS)})
    units.update({
        "gt_qps": "1/s", "ivf_build_s": "s", "hnsw_build_s": "s",
        "ivf.scan_frac": "frac", "hnsw.dist_evals_per_query": "count",
        "ivf_recall_at_10": "frac", "hnsw_recall_at_10": "frac", "mut.op_us": "us",
        "mut.log_rows_at_read": "count", "checkpoint_s": "s", "mix_wall_s": "s",
        "failed_frac": "frac", "bench.requests": "count", "bench.tail_pct": "%",
        "trace.coverage": "frac",
    })
    units.update({f"entry.{q}.jobs": "count" for q in MIX})
    units.update({f"spark.{k}": "bytes" if k.endswith("bytes") else ("s" if k.endswith("_s")
                                                                      else "count")
                  for k in SPARK})
    units.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


# ------------------------------------------------------------------ helpers

def pin_environment(work: str) -> dict:
    """Settings the program reads at import or JVM launch, fixed here so every
    run sees the same machine shape.  Returned for the result's info line."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # one local-mode JVM holds every task; the inputs are a few MB
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[k], exist_ok=True)
    os.environ.update(pinned)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    return {**pinned, "ram_gb": round(ram_gb, 1)}


def spark_overrides(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The heap is committed and touched at launch, so the JVM's share of
        # peak_rss_mb does not follow GC timing: with a growable heap it
        # swung by 500 MB between runs of the same seed.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        # one BLAS thread per task: local[n] already runs n tasks at once
        **{f"spark.executorEnv.{v}": "1" for v in
           ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval=0.2):
        super().__init__(daemon=True)
        self.interval, self.peak, self.stop_evt = interval, 0, threading.Event()

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:  # proportional set size: shared pages split among sharers
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def run(self):
        while not self.stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.sample())


def finite(x) -> float:
    """JSON has no infinity: a metric a failed request made infinite reads 1e12."""
    return float(x) if math.isfinite(x) else 1e12


def tail(latencies):
    """(value, percentile, samples beyond): the highest percentile with at
    least ten samples beyond it.  Below 21 samples that percentile would not
    be above the median, so the maximum is reported instead."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, 0
    j = n - 11
    return xs[j], 100.0 * (j + 1) / n, n - 1 - j


class Context:
    def __init__(self, args, work):
        from perfbench.trace import Tracer

        self.workload, self.seed, self.tiny = args.workload, args.seed, args.tiny
        self.work, self.spark = work, None
        self.tracer = Tracer(args.workload)

    def stop_session(self):
        self.tracer.sc = None
        self.spark.stop()

    def start_session(self):
        from bigvectorbench_spark import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", **spark_overrides(self.work))
            self.spark.sparkContext.setLogLevel("ERROR")
            self.tracer.sc = self.spark.sparkContext

    def shutdown(self):
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


# ------------------------------------------------------------------ metrics

def end_to_end(w, setup_s, peak_rss) -> dict:
    lat = w.samples()
    return {
        "setup_s": setup_s,
        "build_s": w.build_s,
        "p50_ms": 1e3 * statistics.median(lat) if lat else float("inf"),
        "tail_ms": 1e3 * tail(lat)[0] if lat else float("inf"),
        "qps": w.answered() / w.serve_s,
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(w, tracer, e2e, window_s, covered_s) -> dict:
    spans = tracer.spans
    by_name: dict[str, list[int]] = {}  # spans of the measured window only
    for i, sp in enumerate(spans):
        if sp.request is not None:
            by_name.setdefault(sp.name, []).append(i)

    def stat_dur(name, stat=statistics.fmean, among=by_name):
        idx = among.get(name, [])
        return stat([spans[i].dur for i in idx]) if idx else 0.0

    all_spans: dict[str, list[int]] = {}
    for i, sp in enumerate(spans):
        all_spans.setdefault(sp.name, []).append(i)
    m = {k: stat_dur(v, statistics.median, all_spans) for k, v in SETUP_LAYERS.items()}
    m.update({k: stat_dur(v) for k, v in SPAN_MEANS.items()})
    for key, kind in JOBS_PER_REQUEST.items():
        idx = by_name.get(f"req.{kind}", [])
        m[key] = statistics.fmean(tracer.inclusive(i, "jobs") for i in idx) if idx else 0.0
    for q in MIX:
        idx = [i for n in ("build", "plan", "exec") for i in by_name.get(f"entry.{q}.{n}", [])]
        runs = len(by_name.get(f"entry.{q}.exec", [])) or 1
        m[f"entry.{q}.jobs"] = sum(spans[i].spark.get("jobs", 0) for i in idx) / runs
    for key, kinds in P50.items():
        xs = [r.latency for r in w.requests if r.kind in kinds and not r.error]
        m[key] = 1e3 * statistics.median(xs) if xs else 0.0
    for key, kinds in TAILS.items():
        xs = [r.latency if not r.error else float("inf") for r in w.requests if r.kind in kinds]
        m[key] = 1e3 * tail(xs)[0] if xs else 0.0
    gt = [r for r in w.requests if r.kind == "gt"]
    m["gt_qps"] = (sum(r.queries for r in gt if not r.error) / sum(r.latency for r in gt)
                   if gt else 0.0)
    m.update({k: float(w.metrics.get(k, 0.0)) for k in FROM_WORKLOAD})
    # Spark work per measured request, over every span of the measured phase
    phase = [i for i, sp in enumerate(spans) if sp.request is not None]
    n_req = sum(1 for i in phase if spans[i].name.startswith("req."))
    for k in SPARK:
        m[f"spark.{k}"] = sum(spans[i].spark.get(k, 0) for i in phase) / max(1, n_req)
    selfs = dict.fromkeys(SELF_LAYERS, 0.0)
    for i, sp in enumerate(spans):
        selfs[sp.layer] = selfs.get(sp.layer, 0.0) + tracer.self_time(i)
    m.update({f"self.{k}_s": selfs[k] for k in SELF_LAYERS})
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    attempted = max(1, len(w.requests))
    m["failed_frac"] = sum(1 for r in w.requests if r.error) / attempted
    lat = w.samples()
    m["bench.requests"] = len(lat)
    m["bench.tail_pct"] = tail(lat)[1] if lat else 0.0
    m["trace.coverage"] = covered_s / window_s if window_s else 0.0
    return m


# --------------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)

    missing = [p for p in ("bigvectorbench_spark/__init__.py", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work)
    rss = RssSampler()
    rss.start()
    ctx = Context(args, work)
    w = WORKLOADS[args.workload](ctx)
    tracer = ctx.tracer
    try:
        reps = []
        for i in range(SETUP_REPS):
            if i:  # tearing down the previous pass is not part of set-up
                ctx.stop_session()
            t0 = time.perf_counter()
            with tracer.span("bench.setup"):
                ctx.start_session()
                w.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with tracer.span("bench.warmup"):
            w.warm_up()
        warmup_s = time.perf_counter() - t0
        first_measured = len(tracer.spans)
        t0 = time.perf_counter()
        w.run()
        window_s = time.perf_counter() - t0
        if args.trace:
            w.layer_work()
        with tracer.span("bench.verify"):
            w.verify()
        after_s = time.perf_counter() - t0
        rss.stop_evt.set()
        rss.join()
        covered = sum(sp.dur for sp in tracer.spans[first_measured:] if sp.parent is None)
        e2e = end_to_end(w, statistics.median(reps), rss.peak)
        if args.trace:
            tracer.attach_spark_stats(ctx.spark.sparkContext)
            metrics = per_layer(w, tracer, e2e, after_s, covered)
            units = per_layer_units()
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"),
                        {"seed": args.seed, "env": env, "metrics": metrics})
        else:
            metrics, units = e2e, END_TO_END
    finally:
        rss.stop_evt.set()
        ctx.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in w.requests if r.error)
    correct = not w.failures and failed == 0 and bool(w.requests)
    for line in w.failures[:50]:
        print(f"perfbench: MISMATCH {line}", file=sys.stderr)
    lat = w.samples()
    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "sizes": w.sz, "env": env, "setup_reps_s": reps, "warmup_s": warmup_s,
        "window_s": window_s, "verify_s": after_s - window_s,
        "requests": len(w.requests), "failures": len(w.failures),
        "samples_ms": [round(1e3 * x, 1) for x in lat],
        "requests_ms": {k: [round(1e3 * r.latency, 1) for r in w.requests if r.kind == k]
                        for k in dict.fromkeys(r.kind for r in w.requests)},
        "tail_pct": tail(lat)[1] if lat else None,
        "tail_samples_beyond": tail(lat)[2] if lat else None}}))
    print(json.dumps({
        "correct": correct, "attempted": max(1, len(w.requests)), "failed": failed,
        "metrics": {k: {"value": finite(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
