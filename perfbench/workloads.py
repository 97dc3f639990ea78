"""The benchmark workloads.

Each workload is one closed loop with a single client: the next request is
sent when the previous one has returned.  A workload has four parts:

- ``setup``: generate the seeded inputs and read them.  Run several times
  per invocation, each in a fresh Spark session; ``setup_s`` is the median.
- ``warm_up``: once, untimed, so first-run costs stay out of the window.
- ``run``: builds (if any) and the timed request loop; a fixed amount of
  work, so ``--seconds`` does not change what is measured.
- ``verify``: untimed answer checks against an independent oracle.

Timed calls go through ``ctx.tracer.span`` with the module they call into as
the span's layer, so the same code gives the untraced timings and the
traced per-layer breakdown.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracle


@dataclass
class Request:
    kind: str
    latency: float
    queries: int
    error: str = ""
    answer: object = None
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""
    sizes: dict = {}
    tiny: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.sz = {**self.sizes, **(self.tiny if ctx.tiny else {})}
        self.requests: list[Request] = []
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.build_s = self.serve_s = 0.0  # set by run()

    def samples(self) -> list[float]:
        """Latencies behind ``p50_ms`` and ``tail_ms``; a failure is inf."""
        return [r.latency if not r.error else float("inf") for r in self.requests]

    def answered(self) -> int:
        """Queries answered correctly in the measured window."""
        return sum(r.queries for r in self.requests if not r.error)

    @property
    def span(self):
        return self.ctx.tracer.span

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def timed(self, kind: str, i: int, n_queries: int, fn) -> Request:
        """Run one request; an exception is a failed request, not an abort."""
        t0 = time.perf_counter()
        try:
            with self.span(f"req.{kind}", request=i):
                answer = fn()
            req = Request(kind, time.perf_counter() - t0, n_queries, answer=answer)
        except Exception as e:  # noqa: BLE001 - a failed request is data
            req = Request(kind, time.perf_counter() - t0, n_queries, error=repr(e))
            self.failures.append(f"{kind} request {i}: {e!r}")
        self.requests.append(req)
        return req

    def read_corpus(self, name: str, expect_rows: int):
        from bigvectorbench_spark.sources.tables import load_table

        with self.span("sources.read"):
            df = load_table(self.ctx.spark, self.ctx.work, name)
            n = df.count()
        if n != expect_rows:
            raise RuntimeError(f"{name}: read {n} rows, wrote {expect_rows}")
        return df

    def warm_up(self) -> None:
        """Once, after the set-up passes and before the measured window."""

    def layer_work(self) -> None:
        """Untimed counters read only by a traced run."""


def rows_to_answers(rows):
    """collect()ed (qid, id, dist, rank) rows -> {qid: (ids, dists)} by rank."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["qid"]), []).append((r["rank"], int(r["id"]), float(r["dist"])))
    return {q: ([i for _, i, _ in sorted(v)], [d for _, _, d in sorted(v)])
            for q, v in by_q.items()}


def _batch(df, j):
    from pyspark.sql import functions as F

    return df.filter(F.col("batch") == j).drop("batch")


# -------------------------------------------------------------- vector-serve

class VectorServe(Workload):
    """One vector store, one client: exact k=100 ground truth for a query
    batch (euclidean and angular), IVF and HNSW builds, then three rounds of
    writes and reads.  A round applies an insert/update/delete batch to a
    VectorTable over the corpus, then asks ten queries of four access paths,
    one request each: filtered exact kNN on the fresh snapshot
    (``label <= L``, L uniform in 0..99), flat GEMM kNN, IVF and HNSW over
    the indexed base."""

    name = "vector-serve"
    # Three rounds keep a run near a minute; tail_ms is the maximum of the
    # 12 pooled requests (run.tail).
    sizes = dict(n=1_500, dim=32, per_request=10, batches=20, k=10, shards=4, rounds=3,
                 gt_batches=10, gt_k=100, inserts=10, updates=5, deletes=5,
                 checkpoint_every=2)
    tiny = dict(n=600, dim=8, per_request=4, batches=10, k=5, shards=2, rounds=2,
                gt_batches=2, gt_k=20, inserts=4, updates=2, deletes=2, checkpoint_every=1)
    kinds = ("raw", "flat", "ivf", "hnsw")

    def setup(self):
        from bigvectorbench_spark.operators.mutation import VectorTable
        from bigvectorbench_spark.sources.tables import load_table

        s = self.sz
        with self.span("bench.gen"):
            self.vs = gen.VectorSet(self.ctx.seed, s["n"], s["per_request"] * s["batches"],
                                    s["dim"])
            gen.write_vectors(self.path("corpus.parquet"), self.vs.ids, self.vs.X, self.vs.labels)
            gen.write_vectors(self.path("queries.parquet"), np.arange(len(self.vs.Q)), self.vs.Q,
                              self.vs.qlabels, id_col="qid", extra={"batch": np.repeat(
                                  np.arange(s["batches"], dtype=np.int32), s["per_request"])})
            self.script = self.make_script()
        self.train = self.read_corpus("corpus", s["n"])
        self.queries = load_table(self.ctx.spark, self.ctx.work, "queries")
        with self.span("mut.open"):
            self.table = VectorTable(self.ctx.spark, self.train)

    def warm_up(self):
        """Cold Python workers and the GEMM path; the other request paths
        are warmed after the builds (serve_warm_up)."""
        self.flat(self.sz["batches"] - 1).collect()

    def serve_warm_up(self):
        """One request of each kind between the builds and the loop: without
        it every kind's first request ran 15-40% slower than the rest."""
        from bigvectorbench_spark.operators.mutation import VectorTable

        j = self.sz["batches"] - 1
        # a throwaway table, so the measured one starts from the base
        warm = VectorTable(self.ctx.spark, self.train)
        self.apply(warm, self.script[-1])
        for df in (self.raw(j, warm), self.flat(j), self.ivf(j), self.hnsw(j)):
            df.collect()

    def make_script(self):
        """Seeded write batches.  Update and delete targets are drawn from the
        ids live at that point, so no op can fail."""
        s, rng = self.sz, np.random.default_rng(self.ctx.seed + 7)
        live = list(range(s["n"]))
        next_id = s["n"]
        script = []
        for _ in range(s["batches"]):
            ops = []
            for _ in range(s["inserts"]):
                ops.append(("i", None, self.vs.draw(1)[0], int(rng.integers(0, gen.N_LABELS))))
                live.append(next_id)
                next_id += 1
            for _ in range(s["updates"]):
                ops.append(("u", live[rng.integers(len(live))], self.vs.draw(1)[0],
                            int(rng.integers(0, gen.N_LABELS))))
            for _ in range(s["deletes"]):
                ops.append(("d", live.pop(int(rng.integers(len(live)))), None, None))
            script.append(ops)
        return script

    # --------------------------------------------------- calls into the program

    def apply(self, table, ops):
        lat = []
        with self.span("mut.ops"):
            for op, i, vec, label in ops:
                if op == "i":
                    lat.append(table.insert({"vec": vec.tolist(), "label": label}))
                elif op == "u":
                    lat.append(table.update(i, {"vec": vec.tolist(), "label": label}))
                else:
                    lat.append(table.delete(i))
        return lat

    def raw(self, j, table=None):
        from bigvectorbench_spark.operators.filter_knn import filtered_knn

        with self.span("mut.snapshot_call"):
            snap = (table or self.table).snapshot()
        with self.span("fknn.call"):
            return filtered_knn(snap, _batch(self.queries, j), k=self.sz["k"],
                                filter_template="label <= {label}", query_param_cols=["label"])

    def flat(self, j):
        from bigvectorbench_spark.operators.knn import knn

        with self.span("knn.call"):
            return knn(self.train, _batch(self.queries, j), k=self.sz["k"], method="gemm")

    def ivf(self, j):
        with self.span("ivf.search_call"):
            return self.index.search(self.indexed, _batch(self.queries, j), k=self.sz["k"],
                                     nprobe="auto")

    def hnsw(self, j):
        from bigvectorbench_spark.operators.hnsw import hnsw_search

        with self.span("hnsw.search_call"):
            return hnsw_search(self.shards, _batch(self.queries, j), k=self.sz["k"], ef="auto")

    # ------------------------------------------------------------- the window

    def ground_truth(self, metric, i):
        """Exact k=100 ground truth for a batch of queries: the groundtruth
        layer's batch path (GEMM kNN + packing)."""
        from bigvectorbench_spark.operators.groundtruth import build_groundtruth
        from pyspark.sql import functions as F

        q = self.queries.filter(F.col("batch") < self.sz["gt_batches"]).drop("batch")

        def go():
            with self.span("gt.call"):
                df = build_groundtruth(self.train, q, k=self.sz["gt_k"], metric=metric)
            with self.span("gt.exec"):
                return df.collect()

        n = self.sz["gt_batches"] * self.sz["per_request"]
        self.timed("gt", i, n, go).extra["metric"] = metric

    def build(self):
        from bigvectorbench_spark.operators.hnsw import build_hnsw_shards
        from bigvectorbench_spark.operators.similarity import IVFIndex
        from bigvectorbench_spark.sources.tables import load_table

        spark, s = self.ctx.spark, self.sz
        t0 = time.perf_counter()
        with self.span("build.ivf", request=-3):
            with self.span("ivf.fit"):
                self.index = IVFIndex.fit(self.train, nlist=max(2, round(s["n"] ** 0.5)),
                                          seed=self.ctx.seed, sort_col="id")
            with self.span("ivf.assign"):
                self.index.write_indexed(self.train, self.path("ivf.parquet"))
            self.indexed = spark.read.parquet(self.path("ivf.parquet"))
        t1 = time.perf_counter()
        with self.span("build.hnsw", request=-4):
            with self.span("hnsw.build"):
                build_hnsw_shards(self.train, num_shards=s["shards"], seed=self.ctx.seed
                                  ).write.mode("overwrite").parquet(self.path("hnsw.parquet"))
            self.shards = load_table(spark, self.ctx.work, "hnsw")
        self.metrics.update(ivf_build_s=t1 - t0, hnsw_build_s=time.perf_counter() - t1)

    def run(self):
        t0 = time.perf_counter()
        self.ground_truth("euclidean", -1)
        self.ground_truth("angular", -2)
        self.build()
        t1 = time.perf_counter()
        with self.span("bench.serve_warmup"):  # outside build_s and the loop
            self.serve_warm_up()
        t2 = time.perf_counter()
        s = self.sz
        op_lat, log_rows, ckpt, pending = [], [], [], 0
        for r in range(s["rounds"]):
            # compact before the write batch, so every read sees 1..n batches
            # of log and the cost of a round cycles instead of drifting
            if r and r % s["checkpoint_every"] == 0:
                tc = time.perf_counter()
                with self.span("mut.checkpoint", request=-5 - r):
                    self.table.checkpoint(self.path(f"ckpt-{r}.parquet"))
                ckpt.append(time.perf_counter() - tc)
                pending = 0
            op_lat += self.apply(self.table, self.script[r])
            pending += len(self.script[r])
            log_rows.append(pending)
            for kind in self.kinds:
                self.timed(kind, r, s["per_request"], self.request(kind, r)).extra["batch"] = r
        self.build_s, self.serve_s = t1 - t0, time.perf_counter() - t2
        self.metrics.update({
            "mut.op_us": float(np.median(op_lat)) * 1e6 if op_lat else 0.0,
            "mut.log_rows_at_read": float(np.mean(log_rows)) if log_rows else 0.0,
            "checkpoint_s": float(np.median(ckpt)) if ckpt else 0.0,
        })

    def request(self, kind, j):
        layer = {"raw": "fknn", "flat": "knn"}.get(kind, kind)

        def go():
            df = getattr(self, kind)(j)
            with self.span(f"{layer}.exec"):
                return rows_to_answers(df.collect())
        return go

    def samples(self):
        return [r.latency if not r.error else float("inf")
                for r in self.requests if r.kind in self.kinds]

    def answered(self):
        return sum(r.queries for r in self.requests if r.kind in self.kinds and not r.error)

    def layer_work(self):
        """Untimed counters for the traced run: IVF scan fraction and HNSW
        distance evaluations per query, over the first ten query batches."""
        from bigvectorbench_spark.operators.hnsw import hnsw_search_work
        from bigvectorbench_spark.operators.similarity import candidate_counts
        from pyspark.sql import functions as F

        q = self.queries.filter(F.col("batch") < 10).drop("batch")
        with self.span("bench.work"):
            cand = candidate_counts(self.index, self.indexed, q, nprobe="auto").collect()
            work = hnsw_search_work(self.shards, q, k=self.sz["k"], ef="auto").collect()
        self.metrics["ivf.scan_frac"] = (
            float(np.mean([r["n_candidates"] for r in cand])) / self.sz["n"])
        self.metrics["hnsw.dist_evals_per_query"] = (
            sum(r["dist_evals"] for r in work) / max(1, work[0]["n_queries"]))

    # ----------------------------------------------------------------- checks

    def verify(self):
        P, k = self.sz["per_request"], self.sz["k"]
        id_to_row = {int(i): j for j, i in enumerate(self.vs.ids)}
        replay = oracle.TableReplay(self.vs.ids, self.vs.X, self.vs.labels)
        recalls = {"ivf": [], "hnsw": []}
        done = 0
        for req in self.requests:
            if req.kind == "gt":
                if not req.error:
                    self.verify_gt(req, id_to_row, req.extra["metric"])
                continue
            b = req.extra["batch"]
            if req.kind == "raw":  # replay every write batch up to this read
                for ops in self.script[done:b + 1]:
                    for op, i, vec, label in ops:
                        if op == "i":
                            replay.insert(vec, label)
                        elif op == "u":
                            replay.update(i, vec, label)
                        else:
                            replay.delete(i)
                done = b + 1
            if req.error:
                continue
            Q = self.vs.Q[b * P:(b + 1) * P]
            if req.kind == "raw":
                ids, X, labels = replay.arrays()
                rows = {int(i): j for j, i in enumerate(ids)}
                L = self.vs.qlabels[b * P:(b + 1) * P]
                want = oracle.exact_topk(ids, X, Q, k, masks=[labels <= lq for lq in L])
            else:
                ids, X, rows = self.vs.ids, self.vs.X, id_to_row
                want = oracle.exact_topk(ids, X, Q, k)
            for qi in range(P):
                got_ids, got_d = req.answer.get(b * P + qi, ([], []))
                if req.kind in ("raw", "flat"):
                    why = oracle.check_exact(got_ids, got_d, want[qi], rows, X, Q[qi], "euclidean")
                else:
                    why = oracle.check_approx(got_ids, got_d, k, rows, X, Q[qi], "euclidean")
                    recalls[req.kind].append(oracle.recall(got_ids, want[qi][0]))
                if why:
                    self.failures.append(f"{req.kind} batch {b} query {qi}: {why}")
                    req.error = req.error or why
        for kind, r in recalls.items():
            self.metrics[f"{kind}_recall_at_10"] = float(np.mean(r)) if r else 0.0
        self.verify_table(replay)

    def verify_table(self, replay):
        """The final snapshot must hold exactly the replayed rows: a read
        only shows the few rows near its queries, this shows them all."""
        want = {int(i): (label, vec.tolist()) for i, (vec, label) in replay.rows.items()}
        got = {int(r["id"]): (r["label"], list(r["vec"]))
               for r in self.table.snapshot().select("id", "label", "vec").collect()}
        if got != want:
            wrong = len(set(got) ^ set(want)) + sum(
                1 for i in set(got) & set(want) if got[i] != want[i])
            self.failures.append(f"final snapshot: {wrong} rows differ from the op-log replay")
            last_read = [r for r in self.requests if r.kind == "raw"][-1]
            last_read.error = last_read.error or "final snapshot differs"

    def verify_gt(self, req, id_to_row, metric):
        Q = self.vs.Q[:self.sz["gt_batches"] * self.sz["per_request"]]
        want = oracle.exact_topk(self.vs.ids, self.vs.X, Q, self.sz["gt_k"], metric)
        got = {int(r["qid"]): r for r in req.answer}
        for qi in range(len(Q)):
            r = got.get(qi)
            why = "missing" if r is None else oracle.check_exact(
                list(r["neighbors"]), list(r["distances"]), want[qi], id_to_row,
                self.vs.X, Q[qi], metric, dist_tol=oracle.DIST_TOL)
            if why:
                self.failures.append(f"gt {metric} query {qi}: {why}")
                req.error = req.error or why


# -------------------------------------------------------------- declared-mix

# Families no other workload reaches: a relational aggregate, a fused
# dense-leg hybrid, a dedup loop and a curation pipeline (the last two have
# the most driver jobs of the declared queries).  A sparse search and
# pairless LSH dedup were left out to keep a run inside the time budget.
MIX = ("pricing_summary", "mmr_scale", "dedup_components", "llm_data_mix")


class DeclaredMix(Workload):
    """One pass over four declared queries, cache cleared before each."""

    name = "declared-mix"
    sizes = dict(docs=300, lineitem=30_000)
    tiny = dict(docs=120, lineitem=2_000)

    def setup(self):
        s = self.sz
        with self.span("bench.gen"):
            gen.write_documents(self.path("documents.parquet"), self.ctx.seed, s["docs"])
            gen.write_lineitem(self.path("lineitem.parquet"), self.ctx.seed, s["lineitem"])
        self.read_corpus("documents", s["docs"])
        self.read_corpus("lineitem", s["lineitem"])
        # The oracle embeds index selections recomputed from this directory;
        # it is read when the entry module is first imported.
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.ctx.work
        with self.span("entry.import"):
            import __spark_entry__ as entry
        self.entry = entry

    def warm_up(self):
        """The first query of a session pays JVM and worker warm-up, and a
        first mmr_scale about 9 s more than a second one; both would
        dominate the measured pass and make it noisy.  One mmr_scale pays
        both; a whole warm-up pass would add half again to the run."""
        self.query("mmr_scale")

    def query(self, q):
        spark = self.ctx.spark
        spark.catalog.clearCache()
        with self.span(f"entry.{q}.build"):
            df = self.entry.queries()[q](spark, self.ctx.work)
        with self.span(f"entry.{q}.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span(f"entry.{q}.exec"):
            return df.columns, [r.asDict(recursive=True) for r in df.collect()]

    def run(self):
        """One pass: a second pass would double the run for the same four
        samples."""
        t0 = time.perf_counter()
        for q in MIX:
            self.timed("mix", len(self.requests), 1, lambda: self.query(q)).extra["q"] = q
        self.serve_s = time.perf_counter() - t0
        self.build_s = sum(sp.dur for sp in self.ctx.tracer.spans
                           if sp.name.startswith("entry.") and sp.name.endswith(".build")
                           and sp.request is not None)
        self.metrics["mix_wall_s"] = self.serve_s

    def verify(self):
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.path(t + '.parquet')}'")
            sql = self.entry.oracle_sql()
            want = {}
            for q in MIX:
                if q == "dedup_components":
                    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
                    want[q] = oracle.dedup_components_rows(texts)
                else:
                    res = con.execute(sql[q])
                    cols = [d[0] for d in res.description]
                    want[q] = [dict(zip(cols, r)) for r in res.fetchall()]
        finally:
            con.close()
        for req in self.requests:
            if req.error:
                continue
            q = req.extra["q"]
            cols, rows = req.answer
            cols = sorted(cols)
            if not want[q] or sorted(want[q][0]) != cols:
                why = "no oracle rows" if not want[q] else "column names differ from the oracle"
            else:
                why = ("" if oracle.normalize(rows, cols) == oracle.normalize(want[q], cols)
                       else f"{len(rows)} rows differ from the oracle's {len(want[q])}")
            if why:
                self.failures.append(f"mix {q}: {why}")
                req.error = why


WORKLOADS = {w.name: w for w in (VectorServe, DeclaredMix)}
