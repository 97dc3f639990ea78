"""Benchmark harness — SURVEY §2.6 A10-A14 / §3.1 and reference
definitions.py / main.py / data_export.py parity.

- ``expand_definitions``: the cartesian run-grid expansion
  (definitions.py:79-107, 240-304) with ``@metric/@dimension/@count``
  variable substitution (definitions.py:110-130).
- ``filter_already_run``: skip definitions whose results exist — the
  reference's result-file existence check (main.py:264-306) expressed as a
  left-anti join against the result catalog (A12).
- ``run_definition``: one benchmark run (runner.py:492-625 analog): timed
  build (index materialization), timed batch search, best-of-N repetitions
  (runner.py:61, 222-226), recall + QPS + percentile metrics.
- ``export_metrics``: union of per-run metric rows → CSV (data_export.py,
  S8/A14).

Algorithms registered: ``flat-expr`` (exact, Catalyst window plan),
``flat-gemm`` (exact, Arrow GEMM kernel), ``ivf`` (KMeans cluster pruning,
build knob nlist, query knob nprobe) — the Spark-idiomatic subset of the
reference's FLAT/IVF families (SURVEY §2.7)."""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import metrics as mx
from bigvectorbench_spark.operators.groundtruth import build_groundtruth, pack_results
from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.operators.similarity import IVFIndex


@dataclass(frozen=True)
class Definition:
    """One expanded run (reference Definition, definitions.py:15-23)."""

    algorithm: str
    dataset: str
    count: int
    build_args: tuple[tuple[str, Any], ...] = ()
    query_args: tuple[tuple[str, Any], ...] = ()

    @property
    def label(self) -> str:
        ba = ",".join(f"{k}={v}" for k, v in self.build_args)
        qa = ",".join(f"{k}={v}" for k, v in self.query_args)
        return f"{self.algorithm}({ba})[{qa}]"


def _substitute(v: Any, variables: Mapping[str, Any]) -> Any:
    if isinstance(v, str) and v.startswith("@"):
        return variables[v[1:]]
    return v


def _grid(d: Mapping[str, Sequence[Any]], variables: Mapping[str, Any]):
    if not d:
        return [()]
    keys = sorted(d)
    out = []
    for combo in itertools.product(*[d[k] for k in keys]):
        out.append(tuple((k, _substitute(v, variables)) for k, v in zip(keys, combo)))
    return out


def expand_definitions(
    algorithm: str,
    dataset: str,
    count: int,
    *,
    build_grid: Mapping[str, Sequence[Any]] | None = None,
    query_grid: Mapping[str, Sequence[Any]] | None = None,
    variables: Mapping[str, Any] | None = None,
) -> list[Definition]:
    """Cartesian expansion of build-time × query-time argument grids."""
    variables = dict(variables or {})
    variables.setdefault("count", count)
    return [
        Definition(algorithm, dataset, count, b, q)
        for b in _grid(build_grid or {}, variables)
        for q in _grid(query_grid or {}, variables)
    ]


def definitions_df(spark: SparkSession, defs: Sequence[Definition]) -> DataFrame:
    return spark.createDataFrame(
        [(d.algorithm, d.dataset, d.count, d.label) for d in defs],
        "algorithm string, dataset string, count int, label string",
    )


def filter_already_run(
    spark: SparkSession, defs: Sequence[Definition], catalog: Optional[DataFrame]
) -> list[Definition]:
    """A12: anti-join the definition list against the result catalog
    (columns dataset/count/label)."""
    if catalog is None:
        return list(defs)
    remaining = (
        definitions_df(spark, defs)
        .join(catalog.select("dataset", "count", "label"),
              ["dataset", "count", "label"], "left_anti")
        .collect()
    )
    keep = {(r["dataset"], r["count"], r["label"]) for r in remaining}
    return [d for d in defs if (d.dataset, d.count, d.label) in keep]


# ------------------------------------------------------------------ algorithms

def _run_flat(method: str):
    def _build(train, _args):
        return train  # exact scan: no index artifact

    def _search(train_art, queries, count, _qargs):
        return knn(train_art, queries, k=count, method=method)

    return _build, _search


def _run_hnsw():
    """HNSW through the grid harness: build-time args M/efConstruction/
    num_shards (reference milvus/config.yml HNSW grid: M, efConstruction),
    query-time arg ef (set_query_arguments analog).  The build artifact is
    the shard DataFrame — cache() stands in for the stored parquet (the
    CLI's write step persists results, not indexes)."""
    def _build(train, args):
        from bigvectorbench_spark.operators.hnsw import build_hnsw_shards

        shards = build_hnsw_shards(
            train, m=int(args.get("M", 8)),
            ef_construction=int(args.get("efConstruction", 64)),
            num_shards=int(args.get("num_shards", 8)), seed=3).cache()
        shards.count()  # materialize: build time must be in build_time
        return shards

    def _search(shards, queries, count, qargs):
        from bigvectorbench_spark.operators.hnsw import hnsw_search

        ef = qargs.get("ef", 64)
        return hnsw_search(shards, queries, k=count,
                           ef="auto" if ef == "auto" else int(ef))

    return _build, _search


def _nprobe_arg(qargs):
    """Grid nprobe knob: an int, or the literal "auto" (resolved by
    probe_lists via auto_nprobe — the calibrated recall-holding rule)."""
    v = qargs.get("nprobe", 4)
    return v if v == "auto" else int(v)


def _run_ivf():
    def _build(train, args):
        idx = IVFIndex.fit(train, nlist=int(args.get("nlist", 16)), seed=1)
        return idx, idx.assign(train)

    def _search(art, queries, count, qargs):
        idx, indexed = art
        return idx.search(indexed, queries, k=count, nprobe=_nprobe_arg(qargs))

    return _build, _search


def _run_pq():
    """PQ ADC through the grid harness: build knobs m/nbits (the reference's
    IVF_PQ build grid, milvus/config.yml:60-75 → definitions.py:240-304;
    ksub = 2**nbits), query knob overfetch (>1 enables the exact-refine
    re-rank over the float table — the standard PQ-then-refine pipeline)."""
    def _build(train, args):
        from bigvectorbench_spark.operators.pq import PQIndex

        pq = PQIndex.fit(train, m=int(args.get("m", 8)),
                         ksub=1 << int(args.get("nbits", 8)), seed=1)
        encoded = pq.encode(train).cache()
        encoded.count()  # materialize: encode cost belongs to build_time
        return pq, encoded, train

    def _search(art, queries, count, qargs):
        pq, encoded, train = art
        over = int(qargs.get("overfetch", 1))
        return pq.search(encoded, queries, k=count,
                         refine_train=train if over > 1 else None,
                         overfetch=over)

    return _build, _search


def _run_ivfpq():
    """IVF_PQ composition: build knobs nlist/m/nbits, query knob nprobe
    (the reference's workhorse grid, milvus/config.yml:60-75)."""
    def _build(train, args):
        from bigvectorbench_spark.operators.pq import PQIndex

        idx = IVFIndex.fit(train, nlist=int(args.get("nlist", 16)), seed=1)
        pq = PQIndex.fit(train, m=int(args.get("m", 8)),
                         ksub=1 << int(args.get("nbits", 8)), seed=1)
        indexed = pq.encode(idx.assign(train)).cache()
        indexed.count()
        return idx, pq, indexed

    def _search(art, queries, count, qargs):
        from bigvectorbench_spark.operators.pq import ivfpq_search

        idx, pq, indexed = art
        return ivfpq_search(idx, pq, indexed, queries, k=count,
                            nprobe=_nprobe_arg(qargs))

    return _build, _search


def _run_sq8():
    """IVF_SQ8's quantization half (milvus/config.yml:40-58): int8-coded
    stored vectors, full-precision queries.  No build/query knobs — the
    scalar quantizer is parameter-free; compose with ivf via the grid's
    nlist if cell pruning is wanted too."""
    def _build(train, _args):
        from bigvectorbench_spark.operators.quantize import quantize_table

        coded = quantize_table(train).drop("vec").cache()
        coded.count()
        return coded

    def _search(coded, queries, count, _qargs):
        from bigvectorbench_spark.operators.quantize import knn_quantized

        return knn_quantized(coded, queries, k=count)

    return _build, _search


def _run_opq():
    """OPQ: build knobs m/nbits/iters (rotation alternations; iters=0 is
    plain PQ), query knob overfetch — the PQ grid with the learned
    rotation in front."""
    def _build(train, args):
        from bigvectorbench_spark.operators.opq import OPQIndex

        idx = OPQIndex.fit(train, m=int(args.get("m", 8)),
                           ksub=1 << int(args.get("nbits", 8)),
                           iters=int(args.get("iters", 3)), seed=1)
        encoded = idx.encode(train).select("id", "codes").cache()
        encoded.count()
        return idx, encoded, train

    def _search(art, queries, count, qargs):
        idx, encoded, train = art
        over = int(qargs.get("overfetch", 1))
        return idx.search(encoded, queries, k=count,
                          refine_train=train if over > 1 else None,
                          overfetch=over)

    return _build, _search


def _run_bq():
    """Binary quantization: build knob center (mean thresholds vs raw sign
    bits), query knob overfetch (hamming pre-rank width before the exact
    refine).  1 bit/dim codes — the narrowest scan in the family grid."""
    def _build(train, args):
        from bigvectorbench_spark.operators.bq import BQIndex

        idx = BQIndex.fit(train, center=bool(args.get("center", True)),
                          sort_col="id")
        codes = idx.encode(train, keep=["id"]).cache()
        codes.count()  # materialize: encode cost belongs to build_time
        return idx, codes, train

    def _search(art, queries, count, qargs):
        idx, codes, train = art
        return idx.search(codes, queries, k=count, refine_train=train,
                          overfetch=int(qargs.get("overfetch", 4)))

    return _build, _search


def _run_hybrid():
    """Multi-field hybrid search through the grid harness (the reference's
    hybrid = per-field ANN subqueries merged by a ranker,
    milvus/module.py:422-458): the vector splits into two half-dimension
    fields (the mv_knn convention), each field retrieves its own top-2k
    run — through the ``flat-expr`` or the ``bq`` runner per the build
    knob ``leg`` — and Reciprocal Rank Fusion merges them (query knobs
    ``k0`` and ``w2``, the second field's weight).  Scored against the
    FULL-vector exact ground truth, so the metrics CSV gets honest
    recall/QPS Pareto points for fusion configs."""
    def _split(df, half, d):
        a = df.select("id", F.slice("vec", 1, half).alias("vec"))
        b = df.select("id", F.slice("vec", half + 1, d - half).alias("vec"))
        return a, b

    def _build(train, args):
        d = train.select(F.size("vec")).first()[0]
        half = d // 2
        leg = str(args.get("leg", "bq"))
        if leg not in ("brute", "bq"):
            raise ValueError(f"unknown hybrid leg {leg!r}; expected brute|bq")
        build, search = _run_flat("expr") if leg == "brute" else _run_bq()
        return search, half, d, [build(t, {}) for t in _split(train, half, d)]

    def _search(art, queries, count, qargs):
        from bigvectorbench_spark.operators import retrieval as rt

        search, half, d, arts = art
        k0 = float(qargs.get("k0", 60))
        w2 = float(qargs.get("w2", 1.0))
        fields = _split(queries.withColumnRenamed("qid", "id"), half, d)
        runs = [search(a, q.withColumnRenamed("id", "qid"), count * 2, {})
                .select("qid", F.col("id").alias("doc_id"), "rank")
                for a, q in zip(arts, fields)]
        fused = rt.rrf_fuse(runs, k=count, k0=int(k0), weights=[1.0, w2])
        return fused.select(
            "qid", F.col("doc_id").alias("id"),
            (-F.col("score")).alias("dist"), F.col("rank").cast("int"))

    return _build, _search


def sparse_exact_groundtruth(train: DataFrame, queries: DataFrame,
                             k: int) -> DataFrame:
    """Exact sparse-IP ground truth for a text dataset (train(id, text),
    queries(qid, text)): the unpruned inverted-index search with external
    queries weighted under corpus statistics — the truth the sparse grid's
    recall is honest against (dist = −score, the rrf_fuse convention)."""
    from bigvectorbench_spark.operators import sparse as sp

    post = sp.lexical_postings(train, id_col="id", text_col="text")
    wpost = sp.sparse_postings(train, post=post)
    qw = sp.text_query_weights(queries, post, qid_col="qid", text_col="text")
    topk = sp.sparse_topk(train, queries, k=k, wpost=wpost, qweights=qw)
    topk = topk.select("qid", F.col("doc_id").alias("id"),
                       (-F.col("score")).alias("dist"), "rank")
    return pack_results(topk, queries, k)


def _run_sparse():
    """Sparse inner-product family through the grid harness (the Milvus
    SPARSE_FLOAT_VECTOR analog, operators/sparse.py — VERDICT r8 ask #7):
    documents become SMART-ltn TF-IDF vectors over unigram+bigram
    features; build knob ``m`` is the impact-ordered per-term posting cap
    (0 = exact/unpruned, "auto" = the calibrated auto_m rule); queries are
    EXTERNAL text weighted under corpus statistics (text_query_weights).
    dist = −score so smaller is better (the rrf_fuse convention), scored
    against sparse_exact_groundtruth."""
    from bigvectorbench_spark.operators import sparse as sp

    def _build(train, args):
        post = sp.lexical_postings(train, id_col="id", text_col="text").cache()
        wpost = sp.sparse_postings(train, post=post)
        m = args.get("m", "auto")
        idx = wpost if m in (0, "0", None, "exact") else sp.prune_postings(
            wpost, m=m)
        idx = idx.cache()
        idx.count()  # materialize: index build cost belongs to build_time
        return post, idx

    def _search(art, queries, count, qargs):
        post, idx = art
        qw = sp.text_query_weights(queries, post, qid_col="qid",
                                   text_col="text")
        r = sp.sparse_topk(None, queries, k=count, wpost=idx, qweights=qw)
        return r.select("qid", F.col("doc_id").alias("id"),
                        (-F.col("score")).alias("dist"),
                        F.col("rank").cast("int"))

    return _build, _search


def _run_sparse_hybrid():
    """Sparse+dense multi-field hybrid through the grid harness (the
    Milvus 2.4 SPARSE_FLOAT_VECTOR + dense field form the declared
    hybrid_sparse_rrf pins at oracle scale): the sparse leg is the
    ``sparse`` runner's top-2k (optionally impact-pruned index), the dense
    leg cosine over derived hashed embeddings (operators/hybrid.py) —
    brute or BQ-indexed per the ``leg`` knob — and RRF merges them (query
    knobs ``k0`` and ``w2``).  Scored against the exact SPARSE ground
    truth, so the metrics CSV shows what the dense field adds/costs
    against the lexical truth."""
    from bigvectorbench_spark.functions import text as tx
    from bigvectorbench_spark.operators import hybrid as hy
    from bigvectorbench_spark.operators import retrieval as rt

    sparse_build, sparse_search = _run_sparse()

    def _build(train, args):
        lex = sparse_build(train, args)
        vecs = hy.hashed_corpus(train.select(
            F.col("id").alias("doc_id"),
            tx.tokens(F.col("text")).alias("tk"))).cache()
        leg = str(args.get("leg", "brute"))
        if leg == "brute":
            # refuse at build time, before the grid times any search
            hy.check_all_pairs(vecs.count(),
                               "--algorithm sparse-hybrid with leg=bq")
            return lex, lambda qv, k: hy.cosine_topk(vecs, qv, k).select(
                "qid", "doc_id", "rank")
        if leg != "bq":
            raise ValueError(f"unknown dense leg {leg!r}; expected brute|bq")
        bq, codes = hy.bq_index(vecs, hy.dense_leg_ctx(vecs))
        codes = codes.cache()
        codes.count()
        return lex, lambda qv, k: hy.bq_refine(
            bq, codes, vecs, qv, k, 4).select(
            "qid", F.col("id").alias("doc_id"), "rank")

    def _search(art, queries, count, qargs):
        lex_art, dense_leg = art
        k_leg = count * 2
        lex = sparse_search(lex_art, queries, k_leg, {}).select(
            "qid", F.col("id").alias("doc_id"), "rank")
        qv = hy.hashed_corpus(queries.select(
            "qid", tx.tokens(F.col("text")).alias("tk"))).select(
            "qid", F.col("v").alias("qv"), F.col("nsq").alias("qn"))
        fused = rt.rrf_fuse([lex, dense_leg(qv, k_leg)], k=count,
                            k0=int(qargs.get("k0", 60)),
                            weights=[1.0, float(qargs.get("w2", 1.0))])
        return fused.select("qid", F.col("doc_id").alias("id"),
                            (-F.col("score")).alias("dist"),
                            F.col("rank").cast("int"))

    return _build, _search


ALGORITHMS: dict[str, Callable] = {
    "flat-expr": lambda: _run_flat("expr"),
    "flat-gemm": lambda: _run_flat("gemm"),
    "ivf": _run_ivf,
    "hnsw": _run_hnsw,
    "pq": _run_pq,
    "ivfpq": _run_ivfpq,
    "sq8": _run_sq8,
    "bq": _run_bq,
    "opq": _run_opq,
    "hybrid": _run_hybrid,
    "sparse": _run_sparse,
    "sparse-hybrid": _run_sparse_hybrid,
}


@dataclass
class RunResult:
    definition: Definition
    build_time: float
    best_search_time: float
    qps: float
    mean_recall: float
    results: DataFrame = field(repr=False)
    percentiles_ms: dict[str, float] = field(default_factory=dict)


def run_definition(
    spark: SparkSession,
    defn: Definition,
    train: DataFrame,
    queries: DataFrame,
    groundtruth: Optional[DataFrame] = None,
    *,
    runs: int = 1,
    individual_timing: bool = False,
) -> RunResult:
    """One load→build→search→score run (runner.py:492-625 shape).

    best_search_time = min over ``runs`` repetitions of the batch wall-clock
    divided by query count (runner.py:222-226's batch analog); QPS = its
    inverse (plotting/metrics.py:51-58).  With ``individual_timing`` each
    query is additionally executed as its own job (the reference's
    per-query protocol) to produce p50/p90/p95/p99 latencies — use for
    modest query counts only."""
    if defn.algorithm not in ALGORITHMS:
        raise ValueError(f"unknown algorithm {defn.algorithm!r}; have {sorted(ALGORITHMS)}")
    build, search = ALGORITHMS[defn.algorithm]()
    bargs, qargs = dict(defn.build_args), dict(defn.query_args)

    t0 = time.perf_counter()
    artifact = build(train, bargs)
    build_time = time.perf_counter() - t0

    n_queries = queries.count()
    best = float("inf")
    topk = None
    for _ in range(max(1, runs)):
        t0 = time.perf_counter()
        topk = search(artifact, queries, defn.count, qargs)
        topk.write.format("noop").mode("overwrite").save()
        best = min(best, (time.perf_counter() - t0) / max(n_queries, 1))

    pct: dict[str, float] = {}
    if individual_timing:
        from bigvectorbench_spark.operators.timing import time_individual_queries

        times = time_individual_queries(
            spark, train, queries, defn.count,
            search_fn=lambda t, q, kk: search(artifact, q, kk, qargs), runs=runs)
        row = mx.latency_percentiles(times, percentiles=(0.5, 0.9, 0.95, 0.99)).collect()[0]
        pct = {c: row[c] for c in row.asDict()}

    packed = pack_results(topk, queries, defn.count)
    if groundtruth is None:
        groundtruth = build_groundtruth(train, queries, k=defn.count, method="expr")
    recall = mx.recall_summary(packed, groundtruth).collect()[0]["mean_recall"]
    return RunResult(
        percentiles_ms=pct,
        definition=defn,
        build_time=build_time,
        best_search_time=best,
        qps=1.0 / best if best > 0 else float("inf"),
        mean_recall=recall,
        results=packed,
    )


def metrics_rows(spark: SparkSession, results: Sequence[RunResult]) -> DataFrame:
    """A14/S8: union of per-run metric rows, ready for CSV export or the
    Pareto frontier (A9) over (recall, qps)."""
    return spark.createDataFrame(
        [
            (r.definition.dataset, r.definition.count, r.definition.algorithm,
             r.definition.label, r.build_time, r.best_search_time, r.qps, r.mean_recall)
            for r in results
        ],
        "dataset string, count int, algorithm string, label string, "
        "build_time double, best_search_time double, qps double, mean_recall double",
    )


def export_metrics(df: DataFrame, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
