#!/usr/bin/env python
"""Scale decades for the round-7 text-side additions: quality-classifier
corpus scoring, hybrid RRF retrieval, and MMR re-ranking.

Protocol (the serving shape, same as scale_hnsw): corpus-side artifacts —
postings, hashed embeddings, BQ codes — are built and persisted ONCE
(timed as build), then each retrieval measurement is search-only over a
fixed 50-query block.  Without this split every "query" measurement is
dominated by re-deriving the corpus artifacts, which no deployment does
per query-block.

Per corpus size (Zipf documents, gen_docs distribution):
  - classifier fit (bounded sample — must NOT grow with corpus) and
    full-corpus scoring (map-only fold — expected ~linear)
  - artifacts build wall (postings + embeddings + BQ codes)
  - hybrid RRF search: brute vector leg vs BQ-indexed vector leg
  - MMR re-rank over the cached embeddings' top-30

Usage: python scripts/scale_retrieval.py [N_SMALL N_BIG] [OUT_JSON]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigvectorbench_spark import get_spark
from bigvectorbench_spark.functions import text as tx
from bigvectorbench_spark.operators import hybrid as hy
from bigvectorbench_spark.operators import retrieval as rt
from bigvectorbench_spark.operators.bq import BQIndex
from bigvectorbench_spark.operators.classifier import QualityClassifier

RUNS = 3


def best_of(fn, runs=RUNS):
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), times


def ensure_corpus(n: int, root: str) -> str:
    out = os.path.join(root, f"docs_zipf{n}")
    if not os.path.exists(os.path.join(out, "documents.parquet")):
        subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "gen_docs.py"),
             str(n), out, "42", "zipf"],
            check=True)
    return out


def measure(spark, n: int, root: str) -> dict:
    path = ensure_corpus(n, root)
    docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
    out = {"corpus_rows": n}

    t0 = time.perf_counter()
    clf = QualityClassifier.fit(docs, dim=64, quality_threshold=0.8,
                                max_sample_rows=50_000)
    out["classifier_fit_s"] = round(time.perf_counter() - t0, 3)

    def _score():
        clf.score(docs).write.format("noop").mode("overwrite").save()

    out["classifier_score_s"], out["classifier_score_runs"] = best_of(_score)

    # ---- corpus-side artifacts, built once (the serving split) ----------
    t0 = time.perf_counter()
    post = rt.postings(docs).persist()
    post.count()
    stats = rt.stats_from_postings(post)
    base = hy.hashed_corpus(docs.select(
        "doc_id", tx.tokens(F.col("text")).alias("tk"))).persist()
    base.count()
    fvec = base.select(F.col("doc_id").alias("id"),
                       F.col("v").cast("array<double>").alias("vec")).persist()
    fvec.count()
    bq = BQIndex.fit(fvec, sort_col="id", max_sample_rows=50_000)
    codes = bq.encode(fvec, keep=["id"], method="kernel").persist()
    codes.count()
    out["artifacts_build_s"] = round(time.perf_counter() - t0, 3)

    step = max(1, n // 50)
    queries_lex = docs.filter(F.col("doc_id") % step == 0).limit(50).select(
        F.col("doc_id").alias("qid"),
        F.slice(F.array_sort(F.array_distinct(tx.tokens(F.col("text")))), 1, 3)
        .alias("terms")).persist()
    queries_lex.count()
    qv = (base.join(F.broadcast(queries_lex.select("qid")),
                    base.doc_id == F.col("qid"))
          .select("qid", F.col("v").alias("qv"), F.col("nsq").alias("qn"),
                  F.col("v").cast("array<double>").alias("qvec"))).persist()
    qv.count()

    def _lex_run():
        return rt.bm25_topk(docs, queries_lex, k=20, post=post,
                            stats=stats).select("qid", "doc_id", "rank")

    # the brute leg runs past the ALL_PAIRS envelope on purpose: the
    # quadratic plan is what this script measures against the BQ leg
    def _hybrid_brute():
        vec = hy.cosine_topk(base, qv.select("qid", "qv", "qn"), 20).select(
            "qid", "doc_id", "rank")
        rt.rrf_fuse([_lex_run(), vec], k=10).write.format(
            "noop").mode("overwrite").save()

    out["hybrid_brute_s"], out["hybrid_brute_runs"] = best_of(_hybrid_brute)

    def _hybrid_bq():
        vec = bq.search(codes, qv.select("qid", F.col("qvec").alias("vec")),
                        k=20, refine_train=fvec, overfetch=8).select(
            "qid", F.col("id").alias("doc_id"), "rank")
        rt.rrf_fuse([_lex_run(), vec], k=10).write.format(
            "noop").mode("overwrite").save()

    out["hybrid_bq_s"], out["hybrid_bq_runs"] = best_of(_hybrid_bq)

    def _mmr():
        cand = hy.cosine_topk(base, qv.select("qid", "qv", "qn"), 30).select(
            "qid", "doc_id", F.round(F.lit(1.0) - F.col("d"), 6).alias("rel"),
            F.col("tv").alias("vec"))
        rt.mmr_rerank(cand, k=10).write.format(
            "noop").mode("overwrite").save()

    out["mmr_s"], out["mmr_runs"] = best_of(_mmr)
    spark.catalog.clearCache()
    return out


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    out_path = sys.argv[3] if len(sys.argv) > 3 else "SCALE_RETRIEVAL_r7.json"
    root = os.environ.get("SPARK_GRAFT_GEN_DIR", "testdata_gen")
    spark = get_spark("scale-retrieval")
    spark.sparkContext.setLogLevel("ERROR")
    with open(out_path, "w") as f:
        for n in (n_small, n_big):
            row = measure(spark, n, root)
            print(json.dumps(row), flush=True)
            f.write(json.dumps(row) + "\n")
            f.flush()


if __name__ == "__main__":
    main()
