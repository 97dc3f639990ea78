"""Per-query timing protocol — SURVEY §2.2 Q9 and the latency metrics the
reference derives from it (runner.py:24-242, plotting/metrics.py:61-108).

The reference times each query individually, with `prepare_query` /
`run_prepared_query` splitting plan-build from execution so client-side prep
is excluded (base/module.py: runner.py:89-94).  Spark's analog:

- **prepare** = build the DataFrame plan (lazy, driver-side);
- **run** = the action.

``time_individual_queries`` runs that protocol per query row — honest
per-query wall-clock including scheduling, which is what a 10-50 ms/query
workload actually experiences on Spark.  It is a *protocol-parity* tool for
modest query counts (each query is its own job); the scale path for
throughput is the batch form, whose per-query latency is batch_time/q
(reported by ``batch_latency_frame``) — the same convention the reference
uses for batch mode (runner.py:119-165: processed_count / total_time).
"""

from __future__ import annotations

import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigvectorbench_spark.operators.knn import knn
from bigvectorbench_spark.sources.tables import arrow_frame


def time_individual_queries(
    spark: SparkSession,
    train: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "euclidean",
    *,
    runs: int = 1,
    search_fn: Optional[Callable[[DataFrame, DataFrame, int], DataFrame]] = None,
    qid_col: str = "qid",
) -> DataFrame:
    """Sequential per-query execution, best-of-``runs`` per query
    (runner.py:61: best_search_time = min over runs).

    Returns (qid, latency seconds) — feed straight into
    ``metrics.latency_percentiles`` / ``metrics.qps``.  ``train`` should be
    cached by the caller (index build is a separate timed phase, M2)."""
    if search_fn is None:
        def search_fn(t, q, kk):
            return knn(t, q, k=kk, metric=metric, method="expr")

    q_rows = queries.collect()
    out = []
    for row in q_rows:
        # a local scan: the timed action unpickles nothing in a Python worker
        one = arrow_frame(spark, [row.asDict(recursive=True)], queries.schema)
        best = float("inf")
        for _ in range(max(1, runs)):
            plan = search_fn(train, one, k)          # prepare (not timed)
            t0 = time.perf_counter()
            plan.write.format("noop").mode("overwrite").save()   # run
            best = min(best, time.perf_counter() - t0)
        out.append((row[qid_col], best))
    return spark.createDataFrame(out, "qid bigint, latency double")


def batch_latency_frame(
    spark: SparkSession, queries: DataFrame, batch_seconds: float, qid_col: str = "qid"
) -> DataFrame:
    """Batch-mode convention (runner.py:119-165): every query in the batch
    is assigned latency = batch wall-clock / #queries."""
    n = queries.count()
    per = batch_seconds / max(n, 1)
    return queries.select(F.col(qid_col).cast("bigint").alias("qid")).withColumn(
        "latency", F.lit(per)
    )
