"""Dense legs of hybrid retrieval over derived hashed embeddings.

The reference's hybrid search runs one ANN subquery per field and merges
the per-field runs with a ranker (milvus/module.py:422-458).  The lexical
legs and the fusion live in ``retrieval``/``sparse``; this module holds the
DENSE field, written once for the declared hybrid/MMR queries, the grid
harness's sparse-hybrid runner and the retrieval scale script:

- ``hashed_corpus``: the ``(key, v, nsq)`` exact-integer hashed-embedding
  corpus of a tokenized frame, zero-norm rows dropped;
- ``int_cosine``: cosine distance over integer vectors — integer dot and
  squared norms, then 4 IEEE ops (2 sqrt, 1 mul, 1 div), so DuckDB
  replays the distances bit for bit;
- ``cosine_topk`` / ``brute_leg``: every (query, doc) pair scored; the
  declared queries' leg is guarded by the ``dedup.ALL_PAIRS_MAX_ROWS``
  envelope (``check_all_pairs``);
- ``bq_leg`` / ``bq_refine``: BQ hamming candidates, then the exact
  integer-cosine re-rank of the ``k·overfetch`` survivors.

Frames: a corpus ``base`` is ``(doc_id, v, nsq)``; a query frame ``qv`` is
``(qid, qv, qn)``.  Both legs end in ``knn.topk_window`` with ties broken by
ascending id.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from bigvectorbench_spark.functions import embed as em
from bigvectorbench_spark.operators import bq as bq_ops
from bigvectorbench_spark.operators import dedup as dd
from bigvectorbench_spark.operators.knn import topk_window

#: the declared queries' query set: documents with ``doc_id % QUERY_MOD == 0``
QUERY_MOD = 250


def hashed_corpus(tk: DataFrame) -> DataFrame:
    """``(key, v, nsq)`` from a ``(key, tk)`` token frame: the signed
    bucket-count embedding (exact integers) and its squared norm, zero-norm
    rows dropped.  Each stage is its own select: the d-wide embedding fold
    references the hash array once per component, and a non-materialized
    input would re-run every md5 d times (measured 19.1 s → 3.2 s for
    hashed_embed_knn at sf0.1).

    Persist the result when several legs read it: the BQ leg reads it four
    times (context collect, encode scan, query slice, refine scan), and
    without the boundary each read re-runs the md5 fold — measured 20.4 s
    → 11.5 s for hybrid_rrf_scale at 50k Zipf docs / 200 queries
    (SCALE_RETRIEVAL_r8.json)."""
    key = tk.columns[0]
    return (tk
            .select(key, em.token_hashes(F.col("tk")).alias("th"))
            .select(key, em.hashed_embedding(F.col("th")).alias("v"))
            .withColumn("nsq", F.aggregate("v", F.lit(0).cast("bigint"),
                                           lambda a, x: a + x * x))
            .filter(F.col("nsq") > 0))


def declared_queries(base: DataFrame) -> DataFrame:
    """``(qid, qv, qn)``: the ``doc_id % QUERY_MOD == 0`` slice of a corpus."""
    return (base.filter(F.pmod(F.col("doc_id"), F.lit(QUERY_MOD)) == 0)
            .select(F.col("doc_id").alias("qid"), F.col("v").alias("qv"),
                    F.col("nsq").alias("qn")))


def targets(base: DataFrame) -> DataFrame:
    """``(id, tv, tn)``: the corpus as the target side of ``int_cosine``."""
    return base.select(F.col("doc_id").alias("id"), F.col("v").alias("tv"),
                       F.col("nsq").alias("tn"))


def int_cosine() -> Column:
    """1 − qv·tv / (√qn · √tn) over columns ``qv, qn, tv, tn``."""
    dot = F.aggregate(F.zip_with("qv", "tv", lambda a, b: a * b),
                      F.lit(0).cast("bigint"), lambda a, x: a + x)
    return (F.lit(1.0) - dot.cast("double")
            / (F.sqrt(F.col("qn").cast("double"))
               * F.sqrt(F.col("tn").cast("double"))))


def check_all_pairs(n_rows: int, twin: str) -> None:
    """Refuse a brute dense leg past ``dedup.ALL_PAIRS_MAX_ROWS`` corpus
    rows: it is O(docs × queries) by construction.  ``twin`` names the
    caller's indexed path, so the error points at what to run instead."""
    if n_rows > dd.ALL_PAIRS_MAX_ROWS:
        raise ValueError(
            f"brute dense leg is O(docs × queries) ({n_rows} rows > "
            f"{dd.ALL_PAIRS_MAX_ROWS}) — use {twin} (BQ candidate scan + "
            "exact integer refine) at this size")


def cosine_topk(base: DataFrame, qv: DataFrame, k: int) -> DataFrame:
    """Exact integer-cosine top-``k`` of every query against the whole
    corpus, ``(qid, doc_id, tv, d, rank)``: a broadcast crossJoin, so
    O(docs × queries) — callers guard it with ``check_all_pairs``."""
    joined = targets(base).crossJoin(F.broadcast(qv)).select(
        "qid", F.col("id").alias("doc_id"), "tv", int_cosine().alias("d"))
    return topk_window(joined, k, dist="d", id_col="doc_id")


def brute_leg(base: DataFrame, k: int, *, twin: str,
              n_rows: int | None = None) -> DataFrame:
    """The declared queries' brute dense leg: ``cosine_topk`` of
    ``declared_queries(base)`` inside the ALL_PAIRS envelope.  ``n_rows``
    is the corpus row count when the caller already holds it; otherwise
    the envelope check counts ``base``."""
    check_all_pairs(base.count() if n_rows is None else n_rows, twin)
    return cosine_topk(base, declared_queries(base), k)


class DenseLegCtx(NamedTuple):
    ids: np.ndarray
    V: np.ndarray
    complete: bool


def dense_leg_ctx(base: DataFrame) -> DenseLegCtx:
    """One driver collect shared by a query's dense legs: ``(ids, V,
    complete)``, the corpus id-sorted, at most ``bq.MAX_FIT_SAMPLE_ROWS``
    rows.  The BQ thresholds (float64 mean of ``V`` — bit-identical to
    ``BQIndex.fit(sort_col="id")``, which samples the same rows in the same
    order), the kernel query block and the brute envelope count derive
    from it.  ``complete`` is False when the corpus is larger than the cap:
    then ``ids``/``V`` are the first cap rows — still ``fit``'s sample, but
    not every query — and ``bq_leg`` collects its queries itself."""
    cap = bq_ops.MAX_FIT_SAMPLE_ROWS
    rows = (base.select("doc_id", "v").orderBy("doc_id")
            .limit(cap + 1).collect())
    if not rows:
        raise ValueError("cannot fit BQIndex on an empty table")
    ids = np.array([r[0] for r in rows[:cap]], dtype=np.int64)
    V = np.array([r[1] for r in rows[:cap]], dtype=np.float64)
    return DenseLegCtx(ids, V, len(rows) <= cap)


def bq_index(base: DataFrame, ctx: DenseLegCtx) -> tuple:
    """``(BQIndex, codes)``: thresholds from a ``dense_leg_ctx``, codes
    ``(id, words)`` over the corpus (lazy; cache them to serve many
    searches)."""
    bq = bq_ops.BQIndex(thresholds=[float(x) for x in ctx.V.mean(axis=0)])
    fvec = base.select(F.col("doc_id").alias("id"),
                       F.col("v").cast("array<double>").alias("vec"))
    return bq, bq.encode(fvec, keep=["id"])


def bq_refine(bq, codes: DataFrame, base: DataFrame, qv: DataFrame, k: int,
              overfetch: int, qblock=None) -> DataFrame:
    """Hamming top-``k·overfetch`` candidates per query, re-ranked by exact
    integer cosine: ``(qid, id, tv, d, rank)``.  ``qblock``: the queries
    already collected as ``(qids, float64 matrix)``; without it the
    kernel collects ``qv`` itself."""
    queries = None if qblock is not None else qv.select(
        "qid", F.col("qv").cast("array<double>").alias("vec"))
    cand = bq.search(codes, queries, k=k * overfetch,
                     qblock=qblock).select("qid", "id")
    refined = (F.broadcast(cand).join(targets(base), "id")
               .join(F.broadcast(qv), "qid")
               .select("qid", "id", "tv", int_cosine().alias("d")))
    return topk_window(refined, k, dist="d")


def bq_leg(base: DataFrame, k: int,
           ctx: DenseLegCtx | None = None) -> DataFrame:
    """The declared queries' indexed dense leg: BQ over ``base`` with
    8× overfetch, queries ``declared_queries(base)``.  ``ctx``: a
    ``dense_leg_ctx(base)`` shared with another leg; built here otherwise.
    The query block comes from the context when it holds the whole corpus,
    from the query frame (bounded by ``knn.MAX_BROADCAST_QUERIES``)
    otherwise."""
    if ctx is None:
        ctx = dense_leg_ctx(base)
    bq, codes = bq_index(base, ctx)
    qmask = np.mod(ctx.ids, QUERY_MOD) == 0
    qblock = (ctx.ids[qmask], ctx.V[qmask]) if ctx.complete else None
    return bq_refine(bq, codes, base, declared_queries(base), k, 8,
                     qblock=qblock)
