"""Fixture determinism + harness expansion/skip/run/export."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark import fixtures as fx
from bigvectorbench_spark import harness as hz
from bigvectorbench_spark.operators import metrics as mx


def test_fixtures_deterministic(spark):
    a_tr, a_te = fx.random_float(spark, n=500, d=8)
    b_tr, b_te = fx.random_float(spark, n=500, d=8)
    assert a_tr.collect() == b_tr.collect()
    assert a_te.collect() == b_te.collect()
    assert a_tr.count() == 450 and a_te.count() == 50


def test_fixture_registry_all_load(spark):
    # smaller instantiations of each family to keep the test fast
    tr, te = fx.random_bitstring(spark, n=300, d=16)
    assert dict(tr.dtypes)["vec"] == "array<boolean>"
    tr, te = fx.random_jaccard(spark, n=300)
    assert tr.select(F.size("vec")).first()[0] == 20
    tr, te, template = fx.random_filter(spark, n=300, d=8, n_labels=2)
    assert "label_0 <= {label_0}" in template
    assert "label_1" in dict(tr.dtypes)
    tr, te = fx.random_mv(spark, n=200, v=4, d=10)
    assert tr.select(F.size("vecs")).first()[0] == 4


def test_expand_definitions_cartesian():
    defs = hz.expand_definitions(
        "ivf", "fx", 10,
        build_grid={"nlist": [8, 16]},
        query_grid={"nprobe": [1, 2, "@count"]},
        variables={"dimension": 32},
    )
    assert len(defs) == 6
    labels = {d.label for d in defs}
    assert "ivf(nlist=8)[nprobe=10]" in labels  # @count substituted


def test_filter_already_run(spark):
    defs = hz.expand_definitions("flat-expr", "fx", 10, query_grid={"dummy": [1, 2]})
    catalog = hz.definitions_df(spark, defs[:1])
    remaining = hz.filter_already_run(spark, defs, catalog)
    assert len(remaining) == 1 and remaining[0] == defs[1]
    assert hz.filter_already_run(spark, defs, None) == defs


@pytest.fixture(scope="module")
def small_ds(spark):
    tr, te = fx.random_float(spark, n=400, d=8)
    return tr.cache(), te.limit(20).cache()


def test_run_definition_flat_recall_one(spark, small_ds):
    tr, te = small_ds
    r = hz.run_definition(
        spark, hz.Definition("flat-expr", "fx", 10), tr, te, runs=2)
    assert r.mean_recall == 1.0
    assert r.qps > 0 and r.build_time >= 0
    assert r.results.count() == 20


def test_run_definition_ivf_and_export(spark, small_ds, tmp_path):
    tr, te = small_ds
    defs = hz.expand_definitions(
        "ivf", "fx", 10, build_grid={"nlist": [4]}, query_grid={"nprobe": [1, 4]})
    results = [hz.run_definition(spark, d, tr, te) for d in defs]
    m = hz.metrics_rows(spark, results)
    assert m.count() == 2
    # nprobe=4 (full) must reach recall 1.0 and dominate nprobe=1
    by_label = {r["label"]: r for r in m.collect()}
    assert by_label["ivf(nlist=4)[nprobe=4]"]["mean_recall"] == 1.0
    assert (by_label["ivf(nlist=4)[nprobe=1]"]["mean_recall"]
            <= by_label["ivf(nlist=4)[nprobe=4]"]["mean_recall"])
    hz.export_metrics(m, str(tmp_path / "metrics"))
    back = spark.read.option("header", True).csv(str(tmp_path / "metrics"))
    assert back.count() == 2
    # Pareto frontier over the exported points (A9 end-to-end)
    front = mx.pareto_frontier(
        back.select(F.col("mean_recall").cast("double").alias("recall"),
                    F.col("qps").cast("double")), x="recall", y="qps")
    assert front.count() >= 1


def test_run_definition_individual_timing(spark, small_ds):
    tr, te = small_ds
    r = hz.run_definition(
        spark, hz.Definition("flat-expr", "fx", 5), tr, te.limit(4),
        individual_timing=True)
    assert set(r.percentiles_ms) == {"p5", "p9", "p95", "p99"}
    assert all(v > 0 for v in r.percentiles_ms.values())


def test_unknown_algorithm_raises(spark, small_ds):
    tr, te = small_ds
    with pytest.raises(ValueError):
        hz.run_definition(spark, hz.Definition("scann", "fx", 10), tr, te)


def test_run_definition_hnsw_grid(spark, small_ds):
    """HNSW through the grid harness (reference milvus HNSW config grid:
    M/efConstruction build-time, ef query-time): recall monotone in ef,
    exact at ef >= corpus size."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "hnsw", "fx", 10,
        build_grid={"M": [8], "efConstruction": [64], "num_shards": [2]},
        query_grid={"ef": [4, 1000]})
    results = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    full = results["hnsw(M=8,efConstruction=64,num_shards=2)[ef=1000]"]
    low = results["hnsw(M=8,efConstruction=64,num_shards=2)[ef=4]"]
    assert full.mean_recall == 1.0  # ef >= shard size: exactness contract
    assert low.mean_recall <= full.mean_recall


def test_zipf_vocab_is_distinct_and_zipf_shaped():
    """gen_sf.py's Zipf corpus mode: exactly n distinct words, normalized
    Zipf-Mandelbrot probabilities, and the head/tail mass ratio a s≈1.07
    law implies (the fixture the n-gram scaling measurement rests on)."""
    import numpy as np
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from gen_sf import zipf_vocab

    rng = np.random.RandomState(7)
    words, p = zipf_vocab(10_000, rng)
    assert len(words) == 10_000 == len(set(words))
    assert abs(p.sum() - 1.0) < 1e-12
    assert (np.diff(p) <= 0).all()            # monotone rank-frequency
    # top-100 words carry far more mass than ranks 1000-1100 (Zipf head)
    assert p[:100].sum() > 10 * p[1000:1100].sum()
    # but no single word dominates (q=2.7 flattens the very head)
    assert p[0] < 0.05
    # determinism under the same seed
    w2, p2 = zipf_vocab(10_000, np.random.RandomState(7))
    assert (w2 == words).all() and np.allclose(p2, p)


def test_run_definition_pq_grid(spark, small_ds):
    """PQ through the grid harness (VERDICT r6 ask #2): m/nbits build
    grid, overfetch query knob; the refined cell (overfetch=4 exact
    re-rank) must dominate the pure-ADC cell's recall."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "pq", "fx", 10, build_grid={"m": [4], "nbits": [6]},
        query_grid={"overfetch": [1, 4]})
    assert [d.label for d in defs] == [
        "pq(m=4,nbits=6)[overfetch=1]", "pq(m=4,nbits=6)[overfetch=4]"]
    by_label = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    adc = by_label["pq(m=4,nbits=6)[overfetch=1]"]
    ref = by_label["pq(m=4,nbits=6)[overfetch=4]"]
    assert 0.0 < adc.mean_recall <= 1.0 and adc.qps > 0
    assert ref.mean_recall >= adc.mean_recall
    assert ref.mean_recall >= 0.8          # refine re-ranks with exact dist


def test_run_definition_ivfpq_grid(spark, small_ds):
    """IVF_PQ cell: recall monotone in nprobe, full probe matches plain PQ
    ADC (pruning at nprobe=nlist is a no-op on WHICH rows are scanned)."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "ivfpq", "fx", 10, build_grid={"nlist": [4], "m": [4], "nbits": [6]},
        query_grid={"nprobe": [1, 4]})
    by_label = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    lo = by_label["ivfpq(m=4,nbits=6,nlist=4)[nprobe=1]"]
    hi = by_label["ivfpq(m=4,nbits=6,nlist=4)[nprobe=4]"]
    assert lo.mean_recall <= hi.mean_recall
    assert hi.qps > 0 and hi.build_time > 0


def test_run_definition_sq8(spark, small_ds):
    """SQ8 cell: int8-coded stored vectors, full-precision queries; blob
    data survives 8-bit quantization at near-exact recall."""
    tr, te = small_ds
    r = hz.run_definition(spark, hz.Definition("sq8", "fx", 10), tr, te)
    assert r.mean_recall >= 0.9
    assert r.qps > 0


def test_run_definition_opq_grid(spark, small_ds):
    """OPQ cell: the refined path must dominate pure-ADC recall (same
    invariant as the pq grid) and the rotation must not break the
    refine-exactness contract."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "opq", "fx", 10, build_grid={"m": [4], "nbits": [6], "iters": [2]},
        query_grid={"overfetch": [1, 4]})
    assert [d.label for d in defs] == [
        "opq(iters=2,m=4,nbits=6)[overfetch=1]",
        "opq(iters=2,m=4,nbits=6)[overfetch=4]"]
    by_label = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    adc = by_label["opq(iters=2,m=4,nbits=6)[overfetch=1]"]
    ref = by_label["opq(iters=2,m=4,nbits=6)[overfetch=4]"]
    assert 0.0 < adc.mean_recall <= 1.0 and adc.qps > 0
    assert ref.mean_recall >= adc.mean_recall
    assert ref.mean_recall >= 0.8


def test_run_definition_bq_grid(spark, small_ds):
    """BQ cell: recall monotone in overfetch (wider hamming pre-rank feeds
    the same exact refine), and the refined path does real work on blob
    data at 1 bit/dim."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "bq", "fx", 10, build_grid={"center": [True]},
        query_grid={"overfetch": [2, 8]})
    assert [d.label for d in defs] == [
        "bq(center=True)[overfetch=2]", "bq(center=True)[overfetch=8]"]
    by_label = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    lo = by_label["bq(center=True)[overfetch=2]"]
    hi = by_label["bq(center=True)[overfetch=8]"]
    assert lo.mean_recall <= hi.mean_recall
    assert hi.mean_recall >= 0.6
    assert hi.qps > 0 and hi.build_time > 0


def test_random_filter_ratio_hits_requested_selectivity(spark):
    """The ratio-parameterized generator (reference
    create_artificial_datasets.py:286-520 analog): realized per-query
    selectivity concentrates on the request, for one and for composed
    filters (the multi-filter case multiplies per-filter factors)."""
    from pyspark.sql import functions as F
    from bigvectorbench_spark.operators.filter_knn import (
        compile_filter_template, QUERY_PREFIX)

    for n_filters, ratio in ((1, 0.1), (2, 0.04)):
        train, test, template, param_cols = fx.random_filter_ratio(
            spark, n=4_000, d=8, n_filters=n_filters, max_labels=1_000,
            ratio=ratio, m_test=200, seed=3)
        cond = compile_filter_template(template)
        qp = test.select("qid", *[F.col(c).alias(f"{QUERY_PREFIX}{c}")
                                  for c in param_cols])
        n_train = train.count()
        got = (train.crossJoin(F.broadcast(qp)).filter(F.expr(cond))
               .groupBy("qid").count()
               .agg(F.avg(F.col("count") / n_train)).collect()[0][0])
        assert got == pytest.approx(ratio, rel=0.30), (n_filters, ratio, got)


def test_random_filter_ratio_template_runs_through_filtered_knn(spark):
    from bigvectorbench_spark.operators.filter_knn import filtered_knn

    train, test, template, param_cols = fx.random_filter_ratio(
        spark, n=2_000, d=8, n_filters=1, max_labels=100, ratio=0.2,
        m_test=50, seed=5)
    gt = filtered_knn(train, test.limit(10), k=5,
                      filter_template=template, query_param_cols=param_cols)
    rows = gt.collect()
    assert rows and set(gt.columns) == {"qid", "id", "dist", "rank"}
    # every returned neighbor satisfies its query's range predicate
    labels = {r["id"]: r["label_0"] for r in train.collect()}
    bounds = {r["qid"]: (r["label_l_0"], r["label_r_0"])
              for r in test.limit(10).collect()}
    for r in rows:
        lo, hi = bounds[r["qid"]]
        assert lo <= labels[r["id"]] <= hi


def test_run_definition_hybrid_grid(spark, small_ds):
    """Hybrid cell (VERDICT r7 ask #6): two half-dimension field
    subqueries fused by RRF.  The brute legs are exact per field, so
    fused recall against the full-vector truth is high on blob data; the
    BQ legs trade recall for the 1-bit scan and must stay a valid run
    (ranks dense, k rows per query).  Rank fusion of half-vector fields
    against the FULL-vector truth is lossy by nature (measured 0.52 on
    d=8 blobs with exact legs) — the floor asserts the fusion does real
    work, not that it recovers the joint metric."""
    tr, te = small_ds
    defs = hz.expand_definitions(
        "hybrid", "fx", 10, build_grid={"leg": ["brute", "bq"]},
        query_grid={"k0": [60], "w2": [1.0]})
    assert [d.label for d in defs] == [
        "hybrid(leg=brute)[k0=60,w2=1.0]", "hybrid(leg=bq)[k0=60,w2=1.0]"]
    by = {d.label: hz.run_definition(spark, d, tr, te) for d in defs}
    brute = by["hybrid(leg=brute)[k0=60,w2=1.0]"]
    bq = by["hybrid(leg=bq)[k0=60,w2=1.0]"]
    assert brute.mean_recall >= 0.4          # exact per-field legs
    assert bq.mean_recall > 0.15             # 1-bit legs do real work
    assert brute.qps > 0 and bq.qps > 0
    assert brute.results.count() == te.count()


def test_run_definition_sparse_text_grid(spark):
    """The sparse family through the grid harness on the Zipf text fixture
    (VERDICT r8 ask #7): exact (m=0) reaches recall 1.0 against the sparse
    ground truth; a tight cap only loses recall; the sparse+dense hybrid
    runs end-to-end with either dense leg and emits a sane recall."""
    tr, te = fx.random_text(spark, n=400, vocab=300)
    tr, te = tr.cache(), te.cache()
    gt = hz.sparse_exact_groundtruth(tr, te, k=5).cache()
    exact = hz.run_definition(
        spark, hz.Definition("sparse", "fx", 5, (("m", 0),)), tr, te, gt)
    assert exact.mean_recall == 1.0
    tight = hz.run_definition(
        spark, hz.Definition("sparse", "fx", 5, (("m", 8),)), tr, te, gt)
    assert tight.mean_recall <= 1.0 and tight.qps > 0
    for leg in ("brute", "bq"):
        hyb = hz.run_definition(
            spark,
            hz.Definition("sparse-hybrid", "fx", 5,
                          (("leg", leg), ("m", "auto")),
                          (("k0", 60), ("w2", 0.5))),
            tr, te, gt)
        assert 0.0 < hyb.mean_recall <= 1.0
        assert hyb.results.count() == te.count()


def test_sparse_hybrid_brute_leg_refuses_at_scale(spark, monkeypatch):
    """The CLI grid's brute dense leg wears the ALL_PAIRS envelope
    (ADVICE r9 #3): past the cap it refuses at BUILD time with a pointer
    at leg=bq instead of silently launching the O(docs x queries)
    crossJoin from run_benchmark."""
    import pytest as _pytest

    from bigvectorbench_spark.operators import dedup as dd

    tr, te = fx.random_text(spark, n=40, vocab=50)
    gt = hz.sparse_exact_groundtruth(tr, te, k=3).cache()
    monkeypatch.setattr(dd, "ALL_PAIRS_MAX_ROWS", 1)
    with _pytest.raises(ValueError, match="leg=bq"):
        hz.run_definition(
            spark,
            hz.Definition("sparse-hybrid", "fx", 3,
                          (("leg", "brute"), ("m", 0)), (("k0", 60),)),
            tr, te, gt)
