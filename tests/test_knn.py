"""KNN operator properties: k=n equals full sort, pre-filter ⊆ unfiltered
corpus top-k semantics, plan shape = TakeOrderedAndProject (no global sort
shuffle) — SURVEY.md §5.3 + §4 O4."""

import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.operators import knn


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


def test_knn_k_equals_n_is_full_sort(emb, qvec):
    n = emb.count()
    allk = knn.vector_search(emb, "embedding", qvec, k=n, tiebreaker="vec_id")
    rows = allk.select("vec_id", "_distance").collect()
    assert len(rows) == n
    dists = [r._distance for r in rows]
    assert dists == sorted(dists)
    assert rows[0].vec_id == 0 and abs(rows[0]._distance) < 1e-6  # self-match


def test_knn_topk_subset_of_full(emb, qvec):
    top5 = {r.vec_id for r in knn.vector_search(emb, "embedding", qvec, k=5,
                                                tiebreaker="vec_id").collect()}
    top20 = {r.vec_id for r in knn.vector_search(emb, "embedding", qvec, k=20,
                                                 tiebreaker="vec_id").collect()}
    assert top5 <= top20


def test_prefilter_all_satisfy_predicate(emb, qvec):
    got = knn.vector_search(emb, "embedding", qvec, k=10,
                            filter=F.col("label") == 3,
                            tiebreaker="vec_id").collect()
    assert len(got) == 10
    assert all(r.label == 3 for r in got)


def test_postfilter_subset_of_prefilter(emb, qvec):
    """Post-filter (reference semantics) returns a subset of pre-filter
    results — equality only when fetch_k covers the filtered region."""
    pre = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qvec, k=5, filter=F.col("label") == 3,
        round_to=2, tiebreaker="vec_id").collect()]
    post = [r.vec_id for r in knn.hybrid_search_postfilter(
        emb, "embedding", qvec, filter=F.col("label") == 3, k=5,
        fetch_k=10_000, round_to=2, tiebreaker="vec_id").collect()]
    assert post == pre  # fetch_k >= n → modes agree


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_is_take_ordered(emb, qvec):
    plan = _plan(knn.vector_search(emb, "embedding", qvec, k=10))
    assert "TakeOrderedAndProject" in plan


def test_prefilter_plan_shape(spark, qvec, tmp_path):
    """Pruned parquet scan with the predicate pushed → ArrowEvalPython
    (the distance kernel) → TakeOrderedAndProject, top to bottom."""
    spark.createDataFrame([(i, i % 5, qvec) for i in range(20)],
                          "vec_id int, label int, embedding array<float>") \
         .write.parquet(str(tmp_path / "e"))
    raw = spark.read.parquet(str(tmp_path / "e"))
    plan = _plan(knn.vector_search(raw, "embedding", qvec, k=10,
                                   filter=F.col("label") == 3))
    top = plan.index("TakeOrderedAndProject")
    udf = plan.index("ArrowEvalPython")
    scan = plan.index("FileScan parquet")
    assert top < udf < scan
    assert "EqualTo(label,3)" in plan.split("PushedFilters", 1)[1][:200]


def test_plan_does_not_depend_on_query_vector(spark):
    """No per-query code: two query vectors give the same plan once
    expression ids are stripped, and a dim-384 plan is about as long as
    a dim-4 one (no per-dimension terms)."""
    import re

    import numpy as np

    def plan(dim, seed):
        rng = np.random.default_rng(seed)
        df = spark.createDataFrame(
            [(i, rng.standard_normal(dim).tolist()) for i in range(8)],
            "id int, v array<double>")
        return re.sub(r"#\d+L?", "", _plan(knn.vector_search(
            df, "v", rng.standard_normal(dim).tolist(), k=3, round_to=4,
            tiebreaker="id")))

    assert plan(384, 1) == plan(384, 2)
    assert len(plan(384, 1)) < len(plan(4, 1)) + 50


def test_knn_join_shapes(emb, qvec, spark):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    got = knn.knn_join(queries, corpus, "embedding", k=4).collect()
    assert len(got) == 12  # 3 queries × 4 neighbors
    by_left = {}
    for r in got:
        by_left.setdefault(r.left_id, []).append(r)
    for lid, rows in by_left.items():
        assert any(r.right_id == lid for r in rows)  # self among neighbors


def test_knn_join_max_pairs_guard(emb, spark):
    queries = emb.select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    with pytest.raises(ValueError, match="ivf_knn_join"):
        knn.knn_join(queries, corpus, "embedding", k=2, max_pairs=10)
    # explicit opt-out still runs
    assert len(knn.knn_join(queries, corpus, "embedding", k=1,
                            max_pairs=None).collect()) > 0
    # an under-cap product passes the bounded-count guard and runs
    small_q = queries.limit(2)
    n_c = corpus.count()
    assert len(knn.knn_join(small_q, corpus, "embedding", k=1,
                            max_pairs=2 * n_c).collect()) == 2
    # empty corpus never trips the guard regardless of query count
    empty = corpus.filter(F.lit(False))
    assert knn.knn_join(queries, empty, "embedding", k=1,
                        max_pairs=1).count() == 0
