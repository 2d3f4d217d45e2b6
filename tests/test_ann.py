"""IVF index: build/load round-trip, partition pruning, recall vs exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.operators import ann, knn


@pytest.fixture(scope="module")
def index(spark, sf_dir, tmp_path_factory):
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path_factory.mktemp("ivf"))
    return ann.ivf_build(emb, "embedding", path, num_centroids=8, seed=42)


def _query(spark, sf_dir, vec_id=0):
    emb = read_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    return [float(x) for x in row[0]]


def test_ivf_full_probe_equals_exact(spark, sf_dir, index):
    """nprobe = all centroids ⇒ identical to exact KNN (ANN is a pruned
    scan + the same exact re-rank plan)."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = _query(spark, sf_dir)
    exact = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()]
    probed = [r.vec_id for r in ann.ivf_search(
        spark, index, qv, k=10, nprobe=8, tiebreaker="vec_id").collect()]
    assert probed == exact


def test_ivf_recall_at_small_nprobe(spark, sf_dir, index):
    emb = read_table(spark, sf_dir, "embeddings")
    hits = 0
    for vec_id in range(5):
        qv = _query(spark, sf_dir, vec_id)
        exact = {r.vec_id for r in knn.vector_search(
            emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()}
        got = {r.vec_id for r in ann.ivf_search(
            spark, index, qv, k=10, nprobe=3, tiebreaker="vec_id").collect()}
        hits += len(got & exact)
    assert hits / 50 >= 0.6  # nprobe=3 of 8 partitions


def test_ivf_partition_pruning_in_plan(spark, sf_dir, index):
    """The probe literally prunes partitions: __cid IN (...) must appear as
    a PartitionFilter on the scan, not a post-scan Filter."""
    qv = _query(spark, sf_dir)
    df = ann.ivf_search(spark, index, qv, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__cid" in plan.split("PartitionFilters", 1)[1][:400]


def test_ivf_load_round_trip(spark, sf_dir, index):
    loaded = ann.IVFIndex.load(spark, index.path)
    assert loaded.metric == "cosine"
    assert loaded.vector_col == "embedding"
    np.testing.assert_allclose(loaded.centroids, index.centroids)
    qv = _query(spark, sf_dir)
    a = [r.vec_id for r in ann.ivf_search(spark, index, qv, k=5,
                                          tiebreaker="vec_id").collect()]
    b = [r.vec_id for r in ann.ivf_search(spark, loaded, qv, k=5,
                                          tiebreaker="vec_id").collect()]
    assert a == b


def test_ivf_hybrid_filter(spark, sf_dir, index):
    """Pre-filter composes with the pruned scan (filter + partition prune
    in one Catalyst plan)."""
    qv = _query(spark, sf_dir)
    got = ann.ivf_search(spark, index, qv, k=5, nprobe=8,
                         filter=F.col("label") == 3,
                         tiebreaker="vec_id").collect()
    assert len(got) == 5
    assert all(r.label == 3 for r in got)


def test_train_centroids_mllib_backend(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    C = ann.train_centroids(emb, "embedding", 4, backend="mllib", max_iter=2)
    assert C.shape[0] == 4
    assert C.shape[1] == len(
        read_table(spark, sf_dir, "embeddings").head().embedding)
    # centroids are means of unit vectors: norms in (0, 1]
    norms = np.linalg.norm(C, axis=1)
    assert (norms > 0).all() and (norms <= 1.0 + 1e-9).all()


def test_ivf_knn_join_full_probe_equals_brute_force(spark, sf_dir, index):
    """nprobe = all centroids ⇒ ivf_knn_join == brute-force knn_join."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    brute = {(r.left_id, r.right_id): r._distance for r in knn.knn_join(
        queries, corpus, "embedding", k=4, round_to=6, dim=64).collect()}
    ivf = {(r.left_id, r.vec_id): r._distance for r in ann.ivf_knn_join(
        spark, index, queries, k=4, nprobe=8, right_id="vec_id",
        query_vector_col="embedding", round_to=6).collect()}
    assert ivf == brute and len(ivf) == 20


def test_ivf_knn_join_recall_small_nprobe(spark, sf_dir, index):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    exact = {(r.left_id, r.right_id) for r in knn.knn_join(
        queries, corpus, "embedding", k=5, round_to=6, dim=64).collect()}
    got = {(r.left_id, r.vec_id) for r in ann.ivf_knn_join(
        spark, index, queries, k=5, nprobe=3, right_id="vec_id",
        query_vector_col="embedding", round_to=6).collect()}
    assert len(got & exact) / len(exact) >= 0.6


def test_ivf_knn_join_plans_equi_join_not_cross(spark, sf_dir, index):
    """The corpus side must arrive via an equi-join on the centroid id —
    never a nested-loop cross product."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3) \
                 .select(F.col("vec_id").alias("left_id"), "embedding")
    df = ann.ivf_knn_join(spark, index, queries, k=2, nprobe=2,
                          right_id="vec_id", query_vector_col="embedding")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the corpus arrives through a hash EQUI-join keyed on the centroid id
    assert "BroadcastHashJoin [__cid" in plan or "SortMergeJoin [__cid" in plan
    # nested-loop joins appear only for the query×centroid shortlist (the
    # centroid ExistingRDD build side), never against the corpus file scan
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        build = seg.split("BroadcastExchange", 1)[-1][:300]
        assert "__cent" in build


def test_ivf_int8_full_probe_equals_exact(spark, sf_dir, index):
    """nprobe=all + refine margin ⇒ the int8 candidate cut keeps the true
    top-k, and the exact re-rank makes the result identical to exact KNN."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = _query(spark, sf_dir)
    exact = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()]
    got = [r.vec_id for r in ann.ivf_search_int8(
        spark, index, qv, "vec_id", k=10, nprobe=8, refine=8,
        tiebreaker="vec_id").collect()]
    assert got == exact


def test_ivf_int8_recall_small_refine(spark, sf_dir, index):
    """Even refine=2 (a 2× candidate margin) recovers ≥90% of the exact
    top-10 — int8 cosine error is ~1e-2 at dim=64."""
    emb = read_table(spark, sf_dir, "embeddings")
    hits = 0
    for vec_id in range(5):
        qv = _query(spark, sf_dir, vec_id)
        exact = {r.vec_id for r in knn.vector_search(
            emb, "embedding", qv, k=10, tiebreaker="vec_id").collect()}
        got = {r.vec_id for r in ann.ivf_search_int8(
            spark, index, qv, "vec_id", k=10, nprobe=8, refine=2,
            tiebreaker="vec_id").collect()}
        hits += len(got & exact)
    assert hits / 50 >= 0.9


def test_ivf_int8_code_column_bytes(index):
    """The byte claim itself: the packed int8 code column occupies well
    under half the parquet bytes of the float vector column (≈4× less
    uncompressed; both are high-entropy so compression doesn't close it)."""
    import glob

    import pyarrow.parquet as pq

    emb_b = code_b = 0
    for f in glob.glob(index.data_path + "/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                p = col.path_in_schema
                if p.startswith("embedding"):
                    emb_b += col.total_compressed_size
                elif p.startswith("__q8") and "scale" not in p:
                    code_b += col.total_compressed_size
    assert emb_b > 0 and code_b > 0
    assert code_b < emb_b * 0.5


def test_ivf_int8_rerank_fetch_is_pushed_down(spark, sf_dir, index):
    """The exact re-rank must fetch candidates via a parquet-pushed IN
    filter on the id — not a full scan filtered post-hoc."""
    qv = _query(spark, sf_dir)
    df = ann.ivf_search_int8(spark, index, qv, "vec_id", k=5, nprobe=2,
                             refine=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "In(vec_id" in pushed


def test_ivf_int8_hybrid_filter(spark, sf_dir, index):
    qv = _query(spark, sf_dir)
    got = ann.ivf_search_int8(spark, index, qv, "vec_id", k=5, nprobe=8,
                              refine=8, filter=F.col("label") == 3,
                              tiebreaker="vec_id").collect()
    assert len(got) == 5
    assert all(r.label == 3 for r in got)


def test_ivf_int8_requires_quantized_index(spark, sf_dir, tmp_path):
    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "noq"),
                        num_centroids=4, seed=42, quantize=False)
    with pytest.raises(ValueError, match="quantize"):
        ann.ivf_search_int8(spark, idx, _query(spark, sf_dir), "vec_id")


def test_catalog_index_staleness_contract(spark, sf_dir, tmp_path):
    """Table-scoped index lifecycle: create → search ok; upsert → search
    raises StaleIndexError; on_stale='rebuild' re-registers at the current
    commit and serves post-mutation data; 'ignore' serves the stale one."""
    from pydata_vector_search_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "eng"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=4, seed=42)
    qv = _query(spark, sf_dir)

    fresh = eng.ann_search("emb", qv, k=5, nprobe=4, tiebreaker="vec_id")
    assert fresh.count() == 5
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False

    # upsert advances the table past the index's pinned commit
    batch = emb.filter(F.col("vec_id") < 3).withColumn("label", F.lit(99))
    eng.upsert("emb", batch)
    assert eng.catalog.index_info("emb", "embedding")["stale"] is True
    with pytest.raises(ann.StaleIndexError, match="rebuild"):
        eng.ann_search("emb", qv, k=5, nprobe=4)

    # stale read is an explicit opt-in and serves PRE-mutation labels
    stale = eng.ann_search("emb", qv, k=5, nprobe=4, on_stale="ignore",
                           tiebreaker="vec_id")
    assert all(r.label != 99 for r in stale.filter(F.col("vec_id") < 3).collect())

    # rebuild re-registers and serves the upserted labels
    rebuilt = eng.ann_search("emb", qv, k=5, nprobe=4, on_stale="rebuild",
                             tiebreaker="vec_id")
    got = {r.vec_id: r.label for r in rebuilt.collect()}
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False
    for vid, label in got.items():
        if vid < 3:
            assert label == 99


def test_ann_search_requires_registered_index(spark, tmp_path, sf_dir):
    from pydata_vector_search_spark.engine import Engine
    eng = Engine(spark, str(tmp_path / "eng2"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb2", key="vec_id")
    with pytest.raises(ValueError, match="ann_index_create"):
        eng.ann_search("emb2", _query(spark, sf_dir), k=5)


def test_ivf_patch_repairs_index_incrementally(spark, sf_dir, tmp_path):
    """on_stale='patch': upserts + deletes since the index commit are
    applied to the index from the CDC feed — post-patch search equals
    exact KNN over the mutated table, untouched centroid partitions keep
    their files, and the registration advances to the current commit."""
    import glob
    import os

    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators import knn

    eng = Engine(spark, str(tmp_path / "patch"))
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    idx_path = eng.catalog.index_info("emb", "embedding")["path"]
    mtimes_before = {f: os.path.getmtime(f) for f in glob.glob(
        idx_path + "/data/**/*.parquet", recursive=True)}

    # mutate: relabel a few rows, delete a few others
    eng.upsert("emb", emb.filter(F.col("vec_id") < 3)
               .withColumn("label", F.lit(77)))
    eng.delete_where("emb", "vec_id = 498 OR vec_id = 499")

    qv = _query(spark, sf_dir)
    hits = eng.ann_search("emb", qv, k=8, nprobe=8, on_stale="patch",
                          tiebreaker="vec_id")
    got = [(r.vec_id, r.label) for r in hits.collect()]

    exact_src = eng.table("emb")
    want = [(r.vec_id, r.label) for r in knn.vector_search(
        exact_src, "embedding", qv, k=8, tiebreaker="vec_id").collect()]
    assert got == want
    assert eng.catalog.index_info("emb", "embedding")["stale"] is False

    # deleted keys are gone from the index, updated keys carry new labels
    data = spark.read.parquet(idx_path + "/data")
    assert data.filter("vec_id = 498 OR vec_id = 499").count() == 0
    assert data.filter("vec_id < 3").count() == 3
    assert {r.label for r in data.filter("vec_id < 3").collect()} == {77}
    # no duplicate rows for patched keys
    assert data.count() == exact_src.count()
    # centroid partitions untouched by the changed keys keep their files
    same = [f for f, t in mtimes_before.items()
            if os.path.exists(f) and os.path.getmtime(f) == t]
    assert same, "patch rewrote every partition — not incremental"


def test_ivf_patch_refuses_oversized_batch(spark, sf_dir, tmp_path):
    """The driver-side key collect is guarded: a CDC batch with more
    distinct keys than max_patch_keys raises (pointing at rebuild)
    instead of collecting them all; at the threshold it still patches."""
    from pydata_vector_search_spark.operators import ann

    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "guard"),
                        num_centroids=4, seed=1)
    batch = emb.filter(F.col("vec_id") < 10) \
               .withColumn("_deleted", F.lit(False))
    with pytest.raises(ValueError, match="[Rr]ebuild"):
        ann.ivf_patch(spark, idx, batch, "vec_id", max_patch_keys=5)
    out = ann.ivf_patch(spark, idx, batch, "vec_id", max_patch_keys=10)
    assert out["appended"] == 10


def test_index_registration_survives_session_reattach(spark, sf_dir, tmp_path):
    """The index registration is catalog metadata: a NEW Engine over the
    same root sees the index, its pinned commit, and its staleness state."""
    from pydata_vector_search_spark.engine import Engine

    root = str(tmp_path / "reatt")
    eng = Engine(spark, root)
    emb = read_table(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=4, seed=42)

    eng2 = Engine(spark, root)                      # fresh catalog instance
    info = eng2.catalog.index_info("emb", "embedding")
    assert info is not None and info["stale"] is False
    assert info["params"] == {"num_centroids": 4, "seed": 42}
    hits = eng2.ann_search("emb", _query(spark, sf_dir), k=5, nprobe=4,
                           tiebreaker="vec_id")
    assert hits.count() == 5
    # staleness carries across sessions too
    eng2.upsert("emb", emb.limit(2))
    eng3 = Engine(spark, root)
    with pytest.raises(ann.StaleIndexError):
        eng3.ann_search("emb", _query(spark, sf_dir), k=5)


def test_train_centroids_order_insensitive(spark):
    """VERDICT r05 #4: the sample backend draws by seeded content hash —
    row order (sorted vs reverse) cannot bias the trained centroids."""
    import numpy as np

    rows = [(i, [float((i * 37 + j * 11) % 17) for j in range(8)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    c1 = ann.train_centroids(df.orderBy("id"), "v", 4, seed=5,
                             sample_size=128)
    c2 = ann.train_centroids(df.orderBy(F.col("id").desc()), "v", 4,
                             seed=5, sample_size=128)
    assert np.array_equal(c1, c2)


def test_ivf_patch_removes_emptied_partition(spark, sf_dir, tmp_path):
    """A tombstone batch that deletes EVERY key of a centroid removes
    that partition directory entirely (the emptied-dirs branch) and the
    surviving index still serves exact results — pins the branch the
    r13 collect-fusion change sits directly above."""
    import glob
    import os

    from pydata_vector_search_spark.operators import ann, knn

    emb = read_table(spark, sf_dir, "embeddings")
    idx = ann.ivf_build(emb, "embedding", str(tmp_path / "emptied"),
                        num_centroids=4, seed=1)
    data = spark.read.parquet(idx.data_path)
    # pick the smallest centroid and tombstone all of its keys
    cid, n_cid = min(
        ((r["__cid"], r["n"]) for r in
         data.groupBy("__cid").agg(F.count(F.lit(1)).alias("n")).collect()),
        key=lambda t: t[1])
    n_before = data.count()
    victims = (data.filter(F.col("__cid") == cid)
                   .select("vec_id", "label", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))  # pin rows: the patch
    # deletes the very files this frame's lazy plan would re-read
    out = ann.ivf_patch(spark, idx, victims, "vec_id")
    assert out["appended"] == 0 and out["removed_partitions"] >= 1

    dirs = {os.path.basename(d) for d in
            glob.glob(idx.data_path + "/__cid=*")}
    assert f"__cid={cid}" not in dirs and dirs, dirs
    after = spark.read.parquet(idx.data_path)
    assert after.count() == n_before - n_cid
    assert after.filter(F.col("__cid") == cid).count() == 0

    # the patched index serves exact top-k over the surviving rows
    qv = _query(spark, sf_dir)
    got = [r.vec_id for r in ann.ivf_search(
        spark, idx, qv, k=5, nprobe=4, tiebreaker="vec_id").collect()]
    survivors = emb.join(victims.select("vec_id"), "vec_id", "left_anti")
    want = [r.vec_id for r in knn.vector_search(
        survivors, "embedding", qv, k=5, tiebreaker="vec_id").collect()]
    assert got == want


def test_ivf_patch_emptied_detection_with_null_id_rows(spark, tmp_path):
    """r16-ADVICE fix: a touched centroid partition whose non-NULL-id
    rows are ALL stale must be deleted even when NULL-id rows share the
    partition — the old ``__tot == __stale`` test read it as non-empty,
    the dynamic overwrite then wrote nothing for it (keep has no rows
    there), and the stale vectors persisted beside their re-appended
    versions."""
    import glob
    import os

    from pydata_vector_search_spark.operators import ann

    rows = [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(40)]
    rows.append((None, [0.0, 0.0]))                  # NULL-id resident
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = ann.ivf_build(df, "embedding", str(tmp_path / "nullid"),
                        num_centroids=4, seed=3)
    data = spark.read.parquet(idx.data_path)
    null_cid = data.filter(F.col("vec_id").isNull()) \
                   .select("__cid").collect()[0][0]
    # tombstone EVERY keyed row of that centroid
    victims = (data.filter((F.col("__cid") == null_cid)
                           & F.col("vec_id").isNotNull())
                   .select("vec_id", "embedding")
                   .withColumn("_deleted", F.lit(True))
                   .localCheckpoint(eager=True))
    out = ann.ivf_patch(spark, idx, victims, "vec_id")
    assert out["appended"] == 0 and out["removed_partitions"] >= 1
    dirs = {os.path.basename(d)
            for d in glob.glob(idx.data_path + "/__cid=*")}
    assert f"__cid={null_cid}" not in dirs
    after = spark.read.parquet(idx.data_path)
    assert after.filter(F.col("__cid") == null_cid).count() == 0


def test_ivf_patch_runs_full_row_cdc_lineage_once(spark, tmp_path):
    """The patch computes the full CDC rows once (its checkpoint) and
    builds the changed-key relation from the keys its overflow guard
    already collected, with no further pass over the batch; the guard
    rejects an oversized batch before any full row is computed."""
    from pydata_vector_search_spark.operators import ann

    sc = spark.sparkContext
    rows = [(i, [float(i % 4), float((i * 7) % 5) + 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = ann.ivf_build(df, "embedding", str(tmp_path / "once"),
                        num_centroids=4, seed=3)
    computed = sc.accumulator(0)

    @F.udf("array<double>")
    def counted(v):
        computed.add(1)
        return v

    batch = (df.filter(F.col("vec_id") < 10)
               .withColumn("embedding", counted("embedding"))
               .withColumn("_deleted", F.lit(False)))
    with pytest.raises(ValueError, match="[Rr]ebuild"):
        ann.ivf_patch(spark, idx, batch, "vec_id", max_patch_keys=5)
    assert computed.value == 0
    sc.setJobGroup("ivf_patch_once", "ivf_patch")
    try:
        out = ann.ivf_patch(spark, idx, batch, "vec_id")
    finally:
        sc._jsc.clearJobGroup()
    assert out["appended"] == 10 and computed.value == 10
    # 14 at this size; re-deriving the key relation from the checkpoint
    # (a distinct per broadcast join) costs 2 more
    assert len(sc.statusTracker().getJobIdsForGroup("ivf_patch_once")) <= 14
