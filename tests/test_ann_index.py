"""ANN index build + grid_knn_multi: exactness inside candidates, recall vs
brute force, one-job plan shape, query validation, partitioned-write
round-trip, hot-cell salting.

Mirrors the reference's pgvector kNN contract
(/root/reference/repositories/retrieval_repo.py:267-348) in the multi-query,
index-backed form the pipeline uses (raptor_service_spark/pipeline.py step 3-4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raptor_service_spark.datagen import gen_documents_local, gen_query_vectors
from raptor_service_spark.functions.vector import hash_embed_np
from raptor_service_spark.geo.grid import cell_encode_np, cell_parent_np, kring_np
from raptor_service_spark.operators.knn import (
    ANN_PFX_RES,
    build_ann_index,
    grid_knn_multi,
    plan_candidate_cells,
    project_to_latlng_np,
    write_ann_index,
)

DIM = 32
N_DOCS = 120


@pytest.fixture(scope="module")
def span_texts():
    docs = gen_documents_local(N_DOCS, seed=91)
    rows = []
    for _, d in docs.iterrows():
        for j, s in enumerate(d["spans"]):
            rows.append((f"{d['doc_id']}::c{j}", s["text"]))
    return pd.DataFrame(rows, columns=["chunk_id", "text"])


@pytest.fixture(scope="module")
def index_path(spark, span_texts, tmp_path_factory):
    sdf = spark.createDataFrame(span_texts)
    idx = build_ann_index(
        sdf, text_col="text", id_col="chunk_id", dim=DIM, res=5, vec_dtype="<f2"
    )
    path = str(tmp_path_factory.mktemp("ann") / "index")
    write_ann_index(idx, path, npart=8)
    return path


@pytest.fixture(scope="module")
def index_rows(spark, index_path):
    """The index as stored: ids, cells and f16 vectors widened to float64."""
    pdf = spark.read.parquet(index_path).select("id", "ann_cell", "v").toPandas()
    mat = np.frombuffer(b"".join(pdf["v"]), dtype="<f2").reshape(len(pdf), -1)
    return pdf["id"].to_numpy(), pdf["ann_cell"].to_numpy(), mat.astype(np.float64)


@pytest.fixture(scope="module")
def cell_counts(index_rows):
    cells, counts = np.unique(index_rows[1], return_counts=True)
    return dict(zip(cells.tolist(), counts.tolist()))


def _candidate_topk(index_rows, cells, q, k):
    """numpy top-k over the index rows in ``cells`` (all rows when None)."""
    ids, row_cells, mat = index_rows
    keep = np.ones(len(ids), bool) if cells is None else np.isin(row_cells, cells)
    sub = mat[keep]
    norms = np.linalg.norm(sub, axis=1)
    norms[norms == 0] = 1.0
    dist = 1.0 - (sub / norms[:, None]) @ (q / np.linalg.norm(q))
    df = pd.DataFrame({"id": ids[keep], "dist": dist, "rd": dist.round(9)})
    return df.sort_values(["rd", "id"]).head(k)


def _assert_exact_in_candidates(spark, index_path, index_rows, counts, qvecs, qids, k, factor):
    """grid_knn_multi returns, per query, exactly the numpy top-k over the
    rows of its planned cells. Returns each query's plan (None = full scan)."""
    idx = spark.read.parquet(index_path)
    got = grid_knn_multi(
        idx, qvecs, qids, k, res=5, min_candidates_factor=factor,
        cell_counts=counts, vec_dtype="<f2",
    ).toPandas()
    assert set(got.qid) == set(qids)
    plans = []
    for q, qid in zip(qvecs, qids):
        cells = plan_candidate_cells(counts, q, k, 5, min_candidates_factor=factor)
        plans.append(cells)
        exp = _candidate_topk(index_rows, cells, q, k)
        sub = got[got.qid == qid].assign(rd=lambda d: d.dist.round(9)).sort_values(["rd", "id"])
        assert sub.id.tolist() == exp.id.tolist(), qid
        np.testing.assert_allclose(sub.dist.to_numpy(), exp.dist.to_numpy(), rtol=0, atol=1e-9)
    return plans


def test_grid_knn_multi_exact_in_candidates_shared_rings(spark, index_path, index_rows, cell_counts):
    qvecs = gen_query_vectors(seed=94, n=64, dim=DIM)
    qids = [f"q{i}" for i in range(64)]
    plans = _assert_exact_in_candidates(spark, index_path, index_rows, cell_counts, qvecs, qids, 8, 4)
    assert all(p is not None for p in plans)
    assert len(set().union(*plans)) < sum(len(p) for p in plans), "rings must share cells"


def test_grid_knn_multi_exact_in_candidates_mixed_full_scan(spark, index_path, index_rows, cell_counts):
    qvecs = gen_query_vectors(seed=95, n=6, dim=DIM)
    qids = [f"q{i}" for i in range(6)]
    # a histogram in which q0's whole neighborhood is empty: q0 falls back to
    # a full scan while the other queries stay planned
    lat, lng = project_to_latlng_np(qvecs[:1])
    q0_cell = int(cell_encode_np(lat, lng, 5)[0])
    counts = {c: n for c, n in cell_counts.items() if c not in set(kring_np(q0_cell, 8).tolist())}
    plans = _assert_exact_in_candidates(spark, index_path, index_rows, counts, qvecs, qids, 8, 4)
    assert plans[0] is None
    assert any(p is not None for p in plans[1:])


def test_grid_knn_multi_exact_in_candidates_ring_spans_pfx(spark, index_path, index_rows, cell_counts):
    pool = gen_query_vectors(seed=96, n=32, dim=DIM)

    def n_pfx(q):
        cells = plan_candidate_cells(cell_counts, q, 8, 5, min_candidates_factor=4)
        return len(set(cell_parent_np(np.array(cells), ANN_PFX_RES).tolist()))

    q = max(pool, key=n_pfx)
    assert n_pfx(q) >= 4
    _assert_exact_in_candidates(spark, index_path, index_rows, cell_counts, q[None, :], ["q"], 8, 4)


def test_grid_knn_multi_is_one_job_one_task(spark, index_path, cell_counts):
    idx = spark.read.parquet(index_path)
    qvecs = gen_query_vectors(seed=97, n=64, dim=DIM)
    df = grid_knn_multi(
        idx, qvecs, [f"q{i}" for i in range(64)], 8, res=5,
        cell_counts=cell_counts, vec_dtype="<f2",
    )
    sc = spark.sparkContext
    sc.setJobGroup("grid-knn-guard", "grid_knn_multi job-count guard")
    try:
        assert len(df.collect()) == 64 * 8
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("grid-knn-guard")
    tasks = sum(
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    )
    assert (len(jobs), tasks) == (1, 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BroadcastHashJoin" not in plan, plan


@pytest.mark.parametrize(
    "qids, bad, match",
    [
        (["a", "b", "a"], None, "duplicate qid 'a'"),
        (["a", "b", "c"], 0.0, "query 'b' has a zero"),
        (["a", "b", "c"], np.nan, "query 'b' has a zero or non-finite"),
        (["a", "b", "c"], np.inf, "query 'b' has a zero or non-finite"),
    ],
)
def test_grid_knn_multi_rejects_bad_batch_before_any_job(spark, index_path, qids, bad, match):
    idx = spark.read.parquet(index_path)
    qvecs = gen_query_vectors(seed=98, n=3, dim=DIM)
    if bad is not None:
        qvecs[1] = 0.0
        qvecs[1, 0] = bad
    sc = spark.sparkContext
    sc.setJobGroup("grid-knn-reject", "grid_knn_multi validation")
    try:
        # no cell_counts: a batch that got past validation would launch
        # the histogram job
        with pytest.raises(ValueError, match=match):
            grid_knn_multi(idx, qvecs, qids, 8, res=5, vec_dtype="<f2")
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("grid-knn-reject")


def _oracle_topk(span_texts, q, k):
    mat = hash_embed_np(span_texts["text"], DIM)
    # the index stores f16: the oracle must rank what the index stores
    mat = mat.astype("<f2").astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    qn = np.asarray(q) / np.linalg.norm(q)
    dist = 1.0 - mat @ qn
    df = pd.DataFrame({"id": span_texts["chunk_id"], "dist": dist})
    df["rd"] = df["dist"].round(9)
    return df.sort_values(["rd", "id"]).head(k)


def test_index_roundtrip_schema_and_pfx(spark, index_path):
    idx = spark.read.parquet(index_path)
    assert set(idx.columns) == {"id", "v", "ann_cell", "pfx"}
    from raptor_service_spark.geo.grid import cell_parent_np

    rows = idx.select("ann_cell", "pfx").distinct().collect()
    cells = np.array([r["ann_cell"] for r in rows])
    pfx = np.array([r["pfx"] for r in rows])
    assert (cell_parent_np(cells, ANN_PFX_RES) == pfx).all()


def test_grid_knn_multi_matches_oracle(spark, span_texts, index_path):
    idx = spark.read.parquet(index_path)
    qvecs = gen_query_vectors(seed=92, n=4, dim=DIM)
    qids = [f"q{i}" for i in range(4)]
    got = grid_knn_multi(idx, qvecs, qids, 8, res=5, vec_dtype="<f2").toPandas()
    recalls = []
    for i, qid in enumerate(qids):
        sub = got[got.qid == qid].sort_values(["dist", "id"])
        assert len(sub) == 8
        exp = _oracle_topk(span_texts, qvecs[i], 8)
        recalls.append(len(set(sub.id) & set(exp.id)) / 8)
        # every reported dist must be the exact f16-stored cosine distance
        text_of = dict(zip(span_texts.chunk_id, span_texts.text))
        vec = hash_embed_np([text_of[c] for c in sub.id], DIM).astype("<f2").astype(np.float64)
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        qn = qvecs[i] / np.linalg.norm(qvecs[i])
        np.testing.assert_allclose(sub.dist.values, 1.0 - vec @ qn, atol=1e-6)
    assert np.mean(recalls) >= 0.5, f"recall too low: {recalls}"


def test_grid_knn_multi_full_scan_fallback_is_exact(spark, span_texts):
    small = spark.createDataFrame(span_texts.head(15))
    idx = build_ann_index(
        small, text_col="text", id_col="chunk_id", dim=DIM, res=5, vec_dtype="<f2"
    )
    q = gen_query_vectors(seed=93, n=1, dim=DIM)[0]
    got = (
        grid_knn_multi(idx, q[None, :], ["q0"], 5, res=5, vec_dtype="<f2")
        .toPandas()
        .sort_values(["dist", "id"])
    )
    exp = _oracle_topk(span_texts.head(15), q, 5)
    assert got.id.tolist() == exp.id.tolist()


def test_write_salting_spreads_hot_cell(spark, span_texts):
    # 15% of spans are empty-text media spans -> one hot ann_cell; the salted
    # write must not put them all in one output task's file
    hot = span_texts.copy()
    hot["text"] = ""  # everything hot
    idx = build_ann_index(
        spark.createDataFrame(hot), text_col="text", id_col="chunk_id", dim=DIM, res=5
    )
    parts = (
        idx.repartition(8, F.col("pfx"), F.pmod(F.xxhash64("id"), F.lit(8)))
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) >= 4, f"hot cell not spread: {counts}"
    assert max(counts) < len(hot), "all hot rows landed in one partition"


def test_append_ann_index_equals_rebuild(spark, span_texts, tmp_path):
    """Appending new vectors into the existing pfx layout gives IDENTICAL
    search results to an index rebuilt from scratch on the union."""
    from raptor_service_spark.operators.knn import append_ann_index, grid_knn_multi

    half = len(span_texts) // 2
    base_pd, delta_pd = span_texts.iloc[:half], span_texts.iloc[half:]

    inc_path = str(tmp_path / "inc_index")
    write_ann_index(
        build_ann_index(spark.createDataFrame(base_pd), text_col="text",
                        id_col="chunk_id", dim=DIM, res=5, vec_dtype="<f2"),
        inc_path, npart=8,
    )
    append_ann_index(
        build_ann_index(spark.createDataFrame(delta_pd), text_col="text",
                        id_col="chunk_id", dim=DIM, res=5, vec_dtype="<f2"),
        inc_path, npart=4,
    )

    full_path = str(tmp_path / "full_index")
    write_ann_index(
        build_ann_index(spark.createDataFrame(span_texts), text_col="text",
                        id_col="chunk_id", dim=DIM, res=5, vec_dtype="<f2"),
        full_path, npart=8,
    )

    inc = spark.read.parquet(inc_path)
    full = spark.read.parquet(full_path)
    assert inc.count() == full.count() == len(span_texts)

    qs = gen_query_vectors(seed=77, n=3, dim=DIM)
    got_inc = grid_knn_multi(inc, qs, ["q0", "q1", "q2"], k=8, res=5, vec_dtype="<f2")
    got_full = grid_knn_multi(full, qs, ["q0", "q1", "q2"], k=8, res=5, vec_dtype="<f2")
    rows_inc = sorted((r.qid, r.id, round(r.dist, 9)) for r in got_inc.collect())
    rows_full = sorted((r.qid, r.id, round(r.dist, 9)) for r in got_full.collect())
    assert rows_inc == rows_full
