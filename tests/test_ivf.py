"""IVF / k-means invariants: deterministic model, correct assignment,
probe containment, exact scores on the probed subset."""

from __future__ import annotations

import numpy as np

from novelti_dingo_spark.operators.ivf import (
    K,
    N_PROBE,
    _assign,
    ivf_cell_sizes,
    ivf_knn_top10,
    kmeans_fit,
)
from novelti_dingo_spark.sources import load_table


def test_kmeans_deterministic_and_total(spark, sf_med):
    e = load_table(spark, sf_med, "embeddings")
    sizes1 = {r.cid: r.n_vectors for r in ivf_cell_sizes(spark, sf_med).collect()}
    sizes2 = {r.cid: r.n_vectors for r in ivf_cell_sizes(spark, sf_med).collect()}
    assert sizes1 == sizes2, "k-means must be run-to-run deterministic"
    assert sum(sizes1.values()) == e.count()
    assert len(sizes1) <= K


def test_assignment_is_argmin(spark, sf_med):
    e = load_table(spark, sf_med, "embeddings")
    centroids = kmeans_fit(e)
    cent = {r.cid: np.array(r.centroid) for r in centroids.collect()}
    assigned = {r.vec_id: r.cid for r in _assign(e, centroids).collect()}
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in e.limit(50).collect()
    }
    for vid, v in vecs.items():
        dists = {cid: float(((v - c) ** 2).sum()) for cid, c in cent.items()}
        best = min(dists, key=lambda c: (round(dists[c], 9), c))
        assert abs(dists[assigned[vid]] - dists[best]) < 1e-9


def test_ivf_results_scores_exact(spark, sf_med):
    e = load_table(spark, sf_med, "embeddings")
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()
    }
    q = vecs[0]
    rows = ivf_knn_top10(spark, sf_med).collect()
    assert 0 < len(rows) <= 10
    cells = {r.cid for r in rows}
    assert len(cells) <= N_PROBE
    for r in rows:
        assert abs(float(vecs[r.vec_id] @ q) - r.cos_sim) < 1e-5


def test_ivf_recall_monotone_in_nprobe(spark, sf_med):
    """nprobe is the recall dial when scoring is exact: probing a
    superset of cells can only improve (or tie) top-10 recall, and
    nprobe=K routes the FULL corpus through the index — its top-10 must
    equal brute force exactly."""
    from novelti_dingo_spark.operators.ivf import ivf_knn
    from novelti_dingo_spark.operators.similarity import knn_bruteforce_top10

    exact = [r.vec_id for r in knn_bruteforce_top10(spark, sf_med).collect()]
    recalls = []
    for n_probe in (1, 2, K):
        got = {r.vec_id for r in ivf_knn(spark, sf_med, n_probe=n_probe).collect()}
        recalls.append(len(got & set(exact)) / len(exact))
    assert recalls == sorted(recalls), recalls
    full = [r.vec_id for r in ivf_knn(spark, sf_med, n_probe=K).collect()]
    assert full == exact


def test_residual_rerank_scores_exact(spark, sf_med):
    """With rerank>0 the residual IVF-PQ emits EXACT cosine scores for
    its final top-k (ADC only shortlists) — each score must match the
    numpy dot product at float precision."""
    import numpy as np

    from novelti_dingo_spark.operators.pq import ivf_pq_residual_knn

    e = load_table(spark, sf_med, "embeddings")
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()
    }
    q = vecs[0]
    rows = ivf_pq_residual_knn(spark, sf_med, k=10, n_probe=K, rerank=50).collect()
    assert rows
    for r in rows:
        assert abs(float(vecs[r.vec_id] @ q) - r.cos_sim) < 1e-5


def test_assign_literal_matches_join_assign_exactly(spark, sf_small):
    """assign_literal is the zero-shuffle projection form of _assign:
    same _sq_dist fold, same (dist, cid) argmin ordering — the cell
    assignment must match cell-for-cell, and the plan must carry no
    Exchange or Join at all."""
    from novelti_dingo_spark.operators.ivf import (
        _assign,
        assign_literal,
        kmeans_fit,
    )

    e = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit(e)
    a = {r.vec_id: r.cid for r in _assign(e, cents).collect()}
    df = assign_literal(e, cents)
    b = {r.vec_id: r.cid for r in df.collect()}
    assert a == b
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_kmeans_fit_numpy_trains_usable_centroids(spark, sf_small):
    """The sampled trainer returns k (cid, centroid) rows the standard
    assignment consumes; with sample >= corpus the init set equals the
    exact trainer's and every cell is non-degenerate on the fixture."""
    from novelti_dingo_spark.operators.ivf import (
        assign_literal,
        kmeans_fit_numpy,
    )

    e = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit_numpy(e, k=8)
    rows = cents.collect()
    assert sorted(r.cid for r in rows) == list(range(8))
    assert all(len(r.centroid) == 64 for r in rows)
    # deterministic: second training is identical
    again = kmeans_fit_numpy(e, k=8).collect()
    assert sorted(map(tuple, ((r.cid, tuple(r.centroid)) for r in rows))) == \
        sorted(map(tuple, ((r.cid, tuple(r.centroid)) for r in again)))
    assigned = assign_literal(e, cents)
    n_cells = assigned.select("cid").distinct().count()
    assert n_cells >= 6  # no mass degeneracy into one cell


def test_ivf_batched_serve_matches_single_query(spark, sf_small, tmp_path):
    """The batched IVF serve must return, per query, exactly the
    single-query serve results — same vec_ids, same cos_sim
    bit-for-bit (same `dot` fold over the same doubles), with
    self-exclusion and per-query counts."""
    from collections import Counter

    from novelti_dingo_spark.operators.ivf import (
        ivf_knn_batch_from_index,
        ivf_knn_from_index,
        publish_ivf_index,
    )
    from novelti_dingo_spark.sources.io import load_table as lt

    base = str(tmp_path / "ivf")
    publish_ivf_index(spark, sf_small, base, partition_postings=True)
    e = lt(spark, sf_small, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter("vec_id < 4").collect()
    }
    batch = ivf_knn_batch_from_index(
        spark, base, queries, k=5, n_probe=2, exclude_self=True
    ).collect()
    by_q = {}
    for r in batch:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.cos_sim))
    assert set(by_q) == set(queries)
    assert set(Counter(r.query_id for r in batch).values()) == {5}
    for qid, qv in queries.items():
        single = [
            (r.vec_id, r.cos_sim)
            for r in ivf_knn_from_index(
                spark, base, qv, k=5, n_probe=2, exclude_vec_id=qid
            ).collect()
        ]
        assert by_q[qid] == single, f"q{qid}"


def test_ivf_batch_serve_window_has_native_group_limit(
    spark, sf_small, tmp_path
):
    """Round-12: same native-WindowGroupLimit pin as the PQ twins — the
    IVF batch path's per-query window exchange is bounded by Catalyst's
    rank-limit pushdown (Partial before the exchange), no Python stage
    in the plan."""
    from novelti_dingo_spark.operators.ivf import (
        ivf_knn_batch_from_index,
        publish_ivf_index,
    )

    base = str(tmp_path / "ivf")
    publish_ivf_index(spark, sf_small, base, partition_postings=True)
    e = load_table(spark, sf_small, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter("vec_id < 5").collect()
    }
    batch = ivf_knn_batch_from_index(
        spark, base, queries, k=5, n_probe=2, exclude_self=True
    )
    assert len(batch.collect()) == 5 * 5
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2
    assert "MapInPandas" not in plan and "ArrowEval" not in plan


def test_kmeans_fit_numpy_empty_input_returns_empty_model(
    spark, sf_small, tmp_path
):
    """The sampled coarse trainer on an empty input returns an empty
    model with the schema of a trained one."""
    from novelti_dingo_spark import schemas
    from novelti_dingo_spark.operators.ivf import kmeans_fit_numpy

    spark.createDataFrame([], schemas.TABLES["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    model = kmeans_fit_numpy(load_table(spark, str(tmp_path), "embeddings"))
    trained = kmeans_fit_numpy(load_table(spark, sf_small, "embeddings"))
    assert model.schema == trained.schema
    assert model.collect() == []


def test_assign_vectorized_matches_literal_and_routes_by_k(spark, sf_small):
    """Round-14 (verdict #4 enabler): assign_literal's O(k·dim)-literal
    plan is interpreted past codegen limits — a 200k-row assignment at
    k≈1800 measured 25+ minutes vs seconds for the GEMM pandas UDF.
    The two forms must agree cell-for-cell (same (dist, cid) argmin,
    ties to lowest cid), and assign_to_centroids must route by k."""
    from novelti_dingo_spark.operators.ivf import (
        ASSIGN_LITERAL_MAX_K,
        assign_literal,
        assign_to_centroids,
        assign_vectorized,
        kmeans_fit_numpy,
    )
    from novelti_dingo_spark.sources.io import load_table

    e = load_table(spark, sf_small, "embeddings")
    cents = kmeans_fit_numpy(e, k=8)
    lit = {
        r.vec_id: r.cid for r in assign_literal(e, cents).collect()
    }
    gemm = {
        r.vec_id: r.cid for r in assign_vectorized(e, cents).collect()
    }
    assert lit == gemm and len(lit) == e.count()
    # router: small k -> literal plan (no python udf), large k -> GEMM
    small = assign_to_centroids(e, cents, 8)
    assert "pythonUDF" not in small._jdf.queryExecution().executedPlan().toString()
    big = assign_to_centroids(e, cents, ASSIGN_LITERAL_MAX_K + 1)
    assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()


def test_default_ann_geometry_rule():
    """k ≈ 4·√N clamped to [32, 4096]; n_probe = max(4, k/32) — the
    measured fix for shortlist starvation at scale (SCALE_MEASURED
    ann_ivfpq_geometry: recall@10 reranked 0.47 → 0.95 at 200k)."""
    from novelti_dingo_spark.operators.ivf import default_ann_geometry

    assert default_ann_geometry(50) == (32, 4)  # floor clamp
    assert default_ann_geometry(200_000) == (1788, 55)
    k10, np10 = default_ann_geometry(10_000_000)
    assert k10 == 4096 and np10 == 128
    assert default_ann_geometry(100_000_000) == (4096, 128)
