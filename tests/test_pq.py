"""Product quantization: model determinism, the ADC identity (table
lookup sum == dot against the reconstructed vector), shortlist recall
far above chance, and exact rerank scores."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from novelti_dingo_spark.operators.pq import (
    K,
    M,
    SUBDIM,
    _assign,
    pq_encode,
    pq_fit,
    pq_knn_top10,
    pq_rerank_top10,
    subvectors,
)
from novelti_dingo_spark.sources import load_table


def _codebook_map(cb_rows):
    return {(r.m, r.cid): np.array(r.centroid) for r in cb_rows}


def test_pq_fit_is_deterministic(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    a = _codebook_map(pq_fit(e).collect())
    b = _codebook_map(pq_fit(e).collect())
    assert set(a) == set(b)
    for k in a:
        assert np.array_equal(a[k], b[k]), k


def test_pq_codes_shape_and_range(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    cb = pq_fit(e)
    codes = pq_encode(e, cb).collect()
    assert len(codes) == e.count()
    for r in codes:
        assert len(r.codes) == M
        assert all(0 <= c < K for c in r.codes)


def test_adc_identity(spark, sf_small):
    """PQ score must equal the dot product between the query and the
    RECONSTRUCTED vector (concatenated chosen centroids) — the defining
    ADC identity, checked in numpy at full float precision."""
    sf = sf_small
    e = load_table(spark, sf, "embeddings")
    cb_map = _codebook_map(pq_fit(e).collect())
    codes = {r.vec_id: r.codes for r in pq_encode(e, pq_fit(e)).collect()}
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    q = np.array(qrow.embedding, dtype=np.float64)
    got = pq_knn_top10(spark, sf).collect()
    assert len(got) == 10
    for r in got:
        recon = np.concatenate(
            [cb_map[(m, codes[r.vec_id][m])] for m in range(M)]
        )
        assert recon.shape == (M * SUBDIM,)
        assert abs(r.pq_sim - round(float(q @ recon), 6)) <= 1e-6


def test_pq_shortlist_beats_chance_and_rerank_is_exact(spark, sf_med):
    """Recall@10 of PQ top-10 must be far above the random baseline
    (10/n), and every rerank score must be the true cosine."""
    from novelti_dingo_spark.operators.similarity import knn_bruteforce_top10

    exact = {r.vec_id: r.cos_sim for r in knn_bruteforce_top10(spark, sf_med).collect()}
    pq = {r.vec_id for r in pq_knn_top10(spark, sf_med).collect()}
    n = load_table(spark, sf_med, "embeddings").count()
    chance = 10 / n
    recall = len(pq & set(exact)) / 10
    assert recall >= 0.2 > 5 * chance

    rr = pq_rerank_top10(spark, sf_med).collect()
    assert len(rr) == 10
    # rerank scores are exact: any reranked vector that IS a true top-10
    # neighbor must carry exactly the brute-force score
    overlap = [r for r in rr if r.vec_id in exact]
    assert overlap, "rerank must recover at least one true neighbor"
    for r in overlap:
        assert abs(r.cos_sim - exact[r.vec_id]) <= 1e-6
    # and rerank recall is at least plain-PQ recall (shortlist ⊇ top-10)
    rr_recall = len({r.vec_id for r in rr} & set(exact)) / 10
    assert rr_recall >= recall


def test_ivf_pq_composition(spark, sf_med):
    """IVF-PQ results must (a) only contain vectors from the probed
    cells, (b) carry exactly the same ADC score plain PQ assigns, and
    (c) be deterministic."""
    from pyspark.sql import functions as F2

    from novelti_dingo_spark.operators.ivf import (
        N_PROBE,
        _assign as ivf_assign,
        _sq_dist,
        kmeans_fit,
    )
    from novelti_dingo_spark.operators.pq import ivf_pq_knn_top10

    e = load_table(spark, sf_med, "embeddings")
    got = ivf_pq_knn_top10(spark, sf_med).collect()
    assert len(got) == 10
    assert got == ivf_pq_knn_top10(spark, sf_med).collect()

    cells = kmeans_fit(e)
    q = e.filter(F2.col("vec_id") == 0).select(
        F2.col("embedding").cast("array<double>").alias("q_emb")
    )
    probed = {
        r.cid
        for r in cells.crossJoin(F2.broadcast(q))
        .select("cid", _sq_dist("centroid", "q_emb").alias("d"))
        .orderBy("d", "cid")
        .limit(N_PROBE)
        .collect()
    }
    cell_of = {r.vec_id: r.cid for r in ivf_assign(e, cells).select("vec_id", "cid").collect()}
    for r in got:
        assert cell_of[r.vec_id] in probed

    # same ADC scores as unrestricted PQ (restriction must not rescore)
    full = {r.vec_id: r.pq_sim for r in pq_knn_top10(spark, sf_med).collect()}
    for r in got:
        if r.vec_id in full:
            assert r.pq_sim == full[r.vec_id]


def test_pq_planted_cluster_recall(spark):
    """On structured data (near-duplicates of the query planted in a
    random corpus) PQ-ADC must put every planted neighbor in its top-10 —
    the recall regime a real embedding corpus (clustered, not uniform)
    lives in. Random-uniform corpora are PQ's worst case; this pins the
    best case deterministically."""
    import numpy as np
    from pyspark.sql import functions as F2

    from novelti_dingo_spark.operators.pq import (
        _assign,
        pq_fit,
        subvectors,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(200, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    q = base[0]
    planted = q + rng.normal(scale=0.02, size=(5, 64))
    planted /= np.linalg.norm(planted, axis=1, keepdims=True)
    corpus = np.vstack([base, planted])
    rows = [
        (int(i), "x", [float(v) for v in corpus[i]])
        for i in range(len(corpus))
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    cb = pq_fit(e)
    codes = _assign(subvectors(e), cb).select("vec_id", "m", "cid")
    qsub = subvectors(e.filter(F2.col("vec_id") == 0)).select(
        "m", F2.col("sub").alias("q_sub")
    )
    lut = cb.join(F2.broadcast(qsub), "m").select(
        "m",
        "cid",
        F2.aggregate(
            F2.zip_with("centroid", "q_sub", lambda c, qq: c * qq),
            F2.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("partial"),
    )
    top10 = [
        r.vec_id
        for r in codes.filter(F2.col("vec_id") != 0)
        .join(F2.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F2.sum("partial").alias("s"))
        .orderBy(F2.desc("s"), F2.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    planted_ids = set(range(200, 205))
    assert planted_ids <= set(top10), f"planted {planted_ids} vs top10 {top10}"


def test_ivf_pq_residual_identity_and_determinism(spark, sf_med):
    """Residual-ADC score must equal q·(cell_centroid + reconstructed
    residual) recomputed in numpy, and the query must be deterministic."""
    import numpy as np
    from pyspark.sql import functions as F2

    from novelti_dingo_spark.operators.ivf import (
        _assign as ivf_assign,
        kmeans_fit,
    )
    from novelti_dingo_spark.operators.pq import (
        ivf_pq_residual_knn_top10,
        pq_encode,
        pq_fit,
        subvectors,
    )

    got = ivf_pq_residual_knn_top10(spark, sf_med).collect()
    assert len(got) == 10
    assert got == ivf_pq_residual_knn_top10(spark, sf_med).collect()

    e = load_table(spark, sf_med, "embeddings")
    cells = kmeans_fit(e)
    cent = {r.cid: np.array(r.centroid) for r in cells.collect()}
    assigned = ivf_assign(e, cells)
    with_res = assigned.join(
        F2.broadcast(cells.select("cid", "centroid")), "cid"
    ).select(
        "vec_id",
        F2.col("cid").alias("ivf_cid"),
        F2.zip_with(
            F2.col("embedding").cast("array<double>"),
            "centroid",
            lambda x, c: x - c,
        ).alias("embedding"),
    )
    cell_of = {r.vec_id: r.ivf_cid for r in with_res.select("vec_id", "ivf_cid").collect()}
    cb = pq_fit(with_res.select("vec_id", "embedding"))
    cb_map = _codebook_map(cb.collect())
    codes = {
        r.vec_id: r.codes
        for r in pq_encode(with_res.select("vec_id", "embedding"), cb).collect()
    }
    q = np.array(
        e.filter(F2.col("vec_id") == 0).select("embedding").head().embedding,
        dtype=np.float64,
    )
    for r in got:
        recon_res = np.concatenate(
            [cb_map[(m, codes[r.vec_id][m])] for m in range(M)]
        )
        want = float(q @ (cent[cell_of[r.vec_id]] + recon_res))
        assert abs(r.pq_sim - round(want, 6)) <= 1e-6


def test_pq_index_served_matches_numpy_and_fresh(spark, sf_small, tmp_path):
    """pq_knn_from_index serves from the pinned snapshot: scores must
    equal a numpy replica EXACTLY (same left-to-right LUT sum), and the
    top-10 ids must match the freshly-trained pq_knn_top10 (identical
    deterministic training, so identical codes)."""
    from novelti_dingo_spark.operators.pq import (
        pq_knn_from_index,
        pq_knn_top10,
        publish_pq_index,
    )

    base = str(tmp_path / "pq")
    publish_pq_index(spark, sf_small, base)
    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    served = pq_knn_from_index(
        spark, base, q, k=10, exclude_vec_id=0
    ).collect()
    fresh = pq_knn_top10(spark, sf_small).collect()
    assert [r.vec_id for r in served] == [r.vec_id for r in fresh]

    # numpy replica of the ADC score for the served rows, same fold
    from novelti_dingo_spark.pipelines import read_snapshot

    tables, _ = read_snapshot(spark, base)
    cbs = {(r.m, r.cid): list(r.centroid) for r in tables["codebooks"].collect()}
    codes = {r.vec_id: list(r.codes) for r in tables["codes"].collect()}
    for r in served:
        want = 0.0
        for m in range(M):
            sub = q[m * SUBDIM:(m + 1) * SUBDIM]
            acc = 0.0
            for c, qq in zip(cbs[(m, codes[r.vec_id][m])], sub):
                acc += c * qq
            want += acc
        assert r.pq_sim == round(want, 6), r.vec_id


def test_pq_index_codebook_cache_keyed_per_snapshot(spark, sf_small, tmp_path):
    from novelti_dingo_spark.operators.pq import (
        _PQ_CB_CACHE,
        pq_knn_from_index,
        publish_pq_index,
    )

    base = str(tmp_path / "pq")
    v1 = publish_pq_index(spark, sf_small, base)
    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    pq_knn_from_index(spark, base, q).collect()
    assert (base, v1) in _PQ_CB_CACHE
    v2 = publish_pq_index(spark, sf_small, base)
    pq_knn_from_index(spark, base, q).collect()
    assert v2 == v1 + 1 and (base, v2) in _PQ_CB_CACHE


def test_ivfpq_index_served_probe_and_rerank(spark, sf_small, tmp_path):
    """Composed IVF-PQ snapshot serving: (a) the probed-cells ADC
    shortlist contains only vectors from the probed cells; (b) scores
    match a numpy replica exactly; (c) the plan partition-prunes on the
    cell column; (d) reranked output carries exact float cosines."""
    from novelti_dingo_spark.operators.ivf import (
        _assign as ivf_assign,
        kmeans_fit,
    )
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )
    from novelti_dingo_spark.pipelines import read_snapshot

    base = str(tmp_path / "ivfpq")
    # residual=False: this test pins the RAW-encoding format (the
    # reader stays backward-compatible with pre-residual snapshots);
    # the residual default is pinned in the _residual_ tests below
    publish_ivfpq_index(spark, sf_small, base, k_cells=8, residual=False)
    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]

    adc_df = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, exclude_vec_id=0
    )
    served = adc_df.collect()
    assert len(served) == 10
    plan = adc_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200]

    # (a) containment in probed cells + (b) numpy ADC identity
    tables, _ = read_snapshot(spark, base)
    cell_of = {r.vec_id: r.cell for r in tables["codes"].collect()}
    codes = {r.vec_id: list(r.codes) for r in tables["codes"].collect()}
    cbs = {
        (r.m, r.cid): list(r.centroid)
        for r in tables["codebooks"].collect()
    }
    coarse = {r.cid: list(r.centroid) for r in tables["coarse"].collect()}

    def sqd(c):
        acc = 0.0
        for x, y in zip(c, q):
            d = x - y
            acc += d * d
        return acc

    probed = {cid for _, cid in sorted((sqd(c), cid) for cid, c in coarse.items())[:2]}
    for r in served:
        assert cell_of[r.vec_id] in probed
        want = 0.0
        for m in range(M):
            sub = q[m * SUBDIM:(m + 1) * SUBDIM]
            acc = 0.0
            for c, qq in zip(cbs[(m, codes[r.vec_id][m])], sub):
                acc += c * qq
            want += acc
        assert r.pq_sim == round(want, 6)

    # (d) rerank: exact cosine on the shortlist, also containment-bound
    rr = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, shortlist=50, rerank=e,
        exclude_vec_id=0,
    ).collect()
    assert len(rr) == 10
    emb = {r.vec_id: list(r.embedding) for r in e.collect()}
    for r in rr:
        acc = 0.0
        for a, b in zip(emb[r.vec_id], q):
            acc += float(a) * b
        assert r.cos_sim == round(acc, 6)
        assert cell_of[r.vec_id] in probed


def _emb_fixture(tmp_path, corpus: "np.ndarray", first_id: int = 0) -> str:
    """Write a synthetic embeddings.parquet shaped like the testdata
    (vec_id long, embedding list<float32>, label int32) so load_table /
    publish_ivfpq_index treat the dir as an sf_dir. Vector ids run from
    `first_id`."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    d = tmp_path / "emb_fixture"
    d.mkdir(exist_ok=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(
                range(first_id, first_id + len(corpus)), pa.int64()
            ),
            "embedding": pa.array(
                corpus.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(corpus), pa.int32()),
        }
    )
    pq_.write_table(tbl, str(d / "embeddings.parquet"))
    return str(d)


def test_ivfpq_residual_index_served_numpy_exact(spark, sf_small, tmp_path):
    """Round-10 verdict item #1 done-criterion: the PERSISTED IVF-PQ
    index is residual-encoded by default and the served ADC score is
    numpy/python-EXACT: q·centroid(cell) + Σ_m LUT[m, code_m], every
    float fold left-to-right."""
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )
    from novelti_dingo_spark.pipelines import read_snapshot

    base = str(tmp_path / "ivfpq_res")
    publish_ivfpq_index(spark, sf_small, base, k_cells=8)
    tables, manifest = read_snapshot(spark, base)
    assert manifest["residual"] is True and manifest["k"] == K
    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]

    served = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, exclude_vec_id=0
    ).collect()
    assert len(served) == 10

    cell_of = {r.vec_id: r.cell for r in tables["codes"].collect()}
    codes = {r.vec_id: list(r.codes) for r in tables["codes"].collect()}
    cbs = {
        (r.m, r.cid): list(r.centroid)
        for r in tables["codebooks"].collect()
    }
    coarse = {r.cid: list(r.centroid) for r in tables["coarse"].collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def sqd(c):
        acc = 0.0
        for x, y in zip(c, q):
            d = x - y
            acc += d * d
        return acc

    probed = {
        cid
        for _, cid in sorted((sqd(c), cid) for cid, c in coarse.items())[:2]
    }
    for r in served:
        assert cell_of[r.vec_id] in probed
        want = fold_dot(coarse[cell_of[r.vec_id]], q)
        for m in range(M):
            sub = q[m * SUBDIM:(m + 1) * SUBDIM]
            want += fold_dot(cbs[(m, codes[r.vec_id][m])], sub)
        assert r.pq_sim == round(want, 6)


def test_residual_knn_one_pass_numpy_exact_and_job_count(spark, sf_small):
    """The train-per-call residual IVF-PQ query trains with
    kmeans_fit_numpy and pq_fit_numpy and scores in one corpus pass.
    Rebuilding its model from the two trainers, every candidate's score
    is round(q·centroid(cell) + (t_0 + … + t_7), 6) with every float
    fold left to right, the rows are the top-10 of the probed cells,
    and the query runs in at most 10 Spark jobs."""
    from novelti_dingo_spark.operators.ivf import N_PROBE, kmeans_fit_numpy
    from novelti_dingo_spark.operators.pq import (
        ivf_pq_residual_knn_top10,
        pq_fit_numpy,
    )

    sc = spark.sparkContext
    group = "test-residual-knn-one-pass"
    sc.setJobGroup(group, group)
    try:
        got = ivf_pq_residual_knn_top10(spark, sf_small).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 10, n_jobs

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def fold_sqd(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = x - y
            acc += d * d
        return acc

    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}
    q = vecs[0]
    cells = {
        r.cid: list(r.centroid) for r in kmeans_fit_numpy(e, n=n).collect()
    }
    cell_of = {
        v: min((fold_sqd(x, c), cid) for cid, c in cells.items())[1]
        for v, x in vecs.items()
    }
    res = {
        v: [a - b for a, b in zip(x, cells[cell_of[v]])]
        for v, x in vecs.items()
    }
    res_df = spark.createDataFrame(
        sorted(res.items()), "vec_id long, embedding array<double>"
    )
    cbs = {
        (r.m, r.cid): list(r.centroid)
        for r in pq_fit_numpy(res_df, n=n).collect()
    }
    probed = {
        cid
        for _, cid in sorted(
            (fold_sqd(c, q), cid) for cid, c in cells.items()
        )[:N_PROBE]
    }
    want = {}
    for v in vecs:
        if v == 0 or cell_of[v] not in probed:
            continue
        adc = 0.0
        for m in range(M):
            sub = res[v][m * SUBDIM:(m + 1) * SUBDIM]
            code = min(
                (fold_sqd(sub, cbs[(m, c)]), c) for c in range(K)
            )[1]
            adc += fold_dot(cbs[(m, code)], q[m * SUBDIM:(m + 1) * SUBDIM])
        want[v] = round(fold_dot(cells[cell_of[v]], q) + adc, 6)
    top = sorted(want, key=lambda v: (-want[v], v))[:10]
    assert [r.vec_id for r in got] == top
    for r in got:
        assert r.pq_sim == want[r.vec_id]


@pytest.mark.parametrize(
    "first_id,n_vectors", [(1, 40), (0, 0)], ids=["no_vector_0", "empty"]
)
def test_residual_knn_without_query_vector_is_empty(
    spark, tmp_path, first_id, n_vectors
):
    """An embeddings table without vector 0 (or without rows) has no
    query to rank for: the residual IVF-PQ query returns no rows, with
    the (vec_id bigint, pq_sim double) schema."""
    from novelti_dingo_spark.operators.pq import ivf_pq_residual_knn_top10

    corpus = np.random.default_rng(3).standard_normal((n_vectors, 64))
    sf = _emb_fixture(tmp_path, corpus, first_id=first_id)
    df = ivf_pq_residual_knn_top10(spark, sf)
    assert df.schema.simpleString() == "struct<vec_id:bigint,pq_sim:double>"
    assert df.collect() == []


def test_pq_fit_numpy_empty_input_returns_empty_model(
    spark, sf_small, tmp_path
):
    """The sampled PQ trainer on an empty input returns an empty model
    with the schema of a trained one."""
    from novelti_dingo_spark.operators.pq import pq_fit_numpy

    sf = _emb_fixture(tmp_path, np.zeros((0, 64)))
    model = pq_fit_numpy(load_table(spark, sf, "embeddings"))
    trained = pq_fit_numpy(load_table(spark, sf_small, "embeddings"))
    assert model.schema == trained.schema
    assert model.collect() == []


def test_residual_index_recall_beats_raw_on_clustered_corpus(
    spark, tmp_path
):
    """The reason residual encoding exists: on a clustered corpus
    (planted near-duplicates of the query), the RESIDUAL index's pure
    ADC shortlist must recover the planted neighbors; round 9 measured
    the raw composition losing exactly this signal (recall@10 = 0.0 at
    1M uniform). Pins residual recall == 1.0 on the planted set and
    >= the raw index's recall on identical data + quantizer budgets."""
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )

    rng = np.random.default_rng(17)
    base_corpus = rng.normal(size=(800, 64))
    base_corpus /= np.linalg.norm(base_corpus, axis=1, keepdims=True)
    q = base_corpus[0]
    planted = q + rng.normal(scale=0.02, size=(5, 64))
    planted /= np.linalg.norm(planted, axis=1, keepdims=True)
    corpus = np.vstack([base_corpus, planted])
    sf_dir = _emb_fixture(tmp_path, corpus)
    planted_ids = set(range(800, 805))
    qd = [float(x) for x in q]

    def top10(index_base, residual):
        publish_ivfpq_index(
            spark, sf_dir, index_base, k_cells=8, residual=residual
        )
        return {
            r.vec_id
            for r in ivfpq_knn_from_index(
                spark, index_base, qd, n_probe=2, exclude_vec_id=0
            ).collect()
        }

    res_hits = top10(str(tmp_path / "idx_res"), True) & planted_ids
    raw_hits = top10(str(tmp_path / "idx_raw"), False) & planted_ids
    assert len(res_hits) == 5, f"residual ADC missed planted: {res_hits}"
    assert len(res_hits) >= len(raw_hits)


def test_ivfpq_k256_code_rate_served(spark, sf_small, tmp_path):
    """pq_k=256 (1-byte codes): codes stay in range, the serving LUT
    handles a sparse codebook (empty Lloyd's cells on a small corpus),
    and the ADC score remains numpy-exact."""
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )
    from novelti_dingo_spark.pipelines import read_snapshot

    base = str(tmp_path / "ivfpq256")
    publish_ivfpq_index(spark, sf_small, base, k_cells=4, pq_k=256)
    tables, manifest = read_snapshot(spark, base)
    assert manifest["k"] == 256 and manifest["residual"] is True
    all_codes = tables["codes"].collect()
    assert all(0 <= c < 256 for r in all_codes for c in r.codes)
    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    served = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, exclude_vec_id=0
    ).collect()
    assert len(served) == 10

    cell_of = {r.vec_id: r.cell for r in all_codes}
    codes = {r.vec_id: list(r.codes) for r in all_codes}
    cbs = {
        (r.m, r.cid): list(r.centroid)
        for r in tables["codebooks"].collect()
    }
    coarse = {r.cid: list(r.centroid) for r in tables["coarse"].collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    for r in served:
        want = fold_dot(coarse[cell_of[r.vec_id]], q)
        for m in range(M):
            sub = q[m * SUBDIM:(m + 1) * SUBDIM]
            want += fold_dot(cbs[(m, codes[r.vec_id][m])], sub)
        assert r.pq_sim == round(want, 6)


def test_numpy_encoder_matches_join_encoder(spark, sf_small):
    """pq_encode_numpy (the high-code-rate scale path) must produce
    code-for-code the same assignment as the join encoder: same
    argmin, same lowest-cid tie-break."""
    from novelti_dingo_spark.operators.pq import pq_encode_numpy

    e = load_table(spark, sf_small, "embeddings")
    cb = pq_fit(e)
    a = {r.vec_id: list(r.codes) for r in pq_encode(e, cb).collect()}
    b = {
        r.vec_id: list(r.codes)
        for r in pq_encode_numpy(e, cb, k=K).collect()
    }
    assert a == b


def test_publish_residual_norm_rides_the_write(
    spark, sf_small, tmp_path, monkeypatch
):
    """Round-11 advice: train_residual_norm used to be a SEPARATE
    aggregate action re-evaluating the full assign+broadcast-join+
    residual plan over the corpus on top of the publish write; it now
    rides the codes write via Observation + publish_snapshot's
    meta_late hook. Spy: a mapInPandas probe on the embeddings source
    drops one marker per (partition, evaluation). Measured breakdown at
    k_cells=8, residual=True with the round-11 defaults (sampled coarse
    trainer + threshold hash sample + numpy encoder): 6 source passes —
    the shared corpus count, the coarse sampler's filtered collect, the
    PQ train sampler's shortfall-check count, the codebook collect
    (evaluating pq_fit's Lloyd's subtree over the sampled train set),
    and the codes write evaluating its two join branches (the encode
    scan and the residual-norm side of pq_input). The round-10
    exact-trainer default measured 19 passes on this same spy; the OLD
    separate-aggregate norm re-ran the whole pq_input plan once more on
    top — pin the post-fix count so neither the double evaluation nor a
    TakeOrdered sampler can silently return."""
    import os
    import uuid

    from novelti_dingo_spark.operators import pq as pq_mod
    from novelti_dingo_spark.operators.ivf import assign_literal
    from novelti_dingo_spark.pipelines import read_snapshot

    e = load_table(spark, sf_small, "embeddings")
    n_parts = 4
    d = tmp_path / "probe"
    d.mkdir()
    src = e.repartition(n_parts)

    def probe(batches):
        with open(os.path.join(str(d), uuid.uuid4().hex), "w"):
            pass
        yield from batches

    spied = src.mapInPandas(probe, src.schema)
    monkeypatch.setattr(
        pq_mod, "load_table", lambda _spark, _sf, _name: spied
    )
    base = str(tmp_path / "idx")
    pq_mod.publish_ivfpq_index(spark, sf_small, base, k_cells=8)
    monkeypatch.undo()
    passes = len(os.listdir(str(d))) / n_parts
    # Round-14: pq_fit/kmeans_fit now end in an EAGER localCheckpoint of
    # the k-row model (the plan-explosion fix — every downstream
    # reference used to re-instantiate the whole Lloyd's subtree). The
    # codebook collect therefore reads the checkpoint instead of
    # re-evaluating the training subtree over the sampled source:
    # 6 passes → 5. A separate norm aggregate re-appearing would still
    # add ~2 passes on top of this pin.
    assert passes == 5, (
        f"publish evaluated the source {passes} times, expected 5 — "
        "a separate norm aggregate re-appearing would add ~2 passes "
        "(the full assign+join+residual plan re-run once more)"
    )

    # and the observed value IS the corpus mean residual norm against
    # the PUBLISHED assignment (cells from the codes table, centroids
    # from the coarse table — bit-identical to what the publish scored)
    tables, manifest = read_snapshot(spark, base)
    want = (
        e.join(tables["codes"].select("vec_id", "cell"), "vec_id")
        .join(
            F.broadcast(
                tables["coarse"].select(
                    F.col("cid").alias("cell"), "centroid"
                )
            ),
            "cell",
        )
        .select(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        "centroid",
                        lambda x, c: x - c,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            ).alias("n")
        )
        .agg(F.avg("n"))
        .head()[0]
    )
    got = manifest["train_residual_norm"]
    assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


def test_ivfpq_opq_index_persists_rotation_and_serves_numpy_exact(
    spark, sf_small, tmp_path
):
    """Round-11: publish_ivfpq_index(opq=True) persists the learned
    rotation as a snapshot table and serving rotates the QUERY only —
    the rotated-ADC score is numpy/python-EXACT (q_rot·centroid(cell)
    + Σ_m LUT[m, code_m], same float folds), the rerank scores exact
    RAW-space dots (rotation-invariance), appends rotate with the
    FROZEN R, and the drift monitor's norm ratio stays ~1 on
    in-distribution batches (it rotates before measuring)."""
    from novelti_dingo_spark.operators.pq import (
        append_vectors_to_ivfpq_index,
        ivfpq_index_drift,
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )
    from novelti_dingo_spark.pipelines import read_snapshot

    base = str(tmp_path / "ivfpq_opq")
    publish_ivfpq_index(spark, sf_small, base, k_cells=8, opq=True)
    tables, manifest = read_snapshot(spark, base)
    assert manifest["opq"] is True and manifest["residual"] is True
    assert "rotation" in tables
    R = np.array(
        [
            row
            for _, row in sorted(
                (int(r.i), [float(x) for x in r.row])
                for r in tables["rotation"].collect()
            )
        ]
    )
    assert R.shape == (64, 64)
    assert np.abs(R @ R.T - np.eye(64)).max() < 1e-9  # orthonormal

    e = load_table(spark, sf_small, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    # the replica rotates exactly like the server (numpy float64 matvec)
    q_rot = [float(v) for v in R @ np.asarray(q, dtype=np.float64)]

    served = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, exclude_vec_id=0
    ).collect()
    assert len(served) == 10
    cell_of = {r.vec_id: r.cell for r in tables["codes"].collect()}
    codes = {r.vec_id: list(r.codes) for r in tables["codes"].collect()}
    cbs = {
        (r.m, r.cid): list(r.centroid)
        for r in tables["codebooks"].collect()
    }
    coarse = {r.cid: list(r.centroid) for r in tables["coarse"].collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def sqd(c):
        acc = 0.0
        for x, y in zip(c, q_rot):
            d = x - y
            acc += d * d
        return acc

    probed = {
        cid
        for _, cid in sorted((sqd(c), cid) for cid, c in coarse.items())[:2]
    }
    for r in served:
        assert cell_of[r.vec_id] in probed
        want = fold_dot(coarse[cell_of[r.vec_id]], q_rot)
        for m in range(M):
            sub = q_rot[m * SUBDIM:(m + 1) * SUBDIM]
            want += fold_dot(cbs[(m, codes[r.vec_id][m])], sub)
        assert r.pq_sim == round(want, 6)

    # exact rerank stays in RAW space: cos_sim is the raw q·x fold
    rr = ivfpq_knn_from_index(
        spark, base, q, n_probe=2, shortlist=50, rerank=e, exclude_vec_id=0
    ).collect()
    emb = {r.vec_id: list(r.embedding) for r in e.collect()}
    for r in rr:
        acc = 0.0
        for a, b in zip(emb[r.vec_id], q):
            acc += float(a) * b
        assert r.cos_sim == round(acc, 6)

    # appends rotate with the FROZEN persisted R: re-keyed copies of
    # corpus vectors receive codes identical to their originals
    batch = (
        e.orderBy("vec_id").limit(4)
        .withColumn("vec_id", F.col("vec_id") + 500_000)
    )
    append_vectors_to_ivfpq_index(spark, base, batch)
    from novelti_dingo_spark.pipelines import read_snapshot_chain

    resolved, head = read_snapshot_chain(spark, base)
    assert head["opq"] is True  # flag rides the delta manifest
    grown = {r.vec_id: (list(r.codes), r.cell) for r in resolved["codes"].collect()}
    for vid in range(4):
        assert grown[vid + 500_000] == grown[vid]

    # drift monitor rotates before measuring: in-distribution batch
    # sits at norm_ratio ~ 1, not at the unrotated-space artifact
    drift = ivfpq_index_drift(spark, base, new_vectors=batch)
    assert 0.5 < drift["norm_ratio"] < 1.5
    assert drift["retrain_recommended"] in (False,)


def test_batched_serve_matches_single_query_serve(spark, sf_small, tmp_path):
    """The batched serve path must return, for EVERY query in the
    batch, exactly the single-query serve results — same vec_ids, same
    ADC scores bit-for-bit (the batch fold seeds the residual base and
    folds LUT terms in the same left-to-right order), across residual,
    raw, and OPQ-rotated snapshots; reranked scores equal the exact
    raw-space dots; self-exclusion works."""
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_batch_from_index,
        ivfpq_knn_from_index,
        publish_ivfpq_index,
    )

    e = load_table(spark, sf_small, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    for tag, kw in (
        ("res", dict()),
        ("raw", dict(residual=False)),
        ("opq", dict(opq=True)),
    ):
        base = str(tmp_path / f"idx_{tag}")
        publish_ivfpq_index(spark, sf_small, base, k_cells=8, **kw)
        batch = ivfpq_knn_batch_from_index(
            spark, base, queries, k=5, n_probe=2, exclude_self=True
        ).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r.query_id, []).append((r.vec_id, r.pq_sim))
        assert set(by_q) == set(queries)
        for qid, qv in queries.items():
            single = [
                (r.vec_id, r.pq_sim)
                for r in ivfpq_knn_from_index(
                    spark, base, qv, k=5, n_probe=2, exclude_vec_id=qid
                ).collect()
            ]
            assert by_q[qid] == single, f"{tag} q{qid}"

    # reranked: each query's cos_sim is the exact raw-space dot
    base = str(tmp_path / "idx_res")
    rr = ivfpq_knn_batch_from_index(
        spark, base, queries, k=3, n_probe=2, shortlist=20,
        rerank=e, exclude_self=True,
    ).collect()
    emb = {r.vec_id: list(r.embedding) for r in e.collect()}
    seen_q = set()
    for r in rr:
        seen_q.add(r.query_id)
        assert r.vec_id != r.query_id
        acc = 0.0
        for a, b in zip(emb[r.vec_id], queries[r.query_id]):
            acc += float(a) * float(b)
        assert r.cos_sim == round(acc, 6)
    assert seen_q == set(queries)
    # per-query count = k
    from collections import Counter

    assert set(Counter(r.query_id for r in rr).values()) == {3}


def test_pq_batched_serve_matches_single_query_through_chain(
    spark, sf_small, tmp_path
):
    """The batched plain-PQ serve must equal the single-query serve per
    query — bit-for-bit pq_sim — INCLUDING through an append delta
    chain (both paths chain-resolve)."""
    from collections import Counter

    from novelti_dingo_spark.operators.pq import (
        append_vectors_to_pq_index,
        pq_knn_batch_from_index,
        pq_knn_from_index,
        publish_pq_index,
    )

    base = str(tmp_path / "pq")
    publish_pq_index(spark, sf_small, base)
    e = load_table(spark, sf_small, "embeddings")
    append_vectors_to_pq_index(
        spark, base,
        e.orderBy("vec_id").limit(8)
        .withColumn("vec_id", F.col("vec_id") + 700_000),
    )
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter("vec_id < 4").collect()
    }
    batch = pq_knn_batch_from_index(
        spark, base, queries, k=6, exclude_self=True
    ).collect()
    by_q = {}
    for r in batch:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.pq_sim))
    assert set(by_q) == set(queries)
    assert set(Counter(r.query_id for r in batch).values()) == {6}
    for qid, qv in queries.items():
        single = [
            (r.vec_id, r.pq_sim)
            for r in pq_knn_from_index(
                spark, base, qv, k=6, exclude_vec_id=qid
            ).collect()
        ]
        assert by_q[qid] == single, f"q{qid}"


def test_batch_serve_window_has_native_group_limit(spark, sf_small, tmp_path):
    """Round-12 (measured correction of the round-11 'known trade'
    note): the `row_number() <= k` shape in every batched serve path
    plans Catalyst's native WindowGroupLimit in PARTIAL mode BEFORE the
    per-query window's hash exchange — the map-side pre-rank is already
    a JVM operator, so the shuffle carries at most partitions·Q·k
    survivor rows, never the candidate volume (590 records measured at
    1M vectors / Q=16 / ~2M candidates, SCALE_MEASURED ann_batch_serve).
    A hand-rolled mapInPandas pre-rank was bit-equal and 1.7× slower;
    this test pins the native node (Partial above the scan, Final after
    the exchange) and keeps any Python stage out of the plan."""
    from novelti_dingo_spark.operators.pq import (
        ivfpq_knn_batch_from_index,
        pq_knn_batch_from_index,
        publish_ivfpq_index,
        publish_pq_index,
    )

    e = load_table(spark, sf_small, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 5).collect()
    }

    base = str(tmp_path / "ivfpq")
    publish_ivfpq_index(spark, sf_small, base, k_cells=8)
    batch = ivfpq_knn_batch_from_index(
        spark, base, queries, k=5, n_probe=2, exclude_self=True
    )
    assert len(batch.collect()) == 5 * 5
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final pair
    assert "Partial" in plan.split("WindowGroupLimit")[-1]
    assert "MapInPandas" not in plan and "ArrowEval" not in plan

    base2 = str(tmp_path / "pq")
    publish_pq_index(spark, sf_small, base2)
    batch2 = pq_knn_batch_from_index(spark, base2, queries, k=6)
    batch2.collect()
    plan2 = batch2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("WindowGroupLimit") >= 2
    assert "MapInPandas" not in plan2


def test_single_query_serve_uses_manifest_geometry(spark, sf_small, tmp_path):
    """Round-12 (round-11 advice): the single-query plain-PQ serve must
    read its code-rate geometry from the snapshot MANIFEST like the
    batch path — a k=32 snapshot served through the module-constant
    K=16 cache shape would either crash or score wrongly, and both
    paths share one _PQ_CB_CACHE key, so the first caller must not
    poison the cache for the other."""
    from novelti_dingo_spark.operators.pq import (
        M,
        SUBDIM,
        pq_encode_numpy,
        pq_fit,
        pq_knn_batch_from_index,
        pq_knn_from_index,
    )
    from novelti_dingo_spark.pipelines import publish_snapshot

    e = load_table(spark, sf_small, "embeddings")
    cbs = pq_fit(e.select("vec_id", "embedding"), k=32)
    codes = pq_encode_numpy(e.select("vec_id", "embedding"), cbs, k=32)
    base = str(tmp_path / "pq32")
    publish_snapshot(
        {"codebooks": cbs, "codes": codes}, base,
        meta={"m": M, "k": 32, "subdim": SUBDIM},
    )
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 3).collect()
    }
    # single-query FIRST (it builds the shared cache entry), batch second
    singles = {
        qid: [
            (r.vec_id, r.pq_sim)
            for r in pq_knn_from_index(
                spark, base, qv, k=5, exclude_vec_id=qid
            ).collect()
        ]
        for qid, qv in queries.items()
    }
    batch = pq_knn_batch_from_index(
        spark, base, queries, k=5, exclude_self=True
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.pq_sim))
    assert by_q == singles


def test_drift_zero_baseline_reports_sentinel(spark, sf_small, tmp_path):
    """Round-12 (round-11 advice): a recorded training baseline of 0.0
    (exactly quantizable corpus) must NOT silently disable the drift
    check — the monitor reports baseline_zero, an infinite ratio for a
    non-zero batch error, and recommends retrain."""
    from novelti_dingo_spark.operators.pq import (
        M,
        SUBDIM,
        pq_encode_numpy,
        pq_fit,
        pq_index_drift,
    )
    from novelti_dingo_spark.pipelines import publish_snapshot

    e = load_table(spark, sf_small, "embeddings")
    cbs = pq_fit(e.select("vec_id", "embedding"))
    codes = pq_encode_numpy(e.select("vec_id", "embedding"), cbs)
    base = str(tmp_path / "pq0")
    publish_snapshot(
        {"codebooks": cbs, "codes": codes}, base,
        meta={"m": M, "k": 16, "subdim": SUBDIM, "train_quant_mse": 0.0},
    )
    d = pq_index_drift(
        spark, base, new_vectors=e.select("vec_id", "embedding").limit(16)
    )
    assert d["baseline_zero"] is True
    assert d["mse_ratio"] == float("inf")
    assert d["retrain_recommended"] is True
    assert d["batch_quant_mse"] > 0


def test_opq_drift_and_append_accept_labelless_batches(
    spark, sf_small, tmp_path
):
    """Round-12 (round-11 advice): OPQ indexes must accept drift/append
    batches carrying only (vec_id, embedding) — label is unused on both
    paths, and keep=("label",) raised AnalysisException for the
    schemas every non-OPQ index already accepted."""
    from novelti_dingo_spark.operators.pq import (
        append_vectors_to_ivfpq_index,
        ivfpq_index_drift,
        publish_ivfpq_index,
    )

    e = load_table(spark, sf_small, "embeddings")
    base = str(tmp_path / "opq")
    publish_ivfpq_index(spark, sf_small, base, k_cells=8, opq=True)
    bare = e.select("vec_id", "embedding").limit(16)
    d = ivfpq_index_drift(spark, base, new_vectors=bare)
    assert "norm_ratio" in d
    from novelti_dingo_spark.pipelines import read_snapshot_chain

    n0 = read_snapshot_chain(spark, base)[0]["codes"].count()
    append_vectors_to_ivfpq_index(
        spark, base,
        bare.withColumn("vec_id", F.col("vec_id") + 900_000),
    )
    assert read_snapshot_chain(spark, base)[0]["codes"].count() == n0 + 16


def test_opq_rotation_staleness_monitor(spark, sf_small, tmp_path):
    """Round-12 (round-11 verdict #6): OPQ indexes record a
    train_subspace_balance baseline at publish (riding the codes write
    as an Observation) and ivfpq_index_drift monitors the FROZEN
    rotation with it: an in-distribution batch sits near ratio 1; a
    batch whose variance concentrates in one subspace (rotation gone
    stale for the new data) trips balance_threshold. The baseline
    survives BOTH appends and chain compaction (the carried-keys
    lesson, applied on day one)."""
    from novelti_dingo_spark.operators.pq import (
        append_vectors_to_ivfpq_index,
        ivfpq_index_drift,
        publish_ivfpq_index,
    )
    from novelti_dingo_spark.pipelines import (
        compact_snapshot_chain,
        read_snapshot_chain,
    )

    base = str(tmp_path / "opqbal")
    publish_ivfpq_index(spark, sf_small, base, k_cells=8, opq=True)
    _, manifest = read_snapshot_chain(spark, base)
    assert manifest.get("train_subspace_balance", 0) >= 1.0
    assert len(manifest["train_subspace_energy"]) == 8

    e = load_table(spark, sf_small, "embeddings")
    bare = e.select("vec_id", "embedding").limit(64)
    d = ivfpq_index_drift(spark, base, new_vectors=bare)
    assert "balance_ratio" in d
    assert d["batch_subspace_balance"] >= 1.0
    # in-distribution: the rotation still balances this batch
    assert d["balance_ratio"] < 1.5
    assert d["retrain_recommended"] is False

    # variance concentrated on 8 raw dims: under the frozen R the
    # rotated energies go lopsided and the monitor trips
    skewed = bare.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x, i: F.when(i < 8, x * 40.0).otherwise(x * 0.01),
        ).alias("embedding"),
    )
    d_skew = ivfpq_index_drift(spark, base, new_vectors=skewed)
    assert d_skew["balance_ratio"] > d["balance_ratio"]
    assert d_skew["retrain_recommended"] is True

    # baseline survives an append (delta) and a compaction
    append_vectors_to_ivfpq_index(
        spark, base, bare.withColumn("vec_id", F.col("vec_id") + 800_000)
    )
    d2 = ivfpq_index_drift(spark, base, new_vectors=bare)
    assert d2["train_subspace_balance"] == d["train_subspace_balance"]
    compact_snapshot_chain(spark, base)
    d3 = ivfpq_index_drift(spark, base, new_vectors=bare)
    assert d3["train_subspace_balance"] == d["train_subspace_balance"]
