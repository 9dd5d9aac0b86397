"""Product quantization (PQ) for approximate nearest neighbor search
(PAPERS.md top-k families; Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI'11).

The missing piece between brute-force kNN (exact, O(n·d) per query) and
IVF (prunes WHICH vectors are scored): PQ compresses HOW each vector is
scored. Each 64-dim embedding becomes M=8 one-byte codes (32× smaller
than float64); a query is answered by building an M×K lookup table of
partial dot products and summing M table entries per vector — no float
vector ever touched at query time. At 100 TB this is the difference
between scanning 100 TB of floats and scanning ~3 TB of codes, and it
composes with IVF (IVF-PQ: prune cells, then ADC-score codes).

Spark-first design:
- all M codebooks train SIMULTANEOUSLY in one Lloyd's loop: vectors
  explode into (vec_id, m, subvector) rows once, assignment is a
  broadcast join against all M×K centroids keyed by subspace, update is
  one groupBy — the iteration cost is independent of M;
- the LUT (M×K partial dots = 128 rows) broadcasts; ADC scoring is a
  broadcast join + groupBy-sum over code rows: one shuffle of
  (vec_id, partial) pairs, no Python;
- deterministic: init picks the K lowest-xxhash64 subvectors per
  subspace, ties break on ids everywhere — same model every run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..barrier import barrier
from ..registry import register
from ..sources.io import load_table

M = 8  # subspaces
K = 16  # centroids per subspace (1-byte codes would allow 256)
SUBDIM = 8  # 64 // M
ITERATIONS = 3


def _sq_dist(a, b):
    d = F.zip_with(a, b, lambda x, y: x - y)
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)


def subvectors(vectors: DataFrame) -> DataFrame:
    """(vec_id, m, sub): each embedding split into M contiguous
    SUBDIM-dim subvectors — one explode, rows = n·M."""
    return vectors.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(M - 1)),
                lambda m: F.slice(
                    F.col("embedding").cast("array<double>"),
                    m * SUBDIM + 1,
                    SUBDIM,
                ),
            )
        ).alias("m", "sub"),
    )


def _assign(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest-centroid code per (vec_id, m) as a broadcast-join
    projection (round-14, guide §2.4 — the ivf.py `_assign` twin): the
    k centroids of each subspace aggregate into one (cid, centroid)
    struct array, broadcast-joined on `m` (M rows), and each subvector
    row takes `array_min` over its subspace's k (dist, cid) structs.
    The previous form joined every subvector with all k centroids
    (n·M·k rows) and ran row_number() over (vec_id, m) — an exchange +
    sort of the exploded relation, inside every Lloyd's iteration.
    Struct comparison = (dist, cid) lexicographic = the old
    orderBy("dist", "cid") argmin; `_sq_dist` fold order unchanged, so
    codes are bit-identical (family re-capture hash-equal, both SFs)."""
    cents = codebooks.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("cid", "centroid"))).alias(
            "_cents"
        )
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist("sub", c.getField("centroid")).alias("dist"),
                c.getField("cid").alias("cid"),
            ),
        )
    )
    return (
        subs.join(F.broadcast(cents), "m")
        .select(
            "vec_id",
            "m",
            "sub",
            best.getField("cid").alias("cid"),
        )
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """Per-(m, cid) centroid = element-wise mean. SUBDIM is a module
    constant, so the means are SUBDIM plain F.avg columns over ONE
    groupBy(m, cid) — one partial-aggregated shuffle, no posexplode,
    no second reassembly shuffle (round-14, guide §2.3/§2.4; the
    ivf._recompute static-dim path's twin — same bit-identity argument,
    family re-capture hash-equal at both SFs)."""
    return assigned.groupBy("m", "cid").agg(
        F.array(
            *[F.avg(F.col("sub")[i]) for i in range(SUBDIM)]
        ).alias("centroid")
    )


def pq_fit(
    vectors: DataFrame, iterations: int = ITERATIONS, k: int = K
) -> DataFrame:
    """Train all M codebooks at once → (m, cid, centroid). Init: the k
    lowest-xxhash64(vec_id) subvectors per subspace (seedless
    deterministic sample, same device as kmeans_fit in ivf.py). `k` is
    the code rate — 16 = 4-bit codes (the cheap default), 256 = the
    classic 1-byte-code FAISS operating point (8× the resolution for
    2× the code bytes; publish_ivfpq_index exposes it as pq_k)."""
    # Round-14 (guide §3.3/§5): `subs` is referenced by the init window
    # AND by every Lloyd's iteration's assignment — and when `vectors`
    # is an OPQ-rotated corpus the subtree contains a corpus-wide
    # pandas-UDF GEMM, re-executed per reference without a barrier. A
    # lazy barrier materializes the explode (and any rotation under it)
    # once per fit.
    subs = barrier(subvectors(vectors), eager=False)
    w = Window.partitionBy("m").orderBy(F.xxhash64("vec_id"), "vec_id")
    codebooks = (
        subs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "m", (F.col("rn") - 1).alias("cid"), F.col("sub").alias("centroid")
        )
    )
    for _ in range(iterations):
        codebooks = _recompute(_assign(subs, codebooks))
    # Round-14: same materialization barrier as ivf.kmeans_fit — the
    # M×k-row codebook is referenced by encode + LUT subtrees; without
    # it each reference replays the whole training loop (see the
    # kmeans_fit comment for the measured plan explosion).
    return barrier(codebooks)


def pq_encode(vectors: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, codes: array<int> of length M) — the compressed index."""
    assigned = _assign(subvectors(vectors), codebooks)
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "cid"))),
            lambda s: s.getField("cid"),
        ).alias("codes")
    )


def pq_encode_numpy(
    vectors: DataFrame,
    codebooks: DataFrame,
    k: int = K,
    with_error: bool = False,
) -> DataFrame:
    """Arrow-batched numpy encoder — the SCALE path for high code
    rates. The join encoder (`pq_encode`) materializes
    n·M·k candidate rows before the per-(vec_id, m) argmin: at 1M
    vectors and k=256 that is a 2-billion-row join feeding a window —
    the blow-up is in the CANDIDATE space, not the data. Here the
    M×k×SUBDIM codebook (≤128 KB at k=256) ships in the UDF closure
    and each Arrow batch computes all its argmins as one numpy
    broadcast (B×k×SUBDIM per subspace): O(n·M·k·SUBDIM) flops with no
    intermediate rows at all. This is the documented exception to
    "UDFs are the slow path": per-batch dense GEMM-shaped math that
    built-in operators can only express by exploding the candidate
    space. Ties (measure-zero on continuous data) break to the lowest
    cid in both encoders (np.argmin picks the first minimum; the join
    encoder orders by (dist, cid)); tests pin code-for-code equality
    on the fixtures.

    `with_error=True` adds a `qerr` column — the per-vector squared
    quantization error Σ_m min_c ‖x_m − c‖² (the argmin distances the
    encoder computes anyway, so the statistic is FREE at encode time):
    publish_pq_index observes its mean as the drift baseline
    pq_index_drift compares appended batches against."""
    import numpy as np

    cb = np.full((M, k, SUBDIM), np.inf)
    for r in codebooks.collect():
        cb[int(r.m), int(r.cid)] = [float(x) for x in r.centroid]

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            xs = x.reshape(len(pdf), M, SUBDIM)
            codes = np.empty((len(pdf), M), dtype=np.int32)
            err = np.zeros(len(pdf))
            for m in range(M):
                d = ((xs[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = np.argmin(d, axis=1)
                if with_error:
                    err += d[np.arange(len(pdf)), codes[:, m]]
            out = {"vec_id": pdf["vec_id"], "codes": list(codes.tolist())}
            if with_error:
                out["qerr"] = err
            yield pd.DataFrame(out)

    schema = "vec_id long, codes array<int>"
    if with_error:
        schema += ", qerr double"
    return vectors.select("vec_id", "embedding").mapInPandas(enc, schema)


def pq_fit_numpy(
    vectors: DataFrame,
    iterations: int = ITERATIONS,
    k: int = K,
    sample: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Driver-side Lloyd's over a collected sample — the quantizer-
    TRAINING shape production ANN systems actually use (FAISS trains
    codebooks on a bounded sample single-node; the cluster's job is
    encoding and serving, which stay distributed here via
    pq_encode_numpy / the published snapshot). Rationale at high code
    rates: the join-based pq_fit materializes sample·M·k candidate
    rows per Lloyd's iteration — 537M rows at a 262k sample × M=8 ×
    k=256, measured ~30 min of shuffles — while the same sample is
    65536×64 doubles = 32 MB collected once, and each iteration is one
    ||x||²+||c||²−2x·cᵀ GEMM per subspace (milliseconds).

    Faithful to pq_fit's contract: init = the k lowest-
    (xxhash64(vec_id), vec_id) subvectors per subspace (identical
    ordering), argmin ties break to the lowest cid, deterministic.
    One deliberate difference: an empty Lloyd's cell KEEPS its previous
    centroid instead of dropping the codebook row (the DataFrame
    groupBy drops it) — strictly more usable, same scores for every
    occupied cell.

    The sample defaults to 256·k (the points-per-centroid training
    rule; k=256 → the round-10 2^16 default exactly) and is collected
    via hash_sample's threshold filter — the corpus-wide
    orderBy().limit() TakeOrdered this replaced serialized on a
    single-threaded driver merge at large partition counts (the
    measured 1M composed-build tail). The model is an Arrow-built
    LocalRelation (`ivf.model_frame`); an empty input gives an empty
    model."""
    import numpy as np

    from .hash_sample import collect_hash_sample
    from .ivf import model_frame

    samp = collect_hash_sample(
        vectors.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        ),
        sample if sample is not None else 256 * k,
        n=n,
    )
    schema = "m int, cid int, centroid array<double>"
    model: dict[str, list] = {"m": [], "cid": [], "centroid": []}
    if not samp:
        return model_frame(vectors.sparkSession, schema, model)
    x = np.array([r.emb for r in samp], dtype=np.float64)
    k_eff = min(k, len(x))
    for m in range(M):
        sub = np.ascontiguousarray(x[:, m * SUBDIM:(m + 1) * SUBDIM])
        cb = sub[:k_eff].copy()
        for _ in range(iterations):
            d = (
                (sub ** 2).sum(1)[:, None]
                + (cb ** 2).sum(1)[None, :]
                - 2.0 * (sub @ cb.T)
            )
            a = np.argmin(d, axis=1)
            for c in range(k_eff):
                mask = a == c
                if mask.any():
                    cb[c] = sub[mask].mean(axis=0)
        model["m"] += [m] * k_eff
        model["cid"] += list(range(k_eff))
        model["centroid"] += cb.tolist()
    return model_frame(vectors.sparkSession, schema, model)


@register(
    "pq_knn_top10",
    None,  # k-means training is engine-specific → rows-only; ADC
    # identities, determinism, and recall pinned in tests/test_pq.py.
    survey_rows="L22,P,iterative",
)
def pq_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 for query vector 0: train codebooks, encode the
    corpus, build the query's M×K lookup table of partial dots, score
    every vector as the sum of M LUT entries. The scored relation is
    (vec_id, m, code) joined to a 128-row broadcast LUT — the corpus'
    float vectors are never read at scoring time. TakeOrderedAndProject
    keeps the top-k without a global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_fit(e)
    codes = _assign(subvectors(e), codebooks).select("vec_id", "m", "cid")
    q = subvectors(e.filter(F.col("vec_id") == 0)).select(
        "m", F.col("sub").alias("q_sub")
    )
    lut = (
        codebooks.join(F.broadcast(q), "m")
        .select(
            "m",
            "cid",
            F.aggregate(
                F.zip_with("centroid", "q_sub", lambda c, qq: c * qq),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("partial"),
        )
    )
    return (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("partial"), 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "pq_rerank_top10",
    None,  # shortlist membership depends on the trained codebooks →
    # rows-only; score exactness + recall-vs-plain-PQ in tests/test_pq.py.
    survey_rows="L3-scale,P,iterative",
)
def pq_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN shape: PQ-ADC shortlists 100 candidates from
    codes alone, then ONLY those 100 are re-scored with exact float
    cosine. At 100 TB: the full corpus is touched only as 8-byte codes;
    float vectors are fetched for 100 rows (a broadcast-semi-join against
    the shortlist), so exactness of the final ranking costs ~nothing.
    Quantization error moves recall from the final top-k into the
    shortlist margin, where extra candidates are cheap."""
    e = load_table(spark, sf_dir, "embeddings")
    codebooks = pq_fit(e)
    codes = _assign(subvectors(e), codebooks).select("vec_id", "m", "cid")
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q_emb")
    )
    q = subvectors(e.filter(F.col("vec_id") == 0)).select(
        "m", F.col("sub").alias("q_sub")
    )
    lut = codebooks.join(F.broadcast(q), "m").select(
        "m",
        "cid",
        F.aggregate(
            F.zip_with("centroid", "q_sub", lambda c, qq: c * qq),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("partial"),
    )
    shortlist = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("partial").alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
        .limit(100)
        .select("vec_id")
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("q_emb"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        e.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "label", F.round(exact, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def ivf_pq_knn(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_probe: int | None = None,
) -> DataFrame:
    """IVF-PQ core, nprobe-parameterized (see registered wrapper below
    for the design rationale). n_probe defaults to ivf.N_PROBE."""
    from .ivf import N_PROBE, _assign as ivf_assign, _sq_dist, kmeans_fit

    if n_probe is None:
        n_probe = N_PROBE
    e = load_table(spark, sf_dir, "embeddings")
    # coarse quantizer: cell per vector
    cells = kmeans_fit(e)
    assigned = ivf_assign(e, cells).select("vec_id", "cid")
    icol = F.col("cid").alias("ivf_cid")
    assigned = assigned.select("vec_id", icol)
    # fine quantizer: PQ codes per vector
    codebooks = pq_fit(e)
    codes = _assign(subvectors(e), codebooks).select("vec_id", "m", "cid")
    # query: probe the N_PROBE nearest cells
    q_emb = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q_emb")
    )
    probe_cells = (
        cells.crossJoin(F.broadcast(q_emb))
        .select(
            F.col("cid").alias("ivf_cid"),
            _sq_dist("centroid", "q_emb").alias("dist"),
        )
        .orderBy("dist", "ivf_cid")
        .limit(n_probe)
        .select("ivf_cid")
    )
    q = subvectors(e.filter(F.col("vec_id") == 0)).select(
        "m", F.col("sub").alias("q_sub")
    )
    lut = codebooks.join(F.broadcast(q), "m").select(
        "m",
        "cid",
        F.aggregate(
            F.zip_with("centroid", "q_sub", lambda c, qq: c * qq),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("partial"),
    )
    survivors = (
        assigned.join(F.broadcast(probe_cells), "ivf_cid", "left_semi")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    return (
        codes.join(F.broadcast(survivors), "vec_id", "left_semi")
        .join(F.broadcast(lut), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("partial"), 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
        .limit(k)
    )


@register(
    "ivf_pq_knn_top10",
    None,  # two trained quantizers → rows-only; containment, consistency
    # with plain PQ, and determinism pinned in tests/test_pq.py.
    survey_rows="L22,L3-scale,P,iterative",
)
def ivf_pq_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN index architecture (FAISS IVFPQ shape):
    the IVF coarse quantizer prunes WHICH vectors are considered
    (n_probe/k of the corpus), PQ codes decide HOW the survivors are
    scored (8 bytes each, LUT sum, no float fetch). At 100 TB the scan
    touches ~cells/k of the code table only: both reductions compose
    multiplicatively — 2/8 of the corpus × 1/32 of the bytes here.

    Plumbing: IVF assignment and PQ codes are both derived relations of
    the same corpus scan; the probed-cell filter is a 2-row broadcast
    semi-join applied BEFORE the LUT join, so unprobed cells never reach
    the scorer. (Classic IVF-PQ encodes residuals r = x - centroid for
    tighter codebooks; raw-vector codes keep the oracle-free test
    identities simple and the composition identical.) nprobe is the
    recall dial: the ivf_pq_knn core takes it as a parameter and
    tools/measure_recall.py records the recall-vs-nprobe curve."""
    return ivf_pq_knn(spark, sf_dir, k=10)


# the coarse cells as one struct array: ivf._assign's broadcast shape
_CELLS = "array<struct<cid:int,centroid:array<double>>>"


def _nearest_cell():
    """ivf._assign's nearest-cell expression over the `_cells` column of
    a broadcast model row — array_min over (dist, cid) structs, same
    `_sq_dist` fold — with the cell's centroid carried along, so the
    residual needs no second lookup."""
    from .ivf import _sq_dist as ivf_sq_dist

    return F.array_min(
        F.transform(
            F.col("_cells"),
            lambda c: F.struct(
                ivf_sq_dist("embedding", c.getField("centroid"))
                .alias("dist"),
                c.getField("cid").alias("cid"),
                c.getField("centroid").alias("centroid"),
            ),
        )
    )


def _adc_sum():
    """Σ_m LUT[m, code_m] over the `_lut`/`_cbs` columns of a broadcast
    model row and the row's nearest `_cell`. Residual subvector m is
    the embedding's slice minus the cell centroid's slice (the same
    doubles as slicing the residual); code_m is pq._assign's
    (dist, cid)-ordered argmin of `_sq_dist(sub, centroid)` over
    subspace m's codebook. The terms
    fold left to right from 0.0 (0.0 + t_0 + … + t_7), the order of
    the Sum aggregate in ivf_pq_knn's groupBy ADC. Each stage is a
    higher-order function's ARRAY argument, which Spark evaluates once
    per row; an expression inside a lambda body is re-evaluated per
    element."""
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(M - 1)),
        lambda m: F.zip_with(
            F.slice(
                F.col("embedding").cast("array<double>"),
                m * SUBDIM + 1, SUBDIM,
            ),
            F.slice(F.col("_cell.centroid"), m * SUBDIM + 1, SUBDIM),
            lambda x, c: x - c,
        ),
    )
    codes = F.zip_with(
        subs,
        F.col("_cbs"),
        lambda sub, cents: F.array_min(
            F.transform(
                cents,
                lambda c: F.struct(
                    _sq_dist(sub, c.getField("centroid")).alias("dist"),
                    c.getField("cid").alias("cid"),
                ),
            )
        ).getField("cid"),
    )
    terms = F.zip_with(
        codes, F.col("_lut"), lambda code, row: F.element_at(row, code + 1)
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)


def ivf_pq_residual_knn(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_probe: int | None = None,
    rerank: int = 0,
) -> DataFrame:
    """Residual IVF-PQ core, nprobe-parameterized. With rerank > 0 the
    ADC pass only SHORTLISTS `rerank` candidates, which are re-scored
    with exact float cosine (the pq_rerank_top10 pattern composed with
    cell pruning) — the production configuration.

    Train once on the driver, score in one corpus pass: the coarse
    cells train with kmeans_fit_numpy and the residual codebooks with
    pq_fit_numpy over the residual projection — one hash-sample
    collect each. Both trainers see the whole corpus while n ≤ 256·k
    (2048 vectors for the coarse cells, 4096 for the codebooks); above
    that they train on the publishers' 256·k lowest-xxhash64 sample.
    An empty Lloyd's cell keeps its previous centroid. The query's
    routing, M×K LUT and per-cell q·centroid come from the serve
    path's `_query_probe_and_lut`, and the models ride into the scan
    as one broadcast Arrow-built row. Per corpus row: nearest cell
    (ivf._assign's argmin, centroid carried), probed-cell filter,
    residual, per-subspace pq._assign code, and
    pq_sim = round(q·centroid + (t_0 + … + t_7), 6) — the sum order of
    the groupBy ADC in ivf_pq_knn. The top-k is a
    TakeOrderedAndProject: no shuffle, and the only join is the
    one-row model broadcast. No vector 0 (or no rows) → no rows."""
    from .ivf import N_PROBE, kmeans_fit_numpy, model_frame

    if n_probe is None:
        n_probe = N_PROBE
    e = load_table(spark, sf_dir, "embeddings")
    out = "cos_sim" if rerank else "pq_sim"
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("q"))
        .head()
    )
    if q is None or q.q is None:
        empty = F.lit(None).cast("double").alias(out)
        return e.select("vec_id", empty).limit(0)
    n = e.count()  # metadata-only on the parquet scan
    cells = sorted(
        (r.cid, list(r.centroid)) for r in kmeans_fit_numpy(e, n=n).collect()
    )
    cell_row = {"_cells": [[{"cid": c, "centroid": v} for c, v in cells]]}
    res = (
        e.crossJoin(
            F.broadcast(model_frame(spark, f"_cells {_CELLS}", cell_row))
        )
        .select("vec_id", "embedding", _nearest_cell().alias("_cell"))
        .select(
            "vec_id",
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("_cell.centroid"),
                lambda x, c: x - c,
            ).alias("embedding"),
        )
    )
    cb_rows = pq_fit_numpy(res, n=n).collect()
    kk = 1 + max(r.cid for r in cb_rows)
    cbs = [[None] * kk for _ in range(M)]
    for r in cb_rows:
        cbs[r.m][r.cid] = list(r.centroid)
    _, _, _, lut, cdot = _query_probe_and_lut(
        q.q, M, kk, SUBDIM, True, cells, cbs, None, n_probe
    )
    model = model_frame(
        spark,
        f"_cells {_CELLS}, _cbs array<{_CELLS}>, _lut array<array<double>>, "
        "_cdot map<int,double>, _q array<double>",
        {
            **cell_row,
            "_cbs": [[
                [{"cid": c, "centroid": v} for c, v in enumerate(cbs[m])]
                for m in range(M)
            ]],
            "_lut": [lut],
            "_cdot": [list(cdot.items())],
            "_q": [q.q],
        },
    )
    top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(model.drop("_q")))
        .select("vec_id", "embedding", "_cbs", "_lut", "_cdot",
                _nearest_cell().alias("_cell"))
        .filter(F.map_contains_key("_cdot", F.col("_cell.cid")))
        .select(
            "vec_id",
            F.round(
                F.element_at("_cdot", F.col("_cell.cid")) + _adc_sum(),
                6,
            ).alias("pq_sim"),
        )
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
    )
    if not rerank:
        return top.limit(k)
    exact = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("_q"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = top.limit(rerank).select("vec_id")
    return (
        e.join(F.broadcast(shortlist), "vec_id", "left_semi")
        .crossJoin(F.broadcast(model.select("_q")))
        .select("vec_id", F.round(exact, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


@register(
    "ivf_pq_residual_knn_top10",
    None,  # trained quantizers → rows-only; the residual-ADC identity
    # and determinism are pinned in tests/test_pq.py.
    survey_rows="L22,L3-scale,P,iterative",
)
def ivf_pq_residual_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ — the classic refinement (FAISS IVFPQ
    default): PQ codes quantize r = x − centroid(cell(x)) instead of x.
    Residuals live in a much smaller ball than raw vectors, so the same
    16 centroids per subspace spend their resolution where it matters;
    recall at equal code budget improves on clustered corpora.

    Scoring stays LUT-only by linearity of the dot product:
        q·x̂ = q·centroid(cell) + Σ_m LUT[m, code_m]
    This train-per-call query has no published codes, so its one corpus
    pass encodes each vector on the fly: the trained cells, codebooks,
    the query's 128-entry LUT and its probed cells' q·centroid ride in
    as one broadcast model row, and each row is routed, filtered to the
    probed cells, residual-encoded and scored in a single projection
    under a TakeOrderedAndProject (the published-index path,
    ivfpq_knn_from_index, scans stored codes instead). The
    ivf_pq_residual_knn core parameterizes nprobe and an optional
    exact-rerank stage; SCALE.md records the measured recall curve."""
    return ivf_pq_residual_knn(spark, sf_dir, k=10)


# --- PQ index persistence: codebooks + codes as a versioned snapshot --------

# driver-side codebook cache per published snapshot: (base, version) ->
# list[m][cid] = centroid (M*K*SUBDIM floats = 4 KB at these params) —
# the part a serving layer keeps in process memory to build per-query
# LUTs without any Spark job.
_PQ_CB_CACHE: dict[tuple, list] = {}


def _cached_codebooks(
    tables: dict, manifest: dict, base_dir: str
) -> tuple[list, int, int, int]:
    """ONE manifest-driven codebook loader shared by the single-query
    and batched plain-PQ serve paths (round-11 advice: the single-query
    path sized its cache from the module constants M/K while the batch
    path used the manifest's m/k/subdim, and both wrote the same
    _PQ_CB_CACHE key — a non-default-geometry snapshot would be served
    wrongly, or poison the shared cache, depending on which path ran
    first). Geometry comes from the snapshot manifest, never the
    constants; returns (cbs, n_sub, k, subdim)."""
    kk = int(manifest.get("k", K))
    n_sub = int(manifest.get("m", M))
    subdim = int(manifest.get("subdim", SUBDIM))
    ckey = (base_dir.rstrip("/"), int(manifest["snapshot"]))
    if ckey not in _PQ_CB_CACHE:
        cbs: list[list[list[float]]] = [
            [None] * kk for _ in range(n_sub)  # type: ignore[list-item]
        ]
        for r in tables["codebooks"].collect():
            cbs[int(r.m)][int(r.cid)] = [float(x) for x in r.centroid]
        _PQ_CB_CACHE[ckey] = cbs
    return _PQ_CB_CACHE[ckey], n_sub, kk, subdim


def _query_lut(
    qd: list[float], cbs: list, n_sub: int, kk: int, subdim: int
) -> list[list[float]]:
    """M×K LUT of partial dots for one query, built driver-side from
    the cached codebooks (M·K·SUBDIM mults — microseconds). The inner
    accumulate is a fixed left-to-right chain, matching the scan-side
    fold bit-for-bit. `or ()`: empty Lloyd's cell (possible at high
    code rates on a small corpus) — unreferenced by any code, 0.0 pad."""
    lut = []
    for m in range(n_sub):
        sub = qd[m * subdim:(m + 1) * subdim]
        row = []
        for cid in range(kk):
            acc = 0.0
            for c, qq in zip(cbs[m][cid] or (), sub):
                acc += c * qq
            row.append(acc)
        lut.append(row)
    return lut


def publish_pq_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    train_sample: int | None = None,
) -> int:
    """Train the PQ model ONCE and publish {codebooks, codes} as an
    atomic snapshot (same shape as publish_ivf_index): train offline,
    version the index, pin readers. The codes table is the 32×-
    compressed corpus (M one-byte-range ints per vector); the float
    embeddings are NOT part of the index — rerank fetches them from
    the source table for the shortlist only. Round-11 build path:
    training runs over a 256·K threshold sample (hash_sample — never a
    corpus TakeOrdered) and encoding is the Arrow numpy encoder (pinned
    code-for-code equal to the join form, without its n·M·K candidate
    blow-up).

    The manifest records `train_quant_mse` — the corpus mean squared
    quantization error, observed ON the codes write (the encoder emits
    each vector's argmin distances anyway; Observation + meta_late, the
    same ride-the-write idiom as the IVF-PQ residual norm) — the
    baseline pq_index_drift compares appended batches against."""
    from pyspark.sql import Observation

    from ..pipelines import publish_snapshot
    from .hash_sample import hash_sample_df

    e = load_table(spark, sf_dir, "embeddings")
    train = hash_sample_df(
        e.select("vec_id", "embedding"),
        train_sample if train_sample is not None else 256 * K,
    )
    codebooks = pq_fit(train)
    obs = Observation("pq_train_quant_mse")
    codes = (
        pq_encode_numpy(e, codebooks, with_error=True)
        .observe(obs, F.avg("qerr").alias("mse"))
        .drop("qerr")
    )
    return publish_snapshot(
        {"codebooks": codebooks, "codes": codes},
        base_dir,
        meta={"m": M, "k": K, "subdim": SUBDIM, "source_sf": sf_dir},
        meta_late=lambda: {"train_quant_mse": float(obs.get["mse"])},
    )


def append_vectors_to_pq_index(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame,
    meta: dict | None = None,
    mode: str = "delta",
) -> int:
    """Incremental maintenance for the PLAIN-PQ index (round-11: the
    IVF and IVF-PQ layouts both had O(batch) delta appends + streaming
    maintenance; plain PQ required a full republish on corpus growth —
    the last inconsistent corner of the three layouts' maintenance
    surface). Encode the NEW vectors with the FROZEN published
    codebooks (no retrain — unpinned readers keep scoring in the same
    LUT space, pinned readers are byte-stable) and publish:

    - mode="delta" (default): the batch's codes as a chained delta
      snapshot (publish_snapshot_delta) — O(batch) bytes; readers
      (pq_knn_from_index) resolve the chain via read_snapshot_chain,
      and compact_snapshot_chain / the maintenance stream's
      compact_every fold long chains back into one full snapshot.
    - mode="rewrite": union into the full codes table and republish —
      O(corpus) per batch, zero chain walks at read time.

    Same retrain discipline as the IVF-PQ layout: codes of appended
    vectors quantize against codebooks trained before they existed;
    `pq_index_drift` makes the threshold executable (batch quantization
    MSE vs the manifest-recorded training MSE) — republish
    (publish_pq_index) when it trips."""
    from ..pipelines import (
        publish_snapshot,
        publish_snapshot_delta,
        read_snapshot_chain,
    )

    tables, manifest = read_snapshot_chain(spark, base_dir)
    codebooks = tables["codebooks"]
    kk = int(manifest.get("k", K))
    added = pq_encode_numpy(
        new_vectors.select("vec_id", "embedding"), codebooks, k=kk
    )
    carried = {
        key: manifest[key]
        # train_quant_mse: the drift monitor's baseline must survive
        # appends and compactions (the round-11 advice lesson from the
        # IVF-PQ residual norm — dropping it silently disabled the
        # check exactly after the first append)
        for key in ("m", "k", "subdim", "train_quant_mse")
        if key in manifest
    }
    if mode == "delta":
        return publish_snapshot_delta(
            {"codes": added},
            base_dir,
            meta={**carried, "appended": True, **(meta or {})},
        )
    if mode != "rewrite":
        raise ValueError(f"mode must be 'delta' or 'rewrite', got {mode!r}")
    return publish_snapshot(
        {
            "codebooks": codebooks,
            "codes": tables["codes"].unionByName(added),
        },
        base_dir,
        meta={**carried, "appended": True, **(meta or {})},
    )


def pq_index_drift(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame | None = None,
    mse_threshold: float = 1.5,
) -> dict:
    """RETRAIN monitor for the plain-PQ layout (the executable twin of
    ivfpq_index_drift — round-11 closed the gap where the append verb's
    retrain discipline was prose only): mse_ratio = (mean squared
    quantization error of `new_vectors` under the FROZEN published
    codebooks) / the training-corpus mean recorded in the manifest at
    publish time. When appended data drifts off the trained manifold,
    its argmin distances grow and the codes stop resolving structure —
    the one signal the codeword stream itself cannot show (codes stay
    in range no matter how wrong they are). One Arrow-batched aggregate
    over the batch; the index corpus is never rescanned. The decision
    stays offline — streams never retrain."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir)
    out = {
        "n_codes": tables["codes"].count(),
        "mse_threshold": mse_threshold,
        "retrain_recommended": False,
    }
    trained = manifest.get("train_quant_mse")
    # explicit None test (round-11 advice): a recorded baseline of 0.0
    # (exactly quantizable training corpus) is a VALID baseline, not a
    # missing one — gating on truthiness silently disabled the drift
    # check and returned a dict indistinguishable from "not computed"
    if new_vectors is not None and trained is not None:
        trained = float(trained)
        kk = int(manifest.get("k", K))
        batch_mse = float(
            pq_encode_numpy(
                new_vectors.select("vec_id", "embedding"),
                tables["codebooks"],
                k=kk,
                with_error=True,
            )
            .agg(F.avg("qerr").alias("mse"))
            .head()["mse"]
        )
        if trained > 0.0:
            ratio = batch_mse / trained
        else:
            # zero baseline: ANY batch error is infinite drift; a
            # zero-error batch matches the baseline exactly
            ratio = float("inf") if batch_mse > 0.0 else 0.0
        out.update(
            {
                "train_quant_mse": round(trained, 6),
                "batch_quant_mse": round(batch_mse, 6),
                "mse_ratio": ratio if ratio == float("inf") else round(ratio, 3),
                "baseline_zero": trained == 0.0,
                "retrain_recommended": ratio > mse_threshold,
            }
        )
    return out


def pq_knn_from_index(
    spark: SparkSession,
    base_dir: str,
    q_emb: list[float],
    version: int | None = None,
    k: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Serve a PQ-ADC query from a PINNED index snapshot — the
    amortized twin of pq_knn_top10 (which retrains per call). The
    per-query work: build the M×K LUT of partial dots DRIVER-SIDE from
    the cached codebooks (M·K·SUBDIM mults — microseconds), inline it
    as a literal nested array, and score each code row as the sum of
    M element_at lookups — one codegen'd scan over the 8-int codes,
    zero joins, zero extra jobs, TakeOrderedAndProject for the top-k.

    The LUT sum is a fixed left-to-right chain (m = 0..M-1), so scores
    are bit-reproducible across runs — unlike the groupBy-sum form,
    whose float add order is engine-chosen (both round to 6dp for
    display; tests pin this form against a numpy replica exactly).
    Reads resolve the append delta chain (read_snapshot_chain — a
    drop-in superset for plain snapshots): streamed appends land as
    codes-only deltas and the scan unions the chain, still one job."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir, version)
    cbs, n_sub, kk, subdim = _cached_codebooks(tables, manifest, base_dir)
    qd = [float(x) for x in q_emb]
    lut = _query_lut(qd, cbs, n_sub, kk, subdim)
    lut_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in lut]
    )
    score = None
    for m in range(n_sub):
        term = F.element_at(
            F.element_at(lut_lit, m + 1), F.col("codes").getItem(m) + 1
        )
        score = term if score is None else score + term
    out = tables["codes"]
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return (
        out.select("vec_id", F.round(score, 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
        .limit(k)
    )


def pq_knn_batch_from_index(
    spark: SparkSession,
    base_dir: str,
    queries: dict[int, list[float]],
    version: int | None = None,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """BATCHED plain-PQ serving (round-11, completing the three
    layouts' batch surface): Q queries scored by ONE scan of the 8-int
    codes instead of Q jobs. The per-query M×K LUTs build driver-side
    from the cached codebooks (microseconds each) and ship as a
    BROADCAST (query_id, lut) table; with no cell structure to join on,
    each code row crosses the Q-row broadcast (candidate volume Q·n —
    exactly what Q sequential scans evaluate, minus Q−1 scans and job
    floors) and folds its joined lut left-to-right, bit-equal to the
    single-query literal chain (pinned). Per-query top-k is a window
    rank; chain-resolved like pq_knn_from_index.

    Shuffle volume (round-12, measured): the `row_number() ≤ k` shape
    plans a native WindowGroupLimit(Partial) BEFORE the hash exchange —
    Catalyst's rank-limit pushdown keeps each partition's per-query
    top-k and shuffles at most partitions·Q·k survivor rows, never the
    Q·n candidate volume. A hand-rolled mapInPandas pre-rank was built,
    measured BIT-EQUAL but 1.7× slower at 1M (Arrow round-trip on the
    candidate rows), and deleted — the JVM operator already is the
    map-side pre-rank. The node is pinned in the plan audit."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir, version)
    cbs, n_sub, kk, subdim = _cached_codebooks(tables, manifest, base_dir)
    qrows = []
    for qid in sorted(queries):
        qd = [float(x) for x in queries[qid]]
        qrows.append((int(qid), _query_lut(qd, cbs, n_sub, kk, subdim)))
    qdf = spark.createDataFrame(
        qrows, "query_id long, lut array<array<double>>"
    )
    score = F.aggregate(
        F.sequence(F.lit(1), F.lit(n_sub)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("lut"), m),
            F.element_at(F.col("codes"), m) + 1,
        ),
    )
    out = tables["codes"].crossJoin(F.broadcast(qdf))
    if exclude_self:
        out = out.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_sim"), F.asc("vec_id")
    )
    scored = out.select(
        "query_id", "vec_id", F.round(score, 6).alias("pq_sim")
    )
    return (
        scored
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("pq_sim"), F.asc("vec_id"))
    )


# --- IVF-PQ composed index: coarse cells + PQ codes, persisted --------------

_IVFPQ_META_CACHE: dict[tuple, tuple] = {}


def publish_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    k_cells: int | str | None = None,
    residual: bool = True,
    pq_k: int | None = None,
    train_sample: int | None = None,
    trainer: str = "sampled",
    opq: bool = False,
    opq_sample: int = 1 << 13,
    timings: dict | None = None,
) -> int:
    """Train BOTH quantizers once and publish the composed FAISS-IVFPQ-
    shaped index as one atomic snapshot: `coarse` (k_cells centroids),
    `codebooks` (M×pq_k PQ centroids), and `codes` — (vec_id, codes)
    PARTITIONED BY the coarse cell id, so a probe reads only its
    n_probe cells' code files AND each vector costs 8 ints, not 64
    floats: the two reductions compose multiplicatively in bytes
    scanned. Float embeddings stay in the SOURCE table (rerank fetches
    the shortlist only).

    `residual=True` (default — the FAISS IVFPQ composition rule and
    the round-9 verdict's #1 item): the PQ codebooks quantize
    r = x − centroid(cell(x)) instead of raw x. Round 9 measured the
    raw composition at recall@10 = 0.0 on 1M uniform unit vectors —
    M=8×K=16 on raw vectors can't resolve near-orthogonal gaps, the
    codes answer "which cell" (which routing already knew), not "where
    within the cell". Residuals live in the small ball around each
    centroid, so the same code budget spends its resolution entirely
    within-cell. Scoring stays one LUT scan by linearity:
    q·x̂ = q·centroid(cell) + Σ_m LUT[m, code_m]; the per-cell constant
    is driver-side math over the cached routing table. The manifest
    records the flag, so a reader serves either format (a pre-residual
    snapshot keeps working, and A/B runs pin one of each).

    `pq_k` (default K=16, 4-bit codes): codebook size per subspace.
    256 = 1-byte codes, the classic operating point — 2× the code
    bytes for 16× finer cells; scale_bench ann_pq measures both.

    `train_sample` (default 256·pq_k — the points-per-centroid rule):
    Lloyd's iterations run over a deterministic lowest-xxhash64 sample
    — the standard quantizer-training recipe (codebook quality needs a
    representative sample, not the population; at 100 TB nobody
    Lloyd's-iterates the full corpus). Samples arrive via
    hash_sample's threshold filter, never a corpus-wide TakeOrdered
    (the measured 1M build tail — see operators/hash_sample.py).
    Training uses the join-based pq_fit at pq_k<=32 and the driver-side
    pq_fit_numpy above that (the join trainer explodes in the candidate
    dimension: sample·M·pq_k rows per iteration). ENCODING always runs
    pq_encode_numpy over every vector: the encoders are pinned
    code-for-code identical, and the join encoder's n·M·pq_k candidate
    blow-up (128M rows at 1M×k16, measured as the dominant share of the
    round-10 2313 s raw_k16 build) buys nothing at publish time.

    `trainer` (default "sampled" — the 100 TB shape, round-11): the
    coarse quantizer trains driver-side on a 256·k_cells threshold
    sample (kmeans_fit_numpy); "exact" keeps the full-corpus DataFrame
    Lloyd's for bit-parity with the train-per-call ivf_knn twin.

    `opq=True` (round-11 — the PERSISTED rotation the round-10 verdict
    flagged missing): learn the OPQ orthogonal rotation R (Ge et al.
    CVPR'13; FAISS's `OPQxx` pretransform) on an `opq_sample` threshold
    sample of raw vectors, rotate the corpus ONCE (one Arrow GEMM pass,
    opq.rotate), and build the whole index — coarse cells, residuals,
    codebooks, codes — in rotated space. R is published as a 64-row
    `rotation` table in the same atomic snapshot and flagged in the
    manifest, so serving rotates the query driver-side (64×64 matvec),
    appends rotate their batches with the FROZEN R, and the exact
    rerank stays in raw space (dot products are rotation-invariant:
    (Rq)·(Rx) = q·x). On isotropic corpora R ties plain residual PQ
    (measured — SCALE.md); it pays when per-subspace variance is
    unbalanced."""
    from ..pipelines import publish_snapshot
    from .hash_sample import hash_sample_df
    from .ivf import (
        K as IVF_K,
        assign_to_centroids,
        kmeans_fit,
        kmeans_fit_numpy,
    )

    import time as _time

    def _mark(name: str, t0: float) -> float:
        # per-phase walls for the scale probes (round-12: the 100M
        # build decade watches WHICH phase bends first). Only the
        # EAGER phases can be timed without adding corpus passes — the
        # assign/encode/partitioned-write pipeline is one fused lazy
        # job, timed as `write` below; that fusion is the design, not
        # a measurement gap.
        now = _time.perf_counter()
        if timings is not None:
            timings[name] = round(now - t0, 3)
        return now

    t0 = _time.perf_counter()
    if pq_k is None:
        pq_k = K
    e = load_table(spark, sf_dir, "embeddings")
    n_corpus = e.count()  # metadata-only on the parquet scan
    if k_cells == "auto":
        # geometry scaled to the corpus (round-14 — the fixed default
        # measurably starves the shortlist at 100M): see
        # ivf.default_ann_geometry for the rule and the measurements
        from .ivf import default_ann_geometry

        k_cells, _ = default_ann_geometry(n_corpus)
    elif k_cells is None:
        k_cells = IVF_K
    rotation = None
    if opq:
        from .opq import opq_fit, rotate

        # R trains on a bounded raw-vector sample (the FAISS recipe:
        # the OPQ matrix is a pretransform learned on training data);
        # opq_fit's alternating minimization then runs over sample-
        # sized DataFrames only. The corpus pays ONE rotation pass.
        R, _opq_cb = opq_fit(
            hash_sample_df(
                e.select("vec_id", "embedding"), opq_sample, n=n_corpus
            )
        )
        e = rotate(e, R, keep=("label",))
        rotation = spark.createDataFrame(
            [(i, [float(v) for v in R[i]]) for i in range(R.shape[0])],
            "i int, row array<double>",
        )
    t0 = _mark("opq_train_s", t0)
    if trainer == "sampled":
        coarse = kmeans_fit_numpy(e, k=k_cells, n=n_corpus)
    elif trainer == "exact":
        coarse = kmeans_fit(e, k=k_cells)
    else:
        raise ValueError(
            f"trainer must be 'exact' or 'sampled', got {trainer!r}"
        )
    # zero-shuffle stages inherit the SCAN's parallelism — a single
    # 1M-row parquet file splits into only ~3 maxPartitionBytes chunks,
    # serializing the corpus-wide assign/encode on 3 of 32 cores
    # (measured: the whole build sat at load ~3). One narrow
    # repartition of the ~corpus bytes (vs the 16 GB/iter the old
    # joined assign shuffled) restores full fan-out; skipped when the
    # source is already wider than the cluster.
    t0 = _mark("coarse_train_s", t0)
    if e.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        e = e.repartition(spark.sparkContext.defaultParallelism)
    # (vec_id, label, embedding, cid) — GEMM assignment past 128 cells
    assigned = assign_to_centroids(e, coarse, k_cells)
    if residual:
        pq_input = assigned.join(F.broadcast(coarse), "cid").select(
            "vec_id",
            F.col("cid").alias("ivf_cid"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                "centroid",
                lambda x, c: x - c,
            ).alias("embedding"),
        )
    else:
        pq_input = assigned.select(
            "vec_id", F.col("cid").alias("ivf_cid"), "embedding"
        )
    vecs = pq_input.select("vec_id", "embedding")
    if pq_k > 32:
        # high code rate: driver-side sampled Lloyd's — the join
        # trainer explodes in the candidate dimension (sample·M·pq_k
        # rows per iteration; pq_fit_numpy's docstring carries the
        # measured rationale)
        codebooks = pq_fit_numpy(
            vecs, k=pq_k, sample=train_sample, n=n_corpus
        )
    else:
        # n passed through: vecs is a row-preserving derivation of e
        # (projection + broadcast inner join whose key always matches),
        # so the sampler's threshold math can use the base scan's
        # metadata-only count instead of evaluating the residual plan
        train = hash_sample_df(
            vecs,
            train_sample if train_sample is not None else 256 * pq_k,
            n=n_corpus,
        )
        codebooks = pq_fit(train, k=pq_k)
    t0 = _mark("pq_train_s", t0)
    codes_raw = pq_encode_numpy(vecs, codebooks, k=pq_k)
    obs_norm = None
    obs_bal = None
    if residual:
        # recorded so ivfpq_index_drift can measure distribution drift
        # of later appends against the TRAINING residual scale. The
        # statistic RIDES the codes write via Observation + the
        # publish_snapshot meta_late hook — a separate aggregate would
        # re-evaluate the full assign+broadcast-join+residual plan over
        # the corpus once more (round-11 advice; same double-evaluation
        # shape merge_into's audit counts had before round 10)
        from pyspark.sql import Observation

        obs_norm = Observation("ivfpq_train_residual_norm")
        # when OPQ, the per-subspace energies of the SAME vectors the
        # codebooks quantize ride the identical write (round-12: the
        # rotation-staleness baseline — Observation, never a second
        # corpus pass; same idiom as the residual norm itself)
        bal_cols = (
            _subspace_energy_cols("embedding", M, SUBDIM) if opq else []
        )
        codes = (
            codes_raw
            .join(
                pq_input.select(
                    "vec_id", "ivf_cid",
                    F.sqrt(_sq_dist_zero("embedding")).alias("_res_norm"),
                    *bal_cols,
                ),
                "vec_id",
            )
            .select(
                "vec_id", "codes", F.col("ivf_cid").alias("cell"),
                "_res_norm", *[f"_sse_{m}" for m in range(M) if opq],
            )
            .observe(
                obs_norm,
                F.avg("_res_norm").alias("n"),
                *[F.avg(f"_sse_{m}").alias(f"e{m}") for m in range(M) if opq],
            )
            .drop("_res_norm", *[f"_sse_{m}" for m in range(M) if opq])
        )
    else:
        if opq:
            from pyspark.sql import Observation

            obs_bal = Observation("opq_subspace_balance")
        codes = (
            codes_raw
            .join(
                pq_input.select(
                    "vec_id", "ivf_cid",
                    *(_subspace_energy_cols("embedding", M, SUBDIM)
                      if opq else []),
                ),
                "vec_id",
            )
            .select(
                "vec_id", "codes", F.col("ivf_cid").alias("cell"),
                *[f"_sse_{m}" for m in range(M) if opq],
            )
        )
        if obs_bal is not None:
            codes = codes.observe(
                obs_bal,
                *[F.avg(f"_sse_{m}").alias(f"e{m}") for m in range(M)],
            ).drop(*[f"_sse_{m}" for m in range(M)])
    tables = {"coarse": coarse, "codebooks": codebooks, "codes": codes}
    if rotation is not None:
        tables["rotation"] = rotation
    version = publish_snapshot(
        tables,
        base_dir,
        meta={
            "k_cells": k_cells, "m": M, "k": pq_k, "subdim": SUBDIM,
            "residual": bool(residual), "opq": bool(opq),
            "source_sf": sf_dir,
        },
        meta_late=_ivfpq_meta_late(
            obs_norm, obs_bal if (opq and not residual) else None, opq
        ),
        partition_by={"codes": ["cell"]},
    )
    _mark("write_s", t0)  # fused assign+encode+partitioned write
    return version


def _ivfpq_meta_late(obs_norm, obs_bal, opq: bool):
    """Late-manifest hook: pull the observed training statistics off
    whichever Observation rode the codes write — the residual norm,
    and (OPQ) the per-subspace energies condensed to the balance
    statistic ivfpq_index_drift monitors the frozen rotation with."""
    if obs_norm is None and obs_bal is None:
        return None

    def late() -> dict:
        meta: dict = {}
        got = {}
        if obs_norm is not None:
            got = dict(obs_norm.get)
            meta["train_residual_norm"] = float(got["n"])
        if obs_bal is not None:
            got = dict(obs_bal.get)
        if opq:
            energies = [
                float(got[k]) for k in sorted(
                    (k for k in got if k.startswith("e")),
                    key=lambda s: int(s[1:]),
                )
            ]
            meta["train_subspace_energy"] = [round(v, 6) for v in energies]
            meta["train_subspace_balance"] = round(_balance(energies), 6)
        return meta

    return late


def _sq_dist_zero(col):
    """Σ x² of an array column (squared L2 norm), HOF fold."""
    return F.aggregate(
        F.col(col) if isinstance(col, str) else col,
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )


def _subspace_energy_cols(col: str, n_sub: int, subdim: int) -> list:
    """Per-subspace squared-L2 energies of an array column — the M
    numbers whose balance OPQ's rotation exists to equalize (Ge et al.
    CVPR'13: variance allocation across subquantizers). One slice+fold
    per subspace, all inside the same projection."""
    return [
        _sq_dist_zero(
            F.slice(F.col(col), m * subdim + 1, subdim)
        ).alias(f"_sse_{m}")
        for m in range(n_sub)
    ]


def _balance(energies: list[float]) -> float:
    """max/mean of the per-subspace mean energies — 1.0 when the
    rotation spreads variance perfectly, growing as it goes stale."""
    mean = sum(energies) / len(energies)
    return (max(energies) / mean) if mean > 0 else float("inf")


def ivfpq_index_drift(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame | None = None,
    skew_threshold: float = 4.0,
    norm_threshold: float = 1.5,
    balance_threshold: float = 1.5,
) -> dict:
    """The RETRAIN monitor — makes append_vectors_to_ivfpq_index's
    documented threshold executable instead of prose. Two cheap
    aggregates over the live index chain:

    - cell_skew = max/median vectors-per-cell from the codes table
      (one two-phase count over 8-int rows): when routing cells go
      lopsided, the n_probe/k byte-pruning claim stops holding;
    - norm_ratio = (mean residual L2 of `new_vectors` against the
      published coarse centroids) / the TRAINING mean recorded in the
      manifest at publish time: when appended data drifts away from
      the trained cells, residuals grow and the codebooks stop
      resolving within-cell structure.

    For OPQ indexes a THIRD statistic monitors the frozen rotation R
    itself (round-12, closing the round-11 verdict's #6): the
    per-subspace energy balance (max/mean of the M mean subspace
    squared-L2s — the quantity OPQ's training equalizes, Ge et al.
    CVPR'13) of the batch in rotated space, against the
    `train_subspace_balance` baseline the publish write recorded via
    its Observation. Codebook staleness shows up in the residual norm;
    ROTATION staleness shows up here — a batch whose variance no
    longer spreads evenly under R quantizes badly even with fresh
    codebooks. Measured on the same vectors the codebooks see
    (residuals when the index is residual-encoded, rotated raw
    otherwise), in the SAME single aggregate pass as the norm.

    Returns the measurements plus `retrain_recommended` (any
    threshold tripped). The decision stays offline and human-paced —
    streams never retrain (exactly the IVF contract)."""
    from ..pipelines import read_snapshot_chain
    from .ivf import _assign as ivf_assign

    tables, manifest = read_snapshot_chain(spark, base_dir)
    sizes = sorted(
        r.n for r in tables["codes"].groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    )
    median = sizes[len(sizes) // 2] if sizes else 0
    skew = (sizes[-1] / median) if median else float("inf")
    out = {
        "n_cells": len(sizes),
        "cell_skew": round(skew, 3),
        "skew_threshold": skew_threshold,
        "retrain_recommended": skew > skew_threshold,
    }
    trained = manifest.get("train_residual_norm")
    # explicit None test, matching pq_index_drift: a 0.0 training norm
    # (degenerate but valid: every vector ON its centroid) must not
    # silently disable the norm check
    if new_vectors is not None and trained is not None:
        trained = float(trained)
        if bool(manifest.get("opq", False)):
            # the index (and its recorded training norm) lives in
            # rotated space — rotate the batch for a comparable norm
            import numpy as np

            from .opq import rotate

            R = np.array(
                [
                    row
                    for _, row in sorted(
                        (int(r.i), [float(x) for x in r.row])
                        for r in tables["rotation"].collect()
                    )
                ]
            )
            # intersect keep with the caller's schema (round-11
            # advice): drift batches legitimately carry only
            # (vec_id, embedding); label is unused on this path
            new_vectors = rotate(
                new_vectors, R,
                keep=tuple(c for c in ("label",) if c in new_vectors.columns),
            )
        opq = bool(manifest.get("opq", False))
        train_balance = manifest.get("train_subspace_balance")
        n_sub = int(manifest.get("m", M))
        subdim = int(manifest.get("subdim", SUBDIM))
        # balance target = the vectors the codebooks quantize:
        # residuals when residual-encoded, rotated raw otherwise —
        # matching what the publish baseline was measured on
        bal_src = "r" if bool(manifest.get("residual", True)) else "embedding"
        res = ivf_assign(new_vectors, tables["coarse"]).join(
            F.broadcast(tables["coarse"]), "cid"
        ).select(
            F.col("embedding").cast("array<double>").alias("embedding"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                "centroid",
                lambda x, c: x - c,
            ).alias("r"),
        )
        agg_row = res.agg(
            F.avg(F.sqrt(_sq_dist_zero("r"))).alias("n"),
            *(
                [
                    F.avg(e).alias(f"e{m}")
                    for m, e in enumerate(
                        _subspace_energy_cols(bal_src, n_sub, subdim)
                    )
                ]
                if (opq and train_balance is not None)
                else []
            ),
        ).head()
        batch_norm = float(agg_row["n"])
        if opq and train_balance is not None:
            energies = [float(agg_row[f"e{m}"]) for m in range(n_sub)]
            batch_balance = _balance(energies)
            b_ratio = (
                batch_balance / float(train_balance)
                if float(train_balance) > 0
                else float("inf")
            )
            out.update(
                {
                    "train_subspace_balance": round(float(train_balance), 6),
                    "batch_subspace_balance": round(batch_balance, 6),
                    "balance_ratio": (
                        b_ratio if b_ratio == float("inf")
                        else round(b_ratio, 3)
                    ),
                    "balance_threshold": balance_threshold,
                }
            )
            out["retrain_recommended"] = (
                out["retrain_recommended"] or b_ratio > balance_threshold
            )
        if trained > 0.0:
            ratio = batch_norm / trained
        else:
            ratio = float("inf") if batch_norm > 0.0 else 0.0
        out.update(
            {
                "train_residual_norm": round(trained, 6),
                "batch_residual_norm": round(batch_norm, 6),
                "norm_ratio": ratio if ratio == float("inf") else round(ratio, 3),
                "baseline_zero": trained == 0.0,
                "norm_threshold": norm_threshold,
                "retrain_recommended": out["retrain_recommended"]
                or ratio > norm_threshold,
            }
        )
    return out


def append_vectors_to_ivfpq_index(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame,
    meta: dict | None = None,
    mode: str = "delta",
) -> int:
    """Incremental IVF-PQ maintenance (round-10 verdict #5 / round-9
    missing #3): encode NEW vectors with the PUBLISHED quantizers — no
    retrain of either level — and publish the grown index as the next
    snapshot. Per batch: assign to the frozen coarse centroids (one
    broadcast scan of the additions), subtract the cell centroid if the
    index is residual-encoded, PQ-encode against the frozen codebooks
    (the Arrow numpy encoder at every code rate — same as publish),
    and union into `codes`. Coarse + codebooks republish
    UNCHANGED, so a reader pinned to any snapshot version keeps
    byte-identical results, and an unpinned reader's scores stay
    comparable across the append (same LUT space).

    Write amplification — `mode` picks the trade:
    - "delta" (default, the scale shape): publish ONLY the batch's
      codes as a chained delta snapshot (publish_snapshot_delta) —
      O(batch) bytes written; readers resolve the chain via
      read_snapshot_chain (each delta scan still partition-prunes on
      its own cell dirs), vacuum pins chain ancestors, and
      compact_snapshot_chain folds a long chain back into one full
      snapshot (bound the O(chain) manifest walk per serve call).
    - "rewrite": union into the full codes table and republish
      everything — O(corpus) per batch, zero read-side chain cost; the
      right shape when appends are rare and reads are hot.

    RETRAIN THRESHOLD (documented, monitored offline): appended
    vectors quantize against centroids trained before they existed, so
    the index degrades under distribution drift. Republish
    (publish_ivfpq_index) when either (a) cell skew — max/median cell
    size from the codes table's cell counts — exceeds ~4× (the routing
    term stops pruning), or (b) the appended batch's mean residual
    norm exceeds ~1.5× the training corpus's (the codebooks stop
    resolving within-cell structure). Both are one aggregate over
    KB-to-MB-scale tables."""
    from ..pipelines import (
        publish_snapshot,
        publish_snapshot_delta,
        read_snapshot_chain,
    )
    from .ivf import assign_to_centroids

    tables, manifest = read_snapshot_chain(spark, base_dir)
    coarse = tables["coarse"]
    codebooks = tables["codebooks"]
    codes = tables["codes"]
    residual = bool(manifest.get("residual", False))
    pq_k = int(manifest.get("k", K))
    if bool(manifest.get("opq", False)):
        # rotate the batch with the FROZEN persisted rotation before
        # assignment — the index lives entirely in rotated space
        import numpy as np

        from .opq import rotate

        R = np.array(
            [
                row
                for _, row in sorted(
                    (int(r.i), [float(x) for x in r.row])
                    for r in tables["rotation"].collect()
                )
            ]
        )
        # keep intersected with the caller's schema, same as the
        # drift path — append batches need not carry label
        new_vectors = rotate(
            new_vectors, R,
            keep=tuple(c for c in ("label",) if c in new_vectors.columns),
        )
    assigned = assign_to_centroids(new_vectors, coarse, coarse.count())
    if residual:
        pq_input = assigned.join(F.broadcast(coarse), "cid").select(
            "vec_id",
            F.col("cid").alias("ivf_cid"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                "centroid",
                lambda x, c: x - c,
            ).alias("embedding"),
        )
    else:
        pq_input = assigned.select(
            "vec_id", F.col("cid").alias("ivf_cid"), "embedding"
        )
    vecs = pq_input.select("vec_id", "embedding")
    new_codes = pq_encode_numpy(vecs, codebooks, k=pq_k)
    added = (
        new_codes.join(pq_input.select("vec_id", "ivf_cid"), "vec_id")
        .select("vec_id", "codes", F.col("ivf_cid").alias("cell"))
    )
    carried = {
        key: manifest[key]
        for key in (
            "k_cells", "m", "k", "subdim", "residual", "opq",
            # the drift monitors' baselines must survive appends and
            # (via compact_snapshot_chain's carry-everything rule)
            # compactions — dropping one silently disables the matching
            # check exactly when it matters: AFTER appends
            "train_residual_norm",
            "train_subspace_balance", "train_subspace_energy",
        )
        if key in manifest
    }
    if mode == "delta":
        return publish_snapshot_delta(
            {"codes": added},
            base_dir,
            meta={**carried, "appended": True, **(meta or {})},
            partition_by={"codes": ["cell"]},
        )
    if mode != "rewrite":
        raise ValueError(f"mode must be 'delta' or 'rewrite', got {mode!r}")
    full = {
        "coarse": coarse,
        "codebooks": codebooks,
        "codes": codes.unionByName(added),
    }
    if "rotation" in tables:  # the OPQ rotation rides every rewrite
        full["rotation"] = tables["rotation"]
    return publish_snapshot(
        full,
        base_dir,
        meta={**carried, "appended": True, **(meta or {})},
        partition_by={"codes": ["cell"]},
    )


def _load_ivfpq_meta(spark: SparkSession, base_dir: str, version):
    """(tables, manifest, n_sub, kk, subdim, residual, coarse, cbs, rot)
    with the driver-side index metadata — coarse centroids for routing,
    codebooks for LUTs, the OPQ rotation if persisted — cached per
    (base_dir, snapshot): the few KB a serving layer pins in process
    memory. Shared by the single-query and batched serve paths."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir, version)
    n_sub = int(manifest.get("m", M))
    kk = int(manifest.get("k", K))
    subdim = int(manifest.get("subdim", SUBDIM))
    residual = bool(manifest.get("residual", False))
    opq = bool(manifest.get("opq", False))
    ckey = (base_dir.rstrip("/"), int(manifest["snapshot"]))
    if ckey not in _IVFPQ_META_CACHE:
        coarse = [
            (int(r.cid), [float(x) for x in r.centroid])
            for r in tables["coarse"].collect()
        ]
        cbs: list[list[list[float]]] = [
            [None] * kk for _ in range(n_sub)  # type: ignore[list-item]
        ]
        for r in tables["codebooks"].collect():
            cbs[int(r.m)][int(r.cid)] = [float(x) for x in r.centroid]
        rot = None
        if opq:
            # the persisted 64×64 OPQ rotation — part of the pinned
            # index metadata a serving layer holds in process memory
            import numpy as np

            rot = np.array(
                [
                    row
                    for _, row in sorted(
                        (int(r.i), [float(x) for x in r.row])
                        for r in tables["rotation"].collect()
                    )
                ]
            )
        _IVFPQ_META_CACHE[ckey] = (coarse, cbs, rot)
    coarse, cbs, rot = _IVFPQ_META_CACHE[ckey]
    return tables, manifest, n_sub, kk, subdim, residual, coarse, cbs, rot


def _query_probe_and_lut(
    q_emb: list[float], n_sub, kk, subdim, residual, coarse, cbs, rot,
    n_probe: int,
):
    """Driver-side per-query routing math, shared by both serve paths:
    returns (q_raw, qd, probe_cids, lut, cell_dot) — qd is the rotated
    query when the index is OPQ-encoded (routing + ADC live in rotated
    space; exact rerank uses q_raw, dot products being rotation-
    invariant), lut the n_sub×kk partial-dot table with the fixed
    left-to-right fold the numpy replicas pin, cell_dot the per-probed-
    cell q·centroid constants (residual scoring) or None."""
    q_raw = [float(x) for x in q_emb]
    if rot is not None:
        import numpy as np

        qd = [float(v) for v in rot @ np.asarray(q_raw, dtype=np.float64)]
    else:
        qd = q_raw

    def sqd(c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(c, qd):
            d = x - y
            acc += d * d
        return acc

    probe_cids = [
        cid for _, cid in sorted((sqd(c), cid) for cid, c in coarse)[:n_probe]
    ]
    lut = []
    for m in range(n_sub):
        sub = qd[m * subdim:(m + 1) * subdim]
        row = []
        for cid in range(kk):
            acc = 0.0
            # Lloyd's can leave a cell empty at high code rates on a
            # small corpus: no code references it, 0.0 placeholder
            for c, qq in zip(cbs[m][cid] or (), sub):
                acc += c * qq
            row.append(acc)
        lut.append(row)
    cell_dot = None
    if residual:
        cents = dict(coarse)

        def qdot(c: list[float]) -> float:
            acc = 0.0
            for x, qq in zip(c, qd):
                acc += x * qq
            return acc

        cell_dot = {cid: qdot(cents[cid]) for cid in probe_cids}
    return q_raw, qd, probe_cids, lut, cell_dot


def ivfpq_knn_from_index(
    spark: SparkSession,
    base_dir: str,
    q_emb: list[float],
    version: int | None = None,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 100,
    rerank: DataFrame | None = None,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Serve one query from the pinned IVF-PQ snapshot — every per-
    query decision is driver-side math over cached index metadata
    (coarse centroids for routing, codebooks for the LUT; together a
    few KB), so the query is ONE Spark job: a partition-pruned scan of
    the probed cells' 8-int codes, ADC-scored by a literal LUT with a
    fixed fold order, TakeOrderedAndProject shortlist. With `rerank`
    (the source (vec_id, embedding) table), the shortlist is re-scored
    with exact float cosine — the production shape where quantization
    error moves from the final ranking into the shortlist margin.

    Format-aware: the snapshot manifest's (m, k, subdim, residual)
    drive the LUT shape and scoring, so one reader serves 4-bit or
    1-byte code rates and raw or residual encodings. For a residual
    snapshot the score is q·centroid(cell) + Σ_m LUT[m, code_m]: the
    per-cell constant is driver-side math over the already-cached
    routing table, inlined as an n_probe-entry literal map — still one
    codegen'd scan, zero joins per query. Reads resolve the append
    DELTA CHAIN (read_snapshot_chain): streamed appends land as
    codes-only delta snapshots, and the scan unions the chain's pruned
    cell scans — still one job; compact_snapshot_chain bounds the
    chain length."""
    tables, manifest, n_sub, kk, subdim, residual, coarse, cbs, rot = (
        _load_ivfpq_meta(spark, base_dir, version)
    )
    q_raw, qd, probe_cids, lut, cdot = _query_probe_and_lut(
        q_emb, n_sub, kk, subdim, residual, coarse, cbs, rot, n_probe
    )
    lut_lit = F.array(*[F.array(*[F.lit(v) for v in row]) for row in lut])
    score = None
    if residual:
        # q·centroid(cell) per probed cell — same left-to-right fold as
        # the LUT entries (the numpy replica in tests matches exactly),
        # inlined as a literal map keyed by the cell partition column
        cell_dot = F.create_map(
            *[
                lit
                for cid in probe_cids
                for lit in (F.lit(cid), F.lit(cdot[cid]))
            ]
        )
        score = F.element_at(cell_dot, F.col("cell").cast("int"))
    for m in range(n_sub):
        term = F.element_at(
            F.element_at(lut_lit, m + 1), F.col("codes").getItem(m) + 1
        )
        score = term if score is None else score + term
    out = tables["codes"].filter(F.col("cell").isin(probe_cids))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    adc = (
        out.select("vec_id", F.round(score, 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.asc("vec_id"))
        .limit(shortlist if rerank is not None else k)
    )
    if rerank is None:
        return adc
    q_lit = F.array(*[F.lit(x) for x in q_raw])
    exact = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), F.col("q_emb"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        rerank.join(F.broadcast(adc.select("vec_id")), "vec_id", "left_semi")
        .withColumn("q_emb", q_lit)
        .select("vec_id", F.round(exact, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivfpq_knn_batch_from_index(
    spark: SparkSession,
    base_dir: str,
    queries: dict[int, list[float]],
    version: int | None = None,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 100,
    rerank: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """BATCHED serving — the production multi-query shape
    (round-11): Q queries answered by ONE scan of the union of their
    probed cells instead of Q separate jobs. The single-query path
    pays the per-job floor (~17 ms locally; scheduler+scan overhead on
    a cluster) per query; here the per-query routing stays driver-side
    math (same _query_probe_and_lut as the single path), and the
    per-query LUTs + residual cell constants ship as a BROADCAST
    (query_id, cell, base, lut) table — one row per probed (query,
    cell), KBs. Each code row joins only the queries probing its cell
    (join on the hive partition column, so the scan still prunes to
    the UNION of probed cells), the ADC score folds the joined lut
    column left-to-right seeded with the residual base — BIT-EQUAL to
    the single-query literal chain (pinned in tests) — and the
    per-query top-k is one window rank over the ~|probed|·Q candidate
    rows — whose exchange, round-12 MEASURED correction to the
    round-11 "known trade" note, never carries that volume: the
    `row_number() ≤ k` shape plans a native WindowGroupLimit(Partial)
    before the hash exchange (Catalyst rank-limit pushdown), so each
    scan partition forwards only its per-query top-`shortlist` rows —
    590 shuffle records measured at 1M vectors/Q=16 where ~2M
    candidates are scored. A hand-rolled mapInPandas pre-rank was
    bit-equal and 1.7× slower (Arrow round-trip); deleted in favor of
    the JVM operator, which the plan audit pins.

    Returns (query_id, vec_id, pq_sim) — or (query_id, vec_id,
    cos_sim) with `rerank`, where each query's shortlist is re-scored
    with the exact RAW-space dot (per-query vectors join in by
    query_id; rotation-invariant under OPQ). `exclude_self` drops rows
    where vec_id == query_id (corpus-vector queries)."""
    tables, manifest, n_sub, kk, subdim, residual, coarse, cbs, rot = (
        _load_ivfpq_meta(spark, base_dir, version)
    )
    qrows = []
    raw_q = {}
    all_cells: set[int] = set()
    for qid in sorted(queries):
        q_raw, _qd, probe_cids, lut, cdot = _query_probe_and_lut(
            queries[qid], n_sub, kk, subdim, residual, coarse, cbs, rot,
            n_probe,
        )
        raw_q[qid] = q_raw
        all_cells.update(probe_cids)
        for cid in probe_cids:
            qrows.append(
                (int(qid), int(cid), float(cdot[cid]) if cdot else 0.0, lut)
            )
    qdf = spark.createDataFrame(
        qrows, "query_id long, cell int, base double, lut array<array<double>>"
    )
    score = F.aggregate(
        F.sequence(F.lit(1), F.lit(n_sub)),
        F.col("base"),
        # left-to-right fold seeded with the residual base — the same
        # float order as the single-query literal chain
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("lut"), m),
            F.element_at(F.col("codes"), m) + 1,
        ),
    )
    out = (
        tables["codes"]
        .filter(F.col("cell").isin(sorted(all_cells)))
        .join(F.broadcast(qdf), "cell")
    )
    if exclude_self:
        out = out.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_sim"), F.asc("vec_id")
    )
    cutoff = shortlist if rerank is not None else k
    scored = out.select(
        "query_id", "vec_id", F.round(score, 6).alias("pq_sim")
    )
    adc = (
        scored
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cutoff)
        .drop("rn")
    )
    if rerank is None:
        return adc.orderBy("query_id", F.desc("pq_sim"), F.asc("vec_id"))
    qvec = spark.createDataFrame(
        [(int(qid), raw_q[qid]) for qid in sorted(raw_q)],
        "query_id long, q_emb array<double>",
    )
    exact = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), F.col("q_emb"),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        rerank.join(
            F.broadcast(adc.select("query_id", "vec_id")), "vec_id"
        )
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "vec_id", F.round(exact, 6).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("cos_sim"), F.asc("vec_id"))
    )


@register(
    "ivfpq_index_serve_top10",
    None,  # two trained quantizers → rows-only (deterministic training;
    # numpy-exact ADC + exact rerank pinned in tests/test_pq.py).
    survey_rows="L22,L3-scale,S5,P",
)
def ivfpq_index_serve_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AMORTIZED IVF-PQ serving path at the correctness gate: the
    composed index (coarse cells + cell-partitioned PQ codes) is
    published ONCE per corpus (fixture_tag-keyed, like the lake
    fixtures) and every call serves from the pinned snapshot —
    driver-side routing + literal LUT + partition-pruned 8-int-code
    scan + exact float rerank of the 50-candidate shortlist. This is
    the query shape ivf_pq_knn_top10 (train-per-call) exists to feed:
    at 100 TB the training amortizes across every query between
    republishes (measured breakeven curves in SCALE.md). Round 10: the
    served snapshot is RESIDUAL-encoded (publish_ivfpq_index's new
    default — the round-9 1M recall-zero fix); the fixture path is
    format-bumped so a pre-residual /tmp fixture is never served."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivfpq_index_res_st"
    )
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivfpq_index(spark, sf_dir, base)
    e = load_table(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).head().embedding
    ]
    return ivfpq_knn_from_index(
        spark, base, q, n_probe=2, shortlist=50, rerank=e,
        exclude_vec_id=0,
    )


@register(
    "ivfpq_delta_serve_top10",
    None,  # trained quantizers + engine-specific delta-chain layout →
    # rows-only; chain resolution, pruning, and byte-stability are
    # pinned in tests/test_snapshot_chain.py.
    survey_rows="L22,L3-scale,S5,ST13",
)
def ivfpq_delta_serve_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 APPEND-SERVE shape at the correctness gate: the
    composed index takes a codes-only DELTA append
    (append_vectors_to_ivfpq_index mode='delta' — O(batch) bytes, the
    streamed-maintenance commit) and the very next query serves through
    the resolved chain (read_snapshot_chain): one job unioning the
    probed cells' pruned scans across the chain, ADC-scored by the same
    literal LUT. The appended vectors are copies of real corpus vectors
    re-keyed upward, so the served top-k is deterministic (copies carry
    identical codes; ties break on vec_id). ADC-only on purpose: the
    appended ids have no float rows in the source table, so a rerank
    stage would silently drop exactly the rows this query exists to
    prove visible."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivfpq_index_delta_st"
    )
    e = load_table(spark, sf_dir, "embeddings")
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivfpq_index(spark, sf_dir, base)
        batch = (
            e.orderBy("vec_id")
            .limit(16)
            .withColumn("vec_id", F.col("vec_id") + 10_000_000)
        )
        append_vectors_to_ivfpq_index(spark, base, batch)  # delta commit
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).head().embedding
    ]
    return ivfpq_knn_from_index(
        spark, base, q, n_probe=2, exclude_vec_id=0
    )


@register(
    "pq_delta_serve_top10",
    None,  # trained codebooks + engine-specific delta-chain layout →
    # rows-only; chain resolution, frozen-codebook encoding, and
    # byte-stability are pinned in tests/test_ann_index_stream.py.
    survey_rows="L22,S5,ST13",
)
def pq_delta_serve_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 append-serve for the PLAIN-PQ layout (the delta twin of
    ivfpq_delta_serve_top10, completing the three persisted layouts'
    maintenance surface): the index takes a codes-only DELTA append
    (append_vectors_to_pq_index — O(batch) bytes, the streamed-
    maintenance commit) and the next query serves through the resolved
    chain: one job scanning the unioned 8-int code tables, scored by
    the literal LUT, TakeOrderedAndProject top-k. The appended vectors
    are copies of real corpus vectors re-keyed upward, so the served
    top-k is deterministic (copies carry identical codes; ties break on
    vec_id)."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "pq_index_delta_st"
    )
    e = load_table(spark, sf_dir, "embeddings")
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_pq_index(spark, sf_dir, base)
        batch = (
            e.orderBy("vec_id")
            .limit(16)
            .withColumn("vec_id", F.col("vec_id") + 10_000_000)
        )
        append_vectors_to_pq_index(spark, base, batch)  # delta commit
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).head().embedding
    ]
    return pq_knn_from_index(spark, base, q, exclude_vec_id=0)


@register(
    "ivfpq_opq_serve_top10",
    None,  # trained rotation + two quantizers → rows-only; rotated-ADC
    # numpy-exactness, rotation persistence, and append/drift handling
    # are pinned in tests/test_pq.py.
    survey_rows="L22,L3-scale,S5,P",
)
def ivfpq_opq_serve_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 OPQ-rotated IVF-PQ serving at the gate: the index is
    published ONCE with opq=True (the rotation persisted as a snapshot
    table — round-10's missing #3: opq_pq_knn_top10 retrained R per
    call and the persisted index served unrotated), and every query
    rotates driver-side (a 64×64 matvec) before the same partition-
    pruned literal-LUT ADC scan + RAW-space exact rerank."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivfpq_index_opq"
    )
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivfpq_index(spark, sf_dir, base, opq=True)
    e = load_table(spark, sf_dir, "embeddings")
    q = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).head().embedding
    ]
    return ivfpq_knn_from_index(
        spark, base, q, n_probe=2, shortlist=50, rerank=e,
        exclude_vec_id=0,
    )


@register(
    "ivfpq_batch_serve_top3",
    None,  # trained quantizers → rows-only; per-query equality with the
    # single-query serve path (bit-equal ADC scores) is pinned in
    # tests/test_pq.py.
    survey_rows="L22,L3-scale,S5,P",
)
def ivfpq_batch_serve_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 BATCHED serving at the gate: four corpus-vector queries
    answered by ONE partition-pruned scan of the union of their probed
    cells (broadcast per-query LUT table joined on the cell partition
    column, window top-k per query) instead of four jobs — the
    amortization that matters when the per-query cost is dominated by
    job/scan overhead rather than ADC math. Self-matches excluded;
    deterministic (ties break on vec_id)."""
    from ..sources import lakefs
    from ..sources.io import fixture_tag

    import os
    import tempfile

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivfpq_index_res_st"
    )
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivfpq_index(spark, sf_dir, base)
    e = load_table(spark, sf_dir, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    return ivfpq_knn_batch_from_index(
        spark, base, queries, k=3, n_probe=2, exclude_self=True
    )


@register(
    "pq_batch_serve_top3",
    None,  # trained codebooks → rows-only; per-query bit-equality with
    # the single-query serve (through the delta chain) is pinned in
    # tests/test_pq.py.
    survey_rows="L22,S5,P",
)
def pq_batch_serve_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 BATCHED plain-PQ serving at the gate, THROUGH the
    append delta chain (reuses the pq_delta_serve fixture — publish +
    one codes-only delta): four corpus-vector queries scored by one
    scan of the chain-resolved 8-int codes against a broadcast
    per-query LUT table, window top-k per query. Completes the batch
    surface across all three persisted layouts."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "pq_index_delta_st"
    )
    e = load_table(spark, sf_dir, "embeddings")
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_pq_index(spark, sf_dir, base)
        batch = (
            e.orderBy("vec_id")
            .limit(16)
            .withColumn("vec_id", F.col("vec_id") + 10_000_000)
        )
        append_vectors_to_pq_index(spark, base, batch)
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    return pq_knn_batch_from_index(
        spark, base, queries, k=3, exclude_self=True
    )


@register(
    "ivfpq_batch_serve_q16",
    None,  # trained quantizers → rows-only; per-query bit-equality with
    # the single-query serve is pinned in tests/test_pq.py (the Q=4
    # twin) and the prerank on/off equality test covers this path.
    survey_rows="L22,L3-scale,S5,P",
)
def ivfpq_batch_serve_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 bench-extras line (round-11 verdict #7): BATCHED IVF-PQ
    serving at a production-ish batch size — SIXTEEN corpus-vector
    queries answered by one partition-pruned scan of the union of their
    probed cells, map-side pre-rank (local_topk_per_group) bounding the
    per-query window's shuffle to partitions·Q·k survivor rows. The
    12.8–20.7× amortization measured in SCALE_MEASURED.json gets a
    round-over-round bench line here (same fixture snapshot as
    ivfpq_batch_serve_top3; Q=16, k=10, ADC-only so the line times the
    serve scan, not the rerank join)."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivfpq_index_res_st"
    )
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivfpq_index(spark, sf_dir, base)
    e = load_table(spark, sf_dir, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 16).collect()
    }
    return ivfpq_knn_batch_from_index(
        spark, base, queries, k=10, n_probe=2, exclude_self=True
    )
