"""IVF (inverted-file) approximate nearest neighbor (SURVEY.md §2.10 L3
scale path, PAPERS.md top-k families): k-means coarse quantizer + probe
of the closest cells only.

This is also the repo's iterative-algorithm pattern: Lloyd's iterations
are driver-orchestrated DataFrame jobs — per iteration one shuffle
(assignment groupBy); centroids (k × dim doubles) are the ONLY data that
ever reaches the driver, so the loop works unchanged when the corpus is
100 TB. Deterministic throughout: seeds from xxhash64(vec_id), ties break
on cluster id, so every run (and every engine) produces the same model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import dot
from ..barrier import barrier
from ..registry import register
from ..sources.io import load_table, widen

K = 8
ITERATIONS = 3
N_PROBE = 2  # query probes this many nearest cells


def default_ann_geometry(n_vectors: int) -> tuple[int, int]:
    """(k_cells, n_probe) scaled to the corpus — the round-13 100M
    probe PROVED a fixed k_cells=32 starves the shortlist at scale
    (recall@10 reranked 0.22 on clustered data vs 0.47 at ≤1M; with
    3M-vector cells the within-cell ADC ranking can't surface the true
    neighbors into a 100-row shortlist, and the clustered structure
    stops helping at all — 0.22 vs uniform 0.23).

    Rule: k_cells ≈ 4·√N — the FAISS index-sizing guideline (between
    4√N and 16√N), the point where per-cell population N/k ≈ √N/4
    keeps both the routing table and the cells sub-linear — clamped to
    [32, 4096]: below 32 routing is pointless, above 4096 the sampled
    trainer's 256·k collect and its per-iteration GEMM start to rival
    the encode pass (and a single driver routing table past ~4096×64
    floats is better served by sharding the index). n_probe holds the
    probed FRACTION at ~3% (k_cells/32, floor 4): recall on the
    unstructured residue tracks the probed fraction, while clustered
    neighbors concentrate in few cells and arrive with any n_probe ≥
    the cluster spread. Measured recall-vs-geometry curves:
    SCALE_MEASURED.json `ann_ivfpq_geometry` (round-14)."""
    import math

    k = max(32, min(4096, 4 * math.isqrt(max(1, int(n_vectors)))))
    return k, max(4, k // 32)


def _sq_dist(a, b):
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a pure projection (round-14,
    guide §2.4 "remove shuffles outright"): the k centroids aggregate
    into ONE broadcast row of (cid, centroid) structs, and each vector
    row takes `array_min` over the k (dist, cid) structs — the same
    (distance, cid) argmin the previous window form computed, with the
    same `_sq_dist` fold order, but with NO n·k candidate-row
    materialization and NO shuffle. The old shape crossJoined the
    broadcast centroids (n·k wide rows) and ran row_number() over
    (vec_id) — a full exchange + sort of n·k rows carrying the
    embedding k times, per Lloyd's iteration. Struct comparison is
    lexicographic (dist, then cid), matching orderBy("dist", "cid");
    ties and NaN ordering are identical, so assignments are
    bit-identical (verified: the 17-query family re-captured hash-equal
    at both SFs)."""
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cid", "centroid"))).alias(
            "_cents"
        )
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _sq_dist("embedding", c.getField("centroid")).alias("dist"),
                c.getField("cid").alias("cid"),
            ),
        )
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            # label passes through when the caller carries it (training
            # batches do); drift/append batches may be (vec_id,
            # embedding) only — round-12, same advice as the OPQ keep
            *(["label"] if "label" in vectors.columns else []),
            "embedding",
            best.getField("cid").alias("cid"),
        )
    )


def _recompute(assigned: DataFrame) -> DataFrame:
    """New centroid = element-wise mean per cluster (posexplode → agg →
    re-assemble ordered by position).

    Round-14 measured NULL result: replacing the explode + two groupBys
    with 64 static `F.avg(embedding[i])` columns over one groupBy(cid)
    (values bit-identical) LOST an interleaved A/B at sf0.1 — 1.5 s →
    2.7 s median per 3-iteration fit — the dot_unrolled lesson again:
    64 unrolled getItem aggregates each bounds-check and re-read the
    array header, while posexplode iterates the ArrayData once and the
    extra shuffle is k×dim partial-agg rows (tiny). The SUBDIM=8 twin
    in pq._recompute WINS the same A/B (0.28 s → 0.21 s) and is kept —
    the crossover sits between 8 and 64 unrolled aggregates."""
    exploded = assigned.select(
        "cid", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    means = exploded.groupBy("cid", "pos").agg(F.avg("v").alias("m"))
    return (
        means.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )


def kmeans_fit(vectors: DataFrame, k: int = K, iterations: int = ITERATIONS) -> DataFrame:
    """Deterministic Lloyd's k-means. Init = the k vectors with the
    smallest xxhash64(vec_id) (a seeded pseudo-random sample that needs no
    driver-side randomness)."""
    init = (
        vectors.orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(F.xxhash64("vec_id"), "vec_id")) - 1)
            .alias("cid"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    centroids = init
    for _ in range(iterations):
        centroids = _recompute(_assign(vectors, centroids))
    # Round-14 (guide §3.3/§5 — materialize multiply-referenced
    # intermediates): callers reference the trained centroids in several
    # plan subtrees (assignment, residuals, probe scoring); without a
    # materialization barrier each reference re-instantiates the FULL
    # Lloyd's iteration tree — measured ivf_pq_residual_knn_top10 plan:
    # 192 parquet scans / 424 exchanges. The model is k rows of
    # control-plane data; checkpoint it once per fit (recomputed from
    # parquet on every call — nothing cached across invocations). Values
    # are bit-identical: the checkpoint stores what the loop computed.
    return barrier(centroids)


def model_frame(spark: SparkSession, schema: str, columns: dict) -> DataFrame:
    """A driver-built model (centroids, codebooks, a query's LUT) as an
    Arrow-built LocalRelation: the values live in the plan, so every
    reference reads them inside the JVM. A list-built createDataFrame
    is a LogicalRDD whose rows are re-fed from this Python process at
    every reference. `columns` maps each field of the DDL `schema` to
    its list of values."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    return spark.createDataFrame(
        pa.table(columns, schema=to_arrow_schema(st)), st
    )


def kmeans_fit_numpy(
    vectors: DataFrame,
    k: int = K,
    iterations: int = ITERATIONS,
    sample: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Driver-side Lloyd's over a collected sample — the coarse-
    quantizer twin of pq_fit_numpy and the production trainer shape
    (FAISS trains coarse quantizers on bounded samples; the cluster's
    job is assignment and serving). Motivation is measured: the
    DataFrame kmeans_fit at 1M vectors shuffles ~16 GB of wide rows
    per Lloyd's iteration through the window argmin (~50 min wall for
    a k=32 coarse quantizer), while the training sample is a few MB
    collected once and each iteration is one GEMM. The sample defaults
    to 256·k (the FAISS points-per-centroid training rule — 8192 rows
    for the k=32 coarse quantizer; more sample stops moving centroids
    long before it stops costing collect bytes) and arrives via the
    threshold filter in hash_sample (a corpus-wide TakeOrdered merge
    on the driver was the measured 1M build tail). Init mirrors
    kmeans_fit: the k lowest-(xxhash64(vec_id), vec_id) vectors (the
    sample IS that ordering's prefix, so the init set is identical);
    argmin ties break to the lowest cid; empty cells keep their
    previous centroid. Returns (cid, centroid) like kmeans_fit, as an
    Arrow-built LocalRelation (`model_frame`); an empty input gives an
    empty model. Centroid VALUES differ from the exact trainer at
    sample < corpus (different data) and at ulp level otherwise (numpy
    mean vs shuffled avg fold order), so pick ONE trainer per index
    and keep its train-per-call twin on the same one."""
    import numpy as np

    from .hash_sample import collect_hash_sample

    samp = collect_hash_sample(
        vectors.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        ),
        sample if sample is not None else 256 * k,
        n=n,
    )
    schema = "cid int, centroid array<double>"
    if not samp:
        return model_frame(
            vectors.sparkSession, schema, {"cid": [], "centroid": []}
        )
    x = np.array([r.emb for r in samp], dtype=np.float64)
    k_eff = min(k, len(x))
    cb = x[:k_eff].copy()
    x2 = (x ** 2).sum(1)[:, None]
    for _ in range(iterations):
        # blocked assignment: the full sample×k distance matrix is
        # O(sample·k) doubles (32 GB at sample=1M, k=4096 — an OOM on
        # the 100M geometry run); ~128 MB blocks keep the peak flat
        # with BIT-IDENTICAL per-row arithmetic and argmin
        a = np.empty(len(x), dtype=np.int64)
        cb2 = (cb ** 2).sum(1)[None, :]
        step = max(1, 16_000_000 // max(1, k_eff))
        for i in range(0, len(x), step):
            xb = x[i:i + step]
            d = x2[i:i + step] + cb2 - 2.0 * (xb @ cb.T)
            a[i:i + step] = np.argmin(d, axis=1)
        for c in range(k_eff):
            mask = a == c
            if mask.any():
                cb[c] = x[mask].mean(axis=0)
    return model_frame(
        vectors.sparkSession,
        schema,
        {"cid": list(range(k_eff)), "centroid": cb.tolist()},
    )


def assign_literal(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Zero-shuffle nearest-centroid assignment — BIT-IDENTICAL to
    `_assign` (pinned code-for-code in tests/test_ivf.py) but planned
    as a pure projection: the k centroids (k×dim doubles — KBs)
    collect driver-side and inline as literal arrays; each row
    evaluates k `_sq_dist` folds (same HOF, same float order as the
    joined form) into an array of (dist, cid) structs whose array_min
    IS the (dist, cid)-ordered argmin. The joined `_assign` form
    materializes n·k candidate rows and shuffles them through a
    window (~16 GB/iteration at 1M×32): right for centroids that are
    a mid-plan DataFrame, wasteful for a FINISHED quantizer. Use this
    for corpus-sized assignment against published/trained centroids;
    `_assign` stays the in-training form."""
    cents = sorted(
        (int(r.cid), [float(v) for v in r.centroid])
        for r in centroids.collect()
    )
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist(
                        "embedding", F.array(*[F.lit(v) for v in cent])
                    ).alias("dist"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cent in cents
            ]
        )
    )
    return vectors.select(
        "vec_id",
        *(["label"] if "label" in vectors.columns else []),
        "embedding",
        best.getField("cid").alias("cid"),
    )


# assign_literal's plan is O(k·dim) literal sub-expressions; past a few
# hundred centroids Catalyst abandons codegen and evaluates the fold
# interpreted, so per-row cost is O(k·dim) interpreted — measured 25+
# minutes for a 200k-row assignment at k≈1800 (round-14) where the GEMM
# path below takes seconds. Above this k the publishers switch.
ASSIGN_LITERAL_MAX_K = 128


def assign_vectorized(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for LARGE k (round-14, the geometry
    scale-up's enabler): the k×dim centroid matrix collects driver-side
    (KB–MB) and rides into one Arrow-batched pandas UDF that computes
    the argmin via a single GEMM per batch —
    ‖x−c‖² = ‖x‖² − 2x·Cᵀ + ‖c‖², argmin along cells, ties to the
    LOWEST cid (rows sorted by cid; np.argmin takes the first
    occurrence) — the same (dist, cid) ordering as `_assign` /
    `assign_literal`, differing only in float summation order (GEMM vs
    sequential fold), which is why the literal form remains the
    bit-parity path for k ≤ ASSIGN_LITERAL_MAX_K. Plan size is O(1);
    per-row cost is one row of a BLAS GEMM."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = sorted(
        (int(r.cid), [float(v) for v in r.centroid])
        for r in centroids.collect()
    )
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    c_sq = (cmat * cmat).sum(axis=1)

    @pandas_udf("long")
    def nearest(s):
        import numpy as np
        import pandas as pd

        x = np.stack(s.to_numpy()).astype(np.float64)
        d = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cmat.T)
            + c_sq[None, :]
        )
        return pd.Series(cids[d.argmin(axis=1)])

    return vectors.select(
        "vec_id",
        *(["label"] if "label" in vectors.columns else []),
        "embedding",
        nearest("embedding").cast("int").alias("cid"),
    )


def assign_to_centroids(vectors: DataFrame, centroids: DataFrame, k: int) -> DataFrame:
    """Route to the right assignment form by k: literal projection
    (bit-parity, whole-stage codegen) small-k, GEMM pandas UDF past
    ASSIGN_LITERAL_MAX_K."""
    if k <= ASSIGN_LITERAL_MAX_K:
        return assign_literal(vectors, centroids)
    return assign_vectorized(vectors, centroids)


@register(
    "ivf_cell_sizes",
    None,  # k-means init/iteration order is engine-specific → rows-only;
    # invariants asserted in tests/test_ivf.py.
    survey_rows="L3-scale,iterative",
)
def ivf_cell_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index stats: vectors per cell after k-means — the skew check an
    IVF index needs (a hot cell = a hot probe partition)."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e)
    assigned = _assign(e, centroids)
    return assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))


def ivf_knn(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN core, nprobe-parameterized: top-k cosine neighbors of
    vector 0 scanning only the `n_probe` cells nearest to the query. The
    recall/cost dial: fraction of corpus read ≈ n_probe/K (n_probe = K is
    an exact scan routed through the index — recall 1.0 by construction).
    tools/measure_recall.py sweeps this dial; SCALE.md records the curve."""
    e = load_table(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(e)
    assigned = _assign(e, centroids)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    probe_cells = (
        centroids.crossJoin(F.broadcast(q))
        .select("cid", _sq_dist("centroid", "q_emb").alias("dist"))
        .orderBy("dist", "cid")
        .limit(n_probe)
        .select("cid")
    )
    return (
        assigned.join(F.broadcast(probe_cells), "cid")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cid",
            F.round(dot("embedding", "q_emb"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


@register(
    "ivf_knn_top10",
    None,  # approximate by construction → rows-only; containment in the
    # N_PROBE cells + score exactness asserted in tests/test_ivf.py.
    survey_rows="L3-scale,P",
)
def ivf_knn_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: top-10 cosine neighbors of vector 0, scanning only the
    N_PROBE cells nearest to the query — at scale this reads n_probe/K of
    the corpus instead of all of it. (Registered point on the ivf_knn
    nprobe dial; the recall-vs-nprobe curve is measured in SCALE.md.)"""
    return ivf_knn(spark, sf_dir, k=10, n_probe=N_PROBE)


# --- index persistence: the ANN index as a versioned lake dataset ----------

# driver-side routing table per published snapshot: (base_dir, version)
# -> [(cid, centroid)]. k_cells x dim floats - the index root, the part
# a serving layer pins in process memory.
_ROUTING_CACHE: dict[tuple, list] = {}


def publish_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str,
    k_cells: int = K,
    partition_postings: bool = False,
    trainer: str = "sampled",
) -> int:
    """Train the IVF index once and publish it as an ATOMIC multi-table
    snapshot (centroids + postings under one LATEST pointer): the
    production shape for ANN serving — train offline, version the
    index, pin readers to a snapshot for reproducible retrieval, roll
    forward/back by pointer flip. Centroids and postings can never be
    observed from different trainings (the cross-table anomaly
    publish_snapshot exists to prevent — probing cells against the
    wrong partition of postings silently destroys recall).

    `trainer`: "sampled" (default — kmeans_fit_numpy over a 256·k_cells
    threshold sample, the 100 TB shape; the measured 1M build-wall
    difference is in SCALE.md) or "exact" (full-corpus DataFrame
    Lloyd's, matches the ivf_knn train-per-call twin bit-for-bit).
    Full-corpus ASSIGNMENT always runs as the zero-shuffle
    assign_literal (bit-identical to the joined form — pinned in
    tests)."""
    from ..pipelines import publish_snapshot

    e = load_table(spark, sf_dir, "embeddings")
    if trainer == "sampled":
        centroids = kmeans_fit_numpy(e, k=k_cells)
    elif trainer == "exact":
        centroids = kmeans_fit(e, k=k_cells)
    else:
        raise ValueError(f"trainer must be 'exact' or 'sampled', got {trainer!r}")
    # restore fan-out when the scan's partitioning is degenerate (a
    # single big parquet file splits into few chunks; the zero-shuffle
    # assign inherits that) — one narrow repartition of ~corpus bytes
    if e.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        e = e.repartition(spark.sparkContext.defaultParallelism)
    postings = assign_literal(e, centroids)
    return publish_snapshot(
        {"centroids": centroids, "postings": postings},
        base_dir,
        meta={"k": k_cells, "source_sf": sf_dir},
        # cell-partitioned postings let a probe read ONLY its n_probe
        # cells' files (hive partition pruning) — the layout that makes
        # probe cost O(n_probe/k · corpus) in BYTES READ, not just in
        # distance evaluations (tools/scale_bench.py measures both
        # layouts' probe walls)
        partition_by={"postings": ["cid"]} if partition_postings else None,
    )


def append_vectors_to_index(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame,
    meta: dict | None = None,
    mode: str = "delta",
) -> int:
    """Incremental index maintenance: assign NEW vectors to the
    EXISTING centroids (no retrain — assignment is one broadcast scan
    of the additions) and publish the growth as the next snapshot. The
    index degrades gracefully as the data drifts from the trained
    centroids; the retrain trigger is cell-skew monitoring
    (ivf_cell_sizes) — republish with publish_ivf_index when a cell
    outgrows its siblings.

    `mode` (round-10, same trade as append_vectors_to_ivfpq_index):
    "delta" publishes ONLY the batch's postings as a chained delta
    snapshot — O(batch) bytes per append instead of rewriting the full
    postings table; readers resolve via read_snapshot_chain and
    compact_snapshot_chain folds long chains. "rewrite" keeps the old
    full-republish shape (zero read-side chain cost)."""
    from ..pipelines import (
        publish_snapshot,
        publish_snapshot_delta,
        read_snapshot_chain,
    )

    tables, manifest = read_snapshot_chain(spark, base_dir)
    centroids = tables["centroids"]
    postings = tables["postings"]
    added = assign_literal(new_vectors, centroids)
    carried = {"k": manifest.get("k", K)}
    if mode == "delta":
        return publish_snapshot_delta(
            {"postings": added},
            base_dir,
            meta={**carried, "appended": True, **(meta or {})},
        )
    if mode != "rewrite":
        raise ValueError(f"mode must be 'delta' or 'rewrite', got {mode!r}")
    return publish_snapshot(
        {"centroids": centroids, "postings": postings.unionByName(added)},
        base_dir,
        meta={**carried, "appended": True, **(meta or {})},
    )


def ivf_knn_from_index(
    spark: SparkSession,
    base_dir: str,
    q_emb: list[float],
    version: int | None = None,
    k: int = 10,
    n_probe: int = N_PROBE,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Serve a kNN query from a PINNED index snapshot: probe the
    n_probe nearest cells of the loaded centroids, scan only those
    cells' postings. Identical plan shape to ivf_knn, but the training
    cost is amortized across every query against the snapshot — and a
    pinned `version` makes retrieval reproducible under concurrent
    republishes (the eval-set property a training pipeline needs).
    Reads resolve the append delta chain (read_snapshot_chain) — each
    chained postings scan prunes to the probed cells independently."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir, version)
    postings = tables["postings"]
    # Routing runs DRIVER-SIDE over the k centroids (k_cells × dim
    # floats — the index's "root node", cached per published snapshot):
    # a serving query must not pay a Spark job to pick its cells. The
    # python fold below adds (x-y)² left-to-right exactly like _sq_dist,
    # so cell selection is bit-identical to the in-plan form.
    ckey = (base_dir.rstrip("/"), int(manifest["snapshot"]))
    if ckey not in _ROUTING_CACHE:
        _ROUTING_CACHE[ckey] = [
            (int(r.cid), [float(x) for x in r.centroid])
            for r in tables["centroids"].collect()
        ]
    qd = [float(x) for x in q_emb]

    def sqd(c: list[float]) -> float:
        acc = 0.0
        for x, y in zip(c, qd):
            d = x - y
            acc += d * d
        return acc

    ranked = sorted((sqd(c), cid) for cid, c in _ROUTING_CACHE[ckey])
    probe_cids = [cid for _, cid in ranked[:n_probe]]
    # The probed cells become a LITERAL isin predicate — on
    # cid-partitioned postings (publish_ivf_index partition_postings)
    # the scan PRUNES to those cells' files; on flat postings the
    # predicate still pushes into the row-group filter. Probe cost thus
    # scales with n_probe/k of the corpus in BYTES READ (round-8
    # verdict #2 / the ANN scale study). The query vector is inlined as
    # a literal array: zero extra jobs, zero joins per query.
    q_lit = F.array(*[F.lit(x) for x in qd])
    out = postings.filter(F.col("cid").isin(probe_cids)).withColumn(
        "q_emb", q_lit
    )
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return (
        out.select(
            "vec_id",
            "cid",
            F.round(dot("embedding", "q_emb"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_knn_batch_from_index(
    spark: SparkSession,
    base_dir: str,
    queries: dict[int, list[float]],
    version: int | None = None,
    k: int = 10,
    n_probe: int = N_PROBE,
    exclude_self: bool = False,
) -> DataFrame:
    """BATCHED IVF serving (round-11, the float-postings twin of
    pq.ivfpq_knn_batch_from_index): Q queries answered by ONE scan of
    the union of their probed cells. Routing stays driver-side per
    query (same bit-exact fold as the single path); the per-query
    vectors ship as a BROADCAST (query_id, cid, q_emb) table — one row
    per probed (query, cell) — joined on the cid partition column, so
    each posting row scores only the queries probing its cell and the
    scan still prunes to the UNION of probed cells. cos_sim is
    bit-equal to the single-query literal form (same `dot` fold over
    the same doubles; pinned in tests); per-query top-k is a window
    rank — whose exchange (round-12 measured note, same as the IVF-PQ
    twin) is bounded by the native WindowGroupLimit(Partial) Catalyst
    plans before it: at most partitions·Q·k survivor rows shuffle,
    never the routed candidate volume. Pinned in the plan audit."""
    from ..pipelines import read_snapshot_chain

    tables, manifest = read_snapshot_chain(spark, base_dir, version)
    postings = tables["postings"]
    ckey = (base_dir.rstrip("/"), int(manifest["snapshot"]))
    if ckey not in _ROUTING_CACHE:
        _ROUTING_CACHE[ckey] = [
            (int(r.cid), [float(x) for x in r.centroid])
            for r in tables["centroids"].collect()
        ]
    routing = _ROUTING_CACHE[ckey]
    qrows = []
    all_cells: set[int] = set()
    for qid in sorted(queries):
        qd = [float(x) for x in queries[qid]]

        def sqd(c: list[float]) -> float:
            acc = 0.0
            for x, y in zip(c, qd):
                d = x - y
                acc += d * d
            return acc

        ranked = sorted((sqd(c), cid) for cid, c in routing)
        for _, cid in ranked[:n_probe]:
            qrows.append((int(qid), int(cid), qd))
            all_cells.add(int(cid))
    qdf = spark.createDataFrame(
        qrows, "query_id long, cid int, q_emb array<double>"
    )
    out = (
        postings.filter(F.col("cid").isin(sorted(all_cells)))
        .join(F.broadcast(qdf), "cid")
    )
    if exclude_self:
        out = out.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    scored = out.select(
        "query_id",
        "vec_id",
        F.round(dot("embedding", "q_emb"), 6).alias("cos_sim"),
    )
    return (
        scored
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("cos_sim"), F.asc("vec_id"))
    )


@register(
    "ivf_batch_serve_top3",
    None,  # trained quantizer → rows-only; per-query bit-equality with
    # the single-query serve is pinned in tests/test_ivf.py.
    survey_rows="L3-scale,S5,P",
)
def ivf_batch_serve_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 BATCHED IVF serving at the gate: four corpus-vector
    queries answered by ONE scan of the union of their probed cells
    (cid-partitioned postings prune to those cells' files; the
    per-query vectors arrive as a broadcast joined on cid), window
    top-k per query — the float-postings twin of ivfpq_batch_serve_top3.
    Self-matches excluded; ties break on vec_id."""
    import os
    import tempfile

    from ..sources import lakefs
    from ..sources.io import fixture_tag

    tag = fixture_tag(sf_dir)
    base = os.path.join(
        tempfile.gettempdir(), "novelti_dingo_lake", tag, "ivf_index_part_st"
    )
    if not lakefs.exists(spark, f"{base}/LATEST"):
        publish_ivf_index(spark, sf_dir, base, partition_postings=True)
    e = load_table(spark, sf_dir, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 4).collect()
    }
    return ivf_knn_batch_from_index(
        spark, base, queries, k=3, n_probe=2, exclude_self=True
    )
