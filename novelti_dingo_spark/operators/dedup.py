"""Deduplication operators (SURVEY.md §2.10 L1/L2 + SimHash + n-gram
Jaccard): the dedup family a pretraining-data pipeline needs.

Design for 100 TB:
- exact dedup groups on a 256-bit content hash, never on raw text — the
  shuffle carries 32-byte keys, not documents;
- MinHash-LSH shuffles (band_idx, band_hash) buckets, so candidate
  generation is linear in corpus size + bucket joins; only candidate
  PAIRS (a vanishing fraction) get exact verification;
- SimHash reduces each doc to one 32-bit integer; banding on 8-bit
  sub-keys finds hamming-close pairs without an all-pairs join;
- every self-join is `a.key < b.key` so each pair materializes once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_funcs import (
    SHINGLE5_MD5_SQL,
    shingle_md5s,
    shingles,
    token_bigrams,
    tokens,
)
from ..barrier import barrier
from ..registry import register
from ..sources.io import load_table, widen

# n-gram Jaccard similarity threshold shared by the exact pair query and
# the MinHash-LSH verifier, so tests can compare their outputs directly.
JACCARD_THRESHOLD = 0.5

# PPJoin verification: when the interned gram vocabulary spans at most
# this many 64-bit words (vocab ≤ 64·this), per-doc gram sets become
# fixed-width bitmaps and pair intersection is Σ popcount(a&b) — ~1.4×
# off the array_intersect verify (measured at sf0.1). Beyond it the
# array form is used: on a natural vocabulary the bitmap would be wide
# and sparse, and prefix filtering prunes candidates anyway.
BITMAP_MAX_WORDS = 64


@register(
    "exact_dedup_docs",
    """
    SELECT count(*)                       AS n_docs,
           count(DISTINCT md5(text))      AS n_distinct,
           count(*) - count(DISTINCT md5(text)) AS n_removed
    FROM documents
    """,
    survey_rows="L1,F7",
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 summary: corpus size vs distinct content hashes."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_removed"),
    )


@register(
    "exact_dedup_survivors",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    survey_rows="L1,U3,F7",
)
def exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: keep the minimum doc_id per identical text (hash-grouped, so
    the shuffle key is 16 bytes regardless of document size)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                    i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))
               AS gram
      FROM documents
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    """,
    survey_rows="L2-exact,F5",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-bigram Jaccard pairs ≥ threshold.

    Implementation: blocked set-intersection GEMM — docs hash into B
    blocks; each block PAIR is one grouped-pandas-UDF task that builds
    local binary gram-membership matrices and computes all intersection
    counts with one numpy matmul. Chosen because this corpus has a
    degenerate 31-word vocabulary: the classic inverted-index join (gram →
    docs) fans out quadratically on hot grams here (measured 31s vs ~4s at
    sf0.1). On a natural-vocabulary 100 TB corpus the roles flip —
    inverted index + prefix filtering prunes almost everything and is the
    scalable exact method; use LSH (minhash_lsh_pairs) when approximate is
    acceptable. Oracle stays the straightforward inverted-index SQL."""
    import numpy as np
    import pandas as pd

    B = 8
    # widen: the one-partition documents scan serialized the per-doc
    # bigram HOF on a single core (round-14; no-op on wide scans)
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_distinct(token_bigrams("text")).alias("grams"),
        (F.col("doc_id") % B).alias("blk"),
    )
    pairs = spark.createDataFrame(
        [(b1, b2) for b1 in range(B) for b2 in range(B) if b1 <= b2],
        "b1 int, b2 int",
    )
    side_a = pairs.join(d, pairs.b1 == d.blk).select(
        (F.col("b1") * B + F.col("b2")).alias("pair_id"),
        F.lit(0).alias("side"),
        "doc_id",
        "grams",
    )
    side_b = pairs.join(d, pairs.b2 == d.blk).select(
        (F.col("b1") * B + F.col("b2")).alias("pair_id"),
        F.lit(1).alias("side"),
        "doc_id",
        "grams",
    )

    def block_jaccard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        b1, b2 = divmod(int(pdf["pair_id"].iloc[0]), B)
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        vocab: dict[str, int] = {}
        for gs in pdf["grams"]:
            for g in gs:
                vocab.setdefault(g, len(vocab))

        def mat(rows):
            m = np.zeros((len(rows), len(vocab)), dtype=np.float64)
            for i, gs in enumerate(rows["grams"]):
                for g in gs:
                    m[i, vocab[g]] = 1.0
            return m

        ma, mb = mat(a), mat(b)
        ida = a["doc_id"].to_numpy()
        idb = b["doc_id"].to_numpy()
        inter = ma @ mb.T
        na = ma.sum(axis=1)[:, None]
        nb = mb.sum(axis=1)[None, :]
        jac = inter / (na + nb - inter)
        ii, jj = np.nonzero(jac >= JACCARD_THRESHOLD)
        da, db, s = ida[ii], idb[jj], jac[ii, jj]
        if b1 == b2:
            keep = da < db
            da, db, s = da[keep], db[keep], s[keep]
        else:
            da, db = np.minimum(da, db), np.maximum(da, db)
        return pd.DataFrame(
            {"doc_a": da, "doc_b": db, "jaccard": np.round(s, 6)}
        )

    return (
        side_a.unionByName(side_b)
        .groupBy("pair_id")
        .applyInPandas(block_jaccard, "doc_a long, doc_b long, jaccard double")
        .distinct()
    )


@register(
    "jaccard_pairs_prefix_filter",
    f"""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                    i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))
               AS gram
      FROM documents
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY 1
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    """,
    survey_rows="L23,L2-exact,W1,F5",
)
def jaccard_pairs_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-join via prefix filtering (the PPJoin/AllPairs family
    — Bayardo et al. WWW'07, Xiao et al. WWW'08): same output as
    `ngram_jaccard_pairs`, same oracle, different candidate generation —
    the one that scales on a natural vocabulary.

    Prefix-filter theorem: order every doc's gram set by a global rarity
    order (ascending doc-frequency, gram as tiebreak). If
    jaccard(x,y) >= τ then x and y must share a gram within each other's
    first |x| - ceil(τ·|x|) + 1 grams: any pair missing from the prefix
    join is PROVABLY below threshold — exact pruning, no recall loss.
    Only prefix grams (half the tokens at τ=0.5, and the RAREST half at
    that) enter the candidate self-join, so hot boilerplate grams, which
    land at the END of the rarity order, never generate candidates — the
    exact counterpart of dropping boilerplate LSH buckets.

    Shape: one driver action, then one lazy plan. The vocabulary
    (gram, df) is vocab-sized, so it is collected once and sorted on
    the driver by (df, gram) — Python's code-point str order is
    Spark's UTF-8 byte order — and each gram's position in that order
    becomes its dense id `gid`. The (gram, gid) table goes back as a
    LocalRelation and is broadcast into the corpus. Each doc becomes
    ONE record: array_sort(collect_list(gid)). Since gid follows the
    rarity order, that sorted array IS the prefix order, so the prefix
    is a posexplode of its first |x| - ceil(τ·|x|) + 1 elements. The
    per-doc grouping sits behind keyed_widen: without the explicit
    doc_id repartition AQE coalesces the bench-scale groupBy to one
    partition, and the candidate join then runs in one task. Prefix
    grams feed an equi-join on gid with the FULL PPJoin pruning stack;
    verification runs ONLY on candidates (each pair exactly once):
    fixed-width bitmaps + popcount when the vocabulary spans ≤
    BITMAP_MAX_WORDS 64-bit words (this corpus: 931 grams, 15 words),
    array_intersect on the gid arrays otherwise. Every subtree is
    deterministic, so the per-doc record is computed once and AQE
    reuses its exchanges across the prefix and both verify sides — no
    checkpoint. No GEMM, no all-pairs: candidate volume is bounded by
    prefix-gram collisions AFTER length + positional pruning, and
    verification is |candidates|, not n².

    Why the extra PPJoin filters (round-9 profile at sf0.1): the bare
    prefix join emitted 7.9M candidates from 5k docs — 63% of
    all-pairs — because mid-frequency grams inside the rare half still
    collide quadratically; the 52 s verify join over those pairs was
    the registry's slowest line. With the filters the SAME 256 result
    rows verify from ~40k candidates (~200× fewer; 66 s → ~7 s):
    - LENGTH filter: τ·|x| ≤ |y| (both ways) — sizes too far apart can
      never reach τ; applied inside the candidate join.
    - POSITIONAL filter: both docs order grams by the same global
      rarity order, so for a shared prefix gram at positions (px, py)
      every shared gram sits at ≥ px in x and ≥ py in y — hence
      overlap ≤ 1 + min(|x|−px, |y|−py). Prune when that bound cannot
      reach α = ⌈τ/(1+τ)·(|x|+|y|)⌉ (the overlap equivalent of
      jaccard ≥ τ). A true pair's FIRST shared gram gives its loosest
      bound, and pairs surviving at ANY shared gram are kept — exact,
      no recall loss (tests pin output equality with the GEMM twin).
    All thresholds are INTEGER arithmetic (Fraction-derived ⌈p·n/q⌉ =
    (p·n + q − 1) div q): no float boundary can over-prune."""
    from fractions import Fraction

    from ..barrier import _ENABLED as _barriers_on
    from ..sources.io import keyed_widen
    from .ivf import model_frame

    tau = Fraction(str(JACCARD_THRESHOLD))
    p_, q_ = tau.numerator, tau.denominator
    # α(na, nb) = ceil(τ/(1+τ)·(na+nb)) with τ = p/q → ceil(p·s/(p+q))
    ap_, aq_ = p_, p_ + q_

    # widen: fan the per-doc bigram HOF out of the one-partition scan
    # (aggregates downstream are counts/intersections — order-
    # insensitive). explode_outer + IS NOT NULL, not explode: explode
    # makes Catalyst infer size(grams) > 0 on the HOF and push it below
    # widen's exchange, onto the one-partition scan.
    d = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.array_distinct(token_bigrams("text")).alias("grams")
    )
    g = d.select("doc_id", F.explode_outer("grams").alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    # gram interning: gid = position in the (df, gram) rarity order, a
    # bijection, so every downstream count equals the string form's; the
    # candidate join hashes longs and verification intersects int arrays
    vocab = sorted(
        (df, gram)
        for gram, df in g.groupBy("gram").agg(F.count(F.lit(1))).collect()
    )
    gids = model_frame(
        spark, "gram string, gid long",
        {"gram": [w for _, w in vocab], "gid": list(range(len(vocab)))},
    )
    ids = (
        keyed_widen(g.join(F.broadcast(gids), "gram"), "doc_id")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("gid")).alias("gi"))
    )
    n = F.size("gi")
    prefix = ids.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(
            F.slice(
                "gi", 1,
                n - F.floor((n * p_ + q_ - 1) / q_).cast("int") + 1,
            )
        ).alias("pos0", "gid"),
    ).withColumn("pos", F.col("pos0") + 1)
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "gid",
        F.col("pos").alias("pos_a"), F.col("n").alias("n_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "gid",
        F.col("pos").alias("pos_b"), F.col("n").alias("n_b"),
    )
    alpha = F.floor(
        ((F.col("n_a") + F.col("n_b")) * ap_ + aq_ - 1) / aq_
    ).cast("long")
    cand = (
        a.join(b, "gid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: ceil(τ·max) ≤ min ⇔ jaccard can reach τ
        .filter(
            F.floor((F.col("n_a") * p_ + q_ - 1) / q_).cast("long")
            <= F.col("n_b")
        )
        .filter(
            F.floor((F.col("n_b") * p_ + q_ - 1) / q_).cast("long")
            <= F.col("n_a")
        )
        # positional filter: the overlap upper bound from this match
        .filter(
            F.lit(1)
            + F.least(
                F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
            )
            >= alpha
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verify branch: the bitmap is a small-universe specialization of
    # the executed plan. An empty corpus (n_words = 0) and a natural
    # vocabulary take array_intersect; so do plan audits under
    # no_barriers(), which pin that scale posture.
    n_words = (len(vocab) - 1) // 64 + 1
    if _barriers_on and 0 < n_words <= BITMAP_MAX_WORDS:
        bitmap = F.expr(
            f"""transform(sequence(0, {n_words - 1}, 1), wd ->
              aggregate(filter(gi, x -> CAST(x DIV 64 AS INT) = wd),
                        0L,
                        (acc, x) ->
                          acc | shiftleft(1L, CAST(x % 64 AS INT))))"""
        )
        d_ids = ids.select("doc_id", n.alias("nn"), bitmap.alias("bm"))
        ga = d_ids.select(
            F.col("doc_id").alias("doc_a"),
            F.col("nn").alias("na"), F.col("bm").alias("ma"),
        )
        gb = d_ids.select(
            F.col("doc_id").alias("doc_b"),
            F.col("nn").alias("nb"), F.col("bm").alias("mb"),
        )
        inter = F.expr(
            "aggregate(zip_with(ma, mb, (x, y) -> bit_count(x & y)),"
            " 0, (acc, v) -> acc + v)"
        ).cast("double")
        union = (F.col("na") + F.col("nb")).cast("double") - inter
    else:
        ga = ids.select(F.col("doc_id").alias("doc_a"), F.col("gi").alias("ga"))
        gb = ids.select(F.col("doc_id").alias("doc_b"), F.col("gi").alias("gb"))
        inter = F.size(F.array_intersect("ga", "gb")).cast("double")
        union = (F.size("ga") + F.size("gb")).cast("double") - inter
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("_j"))
        .filter(F.col("_j") >= JACCARD_THRESHOLD)  # raw ratio, like the oracle
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )


# --- MinHash-LSH -----------------------------------------------------------

# 128 hashes in 32 bands of r=4. Banding math on this corpus (bimodal
# jaccard: near-dup groups at j>=0.8, junk mass at j<=0.2):
#   P(candidate) = 1 - (1 - j^r)^bands
#   j=0.8: miss = (1-0.41)^32 ~ 5e-8        (recall ~1 on true pairs)
#   j=0.1: hit  = 32 * 1e-4   ~ 0.3%        (vs ~8% at the old r=2 —
#   the permissive banding the round-1 review flagged: per-band collision
#   j^2 lets boilerplate-heavy corpora flood the candidate set)
# tests/test_dedup.py asserts the >=5x candidate reduction at equal recall.
N_HASHES = 128  # minhash signature length
N_BANDS = 32  # bands of r = N_HASHES / N_BANDS rows each


def minhash_signature(text_col) -> F.Column:
    """Array of N_HASHES min-hashes over token-bigram shingles. Hash i of a
    shingle is xxhash64(i, shingle) — one 64-bit hash family, no stored
    coefficients, identical on every executor.

    NOTE: referencing this expression multiple times in one projection
    makes Catalyst's projection-collapse duplicate the whole computation
    per reference (measured 8x blowup when banding). Query code uses the
    explode + groupBy-min formulation below instead, which materializes at
    an aggregation barrier AND gets map-side partial combine."""
    grams = F.array_distinct(token_bigrams(text_col))
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
        lambda i: F.array_min(
            F.transform(grams, lambda g: F.xxhash64(i, g))
        ),
    )


def lsh_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """MinHash-LSH candidate generation, parameterized so tests can compare
    banding configurations. Returns distinct (doc_a, doc_b) candidates.

    Signatures via explode + groupBy-min: one scan, map-side combined, and
    the agg is a materialization barrier so banding can't re-inline the
    signature computation (see minhash_signature note). The bucket
    self-join shuffles 16-byte (band_idx, band_hash) keys; hot buckets
    (boilerplate docs) are the skew risk — AQE skew-join splitting, or
    salting the band hash (operators/skew.py), handles them."""
    bands = _lsh_bands(spark, sf_dir, n_hashes, n_bands)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _lsh_bands(
    spark: SparkSession, sf_dir: str, n_hashes: int, n_bands: int
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — the LSH bucket rows behind both
    the plain and the salted candidate joins."""
    # widen: the 128 per-gram xxhash64 evaluations ran on the scan's
    # single partition (round-14; F.min is exactly order-insensitive)
    d = widen(load_table(spark, sf_dir, "documents"))
    gram_rows = d.select(
        "doc_id", F.explode(F.array_distinct(token_bigrams("text"))).alias("g")
    )
    sigs = gram_rows.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("g"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    r = n_hashes // n_bands
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * r + j}").cast("string")
                                for j in range(r)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs_salted(
    spark: SparkSession,
    sf_dir: str,
    n_salts: int = 8,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """SALTED LSH band self-join — the hot-bucket treatment for
    boilerplate-heavy corpora (round-8 candidate #5; the spatial
    hot-cell twin was measured in round 7). A bucket of m near-
    identical docs puts all m² candidate pairs in ONE reducer task;
    salting splits it: the LEFT side gets a deterministic salt
    (pmod(xxhash64(doc), s)), the RIGHT side replicates each bucket
    row across ALL s salts, and the join key grows to (band, hash,
    salt) — every true pair still meets exactly once (the right copy
    carrying the left row's salt), but the hot bucket's work spreads
    over s tasks. Cost: the right side shuffles s× rows — worth it
    only when a bucket dominates a task; tools/scale_bench.py
    `skew_lsh` measures both sides of that trade on a deliberately
    skewed corpus. Output is IDENTICAL to lsh_candidate_pairs
    (pytest-pinned)."""
    bands = _lsh_bands(spark, sf_dir, n_hashes, n_bands)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_hash",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).alias("salt"),
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_hash",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))
        ).alias("salt"),
    )
    return (
        a.join(b, ["band_idx", "band_hash", "salt"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@register(
    "minhash_lsh_pairs",
    None,  # LSH is probabilistic by construction → rows-only; recall vs
    # the exact ngram_jaccard_pairs output is asserted in tests/test_dedup.py.
    survey_rows="L2,P",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: MinHash-LSH near-duplicate pairs.

    Pipeline: bigram shingles → 128-hash minhash signature → 32 bands of
    4 → explode (band_idx, band_hash) → self-join buckets → distinct
    candidate pairs → exact Jaccard verification ≥ JACCARD_THRESHOLD.

    Scale: signatures are computed in one scan (map-side combined agg);
    the shuffle key is the 16-byte band bucket; only candidates (a
    vanishing fraction of all pairs — see the banding math above
    N_HASHES) pay the verification join.
    """
    d = load_table(spark, sf_dir, "documents")
    candidates = lsh_candidate_pairs(spark, sf_dir)
    # exact verification on the candidate set only
    grams = d.select("doc_id", F.array_distinct(token_bigrams("text")).alias("grams"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    jac = inter * F.lit(1.0) / union
    return (
        candidates.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8-bit blocks; hamming-close pairs share ≥1 block w.h.p.
HAMMING_MAX = 4


@register(
    "simhash_pairs",
    None,  # banding is probabilistic → rows-only; hamming distances are
    # re-checked exactly in tests/test_dedup.py.
    survey_rows="L2-family",
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signature from frequency-weighted
    token hashes, 4×8-bit band blocking, exact hamming ≤ HAMMING_MAX on
    candidates.

    Scale: each doc reduces to ONE long before any shuffle; banding joins
    on 1-byte sub-keys. The token→bit tally is a (doc, bit) grouBy —
    corpus×32 rows, map-side combined."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tok = tok.select("doc_id", F.xxhash64("token").alias("h"))
    # shift amounts must be Python literals (shiftright rejects Columns),
    # so the per-bit arrays are built with plain loops.
    bits = tok.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1)
                    .otherwise(-1)
                    for b in range(SIMHASH_BITS)
                ]
            )
        ).alias("bit", "contrib"),
    )
    tall = bits.groupBy("doc_id", "bit").agg(F.sum("contrib").alias("s"))
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(SIMHASH_BITS)])
    sims = tall.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.element_at(pow2, F.col("bit") + 1)).otherwise(0)
        ).alias("simhash")
    )
    bands = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), j * 8).bitwiseAND(255)
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band_idx", "band_val",
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


def connected_components(
    pairs: DataFrame, src: str = "a_id", dst: str = "b_id", max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected pair list → (node,
    cluster_id) with cluster_id = min node id in the component.

    Pregel-style min-label propagation: labels start as the node id; each
    round every node takes the min label among itself and its neighbors;
    converges in O(graph diameter) rounds (near-dup graphs are shallow).
    Each round is one shuffle-join + partial-agg min; `localCheckpoint`
    cuts the iterative lineage (on a cluster: reliable checkpoint dir).
    For planet-scale graphs swap the loop body for the two-phase
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — same DataFrame surface."""
    edges = pairs.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).unionAll(pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
    )
    for _ in range(max_iter):
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lab"
        )
        new_labels = (
            labels.unionAll(prop).groupBy("node").agg(F.min("lab").alias("lab"))
        ).localCheckpoint()
        changed = (
            new_labels.join(labels.withColumnRenamed("lab", "old"), "node")
            .filter(F.col("lab") < F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent non-convergence would hand callers WRONG labels (multiple
        # "canonical" docs per cluster) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "rounds (graph diameter exceeds max_iter); raise max_iter or "
            "switch to large-star/small-star contraction"
        )
    return labels.select("node", F.col("lab").alias("cluster_id"))


def connected_components_two_phase(
    pairs: DataFrame, src: str = "a_id", dst: str = "b_id", max_iter: int = 50
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) → (node, cluster_id), cluster_id = min node id.

    Why a second CC implementation: min-label propagation
    (`connected_components`) converges in O(diameter) rounds — fine for
    shallow near-dup graphs, hopeless on a 10M-link chain. Large/small-star
    contracts paths exponentially: O(log² n) rounds on ANY topology, each
    round two groupBy-min shuffles over the edge list with no growth in
    edge count (edges only ever re-point toward smaller ids). That is the
    planet-scale swap-in the min-label docstring promises.

    Round body (all DataFrame ops, no driver state beyond the loop):
    - large-star: group the symmetrized edge list by u; every neighbor
      v > u re-points to m = min(N(u) ∪ {u});
    - small-star: key each edge by its max endpoint; every neighbor
      v ≤ u (and u itself) re-points to m = min(N(u) ∪ {u}).
    Fixpoint when the edge set stops changing (count + order-insensitive
    xxhash64 checksum — one tiny agg per round, no driver materialization
    of edges). After convergence edges form stars (v, min-of-component).
    `localCheckpoint` per round cuts the iterative lineage exactly like
    the min-label loop."""
    e = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # canonical undirected form (small end first), deduped
    edges = (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        if large:
            # symmetrize: every node sees its full neighborhood
            nbrs = edges.unionAll(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        else:
            # key by max endpoint: u sees only neighbors ≤ u
            nbrs = edges.select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = nbrs.join(m, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = joined.select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionAll(
                m.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
            )
            .distinct()
        )

    def _sig(edges: DataFrame) -> tuple[int, int]:
        # order-insensitive set checksum: XOR of per-edge hashes (edges are
        # distinct, so XOR is collision-safe up to hash collisions; sum
        # would overflow long under ANSI mode)
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
            ).alias("h"),
        ).head()
        return (row.n, row.h)

    sig = _sig(edges)
    for _ in range(max_iter):
        edges = _star(_star(edges, large=True), large=False).localCheckpoint()
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_two_phase did not converge within "
            f"{max_iter} rounds (theoretical bound is O(log² n) — "
            "this indicates a bug, not a hard graph)"
        )
    # converged stars: (v, m) with m the component min; centers map to
    # themselves. Nodes from the original pair list that lost all edges
    # to canonicalization (self-pairs) are singletons: node → node.
    nodes = (
        pairs.select(F.col(src).cast("long").alias("node"))
        .unionAll(pairs.select(F.col(dst).cast("long").alias("node")))
        .distinct()
    )
    star_lab = edges.groupBy(F.col("v").alias("node")).agg(
        F.min("u").alias("lab")
    )
    return nodes.join(star_lab, "node", "left").select(
        "node", F.coalesce("lab", "node").alias("cluster_id")
    )


# shared by neardup_clusters / neardup_clusters_bigstar /
# neardup_canonical_survivors: all compute the SAME clustering, by
# different distributed algorithms — the oracle CTE (declarative
# recursive fixpoint down to per-doc cluster labels) is
# implementation-agnostic; each query adds its own final SELECT.
_NEARDUP_PAIRS_CTE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), x AS (
      SELECT DISTINCT doc_id, unnest({SHINGLE5_MD5_SQL}) AS h
      FROM t WHERE len(toks) >= 5
    ), p AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM x a JOIN x b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 4
    )
    """

_NEARDUP_CC_CTE = _NEARDUP_PAIRS_CTE + """
    , edges AS (
      SELECT a_id AS src, b_id AS dst FROM p
      UNION ALL SELECT b_id, a_id FROM p
    ), reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON r.node = e.src
    ), cc AS (
      SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    )
    """

_NEARDUP_CC_ORACLE = (
    _NEARDUP_CC_CTE
    + """
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM cc
    """
)


@register(
    "neardup_clusters",
    _NEARDUP_CC_ORACLE,
    survey_rows="L7,L2,J1,A1",
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-pipeline finale: group near-dup PAIRS into CLUSTERS
    (connected components) and elect one canonical survivor per cluster —
    pairs alone can't drive deletion, since near-dup is not transitive
    (A~B and B~C does not imply A~C; keeping "one of each pair" either
    over- or under-deletes on chains).

    Pair relation: >= 4 shared 5-token shingle hashes (measured at
    sf0.01: chance collisions between unrelated word-soup docs top out at
    1 shared shingle; true exact/prefix near-dups share 8+). The shingle
    equi-join is linear in corpus size — bucket fan-out measured <= 3
    docs/shingle, and a production run would cap bucket width (drop
    boilerplate shingles) exactly like the LSH band join.

    Connected components: see `connected_components` (min-label
    propagation, converges in O(diameter) rounds — here <= 3).

    DuckDB oracle: recursive CTE enumerating reachable labels, min per
    node — identical fixpoint, declaratively."""
    cc = connected_components(_neardup_pairs(spark, sf_dir))
    return _cluster_rollup(cc)


@register(
    "neardup_clusters_bigstar",
    _NEARDUP_CC_ORACLE,
    survey_rows="L7b,L2,J1,A1",
)
def neardup_clusters_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7 at planet scale: identical clustering to `neardup_clusters`,
    computed by large-star/small-star contraction instead of min-label
    propagation. Same pair relation, same oracle — the driver hash-match
    therefore certifies the contraction algorithm end-to-end against the
    declarative fixpoint. O(log² n) rounds on any topology (vs O(diameter)
    for min-label): THIS is the variant to run on a 10⁹-node web-dedup
    graph where near-dup chains get long. See
    `connected_components_two_phase` for the round mechanics."""
    cc = connected_components_two_phase(_neardup_pairs(spark, sf_dir))
    return _cluster_rollup(cc)


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair relation for the clustering queries: doc pairs sharing
    >= 4 five-token shingle hashes (see neardup_clusters docstring)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    shingle = F.explode(shingle_md5s("text")).alias("h")
    x = d.filter(F.size(toks) >= 5).select("doc_id", shingle).distinct()
    a = x.select(F.col("doc_id").alias("a_id"), "h")
    b = x.select(F.col("doc_id").alias("b_id"), "h")
    # Round-14 (guide §3.3/§5): every consumer (CC, big-star, PageRank,
    # BFS, k-core, triangles) references this relation from SEVERAL plan
    # subtrees (self-joins, per-iteration lineage) — without a barrier
    # each reference replays the shingle explode + bucket self-join +
    # groupBy. The edge list is tiny (pairs of near-dup doc ids);
    # materialize it once per invocation. Deterministic content, so
    # results are unchanged; recomputed from parquet on every call.
    return barrier(
        a.join(b, "h")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 4)
        .select("a_id", "b_id")
    )


def _cluster_rollup(cc: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return cc.select(
        F.col("node").alias("doc_id"), "cluster_id"
    ).select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@register(
    "boilerplate_shingle_coverage",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS s
      FROM toks, LATERAL unnest(generate_series(1, len(t) - 7)) AS g(i)
      WHERE len(t) >= 8
    ), freq AS (
      SELECT s, count(DISTINCT doc_id) AS nd FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           count(*)                                              AS n_shingles,
           CAST(sum(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_boilerplate,
           CAST((sum(CASE WHEN freq.nd >= 3 THEN 1 ELSE 0 END)
              * 1000000) // count(*) AS BIGINT)                  AS boilerplate_ppm
    FROM sh JOIN freq ON sh.s = freq.s
    GROUP BY sh.doc_id
    """,
    survey_rows="L18,F5,A1",
)
def boilerplate_shingle_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L18: duplicated-span (boilerplate) detection, the C4/Gopher-style
    cross-document span dedup: an 8-token shingle occurring in >= 3
    distinct documents is boilerplate; each document reports how many of
    its shingle positions are covered by such spans, as parts-per-million
    in pure integer arithmetic (no float rounding hazard between engines).

    Scale shape: the explode is linear (one row per token position, not
    per pair); the global shingle-frequency agg is a partial-aggregable
    groupBy whose key is the shingle string — at real corpus scale, group
    on xxhash64(shingle) instead so the shuffle carries an 8-byte key
    (same trick as exact_dedup_docs' md5 key; kept as the raw string here
    only because the DuckDB oracle must group on an identical key). The
    re-join of shingles to frequencies is a self-equi-join on the same
    key, so both sides share one shuffle partitioning; the final per-doc
    rollup groups on doc_id. No step is quadratic in corpus size, unlike
    pairwise near-dup — this is the operator you run FIRST at 100 TB to
    strip boilerplate before MinHash."""
    # widen: fan the shingle explode off the one-partition scan
    # (round-14; integer-ppm arithmetic — order-insensitive)
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    sh = (
        d.filter(F.size(toks) >= 8)
        .select(
            "doc_id",
            F.posexplode(shingles("text", k=8)).alias("i", "s"),
        )
    )
    freq = sh.groupBy("s").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    boiler = F.sum(F.when(F.col("nd") >= 3, 1).otherwise(0))
    return (
        sh.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            boiler.alias("n_boilerplate"),
            F.expr(
                "(sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) * 1000000)"
                " div count(1)"
            ).alias("boilerplate_ppm"),
        )
    )


@register(
    "incremental_dedup_new_batch",
    """
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE source <> 'src3'
      GROUP BY 1
    ), batch AS (
      SELECT doc_id, md5(text) AS h,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents WHERE source = 'src3'
    )
    SELECT b.doc_id
    FROM batch b LEFT JOIN corpus c ON b.h = c.h
    WHERE c.h IS NULL AND b.rn = 1
    ORDER BY b.doc_id
    """,
    survey_rows="L20,J3,F7",
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L20: incremental dedup — admit from a NEW batch (here: docs from
    src3) only texts unseen in the EXISTING corpus (all other
    sources), keeping one survivor per text within the batch itself.

    This is the production shape of corpus growth: the historical corpus
    is never re-scanned as documents — it is represented by its compact
    content-hash index (16-byte md5 per distinct text, buildable once
    and appended per batch). The batch anti-joins that index, then
    window-dedups within itself. At 100 TB the index is ~0.1% the corpus
    size, the anti join broadcasts when the DAILY batch is small, and
    nothing ever touches historical text bytes again. Pair with
    boilerplate_shingle_coverage (L18) upstream and minhash_lsh_pairs
    (L2) downstream for the full incremental-ingest dedup stack."""
    d = load_table(spark, sf_dir, "documents")
    corpus_index = (
        d.filter(F.col("source") != "src3")
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = d.filter(F.col("source") == "src3").select(
        "doc_id", F.md5("text").alias("h")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        batch.join(corpus_index, "h", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "neardup_canonical_survivors",
    _NEARDUP_CC_CTE
    + """
    , m AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id DESC)
               AS rn,
             count(*)       OVER (PARTITION BY c.cluster_id) AS n_members,
             CAST(sum(d.n_chars) OVER (PARTITION BY c.cluster_id)
                  AS BIGINT) AS cluster_chars
      FROM cc c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT cluster_id, doc_id AS canonical_doc,
           n_chars AS canonical_chars, n_members, cluster_chars
    FROM m WHERE rn = 1
    """,
    survey_rows="L7,L1,A1,W4",
)
def neardup_canonical_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: after near-dup pairs are clustered
    (connected components, see neardup_clusters), elect the document
    that SURVIVES from each cluster — here by content-quality proxy
    (longest text wins, doc_id as deterministic tiebreak), not by the
    min-label accident that `is_canonical` in the clustering query
    reports. This is the policy a production corpus dedup actually
    applies: keep the best member, drop the rest, and log per-cluster
    size/volume so the deletion is auditable.

    Shape: cluster labels come from the O(diameter)-round min-label CC
    (one shuffle per round on bounded candidate pairs — see
    neardup_clusters for the measured fan-out bound); the election is a
    single max(struct(quality, id)) groupBy on |clustered docs| rows —
    an argmax without a window sort, so no per-cluster ordering shuffle
    beyond the one aggregation. At 100 TB: candidate pairs are already
    band-bucketed (never all-pairs), the argmax is map-side combined,
    and the survivor list is |clusters| rows — the small side of the
    subsequent anti-join that performs the actual deletion.

    Oracle: the shared recursive-CTE clustering plus a per-cluster
    row_number election with the same (n_chars, doc_id) order — the
    hash match proves Spark's struct-max argmax equals the declarative
    rank-1 pick."""
    cc = connected_components(_neardup_pairs(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = cc.select(
        F.col("node").alias("doc_id"), "cluster_id"
    ).join(d, "doc_id")
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(F.struct("n_chars", "doc_id")).alias("_best"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").alias("cluster_chars"),
        )
        .select(
            "cluster_id",
            F.col("_best.doc_id").alias("canonical_doc"),
            F.col("_best.n_chars").alias("canonical_chars"),
            "n_members",
            "cluster_chars",
        )
    )


@register(
    "triangle_count_neardup",
    _NEARDUP_PAIRS_CTE
    + """
    , tri AS (
      SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
      FROM p e1
      JOIN p e2 ON e2.a_id = e1.b_id
      JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
    )
    SELECT count(*) AS n_triangles,
           count(DISTINCT a) AS n_apex_docs
    FROM tri
    """,
    survey_rows="L7,J1,A5",
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup candidate graph — the clustering
    -coefficient ingredient that separates a CLIQUE-like duplicate
    cluster (template families: every member resembles every other) from
    a CHAIN (drifting versions: A~B~C but A!~C), which decides whether
    keep-one-per-cluster is safe or will under/over-delete.

    Implementation is the oriented-wedge join on the canonical a<b edge
    list: each edge (a,b) with a<b, wedges (a->b, b->c) close iff (a,c)
    is an edge — every triangle counted exactly once because its
    vertices join in sorted order. At 100 TB the standard refinement
    orders by DEGREE instead of id (wedge fan-out bounded by sqrt(m),
    total work O(m^1.5)); here id-order suffices because near-dup
    degrees are already bounded by the band-bucket caps upstream. Edges
    come from the same >=4-shared-shingles relation as neardup_clusters
    — bucketed generation, never all-pairs.

    Oracle: the shared CTE's pair relation self-joined twice,
    declaratively — the hash match proves both the edge relation and
    the orientation logic agree."""
    pairs = _neardup_pairs(spark, sf_dir)  # canonical a_id < b_id
    e = pairs.select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    ).distinct()
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("a"),
        F.col("e1.b").alias("b"),
        F.col("e2.b").alias("c"),
    )
    e3 = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedge.join(
        e3,
        (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb")),
    )
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.countDistinct("a").alias("n_apex_docs"),
    )


# --- edit-distance similarity join (Ed-Join) -------------------------------

# Edit-distance threshold and q-gram size for the Ed-Join query. Prefix
# length is q*k + 1 grams: each edit destroys at most q positional
# q-grams, so two strings within k edits mismatch at most q*k grams —
# a pair sharing NO gram among each other's q*k+1 globally-rarest
# grams (position-tolerant within k) is provably beyond the threshold.
EDJOIN_K = 3
EDJOIN_Q = 2


@register(
    "edit_distance_join",
    f"""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 32) AS s
      FROM documents WHERE doc_id < 1500
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist
    FROM d a JOIN d b ON b.doc_id > a.doc_id
    WHERE levenshtein(a.s, b.s) <= {EDJOIN_K}
    """,
    survey_rows="L23,L2-exact,F1,W1",
)
def edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance similarity self-join via positional q-gram
    prefix filtering (Ed-Join — Xiao, Wang, Lin, VLDB'08): all document
    pairs whose 32-char prefixes are within EDJOIN_K=3 edits — the
    typo/OCR-noise member of the dedup family, complementing the
    set-similarity (`jaccard_pairs_prefix_filter`) and sort-order
    (`sorted_neighborhood_pairs`) blockers.

    Candidate generation, never all-pairs: each string's positional
    2-grams are ordered by global rarity (ascending document frequency,
    gram then position as tiebreaks) and only the first q*k+1 = 7 grams
    — the rarest 7 of 31 — enter the candidate equi-join on gram, with
    the residual |pos_a - pos_b| <= k (an edit shifts surviving grams by
    at most k positions). The count-filter lemma guarantees zero recall
    loss: ed <= k destroys at most q*k positional grams, so some prefix
    gram must survive position-tolerantly in the other string's prefix.
    Hot grams land at the END of the rarity order and never generate
    candidates. Only the candidate pairs (a vanishing fraction of n^2)
    pay the O(len^2) Wagner-Fischer verification, JVM-side via
    F.levenshtein.

    Scale shape: gram df is a two-phase vocab-sized agg broadcast back;
    the prefix cut is a per-doc window (doc_id partitions, no global
    sort); the candidate join shuffles 7 grams/doc, not documents; the
    verify join carries only candidate ids back to the 32-char strings.
    The oracle is the naive quadratic join — the hash match proves the
    pruning is lossless. tests/test_dedup.py pins the same equivalence
    against a naive Spark join at sf0.001."""
    from pyspark.sql import Window

    k, q = EDJOIN_K, EDJOIN_Q
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1500)
        .select("doc_id", F.substring("text", 1, 32).alias("s"))
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(s) - {q - 1}),"
                f" i -> substring(s, i, {q}))"
            )
        ).alias("gpos", "gram"),
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "gram", "gpos")
    # Round-14: a barrier() here was measured and REVERTED — the two
    # prefix instantiations overlap across cores (independent subtrees),
    # so materializing cost more than it saved (1.94 s → 2.56 s
    # warm+build) and the checkpointed relation lost the size estimate
    # that kept downstream joins broadcast (bhj 10 → 6 in the plan).
    # A second restructure (compute prefix ONCE, groupBy(gram) +
    # collect_list postings + HOF ordered-pair expansion instead of the
    # self-join) also LOST: 2.50 → 3.25 s warm A/B, rows identical —
    # the interpreted pair-expansion lambda costs more than the
    # duplicated-but-parallel broadcast legs. Stage-count-bound; the
    # self-join shape stays.
    prefix = (
        grams.join(F.broadcast(dfreq), "gram")
        .select(
            "doc_id", "gram", "gpos", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= q * k + 1)
        .select("doc_id", "gram", "gpos")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "gram", F.col("gpos").alias("pa")
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "gram", F.col("gpos").alias("pb")
    )
    cand = (
        a.join(b, "gram")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("pa") - F.col("pb")) <= k)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    dist = F.levenshtein("sa", "sb")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(dist <= k)
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_dist"))
    )


def lsh_hot_buckets(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = 200,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """The buckets a capped run would drop: (band_idx, band_hash, n) for
    every bucket above `max_bucket` docs — the monitoring/report side
    of lsh_candidate_pairs_capped (route these docs to the exact-hash
    boilerplate handler; a bucket this hot is near-identical text by
    construction of minhash banding)."""
    bands = _lsh_bands(spark, sf_dir, n_hashes, n_bands)
    return (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
    )


def lsh_candidate_pairs_capped(
    spark: SparkSession,
    sf_dir: str,
    max_bucket: int = 200,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """LSH candidates with HOT BUCKETS DROPPED — the production
    treatment for boilerplate floods (measured in tools/scale_bench.py
    `skew_lsh`: a 1,475-doc bucket makes the plain join's pair volume
    explode; salting doesn't help because banding already spreads the
    work 32 ways — the pairs themselves are the cost).

    The dial is EXPLICITLY recall-affecting: a pair whose ONLY shared
    buckets are hot is not emitted (unlike salting, which is exact).
    Why that loss is the right trade: a bucket of m >> max_bucket docs
    means m near-identical texts — m²/2 candidate pairs that the
    downstream exact-verify would re-score at quadratic cost to learn
    what one exact-hash pass over the SAME docs (exact_dedup_docs)
    finds for O(m). The composition is cap + route: capped LSH for the
    genuine near-dups, lsh_hot_buckets feeding the hot docs to the
    hash-dedup path. Pairs sharing ANY non-hot bucket are unaffected
    (pytest pins this)."""
    bands = _lsh_bands(spark, sf_dir, n_hashes, n_bands)
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    cool = bands.join(
        F.broadcast(sizes.filter(F.col("n") > max_bucket)),
        ["band_idx", "band_hash"],
        "left_anti",
    )
    a = cool.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = cool.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
