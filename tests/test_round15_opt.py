"""Round-15 optimization pins: the per-invocation knn corpus rebuild
(no cross-invocation cache), the PPJoin empty-corpus / no-barriers
guards on the bitmap-verify branch, and the NULL-safe
order-statistics percentile."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from novelti_dingo_spark.barrier import no_barriers
from novelti_dingo_spark import schemas


def test_knn_corpus_rebuilds_per_invocation(spark, sf_small):
    """The round-14 verdict retired similarity._CORPUS_CACHE (a
    module-level .cache() serving a headline query across invocations).
    Pin: no such cache attribute exists any more, two invocations agree,
    and the executed plan reads a checkpoint scan, not CacheManager."""
    from novelti_dingo_spark.operators import similarity

    assert not hasattr(similarity, "_CORPUS_CACHE")
    assert not hasattr(similarity, "_pinned_corpus")
    df1 = similarity.knn_bruteforce_top10(spark, sf_small)
    rows1 = [tuple(r) for r in df1.collect()]
    rows2 = [
        tuple(r)
        for r in similarity.knn_bruteforce_top10(spark, sf_small).collect()
    ]
    assert rows1 == rows2 and len(rows1) == 10
    plan = df1._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan


def test_ppjoin_empty_corpus_returns_empty(spark, tmp_path):
    """An empty documents corpus used to raise TypeError in the bitmap
    bounds probe (int(None - None)); it must return an empty result
    through the array branch instead (round-15 ADVICE fix)."""
    from novelti_dingo_spark.operators import dedup

    empty_sf = str(tmp_path / "emptysf")
    os.makedirs(empty_sf)
    spark.createDataFrame([], schemas.TABLES["documents"]).write.parquet(
        os.path.join(empty_sf, "documents.parquet")
    )
    out = dedup.jaccard_pairs_prefix_filter(spark, empty_sf)
    assert out.count() == 0
    assert set(out.columns) == {"doc_a", "doc_b", "jaccard"}


def test_ppjoin_audit_plan_skips_bounds_probe(spark, sf_small):
    """Under no_barriers() (plan audits) the verify branch is chosen
    without looking at the data: the audit path still runs the one
    eager vocabulary collect, as the executed path does, but takes the
    array branch whatever the vocabulary size, so its plan must carry
    the array_intersect verify, not the bitmap."""
    from novelti_dingo_spark.operators import dedup

    with no_barriers():
        df = dedup.jaccard_pairs_prefix_filter(spark, sf_small)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan, plan
    assert "bit_count" not in plan, plan


def test_ppjoin_barrier_plan_takes_bitmap_verify(spark, sf_small):
    """The executed shape (barriers on) is the one plan audits never
    see: on the small-vocabulary fixture the verify takes the bitmap
    branch, so the plan carries bit_count, no array_intersect, and no
    Python UDF."""
    from novelti_dingo_spark.operators import dedup
    from novelti_dingo_spark.plans import explain_formatted

    plan = explain_formatted(dedup.jaccard_pairs_prefix_filter(spark, sf_small))
    assert "bit_count" in plan, plan
    assert "array_intersect" not in plan, plan
    for udf in ("PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
        assert udf not in plan, plan


def _anti_join_strategy(df) -> str:
    """Name of the physical join node executing the MOR anti-join."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ):
        if node in plan:
            return node
    return "none: " + plan[:400]


def test_iceberg_delete_size_guard_switches_join_strategy(
    spark, sf_small, tmp_path, monkeypatch
):
    """Round-14 verdict #8 plan evidence: the MOR delete-relation size
    guard must BROADCAST small delete relations (explicit hint — holds
    even with auto-broadcast off) and DROP the hint past the row
    threshold so the anti-join shuffles instead of OOMing executors."""
    from novelti_dingo_spark.sources import tablecore
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
        read_iceberg_table,
        write_iceberg_table,
    )
    from novelti_dingo_spark.sources.io import load_table

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base)
    delete_rows_from_iceberg_table(spark, base, "s_suppkey % 3 = 0")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = read_iceberg_table(spark, base)
        n_hinted = hinted.count()
        assert _anti_join_strategy(hinted) == "BroadcastHashJoin"
        monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX_ROWS", 0)
        unhinted = read_iceberg_table(spark, base)
        assert unhinted.count() == n_hinted  # same rows either way
        assert _anti_join_strategy(unhinted) in (
            "SortMergeJoin", "ShuffledHashJoin"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_delta_dv_size_guard_switches_join_strategy(
    spark, sf_small, tmp_path, monkeypatch
):
    """Delta half of the same guard: small DV ordinal sets broadcast
    (explicit hint); past DELETE_BROADCAST_MAX_ROWS the ordinals
    spill to parquet and Catalyst plans from the spill's stats — with
    auto-broadcast off that is a shuffle join, never a forced
    broadcast."""
    from novelti_dingo_spark.sources import tablecore
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        read_delta_table,
        write_delta_table,
    )
    from novelti_dingo_spark.sources.io import load_table

    base = str(tmp_path / "d")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base)
    delete_rows_from_delta_table(spark, base, "s_suppkey % 3 = 0")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = read_delta_table(spark, base)
        n_hinted = hinted.count()
        assert _anti_join_strategy(hinted) == "BroadcastHashJoin"
        monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX_ROWS", 0)
        spilled = read_delta_table(spark, base)
        assert spilled.count() == n_hinted
        assert _anti_join_strategy(spilled) in (
            "SortMergeJoin", "ShuffledHashJoin"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_mode_tie_break_is_deterministic(spark, tmp_path):
    """sf0.001 has a mode tie (status P: two priorities at 111) and a
    tied mode() follows aggregation-map merge order — it flipped between
    gate runs (round-15 inherited-state fix). The query must now break
    ties to the LOWEST value, matching the oracle's ORDER BY count DESC,
    value ASC."""
    from novelti_dingo_spark.operators.extras import agg_argminmax_mode

    sf = str(tmp_path / "tiesf")
    os.makedirs(sf)
    import datetime as dt

    full = schemas.TABLES["orders"]
    d = dt.datetime(1996, 1, 1)
    rows = [
        # status X: 'b' and 'a' tied 2-2 -> must pick 'a' (lowest)
        (1, 10, "X", 100.0, d, "b"),
        (2, 11, "X", 200.0, d, "b"),
        (3, 12, "X", 300.0, d, "a"),
        (4, 13, "X", 400.0, d, "a"),
        # status Y: 'z' wins untied -> unchanged semantics
        (5, 14, "Y", 150.0, d, "z"),
        (6, 15, "Y", 250.0, d, "z"),
        (7, 16, "Y", 350.0, d, "a"),
    ]
    spark.createDataFrame(rows, full).write.parquet(
        os.path.join(sf, "orders.parquet")
    )
    got = {
        r["o_orderstatus"]: r["top_priority"]
        for r in agg_argminmax_mode(spark, sf).collect()
    }
    assert got == {"X": "a", "Y": "z"}


def _iceberg_merge_feed(spark, sf_small, tmp_path):
    """A real Iceberg merge commit (which snapshots as an overwrite)."""
    from novelti_dingo_spark.sources.iceberg import (
        iceberg_snapshots,
        merge_into_iceberg_table,
        read_iceberg_changes,
        read_iceberg_table,
        write_iceberg_table,
    )
    from novelti_dingo_spark.sources.io import load_table

    base = str(tmp_path / "ice")
    s = load_table(spark, sf_small, "supplier")
    cols = s.columns
    write_iceberg_table(s, base)
    upd = s.filter(F.col("s_nationkey") < 10).withColumn(
        "s_acctbal", F.col("s_acctbal") + 5000
    )
    ins = s.filter(F.col("s_nationkey") >= 20).withColumn(
        "s_suppkey", F.col("s_suppkey") + 1_000_000
    )
    merge_into_iceberg_table(
        spark, base, upd.select(*cols).unionAll(ins.select(*cols)),
        on=["s_suppkey"],
    )
    s0, s1 = [x["snapshot_id"] for x in iceberg_snapshots(base)]
    return (
        read_iceberg_changes(spark, base, s0),
        read_iceberg_table(spark, base, snapshot_id=s0),
        read_iceberg_table(spark, base, snapshot_id=s1),
        F.lit(int(s1)).cast("long").alias("_snapshot_id"),
    )


# helper-name collision bait: the diff's own weight/sum columns are
# spelled like these data columns
_BAIT_SCHEMA = "k long, _w string, _d double"


def _iceberg_overwrite_3to1_feed(spark, sf_small, tmp_path):
    """An Iceberg overwrite that keeps one of three identical rows."""
    from novelti_dingo_spark.sources.iceberg import (
        read_iceberg_changes,
        read_iceberg_table,
        write_iceberg_table,
    )

    base = str(tmp_path / "ice")
    rest = [(2, "b", 1.0), (3, None, None)]
    s0 = write_iceberg_table(
        spark.createDataFrame([(1, "a", 0.5)] * 3 + rest, _BAIT_SCHEMA),
        base,
    )
    s1 = write_iceberg_table(
        spark.createDataFrame([(1, "a", 0.5)] + rest, _BAIT_SCHEMA),
        base,
        mode="overwrite",
    )
    return (
        read_iceberg_changes(spark, base, s0),
        read_iceberg_table(spark, base, snapshot_id=s0),
        read_iceberg_table(spark, base, snapshot_id=s1),
        F.lit(int(s1)).cast("long").alias("_snapshot_id"),
    )


def _home_cow_update_feed(spark, sf_small, tmp_path):
    """A home-lake copy-on-write update commit (no row lineage)."""
    from novelti_dingo_spark.pipelines import (
        publish_versioned,
        read_version,
        table_changes,
        update_rows_cow,
    )

    base = str(tmp_path / "lake")
    v0 = publish_versioned(
        spark.createDataFrame(
            [(1, "a", 0.5)] * 3 + [(2, "b", 1.0), (3, None, None)],
            _BAIT_SCHEMA,
        ),
        base,
    )
    v1, _, _ = update_rows_cow(
        spark, base, "k", [1, 3], {"_d": F.col("_d") + 1.0}
    )
    return (
        table_changes(spark, base, v0, v1),
        read_version(spark, base, v0)[0],
        read_version(spark, base, v1)[0],
        F.lit(v1).cast("long").alias("_commit_version"),
    )


@pytest.mark.parametrize(
    "build",
    [_iceberg_merge_feed, _iceberg_overwrite_3to1_feed, _home_cow_update_feed],
    ids=["iceberg_merge", "iceberg_overwrite_3to1", "home_cow_update"],
)
def test_iceberg_overwrite_diff_equals_exceptall(
    spark, sf_small, tmp_path, build
):
    """Commits without row lineage feed the change set from ONE
    signed-count aggregation (tablecore.multiset_diff: union ±1 →
    groupBy → replicate |Δ|) instead of two exceptAll pipelines that
    scanned both resolved snapshots twice. Pin exact multiset equality
    against the exceptAll form — also when data columns are named like
    the diff's helper columns, and when a row goes from three copies to
    one (exactly two delete rows) — and, on the home lake, that the
    feed scans each snapshot once."""
    feed, before, after, version = build(spark, sf_small, tmp_path)
    if build is _home_cow_update_feed:  # the plan before AQE re-plans
        plan = feed._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 2, plan
    cols = before.columns
    got = sorted(map(tuple, feed.collect()))
    ref = (
        after.exceptAll(before)
        .select(*cols, F.lit("insert").alias("_change_type"))
        .unionAll(
            before.exceptAll(after)
            .select(*cols, F.lit("delete").alias("_change_type"))
        )
        .select("*", version)
    )
    want = sorted(map(tuple, ref.collect()))
    assert got == want and len(got) > 0
    if build is _iceberg_overwrite_3to1_feed:
        assert [r[-2] for r in got] == ["delete", "delete"]


def test_percentile_order_stats_ignore_nulls(spark, tmp_path):
    """agg_stats_moments' order-statistics percentile must match
    F.percentile's NULL handling (ignore them) — round-15 ADVICE fix.
    Build a lineitem with NULL l_extendedprice rows and compare the
    percentile columns against the plain F.percentile aggregate."""
    from novelti_dingo_spark.operators.extras import agg_stats_moments

    sf = str(tmp_path / "nullsf")
    os.makedirs(sf)
    rows = [
        ("A", float(q), float(p))
        for q, p in [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]
    ] + [("A", 5.0, None), ("B", 1.0, 7.0), ("B", 2.0, None)] + [
        ("C", 3.0, None)  # all-NULL group: kept, NULL percentiles
    ]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    full = schemas.TABLES["lineitem"]
    base = spark.createDataFrame([], full)
    cols = [
        F.col(c) if c in li.columns else F.lit(None).cast(f.dataType).alias(c)
        for c, f in zip(base.schema.names, base.schema.fields)
    ]
    li.select(*cols).write.parquet(os.path.join(sf, "lineitem.parquet"))
    got = {
        r["l_returnflag"]: (r["price_median"], r["price_p90"])
        for r in agg_stats_moments(spark, sf).collect()
    }
    want = {
        r["l_returnflag"]: (r["m"], r["p"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("m"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p"),
        )
        .collect()
    }
    assert got == want
