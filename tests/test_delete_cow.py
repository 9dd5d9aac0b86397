"""Copy-on-write surgical delete (pipelines.delete_rows_cow): only
files that can contain the doomed keys are rewritten, the rest are
byte-copied; prior versions keep the rows (time travel = retention
ledger); chains and partitioned snapshots are rejected with guidance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from novelti_dingo_spark.pipelines import (
    build_file_index,
    delete_rows_cow,
    publish_append,
    publish_versioned,
    read_version,
)
from novelti_dingo_spark.sources import lakefs, load_table


def _publish_orders(spark, sf_small, base, n_files=4, **kw):
    o = load_table(spark, sf_small, "orders").repartitionByRange(
        n_files, "o_orderkey"
    )
    publish_versioned(o, base, **kw)
    return load_table(spark, sf_small, "orders")


def test_indexed_delete_rewrites_only_matching_files(
    spark, sf_small, tmp_path
):
    base = str(tmp_path / "lake")
    o = _publish_orders(spark, sf_small, base)
    build_file_index(spark, base, "o_orderkey")
    keys = [r.o_orderkey for r in o.limit(3).collect()]
    v, n_rw, n_cp = delete_rows_cow(spark, base, "o_orderkey", keys)
    assert v == 2
    # range-clustered on the key: 3 nearby keys live in few files
    assert 1 <= n_rw < n_rw + n_cp == 4
    df, manifest = read_version(spark, base)
    assert df.filter(F.col("o_orderkey").isin(keys)).count() == 0
    assert df.count() == o.count() - len(keys)
    assert manifest["deleted"]["files_rewritten"] == n_rw
    assert manifest["rows"] == o.count() - len(keys)
    # the untouched files were byte-copied with identical names
    v1_files = set(lakefs.listdir(spark, f"{base}/v=1"))
    v2_files = set(lakefs.listdir(spark, f"{base}/v=2"))
    copied_names = {
        n for n in v1_files if n.endswith(".parquet")
    } & v2_files
    assert len(copied_names) >= n_cp


def test_stats_fallback_prunes_rewrites(spark, sf_small, tmp_path):
    base = str(tmp_path / "lake")
    o = _publish_orders(
        spark, sf_small, base, stats_cols=["o_orderkey"]
    )
    lo = o.agg(F.min("o_orderkey")).head()[0]
    v, n_rw, n_cp = delete_rows_cow(spark, base, "o_orderkey", [lo])
    assert n_rw == 1 and n_cp == 3  # min key lives in exactly one range file
    df, manifest = read_version(spark, base)
    assert df.filter(F.col("o_orderkey") == lo).count() == 0
    # file_stats were REGENERATED for the new version (pruning survives)
    assert manifest["file_stats"]["columns"] == ["o_orderkey"]


def test_old_version_keeps_rows_until_vacuum(spark, sf_small, tmp_path):
    base = str(tmp_path / "lake")
    o = _publish_orders(spark, sf_small, base)
    key = o.limit(1).head().o_orderkey
    delete_rows_cow(spark, base, "o_orderkey", [key])
    old, _ = read_version(spark, base, version=1)
    assert old.filter(F.col("o_orderkey") == key).count() == 1


def test_cow_version_gets_fresh_published_ts(spark, sf_small, tmp_path):
    """The rewrite must NOT inherit the source version's published_ts:
    a timestamp BEFORE the delete has to time-travel to the pre-delete
    snapshot, never the post-delete one (ties break to higher versions,
    so an inherited timestamp would shadow v1 forever)."""
    from novelti_dingo_spark.pipelines import read_as_of

    base = str(tmp_path / "lake")
    o = _publish_orders(spark, sf_small, base)
    import json

    from novelti_dingo_spark.sources import lakefs

    m1 = json.loads(lakefs.read_text(spark, f"{base}/v=1/_manifest.json"))
    key = o.limit(1).head().o_orderkey
    delete_rows_cow(spark, base, "o_orderkey", [key])
    m2 = json.loads(lakefs.read_text(spark, f"{base}/v=2/_manifest.json"))
    assert m2["published_ts"] > m1["published_ts"]
    assert "compacted_from" not in m2 and "column_stats" not in m2
    # as-of the ORIGINAL publish time resolves the pre-delete snapshot
    df, m = read_as_of(spark, base, m1["published_ts"])
    assert m["version"] == 1
    assert df.filter(F.col("o_orderkey") == key).count() == 1


def test_chain_and_partitioned_rejected(spark, sf_small, tmp_path):
    o = load_table(spark, sf_small, "orders")
    chain_base = str(tmp_path / "chain")
    publish_versioned(o.limit(10), chain_base)
    publish_append(o.limit(5), chain_base)
    with pytest.raises(ValueError, match="compact_chain"):
        delete_rows_cow(spark, chain_base, "o_orderkey", [1])
    part_base = str(tmp_path / "part")
    publish_versioned(
        o.withColumn("y", F.year("o_orderdate")),
        part_base,
        partition_by=["y"],
    )
    with pytest.raises(ValueError, match="flat snapshots"):
        delete_rows_cow(spark, part_base, "o_orderkey", [1])


def test_update_cow_anonymizes_in_place(spark, sf_small, tmp_path):
    from novelti_dingo_spark.pipelines import update_rows_cow

    base = str(tmp_path / "lake")
    o = _publish_orders(spark, sf_small, base)
    build_file_index(spark, base, "o_orderkey")
    keys = [r.o_orderkey for r in o.limit(3).collect()]
    v, n_rw, n_cp = update_rows_cow(
        spark,
        base,
        "o_orderkey",
        keys,
        {"o_custkey": F.lit(-1), "o_totalprice": F.lit(0.0)},
    )
    assert v == 2 and 1 <= n_rw < 4
    df, manifest = read_version(spark, base)
    assert df.count() == o.count()  # update never drops rows
    hit = df.filter(F.col("o_orderkey").isin(keys))
    assert hit.count() == len(keys)
    assert hit.filter(
        (F.col("o_custkey") != -1) | (F.col("o_totalprice") != 0.0)
    ).count() == 0
    # untouched rows identical
    rest = df.filter(~F.col("o_orderkey").isin(keys))
    want = o.filter(~F.col("o_orderkey").isin(keys))
    assert sorted(map(tuple, rest.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert manifest["updated"]["columns"] == ["o_custkey", "o_totalprice"]
    assert df.schema == o.schema  # types preserved through the rewrite


def test_update_cow_refuses_unknown_column(spark, tmp_path):
    """An assignment to a column the schema lacks raises before any
    write: no new version, LATEST unchanged."""
    from novelti_dingo_spark.pipelines import update_rows_cow

    base = str(tmp_path / "lake")
    publish_versioned(
        spark.createDataFrame([(1, 2.0), (2, 3.0)], "k long, x double"),
        base,
    )
    with pytest.raises(ValueError, match="not in the schema"):
        update_rows_cow(spark, base, "k", [1], {"nope": F.lit(0)})
    assert lakefs.read_text(spark, f"{base}/LATEST").strip() == "1"
    assert not lakefs.exists(spark, f"{base}/v=2")


def test_unindexed_unstatted_version_rewrites_everything(
    spark, sf_small, tmp_path
):
    base = str(tmp_path / "lake")
    o = _publish_orders(spark, sf_small, base)
    key = o.limit(1).head().o_orderkey
    v, n_rw, n_cp = delete_rows_cow(spark, base, "o_orderkey", [key])
    assert n_rw == 4 and n_cp == 0  # conservative: no targeting metadata
    df, _ = read_version(spark, base)
    assert df.count() == o.count() - 1


# --- merge-on-read deletes --------------------------------------------------


def test_mor_delete_resolves_without_rewriting(spark, sf_small, tmp_path):
    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        lakefs_list_parquet,
        read_version,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = str(tmp_path / "ds")
    publish_versioned(o, base)
    doomed = [r.o_orderkey for r in o.limit(7).collect()]
    v2, n_del = delete_rows_mor(spark, base, "o_orderkey", doomed)
    assert v2 == 2 and n_del == 7
    # the MOR version directory holds ONLY the delete vector
    assert lakefs_list_parquet(spark, f"{base}/v=2") == []
    got, manifest = read_version(spark, base)
    assert manifest["mor_delete"]["n_rows_deleted"] == 7
    assert got.count() == o.count() - 7
    assert got.filter(F.col("o_orderkey").isin(doomed)).count() == 0
    # time travel: the parent still has the rows
    prev, _ = read_version(spark, base, 1)
    assert prev.count() == o.count()


def test_mor_layers_stack_and_materialize(spark, sf_small, tmp_path):
    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        materialize_mor,
        read_version,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey"
    )
    base = str(tmp_path / "ds")
    publish_versioned(o, base)
    keys = sorted(r.o_orderkey for r in o.limit(20).collect())
    delete_rows_mor(spark, base, "o_orderkey", keys[:10])
    v3, n2 = delete_rows_mor(spark, base, "o_orderkey", keys[5:20])
    assert n2 == 10  # 5 keys were already deleted by the first layer
    got, _ = read_version(spark, base)
    assert got.count() == o.count() - 20
    v4 = materialize_mor(spark, base)
    got2, m4 = read_version(spark, base)
    assert "mor_delete" not in m4 and m4["version"] == v4
    assert got2.count() == o.count() - 20
    assert (
        got2.filter(F.col("o_orderkey").isin(keys)).count() == 0
    )


def test_mor_pruned_read_applies_vectors(spark, sf_small, tmp_path):
    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        read_version_pruned,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = str(tmp_path / "ds")
    publish_versioned(
        o.repartitionByRange(6, "o_orderkey"), base,
        stats_cols=["o_orderkey"],
    )
    doomed = [r.o_orderkey for r in o.filter(
        F.col("o_orderkey").between(100, 200)
    ).limit(5).collect()]
    delete_rows_mor(spark, base, "o_orderkey", doomed)
    got, total, n_read = read_version_pruned(
        spark, base, "o_orderkey", 100, 200
    )
    want = o.filter(
        F.col("o_orderkey").between(100, 200)
        & ~F.col("o_orderkey").isin(doomed)
    )
    assert got.count() == want.count()
    assert n_read < total, "file skipping must survive the MOR layer"


def test_vacuum_protects_mor_data_ancestor(spark, sf_small, tmp_path):
    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        read_version,
        vacuum_versions,
    )

    o = load_table(spark, sf_small, "orders").select("o_orderkey")
    base = str(tmp_path / "ds")
    publish_versioned(o, base)  # v1 = the data files
    delete_rows_mor(spark, base, "o_orderkey", [1])  # v2
    delete_rows_mor(spark, base, "o_orderkey", [2])  # v3 (LATEST)
    deleted = vacuum_versions(spark, base, keep_last=1)
    # v1 (data) and v2 (intermediate vector) must survive for v3
    assert deleted == []
    got, _ = read_version(spark, base)
    assert got.filter(F.col("o_orderkey").isin([1, 2])).count() == 0


def test_mor_delete_over_append_chain(spark, sf_small, tmp_path):
    """The vector applies to the RESOLVED chain: delete from a growing
    chain without compacting; pruned chain reads subtract it too;
    appending onto the vector is refused (the chain walk would bypass
    it); vacuum keeps the whole chain behind the vector."""
    import pytest

    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        materialize_mor,
        publish_append,
        read_chain_pruned,
        read_version_chain,
        vacuum_versions,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = str(tmp_path / "ds")
    publish_versioned(o.filter(F.col("o_orderkey") % 2 == 0), base)  # v1
    publish_append(o.filter(F.col("o_orderkey") % 2 == 1), base)  # v2
    doomed = [r.o_orderkey for r in o.limit(9).collect()]
    v3, n_del = delete_rows_mor(spark, base, "o_orderkey", doomed)
    assert (v3, n_del) == (3, 9)
    got, manifests = read_version_chain(spark, base)
    assert got.count() == o.count() - 9
    assert got.filter(F.col("o_orderkey").isin(doomed)).count() == 0
    assert manifests[0]["mor_delete"]["parent"] == 2
    # pruned chain read through the vector
    pruned, total, n_read = read_chain_pruned(
        spark, base, "o_orderkey", 0, 10_000_000
    )
    assert pruned.count() == o.count() - 9
    # appending onto the vector is refused
    with pytest.raises(ValueError, match="materialize_mor"):
        publish_append(o.limit(3), base)
    # vacuum protects v1+v2 (chain) and v3 (vector)
    assert vacuum_versions(spark, base, keep_last=1) == []
    # materialize folds chain + vector into one physical snapshot and
    # re-enables appends
    materialize_mor(spark, base)
    publish_append(o.filter(F.col("o_orderkey").isin(doomed)), base)
    got2, _ = read_version_chain(spark, base)
    assert got2.count() == o.count()


def test_mor_time_travel_by_timestamp(spark, sf_small, tmp_path):
    """A MOR commit carries its OWN published_ts: as-of a pre-delete
    instant resolves the parent (rows present), as-of now resolves the
    vector (rows gone)."""
    import time

    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        publish_versioned,
        read_as_of,
    )

    o = load_table(spark, sf_small, "orders").select("o_orderkey")
    base = str(tmp_path / "ds")
    publish_versioned(o, base)
    time.sleep(0.05)
    from datetime import datetime, timezone

    before = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    time.sleep(0.05)
    delete_rows_mor(spark, base, "o_orderkey", [1, 3])
    after = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    df_before, m1 = read_as_of(spark, base, before)
    assert m1["version"] == 1 and df_before.count() == o.count()
    df_after, m2 = read_as_of(spark, base, after)
    assert m2["version"] == 2 and df_after.count() == o.count() - 2


def test_index_refuses_mor_head_but_cow_folds(spark, sf_small, tmp_path):
    """File-index builds on a MOR head are refused (an index over the
    parent's files would resurface deleted rows). COW mutations on a
    MOR head are NOT refused anymore — they fold the vector stack into
    one fused rewrite commit (behavior pinned in
    tests/test_pos_delete.py::test_cow_over_mor_folds_stack); here we
    just pin that the fold result is correct on the equality kind."""
    import pytest

    from novelti_dingo_spark.pipelines import (
        build_file_index,
        delete_rows_cow,
        delete_rows_mor,
        publish_versioned,
        read_version,
    )
    from pyspark.sql import functions as F

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = str(tmp_path / "ds")
    publish_versioned(o, base)
    delete_rows_mor(spark, base, "o_orderkey", [1])
    with pytest.raises(ValueError, match="materialize_mor"):
        build_file_index(spark, base, "o_orderkey")
    delete_rows_cow(spark, base, "o_orderkey", [2])
    df, m = read_version(spark, base)
    assert df.filter(F.col("o_orderkey").isin([1, 2])).count() == 0
    assert df.count() == o.count() - 2
    # the fused commit is a physical snapshot again: indexing works now
    build_file_index(spark, base, "o_orderkey")


def test_point_lookup_through_mor_vector(spark, sf_small, tmp_path):
    """Chain point lookups resolve MOR heads: a deleted key returns
    zero rows (not its parent-version ghost), a surviving key still
    resolves through the per-segment indexes."""
    from novelti_dingo_spark.pipelines import (
        build_file_index,
        delete_rows_mor,
        publish_append,
        publish_versioned,
        read_point_lookup_chain,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = str(tmp_path / "ds")
    v1 = publish_versioned(o.filter(F.col("o_orderkey") % 2 == 0), base)
    v2 = publish_append(o.filter(F.col("o_orderkey") % 2 == 1), base)
    build_file_index(spark, base, "o_orderkey", version=v1)
    build_file_index(spark, base, "o_orderkey", version=v2)
    alive, dead = 8, 12
    delete_rows_mor(spark, base, "o_orderkey", [dead])
    got_alive, _, _ = read_point_lookup_chain(
        spark, base, "o_orderkey", alive
    )
    assert got_alive.count() == 1
    got_dead, _, _ = read_point_lookup_chain(
        spark, base, "o_orderkey", dead
    )
    assert got_dead.count() == 0
