"""Clean-room Delta transaction-log reader/writer (public protocol):
spec-shaped commits, add/remove reconciliation, time travel, overwrite
semantics, log-level partition pruning, and loud failures on protocol
features beyond the reader."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from novelti_dingo_spark.sources import load_table
from novelti_dingo_spark.sources.delta_log import (
    DeltaLogError,
    UnsupportedDeltaFeature,
    delta_table_version,
    read_delta_table,
    write_delta_table,
)


def test_delta_roundtrip_and_log_shape(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    v = write_delta_table(s, base)
    assert v == 0 and delta_table_version(base) == 0

    # value-exact roundtrip, every column every row
    back = read_delta_table(spark, base)
    assert back.schema == s.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, s.collect()))

    # the commit file is spec-shaped newline-delimited JSON actions
    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(x) for x in open(log0) if x.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    assert kinds[-1] == "commitInfo"
    proto = actions[0]["protocol"]
    assert proto["minReaderVersion"] == 1
    meta = actions[1]["metaData"]
    assert meta["format"]["provider"] == "parquet"
    assert meta["partitionColumns"] == []
    # schemaString parses back to the exact Spark schema
    from pyspark.sql.types import StructType

    assert StructType.fromJson(json.loads(meta["schemaString"])) == s.schema
    adds = [a["add"] for a in actions if "add" in a]
    assert adds
    for a in adds:
        assert not a["path"].startswith("/")  # relative, spec §Add
        assert a["size"] == os.path.getsize(os.path.join(base, a["path"]))
        assert a["dataChange"] is True
        assert a["partitionValues"] == {}


def test_delta_append_overwrite_and_time_travel(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    even = s.filter(F.col("s_suppkey") % 2 == 0)
    odd = s.filter(F.col("s_suppkey") % 2 == 1)
    assert write_delta_table(even, base) == 0
    assert write_delta_table(odd, base, mode="append") == 1
    assert read_delta_table(spark, base).count() == s.count()
    # time travel to v0: only the first commit's files
    assert read_delta_table(spark, base, version=0).count() == even.count()

    # overwrite supplants everything: removes for every prior file
    small = s.limit(3)
    assert write_delta_table(small, base, mode="overwrite") == 2
    assert read_delta_table(spark, base).count() == 3
    log2 = os.path.join(base, "_delta_log", f"{2:020d}.json")
    actions = [json.loads(x) for x in open(log2) if x.strip()]
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    prior_adds = set()
    for v in (0, 1):
        logv = os.path.join(base, "_delta_log", f"{v:020d}.json")
        prior_adds |= {
            a["add"]["path"]
            for a in (json.loads(x) for x in open(logv) if x.strip())
            if "add" in a
        }
    assert removed == prior_adds
    # pre-overwrite versions stay readable (pinned snapshots)
    assert read_delta_table(spark, base, version=1).count() == s.count()
    assert read_delta_table(spark, base, version=0).count() == even.count()

    with pytest.raises(ValueError):
        write_delta_table(s, base, mode="errorifexists")
    with pytest.raises(DeltaLogError):
        read_delta_table(spark, base, version=99)


def test_delta_partitioned_write_read_and_pruning(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, partition_by=["s_nationkey"])

    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(x) for x in open(log0) if x.strip()]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["partitionColumns"] == ["s_nationkey"]
    adds = [a["add"] for a in actions if "add" in a]
    # spec: partitionValues are STRINGS, and the value also appears in
    # the hive-style path our writer lays out
    for a in adds:
        pv = a["partitionValues"]["s_nationkey"]
        assert isinstance(pv, str) and f"s_nationkey={pv}/" in a["path"]
    # the partition column is NOT in the data files themselves
    one = os.path.join(base, adds[0]["path"])
    import pyarrow.parquet as pq

    assert "s_nationkey" not in pq.read_schema(one).names

    # full read re-injects the typed column and matches the source
    back = read_delta_table(spark, base)
    assert dict(back.dtypes)["s_nationkey"] == dict(s.dtypes)["s_nationkey"]
    assert sorted(map(tuple, back.select(*s.columns).collect())) == sorted(
        map(tuple, s.collect())
    )

    # partition_filter prunes the FILE LIST before the scan
    pruned = read_delta_table(
        spark, base, partition_filter={"s_nationkey": 3}
    )
    want = s.filter(F.col("s_nationkey") == 3)
    assert sorted(map(tuple, pruned.select(*s.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    keep = {
        os.path.join(base, a["path"])
        for a in adds
        if a["partitionValues"]["s_nationkey"] == "3"
    }
    assert {f.replace("file://", "") for f in pruned.inputFiles()} == keep

    with pytest.raises(ValueError):
        read_delta_table(spark, base, partition_filter={"s_comment": "x"})


def test_delta_reader_fails_loud_not_wrong(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").limit(5)
    write_delta_table(s, base)

    # unknown action types in a foreign commit are ignored (forward
    # compatibility the spec requires) — reads still work
    write_delta_table(s, base, mode="append")
    log1 = os.path.join(base, "_delta_log", f"{1:020d}.json")
    with open(log1, "a") as f:
        f.write(json.dumps({"txn": {"appId": "x", "version": 1}}) + "\n")
        f.write(json.dumps({"someFutureAction": {"k": 1}}) + "\n")
    assert read_delta_table(spark, base).count() == 10

    # protocol v3 (deletion vectors / column mapping): loud refusal
    base2 = str(tmp_path / "v3")
    write_delta_table(s, base2)
    log0 = os.path.join(base2, "_delta_log", f"{0:020d}.json")
    lines = open(log0).read().splitlines()
    lines[0] = json.dumps(
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}
    )
    open(log0, "w").write("\n".join(lines) + "\n")
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta_table(spark, base2)

    # checkpoint-only history (early JSON vacuumed): loud refusal
    base3 = str(tmp_path / "vac")
    write_delta_table(s, base3)
    write_delta_table(s, base3, mode="append")
    os.remove(os.path.join(base3, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(DeltaLogError):
        read_delta_table(spark, base3)

    # not a delta table at all
    with pytest.raises(DeltaLogError):
        read_delta_table(spark, str(tmp_path / "nope"))


def test_delta_checkpoint_replay_after_log_cleanup(spark, sf_small, tmp_path):
    """Spec checkpoints: after write_delta_checkpoint, deleting the
    early JSON commits (log-retention cleanup) leaves the table fully
    readable — state seeds from the checkpoint parquet, later JSON
    commits replay on top, and partition semantics survive the
    roundtrip. Time travel below the oldest reachable state stays a
    loud error."""
    from novelti_dingo_spark.sources.delta_log import (
        delta_table_version,
        write_delta_checkpoint,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    even = s.filter(F.col("s_suppkey") % 2 == 0)
    odd = s.filter(F.col("s_suppkey") % 2 == 1)
    write_delta_table(even, base, partition_by=["s_nationkey"])
    write_delta_table(odd, base, mode="append", partition_by=["s_nationkey"])
    assert write_delta_checkpoint(base) == 1
    assert os.path.exists(
        os.path.join(base, "_delta_log", "_last_checkpoint")
    )

    # retention cleanup: the JSON history disappears
    for v in (0, 1):
        os.remove(os.path.join(base, "_delta_log", f"{v:020d}.json"))

    assert delta_table_version(base) == 1
    back = read_delta_table(spark, base)
    assert sorted(map(tuple, back.select(*s.columns).collect())) == sorted(
        map(tuple, s.collect())
    )
    # a later JSON commit replays on top of the checkpoint seed
    write_delta_table(
        s.limit(4), base, mode="overwrite", partition_by=["s_nationkey"]
    )
    assert read_delta_table(spark, base).count() == 4
    # pruning still works from checkpoint-seeded partitionValues
    pruned = read_delta_table(
        spark, base, version=1, partition_filter={"s_nationkey": 3}
    )
    want = s.filter(F.col("s_nationkey") == 3)
    assert sorted(map(tuple, pruned.select(*s.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    # v0's JSON is gone and no checkpoint covers it → loud error
    with pytest.raises(DeltaLogError):
        read_delta_table(spark, base, version=0)


def test_export_versioned_lake_version_for_version(spark, sf_small, tmp_path):
    """The repo's own lake exports to Delta one commit per lake
    version, idempotently: re-export skips the already-committed
    prefix, new lake versions land as new Delta commits, and every
    exported snapshot is value-exact vs its lake source."""
    from novelti_dingo_spark.pipelines import publish_versioned, read_version
    from novelti_dingo_spark.sources.delta_log import (
        delta_table_version,
        export_versioned_lake_to_delta,
    )

    lake = str(tmp_path / "lake")
    delta = str(tmp_path / "delta")
    s = load_table(spark, sf_small, "supplier")
    publish_versioned(s.filter(F.col("s_suppkey") % 2 == 0), lake)
    publish_versioned(s, lake)
    mapping = export_versioned_lake_to_delta(spark, lake, delta)
    assert mapping == {1: 0, 2: 1}
    for lv, dv in mapping.items():
        want, _ = read_version(spark, lake, lv)
        got = read_delta_table(spark, delta, version=dv)
        assert sorted(map(tuple, got.select(*want.columns).collect())) == (
            sorted(map(tuple, want.collect()))
        )
    # idempotent: nothing re-exports
    assert export_versioned_lake_to_delta(spark, lake, delta) == mapping
    assert delta_table_version(delta) == 1
    # incremental: a third lake version lands as delta version 2
    publish_versioned(s.limit(3), lake)
    m3 = export_versioned_lake_to_delta(spark, lake, delta)
    assert m3 == {1: 0, 2: 1, 3: 2}
    assert read_delta_table(spark, delta).count() == 3


def test_delta_partition_values_unescaped_and_null_sentinel(spark, tmp_path):
    """Round-13 ADVICE fixes: partitionValues in the log hold the REAL
    values — Hive URL-escaping undone ('a b', 'x=y', '10:30' survive),
    nulls recorded as JSON null (not the __HIVE_DEFAULT_PARTITION__
    sentinel string) — and partition_filter matches None against JSON
    null and booleans against the spec's lowercase serialization."""
    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (1, "a b"),
            (2, "x=y"),
            (3, "10:30"),
            (4, None),
        ],
        "id int, k string",
    )
    write_delta_table(df, base, partition_by=["k"])

    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    pvs = [
        json.loads(x)["add"]["partitionValues"]["k"]
        for x in open(log0)
        if x.strip() and "add" in json.loads(x)
    ]
    assert sorted(pvs, key=lambda v: (v is None, v)) == [
        "10:30", "a b", "x=y", None
    ]

    # values round-trip exactly through the injected partition column
    back = read_delta_table(spark, base)
    assert sorted(
        map(tuple, back.collect()), key=lambda t: t[0]
    ) == [(1, "a b"), (2, "x=y"), (3, "10:30"), (4, None)]

    # None filter matches the JSON-null partition
    got = read_delta_table(spark, base, partition_filter={"k": None})
    assert [tuple(r) for r in got.collect()] == [(4, None)]
    got2 = read_delta_table(spark, base, partition_filter={"k": "a b"})
    assert [tuple(r) for r in got2.collect()] == [(1, "a b")]

    # boolean partitions serialize lowercase; True must match "true"
    base2 = str(tmp_path / "b")
    bdf = spark.createDataFrame(
        [(1, True), (2, False)], "id int, flag boolean"
    )
    write_delta_table(bdf, base2, partition_by=["flag"])
    log0b = os.path.join(base2, "_delta_log", f"{0:020d}.json")
    bpvs = {
        json.loads(x)["add"]["partitionValues"]["flag"]
        for x in open(log0b)
        if x.strip() and "add" in json.loads(x)
    }
    assert bpvs == {"true", "false"}
    gotb = read_delta_table(spark, base2, partition_filter={"flag": True})
    assert [tuple(r) for r in gotb.collect()] == [(1, True)]


def test_delta_append_validates_against_metadata(spark, sf_small, tmp_path):
    """Round-13 ADVICE fix: a write into an existing table must match
    the recorded metaData — different partition_by or schema raises
    instead of committing adds whose partitionValues silently read as
    nulls."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, partition_by=["s_nationkey"])

    # append without the table's partitioning → loud error
    with pytest.raises(DeltaLogError):
        write_delta_table(s, base, mode="append")
    # append with a different schema → loud error
    with pytest.raises(DeltaLogError):
        write_delta_table(
            s.withColumn("extra", F.lit(1)), base, mode="append",
            partition_by=["s_nationkey"],
        )
    # conforming append still works
    write_delta_table(
        s, base, mode="append", partition_by=["s_nationkey"]
    )
    assert read_delta_table(spark, base).count() == 2 * s.count()


def test_delta_deletion_vectors_roundtrip(spark, sf_small, tmp_path):
    """Round-13: deletion vectors, both directions.
    delete_rows_from_delta_table commits a merge-on-read DELETE —
    remove + DV-bearing re-add per affected file over untouched data
    files, protocol upgraded to v3 with the deletionVectors feature —
    and reads skip exactly the bitmap'd ordinals via the broadcast
    anti-join. Time travel to the pre-delete version still reads
    everything; a second delete MERGES into the existing DVs."""
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").repartition(3)
    write_delta_table(s, base)
    v1 = delete_rows_from_delta_table(spark, base, "s_suppkey % 3 = 0")
    assert v1 == 1

    got = read_delta_table(spark, base)
    want = s.filter("s_suppkey % 3 <> 0")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # pre-delete version unaffected (merge-on-read, files untouched)
    assert read_delta_table(spark, base, version=0).count() == s.count()

    # the commit is spec-shaped: protocol v3 + deletionVectors feature,
    # DV adds carry storageType 'u' descriptors, the .bin file exists
    log1 = os.path.join(base, "_delta_log", f"{1:020d}.json")
    actions = [json.loads(x) for x in open(log1) if x.strip()]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert proto["readerFeatures"] == ["deletionVectors"]
    dv_adds = [a["add"] for a in actions if "add" in a]
    assert dv_adds and all(a["deletionVector"] for a in dv_adds)
    dv = dv_adds[0]["deletionVector"]
    assert dv["storageType"] == "u"
    bins = [n for n in os.listdir(base) if n.startswith("deletion_vector_")]
    assert len(bins) == 1
    # removes precede the re-adds for the same paths
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    assert removed == {a["path"] for a in dv_adds}

    # second delete merges (supersedes) per spec — cardinality grows
    delete_rows_from_delta_table(spark, base, "s_suppkey % 3 = 1")
    got2 = read_delta_table(spark, base)
    want2 = s.filter("s_suppkey % 3 = 2")
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )

    # delete matching nothing: no commit
    v_before = delta_table_version(base)
    assert delete_rows_from_delta_table(spark, base, "1 = 0") == v_before
    assert delta_table_version(base) == v_before


def test_delta_update_does_not_resurrect_dv_deleted_rows(
    spark, tmp_path
):
    """Regression (round-14): the row-level verbs' keyed scan must
    skip rows already dead under existing deletion vectors — without
    the anti-join, an UPDATE whose condition matched a
    previously-deleted row re-appended it (resurrection), and a
    second DELETE re-recorded it in the change feed."""
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        update_delta_table_rows,
    )

    base = str(tmp_path / "t")
    df = spark.range(10).selectExpr("id", "id * 10 AS val")
    write_delta_table(df.coalesce(1), base)
    delete_rows_from_delta_table(spark, base, "id = 3")
    update_delta_table_rows(spark, base, "id < 5", {"val": "val + 1"})
    rows = sorted(
        (r.id, r.val) for r in read_delta_table(spark, base).collect()
    )
    assert all(i != 3 for i, _ in rows)
    assert rows[:3] == [(0, 1), (1, 11), (2, 21)]
    # a delete over an already-dead row commits nothing new for it:
    # the update above rewrote ids 0,1,2,4 — delete id<=3 now kills
    # only 0,1,2 (3 stays dead, not double-counted)
    delete_rows_from_delta_table(spark, base, "id <= 3")
    left = sorted(
        r.id for r in read_delta_table(spark, base).collect()
    )
    assert left == [4, 5, 6, 7, 8, 9]


def test_delta_oversized_dv_relation_falls_back_to_shuffle(
    spark, sf_small, tmp_path, monkeypatch
):
    """Round-14 (verdict #7, Delta half): past
    DELETE_BROADCAST_MAX_ROWS — summed from the descriptors'
    cardinality fields, before any bitmap decode — the deleted
    ordinals spill to a temp parquet one DV at a time and the
    anti-join plans WITHOUT the broadcast hint, so a foreign table
    shipping millions of DV rows can neither OOM the executors on a
    giant broadcast nor serialize millions of tuples through py4j.
    Results are identical on both strategies."""
    from novelti_dingo_spark.sources import tablecore
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").repartition(3)
    write_delta_table(s, base)
    delete_rows_from_delta_table(spark, base, "s_suppkey % 2 = 0")
    want = sorted(
        map(tuple, s.filter("s_suppkey % 2 <> 0").collect())
    )

    big = read_delta_table(spark, base)  # under threshold: broadcast
    assert (
        "BroadcastHashJoin"
        in big._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(map(tuple, big.collect())) == want

    monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX_ROWS", 0)
    small = read_delta_table(spark, base)
    # no hinted broadcast: the join side is now a parquet relation
    # whose strategy Catalyst picks from its SIZE stats (a tiny spill
    # may still auto-broadcast; a multi-GB foreign one cannot) — the
    # plan must show a parquet scan of the spill, not a LocalTableScan
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "dingo-dv-spill-" in plan
    assert "LocalTableScan" not in plan
    assert sorted(map(tuple, small.collect())) == want


def test_delta_dv_partitioned_checkpoint_and_inline(spark, sf_small, tmp_path):
    """DVs compose with everything around them: a condition referencing
    the (log-only) partition column works; the DV survives a checkpoint
    + JSON cleanup; and the inline ('i') and absolute-path ('p')
    storage types read back identically to 'u'."""
    from novelti_dingo_spark.sources.delta_log import (
        _dv_absolute_path,
        _read_dv_positions,
        delete_rows_from_delta_table,
        write_delta_checkpoint,
    )
    from novelti_dingo_spark.sources.roaring import (
        serialize_roaring64,
        z85_encode,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    key = s.select("s_nationkey").orderBy("s_nationkey").head()[0]
    write_delta_table(s, base, partition_by=["s_nationkey"])
    delete_rows_from_delta_table(
        spark, base, f"s_nationkey = {key} OR s_suppkey % 4 = 0"
    )
    want = s.filter(f"NOT (s_nationkey = {key} OR s_suppkey % 4 = 0)")
    got = read_delta_table(spark, base)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # partition pruning composes with DV application
    pf = read_delta_table(spark, base, partition_filter={"s_nationkey": key})
    assert pf.count() == 0

    # checkpoint carries the DV descriptors; early JSON removable
    cp = write_delta_checkpoint(base)
    for v in range(cp):
        os.remove(os.path.join(base, "_delta_log", f"{v:020d}.json"))
    got_cp = read_delta_table(spark, base)
    assert sorted(map(tuple, got_cp.collect())) == sorted(
        map(tuple, want.collect())
    )

    # inline and absolute-path storage types: rewrite one DV add to
    # 'i' (z85 of the same bitmap) and then 'p' — same rows back
    last = delta_table_version(base)
    log = os.path.join(base, "_delta_log", f"{last:020d}.json")

    def rewrite(transform):
        cp_actions = [json.loads(x) for x in open(log) if x.strip()]
        out = []
        for a in cp_actions:
            if "add" in a and a["add"].get("deletionVector"):
                a = {"add": {**a["add"], "deletionVector": transform(
                    a["add"]["deletionVector"]
                )}}
            out.append(a)
        with open(log, "w") as f:
            for a in out:
                f.write(json.dumps(a) + "\n")

    # the checkpoint seeded state; add a fresh commit so JSON wins
    def to_inline(dv):
        pos = _read_dv_positions(base, dv)
        data = serialize_roaring64(pos)
        pad = (-len(data)) % 4
        return {
            "storageType": "i",
            "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
            "sizeInBytes": len(data),
            "cardinality": int(len(pos)),
        }

    def to_abs(dv):
        return {**dv, "storageType": "p",
                "pathOrInlineDv": _dv_absolute_path(base, dv)}

    import shutil

    for transform in (to_inline, to_abs):
        base2 = str(tmp_path / f"v_{transform.__name__}")
        shutil.copytree(base, base2)
        log2 = os.path.join(
            base2, "_delta_log", f"{delta_table_version(base2):020d}.json"
        )
        cp_pq = [
            n
            for n in os.listdir(os.path.join(base2, "_delta_log"))
            if n.endswith(".checkpoint.parquet")
        ]
        # rewrite the checkpoint's sibling JSON? The DV adds live in the
        # checkpoint now — simplest: read current state and rewrite as a
        # fresh JSON commit with transformed descriptors
        import pyarrow.parquet as pq

        cp_rows = pq.read_table(
            os.path.join(base2, "_delta_log", cp_pq[0])
        ).to_pylist()
        nxt = delta_table_version(base2) + 1
        with open(
            os.path.join(base2, "_delta_log", f"{nxt:020d}.json"), "w"
        ) as f:
            for r in cp_rows:
                a = r.get("add")
                if a and a.get("deletionVector"):
                    dv = dict(a["deletionVector"])
                    if transform is to_abs:
                        dv = to_abs(dv)
                    else:
                        dv = to_inline(dv)
                    f.write(json.dumps({"add": {
                        "path": a["path"],
                        "partitionValues": dict(a["partitionValues"]),
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        "dataChange": False,
                        "deletionVector": dv,
                    }}) + "\n")
        got_t = read_delta_table(spark, base2)
        assert sorted(map(tuple, got_t.collect())) == sorted(
            map(tuple, want.collect())
        ), transform.__name__


def test_delta_protocol_v3_feature_gating(spark, sf_small, tmp_path):
    """v3 + deletionVectors/columnMapping reads fine (both implemented
    as of round-14); v3 with any OTHER readerFeature (timestampNtz,
    v2Checkpoint, ...) refuses loudly."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").limit(5)
    write_delta_table(s, base)
    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    lines = open(log0).read().splitlines()
    lines[0] = json.dumps(
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "columnMapping"],
                      "writerFeatures": ["deletionVectors"]}}
    )
    open(log0, "w").write("\n".join(lines) + "\n")
    # columnMapping listed but mode=none in metaData: plain read
    assert read_delta_table(spark, base).count() == 5

    lines[0] = json.dumps(
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors", "timestampNtz"],
                      "writerFeatures": []}}
    )
    open(log0, "w").write("\n".join(lines) + "\n")
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta_table(spark, base)


def test_delta_compaction_purges_deletion_vectors(spark, sf_small, tmp_path):
    """OPTIMIZE after merge-on-read deletes: DV-bearing files rewrite
    without their deleted rows (cost O(deleted-from files) — untouched
    files keep their adds), the new snapshot carries NO deletion
    vectors, reads are value-identical, and time travel to the
    pre-compaction version still applies the DVs."""
    from novelti_dingo_spark.sources.delta_log import (
        _replay,
        compact_delta_table,
        delete_rows_from_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").repartition(3)
    write_delta_table(s, base)
    delete_rows_from_delta_table(spark, base, "s_suppkey % 3 = 0")
    want = sorted(
        map(tuple, s.filter("s_suppkey % 3 <> 0").collect())
    )
    v_dv = delta_table_version(base)

    v_opt = compact_delta_table(spark, base)
    assert v_opt == v_dv + 1
    active, _, _ = _replay(base, None)
    assert not any(a.get("deletionVector") for a in active.values())
    assert sorted(map(tuple, read_delta_table(spark, base).collect())) == want
    # pre-compaction version still reads through its DVs
    assert sorted(
        map(tuple, read_delta_table(spark, base, version=v_dv).collect())
    ) == want
    # v0 still has everything
    assert read_delta_table(spark, base, version=0).count() == s.count()
    # idempotent: nothing left to compact
    assert compact_delta_table(spark, base) == v_opt


def test_delta_vacuum_reclaims_unreferenced_files(spark, sf_small, tmp_path):
    """VACUUM after the full merge-on-read lifecycle (write → DV delete
    → compact): superseded parquet AND the DV .bin become unreferenced
    and are reclaimed; the current read is untouched; retained versions
    stay time-travelable; vacuumed-away versions fail loudly instead of
    returning partial data; dry_run only lists."""
    import os as _os

    from novelti_dingo_spark.sources.delta_log import (
        compact_delta_table,
        delete_rows_from_delta_table,
        vacuum_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").repartition(2)
    write_delta_table(s, base)                                   # v0
    delete_rows_from_delta_table(spark, base, "s_suppkey % 3 = 0")  # v1
    v_opt = compact_delta_table(spark, base)                     # v2
    want = sorted(map(tuple, s.filter("s_suppkey % 3 <> 0").collect()))

    # dry run: lists the superseded originals + the DV bin, deletes none
    listed = vacuum_delta_table(spark, base, dry_run=True)
    assert any(p.startswith("deletion_vector_") for p in listed)
    assert all(_os.path.exists(_os.path.join(base, p)) for p in listed)

    # retain 1 version: v1 needs the ORIGINAL files + DV, so nothing
    # from the v1 state may go; v0 shares those files here
    kept_listed = vacuum_delta_table(spark, base, retain_versions=1)
    assert kept_listed == []
    assert sorted(
        map(tuple, read_delta_table(spark, base, version=v_opt - 1).collect())
    ) == want

    # retain 0: originals + DV reclaimed; current read exact
    gone = vacuum_delta_table(spark, base, retain_versions=0)
    assert sorted(gone) == listed
    assert all(not _os.path.exists(_os.path.join(base, p)) for p in gone)
    assert sorted(map(tuple, read_delta_table(spark, base).collect())) == want

    # pre-horizon time travel now fails loudly (files gone), never
    # silently returns partial data
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_delta_table(spark, base, version=0).collect()


# ------------------------------------------------- column mapping (r14)


def test_delta_column_mapping_roundtrip_physical_names(
    spark, sf_small, tmp_path
):
    """COLUMN MAPPING (round-14 — the round-13 verdict's #2): a table
    created with column_mapping='name' stores uuid physicalNames in the
    parquet footers while reads project back to the logical names,
    value-exact; the protocol commits as minReaderVersion 2."""
    import pyarrow.parquet as pq

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, column_mapping="name")

    log0 = open(os.path.join(base, "_delta_log", f"{0:020d}.json")).read()
    acts = [json.loads(ln) for ln in log0.splitlines()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["configuration"]["delta.columnMapping.mode"] == "name"
    js = json.loads(meta["schemaString"])
    phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in js["fields"]
    }
    assert all(p.startswith("col-") for p in phys.values())

    data_files = [
        n for n in os.listdir(base)
        if n.endswith(".parquet")
    ]
    footer = set(pq.read_schema(os.path.join(base, data_files[0])).names)
    assert footer == set(phys.values())  # physical on disk

    back = read_delta_table(spark, base)
    assert back.columns == s.columns  # logical to callers
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, s.collect())
    )


def test_delta_rename_column_is_metadata_only(spark, sf_small, tmp_path):
    """rename_delta_column: the logical name changes, the physicalName
    and every data file stay — reads see the new name with the old
    values. Renaming on an unmapped table refuses (it would need a
    full rewrite)."""
    from novelti_dingo_spark.sources.delta_log import rename_delta_column

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, column_mapping="name")
    files_before = sorted(
        n for n in os.listdir(base) if n.endswith(".parquet")
    )
    v = rename_delta_column(base, "s_acctbal", "account_balance")
    assert v == 1
    assert sorted(
        n for n in os.listdir(base) if n.endswith(".parquet")
    ) == files_before  # no data touched
    back = read_delta_table(spark, base)
    assert "account_balance" in back.columns
    assert "s_acctbal" not in back.columns
    got = back.agg(F.sum("account_balance")).head()[0]
    assert got == s.agg(F.sum("s_acctbal")).head()[0]
    # appends after the rename route through the mapping
    extra = s.limit(2).withColumnRenamed("s_acctbal", "account_balance")
    write_delta_table(extra, base, mode="append")
    assert read_delta_table(spark, base).count() == s.count() + 2

    base2 = str(tmp_path / "unmapped")
    write_delta_table(s, base2)
    with pytest.raises(UnsupportedDeltaFeature):
        rename_delta_column(base2, "s_name", "supplier_name")


def test_delta_column_mapping_partitioned_physical_values(
    spark, sf_small, tmp_path
):
    """Partitioned mapped table: partitionValues keys and directory
    names are PHYSICAL per protocol, metaData.partitionColumns stay
    logical, and partition_filter speaks logical names."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s, base, partition_by=["s_nationkey"], column_mapping="id"
    )
    log0 = open(os.path.join(base, "_delta_log", f"{0:020d}.json")).read()
    acts = [json.loads(ln) for ln in log0.splitlines()]
    meta = next(a["metaData"] for a in acts if "metaData" in a)
    assert meta["partitionColumns"] == ["s_nationkey"]  # logical
    js = json.loads(meta["schemaString"])
    phys_nk = next(
        f["metadata"]["delta.columnMapping.physicalName"]
        for f in js["fields"]
        if f["name"] == "s_nationkey"
    )
    add = next(a["add"] for a in acts if "add" in a)
    assert list(add["partitionValues"]) == [phys_nk]  # physical keys

    back = read_delta_table(spark, base)
    assert sorted(map(tuple, back.select(*s.columns).collect())) == sorted(
        map(tuple, s.collect())
    )
    nk = int(s.select("s_nationkey").head()[0])
    got = read_delta_table(
        spark, base, partition_filter={"s_nationkey": nk}
    )
    want = s.filter(F.col("s_nationkey") == nk)
    assert sorted(
        map(tuple, got.select(*s.columns).collect())
    ) == sorted(map(tuple, want.collect()))


def test_delta_column_mapping_composes_with_dvs_and_compaction(
    spark, sf_small, tmp_path
):
    """Mapping + deletion vectors + OPTIMIZE in one lifecycle: the DV
    protocol upgrade keeps columnMapping in readerFeatures, compaction
    rewrites in PHYSICAL column space in ONE job, and a file whose
    rows are all deleted gets a remove with NO replacement add
    (round-14 ADVICE fix)."""
    from novelti_dingo_spark.sources.delta_log import (
        compact_delta_table,
        delete_rows_from_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s.filter("s_suppkey <= 5").repartition(1), base,
        column_mapping="name",
    )
    write_delta_table(
        s.filter("s_suppkey > 5").repartition(1), base, mode="append"
    )
    dv_v = delete_rows_from_delta_table(
        spark, base, "s_suppkey > 5 OR s_suppkey = 2"
    )
    log = open(
        os.path.join(base, "_delta_log", f"{dv_v:020d}.json")
    ).read()
    proto = next(
        json.loads(ln)["protocol"]
        for ln in log.splitlines()
        if "protocol" in json.loads(ln)
    )
    assert set(proto["readerFeatures"]) == {
        "deletionVectors", "columnMapping",
    }
    want = s.filter("NOT (s_suppkey > 5 OR s_suppkey = 2)")
    got = read_delta_table(spark, base)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    cv = compact_delta_table(spark, base)
    acts = [
        json.loads(ln)
        for ln in open(
            os.path.join(base, "_delta_log", f"{cv:020d}.json")
        ).read().splitlines()
    ]
    # both DV-bearing files removed; only the partially-deleted one
    # gets a replacement add (the all-deleted file compacts to nothing)
    assert sum(1 for a in acts if "remove" in a) == 2
    assert sum(1 for a in acts if "add" in a) == 1
    got2 = read_delta_table(spark, base)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_delta_column_mapping_checkpoint_carries_protocol(
    spark, sf_small, tmp_path
):
    """A checkpoint of a mapped table must re-emit the mrv-2 protocol
    and the mapping configuration — dropping either would turn the
    next checkpoint-seeded read into logical-name misreads."""
    from novelti_dingo_spark.sources.delta_log import (
        _list_log_versions,
        write_delta_checkpoint,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, column_mapping="name")
    write_delta_table(s.limit(3), base, mode="append")
    cpv = write_delta_checkpoint(base)
    for v in _list_log_versions(base):
        if v <= cpv:
            os.remove(
                os.path.join(base, "_delta_log", f"{v:020d}.json")
            )
    back = read_delta_table(spark, base)
    assert back.columns == s.columns
    assert back.count() == s.count() + 3


def test_delta_column_mapping_refusals(spark, sf_small, tmp_path):
    """Typed refusals: switching the mapping mode on an existing
    table; nested struct fields under mapping; physicalName missing
    from the files."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, column_mapping="name")
    with pytest.raises(DeltaLogError):
        write_delta_table(
            s.limit(1), base, mode="append", column_mapping="id"
        )

    # nested struct under mapping: refuse, never mis-project
    base2 = str(tmp_path / "nested")
    nested = s.limit(2).select(
        "s_suppkey", F.struct("s_name", "s_acctbal").alias("info")
    )
    write_delta_table(nested, base2)
    log0 = os.path.join(base2, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(ln) for ln in open(log0).read().splitlines()]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name"
            }
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta_table(spark, base2)


# ---------------------------------------------- change data feed (r14)


def test_delta_change_feed_derive_and_cdc(spark, sf_small, tmp_path):
    """CDF basics: inserts DERIVE from dataChange adds (no cdc actions
    for blind appends, per spec), DV deletes record their victims as
    cdc actions under _change_data/, overwrite removes derive as
    deletes, and version windows slice exactly."""
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        read_delta_change_feed,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s.filter("s_suppkey <= 5"), base, enable_change_feed=True
    )
    write_delta_table(s.filter("s_suppkey > 5"), base, mode="append")
    delete_rows_from_delta_table(spark, base, "s_nationkey < 10")

    feed = read_delta_change_feed(spark, base)
    got = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in feed.groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    }
    n_del = s.filter("s_nationkey < 10").count()
    assert got == {
        ("insert", 0): s.filter("s_suppkey <= 5").count(),
        ("insert", 1): s.filter("s_suppkey > 5").count(),
        ("delete", 2): n_del,
    }
    # the cdc file exists and is what the delete window replays
    assert os.path.isdir(os.path.join(base, "_change_data"))
    win = read_delta_change_feed(spark, base, 2, 2)
    assert sorted(map(tuple, win.select(*s.columns).collect())) == sorted(
        map(tuple, s.filter("s_nationkey < 10").collect())
    )
    assert win.schema["_commit_timestamp"].dataType.typeName() == (
        "timestamp"
    )

    # overwrite: removed files' rows derive as deletes
    write_delta_table(s.limit(2), base, mode="overwrite")
    ow = read_delta_change_feed(spark, base, 3, 3)
    per = {
        r["_change_type"]: r["count"]
        for r in ow.groupBy("_change_type").count().collect()
    }
    assert per["insert"] == 2 and per["delete"] == s.count()


def test_delta_change_feed_refusals(spark, sf_small, tmp_path):
    """Loud refusals: CDF read on a table without the property; a
    foreign DV commit with no cdc actions (derivation would fabricate
    a whole-file rewrite); enabling CDF on an existing table."""
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        read_delta_change_feed,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base)
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta_change_feed(spark, base)
    with pytest.raises(DeltaLogError):
        write_delta_table(
            s.limit(1), base, mode="append", enable_change_feed=True
        )

    # simulate a FOREIGN CDF table whose DV commit has no cdc actions
    delete_rows_from_delta_table(spark, base, "s_suppkey = 1")
    log0 = os.path.join(base, "_delta_log", f"{0:020d}.json")
    acts = [json.loads(ln) for ln in open(log0).read().splitlines()]
    for a in acts:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.enableChangeDataFeed": "true"
            }
    with open(log0, "w") as f:
        for a in acts:
            f.write(json.dumps(a) + "\n")
    with pytest.raises(UnsupportedDeltaFeature):
        read_delta_change_feed(spark, base, 1, 1).count()


def test_delta_change_feed_composes_with_column_mapping(
    spark, sf_small, tmp_path
):
    """CDF + column mapping + partitioning in one table: cdc files are
    physical-named like data files, partitionValues on cdc actions key
    physically, and the feed projects back to logical names."""
    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        read_delta_change_feed,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s, base, partition_by=["s_nationkey"],
        column_mapping="id", enable_change_feed=True,
    )
    delete_rows_from_delta_table(spark, base, "s_suppkey % 2 = 0")
    feed = read_delta_change_feed(spark, base, 1, 1)
    want = s.filter("s_suppkey % 2 = 0")
    assert feed.columns[: len(s.columns)] == s.columns  # logical
    assert sorted(map(tuple, feed.select(*s.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


def test_lake_export_delta_cdf_replays_lake_change_feed(
    spark, sf_small, tmp_path
):
    """The CDC interop loop (round-13 verdict #3): exporting a
    versioned lake with change_feed=True makes read_delta_change_feed
    return EXACTLY the multiset pipelines.table_changes reports for
    the same window — lake → Delta CDF → consumer reproduces the
    change history instead of remove-all+insert-all noise."""
    from novelti_dingo_spark.pipelines import (
        delete_rows_mor,
        publish_append,
        publish_versioned,
        table_changes,
    )
    from novelti_dingo_spark.sources.delta_log import (
        export_versioned_lake_to_delta,
        read_delta_change_feed,
    )

    lake = str(tmp_path / "lake")
    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    publish_versioned(o.filter("o_orderkey % 2 = 0"), lake)
    publish_append(o.filter("o_orderkey % 2 = 1"), lake)
    delete_rows_mor(spark, lake, "o_orderkey", [1, 2, 3])

    dt = str(tmp_path / "delta")
    mapping = export_versioned_lake_to_delta(
        spark, lake, dt, change_feed=True
    )
    feed = read_delta_change_feed(spark, dt, mapping[2], mapping[3])
    lakefeed = table_changes(spark, lake, 1, 3)
    cols = ["o_orderkey", "o_totalprice", "_change_type"]
    assert sorted(map(tuple, feed.select(*cols).collect())) == sorted(
        map(tuple, lakefeed.select(*cols).collect())
    )


def test_delta_mor_update_single_commit(spark, sf_small, tmp_path):
    """update_delta_table_rows (round-14): one commit = DVs over the
    old rows + a new add with the updated rows — atomic visibility,
    data files untouched, time travel reads the pre-update state, and
    on a CDF table the commit records update_preimage/update_postimage
    cdc actions."""
    from novelti_dingo_spark.sources.delta_log import (
        read_delta_change_feed,
        update_delta_table_rows,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, enable_change_feed=True)
    files_before = sorted(
        n for n in os.listdir(base) if n.endswith(".parquet")
    )
    v = update_delta_table_rows(
        spark, base, "s_nationkey >= 15",
        {"s_acctbal": "s_acctbal * 2"},
    )
    assert v == 1
    # old data files still on disk, untouched (MOR)
    assert set(files_before) <= {
        n for n in os.listdir(base) if n.endswith(".parquet")
    }
    want = s.withColumn(
        "s_acctbal",
        F.when(
            F.col("s_nationkey") >= 15, F.col("s_acctbal") * 2
        ).otherwise(F.col("s_acctbal")),
    )
    got = read_delta_table(spark, base)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # time travel: pre-update state intact
    assert sorted(
        map(tuple, read_delta_table(spark, base, version=0).collect())
    ) == sorted(map(tuple, s.collect()))
    # one commit only, operation UPDATE
    acts = [
        json.loads(ln)
        for ln in open(
            os.path.join(base, "_delta_log", f"{1:020d}.json")
        ).read().splitlines()
    ]
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert ci["operation"] == "UPDATE"
    # CDF: pre/postimage pairs, value-exact
    feed = read_delta_change_feed(spark, base, 1, 1)
    hit = s.filter("s_nationkey >= 15")
    pre = feed.filter("_change_type = 'update_preimage'")
    post = feed.filter("_change_type = 'update_postimage'")
    assert sorted(map(tuple, pre.select(*s.columns).collect())) == sorted(
        map(tuple, hit.collect())
    )
    assert sorted(
        map(tuple, post.select(*s.columns).collect())
    ) == sorted(
        map(
            tuple,
            hit.withColumn("s_acctbal", F.col("s_acctbal") * 2).collect(),
        )
    )
    # zero matches: no commit
    assert update_delta_table_rows(
        spark, base, "s_suppkey < 0", {"s_acctbal": "s_acctbal"}
    ) == 1


def test_delta_mor_update_partitioned_and_refusals(
    spark, sf_small, tmp_path
):
    """Partitioned update keeps rows in their partitions (hive-dir
    staging, physical partitionValues); assignments to partition
    columns refuse; compaction after an update purges the DVs with the
    updated state intact."""
    from novelti_dingo_spark.sources.delta_log import (
        UnsupportedDeltaFeature as UDF_,
        compact_delta_table,
        update_delta_table_rows,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s, base, partition_by=["s_nationkey"], column_mapping="id"
    )
    update_delta_table_rows(
        spark, base, "s_suppkey % 2 = 0", {"s_acctbal": F.lit(0.0)}
    )
    want = s.withColumn(
        "s_acctbal",
        F.when(F.col("s_suppkey") % 2 == 0, F.lit(0.0)).otherwise(
            F.col("s_acctbal")
        ),
    )
    got = read_delta_table(spark, base)
    assert sorted(map(tuple, got.select(*s.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    with pytest.raises(UDF_):
        update_delta_table_rows(
            spark, base, "true", {"s_nationkey": F.lit(1)}
        )
    with pytest.raises(ValueError):
        update_delta_table_rows(spark, base, "true", {"nope": F.lit(1)})
    compact_delta_table(spark, base)
    got2 = read_delta_table(spark, base)
    assert sorted(
        map(tuple, got2.select(*s.columns).collect())
    ) == sorted(map(tuple, want.collect()))


def test_delta_merge_upsert(spark, sf_small, tmp_path):
    """MERGE INTO (round-14): matched rows replaced with the source
    row (DV over the old, new file for the new), unmatched source rows
    inserted, all in ONE commit; time travel to the pre-merge version
    reads the original; a no-op merge commits nothing; a target row
    matched by two source rows refuses."""
    from novelti_dingo_spark.sources.delta_log import (
        merge_into_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s.repartition(3), base)
    cols = s.columns

    upd = s.filter("s_nationkey < 10").withColumn(
        "s_acctbal", F.col("s_acctbal") + 5000
    )
    ins = s.filter("s_nationkey >= 20").withColumn(
        "s_suppkey", F.col("s_suppkey") + 1_000_000
    )
    src = upd.select(*cols).unionAll(ins.select(*cols))
    v = merge_into_delta_table(spark, base, src, on=["s_suppkey"])
    assert v == 1

    got = read_delta_table(spark, base).select(*cols)
    want = (
        s.withColumn(
            "s_acctbal",
            F.when(
                F.col("s_nationkey") < 10, F.col("s_acctbal") + 5000
            ).otherwise(F.col("s_acctbal")),
        )
        .select(*cols)
        .unionAll(ins.select(*cols))
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # pre-merge version untouched (merge-on-read)
    assert read_delta_table(spark, base, version=0).count() == s.count()

    # no-op: source matches nothing and inserts nothing
    empty = spark.createDataFrame([], s.schema)
    assert merge_into_delta_table(spark, base, empty, on=["s_suppkey"]) == 1
    assert delta_table_version(base) == 1

    # ambiguity: two source rows for one target key
    one = s.filter("s_suppkey = 1").select(*cols)
    dup = one.unionAll(
        one.withColumn("s_acctbal", F.lit(0.0).cast("double"))
    )
    with pytest.raises(DeltaLogError, match="multiple source rows"):
        merge_into_delta_table(spark, base, dup, on=["s_suppkey"])

    # schema mismatch refuses
    with pytest.raises(ValueError, match="source schema"):
        merge_into_delta_table(
            spark, base, src.drop("s_name"), on=["s_suppkey"]
        )


def test_delta_merge_partitioned_with_partition_move(
    spark, sf_small, tmp_path
):
    """A MERGE update is a full-row replace (DV + re-append), so
    moving a row BETWEEN partitions — which the in-place UPDATE verb
    refuses — works naturally: the old row dies in its old partition's
    file, the new one lands in the new partition."""
    from novelti_dingo_spark.sources.delta_log import (
        merge_into_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base, partition_by=["s_nationkey"])
    cols = s.columns

    # move every min-nation supplier to nation 99 and re-balance
    nk0 = s.agg(F.min("s_nationkey")).collect()[0][0]
    moved = (
        s.filter(F.col("s_nationkey") == nk0)
        .withColumn("s_nationkey", F.lit(99).cast("bigint"))
        .withColumn("s_acctbal", F.col("s_acctbal") * 2)
    )
    n_moved = moved.count()
    assert n_moved > 0
    merge_into_delta_table(
        spark, base, moved.select(*cols), on=["s_suppkey"]
    )
    got = read_delta_table(spark, base)
    assert got.filter(F.col("s_nationkey") == nk0).count() == 0
    assert got.filter("s_nationkey = 99").count() == n_moved
    assert got.count() == s.count()
    # partition pruning on the new partition still works off the log
    pruned = read_delta_table(
        spark, base, partition_filter={"s_nationkey": "99"}
    )
    assert pruned.count() == n_moved


def test_delta_merge_cdf_and_column_mapping(spark, sf_small, tmp_path):
    """MERGE on a CDF-enabled column-mapped table records the full
    change vocabulary in one commit: update_preimage/update_postimage
    for the matched half, insert for the appended half; matched-delete
    merges record plain deletes."""
    from novelti_dingo_spark.sources.delta_log import (
        merge_into_delta_table,
        read_delta_change_feed,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s, base, column_mapping="name", enable_change_feed=True
    )
    cols = s.columns

    upd = s.filter("s_nationkey < 5").withColumn(
        "s_acctbal", F.col("s_acctbal") + 111
    )
    ins = s.filter("s_nationkey = 20").withColumn(
        "s_suppkey", F.col("s_suppkey") + 1_000_000
    )
    src = upd.select(*cols).unionAll(ins.select(*cols))
    v = merge_into_delta_table(spark, base, src, on=["s_suppkey"])

    feed = read_delta_change_feed(spark, base, v, v)
    per = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_upd, n_ins = upd.count(), ins.count()
    assert per == {
        "update_preimage": n_upd,
        "update_postimage": n_upd,
        "insert": n_ins,
    }
    # preimage carries ORIGINAL balances, postimage the bumped ones
    pre_sum = (
        feed.filter("_change_type = 'update_preimage'")
        .agg(F.round(F.sum("s_acctbal"), 2))
        .collect()[0][0]
    )
    want_pre = (
        s.filter("s_nationkey < 5")
        .agg(F.round(F.sum("s_acctbal"), 2))
        .collect()[0][0]
    )
    assert pre_sum == want_pre

    # matched-delete merge: plain delete cdc rows
    v2 = merge_into_delta_table(
        spark, base, ins.select(*cols), on=["s_suppkey"],
        when_matched="delete", when_not_matched=None,
    )
    feed2 = read_delta_change_feed(spark, base, v2, v2)
    assert feed2.select("_change_type").distinct().collect()[0][0] == (
        "delete"
    )
    assert feed2.count() == n_ins
    got = read_delta_table(spark, base)
    assert got.filter("s_suppkey > 1000000").count() == 0


def test_delta_restore_and_timestamp_travel(spark, sf_small, tmp_path):
    """RESTORE (round-14): one commit returns the live state to an
    earlier version — DV-deleted rows resurrect because the restored
    adds replace the DV-bearing ones; history is preserved (time
    travel to pre-restore versions still works, restore can roll
    forward again); restoring past VACUUM refuses loudly. TIMESTAMP
    AS OF resolves commit timestamps monotonically."""
    import time as _time

    from novelti_dingo_spark.sources.delta_log import (
        delete_rows_from_delta_table,
        resolve_delta_version_at,
        restore_delta_table,
        vacuum_delta_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    n5 = 5
    write_delta_table(s.limit(n5), base)
    t0 = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_delta_table(s, base, mode="append")
    delete_rows_from_delta_table(spark, base, "s_suppkey <= 3")
    n2 = read_delta_table(spark, base).count()

    v = restore_delta_table(spark, base, version=0)
    assert v == 3
    assert read_delta_table(spark, base).count() == n5
    # pre-restore history intact
    assert read_delta_table(spark, base, version=2).count() == n2
    # idempotent: restoring to the already-live state commits nothing
    assert restore_delta_table(spark, base, version=0) == 3
    assert delta_table_version(base) == 3
    # roll forward to the deleted state again
    assert restore_delta_table(spark, base, version=2) == 4
    assert read_delta_table(spark, base).count() == n2

    # timestamp travel
    assert resolve_delta_version_at(base, t0) == 0
    assert read_delta_table(spark, base, timestamp_ms=t0).count() == n5
    with pytest.raises(DeltaLogError, match="predates"):
        resolve_delta_version_at(base, 1000)
    with pytest.raises(ValueError):
        read_delta_table(spark, base, version=0, timestamp_ms=t0)

    # restore past vacuum refuses: drop the horizon so the files the
    # overwritten v0..v2 states referenced exclusively are reclaimed
    base2 = str(tmp_path / "v")
    write_delta_table(s.limit(3), base2)
    write_delta_table(s, base2, mode="overwrite")
    vacuum_delta_table(spark, base2, retain_versions=0)
    with pytest.raises(DeltaLogError, match="no longer exist"):
        restore_delta_table(spark, base2, version=0)


def test_delta_add_drop_column_schema_evolution(
    spark, sf_small, tmp_path
):
    """ADD/DROP COLUMN (round-14): metadata-only metaData commits.
    Added nullable fields null-fill pre-add files and carry values in
    later writes; drop needs column mapping (unmapped re-add would
    resurrect stale data by name) and keeps history readable; a
    mapped drop-then-re-add gets a FRESH physicalName so no stale
    physical data leaks back."""
    from novelti_dingo_spark.sources.delta_log import (
        add_delta_column,
        drop_delta_column,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base)
    add_delta_column(base, "quality_score", "double")
    got = read_delta_table(spark, base)
    assert got.filter("quality_score IS NULL").count() == s.count()
    new = s.withColumn(
        "s_suppkey", F.col("s_suppkey") + 100
    ).withColumn("quality_score", F.lit(0.5))
    write_delta_table(new, base, mode="append")
    got2 = read_delta_table(spark, base)
    assert got2.filter("quality_score = 0.5").count() == s.count()
    assert got2.filter("quality_score IS NULL").count() == s.count()
    with pytest.raises(DeltaLogError, match="already exists"):
        add_delta_column(base, "s_name", "string")
    with pytest.raises(UnsupportedDeltaFeature, match="columnMapping"):
        drop_delta_column(base, "s_name")

    # mapped: drop + re-add must NOT leak the old physical column
    base2 = str(tmp_path / "m")
    write_delta_table(s, base2, column_mapping="name")
    v_pre = delta_table_version(base2)
    drop_delta_column(base2, "s_name")
    got3 = read_delta_table(spark, base2)
    assert "s_name" not in got3.columns
    assert "s_name" in read_delta_table(
        spark, base2, version=v_pre
    ).columns
    add_delta_column(base2, "s_name", "string")
    got4 = read_delta_table(spark, base2)
    assert got4.filter("s_name IS NOT NULL").count() == 0
    # partition-column drop refuses
    base3 = str(tmp_path / "p")
    write_delta_table(
        s, base3, partition_by=["s_nationkey"], column_mapping="name"
    )
    with pytest.raises(UnsupportedDeltaFeature, match="partition"):
        drop_delta_column(base3, "s_nationkey")


def test_delta_txn_idempotent_writes(spark, sf_small, tmp_path):
    """txn actions (round-14): (appId, version)-keyed idempotent
    writes — the protocol's exactly-once streaming-sink contract. A
    replayed epoch skips without committing; a newer epoch commits
    and advances the recorded version; independent appIds don't
    interfere; the txn state survives checkpoint + log cleanup."""
    import os as _os

    from novelti_dingo_spark.sources.delta_log import (
        delta_txn_versions,
        write_delta_checkpoint,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(
        s.limit(3), base, txn_app_id="job-a", txn_version=0
    )
    write_delta_table(
        s.limit(4), base, mode="append",
        txn_app_id="job-a", txn_version=1,
    )
    n = read_delta_table(spark, base).count()
    assert n == 7
    # replayed epochs 0 and 1: both skip, nothing committed
    v = delta_table_version(base)
    assert write_delta_table(
        s, base, mode="append", txn_app_id="job-a", txn_version=1
    ) == v
    assert write_delta_table(
        s, base, mode="append", txn_app_id="job-a", txn_version=0
    ) == v
    assert read_delta_table(spark, base).count() == n
    # another app's epoch 0 is independent
    write_delta_table(
        s.limit(2), base, mode="append",
        txn_app_id="job-b", txn_version=0,
    )
    assert read_delta_table(spark, base).count() == n + 2
    assert delta_txn_versions(base) == {"job-a": 1, "job-b": 0}

    # state survives checkpoint + json cleanup
    write_delta_checkpoint(base)
    for ver in range(delta_table_version(base)):
        p = _os.path.join(base, "_delta_log", f"{ver:020d}.json")
        if _os.path.exists(p):
            _os.remove(p)
    assert delta_txn_versions(base) == {"job-a": 1, "job-b": 0}
    v2 = delta_table_version(base)
    assert write_delta_table(
        s, base, mode="append", txn_app_id="job-a", txn_version=1
    ) == v2  # still skipped after cleanup
    # and a NEW epoch still commits
    write_delta_table(
        s.limit(1), base, mode="append",
        txn_app_id="job-a", txn_version=2,
    )
    assert delta_txn_versions(base)["job-a"] == 2

    with pytest.raises(ValueError):
        write_delta_table(s, base, txn_app_id="x")
    with pytest.raises(ValueError):
        write_delta_table(s, base, txn_version=1)


def test_delta_check_constraints(spark, sf_small, tmp_path):
    """CHECK constraints (round-14): add refuses when existing rows
    violate; once recorded, write/UPDATE/MERGE refuse violating rows
    (SQL semantics — FALSE violates, NULL passes); drop releases."""
    from novelti_dingo_spark.sources.delta_log import (
        add_delta_constraint,
        drop_delta_constraint,
        merge_into_delta_table,
        update_delta_table_rows,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_delta_table(s, base)
    v = add_delta_constraint(
        spark, base, "nation_range", "s_nationkey BETWEEN 0 AND 24"
    )
    assert v == 1
    # an add the data violates refuses
    with pytest.raises(DeltaLogError, match="existing rows violate"):
        add_delta_constraint(spark, base, "neg", "s_acctbal < 0")
    with pytest.raises(DeltaLogError, match="already exists"):
        add_delta_constraint(spark, base, "nation_range", "1 = 1")

    bad = s.withColumn("s_nationkey", F.lit(99).cast("int"))
    with pytest.raises(DeltaLogError, match="violates CHECK"):
        write_delta_table(bad, base, mode="append")
    with pytest.raises(DeltaLogError, match="violates CHECK"):
        update_delta_table_rows(
            spark, base, "s_suppkey = 1", {"s_nationkey": "99"}
        )
    with pytest.raises(DeltaLogError, match="violates CHECK"):
        merge_into_delta_table(
            spark, base, bad.select(*s.columns), on=["s_suppkey"]
        )
    # conforming rows still flow, and NULL passes (SQL semantics)
    ok = s.limit(2).withColumn(
        "s_suppkey", F.col("s_suppkey") + 1000
    ).withColumn("s_nationkey", F.lit(None).cast("int"))
    write_delta_table(ok, base, mode="append")
    assert read_delta_table(spark, base).count() == s.count() + 2

    drop_delta_constraint(base, "nation_range")
    write_delta_table(bad, base, mode="append")  # now allowed
    assert read_delta_table(spark, base).count() == 2 * s.count() + 2
    with pytest.raises(DeltaLogError, match="no constraint"):
        drop_delta_constraint(base, "nope")
