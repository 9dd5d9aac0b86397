"""Clean-room Iceberg table reader/writer (public table spec): metadata
chain resolution through the repo's own Avro codec, snapshot time
travel, append/overwrite manifest-list semantics, manifest-level
partition pruning, and loud refusals on v2 delete files / unsupported
features."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from novelti_dingo_spark.sources import load_table
from novelti_dingo_spark.sources.avro_py import (
    read_avro_records,
    write_avro_records,
)
from novelti_dingo_spark.sources.iceberg import (
    IcebergError,
    UnsupportedIcebergFeature,
    iceberg_snapshots,
    read_iceberg_table,
    write_iceberg_table,
)


def test_iceberg_roundtrip_and_metadata_shape(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    sid = write_iceberg_table(s, base)

    back = read_iceberg_table(spark, base)
    assert back.schema == s.schema  # decimal(15,2) included
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, s.collect()))

    # metadata.json is spec-shaped
    md = os.path.join(base, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == sid
    snap = meta["snapshots"][-1]
    assert snap["snapshot-id"] == sid

    # manifest list and manifest are real Avro container files our own
    # codec (and any Avro reader) decodes; entries carry true sizes
    _, manifests = read_avro_records(
        os.path.join(base, snap["manifest-list"])
    )
    assert all(m["content"] == 0 for m in manifests)
    _, entries = read_avro_records(
        os.path.join(base, manifests[0]["manifest_path"])
    )
    total_rows = 0
    for e in entries:
        d = e["data_file"]
        assert e["status"] == 1 and d["file_format"] == "PARQUET"
        fp = os.path.join(base, d["file_path"])
        assert d["file_size_in_bytes"] == os.path.getsize(fp)
        total_rows += d["record_count"]
    assert total_rows == s.count()


def test_iceberg_append_overwrite_time_travel(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    even = s.filter(F.col("s_suppkey") % 2 == 0)
    odd = s.filter(F.col("s_suppkey") % 2 == 1)
    sid0 = write_iceberg_table(even, base)
    sid1 = write_iceberg_table(odd, base, mode="append")
    assert read_iceberg_table(spark, base).count() == s.count()
    assert read_iceberg_table(spark, base, snapshot_id=sid0).count() == (
        even.count()
    )

    # append's manifest list references BOTH manifests (spec shape)
    md, v = os.path.join(base, "metadata"), None
    meta = json.load(
        open(
            os.path.join(
                md,
                f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    snap1 = next(x for x in meta["snapshots"] if x["snapshot-id"] == sid1)
    _, manifests = read_avro_records(os.path.join(base, snap1["manifest-list"]))
    assert len(manifests) == 2

    sid2 = write_iceberg_table(s.limit(3), base, mode="overwrite")
    assert read_iceberg_table(spark, base).count() == 3
    # every older snapshot stays readable
    assert read_iceberg_table(spark, base, snapshot_id=sid1).count() == s.count()
    assert read_iceberg_table(spark, base, snapshot_id=sid0).count() == (
        even.count()
    )
    ops = [h["operation"] for h in iceberg_snapshots(base)]
    assert ops == ["overwrite", "append", "overwrite"]
    assert sid2 == iceberg_snapshots(base)[-1]["snapshot_id"]

    with pytest.raises(IcebergError):
        read_iceberg_table(spark, base, snapshot_id=42)
    with pytest.raises(ValueError):
        write_iceberg_table(s, base, mode="merge")


def test_iceberg_partition_pruning_driver_side(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base, partition_by=["s_nationkey"])

    # spec contract: iceberg data files CONTAIN the partition columns
    import pyarrow.parquet as pq

    md = os.path.join(base, "metadata")
    meta = json.load(
        open(
            os.path.join(
                md,
                f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    _, entries = read_avro_records(
        os.path.join(base, manifests[0]["manifest_path"])
    )
    first = entries[0]["data_file"]
    assert "s_nationkey" in pq.read_schema(
        os.path.join(base, first["file_path"])
    ).names
    # one data file per partition tuple, partition record carries the value
    nations = {e["data_file"]["partition"]["s_nationkey"] for e in entries}
    assert nations == {
        r.s_nationkey for r in s.select("s_nationkey").distinct().collect()
    }

    pruned = read_iceberg_table(
        spark, base, partition_filter={"s_nationkey": 3}
    )
    want = s.filter(F.col("s_nationkey") == 3)
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, want.collect())
    )
    keep = {
        os.path.join(base, e["data_file"]["file_path"])
        for e in entries
        if e["data_file"]["partition"]["s_nationkey"] == 3
    }
    assert {f.replace("file://", "") for f in pruned.inputFiles()} == keep

    with pytest.raises(ValueError):
        read_iceberg_table(spark, base, partition_filter={"s_comment": "x"})


def test_iceberg_fails_loud_not_wrong(spark, sf_small, tmp_path):
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").limit(5)
    write_iceberg_table(s, base)

    # a content=2 (equality delete) entry WITHOUT equality_ids is
    # structurally malformed — refusal, not undeleted rows (round-13:
    # equality deletes themselves are now supported, so the refusal
    # narrowed to the genuinely unreadable shape)
    md = os.path.join(base, "metadata")
    meta_path = os.path.join(
        md,
        f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
        ".metadata.json",
    )
    meta = json.load(open(meta_path))
    mlist = os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    _, manifests = read_avro_records(mlist)
    mpath = os.path.join(base, manifests[0]["manifest_path"])
    mschema, entries = read_avro_records(mpath)
    entries[0] = {
        **entries[0],
        "data_file": {
            **entries[0]["data_file"],
            "content": 2,
            "equality_ids": None,
        },
    }
    write_avro_records(mpath, mschema, entries)
    with pytest.raises(IcebergError):
        read_iceberg_table(spark, base)

    # an unknown future content value → typed refusal
    entries[0] = {
        **entries[0],
        "data_file": {**entries[0]["data_file"], "content": 3},
    }
    write_avro_records(mpath, mschema, entries)
    with pytest.raises(UnsupportedIcebergFeature):
        read_iceberg_table(spark, base)

    # format-version 3 → refusal
    base2 = str(tmp_path / "v3")
    write_iceberg_table(s, base2)
    md2 = os.path.join(base2, "metadata")
    mp = os.path.join(
        md2,
        f"v{int(open(os.path.join(md2, 'version-hint.text')).read())}"
        ".metadata.json",
    )
    m2 = json.load(open(mp))
    m2["format-version"] = 3
    json.dump(m2, open(mp, "w"))
    with pytest.raises(UnsupportedIcebergFeature):
        read_iceberg_table(spark, base2)

    with pytest.raises(IcebergError):
        read_iceberg_table(spark, str(tmp_path / "nope"))


def test_iceberg_manifest_entries_status_deleted_respected(
    spark, sf_small, tmp_path
):
    """A manifest entry with status=DELETED (2) must drop its file from
    the snapshot — the reconciliation rule a naive 'collect all paths'
    reader would get wrong."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").limit(10)
    write_iceberg_table(s, base)
    md = os.path.join(base, "metadata")
    meta = json.load(
        open(
            os.path.join(
                md,
                f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    mpath = os.path.join(base, manifests[0]["manifest_path"])
    schema, entries = read_avro_records(mpath)
    dropped = entries[0]["data_file"]["record_count"]
    entries[0] = {**entries[0], "status": 2}
    write_avro_records(mpath, schema, entries)
    assert read_iceberg_table(spark, base).count() == 10 - dropped


def test_iceberg_position_deletes_merge_on_read(spark, sf_small, tmp_path):
    """Round-12 second pass: v2 POSITION deletes, both directions.
    delete_rows_from_iceberg_table commits a (file_path, pos) parquet
    under a content=1 manifest; reads drop exactly those ordinals via
    the _metadata.row_index anti-join; data files are untouched; older
    snapshots still see the rows; deletes stack across commits; the
    delete file itself is spec-shaped."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    sid0 = write_iceberg_table(s, base)
    sid1 = delete_rows_from_iceberg_table(spark, base, "s_suppkey % 3 = 0")

    got = read_iceberg_table(spark, base)
    want = s.filter("s_suppkey % 3 <> 0")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # time travel: pre-delete snapshot unaffected; delete snapshot pinned
    assert read_iceberg_table(spark, base, snapshot_id=sid0).count() == (
        s.count()
    )
    assert read_iceberg_table(spark, base, snapshot_id=sid1).count() == (
        want.count()
    )

    # the delete file is spec-shaped (file_path, pos) and sorted
    import pyarrow.parquet as pq

    md = os.path.join(base, "metadata")
    meta = json.load(
        open(
            os.path.join(
                md,
                f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    del_manifests = [m for m in manifests if m["content"] == 1]
    assert len(del_manifests) == 1
    _, entries = read_avro_records(
        os.path.join(base, del_manifests[0]["manifest_path"])
    )
    dfile = entries[0]["data_file"]
    assert dfile["content"] == 1 and dfile["file_format"] == "PARQUET"
    tbl = pq.read_table(os.path.join(base, dfile["file_path"]))
    assert tbl.column_names == ["file_path", "pos"]
    assert tbl.num_rows == dfile["record_count"] == s.count() - want.count()
    rows = list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))
    assert rows == sorted(rows)

    # deletes stack; a second delete commit composes with the first
    delete_rows_from_iceberg_table(spark, base, "s_nationkey = 3")
    got2 = read_iceberg_table(spark, base)
    want2 = s.filter("s_suppkey % 3 <> 0 AND s_nationkey <> 3")
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )


def test_iceberg_equality_deletes_merge_on_read(spark, sf_small, tmp_path):
    """Round-13: v2 EQUALITY deletes, both directions.
    delete_rows_from_iceberg_table(mode='equality') commits the
    matching rows' distinct identifier tuples as a content=2 parquet
    with equality_ids; reads resolve the ids through the table schema
    and apply one null-safe anti-join per identifier set; older
    snapshots still see the rows; the delete file is spec-shaped."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    k1, k2 = [
        r[0]
        for r in s.select("s_nationkey").distinct().orderBy(
            "s_nationkey"
        ).limit(2).collect()
    ]
    sid0 = write_iceberg_table(s, base)
    sid1 = delete_rows_from_iceberg_table(
        spark, base, f"s_nationkey IN ({k1}, {k2})",
        mode="equality", equality_columns=["s_nationkey"],
    )

    got = read_iceberg_table(spark, base)
    want = s.filter(f"s_nationkey NOT IN ({k1}, {k2})")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert read_iceberg_table(spark, base, snapshot_id=sid0).count() == (
        s.count()
    )
    assert read_iceberg_table(spark, base, snapshot_id=sid1).count() == (
        want.count()
    )

    # the delete file is spec-shaped: content=2, equality_ids resolve
    # to the identifier column, schema = identifier columns only
    import pyarrow.parquet as pq

    md = os.path.join(base, "metadata")
    meta = json.load(
        open(
            os.path.join(
                md,
                f"v{int(open(os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    del_manifests = [m for m in manifests if m["content"] == 1]
    assert len(del_manifests) == 1
    assert del_manifests[0]["sequence_number"] == 2  # write=1, delete=2
    _, entries = read_avro_records(
        os.path.join(base, del_manifests[0]["manifest_path"])
    )
    dfile = entries[0]["data_file"]
    assert dfile["content"] == 2
    fid = {
        f["name"]: f["id"] for f in meta["schemas"][0]["fields"]
    }["s_nationkey"]
    assert dfile["equality_ids"] == [fid]
    tbl = pq.read_table(os.path.join(base, dfile["file_path"]))
    assert tbl.column_names == ["s_nationkey"]
    assert sorted(tbl.column(0).to_pylist()) == sorted([k1, k2])
    assert tbl.num_rows == dfile["record_count"] == 2

    # equality + position deletes COMPOSE in one snapshot chain
    delete_rows_from_iceberg_table(spark, base, "s_suppkey % 5 = 0")
    got2 = read_iceberg_table(spark, base)
    want2 = s.filter(
        f"s_nationkey NOT IN ({k1}, {k2}) AND s_suppkey % 5 <> 0"
    )
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )

    # argument validation
    with pytest.raises(ValueError):
        delete_rows_from_iceberg_table(spark, base, "1=1", mode="equality")
    with pytest.raises(ValueError):
        delete_rows_from_iceberg_table(
            spark, base, "1=1", mode="equality", equality_columns=["nope"]
        )
    with pytest.raises(ValueError):
        delete_rows_from_iceberg_table(spark, base, "1=1", mode="upsert")


def test_iceberg_equality_delete_sequence_scoping(spark, sf_small, tmp_path):
    """The spec's sequence-number rule: an equality delete applies only
    to data files with a STRICTLY OLDER data sequence number, so a row
    re-inserted AFTER the delete commit survives — the semantics that
    make equality deletes usable as upsert building blocks."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    key = s.select("s_nationkey").orderBy("s_nationkey").head()[0]
    victim = s.filter(F.col("s_nationkey") == key)
    n_victim = victim.count()
    assert n_victim > 0
    write_iceberg_table(s, base)                       # seq 1
    delete_rows_from_iceberg_table(                    # seq 2
        spark, base, f"s_nationkey = {key}",
        mode="equality", equality_columns=["s_nationkey"],
    )
    assert read_iceberg_table(spark, base).filter(
        f"s_nationkey = {key}"
    ).count() == 0
    # re-insert the SAME keys after the delete: seq 3 > delete seq 2,
    # so the delete must NOT touch them
    write_iceberg_table(victim, base, mode="append")   # seq 3
    back = read_iceberg_table(spark, base)
    assert back.filter(f"s_nationkey = {key}").count() == n_victim
    assert back.count() == s.count()


def test_iceberg_equality_delete_null_safe_matching(spark, tmp_path):
    """Equality deletes match NULL identifier values null-safely (spec:
    null in a delete tuple matches null in the data) — a plain equi-join
    would silently keep every null-keyed row."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id int, k string"
    )
    write_iceberg_table(df, base)
    delete_rows_from_iceberg_table(
        spark, base, "k IS NULL", mode="equality", equality_columns=["k"]
    )
    got = sorted(r.id for r in read_iceberg_table(spark, base).collect())
    assert got == [1, 4]


def test_iceberg_time_travel_resolves_snapshot_schema_id(
    spark, sf_small, tmp_path
):
    """Round-13 ADVICE fix: a time-travel read applies the SNAPSHOT's
    schema-id, not the current schema. Simulated schema evolution (a
    foreign writer adding a column): the old snapshot reads with the
    old schema; the current read sees the evolved one; a snapshot
    naming a vanished schema-id refuses."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    sid0 = write_iceberg_table(s, base)
    md = os.path.join(base, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    mp = os.path.join(md, f"v{v}.metadata.json")
    meta = json.load(open(mp))
    old_schema = meta["schemas"][0]
    new_schema = {
        **old_schema,
        "schema-id": 1,
        "fields": old_schema["fields"]
        + [
            {
                "id": 99,
                "name": "s_extra",
                "required": False,
                "type": "string",
            }
        ],
    }
    meta["schemas"] = [old_schema, new_schema]
    meta["current-schema-id"] = 1
    json.dump(meta, open(mp, "w"))

    pinned = read_iceberg_table(spark, base, snapshot_id=sid0)
    assert [f.name for f in pinned.schema.fields] == [
        "s_suppkey", "s_name", "s_nationkey"
    ]
    current = read_iceberg_table(spark, base)
    assert [f.name for f in current.schema.fields][-1] == "s_extra"
    assert current.filter("s_extra IS NOT NULL").count() == 0

    # snapshot pointing at a schema-id the metadata no longer carries
    meta["snapshots"][-1]["schema-id"] = 7
    json.dump(meta, open(mp, "w"))
    with pytest.raises(IcebergError):
        read_iceberg_table(spark, base, snapshot_id=sid0)


def test_export_versioned_lake_to_iceberg_version_for_snapshot(
    spark, sf_small, tmp_path
):
    """The Iceberg twin of the Delta egress (round-13): the repo's own
    lake exports one snapshot per lake version, idempotently — re-export
    skips the committed prefix, new lake versions land as new
    snapshots, and every exported snapshot is value-exact vs its lake
    source through snapshot time travel."""
    from novelti_dingo_spark.pipelines import publish_versioned, read_version
    from novelti_dingo_spark.sources.iceberg import (
        export_versioned_lake_to_iceberg,
    )

    lake = str(tmp_path / "lake")
    ice = str(tmp_path / "ice")
    s = load_table(spark, sf_small, "supplier")
    publish_versioned(s.filter(F.col("s_suppkey") % 2 == 0), lake)
    publish_versioned(s, lake)
    mapping = export_versioned_lake_to_iceberg(spark, lake, ice)
    assert sorted(mapping) == [1, 2]
    assert [h["snapshot_id"] for h in iceberg_snapshots(ice)] == [
        mapping[1], mapping[2]
    ]
    for lv, sid in mapping.items():
        want, _ = read_version(spark, lake, lv)
        got = read_iceberg_table(spark, ice, snapshot_id=sid)
        assert sorted(map(tuple, got.select(*want.columns).collect())) == (
            sorted(map(tuple, want.collect()))
        )
    # idempotent: nothing re-exports
    assert export_versioned_lake_to_iceberg(spark, lake, ice) == mapping
    assert len(iceberg_snapshots(ice)) == 2
    # incremental: a third lake version lands as a third snapshot
    publish_versioned(s.limit(3), lake)
    m3 = export_versioned_lake_to_iceberg(spark, lake, ice)
    assert sorted(m3) == [1, 2, 3] and m3[1] == mapping[1]
    assert read_iceberg_table(spark, ice).count() == 3


def test_iceberg_expire_snapshots_reclaims_files(spark, sf_small, tmp_path):
    """expireSnapshots (round-13, the vacuum twin): keep-last-N drops
    older snapshots from the metadata and deletes every file only they
    referenced — an overwritten first commit's data files and manifests
    go, files shared with retained snapshots stay, expired ids raise on
    time travel, and the current read is untouched."""
    import os as _os

    from novelti_dingo_spark.sources.iceberg import (
        expire_iceberg_snapshots,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    even = s.filter(F.col("s_suppkey") % 2 == 0)
    sid0 = write_iceberg_table(even, base)                  # snap 0
    sid1 = write_iceberg_table(
        s.filter(F.col("s_suppkey") % 2 == 1), base, mode="append"
    )                                                       # snap 1
    sid2 = write_iceberg_table(s.limit(5), base)            # snap 2 (overwrite)

    # retain_last covering everything → no-op
    assert expire_iceberg_snapshots(base, retain_last=3) == []

    # dry run with keep-last-1: snap0+snap1's closure minus snap2's
    listed = expire_iceberg_snapshots(base, retain_last=1, dry_run=True)
    assert listed and all(
        _os.path.exists(_os.path.join(base, p)) for p in listed
    )
    assert {p.split("/")[0] for p in listed} == {"data", "metadata"}

    gone = expire_iceberg_snapshots(base, retain_last=1)
    assert gone == listed
    assert all(not _os.path.exists(_os.path.join(base, p)) for p in gone)
    # current read exact; expired snapshot ids refuse
    got = read_iceberg_table(spark, base)
    assert got.count() == 5
    assert [h["snapshot_id"] for h in iceberg_snapshots(base)] == [sid2]
    for old in (sid0, sid1):
        with pytest.raises(IcebergError):
            read_iceberg_table(spark, base, snapshot_id=old)

    with pytest.raises(ValueError):
        expire_iceberg_snapshots(base, retain_last=0)


def test_iceberg_spec_murmur3_vectors():
    """The bucket transform's hash pinned against the Iceberg spec's
    own published Appendix-B test values — the interop contract for
    hidden partitioning (a wrong hash silently prunes to the wrong
    bucket on foreign tables)."""
    import struct

    import numpy as np

    from novelti_dingo_spark.sources.iceberg import (
        _murmur3_32_long_batch,
        iceberg_bucket,
        iceberg_truncate,
        murmur3_32,
    )

    # spec: int/long 34 → 2017239379; string "iceberg" → 1210000089;
    # date 2017-11-16 (17486 days) → -653330422
    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32("iceberg".encode()) == 1210000089
    assert murmur3_32(struct.pack("<q", 17486)) == -653330422
    # vectorized path bit-equal to scalar
    vals = np.array([34, 0, -1, 17486, 2**40, -(2**40)], dtype=np.int64)
    assert list(_murmur3_32_long_batch(vals).view(np.int32)) == [
        murmur3_32(struct.pack("<q", int(x))) for x in vals
    ]
    assert iceberg_bucket(None, 8) is None
    assert iceberg_truncate(-1, 10) == -10  # spec: mod always positive
    assert iceberg_truncate("iceberg", 3) == "ice"


def test_iceberg_hidden_partitioning_bucket_truncate(
    spark, sf_small, tmp_path
):
    """HIDDEN PARTITIONING end-to-end: the table buckets on a hashed
    column and truncates a string column, the manifest records the
    TRANSFORMED values, and a read filtering on the SOURCE column
    prunes to exactly the matching bucket's files — the user never
    names the transform."""
    import json as _json
    import os as _os

    from novelti_dingo_spark.sources.iceberg import iceberg_bucket

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base, partition_by=["bucket(4, s_suppkey)"])

    # metadata records the spec transform
    md = _os.path.join(base, "metadata")
    meta = _json.load(
        open(
            _os.path.join(
                md,
                f"v{int(open(_os.path.join(md, 'version-hint.text')).read())}"
                ".metadata.json",
            )
        )
    )
    fields = meta["partition-specs"][0]["fields"]
    assert fields == [
        {
            "name": "s_suppkey_bucket",
            "transform": "bucket[4]",
            "source-id": 1,
            "field-id": 1000,
        }
    ]

    # full read exact
    back = read_iceberg_table(spark, base)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, s.collect())
    )

    # source-column filter prunes to the right bucket's files
    key = int(s.select("s_suppkey").orderBy("s_suppkey").head()[0])
    pruned = read_iceberg_table(
        spark, base, partition_filter={"s_suppkey": key}
    )
    b = iceberg_bucket(key, 4)
    _, manifests = read_avro_records(
        _os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    _, entries = read_avro_records(
        _os.path.join(base, manifests[0]["manifest_path"])
    )
    keep = {
        _os.path.join(base, e["data_file"]["file_path"])
        for e in entries
        if e["data_file"]["partition"]["s_suppkey_bucket"] == b
    }
    assert {f.replace("file://", "") for f in pruned.inputFiles()} == keep
    # every row of the source with that key is in the pruned read
    assert pruned.filter(F.col("s_suppkey") == key).count() == 1

    # truncate on a string source: prefix groups, source-value filter
    base2 = str(tmp_path / "t2")
    write_iceberg_table(s, base2, partition_by=["truncate(9, s_name)"])
    name = s.select("s_name").orderBy("s_name").head()[0]
    got = read_iceberg_table(
        spark, base2, partition_filter={"s_name": name}
    )
    assert got.filter(F.col("s_name") == name).count() == 1

    # filters on non-partition sources still refuse
    with pytest.raises(ValueError):
        read_iceberg_table(spark, base, partition_filter={"s_comment": 1})


def _latest_meta(base):
    md = os.path.join(base, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    return json.load(open(os.path.join(md, f"v{v}.metadata.json")))


def test_iceberg_partition_spec_evolution_reads_complete(
    spark, sf_small, tmp_path
):
    """Round-14, the round-13 verdict's #1 defect: a table whose
    partition spec EVOLVED (new spec appended, default-spec-id moved)
    must (a) read complete with no filter, (b) treat old-spec files as
    UNPRUNABLE under a filter naming the new spec's source column —
    include them, never silently skip — and (c) still file-exactly
    prune the files whose manifests carry the matching spec."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    old_half = s.filter(F.col("s_suppkey") % 2 == 0)
    new_half = s.filter(F.col("s_suppkey") % 2 == 1)
    write_iceberg_table(old_half, base, partition_by=["bucket(4, s_suppkey)"])
    write_iceberg_table(
        new_half, base, mode="append", partition_by=["s_nationkey"]
    )

    meta = _latest_meta(base)
    assert [p["spec-id"] for p in meta["partition-specs"]] == [0, 1]
    assert meta["default-spec-id"] == 1
    # the evolved spec resolves its source by source-id, not name
    f1 = meta["partition-specs"][1]["fields"][0]
    assert f1["transform"] == "identity" and f1["source-id"] == 3
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    assert sorted(m["partition_spec_id"] for m in manifests) == [0, 1]

    # (a) complete unfiltered read across both specs
    full = read_iceberg_table(spark, base)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, s.collect())
    )

    # (b) filter on the NEW spec's source: old-spec files are
    # conservatively included, so the residual filter sees every row
    nk = int(new_half.select("s_nationkey").head()[0])
    filt = read_iceberg_table(
        spark, base, partition_filter={"s_nationkey": nk}
    )
    want = s.filter(F.col("s_nationkey") == nk)
    got = filt.filter(F.col("s_nationkey") == nk)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # old-spec (bucket) files all survive; new-spec files prune to the
    # single matching nationkey file
    files = {f.replace("file://", "") for f in filt.inputFiles()}
    per_manifest = {}
    for m in manifests:
        _, entries = read_avro_records(
            os.path.join(base, m["manifest_path"])
        )
        per_manifest[m["partition_spec_id"]] = entries
    old_files = {
        os.path.join(base, e["data_file"]["file_path"])
        for e in per_manifest[0]
    }
    new_match = {
        os.path.join(base, e["data_file"]["file_path"])
        for e in per_manifest[1]
        if e["data_file"]["partition"]["s_nationkey"] == nk
    }
    assert files == old_files | new_match

    # (c) filter on the OLD spec's source: new-spec files unprunable,
    # old-spec files prune to the matching bucket
    filt2 = read_iceberg_table(
        spark, base, partition_filter={"s_suppkey": 2}
    )
    assert filt2.filter(F.col("s_suppkey") == 2).count() == 1

    # appending again under the SAME evolved spec reuses spec-id 1
    write_iceberg_table(
        new_half.limit(1), base, mode="append", partition_by=["s_nationkey"]
    )
    assert len(_latest_meta(base)["partition-specs"]) == 2


def test_iceberg_same_source_identity_and_bucket_prune_together(
    spark, sf_small, tmp_path
):
    """ADVICE round-13 low: identity(col) + bucket(col) in ONE spec
    used to collide in a name-keyed dict (last wins) and could prune on
    the wrong field; both fields must now narrow together."""
    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(
        s, base, partition_by=["s_nationkey", "bucket(4, s_nationkey)"]
    )
    nk = int(s.select("s_nationkey").head()[0])
    d = read_iceberg_table(spark, base, partition_filter={"s_nationkey": nk})
    want = s.filter(F.col("s_nationkey") == nk)
    assert sorted(map(tuple, d.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_iceberg_bucket_null_batch_keeps_int64_precision(spark, tmp_path):
    """Round-14 ADVICE medium: a null-bearing int64 Arrow batch reaches
    pandas as float64, and the old fillna→int64 round-trip corrupted
    |v| > 2^53 into a wrong murmur3 bucket — a silently lost row under
    partition_filter pruning. The writer now masks nulls JVM-side so
    the UDF batch stays exact int64."""
    from novelti_dingo_spark.sources.iceberg import iceberg_bucket

    big = 2**62 + 1
    df = spark.createDataFrame(
        [(1, big), (2, None), (3, 7)], "id int, v long"
    )
    base = str(tmp_path / "t")
    write_iceberg_table(df, base, partition_by=["bucket(8, v)"])
    meta = _latest_meta(base)
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    _, entries = read_avro_records(
        os.path.join(base, manifests[0]["manifest_path"])
    )
    buckets = {e["data_file"]["partition"]["v_bucket"] for e in entries}
    assert iceberg_bucket(big, 8) in buckets  # exact, not float-rounded
    assert None in buckets  # spec: null source -> null partition value
    pruned = read_iceberg_table(spark, base, partition_filter={"v": big})
    assert [tuple(r) for r in pruned.filter(F.col("v") == big).collect()] == [
        (1, big)
    ]


def test_iceberg_delete_zero_hits_does_not_commit(spark, sf_small, tmp_path):
    """Round-14 ADVICE low: a delete whose condition matches nothing
    returns the CURRENT snapshot id without committing metadata churn,
    matching the Delta twin."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    sid = write_iceberg_table(s, base)
    got = delete_rows_from_iceberg_table(
        spark, base, "s_suppkey < 0", mode="position"
    )
    assert got == sid
    assert len(iceberg_snapshots(base)) == 1
    got2 = delete_rows_from_iceberg_table(
        spark, base, "s_suppkey < 0",
        mode="equality", equality_columns=["s_suppkey"],
    )
    assert got2 == sid
    assert len(iceberg_snapshots(base)) == 1


def test_iceberg_oversized_delete_relation_falls_back_to_shuffle(
    spark, sf_small, tmp_path, monkeypatch
):
    """Round-14 (verdict #7): past DELETE_BROADCAST_MAX_ROWS the
    broadcast hint is dropped so a foreign table carrying millions of
    delete rows plans a shuffle anti-join instead of OOMing the
    broadcast; results are identical either way."""
    from novelti_dingo_spark.sources import tablecore
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base)
    delete_rows_from_iceberg_table(
        spark, base, "s_suppkey % 2 = 0", mode="position"
    )
    want = sorted(
        map(tuple, s.filter(F.col("s_suppkey") % 2 != 0).collect())
    )

    big = read_iceberg_table(spark, base)  # under threshold: broadcast
    assert "BroadcastHashJoin" in big._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, big.collect())) == want

    monkeypatch.setattr(tablecore, "DELETE_BROADCAST_MAX_ROWS", 0)
    small = read_iceberg_table(spark, base)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, small.collect())) == want


def test_iceberg_column_stats_pruning(spark, sf_small, tmp_path):
    """COLUMN STATS (round-14, verdict #5): the writer records per-file
    lower_bounds/upper_bounds from the parquet footers (field-id keyed,
    spec single-value binaries); range_filter prunes files whose
    [min, max] provably misses the predicate — file-exact — while
    unsupported types and bound-less files stay conservatively
    included. Superset semantics: residual predicate gives exact rows."""
    from novelti_dingo_spark.sources.avro_py import read_avro_records

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s.repartitionByRange(3, "s_suppkey"), base)

    meta = _latest_meta(base)
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    _, entries = read_avro_records(
        os.path.join(base, manifests[0]["manifest_path"])
    )
    import struct

    # bounds recorded for every supported type (long, string, int,
    # double here), keyed by field-id, little-endian per spec
    ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    per_file = []
    for e in entries:
        lb = {kv["key"]: kv["value"] for kv in e["data_file"]["lower_bounds"]}
        ub = {kv["key"]: kv["value"] for kv in e["data_file"]["upper_bounds"]}
        assert len(lb[ids["s_acctbal"]]) == 8  # IEEE double
        assert lb[ids["s_name"]].decode("utf-8").startswith("Supplier#")
        per_file.append(
            (
                struct.unpack("<q", lb[ids["s_suppkey"]])[0],
                struct.unpack("<q", ub[ids["s_suppkey"]])[0],
            )
        )
    # repartitionByRange → disjoint per-file ranges covering the data
    per_file.sort()
    mn = s.agg(F.min("s_suppkey")).head()[0]
    mx = s.agg(F.max("s_suppkey")).head()[0]
    assert per_file[0][0] == mn and per_file[-1][1] == mx

    # file-exact pruning + residual correctness
    lo, hi = per_file[0][1] + 1, mx  # everything past file 0
    pruned = read_iceberg_table(
        spark, base, range_filter={"s_suppkey": (lo, hi)}
    )
    assert len(pruned.inputFiles()) < len(entries)
    got = pruned.filter(F.col("s_suppkey").between(lo, hi))
    want = s.filter(F.col("s_suppkey").between(lo, hi))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    with pytest.raises(ValueError):
        read_iceberg_table(
            spark, base, range_filter={"nope": (0, 1)}
        )

    # unsupported stats type (date): no bounds recorded, range_filter
    # on it includes every file instead of dropping rows
    base2 = str(tmp_path / "dated")
    dated = s.withColumn(
        "d", F.to_date(F.lit("2024-01-01"))
    )
    write_iceberg_table(dated.repartitionByRange(2, "s_suppkey"), base2)
    meta2 = _latest_meta(base2)
    _, mans2 = read_avro_records(
        os.path.join(base2, meta2["snapshots"][-1]["manifest-list"])
    )
    _, ents2 = read_avro_records(
        os.path.join(base2, mans2[0]["manifest_path"])
    )
    ids2 = {f["name"]: f["id"] for f in meta2["schemas"][0]["fields"]}
    for e in ents2:
        lb2 = {
            kv["key"] for kv in e["data_file"]["lower_bounds"]
        }
        assert ids2["d"] not in lb2
    import datetime

    all_in = read_iceberg_table(
        spark, base2,
        range_filter={
            "d": (datetime.date(2030, 1, 1), None)
        },
    )
    assert all_in.count() == s.count()  # unprunable: superset, no loss


def test_iceberg_stats_absent_on_old_manifests_is_unprunable(
    spark, sf_small, tmp_path
):
    """Back-compat: manifests written before bounds existed (or by
    foreign writers without stats) have no lower/upper bounds — a
    range_filter read includes every file instead of dropping rows."""
    from novelti_dingo_spark.sources.avro_py import (
        read_avro_records,
        write_avro_records,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base)
    meta = _latest_meta(base)
    _, manifests = read_avro_records(
        os.path.join(base, meta["snapshots"][-1]["manifest-list"])
    )
    mpath = os.path.join(base, manifests[0]["manifest_path"])
    schema_js, entries = read_avro_records(mpath)
    for e in entries:
        e["data_file"]["lower_bounds"] = None
        e["data_file"]["upper_bounds"] = None
    write_avro_records(mpath, schema_js, entries)
    got = read_iceberg_table(
        spark, base, range_filter={"s_suppkey": (1, 2)}
    )
    assert got.count() == s.count()  # nothing prunable, nothing lost


def test_iceberg_incremental_read_all_legs(spark, sf_small, tmp_path):
    """read_iceberg_changes (round-14): append commits contribute only
    their own files as inserts; position deletes resolve row-addressed
    against the parent snapshot; equality deletes semi-join the parent
    state; overwrites fall back to the exact multiset diff; an empty
    window returns an empty frame with the feed schema."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
        read_iceberg_changes,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    s0 = write_iceberg_table(s.filter("s_suppkey <= 5"), base)
    s1 = write_iceberg_table(
        s.filter("s_suppkey > 5"), base, mode="append"
    )
    s2 = delete_rows_from_iceberg_table(
        spark, base, "s_nationkey < 13", mode="position"
    )
    s3 = delete_rows_from_iceberg_table(
        spark, base, "s_nationkey >= 20",
        mode="equality", equality_columns=["s_nationkey"],
    )
    feed = read_iceberg_changes(spark, base, s0)
    cols = list(s.columns)
    ins = feed.filter(f"_snapshot_id = {s1}")
    assert ins.select("_change_type").distinct().collect()[0][0] == "insert"
    assert sorted(map(tuple, ins.select(*cols).collect())) == sorted(
        map(tuple, s.filter("s_suppkey > 5").collect())
    )
    posd = feed.filter(f"_snapshot_id = {s2}").select(*cols)
    assert sorted(map(tuple, posd.collect())) == sorted(
        map(tuple, s.filter("s_nationkey < 13").collect())
    )
    eqd = feed.filter(f"_snapshot_id = {s3}").select(*cols)
    assert sorted(map(tuple, eqd.collect())) == sorted(
        map(
            tuple,
            s.filter(
                "s_nationkey >= 20 AND NOT s_nationkey < 13"
            ).collect(),
        )
    )
    # overwrite: exact diff both ways
    s4 = write_iceberg_table(s.limit(2), base, mode="overwrite")
    ow = read_iceberg_changes(spark, base, s3, s4)
    per = {
        r["_change_type"]: r["count"]
        for r in ow.groupBy("_change_type").count().collect()
    }
    live_before = s.filter(
        "NOT s_nationkey < 13 AND NOT s_nationkey >= 20"
    ).count()
    assert per.get("delete", 0) >= live_before - 2
    assert per.get("insert", 0) <= 2
    # empty window + unknown snapshot refusal
    assert read_iceberg_changes(spark, base, s4).count() == 0
    from novelti_dingo_spark.sources.iceberg import IcebergError

    with pytest.raises(IcebergError):
        read_iceberg_changes(spark, base, 12345)


def test_iceberg_merge_upsert_atomic_snapshot(spark, sf_small, tmp_path):
    """MERGE INTO (round-14): ONE snapshot carrying an equality-delete
    manifest over the source keys plus the merged rows' data manifest,
    both at the commit's sequence number — the delete hits every
    pre-existing file (strictly-older scoping) but never the rows the
    same commit appends. Upsert, matched-delete, no-op non-commit,
    duplicate-key refusal, and schema mismatch."""
    from novelti_dingo_spark.sources.avro_py import read_avro_records
    from novelti_dingo_spark.sources.iceberg import (
        IcebergError,
        merge_into_iceberg_table,
        read_iceberg_changes,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    cols = s.columns
    write_iceberg_table(s.repartition(3), base)

    upd = s.filter("s_nationkey < 10").withColumn(
        "s_acctbal", F.col("s_acctbal") + 5000
    )
    ins = s.filter("s_nationkey >= 20").withColumn(
        "s_suppkey", F.col("s_suppkey") + 1_000_000
    )
    src = upd.select(*cols).unionAll(ins.select(*cols))
    sid = merge_into_iceberg_table(spark, base, src, on=["s_suppkey"])

    got = read_iceberg_table(spark, base).select(*cols)
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

    # ONE new snapshot; its manifest list adds exactly one data and
    # one delete manifest, same sequence number
    snaps = iceberg_snapshots(base)
    assert len(snaps) == 2 and snaps[-1]["snapshot_id"] == sid
    assert snaps[-1]["operation"] == "overwrite"
    import os as _os

    from novelti_dingo_spark.sources.iceberg import (
        _abs_path,
        _latest_metadata,
        _resolve_snapshot,
    )

    meta, _ = _latest_metadata(base)
    snap = _resolve_snapshot(meta, None)
    _, manifests = read_avro_records(
        _abs_path(base, snap["manifest-list"])
    )
    new_ms = [
        m for m in manifests if m["added_snapshot_id"] == sid
    ]
    assert sorted(m["content"] for m in new_ms) == [0, 1]
    seqs = {m["sequence_number"] for m in new_ms}
    assert len(seqs) == 1  # same commit sequence number

    # time travel to the pre-merge snapshot reads the original
    pre = snaps[0]["snapshot_id"]
    assert read_iceberg_table(
        spark, base, snapshot_id=pre
    ).count() == s.count()

    # incremental changes: overwrite leg derives insert+delete halves
    per = {
        r["_change_type"]: r["n"]
        for r in read_iceberg_changes(spark, base, pre)
        .groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per == {
        "insert": upd.count() + ins.count(),
        "delete": upd.count(),
    }

    # no-op merge commits nothing
    empty = spark.createDataFrame([], s.schema)
    assert merge_into_iceberg_table(
        spark, base, empty, on=["s_suppkey"]
    ) == sid
    assert len(iceberg_snapshots(base)) == 2

    # matched-delete removes the inserted half again
    merge_into_iceberg_table(
        spark, base, ins.select(*cols), on=["s_suppkey"],
        when_matched="delete", when_not_matched=None,
    )
    assert (
        read_iceberg_table(spark, base)
        .filter("s_suppkey > 1000000")
        .count()
        == 0
    )

    # duplicate source keys refuse when updating
    one = s.filter("s_suppkey = 1").select(*cols)
    with pytest.raises(IcebergError, match="duplicate source key"):
        merge_into_iceberg_table(
            spark, base,
            one.unionAll(one.withColumn("s_acctbal", F.lit(0.0))),
            on=["s_suppkey"],
        )
    with pytest.raises(ValueError, match="source schema"):
        merge_into_iceberg_table(
            spark, base, src.drop("s_name"), on=["s_suppkey"]
        )


def test_iceberg_merge_partitioned_spec_reuse(spark, sf_small, tmp_path):
    """MERGE on a hidden-partitioned table appends under the CURRENT
    default spec (identity + bucket re-derived from the spec, not an
    accidental unpartitioned spec evolution), and a partition move
    works: the old row dies under the equality delete, the new row
    lands in its new partition and is partition-prunable."""
    from novelti_dingo_spark.sources.iceberg import (
        _latest_metadata,
        merge_into_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    cols = s.columns
    write_iceberg_table(
        s, base, partition_by=["s_nationkey", "bucket(4, s_suppkey)"]
    )
    nk0 = s.agg(F.min("s_nationkey")).collect()[0][0]
    moved = (
        s.filter(F.col("s_nationkey") == nk0)
        .withColumn("s_nationkey", F.lit(99).cast("bigint"))
        .withColumn("s_acctbal", F.col("s_acctbal") * 2)
    )
    n_moved = moved.count()
    assert n_moved > 0
    merge_into_iceberg_table(
        spark, base, moved.select(*cols), on=["s_suppkey"]
    )
    got = read_iceberg_table(spark, base)
    assert got.filter(F.col("s_nationkey") == nk0).count() == 0
    assert got.filter("s_nationkey = 99").count() == n_moved
    assert got.count() == s.count()
    # no new spec was created: merge reused the default spec
    meta, _ = _latest_metadata(base)
    assert len(meta["partition-specs"]) == 1
    # pruning on the new partition value still works
    pr = read_iceberg_table(
        spark, base, partition_filter={"s_nationkey": 99}
    )
    assert pr.filter("s_nationkey = 99").count() == n_moved


def test_iceberg_rollback_and_timestamp_travel(spark, sf_small, tmp_path):
    """ROLLBACK (round-14): metadata-only setCurrentSnapshot — reads
    resume from the restored state, every snapshot stays in history
    (roll forward works), and TIMESTAMP AS OF resolves snapshot
    timestamps. The unknown-snapshot and pre-history-timestamp cases
    refuse."""
    from novelti_dingo_spark.sources.iceberg import (
        IcebergError,
        delete_rows_from_iceberg_table,
        resolve_iceberg_snapshot_at,
        rollback_iceberg_table,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s, base)
    snaps = iceberg_snapshots(base)
    snap0, ts0 = snaps[0]["snapshot_id"], snaps[0]["timestamp_ms"]
    snap1 = delete_rows_from_iceberg_table(
        spark, base, "s_suppkey <= 3", mode="position"
    )
    n_after_delete = read_iceberg_table(spark, base).count()
    assert n_after_delete < s.count()

    assert rollback_iceberg_table(base, snap0) == snap0
    assert read_iceberg_table(spark, base).count() == s.count()
    # history preserved: the delete snapshot is still addressable
    assert (
        read_iceberg_table(spark, base, snapshot_id=snap1).count()
        == n_after_delete
    )
    # roll forward again
    rollback_iceberg_table(base, snap1)
    assert read_iceberg_table(spark, base).count() == n_after_delete

    # timestamp travel
    assert resolve_iceberg_snapshot_at(base, ts0) == snap0
    assert (
        read_iceberg_table(spark, base, timestamp_ms=ts0).count()
        == s.count()
    )
    with pytest.raises(IcebergError, match="predates"):
        resolve_iceberg_snapshot_at(base, 1000)
    with pytest.raises(IcebergError):
        rollback_iceberg_table(base, 12345)
    with pytest.raises(ValueError):
        read_iceberg_table(
            spark, base, snapshot_id=snap0, timestamp_ms=ts0
        )


def test_iceberg_rename_column_field_id_resolution(
    spark, sf_small, tmp_path
):
    """RENAME COLUMN (round-14): metadata-only schema evolution — a
    new schema-id with the same field ids, no snapshot, no data
    movement. Reads resolve every file's physical names through its
    adding snapshot's schema-id (field-id identity): pre-rename data
    files scan correctly under the new name (NOT as nulls), appends
    after the rename mix in, equality-delete files written before the
    rename still resolve, and historical snapshots keep reading under
    their own schema."""
    from novelti_dingo_spark.sources.iceberg import (
        IcebergError,
        delete_rows_from_iceberg_table,
        rename_iceberg_column,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    cols = s.columns
    write_iceberg_table(s.repartition(2), base)
    pre_snap = iceberg_snapshots(base)[0]["snapshot_id"]

    # an EQUALITY delete committed under the OLD name…
    delete_rows_from_iceberg_table(
        spark, base, "s_nationkey >= 20",
        mode="equality", equality_columns=["s_nationkey"],
    )
    n_live = read_iceberg_table(spark, base).count()
    assert n_live == s.filter("s_nationkey < 20").count()

    # …must still apply after the identifier column is renamed
    assert rename_iceberg_column(base, "s_nationkey", "nation_id") == 1
    got = read_iceberg_table(spark, base)
    assert "nation_id" in got.columns and "s_nationkey" not in got.columns
    assert got.count() == n_live
    # values survive the rename — a by-name scan would null them
    assert sorted(r.nation_id for r in got.collect()) == sorted(
        r.s_nationkey
        for r in s.filter("s_nationkey < 20").collect()
    )

    # historical snapshot reads under ITS schema (old name)
    old = read_iceberg_table(spark, base, snapshot_id=pre_snap)
    assert "s_nationkey" in old.columns
    assert old.count() == s.count()

    # append after the rename: mixed-schema file groups union cleanly
    new_cols = [
        "nation_id" if c == "s_nationkey" else c for c in cols
    ]
    extra = s.withColumn(
        "s_suppkey", F.col("s_suppkey") + 100_000
    ).toDF(*new_cols)
    write_iceberg_table(extra, base, mode="append")
    got2 = read_iceberg_table(spark, base)
    assert got2.count() == n_live + s.count()

    # a position delete filtered on the NEW name hits old files too
    delete_rows_from_iceberg_table(
        spark, base, "nation_id < 5", mode="position"
    )
    want = (
        s.filter("s_nationkey < 20").filter("s_nationkey >= 5").count()
        + s.filter("s_nationkey >= 5").count()
    )
    assert read_iceberg_table(spark, base).count() == want

    # refusals
    with pytest.raises(IcebergError, match="no column"):
        rename_iceberg_column(base, "nope", "x")
    with pytest.raises(IcebergError, match="already exists"):
        rename_iceberg_column(base, "s_name", "nation_id")


def test_iceberg_changes_position_delete_survive_rename(spark, tmp_path):
    """The change feed of a position delete scans the parent's files
    rename-aware: after a later rename, the delete rows carry the
    renamed column's values under the new name (not NULL), exactly as
    a read of the parent snapshot shows them."""
    from novelti_dingo_spark.sources.iceberg import (
        delete_rows_from_iceberg_table,
        read_iceberg_changes,
        rename_iceberg_column,
    )

    base = str(tmp_path / "t")
    s0 = write_iceberg_table(
        spark.createDataFrame(
            [(k, f"n{k}") for k in range(20)], "k long, name string"
        ),
        base,
    )
    s1 = delete_rows_from_iceberg_table(spark, base, "k % 5 = 0")
    rename_iceberg_column(base, "name", "label")
    got = sorted(
        (r["k"], r["label"], r["_change_type"])
        for r in read_iceberg_changes(spark, base, s0, s1).collect()
    )
    assert got == [(k, f"n{k}", "delete") for k in range(0, 20, 5)]


def test_iceberg_add_drop_column_schema_evolution(
    spark, sf_small, tmp_path
):
    """ADD/DROP COLUMN (round-14): both metadata-only new-schema-id
    commits. Added fields scan as null in pre-add files and carry
    values in post-add appends; dropped fields stop projecting while
    historical snapshots keep them; ids are never reused
    (last-column-id grows); partition-source and last-column drops
    refuse."""
    from novelti_dingo_spark.sources.iceberg import (
        IcebergError,
        UnsupportedIcebergFeature,
        _latest_metadata,
        add_iceberg_column,
        drop_iceberg_column,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s.repartition(2), base)
    pre = iceberg_snapshots(base)[0]["snapshot_id"]

    add_iceberg_column(base, "quality_score", "double")
    got = read_iceberg_table(spark, base)
    assert "quality_score" in got.columns
    assert got.filter("quality_score IS NULL").count() == s.count()

    new = s.withColumn(
        "s_suppkey", F.col("s_suppkey") + 100
    ).withColumn("quality_score", F.lit(0.5))
    write_iceberg_table(new, base, mode="append")
    got2 = read_iceberg_table(spark, base)
    assert got2.filter("quality_score = 0.5").count() == s.count()
    assert got2.filter("quality_score IS NULL").count() == s.count()

    drop_iceberg_column(base, "s_name")
    got3 = read_iceberg_table(spark, base)
    assert "s_name" not in got3.columns
    assert got3.count() == 2 * s.count()
    old = read_iceberg_table(spark, base, snapshot_id=pre)
    assert "s_name" in old.columns
    assert "quality_score" not in old.columns

    # a re-added name gets a FRESH id: the old files' s_name data
    # must NOT leak back in under the recycled name
    meta, _ = _latest_metadata(base)
    before_last = int(meta["last-column-id"])
    add_iceberg_column(base, "s_name", "string")
    meta2, _ = _latest_metadata(base)
    assert int(meta2["last-column-id"]) == before_last + 1
    got4 = read_iceberg_table(spark, base)
    assert got4.filter("s_name IS NOT NULL").count() == 0

    with pytest.raises(IcebergError, match="already exists"):
        add_iceberg_column(base, "s_acctbal", "double")
    with pytest.raises(IcebergError, match="no column"):
        drop_iceberg_column(base, "nope")
    base2 = str(tmp_path / "p")
    write_iceberg_table(s, base2, partition_by=["s_nationkey"])
    with pytest.raises(UnsupportedIcebergFeature, match="partition"):
        drop_iceberg_column(base2, "s_nationkey")


def test_iceberg_refs_tags_protect_from_expire(spark, sf_small, tmp_path):
    """Named refs (round-14): tags/branches pin a snapshot under a
    name, read via ref=, and PROTECT it from expire_iceberg_snapshots
    — an old tagged snapshot survives retention while untagged
    contemporaries expire; dropping the ref releases the
    protection."""
    from novelti_dingo_spark.sources.iceberg import (
        IcebergError,
        create_iceberg_ref,
        drop_iceberg_ref,
        expire_iceberg_snapshots,
        list_iceberg_refs,
    )

    base = str(tmp_path / "t")
    s = load_table(spark, sf_small, "supplier")
    write_iceberg_table(s.limit(3), base)          # s0
    write_iceberg_table(s.limit(6), base)          # s1 (overwrite)
    write_iceberg_table(s, base)                   # s2
    snaps = iceberg_snapshots(base)
    s0, s1 = snaps[0]["snapshot_id"], snaps[1]["snapshot_id"]

    assert create_iceberg_ref(base, "v1.0", snapshot_id=s0) == s0
    create_iceberg_ref(base, "dev", snapshot_id=s1, kind="branch")
    refs = list_iceberg_refs(base)
    assert refs["v1.0"] == {"snapshot_id": s0, "type": "tag"}
    assert refs["dev"]["type"] == "branch"

    # read by ref
    assert read_iceberg_table(spark, base, ref="v1.0").count() == 3
    assert read_iceberg_table(spark, base, ref="dev").count() == 6
    with pytest.raises(IcebergError, match="no ref"):
        read_iceberg_table(spark, base, ref="nope")

    # expire keep-last-1: the ref'd snapshots SURVIVE
    expire_iceberg_snapshots(base, retain_last=1)
    left = {x["snapshot_id"] for x in iceberg_snapshots(base)}
    assert s0 in left and s1 in left and len(left) == 3
    assert read_iceberg_table(spark, base, ref="v1.0").count() == 3

    # dropping the refs releases protection; expire reclaims
    drop_iceberg_ref(base, "v1.0")
    drop_iceberg_ref(base, "dev")
    expire_iceberg_snapshots(base, retain_last=1)
    left2 = {x["snapshot_id"] for x in iceberg_snapshots(base)}
    assert left2 == {snaps[2]["snapshot_id"]}
    with pytest.raises(IcebergError):
        read_iceberg_table(spark, base, snapshot_id=s0)
    create_iceberg_ref(base, "x")
    with pytest.raises(IcebergError, match="already exists"):
        create_iceberg_ref(base, "x")
