"""Deletion vectors (sources/dv.py + deltalog merge-on-read DELETE).

Covers the codec (Z85, 32-bit roaring portable incl. run containers,
RoaringBitmapArray framing, CRC), the DV DELETE lifecycle (write,
union on repeat delete, full-file drop, time travel, checkpoint +
cleanup durability, purge/OPTIMIZE materialization, vacuum retention,
restore across DV changes), copy-on-write DML over DV'd files, CDF
interplay, and the Data Source read paths (whole-file, row-group
split offsets, CDF derivation). Reference tie: Delta DML over the
reference's Monte-Carlo tables (config/configure_notebook.py:18-27);
deletion vectors are the open protocol's merge-on-read half."""

import glob
import json
import os
import struct
from urllib.parse import unquote

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from value_at_risk_spark.sources import dv
from value_at_risk_spark.sources.deltalog import (
    checkpoint_delta,
    cleanup_delta_log,
    delete_from_delta,
    optimize_delta,
    purge_deletion_vectors,
    read_delta,
    read_delta_changes,
    restore_delta,
    set_table_properties,
    snapshot,
    table_changes,
    update_delta,
    vacuum_delta,
    write_delta,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --- codec ------------------------------------------------------------


def test_z85_spec_vector():
    # the ZeroMQ 32/Z85 spec's reference test case
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert dv.z85_encode(raw) == "HelloWorld"
    assert dv.z85_decode("HelloWorld") == raw
    with pytest.raises(ValueError):
        dv.z85_encode(b"abc")  # not a multiple of 4
    with pytest.raises(ValueError):
        dv.z85_decode("~~~~~")  # invalid alphabet


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 40)),
        max_size=3000,
        unique=True,
    ),
    st.booleans(),
)
def test_rbm_array_round_trip(vals, dense):
    arr = np.array(sorted(vals), dtype=np.uint64)
    if dense:
        # force a bitmap container (cardinality > 4096 in one key)
        arr = np.unique(
            np.concatenate([arr, np.arange(5000, dtype=np.uint64) * 2])
        )
    assert np.array_equal(
        dv.deserialize_rbm_array(dv.serialize_rbm_array(arr)), arr
    )


def test_roaring_run_container_read():
    # hand-crafted SERIAL_COOKIE (12347) stream with one run container
    # [start=10, len=4] under key 2 — the writer never emits runs, so
    # the read path is pinned against a constructed wire image
    buf = (
        struct.pack("<i", 12347 | (0 << 16))
        + bytes([1])  # run-flag bitset: container 0 is a run
        + struct.pack("<HH", 2, 4)  # key=2, cardinality-1=4
        + struct.pack("<HHH", 1, 10, 4)  # 1 run: start 10, extra 4
    )
    got, _ = dv.deserialize_roaring32(buf, 0)
    assert list(got) == [(2 << 16) + v for v in range(10, 15)]


def test_dv_file_framing_crc_and_inline(tmp_path):
    d = str(tmp_path)
    bms = [
        np.array([0, 5, 9], dtype=np.uint64),
        np.arange(2000, dtype=np.uint64) * 7,
    ]
    descs = dv.write_dv_file(d, bms)
    # one physical file for the whole batch
    assert len(glob.glob(os.path.join(d, "deletion_vector_*.bin"))) == 1
    for bm, de in zip(bms, descs):
        assert de["storageType"] == "u"
        assert de["cardinality"] == len(bm)
        assert np.array_equal(dv.read_dv(d, de), bm)
    # flip one data byte -> CRC refuses
    p = dv.dv_abs_path(d, descs[0])
    raw = bytearray(open(p, "rb").read())
    raw[descs[0]["offset"] + 6] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC"):
        dv.read_dv(d, descs[0])
    # inline descriptors need no file at all
    idx = np.array([1, 2, 3, 1 << 40], dtype=np.uint64)
    inline = dv.inline_descriptor(idx)
    assert inline["storageType"] == "i"
    assert np.array_equal(dv.read_dv("/nonexistent", inline), idx)


def test_keep_mask():
    deleted = np.array([2, 5], dtype=np.uint64)
    assert list(dv.keep_mask(np.arange(7, dtype=np.uint64), deleted)) == [
        True, True, False, True, True, False, True,
    ]
    assert dv.keep_mask(
        np.arange(3, dtype=np.uint64), np.empty(0, dtype=np.uint64)
    ).all()


# --- merge-on-read DELETE lifecycle ------------------------------------


def _mk(spark, tmp_path, n=1000, parts=4, **kw):
    tbl = str(tmp_path / "tbl")
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    cfg = {"delta.enableDeletionVectors": "true"}
    cfg.update(kw.pop("configuration", {}))
    write_delta(spark, df.repartition(parts), tbl, configuration=cfg, **kw)
    return tbl, df


def test_dv_delete_reads_and_time_travel(spark, tmp_path):
    tbl, df = _mk(spark, tmp_path)
    r = delete_from_delta(spark, tbl, "g = 3")
    assert r["rows_deleted"] == 143
    assert r["files_rewritten"] == 0 and r["dv_files"] == 4
    # exactly one DV file per DELETE, not per touched data file
    assert len(glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))) == 1
    out = read_delta(spark, tbl)
    assert out.count() == 857 and out.filter("g = 3").count() == 0
    # the data files themselves were not rewritten
    snap = snapshot(tbl)
    assert all(a.get("deletionVector") for a in snap.files.values())
    # repeat DELETE unions bitmaps
    delete_from_delta(spark, tbl, "id < 10")
    exp = sum(1 for i in range(1000) if i % 7 != 3 and i >= 10)
    assert read_delta(spark, tbl).count() == exp
    # time travel reaches every DV state
    assert read_delta(spark, tbl, version=1).count() == 857
    assert read_delta(spark, tbl, version=0).count() == 1000
    # aggregates equal a recompute over the surviving logical rows
    got = _rows(read_delta(spark, tbl).groupBy("g").agg(F.sum("v")))
    want = _rows(
        df.filter("g != 3 and id >= 10").groupBy("g").agg(F.sum("v"))
    )
    assert got == want


def test_dv_protocol_upgrade_lists_legacy_features(spark, tmp_path):
    tbl = str(tmp_path / "up")
    write_delta(spark, spark.range(4).select("id"), tbl)
    assert snapshot(tbl).protocol == {
        "minReaderVersion": 1,
        "minWriterVersion": 2,
    }
    set_table_properties(tbl, {"delta.enableDeletionVectors": "true"})
    p = snapshot(tbl).protocol
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert "deletionVectors" in p["readerFeatures"]
    # legacy wv2 implied features must survive the upgrade
    assert {"appendOnly", "invariants", "deletionVectors"} <= set(
        p["writerFeatures"]
    )


def test_dv_full_file_delete_drops_the_file(spark, tmp_path):
    tbl = str(tmp_path / "full")
    write_delta(
        spark,
        spark.range(0, 100).select("id", (F.col("id") % 2).alias("g")),
        tbl,
        partition_by=["g"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    n_before = len(snapshot(tbl).files)
    r = delete_from_delta(spark, tbl, "g = 1")
    # every g=1 file is fully deleted: removed outright, no DV written
    assert r["files_fully_removed"] >= 1 and r["dv_files"] == 0
    assert len(snapshot(tbl).files) < n_before
    assert read_delta(spark, tbl).count() == 50
    assert not glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))


def test_dv_scan_partitioned_colliding_basenames(spark, tmp_path):
    """Partitioned writes reuse ONE basename across partition dirs
    (part-00000-<job-uuid> lands in every k=v dir it writes), so the
    DV mask must key files by full path — pinned by deleting a
    per-partition slice and checking every partition's survivors."""
    tbl = str(tmp_path / "pt")
    write_delta(
        spark,
        spark.range(0, 600).select(
            "id", (F.col("id") % 3).alias("p"), (F.col("id") % 10).alias("m")
        ),
        tbl,
        partition_by=["p"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    # same basename in p=0/1/2 dirs — the collision the key must survive
    base = {
        os.path.basename(f)
        for f in snapshot(tbl).files
    }
    delete_from_delta(spark, tbl, "m = 4")
    out = read_delta(spark, tbl)
    assert out.count() == 540
    got = {(r["p"], r["c"]) for r in
           out.groupBy("p").agg(F.count("*").alias("c")).collect()}
    assert got == {(0, 180), (1, 180), (2, 180)}
    assert out.filter("m = 4").count() == 0
    assert len(base) < len(snapshot(tbl).files) or len(base) >= 1


def test_dv_survives_checkpoint_and_log_cleanup(spark, tmp_path):
    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")
    checkpoint_delta(tbl)
    cleanup_delta_log(tbl)
    # replay now bootstraps from the checkpoint alone — the DV
    # descriptors must have round-tripped through its parquet schema
    out = read_delta(spark, tbl)
    assert out.count() == 857 and out.filter("g = 3").count() == 0
    snap = snapshot(tbl)
    assert "deletionVectors" in snap.protocol["readerFeatures"]


def test_cow_dml_over_dv_files_does_not_resurrect(spark, tmp_path):
    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")
    # turning the property off switches DML to copy-on-write; the
    # DV'd files stay masked
    set_table_properties(tbl, {"delta.enableDeletionVectors": "false"})
    # copy-on-write UPDATE of a DV'd file must carry the mask through
    r = update_delta(spark, tbl, "id = 501", {"v": "v + 1"})
    assert r["rows_updated"] == 1 and r["files_rewritten"] == 1
    out = read_delta(spark, tbl)
    assert out.count() == 857
    assert out.filter("id = 501").first().v == 1003
    assert out.filter("g = 3").count() == 0
    # CoW DELETE over a DV'd file: same contract, and already-deleted
    # rows are not double-counted
    r2 = delete_from_delta(spark, tbl, "id < 14")
    assert r2["rows_deleted"] == 12  # ids 3 and 10 were g=3, already gone
    assert read_delta(spark, tbl).count() == 857 - 12


def test_dv_filter_both_plans_agree(spark, tmp_path, monkeypatch):
    """The DV mask has two plans — broadcast anti-join (small deleted
    counts, whole-stage codegen) and broadcast-bitmap Arrow UDF (the
    scale path). Force each and pin identical output."""
    from value_at_risk_spark.sources import deltalog as dl

    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")
    anti = _rows(read_delta(spark, tbl))
    monkeypatch.setattr(dl, "_DV_ANTI_JOIN_MAX_ROWS", 0)
    udf = _rows(read_delta(spark, tbl))
    assert anti == udf and len(anti) == 857


def test_dv_update_merge_on_read(spark, tmp_path):
    """UPDATE under deletion vectors: matched rows are masked out of
    their files (zero rewrites) and the updated rows append as new
    files — including across a partition-column SET, since the moved
    rows are simply new files in their new Hive dirs."""
    tbl, df = _mk(spark, tmp_path)
    r = update_delta(spark, tbl, "g = 2", {"v": "v + 1000000"})
    assert r["files_rewritten"] == 0 and r["rows_updated"] == 143
    assert r["files_added"] >= 1 and r["dv_files"] == 4
    out = read_delta(spark, tbl)
    assert out.count() == 1000  # updates never change cardinality
    got = _rows(out.groupBy("g").agg(F.sum("v")))
    want = _rows(
        df.withColumn(
            "v",
            F.when(F.col("g") == 2, F.col("v") + 1000000).otherwise(
                F.col("v")
            ),
        )
        .groupBy("g")
        .agg(F.sum("v"))
    )
    assert got == want
    # second DV UPDATE touching both DV'd old files and the new ones
    r2 = update_delta(spark, tbl, "id < 20", {"v": "0"})
    assert r2["files_rewritten"] == 0 and r2["rows_updated"] == 20
    out2 = read_delta(spark, tbl)
    assert out2.count() == 1000
    assert out2.filter("id < 20 and v != 0").count() == 0
    # time travel reaches the pre-update state
    assert read_delta(spark, tbl, version=1).filter(
        "g = 2 and v >= 1000000"
    ).count() == 143


def test_dv_update_partition_move_and_cdf(spark, tmp_path):
    tbl = str(tmp_path / "pm")
    write_delta(
        spark,
        spark.range(0, 300).select(
            "id", (F.col("id") % 3).alias("p"), (F.col("id") * 2).alias("v")
        ),
        tbl,
        partition_by=["p"],
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    r = update_delta(spark, tbl, "id < 30 AND p = 1", {"p": "2"})
    assert r["files_rewritten"] == 0 and r["rows_updated"] == 10
    out = read_delta(spark, tbl)
    assert out.count() == 300
    assert out.filter("p = 2").count() == 110
    ch = table_changes(spark, tbl, 1, 1)
    from collections import Counter

    cnt = Counter(x["_change_type"] for x in ch.collect())
    assert cnt == {"update_preimage": 10, "update_postimage": 10}
    # postimages carry the new partition value
    assert all(
        x["p"] == 2
        for x in ch.filter("_change_type = 'update_postimage'").collect()
    )


def test_purge_and_optimize_materialize(spark, tmp_path):
    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")
    before = read_delta(spark, tbl)
    r = purge_deletion_vectors(spark, tbl)
    assert r["files_rewritten"] == 4
    after = read_delta(spark, tbl)
    assert _rows(after) == _rows(before)
    assert not any(
        a.get("deletionVector") for a in snapshot(tbl).files.values()
    )
    # purge again: no-op, no commit
    v = snapshot(tbl).version
    assert purge_deletion_vectors(spark, tbl)["files_rewritten"] == 0
    assert snapshot(tbl).version == v
    # OPTIMIZE over fresh DVs also materializes (dataChange:false)
    delete_from_delta(spark, tbl, "g = 5")
    exp = read_delta(spark, tbl).count()
    optimize_delta(spark, tbl, target_files=2)
    assert read_delta(spark, tbl).count() == exp
    assert not any(
        a.get("deletionVector") for a in snapshot(tbl).files.values()
    )


def test_vacuum_keeps_live_dv_collects_orphans(spark, tmp_path):
    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")  # dv file A
    purge_deletion_vectors(spark, tbl)      # A now unreferenced by tip
    delete_from_delta(spark, tbl, "g = 5")  # dv file B, live
    bins = glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))
    assert len(bins) == 2
    vacuum_delta(tbl, keep_versions=1, retention_seconds=0)
    live = glob.glob(os.path.join(tbl, "deletion_vector_*.bin"))
    assert len(live) == 1  # A collected, B retained
    exp = sum(1 for i in range(1000) if i % 7 not in (3, 5))
    assert read_delta(spark, tbl).count() == exp


def test_restore_across_dv_change(spark, tmp_path):
    tbl, _ = _mk(spark, tmp_path)          # v0 create, (cfg in v0)
    delete_from_delta(spark, tbl, "g = 3")  # v1
    delete_from_delta(spark, tbl, "g = 5")  # v2 (same paths, new DVs)
    restore_delta(spark, tbl, 1)            # back to only-g3-deleted
    out = read_delta(spark, tbl)
    assert out.count() == 857
    assert out.filter("g = 5").count() > 0
    restore_delta(spark, tbl, 0)
    assert read_delta(spark, tbl).count() == 1000


def test_dv_refusals(spark, tmp_path):
    # appendOnly forbids DELETE regardless of mode
    tbl = str(tmp_path / "ao")
    write_delta(
        spark,
        spark.range(5).select("id"),
        tbl,
        configuration={
            "delta.appendOnly": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    with pytest.raises(ValueError, match="appendOnly"):
        delete_from_delta(spark, tbl, "id = 1")
    # incremental append-only reads refuse DV commits loudly
    tbl2, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl2, "g = 3")
    with pytest.raises(ValueError, match="not expressible as appended"):
        read_delta_changes(spark, tbl2, 0).count()


def test_dv_cdf_cdc_and_overwrite_derivation(spark, tmp_path):
    tbl, df = _mk(
        spark,
        tmp_path,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_from_delta(spark, tbl, "g = 3")  # v1: cdc rows staged
    ch = table_changes(spark, tbl, 1, 1)
    assert ch.count() == 143
    assert set(r["_change_type"] for r in ch.collect()) == {"delete"}
    # overwrite after the DV delete: the derived deletes are the
    # LOGICAL rows (DV applied to the removed file versions) — never
    # the already-deleted ones
    write_delta(spark, df.filter("id < 5"), tbl, mode="overwrite")
    ch2 = table_changes(spark, tbl, 2, 2)
    from collections import Counter

    cnt = Counter(r["_change_type"] for r in ch2.collect())
    assert cnt["delete"] == 857 and cnt["insert"] == 5


def _layout(tbl):
    """Active files as (partition values, stats, DV cardinality, row
    set), sorted: everything but the random file names."""
    import pyarrow.parquet as pq

    out = []
    for rel, a in snapshot(tbl).files.items():
        rows = pq.read_table(os.path.join(tbl, unquote(rel))).to_pylist()
        out.append((
            sorted(a["partitionValues"].items()),
            json.loads(a["stats"]),
            (a.get("deletionVector") or {}).get("cardinality", 0),
            sorted(sorted(r.items()) for r in rows),
        ))
    return sorted(out, key=repr)


def test_rewrite_layout_reproducible(spark, tmp_path):
    """REORG PURGE and OPTIMIZE spread their input by row content, not
    by scan order: two 8-file partitioned DV tables holding the same
    files, committed in opposite order, go through the same REORG ->
    DELETE -> OPTIMIZE -> RESTORE sequence and write the same files."""

    def run(tbl, order):
        df = spark.range(0, 2000).select(
            F.col("id"),
            (F.col("id") % 2).alias("p"),
            (F.col("id") % 7).alias("g"),
            (F.col("id") * 1.5).alias("v"),
        )
        write_delta(
            spark,
            df.repartitionByRange(4, order).sortWithinPartitions("id"),
            tbl,
            partition_by=["p"],
            configuration={"delta.enableDeletionVectors": "true"},
        )
        steps = [_layout(tbl)]
        delete_from_delta(spark, tbl, "g = 3")
        assert purge_deletion_vectors(spark, tbl)["files_rewritten"] == 8
        purged = snapshot(tbl).version
        steps.append(_layout(tbl))
        delete_from_delta(spark, tbl, "g = 5")
        steps.append(_layout(tbl))
        optimize_delta(spark, tbl, target_files=2)
        steps.append(_layout(tbl))
        restore_delta(spark, tbl, purged)
        steps.append(_layout(tbl))
        return steps

    chunk = F.floor(F.col("id") / 500)
    a = run(str(tmp_path / "a"), chunk.asc())
    b = run(str(tmp_path / "b"), chunk.desc())
    assert [len(s) for s in a] == [8, 16, 16, 4, 16]
    assert a == b


def test_dv_sql_reorg_purge(spark, tmp_path):
    """The Delta-SQL surface: ``REORG TABLE delta.`p` APPLY (PURGE)``
    dispatches to purge_deletion_vectors; DELETE on a DV-enabled
    table routes through the merge-on-read path automatically."""
    from value_at_risk_spark.sources.delta_sql import delta_sql

    tbl, _ = _mk(spark, tmp_path)
    delta_sql(spark, f"DELETE FROM delta.`{tbl}` WHERE g = 3")
    snap = snapshot(tbl)
    assert any(a.get("deletionVector") for a in snap.files.values())
    r = delta_sql(spark, f"REORG TABLE delta.`{tbl}` APPLY (PURGE)")
    assert r["files_rewritten"] == 4
    assert not any(
        a.get("deletionVector") for a in snapshot(tbl).files.values()
    )
    assert read_delta(spark, tbl).count() == 857
    with pytest.raises(ValueError, match="unsupported REORG"):
        delta_sql(spark, f"REORG TABLE delta.`{tbl}` APPLY (COMPACT)")


def test_dv_datasource_batch_and_rowgroup_offsets(spark, tmp_path):
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import commit_staged_adds

    register_deltalog_source(spark)
    tbl, _ = _mk(spark, tmp_path, n=2000, parts=3)
    delete_from_delta(spark, tbl, "g = 3")
    got = spark.read.format("deltalog").load(tbl)
    exp = sum(1 for i in range(2000) if i % 7 != 3)
    assert got.count() == exp and got.filter("g = 3").count() == 0
    assert (
        spark.read.format("deltalog").option("versionAsOf", "0").load(tbl)
    ).count() == 2000

    # row-group split path: stage ONE file with many small row groups
    # so the DS splits it, then DV-delete — per-slice row offsets must
    # line the bitmap up with physical row indexes
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl2 = str(tmp_path / "rg")
    os.makedirs(tbl2)
    data = pa.table(
        {
            "id": pa.array(range(5000), type=pa.int64()),
            "g": pa.array([i % 7 for i in range(5000)], type=pa.int64()),
        }
    )
    fp = os.path.join(tbl2, "part-00000.parquet")
    pq.write_table(data, fp, row_group_size=500)
    st_ = os.stat(fp)
    commit_staged_adds(
        tbl2,
        [
            {
                "add": {
                    "path": "part-00000.parquet",
                    "partitionValues": {},
                    "size": st_.st_size,
                    "modificationTime": int(st_.st_mtime * 1000),
                    "dataChange": True,
                }
            }
        ],
        spark.createDataFrame([], "id long, g long").schema,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    delete_from_delta(spark, tbl2, "g = 2")
    assert pq.ParquetFile(fp).metadata.num_row_groups == 10
    out = spark.read.format("deltalog").load(tbl2)
    exp2 = sum(1 for i in range(5000) if i % 7 != 2)
    assert out.count() == exp2
    assert _rows(out.agg(F.sum("id"))) == _rows(
        spark.range(5000)
        .filter("id % 7 != 2")
        .agg(F.sum(F.col("id")))
    )


def test_restore_refuses_vacuumed_dv(spark, tmp_path):
    """RESTORE to a version whose deletion-vector file was vacuumed
    fails EARLY with a clear message (same contract as vacuumed data
    files), never silently resurrecting the deleted rows."""
    tbl, _ = _mk(spark, tmp_path)
    delete_from_delta(spark, tbl, "g = 3")   # v1: same data files + DV A
    delete_from_delta(spark, tbl, "g = 5")   # v2: same data files + DV B
    # vacuum keeps only v2's references: the DATA files survive (v2
    # still points at them) but DV file A is collectable
    vacuum_delta(tbl, keep_versions=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError, match="deletion-vector"):
        restore_delta(spark, tbl, 1)


def test_spark_file_uri_matches_metadata(spark, tmp_path):
    """The driver-side _spark_file_uri predictor must reproduce
    Spark's _metadata.file_path EXACTLY — the DV anti-join and the
    row-id base join key on it, and an anti-join mismatch would fail
    OPEN (resurrect deleted rows), so this pin IS the guard. Nasty
    partition values included: colon/space/percent ('%'->'%25' in the
    URI, space->'%20') and a literal '+' (kept verbatim — NOT
    x-www-form-urlencoded). Non-ASCII paths must return None (the
    callers then fall back to the per-row decode plan)."""
    from value_at_risk_spark.sources.deltalog import _spark_file_uri

    d = str(tmp_path / "urip")
    df = spark.createDataFrame(
        [(1, "a:b c%d+e"), (2, "plain"), (3, "x=y,z")],
        "id long, seg string",
    )
    df.write.partitionBy("seg").parquet(d)
    actual = {
        r[0]
        for r in spark.read.option("basePath", d)
        .parquet(d)
        .select(F.col("_metadata.file_path"))
        .collect()
    }
    predicted = set()
    for root, _dirs, names in os.walk(d):
        for n in names:
            if n.endswith(".parquet"):
                u = _spark_file_uri(os.path.join(root, n))
                assert u is not None
                predicted.add(u)
    assert predicted == actual
    assert _spark_file_uri("/tmp/café/x.parquet") is None
    assert _spark_file_uri("/tmp/a\tb/x.parquet") is None


def test_dv_read_and_row_ids_raw_key_plans(spark, tmp_path):
    """End-to-end correctness of the raw-URI key plans over nasty
    partition-value paths: DV delete + read-back (anti-join branch)
    and row-id reads both produce exact results when the join key is
    the raw __dv_fp (no per-row normalization)."""
    from value_at_risk_spark.sources.deltalog import read_delta_row_ids

    tbl = str(tmp_path / "nasty")
    df = spark.createDataFrame(
        [(i, "a:b c%d+e" if i % 2 else "pl ain", float(i)) for i in range(40)],
        "id long, seg string, v double",
    )
    write_delta(
        spark,
        df,
        tbl,
        partition_by=["seg"],
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableRowTracking": "true",
        },
    )
    rid0 = {r["id"]: r["row_id"] for r in read_delta_row_ids(spark, tbl).collect()}
    assert len(rid0) == 40 and len(set(rid0.values())) == 40
    r = delete_from_delta(spark, tbl, "id % 5 = 0")
    assert r["rows_deleted"] == 8 and r["files_rewritten"] == 0
    got = read_delta(spark, tbl)
    assert sorted(x.id for x in got.collect()) == [
        i for i in range(40) if i % 5 != 0
    ]
    rid1 = {r["id"]: r["row_id"] for r in read_delta_row_ids(spark, tbl).collect()}
    assert set(rid1) == {i for i in range(40) if i % 5 != 0}
    assert all(rid1[k] == rid0[k] for k in rid1)


def test_row_id_broadcast_join_path(spark, tmp_path, monkeypatch):
    """Above _RT_LOOKUP_MAX_FILES the row-id scan switches from the
    literal-map lookup to the broadcast file->baseRowId join; force
    the threshold down and pin that both plans produce identical
    ids (incl. after a DV delete) and that a corrupted key still
    fails LOUD on the join plan."""
    from value_at_risk_spark.sources import deltalog
    from value_at_risk_spark.sources.deltalog import read_delta_row_ids

    tbl = str(tmp_path / "rtjoin")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(60)], "id long, v double"
    )
    write_delta(
        spark,
        df,
        tbl,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    delete_from_delta(spark, tbl, "id % 6 = 1")
    map_ids = {
        r["id"]: r["row_id"]
        for r in read_delta_row_ids(spark, tbl).collect()
    }
    monkeypatch.setattr(deltalog, "_RT_LOOKUP_MAX_FILES", 0)
    join_ids = {
        r["id"]: r["row_id"]
        for r in read_delta_row_ids(spark, tbl).collect()
    }
    assert join_ids == map_ids
    assert set(join_ids) == {i for i in range(60) if i % 6 != 1}
