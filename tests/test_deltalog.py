"""Native Delta transaction-log reader/writer (sources/deltalog.py).

Covers the protocol subset end to end: commit naming, append /
overwrite with log replay, version time travel, Hive-partitioned
layout with schema-typed partition recovery (incl. the null-partition
dir token), single-part checkpoints, optimistic-concurrency conflict
retry, schema enforcement, and history. Reference tie: Delta
persistence semantics of /root/reference/config/configure_notebook.py
:18-27 and 03_var_monte_carlo.py:162, natively."""

import json
import os

import pytest
from pyspark.sql import functions as F

from value_at_risk_spark.sources.deltalog import (
    checkpoint_delta,
    delta_history,
    delta_versions,
    read_delta,
    snapshot,
    write_delta,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_time_travel_and_protocol_shape(spark, tmp_path):
    tbl = str(tmp_path / "t1")
    v0_df = spark.createDataFrame(
        [(1, "a", 10.5), (2, "b", 20.0)], "id long, k string, v double"
    )
    v1_df = spark.createDataFrame(
        [(3, "c", 30.25)], "id long, k string, v double"
    )
    assert write_delta(spark, v0_df, tbl) == 0
    assert write_delta(spark, v1_df, tbl) == 1
    assert delta_versions(tbl) == [0, 1]

    # protocol shape: zero-padded 20-digit commit names; v0 carries
    # protocol + metaData; adds have the required fields
    names = sorted(os.listdir(os.path.join(tbl, "_delta_log")))
    assert f"{0:020d}.json" in names and f"{1:020d}.json" in names
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    kinds = [next(iter(a)) for a in acts]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    add = next(a["add"] for a in acts if "add" in a)
    assert {"path", "partitionValues", "size", "modificationTime",
            "dataChange"} <= set(add)
    assert not os.path.isabs(add["path"])

    assert _rows(read_delta(spark, tbl)) == _rows(v0_df.unionByName(v1_df))
    assert _rows(read_delta(spark, tbl, version=0)) == _rows(v0_df)
    hist = delta_history(tbl)
    assert [h["version"] for h in hist] == [0, 1]
    assert all(h["operation"] == "WRITE" for h in hist)


def test_overwrite_replaces_but_history_remains(spark, tmp_path):
    tbl = str(tmp_path / "t2")
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    b = spark.createDataFrame([(9, "y"), (10, "z")], "id long, s string")
    write_delta(spark, a, tbl)
    write_delta(spark, b, tbl, mode="overwrite")
    assert _rows(read_delta(spark, tbl)) == _rows(b)
    assert _rows(read_delta(spark, tbl, version=0)) == _rows(a)
    # the overwrite commit carries remove actions for v0's files
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    assert any("remove" in a2 for a2 in acts)


def test_partitioned_layout_and_typed_recovery(spark, tmp_path):
    tbl = str(tmp_path / "t3")
    df = spark.createDataFrame(
        [(1, 7, "a"), (2, 7, "b"), (3, 8, "c"), (4, None, "d")],
        "id long, bucket int, s string",
    )
    write_delta(spark, df, tbl, partition_by=["bucket"])
    snap = snapshot(tbl)
    assert snap.partition_columns == ["bucket"]
    # Hive-style dirs, null partition token, partitionValues recorded
    pvals = {a["partitionValues"]["bucket"] for a in snap.files.values()}
    assert pvals == {"7", "8", None}
    back = read_delta(spark, tbl)
    # partition column TYPED from the table schema (int, not string)
    assert dict(back.dtypes)["bucket"] == "int"
    assert _rows(back.select("id", "bucket", "s")) == _rows(df)
    # appends inherit partitioning; partition_by is ignored after v0
    write_delta(spark, df.limit(1), tbl)
    assert read_delta(spark, tbl).count() == 5


def test_checkpoint_short_circuits_replay(spark, tmp_path):
    tbl = str(tmp_path / "t4")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    for i in range(4):
        write_delta(
            spark,
            df.withColumn("id", F.col("id") + F.lit(i)),
            tbl,
        )
    assert checkpoint_delta(tbl) == 3
    # tamper-proof: delete the pre-checkpoint JSON commits' content
    # influence by comparing snapshots — checkpoint+tail must equal
    # full replay exactly
    full = snapshot(tbl)
    write_delta(
        spark, df.withColumn("id", F.lit(99).cast("long")), tbl
    )
    snap = snapshot(tbl)
    assert snap.version == 4
    assert set(full.files) < set(snap.files)
    got = _rows(read_delta(spark, tbl).select("id"))
    assert got == sorted([(1,), (2,), (3,), (4,), (99,)])
    # _last_checkpoint hint exists and points at the checkpoint
    with open(os.path.join(tbl, "_delta_log", "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == 3


def test_torn_or_missing_last_checkpoint_hint(spark, tmp_path):
    """``_last_checkpoint`` is only a hint: a truncated hint, a missing
    one and one naming a checkpoint that does not exist all resolve to
    the same version and rows, because the checkpoint is found from
    the log directory listing."""
    tbl = str(tmp_path / "lc")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    for i in range(3):
        write_delta(spark, df.withColumn("id", F.lit(i).cast("long")), tbl)
    assert checkpoint_delta(tbl) == 2
    write_delta(spark, df.withColumn("id", F.lit(9).cast("long")), tbl)
    hint = os.path.join(tbl, "_delta_log", "_last_checkpoint")
    with open(hint) as fh:
        good = fh.read()
    want = (snapshot(tbl).version, _rows(read_delta(spark, tbl)))
    assert want == (3, [(0, "a"), (1, "a"), (2, "a"), (9, "a")])

    def resolved():
        return snapshot(tbl).version, _rows(read_delta(spark, tbl))

    with open(hint, "w") as fh:
        fh.write(good[: len(good) // 2])
    assert resolved() == want
    os.remove(hint)
    assert resolved() == want
    with open(hint, "w") as fh:
        json.dump({**json.loads(good), "version": 7}, fh)
    assert resolved() == want
    assert snapshot(tbl, version=2).version == 2


def test_commit_conflict_retries_to_next_version(spark, tmp_path):
    tbl = str(tmp_path / "t5")
    df = spark.createDataFrame([(1,)], "id long")
    write_delta(spark, df, tbl)
    # a concurrent writer already owns version 1
    stolen = os.path.join(tbl, "_delta_log", f"{1:020d}.json")
    with open(stolen, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    v = write_delta(spark, df, tbl)
    assert v == 2
    assert read_delta(spark, tbl).count() == 2  # stolen commit added no files


def test_schema_enforcement_and_errors(spark, tmp_path):
    tbl = str(tmp_path / "t6")
    write_delta(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), tbl
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(
            spark, spark.createDataFrame([(1.5,)], "id double"), tbl
        )
    with pytest.raises(ValueError, match="not in log"):
        read_delta(spark, tbl, version=7)
    with pytest.raises(FileNotFoundError):
        read_delta(spark, str(tmp_path / "missing"))
    with pytest.raises(ValueError, match="mode"):
        write_delta(spark, spark.range(1), tbl, mode="merge")


def test_optimize_compacts_with_datachange_false(spark, tmp_path):
    tbl = str(tmp_path / "t7")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("v"),
    )
    # two deliberately fragmented commits
    write_delta(spark, df.repartition(8), tbl)
    write_delta(
        spark, df.withColumn("id", F.col("id") + 1000).repartition(8), tbl
    )
    from value_at_risk_spark.sources.deltalog import optimize_delta

    before = snapshot(tbl)
    pre_rows = _rows(read_delta(spark, tbl))
    v = optimize_delta(spark, tbl, target_files=2)
    after = snapshot(tbl)
    assert v == after.version == before.version + 1
    assert len(after.files) < len(before.files)
    assert len(after.files) <= 2
    assert _rows(read_delta(spark, tbl)) == pre_rows  # content identical
    # pre-optimize layout still time-travelable
    assert _rows(read_delta(spark, tbl, version=before.version)) == pre_rows
    # the optimize commit is dataChange: false on every add/remove
    with open(
        os.path.join(tbl, "_delta_log", f"{v:020d}.json")
    ) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    for a in acts:
        for kind in ("add", "remove"):
            if a.get(kind):
                assert a[kind]["dataChange"] is False
    assert any(
        a.get("commitInfo", {}).get("operation") == "OPTIMIZE" for a in acts
    )

    # zorder variant: content still identical
    v2 = optimize_delta(spark, tbl, zorder_by=["grp", "v"], target_files=2)
    assert v2 == v + 1
    assert _rows(read_delta(spark, tbl)) == pre_rows


def test_vacuum_deletes_tombstoned_keeps_referenced(spark, tmp_path):
    from value_at_risk_spark.sources.deltalog import (
        optimize_delta,
        vacuum_delta,
    )

    tbl = str(tmp_path / "t8")
    df = spark.range(0, 50).select(F.col("id"), (F.col("id") * 2.0).alias("v"))
    write_delta(spark, df.repartition(4), tbl)
    optimize_delta(spark, tbl, target_files=1)
    pre_rows = _rows(read_delta(spark, tbl))
    deleted = vacuum_delta(tbl, keep_versions=1, retention_seconds=0)
    assert deleted  # v0's fragmented files are tombstoned -> gone
    assert _rows(read_delta(spark, tbl)) == pre_rows  # tip intact
    # time travel to the vacuumed version now fails at scan
    with pytest.raises(Exception):
        read_delta(spark, tbl, version=0).collect()
    # retention guard: nothing young is deleted even when unreferenced
    write_delta(spark, df, tbl, mode="overwrite")
    assert vacuum_delta(tbl, keep_versions=1, retention_seconds=3600) == []


def test_merge_into_delta_native_upserts_transactionally(spark, tmp_path):
    from value_at_risk_spark.operators.merge import merge_into_delta_native

    tbl = str(tmp_path / "t9")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    )
    write_delta(spark, base, tbl)
    updates = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0), (2, "B2", 21.0)],
        "k long, s string, v double",
    )
    v = merge_into_delta_native(spark, tbl, updates, ["k"])
    assert v == 1
    got = {r.k: (r.s, r.v) for r in read_delta(spark, tbl).collect()}
    assert got[1] == ("a", 1.0) and got[3] == ("c", 3.0)  # untouched
    assert got[4] == ("d", 4.0)  # inserted
    assert got[2][0] in ("B", "B2")  # deduped update won (tie arbitrary)
    assert len(got) == 4
    # pre-merge state survives as version 0
    assert read_delta(spark, tbl, version=0).count() == 3
    with pytest.raises(ValueError, match="keys"):
        merge_into_delta_native(spark, tbl, updates, [])


def test_merge_into_delta_native_prunes_untouched_files(spark, tmp_path):
    """r17: MERGE plans from the active file set like DELETE/UPDATE —
    files provably holding no source key keep their add actions
    verbatim; only touched files are removed+rewritten. Checked on
    both the upsert-star path and the general clause engine, against
    a range-clustered 10-file table where the source keys live in
    exactly one file."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from value_at_risk_spark.operators.merge import merge_into_delta_native

    tbl = str(tmp_path / "prune_t")
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    write_delta(spark, df.repartitionByRange(10, "k"), tbl)
    assert len(snapshot(tbl).files) == 10

    def commit_actions(v):
        p = _os.path.join(tbl, "_delta_log", f"{v:020d}.json")
        return [_json.loads(line) for line in open(p)]

    # upsert-star: keys 100..149 live in ONE range file
    src = spark.range(50).select(
        (F.col("id") + 100).alias("k"), F.lit(-1.0).alias("v")
    )
    v = merge_into_delta_native(spark, tbl, src, ["k"])
    acts = commit_actions(v)
    assert sum(1 for a in acts if a.get("remove")) == 1
    assert sum(1 for a in acts if a.get("add")) == 1
    got = read_delta(spark, tbl)
    assert got.count() == 10_000
    assert got.filter("v = -1.0").count() == 50

    # general clause engine: same single-file bound, rows preserved
    src2 = spark.range(30).select(
        (F.col("id") + 5_000).alias("k"), F.lit(7.0).alias("v")
    )
    v2 = merge_into_delta_native(
        spark, tbl, src2, ["k"],
        matched=[{"condition": "s.v > t.v", "update": "*"}],
        not_matched=[{"insert": "*"}],
    )
    acts2 = commit_actions(v2)
    assert sum(1 for a in acts2 if a.get("remove")) == 1
    assert sum(1 for a in acts2 if a.get("add")) == 1
    assert read_delta(spark, tbl).count() == 10_000

    # insert-only merge: zero removes, one added file, rows appended
    src3 = spark.range(5).select(
        (F.col("id") + 1_000_000).alias("k"), F.lit(9.0).alias("v")
    )
    v3 = merge_into_delta_native(spark, tbl, src3, ["k"])
    acts3 = commit_actions(v3)
    assert sum(1 for a in acts3 if a.get("remove")) == 0
    assert sum(1 for a in acts3 if a.get("add")) == 1
    assert read_delta(spark, tbl).count() == 10_005


def test_merge_native_evaluates_source_once(spark, tmp_path):
    """Every MERGE path reads its source more than once (the pruned
    path's stats probe, touched-file scan and rewrite; the upsert
    overwrite's anti-join and union; the clause engine's join), so the
    source is materialized first and a non-deterministic source is
    evaluated ONCE per MERGE: on a 10-file table (pruned path), a
    1-file table (overwrite path) and with a not_matched_by_source
    clause (clause engine). Counted through a Python UDF feeding an
    accumulator."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    by_source = dict(
        matched=[{"update": "*"}],
        not_matched=[{"insert": "*"}],
        not_matched_by_source=[{"condition": "t.k >= 9990", "delete": True}],
    )
    for name, files, clauses, rows in (
        ("pruned", 10, {}, 10_000),
        ("one_file", 1, {}, 10_000),
        ("by_source", 10, by_source, 9_990),
    ):
        tbl = str(tmp_path / name)
        write_delta(spark, df.repartitionByRange(files, "k"), tbl)
        assert len(snapshot(tbl).files) == files

        calls = spark.sparkContext.accumulator(0)

        def _counted(i, calls=calls):
            calls.add(1)
            return i + 100

        # the UDF computes the merge KEY, so every phase has to evaluate it
        counted = F.udf(_counted, "long").asNondeterministic()
        src = spark.range(50).select(
            counted("id").alias("k"), F.lit(-1.0).alias("v")
        )
        merge_into_delta_native(spark, tbl, src, ["k"], **clauses)
        assert calls.value == 50, name
        got = read_delta(spark, tbl)
        assert got.count() == rows, name
        assert got.filter("v = -1.0").count() == 50, name


@pytest.mark.parametrize("engine", ["upsert", "clauses"])
def test_merge_pruned_scans_touched_rows_once(spark, tmp_path, monkeypatch, engine):
    """A file-pruned MERGE into a table with NOT NULL columns, a CHECK
    constraint and the change data feed: the NOT NULL probe, the CHECK
    pass, the staged write and the cdc rows all read the merged slice,
    so what more than one of them reads is materialized once per
    attempt — on the upsert-star path and on the clause engine alike.
    Counted by a pass-through Python UDF over the touched-file scan:
    each touched row is read from storage once."""
    import value_at_risk_spark.sources.deltalog as dl
    from value_at_risk_spark.operators.merge import merge_into_delta_native

    tbl = str(tmp_path / engine)
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    write_delta(
        spark,
        df.repartitionByRange(10, "k"),
        tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    dl.add_check_constraint(spark, tbl, "v_pos", "v >= 0")
    snap = snapshot(tbl)
    assert len(snap.files) == 10
    assert not any(f.nullable for f in snap.schema.fields)

    calls = spark.sparkContext.accumulator(0)

    def _counted(v, calls=calls):
        calls.add(1)
        return v

    counted = F.udf(_counted, "double").asNondeterministic()
    scan = dl._scan_files_dv
    touched: list[int] = []

    def _counting_scan(spark_, path, snap_, rel_paths, *args, **kwargs):
        touched.append(len(rel_paths))
        out = scan(spark_, path, snap_, rel_paths, *args, **kwargs)
        return out.withColumn("v", counted("v"))

    monkeypatch.setattr(dl, "_scan_files_dv", _counting_scan)
    # 30 updates and 20 inserts, all inside the first file's key range
    src = spark.range(-20, 30).select(
        F.col("id").alias("k"), F.lit(7.0).alias("v")
    )
    clauses = (
        {}
        if engine == "upsert"
        else dict(matched=[{"update": "*"}], not_matched=[{"insert": "*"}])
    )
    v = merge_into_delta_native(spark, tbl, src, ["k"], **clauses)
    monkeypatch.undo()
    assert touched == [1]  # the pruned path, one touched file
    assert calls.value == 100  # the touched file's rows, once each
    got = read_delta(spark, tbl)
    assert got.count() == 1020
    assert got.filter("v = 7.0").count() == 50
    changes = dl.table_changes(spark, tbl, v, v).groupBy(
        "_change_type"
    ).count()
    assert {tuple(r) for r in changes.collect()} == {
        ("update_preimage", 30), ("update_postimage", 30), ("insert", 20)
    }


def test_delta_txn_sink_exactly_once_and_checkpointed_txn(spark, tmp_path):
    """streaming/sinks.DeltaTxnSink: (a) a re-delivered batchId is a
    no-op because the txn action rides in the same atomic commit as
    the data; (b) the txn high-water mark survives a parquet
    checkpoint (snapshot reconstructs txns from checkpoint + tail, so
    idempotence holds even after log truncation by checkpoint
    short-circuit); (c) distinct appIds track independently."""
    from value_at_risk_spark.streaming.sinks import DeltaTxnSink

    tbl = str(tmp_path / "sink_tbl")
    sink = DeltaTxnSink(tbl, app_id="app_a")
    b0 = spark.createDataFrame([(1, "x")], "id long, s string")
    b1 = spark.createDataFrame([(2, "y")], "id long, s string")
    sink(b0, 0)
    sink(b1, 1)
    assert sink.read(spark).count() == 2
    # re-delivery of both batches: skipped, count unchanged
    sink(b0, 0)
    sink(b1, 1)
    assert sink.skipped == [0, 1]
    assert sink.read(spark).count() == 2
    assert sink.last_committed() == 1

    # txn state survives a checkpoint
    checkpoint_delta(tbl)
    assert snapshot(tbl).txns == {"app_a": 1}
    sink(b1, 1)  # still skipped post-checkpoint
    assert sink.read(spark).count() == 2

    # an independent appId is not blocked by app_a's high-water mark
    other = DeltaTxnSink(tbl, app_id="app_b")
    other(b0, 0)
    assert other.skipped == []
    assert sink.read(spark).count() == 3
    assert snapshot(tbl).txns == {"app_a": 1, "app_b": 0}

    # a fresh batch advances normally
    sink(spark.createDataFrame([(3, "z")], "id long, s string"), 2)
    assert sink.read(spark).count() == 4
    assert sink.last_committed() == 2


def test_delta_merge_sink_exactly_once_upsert(spark, tmp_path):
    """streaming/sinks.DeltaMergeSink: per-batch MERGE into a native
    delta table with txn exactly-once — (a) upserts accumulate current
    state across batches, (b) a re-delivered batchId is skipped
    UNWRITTEN (the txn check rides inside the merge's atomic commit),
    (c) with a keep-the-latest matched condition the final state is
    order-independent: replaying the batches in REVERSE converges to
    the same table."""
    from value_at_risk_spark.streaming.sinks import DeltaMergeSink

    matched = [{"condition": "s.ts > t.ts", "update": "*"}]
    not_matched = [{"insert": "*"}]
    batches = [
        [(1, 10, "a"), (2, 10, "b")],
        [(1, 20, "a2"), (3, 5, "c")],
        [(2, 8, "stale"), (3, 30, "c2")],  # k=2 row is OLDER: kept out
    ]
    want = {(1, 20, "a2"), (2, 10, "b"), (3, 30, "c2")}

    def run(order, path):
        sink = DeltaMergeSink(
            path, ["k"], app_id="merge_app",
            matched=matched, not_matched=not_matched,
        )
        # batch ids are MONOTONIC (Spark's contract — the txn
        # watermark depends on it); 'order' permutes the CONTENT
        for bid, content in enumerate(order):
            sink(
                spark.createDataFrame(
                    batches[content], "k long, ts long, v string"
                ),
                bid,
            )
        return sink

    tbl = str(tmp_path / "ms")
    sink = run([0, 1, 2], tbl)
    got = {(r.k, r.ts, r.v) for r in sink.read(spark).collect()}
    assert got == want
    # re-delivery of every batch: all skipped, table unchanged, and no
    # new versions were committed
    v_before = snapshot(tbl).version
    for bid in range(3):
        sink(
            spark.createDataFrame(batches[bid], "k long, ts long, v string"),
            bid,
        )
    assert sink.skipped == [0, 1, 2]
    assert snapshot(tbl).version == v_before
    assert {(r.k, r.ts, r.v) for r in sink.read(spark).collect()} == want
    # order independence of the keep-latest condition
    tbl2 = str(tmp_path / "ms_rev")
    sink2 = run([2, 1, 0], tbl2)
    assert {(r.k, r.ts, r.v) for r in sink2.read(spark).collect()} == want

    # conditional not_matched applies to the TABLE-CREATING batch too
    # (the first batch merges against an empty v0, never blind-appends)
    tbl3 = str(tmp_path / "ms_cond")
    cond_sink = DeltaMergeSink(
        tbl3, ["k"], app_id="cond_app",
        matched=[{"update": "*"}],
        not_matched=[{"condition": "s.ts >= 10", "insert": "*"}],
    )
    cond_sink(
        spark.createDataFrame(
            [(1, 5, "rejected"), (2, 10, "kept")], "k long, ts long, v string"
        ),
        0,
    )
    assert {
        (r.k, r.v) for r in cond_sink.read(spark).collect()
    } == {(2, "kept")}

    # an EMPTY batch still merges when not_matched_by_source clauses
    # exist: full-snapshot reconciliation deletes every target row
    tbl4 = str(tmp_path / "ms_bs")
    bs_sink = DeltaMergeSink(
        tbl4, ["k"], app_id="bs_app",
        not_matched=[{"insert": "*"}],
        not_matched_by_source=[{"delete": True}],
    )
    bs_sink(
        spark.createDataFrame([(1, 1, "a")], "k long, ts long, v string"), 0
    )
    assert bs_sink.read(spark).count() == 1
    bs_sink(
        spark.createDataFrame([], "k long, ts long, v string"), 1
    )
    assert bs_sink.read(spark).count() == 0


def test_restore_rolls_back_atomically(spark, tmp_path):
    from value_at_risk_spark.sources.deltalog import restore_delta

    tbl = str(tmp_path / "t10")
    a = spark.createDataFrame([(1, "a")], "id long, s string")
    b = spark.createDataFrame([(2, "b")], "id long, s string")
    write_delta(spark, a, tbl)
    write_delta(spark, b, tbl)
    write_delta(
        spark,
        spark.createDataFrame([(9, "z")], "id long, s string"),
        tbl,
        mode="overwrite",
    )
    assert _rows(read_delta(spark, tbl)) == [(9, "z")]
    v = restore_delta(spark, tbl, 1)
    assert v == 3
    assert _rows(read_delta(spark, tbl)) == [(1, "a"), (2, "b")]
    # restore moved no data: the v2 overwrite is itself restorable
    restore_delta(spark, tbl, 2)
    assert _rows(read_delta(spark, tbl)) == [(9, "z")]
    from value_at_risk_spark.sources.deltalog import delta_history

    assert delta_history(tbl)[3]["operation"] == "RESTORE"


def test_partition_filters_prune_at_log_level(spark, tmp_path):
    tbl = str(tmp_path / "t11")
    df = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0), (4, None, 4.0)],
        "id long, seg string, v double",
    )
    write_delta(spark, df, tbl, partition_by=["seg"])
    got = read_delta(spark, tbl, partition_filters={"seg": ["x"]})
    assert _rows(got.select("id")) == [(1,), (3,)]
    # the pruned plan never references the excluded partitions' files
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "seg=y" not in plan
    # null partition addressed explicitly
    got_null = read_delta(spark, tbl, partition_filters={"seg": [None]})
    assert _rows(got_null.select("id")) == [(4,)]
    with pytest.raises(ValueError, match="non-partition"):
        read_delta(spark, tbl, partition_filters={"v": ["1.0"]})


def test_merge_schema_widens_and_old_files_read_null(spark, tmp_path):
    tbl = str(tmp_path / "t12")
    write_delta(
        spark, spark.createDataFrame([(1, "a")], "id long, s string"), tbl
    )
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    )
    # without merge_schema: rejected
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(spark, wide, tbl)
    write_delta(spark, wide, tbl, merge_schema=True)
    out = read_delta(spark, tbl)
    assert dict(out.dtypes)["score"] == "double"
    got = {r.id: r.score for r in out.collect()}
    assert got == {1: None, 2: 9.5}  # old files read the new col as NULL
    # a frame omitting an existing column reads NULL there
    write_delta(
        spark,
        spark.createDataFrame([(3, 1.25)], "id long, score double"),
        tbl,
        merge_schema=True,
    )
    got3 = {r.id: (r.s, r.score) for r in read_delta(spark, tbl).collect()}
    assert got3[3] == (None, 1.25)
    # type change still rejected
    with pytest.raises(ValueError, match="cannot change the type"):
        write_delta(
            spark,
            spark.createDataFrame([(4, "nope")], "id long, score string"),
            tbl,
            merge_schema=True,
        )


def test_escaped_partition_values_roundtrip_and_vacuum_safe(spark, tmp_path):
    """Review r10: Spark %-escapes special chars in partition dir names
    (':' -> '%3A'); add.path is stored URL-encoded per the protocol and
    unquoted exactly once on read — so reads resolve, and vacuum's
    referenced-set comparison matches the on-disk names instead of
    deleting live files."""
    from value_at_risk_spark.sources.deltalog import vacuum_delta

    tbl = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "50%"), (3, "plain")],
        "id long, seg string",
    )
    write_delta(spark, df, tbl, partition_by=["seg"])
    assert _rows(read_delta(spark, tbl).select("id", "seg")) == _rows(df)
    # nothing is unreferenced: vacuum must delete NOTHING
    assert vacuum_delta(tbl, keep_versions=1, retention_seconds=0) == []
    assert _rows(read_delta(spark, tbl).select("id", "seg")) == _rows(df)
    got = read_delta(spark, tbl, partition_filters={"seg": ["50%"]})
    assert _rows(got.select("id")) == [(2,)]


def test_second_checkpoint_of_partitioned_table(spark, tmp_path):
    """Review r10: pyarrow map columns round-trip as (k,v) tuple lists;
    a snapshot reconstructed FROM a checkpoint must be checkpointable
    again (partitioned tables crashed on the second checkpoint)."""
    tbl = str(tmp_path / "cp2")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, seg string"
    )
    write_delta(spark, df, tbl, partition_by=["seg"])
    checkpoint_delta(tbl)
    write_delta(spark, df.limit(1), tbl)
    checkpoint_delta(tbl)  # snapshot sourced from checkpoint + tail
    assert read_delta(spark, tbl).count() == 3
    snap = snapshot(tbl)
    for add in snap.files.values():
        assert isinstance(add["partitionValues"], dict)


def test_optimize_aborts_on_concurrent_append(spark, tmp_path):
    """Review r10: OPTIMIZE must never erase a concurrent append under
    a dataChange:false commit — a tip that moved past the optimized
    snapshot aborts loudly (real Delta's conflict rule), and the
    concurrent rows survive."""
    from value_at_risk_spark.sources.deltalog import optimize_delta
    import value_at_risk_spark.sources.deltalog as dl

    tbl = str(tmp_path / "optrace")
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    write_delta(spark, df.repartition(4), tbl)

    orig_publish = dl._publish_commit
    state = {"injected": False}

    def racing_publish(path, version, actions):
        # a concurrent append lands between optimize's staging and its
        # publish (once — the injected append itself publishes through
        # the original to avoid re-entry)
        if not state["injected"]:
            state["injected"] = True
            dl._publish_commit = orig_publish
            try:
                write_delta(
                    spark,
                    spark.createDataFrame([(99, 9.9)], "id long, v double"),
                    tbl,
                )
            finally:
                dl._publish_commit = racing_publish
        return orig_publish(path, version, actions)

    dl._publish_commit = racing_publish
    try:
        with pytest.raises(RuntimeError, match="concurrently"):
            optimize_delta(spark, tbl, target_files=1)
    finally:
        dl._publish_commit = orig_publish
    ids = {r.id for r in read_delta(spark, tbl).collect()}
    assert 99 in ids and 1 in ids  # nothing erased
    # re-run on the settled tip succeeds
    v = optimize_delta(spark, tbl, target_files=1)
    assert {r.id for r in read_delta(spark, tbl).collect()} == {1, 99}
    assert v == snapshot(tbl).version


def test_conditional_commit_and_txn_in_loop(spark, tmp_path):
    """Review r10: expected_version turns write_delta into a
    conditional commit (read-modify-write callers re-read on
    DeltaConcurrentModification instead of clobbering concurrent
    appends), and the txn dedup runs inside the commit loop: a second
    writer re-committing the same (appId, version) gets -1, rows
    intact."""
    from value_at_risk_spark.sources.deltalog import (
        DeltaConcurrentModification,
    )

    tbl = str(tmp_path / "cond")
    df = spark.createDataFrame([(1,)], "id long")
    write_delta(spark, df, tbl)  # v0
    write_delta(spark, df, tbl)  # v1
    with pytest.raises(DeltaConcurrentModification):
        write_delta(
            spark, df, tbl, mode="overwrite", expected_version=0
        )
    assert write_delta(
        spark, df, tbl, mode="overwrite", expected_version=1
    ) == 2

    t = {"appId": "app", "version": 5}
    assert write_delta(spark, df, tbl, txn=t) == 3
    assert write_delta(spark, df, tbl, txn=t) == -1  # replay: no-op
    assert read_delta(spark, tbl).count() == 2  # overwrite row + one txn add


def test_stats_recorded_and_file_skipping(spark, tmp_path):
    """add.stats carries footer-derived numRecords/min/max per file;
    stats_filters prunes files whose stats PROVE no match (never one
    that could match), survives checkpoints, and the kept set still
    contains every matching row (files prune, rows don't)."""
    tbl = str(tmp_path / "stats")
    # three commits with disjoint id ranges -> three prunable files
    for lo in (0, 1000, 2000):
        df = spark.range(lo, lo + 100).select(
            F.col("id"), (F.col("id") % 5).alias("m"),
            F.concat(F.lit("u"), F.col("id")).alias("s"),
        )
        write_delta(spark, df.coalesce(1), tbl)
    snap = snapshot(tbl)
    assert len(snap.files) == 3
    for add in snap.files.values():
        st = json.loads(add["stats"])
        assert st["numRecords"] == 100
        assert "id" in st["minValues"] and "id" in st["maxValues"]

    def n_files(**kw):
        import value_at_risk_spark.sources.deltalog as dl

        snap2 = dl.snapshot(tbl)
        # count via the pruning logic by reading and checking scan paths
        got = read_delta(spark, tbl, **kw)
        plan = got._jdf.queryExecution().executedPlan().toString()
        return got, plan

    got, plan = n_files(stats_filters=[("id", ">=", 2000)])
    rows = {r.id for r in got.filter(F.col("id") >= 2000).collect()}
    assert rows == set(range(2000, 2100))
    assert plan.count(".parquet") <= 2  # the 0- and 1000- files pruned

    # equality and string stats: pruned-then-filtered must equal
    # full-scan-filtered for every predicate (files prune, rows don't)
    got, _ = n_files(stats_filters=[("id", "=", 1050)])
    assert got.count() == 100  # only the middle file survives pruning
    full = read_delta(spark, tbl)
    for op, val in ((">=", "u999"), (">=", "u21"), ("<", "u1")):
        got, _ = n_files(stats_filters=[("s", op, val)])
        pred = {
            ">=": F.col("s") >= val,
            "<": F.col("s") < val,
        }[op]
        assert {r.id for r in got.filter(pred).collect()} == {
            r.id for r in full.filter(pred).collect()
        }, (op, val)

    # stats survive a checkpoint
    checkpoint_delta(tbl)
    write_delta(
        spark,
        spark.range(3000, 3100).select(
            F.col("id"), (F.col("id") % 5).alias("m"),
            F.concat(F.lit("u"), F.col("id")).alias("s"),
        ).coalesce(1),
        tbl,
    )
    got = read_delta(spark, tbl, stats_filters=[("id", "<", 100)])
    assert got.count() == 100  # one file kept through checkpointed stats

    with pytest.raises(ValueError, match="unknown stats op"):
        read_delta(spark, tbl, stats_filters=[("id", "!=", 1)])


def test_many_commit_partitioned_read_uses_single_scan(spark, tmp_path):
    """Past 16 commits, the partitioned read switches from per-commit
    basePath unions (plan branches grow with commit count) to ONE scan
    + a broadcast basename->partitionValues join typed from the log —
    content identical, no Union in the plan."""
    tbl = str(tmp_path / "many")
    expect = []
    for i in range(18):
        df = spark.createDataFrame(
            [(i * 10 + j, i % 3, f"r{i}_{j}") for j in range(4)],
            "id long, seg int, s string",
        )
        write_delta(spark, df, tbl, partition_by=["seg"])
        expect.extend((i * 10 + j, i % 3, f"r{i}_{j}") for j in range(4))
    got = read_delta(spark, tbl)
    assert dict(got.dtypes)["seg"] == "int"  # typed from the log schema
    assert _rows(got.select("id", "seg", "s")) == sorted(expect)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    # partition/stats filters compose with the join path
    only1 = read_delta(spark, tbl, partition_filters={"seg": ["1"]})
    assert {r.seg for r in only1.collect()} == {1}


def test_incremental_changes_and_log_cleanup(spark, tmp_path):
    from value_at_risk_spark.sources.deltalog import (
        cleanup_delta_log,
        optimize_delta,
        read_delta_changes,
    )

    tbl = str(tmp_path / "incr")
    mk = lambda lo: spark.range(lo, lo + 10).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    )
    write_delta(spark, mk(0), tbl)      # v0
    write_delta(spark, mk(100), tbl)    # v1
    write_delta(spark, mk(200), tbl)    # v2
    # changes (0, 2] = the v1 + v2 appends only
    got = {r.id for r in read_delta_changes(spark, tbl, 0).collect()}
    assert got == set(range(100, 110)) | set(range(200, 210))
    assert read_delta_changes(spark, tbl, 0, 1).count() == 10
    assert read_delta_changes(spark, tbl, 2, 2).count() == 0
    # OPTIMIZE commits are invisible to incremental consumers
    v_opt = optimize_delta(spark, tbl, target_files=1)
    assert read_delta_changes(spark, tbl, 2, v_opt).count() == 0
    write_delta(spark, mk(300), tbl)
    assert {
        r.id for r in read_delta_changes(spark, tbl, v_opt).collect()
    } == set(range(300, 310))
    # a data-removing commit (overwrite) breaks the append-only contract
    write_delta(spark, mk(900), tbl, mode="overwrite")
    with pytest.raises(ValueError, match="removes data"):
        read_delta_changes(spark, tbl, v_opt).count()

    # log cleanup: checkpoint, then drop superseded commit JSONs
    cp_v = checkpoint_delta(tbl)
    deleted = cleanup_delta_log(tbl, keep_last=1)
    assert deleted and max(deleted) < cp_v
    assert read_delta(spark, tbl).count() == 10  # snapshot via checkpoint
    with pytest.raises(ValueError, match="not in log"):
        read_delta(spark, tbl, version=deleted[0])


def test_sink_to_incremental_consumer_chain(spark, tmp_path):
    """End-to-end incremental pipeline over the native log: an
    exactly-once DeltaTxnSink produces versions, a downstream
    consumer tracks its own offset (last seen version) and reads only
    the delta with read_delta_changes — re-delivered batches commit
    nothing, so the consumer sees each row exactly once."""
    from value_at_risk_spark.sources.deltalog import read_delta_changes
    from value_at_risk_spark.streaming.sinks import DeltaTxnSink

    tbl = str(tmp_path / "chain")
    sink = DeltaTxnSink(tbl, app_id="chain")
    seen: set[int] = set()
    offset = -1
    for batch_id, lo in enumerate((0, 100, 100, 200)):  # 100 re-delivered
        sink(
            spark.range(lo, lo + 5).select(F.col("id")),
            batch_id if lo != 100 or batch_id == 1 else 1,  # same batchId
        )
        tip = snapshot(tbl).version
        if tip > offset:
            new = {
                r.id
                for r in read_delta_changes(spark, tbl, offset, tip).collect()
            }
            assert not (new & seen), "duplicate delivery reached consumer"
            seen |= new
            offset = tip
    assert seen == set(range(0, 5)) | set(range(100, 105)) | set(
        range(200, 205)
    )


def test_registry_deltalog_roundtrip(spark, tmp_path):
    """Registry.write(fmt='deltalog') / read: the table layer's
    native-delta route — transactional overwrite + append through the
    open-protocol log with zero extra dependencies, auto-detected on
    read by the _delta_log dir even from a fresh Registry instance."""
    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    reg.write(df, "tbl", fmt="deltalog")
    assert _rows(reg.read(spark, "tbl")) == _rows(df)
    reg.write(
        spark.createDataFrame([(3, "c", 3.5)], "id long, s string, v double"),
        "tbl",
        mode="append",
        fmt="deltalog",
    )
    assert reg.read(spark, "tbl").count() == 3
    assert delta_versions(reg.path("tbl")) == [0, 1]
    # a FRESH registry (no format memory) still reads it as delta
    fresh = Registry(str(tmp_path))
    fresh.register("tbl", reg.path("tbl"))
    assert fresh.read(spark, "tbl").count() == 3
    # overwrite replaces transactionally; history remains
    reg.write(
        spark.createDataFrame([(9, "z", 9.0)], "id long, s string, v double"),
        "tbl",
        mode="overwrite",
        fmt="deltalog",
    )
    assert _rows(reg.read(spark, "tbl")) == [(9, "z", 9.0)]
    assert read_delta(spark, reg.path("tbl"), version=1).count() == 3


def test_delta_log_model_based_random_walks(spark, tmp_path):
    """Model-based check: random sequences of append / overwrite /
    optimize / checkpoint / restore / DELETE / UPDATE, replayed
    against a pure-Python model of (version -> expected multiset of
    rows). After every op, the latest snapshot AND a time-travel read
    of a random earlier version must equal the model — the strongest
    single guard against action-replay bugs (mis-ordered adds/removes,
    checkpoint drift, restore re-reference errors, DML touched-file
    mis-identification). Seeded walks, deterministic."""
    import random

    from value_at_risk_spark.sources.deltalog import (
        checkpoint_delta,
        delete_from_delta,
        optimize_delta,
        restore_delta,
        update_delta,
    )

    for seed in (1, 7, 23):
        rnd = random.Random(seed)
        tbl = str(tmp_path / f"walk{seed}")
        model: list[list[tuple]] = []  # model[v] = rows at version v
        next_id = 0

        def fresh_rows(k):
            nonlocal next_id
            rows = [(next_id + i, float(next_id + i) * 0.5) for i in range(k)]
            next_id += k
            return rows

        def df_of(rows):
            return spark.createDataFrame(rows, "id long, v double")

        # v0
        rows = fresh_rows(rnd.randint(1, 4))
        write_delta(spark, df_of(rows), tbl)
        model.append(sorted(rows))

        for _step in range(10):
            op = rnd.choice(
                ["append", "append", "overwrite", "optimize",
                 "checkpoint", "restore", "delete", "update"]
            )
            if op == "delete":
                m, r = rnd.choice([(2, 0), (3, 1), (5, 2)])
                res = delete_from_delta(spark, tbl, f"id % {m} = {r}")
                kept = [t for t in model[-1] if t[0] % m != r]
                assert res["rows_deleted"] == len(model[-1]) - len(kept)
                if res["rows_deleted"] == 0:
                    continue  # no commit published
                model.append(kept)
            elif op == "update":
                m, r = rnd.choice([(2, 1), (3, 0), (4, 3)])
                res = update_delta(
                    spark, tbl, f"id % {m} = {r}", {"v": "v + 10"}
                )
                hit = [t for t in model[-1] if t[0] % m == r]
                assert res["rows_updated"] == len(hit)
                if not hit:
                    continue
                model.append(
                    sorted(
                        (i, v + 10.0) if i % m == r else (i, v)
                        for i, v in model[-1]
                    )
                )
            elif op == "append":
                rows = fresh_rows(rnd.randint(1, 4))
                write_delta(spark, df_of(rows), tbl)
                model.append(sorted(model[-1] + rows))
            elif op == "overwrite":
                rows = fresh_rows(rnd.randint(1, 3))
                write_delta(spark, df_of(rows), tbl, mode="overwrite")
                model.append(sorted(rows))
            elif op == "optimize":
                optimize_delta(spark, tbl, target_files=2)
                model.append(model[-1])  # content-invisible
            elif op == "checkpoint":
                checkpoint_delta(tbl)
                continue  # no new version
            else:
                target = rnd.randrange(len(model))
                restore_delta(spark, tbl, target)
                model.append(model[target])
            assert _rows(read_delta(spark, tbl)) == model[-1], (seed, _step, op)
            probe = rnd.randrange(len(model))
            assert _rows(read_delta(spark, tbl, version=probe)) == model[
                probe
            ], (seed, _step, "time-travel", probe)


def test_checkpoint_protection_guards_log_cleanup(spark, tmp_path):
    """checkpointProtection: commits before
    delta.requireCheckpointProtectionBeforeVersion survive cleanup
    while the anchoring checkpoint sits BELOW the boundary; a
    checkpoint at-or-after it allows the one-go truncation past the
    protected region."""
    from value_at_risk_spark.sources.deltalog import (
        _json_versions,
        checkpoint_delta,
        cleanup_delta_log,
        set_table_properties,
        write_delta,
    )

    tbl = str(tmp_path / "cprot")
    for i in range(4):
        write_delta(
            spark,
            spark.createDataFrame([(i,)], "k long").coalesce(1),
            tbl,
        )
    set_table_properties(
        tbl, {"delta.requireCheckpointProtectionBeforeVersion": "4"}
    )  # property lands at v4 — v0..v3 protected
    checkpoint_delta(tbl)  # checkpoint at the tip (v4 == boundary)
    # the discriminating case needs a checkpoint BELOW the boundary:
    # new table, checkpoint at v2, boundary 4
    tbl2 = str(tmp_path / "cprot2")
    for i in range(3):
        write_delta(
            spark,
            spark.createDataFrame([(i,)], "k long").coalesce(1),
            tbl2,
        )
    checkpoint_delta(tbl2)  # cp at v2
    set_table_properties(
        tbl2, {"delta.requireCheckpointProtectionBeforeVersion": "4"}
    )
    # the spec ties the property to the table feature so naive
    # foreign writers refuse before cleaning the protected region
    from value_at_risk_spark.sources.deltalog import snapshot as _snap

    assert "checkpointProtection" in (
        _snap(tbl2).protocol.get("writerFeatures") or []
    )
    assert cleanup_delta_log(tbl2) == []  # cp(2) < boundary(4): keep all
    assert set(_json_versions(tbl2)) == {0, 1, 2, 3}
    # advance past the boundary and checkpoint there: one-go cleanup
    write_delta(
        spark, spark.createDataFrame([(9,)], "k long").coalesce(1), tbl2
    )
    checkpoint_delta(tbl2)  # cp at v4 == boundary
    # keep_last slicing must not carve a PARTIAL prefix out of the
    # protected region: keeping the last 2 would delete only v0..v2
    # (< boundary-1), so the whole cleanup refuses
    assert cleanup_delta_log(tbl2, keep_last=2) == []
    deleted = cleanup_delta_log(tbl2)
    assert deleted == [0, 1, 2, 3, 4]
    # the unprotected table (boundary at the tip checkpoint) cleans
    assert cleanup_delta_log(tbl) == [0, 1, 2, 3, 4]


def test_checkpoint_anchors_version_after_full_cleanup(spark, tmp_path):
    """ADVICE r10 (high): checkpoint at the tip + cleanup_delta_log
    (keep_last=0) removes every commit JSON <= the checkpoint — the
    natural checkpoint-then-clean maintenance sequence. The table must
    stay readable from the checkpoint alone (real Delta bootstraps a
    snapshot from a checkpoint with no JSON commits), the next write
    must continue the version sequence, and the txn dedup state must
    survive (it rides in the checkpoint)."""
    from value_at_risk_spark.sources.deltalog import (
        cleanup_delta_log,
        read_delta_changes,
    )

    tbl = str(tmp_path / "anchor")
    mk = lambda lo: spark.range(lo, lo + 4).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    )
    write_delta(spark, mk(0), tbl)    # v0
    write_delta(spark, mk(10), tbl)   # v1
    write_delta(
        spark, mk(20), tbl, txn={"appId": "app", "version": 7}
    )                                  # v2
    cp = checkpoint_delta(tbl)         # checkpoint AT the tip
    assert cp == 2
    deleted = cleanup_delta_log(tbl)   # keep_last=0: drops v0..v2 JSONs
    assert deleted == [0, 1, 2]

    # the checkpoint anchors its version: still a table, still readable
    assert delta_versions(tbl) == [2]
    snap = snapshot(tbl)
    assert snap.version == 2
    assert snap.txns == {"app": 7}     # exactly-once state survives
    assert read_delta(spark, tbl).count() == 12
    assert delta_history(tbl) == []    # commitInfo gone — documented

    # writes continue the sequence from the anchor
    assert write_delta(spark, mk(30), tbl) == 3
    assert delta_versions(tbl) == [2, 3]
    assert read_delta(spark, tbl).count() == 16
    assert _rows(read_delta(spark, tbl, version=2)) == _rows(
        mk(0).unionByName(mk(10)).unionByName(mk(20))
    )

    # incremental reads across the cleaned range fail LOUDLY
    with pytest.raises(ValueError, match="cleaned"):
        read_delta_changes(spark, tbl, 0, 3).count()
    # ...but from the anchor forward they work
    assert {
        r.id for r in read_delta_changes(spark, tbl, 2, 3).collect()
    } == set(range(30, 34))


def test_cleaned_gap_below_checkpoint_raises_not_silently_replays(
    spark, tmp_path
):
    """Time travel to a kept-tail JSON version whose predecessor
    commits were cleaned and which no checkpoint covers must raise —
    replaying only the surviving commits would silently produce a
    WRONG partial snapshot."""
    from value_at_risk_spark.sources.deltalog import cleanup_delta_log

    tbl = str(tmp_path / "gap")
    for lo in (0, 10, 20, 30):
        write_delta(
            spark,
            spark.range(lo, lo + 2).select("id"),
            tbl,
        )                                   # v0..v3
    assert checkpoint_delta(tbl) == 3
    # keep the two newest JSONs (v2, v3); clean v0, v1
    assert cleanup_delta_log(tbl, keep_last=2) == [0, 1]
    assert delta_versions(tbl) == [2, 3]
    # v3: covered by the checkpoint — fine
    assert read_delta(spark, tbl, version=3).count() == 8
    # v2: replay needs v0..v2 but v0/v1 are gone and the only
    # checkpoint is at 3 — must be loud, not a 2-row "snapshot"
    with pytest.raises(ValueError, match="not replayable"):
        read_delta(spark, tbl, version=2)


def test_broadcast_partition_map_built_from_pruned_active_set(
    spark, tmp_path
):
    """ADVICE r10 (medium): on the >16-commit broadcast-join read
    path, the basename->partitionValues map must come from the SAME
    pruned file set the scan reads. A foreign table can hold two
    files sharing a basename; when pruning removes one, the surviving
    file must not be joined against BOTH partition rows (row
    duplication)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import _publish_commit

    tbl = str(tmp_path / "foreign")
    # 17 normal single-row commits -> >16 partition roots, so the
    # scale (broadcast-join) path triggers
    for k in range(17):
        write_delta(
            spark,
            spark.createDataFrame([(k, k * 1.0)], "k int, v double"),
            tbl,
            partition_by=["k"],
        )
    # a foreign 18th commit: two files with the SAME basename in
    # different partition dirs (legal for a non-Spark writer)
    rows_written = []
    for part, sub in ((100, "xa"), (101, "xb")):
        d = os.path.join(tbl, sub, f"k={part}")
        os.makedirs(d)
        f = os.path.join(d, "dup-000.parquet")
        pq.write_table(pa.table({"v": pa.array([float(part)])}), f)
        rows_written.append(
            {
                "add": {
                    "path": f"{sub}/k={part}/dup-000.parquet",
                    "partitionValues": {"k": str(part)},
                    "size": os.path.getsize(f),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    assert _publish_commit(tbl, 17, rows_written)

    # prune k=101: its dup-basename twin leaves the active set, so the
    # uniqueness guard passes and the broadcast path runs. The k=100
    # row must appear exactly ONCE with its own partition value.
    keep = [str(k) for k in range(17)] + ["100"]
    got = read_delta(spark, tbl, partition_filters={"k": keep})
    rows = got.collect()
    assert len(rows) == 18
    assert sorted(r.k for r in rows) == sorted(list(range(17)) + [100])
    assert [r.v for r in rows if r.k == 100] == [100.0]


def test_delete_from_delta_file_level_copy_on_write(spark, tmp_path):
    """DELETE rewrites ONLY files holding matching rows: untouched
    files keep their add actions verbatim (same relative path — the
    100 TB contract: a 0.1%-selective DELETE rewrites 0.1% of the
    table), SQL NULL semantics keep NULL-condition rows, time travel
    preserves the pre-delete snapshot, and a no-match DELETE commits
    nothing."""
    from value_at_risk_spark.sources.deltalog import delete_from_delta

    tbl = str(tmp_path / "del")
    # two commits, clearly separated key ranges -> per-file stats make
    # the untouched set knowable
    a = spark.createDataFrame(
        [(i, float(i)) for i in range(10)] + [(None, 99.0)],
        "id long, v double",
    ).coalesce(1)
    b = spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], "id long, v double"
    ).coalesce(1)
    write_delta(spark, a, tbl)   # v0: ids 0..9 + NULL
    write_delta(spark, b, tbl)   # v1: ids 100..109
    files_before = dict(snapshot(tbl).files)

    res = delete_from_delta(spark, tbl, "id >= 100 AND id < 105")
    assert res["rows_deleted"] == 5 and res["files_rewritten"] == 1
    after = snapshot(tbl)
    # the v0 file is byte-identical state: same add path survives
    untouched = [p for p in files_before if p in after.files]
    assert len(untouched) == 1
    got = read_delta(spark, tbl)
    assert got.count() == 11 + 5  # NULL row kept (condition NULL -> keep)
    assert got.filter("id >= 100 AND id < 105").count() == 0
    assert got.filter("id IS NULL").count() == 1
    # time travel: pre-delete state intact
    assert read_delta(spark, tbl, version=1).count() == 21
    # no-match: zero commits
    v = snapshot(tbl).version
    res2 = delete_from_delta(spark, tbl, "id = -42")
    assert res2["rows_deleted"] == 0 and snapshot(tbl).version == v


def test_update_delta_casts_and_moves_partitions(spark, tmp_path):
    """UPDATE rewrites only touched files, casts SET expressions back
    to the table schema, and an update of a PARTITION column restages
    moved rows under their new Hive directories (readable via
    partition_filters)."""
    from value_at_risk_spark.sources.deltalog import update_delta

    tbl = str(tmp_path / "upd")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id long, seg int, v double",
    )
    write_delta(spark, df, tbl, partition_by=["seg"])

    res = update_delta(spark, tbl, "id < 10", {"v": "v + 0.25"})
    assert res["rows_updated"] == 10
    got = {r.id: r.v for r in read_delta(spark, tbl).collect()}
    assert all(
        got[i] == (i + 0.25 if i < 10 else float(i)) for i in range(30)
    )
    # schema stays the declared one (cast back to double)
    assert dict(read_delta(spark, tbl).dtypes)["v"] == "double"

    # partition-column update: rows move across partition dirs
    res2 = update_delta(spark, tbl, "seg = 2", {"seg": "7"})
    assert res2["rows_updated"] == 10
    moved = read_delta(spark, tbl, partition_filters={"seg": ["7"]})
    assert moved.count() == 10
    assert read_delta(
        spark, tbl, partition_filters={"seg": ["2"]}
    ).count() == 0
    # unknown SET column is loud
    with pytest.raises(ValueError, match="unknown columns"):
        update_delta(spark, tbl, "id = 0", {"nope": "1"})


def test_dml_conflict_pins_to_read_version(spark, tmp_path):
    """A commit landing between DML identification and publish must
    not be clobbered: the rewrite pins to the read version, loses the
    race, re-identifies, and the concurrent append's rows survive the
    retried DELETE iff they don't match the predicate."""
    from value_at_risk_spark.sources import deltalog
    from value_at_risk_spark.sources.deltalog import delete_from_delta

    tbl = str(tmp_path / "race")
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, v double"
        ),
        tbl,
    )

    real_publish = deltalog._publish_commit
    fired = {"n": 0}

    def racing_publish(path, version, actions):
        # first DML publish attempt: sneak a concurrent append in
        # first, stealing the version
        if fired["n"] == 0 and any(
            a.get("commitInfo", {}).get("operation") == "DELETE"
            for a in actions
        ):
            fired["n"] = 1
            write_delta(
                spark,
                spark.createDataFrame(
                    [(1000, 1.0), (5, -5.0)], "id long, v double"
                ),
                tbl,
            )
        return real_publish(path, version, actions)

    deltalog._publish_commit = racing_publish
    try:
        res = delete_from_delta(spark, tbl, "id >= 5 AND id < 10")
    finally:
        deltalog._publish_commit = real_publish
    # re-identification saw the racing append: its id=5 row matches
    # the predicate and is deleted too; id=1000 survives
    assert res["rows_deleted"] == 6
    ids = sorted(r.id for r in read_delta(spark, tbl).collect())
    assert ids == [0, 1, 2, 3, 4, 1000]


def test_deltalog_python_datasource_batch(spark, tmp_path):
    """The ``deltalog`` Python Data Source (sources/delta_datasource):
    spark.read.format('deltalog') snapshots the table with one input
    partition per active file (Arrow RecordBatches, partition columns
    typed from the LOG), versionAsOf time-travels, and a missing path
    is loud."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import optimize_delta

    register_deltalog_source(spark)
    tbl = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [(i, i % 3, float(i) / 2) for i in range(40)],
        "id long, k int, v double",
    )
    write_delta(spark, df, tbl, partition_by=["k"])
    write_delta(
        spark,
        spark.createDataFrame(
            [(i, i % 3, float(i) / 2) for i in range(40, 60)],
            "id long, k int, v double",
        ),
        tbl,
    )
    optimize_delta(spark, tbl, target_files=2)
    checkpoint_delta(tbl)

    got = spark.read.format("deltalog").load(tbl)
    assert got.schema.simpleString() == "struct<id:bigint,k:int,v:double>"
    assert _rows(got) == _rows(read_delta(spark, tbl))
    assert got.count() == 60
    # time travel through the option surface
    v0 = spark.read.format("deltalog").option("versionAsOf", 0).load(tbl)
    assert v0.count() == 40
    # the scan parallelism is the file count (post-OPTIMIZE snapshot)
    n_files = len(snapshot(tbl).files)
    assert got.rdd.getNumPartitions() == n_files

    with pytest.raises(Exception, match="path"):
        spark.read.format("deltalog").load()


def test_deltalog_python_datasource_stream_exactly_once(spark, tmp_path):
    """spark.readStream.format('deltalog'): version offsets ride the
    query checkpoint — the first batch snapshots the table, appends
    surface exactly once across a QUERY RESTART, and a data-removing
    commit (DML/overwrite) inside the offset range fails loudly
    instead of emitting wrong rows."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import delete_from_delta

    register_deltalog_source(spark)
    tbl = str(tmp_path / "dss")
    ckpt = str(tmp_path / "ckpt")
    write_delta(spark, spark.range(0, 10).select("id"), tbl)
    write_delta(spark, spark.range(10, 20).select("id"), tbl)

    seen: list[int] = []

    def sink(bdf, _bid):
        seen.extend(r.id for r in bdf.collect())

    def run_once():
        q = (
            spark.readStream.format("deltalog")
            .load(tbl)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    assert sorted(seen) == list(range(20))  # initial snapshot batch

    write_delta(spark, spark.range(20, 30).select("id"), tbl)
    run_once()  # restart from the checkpoint: only the new commit
    assert sorted(seen) == list(range(30)) and len(seen) == 30

    # a DELETE breaks the append-only stream contract — loud, not wrong
    delete_from_delta(spark, tbl, "id < 5")
    write_delta(spark, spark.range(30, 35).select("id"), tbl)
    import py4j.protocol

    with pytest.raises(
        (Exception, py4j.protocol.Py4JJavaError), match="removes data"
    ):
        run_once()


def test_deltalog_python_datasource_writer_batch(spark, tmp_path):
    """df.write.format('deltalog'): tasks stage parquet directly and
    the driver publishes one atomic commit — create (with
    partitionBy), append with schema enforcement at PLANNING time,
    overwrite, and full read-back parity with read_delta."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "dsw")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)],
        "id long, k int, v double",
    )
    # Python data sources accept only Append/Overwrite (Spark rejects
    # ErrorIfExists at the API layer before our writer is consulted)
    df.write.format("deltalog").option("partitionBy", "k").mode(
        "append"
    ).save(tbl)
    assert _rows(read_delta(spark, tbl)) == _rows(df)
    assert snapshot(tbl).partition_columns == ["k"]
    # partition values came from the log, typed
    assert read_delta(
        spark, tbl, partition_filters={"k": ["1"]}
    ).count() == 20
    # file stats landed (data skipping works on DS-written files)
    assert all(
        a.get("stats") for a in snapshot(tbl).files.values()
    )

    more = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60, 90)],
        "id long, k int, v double",
    )
    more.write.format("deltalog").mode("append").save(tbl)
    assert read_delta(spark, tbl).count() == 90

    # schema mismatch fails before any task runs
    with pytest.raises(Exception, match="schema mismatch"):
        spark.createDataFrame([(1,)], "id int").write.format(
            "deltalog"
        ).mode("append").save(tbl)

    small = spark.createDataFrame(
        [(0, 0, 0.0)], "id long, k int, v double"
    )
    small.write.format("deltalog").mode("overwrite").save(tbl)
    assert read_delta(spark, tbl).count() == 1
    # history intact: overwrite is one version, time travel works
    assert read_delta(spark, tbl, version=1).count() == 90


def test_deltalog_python_datasource_writer_stream(spark, tmp_path):
    """writeStream.format('deltalog'): each micro-batch is one atomic
    commit carrying the protocol txn action, so a restarted query
    re-delivering batches commits nothing twice (exactly-once without
    foreachBatch)."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    dst = str(tmp_path / "dst")
    spark.range(0, 40).select("id").repartition(4).write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("deltalog")
            .option("path", dst)
            .option("appId", "pytest_stream_writer")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    got = read_delta(spark, dst)
    assert sorted(r.id for r in got.collect()) == list(range(40))
    v = snapshot(dst).version
    assert snapshot(dst).txns == {"pytest_stream_writer": v}
    run()  # replay from the same checkpoint: nothing new
    assert read_delta(spark, dst).count() == 40
    assert snapshot(dst).version == v


def test_deltalog_datasource_filter_pushdown_prunes_files(spark, tmp_path):
    """Catalyst predicates reach the deltalog reader via pushFilters
    and prune FILES at the log level: partition equality/IN prunes by
    add.partitionValues, comparisons prune by footer stats, all
    filters stay residual (row-level semantics unchanged), and the
    scan's input-partition count equals the pruned file count."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    from value_at_risk_spark.sources.delta_datasource import (
        _DeltaBatchReader,
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "pf")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("k"),
        (F.col("id") * 0.5).alias("v"),
    )
    mk(0, 100).coalesce(2).write.format("deltalog").option(
        "partitionBy", "k"
    ).mode("append").save(tbl)
    mk(1000, 1100).coalesce(2).write.format("deltalog").mode(
        "append"
    ).save(tbl)

    base = _DeltaBatchReader({"path": tbl}, None)
    total = len(base.partitions())

    r_part = _DeltaBatchReader({"path": tbl}, None)
    residual = r_part.pushFilters([EqualTo(("k",), 1), In(("k",), (1, 2))])
    assert list(residual) == [EqualTo(("k",), 1), In(("k",), (1, 2))]
    # AND-intersection of the two partition predicates: only k=1 files
    assert 0 < len(r_part.partitions()) <= total // 4 + 1

    r_stats = _DeltaBatchReader({"path": tbl}, None)
    r_stats.pushFilters([GreaterThan(("id",), 999)])
    assert 0 < len(r_stats.partitions()) < total  # stats skipping

    # end-to-end: pruned scan, correct rows, partition count == files
    got = spark.read.format("deltalog").load(tbl).filter(
        "k = 1 AND id > 999"
    )
    rows = got.collect()
    assert sorted(r.id for r in rows) == [
        i for i in range(1000, 1100) if i % 4 == 1
    ]
    assert got.rdd.getNumPartitions() < total


def test_check_constraints_enforced_across_write_paths(spark, tmp_path):
    """CHECK constraints (protocol writer feature 3): ADD CONSTRAINT
    validates existing data and bumps minWriterVersion; violating
    appends/updates fail with the violating row; NULL evaluations pass
    (SQL CHECK); the Python Data Source writer REFUSES a constrained
    table (it cannot enforce SQL on staged batches); DROP restores
    writability; a foreign table demanding a higher writer version is
    refused."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        add_check_constraint,
        drop_check_constraint,
        table_constraints,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "cons")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, None)], "id long, v double"
        ),
        tbl,
    )
    # existing data violates -> ADD fails, nothing committed
    with pytest.raises(ValueError, match="violated"):
        add_check_constraint(spark, tbl, "v_big", "v > 15")
    assert snapshot(tbl).version == 0

    v = add_check_constraint(spark, tbl, "v_pos", "v > 0")  # NULL passes
    snap = snapshot(tbl)
    assert v == 1 and table_constraints(snap) == {"v_pos": "v > 0"}
    assert int(snap.protocol["minWriterVersion"]) == 3

    # valid append passes; violating append fails with the row shown
    write_delta(
        spark, spark.createDataFrame([(4, 1.5)], "id long, v double"), tbl
    )
    with pytest.raises(ValueError, match="v_pos"):
        write_delta(
            spark,
            spark.createDataFrame([(5, -1.0)], "id long, v double"),
            tbl,
        )
    # UPDATE that would break the invariant fails before committing
    with pytest.raises(ValueError, match="v_pos"):
        update_delta(spark, tbl, "id = 1", {"v": "-9.0"})
    assert read_delta(spark, tbl).count() == 4

    # the DS writer refuses constrained tables up front
    with pytest.raises(Exception, match="cannot enforce"):
        spark.createDataFrame([(9, 9.0)], "id long, v double").write.format(
            "deltalog"
        ).mode("append").save(tbl)

    drop_check_constraint(spark, tbl, "v_pos")
    write_delta(
        spark, spark.createDataFrame([(5, -1.0)], "id long, v double"), tbl
    )
    assert read_delta(spark, tbl).count() == 5

    # foreign higher writer version: refuse to write, still readable
    import json as _json

    tip = snapshot(tbl).version
    with open(
        os.path.join(tbl, "_delta_log", f"{tip + 1:020d}.json"), "w"
    ) as fh:
        fh.write(
            _json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}
            )
            + "\n"
        )
    assert read_delta(spark, tbl).count() == 5
    with pytest.raises(NotImplementedError, match="minWriterVersion"):
        write_delta(
            spark, spark.createDataFrame([(6, 1.0)], "id long, v double"), tbl
        )


def test_deltalog_stream_starting_version_and_rate_limit(spark, tmp_path):
    """The stream source's scale knobs: startingVersion skips the
    initial table snapshot (a tailing consumer at 100 TB must not pull
    the whole table through the driver), and maxVersionsPerBatch
    bounds catch-up batches to N commits each without losing or
    duplicating a row."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "knobs")
    for lo in (0, 10, 20):
        write_delta(spark, spark.range(lo, lo + 10).select("id"), tbl)

    # startingVersion=latest: the pre-existing 30 rows never surface
    seen: list[int] = []

    def sink(bdf, _bid):
        seen.extend(r.id for r in bdf.collect())

    def run(ckpt, **opts):
        reader = spark.readStream.format("deltalog")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(tbl)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run("c1", startingVersion="latest")
    assert seen == []
    write_delta(spark, spark.range(30, 40).select("id"), tbl)
    run("c1", startingVersion="latest")  # same checkpoint
    assert sorted(seen) == list(range(30, 40))

    # numeric startingVersion: only commits AFTER v0
    seen.clear()
    run("c2", startingVersion=0)
    assert sorted(seen) == list(range(10, 40))

    # maxVersionsPerBatch: catch-up drains in bounded batches
    seen.clear()
    batches: list[int] = []

    def sink2(bdf, _bid):
        ids = [r.id for r in bdf.collect()]
        batches.append(len(ids))
        seen.extend(ids)

    # under availableNow each run drains what the capped read()
    # reported at start — re-run until the backlog is gone, exactly
    # how a scheduled catch-up job would
    for _run in range(5):
        q = (
            spark.readStream.format("deltalog")
            .option("startingVersion", 0)
            .option("maxVersionsPerBatch", 1)
            .load(tbl)
            .writeStream.foreachBatch(sink2)
            .option("checkpointLocation", str(tmp_path / "c3"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        if sorted(seen) == list(range(10, 40)):
            break
    assert sorted(seen) == list(range(10, 40))
    # three commits after v0, never more than one commit (10 rows)
    # per micro-batch
    assert [b for b in batches if b] == [10, 10, 10]


def test_delta_sql_text_surface(spark, tmp_path):
    """delta_sql (sources/delta_sql): the reference's Delta-SQL
    statement shapes dispatch to the native log — SELECT with
    VERSION AS OF via view substitution, DELETE/UPDATE, upsert-star
    MERGE (through the runtime NOT NULL invariant, since MERGE plans
    are statically nullable), OPTIMIZE ZORDER, DESCRIBE HISTORY,
    ADD/DROP CONSTRAINT, RESTORE; unsupported text is loud."""
    from value_at_risk_spark.sources.delta_sql import delta_sql

    tbl = str(tmp_path / "sqlt")
    df = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("k"),
        (F.col("id") * 2.0).alias("v"),
    )
    write_delta(spark, df, tbl)

    assert delta_sql(
        spark, f"SELECT COUNT(*) AS n FROM delta.`{tbl}`"
    ).first().n == 50
    r = delta_sql(spark, f"DELETE FROM delta.`{tbl}` WHERE id >= 40")
    assert r["rows_deleted"] == 10
    r = delta_sql(
        spark, f"UPDATE delta.`{tbl}` SET v = v + 1, k = 9 WHERE id < 5"
    )
    assert r["rows_updated"] == 5
    # the pre-DML snapshot through SQL time travel
    assert delta_sql(
        spark, f"SELECT COUNT(*) AS n FROM delta.`{tbl}` VERSION AS OF 0"
    ).first().n == 50

    delta_sql(spark, f"OPTIMIZE delta.`{tbl}` ZORDER BY (k, id)")
    spark.createDataFrame(
        [(1, 5, 100.0), (999, 5, 100.0)], "id long, k int, v double"
    ).createOrReplaceTempView("sql_updates_v")
    delta_sql(
        spark,
        f"MERGE INTO delta.`{tbl}` AS t USING sql_updates_v AS s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got = {r.id: (r.k, r.v) for r in read_delta(spark, tbl).collect()}
    assert got[1] == (5, 100.0) and got[999] == (5, 100.0)
    assert len(got) == 41

    hist = delta_sql(spark, f"DESCRIBE HISTORY delta.`{tbl}`")
    ops = [r.operation for r in hist.collect()]
    assert "DELETE" in ops and "UPDATE" in ops and "OPTIMIZE" in ops

    delta_sql(
        spark,
        f"ALTER TABLE delta.`{tbl}` ADD CONSTRAINT v_ok CHECK (v >= 0)",
    )
    with pytest.raises(ValueError, match="v_ok"):
        write_delta(
            spark,
            spark.createDataFrame(
                [(7, 7, -1.0)], "id long, k int, v double"
            ),
            tbl,
        )
    delta_sql(spark, f"ALTER TABLE delta.`{tbl}` DROP CONSTRAINT v_ok")

    v_target = 1
    delta_sql(
        spark, f"RESTORE TABLE delta.`{tbl}` TO VERSION AS OF {v_target}"
    )
    assert read_delta(spark, tbl).count() == 40

    # SHOW TBLPROPERTIES: all keys, single key, missing key
    delta_sql(
        spark,
        f"ALTER TABLE delta.`{tbl}` SET TBLPROPERTIES "
        "('custom.owner'='risk-team')",
    )
    props = {
        r.key: r.value
        for r in delta_sql(
            spark, f"SHOW TBLPROPERTIES delta.`{tbl}`"
        ).collect()
    }
    assert props["custom.owner"] == "risk-team"
    one = delta_sql(
        spark, f"SHOW TBLPROPERTIES delta.`{tbl}` ('custom.owner')"
    ).collect()
    assert [(r.key, r.value) for r in one] == [("custom.owner", "risk-team")]
    assert (
        delta_sql(
            spark, f"SHOW TBLPROPERTIES delta.`{tbl}` ('no.such.key')"
        ).count()
        == 0
    )

    # RESTORE TO TIMESTAMP AS OF resolves through the same as-of rule
    # as SELECT time travel (latest version at-or-before ts)
    from value_at_risk_spark.sources.deltalog import (
        delta_versions as _dvs,
        version_at_timestamp as _vat,
    )

    v_now = _dvs(tbl)[-1]
    # timestamp far in the future resolves to the CURRENT tip: the
    # restore is then a no-op-shaped commit to the same state
    n_before = read_delta(spark, tbl).count()
    assert _vat(tbl, 4102444800.0) == v_now
    delta_sql(
        spark,
        f"RESTORE TABLE delta.`{tbl}` TO TIMESTAMP AS OF 4102444800",
    )
    assert read_delta(spark, tbl).count() == n_before

    with pytest.raises(ValueError, match="unsupported"):
        delta_sql(spark, f"TRUNCATE delta.`{tbl}`")
    with pytest.raises(ValueError, match="unsupported SHOW"):
        delta_sql(spark, f"SHOW COLUMNS delta.`{tbl}`")
    # a join between a delta table and a temp view plans through
    # Catalyst as ordinary SQL
    spark.createDataFrame(
        [(0, "zero"), (1, "one")], "id long, name string"
    ).createOrReplaceTempView("names_v")
    joined = delta_sql(
        spark,
        f"SELECT n.name, COUNT(*) AS c FROM delta.`{tbl}` d "
        "JOIN names_v n ON d.id = n.id GROUP BY n.name",
    )
    assert {r.name for r in joined.collect()} == {"zero", "one"}


def test_create_table_column_defs_sql(spark, tmp_path):
    """CREATE TABLE with explicit column defs (no AS SELECT): empty
    v0 with the DECLARED schema/order, GENERATED ALWAYS AS IDENTITY
    (START WITH/INCREMENT BY), GENERATED ALWAYS AS (expr), NOT NULL,
    PARTITIONED BY and TBLPROPERTIES with '' escapes; later INSERTs
    generate identity/generated values; balanced-paren extraction
    keeps nested parens out of the tail parse."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        snapshot,
        table_generated_columns,
        table_identity_columns,
    )

    tbl = str(tmp_path / "cdef")
    delta_sql(
        spark,
        f"CREATE TABLE delta.`{tbl}` ("
        "rid BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 100 INCREMENT BY 5), "
        "k BIGINT NOT NULL, seg STRING, v DOUBLE, "
        "v2 DOUBLE GENERATED ALWAYS AS (v * 2)"
        ") USING DELTA PARTITIONED BY (seg) "
        "TBLPROPERTIES ('custom.note'='it''s here')",
    )
    snap = snapshot(tbl)
    assert table_identity_columns(snap)["rid"] == {
        "start": 100, "step": 5, "high_water_mark": None,
        "allow_explicit": False,
    }
    assert table_generated_columns(snap) == {"v2": "v * 2"}
    assert snap.metadata["configuration"]["custom.note"] == "it's here"
    got = read_delta(spark, tbl)
    assert got.schema.simpleString() == (
        "struct<rid:bigint,k:bigint,seg:string,v:double,v2:double>"
    )
    assert got.count() == 0
    delta_sql(
        spark,
        f"INSERT INTO delta.`{tbl}` (k, seg, v) "
        "VALUES (1, 'a', 1.5), (2, 'b', 2.5)",
    )
    rows = sorted(
        (r.rid, r.k, r.v2) for r in read_delta(spark, tbl).collect()
    )
    assert rows == [(100, 1, 3.0), (105, 2, 5.0)]
    # identity stays GENERATED ALWAYS for real data: explicit values
    # on a NON-empty append still refuse
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta(
            spark,
            spark.createDataFrame(
                [(7, 7, "c", 0.0, 0.0)],
                "rid long, k long, seg string, v double, v2 double",
            ),
            tbl,
        )
    with pytest.raises(ValueError, match="already exists"):
        delta_sql(spark, f"CREATE TABLE delta.`{tbl}` (x BIGINT)")
    with pytest.raises(ValueError, match="bad column def"):
        delta_sql(
            spark, f"CREATE TABLE delta.`{tbl}_y` (x BIGINT BOGUS CLAUSE)"
        )
    # r14 (r13 advice): parameterized types, char/varchar lowering to
    # string, and NOT NULL on EITHER side of DEFAULT all parse
    tblp = str(tmp_path / "cdef_param")
    delta_sql(
        spark,
        f"CREATE TABLE delta.`{tblp}` ("
        "k BIGINT NOT NULL DEFAULT 7, "
        "price DECIMAL(10,2), "
        "name VARCHAR(32), "
        "seg STRING DEFAULT 'x' NOT NULL)",
    )
    gp = read_delta(spark, tblp)
    assert gp.schema.simpleString() == (
        "struct<k:bigint,price:decimal(10,2),name:string,seg:string>"
    )
    # NOT NULL (either position) lands in the LOG schema — the scan
    # side relaxes frame nullability, but the invariant is the log's
    logged = {
        f["name"]: f["nullable"]
        for f in json.loads(
            snapshot(tblp).metadata["schemaString"]
        )["fields"]
    }
    assert logged == {
        "k": False, "price": True, "name": True, "seg": False,
    }
    delta_sql(
        spark,
        f"INSERT INTO delta.`{tblp}` (price) "
        "SELECT CAST(1.5 AS DECIMAL(10,2))",
    )
    rp = read_delta(spark, tblp).first()
    assert (rp.k, str(rp.price), rp.name, rp.seg) == (7, "1.50", None, "x")


def test_auto_compact_post_commit_hook(spark, tmp_path):
    """delta.autoOptimize.autoCompact: once at least minNumFiles
    active files sit below minFileSize, the NEXT data commit triggers
    an incremental compaction (dataChange:false, rows preserved);
    tables without the property never auto-compact."""
    from value_at_risk_spark.sources.deltalog import (
        delta_history,
        read_delta,
        snapshot,
        write_delta,
    )

    tbl = str(tmp_path / "ac")
    write_delta(
        spark,
        spark.createDataFrame([(0, 0.0)], "k long, v double").coalesce(1),
        tbl,
        configuration={
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.minNumFiles": "4",
        },
    )
    for i in range(1, 4):
        write_delta(
            spark,
            spark.createDataFrame(
                [(i, float(i))], "k long, v double"
            ).coalesce(1),
            tbl,
        )
    snap = snapshot(tbl)
    assert len(snap.files) == 1  # 4 small files compacted to one
    ops = [h["operation"] for h in delta_history(tbl)]
    assert "OPTIMIZE" in ops
    got = {(r.k, r.v) for r in read_delta(spark, tbl).collect()}
    assert got == {(i, float(i)) for i in range(4)}
    # further single-file appends stay below the trigger: no cascade
    write_delta(
        spark,
        spark.createDataFrame([(9, 9.0)], "k long, v double").coalesce(1),
        tbl,
    )
    assert len(snapshot(tbl).files) == 2
    # without the property nothing compacts
    tbl2 = str(tmp_path / "noac")
    for i in range(5):
        write_delta(
            spark,
            spark.createDataFrame(
                [(i, float(i))], "k long, v double"
            ).coalesce(1),
            tbl2,
        )
    assert len(snapshot(tbl2).files) == 5
    # copy-on-write DML triggers the hook too (write_delta parity):
    # repeated CoW updates on the compacted table re-accumulate small
    # rewritten files until the threshold re-fires
    from value_at_risk_spark.sources.deltalog import update_delta

    for i in range(4):
        out = update_delta(
            spark, tbl, f"k = {i}", {"v": f"v + {i}"}
        )
        # the gating flag rides the result dict (r13 advice): the
        # wrapper consults the impl's pre-commit snapshot instead of
        # paying a fresh log replay per DML on non-opted tables
        assert out["auto_compact"] is True
    assert len(snapshot(tbl).files) <= 3  # compaction re-fired
    assert read_delta(spark, tbl).count() == 5
    out2 = update_delta(spark, tbl2, "k = 0", {"v": "v + 1"})
    assert out2["auto_compact"] is False
    assert len(snapshot(tbl2).files) == 5  # non-opted: no compaction


def test_column_defaults_lifecycle(spark, tmp_path):
    """allowColumnDefaults: CREATE TABLE DEFAULT clauses, SET/DROP
    DEFAULT SQL, INSERTs omitting the column fill its
    CURRENT_DEFAULT (never NULL), existing rows untouched, the
    protocol declares the writer feature, and non-constant or
    generated/identity targets refuse."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        set_column_default,
        snapshot,
        table_default_columns,
    )

    tbl = str(tmp_path / "defs")
    delta_sql(
        spark,
        f"CREATE TABLE delta.`{tbl}` ("
        "k BIGINT, status STRING DEFAULT 'new', score DOUBLE"
        ")",
    )
    snap = snapshot(tbl)
    assert table_default_columns(snap) == {"status": "'new'"}
    assert "allowColumnDefaults" in (
        snap.protocol.get("writerFeatures") or []
    )
    delta_sql(spark, f"INSERT INTO delta.`{tbl}` (k) VALUES (1)")
    r = read_delta(spark, tbl).first()
    assert (r.k, r.status, r.score) == (1, "new", None)
    # SET DEFAULT governs FUTURE inserts only
    delta_sql(
        spark,
        f"ALTER TABLE delta.`{tbl}` ALTER COLUMN score "
        "SET DEFAULT CAST(1.5 AS DOUBLE) * 2",
    )
    delta_sql(spark, f"INSERT INTO delta.`{tbl}` (k) VALUES (2)")
    rows = {r.k: (r.status, r.score) for r in read_delta(spark, tbl).collect()}
    assert rows == {1: ("new", None), 2: ("new", 3.0)}
    # DROP DEFAULT -> back to NULL fill
    delta_sql(
        spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN status DROP DEFAULT"
    )
    delta_sql(spark, f"INSERT INTO delta.`{tbl}` (k) VALUES (3)")
    assert read_delta(spark, tbl).filter("k = 3").first().status is None
    # MERGE's NOT MATCHED INSERT honors defaults too (the spec: a
    # writer adding rows without a value must write the default) —
    # both insert surfaces agree
    from value_at_risk_spark.operators.merge import merge_into_delta_native

    delta_sql(
        spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN status "
        "SET DEFAULT 'merged'"
    )
    merge_into_delta_native(
        spark,
        tbl,
        spark.createDataFrame([(9,)], "k long"),
        ["k"],
        not_matched=[{"insert": {"k": "s.k"}}],
    )
    r9 = read_delta(spark, tbl).filter("k = 9").first()
    assert (r9.status, r9.score) == ("merged", 3.0)
    delta_sql(
        spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN status DROP DEFAULT"
    )
    # type-incompatible defaults refuse at SET time (a non-ANSI cast
    # would silently turn them into NULL at INSERT time)
    with pytest.raises(ValueError, match="does not cast"):
        set_column_default(spark, tbl, "score", "'oops'")
    # refusals: non-constant expression, unknown column, identity
    with pytest.raises(ValueError, match="not a constant"):
        set_column_default(spark, tbl, "score", "k + 1")
    with pytest.raises(ValueError, match="no column"):
        set_column_default(spark, tbl, "nope", "1")
    tbl2 = str(tmp_path / "defs_id")
    delta_sql(
        spark,
        f"CREATE TABLE delta.`{tbl2}` ("
        "rid BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT)",
    )
    with pytest.raises(ValueError, match="identity"):
        set_column_default(spark, tbl2, "rid", "7")
    with pytest.raises(ValueError, match="DEFAULT cannot combine"):
        delta_sql(
            spark,
            f"CREATE TABLE delta.`{tbl2}_x` ("
            "g BIGINT GENERATED ALWAYS AS (1) DEFAULT 2)",
        )
    # non-deterministic defaults refuse (r13 advice: rand()/uuid()
    # plan and fold against a columnless frame but yield a different
    # 'constant' per insert — delta-spark's restriction)
    with pytest.raises(ValueError, match="non-deterministic"):
        set_column_default(spark, tbl, "score", "rand()")
    with pytest.raises(ValueError, match="non-deterministic"):
        set_column_default(spark, tbl, "score", "rand(42)")
    # CREATE with a bad DEFAULT is ATOMIC: no half-created table
    from value_at_risk_spark.sources.deltalog import delta_versions

    tblf = str(tmp_path / "defs_fail")
    with pytest.raises(ValueError, match="not a constant"):
        delta_sql(
            spark,
            f"CREATE TABLE delta.`{tblf}` ("
            "k BIGINT, s STRING DEFAULT upper(k))",
        )
    assert not delta_versions(tblf)
    with pytest.raises(ValueError, match="non-deterministic"):
        delta_sql(
            spark,
            f"CREATE TABLE delta.`{tblf}` (k BIGINT, u STRING "
            "DEFAULT uuid())",
        )
    assert not delta_versions(tblf)


def test_not_null_invariant_runtime_enforced(spark, tmp_path):
    """Delta's NOT NULL invariant: a statically-nullable frame may
    target a required column IF no actual null reaches it — proven at
    write time; a real null fails with the row; the DS writer (no
    session to run the check) refuses up front."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "nn")
    write_delta(spark, spark.range(0, 5).select("id"), tbl)  # id NOT NULL
    nullable = spark.createDataFrame([(5,), (6,)], "id long")  # nullable
    assert nullable.schema["id"].nullable
    write_delta(spark, nullable, tbl)  # no actual nulls: accepted
    assert read_delta(spark, tbl).count() == 7
    with pytest.raises(ValueError, match="NOT NULL"):
        write_delta(
            spark, spark.createDataFrame([(None,)], "id long"), tbl
        )
    with pytest.raises(Exception, match="NOT NULL"):
        nullable.write.format("deltalog").mode("append").save(tbl)


def test_datasource_row_group_split_and_sized_groups(spark, tmp_path):
    """Few big files must not starve the scan: the batch reader splits
    files into per-row-group input partitions (driver-side footer
    reads, only for small file counts), and the Arrow task writer
    buffers Spark's ~10k-row batches into ~1M-row row groups so the
    written footers stay scan-efficient."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "rg")
    spark.range(0, 2_000_000).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    ).coalesce(1).write.format("deltalog").mode("append").save(tbl)

    snap = snapshot(tbl)
    assert len(snap.files) == 1
    rel = next(iter(snap.files))
    ngr = pq.ParquetFile(
        os.path.join(tbl, unquote(rel))
    ).metadata.num_row_groups
    assert 2 <= ngr <= 4  # 1M-row flushes, not hundreds of 10k groups

    got = spark.read.format("deltalog").load(tbl)
    assert got.rdd.getNumPartitions() == ngr  # one task per row group
    assert got.count() == 2_000_000
    agg = got.agg(F.sum("id")).first()[0]
    assert agg == 1_999_999 * 2_000_000 // 2


def _make_mapped_table(tmp_path) -> str:
    """A FOREIGN column-mapped table (delta.columnMapping.mode=name):
    data files and partitionValues carry physical col-<n> names, the
    schemaString maps them to logical names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import _publish_commit

    tbl = str(tmp_path / "mapped")
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-aaa",
                    },
                },
                {
                    "name": "seg",
                    "type": "integer",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-bbb",
                    },
                },
                {
                    "name": "v",
                    "type": "double",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 3,
                        "delta.columnMapping.physicalName": "col-ccc",
                    },
                },
            ],
        }
    )
    adds = []
    for seg in (0, 1):
        d = os.path.join(tbl, f"col-bbb={seg}")
        os.makedirs(d)
        f = os.path.join(d, f"part-{seg}.parquet")
        pq.write_table(
            pa.table(
                {
                    "col-aaa": pa.array(
                        [seg * 10 + i for i in range(5)], pa.int64()
                    ),
                    "col-ccc": pa.array(
                        [float(seg * 10 + i) / 2 for i in range(5)]
                    ),
                }
            ),
            f,
        )
        adds.append(
            {
                "add": {
                    "path": f"col-bbb={seg}/part-{seg}.parquet",
                    "partitionValues": {"col-bbb": str(seg)},
                    "size": os.path.getsize(f),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    actions = [
        {"commitInfo": {"operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "m-1",
                "format": {"provider": "parquet"},
                "schemaString": schema_string,
                "partitionColumns": ["seg"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
        *adds,
    ]
    assert _publish_commit(tbl, 0, actions)
    return tbl


def test_column_mapping_name_mode_read_and_write_refusal(spark, tmp_path):
    """Foreign tables with delta.columnMapping.mode=name READ
    correctly (physical-name scan renamed to the logical schema,
    logical filters translated, DS reader + pushdown included);
    write_delta appends and DELETE/UPDATE/OPTIMIZE mutate through
    physical-name translation, while the staged DS writer still
    refuses — previously such a table slipped past the
    reader-version check and read silently wrong."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        optimize_delta,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = _make_mapped_table(tmp_path)

    got = read_delta(spark, tbl)
    assert [f.name for f in got.schema.fields] == ["id", "seg", "v"]
    rows = {r.id: (r.seg, r.v) for r in got.collect()}
    assert len(rows) == 10
    assert rows[13] == (1, 6.5) and rows[2] == (0, 1.0)
    # logical-name partition filter translated to the physical key
    only1 = read_delta(spark, tbl, partition_filters={"seg": ["1"]})
    assert {r.seg for r in only1.collect()} == {1}

    ds = spark.read.format("deltalog").load(tbl)
    assert sorted(tuple(r) for r in ds.collect()) == sorted(
        tuple(r) for r in got.collect()
    )
    pruned = ds.filter("seg = 0")
    assert {r.id for r in pruned.collect()} == {0, 1, 2, 3, 4}
    assert pruned.rdd.getNumPartitions() == 1  # pushdown pruned seg=1

    # write_delta now APPENDS through logical->physical translation;
    # the staged file must carry physical names and partition dirs
    frame = spark.createDataFrame(
        [(99, 0, 1.0)], "id long, seg int, v double"
    )
    write_delta(spark, frame, tbl)
    after = read_delta(spark, tbl)
    assert after.count() == 11
    assert {r.id for r in after.filter("seg = 0").collect()} == {
        0, 1, 2, 3, 4, 99,
    }
    # DML runs through the _mapping_planes logical->physical adapter
    # (r13): conditions/SETs bind logical names, restaged files carry
    # physical names, and the table stays mapped-readable throughout
    d = delete_from_delta(spark, tbl, "id = 1")
    assert d["rows_deleted"] == 1
    u = update_delta(spark, tbl, "id = 2", {"v": "v + 100.0"})
    assert u["rows_updated"] == 1
    optimize_delta(spark, tbl, target_files=1)
    after2 = read_delta(spark, tbl)
    assert after2.count() == 10
    assert after2.filter("id = 2").collect()[0].v == 101.0
    # the staged DS writer now stages PHYSICAL names (r13): an append
    # through spark.write lands readable by both readers
    frame2 = spark.createDataFrame(
        [(98, 0, 2.5)], "id long, seg int, v double"
    )
    frame2.write.format("deltalog").mode("append").save(tbl)
    after3 = read_delta(spark, tbl)
    assert after3.filter("id = 98").collect()[0].v == 2.5
    assert after3.count() == 11
    # readStream over a 'name'-mode table (r13): the stream reader
    # physicalizes like the batch DS reader — the initial snapshot
    # batch must equal the batch read, in LOGICAL names
    seen: list[tuple] = []

    def _sink(bdf, _bid):
        seen.extend(tuple(r) for r in bdf.collect())

    q = (
        spark.readStream.format("deltalog")
        .load(tbl)
        .writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation", str(tmp_path / "mapped_stream_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted(seen) == sorted(
        tuple(r) for r in read_delta(spark, tbl).collect()
    )
    # 'id' mode still refuses at reader construction (pyarrow resolves
    # by name; read_delta wires field-id resolution)
    from value_at_risk_spark.sources.delta_datasource import (
        _DeltaStreamReader,
    )
    # 'id' mode reads resolve by parquet FIELD ID (r12); a FRESH
    # foreign table whose files carry NO field ids must fail LOUD
    # (ignoreMissing=false), never silently match by name. (The first
    # table no longer qualifies: this engine's own appends/DML/
    # OPTIMIZE restaged its live files WITH field ids in both modes —
    # delta-spark's forward-interop stance — so an id-mode read of it
    # now legitimately succeeds.)
    import json as _json

    tbl2 = _make_mapped_table(tmp_path / "second")
    with open(os.path.join(tbl2, "_delta_log", f"{0:020d}.json")) as fh:
        acts = [_json.loads(x) for x in fh if x.strip()]
    for a in acts:
        if a.get("metaData"):
            a["metaData"]["configuration"][
                "delta.columnMapping.mode"
            ] = "id"
    with open(
        os.path.join(tbl2, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        for a in acts:
            fh.write(_json.dumps(a) + "\n")
    with pytest.raises(Exception):  # noqa: B017 — loudness is the contract
        read_delta(spark, tbl2).collect()
    # the pyarrow DataSource reader now resolves 'id' mode by parquet
    # field id (r13) — id-less files fail LOUD there too, never
    # name-matched
    with pytest.raises(Exception, match="field id"):
        spark.read.format("deltalog").load(tbl2).collect()
    # ...and on a table whose files DO carry field ids (this engine's
    # appends/DML/OPTIMIZE restaged tbl with ids in both modes), an
    # id-mode DS read succeeds and equals the native reader
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json")) as fh:
        acts0 = [_json.loads(x) for x in fh if x.strip()]
    for a in acts0:
        if a.get("metaData"):
            a["metaData"]["configuration"][
                "delta.columnMapping.mode"
            ] = "id"
    with open(
        os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        for a in acts0:
            fh.write(_json.dumps(a) + "\n")
    ds_id = spark.read.format("deltalog").load(tbl)
    assert sorted(tuple(r) for r in ds_id.collect()) == sorted(
        tuple(r) for r in read_delta(spark, tbl).collect()
    )
    # the stream reader constructs over 'id' mode now as well
    _DeltaStreamReader({"path": tbl}, None)


def test_checkpoint_preserves_table_configuration(spark, tmp_path):
    """The table configuration (CHECK constraints, column-mapping
    mode) must survive a checkpoint: after checkpoint + full log
    cleanup the snapshot bootstraps from the checkpoint ALONE, and a
    violating write must still be rejected — a checkpoint that drops
    configuration would silently un-constrain the table."""
    from value_at_risk_spark.sources.deltalog import (
        add_check_constraint,
        cleanup_delta_log,
        table_constraints,
    )

    tbl = str(tmp_path / "cpc")
    write_delta(
        spark,
        spark.createDataFrame([(1, 5.0)], "id long, v double"),
        tbl,
    )
    add_check_constraint(spark, tbl, "v_pos", "v > 0")
    checkpoint_delta(tbl)
    assert cleanup_delta_log(tbl) != []  # checkpoint is the only anchor

    snap = snapshot(tbl)
    assert table_constraints(snap) == {"v_pos": "v > 0"}
    assert int(snap.protocol["minWriterVersion"]) == 3
    with pytest.raises(ValueError, match="v_pos"):
        write_delta(
            spark,
            spark.createDataFrame([(2, -1.0)], "id long, v double"),
            tbl,
        )
    write_delta(
        spark, spark.createDataFrame([(2, 1.0)], "id long, v double"), tbl
    )
    assert read_delta(spark, tbl).count() == 2


def test_dml_refuses_foreign_high_writer_version(spark, tmp_path):
    """DML/OPTIMIZE must honor minWriterVersion just like append does:
    a foreign table demanding writer features above 3 is never
    mutated through any path."""
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        optimize_delta,
        update_delta,
    )

    tbl = str(tmp_path / "wv")
    write_delta(spark, spark.range(0, 5).select("id"), tbl)
    tip = snapshot(tbl).version
    with open(
        os.path.join(tbl, "_delta_log", f"{tip + 1:020d}.json"), "w"
    ) as fh:
        fh.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}
            )
            + "\n"
        )
    assert read_delta(spark, tbl).count() == 5  # reads stay fine
    for op in (
        lambda: delete_from_delta(spark, tbl, "id = 1"),
        lambda: update_delta(spark, tbl, "id = 1", {"id": "2"}),
        lambda: optimize_delta(spark, tbl),
    ):
        with pytest.raises(NotImplementedError, match="minWriterVersion"):
            op()


def test_registry_delta_dml_and_sql_surface(spark, tmp_path):
    """The table layer exposes the native-delta DML/SQL surface by
    NAME: Registry.delete/update/sql/add_constraint route to the
    deltalog implementations; non-delta tables are refused loudly."""
    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    reg.write(df, "t", fmt="deltalog")
    assert reg.delete(spark, "t", "id >= 15")["rows_deleted"] == 5
    assert reg.update(spark, "t", "id < 5", {"v": "v * 10"})[
        "rows_updated"
    ] == 5
    got = {r.id: r.v for r in reg.read(spark, "t").collect()}
    assert len(got) == 15 and got[2] == 20.0 and got[10] == 10.0
    n = reg.sql(
        spark, "t", "SELECT COUNT(*) AS n FROM delta.table"
    ).first().n
    assert n == 15
    reg.add_constraint(spark, "t", "v_ok", "v >= 0")
    with pytest.raises(ValueError, match="v_ok"):
        reg.write(
            spark.createDataFrame([(99, -1.0)], "id long, v double"),
            "t",
            mode="append",
            fmt="deltalog",
        )
    # non-delta tables are refused
    reg.write(df, "plain")
    with pytest.raises(ValueError, match="not a native delta"):
        reg.delete(spark, "plain", "id = 1")


def test_generated_columns_computed_validated_and_enforced(spark, tmp_path):
    """Generated columns (protocol writer feature 4): declared at
    creation (expression in schema metadata, minWriterVersion 4),
    COMPUTED when a later write omits them, VALIDATED when provided
    (null-safe equality, violating row in the error), re-validated on
    UPDATE, and refused by the staging writers that cannot evaluate
    SQL."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        table_generated_columns,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "gen")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, v double"
    )
    write_delta(
        spark, base, tbl, generated_columns={"v2": "v * 2"}
    )
    snap = snapshot(tbl)
    assert table_generated_columns(snap) == {"v2": "v * 2"}
    assert int(snap.protocol["minWriterVersion"]) == 4
    got = {r.id: r.v2 for r in read_delta(spark, tbl).collect()}
    assert got == {1: 20.0, 2: 40.0}

    # append WITHOUT the generated column: computed
    write_delta(
        spark, spark.createDataFrame([(3, 30.0)], "id long, v double"), tbl
    )
    assert {
        r.id: r.v2 for r in read_delta(spark, tbl).collect()
    }[3] == 60.0
    # append WITH correct values: validated, accepted
    write_delta(
        spark,
        spark.createDataFrame(
            [(4, 5.0, 10.0)], "id long, v double, v2 double"
        ),
        tbl,
    )
    # append with WRONG values: rejected with the row
    with pytest.raises(ValueError, match="generated column v2"):
        write_delta(
            spark,
            spark.createDataFrame(
                [(5, 5.0, 99.0)], "id long, v double, v2 double"
            ),
            tbl,
        )
    # UPDATE keeping the invariant passes; breaking it fails
    update_delta(
        spark, tbl, "id = 1", {"v": "7.0", "v2": "14.0"}
    )
    assert {
        r.id: (r.v, r.v2) for r in read_delta(spark, tbl).collect()
    }[1] == (7.0, 14.0)
    with pytest.raises(ValueError, match="generated column v2"):
        update_delta(spark, tbl, "id = 2", {"v": "9.0"})  # v2 now stale
    # staging writers refuse (cannot evaluate the expression)
    with pytest.raises(Exception, match="invariants"):
        spark.createDataFrame(
            [(9, 1.0, 2.0)], "id long, v double, v2 double"
        ).write.format("deltalog").mode("append").save(tbl)
    # generated_columns after creation is a loud error
    with pytest.raises(ValueError, match="table-creation"):
        write_delta(
            spark, base, tbl, generated_columns={"v3": "v * 3"}
        )


def test_datasource_bin_packs_many_small_files(spark, tmp_path):
    """>256 small files bin-pack into ~128MB input partitions using
    the add.size the log already carries (maxPartitionBytes
    semantics) — per-task Python overhead stops scaling with file
    count, and no row is lost or duplicated."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "many")
    spark.range(0, 3000).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")
    ).repartition(300).write.format("deltalog").mode("append").save(tbl)
    assert len(snapshot(tbl).files) == 300

    got = spark.read.format("deltalog").load(tbl)
    assert got.rdd.getNumPartitions() < 32  # 300 tiny files pack tight
    assert got.count() == 3000
    assert got.agg(F.sum("id")).first()[0] == 2999 * 3000 // 2


def test_cdf_dml_records_exact_changes(spark, tmp_path):
    """Change Data Feed (writer feature 4): DML on a CDF-enabled table
    commits cdc actions under _change_data/ holding the exact row
    changes — delete rows, update_preimage/update_postimage pairs —
    and table_changes prefers them over add/remove derivation (the
    rewritten survivors in the same commit must NOT surface)."""
    from value_at_risk_spark.sources.deltalog import (
        cdf_enabled,
        delete_from_delta,
        table_changes,
        update_delta,
    )

    tbl = str(tmp_path / "cdf")
    df = spark.range(8).select(
        "id",
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(
        spark,
        df,
        tbl,
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    snap = snapshot(tbl)
    assert cdf_enabled(snap)
    assert snap.protocol["minWriterVersion"] == 4
    delete_from_delta(spark, tbl, "id >= 6")
    update_delta(spark, tbl, "id < 2", {"v": "v + 100"})

    ch = table_changes(spark, tbl, 1, 2)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in ch.collect()
    )
    assert got == [
        (1, "delete", 6, 6.0),
        (1, "delete", 7, 7.0),
        (2, "update_postimage", 0, 100.0),
        (2, "update_postimage", 1, 101.0),
        (2, "update_preimage", 0, 0.0),
        (2, "update_preimage", 1, 1.0),
    ]
    # the cdc files live under _change_data and are cited by action
    with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json")) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    cdcs = [a["cdc"] for a in acts if "cdc" in a]
    assert cdcs and all(c["path"].startswith("_change_data/") for c in cdcs)
    assert all(c["dataChange"] is False for c in cdcs)
    # version 0 (the creating append) derives inserts from its adds
    ins = table_changes(spark, tbl, 0, 0)
    assert sorted(r["id"] for r in ins.collect()) == list(range(8))
    assert {r["_change_type"] for r in ins.collect()} == {"insert"}


def test_cdf_enablement_derivation_and_refusals(spark, tmp_path):
    """CDF enabled mid-life via set_table_properties: versions before
    enablement raise through table_changes, later appends derive
    inserts, an overwrite derives delete+insert, OPTIMIZE stays
    invisible, and a range crossing the pre-CDF version fails loudly."""
    from value_at_risk_spark.sources.deltalog import (
        optimize_delta,
        set_table_properties,
        table_changes,
    )

    tbl = str(tmp_path / "mid")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        "id", (F.col("id") * 2.0).alias("v")
    )
    write_delta(spark, mk(0, 4), tbl)  # v0: pre-CDF
    v = set_table_properties(
        tbl, {"delta.enableChangeDataFeed": "true"}
    )  # v1
    assert v == 1
    assert snapshot(tbl).protocol["minWriterVersion"] == 4
    write_delta(spark, mk(4, 6), tbl)  # v2: derived inserts
    optimize_delta(spark, tbl)  # v3: dataChange false, invisible
    write_delta(spark, mk(0, 3), tbl, mode="overwrite")  # v4

    ch = table_changes(spark, tbl, 2, 3)
    assert sorted((r["_change_type"], r["id"]) for r in ch.collect()) == [
        ("insert", 4),
        ("insert", 5),
    ]
    ov = table_changes(spark, tbl, 4, 4)
    by_type = {
        t: sorted(r["id"] for r in rows)
        for t, rows in __import__("itertools").groupby(
            sorted(ov.collect(), key=lambda r: (r["_change_type"], r["id"])),
            key=lambda r: r["_change_type"],
        )
    }
    assert by_type == {
        "delete": [0, 1, 2, 3, 4, 5],
        "insert": [0, 1, 2],
    }
    with pytest.raises(ValueError, match="not recorded"):
        table_changes(spark, tbl, 0, 2)


def test_cdf_merge_reports_merge_not_overwrite(spark, tmp_path):
    """MERGE into a CDF table commits cdc actions carrying MERGE
    semantics — matched keys as pre/post pairs, new keys as inserts,
    untouched rows ABSENT — even though the underlying commit is a
    whole-set overwrite whose derivation would report everything."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import table_changes

    tbl = str(tmp_path / "mrg")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
    )
    write_delta(
        spark, base, tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    upd = spark.createDataFrame([(2, "B"), (9, "z")], "k long, s string")
    v = merge_into_delta_native(spark, tbl, upd, ["k"])
    ch = table_changes(spark, tbl, v, v)
    got = sorted((r["_change_type"], r["k"], r["s"]) for r in ch.collect())
    assert got == [
        ("insert", 9, "z"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]
    # rows 1/3 pass through the overwrite untouched and unreported
    assert {r["k"] for r in ch.collect()} == {2, 9}


def test_cdf_vacuum_retention_and_log_cleanup(spark, tmp_path):
    """Vacuum must never collect a cdc file whose commit JSON is still
    in the log (even past the mtime window); after checkpoint + log
    cleanup the commit is gone, table_changes over it raises, and the
    orphaned cdc file becomes collectable."""
    from value_at_risk_spark.sources.deltalog import (
        cleanup_delta_log,
        delete_from_delta,
        table_changes,
        vacuum_delta,
    )

    tbl = str(tmp_path / "vac")
    write_delta(
        spark,
        spark.range(6).select("id", (F.col("id") * 1.0).alias("v")),
        tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    dv = delete_from_delta(spark, tbl, "id >= 4")["version"]
    deleted = vacuum_delta(tbl, keep_versions=1, retention_seconds=0)
    assert not [d for d in deleted if d.startswith("_change_data")]
    assert table_changes(spark, tbl, dv, dv).count() == 2

    checkpoint_delta(tbl)
    cleaned = cleanup_delta_log(tbl)
    assert dv in cleaned
    with pytest.raises(ValueError, match="cleaned"):
        table_changes(spark, tbl, dv, dv)
    deleted2 = vacuum_delta(tbl, keep_versions=1, retention_seconds=0)
    assert [d for d in deleted2 if d.startswith("_change_data")]


def test_timestamp_as_of_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: the newest version committed at or before the
    timestamp (commitInfo.timestamp), ISO/epoch/datetime accepted,
    pre-creation timestamps raise, version+timestamp is refused."""
    from value_at_risk_spark.sources.deltalog import (
        delta_history,
        version_at_timestamp,
    )

    tbl = str(tmp_path / "ts")
    for lo, hi in [(0, 3), (3, 5), (5, 9)]:
        write_delta(
            spark, spark.range(lo, hi).select("id"), tbl
        )
    hist = {h["version"]: h["timestamp"] for h in delta_history(tbl)}
    t1 = hist[1] / 1000.0
    assert version_at_timestamp(tbl, t1) == 1
    # epsilon before v1's commit resolves to v0
    assert version_at_timestamp(tbl, t1 - 0.001) == 0
    assert read_delta(spark, tbl, timestamp=t1).count() == 5
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(hist[2] / 1000.0, tz=timezone.utc)
    assert version_at_timestamp(tbl, dt) == 2
    assert version_at_timestamp(tbl, dt.isoformat()) == 2
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(tbl, hist[0] / 1000.0 - 10)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_delta(spark, tbl, version=1, timestamp=t1)


def test_delta_sql_cdf_timestamp_and_tblproperties(spark, tmp_path):
    """The SQL text surface covers the round-11 additions: SET
    TBLPROPERTIES enables CDF, TABLE_CHANGES(...) reads it, and
    TIMESTAMP AS OF time-travels a SELECT."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import delta_history

    tbl = str(tmp_path / "sqlcdf")
    write_delta(
        spark,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"),
        tbl,
    )
    delta_sql(
        spark,
        f"ALTER TABLE delta.`{tbl}` SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed'='true')",
    )
    assert snapshot(tbl).protocol["minWriterVersion"] == 4
    delta_sql(spark, f"DELETE FROM delta.`{tbl}` WHERE k = 2")
    rows = delta_sql(
        spark,
        f"SELECT _change_type, k FROM TABLE_CHANGES(delta.`{tbl}`, 2, 2)",
    ).collect()
    assert [(r["_change_type"], r["k"]) for r in rows] == [("delete", 2)]
    # timestamp bounds are ASYMMETRIC (Delta's CDF rule): the START
    # resolves to the first commit at-or-AFTER it, the END to the
    # last commit at-or-before — a start strictly between v1 and v2
    # must yield ONLY v2's changes (the at-or-before rule would
    # silently include v1's)
    hist = delta_history(tbl)
    ts1, ts2 = hist[1]["timestamp"], hist[2]["timestamp"]
    assert ts2 > ts1  # commits are ms-separated (the write is slow)
    mid = (ts1 + ts2) / 2 / 1000.0
    rows_ts = delta_sql(
        spark,
        f"SELECT _change_type, k FROM TABLE_CHANGES(delta.`{tbl}`, "
        f"{mid}, 4102444800.0)",
    ).collect()
    assert [(r["_change_type"], r["k"]) for r in rows_ts] == [
        ("delete", 2)
    ]
    # a start after the LAST commit raises (no changes to read)
    with pytest.raises(ValueError, match="after the table's last"):
        delta_sql(
            spark,
            f"SELECT * FROM TABLE_CHANGES(delta.`{tbl}`, 4102444800.0)",
        )
    ts = delta_history(tbl)[0]["timestamp"] / 1000.0  # v0 commit time
    # ascending history: [0] is v0 (the pre-DML snapshot)
    n = delta_sql(
        spark,
        f"SELECT COUNT(*) AS n FROM delta.`{tbl}` TIMESTAMP AS OF {ts}",
    ).collect()[0]["n"]
    assert n == 2


def test_staged_writes_allowed_on_cdf_only_v4_table(spark, tmp_path):
    """A table that is minWriterVersion 4 ONLY because of CDF accepts
    staged (Data Source) appends — changes derive from the adds — while
    generated-column tables keep refusing blind staged writes."""
    from value_at_risk_spark.sources.deltalog import (
        commit_staged_adds,
        _stage,
        table_changes,
    )

    tbl = str(tmp_path / "dsw")
    write_delta(
        spark,
        spark.range(3).select("id"),
        tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    df = spark.range(3, 5).select("id")
    adds = _stage(df, tbl, [], data_change=True)
    v = commit_staged_adds(tbl, adds, df.schema)
    assert sorted(
        r["id"] for r in table_changes(spark, tbl, v, v).collect()
    ) == [3, 4]


def test_append_only_tables_refuse_data_removal(spark, tmp_path):
    """delta.appendOnly (THE minWriterVersion-2 feature, previously
    declared but unenforced): overwrite, DELETE, UPDATE, MERGE, and
    RESTORE are refused; appends and dataChange:false OPTIMIZE still
    commit."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        optimize_delta,
        restore_delta,
        update_delta,
    )

    tbl = str(tmp_path / "ao")
    write_delta(
        spark,
        spark.range(4).select("id"),
        tbl,
        configuration={"delta.appendOnly": "true"},
    )
    write_delta(spark, spark.range(4, 6).select("id"), tbl)  # append ok
    optimize_delta(spark, tbl)  # dataChange:false ok
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta(spark, spark.range(2).select("id"), tbl,
                    mode="overwrite")
    with pytest.raises(ValueError, match="appendOnly"):
        delete_from_delta(spark, tbl, "id = 0")
    with pytest.raises(ValueError, match="appendOnly"):
        update_delta(spark, tbl, "id = 0", {"id": "id + 100"})
    with pytest.raises(ValueError, match="appendOnly"):
        merge_into_delta_native(
            spark, tbl, spark.range(1).select("id"), ["id"]
        )
    with pytest.raises(ValueError, match="appendOnly"):
        restore_delta(spark, tbl, 0)
    assert read_delta(spark, tbl).count() == 6


def test_datasource_cdf_batch_and_stream(spark, tmp_path):
    """readChangeFeed on the deltalog Data Source: the batch read
    (inclusive startingVersion/endingVersion) equals table_changes
    row for row; the stream emits each commit's changes as
    micro-batches (AFTER-n offsets) and DML commits no longer
    raise."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        table_changes,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "dscdf")
    df = spark.range(8).select(
        "id",
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(
        spark, df, tbl, partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    delete_from_delta(spark, tbl, "id >= 6")
    update_delta(spark, tbl, "id < 2", {"v": "v + 100"})

    cdf = (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
    )
    key = lambda frame: sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in frame.collect()
    )
    assert key(cdf) == key(table_changes(spark, tbl, 0))
    # endingVersion bounds the range inclusively
    only_del = (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("endingVersion", "1")
        .load(tbl)
    )
    assert {r["_change_type"] for r in only_del.collect()} == {"delete"}

    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
        .writeStream.format("memory")
        .queryName("dscdf_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in spark.sql("select * from dscdf_stream").collect()
    )
    # AFTER-0: versions 1 and 2 only
    assert got == [
        (1, "delete", 6),
        (1, "delete", 7),
        (2, "update_postimage", 0),
        (2, "update_postimage", 1),
        (2, "update_preimage", 0),
        (2, "update_preimage", 1),
    ]
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            spark.read.format("deltalog")
            .option("readChangeFeed", "true")
            .option("versionAsOf", "1")
            .option("startingVersion", "0")
            .load(tbl)
            .collect()
        )


def test_cdf_incremental_aggregate_maintenance(spark, tmp_path):
    """operators/cdf.maintain_sum_count: a (sum, count) state advanced
    by CDF rows equals the full recompute — updates land as (-pre,
    +post) pairs, emptied groups disappear, new groups appear."""
    from value_at_risk_spark.operators.cdf import maintain_sum_count
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        snapshot,
        table_changes,
        update_delta,
    )

    tbl = str(tmp_path / "inc")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 5.0)],
        "id long, g string, v double",
    )
    write_delta(
        spark, df, tbl,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    base = spark.createDataFrame(
        [("a", 30.0, 2), ("b", 30.0, 1), ("c", 5.0, 1)],
        "g string, total double, n long",
    )
    delete_from_delta(spark, tbl, "g = 'c'")  # group disappears
    update_delta(spark, tbl, "id = 1", {"g": "'d'", "v": "100.0"})  # moves
    write_delta(
        spark,
        spark.createDataFrame([(9, "b", 1.0)], "id long, g string, v double"),
        tbl,
    )
    ch = table_changes(spark, tbl, 1, snapshot(tbl).version)
    got = sorted(
        tuple(r)
        for r in maintain_sum_count(base, ch, ["g"], "v").collect()
    )
    # recompute from the final table state
    from value_at_risk_spark.sources.deltalog import read_delta

    want = sorted(
        tuple(r)
        for r in read_delta(spark, tbl)
        .groupBy("g")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want
    assert not any(r[0] == "c" for r in got)  # emptied group gone
    assert any(r[0] == "d" for r in got)  # new group present


def test_table_features_protocol_v3_v7(spark, tmp_path):
    """Table features (protocol reader v3 / writer v7): a foreign
    table whose listed features are all implemented reads and writes;
    unsupported features refuse loudly; protocol upgrades (ADD
    CONSTRAINT, CDF enablement) extend writerFeatures instead of
    clobbering the lists; checkpoints round-trip the lists."""
    from value_at_risk_spark.sources.deltalog import (
        _publish_commit,
        add_check_constraint,
        cleanup_delta_log,
        delete_from_delta,
        set_table_properties,
        table_constraints,
    )

    tbl = str(tmp_path / "feat")
    write_delta(spark, spark.range(4).select("id"), tbl)
    _publish_commit(
        tbl,
        1,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": [
                        "appendOnly",
                        "invariants",
                        "timestampNtz",
                    ],
                }
            },
        ],
    )
    # supported features: read and append both work
    assert read_delta(spark, tbl).count() == 4
    write_delta(spark, spark.range(4, 6).select("id"), tbl)
    # constraint upgrade extends the feature list, preserving others
    add_check_constraint(spark, tbl, "nonneg", "id >= 0")
    snap = snapshot(tbl)
    feats = set(snap.protocol["writerFeatures"])
    assert {"appendOnly", "invariants", "checkConstraints"} <= feats
    assert snap.protocol["minWriterVersion"] == 7
    # CDF enablement adds its feature the same way
    set_table_properties(tbl, {"delta.enableChangeDataFeed": "true"})
    assert "changeDataFeed" in set(
        snapshot(tbl).protocol["writerFeatures"]
    )
    # appendOnly is enforced when its PROPERTY is set
    set_table_properties(tbl, {"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        delete_from_delta(spark, tbl, "id = 0")
    # checkpoint + full cleanup must not lose the feature lists
    checkpoint_delta(tbl)
    cleanup_delta_log(tbl)
    snap2 = snapshot(tbl)
    assert snap2.protocol["minReaderVersion"] == 3
    assert "checkConstraints" in set(snap2.protocol["writerFeatures"])
    assert table_constraints(snap2) == {"nonneg": "id >= 0"}

    # unsupported WRITER feature: mutations refuse, reads still fine
    # (identityColumns joined the SUPPORTED set in round 11 and
    # rowTracking in round 12 — icebergCompatV2 stands in as a
    # feature this writer does not have)
    v = snap2.version
    _publish_commit(
        tbl,
        v + 1,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["timestampNtz"],
                    "writerFeatures": ["icebergCompatV2"],
                }
            },
        ],
    )
    assert read_delta(spark, tbl).count() == 6
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        write_delta(spark, spark.range(1).select("id"), tbl)

    # unsupported READER feature: even the snapshot refuses
    # (deletionVectors, v2Checkpoint and typeWidening all moved to
    # the SUPPORTED list in round 11 — variantType stands in as a
    # reader feature this engine does not have)
    tbl2 = str(tmp_path / "vt")
    write_delta(spark, spark.range(2).select("id"), tbl2)
    _publish_commit(
        tbl2,
        1,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["variantType"],
                    "writerFeatures": ["variantType"],
                }
            },
        ],
    )
    with pytest.raises(NotImplementedError, match="variantType"):
        read_delta(spark, tbl2).count()


def test_vacuum_protocol_check_feature(spark, tmp_path):
    """vacuumProtocolCheck: tables declaring it stay fully writable
    (modern delta-spark sets it on new tables), vacuum still runs —
    and on a table requiring an UNKNOWN writer feature, vacuum refuses
    BEFORE deleting anything (the obligation the feature encodes: an
    unimplemented feature may reference auxiliary files the orphan
    walk would misjudge)."""
    from value_at_risk_spark.sources.deltalog import (
        _publish_commit,
        read_delta,
        snapshot,
        vacuum_delta,
        write_delta,
    )

    tbl = str(tmp_path / "vpc")
    write_delta(spark, spark.range(4).select("id"), tbl)
    v = snapshot(tbl).version
    _publish_commit(
        tbl,
        v + 1,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["vacuumProtocolCheck"],
                    "writerFeatures": ["vacuumProtocolCheck"],
                }
            },
        ],
    )
    # declared feature is in the SUPPORTED set: writes and vacuum work
    write_delta(spark, spark.range(4, 6).select("id"), tbl)
    write_delta(spark, spark.range(10).select("id"), tbl, mode="overwrite")
    assert read_delta(spark, tbl).count() == 10
    # DRY RUN lists the candidates and deletes NOTHING
    listed = vacuum_delta(tbl, retention_seconds=0.0, dry_run=True)
    assert listed
    assert all(os.path.exists(os.path.join(tbl, p)) for p in listed)
    from value_at_risk_spark.sources.delta_sql import delta_sql as _dsql

    sql_listed = _dsql(
        spark, f"VACUUM delta.`{tbl}` RETAIN 0 HOURS DRY RUN"
    )
    assert sorted(r.path for r in sql_listed.collect()) == sorted(listed)
    deleted = vacuum_delta(tbl, retention_seconds=0.0)
    assert sorted(deleted) == sorted(listed)
    assert read_delta(spark, tbl).count() == 10
    # unknown writer feature: vacuum refuses, files stay on disk
    tbl2 = str(tmp_path / "vpc2")
    write_delta(spark, spark.range(3).select("id"), tbl2)
    write_delta(spark, spark.range(3).select("id"), tbl2, mode="overwrite")
    _publish_commit(
        tbl2,
        2,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["icebergCompatV2"],
                }
            },
        ],
    )
    n_before = sum(len(fs) for _, _, fs in os.walk(tbl2))
    with pytest.raises(NotImplementedError, match="icebergCompatV2"):
        vacuum_delta(tbl2, retention_seconds=0.0)
    assert (
        sum(len(fs) for _, _, fs in os.walk(tbl2)) == n_before
    )  # refused BEFORE deleting


def test_checkpoint_interval_auto_checkpoints(spark, tmp_path):
    """delta.checkpointInterval: every Nth commit writes a checkpoint
    automatically (post-commit hook), so log replay stays O(interval)
    without manual checkpoint_delta calls."""
    from value_at_risk_spark.sources.deltalog import (
        _checkpoint_versions,
    )

    tbl = str(tmp_path / "ivl")
    write_delta(
        spark,
        spark.range(2).select("id"),
        tbl,
        configuration={"delta.checkpointInterval": "3"},
    )
    for lo in range(2, 16, 2):
        write_delta(
            spark, spark.range(lo, lo + 2).select("id"), tbl
        )
    # versions 0..7 committed; checkpoints at 3 and 6
    assert _checkpoint_versions(tbl) == [3, 6]
    assert read_delta(spark, tbl).count() == 16
    # and a table WITHOUT the property gets none
    tbl2 = str(tmp_path / "noivl")
    for lo in range(0, 8, 2):
        write_delta(spark, spark.range(lo, lo + 2).select("id"), tbl2)
    assert _checkpoint_versions(tbl2) == []


def test_identity_columns_lifecycle(spark, tmp_path):
    """Identity columns (protocol writer feature 6): distributed
    generation on the (start + k*step) grid, uniqueness across
    appends via the high-water mark advancing IN the add commit,
    GENERATED ALWAYS refusal of explicit appends, allowExplicitInsert
    + SYNC IDENTITY, UPDATE SET refusal, staged-write refusal, and
    wv6 protocol shape."""
    from value_at_risk_spark.sources.deltalog import (
        commit_staged_adds,
        sync_identity,
        table_identity_columns,
        update_delta,
    )

    tbl = str(tmp_path / "idt")
    df = spark.range(0, 500).select(
        (F.col("id") % 5).alias("g"), (F.col("id") * 2).alias("v")
    )
    write_delta(
        spark, df, tbl,
        identity_columns={"rid": {"start": 100, "step": 3}},
    )
    snap = snapshot(tbl)
    assert snap.protocol["minWriterVersion"] == 6
    spec = table_identity_columns(snap)["rid"]
    assert spec["start"] == 100 and spec["step"] == 3
    hwm1 = spec["high_water_mark"]
    assert hwm1 is not None
    out = read_delta(spark, tbl)
    rids = [r.rid for r in out.select("rid").collect()]
    assert len(set(rids)) == 500  # unique
    assert all(r >= 100 and (r - 100) % 3 == 0 for r in rids)  # on grid
    assert max(rids) == hwm1  # the mark is the actual extreme

    # second append starts beyond the mark — no overlap, mark advances
    write_delta(spark, df, tbl)
    out2 = read_delta(spark, tbl)
    rids2 = [r.rid for r in out2.select("rid").collect()]
    assert len(set(rids2)) == 1000
    spec2 = table_identity_columns(snapshot(tbl))["rid"]
    assert spec2["high_water_mark"] > hwm1

    # GENERATED ALWAYS: explicit append refused; staged writes refused
    with pytest.raises(ValueError, match="GENERATED"):
        write_delta(
            spark,
            spark.createDataFrame([(0, 0, 1)], "g long, v long, rid long"),
            tbl,
        )
    with pytest.raises(ValueError, match="identity"):
        commit_staged_adds(tbl, [], out2.schema)
    # UPDATE must not touch the identity column (either DML mode)
    with pytest.raises(ValueError, match="identity"):
        update_delta(spark, tbl, "g = 0", {"rid": "0"})
    # but other columns update fine, values survive the rewrite
    update_delta(spark, tbl, "g = 0", {"v": "v + 1"})
    assert read_delta(spark, tbl).select("rid").distinct().count() == 1000

    # allowExplicitInsert table: explicit values land, mark unmoved
    # until SYNC IDENTITY recomputes it
    tbl2 = str(tmp_path / "idt2")
    write_delta(
        spark,
        spark.range(3).select(F.col("id").alias("g")),
        tbl2,
        identity_columns={
            "rid": {"start": 1, "step": 1, "allow_explicit": True}
        },
    )
    before = table_identity_columns(snapshot(tbl2))["rid"][
        "high_water_mark"
    ]
    explicit = before + 500000  # beyond anything generated so far
    write_delta(
        spark,
        spark.createDataFrame(
            [(99, explicit)], "g long, rid long"
        ),
        tbl2,
    )
    assert (
        table_identity_columns(snapshot(tbl2))["rid"]["high_water_mark"]
        == before
    )
    got = sync_identity(spark, tbl2)
    assert got == {"rid": explicit}
    # generation resumes beyond the synced mark
    write_delta(spark, spark.range(2).select(F.col("id").alias("g")), tbl2)
    rids3 = [
        r.rid for r in read_delta(spark, tbl2).select("rid").collect()
    ]
    assert len(set(rids3)) == 6 and max(rids3) > explicit


def test_identity_sync_sql_and_checkpoint_durability(spark, tmp_path):
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        checkpoint_delta,
        cleanup_delta_log,
        table_identity_columns,
    )

    tbl = str(tmp_path / "ids")
    write_delta(
        spark,
        spark.range(10).select(F.col("id").alias("g")),
        tbl,
        identity_columns={
            "rid": {"start": 1, "step": 2, "allow_explicit": True}
        },
    )
    r = delta_sql(spark, f"ALTER TABLE delta.`{tbl}` SYNC IDENTITY")
    assert r["rid"] >= 1
    checkpoint_delta(tbl)
    cleanup_delta_log(tbl)
    spec = table_identity_columns(snapshot(tbl))["rid"]
    assert spec["step"] == 2 and spec["high_water_mark"] == r["rid"]
    write_delta(spark, spark.range(5).select(F.col("id").alias("g")), tbl)
    rids = [r2.rid for r2 in read_delta(spark, tbl).select("rid").collect()]
    assert len(set(rids)) == 15
    assert all((x - 1) % 2 == 0 for x in rids)


def test_in_commit_timestamps(spark, tmp_path):
    """inCommitTimestamp (writer feature, no legacy version): stamped
    monotonically in every commit of an enabled table by the
    _publish_commit choke point, authoritative for TIMESTAMP AS OF
    (file mtimes deliberately falsified), mid-life enablement records
    provenance + upgrades to a writer-v7 feature table WITHOUT
    raising the reader version, and stamping survives a
    checkpoint-cleaned predecessor."""
    import json as _json

    from value_at_risk_spark.sources.deltalog import (
        _commit_path,
        _json_versions,
        checkpoint_delta,
        cleanup_delta_log,
        delete_from_delta,
        delta_history,
        set_table_properties,
        version_at_timestamp,
    )

    def _ict(tbl, v):
        with open(_commit_path(tbl, v)) as fh:
            for line in fh:
                ci = _json.loads(line).get("commitInfo")
                if ci is not None:
                    return ci.get("inCommitTimestamp")

    t = str(tmp_path / "ict")
    write_delta(
        spark,
        spark.range(5).select("id"),
        t,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    p = snapshot(t).protocol
    assert p["minWriterVersion"] == 7
    assert "inCommitTimestamp" in p["writerFeatures"]
    # a writer-only feature must not raise the reader bar
    assert p["minReaderVersion"] == 1 and "readerFeatures" not in p
    for _ in range(4):
        write_delta(spark, spark.range(5).select("id"), t)
    icts = [_ict(t, v) for v in _json_versions(t)]
    assert all(x is not None for x in icts)
    assert all(b > a for a, b in zip(icts, icts[1:]))
    # the ICT is the clock: falsify every commit file's mtime
    for v in _json_versions(t):
        os.utime(_commit_path(t, v), (0, 0))
    # target HALF A MILLISECOND past the commit: ict/1000.0 alone can
    # round below the true millisecond in float64 and resolve one
    # version early; +0.5 ms stays strictly before the next commit
    # (monotonicity guarantees >= +1 ms spacing)
    assert version_at_timestamp(t, (icts[3] + 0.5) / 1000.0) == 3
    assert read_delta(
        spark, t, timestamp=(icts[2] + 0.5) / 1000.0
    ).count() == 15

    # mid-life enablement: provenance + protocol, then stamping holds
    # across DML and a checkpoint-cleaned predecessor
    t2 = str(tmp_path / "ict2")
    write_delta(spark, spark.range(3).select("id"), t2)
    write_delta(spark, spark.range(3).select("id"), t2)
    set_table_properties(t2, {"delta.enableInCommitTimestamps": "true"})
    cfg = snapshot(t2).metadata["configuration"]
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "2"
    ev = int(cfg["delta.inCommitTimestampEnablementTimestamp"])
    assert _ict(t2, 2) == ev
    p2 = snapshot(t2).protocol
    assert "inCommitTimestamp" in p2["writerFeatures"]
    assert "appendOnly" in p2["writerFeatures"]  # legacy implied kept
    delete_from_delta(spark, t2, "id = 0")
    checkpoint_delta(t2)
    cleanup_delta_log(t2)
    write_delta(spark, spark.range(2).select("id"), t2)
    tip = _json_versions(t2)[-1]
    assert _ict(t2, tip) > ev
    assert any("inCommitTimestamp" in h for h in delta_history(t2))


def test_multipart_checkpoint(spark, tmp_path):
    """Multi-part classic checkpoints: past max_rows_per_part the
    checkpoint splits into <v>.checkpoint.<part>.<numParts>.parquet;
    only a COMPLETE set anchors a version (a torn writer's partial
    set is invisible), and replay from a multipart anchor after full
    log cleanup reconstructs the table."""
    import glob as _glob

    from value_at_risk_spark.sources.deltalog import (
        _checkpoint_versions,
        checkpoint_delta,
        cleanup_delta_log,
    )

    t = str(tmp_path / "mp")
    for i in range(3):
        write_delta(
            spark,
            spark.range(i * 100, (i + 1) * 100).repartition(8).select("id"),
            t,
        )
    n_files = len(snapshot(t).files)
    checkpoint_delta(t, max_rows_per_part=5)
    parts = _glob.glob(
        os.path.join(t, "_delta_log", "*.checkpoint.*.parquet")
    )
    assert len(parts) > 1
    last = json.load(
        open(os.path.join(t, "_delta_log", "_last_checkpoint"))
    )
    assert last["parts"] == len(parts)
    cleanup_delta_log(t)
    assert read_delta(spark, t).count() == 300
    assert len(snapshot(t).files) == n_files
    # torn multipart set at v3: not an anchor, replay unharmed
    write_delta(spark, spark.range(300, 400).select("id"), t)
    checkpoint_delta(t, max_rows_per_part=5)
    v3parts = sorted(
        _glob.glob(
            os.path.join(
                t, "_delta_log",
                "00000000000000000003.checkpoint.*.parquet",
            )
        )
    )
    os.unlink(v3parts[1])
    assert _checkpoint_versions(t) == [2]
    assert read_delta(spark, t).count() == 400


def test_describe_detail(spark, tmp_path):
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import describe_detail

    t = str(tmp_path / "dd")
    write_delta(
        spark,
        spark.range(100).select("id", (F.col("id") % 2).alias("p")),
        t,
        partition_by=["p"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    d = describe_detail(t)
    assert d["numFiles"] == len(snapshot(t).files) and d["numFiles"] > 0
    assert d["sizeInBytes"] > 0
    assert d["partitionColumns"] == ["p"]
    assert d["properties"]["delta.enableDeletionVectors"] == "true"
    assert "deletionVectors" in d["tableFeatures"]
    assert d["format"] == "parquet" and d["lastModified"] is not None
    d2 = delta_sql(spark, f"DESCRIBE DETAIL delta.`{t}`")
    assert d2 == describe_detail(t)


def test_domain_metadata_and_clustering(spark, tmp_path):
    """domainMetadata actions (writer feature): transactional named
    domains with checkpoint durability and tombstone removal; CLUSTER
    BY stores the delta.clustering domain at creation and OPTIMIZE
    re-clusters on it without being told."""
    from value_at_risk_spark.sources.deltalog import (
        checkpoint_delta,
        cleanup_delta_log,
        optimize_delta,
        set_domain_metadata,
        table_clustering_columns,
    )

    t = str(tmp_path / "dm")
    write_delta(spark, spark.range(10).select("id"), t)
    set_domain_metadata(t, "app.owner", '{"team":"risk"}')
    snap = snapshot(t)
    assert snap.domains["app.owner"] == '{"team":"risk"}'
    assert "domainMetadata" in snap.protocol["writerFeatures"]
    # durable through checkpoint + full log cleanup
    checkpoint_delta(t)
    cleanup_delta_log(t)
    assert snapshot(t).domains["app.owner"] == '{"team":"risk"}'
    # tombstone removes
    set_domain_metadata(t, "app.owner", removed=True)
    assert "app.owner" not in snapshot(t).domains

    # CLUSTER BY at creation -> OPTIMIZE clusters on it
    t2 = str(tmp_path / "cl")
    df = spark.range(0, 4000).select(
        "id",
        (F.col("id") * 37 % 1000).alias("x"),
        (F.col("id") * 11 % 1000).alias("y"),
    )
    write_delta(spark, df.repartition(8), t2, cluster_by=["x", "y"])
    snap2 = snapshot(t2)
    assert table_clustering_columns(snap2) == ["x", "y"]
    assert {"clustering", "domainMetadata"} <= set(
        snap2.protocol["writerFeatures"]
    )
    optimize_delta(spark, t2, target_files=8)
    # clustered output: per-file x-ranges must be far tighter than the
    # global range (Morton interleave localizes both dims)
    spans = []
    for a in snapshot(t2).files.values():
        st = json.loads(a["stats"])
        spans.append(
            int(st["maxValues"]["x"]) - int(st["minValues"]["x"])
        )
    assert sorted(spans)[len(spans) // 2] < 600  # median well under 1000
    assert read_delta(spark, t2).count() == 4000
    with pytest.raises(ValueError, match="creation"):
        write_delta(spark, df, t2, cluster_by=["x"])


def test_v2_checkpoint_read(spark, tmp_path):
    """V2 checkpoints (reader feature): a foreign table whose only
    anchor is a manifest (<v>.checkpoint.<uuid>.parquet) with file
    actions split across _sidecars parquets must bootstrap — commit
    JSONs deleted — and mutations must refuse when the table requires
    v2 checkpoint WRITES (not implemented; we write classic)."""
    import glob as _glob
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import (
        _commit_path,
        _json_versions,
        _log_dir,
    )

    t = str(tmp_path / "v2")
    for i in range(2):
        write_delta(
            spark,
            spark.range(i * 50, (i + 1) * 50).repartition(2).select("id"),
            t,
        )
    snap = snapshot(t)
    adds = [dict(a) for _, a in sorted(snap.files.items())]
    meta = snap.metadata
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint", "appendOnly", "invariants"],
    }
    log = _log_dir(t)
    os.makedirs(os.path.join(log, "_sidecars"), exist_ok=True)

    def _tbl(rows, schema_cols):
        return pa.Table.from_pylist(rows)

    # two sidecars carrying two adds each
    side_names = []
    for half in (adds[:2], adds[2:]):
        name = f"{_uuid.uuid4()}.parquet"
        side_names.append(name)
        rows = [
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": [],
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": True,
                    "stats": a.get("stats"),
                }
            }
            for a in half
        ]
        pq.write_table(
            pa.Table.from_pylist(rows),
            os.path.join(log, "_sidecars", name),
        )
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    cpm_t = pa.struct([("version", pa.int64())])
    side_t = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])
    manifest_rows = [
        {"protocol": proto, "metaData": None, "checkpointMetadata": None,
         "sidecar": None},
        {
            "protocol": None,
            "metaData": {
                "id": meta.get("id"),
                "format": {"provider": "parquet"},
                "schemaString": meta["schemaString"],
                "partitionColumns": [],
                "configuration": [],
                "createdTime": meta.get("createdTime"),
            },
            "checkpointMetadata": None,
            "sidecar": None,
        },
        {"protocol": None, "metaData": None,
         "checkpointMetadata": {"version": 1}, "sidecar": None},
        *(
            {"protocol": None, "metaData": None, "checkpointMetadata": None,
             "sidecar": {"path": n, "sizeInBytes": 1}}
            for n in side_names
        ),
    ]
    pq.write_table(
        pa.Table.from_pylist(
            manifest_rows,
            schema=pa.schema(
                [
                    ("protocol", proto_t),
                    ("metaData", meta_t),
                    ("checkpointMetadata", cpm_t),
                    ("sidecar", side_t),
                ]
            ),
        ),
        os.path.join(log, f"{1:020d}.checkpoint.{_uuid.uuid4()}.parquet"),
    )
    for v in _json_versions(t):
        os.unlink(_commit_path(t, v))
    # bootstrap purely from manifest + sidecars
    got = read_delta(spark, t)
    assert got.count() == 100
    assert sorted(r.id for r in got.collect()) == list(range(100))
    snap2 = snapshot(t)
    assert len(snap2.files) == 4
    # v2Checkpoint joined the writer set in r12 (checkpoint_delta
    # writes the v2 form under delta.checkpointPolicy=v2): appends to
    # a foreign v2 table now work
    write_delta(spark, spark.range(1000, 1001).select("id"), t)
    assert read_delta(spark, t).count() == 101


def test_type_widening_read(spark, tmp_path):
    """typeWidening (reader feature): a foreign table whose files
    carry NARROWER physical types than the logical schema (int32
    under long, float under double) reads correctly through BOTH
    paths — the native scan (Spark's parquet reader upcasts under
    the declared schema) and the Data Source (pyarrow cast)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import commit_staged_adds

    register_deltalog_source(spark)
    t = str(tmp_path / "tw")
    os.makedirs(t)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(10), type=pa.int32()),
                "v": pa.array(
                    [float(i) for i in range(10)], type=pa.float32()
                ),
            }
        ),
        os.path.join(t, "part-0.parquet"),
    )
    st = os.stat(os.path.join(t, "part-0.parquet"))
    commit_staged_adds(
        t,
        [
            {
                "add": {
                    "path": "part-0.parquet",
                    "partitionValues": {},
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": True,
                }
            }
        ],
        spark.createDataFrame([], "id long, v double").schema,
    )
    # declare the feature the way a foreign widening writer would
    from value_at_risk_spark.sources.deltalog import _publish_commit

    _publish_commit(
        t,
        1,
        [
            {"commitInfo": {"timestamp": 0, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["typeWidening"],
                    "writerFeatures": ["typeWidening"],
                }
            },
        ],
    )
    out = read_delta(spark, t)
    assert out.schema["id"].dataType.simpleString() == "bigint"
    got = out.agg(F.sum("id"), F.sum("v")).first()
    assert (got[0], got[1]) == (45, 45.0)
    ds = spark.read.format("deltalog").load(t)
    assert ds.count() == 10
    assert ds.agg(F.sum("id")).first()[0] == 45


def test_streaming_cdf_dv_delete_and_tip_start(spark, tmp_path):
    """The streaming CDF source streams a merge-on-read DELETE's cdc
    rows, and a stream whose startingVersion equals the tip drains
    empty instead of erroring (the degenerate same-offset range)."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import delete_from_delta

    register_deltalog_source(spark)
    t = str(tmp_path / "sc")
    write_delta(
        spark,
        spark.range(100).select("id", (F.col("id") % 5).alias("g")),
        t,
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    delete_from_delta(spark, t, "g = 2")
    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(t)
        .writeStream.format("memory")
        .queryName("cdf_dv_a")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "select _change_type, count(*) c from cdf_dv_a group by 1"
    ).collect()
    assert sorted((r[0], r.c) for r in rows) == [("delete", 20)]
    q2 = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(t)
        .writeStream.format("memory")
        .queryName("cdf_dv_b")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.sql("select count(*) c from cdf_dv_b").first().c == 0


def test_column_mapping_write_lifecycle(spark, tmp_path):
    """Native column-mapping writes: CREATE with mode=name assigns
    physical col-<uuid> names + field ids (data files and partition
    dirs carry physical names, metadata stays logical), appends
    translate, RENAME COLUMN is metadata-only, and the protocol lists
    columnMapping in BOTH feature sets. Rename is refused on unmapped
    tables and when a constraint references the column."""
    from value_at_risk_spark.sources.deltalog import (
        add_check_constraint,
        rename_delta_column,
        snapshot,
    )

    tbl = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(20)],
        "id long, seg int, v double",
    )
    write_delta(
        spark,
        df.filter("id % 2 = 0"),
        tbl,
        partition_by=["seg"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    snap = snapshot(tbl)
    assert "columnMapping" in (snap.protocol.get("readerFeatures") or [])
    assert "columnMapping" in (snap.protocol.get("writerFeatures") or [])
    cfg = snap.metadata["configuration"]
    assert cfg["delta.columnMapping.maxColumnId"] == "3"
    sch = json.loads(snap.metadata["schemaString"])
    phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in sch["fields"]
    }
    assert all(p.startswith("col-") for p in phys.values())
    assert sorted(
        f["metadata"]["delta.columnMapping.id"] for f in sch["fields"]
    ) == [1, 2, 3]
    # partition dirs on disk (under the staging subdir) use the
    # PHYSICAL name; no LOGICAL-name dir exists anywhere
    all_dirs = [
        d for root, dirs, _f in os.walk(tbl) for d in dirs
    ]
    assert any(d.startswith(f"{phys['seg']}=") for d in all_dirs)
    assert not any(d.startswith("seg=") for d in all_dirs)
    write_delta(spark, df.filter("id % 2 = 1"), tbl)
    got = read_delta(spark, tbl)
    assert got.columns == ["id", "seg", "v"]
    assert got.count() == 20
    assert read_delta(
        spark, tbl, partition_filters={"seg": ["1"]}
    ).count() == 10

    rename_delta_column(tbl, "v", "value")
    after = read_delta(spark, tbl)
    assert after.columns == ["id", "seg", "value"]
    assert after.agg(F.sum("value")).first()[0] == sum(range(20))
    # rename is metadata-only: no new data files vs the pre-rename set
    pre = snapshot(tbl, version=1).files.keys()
    assert snapshot(tbl).files.keys() == pre
    # time travel shows the OLD logical name
    assert read_delta(spark, tbl, version=1).columns == ["id", "seg", "v"]

    with pytest.raises(ValueError, match="already exists"):
        rename_delta_column(tbl, "id", "seg")
    with pytest.raises(ValueError, match="no column"):
        rename_delta_column(tbl, "nope", "x")
    # constraint referencing the column blocks the rename
    add_check_constraint(spark, tbl, "v_pos", "value >= 0")
    with pytest.raises(NotImplementedError, match="referenced"):
        rename_delta_column(tbl, "value", "v2")
    # unmapped table refuses outright
    plain = str(tmp_path / "plain")
    write_delta(spark, df, plain)
    with pytest.raises(NotImplementedError, match="column mapping"):
        rename_delta_column(plain, "v", "value")
    # 'id' mode creation (r13): same staging as 'name', mode recorded
    # as 'id' — the created files carry field ids and resolve by them
    idm = str(tmp_path / "idm")
    write_delta(
        spark, df, idm, configuration={"delta.columnMapping.mode": "id"}
    )
    assert read_delta(spark, idm).count() == df.count()
    # unknown modes still refuse
    with pytest.raises(NotImplementedError, match="not"):
        write_delta(
            spark,
            df,
            str(tmp_path / "badmode"),
            configuration={"delta.columnMapping.mode": "weird"},
        )


def test_widen_column_type_lifecycle(spark, tmp_path):
    """ALTER COLUMN TYPE widening: metadata-only commit (no parquet
    rewritten), typeWidening feature added to both protocol lists,
    delta.typeChanges change history recorded on the field, mixed
    narrow/wide physical files unify under the declared schema, and
    narrowing / partition columns / unknown conversions refuse."""
    from value_at_risk_spark.sources.deltalog import (
        snapshot,
        widen_column_type,
    )

    tbl = str(tmp_path / "w")
    df = spark.createDataFrame(
        [(i, i % 3, i * 1.5) for i in range(30)], "id int, seg int, v float"
    ).withColumn("v", F.col("v").cast("float"))
    write_delta(spark, df, tbl, partition_by=["seg"])
    files_v0 = set(snapshot(tbl).files.keys())
    widen_column_type(tbl, "id", "long")
    widen_column_type(tbl, "v", "double")
    snap = snapshot(tbl)
    assert set(snap.files.keys()) == files_v0  # metadata-only
    assert "typeWidening" in (snap.protocol.get("readerFeatures") or [])
    assert "typeWidening" in (snap.protocol.get("writerFeatures") or [])
    sch = json.loads(snap.metadata["schemaString"])
    fid = next(f for f in sch["fields"] if f["name"] == "id")
    assert fid["type"] == "long"
    # spec: history under 'delta.typeChanges', fromType/toType only
    # (tableVersion is typeWidening-preview-only)
    assert fid["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    # append stages the WIDE type; the scan unifies old+new files
    df2 = spark.createDataFrame(
        [(100 + i, i % 3, float(i)) for i in range(6)],
        "id long, seg int, v double",
    )
    write_delta(spark, df2, tbl)
    got = read_delta(spark, tbl)
    assert got.schema.simpleString() == (
        "struct<id:bigint,seg:int,v:double>"
    )
    assert got.count() == 36
    assert got.agg(F.sum("id")).first()[0] == sum(range(30)) + sum(
        range(100, 106)
    )
    # time travel to v0 reads the NARROW declared schema
    assert (
        read_delta(spark, tbl, version=0).schema["id"].dataType.simpleString()
        == "int"
    )
    with pytest.raises(ValueError, match="not a supported"):
        widen_column_type(tbl, "id", "integer")
    with pytest.raises(NotImplementedError, match="partition"):
        widen_column_type(tbl, "seg", "long")
    with pytest.raises(ValueError, match="no column"):
        widen_column_type(tbl, "nope", "long")
    # no-op widen to the same type commits nothing
    v = snapshot(tbl).version
    assert widen_column_type(tbl, "id", "long") == v
    assert snapshot(tbl).version == v


def test_widen_nested_leaf_fields(spark, tmp_path):
    """Nested type widening: dotted leaves inside structs and
    array-of-struct hops widen metadata-only; old narrow files upcast
    at scan beside new wide appends; the change history lands on the
    NESTED field; container types and unknown paths refuse."""
    from value_at_risk_spark.sources.deltalog import (
        snapshot,
        widen_column_type,
    )

    tbl = str(tmp_path / "wn")
    df = spark.createDataFrame(
        [(1, (2, 3.5), [(4,)]), (2, (5, 6.5), [(7,)])],
        "id int, s struct<a:int,b:float>, arr array<struct<c:int>>",
    )
    write_delta(spark, df, tbl)
    files_v0 = set(snapshot(tbl).files.keys())
    widen_column_type(tbl, "s.a", "long")
    widen_column_type(tbl, "arr.c", "long")
    snap = snapshot(tbl)
    assert set(snap.files.keys()) == files_v0  # metadata-only
    sch = json.loads(snap.metadata["schemaString"])
    s_fields = next(f for f in sch["fields"] if f["name"] == "s")["type"][
        "fields"
    ]
    fa = next(f for f in s_fields if f["name"] == "a")
    assert fa["type"] == "long"
    assert fa["metadata"]["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long"}
    ]
    got = read_delta(spark, tbl)
    assert got.schema.simpleString() == (
        "struct<id:int,s:struct<a:bigint,b:float>,"
        "arr:array<struct<c:bigint>>>"
    )
    assert {(r.id, r.s.a, r.arr[0].c) for r in got.collect()} == {
        (1, 2, 4),
        (2, 5, 7),
    }
    # appends stage the wide nested type; mixed files unify at scan
    df2 = spark.createDataFrame(
        [(3, (2**40, 1.5), [(2**41,)])],
        "id int, s struct<a:long,b:float>, arr array<struct<c:long>>",
    )
    write_delta(spark, df2, tbl)
    assert read_delta(spark, tbl).filter("id = 3").first().s.a == 2**40
    assert read_delta(spark, tbl).count() == 3
    # containers refuse; missing nested paths refuse
    with pytest.raises(NotImplementedError, match="primitive"):
        widen_column_type(tbl, "s", "long")
    with pytest.raises(ValueError, match="no column"):
        widen_column_type(tbl, "s.nope", "long")


def test_row_tracking_lifecycle(spark, tmp_path):
    """Row tracking end to end: fresh baseRowId ranges + high-water
    mark domain on appends; ids PRESERVED across copy-on-write
    UPDATE/DELETE, OPTIMIZE (dataChange:false), merge-on-read DV
    DELETE/UPDATE, REORG PURGE, and a checkpoint replay; plain reads
    never leak the materialized column; re-enabling on a tracked
    table is an idempotent property merge."""
    from value_at_risk_spark.sources.deltalog import (
        checkpoint_delta,
        delete_from_delta,
        optimize_delta,
        purge_deletion_vectors,
        read_delta_row_ids,
        set_table_properties,
        snapshot,
        update_delta,
    )

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "id long, seg int, v double",
    )
    tbl = str(tmp_path / "rt")
    write_delta(
        spark,
        df.filter("id < 15"),
        tbl,
        configuration={"delta.enableRowTracking": "true"},
    )
    write_delta(spark, df.filter("id >= 15"), tbl)
    snap = snapshot(tbl)
    assert "rowTracking" in (snap.protocol.get("writerFeatures") or [])
    assert all(
        a.get("baseRowId") is not None for a in snap.files.values()
    )
    assert json.loads(snap.domains["delta.rowTracking"])[
        "rowIdHighWaterMark"
    ] == 29
    base = {r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()}
    assert len(base) == 30 and len(set(base.values())) == 30
    update_delta(spark, tbl, "id % 5 = 0", {"v": "v + 100"})
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()
    } == base
    delete_from_delta(spark, tbl, "id >= 25")
    kept = {k: v for k, v in base.items() if k < 25}
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()
    } == kept
    optimize_delta(spark, tbl, target_files=2)
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()
    } == kept
    checkpoint_delta(tbl)
    write_delta(spark, df.filter("id >= 25"), tbl)
    after = {r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()}
    assert all(after[k] == kept[k] for k in kept)
    assert len(set(after.values())) == len(after)  # fresh ids unique
    # fresh ids carved ABOVE the mark: never recycled from deleted rows
    assert min(after[k] for k in range(25, 30)) > max(base.values())
    assert read_delta(spark, tbl).columns == ["id", "seg", "v"]
    # re-setting true on an already-tracked table is an idempotent
    # property merge: no backfill, ids untouched
    set_table_properties(tbl, {"delta.enableRowTracking": "true"})
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()
    } == after

    # merge-on-read arm: DV delete masks (ids trivially stable), DV
    # update moves rows to new files (ids survive via materialization)
    t2 = str(tmp_path / "rtdv")
    write_delta(
        spark,
        df,
        t2,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    b2 = {r.id: r.row_id for r in read_delta_row_ids(spark, t2).collect()}
    r = delete_from_delta(spark, t2, "id % 3 = 0")
    assert r["files_rewritten"] == 0
    expect = {k: v for k, v in b2.items() if k % 3 != 0}
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, t2).collect()
    } == expect
    update_delta(spark, t2, "id = 1", {"v": "999.0"})
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, t2).collect()
    } == expect
    purge_deletion_vectors(spark, t2)
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, t2).collect()
    } == expect
    # untracked tables refuse the row-id read loudly
    t3 = str(tmp_path / "plainrt")
    write_delta(spark, df, t3)
    with pytest.raises(ValueError, match="enableRowTracking"):
        read_delta_row_ids(spark, t3)


def test_row_tracking_midlife_enablement_backfills(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES delta.enableRowTracking=true on
    an EXISTING untracked table backfills in one atomic commit: every
    active file is re-added with a carved baseRowId range +
    defaultRowCommitVersion (dataChange=false), the high-water-mark
    domain lands in the same commit, the protocol gains
    rowTracking+domainMetadata, and a materialized column name is
    fixed. Later writes carve above the mark; rewrites preserve the
    backfilled ids; disable -> re-enable is id-stable (the existing
    adds already carry ids within the recorded watermark, so the
    backfill has nothing to do)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        read_delta_row_ids,
        set_table_properties,
        snapshot,
        update_delta,
        write_delta,
    )

    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(40)],
        "id long, seg int, v double",
    )
    tbl = str(tmp_path / "midrt")
    write_delta(spark, df.filter("id < 20"), tbl, partition_by=["seg"])
    write_delta(spark, df.filter("id >= 20"), tbl)
    v_pre = snapshot(tbl).version
    v = set_table_properties(tbl, {"delta.enableRowTracking": "true"})
    assert v == v_pre + 1  # ONE commit: protocol + meta + backfill
    snap = snapshot(tbl)
    wfeats = set(snap.protocol.get("writerFeatures") or [])
    assert {"rowTracking", "domainMetadata"} <= wfeats
    assert all(
        a.get("baseRowId") is not None
        and a.get("defaultRowCommitVersion") == v
        for a in snap.files.values()
    )
    base = {r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()}
    assert len(base) == 40 and len(set(base.values())) == 40
    # data rows untouched by the backfill (metadata-only re-adds)
    got = {(r.id, r.seg, r.v) for r in read_delta(spark, tbl).collect()}
    assert got == {(i, i % 2, float(i)) for i in range(40)}
    # later writes carve ABOVE the backfilled mark
    more = spark.createDataFrame(
        [(100 + i, i % 2, 0.0) for i in range(5)],
        "id long, seg int, v double",
    )
    write_delta(spark, more, tbl)
    after = {r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()}
    assert all(after[k] == base[k] for k in base)
    assert min(after[100 + i] for i in range(5)) > max(base.values())
    # rewrites preserve backfilled ids through the materialized column
    update_delta(spark, tbl, "id = 3", {"v": "99.0"})
    kept = {r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()}
    assert kept == after
    # disable -> re-enable: ids already within the watermark, stable
    set_table_properties(tbl, {"delta.enableRowTracking": "false"})
    set_table_properties(tbl, {"delta.enableRowTracking": "true"})
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, tbl).collect()
    } == kept


def test_delta_sql_rename_and_widen_forms(spark, tmp_path):
    """The ALTER TABLE RENAME COLUMN / ALTER COLUMN TYPE text forms
    route to rename_delta_column / widen_column_type with SQL type
    names mapped to schemaString primitives."""
    from value_at_risk_spark.sources.delta_sql import delta_sql

    tbl = str(tmp_path / "sqlddl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "id int, v double"
    )
    write_delta(
        spark,
        df.withColumn("v", F.col("v").cast("float")),
        tbl,
        configuration={"delta.columnMapping.mode": "name"},
    )
    delta_sql(spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN id TYPE bigint")
    delta_sql(spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN v TYPE double")
    delta_sql(spark, f"ALTER TABLE delta.`{tbl}` RENAME COLUMN v TO value")
    got = read_delta(spark, tbl)
    assert got.schema.simpleString() == "struct<id:bigint,value:double>"
    assert got.count() == 6
    with pytest.raises(ValueError, match="not a supported"):
        delta_sql(
            spark, f"ALTER TABLE delta.`{tbl}` ALTER COLUMN id TYPE int"
        )


def test_v2_checkpoint_write_lifecycle(spark, tmp_path):
    """V2 checkpoint WRITES (round 12): delta.checkpointPolicy=v2 at
    creation (or via SET TBLPROPERTIES) puts v2Checkpoint in both
    protocol lists and checkpoint_delta emits the manifest+sidecar
    form — uuid-named manifest, file actions split across sidecar
    parquets, NO classic-named file. The table bootstraps from the
    manifest alone after log cleanup, appends keep working, DV
    descriptors survive the sidecar round-trip."""
    import glob as _glob

    from value_at_risk_spark.sources.deltalog import (
        cleanup_delta_log,
        delete_from_delta,
        set_table_properties,
    )

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    t = str(tmp_path / "v2w")
    write_delta(
        spark,
        df.filter("id < 50").repartition(3),
        t,
        configuration={
            "delta.checkpointPolicy": "v2",
            "delta.enableDeletionVectors": "true",
        },
    )
    write_delta(spark, df.filter("id >= 50").repartition(3), t)
    snap = snapshot(t)
    assert "v2Checkpoint" in (snap.protocol.get("readerFeatures") or [])
    assert "v2Checkpoint" in (snap.protocol.get("writerFeatures") or [])
    r = delete_from_delta(spark, t, "id % 10 = 0")
    assert r["files_rewritten"] == 0  # merge-on-read: DVs in sidecars
    checkpoint_delta(t, max_rows_per_part=3)
    log = os.path.join(t, "_delta_log")
    manifests = _glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
    sidecars = _glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert len(manifests) == 1
    assert len(sidecars) == 2  # 6 file actions / 3 per sidecar
    assert not _glob.glob(os.path.join(log, "*.checkpoint.parquet"))
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc.get("v2Checkpoint") is True
    cleanup_delta_log(t)
    got = read_delta(spark, t)
    assert got.count() == 90
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(100) if i % 10 != 0
    ]
    write_delta(spark, df.limit(2).selectExpr("id + 1000 as id", "v"), t)
    assert read_delta(spark, t).count() == 92

    # mid-life enablement: SET TBLPROPERTIES upgrades the protocol
    t2 = str(tmp_path / "v2mid")
    write_delta(spark, df, t2)
    set_table_properties(t2, {"delta.checkpointPolicy": "v2"})
    checkpoint_delta(t2)
    assert _glob.glob(
        os.path.join(t2, "_delta_log", "*.checkpoint.*.parquet")
    )
    cleanup_delta_log(t2)
    assert read_delta(spark, t2).count() == 100


def test_mapped_dml_lifecycle_all_modes(spark, tmp_path):
    """DML on column-mapped tables (r13, _mapping_planes): for BOTH
    mapping modes — copy-on-write DELETE/UPDATE, merge-on-read
    DV DELETE/UPDATE, MERGE, CDF capture + table_changes read-back,
    row-id stability across mapped COW DML, partition-moving UPDATE,
    and DML on a RENAMED logical column. Conditions and SET
    expressions bind logical names; every restaged file carries
    physical names (and field ids in 'id' mode)."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        read_delta_row_ids,
        rename_delta_column,
        table_changes,
        update_delta,
    )

    def base_df():
        return spark.range(0, 120).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("seg"),
            (F.col("id") * 2.0).alias("val"),
        )

    # --- COW DML + MERGE + CDF + rename, mode=name ---
    t = str(tmp_path / "cow_name")
    write_delta(
        spark,
        base_df(),
        t,
        partition_by=["seg"],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
        },
    )
    d = delete_from_delta(spark, t, "k % 10 = 3")
    assert d["rows_deleted"] == 12
    u = update_delta(spark, t, "k < 20", {"val": "val + 1000"})
    assert u["rows_updated"] == 18  # 20 minus the two deleted 3s
    got = read_delta(spark, t)
    keys = [k for k in range(120) if k % 10 != 3]
    exp = sum(k * 2.0 + (1000 if k < 20 else 0) for k in keys)
    assert got.count() == len(keys)
    assert abs(got.agg(F.sum("val")).first()[0] - exp) < 1e-6
    up = spark.range(115, 125).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("seg"),
        F.lit(-1.0).alias("val"),
    )
    merge_into_delta_native(spark, t, up, ["k"])
    assert read_delta(spark, t).filter("val = -1.0").count() == 10
    # CDF read-back over a mapped table (cdc files carry physical
    # names; table_changes logicalizes)
    ch = {
        r["_change_type"]: r["count"]
        for r in table_changes(spark, t, 1)
        .groupBy("_change_type")
        .count()
        .collect()
    }
    assert ch["delete"] == 12
    # 18 from the UPDATE + 5 matched by the MERGE (115..119 survive)
    assert ch["update_preimage"] == ch["update_postimage"] == 23
    assert ch["insert"] == 5  # 120,121,122,124 + the re-inserted 123
    # DML on a renamed logical column: rename touches metadata only,
    # the condition binds the NEW name
    rename_delta_column(t, "val", "value")
    d = delete_from_delta(spark, t, "value = -1.0")
    assert d["rows_deleted"] == 10
    assert read_delta(spark, t).filter("value = -1.0").count() == 0

    # --- DV DML, mode=id ---
    t2 = str(tmp_path / "dv_id")
    write_delta(
        spark,
        base_df(),
        t2,
        partition_by=["seg"],
        configuration={
            "delta.columnMapping.mode": "id",
            "delta.enableDeletionVectors": "true",
        },
    )
    d = delete_from_delta(spark, t2, "k % 7 = 0")
    assert d["files_rewritten"] == 0 and d["rows_deleted"] == 18
    u = update_delta(spark, t2, "k % 7 = 1", {"val": "val * 10"})
    assert u["files_rewritten"] == 0 and u["rows_updated"] == 17
    keys2 = [k for k in range(120) if k % 7 != 0]
    exp2 = sum(k * 2.0 * (10 if k % 7 == 1 else 1) for k in keys2)
    got2 = read_delta(spark, t2)
    assert got2.count() == len(keys2)
    assert abs(got2.agg(F.sum("val")).first()[0] - exp2) < 1e-6

    # --- row-id stability across mapped COW DML + partition move ---
    t3 = str(tmp_path / "rt_name")
    write_delta(
        spark,
        base_df(),
        t3,
        partition_by=["seg"],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableRowTracking": "true",
        },
    )
    rid0 = {
        r["k"]: r["row_id"]
        for r in read_delta_row_ids(spark, t3).collect()
    }
    update_delta(spark, t3, "k >= 60", {"val": "val + 0.5"})
    delete_from_delta(spark, t3, "k % 2 = 0")
    rid1 = {
        r["k"]: r["row_id"]
        for r in read_delta_row_ids(spark, t3).collect()
    }
    assert set(rid1) == {k for k in range(120) if k % 2 == 1}
    assert all(rid1[k] == rid0[k] for k in rid1)
    update_delta(spark, t3, "k = 61", {"seg": "'9'"})
    moved = read_delta(spark, t3).filter("k = 61").collect()
    assert moved[0]["seg"] == "9"


def test_column_mapping_id_mode_read_and_append(spark, tmp_path):
    """columnMapping.mode='id' (r12): DATA columns resolve by parquet
    FIELD ID, not by name — a foreign table whose file column names
    differ from both the logical and physical names still reads
    correctly because the files carry field ids; appends stage field
    ids so the table stays id-resolvable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import _publish_commit

    t = str(tmp_path / "idmode")
    os.makedirs(t)
    # file column names deliberately DIFFERENT from the physicalName
    # in the schema — only the field ids line up
    fields = [
        pa.field(
            "weird_a", pa.int64(), metadata={b"PARQUET:field_id": b"1"}
        ),
        pa.field(
            "weird_b", pa.float64(), metadata={b"PARQUET:field_id": b"2"}
        ),
    ]
    pq.write_table(
        pa.table(
            [pa.array([1, 2, 3], pa.int64()), pa.array([1.5, 2.5, 3.5])],
            schema=pa.schema(fields),
        ),
        os.path.join(t, "part-0.parquet"),
    )
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "id",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-xyz1",
                    },
                },
                {
                    "name": "v",
                    "type": "double",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-xyz2",
                    },
                },
            ],
        }
    )
    st = os.stat(os.path.join(t, "part-0.parquet"))
    assert _publish_commit(
        t,
        0,
        [
            {"commitInfo": {"timestamp": 0, "operation": "WRITE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"],
                }
            },
            {
                "metaData": {
                    "id": "idmode-test",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            },
            {
                "add": {
                    "path": "part-0.parquet",
                    "partitionValues": {},
                    "size": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                    "dataChange": True,
                }
            },
        ],
    )
    got = read_delta(spark, t)
    assert got.columns == ["id", "v"]
    assert sorted((r.id, r.v) for r in got.collect()) == [
        (1, 1.5), (2, 2.5), (3, 3.5),
    ]
    # append through write_delta: logical names in, field ids staged
    write_delta(
        spark,
        spark.createDataFrame([(10, 10.5)], "id long, v double"),
        t,
    )
    after = read_delta(spark, t)
    assert sorted((r.id, r.v) for r in after.collect()) == [
        (1, 1.5), (2, 2.5), (3, 3.5), (10, 10.5),
    ]
    # staged file: physical NAME differs from the foreign file's, but
    # both resolve by the same ids — verify the id metadata landed
    snap = snapshot(t)
    staged = [p for p in snap.files if p != "part-0.parquet"]
    assert staged
    import pyarrow.parquet as _pq
    from urllib.parse import unquote as _uq

    for rel in staged:
        sch = _pq.read_schema(os.path.join(t, _uq(rel)))
        ids = {
            f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in sch
        }
        assert set(ids.values()) == {b"1", b"2"}
    # DML on an 'id'-mode foreign table (r13): the condition binds the
    # LOGICAL name, the rewrite stays field-id-resolvable
    from value_at_risk_spark.sources.deltalog import delete_from_delta

    d = delete_from_delta(spark, t, "id = 1")
    assert d["rows_deleted"] == 1
    assert sorted(r.id for r in read_delta(spark, t).collect()) == [2, 3, 10]


def test_shallow_clone_lifecycle(spark, tmp_path):
    """SHALLOW CLONE: metadata-only (absolute add paths, zero data
    copied, own table id), reads equal the source incl. partition
    filters and DV masks, mutations copy-on-write into the CLONE root
    only, vacuum on the clone never touches source files, the SQL
    form routes, and cloning onto an existing table refuses."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        shallow_clone,
        update_delta,
        vacuum_delta,
    )

    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(60)],
        "id long, seg int, v double",
    )
    src = str(tmp_path / "csrc")
    write_delta(spark, df.filter("id < 30"), src, partition_by=["seg"])
    write_delta(spark, df.filter("id >= 30"), src)
    dst = str(tmp_path / "cdst")
    assert shallow_clone(src, dst) == 0
    # zero data bytes in the clone dir, own id
    assert not [
        f
        for r, _d, fs in os.walk(dst)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    ]
    assert (
        snapshot(dst).metadata["id"] != snapshot(src).metadata["id"]
    )
    got = read_delta(spark, dst)
    assert got.count() == 60
    assert read_delta(
        spark, dst, partition_filters={"seg": ["1"]}
    ).count() == 20
    delete_from_delta(spark, dst, "id < 10")
    update_delta(spark, dst, "id = 59", {"v": "999.0"})
    assert read_delta(spark, dst).count() == 50
    assert read_delta(spark, src).count() == 60  # source untouched
    assert read_delta(spark, src).filter("id = 59").first().v == 59.0
    vacuum_delta(dst, retention_seconds=0)
    assert read_delta(spark, src).count() == 60  # src files survive
    # DV source: descriptors convert to absolute 'p' storage
    s2 = str(tmp_path / "cdv")
    write_delta(
        spark, df, s2,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    delete_from_delta(spark, s2, "id % 4 = 0")
    d2 = str(tmp_path / "cdvd")
    delta_sql(
        spark, f"CREATE TABLE delta.`{d2}` SHALLOW CLONE delta.`{s2}`"
    )
    assert read_delta(spark, d2).count() == read_delta(spark, s2).count()
    dvs = [
        a["deletionVector"]
        for a in snapshot(d2).files.values()
        if a.get("deletionVector")
    ]
    assert dvs and all(d["storageType"] == "p" for d in dvs)
    with pytest.raises(ValueError, match="already a delta table"):
        shallow_clone(src, dst)


def test_drop_column_mapped_metadata_only(spark, tmp_path):
    """DROP COLUMN on a mapped table: metadata-only (files keep the
    physical column, no parquet touched), later appends stage without
    it, time travel still sees it; refusals on unmapped tables,
    partition columns, the last column, and constraint references."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        add_check_constraint,
        drop_delta_column,
    )

    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(10)],
        "id long, seg int, v double",
    )
    t = str(tmp_path / "dropm")
    write_delta(
        spark, df, t,
        partition_by=["seg"],
        configuration={"delta.columnMapping.mode": "name"},
    )
    files0 = set(snapshot(t).files)
    delta_sql(spark, f"ALTER TABLE delta.`{t}` DROP COLUMN v")
    assert set(snapshot(t).files) == files0  # metadata-only
    got = read_delta(spark, t)
    assert got.columns == ["id", "seg"]
    assert got.count() == 10
    assert read_delta(spark, t, version=0).columns == ["id", "seg", "v"]
    # appends now carry the narrower schema
    write_delta(
        spark,
        spark.createDataFrame([(100, 0)], "id long, seg int"),
        t,
    )
    assert read_delta(spark, t).count() == 11
    with pytest.raises(ValueError, match="partition column"):
        drop_delta_column(t, "seg")
    with pytest.raises(ValueError, match="no column"):
        drop_delta_column(t, "nope")
    add_check_constraint(spark, t, "id_pos", "id >= 0")
    with pytest.raises(NotImplementedError, match="referenced"):
        drop_delta_column(t, "id")
    plain = str(tmp_path / "dropp")
    write_delta(spark, df, plain)
    with pytest.raises(NotImplementedError, match="column mapping"):
        drop_delta_column(plain, "v")


def test_optimize_min_file_size_incremental(spark, tmp_path):
    """OPTIMIZE with min_file_size: ONLY files below the threshold are
    compacted — right-sized files keep their add actions verbatim —
    rows are identical before/after, DV'd small files materialize in
    passing, row-tracked tables keep their ids, and the zorder combo
    refuses."""
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        optimize_delta,
        read_delta_row_ids,
    )

    t = str(tmp_path / "inc")
    big = spark.createDataFrame(
        [(i, float(i)) for i in range(20000)], "id long, v double"
    )
    write_delta(
        spark, big.coalesce(1), t,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    for k in range(4):  # four tiny single-file commits
        write_delta(
            spark,
            spark.createDataFrame(
                [(100000 + k * 10 + j, 1.0) for j in range(5)],
                "id long, v double",
            ).coalesce(1),
            t,
        )
    # DV-delete a row inside one of the small files
    delete_from_delta(spark, t, "id = 100001")
    snap0 = snapshot(t)
    sizes = {p: a["size"] for p, a in snap0.files.items()}
    big_files = {p for p, s in sizes.items() if s == max(sizes.values())}
    ids0 = {
        r.id: r.row_id for r in read_delta_row_ids(spark, t).collect()
    }
    threshold = max(sizes.values())  # strictly-below keeps the max file
    v = optimize_delta(spark, t, min_file_size=threshold)
    snap1 = snapshot(t)
    assert v == snap1.version
    # the big file survived VERBATIM; all small files were replaced
    assert big_files <= set(snap1.files)
    assert not (set(snap1.files) - big_files) & set(snap0.files)
    # small files compacted to fewer than they were
    assert len(snap1.files) < len(snap0.files)
    got = read_delta(spark, t)
    assert got.count() == 20000 + 19
    # no DV descriptors remain on the compacted files
    assert not any(
        a.get("deletionVector")
        for p, a in snap1.files.items()
        if p not in big_files
    )
    # row ids preserved through the incremental compaction
    assert {
        r.id: r.row_id for r in read_delta_row_ids(spark, t).collect()
    } == ids0
    with pytest.raises(ValueError, match="exclusive"):
        optimize_delta(spark, t, zorder_by=["id"], min_file_size=100)
    # nothing-to-gain fast path: a second sweep is a no-op version
    assert optimize_delta(spark, t, min_file_size=10) == snap1.version


def test_row_tracking_streaming_sink_and_restore(spark, tmp_path):
    """Row tracking x the exactly-once streaming sink and RESTORE:
    every micro-batch commit carves a fresh disjoint id range, a
    REPLAYED batch (same txn appId/batchId) is skipped without
    consuming ids or duplicating rows, and RESTORE re-references the
    target version's adds VERBATIM — restored rows get their original
    ids back and a post-restore append still carves ABOVE the
    high-water mark (deleted ranges are never recycled)."""
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        read_delta_row_ids,
        restore_delta,
    )
    from value_at_risk_spark.streaming.sinks import DeltaTxnSink

    t = str(tmp_path / "rtsink")
    mk = lambda lo: spark.createDataFrame(  # noqa: E731
        [(lo + j, float(lo + j)) for j in range(10)], "id long, v double"
    )
    write_delta(
        spark, mk(0), t,
        configuration={"delta.enableRowTracking": "true"},
    )
    sink = DeltaTxnSink(t, app_id="rt-ingest")
    for b, lo in enumerate((100, 200, 300)):
        sink(mk(lo), b)
    sink(mk(200), 1)  # replay of batch 1 — must skip, not re-commit
    assert sink.skipped == [1]
    ids = {r.id: r.row_id for r in read_delta_row_ids(spark, t).collect()}
    assert len(ids) == 40  # 4 x 10, replay added nothing
    assert len(set(ids.values())) == 40  # all ids unique
    mark_before = max(ids.values())

    v_pre_delete = snapshot(t).version
    delete_from_delta(spark, t, "id >= 200 AND id < 210")
    assert read_delta(spark, t).count() == 30
    restore_delta(spark, t, v_pre_delete)
    restored = {
        r.id: r.row_id for r in read_delta_row_ids(spark, t).collect()
    }
    assert restored == ids  # originals back, ids verbatim
    sink(mk(400), 4)
    after = {r.id: r.row_id for r in read_delta_row_ids(spark, t).collect()}
    new_ids = {v for k, v in after.items() if k >= 400}
    assert min(new_ids) > mark_before  # carved above the mark
    assert len(set(after.values())) == 50


def test_row_tracking_on_mapped_table_reads_through_mapping(spark, tmp_path):
    """Mapped + row-tracked (creatable in one write_delta call): the
    row-id read must physicalize the scan like read_delta does — a
    logical-schema scan against physical-name files would return
    all-NULL data columns silently (the review-caught misread)."""
    from value_at_risk_spark.sources.deltalog import read_delta_row_ids

    t = str(tmp_path / "maprt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(12)], "id long, v double"
    )
    write_delta(
        spark,
        df.filter("id < 6"),
        t,
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableRowTracking": "true",
        },
    )
    write_delta(spark, df.filter("id >= 6"), t)
    got = read_delta_row_ids(spark, t)
    assert got.columns == ["id", "v", "row_id"]
    rows = {r.id: (r.v, r.row_id) for r in got.collect()}
    assert len(rows) == 12
    assert all(r.id is not None for r in got.collect())
    assert {v for v, _ in rows.values()} == {float(i) for i in range(12)}
    assert len({rid for _, rid in rows.values()}) == 12


def test_vacuum_retention_table_property(spark, tmp_path):
    """VACUUM's default retention comes from the table's
    delta.deletedFileRetentionDuration property: a generous interval
    keeps just-tombstoned files alive; an explicit retention_seconds
    overrides; malformed values refuse loudly."""
    from value_at_risk_spark.sources.deltalog import (
        set_table_properties,
        vacuum_delta,
    )

    t = str(tmp_path / "ret")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    write_delta(
        spark, df, t,
        configuration={
            "delta.deletedFileRetentionDuration": "interval 2 hours"
        },
    )
    write_delta(spark, df, t, mode="overwrite")  # tombstones v0's files
    # property default (2h) protects the fresh tombstones
    assert vacuum_delta(t, keep_versions=1) == []
    # explicit retention overrides the property
    deleted = vacuum_delta(t, keep_versions=1, retention_seconds=0)
    assert deleted
    assert read_delta(spark, t).count() == 2
    set_table_properties(
        t, {"delta.deletedFileRetentionDuration": "sometimes"}
    )
    with pytest.raises(ValueError, match="malformed"):
        vacuum_delta(t, keep_versions=1)


def test_generated_column_partition_pruning(spark, tmp_path):
    """Generated-column partition pruning (DS reader): a table
    partitioned by a GENERATED date column prunes at the PARTITION
    layer when the filter is an equality on the SOURCE timestamp —
    the date-partition-from-timestamp layout every event pipeline
    uses. Non-derivable shapes are simply not pruned (never wrong)."""
    import datetime

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    t = str(tmp_path / "genpart")
    rows = [
        (i, datetime.datetime(2026, 1, 1 + (i % 4), 12, 0, 0), float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v double")
    write_delta(
        spark,
        df.repartition(4),
        t,
        partition_by=["d"],
        generated_columns={"d": "CAST(ts AS DATE)"},
    )
    ds = spark.read.format("deltalog").load(t)
    full_parts = ds.rdd.getNumPartitions()
    one = ds.filter(
        F.col("ts") == datetime.datetime(2026, 1, 2, 12, 0, 0)
    )
    assert one.count() == 10
    pruned_parts = one.rdd.getNumPartitions()
    assert pruned_parts < full_parts  # partition-layer pruning fired
    # and the derived filter never drops matching rows elsewhere:
    # a range filter (non-derivable) still returns everything
    rng = ds.filter(F.col("ts") >= datetime.datetime(2026, 1, 1))
    assert rng.count() == 40


def test_datasource_cdf_and_stream_mapped_table(spark, tmp_path):
    """The deltalog DS readers over a COLUMN-MAPPED ('name' mode)
    table (r13): plain stream, batch CDF, and streaming CDF all
    physicalize internally and emit LOGICAL names — batch CDF equals
    table_changes row for row; 'id'-mode CDF refuses."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        table_changes,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "dscdfmap")
    df = spark.range(8).select(
        "id",
        (F.col("id") % 2).cast("string").alias("p"),
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta(
        spark, df, tbl, partition_by=["p"],
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.columnMapping.mode": "name",
        },
    )
    delete_from_delta(spark, tbl, "id >= 6")
    update_delta(spark, tbl, "id < 2", {"v": "v + 100"})

    cdf = (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
    )
    assert cdf.columns[:3] == ["id", "p", "v"]  # logical names
    key = lambda frame: sorted(  # noqa: E731
        (r["_commit_version"], r["_change_type"], r["id"], r["p"], r["v"])
        for r in frame.collect()
    )
    assert key(cdf) == key(table_changes(spark, tbl, 0))

    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
        .writeStream.format("memory")
        .queryName("dscdfmap_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["p"])
        for r in spark.sql("select * from dscdfmap_stream").collect()
    )
    exp = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["p"])
        for r in table_changes(spark, tbl, 1).collect()
    )
    assert got == exp

    # 'id' mode refuses CDF DS reads at reader construction
    # 'id' mode (r13): the DS readers resolve by parquet FIELD ID now
    # — CDF and DML changes over an id-mode table stream logically
    tbl2 = str(tmp_path / "dscdfid")
    write_delta(
        spark, df, tbl2,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.columnMapping.mode": "id",
        },
    )
    delete_from_delta(spark, tbl2, "id = 3")
    cdf2 = (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl2)
    )
    assert key(cdf2) == key(table_changes(spark, tbl2, 0))
    ds2 = spark.read.format("deltalog").load(tbl2)
    assert sorted(tuple(r) for r in ds2.collect()) == sorted(
        tuple(r) for r in read_delta(spark, tbl2).collect()
    )


def test_datasource_nested_mapped_table(spark, tmp_path):
    """The pyarrow DS readers over a NESTED column-mapped table: the
    file's struct children carry physical names, pyarrow's name-based
    cast can't rename them — the name-resolving rebuild
    (_mapped_rebuild) does. Batch read equals read_delta; batch CDF
    equals table_changes."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        table_changes,
        update_delta,
    )

    register_deltalog_source(spark)
    tbl = str(tmp_path / "dsnested")
    df = spark.createDataFrame(
        [
            (1, "a", (10, "x"), [(1.5, 2)]),
            (2, "b", (20, "y"), [(3.5, 4)]),
        ],
        "id long, seg string, s struct<a:long,b:string>, "
        "arr array<struct<p:double,q:long>>",
    )
    write_delta(
        spark, df, tbl, partition_by=["seg"],
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.columnMapping.mode": "name",
        },
    )
    update_delta(
        spark, tbl, "s.a = 20",
        {"s": "named_struct('a', s.a + 1, 'b', s.b)"},
    )
    ds = spark.read.format("deltalog").load(tbl)
    assert ds.schema["s"].dataType.fieldNames() == ["a", "b"]
    assert sorted(
        (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
        for r in ds.collect()
    ) == sorted(
        (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
        for r in read_delta(spark, tbl).collect()
    )
    cdf = (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
    )
    key = lambda fr: sorted(  # noqa: E731
        (r["_commit_version"], r["_change_type"], r["id"], tuple(r["s"]))
        for r in fr.collect()
    )
    assert key(cdf) == key(table_changes(spark, tbl, 0))
    # 'id' mode nested: the DS resolves nested children by PARQUET
    # field id (_child_index by-id path)
    tbl_id = str(tmp_path / "dsnested_id")
    write_delta(
        spark, df, tbl_id,
        configuration={"delta.columnMapping.mode": "id"},
    )
    ds_id = spark.read.format("deltalog").load(tbl_id)
    assert sorted(
        (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
        for r in ds_id.collect()
    ) == sorted(
        (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
        for r in read_delta(spark, tbl_id).collect()
    )


def test_optimize_where_partition_scoped(spark, tmp_path):
    """OPTIMIZE ... WHERE (r13): the rewrite is scoped to matching
    partitions — files outside the scope keep their add actions
    VERBATIM (the 100 TB daily-sweep contract: compact yesterday's
    partition, not the table); composes with MIN FILE SIZE; rows are
    identical before/after; the SQL text surface parses = and IN
    conjunctions and refuses row-level predicates."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import optimize_delta

    tbl = str(tmp_path / "ow")
    df = spark.range(300).select(
        "id",
        (F.col("id") % 3).cast("string").alias("seg"),
        (F.col("id") * 1.0).alias("v"),
    )
    # many small files per partition
    for c in range(4):
        write_delta(
            spark,
            df.filter(F.col("id") % 4 == c).repartition(3),
            tbl,
            partition_by=["seg"] if c == 0 else None,
        )
    snap0 = snapshot(tbl)
    before_by_seg = {}
    for p, a in snap0.files.items():
        seg = (a.get("partitionValues") or {}).get("seg")
        before_by_seg.setdefault(seg, set()).add(p)
    total0 = read_delta(spark, tbl).agg(F.sum("id"), F.count("*")).first()

    v = optimize_delta(
        spark, tbl, target_files=1, partition_filters={"seg": ["1"]}
    )
    snap1 = snapshot(tbl)
    assert v == snap1.version
    after_by_seg = {}
    for p, a in snap1.files.items():
        seg = (a.get("partitionValues") or {}).get("seg")
        after_by_seg.setdefault(seg, set()).add(p)
    # untouched partitions keep their files verbatim
    assert after_by_seg["0"] == before_by_seg["0"]
    assert after_by_seg["2"] == before_by_seg["2"]
    # scoped partition compacted
    assert len(after_by_seg["1"]) < len(before_by_seg["1"])
    assert read_delta(spark, tbl).agg(
        F.sum("id"), F.count("*")
    ).first() == total0

    # SQL surface: WHERE + MIN FILE SIZE composes (every seg=2 file is
    # tiny here, so they all compact; seg=0 untouched)
    r = delta_sql(
        spark,
        f"OPTIMIZE delta.`{tbl}` WHERE seg IN ('2') MIN FILE SIZE 10485760",
    )
    snap2 = snapshot(tbl)
    after2 = {
        p
        for p, a in snap2.files.items()
        if (a.get("partitionValues") or {}).get("seg") == "0"
    }
    assert after2 == before_by_seg["0"]
    assert read_delta(spark, tbl).agg(
        F.sum("id"), F.count("*")
    ).first() == total0
    assert r == snap2.version
    # row-level predicates refuse
    with pytest.raises(ValueError, match="partition predicates"):
        delta_sql(spark, f"OPTIMIZE delta.`{tbl}` WHERE v > 5 OR seg = '1'")
    # predicate recorded in the commit's operationParameters
    with open(
        os.path.join(tbl, "_delta_log", f"{snap2.version:020d}.json")
    ) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    ci = next(a["commitInfo"] for a in acts if a.get("commitInfo"))
    assert ci["operationParameters"]["predicate"] == {"seg": ["2"]}


@pytest.mark.parametrize("mode", ["name", "id"])
def test_nested_column_mapping_lifecycle(spark, tmp_path, mode):
    """Nested-struct column mapping, both modes: creation assigns
    ids/physicalNames at EVERY nesting level (struct-in-struct,
    array-of-struct), data files carry physical nested names (+
    nested parquet field ids), reads rename back via positional
    struct casts, DML binds logical nested names, and RENAME of a
    nested field is metadata-only."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        rename_delta_column,
        update_delta,
    )

    t = str(tmp_path / f"nested_map_{mode}")
    kind = (
        "id long, seg string, s struct<a:long,b:string>, "
        "arr array<struct<p:double,q:long>>"
    )
    df = spark.createDataFrame(
        [
            (1, "a", (10, "x"), [(1.5, 2)]),
            (2, "b", (20, "y"), [(3.5, 4)]),
            (3, "a", (30, "z"), [(5.5, 6)]),
        ],
        kind,
    )
    write_delta(
        spark,
        df,
        t,
        partition_by=["seg"],
        configuration={"delta.columnMapping.mode": mode},
    )
    # maxColumnId counts NESTED fields too: id, seg, s, s.a, s.b,
    # arr, arr.p, arr.q = 8
    snap = snapshot(t)
    assert snap.metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "8"
    # data files: physical top-level AND nested names; nested parquet
    # field ids present (what 'id' mode resolves by)
    files = _glob.glob(f"{t}/**/*.parquet", recursive=True)
    fsch = pq.ParquetFile(files[0]).schema_arrow
    assert all(n.startswith("col-") for n in fsch.names)
    sfield = next(
        f for f in fsch if pa.types.is_struct(f.type)
    )
    for i in range(sfield.type.num_fields):
        nf = sfield.type.field(i)
        assert nf.name.startswith("col-")
        assert (nf.metadata or {}).get(b"PARQUET:field_id") is not None
    # read-back: logical names at every level, values exact
    got = read_delta(spark, t)
    assert got.schema["s"].dataType.fieldNames() == ["a", "b"]
    assert _rows(got) == _rows(df)
    # append through the same planes
    write_delta(
        spark,
        spark.createDataFrame([(4, "c", (40, "w"), [(7.5, 8)])], kind),
        t,
        mode="append",
    )
    # DML with NESTED conditions / whole-struct SET
    delete_from_delta(spark, t, "s.a = 20")
    update_delta(
        spark, t, "s.a = 30", {"s": "named_struct('a', s.a + 100, 'b', 'Z')"}
    )
    r = {x.id: x.s for x in read_delta(spark, t).collect()}
    assert set(r) == {1, 3, 4} and r[3].a == 130 and r[3].b == "Z"
    # nested RENAME: metadata-only, time travel keeps the old name
    v = rename_delta_column(t, "s.a", "alpha")
    got2 = read_delta(spark, t)
    assert got2.schema["s"].dataType.fieldNames() == ["alpha", "b"]
    assert {x.s.alpha for x in got2.collect()} == {10, 130, 40}
    old = read_delta(spark, t, version=v - 1)
    assert old.schema["s"].dataType.fieldNames() == ["a", "b"]
    with pytest.raises(ValueError, match="no column"):
        rename_delta_column(t, "s.missing", "zz")
    with pytest.raises(ValueError, match="not a struct"):
        rename_delta_column(t, "id.x", "zz")


def test_nested_column_mapping_foreign_read(spark, tmp_path):
    """A FOREIGN 'name'-mode table whose nested physicalNames contain
    dots and spaces (the spec allows any string) reads back logical —
    the positional-cast rename, not string resolution, carries it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.deltalog import _publish_commit

    t2 = str(tmp_path / "nested_foreign")
    os.makedirs(os.path.join(t2, "_delta_log"))
    # physical file: struct column 'col-s' with nested 'col x.y'
    data = pa.table(
        {
            "col-s": pa.array(
                [{"col x.y": 7, "col sp ace": "u"},
                 {"col x.y": 8, "col sp ace": "v"}],
                type=pa.struct(
                    [("col x.y", pa.int64()), ("col sp ace", pa.string())]
                ),
            )
        }
    )
    fname = "part-00000-foreign.parquet"
    pq.write_table(data, os.path.join(t2, fname))
    n_bytes = os.path.getsize(os.path.join(t2, fname))
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "s",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "a",
                                "type": "long",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 2,
                                    "delta.columnMapping.physicalName":
                                        "col x.y",
                                },
                            },
                            {
                                "name": "b",
                                "type": "string",
                                "nullable": True,
                                "metadata": {
                                    "delta.columnMapping.id": 3,
                                    "delta.columnMapping.physicalName":
                                        "col sp ace",
                                },
                            },
                        ],
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": "col-s",
                    },
                }
            ],
        }
    )
    _publish_commit(
        t2,
        0,
        [
            {"commitInfo": {"timestamp": 0, "operation": "WRITE"}},
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            },
            {
                "metaData": {
                    "id": "nested-map-test",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                    },
                }
            },
            {
                "add": {
                    "path": fname,
                    "partitionValues": {},
                    "size": n_bytes,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ],
    )
    got = read_delta(spark, t2)
    assert got.schema["s"].dataType.fieldNames() == ["a", "b"]
    assert sorted((x.s.a, x.s.b) for x in got.collect()) == [
        (7, "u"),
        (8, "v"),
    ]


def test_mapped_schema_evolution_and_nested_drop(spark, tmp_path):
    """Schema evolution on COLUMN-MAPPED tables (r13): merge_schema
    appends assign fresh ids/physicalNames to NEW fields (maxColumnId
    advances in the same commit), ADD COLUMNS is metadata-only on
    mapped AND unmapped tables, nested DROP COLUMN stops projecting a
    struct child (files untouched), and the pyarrow DS resolves
    nested children BY PHYSICAL NAME — so a drop+add sequence
    null-fills instead of misaligning positions."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        add_delta_columns,
        drop_delta_column,
        snapshot as _snap,
    )

    register_deltalog_source(spark)
    t = str(tmp_path / "evolve")
    df = spark.createDataFrame(
        [(1, (10, "x")), (2, (20, "y"))],
        "id long, s struct<a:long,b:string>",
    )
    write_delta(
        spark, df, t, configuration={"delta.columnMapping.mode": "name"}
    )
    assert _snap(t).metadata["configuration"][
        "delta.columnMapping.maxColumnId"
    ] == "4"
    # merge_schema append with a new flat AND a new struct column
    df2 = spark.createDataFrame(
        [(3, (30, "z"), 7.5, (1, 2))],
        "id long, s struct<a:long,b:string>, v double, "
        "t2 struct<p:long,q:long>",
    )
    write_delta(spark, df2, t, mode="append", merge_schema=True)
    conf = _snap(t).metadata["configuration"]
    assert conf["delta.columnMapping.maxColumnId"] == "8"  # +v,t2,p,q
    got = {r.id: (r.v, r.t2) for r in read_delta(spark, t).collect()}
    assert got[1] == (None, None) and got[3] == (7.5, (1, 2))
    # ADD COLUMNS metadata-only (mapped): ids keep advancing
    add_delta_columns(t, {"w": "long", "nst": {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "string", "nullable": True,
             "metadata": {}}
        ],
    }})
    conf = _snap(t).metadata["configuration"]
    assert conf["delta.columnMapping.maxColumnId"] == "11"  # +w,nst,k
    got = read_delta(spark, t)
    assert got.schema["nst"].dataType.fieldNames() == ["k"]
    assert all(r.w is None and r.nst is None for r in got.collect())
    # DML on an added column
    from value_at_risk_spark.sources.deltalog import update_delta

    update_delta(spark, t, "id = 1", {"w": "100"})
    assert {
        r.id: r.w for r in read_delta(spark, t).collect()
    } == {1: 100, 2: None, 3: None}
    # nested DROP: s.b disappears from reads, files untouched
    v_before = _snap(t).version
    drop_delta_column(t, "s.b")
    assert _snap(t).version == v_before + 1
    got = read_delta(spark, t)
    assert got.schema["s"].dataType.fieldNames() == ["a"]
    assert {r.id: r.s.a for r in got.collect()} == {1: 10, 2: 20, 3: 30}
    # time travel still sees the dropped child
    old = read_delta(spark, t, version=v_before)
    assert old.schema["s"].dataType.fieldNames() == ["a", "b"]
    # the DS reader resolves nested children by PHYSICAL NAME: after
    # the drop, a new nested child with the same LOGICAL name must
    # null-fill on old files, never read the dropped column's values
    add_delta_columns(t, {"s2": {
        "type": "struct",
        "fields": [
            {"name": "b", "type": "string", "nullable": True,
             "metadata": {}}
        ],
    }})
    ds = spark.read.format("deltalog").load(t)
    assert sorted(
        (r.id, r.s.a, r.w, r.s2) for r in ds.collect()
    ) == sorted(
        (r.id, r.s.a, r.w, r.s2)
        for r in read_delta(spark, t).collect()
    )
    # SQL form + unmapped table
    t2 = str(tmp_path / "evolve_unmapped")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a")], "id long, k string"),
        t2,
    )
    delta_sql(spark, f"ALTER TABLE delta.`{t2}` ADD COLUMNS (x bigint, y double)")
    got2 = read_delta(spark, t2)
    assert got2.columns == ["id", "k", "x", "y"]
    assert got2.collect()[0].x is None
    with pytest.raises(ValueError, match="already exists"):
        add_delta_columns(t2, {"x": "long"})
    with pytest.raises(NotImplementedError, match="nested position"):
        add_delta_columns(t2, {"s.inner": "long"})


def test_mapped_map_column_and_dotted_name_precedence(spark, tmp_path):
    """Review fixes (r13): (1) MAP columns on mapped tables read
    through BOTH readers incl. null map entries (pyarrow's
    MapArray.from_arrays takes no mask kwarg — null entries ride the
    offsets); (2) a top-level logical name containing a dot wins over
    nested resolution in RENAME/DROP (mapped tables legally hold
    dotted logical names — resolving into a same-named struct would
    silently rename the wrong field); (3) an 'id'-mode declared field
    with no delta.columnMapping.id fails LOUD in the DS, never
    null-fills."""
    import json as _json

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        _publish_commit,
        rename_delta_column,
    )

    register_deltalog_source(spark)
    for mode in ("name", "id"):
        t = str(tmp_path / f"map_{mode}")
        df = spark.createDataFrame(
            [(1, {"a": 10, "b": 20}), (2, None), (3, {"c": 30})],
            "id long, m map<string,long>",
        )
        write_delta(
            spark, df, t, configuration={"delta.columnMapping.mode": mode}
        )
        want = sorted(
            (r.id, None if r.m is None else sorted(r.m.items()))
            for r in df.collect()
        )
        got_native = sorted(
            (r.id, None if r.m is None else sorted(r.m.items()))
            for r in read_delta(spark, t).collect()
        )
        got_ds = sorted(
            (r.id, None if r.m is None else sorted(r.m.items()))
            for r in spark.read.format("deltalog").load(t).collect()
        )
        assert got_native == want and got_ds == want, (mode, got_ds)

    # (2) dotted top-level logical name shadows a same-shaped struct
    t2 = str(tmp_path / "dotted")
    os.makedirs(os.path.join(t2, "_delta_log"))
    fields = [
        {"name": "a.b", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-flat"}},
        {"name": "a", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-s"},
         "type": {"type": "struct", "fields": [
             {"name": "b", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "col-sb"}},
             {"name": "c", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-sc"}},
         ]}},
    ]
    _publish_commit(t2, 0, [
        {"commitInfo": {"timestamp": 0, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "dotted-test",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
        }},
    ])
    rename_delta_column(t2, "a.b", "flat2")
    sch = _json.loads(
        snapshot(t2).metadata["schemaString"]
    )
    assert [f["name"] for f in sch["fields"]] == ["flat2", "a"]
    # the struct child is untouched
    assert [
        nf["name"] for nf in sch["fields"][1]["type"]["fields"]
    ] == ["b", "c"]
    # with the flat name gone, the dotted path now reaches the child
    rename_delta_column(t2, "a.b", "bb")
    sch = _json.loads(snapshot(t2).metadata["schemaString"])
    assert [
        nf["name"] for nf in sch["fields"][1]["type"]["fields"]
    ] == ["bb", "c"]

    # (3) 'id' mode with a declared field missing its id: LOUD
    t3 = str(tmp_path / "noid")
    import pyarrow as pa
    import pyarrow.parquet as pq

    fname = os.path.join(t3, "part-0.parquet")
    os.makedirs(t3)
    sch_pa = pa.schema(
        [pa.field("col-x", pa.int64(), metadata={b"PARQUET:field_id": b"1"})]
    )
    pq.write_table(
        pa.table({"col-x": pa.array([5], pa.int64())}).cast(sch_pa), fname
    )
    _publish_commit(t3, 0, [
        {"commitInfo": {"timestamp": 0, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "noid-test",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps({"type": "struct", "fields": [
                {"name": "x", "type": "long", "nullable": True,
                 "metadata": {
                     "delta.columnMapping.physicalName": "col-x"
                 }},  # id MISSING — spec-invalid
            ]}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": os.path.getsize(fname), "modificationTime": 0,
                 "dataChange": True}},
    ])
    with pytest.raises(Exception, match="delta.columnMapping.id"):
        spark.read.format("deltalog").load(t3).collect()


def test_update_nested_field_set(spark, tmp_path):
    """``UPDATE SET s.a = expr`` (r13): nested SET targets rewrite
    into whole-struct named_struct assignments with delta-spark's
    UpdateExpressionsSupport semantics — untouched siblings pass
    through, a NULL struct row becomes NON-null with NULLs in the
    unassigned fields, deeper nesting recurses, and the same surface
    works over CoW, merge-on-read (DV), column-mapped tables, and the
    SQL text form. Exact top-level dotted names still win."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import update_delta

    t = str(tmp_path / "nset")
    df = spark.createDataFrame(
        [
            (1, (10, "x", (100,))),
            (2, (20, "y", (200,))),
            (3, None),
        ],
        "id long, s struct<a:long,b:string,d:struct<e:long>>",
    )
    write_delta(spark, df, t)
    r = update_delta(spark, t, "id = 1", {"s.a": "s.a + 5"})
    assert r["rows_updated"] == 1
    got = {x.id: x.s for x in read_delta(spark, t).collect()}
    assert got[1].a == 15 and got[1].b == "x" and got[1].d.e == 100
    assert got[2].a == 20  # untouched row
    # deeper nesting + NULL struct row: becomes non-null, others NULL
    update_delta(spark, t, "id = 3", {"s.d.e": "777"})
    got = {x.id: x.s for x in read_delta(spark, t).collect()}
    assert got[3] is not None
    assert got[3].a is None and got[3].b is None and got[3].d.e == 777
    # SQL form
    delta_sql(spark, f"UPDATE delta.`{t}` SET s.b = 'Z' WHERE id = 2")
    got = {x.id: x.s for x in read_delta(spark, t).collect()}
    assert got[2].b == "Z" and got[2].a == 20
    # errors: unknown leaf, non-struct hop, conflicting assignments
    with pytest.raises(ValueError, match="no field"):
        update_delta(spark, t, "id = 1", {"s.nope": "1"})
    with pytest.raises(ValueError, match="not a struct"):
        update_delta(spark, t, "id = 1", {"id.x": "1"})
    with pytest.raises(ValueError, match="conflicting"):
        update_delta(
            spark, t, "id = 1",
            {"s": "named_struct('a', 1L, 'b', 'q', 'd', s.d)",
             "s.a": "2"},
        )
    # DV (merge-on-read) path
    t2 = str(tmp_path / "nset_dv")
    write_delta(
        spark, df, t2,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    rr = update_delta(spark, t2, "id = 2", {"s.a": "s.a * 2"})
    assert rr["files_rewritten"] == 0  # masked, not rewritten
    got2 = {x.id: x.s for x in read_delta(spark, t2).collect()}
    assert got2[2].a == 40 and got2[2].b == "y"
    # column-mapped table: nested SET binds LOGICAL names
    t3 = str(tmp_path / "nset_map")
    write_delta(
        spark, df, t3,
        configuration={"delta.columnMapping.mode": "name"},
    )
    update_delta(spark, t3, "s.b = 'y'", {"s.a": "s.a + 1000"})
    got3 = {x.id: x.s for x in read_delta(spark, t3).collect()}
    assert got3[2].a == 1020 and got3[1].a == 10
    # exact dotted TOP-LEVEL name beats nesting
    t4 = str(tmp_path / "nset_dotted")
    df4 = spark.createDataFrame([(1, 5)], "id long, `s.a` long")
    write_delta(spark, df4, t4)
    update_delta(spark, t4, "id = 1", {"s.a": "99"})
    assert read_delta(spark, t4).collect()[0]["s.a"] == 99


def test_merge_clause_engine(spark, tmp_path):
    """Full MERGE clause semantics (r13): ordered WHEN MATCHED
    [AND cond] UPDATE SET/DELETE, WHEN NOT MATCHED [AND cond] INSERT,
    WHEN NOT MATCHED BY SOURCE UPDATE/DELETE — first matching clause
    wins, unclaimed matched/target rows KEEP, unclaimed source rows
    are NOT inserted; expressions bind t./s.; CDF records exact MERGE
    changes (pre/post pairs, deletes, inserts, untouched absent)."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import table_changes

    t = str(tmp_path / "mclause")
    target = spark.createDataFrame(
        [(1, 10.0, "keep"), (2, 20.0, "upd"), (3, 30.0, "del"),
         (4, 40.0, "stale"), (5, 50.0, "hold")],
        "k long, v double, tag string",
    )
    write_delta(
        spark, target, t,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    src = spark.createDataFrame(
        [(2, 200.0), (3, 300.0), (6, 600.0), (7, 7.0)],
        "k long, nv double",
    )
    v = merge_into_delta_native(
        spark, t, src, ["k"],
        matched=[
            {"condition": "s.nv > 100", "update": {"v": "s.nv + t.v"}},
            {"delete": True},
        ],
        not_matched=[
            {"condition": "s.nv >= 100",
             "insert": {"k": "s.k", "v": "s.nv", "tag": "'new'"}},
        ],
        not_matched_by_source=[
            {"condition": "t.tag = 'stale'", "delete": True},
        ],
    )
    got = {r.k: (r.v, r.tag) for r in read_delta(spark, t).collect()}
    # k=2 matched, nv=200>100 -> v=220, tag kept; k=3 matched nv=300>100
    # -> also UPDATE (first clause wins), v=330
    assert got[2] == (220.0, "upd") and got[3] == (330.0, "del")
    # k=6 inserted (nv>=100), k=7 NOT inserted (condition false)
    assert got[6] == (600.0, "new") and 7 not in got
    # k=4 deleted by-source; k=1, k=5 keep
    assert 4 not in got and got[1] == (10.0, "keep") and got[5] == (50.0, "hold")
    # CDF: exact change set for the merge version
    ch = table_changes(spark, t, v)
    rows = sorted(
        (r["_change_type"], r.k, r.v) for r in ch.collect()
    )
    assert rows == sorted([
        ("update_preimage", 2, 20.0), ("update_postimage", 2, 220.0),
        ("update_preimage", 3, 30.0), ("update_postimage", 3, 330.0),
        ("insert", 6, 600.0),
        ("delete", 4, 40.0),
    ])
    # matched DELETE actually deletes when the first clause misses
    t2 = str(tmp_path / "mclause2")
    write_delta(spark, target, t2)
    merge_into_delta_native(
        spark, t2, src, ["k"],
        matched=[
            {"condition": "s.nv > 250", "update": {"v": "s.nv"}},
            {"delete": True},
        ],
    )
    got2 = {r.k: r.v for r in read_delta(spark, t2).collect()}
    # k=3: nv=300>250 -> updated; k=2: nv=200 not >250 -> deleted;
    # no not_matched clause -> 6,7 NOT inserted
    assert got2[3] == 300.0 and 2 not in got2 and 6 not in got2
    assert got2[1] == 10.0 and got2[4] == 40.0
    # errors
    with pytest.raises(ValueError, match="cannot use '\\*'"):
        merge_into_delta_native(
            spark, t2, src, ["k"],
            not_matched_by_source=[{"update": "*"}],
        )
    with pytest.raises(ValueError, match="unknown/nested"):
        merge_into_delta_native(
            spark, t2, src, ["k"], matched=[{"update": {"nope": "1"}}]
        )
    with pytest.raises(ValueError, match="LAST"):
        merge_into_delta_native(
            spark, t2, src, ["k"],
            matched=[{"delete": True}, {"condition": "1=1", "delete": True}],
        )
    # column-mapped target: clause expressions bind LOGICAL names
    t3 = str(tmp_path / "mclause_map")
    write_delta(
        spark, target, t3,
        configuration={"delta.columnMapping.mode": "name"},
    )
    merge_into_delta_native(
        spark, t3, src, ["k"],
        matched=[{"update": {"v": "s.nv"}}],
        not_matched=[{"insert": {"k": "s.k", "v": "s.nv", "tag": "'m'"}}],
    )
    got3 = {r.k: r.v for r in read_delta(spark, t3).collect()}
    assert got3[2] == 200.0 and got3[6] == 600.0 and got3[1] == 10.0


def test_merge_sql_clause_forms(spark, tmp_path):
    """The SQL MERGE surface (r13): beyond upsert-star, conditioned
    WHEN MATCHED UPDATE SET a = expr / DELETE, WHEN NOT MATCHED
    INSERT (cols) VALUES (exprs), and WHEN NOT MATCHED BY SOURCE
    DELETE parse into the clause engine; user aliases normalize to
    the engine's t./s. planes."""
    from value_at_risk_spark.sources.delta_sql import delta_sql

    t = str(tmp_path / "msql")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
        ),
        t,
    )
    spark.createDataFrame(
        [(2, 200.0), (3, 3.0), (9, 900.0), (8, 8.0)], "k long, nv double"
    ).createOrReplaceTempView("msql_src")
    delta_sql(
        spark,
        f"""MERGE INTO delta.`{t}` AS tgt USING msql_src AS src
            ON tgt.k = src.k
            WHEN MATCHED AND src.nv > 100 THEN UPDATE SET v = src.nv + tgt.v
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED AND src.nv > 100
                 THEN INSERT (k, v) VALUES (src.k, src.nv * 2)""",
    )
    got = {r.k: r.v for r in read_delta(spark, t).collect()}
    # k=2 updated (220), k=3 deleted (nv=3 not >100), k=9 inserted
    # (1800), k=8 not inserted, k=1 kept
    assert got == {1: 10.0, 2: 220.0, 9: 1800.0}
    # upsert-star still parses (the cheap plan)
    spark.createDataFrame(
        [(1, 111.0)], "k long, v double"
    ).createOrReplaceTempView("msql_src2")
    delta_sql(
        spark,
        f"MERGE INTO delta.`{t}` t USING msql_src2 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert {
        r.k: r.v for r in read_delta(spark, t).collect()
    }[1] == 111.0
    # BY SOURCE delete
    delta_sql(
        spark,
        f"MERGE INTO delta.`{t}` t USING msql_src2 s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    assert {r.k for r in read_delta(spark, t).collect()} == {1}


def test_ds_writer_mapped_tables(spark, tmp_path):
    """The DS Arrow writers over COLUMN-MAPPED tables (r13): task-
    staged files carry physical names at every nesting level plus
    parquet field ids (pyarrow emits PARQUET:field_id from the arrow
    field metadata), partition dirs and partitionValues use physical
    names, and reads through BOTH readers stay logical — 'name' and
    'id' modes, nested struct + array<struct> columns, and the
    exactly-once stream sink."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    kind = (
        "id long, seg string, s struct<a:long,b:string>, "
        "arr array<struct<p:double,q:long>>"
    )
    base = spark.createDataFrame(
        [(1, "a", (10, "x"), [(1.5, 2)]), (2, "b", (20, "y"), [(3.5, 4)])],
        kind,
    )
    more = spark.createDataFrame([(3, "a", (30, "z"), [(5.5, 6)])], kind)
    for mode in ("name", "id"):
        t = str(tmp_path / f"dsw_{mode}")
        write_delta(
            spark, base, t, partition_by=["seg"],
            configuration={"delta.columnMapping.mode": mode},
        )
        more.write.format("deltalog").mode("append").save(t)
        got = read_delta(spark, t)
        assert sorted(
            (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
            for r in got.collect()
        ) == sorted(
            (r.id, r.seg, tuple(r.s), tuple(map(tuple, r.arr)))
            for r in base.unionByName(more).collect()
        )
        # DS round trip too
        ds = spark.read.format("deltalog").load(t)
        assert ds.count() == 3
        # the DS-staged file carries physical nested names + field ids
        newest = max(
            _glob.glob(f"{t}/**/part-*.parquet", recursive=True),
            key=os.path.getmtime,
        )
        fsch = pq.ParquetFile(newest).schema_arrow
        assert all(n.startswith("col-") for n in fsch.names)
        sf = next(f for f in fsch if pa.types.is_struct(f.type))
        for i in range(sf.type.num_fields):
            nf = sf.type.field(i)
            assert nf.name.startswith("col-")
            assert (nf.metadata or {}).get(b"PARQUET:field_id")
    # stream sink into a mapped table: exactly-once append, logical
    # read-back
    t2 = str(tmp_path / "dsw_stream")
    write_delta(
        spark, base, t2,
        configuration={"delta.columnMapping.mode": "name"},
    )
    src_dir = str(tmp_path / "stream_src")
    more.coalesce(1).write.json(src_dir)
    q = (
        spark.readStream.schema(more.schema)
        .json(src_dir)
        .writeStream.format("deltalog")
        .option("path", t2)
        .option("appId", "dsw_mapped_test")
        .option(
            "checkpointLocation", str(tmp_path / "dsw_stream_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert read_delta(spark, t2).count() == 3


def test_merge_sql_parser_hardening(spark, tmp_path):
    """Review fixes (r13): MERGE SQL parsing is literal-masked (commas
    / WHEN / alias-lookalikes inside '...' never split or rewrite),
    alias normalization is ONE-pass (a source alias literally 't'
    cannot cascade target refs onto the source plane), nested SET
    targets refuse instead of silently retargeting a same-named
    top-level column, CASE WHEN ... THEN inside a clause condition
    parses, and the clause engine's helper columns are
    collision-proof."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.delta_sql import delta_sql

    t = str(tmp_path / "msqlh")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 10.0, "x"), (2, 20.0, "y")], "k long, v double, tag string"
        ),
        t,
    )
    spark.createDataFrame(
        [(2, 5.0), (9, 9.0)], "k long, nv double"
    ).createOrReplaceTempView("msqlh_src")
    # literal with comma + alias-lookalike inside; source alias is 't'
    # (the target alias 'tgt' must NOT cascade onto the source plane);
    # CASE WHEN ... THEN inside the clause condition
    delta_sql(
        spark,
        f"""MERGE INTO delta.`{t}` AS tgt USING msqlh_src AS t
            ON tgt.k = t.k
            WHEN MATCHED AND (CASE WHEN t.nv < tgt.v THEN true
                              ELSE false END) THEN
                 UPDATE SET v = tgt.v + t.nv, tag = 't.abc, WHEN MATCHED'
            WHEN NOT MATCHED THEN INSERT (k, v, tag)
                 VALUES (t.k, t.nv, 'a,b')""",
    )
    got = {r.k: (r.v, r.tag) for r in read_delta(spark, t).collect()}
    assert got[2] == (25.0, "t.abc, WHEN MATCHED")
    assert got[9] == (9.0, "a,b") and got[1] == (10.0, "x")
    # nested SET target refuses loudly (never retargets a same-named
    # top-level column)
    with pytest.raises(NotImplementedError, match="nested SET"):
        delta_sql(
            spark,
            f"MERGE INTO delta.`{t}` a USING msqlh_src b ON a.k = b.k "
            "WHEN MATCHED THEN UPDATE SET s.a = 1",
        )
    # same aliases refuse
    with pytest.raises(ValueError, match="aliases must differ"):
        delta_sql(
            spark,
            f"MERGE INTO delta.`{t}` x USING msqlh_src x ON x.k = x.k "
            "WHEN MATCHED THEN DELETE",
        )
    # clause-engine helper names cannot collide with user columns
    t2 = str(tmp_path / "msqlh2")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, "real")], "k long, _t_p string"
        ),
        t2,
    )
    merge_into_delta_native(
        spark, t2,
        spark.createDataFrame([(1, "upd"), (2, "new")], "k long, _t_p string"),
        ["k"],
        matched=[{"update": {"_t_p": "s._t_p"}}],
        not_matched=[{"insert": "*"}],
    )
    assert {r.k: r._t_p for r in read_delta(spark, t2).collect()} == {
        1: "upd", 2: "new",
    }


def test_sql_insert_and_ctas(spark, tmp_path):
    """INSERT INTO / INSERT OVERWRITE / CTAS SQL forms (r13): INSERT
    binds by POSITION (optional column list, unlisted columns NULL,
    arity checked), the SELECT tail may reference OTHER delta tables,
    and CTAS creates partitioned/TBLPROPERTIES'd tables from any
    SELECT — refusing to clobber an existing table."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import snapshot as _snap

    t = str(tmp_path / "ins")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a", 1.5)], "k long, s string, v double"),
        t,
    )
    # VALUES, positional
    delta_sql(
        spark, f"INSERT INTO delta.`{t}` VALUES (2, 'b,with comma', 2.5)"
    )
    # column list: v omitted -> NULL
    delta_sql(spark, f"INSERT INTO delta.`{t}` (k, s) VALUES (3, 'c')")
    got = {r.k: (r.s, r.v) for r in read_delta(spark, t).collect()}
    assert got == {1: ("a", 1.5), 2: ("b,with comma", 2.5), 3: ("c", None)}
    # INSERT ... SELECT from ANOTHER delta table
    t2 = str(tmp_path / "ins_src")
    write_delta(
        spark,
        spark.createDataFrame([(7, "z", 9.0)], "k long, s string, v double"),
        t2,
    )
    delta_sql(
        spark,
        f"INSERT INTO delta.`{t}` SELECT k, s, v FROM delta.`{t2}`",
    )
    assert read_delta(spark, t).count() == 4
    # INSERT OVERWRITE replaces
    delta_sql(
        spark, f"INSERT OVERWRITE delta.`{t}` VALUES (10, 'only', 0.5)"
    )
    assert [(r.k, r.s) for r in read_delta(spark, t).collect()] == [
        (10, "only")
    ]
    # arity mismatch refuses
    with pytest.raises(ValueError, match="values for"):
        delta_sql(spark, f"INSERT INTO delta.`{t}` VALUES (1, 'x')")
    with pytest.raises(ValueError, match="unknown column"):
        delta_sql(spark, f"INSERT INTO delta.`{t}` (nope) VALUES (1)")
    # CTAS with partitioning + TBLPROPERTIES (a MAPPED table via SQL)
    t3 = str(tmp_path / "ctas")
    delta_sql(
        spark,
        f"CREATE TABLE delta.`{t3}` USING DELTA PARTITIONED BY (s) "
        "TBLPROPERTIES ('delta.columnMapping.mode'='name') "
        f"AS SELECT k, s, v FROM delta.`{t2}`",
    )
    snap3 = _snap(t3)
    assert snap3.metadata["configuration"][
        "delta.columnMapping.mode"
    ] == "name"
    assert snap3.partition_columns == ["s"]
    assert [tuple(r) for r in read_delta(spark, t3).collect()] == [
        (7, "z", 9.0)
    ]
    with pytest.raises(ValueError, match="already exists"):
        delta_sql(
            spark,
            f"CREATE TABLE delta.`{t3}` AS SELECT * FROM delta.`{t2}`",
        )


def test_convert_to_delta(spark, tmp_path):
    """CONVERT TO DELTA (r13): an in-place v0 commit over an existing
    parquet directory — zero data rewritten, footer stats attached
    (data skipping works from day one), Hive partition dirs become
    typed partitionValues (types from the caller — dirs cannot carry
    them), and the converted table takes DML like any native table."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        convert_to_delta,
        delete_from_delta,
        snapshot as _snap,
    )

    # partitioned parquet dir written by plain Spark
    d = str(tmp_path / "plainpq")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(90)], "id long, seg int, v double"
    )
    df.write.partitionBy("seg").parquet(d)
    import glob as _glob

    files_before = sorted(_glob.glob(f"{d}/**/*.parquet", recursive=True))
    with pytest.raises(ValueError, match="partition_schema"):
        convert_to_delta(spark, d)
    assert convert_to_delta(spark, d, {"seg": "integer"}) == 0
    # zero data rewritten
    assert sorted(
        _glob.glob(f"{d}/**/*.parquet", recursive=True)
    ) == files_before
    got = read_delta(spark, d)
    assert got.schema["seg"].dataType.simpleString() == "int"
    assert got.count() == 90
    assert got.filter("seg = 1").count() == 30
    # footer stats made it into the adds (data skipping evidence)
    snap = _snap(d)
    import json as _json

    assert all(
        _json.loads(a["stats"])["numRecords"] > 0
        for a in (snap.files[r] for r in snap.files)
        if a.get("stats")
    )
    # the converted table takes DML
    delete_from_delta(spark, d, "id < 10")
    assert read_delta(spark, d).count() == 80
    # double convert refuses; SQL form on an unpartitioned dir
    with pytest.raises(ValueError, match="already a delta table"):
        convert_to_delta(spark, d, {"seg": "integer"})
    d2 = str(tmp_path / "plain2")
    df.select("id", "v").write.parquet(d2)
    delta_sql(spark, f"CONVERT TO DELTA parquet.`{d2}`")
    assert read_delta(spark, d2).count() == 90
    # SQL partitioned form
    d3 = str(tmp_path / "plain3")
    df.write.partitionBy("seg").parquet(d3)
    delta_sql(
        spark, f"CONVERT TO DELTA parquet.`{d3}` PARTITIONED BY (seg int)"
    )
    assert read_delta(spark, d3).filter("seg = 2").count() == 30


def test_enable_column_mapping_on_existing_table(spark, tmp_path):
    """Mid-life none -> 'name' column-mapping UPGRADE (r13,
    set_table_properties): metadata-only — physicalName = the CURRENT
    field name at every nesting level (the existing files already
    carry those names; delta-spark's upgrade semantics), maxColumnId
    set, protocol lifted with columnMapping in both feature lists.
    After the upgrade, RENAME COLUMN / nested DROP work, new appends
    keep staging the (now physical) names, old files stay readable,
    and forbidden mode changes refuse."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        rename_delta_column,
        set_table_properties,
        snapshot as _snap,
        update_delta,
    )

    t = str(tmp_path / "upmap")
    df = spark.createDataFrame(
        [(1, "a", (10, "x")), (2, "b", (20, "y"))],
        "id long, seg string, s struct<a:long,b:string>",
    )
    write_delta(spark, df, t, partition_by=["seg"])
    set_table_properties(t, {"delta.columnMapping.mode": "name"})
    snap = _snap(t)
    cfg = snap.metadata["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"
    assert cfg["delta.columnMapping.maxColumnId"] == "5"  # id,seg,s,s.a,s.b
    assert "columnMapping" in (snap.protocol.get("readerFeatures") or [])
    assert "columnMapping" in (snap.protocol.get("writerFeatures") or [])
    # old files readable; physicalName == logical name
    assert {r.id: tuple(r.s) for r in read_delta(spark, t).collect()} == {
        1: (10, "x"), 2: (20, "y"),
    }
    # the point of the upgrade: RENAME is now metadata-only
    rename_delta_column(t, "id", "key")
    rename_delta_column(t, "s.a", "alpha")
    got = read_delta(spark, t)
    assert got.columns == ["key", "seg", "s"]
    assert got.schema["s"].dataType.fieldNames() == ["alpha", "b"]
    assert {r.key: r.s.alpha for r in got.collect()} == {1: 10, 2: 20}
    # appends + DML keep working through the mapping planes
    write_delta(
        spark,
        spark.createDataFrame(
            [(3, "c", (30, "z"))],
            "key long, seg string, s struct<alpha:long,b:string>",
        ),
        t,
        mode="append",
    )
    update_delta(spark, t, "key = 3", {"s.alpha": "s.alpha + 1"})
    assert {r.key: r.s.alpha for r in read_delta(spark, t).collect()} == {
        1: 10, 2: 20, 3: 31,
    }
    # SQL form drives the same upgrade
    t2 = str(tmp_path / "upmap2")
    write_delta(spark, df.select("id", "seg"), t2)
    delta_sql(
        spark,
        f"ALTER TABLE delta.`{t2}` SET TBLPROPERTIES "
        "('delta.columnMapping.mode'='name')",
    )
    rename_delta_column(t2, "seg", "segment")
    assert read_delta(spark, t2).columns == ["id", "segment"]
    # forbidden transitions refuse
    with pytest.raises(NotImplementedError, match="none -> 'name'"):
        set_table_properties(t2, {"delta.columnMapping.mode": "id"})
    # idempotent re-set is fine; OTHER properties on a mapped table
    # no longer refuse (metadata-only)
    set_table_properties(t2, {"delta.columnMapping.mode": "name"})
    set_table_properties(t2, {"delta.enableChangeDataFeed": "true"})


def test_properties_combined_enablement_protocol(spark, tmp_path):
    """Review fix (r13): set_table_properties emits ONE protocol
    action per commit — snapshot replay keeps only the LAST protocol
    action, so per-branch actions silently dropped each other's
    features when several properties enabled in one call; and a
    same-call ICT enablement no longer clobbers the mapping upgrade's
    id-assigned schemaString."""
    import json as _json

    from value_at_risk_spark.sources.deltalog import (
        rename_delta_column,
        set_table_properties,
        snapshot as _snap,
    )

    t = str(tmp_path / "combo")
    write_delta(
        spark,
        spark.createDataFrame([(1, "a")], "id long, k string"),
        t,
    )
    # mapping upgrade + CDF + v2 checkpoints + ICT, ONE call
    set_table_properties(
        t,
        {
            "delta.columnMapping.mode": "name",
            "delta.enableChangeDataFeed": "true",
            "delta.checkpointPolicy": "v2",
            "delta.enableInCommitTimestamps": "true",
        },
    )
    snap = _snap(t)
    wf = set(snap.protocol.get("writerFeatures") or [])
    rf = set(snap.protocol.get("readerFeatures") or [])
    assert {
        "columnMapping", "changeDataFeed", "v2Checkpoint",
        "inCommitTimestamp",
    } <= wf
    assert {"columnMapping", "v2Checkpoint"} <= rf
    # the upgraded schemaString survived the ICT meta rebuild
    sch = _json.loads(snap.metadata["schemaString"])
    assert all(
        "delta.columnMapping.physicalName" in (f.get("metadata") or {})
        for f in sch["fields"]
    )
    rename_delta_column(t, "k", "kk")
    assert read_delta(spark, t).columns == ["id", "kk"]


def test_insert_positional_and_auto_columns(spark, tmp_path):
    """Review fixes (r13): INSERT binds truly positionally (duplicate
    SOURCE column names are legal SQL and must not crash; duplicate
    TARGET columns refuse), and unlisted generated/identity columns
    stay ABSENT so write_delta computes them instead of failing their
    invariants on a forced NULL."""
    from value_at_risk_spark.sources.delta_sql import delta_sql

    t = str(tmp_path / "inspos")
    write_delta(
        spark,
        spark.createDataFrame([(1, 1, 9.0)], "a long, b long, v double"),
        t,
    )
    src = str(tmp_path / "inspos_src")
    write_delta(
        spark, spark.createDataFrame([(5, 7.0)], "k long, v double"), src
    )
    # duplicate SOURCE column names — positional binding
    delta_sql(
        spark,
        f"INSERT INTO delta.`{t}` SELECT k, k, v FROM delta.`{src}`",
    )
    got = sorted(tuple(r) for r in read_delta(spark, t).collect())
    assert got == [(1, 1, 9.0), (5, 5, 7.0)]
    with pytest.raises(ValueError, match="duplicate target"):
        delta_sql(spark, f"INSERT INTO delta.`{t}` (a, a) VALUES (1, 2)")
    # identity table: unlisted identity column gets GENERATED
    t2 = str(tmp_path / "inspos_id")
    from value_at_risk_spark.sources.deltalog import write_delta as _wd

    _wd(
        spark,
        spark.createDataFrame([("x",)], "name string"),
        t2,
        identity_columns={"rid": {"start": 1, "step": 1}},
    )
    delta_sql(spark, f"INSERT INTO delta.`{t2}` (name) VALUES ('y')")
    rows = {r.name: r.rid for r in read_delta(spark, t2).collect()}
    assert rows["y"] is not None and rows["y"] != rows["x"]


def test_one_commit_loop_and_commitinfo_builder():
    """The native log commits through one optimistic loop
    (``deltalog._commit``) and one commitInfo builder
    (``_commit_info``): ``_publish_commit`` is called only from the
    loop and the version-0 creators, and no other function in the log
    or in MERGE writes a ``"commitInfo"`` dict literal. Keeps the
    hand-built commits and copied retry loops from growing back."""
    import ast

    import value_at_risk_spark.operators.merge as merge_mod
    import value_at_risk_spark.sources.deltalog as dl

    publishers: set[str] = set()
    literals: set[str] = set()
    for mod in (dl, merge_mod):
        tree = ast.parse(open(mod.__file__).read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(
                        f, "id", None
                    )
                    if name == "_publish_commit":
                        publishers.add(fn.name)
                if isinstance(node, ast.Dict) and any(
                    isinstance(k, ast.Constant) and k.value == "commitInfo"
                    for k in node.keys
                ):
                    literals.add(fn.name)
    # nested functions are walked by their enclosing ones too: the
    # creation attempt of commit_staged_adds publishes version 0
    assert publishers == {
        "_commit",
        "commit_staged_adds",
        "convert_to_delta",
        "shallow_clone",
    }
    assert literals == {"_commit_info"}
    assert dl._COMMIT_ATTEMPTS == 64


def _disk_files(tbl):
    """Data, deletion-vector and change-data files under a table root
    (the file kinds VACUUM manages), as root-relative paths."""
    out = set()
    for root, dirs, names in os.walk(tbl):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        for n in names:
            if n.endswith(".parquet") or (
                n.startswith("deletion_vector_") and n.endswith(".bin")
            ):
                out.add(os.path.normpath(os.path.relpath(os.path.join(root, n), tbl)))
    return out


@pytest.mark.parametrize("op", ["write", "cow_delete", "dv_update"])
def test_crash_between_staging_and_publish(spark, tmp_path, monkeypatch, op):
    """A writer that dies after staging but before its commit publishes
    leaves no trace a reader can see: the version and the rows are
    unchanged, and VACUUM (retention 0) collects exactly the staged
    orphans — data files, the DV file and the change-data files —
    and nothing live."""
    import value_at_risk_spark.sources.deltalog as dl

    tbl = str(tmp_path / op)
    cfg = {"delta.enableChangeDataFeed": "true"}
    if op == "dv_update":
        cfg["delta.enableDeletionVectors"] = "true"
    write_delta(
        spark,
        spark.range(40).select("id", (F.col("id") % 4).alias("g")).repartition(4),
        tbl,
        configuration=cfg,
    )
    v0, rows0, live = snapshot(tbl).version, _rows(read_delta(spark, tbl)), _disk_files(tbl)

    def crash(path, version, actions):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(dl, "_publish_commit", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        if op == "write":
            write_delta(
                spark,
                spark.range(40, 50).select("id", F.lit(9).cast("long").alias("g")),
                tbl,
            )
        elif op == "cow_delete":
            dl.delete_from_delta(spark, tbl, "g = 1")
        else:
            dl.update_delta(spark, tbl, "g = 2", {"g": "g + 10"})
    monkeypatch.undo()
    orphans = _disk_files(tbl) - live
    kinds = {
        "write": {"data"},
        "cow_delete": {"data", "cdc"},
        "dv_update": {"data", "cdc", "dv"},
    }[op]
    assert {
        "cdc" if p.startswith("_change_data") else "dv" if p.endswith(".bin") else "data"
        for p in orphans
    } == kinds
    assert snapshot(tbl).version == v0
    assert _rows(read_delta(spark, tbl)) == rows0
    assert sorted(dl.vacuum_delta(tbl, retention_seconds=0)) == sorted(orphans)
    assert _disk_files(tbl) == live
    assert _rows(read_delta(spark, tbl)) == rows0


def test_write_validates_rows_in_one_pass(spark, tmp_path, monkeypatch):
    """write_delta into a table with a NOT NULL column and a CHECK
    constraint evaluates its input once per row: the NOT NULL probe,
    the CHECK pass and the staged write all read one localCheckpoint.
    A write with nothing to check gets no checkpoint."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from value_at_risk_spark.sources.deltalog import add_check_constraint

    tbl = str(tmp_path / "checked")
    strict = StructType(
        [StructField("id", LongType(), False), StructField("v", DoubleType(), False)]
    )
    write_delta(spark, spark.createDataFrame([(0, 0.0)], strict), tbl)
    add_check_constraint(spark, tbl, "v_pos", "v >= 0")
    loose = str(tmp_path / "loose")
    write_delta(spark, spark.createDataFrame([(0, 0.0)], "id long, v double"), loose)

    calls = spark.sparkContext.accumulator(0)

    def _counted(i, calls=calls):
        calls.add(1)
        return float(i)

    counted = F.udf(_counted, "double").asNondeterministic()
    checkpoints = []
    rows = spark.range(1, 101).select("id", counted("id").alias("v"))
    frame_cls = type(rows)
    real = frame_cls.localCheckpoint

    def _counting_checkpoint(self, *args, **kwargs):
        checkpoints.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", _counting_checkpoint)
    write_delta(spark, rows, tbl)
    assert (calls.value, len(checkpoints)) == (100, 1)
    write_delta(spark, rows, loose)
    assert (calls.value, len(checkpoints)) == (200, 1)
    assert read_delta(spark, tbl).count() == 101
    with pytest.raises(ValueError, match="NOT NULL"):
        write_delta(
            spark, spark.createDataFrame([(7, None)], "id long, v double"), tbl
        )
    with pytest.raises(ValueError, match="v_pos"):
        write_delta(
            spark, spark.createDataFrame([(7, -1.0)], "id long, v double"), tbl
        )
    assert read_delta(spark, tbl).count() == 101
