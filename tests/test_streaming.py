"""Streaming tier: bounded replay must equal the batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from value_at_risk_spark.functions.timeutil import epoch_seconds
from value_at_risk_spark.sources.registry import Registry
from value_at_risk_spark.streaming.windows import (
    daily_event_aggregates,
    read_events_stream,
    run_available_now,
)


def test_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = daily_event_aggregates(stream)
    got = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in run_available_now(agg, "daily_events_test").collect()
    }

    batch = (
        Registry(sf_dir)
        .read(spark, "events")
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    exp = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == exp
    assert len(got) > 0


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    from value_at_risk_spark.streaming.windows import dedup_stream

    stream = read_events_stream(spark, sf_dir)
    # duplicate the stream against itself via union to create real dupes
    dd = dedup_stream(stream.union(stream), ["event_id"])
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream_test").count()
    exp = Registry(sf_dir).read(spark, "events").select("event_id").distinct().count()
    assert got == exp


def test_incremental_ingest_with_checkpoint(spark, sf_dir, tmp_path):
    """Incremental operation (the reference only hints at it:
    application.yaml:2-3): a checkpointed file-source stream picks up
    newly landed files across restarts without reprocessing old ones."""
    import shutil

    src_dir = tmp_path / "landing"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "batch1.parquet")

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src_dir))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    base = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n1 == base

    # second batch lands; restart processes ONLY the new file
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "batch2.parquet")
    run_once()
    n2 = spark.read.parquet(out).count()
    assert n2 == 2 * base


def test_stream_session_windows_match_batch(spark, sf_dir):
    """Native session_window on a bounded replay == the batch
    session_window aggregation (gap-merge semantics preserved across
    micro-batches and state)."""
    from value_at_risk_spark.streaming.windows import session_windows_stream

    stream = read_events_stream(spark, sf_dir)
    sess = session_windows_stream(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("session_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.sess_start_s, r.sess_end_s, r.n_events)
        for r in spark.table("session_stream_test").collect()
    }

    batch = (
        Registry(sf_dir)
        .read(spark, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            epoch_seconds(F.col("w.start")).alias("sess_start_s"),
            epoch_seconds(F.col("w.end")).alias("sess_end_s"),
            "n_events",
        )
    )
    exp = {
        (r.user_id, r.sess_start_s, r.sess_end_s, r.n_events)
        for r in batch.collect()
    }
    assert got == exp
    assert len(got) > 0


def test_stream_sliding_window_matches_batch(spark, sf_dir):
    from value_at_risk_spark.streaming.windows import sliding_event_aggregates

    stream = read_events_stream(spark, sf_dir)
    agg = sliding_event_aggregates(stream)
    got = {
        (str(r.win_start), str(r.win_end), r.event_type): (r.n_events, r.avg_value)
        for r in run_available_now(agg, "sliding_events_test").collect()
    }

    batch = (
        Registry(sf_dir)
        .read(spark, "events")
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("win_start"),
            F.col("w.end").cast("date").alias("win_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    exp = {
        (str(r.win_start), str(r.win_end), r.event_type): (r.n_events, r.avg_value)
        for r in batch.collect()
    }
    assert got == exp
    assert len(got) > 0


def test_rocksdb_state_store_stateful_restart(spark, sf_dir, tmp_path):
    """The stateful tier under the RocksDB state-store provider: a
    checkpointed applyInPandasWithState stream processed as ~12
    one-file micro-batches across two availableNow runs (restart in the
    middle) ends with exactly the batch totals. RocksDB keeps state off
    the executor heap — the provider for long streams with large state;
    this pins that the engine's stateful operators run unchanged on it."""
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.registry import Registry
    from value_at_risk_spark.streaming.stateful import running_event_totals

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        events = Registry(sf_dir).read(spark, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        src = tmp_path / "landing"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")

        def land(slices):
            for i in slices:
                part = events.filter(F.col("event_id") % 12 == i)
                stage = tmp_path / f"_s{i}"
                part.coalesce(1).write.mode("overwrite").parquet(str(stage))
                shutil.copy(
                    _glob.glob(str(stage / "part-*.parquet"))[0],
                    src / f"slice{i}.parquet",
                )

        out = str(tmp_path / "out")

        def run_once():
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )
            # memory sink can't recover from a checkpoint; foreachBatch
            # + parquet append is the fault-tolerant update-mode sink
            q = (
                running_event_totals(stream)
                .writeStream.foreachBatch(
                    lambda df, _id: df.write.mode("append").parquet(out)
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180)

        land(range(6))
        run_once()
        land(range(6, 12))
        run_once()  # restart: state restored from RocksDB ckpt

        # update-mode output: the final update per key holds the running
        # totals; state crossed 12 micro-batches and one restart
        final = {
            r.event_type: (r.n_events, r.total_value)
            for r in spark.read.parquet(out)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy(
                        F.desc("n_events")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .collect()
        }
        exp = {
            r.event_type: (r.n, round(r.s, 4))
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert final == exp
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream interval join over a bounded replay ==
    the identical batch join: every purchase-side event paired with the
    same user's events in the trailing hour. State is bounded by
    (watermark + interval) x arrival rate — the unbounded-stream shape."""
    from value_at_risk_spark.streaming.joins import interval_join_streams
    from value_at_risk_spark.streaming.windows import read_events_stream

    left_s = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    right_s = read_events_stream(spark, sf_dir)
    joined = interval_join_streams(
        left_s, right_s, by="user_id", lookback_seconds=3600
    )
    sink = "ss_interval_join_test"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r.l_event_id, r.r_event_id)
        for r in spark.table(sink).collect()
    }

    ev = Registry(sf_dir).read(spark, "events")
    l = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_u"),
        F.col("ts").alias("l_ts"),
    )
    r = ev.select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_u"),
        F.col("ts").alias("r_ts"),
    )
    exp = {
        (row.l_id, row.r_id)
        for row in l.join(
            r,
            (F.col("l_u") == F.col("r_u"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 3600 SECONDS"))
            & (F.col("r_ts") <= F.col("l_ts")),
        ).collect()
    }
    assert got == exp
    assert len(exp) > 0


def test_foreachbatch_idempotent_sink_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once SINK semantics on plain parquet (the guarantee the
    reference gets from Delta's transaction log): a checkpointed
    foreachBatch stream is killed after commit-marker loss — the
    classic crash window between sink write and offset commit — and on
    restart Spark genuinely RE-EXECUTES the last batch (at-least-once
    redelivery). The batchId-keyed IdempotentParquetSink must detect
    the replay, skip it, and end with a sink table exactly equal to the
    batch answer — no duplicates, nothing lost."""
    import glob as _glob
    import os
    import shutil

    from value_at_risk_spark.streaming.sinks import IdempotentParquetSink

    events = Registry(sf_dir).read(spark, "events").select(
        "event_id", "event_type", "value"
    )
    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(slices):
        for i in slices:
            part = events.filter(F.col("event_id") % 6 == i)
            stage = tmp_path / f"_s{i}"
            part.coalesce(1).write.mode("overwrite").parquet(str(stage))
            shutil.copy(
                _glob.glob(str(stage / "part-*.parquet"))[0],
                src / f"slice{i}.parquet",
            )

    sink = IdempotentParquetSink(str(tmp_path / "out"))

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(range(3))
    run_once()  # batches 0..2 committed, one file each
    assert sorted(sink.committed(i) for i in range(3)) == [True] * 3

    # crash simulation: the newest commit marker is lost (killed between
    # sink write and offset commit) -> restart re-executes that batch
    commits = sorted(
        (p for p in _glob.glob(ckpt + "/commits/*") if p.rsplit("/", 1)[-1].isdigit()),
        key=lambda p: int(p.rsplit("/", 1)[-1]),
    )
    last = commits[-1]
    os.remove(last)
    # the checksum sidecar must go with it, or the restart's re-commit
    # is mistaken for a concurrent writer
    head, tail = os.path.split(last)
    crc = os.path.join(head, f".{tail}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    land(range(3, 6))  # more data arrives while "down"
    run_once()

    # the replayed batch was delivered again and skipped by the sink
    assert sink.skipped, "expected the lost-commit batch to be replayed"
    # sink table == batch answer, row-for-row
    got = sorted(
        (r.event_id, r.event_type, r.value) for r in sink.read(spark).collect()
    )
    exp = sorted((r.event_id, r.event_type, r.value) for r in events.collect())
    assert got == exp and len(got) > 0

    # belt-and-braces: a direct duplicate delivery of a committed batch
    # is also a no-op (the unit-level contract)
    before = len(sink.read(spark).collect())
    sink(events.limit(5), 0)
    assert len(sink.read(spark).collect()) == before
    assert sink.skipped.count(0) >= 1


def test_streaming_heavy_hitters_superset_of_batch(spark, sf_dir, tmp_path):
    """Streaming MG summaries across a multi-batch replay: the union of
    the shards' FINAL summaries must contain every token whose global
    count exceeds total/(k+1) — the mergeable-summary guarantee holding
    across micro-batch boundaries and state round-trips. Verified
    against exact batch counts of the same token stream."""
    import glob as _glob
    import shutil

    from value_at_risk_spark.functions.text import tokens as _tokens
    from value_at_risk_spark.streaming.stateful import streaming_heavy_hitters

    k = 3  # far below per-shard vocabulary: forces real MG evictions
    tok = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(_tokens("text")).alias("token"))
    )
    src = tmp_path / "tok_landing"
    src.mkdir()
    # 4 slices -> 4 micro-batches under maxFilesPerTrigger=1
    for i in range(4):
        part = tok.withColumn(
            "_h", F.abs(F.xxhash64("token", F.monotonically_increasing_id()))
        ).filter(F.col("_h") % 4 == i).drop("_h")
        stage = tmp_path / f"_t{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(
            _glob.glob(str(stage / "part-*.parquet"))[0],
            src / f"slice{i}.parquet",
        )

    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    hh = streaming_heavy_hitters(stream, k=k, nshards=8)
    sink = "hh_stream_test"
    q = (
        hh.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # memory sink in update mode appends every emit; keep each shard's
    # LAST summary (the final state) via the state-carried batch_seq
    final, last_seq = {}, {}
    for r in spark.table(sink).collect():
        if r.batch_seq >= last_seq.get(r.shard, 0):
            last_seq[r.shard] = r.batch_seq
            final[r.shard] = set(r.tokens)
    assert final
    # multi-batch replay must actually have advanced the counter
    assert max(last_seq.values()) > 1

    # the MG guarantee is PER SHARD: any token whose count within its
    # shard exceeds shard_total/(k+1) must be in that shard's summary
    counts = (
        tok.withColumn("shard", (F.abs(F.xxhash64("token")) % 8).cast("int"))
        .groupBy("shard", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    shard_totals = {}
    for r in counts:
        shard_totals[r.shard] = shard_totals.get(r.shard, 0) + r.n
    checked = 0
    for r in counts:
        if r.n > shard_totals[r.shard] / (k + 1):
            checked += 1
            assert r.token in final.get(r.shard, set()), (r.shard, r.token)
    assert checked > 0, "fixture should produce per-shard heavy hitters"


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    """enrich_stream_with_dim: a user-dimension lookup on the event
    stream must produce the same enriched aggregate as the batch join,
    events with no dimension row survive with NULLs (left join
    contract), and the per-batch plan broadcasts the dim."""
    import uuid

    from value_at_risk_spark.streaming.joins import enrich_stream_with_dim
    from value_at_risk_spark.streaming.windows import read_events_stream

    events = Registry(sf_dir).read(spark, "events")
    # dimension covering only even user ids — odd ids must survive NULL
    dim = (
        events.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .select(
            "user_id",
            F.concat(F.lit("seg_"), (F.col("user_id") % 3)).alias("segment"),
        )
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = enrich_stream_with_dim(stream, dim, on="user_id")
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # executed micro-batch plan: the dim lookup must be a broadcast
    # hash join inside the batch (a streaming frame has no
    # queryExecution; the StreamingQuery exposes the last one)
    plan = q._jsq.explainInternal(True)
    assert "BroadcastHashJoin" in plan
    got = {r.segment: (r.n, r.total) for r in spark.table(name).collect()}

    exp = {
        r.segment: (r.n, r.total)
        for r in events.join(F.broadcast(dim), "user_id", "left")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
        .collect()
    }
    assert got == exp
    assert None in got  # un-enriched events preserved
    assert len(got) > 1


def test_idempotent_sink_vacuum_retention(spark, tmp_path):
    """IdempotentParquetSink.vacuum: keep_last / before_batch_id
    retention drops exactly the expected batch dirs plus staging
    garbage, surviving data reads back intact, and the two modes are
    mutually exclusive."""
    import os

    import pytest

    from value_at_risk_spark.streaming.sinks import IdempotentParquetSink

    sink = IdempotentParquetSink(str(tmp_path / "sink"))
    for b in range(5):
        sink(spark.range(b * 10, b * 10 + 10).toDF("v"), b)
    # crash garbage
    os.makedirs(os.path.join(sink.out_dir, "_tmp_batch_99"))

    with pytest.raises(ValueError):
        sink.vacuum()
    with pytest.raises(ValueError):
        sink.vacuum(keep_last=2, before_batch_id=3)

    removed = sink.vacuum(keep_last=3)
    assert removed == [0, 1]
    assert not os.path.exists(os.path.join(sink.out_dir, "_tmp_batch_99"))
    vals = {r.v for r in sink.read(spark).collect()}
    assert vals == set(range(20, 50))

    removed = sink.vacuum(before_batch_id=4)
    assert removed == [2, 3]
    assert {r.v for r in sink.read(spark).collect()} == set(range(40, 50))


def test_incremental_corpus_stats_exactly_once(spark, sf_dir, tmp_path):
    """Incremental corpus statistics: multi-batch streaming ingest of
    the documents table produces EXACTLY the batch-recompute mix table
    (additive partials + exactly-once commits), and a full replay from
    a fresh checkpoint against the same sink does not double-count
    (batchId dedup)."""
    from value_at_risk_spark.streaming.corpus import (
        corpus_batch_partials,
        read_corpus_stats,
        start_incremental_corpus_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = str(tmp_path / "docs_staged")
    docs.repartition(8).write.parquet(staged)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
    )
    out = str(tmp_path / "stats_sink")
    q, sink = start_incremental_corpus_stats(
        stream, out, str(tmp_path / "ckpt1")
    )
    assert q.awaitTermination(120)
    assert len([b for b in range(50) if sink.committed(b)]) >= 2  # multi-batch

    got = {
        (r.source, r.lang): (r.n_docs, r.n_tokens)
        for r in read_corpus_stats(spark, out).collect()
    }
    exp = {
        (r.source, r.lang): (r.n_docs, r.n_tokens)
        for r in corpus_batch_partials(docs).collect()
    }
    assert got == exp and len(got) > 0

    # replay everything with a FRESH checkpoint into the SAME sink:
    # batchIds repeat, the sink skips them, stats unchanged
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(staged)
    )
    q2, sink2 = start_incremental_corpus_stats(
        stream2, out, str(tmp_path / "ckpt2")
    )
    assert q2.awaitTermination(120)
    assert sink2.skipped  # redeliveries were deduplicated
    got2 = {
        (r.source, r.lang): (r.n_docs, r.n_tokens)
        for r in read_corpus_stats(spark, out).collect()
    }
    assert got2 == exp


def test_cdc_apply_batch_boundary_invariance(spark, sf_dir, tmp_path):
    """The CDC fold's final live table is identical whether the feed
    arrives as ONE micro-batch or one-file-at-a-time — the seq-ordered
    apply (not arrival-ordered) is what guarantees it."""
    from value_at_risk_spark.streaming.cdc import CdcTableSink

    cust = Registry(sf_dir).read(spark, "customer")
    k = F.col("c_custkey").alias("k")
    ins = cust.select(
        k, F.lit(1).alias("seq"), F.lit("I").alias("op"),
        F.col("c_name").alias("name"), F.round("c_acctbal", 2).alias("bal"),
    )
    upd = cust.filter(F.col("c_custkey") % 3 == 0).select(
        k, F.lit(2).alias("seq"), F.lit("U").alias("op"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") + 100, 2).alias("bal"),
    )
    dele = cust.filter(F.col("c_custkey") % 7 == 0).select(
        k, F.lit(3).alias("seq"), F.lit("D").alias("op"),
        F.col("c_name").alias("name"), F.lit(0.0).alias("bal"),
    )
    changes = ins.unionByName(upd).unionByName(dele)
    src = str(tmp_path / "feed")
    changes.repartition(5).write.parquet(src)

    def run(max_files, tag):
        reader = spark.readStream.schema(
            "k long, seq int, op string, name string, bal double"
        )
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        sink = CdcTableSink(str(tmp_path / f"tbl_{tag}"), keys=["k"])
        q = (
            reader.parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return sink

    one_shot = run(None, "oneshot")
    drip = run(1, "drip")
    assert len(drip.committed_versions()) > len(one_shot.committed_versions())

    def rows(sink):
        return {
            (r.k, r.name, r.bal) for r in sink.read(spark).collect()
        }

    got = rows(drip)
    assert got == rows(one_shot)

    # equals the batch fold (ROW_NUMBER over seq, drop tombstones)
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    ref = {
        (r.k, r.name, r.bal)
        for r in changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("k", "name", "bal")
        .collect()
    }
    assert got == ref
    # the deletes really deleted and the updates really repriced
    assert all(kk % 7 != 0 for kk, _, _ in got)


def test_cdc_out_of_order_redelivery_and_vacuum(spark, tmp_path):
    """Late-arriving earlier-seq changes never resurrect newer state
    (tombstones included); redelivered batches are skipped; vacuum
    keeps the tip readable."""
    from value_at_risk_spark.streaming.cdc import CdcTableSink

    sink = CdcTableSink(str(tmp_path / "tbl"), keys=["k"])
    schema = "k long, seq int, op string, val string"

    b0 = spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b"), (3, 1, "I", "c")], schema
    )
    b1 = spark.createDataFrame(
        [(1, 3, "D", ""), (2, 3, "U", "b3")], schema
    )
    # late batch: earlier-seq updates for keys 1 and 2 arrive AFTER
    b2 = spark.createDataFrame(
        [(1, 2, "U", "a2"), (2, 2, "U", "b2")], schema
    )
    sink(b0, 0)
    sink(b1, 1)
    sink(b2, 2)

    live = {r.k: r.val for r in sink.read(spark).collect()}
    assert live == {2: "b3", 3: "c"}  # 1 stays deleted, 2 keeps seq-3

    # the tombstone is state, not absence
    state = {r.k: (r.seq, r.op) for r in sink.read_state(spark).collect()}
    assert state[1] == (3, "D")

    # redelivery of batch 1 (same id): skipped, state unchanged
    sink(b1, 1)
    assert sink.skipped == [1]
    assert {r.k: r.val for r in sink.read(spark).collect()} == live

    # time travel: the state as of each batch is still addressable
    assert {r.k: r.val for r in sink.read(spark, at=0).collect()} == {
        1: "a", 2: "b", 3: "c"
    }
    assert {r.k: r.val for r in sink.read(spark, at=1).collect()} == {
        2: "b3", 3: "c"
    }

    # retention: only the tip survives, read still works
    removed = sink.vacuum(keep_last=1)
    assert removed == [0, 1]
    assert {r.k: r.val for r in sink.read(spark).collect()} == live


def test_cdc_seq_tie_never_resurrects_a_delete(spark, tmp_path):
    """A malformed feed that reuses a (key, seq) log position must not
    let an 'U' beat the 'D' tombstone at the same seq: the fold's
    tie-break is an explicit op priority (D > U > I), not
    lexicographic op order."""
    from value_at_risk_spark.streaming.cdc import CdcTableSink

    sink = CdcTableSink(str(tmp_path / "tbl"), keys=["k"])
    schema = "k long, seq int, op string, val string"
    sink(spark.createDataFrame([(1, 1, "I", "a"), (2, 1, "I", "b")], schema), 0)
    # same batch carries both sides of the malformed tie for key 1,
    # and key 2's tie arrives split across two batches
    sink(
        spark.createDataFrame(
            [(1, 2, "D", ""), (1, 2, "U", "zombie"), (2, 2, "D", "")], schema
        ),
        1,
    )
    sink(spark.createDataFrame([(2, 2, "U", "zombie2")], schema), 2)

    live = {r.k: r.val for r in sink.read(spark).collect()}
    assert live == {}  # both keys stay deleted
    state = {r.k: (r.seq, r.op) for r in sink.read_state(spark).collect()}
    assert state == {1: (2, "D"), 2: (2, "D")}


def test_cdc_apply_prior_frame_survives_next_invocation(spark, sf_dir):
    """Round-9 ADVICE fix: the gate query's scratch table is now
    version-per-invocation, so a frame returned by invocation N stays
    collectable after invocation N+1 runs (previously N+1 rmtree'd the
    shared pid-keyed dir at START, silently invalidating N's lazy
    frame). Retention is depth 1 by contract — the prior version is
    pruned only after the next one is fully written."""
    from value_at_risk_spark.queries import QUERIES

    first = QUERIES["streaming_cdc_apply"](spark, sf_dir)
    second = QUERIES["streaming_cdc_apply"](spark, sf_dir)
    exp = sorted(
        (r.k, r.name, r.bal) for r in second.collect()
    )
    # collect the FIRST frame after the SECOND invocation completed
    got = sorted((r.k, r.name, r.bal) for r in first.collect())
    assert got == exp and len(got) > 0


def test_transform_with_state_running_totals(spark, tmp_path):
    """streaming_running_totals rides Spark 4's
    transformWithStateInPandas (the modern stateful-processor API:
    typed ValueState handles instead of applyInPandasWithState's
    tuple contract). The API's state server speaks protobuf, which
    this container does not ship — WITH protobuf the four-file
    availableNow replay must equal the batch per-key (sum, count);
    WITHOUT it the operator must refuse loudly up front (the driver
    worker otherwise crashes mid-query with an opaque STREAM_FAILED)."""
    import glob as _glob
    import shutil

    from value_at_risk_spark.streaming.stateful import (
        streaming_running_totals,
    )

    df = spark.createDataFrame(
        [(i % 7, float(i % 100)) for i in range(500)],
        "user_id long, value double",
    )
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="protobuf"):
            streaming_running_totals(df)
        return

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "twsl"
        src.mkdir()
        for i in range(4):
            part = df.filter(F.col("value") % 4 == i)
            stage = tmp_path / f"_tws{i}"
            part.coalesce(1).write.mode("overwrite").parquet(str(stage))
            shutil.copy(
                _glob.glob(str(stage / "part-*.parquet"))[0],
                src / f"slice{i}.parquet",
            )
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            streaming_running_totals(stream)
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        final = {
            r.user_id: (r.total, r.n)
            for r in spark.table("tws_totals")
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.desc("n"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .collect()
        }
        exp = {
            r.user_id: (r.total, r.n)
            for r in df.groupBy("user_id")
            .agg(F.sum("value").alias("total"), F.count("*").alias("n"))
            .collect()
        }
        assert final == exp and len(final) == 7
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_streaming_gopher_filters_and_jl_projection_match_batch(
    spark, sf_dir
):
    """The r14 pure-projection operators are streaming-safe as
    claimed: gopher quality aggregation and the JL projection yield
    identical results through a bounded file-source replay and the
    batch plan (no state, no watermark — pure Catalyst expressions
    compose with readStream unchanged)."""
    from value_at_risk_spark.functions.text import gopher_quality_flags
    from value_at_risk_spark.functions.vector import (
        jl_project,
        jl_projection_matrix,
    )

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    docs_stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def _gopher_agg(df):
        g = gopher_quality_flags("text")
        kept = (
            g["word_count_ok"]
            & g["mean_word_len_ok"]
            & g["symbol_ratio_ok"]
            & g["alpha_ratio_ok"]
            & g["stopwords_ok"]
        )
        return df.groupBy("source").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(kept.cast("long")).alias("kept"),
        )

    got = {
        r.source: (r.docs, r.kept)
        for r in run_available_now(
            _gopher_agg(docs_stream), "gopher_stream_test"
        ).collect()
    }
    exp = {
        r.source: (r.docs, r.kept)
        for r in _gopher_agg(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).collect()
    }
    assert got == exp and len(got) > 0

    eschema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    emb_stream = (
        spark.readStream.schema(eschema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    mat = jl_projection_matrix(64, 8, seed=7)

    def _proj_sum(df):
        pv = jl_project("ev", mat)
        ev = F.col("embedding").cast("array<double>").alias("ev")
        return df.select(ev).groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.aggregate(pv, F.lit(0.0), lambda a, x: a + x)), 6
            ).alias("proj_checksum"),
        )

    got_p = run_available_now(
        _proj_sum(emb_stream), "jl_stream_test"
    ).collect()[0]
    exp_p = _proj_sum(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ).collect()[0]
    assert (got_p.n, got_p.proj_checksum) == (exp_p.n, exp_p.proj_checksum)


def test_incremental_knn_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming kNN maintenance (streaming/knn.py): multi-batch ingest
    of an embeddings stream maintains a top-k table EQUAL to the
    from-scratch blocked top-k over everything ingested (the
    knn_topk_incremental exactness contract, now under foreachBatch),
    and a full replay from a fresh checkpoint neither double-applies
    nor forks the artifact (versioned batchId commits)."""
    from value_at_risk_spark.operators.similarity import (
        cosine_allpairs_topk_blocked,
    )
    from value_at_risk_spark.streaming.knn import start_incremental_knn

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    staged = str(tmp_path / "emb_staged")
    emb.repartition(4).write.parquet(staged)
    ingested = spark.read.parquet(staged)  # exactly what the stream sees

    stream = (
        spark.readStream.schema(ingested.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    state = str(tmp_path / "knn_state")
    q, sink = start_incremental_knn(stream, state, str(tmp_path / "ckpt1"))
    assert q.awaitTermination(300)
    committed = [b for b in range(50) if sink.topk_sink.committed(b)]
    assert len(committed) >= 3  # genuinely incremental, not one batch

    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in sink.current_topk(spark).collect()
    }
    exp = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in cosine_allpairs_topk_blocked(ingested, k=3).collect()
    }
    assert got == exp and len(got) > 0

    # replay with a FRESH checkpoint into the SAME state dir: every
    # batchId is already committed, the sink skips recomputation, the
    # artifact is unchanged
    stream2 = (
        spark.readStream.schema(ingested.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q2, sink2 = start_incremental_knn(stream2, state, str(tmp_path / "ckpt2"))
    assert q2.awaitTermination(300)
    assert sink2.topk_sink.skipped  # redeliveries deduplicated
    got2 = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in sink2.current_topk(spark).collect()
    }
    assert got2 == exp


def test_incremental_tfidf_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming sparse TF-IDF near-dup maintenance (streaming/
    tfidf.py, r16): multi-batch ingest of a documents stream maintains
    a pair table EQUAL bit-for-bit to the batch operator over
    everything ingested — postings accumulate additively (tokenization
    paid once per batch), the global-IDF pair stage re-runs over the
    accumulated postings per version — and a full replay from a fresh
    checkpoint neither double-applies nor forks the artifact."""
    from value_at_risk_spark.operators.dedup import tfidf_cosine_pairs
    from value_at_risk_spark.streaming.tfidf import start_incremental_tfidf

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
        # planted zero-token docs: without the postings sentinel the
        # sink's recovered n_docs would shrink and every IDF weight
        # would drift from the batch operator's
        .unionByName(
            spark.createDataFrame(
                [(900001, ""), (900002, "   ")],
                "doc_id long, text string",
            )
        )
    )
    staged = str(tmp_path / "docs_staged")
    docs.repartition(4).write.parquet(staged)
    ingested = spark.read.parquet(staged)

    stream = (
        spark.readStream.schema(ingested.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    state = str(tmp_path / "tfidf_state")
    q, sink = start_incremental_tfidf(
        stream, state, str(tmp_path / "ckpt1"), threshold=0.2, df_cap=120
    )
    assert q.awaitTermination(300)
    committed = [b for b in range(50) if sink.pairs_sink.committed(b)]
    assert len(committed) >= 3  # genuinely incremental, not one batch

    got = {
        (r.id_a, r.id_b): r.cosine
        for r in sink.current_pairs(spark).collect()
    }
    exp = {
        (r.id_a, r.id_b): r.cosine
        for r in tfidf_cosine_pairs(
            ingested, threshold=0.2, df_cap=120
        ).collect()
    }
    assert got == exp and len(got) > 0

    # replay with a FRESH checkpoint into the SAME state dir
    stream2 = (
        spark.readStream.schema(ingested.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q2, sink2 = start_incremental_tfidf(
        stream2, state, str(tmp_path / "ckpt2"), threshold=0.2, df_cap=120
    )
    assert q2.awaitTermination(300)
    assert sink2.pairs_sink.skipped  # redeliveries deduplicated
    got2 = {
        (r.id_a, r.id_b): r.cosine
        for r in sink2.current_pairs(spark).collect()
    }
    assert got2 == exp


def test_streaming_graph_index_ingest_exactly_once(spark, sf_dir, tmp_path):
    """Streaming ingest into the persisted graph index (r16): streamed
    batches assign against the FROZEN centroids and commit as
    versioned increments; the loaded index (base ∪ increments) builds
    the same graph a batch append would; a fresh-checkpoint replay
    cannot double-append; compaction folds increments into the
    cell-partitioned base without changing the graph."""
    import os

    from value_at_risk_spark.operators.annindex import (
        build_ivf_graph_index,
        compact_graph_index,
        knn_graph_ann_indexed,
        load_ivf_graph_index,
    )
    from value_at_risk_spark.streaming.graphindex import (
        INC_DIR,
        start_graph_index_ingest,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = emb.filter(F.col("vec_id") < 300)
    new = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    d = str(tmp_path / "g")
    build_ivf_graph_index(spark, d, old, n_cells=8, iters=2)

    staged = str(tmp_path / "staged")
    new.repartition(4).write.parquet(staged)
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q, sink = start_graph_index_ingest(stream, d, str(tmp_path / "ck1"))
    assert q.awaitTermination(300)
    committed = [b for b in range(50) if sink.inc_sink.committed(b)]
    assert len(committed) >= 3  # genuinely incremental

    _, vecs = load_ivf_graph_index(spark, d)
    assert vecs.count() == 400
    streamed = {
        (r.id_a, r.id_b): r.cosine
        for r in knn_graph_ann_indexed(spark, d, k=3, nprobe=2).collect()
    }

    # batch-append comparator at the SAME frozen centroids
    d2 = str(tmp_path / "g2")
    build_ivf_graph_index(spark, d2, old, n_cells=8, iters=2)
    from value_at_risk_spark.operators.annindex import (
        append_to_ivf_graph_index,
    )

    append_to_ivf_graph_index(spark, d2, new)
    batch = {
        (r.id_a, r.id_b): r.cosine
        for r in knn_graph_ann_indexed(spark, d2, k=3, nprobe=2).collect()
    }
    assert streamed == batch and len(streamed) > 0

    # replay from a fresh checkpoint: every batchId already committed
    stream2 = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    q2, sink2 = start_graph_index_ingest(stream2, d, str(tmp_path / "ck2"))
    assert q2.awaitTermination(300)
    assert sink2.inc_sink.skipped
    _, vecs2 = load_ivf_graph_index(spark, d)
    assert vecs2.count() == 400  # no double-append

    # compaction folds increments into the partitioned base
    out = compact_graph_index(spark, d)
    assert out["compacted_batches"] >= 3
    assert not os.path.isdir(os.path.join(d, INC_DIR))
    _, vecs3 = load_ivf_graph_index(spark, d)
    assert vecs3.count() == 400
    compacted = {
        (r.id_a, r.id_b): r.cosine
        for r in knn_graph_ann_indexed(spark, d, k=3, nprobe=2).collect()
    }
    assert compacted == streamed
