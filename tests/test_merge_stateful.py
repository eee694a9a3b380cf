"""MERGE/SCD2 emulation + stateful streaming operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from value_at_risk_spark.functions.timeutil import epoch_seconds
from value_at_risk_spark.operators.merge import scd2_apply, upsert
from value_at_risk_spark.streaming.stateful import running_event_totals
from value_at_risk_spark.streaming.windows import read_events_stream


def test_upsert(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    out = {r.k: r.v for r in upsert(target, updates, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_merge_native_validates_keys(spark, tmp_path):
    """MERGE key validation fires before any table I/O: an empty key
    list or a key missing from the source is a ValueError."""
    import pytest

    from value_at_risk_spark.operators.merge import merge_into_delta_native

    updates = spark.createDataFrame([(1, "a")], "k long, v string")
    nope = str(tmp_path / "nope")
    with pytest.raises(ValueError, match="non-empty"):
        merge_into_delta_native(spark, nope, updates, [])
    with pytest.raises(ValueError, match="not in updates"):
        merge_into_delta_native(spark, nope, updates, ["missing_key"])


def test_scd2(spark):
    target = spark.createDataFrame(
        [
            (1, "old1", "2020-01-01", "2020-06-01", False),
            (1, "cur1", "2020-06-01", "9999-12-31", True),
            (2, "cur2", "2020-01-01", "9999-12-31", True),
        ],
        "k long, v string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "v",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    updates = spark.createDataFrame(
        [(1, "new1", "2021-01-01")], "k long, v string, valid_from string"
    ).select("k", "v", F.col("valid_from").cast("date").alias("valid_from"))
    out = scd2_apply(target, updates, ["k"], "valid_from").collect()
    rows = {(r.k, r.v): (str(r.valid_to), r.is_current) for r in out}
    assert rows[(1, "old1")] == ("2020-06-01", False)  # history untouched
    assert rows[(1, "cur1")] == ("2021-01-01", False)  # closed out
    assert rows[(1, "new1")] == ("9999-12-31", True)  # new current
    assert rows[(2, "cur2")] == ("9999-12-31", True)  # untouched key
    assert len(out) == 4


def test_stateful_running_totals(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = running_event_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.table("running_totals_test").collect()
    }
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("t"),
        )
    )
    exp = {r.event_type: (r.n, r.t) for r in batch.collect()}
    assert got == exp


def test_registry_sorted_write_roundtrip(spark, sf_dir, tmp_path):
    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    src = Registry(sf_dir).read(spark, "orders")
    reg.write(src, "orders_sorted", sort_by=["o_orderdate", "o_orderkey"], num_files=4)
    back = reg.read(spark, "orders_sorted")
    assert back.count() == src.count()
    assert {r.o_orderkey for r in back.select("o_orderkey").collect()} == {
        r.o_orderkey for r in src.select("o_orderkey").collect()
    }


def test_salted_agg_equals_plain(spark, sf_dir):
    from value_at_risk_spark.operators.skew import salted_sum_count
    from value_at_risk_spark.sources.registry import Registry

    e = Registry(sf_dir).read(spark, "events")
    salted = {
        r.event_type: (round(r.total, 6), r.n_rows)
        for r in salted_sum_count(e, ["event_type"], "value").collect()
    }
    plain = {
        r.event_type: (round(r.total, 6), r.n_rows)
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert salted == plain


def test_sessionize_stateful_timeout_matches_batch(spark, sf_dir, tmp_path):
    """Arbitrary-stateful sessionization with EventTimeTimeout: after a
    far-future flush batch advances the watermark, the emitted CLOSED
    sessions equal the batch session_window result for every original
    user — state eviction is watermark-driven, not size-driven."""
    import shutil

    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.registry import Registry
    from value_at_risk_spark.streaming.stateful import sessionize_stateful

    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    shutil.copy(f"{sf_dir}/events.parquet", src / "batch1.parquet")

    batch_events = Registry(sf_dir).read(spark, "events")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    # flush batch: one far-future event for a synthetic user, landed
    # as a second file so its batch advances the watermark past every
    # real session's close
    flush_user = 10**9
    far = batch_events.agg(
        (epoch_seconds(F.max("ts")) + 10 * 86_400).alias("s")
    ).first()[0]
    # build the flush row in the fixture's own physical ts layout so
    # the staged file matches the stream schema (long nanos under
    # nanosAsLong; naive datetime for timestamp/timestamp_ntz)
    ts_type = dict(batch_events.dtypes).get("ts")
    if ts_type == "bigint":
        flush_ts, flush_ts_ddl = far * 1_000_000_000, "long"
    else:
        from datetime import datetime, timezone

        flush_ts = datetime.fromtimestamp(far, tz=timezone.utc).replace(
            tzinfo=None
        )
        flush_ts_ddl = ts_type
    flush2 = spark.createDataFrame(
        [
            (
                10**12,
                flush_ts,
                flush_user,
                "flush",
                0.0,
                "{}",
            )
        ],
        f"event_id long, ts {flush_ts_ddl}, user_id long, "
        "event_type string, value double, props string",
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
            # withWatermark requires TIMESTAMP; naive wall clock = UTC
            stream = stream.withColumn(
                "ts", F.to_utc_timestamp("ts", "UTC")
            )
        sess = sessionize_stateful(
            stream.withWatermark("ts", "0 seconds"), gap_seconds=1800
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    # second batch lands -> watermark jumps 10 days ahead -> every
    # real session times out and is emitted
    flush2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    import glob

    part = glob.glob(str(tmp_path / "b2" / "part-*.parquet"))[0]
    shutil.copy(part, src / "batch2.parquet")
    run_once()

    got = {
        (r.user_id, r.sess_start_s, r.sess_end_s, r.n_events)
        for r in spark.read.parquet(out).collect()
        if r.user_id != flush_user
    }
    exp = {
        (r.user_id, r.s, r.e, r.n)
        for r in batch_events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            epoch_seconds(F.col("w.start")).alias("s"),
            epoch_seconds(F.col("w.end")).alias("e"),
            "n",
        )
        .collect()
    }
    assert got == exp
    assert len(got) > 0


def test_streaming_basel_backtest_matches_batch(spark, sf_dir, tmp_path):
    """Incremental Basel backtest replay == the batch range-window
    computation, breach-for-breach and zone-for-zone."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from value_at_risk_spark.queries import daily_returns
    from value_at_risk_spark.streaming.stateful import streaming_basel_backtest

    rets = daily_returns(spark, sf_dir)
    pnl = rets.select(
        "series",
        "d",
        F.col("ret").alias("return"),
        F.when(F.col("series") == "1-URGENT", -0.02)
        .otherwise(-0.005)
        .alias("var_99"),
    )
    src = str(tmp_path / "pnl")
    pnl.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(pnl.schema).parquet(src)
    bt = streaming_basel_backtest(stream, basel_days=250)
    q = (
        bt.writeStream.format("memory")
        .queryName("stream_basel")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.series, r.day_num): (r.breaches, r.basel_zone)
        for r in spark.table("stream_basel").collect()
    }

    w = (
        Window.partitionBy("series")
        .orderBy(F.unix_date(F.col("d").cast("date")))
        .rangeBetween(-250, 0)
    )
    batch = pnl.select(
        "series",
        F.unix_date(F.col("d").cast("date")).alias("day_num"),
        F.sum(
            F.when(F.col("return") <= F.col("var_99"), 1).otherwise(0)
        ).over(w).alias("breaches"),
    )
    exp = {
        (r.series, r.day_num): (
            r.breaches,
            0 if r.breaches <= 3 else (1 if r.breaches < 10 else 2),
        )
        for r in batch.collect()
    }
    assert got == exp
    assert len(got) > 1000


def test_sessionize_stateful_survives_late_event(spark, tmp_path):
    """A row later than the watermark by more than the gap must NOT kill
    the query. Empirically (probed on pyspark 4.1.2) Spark filters
    late rows BEFORE applyInPandasWithState sees them, so the row is
    silently dropped — this test pins that semantics (exactly one
    session for the late user, stream survives all runs). The
    watermark clamp in sessionize_stateful guards the same invariant
    against version/config drift where the pre-filter doesn't apply
    (it is a no-op whenever last + gap > watermark)."""
    import datetime
    import glob as _glob
    import shutil

    from pyspark.sql import functions as F

    from value_at_risk_spark.streaming.stateful import sessionize_stateful

    src = tmp_path / "landing"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    far = datetime.datetime(2024, 3, 1)

    def land(name, rows):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        stage = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = _glob.glob(str(stage / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    def run_once():
        stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
            str(src)
        )
        sess = sessionize_stateful(
            stream.withWatermark("ts", "0 seconds"), gap_seconds=1800
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "bounded replay timed out"

    land("b1", [(1, t0), (2, far)])
    run_once()  # watermark advances to `far` after this run
    # user 1's new event is ~2 months behind the watermark — far more
    # than the 1800s gap
    land("b2", [(1, t0 + datetime.timedelta(seconds=60))])
    run_once()  # unclamped timeout would throw here and fail the stream
    land("b3", [(3, far + datetime.timedelta(days=1))])
    run_once()  # advances watermark again

    rows = spark.read.parquet(out).collect()
    user1 = [r for r in rows if r.user_id == 1]
    # the late b2 event was dropped by the watermark pre-filter: user 1
    # keeps exactly its original closed session, and no run crashed
    assert len(user1) == 1
    assert user1[0].n_events == 1


def test_registry_compact_small_files(spark, tmp_path):
    """Registry.compact bin-packs a fragmented table: file count drops
    to ceil(bytes/target), data survives byte-exactly (same rows, same
    schema), and a sort_by recluster keeps working afterwards."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    df = spark.range(20_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    reg.write(df, "frag", num_files=64)
    import glob as g

    before = len(g.glob(f"{tmp_path}/frag.parquet/*.parquet"))
    assert before == 64
    stats = reg.compact(spark, "frag", target_file_bytes=512 * 1024)
    after = len(g.glob(f"{tmp_path}/frag.parquet/*.parquet"))
    assert after == stats["files_after"] < before
    assert stats["files_before"] == 64
    back = reg.read(spark, "frag")
    assert back.count() == 20_000
    assert set(back.columns) == {"id", "k", "pad"}
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(20_000))

    stats2 = reg.compact(
        spark, "frag", target_file_bytes=512 * 1024, sort_by=["k", "id"]
    )
    assert reg.read(spark, "frag").count() == 20_000
    assert stats2["files_before"] == stats["files_after"]


def test_registry_schema_evolution_merge_schema(spark, tmp_path):
    """Additive schema evolution: an append introduces a new column;
    merge_schema=True reads the union schema with NULLs for pre-
    evolution files; the default read stays cheap (single-footer
    schema) and still sees the original columns."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    v1 = spark.range(100).select("id", (F.col("id") * 2).alias("a"))
    reg.write(v1, "evo")
    v2 = spark.range(100, 200).select(
        "id", (F.col("id") * 2).alias("a"), F.lit("new").alias("b")
    )
    reg.write(v2, "evo", mode="append")

    merged = reg.read(spark, "evo", merge_schema=True)
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 200
    assert merged.filter(F.col("b").isNull()).count() == 100
    assert merged.filter(F.col("b") == "new").count() == 100

    plain = reg.read(spark, "evo")
    assert {"id", "a"} <= set(plain.columns)
    assert plain.count() == 200
