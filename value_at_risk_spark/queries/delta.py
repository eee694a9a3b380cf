"""Query registry — native delta-log tables, DML/MERGE, layout, SQL text surface.

Mechanically split from the former single-module queries.py (r15,
VERDICT #7): zero behavior change, every query re-registers through
the same @query decorator in ``queries._shared``; the package
__init__ imports every domain module so ``from
value_at_risk_spark.queries import QUERIES, ORACLES`` is unchanged.
"""

from value_at_risk_spark.queries._shared import *  # noqa: F401,F403


@query(
    "merge_upsert_customers",
    """
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS bal
FROM customer WHERE c_custkey % 10 <> 0
UNION ALL
SELECT c_custkey, 'UPDATED' AS c_name, ROUND(c_acctbal + 100, 2) AS bal
FROM customer WHERE c_custkey % 10 = 0
""",
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation on plain parquet (anti-join + union;
    operators/merge.py). Updates win on key collision; the reference's
    Delta-overwrite pipeline generalized to incremental upserts."""
    from value_at_risk_spark.operators.merge import upsert

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal")
    )
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_name", F.lit("UPDATED"))
        .withColumn("bal", F.round(F.col("bal") + 100, 2))
    )
    return upsert(c, updates, keys=["c_custkey"])

@query("bpe_merges_corpus", bpe_merge_sql(12))
def bpe_merges_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus, ORACLE-checked
    merge-for-merge (r13 graduation, was rows-only): 12 merge rounds
    on the distinct-word frequency table — the corpus is reduced
    ONCE, each round is one hash-agg over the vocabulary plus a
    single argmax row to the driver, ties lexicographic so the table
    is deterministic under any partitioning (operators/bpe.py). The
    DuckDB oracle UNROLLS the merge loop into 12 CTE blocks
    (functions/bpe_sql.py) — pair counts, the same DESC/lexicographic
    argmax, and a relational greedy merge (gaps-and-islands for
    same-symbol runs) — so hash equality pins every merge choice and
    weighted pair count, not just the row shape; a pure-Python
    reference BPE additionally anchors the fold in test_operators."""
    from value_at_risk_spark.operators.bpe import bpe_merge_table

    d = _t(spark, sf_dir, "documents")
    return bpe_merge_table(d, num_merges=12)

@query(
    "funnel_time_to_convert",
    """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
  FROM events GROUP BY 1
),
conv AS (
  SELECT EXTRACT(EPOCH FROM first_buy - first_view) / 3600.0 AS hrs
  FROM firsts
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy >= first_view
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
       ROUND(quantile_cont(hrs, 0.5), 4) + 0 AS median_hours,
       ROUND(quantile_cont(hrs, 0.9), 4) + 0 AS p90_hours,
       ROUND(AVG(hrs), 4) + 0 AS mean_hours
FROM conv
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: hours from a user's first view to their
    first purchase (converters only, well-ordered pairs) — the
    time-dimension companion to user_funnel_conversion's count-
    dimension. Both firsts come from ONE conditional-min grouped
    aggregate (no per-stage scans, no join: the same one-pass trick
    as first_event_per_hour), and the latency distribution reduces to
    exact percentiles. Epoch arithmetic is tz-free microseconds on
    both engines (functions/timeutil contract)."""
    from value_at_risk_spark.functions.timeutil import epoch_micros

    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_buy"),
    )
    conv = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_buy").isNotNull()
        & (F.col("first_buy") >= F.col("first_view"))
    ).select(
        (
            (
                epoch_micros(F.col("first_buy"))
                - epoch_micros(F.col("first_view"))
            )
            / 3_600_000_000.0
        ).alias("hrs")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converters"),
        (F.round(F.percentile("hrs", F.lit(0.5)), 4) + F.lit(0.0)).alias(
            "median_hours"
        ),
        (F.round(F.percentile("hrs", F.lit(0.9)), 4) + F.lit(0.0)).alias(
            "p90_hours"
        ),
        (F.round(F.avg("hrs"), 4) + F.lit(0.0)).alias("mean_hours"),
    )

@query(
    "delta_native_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer GROUP BY c_mktsegment
""",
)
def delta_native_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Delta round-trip, ORACLE-pinned: two committed versions
    (even keys at v0, odd appended at v1) + a checkpoint must
    reconstruct EXACTLY the full customer projection — the oracle
    reads the original parquet, so hash equality proves the log
    replay, the checkpoint short-circuit, the atomic commits, and the
    Hive-partition recovery (c_mktsegment comes from directory names
    typed by the table schema, not from the data files) lose nothing.
    The read stays a distributed parquet scan grouped by partition
    root (sources/deltalog.read_delta)."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_demo_table(spark, sf_dir)
    return (
        read_delta(spark, tbl)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_time_travel_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer WHERE c_custkey % 2 = 0 GROUP BY c_mktsegment
""",
)
def delta_time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version time travel on the native Delta log, ORACLE-pinned:
    reading version 0 of the two-commit table must surface ONLY the
    even-key writes — the snapshot replays the v0 commit alone even
    though a later append and a checkpoint exist (the checkpoint is
    at-or-below constrained, so time travel never reads future
    state). The oracle recomputes v0's defining predicate against the
    original parquet."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_demo_table(spark, sf_dir)
    return (
        read_delta(spark, tbl, version=0)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "streaming_delta_sink",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def streaming_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest into a NATIVE delta-log table,
    HASH-CHECKED against the batch twin: the events fixture is staged
    as four files and replayed one file per micro-batch through
    streaming/sinks.DeltaTxnSink — each batch an atomic delta commit
    carrying the protocol's ``txn`` (appId, batchId) action — then the
    TABLE is read back (snapshot over four commits) and aggregated.
    Equality with DuckDB's batch aggregate proves no batch was lost or
    doubled across the replay, the same parity contract as
    streaming_cdc_apply. Scratch dirs are session-scoped (atexit) so
    the returned lazy frame stays readable."""
    import atexit
    import shutil
    import tempfile

    from value_at_risk_spark.streaming.sinks import DeltaTxnSink

    src = tempfile.mkdtemp(prefix="delta_sink_feed_")
    ckpt = tempfile.mkdtemp(prefix="delta_sink_ckpt_")
    tbl = tempfile.mkdtemp(prefix="delta_sink_tbl_")
    shutil.rmtree(tbl, ignore_errors=True)  # write_delta creates v0
    for d in (src, ckpt, tbl):
        atexit.register(shutil.rmtree, d, ignore_errors=True)

    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = DeltaTxnSink(tbl, app_id="gate_events_ingest")
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming_delta_sink: replay exceeded 180s")
    return (
        sink.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )

@query(
    "streaming_merge_upsert",
    """
SELECT user_id,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS last_ts_s,
       event_id AS last_event_id,
       ROUND(value, 4) + 0 AS last_value
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
""",
)
def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-upsert into a NATIVE delta table, HASH-CHECKED
    (r13): the events fixture replays four files one per micro-batch
    through streaming/sinks.DeltaMergeSink — each batch reduces to its
    latest row per user (max_by on (ts, event_id), a map-side-partial
    groupBy), then MERGEs with a keep-the-latest matched condition and
    the (appId, batchId) txn riding in the same atomic commit. Because
    the matched condition is ORDER-INDEPENDENT, the final table is a
    pure function of the event set — so DuckDB's row_number-per-user
    recompute hash-checks it exactly: no batch lost, doubled, or
    misordered, and the clause engine's conditional update verified on
    real keys. The current-state-table-from-a-change-stream pattern
    every 100 TB CDC pipeline runs."""
    import atexit
    import shutil
    import tempfile

    from value_at_risk_spark.streaming.sinks import DeltaMergeSink

    src = tempfile.mkdtemp(prefix="merge_sink_feed_")
    ckpt = tempfile.mkdtemp(prefix="merge_sink_ckpt_")
    tbl = tempfile.mkdtemp(prefix="merge_sink_tbl_")
    shutil.rmtree(tbl, ignore_errors=True)  # write_delta creates v0
    for d in (src, ckpt, tbl):
        atexit.register(shutil.rmtree, d, ignore_errors=True)

    events = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def latest_per_user(b: DataFrame) -> DataFrame:
        return (
            b.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select("user_id", "m.ts", "m.event_id", "m.value")
        )

    sink = DeltaMergeSink(
        tbl,
        ["user_id"],
        app_id="gate_merge_upsert",
        matched=[
            {
                "condition": (
                    "s.ts > t.ts OR (s.ts = t.ts AND s.event_id > "
                    "t.event_id)"
                ),
                "update": "*",
            }
        ],
        not_matched=[{"insert": "*"}],
        batch_prep=latest_per_user,
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("streaming_merge_upsert: replay exceeded 180s")
    return sink.read(spark).select(
        "user_id",
        epoch_seconds(F.col("ts")).alias("last_ts_s"),
        F.col("event_id").alias("last_event_id"),
        (F.round("value", 4) + F.lit(0.0)).alias("last_value"),
    )

@query(
    "delta_pruned_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_custkey <= 1000
GROUP BY c_mktsegment
""",
)
def delta_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-layer file skipping on the native delta table,
    ORACLE-pinned: the read prunes files through BOTH log-level paths
    — partition_filters against add.partitionValues and stats_filters
    against the footer-derived add.stats — and then applies the SAME
    predicates as row filters (files prune, rows don't: the two-layer
    contract). Equality with DuckDB over the original parquet proves
    pruning never drops a matching row, at whichever file layout the
    demo table's three commits produced."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_demo_table(spark, sf_dir)
    segs = ["BUILDING", "MACHINERY"]
    df = read_delta(
        spark,
        tbl,
        partition_filters={"c_mktsegment": segs},
        stats_filters=[("c_custkey", "<=", 1000)],
    )
    return (
        df.filter(
            F.col("c_mktsegment").isin(segs) & (F.col("c_custkey") <= 1000)
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_incremental_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer WHERE c_custkey % 2 = 1 GROUP BY c_mktsegment
""",
)
def delta_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption of the native delta table,
    ORACLE-pinned: read_delta_changes over (v0, v1] must surface
    EXACTLY the rows the v1 append committed — the odd custkeys — and
    nothing from v0 or the later OPTIMIZE (whose dataChange:false
    commit is invisible to incremental consumers by design). This is
    the nightly-pipeline read pattern at 100 TB: one bounded scan of
    the new files, never a table rescan; the oracle recomputes the
    append's defining predicate against the original parquet."""
    from value_at_risk_spark.sources.deltalog import read_delta_changes

    tbl = _delta_demo_table(spark, sf_dir)
    return (
        read_delta_changes(spark, tbl, from_version=0, to_version=1)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_delete_update_scan",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS total_price
FROM orders
WHERE NOT (o_totalprice < 50000.0)
GROUP BY o_orderpriority
""",
)
def delta_delete_update_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE + UPDATE on the native delta log, ORACLE-pinned: after a
    file-level copy-on-write DELETE (o_totalprice < 50000) and UPDATE
    (urgent orders' price doubled), the table must equal DuckDB's
    recomputation of both mutations from the original parquet — hash
    equality proves touched-file identification dropped/retained
    exactly the right rows, untouched files passed through verbatim,
    and the partition layout survived the rewrites
    (sources/deltalog.delete_from_delta / update_delta)."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_dml_table(spark, sf_dir)
    return (
        read_delta(spark, tbl)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_dml_time_travel",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def delta_dml_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across DML commits, ORACLE-pinned: version 1 (the
    last pre-DELETE append) must reconstruct the COMPLETE original
    order set even though two copy-on-write rewrites landed after it —
    the DELETE/UPDATE commits remove+re-add files but never touch
    history, so the v1 snapshot still references every original file
    (sources/deltalog.snapshot version replay)."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_dml_table(spark, sf_dir)
    return (
        read_delta(spark, tbl, version=1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query("delta_dv_delete_scan", _DELTA_DV_ORACLE)
def delta_dv_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors, ORACLE-pinned: two
    stacked DV DELETEs (the second unions bitmaps on already-DV'd
    files) rewrite ZERO data files — the fixture asserts it — yet the
    scan must equal DuckDB's recomputation of both predicates from
    the original parquet. Hash equality proves the roaring row-index
    bitmaps, the broadcast searchsorted mask, and the physical
    row_index alignment drop exactly the deleted rows
    (sources/dv.py; deltalog._dml/_dv_mask/_scan_files_dv). At
    100 TB this is the difference between a small DELETE writing
    kilobytes of bitmap and rewriting every touched gigabyte file."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_dv_table(spark, sf_dir, purged=False)
    return (
        read_delta(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query("delta_dv_purge_scan", _DELTA_DV_ORACLE)
def delta_dv_purge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REORG APPLY (PURGE) after DV DELETEs, ORACLE-pinned on its own
    scratch table: materializing the bitmaps (rewrite ONLY the DV'd
    files, dataChange:false) must preserve the logical row set
    bit-for-bit — the same DuckDB twin as delta_dv_delete_scan, now
    over a table with no descriptors left
    (sources/deltalog.purge_deletion_vectors). The compaction step
    that keeps merge-on-read from accreting bitmap debt."""
    from value_at_risk_spark.sources.deltalog import read_delta

    tbl = _delta_dv_table(spark, sf_dir, purged=True)
    return (
        read_delta(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_ict_timestamp_travel",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus
""",
)
def delta_ict_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-commit timestamps (writer feature), ORACLE-pinned: on a
    table created with ``delta.enableInCommitTimestamps``, TIMESTAMP
    AS OF the FIRST commit's own inCommitTimestamp — read from the
    log, with every commit file's mtime deliberately falsified to
    epoch 0 — must reconstruct exactly the even-orderkey half that
    commit wrote. Proves the monotonic log-internal clock, not the
    filesystem, resolves time travel
    (sources/deltalog._publish_commit/_next_ict/version_at_timestamp)."""
    import json as _json

    from value_at_risk_spark.sources.deltalog import (
        _commit_path,
        read_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        import os as _os

        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        write_delta(
            spark,
            orders.filter(F.col("o_orderkey") % 2 == 0),
            tbl,
            configuration={"delta.enableInCommitTimestamps": "true"},
        )
        write_delta(spark, orders.filter(F.col("o_orderkey") % 2 == 1), tbl)
        for v in (0, 1):
            _os.utime(_commit_path(tbl, v), (0, 0))

    tbl = _scratch_delta_table(
        "ict", sf_dir, "orders even/odd ict, commit mtimes zeroed", build
    )
    with open(_commit_path(tbl, 0)) as fh:
        ict0 = next(
            _json.loads(line)["commitInfo"]["inCommitTimestamp"]
            for line in fh
            if '"commitInfo"' in line
        )
    # +0.5 ms: epoch-seconds floats can round below the true
    # millisecond; the next commit is >= 1 ms away by monotonicity
    return (
        read_delta(spark, tbl, timestamp=(ict0 + 0.5) / 1000.0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_clustered_scan",
    """
SELECT COUNT(*) AS n_rows,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity < 20
""",
)
def delta_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY (liquid-clustering shape), ORACLE-pinned: a table
    created with ``cluster_by=[l_quantity, l_extendedprice]`` (the
    ``delta.clustering`` metadata domain + writer features
    domainMetadata/clustering), OPTIMIZE'd with NO explicit zorder —
    it re-clusters on the declared columns — then range-scanned with
    stats_filters that prune at the LOG level. The clustered layout
    is what makes the file skipping effective; the value hash proves
    pruning dropped no qualifying row
    (sources/deltalog.set_domain_metadata/table_clustering_columns)."""
    from value_at_risk_spark.sources.deltalog import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        write_delta(
            spark,
            li.repartition(8),
            tbl,
            cluster_by=["l_quantity", "l_extendedprice"],
        )
        optimize_delta(spark, tbl, target_files=8)

    tbl = _scratch_delta_table(
        "clustered", sf_dir, "lineitem cluster_by qty/price opt8", build
    )
    return (
        read_delta(
            spark,
            tbl,
            stats_filters=[
                ("l_quantity", ">=", 10.0),
                ("l_quantity", "<", 20.0),
            ],
        )
        .filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") < 20))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("l_extendedprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_identity_scan",
    """
SELECT 2 * COUNT(*) AS n_rows,
       2 * COUNT(*) AS n_ids,
       CAST(0 AS BIGINT) AS off_grid
FROM orders
""",
)
def delta_identity_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity columns (protocol writer feature 6), ORACLE-pinned on
    the INVARIANTS (the generated values themselves are
    partition-layout-dependent, so the contract is what the protocol
    guarantees): after two appends to a GENERATED ALWAYS AS IDENTITY
    (START WITH 100 STEP 3) table, every row has a rid, all rids are
    UNIQUE across both appends (the high-water mark advanced in the
    first commit), and every rid sits on the start + k*step grid —
    n_ids equals the row count and off_grid is zero
    (sources/deltalog.table_identity_columns/_generate_identity)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        write_delta(
            spark,
            orders,
            tbl,
            identity_columns={"rid": {"start": 100, "step": 3}},
        )
        write_delta(spark, orders, tbl)

    tbl = _scratch_delta_table(
        "identity", sf_dir, "orders x2 identity rid 100+3k", build
    )
    return read_delta(spark, tbl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("rid").alias("n_ids"),
        F.sum(
            F.when(
                (F.col("rid") < 100) | ((F.col("rid") - 100) % 3 != 0),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("off_grid"),
    )

@query(
    "delta_datasource_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer GROUP BY c_mktsegment
""",
)
def delta_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``deltalog`` Python Data Source batch path, ORACLE-pinned:
    spark.read.format('deltalog') over the demo table (two commits +
    OPTIMIZE ZORDER + checkpoint) must equal DuckDB's full customer
    projection — hash equality proves the per-file input partitions,
    the Arrow RecordBatch emission, and the log-typed partition-column
    materialization (c_mktsegment comes from add.partitionValues cast
    by the table schema, never inferred) lose nothing
    (sources/delta_datasource.DeltaLogDataSource)."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = _delta_demo_table(spark, sf_dir)
    return (
        spark.read.format("deltalog")
        .load(tbl)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "streaming_delta_source_roundtrip",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""",
)
def streaming_delta_source_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming FROM the native delta log INTO the native
    delta log, HASH-CHECKED against the batch twin: the events fixture
    lands in an upstream table as three append commits,
    spark.readStream.format('deltalog') consumes it (initial snapshot
    + version offsets), and every micro-batch commits exactly-once
    through DeltaTxnSink into a downstream table, which is read back
    and aggregated. Equality with DuckDB's batch aggregate proves the
    source emitted every committed row exactly once AND the sink
    deduplicated replays — the full source->sink exactly-once chain on
    one log implementation (sources/delta_datasource +
    streaming/sinks.DeltaTxnSink)."""
    import atexit
    import shutil
    import tempfile

    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import write_delta
    from value_at_risk_spark.streaming.sinks import DeltaTxnSink

    register_deltalog_source(spark)
    src = tempfile.mkdtemp(prefix="delta_src_tbl_")
    ckpt = tempfile.mkdtemp(prefix="delta_src_ckpt_")
    dst = tempfile.mkdtemp(prefix="delta_src_dst_")
    for d in (src, dst):
        shutil.rmtree(d, ignore_errors=True)  # write_delta creates v0
    for d in (src, ckpt, dst):
        atexit.register(shutil.rmtree, d, ignore_errors=True)

    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    # three deterministic commits upstream
    for part in range(3):
        write_delta(
            spark, events.filter(F.col("event_id") % 3 == part), src
        )
    sink = DeltaTxnSink(dst, app_id="gate_delta_source")
    q = (
        spark.readStream.format("deltalog")
        .load(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(
            "streaming_delta_source_roundtrip: replay exceeded 180s"
        )
    return (
        sink.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )

@query(
    "delta_datasource_write_scan",
    """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS total_bal
FROM supplier GROUP BY s_nationkey
""",
)
def delta_datasource_write_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The ``deltalog`` Python Data Source WRITE path, ORACLE-pinned:
    df.write.format('deltalog') stages parquet in tasks (partitioned
    by s_nationkey via the Hive layout, with footer stats for data
    skipping) and publishes ONE atomic commit; a second append lands
    as v1. Reading the two-commit table back must equal DuckDB's
    supplier aggregate — hash equality proves the task-side staging,
    the partition encoding, and the metadata-only commit lose nothing
    (sources/delta_datasource._DeltaBatchWriter). Scratch is
    session-scoped (atexit), a pure function of the fixture."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import read_delta

    register_deltalog_source(spark)

    def build(tbl: str) -> None:
        sup = _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        sup.filter(F.col("s_suppkey") % 2 == 0).write.format(
            "deltalog"
        ).option("partitionBy", "s_nationkey").mode("append").save(tbl)
        sup.filter(F.col("s_suppkey") % 2 == 1).write.format(
            "deltalog"
        ).mode("append").save(tbl)

    tbl = _scratch_delta_table(
        "dsw", sf_dir, "supplier even/odd via deltalog DataSource", build
    )
    return (
        read_delta(spark, tbl)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum("s_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_constraint_scan",
    """
SELECT p_brand,
       COUNT(*) AS n_parts,
       ROUND(SUM(p_retailprice), 2) AS total_price
FROM part GROUP BY p_brand
""",
)
def delta_constraint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints on the native delta log, ORACLE-pinned: the
    part fixture lands in two appends around an ADD CONSTRAINT
    (p_size >= 1, validated against v0's data by a real scan; the
    second append re-validated row-by-row at write time) and a proven
    REJECTION (a violating frame must fail and commit nothing). The
    final table equals DuckDB's full part aggregate — the constraint
    machinery admitted every valid row and nothing else
    (sources/deltalog.add_check_constraint / _checked)."""
    from value_at_risk_spark.sources.deltalog import (
        add_check_constraint,
        read_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        part = _t(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_size", "p_retailprice"
        )
        write_delta(spark, part.filter(F.col("p_partkey") % 2 == 0), tbl)
        add_check_constraint(spark, tbl, "size_pos", "p_size >= 1")
        write_delta(spark, part.filter(F.col("p_partkey") % 2 == 1), tbl)
        # a violating write must be rejected atomically (no partial rows)
        try:
            write_delta(
                spark,
                part.limit(3).withColumn("p_size", F.lit(-1)),
                tbl,
            )
            raise AssertionError(
                "delta_constraint_scan: violating write was accepted"
            )
        except ValueError:
            pass

    tbl = _scratch_delta_table(
        "constraint", sf_dir, "part even/odd + CHECK p_size>=1", build
    )
    return (
        read_delta(spark, tbl)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.round(F.sum("p_retailprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_sql_dml_scan",
    """
SELECT n_regionkey,
       COUNT(*) AS n_nations,
       CAST(SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
FROM (
  SELECT n_regionkey,
         CASE WHEN n_nationkey < 10 THEN UPPER(n_name) ELSE n_name END
           AS n_name
  FROM nation
  WHERE NOT (n_regionkey = 4)
)
GROUP BY n_regionkey
""",
)
def delta_sql_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta-SQL TEXT surface end to end, ORACLE-pinned: nation
    lands in a native table, then the reference's statement shapes run
    as raw SQL strings — ``DELETE FROM delta.`p` WHERE n_regionkey=4``
    and ``UPDATE delta.`p` SET n_name = UPPER(n_name) WHERE
    n_nationkey < 10`` — and the final SELECT (also through
    delta_sql's view substitution) must equal DuckDB recomputing both
    mutations from the original parquet
    (sources/delta_sql.delta_sql)."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import write_delta

    def build(tbl: str) -> None:
        write_delta(
            spark,
            _t(spark, sf_dir, "nation").select(
                "n_nationkey", "n_regionkey", "n_name"
            ),
            tbl,
        )
        delta_sql(spark, f"DELETE FROM delta.`{tbl}` WHERE n_regionkey = 4")
        delta_sql(
            spark,
            f"UPDATE delta.`{tbl}` SET n_name = UPPER(n_name) "
            "WHERE n_nationkey < 10",
        )

    tbl = _scratch_delta_table(
        "sqldml", sf_dir, "nation sql del reg4 + upper <10", build
    )
    return delta_sql(
        spark,
        f"""
        SELECT n_regionkey,
               COUNT(*) AS n_nations,
               SUM(LENGTH(n_name)) AS name_chars
        FROM delta.`{tbl}`
        GROUP BY n_regionkey
        """,
    )

@query(
    "delta_sql_time_travel_scan",
    """
WITH v1 AS (
  SELECT n_nationkey, n_regionkey, n_name
  FROM nation WHERE n_regionkey <> 4
),
cur AS (
  SELECT n_nationkey, n_regionkey,
         CASE WHEN n_nationkey < 10 THEN UPPER(n_name) ELSE n_name END
           AS n_name
  FROM nation WHERE n_regionkey <> 4
)
SELECT cur.n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(LENGTH(cur.n_name)) AS BIGINT) AS name_chars_now,
       CAST(SUM(LENGTH(v1.n_name)) AS BIGINT) AS name_chars_v1
FROM cur JOIN v1 USING (n_nationkey)
GROUP BY cur.n_regionkey
""",
)
def delta_sql_time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel through the SQL TEXT surface (r15, VERDICT #6): the
    table commits v0 (write) -> v1 (DELETE region 4) -> v2 (UPDATE
    upper-case keys < 10), then ONE statement joins the CURRENT
    snapshot against ``VERSION AS OF 1`` — two versions of the same
    table coexisting in one query, each delta reference swapped for
    its own snapshot view (sources/delta_sql.delta_sql; snapshot
    resolution in deltalog.snapshot). The oracle recomputes both
    states from the original parquet: v1 has the delete but NOT the
    update, so name_chars_v1 differs from name_chars_now exactly on
    the upper-cased rows."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import write_delta

    def build(tbl: str) -> None:
        write_delta(
            spark,
            _t(spark, sf_dir, "nation").select(
                "n_nationkey", "n_regionkey", "n_name"
            ),
            tbl,
        )
        delta_sql(spark, f"DELETE FROM delta.`{tbl}` WHERE n_regionkey = 4")
        delta_sql(
            spark,
            f"UPDATE delta.`{tbl}` SET n_name = UPPER(n_name) "
            "WHERE n_nationkey < 10",
        )

    tbl = _scratch_delta_table(
        "sqltt", sf_dir, "nation v0 write v1 del reg4 v2 upper <10", build
    )
    return delta_sql(
        spark,
        f"""
        SELECT cur.n_regionkey,
               COUNT(*) AS n_nations,
               SUM(LENGTH(cur.n_name)) AS name_chars_now,
               SUM(LENGTH(v1.n_name)) AS name_chars_v1
        FROM delta.`{tbl}` cur
        JOIN delta.`{tbl}` VERSION AS OF 1 v1 USING (n_nationkey)
        GROUP BY cur.n_regionkey
        """,
    )

@query(
    "delta_sql_add_column_scan",
    """
WITH t AS (
  SELECT n_nationkey, 'pre-existing' AS status FROM nation
  UNION ALL SELECT 900, 'legacy'
  UNION ALL SELECT 901, 'legacy'
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM t GROUP BY status
""",
)
def delta_sql_add_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the SQL TEXT surface (r15, VERDICT #6):
    ``ALTER TABLE ... ADD COLUMNS (n_status string)`` is a
    metadata-only commit (existing files simply lack the column and
    scans null-fill it), ``ALTER COLUMN n_status SET DEFAULT
    'legacy'`` arms CURRENT_DEFAULT for FUTURE writes only — Delta
    defaults never backfill history — and an ``INSERT INTO (cols...)``
    omitting the new column fills it. The scan groups by the observed
    status: pre-existing rows read NULL (reported via COALESCE),
    post-default inserts read 'legacy'; the oracle rebuilds both
    populations from the original parquet."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import write_delta

    def build(tbl: str) -> None:
        write_delta(
            spark,
            _t(spark, sf_dir, "nation").select(
                "n_nationkey", "n_regionkey", "n_name"
            ),
            tbl,
        )
        delta_sql(
            spark,
            f"ALTER TABLE delta.`{tbl}` ADD COLUMNS (n_status string)",
        )
        delta_sql(
            spark,
            f"ALTER TABLE delta.`{tbl}` ALTER COLUMN n_status "
            "SET DEFAULT 'legacy'",
        )
        delta_sql(
            spark,
            f"INSERT INTO delta.`{tbl}` (n_nationkey, n_regionkey, n_name) "
            "VALUES (900, 0, 'ATLANTIS'), (901, 1, 'LEMURIA')",
        )

    tbl = _scratch_delta_table(
        "sqladdcol",
        sf_dir,
        "nation add n_status + default legacy + insert 2",
        build,
    )
    return delta_sql(
        spark,
        f"""
        SELECT COALESCE(n_status, 'pre-existing') AS status,
               COUNT(*) AS n_rows,
               SUM(n_nationkey) AS key_sum
        FROM delta.`{tbl}`
        GROUP BY COALESCE(n_status, 'pre-existing')
        """,
    )

@query(
    "delta_mapped_write_scan",
    """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS total_bal
FROM supplier GROUP BY s_nationkey
""",
)
def delta_mapped_write_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping WRITES ('name' mode), ORACLE-pinned: the table
    is CREATED with delta.columnMapping.mode=name (physical col-<uuid>
    names assigned at create; data files and partition dirs carry
    physical names, metadata stays logical), a second append stages
    through the same translation, and RENAME COLUMN s_acctbal ->
    acct_bal lands as a metadata-only commit — the one operation
    mapping exists to make free. Reading back (logical names, renamed
    column aliased to the original for the twin) must equal DuckDB's
    supplier aggregate: hash equality proves the physical staging,
    partitionValues keyed by physical name, and the rename lost
    nothing (sources/deltalog.write_delta l2p_write /
    rename_delta_column)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        rename_delta_column,
        write_delta,
    )

    def build(tbl: str) -> None:
        sup = _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        write_delta(
            spark,
            sup.filter(F.col("s_suppkey") % 2 == 0),
            tbl,
            partition_by=["s_nationkey"],
            configuration={"delta.columnMapping.mode": "name"},
        )
        write_delta(spark, sup.filter(F.col("s_suppkey") % 2 == 1), tbl)
        rename_delta_column(tbl, "s_acctbal", "acct_bal")

    tbl = _scratch_delta_table(
        "mapped", sf_dir, "supplier even/odd mapped + rename acctbal", build
    )
    return (
        read_delta(spark, tbl)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum("acct_bal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_mapped_dml_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(CASE WHEN c_acctbal < 0 THEN c_acctbal + 500
                      ELSE c_acctbal END), 2) AS total_bal
FROM customer
WHERE c_custkey % 7 <> 0
GROUP BY c_mktsegment
""",
)
def delta_mapped_dml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML on a COLUMN-MAPPED table, ORACLE-pinned (r13,
    _mapping_planes): the table is created with
    delta.columnMapping.mode=name (physical col-<uuid> names in data
    files and partition dirs), appended, then mutated with the
    reference's DML statement shapes — ``DELETE WHERE c_custkey % 7 =
    0`` and ``UPDATE SET c_acctbal = c_acctbal + 500 WHERE c_acctbal
    < 0`` — both binding LOGICAL names while every restaged file
    carries PHYSICAL names; finally the mutated column is RENAMED
    (metadata-only). Read-back must equal DuckDB recomputing both
    mutations from the original parquet: hash equality proves the
    logical->physical condition/SET translation, the physical
    restaging, and the post-DML rename lose nothing
    (sources/deltalog._mapping_planes, delete_from_delta,
    update_delta; reference tie: the DML shapes of
    01_var_market_etl.py:56-64 over saveAsTable layouts)."""
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        read_delta,
        rename_delta_column,
        update_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        cust = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        write_delta(
            spark,
            cust.filter(F.col("c_custkey") % 2 == 0),
            tbl,
            partition_by=["c_mktsegment"],
            configuration={"delta.columnMapping.mode": "name"},
        )
        write_delta(spark, cust.filter(F.col("c_custkey") % 2 == 1), tbl)
        delete_from_delta(spark, tbl, "c_custkey % 7 = 0")
        update_delta(
            spark, tbl, "c_acctbal < 0", {"c_acctbal": "c_acctbal + 500"}
        )
        rename_delta_column(tbl, "c_acctbal", "bal")

    tbl = _scratch_delta_table(
        "mappeddml",
        sf_dir,
        "customer mapped dml: del %7, update neg+500, rename bal",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("bal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_convert_scan",
    """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS total_qty,
       ROUND(SUM(l_extendedprice) / 1000000.0, 2) AS total_price
FROM lineitem
WHERE l_orderkey % 4 <> 0
GROUP BY l_returnflag
""",
)
def delta_convert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO DELTA, ORACLE-pinned (r13,
    deltalog.convert_to_delta): a plain Hive-partitioned parquet
    directory (written by Spark's ordinary writer, NO delta log) is
    converted IN PLACE — one v0 commit referencing the existing files
    with footer stats, partition types declared by the caller — then
    mutated with a native DELETE to prove the converted table is a
    first-class DML target. Read-back must equal DuckDB recomputing
    the filter from the flat fixture: hash equality proves the
    file/partition discovery, the typed partition recovery, and the
    post-convert DML lose nothing (the standard parquet->delta
    adoption path; reference tie: the saveAsTable migration posture of
    01_var_market_etl.py:56-64)."""
    from value_at_risk_spark.sources.deltalog import (
        convert_to_delta,
        delete_from_delta,
        read_delta,
    )

    def build(tbl: str) -> None:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
        )
        li.write.partitionBy("l_returnflag").parquet(tbl, mode="overwrite")
        import os as _os

        # a plain parquet dir: no _delta_log, Spark's _SUCCESS marker
        # stays (the converter must skip underscore entries)
        assert not _os.path.isdir(_os.path.join(tbl, "_delta_log"))
        convert_to_delta(spark, tbl, {"l_returnflag": "string"})
        delete_from_delta(spark, tbl, "l_orderkey % 4 = 0")

    tbl = _scratch_delta_table(
        "convert",
        sf_dir,
        "lineitem plain partitioned parquet -> convert -> delete %4",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("l_quantity"), 2) + F.lit(0.0)).alias(
                "total_qty"
            ),
            (
                F.round(F.sum("l_extendedprice") / F.lit(1000000.0), 2)
                + F.lit(0.0)
            ).alias("total_price"),
        )
    )

@query(
    "delta_midlife_upgrade_scan",
    """
SELECT CAST(s_nationkey AS BIGINT) AS nation,
       COUNT(*) AS n_suppliers,
       ROUND(SUM(CASE WHEN s_acctbal < 0 THEN s_acctbal + 100
                      ELSE s_acctbal END), 2) AS total_bal
FROM supplier
WHERE s_suppkey % 5 <> 0
GROUP BY s_nationkey
""",
)
def delta_midlife_upgrade_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MID-LIFE feature upgrades on a legacy table, ORACLE-pinned
    (r13): a plain delta table (no features) gains column mapping
    ('name'), ROW TRACKING (atomic baseRowId backfill over the
    existing files), CDF, and deletion vectors in ONE ``SET
    TBLPROPERTIES`` call — then the upgraded surface is exercised:
    merge-on-read DELETE (DV over backfilled row-tracked files),
    id-preserving UPDATE rewrite (mapping planes + materialized row-id
    column), and a metadata-only RENAME. Build post-conditions assert
    the backfilled row ids stay unique and survive the UPDATE; the
    read-back must equal DuckDB recomputing both mutations from the
    original parquet. The adoption path every long-lived production
    table takes: born simple, upgraded in place, never rewritten
    (reference tie: configure_notebook.py:18-27 Delta tables upgraded
    by successive runtime versions)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        read_delta_row_ids,
    )
    from value_at_risk_spark.sources.delta_sql import delta_sql

    def build(tbl: str) -> None:
        from value_at_risk_spark.sources.deltalog import write_delta

        # coalesce(1): the fixture is nation-partitioned into 25 dirs
        # per write — unbounded input splits would mint hundreds of
        # KB-sized files, all of which the backfill re-adds and the
        # row-id reads key (gate wall-time, not correctness)
        sup = (
            _t(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey", "s_acctbal")
            .coalesce(1)
        )
        write_delta(
            spark,
            sup.filter(F.col("s_suppkey") % 2 == 0),
            tbl,
            partition_by=["s_nationkey"],
        )
        write_delta(spark, sup.filter(F.col("s_suppkey") % 2 == 1), tbl)
        delta_sql(
            spark,
            f"ALTER TABLE delta.`{tbl}` SET TBLPROPERTIES ("
            "'delta.columnMapping.mode'='name', "
            "'delta.enableRowTracking'='true', "
            "'delta.enableChangeDataFeed'='true', "
            "'delta.enableDeletionVectors'='true')",
        )
        ids0 = {
            r.s_suppkey: r.row_id
            for r in read_delta_row_ids(spark, tbl).collect()
        }
        if len(set(ids0.values())) != len(ids0):
            raise AssertionError(
                "midlife upgrade: backfilled row ids not unique"
            )
        delta_sql(
            spark, f"DELETE FROM delta.`{tbl}` WHERE s_suppkey % 5 = 0"
        )
        delta_sql(
            spark,
            f"UPDATE delta.`{tbl}` SET s_acctbal = s_acctbal + 100 "
            "WHERE s_acctbal < 0",
        )
        ids1 = {
            r.s_suppkey: r.row_id
            for r in read_delta_row_ids(spark, tbl).collect()
        }
        expect = {k: v for k, v in ids0.items() if k % 5 != 0}
        if ids1 != expect:
            raise AssertionError(
                "midlife upgrade: row ids not preserved across DV "
                "DELETE + id-preserving UPDATE"
            )
        delta_sql(
            spark,
            f"ALTER TABLE delta.`{tbl}` RENAME COLUMN s_acctbal TO bal",
        )

    tbl = _scratch_delta_table(
        "midlife",
        sf_dir,
        "supplier plain -> map+rt+cdf+dv upgrade -> dml -> rename",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy(F.col("s_nationkey").cast("long").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum("bal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_defaults_scan",
    """
WITH rows_all AS (
  SELECT c_mktsegment AS seg, 100.0 AS bal
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT 'unassigned' AS seg, 100.0 AS bal
  FROM customer WHERE c_custkey % 2 = 1
  UNION ALL
  SELECT 'unassigned' AS seg, c_acctbal AS bal
  FROM customer WHERE c_custkey % 2 = 1
)
SELECT seg, COUNT(*) AS n_rows, ROUND(SUM(bal), 2) + 0 AS total_bal
FROM rows_all GROUP BY seg
""",
)
def delta_defaults_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column defaults (allowColumnDefaults), ORACLE-pinned (r13): a
    table born from SQL ``CREATE TABLE`` with DEFAULT clauses takes
    (1) an INSERT listing (k, seg) — bal fills its default, (2) an
    INSERT listing only (k) — both seg and bal default, and (3) a
    MERGE ``WHEN NOT MATCHED INSERT`` that omits seg — the clause
    engine fills the default too, the same contract as INSERT.
    Read-back must equal DuckDB recomputing all three fills from the
    fixture: hash equality proves omitted columns get their
    CURRENT_DEFAULT (never NULL) on every insert surface."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import read_delta
    from value_at_risk_spark.sources.delta_sql import delta_sql

    def build(tbl: str) -> None:
        delta_sql(
            spark,
            f"CREATE TABLE delta.`{tbl}` ("
            "k BIGINT, seg STRING DEFAULT 'unassigned', "
            "bal DOUBLE DEFAULT 100.0)",
        )
        cust = _t(spark, sf_dir, "customer")
        view = f"defaults_src_{uuid.uuid4().hex[:8]}"
        cust.createOrReplaceTempView(view)
        delta_sql(
            spark,
            f"INSERT INTO delta.`{tbl}` (k, seg) "
            f"SELECT c_custkey, c_mktsegment FROM {view} "
            "WHERE c_custkey % 2 = 0",
        )
        delta_sql(
            spark,
            f"INSERT INTO delta.`{tbl}` (k) "
            f"SELECT c_custkey FROM {view} WHERE c_custkey % 2 = 1",
        )
        # MERGE inserts NEW keys (odd keys shifted out of range),
        # listing only (k, bal) — seg must fill its default
        hi = cust.agg(F.max("c_custkey")).first()[0] + 1
        merge_into_delta_native(
            spark,
            tbl,
            cust.filter(F.col("c_custkey") % 2 == 1).select(
                (F.col("c_custkey") + F.lit(hi)).alias("k"),
                F.col("c_acctbal").alias("bal"),
            ),
            ["k"],
            not_matched=[{"insert": {"k": "s.k", "bal": "s.bal"}}],
        )
        spark.catalog.dropTempView(view)

    tbl = _scratch_delta_table(
        "defaults",
        sf_dir,
        "create w/ defaults + 2 inserts + merge insert (r13)",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("bal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_merge_clauses_scan",
    """
WITH t AS (
  SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg
  FROM customer WHERE c_custkey % 3 = 0
),
s AS (
  SELECT c_custkey AS k, c_acctbal * 2 AS nb
  FROM customer WHERE c_custkey % 2 = 0
),
merged AS (
  SELECT t.k, s.nb AS bal, t.seg
  FROM t JOIN s ON t.k = s.k WHERE s.nb > 5000
  UNION ALL
  SELECT t.k, t.bal, t.seg
  FROM t LEFT JOIN s ON t.k = s.k
  WHERE s.k IS NULL AND t.bal >= 0
  UNION ALL
  SELECT s.k, s.nb, 'SRC' AS seg
  FROM s LEFT JOIN t ON t.k = s.k
  WHERE t.k IS NULL AND s.nb < 0
)
SELECT seg, COUNT(*) AS n_rows, ROUND(SUM(bal), 2) AS total_bal
FROM merged GROUP BY seg
""",
)
def delta_merge_clauses_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE clause semantics, ORACLE-pinned (r13,
    operators/merge._merge_with_clauses): conditioned ``WHEN MATCHED
    UPDATE SET`` with a ``WHEN MATCHED DELETE`` fallback, a
    conditioned ``WHEN NOT MATCHED INSERT (cols) VALUES``, and a
    conditioned ``WHEN NOT MATCHED BY SOURCE DELETE`` — first clause
    wins, unclaimed source rows are NOT inserted, unclaimed target
    rows keep. DuckDB recomputes the identical row algebra from the
    flat fixture (three-way union of updates / keeps / inserts);
    hash equality proves the full-outer-join tag engine, the
    t./s. expression binding, and the atomic overwrite commit lose
    nothing (reference tie: the incremental-upsert anticipation of
    application.yaml:2-3 generalized to the full DML matrix)."""
    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import read_delta, write_delta

    def build(tbl: str) -> None:
        cust = _t(spark, sf_dir, "customer")
        target = cust.filter(F.col("c_custkey") % 3 == 0).select(
            F.col("c_custkey").alias("k"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("seg"),
        )
        source = cust.filter(F.col("c_custkey") % 2 == 0).select(
            F.col("c_custkey").alias("k"),
            (F.col("c_acctbal") * 2).alias("nb"),
        )
        write_delta(spark, target, tbl)
        merge_into_delta_native(
            spark,
            tbl,
            source,
            ["k"],
            matched=[
                {"condition": "s.nb > 5000", "update": {"bal": "s.nb"}},
                {"delete": True},
            ],
            not_matched=[
                {
                    "condition": "s.nb < 0",
                    "insert": {"k": "s.k", "bal": "s.nb", "seg": "'SRC'"},
                },
            ],
            not_matched_by_source=[
                {"condition": "t.bal < 0", "delete": True},
            ],
        )

    tbl = _scratch_delta_table(
        "mergecl",
        sf_dir,
        "customer clause merge: cond update/delete, cond insert, "
        "by-source delete",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("bal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_nested_mapping_scan",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice + 100.0
                      ELSE o_totalprice END) / 1000000.0, 2) AS total_amt,
       ROUND(SUM(o_totalprice * 0.5) / 1000000.0, 2) AS arr_amt
FROM orders
WHERE o_orderkey % 5 <> 0
GROUP BY o_orderstatus
""",
)
def delta_nested_mapping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-STRUCT column mapping, ORACLE-pinned (r13, closes the
    last mapping gap): the table is created in 'id' mode with a
    struct column AND an array<struct> column — every nested field
    gets its own delta.columnMapping.id/physicalName, data files
    carry physical nested names + nested parquet field ids
    (positional-cast staging), and reads resolve data columns BY
    FIELD ID then rename nested fields back logically. The DML binds
    NESTED logical names (``DELETE WHERE o_orderkey % 5 = 0``,
    ``UPDATE SET info = named_struct(...) WHERE info.prio =
    '1-URGENT'``), and the struct field is then RENAMED
    (``info.price`` -> ``info.amt``, metadata-only). Read-back must
    equal DuckDB recomputing both mutations from the flat fixture:
    hash equality proves the recursive id assignment, the positional
    rename planes, and the nested rename lose nothing
    (sources/deltalog._phys_field_json/_assign_mapping_ids/
    _to_logical_cols; reference tie: saveAsTable layouts of
    01_var_market_etl.py:56-64 under modern mapped-table defaults)."""
    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        read_delta,
        rename_delta_column,
        update_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderpriority").alias("prio"),
            ).alias("info"),
            F.array(
                F.struct(
                    (F.col("o_totalprice") * 0.5).alias("p"),
                    F.col("o_custkey").cast("long").alias("q"),
                )
            ).alias("arr"),
        )
        write_delta(
            spark,
            orders.filter(F.col("o_orderkey") % 2 == 0),
            tbl,
            partition_by=["o_orderstatus"],
            configuration={"delta.columnMapping.mode": "id"},
        )
        write_delta(spark, orders.filter(F.col("o_orderkey") % 2 == 1), tbl)
        delete_from_delta(spark, tbl, "o_orderkey % 5 = 0")
        update_delta(
            spark,
            tbl,
            "info.prio = '1-URGENT'",
            {"info": "named_struct('price', info.price + 100.0, "
                     "'prio', info.prio)"},
        )
        rename_delta_column(tbl, "info.price", "amt")

    tbl = _scratch_delta_table(
        "nestedmap",
        sf_dir,
        "orders nested mapped id-mode: del %5, update urgent+100, "
        "rename info.price->amt",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # scaled before rounding: the group sums reach 1e10 at
            # sf0.1 where a cents-level round sits inside the float
            # accumulation-order noise between engines
            (
                F.round(F.sum(F.col("info.amt")) / F.lit(1000000.0), 2)
                + F.lit(0.0)
            ).alias("total_amt"),
            (
                F.round(
                    F.sum(F.element_at("arr", 1).getField("p"))
                    / F.lit(1000000.0),
                    2,
                )
                + F.lit(0.0)
            ).alias("arr_amt"),
        )
    )

@query(
    "delta_widen_scan",
    """
SELECT p_brand,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS total_size,
       ROUND(SUM(CAST(CAST(p_retailprice AS REAL) AS DOUBLE)), 2)
         AS total_price
FROM part GROUP BY p_brand
""",
)
def delta_widen_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN TYPE widening, ORACLE-pinned: the table is created
    with NARROW types (p_size int32, p_retailprice float32), widened
    to long/double by two METADATA-ONLY commits (no parquet touched;
    protocol gains the typeWidening reader+writer feature), then a
    second append stages the WIDE types the schema now declares. The
    scan reads old narrow files and new wide files under ONE declared
    schema; DuckDB recomputes the same values by casting the fixture
    through the identical narrow grid (REAL == float32), so hash
    equality proves the upcast is lossless and the mixed-physical-type
    file set unifies correctly (sources/deltalog.widen_column_type)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        widen_column_type,
        write_delta,
    )

    def build(tbl: str) -> None:
        part = (
            _t(spark, sf_dir, "part")
            .select("p_partkey", "p_brand", "p_size", "p_retailprice")
            .withColumn("p_size", F.col("p_size").cast("int"))
            .withColumn(
                "p_retailprice", F.col("p_retailprice").cast("float")
            )
        )
        write_delta(spark, part.filter(F.col("p_partkey") % 2 == 0), tbl)
        widen_column_type(tbl, "p_size", "long")
        widen_column_type(tbl, "p_retailprice", "double")
        write_delta(
            spark,
            part.filter(F.col("p_partkey") % 2 == 1)
            .withColumn("p_size", F.col("p_size").cast("long"))
            .withColumn(
                "p_retailprice", F.col("p_retailprice").cast("double")
            ),
            tbl,
        )

    tbl = _scratch_delta_table(
        "widen", sf_dir, "part narrow create + widen size/price + append",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("p_size").alias("total_size"),
            (F.round(F.sum("p_retailprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_small_file_compaction_scan",
    """
SELECT r_regionkey,
       2 * COUNT(*) AS n_nations,
       CAST(2 * SUM(LENGTH(n_name)) AS BIGINT) AS name_chars
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_regionkey
""",
)
def delta_small_file_compaction_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental OPTIMIZE (min_file_size), ORACLE-pinned on its
    SELECTIVITY: one LARGE commit (the full nation in a single file)
    plus five trickle per-region commits (the classic small-file
    problem) land in one table (nation x2 logically), then the sweep
    with threshold = the large file's size compacts ONLY the small
    files — the build asserts the large file's add action survives
    VERBATIM while every small file is replaced, so a regression that
    rewrote (or worse, removed) right-sized files fails the build, and
    the hash vs DuckDB's doubled-nation recompute proves the sweep
    lost/duplicated nothing
    (sources/deltalog.optimize_delta min_file_size)."""
    from value_at_risk_spark.sources.deltalog import (
        optimize_delta,
        read_delta,
        snapshot,
        write_delta,
    )

    def build(tbl: str) -> None:
        nation = _t(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey", "n_name"
        )
        write_delta(spark, nation.coalesce(1), tbl)  # the LARGE file
        for r in range(5):  # five small trickle commits
            write_delta(
                spark,
                nation.filter(F.col("n_regionkey") == r).coalesce(1),
                tbl,
            )
        snap0 = snapshot(tbl)
        sizes = {p: int(a["size"]) for p, a in snap0.files.items()}
        big = max(sizes, key=sizes.get)
        assert all(
            sizes[p] < sizes[big] for p in sizes if p != big
        ), "fixture: the full-nation file must be strictly largest"
        optimize_delta(
            spark, tbl, min_file_size=sizes[big], target_files=1
        )
        snap1 = snapshot(tbl)
        # selectivity contract: big file untouched, small replaced
        assert snap1.files[big] == snap0.files[big], "big file rewritten"
        assert not (set(snap1.files) - {big}) & set(snap0.files), (
            "a small file survived the sweep"
        )
        assert len(snap1.files) < len(snap0.files)

    tbl = _scratch_delta_table(
        "smallfiles", sf_dir,
        "nation full + 5 trickle commits, size-selective sweep", build,
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey")
    return (
        read_delta(spark, tbl)
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum(F.length("n_name")).alias("name_chars"),
        )
    )

@query(
    "delta_optimize_where_scan",
    """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS total_bal
FROM supplier GROUP BY s_nationkey
""",
)
def delta_optimize_where_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... WHERE (r13), ORACLE-pinned on its SCOPE: supplier
    lands Hive-partitioned by nation in three trickle commits (small
    files in every partition), then the SQL text surface runs
    ``OPTIMIZE delta.`p` WHERE s_nationkey IN ('0','1')`` — the build
    asserts every OUT-of-scope partition's add actions survive
    VERBATIM while the scoped partitions compact (the 100 TB
    daily-sweep contract: compact yesterday's partition, not the
    table), and the hash vs DuckDB's supplier recompute proves the
    scoped rewrite lost/duplicated nothing
    (sources/deltalog.optimize_delta partition_filters;
    delta_sql._parse_partition_predicate)."""
    from value_at_risk_spark.sources.delta_sql import delta_sql
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        snapshot,
        write_delta,
    )

    def build(tbl: str) -> None:
        sup = _t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        for c in range(3):  # trickle: small files in every partition
            write_delta(
                spark,
                sup.filter(F.col("s_suppkey") % 3 == c),
                tbl,
                partition_by=["s_nationkey"] if c == 0 else None,
            )
        snap0 = snapshot(tbl)

        def by_part(snap):
            out: dict[str, set] = {}
            for p, a in snap.files.items():
                k = (a.get("partitionValues") or {}).get("s_nationkey")
                out.setdefault(k, set()).add(p)
            return out

        before = by_part(snap0)
        delta_sql(
            spark,
            f"OPTIMIZE delta.`{tbl}` WHERE s_nationkey IN ('0','1')",
        )
        after = by_part(snapshot(tbl))
        for k in before:
            if k in ("0", "1"):
                assert after[k] != before[k], f"scope {k} not compacted"
            else:
                assert after[k] == before[k], (
                    f"out-of-scope partition {k} was rewritten"
                )

    tbl = _scratch_delta_table(
        "optwhere",
        sf_dir,
        "supplier 3 trickle commits, OPTIMIZE WHERE nation 0,1",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (F.round(F.sum("s_acctbal"), 2) + F.lit(0.0)).alias(
                "total_bal"
            ),
        )
    )

@query(
    "delta_shallow_clone_scan",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       ROUND(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                      THEN c_acctbal + 10 ELSE c_acctbal END), 2)
         AS total_bal
FROM customer GROUP BY c_mktsegment
""",
)
def delta_shallow_clone_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE, ORACLE-pinned: the clone's v0 re-publishes the
    demo table's adds as ABSOLUTE paths (zero data bytes move), then
    an UPDATE mutates the CLONE only — its copy-on-write rewrite lands
    under the clone's root while the source files stay shared and
    untouched. Reading the mutated clone must equal DuckDB recomputing
    the mutation from the original fixture; the source table's own
    gate query (delta_native_scan) keeps pinning that the source is
    unchanged (sources/deltalog.shallow_clone)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        shallow_clone,
        update_delta,
    )

    # re-ensure the SOURCE exists before touching the clone: the
    # clone references its files absolutely, and the scratch GC could
    # in principle collect one without the other
    src = _delta_demo_table(spark, sf_dir)

    def build(tbl: str) -> None:
        shallow_clone(src, tbl)
        update_delta(
            spark,
            tbl,
            "c_mktsegment = 'BUILDING'",
            {"c_acctbal": "c_acctbal + 10"},
        )

    # the source's table id (a fresh uuid per build) rides in the
    # clone's cache key: a GC'd-and-rebuilt source gets NEW random
    # file names, and a stale cached clone would point at deleted
    # files forever — keying on the id invalidates the clone whenever
    # the source rebuilds
    from value_at_risk_spark.sources.deltalog import snapshot as _snap

    src_id = _snap(src).metadata["id"]
    tbl = _scratch_delta_table(
        "clone",
        sf_dir,
        f"demo shallow clone + bump BUILDING @src:{src_id}",
        build,
    )
    return (
        read_delta(spark, tbl)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.round(F.sum("c_acctbal"), 2) + F.lit(0.0)).alias("total_bal"),
        )
    )

@query(
    "delta_row_tracking_scan",
    """
SELECT n_nationkey,
       CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_nationkey / 2 AS BIGINT)
            ELSE CAST(13 + (n_nationkey - 1) / 2 AS BIGINT) END AS row_id,
       CASE WHEN n_regionkey = 2 THEN n_name || '!' ELSE n_name END AS n_name
FROM nation
""",
)
def delta_row_tracking_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row tracking (protocol writer feature rowTracking),
    ORACLE-pinned on exact id VALUES: two single-file sorted appends
    make the fresh-id assignment deterministic (append 1 = even
    nationkeys sorted -> ids 0..12, append 2 = odd -> ids 13..24),
    then a copy-on-write UPDATE rewrites every touched file — ids
    survive ONLY through the materialized row-id column the rewrite
    stages. DuckDB recomputes both the ids (closed form of the sorted
    ranks) and the mutation from the fixture; hash equality proves
    baseRowId carving, the high-water-mark domain, and rewrite
    materialization all hold (sources/deltalog._rt_assign /
    _files_with_row_ids; read_delta_row_ids)."""
    from value_at_risk_spark.sources.deltalog import (
        read_delta_row_ids,
        update_delta,
        write_delta,
    )

    def build(tbl: str) -> None:
        nation = _t(spark, sf_dir, "nation").select(
            "n_nationkey", "n_regionkey", "n_name"
        )
        write_delta(
            spark,
            nation.filter(F.col("n_nationkey") % 2 == 0)
            .orderBy("n_nationkey")
            .coalesce(1),
            tbl,
            configuration={"delta.enableRowTracking": "true"},
        )
        write_delta(
            spark,
            nation.filter(F.col("n_nationkey") % 2 == 1)
            .orderBy("n_nationkey")
            .coalesce(1),
            tbl,
        )
        update_delta(
            spark,
            tbl,
            "n_regionkey = 2",
            {"n_name": "concat(n_name, '!')"},
        )

    tbl = _scratch_delta_table(
        "rowtrack", sf_dir, "nation even/odd sorted 1-file + upd reg2",
        build,
    )
    return read_delta_row_ids(spark, tbl).select(
        "n_nationkey", "row_id", "n_name"
    )

@query(
    "delta_cdf_scan",
    """
SELECT _change_type,
       _commit_version,
       COUNT(*) AS n_rows,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM (
  SELECT 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version,
         o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'insert', CAST(1 AS BIGINT), o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL
  SELECT 'delete', CAST(2 AS BIGINT), o_totalprice
  FROM orders WHERE o_totalprice < 50000.0
  UNION ALL
  SELECT 'update_preimage', CAST(3 AS BIGINT), o_totalprice
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT o_totalprice < 50000.0
  UNION ALL
  SELECT 'update_postimage', CAST(3 AS BIGINT), o_totalprice * 2
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT o_totalprice < 50000.0
)
GROUP BY _change_type, _commit_version
""",
)
def delta_cdf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed end to end, ORACLE-pinned: after two appends,
    a file-level DELETE, and an UPDATE on a CDF table, table_changes
    over the whole history must reproduce EXACTLY the row-level
    change stream DuckDB computes closed-form from the original
    parquet — appends as derived inserts, the DELETE's victims from
    its cdc files, the UPDATE as preimage/postimage pairs. Hash
    equality proves the cdc staging lost no rows, derivation and cdc
    branches agree on schema, and rewritten SURVIVORS never leak into
    the feed (sources/deltalog.table_changes; Delta protocol 'Add CDC
    File')."""
    from value_at_risk_spark.sources.deltalog import table_changes

    tbl = _delta_cdf_table(spark, sf_dir)
    return (
        table_changes(spark, tbl, 0)
        .groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_cdf_datasource_scan",
    """
SELECT _change_type,
       _commit_version,
       COUNT(*) AS n_rows,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM (
  SELECT 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version,
         o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT 'insert', CAST(1 AS BIGINT), o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
  UNION ALL
  SELECT 'delete', CAST(2 AS BIGINT), o_totalprice
  FROM orders WHERE o_totalprice < 50000.0
  UNION ALL
  SELECT 'update_preimage', CAST(3 AS BIGINT), o_totalprice
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT o_totalprice < 50000.0
  UNION ALL
  SELECT 'update_postimage', CAST(3 AS BIGINT), o_totalprice * 2
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT o_totalprice < 50000.0
)
GROUP BY _change_type, _commit_version
""",
)
def delta_cdf_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED Change Data Feed path, ORACLE-pinned:
    ``spark.read.format('deltalog').option('readChangeFeed', 'true')``
    over the same CDF table must reproduce the identical change
    stream as table_changes — one input partition per change file,
    the _change_type/_commit_version/_commit_timestamp columns
    materialized as Arrow constants in the task, never a driver-side
    row loop (sources/delta_datasource._DeltaCdfBatchReader)."""
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )

    register_deltalog_source(spark)
    tbl = _delta_cdf_table(spark, sf_dir)
    return (
        spark.read.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(tbl)
        .groupBy("_change_type", "_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )

@query(
    "delta_cdf_incremental_agg",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS total_price
FROM orders
WHERE NOT (o_totalprice < 50000.0)
GROUP BY o_orderpriority
""",
)
def delta_cdf_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance from the CDF, ORACLE-pinned:
    the per-priority (count, sum) state computed at version 1 (the
    full pre-DML table), advanced by applying ONLY the change rows of
    the DELETE and UPDATE commits (+post/-pre signing,
    operators/cdf.maintain_sum_count), must equal DuckDB's full
    recompute of the FINAL table state — the 100 TB consumption
    pattern where a downstream aggregate is maintained from bounded
    change volume instead of a table rescan."""
    from value_at_risk_spark.operators.cdf import maintain_sum_count
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        snapshot,
        table_changes,
    )

    tbl = _delta_cdf_table(spark, sf_dir)
    base = (
        read_delta(spark, tbl, version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("o_totalprice").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    changes = table_changes(spark, tbl, 2, snapshot(tbl).version)
    maintained = maintain_sum_count(
        base, changes, ["o_orderpriority"], "o_totalprice",
        sum_col="total", cnt_col="n",
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        (F.round(F.col("total"), 2) + F.lit(0.0)).alias("total_price"),
    )

@query(
    "streaming_cdf_maintenance",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice * 2
                      ELSE o_totalprice END), 2) AS total_price
FROM orders
WHERE NOT (o_totalprice < 50000.0)
GROUP BY o_orderpriority
""",
)
def streaming_cdf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CDC pipeline on the native log, ORACLE-pinned: a
    materialized per-priority (count, sum) aggregate seeded at
    version 1 is kept current by a STREAMING consumer of the Change
    Data Feed — readStream(readChangeFeed) drains the DELETE and
    UPDATE commits' change rows, each foreachBatch applies
    maintain_sum_count and overwrites the view table transactionally
    (txn-action idempotence keyed by batchId, so a replayed batch
    cannot double-apply; the +post/-pre algebra is order-insensitive,
    so any batch partitioning of the commits yields the same view). The final view must equal DuckDB's
    recompute of the final table state. This is the 100 TB downstream
    pattern end to end: the view advances on change volume, never a
    base-table rescan (sources/delta_datasource._DeltaStreamReader
    CDF mode; operators/cdf.maintain_sum_count)."""
    import tempfile

    from value_at_risk_spark.operators.cdf import maintain_sum_count
    from value_at_risk_spark.sources.delta_datasource import (
        register_deltalog_source,
    )
    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        write_delta,
    )

    register_deltalog_source(spark)
    tbl = _delta_cdf_table(spark, sf_dir)
    mv = tempfile.mkdtemp(prefix="vars_cdf_mv_")
    import shutil

    shutil.rmtree(mv, ignore_errors=True)
    base = (
        read_delta(spark, tbl, version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("o_totalprice").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    write_delta(spark, base, mv)

    def _apply(batch_df, batch_id: int) -> None:
        updated = maintain_sum_count(
            read_delta(batch_df.sparkSession, mv),
            batch_df,
            ["o_orderpriority"],
            "o_totalprice",
            sum_col="total",
            cnt_col="n",
        )
        write_delta(
            batch_df.sparkSession,
            updated,
            mv,
            mode="overwrite",
            txn={"appId": f"cdf_mv_{mv}", "version": batch_id},
        )

    ckpt = tempfile.mkdtemp(prefix="vars_cdf_mv_ckpt_")
    q = (
        spark.readStream.format("deltalog")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")  # AFTER v1: the DML commits
        .load(tbl)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = read_delta(spark, mv).select(
        "o_orderpriority",
        F.col("n").alias("n_orders"),
        (F.round(F.col("total"), 2) + F.lit(0.0)).alias("total_price"),
    )
    import atexit

    atexit.register(shutil.rmtree, mv, ignore_errors=True)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return out

@query(
    "delta_timestamp_travel",
    """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def delta_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF resolution, ORACLE-pinned: reading the CDF
    table at version 1's COMMIT TIMESTAMP (taken from the log's own
    commitInfo, resolved through version_at_timestamp) must
    reconstruct the complete original order set — the newest version
    at-or-before the timestamp is v1, the last pre-DML append — so
    hash equality against DuckDB's full-orders aggregate pins both
    the timestamp→version mapping and the snapshot replay under it
    (sources/deltalog.version_at_timestamp / read_delta)."""
    from value_at_risk_spark.sources.deltalog import (
        delta_history,
        read_delta,
    )

    tbl = _delta_cdf_table(spark, sf_dir)
    ts_v1 = next(
        h["timestamp"] for h in delta_history(tbl) if h["version"] == 1
    )
    return (
        read_delta(spark, tbl, timestamp=ts_v1 / 1000.0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias(
                "total_price"
            ),
        )
    )
