"""Plan-hygiene regression tests: the physical plans we want, not just
the answers (the scale contract — pushdown, pruning, broadcast)."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from value_at_risk_spark.queries import QUERIES


def _plan(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = _plan(spark, "filter_project", sf_dir)
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p


def test_column_pruning(spark, sf_dir):
    p = _plan(spark, "var99_by_series", sf_dir)
    # only the three needed orders columns are read
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "o_totalprice" in read and "o_orderdate" in read
    assert "o_custkey" not in read and "o_orderstatus" not in read


def test_dimension_joins_broadcast(spark, sf_dir):
    p = _plan(spark, "join_revenue_by_nation", sf_dir)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_topn_is_take_ordered(spark, sf_dir):
    p = _plan(spark, "top10_orders", sf_dir)
    assert "TakeOrderedAndProject" in p


def test_bm25_stats_broadcast_and_filter_before_shuffle(spark, sf_dir):
    """bm25_relevance_scores' scale shape: corpus stats and per-term
    document frequencies enter as broadcasts (never a shuffle keyed on
    the stats), and the query-term filter sits below the first
    aggregate exchange so the shuffle carries only matching (doc,
    term) rows."""
    p = _plan(spark, "bm25_relevance_scores", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # the term IN-list filter must appear in the plan (pre-agg prune)
    assert "spark" in p and "vector" in p and "stream" in p
    assert "SortMergeJoin" not in p


def test_duplicated_ngram_spans_two_hash_aggs(spark, sf_dir):
    """Span dedup's r16 one-pass form: a (gram, doc) grouped reduction,
    cross-doc frequency as a count window PARTITIONED BY the gram key
    (same shuffle key the old join used — one corpus pass instead of
    two), then the per-doc reduction. The scale hazard this pins is
    unchanged: no unpartitioned window, no second gram-stream scan."""
    p = _plan(spark, "duplicated_ngram_spans", sf_dir)
    assert p.count("HashAggregate") >= 4  # 2 aggs x partial+final
    # exactly one window, and it is partitioned by the gram key — an
    # empty partition spec would read windowspecdefinition(specified...
    assert p.count("windowspecdefinition(") == 1
    assert "windowspecdefinition(g#" in p
    assert "windowspecdefinition(specifiedwindowframe" not in p


def test_sq_ann_corpus_bounds_broadcast(spark, sf_dir):
    """sq_ann_topk: the per-dimension bounds frame and the query set
    both broadcast; the corpus side never shuffles for the join (the
    scan-side payload claim of the int8 layout)."""
    p = _plan(spark, "sq_ann_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_weighted_sample_single_scan_one_window(spark, sf_dir):
    """Efraimidis-Spirakis sampling is one scan + one per-stratum
    top-k window — no join, no second scan of documents."""
    p = _plan(spark, "weighted_sample_per_lang", sf_dir)
    tree_scans = [
        ln for ln in p.splitlines() if ln.lstrip().startswith("+- Scan parquet")
    ]
    assert len(tree_scans) == 1, p
    assert "Window" in p
    assert "Join" not in p


def test_pruned_pmi_no_eager_count_and_broadcast_total(spark, sf_dir):
    """token_cooccurrence_pmi{,_pruned} carry the doc count as a lazy
    1-row aggregate broadcast into the plan — building the DataFrame
    must launch ZERO Spark jobs (the old d.count() was an eager
    action), and the plan shows the broadcast."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during_build(name):
        group = f"pmi-lazy-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "plan-build probe")
        QUERIES[name](spark, sf_dir)
        n = len(tracker.getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        return n

    # parquet schema inference launches one tiny footer job per
    # spark.read — that is registry behavior common to every query, so
    # the eager-action check is RELATIVE to a known-lazy projection
    # query over the same table: the old d.count() added a full
    # scan+agg job on top.
    baseline = jobs_during_build("pii_scrub_documents")
    for name in ("token_cooccurrence_pmi", "token_cooccurrence_pmi_pruned"):
        assert jobs_during_build(name) <= baseline, (
            f"{name}: building the DataFrame launched extra Spark jobs"
        )
        p = _plan(spark, name, sf_dir)
        assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    from value_at_risk_spark.sources.registry import (
        Registry,
        read_csv,
        read_json,
        write_csv,
        write_json,
    )

    nation = Registry(sf_dir).read(spark, "nation")
    cpath = str(tmp_path / "nation_csv")
    jpath = str(tmp_path / "nation_json")
    write_csv(nation, cpath)
    write_json(nation, jpath)
    c = read_csv(
        spark, cpath, "n_nationkey int, n_name string, n_regionkey int"
    )
    j = read_json(
        spark, jpath, "n_nationkey int, n_name string, n_regionkey int"
    )
    base = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()}
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in c.collect()} == base
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in j.collect()} == base


def test_ohlc_is_pure_hash_agg(spark, sf_dir):
    """Candlestick resample must be min_by/max_by hash-aggs — no window
    operator, no sort (stays partial-aggregatable at any scale)."""
    p = _plan(spark, "weekly_ohlc_candles", sf_dir)
    assert "min_by" in p and "max_by" in p
    assert "Window" not in p


def test_histogram_single_scan(spark, sf_dir):
    """Per-group histogram bounds come from a window over the existing
    per-series partitioning — the source must be scanned exactly once
    (a broadcast-bounds formulation duplicates the whole subtree)."""
    p = _plan(spark, "var_histogram_density", sf_dir)
    # formatted explain names each scan once in the tree ("+- Scan
    # parquet  (n)") and once in the details section — count tree nodes
    tree_scans = [
        ln for ln in p.splitlines() if ln.lstrip().startswith("+- Scan parquet")
    ]
    assert len(tree_scans) == 1, p


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Fact-fact join on the bucket key over two bucketed tables plans
    with NO shuffle exchange on either side — the persistent layout
    for recurring co-located joins at scale."""
    from value_at_risk_spark.sources.registry import Registry, write_bucketed

    reg = Registry(sf_dir)
    orders = reg.read(spark, "orders").select("o_orderkey", "o_totalprice")
    lineitem = reg.read(spark, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    # spark.sql.warehouse.dir is static config — tables land in the
    # session default warehouse; the finally-block DROPs remove them
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    try:
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        # disable broadcast so the co-located plan is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = joined.count()
        exp = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert n == exp and n > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_zorder_key_interleave_and_write(spark, sf_dir, tmp_path):
    """Morton key: known bit patterns interleave correctly; a z-ordered
    write round-trips and clusters both dimensions (each output file's
    min/max hyper-rectangle is narrow on BOTH cluster columns)."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.layout import write_zordered, zorder_key
    from value_at_risk_spark.sources.registry import Registry

    # unit: 2-bit ranks, bounds [0,3] so rank == value.
    # x=0b11, y=0b00 -> z bits x at 0,2 -> 0b0101 = 5; x=0,y=3 -> 0b1010 = 10
    df = spark.range(1).select(
        zorder_key([F.lit(3), F.lit(0)], [(0, 3), (0, 3)], bits=2).alias("a"),
        zorder_key([F.lit(0), F.lit(3)], [(0, 3), (0, 3)], bits=2).alias("b"),
        zorder_key([F.lit(3), F.lit(3)], [(0, 3), (0, 3)], bits=2).alias("c"),
    ).first()
    assert (df.a, df.b, df.c) == (5, 10, 15)

    orders = Registry(sf_dir).read(spark, "orders").select(
        "o_orderkey",
        F.unix_date(F.col("o_orderdate").cast("date")).alias("od"),
        "o_custkey",
        "o_totalprice",
    )
    out = str(tmp_path / "orders_z")
    write_zordered(orders, out, ["od", "o_custkey"], num_files=8)
    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    # locality: per-file spans on each dim should be well under the
    # global span (single-column sort leaves the other dim at ~full span)
    import glob

    spans = []
    for f in glob.glob(out + "/part-*.parquet"):
        r = spark.read.parquet(f).agg(
            (F.max("od") - F.min("od")).alias("ds"),
            (F.max("o_custkey") - F.min("o_custkey")).alias("cs"),
        ).first()
        spans.append((r.ds, r.cs))
    g = orders.agg(
        (F.max("od") - F.min("od")).alias("ds"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("cs"),
    ).first()
    import statistics

    med_ds = statistics.median(s[0] for s in spans)
    med_cs = statistics.median(s[1] for s in spans)
    assert med_ds <= 0.7 * g.ds, (med_ds, g.ds)
    assert med_cs <= 0.7 * g.cs, (med_cs, g.cs)


def test_zorder_empty_or_allnull_raises_clear_error(spark, tmp_path):
    """write_zordered on empty input / all-NULL cluster column raises a
    ValueError naming the cause, not a bare TypeError from float(None)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.layout import write_zordered

    empty = spark.range(0).select(
        F.col("id").alias("a"), F.col("id").alias("b")
    )
    with _pytest.raises(ValueError, match="empty input or all-NULL"):
        write_zordered(empty, str(tmp_path / "z1"), ["a", "b"])

    allnull = spark.range(5).select(
        F.lit(None).cast("double").alias("a"), F.col("id").alias("b")
    )
    with _pytest.raises(ValueError, match="empty input or all-NULL"):
        write_zordered(allnull, str(tmp_path / "z2"), ["a", "b"])


def test_registry_format_parameterized_roundtrip(spark, sf_dir, tmp_path):
    """Registry.write/read are format-parameterized: the parquet
    default round-trips, and fmt="delta" (the delta-spark format) is
    refused with an error naming the native fmt="deltalog"."""
    import pytest as _pytest

    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    nation = Registry(sf_dir).read(spark, "nation")
    reg.write(nation, "nation_copy")  # parquet default
    back = reg.read(spark, "nation_copy")
    assert back.count() == nation.count()
    assert back.schema == nation.schema

    with _pytest.raises(ValueError, match="fmt='deltalog'"):
        reg.write(nation, "nation_delta", fmt="delta")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-partitioned table writes (Registry.write partition_keys)
    must yield partition PRUNING on a partition-key filter: the scan's
    PartitionFilters carries the predicate and only the matching
    directory is listed — the 100 TB date-slicing lever the reference
    gets from Delta ZORDER slices (03_var_monte_carlo.py:158)."""
    import contextlib
    import glob as _glob
    import io

    from value_at_risk_spark.sources.registry import Registry

    reg = Registry(str(tmp_path))
    events = Registry(sf_dir).read(spark, "events").select(
        "event_id", "value", "event_type"
    )
    reg.write(events, "events_part", partition_keys=["event_type"])
    # physical layout: one directory per event_type
    dirs = _glob.glob(str(tmp_path / "events_part.parquet" / "event_type=*"))
    assert len(dirs) >= 2

    back = reg.read(spark, "events_part").filter("event_type = 'click'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "event_type" in p
    # the value-equality predicate must be IN the partition filters,
    # not the data filters (i.e. pruning, not scanning)
    pf_line = [ln for ln in p.splitlines() if "PartitionFilters" in ln][0]
    assert "click" in pf_line
    # and the values still round-trip
    n_click = events.filter("event_type = 'click'").count()
    assert back.count() == n_click


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC scan/sink: value-exact roundtrip of a fixture table, sorted
    multi-file layout honored, and predicate pushdown reaching the ORC
    scan (PushedFilters) like the parquet path."""
    from value_at_risk_spark.sources.registry import (
        Registry,
        read_orc,
        write_orc,
    )

    orders = Registry(sf_dir).read(spark, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, sort_by=["o_orderdate"], num_files=4)
    back = read_orc(spark, path)
    assert sorted(map(tuple, orders.collect())) == sorted(
        map(tuple, back.collect())
    )
    import glob as _glob

    assert len(_glob.glob(f"{path}/part-*.orc")) == 4

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter("o_totalprice > 100000").explain("formatted")
    p = buf.getvalue()
    assert "PushedFilters" in p and "o_totalprice" in p


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Catalyst's runtime bloom-filter injection (the shuffle-join
    sibling of broadcast DPP): with a selective filter on the creation
    side and a shuffle join, the application-side fact scan gains a
    might_contain(bloom_filter_agg(...)) predicate — at 100 TB this
    prunes most fact rows before the exchange. Thresholds are tuned
    down only because local fixture scans are far below the 10 GB
    application-side default; the rewrite itself is stock Spark."""
    from pyspark.sql import functions as F

    from pyspark.sql import functions as F  # noqa: F811

    from value_at_risk_spark.plans.runtime_filters import (
        plan_has_runtime_bloom_filter,
        runtime_bloom_filters,
    )

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def build():
            l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            return (
                l.join(o, l.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )

        # local fixture scans are far below the 10 GiB default, so the
        # stock rule stays off — the scoped thresholds turn it on
        assert not plan_has_runtime_bloom_filter(build())
        with runtime_bloom_filters(spark):
            j = build()
            assert plan_has_runtime_bloom_filter(j)
            pruned = j.collect()[0]["count"]
        # conf restore is exception-safe; results unaffected by rewrite
        assert not plan_has_runtime_bloom_filter(build())
        assert pruned == build().collect()[0]["count"] > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_runtime_bloom_filter_on_sole_return_suppliers(spark, sf_dir):
    """The engine's most join-heavy fact-fact shape (TPC-H Q21:
    lineitem semi/anti self-joins narrowed by finalized orders) accepts
    runtime bloom-filter pruning: under scoped thresholds the optimized
    plan carries an injected might_contain probe, and the answer is
    bit-identical with and without the rewrite — the rule only drops
    rows that cannot survive the join."""
    from value_at_risk_spark.plans.runtime_filters import (
        plan_has_runtime_bloom_filter,
        runtime_bloom_filters,
    )

    q = QUERIES["sole_return_suppliers"]
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = sorted(map(tuple, q(spark, sf_dir).collect()))
        with runtime_bloom_filters(spark):
            df = q(spark, sf_dir)
            assert plan_has_runtime_bloom_filter(df)
            scoped = sorted(map(tuple, df.collect()))
        assert plain == scoped and len(plain) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_data_quality_audit_single_fact_scan(spark, sf_dir):
    """All six lineitem constraint checks must ride ONE scan of the
    fact table (conditional partial aggregates), not one job per
    check — the property that makes the audit affordable at 100 TB.
    The physical plan may scan orders/customer for the RI check, but
    lineitem exactly once."""
    from value_at_risk_spark.queries import QUERIES

    df = QUERIES["data_quality_audit"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1
    rows = {r.check_name: r for r in df.collect()}
    assert len(rows) == 7
    n = next(iter(rows.values())).n_rows
    assert all(
        r.n_rows == n for r in rows.values() if r.check_name.startswith("lineitem")
    )
    assert all((r.n_violations == 0) == r.passed for r in rows.values())


def test_round7_third_pass_plan_contracts(spark, sf_dir):
    """Physical-plan contracts for the round-7 third-pass queries:
    - train_val_test_split is a ZERO-Exchange map-only projection (the
      whole point of hash-bucket splits vs randomSplit);
    - the md5 fingerprint queries (simhash/minhash twins) reduce in
      exactly ONE Exchange (the doc-keyed hash-agg — all 8/64
      aggregates share it);
    - cms/ewma/kupiec join their small sides by broadcast, never
      SortMergeJoin;
    - nothing in the batch emits a CartesianProduct."""
    from value_at_risk_spark.queries import QUERIES

    def plan(name):
        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("train_val_test_split")
    assert "Exchange" not in p and "Join" not in p

    for name in ("simhash_fingerprints_md5", "minhash_signatures_md5"):
        p = plan(name)
        assert p.count("Exchange") == 1 and "Join" not in p

    for name in ("cms_token_frequency", "ewma_volatility", "kupiec_pof_test"):
        p = plan(name)
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" in p

    for name in (
        "corpus_version_diff",
        "langid_eval_report",
        "user_funnel_conversion",
        "apply_corpus_mix",
        "lm_perplexity_scores",
        "decontaminate_bloom_prefilter",
        "fuzzy_name_matches",
        "max_drawdown_by_series",
        "christoffersen_independence_test",
        "parametric_var_comparison",
    ):
        assert "CartesianProduct" not in plan(name), name


def test_round7_sixth_pass_plan_contracts(spark, sf_dir):
    """Physical-plan contracts for the sixth-pass batch:
    - ohlc_event_bars is ONE hash aggregate — exactly one Exchange, no
      Window, no Join (the struct-argmin trick vs the oracle's two
      ROW_NUMBER windows);
    - benford_price_audit and join_skew_diagnostic never shuffle more
      than the digit/key reduction (no joins at all);
    - the risk-attribution/diagnostic joins (component VaR, ACF, KS)
      are broadcast, never SortMergeJoin;
    - theil_sen_trend's pair join is an equi-join on series (no
      CartesianProduct)."""
    from value_at_risk_spark.queries import QUERIES

    def plan(name):
        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("ohlc_event_bars")
    assert p.count("Exchange") == 1
    assert "Window" not in p and "Join" not in p

    for name in ("benford_price_audit", "join_skew_diagnostic"):
        assert "Join" not in plan(name), name

    for name in ("component_var_euler", "acf_ljung_box", "ks_two_sample_test"):
        p = plan(name)
        assert "SortMergeJoin" not in p, name

    assert "CartesianProduct" not in plan("theil_sen_trend")

    p = plan("token_budget_report")
    assert "Join" not in p and p.count("Exchange") == 1


def test_round7_late_pass_plan_contracts(spark, sf_dir):
    """Anti-pattern sweep over the late round-7 batch: no
    CartesianProduct anywhere (1-row broadcasts plan as
    BroadcastNestedLoopJoin, which is the intended shape), and the
    metric queries join their small sides by broadcast, never
    SortMergeJoin."""
    from value_at_risk_spark.queries import QUERIES

    def plan(name):
        return (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    no_cartesian = (
        "pagerank_trade_graph",
        "retention_cohorts",
        "seasonal_anomaly_days",
        "attribution_last_touch",
        "source_overlap_matrix",
        "event_transition_matrix",
        "feature_binning_woe",
        "model_prediction_intervals",
        "walk_forward_folds",
        "cuped_experiment_analysis",
        "dp_noisy_release",
        "gini_revenue_concentration",
        "pareto_abc_parts",
        "survival_km_churn",
        "price_elasticity_by_brand",
        "stressed_var_250d",
        "leave_one_out_var",
        "shrunk_covariance_matrix",
        "cusum_changepoints",
        "bootstrap_ci_poisson",
        "risk_report_by_series",
        "market_basket_lift",
        "top_event_paths",
        "table_statistics_report",
        "ewma_covariance_matrix",
        "volatility_cones",
        "drawdown_duration_stats",
        "hurst_exponent_rs",
        "garch_volatility_forecast",
        "liquidity_measures",
        "calendar_effects_report",
        "hierarchy_depth_pointer_jumping",
        "order_window_functions_suite",
        "newey_west_mean_test",
        "cohort_ltv_curve",
        "rfm_segmentation",
    )
    for name in no_cartesian:
        assert "CartesianProduct" not in plan(name), name

    for name in (
        "risk_report_by_series",
        "component_var_euler",
        "newey_west_mean_test",
        "market_basket_lift",
    ):
        p = plan(name)
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" in p, name


def test_round8_plan_contracts(spark, sf_dir):
    """Round-8 hygiene pins. (a) tfidf_top_terms builds its plan with
    ZERO extra Spark jobs (the old n_docs = d.count() was an eager
    scan+agg job) and carries the doc count as a broadcast; (b)
    gini_revenue_concentration contains no unpartitioned Window — its
    global rank is the two-pass value-bucket + offset form, and every
    Window operator in the plan has a non-empty partition spec; (c)
    building LSH pairs from minhash_signatures output without
    num_hashes launches no probe job (signature length rides in column
    metadata)."""
    import uuid

    from value_at_risk_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from value_at_risk_spark.queries import QUERIES
    from value_at_risk_spark.sources.registry import Registry

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(fn):
        group = f"r8-lazy-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "plan-build probe")
        fn()
        n = len(tracker.getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        return n

    # relative to a known-lazy projection query (parquet footer job is
    # registry behavior common to every query)
    baseline = jobs_during(lambda: QUERIES["pii_scrub_documents"](spark, sf_dir))
    assert (
        jobs_during(lambda: QUERIES["tfidf_top_terms"](spark, sf_dir))
        <= baseline
    )
    p = _plan(spark, "tfidf_top_terms", sf_dir)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p

    docs = Registry(sf_dir).read(spark, "documents").limit(50)
    sigs = minhash_signatures(docs, num_hashes=16)
    assert jobs_during(lambda: minhash_lsh_pairs(sigs, num_bands=4)) == 0

    gp = (
        QUERIES["gini_revenue_concentration"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in gp.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # "Window [exprs], [partition spec], [order spec]" — the
            # partition spec list must not be empty
            assert ", [], [" not in line, line


def test_round9_dim_metadata_kills_probe_jobs(spark, sf_dir):
    """Round-9 hygiene pin: vector operators resolve dimensionality
    from the ``dim`` column metadata stamped at the source (queries._t
    peeks one parquet row driver-side; _planted_embedding_corpus
    re-stamps its computed columns) — the old per-call
    ``df.select(F.size(vec)).first()`` probe job is gone. Asserted the
    same way the minhash num_hashes pin is: building the operator
    plan from a metadata-bearing frame launches ZERO Spark jobs."""
    import uuid

    from pyspark.sql import functions as F

    from value_at_risk_spark.functions.vector import resolve_dim
    from value_at_risk_spark.operators.similarity import kmeans_centroids
    from value_at_risk_spark.operators.vector_agg import (
        embedding_covariance,
    )
    from value_at_risk_spark.queries import _planted_embedding_corpus, _t

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_during(fn):
        group = f"r9-dim-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "dim-probe audit")
        fn()
        n = len(tracker.getJobIdsForGroup(group))
        sc.setJobGroup(None, None)
        return n

    e = _t(spark, sf_dir, "embeddings")
    assert e.schema["embedding"].metadata.get("dim")

    # metadata survives the planted-corpus transforms, a unionByName,
    # and a rename — the exact path semdedup_planted's corpus takes
    base, planted = _planted_embedding_corpus(e)
    corpus = base.unionByName(planted).select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    assert jobs_during(lambda: resolve_dim(corpus, "embedding")) == 0

    # iters=0 isolates the init path: with metadata the whole build is
    # jobless (any job here would be the old dimension probe)
    assert (
        jobs_during(
            lambda: kmeans_centroids(corpus, "embedding", k=4, iters=0)
        )
        == 0
    )
    # covariance plan-build is fully lazy from a stamped frame
    assert jobs_during(lambda: embedding_covariance(e, "embedding")) == 0

    # a foreign frame without metadata still works (probe fallback)
    foreign = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    assert resolve_dim(foreign, "embedding") == 3


def test_vocabulary_head_cuts_compile_to_take_ordered(spark, sf_dir):
    """zipf_fit_tokens and top_bigrams cut their heads with
    orderBy().limit() — the plan must show TakeOrderedAndProject (the
    distributed partial top-k), and no single-partition Window over
    the full vocabulary (zipf's only Window runs on the bounded
    500-row head, top_bigrams has none at all)."""
    p = _plan(spark, "top_bigrams", sf_dir)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p

    p = _plan(spark, "zipf_fit_tokens", sf_dir)
    assert "TakeOrderedAndProject" in p


def test_row_id_read_plan_broadcast_no_shuffle(spark, tmp_path, monkeypatch):
    """read_delta_row_ids' physical plan, both file-count regimes
    (r13): small tables compile the file->baseRowId map INTO the scan
    projection — no join, no exchange of any kind; above
    _RT_LOOKUP_MAX_FILES the map joins as a BROADCAST hash join
    (metadata-sized side) with NO table-side shuffle — a sort-merge
    join here would shuffle the whole table to attach ids at 100 TB."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.sources import deltalog
    from value_at_risk_spark.sources.deltalog import (
        read_delta_row_ids,
        write_delta,
    )

    t = str(tmp_path / "rtplan")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "id long, v double"
    )
    write_delta(
        spark, df.repartition(4), t,
        configuration={"delta.enableRowTracking": "true"},
    )
    # small-file regime: literal-map lookup, ZERO joins and exchanges
    out = read_delta_row_ids(spark, t)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p
    assert "Exchange" not in p
    # and a downstream filter on a data column still reaches the scan
    f = out.filter(F.col("id") >= 500)
    pf = f._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in pf and "GreaterThanOrEqual(id" in pf

    # large-file regime (forced): broadcast join, no table-side shuffle
    monkeypatch.setattr(deltalog, "_RT_LOOKUP_MAX_FILES", 0)
    out2 = read_delta_row_ids(spark, t)
    p2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2
    assert "Exchange hashpartitioning" not in p2


def test_plan_lint_ratchet_subset(spark, sf_dir):
    """Plan-hygiene lint (tools/plan_lint.py) on a representative
    subset: scalar-broadcast BNLJ carriers must not exceed their
    pinned baseline count, BatchEvalPython / CartesianProduct are
    forbidden outright, and unpartitioned WindowExec carriers must
    stay at their pinned count WITH a boundedness note (r15 ratchet).
    The full registry runs through the same lint before each round's
    closure sweep; this pytest keeps the ratchet mechanism itself from
    rotting."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_lint

    subset = {
        # BNLJ carriers (scalar-broadcast idiom, counts pinned)
        "tfidf_top_terms",
        "embedding_scalar_quantization",
        "heavy_hitter_tokens",
        # Python-boundary queries (Arrow-vectorized only)
        "ols_fit_per_flag",
        "mc_simulate_market",
        "cosine_near_dup_pairs",
        "semantic_decontaminate",
        "kmeans_cluster_assignments",
        # plain equi-join/agg queries (zero unkeyed joins allowed)
        "join_revenue_by_nation",
        "regional_nation_revenue",
        "pagerank_trade_graph",
        "gopher_quality_filters",
        "knn_graph_mutual_edges",
        # global-window carriers (bounded-aggregate frames, notes pinned)
        "bh_corrected_anomalies",
        "zipf_fit_tokens",
        "pareto_abc_parts",
        "session_depth_distribution",
        # global-ordering rewrites that must NOT carry a global window
        "shard_export_manifest",
    }
    bad = plan_lint.lint(spark, sf_dir, subset)
    assert bad == [], bad


def test_plan_lint_global_window_classifier(spark):
    """The WindowExec classifier distinguishes the four plan-text
    forms: partitioned ordered (fine), partitioned unordered (fine),
    global ordered (flagged), and constant-partition-folded
    partitionBy(lit) (flagged — Catalyst folds the constant away and
    the plan runs as ONE task)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    import plan_lint

    df = spark.range(10).withColumn("g", F.col("id") % 3)

    def plan(w, fn):
        return (
            df.withColumn("x", fn.over(w))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    assert plan_lint.count_global_windows(
        plan(Window.partitionBy("g").orderBy("id"), F.row_number())
    ) == 0
    assert plan_lint.count_global_windows(
        plan(Window.partitionBy("g"), F.sum("id"))
    ) == 0
    assert plan_lint.count_global_windows(
        plan(Window.orderBy("id"), F.row_number())
    ) == 1
    assert plan_lint.count_global_windows(
        plan(Window.partitionBy(F.lit(1)), F.sum("id"))
    ) == 1

    # structural order-spec match (ADVICE r15): a PARTITION spec whose
    # expression text merely contains ' ASC'/' DESC' substrings must
    # not read as an order spec, while real order groups (with and
    # without NULLS ordering) must
    assert plan_lint._is_order_spec("x#12L ASC NULLS FIRST")
    assert plan_lint._is_order_spec("a#1 DESC NULLS LAST, b#2 ASC")
    assert not plan_lint._is_order_spec(
        "CASE WHEN (tag#3 = ASC) THEN 1 ELSE 0 END#9"
    )
    assert not plan_lint._is_order_spec("upper(tag#3) DESCR#4")
    assert not plan_lint._is_order_spec("")
    # end-to-end: partitioned-unordered window keyed on an expression
    # containing the literal string 'ASC' stays unflagged
    df2 = df.withColumn(
        "k", F.when(F.col("g") == 1, F.lit("ASC")).otherwise(F.lit("x"))
    )
    p = (
        df2.withColumn("x", F.sum("id").over(Window.partitionBy("k")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan_lint.count_global_windows(p) == 0
