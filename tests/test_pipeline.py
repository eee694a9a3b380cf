"""End-to-end VaR pipeline on synthetic GBM fixtures (FIXTURES.md §B)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from value_at_risk_spark.plans.var_pipeline import (
    VarConfig,
    aggregate_var,
    backtest,
    market_features,
    run_pipeline,
    score_trials,
    stock_returns,
    trailing_volatility,
    train_models,
)

FACTORS = ["SP500", "NYSE", "OIL", "TREASURY", "DOWJONES"]
TICKERS = ["AAA", "BBB", "CCC"]


@pytest.fixture(scope="module")
def fixtures(spark):
    """Seeded GBM stocks + correlated indicators on a business-day calendar.

    Stock returns are constructed as a noisy linear function of factor
    returns so train_models has signal to recover.
    """
    rng = np.random.default_rng(42)
    dates = pd.bdate_range("2020-01-01", periods=260)
    n = len(dates)
    factor_rets = rng.multivariate_normal(
        np.zeros(5), 0.0001 * (np.eye(5) + 0.3), size=n
    )
    factor_prices = 100 * np.exp(np.cumsum(factor_rets, axis=0))
    ind_rows = [
        tuple(float(factor_prices[i, j]) for j in range(5))
        + (dates[i].to_pydatetime(),)
        for i in range(n)
    ]
    indicators = spark.createDataFrame(
        ind_rows,
        ", ".join(f"{c} double" for c in FACTORS) + ", date timestamp",
    )

    betas = {"AAA": 0.8, "BBB": -0.5, "CCC": 1.5}
    stock_rows = []
    for t in TICKERS:
        srets = betas[t] * factor_rets[:, 0] + rng.normal(0, 0.001, n)
        prices = 50 * np.exp(np.cumsum(srets))
        for i in range(n):
            stock_rows.append((t, dates[i], float(prices[i])))
    stocks = spark.createDataFrame(
        pd.DataFrame(stock_rows, columns=["ticker", "date", "close"])
    )
    portfolio = spark.createDataFrame(
        [(t, 1 / 29) for t in TICKERS], "ticker string, weight double"
    )
    return stocks, indicators, portfolio


def test_stock_returns_first_row_zero(spark, fixtures):
    stocks, _, _ = fixtures
    rets = stock_returns(stocks)
    firsts = (
        rets.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark").sql.window.Window.partitionBy(
                    "ticker"
                ).orderBy("date")
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    )
    assert all(r["return"] == 0.0 for r in firsts)


def test_trailing_volatility_matches_pandas(spark, fixtures):
    _, indicators, _ = fixtures
    feats = market_features(indicators, FACTORS)
    vol = trailing_volatility(feats, days=90)
    pdf = indicators.toPandas().sort_values("date").set_index("date")
    rets = np.log(pdf[FACTORS] / pdf[FACTORS].shift(1)).fillna(0.0)
    sample = vol.orderBy(F.desc("date")).first()
    ts = pd.Timestamp(sample.date)
    window = rets.loc[ts - pd.Timedelta(days=90): ts]
    assert np.allclose(sample.vol_avg, window.mean().to_numpy(), atol=1e-12)
    assert np.allclose(
        np.array(sample.vol_cov), window.cov(ddof=1).to_numpy(), atol=1e-12
    )


def test_trailing_volatility_bits_independent_of_partitioning(spark, fixtures):
    """The trailing mean/cov are bit-equal however the features arrive
    partitioned: each date's history is aggregated in one task, in date
    order, so the partial aggregates do not merge in shuffle-arrival
    order."""
    _, indicators, _ = fixtures
    feats = market_features(indicators, FACTORS).localCheckpoint(eager=True)

    def bits(df):
        return {
            r.date: (r.vol_avg, r.vol_cov)
            for r in trailing_volatility(df, days=90).collect()
        }

    one = bits(feats.repartition(1))
    seven = bits(feats.repartition(7))
    assert len(one) == len(seven) > 200
    assert [d for d in one if one[d] != seven[d]] == []


def test_train_models_recovers_beta(spark, fixtures):
    stocks, indicators, _ = fixtures
    rets = stock_returns(stocks)
    feats = market_features(indicators, FACTORS)
    w = {r.ticker: r.weights for r in train_models(rets, feats).collect()}
    # weights = [intercept, then 4 terms per factor: x, sgn x², x³, sgn√|x|]
    assert set(w) == set(TICKERS)
    assert len(w["AAA"]) == 1 + 4 * 5
    # the linear coefficient on factor 0 should dominate and match beta sign
    assert w["CCC"][1] > w["AAA"][1] > 0 > w["BBB"][1]


def test_pipeline_end_to_end(spark, fixtures):
    stocks, indicators, portfolio = fixtures
    cfg = VarConfig(runs=200, factor_cols=tuple(FACTORS))
    out = run_pipeline(spark, stocks, indicators, portfolio, cfg)
    var = out["var"].collect()
    assert len(var) > 30  # weekly spine over a year
    assert all(r.var_99 < 0 for r in var)
    assert all(abs(r.var_99) < 0.5 for r in var)  # sane magnitude
    # var comes from the fused plan; the staged reference path over
    # per-ticker scores of the same simulations must agree
    scored = score_trials(out["simulations"], out["weights"], len(FACTORS))
    staged = {
        r.date: (r.var_99, r.mean_return)
        for r in aggregate_var(scored, portfolio).collect()
    }
    assert set(staged) == {r.date for r in var}
    for r in var:
        assert r.var_99 == pytest.approx(staged[r.date][0], abs=1e-12)
        assert r.mean_return == pytest.approx(staged[r.date][1], abs=1e-12)
    bt = out["backtest"].collect()
    assert len(bt) > 0
    assert all(r.basel_zone in (0, 1, 2) for r in bt)
    assert all(r.breaches >= 0 for r in bt)


# py4j round trips of one lazy run_pipeline build on these fixtures:
# ~1,000-1,250 measured, plus ~25% headroom
BUILD_ROUND_TRIPS_MAX = 1_550


def test_pipeline_build_cost(spark, fixtures, monkeypatch):
    """Building the lazy pipeline (both sim bounds given) runs no Spark
    job and stays inside a py4j round-trip budget: plan construction
    is driver time paid on every call."""
    from py4j.clientserver import ClientServerConnection

    stocks, indicators, portfolio = fixtures
    cfg = VarConfig(runs=200, factor_cols=tuple(FACTORS))
    sc = spark.sparkContext
    group = "test_pipeline_build_cost"
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    sc.setJobGroup(group, "lazy run_pipeline build")
    try:
        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        out = run_pipeline(
            spark, stocks, indicators, portfolio, cfg,
            sim_start="2020-03-01", sim_end="2020-12-01",
        )
        monkeypatch.undo()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        monkeypatch.undo()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(out) == {
        "returns", "features", "volatility", "weights", "simulations",
        "var", "backtest",
    }
    assert 100 < len(calls) <= BUILD_ROUND_TRIPS_MAX, len(calls)


def test_pipeline_deterministic(spark, fixtures):
    """Seeded-draw reproducibility: two full runs agree. Equality is
    to 1e-12, not bitwise — the per-trial portfolio sums combine
    aggregation partials in task-completion order, and FP addition is
    non-associative, so identical runs can differ by a ULP while every
    underlying draw (per-trial seeds, SURVEY §7.6) is identical."""
    stocks, indicators, portfolio = fixtures
    cfg = VarConfig(runs=50, factor_cols=tuple(FACTORS))
    a = run_pipeline(spark, stocks, indicators, portfolio, cfg)["var"].collect()
    b = run_pipeline(spark, stocks, indicators, portfolio, cfg)["var"].collect()
    sa = sorted(map(tuple, a))
    sb = sorted(map(tuple, b))
    assert len(sa) == len(sb)
    for ra, rb in zip(sa, sb):
        assert ra[0] == rb[0]
        for va, vb in zip(ra[1:], rb[1:]):
            assert va == pytest.approx(vb, abs=1e-12)


def test_warm_pipeline_call_compiles_nothing(spark, fixtures):
    """A warm run_pipeline call reuses every generated class of the
    previous call: Spark's generated-class cache (an LRU) must hold one
    call's working set (~150 classes), or cycling through it evicts
    each class before its reuse and every call pays Janino again."""
    stocks, indicators, portfolio = fixtures
    cfg = VarConfig(runs=50, factor_cols=tuple(FACTORS))
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def call():
        out = run_pipeline(
            spark, stocks, indicators, portfolio, cfg, materialize=True
        )
        out["var"].collect()
        out["backtest"].collect()

    call()
    before = compiles.getCount()
    call()
    assert compiles.getCount() - before == 0


def test_aggregate_var_slices(spark, fixtures):
    stocks, indicators, portfolio = fixtures
    scored = spark.createDataFrame(
        [
            ("2020-06-01", "AAA", t, -0.01 * ((t % 7) - 3))
            for t in range(100)
        ]
        + [
            ("2020-06-01", "BBB", t, 0.005 * ((t % 5) - 2))
            for t in range(100)
        ],
        "date string, ticker string, trial_id long, return double",
    )
    pf = portfolio.withColumn(
        "country", F.when(F.col("ticker") == "AAA", "US").otherwise("PE")
    )
    by_country = aggregate_var(scored, pf, group_cols=["country"]).collect()
    assert {r.country for r in by_country} == {"US", "PE"}


def test_context_var_demo(spark):
    from value_at_risk_spark.montecarlo import context_var_demo

    r = context_var_demo(spark, n_paths=500, days=100).first()
    assert r.var < 0.1  # 5th percentile of a mildly-positive-drift GBM
    assert r.shortfall <= r.var


def test_fused_var_equals_unfused(spark, fixtures):
    """The fused weights path must equal score_trials → aggregate_var
    exactly (linear algebra identity, FP-tolerance)."""
    from value_at_risk_spark.plans.var_pipeline import (
        aggregate_var_fused,
        score_trials,
        simulate,
        run_date_spine,
        trailing_volatility,
    )

    stocks, indicators, portfolio = fixtures
    feats = market_features(indicators, FACTORS)
    vol = trailing_volatility(feats, 90)
    rets = stock_returns(stocks)
    weights = train_models(rets, feats)
    spine = run_date_spine(spark, "2020-06-01", "2020-09-01")
    sims = simulate(vol, spine, runs=100)

    unfused = {
        str(r.date): (r.var_99, r.mean_return)
        for r in aggregate_var(score_trials(sims, weights), portfolio).collect()
    }
    fused = {
        str(r.date): (r.var_99, r.mean_return)
        for r in aggregate_var_fused(sims, weights, portfolio).collect()
    }
    assert set(fused) == set(unfused)
    for d in unfused:
        assert fused[d][0] == pytest.approx(unfused[d][0], abs=1e-12)
        assert fused[d][1] == pytest.approx(unfused[d][1], abs=1e-12)


def test_fused_var_sliced(spark, fixtures):
    from value_at_risk_spark.plans.var_pipeline import (
        aggregate_var_fused,
        score_trials,
        simulate,
        run_date_spine,
        trailing_volatility,
    )

    stocks, indicators, portfolio = fixtures
    pf = portfolio.withColumn(
        "country", F.when(F.col("ticker") == "AAA", "US").otherwise("PE")
    )
    feats = market_features(indicators, FACTORS)
    vol = trailing_volatility(feats, 90)
    weights = train_models(stock_returns(stocks), feats)
    spine = run_date_spine(spark, "2020-06-01", "2020-07-01")
    sims = simulate(vol, spine, runs=50)
    unfused = {
        (str(r.date), r.country): r.var_99
        for r in aggregate_var(
            score_trials(sims, weights), pf, group_cols=["country"]
        ).collect()
    }
    fused = {
        (str(r.date), r.country): r.var_99
        for r in aggregate_var_fused(
            sims, weights, pf, group_cols=["country"]
        ).collect()
    }
    assert set(fused) == set(unfused)
    for k in unfused:
        assert fused[k] == pytest.approx(unfused[k], abs=1e-12)


def test_backtest_partitioned_multi_portfolio(spark, fixtures):
    """Multi-portfolio backtest: partition_cols partitions the Basel
    range window (no single-task global sort) and each partition's
    output equals an independent single-portfolio run."""
    stocks, _, portfolio = fixtures
    rets = stock_returns(stocks)

    pf = portfolio.withColumn(
        "portfolio_id",
        F.when(F.col("ticker") == "CCC", "P2").otherwise("P1"),
    )
    dates = [r.date for r in rets.select("date").distinct().collect()]
    var_rows = [
        (pid, d, -0.01 if pid == "P1" else -0.002)
        for pid in ("P1", "P2")
        for d in dates
    ]
    var_series = spark.createDataFrame(
        var_rows, "portfolio_id string, date timestamp, var_99 double"
    )

    bt = backtest(
        rets, pf, var_series, basel_days=60, partition_cols=["portfolio_id"]
    )
    plan = bt._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(portfolio_id" in plan, plan

    got = {
        (r.portfolio_id, str(r.date)): (r.breaches, r.basel_zone)
        for r in bt.collect()
    }
    assert len({k[0] for k in got}) == 2

    for pid in ("P1", "P2"):
        solo = backtest(
            rets,
            pf.filter(F.col("portfolio_id") == pid).drop("portfolio_id"),
            var_series.filter(F.col("portfolio_id") == pid).drop(
                "portfolio_id"
            ),
            basel_days=60,
        )
        for r in solo.collect():
            assert got[(pid, str(r.date))] == (r.breaches, r.basel_zone)


def test_weights_save_load_rescore(spark, fixtures, tmp_path):
    """Model persistence through the Registry (the reference's MLflow
    register/promote flow, 02_var_model.py:194-302): write weights,
    reload, rescore — scores bit-identical to the in-memory weights."""
    from value_at_risk_spark.model import load_weights, save_weights, score
    from value_at_risk_spark.sources.registry import Registry

    stocks, indicators, _ = fixtures
    rets = stock_returns(stocks)
    feats = market_features(indicators, FACTORS)
    weights = train_models(rets, feats)

    reg = Registry(str(tmp_path))
    save_weights(weights, reg)
    reloaded = load_weights(spark, reg)

    scorable = rets.join(
        feats.withColumnRenamed("features", "x"), "date"
    ).select("ticker", "date", "x")
    a = {
        (r.ticker, str(r.date)): r.prediction
        for r in score(scorable, weights, "ticker", "x").collect()
    }
    b = {
        (r.ticker, str(r.date)): r.prediction
        for r in score(scorable, reloaded, "ticker", "x").collect()
    }
    assert a == b
    assert len(a) > 100


def test_pipeline_persisted_through_native_delta(spark, fixtures, tmp_path):
    """The reference's storage architecture — every stage persists to
    Delta and the next stage reads the TABLE back
    (01_var_market_etl.py:56-64, 03_var_monte_carlo.py:162) — run
    through sources/deltalog.py: stocks, indicators, and portfolio are
    written as native delta tables, read back, and the full pipeline's
    VaR output must agree with the direct in-memory run to 1e-12 (the
    same tolerance as the determinism test: aggregation partial order
    may differ by a ULP; every draw is seeded). This pins that the
    delta round-trip (commit JSON, stats, schema re-typing) is
    loss-free for the engine's own flagship pipeline."""
    from value_at_risk_spark.sources.deltalog import read_delta, write_delta

    stocks, indicators, portfolio = fixtures
    cfg = VarConfig(runs=50, factor_cols=tuple(FACTORS))

    tables = {}
    for name, df in (
        ("stocks", stocks),
        ("indicators", indicators),
        ("portfolio", portfolio),
    ):
        path = str(tmp_path / name)
        write_delta(spark, df, path)
        tables[name] = read_delta(spark, path)

    direct = run_pipeline(spark, stocks, indicators, portfolio, cfg)
    via_delta = run_pipeline(
        spark,
        tables["stocks"],
        tables["indicators"],
        tables["portfolio"],
        cfg,
    )
    a = sorted(map(tuple, direct["var"].collect()))
    b = sorted(map(tuple, via_delta["var"].collect()))
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0]
        for xa, xb in zip(ra[1:], rb[1:]):
            assert abs(xa - xb) < 1e-12
