"""The VaR pipeline: the reference's five notebooks as composable stages.

Reference flow (SURVEY §3): 01 ETL → volatility stats; 02 per-ticker
model fit; 03 Monte-Carlo simulation + scoring; 04 slice-and-dice VaR
aggregation; 05 Basel compliance backtest. Each stage here is a pure
DataFrame → DataFrame function over the table-registry contract — no
Databricks, MLflow, yfinance, or tempo.

Key deviations (all scale-motivated, semantics preserved):
- market factor returns computed distributed with a lag window instead
  of the reference's driver pandas round-trip
  (/root/reference/01_var_market_etl.py:135-154);
- trailing mean/cov uses a date-spine range join + covar_samp rather
  than a single-task global window + per-row Python UDFs
  (01_var_market_etl.py:167-184; SURVEY §4 single-partition hazard);
- model scoring is a broadcast weights join + native expression, not an
  MLflow pyfunc UDF (02_var_model.py:219-220);
- ``run_pipeline`` folds the portfolio weights into the model weights
  (``aggregate_var_fused``) and scores each simulated state once,
  instead of once per ticker (04_var_aggregation.py);
- trial vectors stay (date, trial_id) rows until the final percentile;
  no VectorUDT packing (04_var_aggregation.py:35-41). `pack_trials`
  exists for parity where a packed layout is wanted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from value_at_risk_spark.functions.features import (
    nonlinear_features,
    predict_expanded,
    predict_nonlinear,
)
from value_at_risk_spark.functions.returns import _log_returns_sql
from value_at_risk_spark.functions.risk import basel_zone, value_at_risk_expr
from value_at_risk_spark.functions.timeutil import epoch_seconds
from value_at_risk_spark.functions.vector import _col_sql, _name_sql
from value_at_risk_spark.model import fit_ols_per_group, score
from value_at_risk_spark.montecarlo import simulate_trials
from value_at_risk_spark.operators.asof import asof_join
from value_at_risk_spark.operators.vector_agg import vector_mean_cov, vector_sum


@dataclass(frozen=True)
class VarConfig:
    """application.yaml semantics (/root/reference/config/application.yaml)."""

    volatility_days: int = 90  # monte-carlo.volatility (yaml:27-28)
    basel_days: int = 250  # 05_var_compliance.py:113
    runs: int = 1000  # monte-carlo.runs (yaml:29-30; 32,000 in prod)
    confidence: float = 99.0
    factor_cols: tuple[str, ...] = field(default=())


def stock_returns(stocks: DataFrame) -> DataFrame:
    """(ticker, date, close) → (ticker, date, return) — 02_var_model.py:52-64.

    First row per ticker returns 0.0 (reference W3 semantics, SURVEY §7.5).
    """
    return stocks.filter("close IS NOT NULL").selectExpr(
        "ticker",
        "date",
        f"{_log_returns_sql('close', ['ticker'], 'date')} AS `return`",
    )


def market_features(indicators: DataFrame, factor_cols: list[str]) -> DataFrame:
    """Wide indicator closes → (date, features: array of factor log returns).

    Distributed replacement for get_market_returns
    (01_var_market_etl.py:135-154): per-factor lag window + F.array
    packing, no driver round-trip. Direction standardized to
    log(cur/prev) (SURVEY §7.4).
    """
    rets = indicators.selectExpr(
        "date",
        *[
            f"{_log_returns_sql(c, None, 'date')} AS {_name_sql(c)}"
            for c in factor_cols
        ],
    )
    return rets.selectExpr(
        "date", f"array({', '.join(map(_col_sql, factor_cols))}) AS features"
    )


def trailing_volatility(
    features_df: DataFrame, days: int = 90
) -> DataFrame:
    """(date, features) → (date, vol_avg, vol_cov) over a trailing window.

    01_var_market_etl.py:159-184 re-expressed: instead of a global
    unpartitioned range window + per-row mean/cov Python UDFs (single
    task — SURVEY §4), each date range-joins its trailing history and
    aggregates with avg/covar_samp.

    The range join is bucketized so Catalyst gets an EQUI join: with
    bucket width = the window length, a date in bucket b only needs
    history from buckets {b-1, b}; each current-date row explodes to
    those two bucket keys and hash-joins history on the bucket id, with
    the exact range predicate as a post-filter. Shuffle-hash/broadcast
    instead of a nested-loop — linear fan-out at any history size.
    """
    bucket = f"floor(unix_date(CAST(date AS DATE)) / {int(days)})"
    cur = features_df.selectExpr(
        "date AS _cd", f"explode(array({bucket}, {bucket} - 1)) AS _bk"
    )
    hist = features_df.selectExpr("date AS _hd", f"{bucket} AS _bk", "features")
    # Each date's history lands in one task, in date order: the mean/cov
    # aggregates then run without a further Exchange and fold their rows
    # in the same order however the input is partitioned, so the output
    # bits do not depend on shuffle-arrival order.
    joined = (
        cur.join(hist, "_bk")
        .filter(f"_hd >= date_sub(_cd, {int(days)}) AND _hd <= _cd")
        .drop("_bk")
        .repartition("_cd")
        .sortWithinPartitions("_cd", "_hd")
    )
    # one pass (r17, guide §2.4): the row count rides the mean/cov
    # aggregation (count_col) instead of a second groupBy over the
    # SAME bucket join — lazily, the explode+join subtree executed
    # twice and the counts branch re-shuffled it just to count rows.
    stats = vector_mean_cov(joined, ["_cd"], "features", count_col="_n")
    return (
        stats
        .filter("_n > 1")  # size>1 guard, 01_var_market_etl.py:177
        .selectExpr("_cd AS date", "vol_avg", "vol_cov")
    )


def train_models(
    stock_rets: DataFrame, features_df: DataFrame, model_cut: str | None = None
) -> DataFrame:
    """Per-ticker OLS of stock returns on non-linear market features.

    02_var_model.py:82-154: as-of join each ticker's return series to
    the latest market features (J5, partitioned by ticker), expand
    features (F10), fit per group (A6). Output: (ticker, weights).
    """
    if model_cut is not None:
        stock_rets = stock_rets.filter(F.col("date") < F.lit(model_cut))
        features_df = features_df.filter(F.col("date") < F.lit(model_cut))
    joined = asof_join(stock_rets, features_df, on="date")
    training = joined.filter("right_features IS NOT NULL").select(
        "ticker",
        "return",
        nonlinear_features("right_features").alias("x"),
    )
    return fit_ols_per_group(training, "ticker", "x", "return")


def run_date_spine(
    spark: SparkSession, start: str, end: str, step_days: int = 7
) -> DataFrame:
    """Weekly run-date spine (03_var_monte_carlo.py:18-20) — F.sequence,
    not driver pandas."""
    return spark.sql(
        f"""
        SELECT explode(sequence(
            to_date('{start}'), to_date('{end}'),
            interval {step_days} days)) AS run_date
        """
    ).selectExpr("CAST(run_date AS TIMESTAMP) AS run_date")


def simulate(
    volatility: DataFrame, run_dates: DataFrame, runs: int
) -> DataFrame:
    """Latest volatility per run date (as-of) → seeded MC trials.

    03_var_monte_carlo.py:30-87. Output: (date, trial_id, features).
    """
    vol_at = asof_join(
        run_dates, volatility, on="run_date", right_on="date"
    ).filter("right_vol_avg IS NOT NULL")
    vol = vol_at.selectExpr(
        "run_date AS date", "right_vol_avg AS vol_avg", "right_vol_cov AS vol_cov"
    )
    return simulate_trials(vol, runs=runs)


def score_trials(
    simulated: DataFrame, weights: DataFrame, n_factors: int | None = None
) -> DataFrame:
    """Simulated market states × instruments → predicted returns.

    03_var_monte_carlo.py:93-109: the ticker fan-out is the broadcast
    weights join itself (no separate cross join needed — every weights
    row replicates every market state), and scoring is the native
    predictor, so the widest stage (dates × trials × tickers) never
    leaves codegen.
    """
    return score(
        simulated.crossJoin(F.broadcast(weights.select("ticker"))),
        weights,
        group_col="ticker",
        feature_col="features",
        out_col="return",
        n_factors=n_factors,
    ).select("date", "ticker", "trial_id", "return")


def aggregate_var(
    scored: DataFrame,
    portfolio: DataFrame,
    confidence: float = 99.0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Slice-and-dice VaR (04_var_aggregation.py:35-123).

    scored (date, ticker, trial_id, return) ⋈ portfolio weights →
    per-trial weighted portfolio return → per-(date[, slice])
    percentile. Two shuffles: (date, slice, trial) partial-sum hash agg
    (map-side combined), then the small per-date percentile agg.
    """
    group_cols = group_cols or []
    weighted = scored.join(F.broadcast(portfolio), "ticker").withColumn(
        "_wr", F.col("return") * F.col("weight")
    )
    per_trial = weighted.groupBy("date", *group_cols, "trial_id").agg(
        F.sum("_wr").alias("_pr")
    )
    return per_trial.groupBy("date", *group_cols).agg(
        value_at_risk_expr("_pr", confidence).alias("var_99"),
        F.avg("_pr").alias("mean_return"),
    )


def backtest(
    stock_rets: DataFrame,
    portfolio: DataFrame,
    var_series: DataFrame,
    basel_days: int = 250,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Basel compliance (05_var_compliance.py:84-120): actual weighted
    P&L as-of-joined to the latest VaR, trailing-window breach count,
    zone.

    ``partition_cols`` (e.g. ``["portfolio_id"]``, supplied by the
    portfolio frame and present in ``var_series``) partitions every
    stage — the P&L aggregation, the as-of join, and the 250-day range
    window — so a multi-portfolio backtest scales out instead of
    degenerating to the reference's single-task global sort (SURVEY §4).
    Unpartitioned, the series is one row per date (≈250 rows/year): a
    single task is the *correct* plan, not a bottleneck.
    """
    keys = list(partition_cols or [])
    actual = (
        stock_rets.join(F.broadcast(portfolio), "ticker")
        .groupBy(*keys, "date")
        .agg(F.expr("sum(`return` * weight) AS `return`"))
    )
    joined = asof_join(
        actual,
        var_series.select(*keys, "date", "var_99"),
        on="date",
        by=keys,
    ).filter("right_var_99 IS NOT NULL")
    ks = [_col_sql(k) for k in keys]
    part = f"PARTITION BY {', '.join(ks)} " if keys else ""
    breaches = (
        "sum(CASE WHEN `return` <= right_var_99 THEN 1 ELSE 0 END) "
        f"OVER ({part}ORDER BY _es "
        f"RANGE BETWEEN {int(basel_days) * 86_400} PRECEDING AND CURRENT ROW)"
    )
    return (
        joined.withColumn("_es", epoch_seconds("date"))
        .selectExpr(
            *ks,
            "date",
            "`return`",
            "right_var_99 AS var_99",
            f"{breaches} AS breaches",
        )
        .withColumn("basel_zone", basel_zone("breaches"))
    )


def run_pipeline(
    spark: SparkSession,
    stocks: DataFrame,
    indicators: DataFrame,
    portfolio: DataFrame,
    cfg: VarConfig,
    model_cut: str | None = None,
    sim_start: str | None = None,
    sim_end: str | None = None,
    materialize: bool = False,
) -> dict[str, DataFrame]:
    """End-to-end: ETL → volatility → models → simulate → VaR → backtest.

    Returns the frames ``returns``, ``features``, ``volatility``,
    ``weights``, ``simulations``, ``var`` and ``backtest``.

    ``var`` comes from ``aggregate_var_fused``: the per-ticker models
    and the portfolio sum are both linear, so the portfolio weights are
    folded into one weight vector and each simulated state is scored
    once, not once per ticker (dates × trials × tickers rows, and the
    shuffle of their per-trial sums, never exist). Per-ticker returns
    are not built here: callers that want them call
    ``score_trials(out["simulations"], out["weights"], n_factors)``,
    and ``score_trials`` → ``aggregate_var`` remains the reference path
    the fused plan is tested against.

    The run-date spine spans ``sim_start``..``sim_end``. Only when one
    of them is missing does an eager job read the stocks' date range to
    fill it in.

    ``materialize=True`` (r17, guide §2.4 — the spine-checkpoint
    pattern extended): eagerly localCheckpoint the three BOUNDED,
    high-fanout intermediates that lazy evaluation otherwise
    re-derives per reference in the composed plan —

    - ``feats`` (one row per date): consumed by the volatility range
      join (both sides) AND the model fit's as-of join — 3 references,
      each re-running the pivot + per-factor lag windows;
    - ``weights`` (one row per ticker): the scoring stage references
      it twice and the backtest's as-of union doubles that — the OLS
      applyInPandas fit appeared FOUR times in the composed physical
      plan;
    - ``var_series`` (one row per run date): the backtest as-of union
      references it twice — the entire simulate→aggregate chain
      (incl. the Monte-Carlo Arrow kernel) executed twice.

    localCheckpoint, never persist: blocks tie to these DataFrames'
    RDD identity, so a fresh run_pipeline call recomputes from source
    (no cross-run plan-fragment cache). Default False keeps the
    composition fully lazy for callers that only consume one stage.
    """
    factor_cols = list(cfg.factor_cols)
    n_factors = len(factor_cols)
    rets = stock_returns(stocks)
    feats = market_features(indicators, factor_cols)
    if materialize:
        feats = feats.localCheckpoint(eager=True)
    vol = trailing_volatility(feats, cfg.volatility_days)
    weights = train_models(rets, feats, model_cut)
    if materialize:
        weights = weights.localCheckpoint(eager=True)
    if not (sim_start and sim_end):
        bounds = stocks.agg(
            F.min("date").alias("mn"), F.max("date").alias("mx")
        ).first()
        sim_start = sim_start or str(bounds.mn)[:10]
        sim_end = sim_end or str(bounds.mx)[:10]
    spine = run_date_spine(spark, sim_start, sim_end)
    sims = simulate(vol, spine, cfg.runs)
    var_series = aggregate_var_fused(
        sims, weights, portfolio, cfg.confidence, n_factors=n_factors
    )
    if materialize:
        var_series = var_series.localCheckpoint(eager=True)
    compliance = backtest(rets, portfolio, var_series, cfg.basel_days)
    return {
        "returns": rets,
        "features": feats,
        "volatility": vol,
        "weights": weights,
        "simulations": sims,
        "var": var_series,
        "backtest": compliance,
    }


def fused_portfolio_weights(
    weights: DataFrame,
    portfolio: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Pre-combine per-ticker model weights into portfolio(-slice) weights.

    The per-ticker predictor is linear in the (ticker-independent)
    expanded features, and the portfolio return is linear in ticker
    returns, so they commute:

        Σ_t w_t · (b0_t + Σ_i b_it·f_i)  =  B0_g + Σ_i B_ig·f_i
        where  B_g = Σ_{t∈g} w_t · b_t   (element-wise)

    One tiny aggregation (instruments × weight-dim) replaces the entire
    dates × trials × tickers scoring fan-out — at reference scale,
    30.2 M rows collapse to the 1.12 M simulated states. The reference
    cannot do this: its per-ticker scoring goes through an opaque
    MLflow pyfunc (03_var_monte_carlo.py:98-109), so the linearity is
    invisible to its planner.
    """
    group_cols = group_cols or []
    j = weights.join(portfolio, "ticker").selectExpr(
        *map(_col_sql, group_cols),
        "1 AS _g",
        "transform(weights, _x -> _x * weight) AS _wv",
    )
    combined = vector_sum(j, [*group_cols, "_g"], "_wv", out_col="weights")
    return combined.drop("_g")


def aggregate_var_fused(
    sims: DataFrame,
    weights: DataFrame,
    portfolio: DataFrame,
    confidence: float = 99.0,
    group_cols: list[str] | None = None,
    n_factors: int | None = None,
) -> DataFrame:
    """Portfolio(-slice) VaR straight from simulated market states.

    Exact same result as score_trials → aggregate_var for linear
    per-ticker models (asserted in tests), with the wide scoring stage
    algebraically eliminated: each simulated state is scored once per
    portfolio slice with the pre-combined weights — no per-ticker
    fan-out, no 30 M-row shuffle.
    """
    group_cols = group_cols or []
    gw = fused_portfolio_weights(weights, portfolio, group_cols)
    fan = sims.crossJoin(F.broadcast(gw))
    pred = (
        predict_expanded("weights", "features", n_factors)
        if n_factors is not None
        else predict_nonlinear("weights", nonlinear_features("features"))
    )
    port = fan.select("date", *group_cols, "trial_id", pred.alias("_pr"))
    return port.groupBy("date", *group_cols).agg(
        value_at_risk_expr("_pr", confidence).alias("var_99"),
        F.avg("_pr").alias("mean_return"),
    )
