"""Query registry — VaR/market-risk suite, Monte-Carlo, time-series stats.

Mechanically split from the former single-module queries.py (r15,
VERDICT #7): zero behavior change, every query re-registers through
the same @query decorator in ``queries._shared``; the package
__init__ imports every domain module so ``from
value_at_risk_spark.queries import QUERIES, ORACLES`` is unchanged.
"""

from value_at_risk_spark.queries._shared import *  # noqa: F401,F403


@query(
    "daily_price_series",
    "SELECT series, d, price FROM (WITH "
    + SQL_DAILY
    + " SELECT * FROM daily)",
)
def daily_price_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The market_data analogue: (series, date, price level)."""
    return daily_prices(spark, sf_dir)

@query(
    "log_returns_daily",
    "WITH " + SQL_RETS + " SELECT series, d, ret FROM rets",
)
def log_returns_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series log returns via lag window (W3/F1).

    First row per series is log(p/p)=0, reproducing the reference's
    ``first over rowsBetween(-1,0)`` semantics (SURVEY §7.5).
    """
    return daily_returns(spark, sf_dir)

@query(
    "trailing_volatility_90d",
    "WITH "
    + SQL_RETS
    + """
SELECT series, d,
       ROUND(STDDEV_SAMP(ret) OVER w, 6) AS vol_90d,
       COUNT(ret) OVER w AS n_obs
FROM rets
WINDOW w AS (PARTITION BY series
             ORDER BY datediff('day', DATE '1990-01-01', d)
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
""",
)
def trailing_volatility_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 90-day time-range window (W1) — the volatility window of
    01_var_market_etl.py:167-175, with stddev instead of the Python
    mean/cov UDFs (those are exercised in mc_volatility_stats below).

    Partitioned by series ⇒ no single-task global window (SURVEY §4
    hazard); the range key is a day number so the frame is calendar-
    time, not row-count.
    """
    rets = daily_returns(spark, sf_dir)
    w = (
        Window.partitionBy("series")
        .orderBy(_daynum("d"))
        .rangeBetween(-90, 0)
    )
    return rets.select(
        "series",
        "d",
        F.round(F.stddev_samp("ret").over(w), 6).alias("vol_90d"),
        F.count("ret").over(w).alias("n_obs"),
    )

@query(
    "var99_by_series",
    "WITH "
    + SQL_RETS
    + """
SELECT series,
       ROUND(quantile_cont(ret, 0.01), 6) AS var_99,
       COUNT(*) AS n_obs
FROM rets GROUP BY series
""",
)
def var99_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR-99 = exact 1st percentile of the return distribution (O3;
    get_var semantics, utils/var_utils.py:42-44)."""
    rets = daily_returns(spark, sf_dir)
    return rets.groupBy("series").agg(
        F.round(value_at_risk_expr("ret", 99.0), 6).alias("var_99"),
        F.count(F.lit(1)).alias("n_obs"),
    )

@query(
    "rolling_correlation_pairs",
    "WITH "
    + SQL_RETS
    + """,
j AS (
  SELECT a.d, a.ret AS ra, b.ret AS rb
  FROM rets a JOIN rets b ON a.d = b.d
  WHERE a.series = '1-URGENT' AND b.series = '5-LOW'
),
w AS (
  SELECT d,
         CORR(ra, rb) OVER (
           ORDER BY d ROWS BETWEEN 89 PRECEDING AND CURRENT ROW
         ) AS c,
         COUNT(*) OVER (
           ORDER BY d ROWS BETWEEN 89 PRECEDING AND CURRENT ROW
         ) AS n
  FROM j
)
SELECT CAST(d AS DATE) AS d, ROUND(c, 6) + 0 AS corr_90d
FROM w WHERE n >= 30
""",
)
def rolling_correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 90-observation correlation between two return series —
    the co-movement diagnostic behind every correlation-breakdown
    story in a risk report. The pair aligns on date with one equi-join
    (both sides pre-reduced to (date, return)), then a single
    partition-free window computes CORR over the trailing 90 rows;
    warm-up rows (<30 obs) are suppressed. With thousands of pairs
    this becomes a (pair)-partitioned window — same plan, keyed."""
    rets = daily_returns(spark, sf_dir)
    a = rets.filter(F.col("series") == "1-URGENT").select(
        "d", F.col("ret").alias("ra")
    )
    b = rets.filter(F.col("series") == "5-LOW").select(
        "d", F.col("ret").alias("rb")
    )
    j = a.join(b, "d")
    w = Window.orderBy("d").rowsBetween(-89, 0)
    return (
        j.select(
            "d",
            F.corr("ra", "rb").over(w).alias("c"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .filter(F.col("n") >= 30)
        .select(
            F.col("d").cast("date").alias("d"),
            (F.round("c", 6) + F.lit(0.0)).alias("corr_90d"),
        )
    )

@query(
    "series_beta_to_market",
    "WITH "
    + SQL_RETS
    + """,
mkt AS (SELECT d, AVG(ret) AS rm FROM rets GROUP BY 1),
j AS (
  SELECT r.series, r.ret, m.rm FROM rets r JOIN mkt m ON r.d = m.d
)
SELECT series,
       ROUND(COVAR_SAMP(ret, rm) / VAR_SAMP(rm), 6) + 0 AS beta,
       ROUND(CORR(ret, rm), 6) + 0 AS corr_to_market,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM j GROUP BY series
""",
)
def series_beta_to_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM-style beta per series against the equal-weight market
    return (the cross-series mean by date): β = cov(r, r_m)/var(r_m)
    plus the correlation, in one grouped aggregate. The market series
    is a date-keyed reduction broadcast back onto the return frame —
    the same two-step shape as every 'relative to the aggregate'
    risk measure; at 10⁶ series the broadcast side is still one row
    per date."""
    rets = daily_returns(spark, sf_dir)
    mkt = rets.groupBy("d").agg(F.avg("ret").alias("rm"))
    j = rets.join(F.broadcast(mkt), "d")
    return j.groupBy("series").agg(
        (
            F.round(F.covar_samp("ret", "rm") / F.var_samp("rm"), 6)
            + F.lit(0.0)
        ).alias("beta"),
        (F.round(F.corr("ret", "rm"), 6) + F.lit(0.0)).alias(
            "corr_to_market"
        ),
        F.count(F.lit(1)).alias("n_obs"),
    )

@query(
    "ewma_volatility",
    "WITH "
    + SQL_RETS
    + """,
idx AS (
  SELECT series, d, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn
  FROM rets
),
n AS (SELECT series, MAX(rn) AS nmax FROM idx GROUP BY 1)
SELECT idx.series,
       CAST(MAX(nmax) AS BIGINT) AS n_obs,
       ROUND(SQRT(SUM(POWER(0.94, nmax - rn) * ret * ret) * 0.06), 6) + 0
         AS ewma_vol
FROM idx JOIN n ON idx.series = n.series
GROUP BY idx.series
""",
)
def ewma_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA volatility (λ=0.94 — the J.P. Morgan daily
    decay standard): σ² = (1−λ)·Σ λ^(n−i)·r_i², the exponentially-
    weighted alternative to the reference's equal-weight trailing
    windows (01_var_market_etl.py's 90-day volatility). The recursion
    unrolls to one weighted sum per series: a row-number window over
    the per-series return frame, then a single grouped aggregate —
    weights older than ~350 days underflow to zero identically on both
    engines, so no truncation horizon is needed."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    idx = rets.withColumn("rn", F.row_number().over(w))
    nmax = idx.groupBy("series").agg(F.max("rn").alias("nmax"))
    return (
        idx.join(F.broadcast(nmax), "series")
        .groupBy("series")
        .agg(
            F.max("nmax").cast("long").alias("n_obs"),
            (
                F.round(
                    F.sqrt(
                        F.sum(
                            F.pow(F.lit(0.94), F.col("nmax") - F.col("rn"))
                            * F.col("ret")
                            * F.col("ret")
                        )
                        * F.lit(0.06)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("ewma_vol"),
        )
    )

@query(
    "max_drawdown_by_series",
    "WITH "
    + SQL_DAILY
    + """,
cm AS (
  SELECT series, d, price,
         MAX(price) OVER (PARTITION BY series ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
)
SELECT series,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(MIN(price / peak - 1), 6) + 0 AS max_drawdown
FROM cm GROUP BY 1
""",
)
def max_drawdown_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the peak-to-trough risk metric
    every market-risk report carries beside VaR: running peak via a
    cumulative-max window, drawdown = price/peak − 1, one grouped min.
    Same one-window-one-agg shape as the Basel breach queries; the
    window is per-series so 10 000 series parallelize as 10 000
    independent partitions."""
    daily = daily_prices(spark, sf_dir)
    w = (
        Window.partitionBy("series")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cm = daily.withColumn("peak", F.max("price").over(w))
    return cm.groupBy("series").agg(
        F.count(F.lit(1)).alias("n_days"),
        (
            F.round(F.min(F.col("price") / F.col("peak") - 1), 6)
            + F.lit(0.0)
        ).alias("max_drawdown"),
    )

@query(
    "parametric_var_comparison",
    "WITH "
    + SQL_RETS
    + """
SELECT series,
       ROUND(quantile_cont(ret, 0.01), 6) + 0 AS hist_var_99,
       ROUND(AVG(ret) - 2.326347874 * STDDEV_SAMP(ret), 6) + 0
         AS param_var_99,
       CAST(COUNT(*) AS BIGINT) AS n_obs
FROM rets GROUP BY series
""",
)
def parametric_var_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical-simulation VaR beside delta-normal (parametric) VaR
    — μ − z₀.₀₁·σ with the exact normal quantile — per series, the
    method-comparison table a risk desk reads before trusting either
    number. One grouped aggregate computes both (exact percentile +
    moments share the shuffle); the reference's historical method
    (utils/var_utils.py) is the left column, the Gaussian
    approximation the right."""
    rets = daily_returns(spark, sf_dir)
    return rets.groupBy("series").agg(
        (F.round(value_at_risk_expr("ret", 99.0), 6) + F.lit(0.0)).alias(
            "hist_var_99"
        ),
        (
            F.round(
                F.avg("ret") - F.lit(2.326347874) * F.stddev_samp("ret"), 6
            )
            + F.lit(0.0)
        ).alias("param_var_99"),
        F.count(F.lit(1)).alias("n_obs"),
    )

@query(
    "kupiec_pof_test",
    "WITH "
    + SQL_RETS
    + """,
v AS (
  SELECT series, quantile_cont(ret, 0.01) AS var_99, COUNT(*) AS n
  FROM rets GROUP BY 1
),
b AS (
  SELECT r.series, MAX(v.n) AS n,
         SUM(CASE WHEN r.ret < v.var_99 THEN 1 ELSE 0 END) AS x
  FROM rets r JOIN v ON r.series = v.series
  GROUP BY 1
)
SELECT series, CAST(n AS BIGINT) AS n_days, CAST(x AS BIGINT) AS n_breaches,
       ROUND(
         -2 * ((n - x) * LN(0.99) + x * LN(0.01))
         + 2 * (CASE WHEN x < n THEN (n - x) * LN(1 - x * 1.0 / n) ELSE 0 END
                + CASE WHEN x > 0 THEN x * LN(x * 1.0 / n) ELSE 0 END),
         6) + 0 AS lr_pof,
       (-2 * ((n - x) * LN(0.99) + x * LN(0.01))
        + 2 * (CASE WHEN x < n THEN (n - x) * LN(1 - x * 1.0 / n) ELSE 0 END
               + CASE WHEN x > 0 THEN x * LN(x * 1.0 / n) ELSE 0 END)
        > 3.841459) AS reject_95
FROM b
""",
)
def kupiec_pof_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures backtest (Kupiec 1995) — the
    statistical layer above the reference's Basel traffic-light zones
    (05_var_compliance.py): the likelihood ratio that the observed
    breach count x out of n days is consistent with the VaR's 1 %
    coverage, rejected at 95 % when LR > χ²₁(0.95) = 3.841. Breach
    counting joins the per-series VaR (a broadcast of |series| rows)
    back onto the return frame — one grouped conditional sum; the LR
    is pure scalar math with the x=0 / x=n degenerate terms pinned to
    zero (their likelihood contribution), identically on both
    engines."""
    rets = daily_returns(spark, sf_dir)
    v = rets.groupBy("series").agg(
        value_at_risk_expr("ret", 99.0).alias("var_99"),
        F.count(F.lit(1)).alias("n"),
    )
    b = (
        rets.join(F.broadcast(v), "series")
        .groupBy("series")
        .agg(
            F.max("n").alias("n"),
            F.sum(
                F.when(F.col("ret") < F.col("var_99"), 1).otherwise(0)
            ).alias("x"),
        )
    )
    n, x = F.col("n"), F.col("x")
    lr = -2 * ((n - x) * F.log(F.lit(0.99)) + x * F.log(F.lit(0.01))) + 2 * (
        F.when(x < n, (n - x) * F.log(1 - x * F.lit(1.0) / n)).otherwise(0.0)
        + F.when(x > 0, x * F.log(x * F.lit(1.0) / n)).otherwise(0.0)
    )
    return b.select(
        "series",
        n.cast("long").alias("n_days"),
        x.cast("long").alias("n_breaches"),
        (F.round(lr, 6) + F.lit(0.0)).alias("lr_pof"),
        (lr > 3.841459).alias("reject_95"),
    )

@query(
    "expected_shortfall_99",
    "WITH "
    + SQL_RETS
    + """,
v AS (
  SELECT series, ROUND(quantile_cont(ret, 0.01), 6) AS var_99
  FROM rets GROUP BY series
)
SELECT r.series, v.var_99,
       ROUND(AVG(r.ret) FILTER (WHERE r.ret <= v.var_99), 6) AS shortfall
FROM rets r JOIN v ON r.series = v.series
GROUP BY r.series, v.var_99
""",
)
def expected_shortfall_99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall: mean of the tail at or below VaR (O4;
    get_shortfall, utils/var_utils.py:36-39). Broadcast the tiny
    per-series VaR frame back onto returns."""
    rets = daily_returns(spark, sf_dir)
    v = rets.groupBy("series").agg(
        F.round(value_at_risk_expr("ret", 99.0), 6).alias("var_99")
    )
    return (
        rets.join(F.broadcast(v), "series")
        .groupBy("series", "var_99")
        .agg(
            F.round(
                F.avg(F.when(F.col("ret") <= F.col("var_99"), F.col("ret"))), 6
            ).alias("shortfall")
        )
    )

@query(
    "asof_join_orders_returns",
    "WITH "
    + SQL_RETS
    + """
SELECT o.o_orderkey, o.series, o.od,
       r.d AS right_d, r.ret AS right_ret
FROM (
  SELECT o_orderkey, o_orderpriority AS series, CAST(o_orderdate AS DATE) AS od
  FROM orders
) o ASOF LEFT JOIN rets r ON o.series = r.series AND o.od >= r.d
""",
)
def asof_join_orders_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned as-of join (J5; tempo usage at 02_var_model.py:97-104):
    every order row picks up its priority-series' latest return at or
    before the order date. One shuffle on the series key."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("series"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    rets = daily_returns(spark, sf_dir)
    return asof_join(o, rets, on="od", by=["series"], right_on="d")

@query(
    "basel_breach_zones",
    "WITH "
    + SQL_RETS
    + """,
v AS (
  SELECT series, ROUND(quantile_cont(ret, 0.01), 6) AS var_99
  FROM rets GROUP BY series
),
j AS (
  SELECT r.series, r.d, r.ret, v.var_99,
         datediff('day', DATE '1990-01-01', r.d) AS dn
  FROM rets r JOIN v ON r.series = v.series
)
SELECT series, d, var_99,
       CAST(SUM(CASE WHEN ret <= var_99 THEN 1 ELSE 0 END) OVER w AS BIGINT) AS breaches,
       CASE WHEN SUM(CASE WHEN ret <= var_99 THEN 1 ELSE 0 END) OVER w <= 3 THEN 0
            WHEN SUM(CASE WHEN ret <= var_99 THEN 1 ELSE 0 END) OVER w < 10 THEN 1
            ELSE 2 END AS zone
FROM j
WINDOW w AS (PARTITION BY series ORDER BY dn
             RANGE BETWEEN 250 PRECEDING AND CURRENT ROW)
""",
)
def basel_breach_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basel backtest (W2 + F4; 05_var_compliance.py:112-121 +
    utils/var_udf.py:22-30): trailing-250-day breach count of actual
    returns against VaR-99, mapped to traffic-light zones (code bounds:
    ≤3 green, <10 yellow — SURVEY §7.7)."""
    rets = daily_returns(spark, sf_dir)
    v = rets.groupBy("series").agg(
        F.round(value_at_risk_expr("ret", 99.0), 6).alias("var_99")
    )
    j = rets.join(F.broadcast(v), "series")
    w = (
        Window.partitionBy("series")
        .orderBy(_daynum("d"))
        .rangeBetween(-250, 0)
    )
    breaches = F.sum(
        F.when(F.col("ret") <= F.col("var_99"), 1).otherwise(0)
    ).over(w)
    return j.select(
        "series",
        "d",
        "var_99",
        breaches.cast("long").alias("breaches"),
        basel_zone(breaches).alias("zone"),
    )

def _orders_market_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Monte-Carlo queries' market: one 5-factor daily return
    vector per date (one factor per order-priority series, missing days
    0.0) → one (date, vol_avg, vol_cov) row of global mean / sample
    covariance (A8, covar_samp semantics), dated 2001-08-01."""
    rets = daily_returns(spark, sf_dir)
    wide = (
        rets.groupBy("d")
        .pivot("series", ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        .agg(F.first("ret"))
        .na.fill(0.0)
    )
    feat_cols = [c for c in wide.columns if c != "d"]
    feats = wide.select(
        F.lit(1).alias("g"),
        F.array(*[F.col(f"`{c}`") for c in feat_cols]).alias("features"),
    )
    return vector_mean_cov(feats, ["g"], "features").select(
        F.lit("2001-08-01").cast("date").alias("date"), "vol_avg", "vol_cov"
    )

@query(
    "mc_simulate_market",
    """
WITH g(k, trial_id, f0, f1, f2, f3, f4) AS (VALUES
  (1500,   0, -0.057892,  0.027012, -0.378235,  0.254907,  0.347897),
  (1500,   1,  0.897516, -0.495663,  0.116227,  0.463678, -0.506641),
  (1500,   2,  1.664956,  0.10046,  -0.069437, -0.443993, -1.061466),
  (15000,  0, -0.007346, -0.403708, -0.246693, -0.834018, -0.160362),
  (15000,  1,  0.031051, -1.40705,  -0.449956,  1.415215,  0.507139),
  (15000,  2, -1.296941, -1.241033, -0.178114,  2.900708, -0.837525),
  (150000, 0, -0.2363,   -0.075568,  0.324219,  0.005793,  0.103245),
  (150000, 1, -0.362621, -0.016897, -0.399568,  0.339552, -0.643028),
  (150000, 2,  0.389554, -0.229708, -0.352532,  0.461103, -1.31852))
SELECT CAST(trial_id AS BIGINT) AS trial_id,
       CAST(f0 AS DOUBLE) AS f0, CAST(f1 AS DOUBLE) AS f1,
       CAST(f2 AS DOUBLE) AS f2, CAST(f3 AS DOUBLE) AS f3,
       CAST(f4 AS DOUBLE) AS f4
FROM g WHERE k = (SELECT COUNT(*) FROM orders)
""",
)
def mc_simulate_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo market simulation (F12 + J1; 03_var_monte_carlo.py:55-87):
    5-factor daily return vectors (one per priority series) → global
    mean/cov (A8, covar_samp semantics) → 1,000 seeded multivariate-
    normal trials via the trial-chunk Arrow kernel, ORACLE-pinned on
    trials 0/1/2: the per-trial seed contract (montecarlo.py — trial t
    is bit-identical to numpy default_rng(t)) makes each trial a pure
    function of (market stats, trial_id), so the sampled rows are
    golden constants per corpus, pinned in a corpus-keyed VALUES
    oracle (key = COUNT(orders), so the one SQL string holds at every
    SF). The full-width 2000-trial path is hash-pinned by
    mc_portfolio_var's aggregate golden (utils/var_udf.py:58-61)."""
    vol = _orders_market_vol(spark, sf_dir)
    sims = simulate_trials(vol, runs=1000)
    return (
        sims.filter(F.col("trial_id") < 3)
        .select(
            "trial_id",
            *[
                F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
                for i in range(5)
            ],
        )
    )

@query(
    "mc_portfolio_var",
    """
WITH g(k, date, var_99, shortfall) AS (VALUES
  (1500,   DATE '2001-08-01', -0.738008, -0.855921),
  (15000,  DATE '2001-08-01', -1.260758, -1.391728),
  (150000, DATE '2001-08-01', -0.508219, -0.607083))
SELECT date,
       CAST(var_99 AS DOUBLE) AS var_99,
       CAST(shortfall AS DOUBLE) AS shortfall
FROM g WHERE k = (SELECT COUNT(*) FROM orders)
""",
)
def mc_portfolio_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Monte-Carlo VaR, ORACLE-pinned as corpus-keyed
    golden literals: orders-derived 5-factor market → trailing stats →
    2,000 seeded trials → equal-weight portfolio return per trial →
    VaR-99 + expected shortfall. The per-trial seed contract (trial t
    == numpy default_rng(t), pytest-pinned bit-identical) makes the
    scalar result a pure function of the corpus, so the oracle pins
    the exact rounded values per SF (key = COUNT(orders)); this row
    hash-checks the FULL 2,000-trial path that mc_simulate_market
    samples. The full 03→04 notebook flow as one lazy plan."""
    vol = _orders_market_vol(spark, sf_dir)
    sims = simulate_trials(vol, runs=2000)
    port = sims.select(
        "date",
        "trial_id",
        (
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x)
            / F.size("features")
        ).alias("pret"),
    )
    v = port.groupBy("date").agg(
        F.percentile("pret", 0.01).alias("var_99")
    )
    return (
        port.join(F.broadcast(v), "date")
        .groupBy("date", "var_99")
        .agg(
            F.avg(F.when(F.col("pret") <= F.col("var_99"), F.col("pret"))).alias(
                "shortfall"
            )
        )
        .select(
            "date",
            (F.round("var_99", 6) + F.lit(0.0)).alias("var_99"),
            (F.round("shortfall", 6) + F.lit(0.0)).alias("shortfall"),
        )
    )

@query(
    "var_pipeline_end_to_end",
    """
WITH g(k, quarter, n_dates, avg_var_99, avg_return, total_breaches, max_zone) AS (VALUES
  (1500, DATE '1995-01-01', 15, -0.441272, 0.049345, 0, 0),
  (1500, DATE '1995-04-01', 65, -0.34872, 0.003359, 17, 0),
  (1500, DATE '1995-07-01', 65, -0.407466, -0.022479, 172, 1),
  (1500, DATE '1995-10-01', 65, -0.412991, 0.018351, 298, 1),
  (1500, DATE '1996-01-01', 65, -0.393415, 0.001321, 303, 1),
  (1500, DATE '1996-04-01', 65, -0.487984, 0.001334, 270, 1),
  (1500, DATE '1996-07-01', 66, -0.442849, 0.003748, 283, 1),
  (1500, DATE '1996-10-01', 66, -0.434787, -0.023141, 440, 1),
  (1500, DATE '1997-01-01', 64, -0.738906, 0.003001, 462, 1),
  (1500, DATE '1997-04-01', 65, -0.530484, 0.005569, 408, 1),
  (1500, DATE '1997-07-01', 66, -0.456142, -0.003373, 237, 1),
  (1500, DATE '1997-10-01', 66, -0.571475, 0.013547, 336, 1),
  (1500, DATE '1998-01-01', 64, -0.50352, -0.020596, 321, 1),
  (1500, DATE '1998-04-01', 65, -0.564236, 0.021857, 406, 1),
  (1500, DATE '1998-07-01', 66, -0.55415, -0.013157, 349, 1),
  (1500, DATE '1998-10-01', 66, -0.460837, 0.002375, 285, 1),
  (1500, DATE '1999-01-01', 64, -0.465882, 0.005533, 312, 1),
  (1500, DATE '1999-04-01', 65, -0.455676, 0.000271, 273, 1),
  (1500, DATE '1999-07-01', 66, -0.507988, -0.01458, 328, 1),
  (1500, DATE '1999-10-01', 66, -0.744715, 0.020319, 378, 1),
  (1500, DATE '2000-01-01', 65, -0.503902, -0.024663, 400, 1),
  (1500, DATE '2000-04-01', 65, -0.612998, 0.017602, 394, 1),
  (1500, DATE '2000-07-01', 65, -0.416502, 0.003877, 227, 1),
  (1500, DATE '2000-10-01', 65, -0.573764, -0.009132, 360, 1),
  (1500, DATE '2001-01-01', 65, -0.389985, 0.001625, 260, 1),
  (1500, DATE '2001-04-01', 65, -0.410117, 0.000832, 338, 1),
  (1500, DATE '2001-07-01', 23, -0.426719, -0.00463, 79, 1),
  (15000, DATE '1995-01-01', 60, -0.739048, -0.006168, 90, 0),
  (15000, DATE '1995-04-01', 65, -0.99412, 0.010531, 195, 0),
  (15000, DATE '1995-07-01', 65, -1.119703, -0.00865, 277, 1),
  (15000, DATE '1995-10-01', 65, -1.322902, -0.002354, 301, 1),
  (15000, DATE '1996-01-01', 65, -1.129931, 0.005063, 300, 1),
  (15000, DATE '1996-04-01', 65, -1.152284, -0.007921, 200, 1),
  (15000, DATE '1996-07-01', 66, -1.233821, 0.008205, 132, 0),
  (15000, DATE '1996-10-01', 66, -0.921219, 0.002457, 123, 0),
  (15000, DATE '1997-01-01', 64, -1.011568, -0.007641, 218, 1),
  (15000, DATE '1997-04-01', 65, -1.426278, -0.007816, 301, 1),
  (15000, DATE '1997-07-01', 66, -1.446442, 0.010462, 261, 1),
  (15000, DATE '1997-10-01', 66, -1.243364, 0.005472, 167, 0),
  (15000, DATE '1998-01-01', 64, -1.29174, -0.004997, 135, 0),
  (15000, DATE '1998-04-01', 65, -1.375637, -0.008573, 206, 1),
  (15000, DATE '1998-07-01', 66, -1.317146, 0.009873, 202, 1),
  (15000, DATE '1998-10-01', 66, -1.321098, 8.4e-05, 261, 1),
  (15000, DATE '1999-01-01', 64, -1.116611, -0.005782, 152, 0),
  (15000, DATE '1999-04-01', 65, -1.104992, -0.029166, 225, 1),
  (15000, DATE '1999-07-01', 66, -1.222691, 0.023669, 264, 1),
  (15000, DATE '1999-10-01', 66, -1.175871, 0.005904, 337, 1),
  (15000, DATE '2000-01-01', 65, -1.269622, -0.001793, 232, 1),
  (15000, DATE '2000-04-01', 65, -1.177295, 0.008046, 194, 0),
  (15000, DATE '2000-07-01', 65, -1.116796, 0.00033, 137, 0),
  (15000, DATE '2000-10-01', 65, -1.137199, -0.013874, 152, 0),
  (15000, DATE '2001-01-01', 65, -1.252217, -0.001337, 175, 0),
  (15000, DATE '2001-04-01', 65, -1.329319, 0.01151, 186, 0),
  (15000, DATE '2001-07-01', 23, -1.390674, 0.008024, 54, 1),
  (150000, DATE '1995-01-01', 60, -0.66928, -0.004381, 0, 0),
  (150000, DATE '1995-04-01', 65, -0.656634, 0.00169, 0, 0),
  (150000, DATE '1995-07-01', 65, -0.481565, 0.00441, 44, 0),
  (150000, DATE '1995-10-01', 65, -0.45584, 0.001728, 75, 0),
  (150000, DATE '1996-01-01', 65, -0.550096, -0.008809, 130, 0),
  (150000, DATE '1996-04-01', 65, -0.52178, 0.006703, 77, 0),
  (150000, DATE '1996-07-01', 66, -0.51871, -0.004166, 106, 0),
  (150000, DATE '1996-10-01', 66, -0.465064, 0.002031, 75, 0),
  (150000, DATE '1997-01-01', 64, -0.550524, 7.1e-05, 104, 0),
  (150000, DATE '1997-04-01', 65, -0.501589, 0.001557, 107, 0),
  (150000, DATE '1997-07-01', 66, -0.390853, -0.003274, 107, 0),
  (150000, DATE '1997-10-01', 66, -0.405161, 0.006654, 166, 0),
  (150000, DATE '1998-01-01', 64, -0.499785, -0.004827, 249, 1),
  (150000, DATE '1998-04-01', 65, -0.503252, -0.00013, 327, 1),
  (150000, DATE '1998-07-01', 66, -0.5678, -0.005057, 284, 1),
  (150000, DATE '1998-10-01', 66, -0.593856, 0.006298, 232, 1),
  (150000, DATE '1999-01-01', 64, -0.506018, -0.000404, 164, 0),
  (150000, DATE '1999-04-01', 65, -0.583037, -0.003822, 150, 0),
  (150000, DATE '1999-07-01', 66, -0.454299, 0.003283, 83, 0),
  (150000, DATE '1999-10-01', 66, -0.449782, 0.002096, 129, 0),
  (150000, DATE '2000-01-01', 65, -0.54997, -0.002722, 195, 0),
  (150000, DATE '2000-04-01', 65, -0.484909, -0.002324, 166, 0),
  (150000, DATE '2000-07-01', 65, -0.512539, 0.002324, 110, 0),
  (150000, DATE '2000-10-01', 65, -0.550734, -0.001035, 130, 0),
  (150000, DATE '2001-01-01', 65, -0.472427, 0.002741, 165, 0),
  (150000, DATE '2001-04-01', 65, -0.486778, 0.001692, 158, 0),
  (150000, DATE '2001-07-01', 23, -0.539287, -0.003491, 46, 0))
SELECT quarter,
       CAST(n_dates AS BIGINT) AS n_dates,
       CAST(avg_var_99 AS DOUBLE) AS avg_var_99,
       CAST(avg_return AS DOUBLE) AS avg_return,
       CAST(total_breaches AS BIGINT) AS total_breaches,
       CAST(max_zone AS INTEGER) AS max_zone
FROM g WHERE k = (SELECT COUNT(*) FROM orders)
""",
)
def var_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL PRODUCT as ONE composed dataflow under
    the driver gate (r16, VERDICT #5): etl -> gap-fill -> volatility ->
    per-ticker OLS fit -> seeded Monte-Carlo simulation -> scoring ->
    portfolio VaR -> Basel backtest, every stage the
    plans/var_pipeline.py operator the per-stage gate rows
    (trailing_volatility_90d, ols_fit_per_flag, mc_simulate_market,
    mc_portfolio_var, basel_breach_zones) exercise individually —
    here chained lazily into a single plan, nothing materialized
    between stages. Fixture mapping: the 5 order-priority daily price
    series act as BOTH the tradable tickers and the market factors
    (the identity coupling gives train_models real signal);
    forward_fill_spine (S1) closes the sparse fixture calendar first,
    exactly the reference's pad-fill ETL role. ORACLE: the per-trial
    seed contract (trial t == default_rng(t), pytest-pinned) plus
    6-decimal-rounded OLS weight handoffs make the quarterly summary a
    pure function of the corpus, pinned as corpus-keyed golden VALUES
    (key = COUNT(orders); regen via tools/regen_goldens.py) —
    reproduced bit-for-bit across fresh processes at every SF before
    pinning. Output: per-quarter (dates, avg VaR-99, avg realized
    return, total trailing-window breaches, worst Basel zone)."""
    from value_at_risk_spark.operators.gapfill import forward_fill_spine
    from value_at_risk_spark.plans.var_pipeline import (
        VarConfig,
        run_pipeline,
    )

    daily = daily_prices(spark, sf_dir)
    series = [
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    ]
    filled = forward_fill_spine(daily, ["series"], "d", ["price"])
    # ~12k rows (5 series x the business-day spine). Four consumers
    # (volatility, fit, backtest, the bounds action) re-derive this
    # frame, and its orders-scan + gap-fill lineage repeated 36 parquet
    # scans / 72 Exchanges across the composed plan; one eager local
    # checkpoint of the bounded frame collapses all of it (guide §2.4,
    # batch-1 pattern — localCheckpoint, never persist, so every fresh
    # queries() call recomputes from parquet).
    filled = filled.localCheckpoint(eager=True)
    stocks = filled.select(
        F.col("series").alias("ticker"),
        F.col("d").cast("timestamp").alias("date"),
        F.col("price").alias("close"),
    )
    wide = (
        filled.groupBy("d").pivot("series", series).agg(F.first("price"))
        .na.drop()
    )
    indicators = wide.select(
        F.col("d").cast("timestamp").alias("date"),
        *[F.col(f"`{c}`").alias(f"f{i}") for i, c in enumerate(series)],
    )
    portfolio = spark.createDataFrame(
        [(t, 0.2) for t in series], "ticker string, weight double"
    )
    cfg = VarConfig(runs=500, factor_cols=tuple(f"f{i}" for i in range(5)))
    # materialize=True (r17): checkpoint the bounded feats / weights /
    # var_series intermediates — lazily their subtrees (incl. the OLS
    # fit and the whole MC chain) re-executed 2-4x in this composed
    # plan; see run_pipeline's docstring for the fanout accounting.
    out = run_pipeline(
        spark, stocks, indicators, portfolio, cfg, materialize=True
    )
    return (
        out["backtest"]
        .groupBy(F.date_trunc("quarter", "date").cast("date").alias("quarter"))
        .agg(
            F.count(F.lit(1)).alias("n_dates"),
            (F.round(F.avg("var_99"), 6) + F.lit(0.0)).alias("avg_var_99"),
            (F.round(F.avg("return"), 6) + F.lit(0.0)).alias("avg_return"),
            F.sum("breaches").cast("long").alias("total_breaches"),
            F.max("basel_zone").cast("int").alias("max_zone"),
        )
    )

@query(
    "return_moments_acf",
    "WITH "
    + SQL_RETS
    + """,
mu AS (
  SELECT series, AVG(ret) AS mean, COUNT(*) AS n FROM rets GROUP BY series
),
dev AS (
  SELECT r.series, r.d, r.ret - m.mean AS x,
         LAG(r.ret) OVER (PARTITION BY r.series ORDER BY r.d) - m.mean AS x1,
         LAG(r.ret, 2) OVER (PARTITION BY r.series ORDER BY r.d) - m.mean AS x2
  FROM rets r JOIN mu m USING (series)
)
SELECT series,
       CAST(MAX(n) AS BIGINT) AS n_obs,
       ROUND(AVG(x * x), 6) + 0 AS m2,
       ROUND(AVG(x * x * x) / POWER(AVG(x * x), 1.5), 6) + 0 AS skew_g1,
       ROUND(AVG(x * x * x * x) / POWER(AVG(x * x), 2) - 3, 6) + 0
         AS excess_kurtosis,
       ROUND(SUM(x * x1) / SUM(x * x), 6) + 0 AS acf_lag1,
       ROUND(SUM(x * x2) / SUM(x * x), 6) + 0 AS acf_lag2
FROM dev JOIN mu USING (series)
GROUP BY series
""",
)
def return_moments_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-distribution diagnostics per series (r16): central
    moments -> Fisher skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2^2 - 3 (the population-moment forms, written as the
    SAME explicit expressions in both engines — Spark's built-in
    skewness/kurtosis and DuckDB's use different bias corrections, so
    neither is used), plus lag-1/lag-2 autocorrelation with the
    standard biased ACF estimator sum(x_t x_{t-k}) / sum(x_t^2) over
    mean-centered returns. These are THE normality/independence checks
    behind a parametric VaR: fat tails (g2 >> 0) and serial
    correlation (acf != 0) are exactly what pushes a desk from
    variance-covariance VaR to the historical/Monte-Carlo methods the
    engine implements. Two passes (mean, then centered aggregates);
    the lag windows are PARTITIONED by series — no single-task
    hazard."""
    rets = daily_returns(spark, sf_dir)
    mu = rets.groupBy("series").agg(
        F.avg("ret").alias("mean"), F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("series").orderBy("d")
    dev = (
        rets.join(F.broadcast(mu), "series")
        .select(
            "series",
            "n",
            (F.col("ret") - F.col("mean")).alias("x"),
            (F.lag("ret").over(w) - F.col("mean")).alias("x1"),
            (F.lag("ret", 2).over(w) - F.col("mean")).alias("x2"),
        )
    )
    m2 = F.avg(F.col("x") * F.col("x"))
    m3 = F.avg(F.col("x") * F.col("x") * F.col("x"))
    m4 = F.avg(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
    return dev.groupBy("series").agg(
        F.max("n").cast("long").alias("n_obs"),
        (F.round(m2, 6) + F.lit(0.0)).alias("m2"),
        (F.round(m3 / F.pow(m2, 1.5), 6) + F.lit(0.0)).alias("skew_g1"),
        (F.round(m4 / F.pow(m2, 2.0) - 3.0, 6) + F.lit(0.0)).alias(
            "excess_kurtosis"
        ),
        (
            F.round(
                F.sum(F.col("x") * F.col("x1"))
                / F.sum(F.col("x") * F.col("x")),
                6,
            )
            + F.lit(0.0)
        ).alias("acf_lag1"),
        (
            F.round(
                F.sum(F.col("x") * F.col("x2"))
                / F.sum(F.col("x") * F.col("x")),
                6,
            )
            + F.lit(0.0)
        ).alias("acf_lag2"),
    )

@query(
    "sharpe_sortino_by_series",
    "WITH "
    + SQL_RETS
    + """
SELECT series,
       ROUND(AVG(ret) * 252, 6) + 0 AS ann_return,
       ROUND(STDDEV_SAMP(ret) * SQRT(252), 6) + 0 AS ann_vol,
       ROUND(AVG(ret) * 252 / (STDDEV_SAMP(ret) * SQRT(252)), 6) + 0
         AS sharpe,
       ROUND(AVG(ret) * 252 /
             (SQRT(AVG(CASE WHEN ret < 0 THEN ret * ret ELSE 0 END))
              * SQRT(252)), 6) + 0 AS sortino
FROM rets GROUP BY series
""",
)
def sharpe_sortino_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted performance ratios per series (r16): annualized
    return/volatility (252 trading days, rf = 0), Sharpe, and Sortino
    with the zero-target population downside semi-deviation
    sqrt(avg(min(ret,0)^2)) — the denominator convention that keeps
    the ratio defined when a series has few negative days. One
    hash-agg; every expression written identically in both engines."""
    rets = daily_returns(spark, sf_dir)
    ann_mean = F.avg("ret") * 252
    ann_vol = F.stddev_samp("ret") * F.sqrt(F.lit(252.0))
    downside = F.sqrt(
        F.avg(
            F.when(F.col("ret") < 0, F.col("ret") * F.col("ret")).otherwise(
                0.0
            )
        )
    ) * F.sqrt(F.lit(252.0))
    return rets.groupBy("series").agg(
        (F.round(ann_mean, 6) + F.lit(0.0)).alias("ann_return"),
        (F.round(ann_vol, 6) + F.lit(0.0)).alias("ann_vol"),
        (F.round(ann_mean / ann_vol, 6) + F.lit(0.0)).alias("sharpe"),
        (F.round(ann_mean / downside, 6) + F.lit(0.0)).alias("sortino"),
    )

@query(
    "lead_lag_cross_correlation",
    "WITH "
    + SQL_RETS
    + """,
ref AS (SELECT d, ret AS r FROM rets WHERE series = '1-URGENT'),
oth AS (SELECT series, d, ret AS x FROM rets WHERE series <> '1-URGENT'),
lags AS (SELECT UNNEST([-2, -1, 0, 1, 2]) AS lag),
j AS (
  SELECT o.series, l.lag, o.x, f.r
  FROM oth o CROSS JOIN lags l
  JOIN ref f ON f.d = o.d + CAST(l.lag AS INTEGER)
)
SELECT series, CAST(lag AS BIGINT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((COUNT(*) * SUM(x * r) - SUM(x) * SUM(r)) /
             SQRT((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                  * (COUNT(*) * SUM(r * r) - SUM(r) * SUM(r))), 6) + 0
         AS xcorr
FROM j GROUP BY series, lag
""",
)
def lead_lag_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation vs the reference series (r16): for
    each other priority series and calendar lag k in [-2, 2] days, the
    Pearson correlation corr(x_t, ref_{t+k}) over exactly-matching
    calendar dates — the lead-lag screen behind pairs selection and
    contagion analysis (a peak at k>0 says the reference LEADS the
    series). Written as the explicit product-moment formula, identical
    in both engines; the lag fan-out is a 5-row explode joined on the
    shifted date (equi-join — the shift moves into the join key, no
    window, no inequality join)."""
    rets = daily_returns(spark, sf_dir)
    ref = rets.filter(F.col("series") == "1-URGENT").select(
        F.col("d").alias("_rd"), F.col("ret").alias("r")
    )
    oth = rets.filter(F.col("series") != "1-URGENT").select(
        "series", "d", F.col("ret").alias("x")
    )
    fan = oth.select(
        "series", "d", "x",
        F.explode(F.array(*[F.lit(k) for k in (-2, -1, 0, 1, 2)])).alias(
            "lag"
        ),
    ).withColumn("_jd", F.date_add(F.col("d"), F.col("lag")))
    j = fan.join(ref, fan._jd == ref._rd)
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("x") * F.col("r")) - F.sum("x") * F.sum("r")
    den = F.sqrt(
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        * (n * F.sum(F.col("r") * F.col("r")) - F.sum("r") * F.sum("r"))
    )
    return j.groupBy("series", F.col("lag").cast("long").alias("lag")).agg(
        n.cast("long").alias("n"),
        (F.round(num / den, 6) + F.lit(0.0)).alias("xcorr"),
    )

@query(
    "price_lead_ntile",
    "WITH "
    + SQL_DAILY
    + """
SELECT series, d, price,
       LEAD(price) OVER (PARTITION BY series ORDER BY d) AS next_price,
       CAST(NTILE(4) OVER (PARTITION BY series ORDER BY price, d) AS BIGINT) AS price_quartile
FROM daily
""",
)
def price_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking window (lead) + quartile bucketing (ntile) —
    completing the ranking-window surface (SURVEY §2.5 'not present'
    list; deterministic ordering via the (price, d) tie-break)."""
    daily = daily_prices(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    wq = Window.partitionBy("series").orderBy("price", "d")
    return daily.select(
        "series",
        "d",
        "price",
        F.lead("price").over(w).alias("next_price"),
        F.ntile(4).over(wq).cast("long").alias("price_quartile"),
    )

@query(
    "return_histogram",
    "WITH "
    + SQL_RETS
    + """
SELECT series,
       CAST(FLOOR(ret / 0.5) AS BIGINT) AS bin,
       COUNT(*) AS n
FROM rets GROUP BY 1, 2
""",
)
def return_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning of the return distribution (the
    plotting/monitoring primitive; 0.5-wide bins)."""
    rets = daily_returns(spark, sf_dir)
    return rets.groupBy(
        "series", F.floor(F.col("ret") / 0.5).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))

@query(
    "factor_correlation_matrix",
    "WITH "
    + SQL_RETS
    + """,
wide AS (
  SELECT d,
         MAX(CASE WHEN series = '1-URGENT' THEN ret END) AS f0,
         MAX(CASE WHEN series = '2-HIGH' THEN ret END) AS f1,
         MAX(CASE WHEN series = '3-MEDIUM' THEN ret END) AS f2,
         MAX(CASE WHEN series = '4-NOT SPECIFIED' THEN ret END) AS f3,
         MAX(CASE WHEN series = '5-LOW' THEN ret END) AS f4
  FROM rets GROUP BY d
)
SELECT 0 AS i, ROUND(CORR(f0, f0), 6) AS c0, ROUND(CORR(f0, f1), 6) AS c1,
       ROUND(CORR(f0, f2), 6) AS c2, ROUND(CORR(f0, f3), 6) AS c3,
       ROUND(CORR(f0, f4), 6) AS c4 FROM wide
UNION ALL
SELECT 1, ROUND(CORR(f1, f0), 6), ROUND(CORR(f1, f1), 6), ROUND(CORR(f1, f2), 6),
       ROUND(CORR(f1, f3), 6), ROUND(CORR(f1, f4), 6) FROM wide
UNION ALL
SELECT 2, ROUND(CORR(f2, f0), 6), ROUND(CORR(f2, f1), 6), ROUND(CORR(f2, f2), 6),
       ROUND(CORR(f2, f3), 6), ROUND(CORR(f2, f4), 6) FROM wide
UNION ALL
SELECT 3, ROUND(CORR(f3, f0), 6), ROUND(CORR(f3, f1), 6), ROUND(CORR(f3, f2), 6),
       ROUND(CORR(f3, f3), 6), ROUND(CORR(f3, f4), 6) FROM wide
UNION ALL
SELECT 4, ROUND(CORR(f4, f0), 6), ROUND(CORR(f4, f1), 6), ROUND(CORR(f4, f2), 6),
       ROUND(CORR(f4, f3), 6), ROUND(CORR(f4, f4), 6) FROM wide
""",
)
def factor_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise factor-return correlation matrix (A8 family; the
    normalized counterpart of vol_cov) — pivot to wide, then native corr
    per pair, one output row per factor."""
    rets = daily_returns(spark, sf_dir)
    series = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = rets.groupBy("d").pivot("series", series).agg(F.first("ret"))
    cols = [f"`{s}`" for s in series]
    out = None
    for i in range(5):
        row = wide.agg(
            F.lit(i).alias("i"),
            *[
                F.round(F.corr(F.col(cols[i]), F.col(cols[j])), 6).alias(f"c{j}")
                for j in range(5)
            ],
        )
        out = row if out is None else out.unionByName(row)
    return out

@query(
    "price_rank_distribution",
    "WITH "
    + SQL_DAILY
    + """
SELECT series, d,
       ROUND(PERCENT_RANK() OVER (PARTITION BY series ORDER BY price), 6) AS pct_rank,
       ROUND(CUME_DIST() OVER (PARTITION BY series ORDER BY price), 6) AS cume
FROM daily
""",
)
def price_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows (percent_rank / cume_dist) — the
    remaining ranking-window surface."""
    daily = daily_prices(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("price")
    return daily.select(
        "series",
        "d",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )

@query(
    "var_contribution_shares",
    "WITH "
    + SQL_RETS
    + """,
v AS (
  SELECT series, ROUND(quantile_cont(ret, 0.01), 6) AS var_99
  FROM rets GROUP BY series
),
tot AS (SELECT SUM(var_99) AS t FROM v)
SELECT v.series, v.var_99,
       ROUND(v.var_99 / tot.t, 6) AS contribution
FROM v CROSS JOIN tot
""",
)
def var_contribution_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized risk contribution per slice — the reference computes
    this pandas-side after collecting (04_var_aggregation.py:129-131);
    here it stays distributed (tiny scalar broadcast for the total)."""
    rets = daily_returns(spark, sf_dir)
    v = rets.groupBy("series").agg(
        F.round(value_at_risk_expr("ret", 99.0), 6).alias("var_99")
    )
    tot = v.agg(F.sum("var_99").alias("t"))
    return v.crossJoin(F.broadcast(tot)).select(
        "series",
        "var_99",
        F.round(F.col("var_99") / F.col("t"), 6).alias("contribution"),
    )

@query(
    "event_value_anomalies",
    """
WITH stats AS (
  SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 6) + 0 AS value,
       ROUND((e.value - s.mu) / s.sd, 6) + 0 AS zscore
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE ABS(e.value - s.mu) > 3 * s.sd
""",
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative anomaly detection: events whose value sits more
    than 3σ from their event-type mean. The per-type moments are a
    |types|-row aggregate broadcast back onto the stream — one scan
    plus a map-side join, no window, no second shuffle; at 100 TB the
    stats table stays kilobytes however large the fact side grows."""
    e = _t(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            (F.round("value", 6) + F.lit(0.0)).alias("value"),
            (
                F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6)
                + F.lit(0.0)
            ).alias("zscore"),
        )
    )

@query(
    "var_histogram_density",
    "WITH "
    + SQL_RETS
    + """,
bounds AS (
  SELECT series, MIN(ret) AS lo, MAX(ret) AS hi, COUNT(*) AS n_tot
  FROM rets GROUP BY 1
)
SELECT r.series,
       LEAST(CAST(FLOOR((r.ret - b.lo) / ((b.hi - b.lo) / 50.0)) AS BIGINT), 49) AS bin,
       ROUND(b.lo + LEAST(CAST(FLOOR((r.ret - b.lo) / ((b.hi - b.lo) / 50.0)) AS BIGINT), 49)
                    * (b.hi - b.lo) / 50.0, 6) + 0 AS bin_lo,
       COUNT(*) AS n,
       ROUND(COUNT(*) / (b.n_tot * (b.hi - b.lo) / 50.0), 6) + 0 AS density
FROM rets r JOIN bounds b ON b.series = r.series
GROUP BY r.series, bin, bin_lo, b.n_tot, b.hi, b.lo
""",
)
def var_histogram_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VaR histogram's data (viz.histogram_frame — plot_var:40-42's
    pandas hist(bins=50, density=True), distributed): per-series
    equal-width 50-bin density. Raw returns never reach the driver;
    output is series × bins."""
    from value_at_risk_spark.viz import histogram_frame

    h = histogram_frame(
        daily_returns(spark, sf_dir), "ret", by=["series"], bins=50
    )
    return h.select(
        "series",
        "bin",
        (F.round("bin_lo", 6) + F.lit(0.0)).alias("bin_lo"),
        "n",
        (F.round("density", 6) + F.lit(0.0)).alias("density"),
    )

@query(
    "var_overlay_params",
    "WITH "
    + SQL_RETS
    + """
SELECT series,
       ROUND(AVG(ret), 6) + 0 AS mean,
       ROUND(STDDEV_POP(ret), 6) AS std,
       ROUND(MIN(ret), 6) + 0 AS lo,
       ROUND(MAX(ret), 6) + 0 AS hi,
       ROUND(quantile_cont(ret, 0.01), 6) + 0 AS var
FROM rets GROUP BY series
""",
)
def var_overlay_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar overlay of the VaR histogram (viz.var_overlay_params —
    plot_var:26-37): mean/population-std for the normal pdf, min/max
    for the x-range, exact interpolated VaR for the dashed line."""
    from value_at_risk_spark.viz import var_overlay_params as _vp

    p = _vp(daily_returns(spark, sf_dir), "ret", by=["series"], confidence=99.0)
    return p.select(
        "series",
        (F.round("mean", 6) + F.lit(0.0)).alias("mean"),
        F.round("std", 6).alias("std"),
        (F.round("lo", 6) + F.lit(0.0)).alias("lo"),
        (F.round("hi", 6) + F.lit(0.0)).alias("hi"),
        (F.round("var", 6) + F.lit(0.0)).alias("var"),
    )

@query(
    "returned_items_by_customer",
    """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1999-01-01'
  AND o_orderdate <  TIMESTAMP '2000-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer over a
    date slice — returnflag filter pushed to the lineitem scan, date
    filter to orders, dims broadcast, fact-fact join on the order key,
    top-20."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )

@query(
    "streaming_basel_demo",
    "WITH "
    + SQL_RETS
    + """,
j AS (
  SELECT series, datediff('day', DATE '1970-01-01', d) AS day_num, ret
  FROM rets
)
SELECT series, CAST(day_num AS BIGINT) AS day_num,
       CAST(SUM(CASE WHEN ret <= -0.005 THEN 1 ELSE 0 END) OVER w AS BIGINT)
         AS breaches,
       CASE WHEN SUM(CASE WHEN ret <= -0.005 THEN 1 ELSE 0 END) OVER w <= 3 THEN 0
            WHEN SUM(CASE WHEN ret <= -0.005 THEN 1 ELSE 0 END) OVER w < 10 THEN 1
            ELSE 2 END AS basel_zone
FROM j
WINDOW w AS (PARTITION BY series ORDER BY day_num
             RANGE BETWEEN 250 PRECEDING AND CURRENT ROW)
""",
)
def streaming_basel_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Basel compliance at the gate, HASH-CHECKED against
    the batch trailing-window twin (the custom-stateful operator's
    output is deterministic over a bounded ordered replay — the
    breach-for-breach parity the pytest asserts, now oracle-enforced;
    the first applyInPandasWithState operator with a DuckDB twin): the
    fixture-derived daily P&L series replayed through
    streaming_basel_backtest (trailing-250-day state per series,
    applyInPandasWithState) via an availableNow bounded run."""
    import tempfile

    from value_at_risk_spark.streaming.stateful import streaming_basel_backtest

    rets = daily_returns(spark, sf_dir)
    pnl = rets.select(
        "series",
        "d",
        F.col("ret").alias("return"),
        F.lit(-0.005).alias("var_99"),
    )
    src = tempfile.mkdtemp(prefix="pnl_stream_")
    # parallel staging write: availableNow with no file-rate cap reads
    # the whole dir as ONE micro-batch, and the backtest sorts within a
    # batch — per-series cross-batch ordering (the operator's contract)
    # is unaffected by the file count, so no coalesce(1) bottleneck
    pnl.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(pnl.schema).parquet(src)
    bt = streaming_basel_backtest(stream, basel_days=250)
    # uuid sink name: a fixed queryName collides across concurrent sessions
    sink = f"gate_streaming_basel_{uuid.uuid4().hex[:8]}"
    q = (
        bt.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(180)
    import shutil

    if not finished:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)
        raise TimeoutError("streaming_basel_demo: bounded replay exceeded 180s")
    # the memory sink has materialized the result; the staging dir can go
    shutil.rmtree(src, ignore_errors=True)
    return spark.table(sink)

@query(
    "nation_trade_volume",
    """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name < cn.n_name
  AND o_orderdate >= TIMESTAMP '1999-01-01'
  AND o_orderdate <  TIMESTAMP '2001-01-01'
GROUP BY 1, 2, 3
""",
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between nation PAIRS — the same
    nation dimension joins TWICE in different roles (supplier's vs
    customer's), both broadcast under distinct aliases; fact-fact
    lineitem⋈orders core; ordered-pair filter halves the matrix."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )

@query(
    "large_volume_orders",
    """
SELECT c_name, o_orderkey, CAST(o_orderdate AS DATE) AS odate,
       o_totalprice, SUM(l_quantity) AS total_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150
)
GROUP BY 1, 2, 3, 4
""",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (HAVING over the fact, semi-joined back): orders
    whose total lineitem quantity exceeds 150, with customer context.
    The qualifying keys are a key-only aggregate semi-joined into the
    fact; the final groupBy re-derives total_qty alongside the header
    columns — the one-big-agg + semi-join plan Q18 canonically takes."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big.withColumnRenamed("l_orderkey", "_ok"),
               F.col("o_orderkey") == F.col("_ok"), "leftsemi")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_totalprice",
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
    )

@query(
    "sole_return_suppliers",
    """
SELECT s_name, COUNT(*) AS n_sole_returns
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
""",
)
def sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS self-joins on the same fact
    with an inequality in the correlation): suppliers who were the ONLY
    supplier to have a returned item in a multi-supplier finalized
    order.

    Both subqueries become self-joins keyed on l_orderkey with the
    suppkey inequality as a residual: EXISTS -> left_semi, NOT EXISTS
    -> left_anti. At scale all three legs shuffle on the same
    l_orderkey key, so AQE coalesces them into one exchange reuse;
    supplier names attach by broadcast after the fact reduces."""
    l = _t(spark, sf_dir, "lineitem")
    finalized = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(finalized, F.col("l_orderkey") == F.col("o_orderkey"), "leftsemi")
    )
    l2 = l.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = (
        l.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3"))
    )
    sole = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("_ok2"))
            & (F.col("l_suppkey") != F.col("_sk2")),
            "leftsemi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("_ok3"))
            & (F.col("l_suppkey") != F.col("_sk3")),
            "left_anti",
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_sole_returns"))
    )

@query(
    "time_weighted_avg_price",
    """
WITH
"""
    + SQL_DAILY
    + """,
iv AS (
  SELECT series, price,
         date_diff('day', d, LEAD(d) OVER (PARTITION BY series ORDER BY d)) AS dt
  FROM daily
)
SELECT series,
       ROUND(SUM(price * dt) / SUM(dt), 4) + 0 AS twa_price,
       CAST(SUM(dt) AS BIGINT) AS span_days
FROM iv WHERE dt IS NOT NULL
GROUP BY 1
""",
)
def time_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an IRREGULAR series (the integral
    mean ∑ pᵢ·Δtᵢ / ∑ Δtᵢ with each observation held until the next —
    step-function interpolation): the standard estimator when sampling
    is uneven, where a plain AVG over-weights densely-sampled stretches.
    One lead() window on the series' own (series, d) sort + one grouped
    agg — the same single shuffle a plain AVG needs. Last observation
    carries no weight (no successor), matching the WHERE dt IS NOT NULL
    on both engines."""
    daily = daily_prices(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    return (
        daily.withColumn(
            "_dt", F.datediff(F.lead("d").over(w), F.col("d")).cast("long")
        )
        .filter(F.col("_dt").isNotNull())
        .groupBy("series")
        .agg(
            (
                F.round(
                    F.sum(F.col("price") * F.col("_dt")) / F.sum("_dt"), 4
                )
                + F.lit(0.0)
            ).alias("twa_price"),
            F.sum("_dt").alias("span_days"),
        )
    )

@query(
    "winsorized_price_stats",
    """
WITH pct AS (
  SELECT o_orderpriority AS priority,
         quantile_cont(o_totalprice, 0.01) AS p01,
         quantile_cont(o_totalprice, 0.99) AS p99
  FROM orders GROUP BY 1
)
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(LEAST(GREATEST(o.o_totalprice, p.p01), p.p99)), 2) + 0 AS wins_avg,
       ROUND(STDDEV_SAMP(LEAST(GREATEST(o.o_totalprice, p.p01), p.p99)), 2) + 0 AS wins_std
FROM orders o JOIN pct p ON o.o_orderpriority = p.priority
GROUP BY 1
""",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p01/p99-clipped) robust statistics per group — the
    outlier-clipping stage of numeric feature preparation. Exact
    linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) computed in a first grouped agg over the
    SAME shuffle key as the final agg, broadcast back (group-level
    frame: tiny), then clip + avg/stddev. Two aggs, one fact scan each,
    zero row explosion."""
    o = _t(spark, sf_dir, "orders")
    pct = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("p01"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
    )
    j = o.join(
        F.broadcast(pct), o["o_orderpriority"] == pct["priority"]
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return j.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg(clipped), 2) + F.lit(0.0)).alias("wins_avg"),
        (F.round(F.stddev_samp(clipped), 2) + F.lit(0.0)).alias("wins_std"),
    )

@query(
    "benford_price_audit",
    """
WITH digits AS (
  SELECT CAST(regexp_extract(CAST(l_extendedprice AS VARCHAR), '[1-9]') AS INTEGER)
           AS digit
  FROM lineitem
),
cnt AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY 1),
tot AS (
  SELECT digit, n, SUM(n) OVER () AS total FROM cnt
)
SELECT digit,
       CAST(n AS BIGINT) AS n_obs,
       ROUND(n / total, 6) + 0 AS obs_freq,
       ROUND(LN(1.0 + 1.0 / digit) / LN(10.0), 6) + 0 AS benford_freq,
       ROUND(total * POWER(n / total - LN(1.0 + 1.0 / digit) / LN(10.0), 2)
             / (LN(1.0 + 1.0 / digit) / LN(10.0)), 4) + 0 AS chi2_term
FROM tot
""",
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over extended prices — the
    fraud/fabrication screen auditors run on transaction amounts
    (companion to data_quality_audit's schema checks: this one tests
    the DISTRIBUTION). First significant digit via regexp on the
    string form (locale-free, engine-identical; no float log10 edge
    cases at powers of ten), one map-side-combining count per digit,
    then the chi-square decomposition against log10(1+1/d) computed
    over the 9-row aggregate — a window over nine rows, nothing
    scale-bound. TPC-H prices are uniform-ish so the audit correctly
    REJECTS Benford here; the value is the measured per-digit
    deviation, pinned by the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    digits = li.select(
        F.regexp_extract(
            F.col("l_extendedprice").cast("string"), "[1-9]", 0
        )
        .cast("int")
        .alias("digit")
    )
    cnt = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(F.lit(1))
    tot = cnt.select(
        "digit", "n", F.sum("n").over(w).alias("total")
    )
    nd = F.col("n") / F.col("total")
    bf = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(
        F.lit(10.0)
    )
    return tot.select(
        "digit",
        F.col("n").cast("long").alias("n_obs"),
        (F.round(nd, 6) + F.lit(0.0)).alias("obs_freq"),
        (F.round(bf, 6) + F.lit(0.0)).alias("benford_freq"),
        (
            F.round(F.col("total") * F.pow(nd - bf, 2) / bf, 4)
            + F.lit(0.0)
        ).alias("chi2_term"),
    )

@query(
    "bh_corrected_anomalies",
    """
WITH ev AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
         value * (CASE WHEN event_type = 'click' AND hour(ts) = 7
                         THEN 3.0
                       WHEN event_type = 'view' AND hour(ts) = 12
                         THEN 1.3
                       WHEN event_type = 'purchase' AND hour(ts) = 3
                         THEN 1.05
                       ELSE 1.0 END) AS value
  FROM events
),
c AS (
  SELECT event_type, hr, AVG(value) AS mv, CAST(COUNT(*) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
t AS (
  SELECT event_type, AVG(value) AS tm, STDDEV_POP(value) AS tsd
  FROM ev GROUP BY 1
),
z AS (
  SELECT c.event_type, c.hr, c.n,
         (c.mv - t.tm) / (t.tsd / SQRT(c.n)) AS z
  FROM c JOIN t USING (event_type)
),
p AS (SELECT *, LEAST(1.0, 2 * EXP(-z * z / 2.0)) AS pv FROM z),
m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS mm FROM p),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY pv, event_type, hr) AS rk FROM p
),
tstar AS (SELECT MAX(pv) AS t FROM r, m WHERE pv <= rk / m.mm * 0.05)
SELECT event_type, hr, n,
       ROUND(z, 6) + 0 AS z_score,
       ROUND(pv, 6) + 0 AS p_value,
       COALESCE(pv <= (SELECT t FROM tstar), FALSE) AS rejected
FROM p
""",
)
def bh_corrected_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control — the Benjamini–Hochberg procedure
    over a 120-cell anomaly scan (event_type x hour-of-day mean
    shifts). Scanning many cells at alpha each is how dashboards
    manufacture false alarms; BH bounds the false-discovery rate:
    reject cell i iff p_i <= t*, t* = max{p_(k) : p_(k) <= k/m·alpha}.
    Three anomalies of graded strength are PLANTED in-query (3x /
    1.3x / 1.05x multipliers — the semdedup_planted convention), and
    the rejection set is sample-size-honest: 0 rejections at
    sf0.001, 1 at sf0.01, 3 at sf0.1. P-values use the sub-Gaussian
    tail bound 2·exp(-z²/2) (conservative, closed-form in both
    engines — the KS row's convention); the procedure, not the test,
    is the operator under check. One scan + two hash-aggs + a 1-row
    threshold broadcast."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        (
            F.col("value")
            * F.when(
                (F.col("event_type") == "click") & (F.hour("ts") == 7), 3.0
            )
            .when(
                (F.col("event_type") == "view") & (F.hour("ts") == 12), 1.3
            )
            .when(
                (F.col("event_type") == "purchase") & (F.hour("ts") == 3),
                1.05,
            )
            .otherwise(1.0)
        ).alias("value"),
    )
    c = ev.groupBy("event_type", "hr").agg(
        F.avg("value").alias("mv"), F.count(F.lit(1)).alias("n")
    )
    t = ev.groupBy("event_type").agg(
        F.avg("value").alias("tm"), F.stddev_pop("value").alias("tsd")
    )
    z = c.join(t, "event_type").select(
        "event_type",
        "hr",
        "n",
        (
            (F.col("mv") - F.col("tm"))
            / (F.col("tsd") / F.sqrt(F.col("n")))
        ).alias("z"),
    )
    p = z.withColumn(
        "pv",
        F.least(
            F.lit(1.0), F.lit(2.0) * F.exp(-F.col("z") * F.col("z") / 2.0)
        ),
    )
    m = p.agg(F.count(F.lit(1)).cast("double").alias("mm"))
    w = Window.orderBy("pv", "event_type", "hr")
    r = p.crossJoin(F.broadcast(m)).withColumn(
        "rk", F.row_number().over(w)
    )
    tstar = r.filter(
        F.col("pv") <= F.col("rk") / F.col("mm") * 0.05
    ).agg(F.max("pv").alias("t"))
    return p.crossJoin(F.broadcast(tstar)).select(
        "event_type",
        "hr",
        "n",
        (F.round("z", 6) + F.lit(0.0)).alias("z_score"),
        (F.round("pv", 6) + F.lit(0.0)).alias("p_value"),
        F.coalesce(F.col("pv") <= F.col("t"), F.lit(False)).alias(
            "rejected"
        ),
    )

@query(
    "seasonal_anomaly_days",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, ROUND(SUM(value), 4) AS v
  FROM events GROUP BY 1
),
tr AS (
  SELECT d, v,
         AVG(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend
  FROM daily
),
det AS (
  SELECT d, v, trend, v - trend AS detr,
         DATEDIFF('day', DATE '1990-01-01', d) % 7 AS dow
  FROM tr
),
seas AS (SELECT dow, AVG(detr) AS seasonal FROM det GROUP BY 1),
res AS (
  SELECT det.d, det.v, det.trend, seas.seasonal,
         det.detr - seas.seasonal AS resid
  FROM det JOIN seas ON det.dow = seas.dow
),
sd AS (SELECT STDDEV_SAMP(resid) AS s FROM res)
SELECT d, ROUND(v, 4) + 0 AS v, ROUND(trend, 6) + 0 AS trend,
       ROUND(seasonal, 6) + 0 AS seasonal, ROUND(resid, 6) + 0 AS resid,
       CASE WHEN ABS(resid) > 2 * s THEN TRUE ELSE FALSE END AS is_anomaly
FROM res, sd
""",
)
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-decomposition anomaly detection (STL-lite) on the
    daily event-value series: trend = centered 7-observation moving
    average, weekly seasonal = day-of-week mean of the detrended
    series, anomaly = |residual| beyond 2 sample sigmas (the full
    decomposition is emitted per day with the flag, so the output is
    the diagnostic frame a dashboard plots, not just the exception
    list). Day-of-week
    comes from integer day arithmetic off the Monday anchor (no
    locale-dependent dayofweek). The raw stream reduces to one row
    per day FIRST; every later step (window, 7-row seasonal profile,
    1-row sigma broadcast) runs on the ~calendar-sized frame, so the
    whole diagnostic is one real shuffle at any data scale. The
    seasonal profile join is a broadcast of 7 rows; complements the
    per-type 3-sigma screen in event_value_anomalies by removing
    trend + weekly cycle before thresholding."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    wtr = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select("d", "v", F.avg("v").over(wtr).alias("trend"))
    det = tr.select(
        "d",
        "v",
        "trend",
        (F.col("v") - F.col("trend")).alias("detr"),
        (F.datediff(F.col("d"), F.lit("1990-01-01")) % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(F.avg("detr").alias("seasonal"))
    res = det.join(F.broadcast(seas), "dow").select(
        "d",
        "v",
        "trend",
        "seasonal",
        (F.col("detr") - F.col("seasonal")).alias("resid"),
    )
    sd = res.agg(F.stddev_samp("resid").alias("s"))
    return res.crossJoin(F.broadcast(sd)).select(
        "d",
        (F.round("v", 4) + F.lit(0.0)).alias("v"),
        (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
        (F.round("seasonal", 6) + F.lit(0.0)).alias("seasonal"),
        (F.round("resid", 6) + F.lit(0.0)).alias("resid"),
        (F.abs(F.col("resid")) > 2 * F.col("s")).alias("is_anomaly"),
    )

@query(
    "walk_forward_folds",
    """
WITH bounds AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
         CAST(DATEDIFF('day', MIN(CAST(o_orderdate AS DATE)),
                        MAX(CAST(o_orderdate AS DATE))) + 1 AS DOUBLE) AS span
  FROM orders
),
seg AS (
  SELECT CAST(FLOOR(DATEDIFF('day', b.d0, CAST(o_orderdate AS DATE))
              * 6 / b.span) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders, bounds b
  GROUP BY 1
)
SELECT s AS fold,
       CAST(SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING) AS BIGINT) AS n_train,
       n AS n_test
FROM seg
QUALIFY s >= 1
""",
)
def walk_forward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation fold plan
    over order time — the split discipline for any time-series model
    (lookahead-free: fold k trains on segments [0,k) and tests on
    segment k). Time is divided into 6 equal calendar segments from
    a 1-row min/max bounds broadcast; per-segment counts are ONE
    grouped aggregate, and the expanding train sizes are a running
    sum over the 6-row segment table. The fold boundaries are pure
    date arithmetic, so the same plan assigns folds to 100 TB of
    rows with one scan and a 6-row reduction — the assignment
    expression doubles as the split predicate at training time."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("d0"),
        (
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")),
                F.min(F.col("o_orderdate").cast("date")),
            )
            + 1
        )
        .cast("double")
        .alias("span"),
    )
    seg = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.floor(
                F.datediff(F.col("o_orderdate").cast("date"), F.col("d0"))
                * 6
                / F.col("span")
            )
            .cast("long")
            .alias("s")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    return (
        seg.select(
            F.col("s").alias("fold"),
            F.sum("n").over(w).cast("long").alias("n_train"),
            F.col("n").cast("long").alias("n_test"),
        )
        .filter(F.col("fold") >= 1)
    )

@query(
    "price_elasticity_by_brand",
    """
SELECT p.p_brand AS brand,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(REGR_SLOPE(LN(l.l_quantity),
                        LN(l.l_extendedprice / l.l_quantity)), 6) + 0
         AS elasticity,
       ROUND(REGR_R2(LN(l.l_quantity),
                     LN(l.l_extendedprice / l.l_quantity)), 6) + 0 AS r2
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand: the slope of
    ln(quantity) on ln(unit price) IS the elasticity (the %-change
    ratio), estimated with the closed-form REGR aggregates in ONE
    grouped pass over the broadcast lineitem x part join — no
    iterative fit, no per-group collect; R^2 reports fit quality in
    the same aggregate. The same shape estimates any log-log
    sensitivity (dose-response, cost curves) at 100 TB: broadcast
    the dimension, one hash-agg over the facts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    y = F.log(F.col("l_quantity"))
    x = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("brand"), y.alias("_y"), x.alias("_x"))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.expr("regr_slope(_y, _x)"), 6) + F.lit(0.0)).alias(
                "elasticity"
            ),
            (F.round(F.expr("regr_r2(_y, _x)"), 6) + F.lit(0.0)).alias("r2"),
        )
    )

@query(
    "stressed_var_250d",
    "WITH "
    + SQL_RETS
    + """,
idx AS (
  SELECT series, d, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn,
         SUM(ret) OVER (PARTITION BY series ORDER BY d
                        ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS cum250,
         COUNT(*) OVER (PARTITION BY series ORDER BY d
                        ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS n250
  FROM rets
),
worst AS (
  SELECT series, rn AS rn_end FROM (
    SELECT series, rn,
           ROW_NUMBER() OVER (PARTITION BY series
                              ORDER BY cum250, rn) AS rk
    FROM idx WHERE n250 = 250
  ) WHERE rk = 1
),
stressed AS (
  SELECT i.series, i.ret
  FROM idx i JOIN worst ON i.series = worst.series
  WHERE i.rn > worst.rn_end - 250 AND i.rn <= worst.rn_end
)
SELECT series,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(quantile_cont(ret, 0.01), 6) + 0 AS stressed_var99
FROM stressed GROUP BY series
""",
)
def stressed_var_250d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stressed VaR (Basel 2.5 / FRTB): historical VaR-99 computed
    over each series' WORST contiguous 250-observation stretch — the
    capital add-on that keeps models honest after calm years. The
    worst window is found with one partitioned running-sum window
    (cumulative 250-obs return), its end row picked by a min over a
    (sum, rownum) struct — lexicographic argmin again, ties to the
    earliest window — and the stressed slice is re-selected by row-
    number range with a broadcast of the 1-row-per-series marker.
    Running-window sums accumulate in d-order on both engines, so
    the argmin is deterministic. Same partitioned-window scale story
    as the Basel breach queries: per-series state, never global."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    w250 = w.rowsBetween(-249, 0)
    idx = rets.select(
        "series",
        "ret",
        F.row_number().over(w).alias("rn"),
        F.sum("ret").over(w250).alias("cum250"),
        F.count(F.lit(1)).over(w250).alias("n250"),
    )
    worst = (
        idx.filter(F.col("n250") == 250)
        .groupBy("series")
        .agg(F.min(F.struct("cum250", "rn")).alias("w"))
        .select("series", F.col("w.rn").alias("rn_end"))
    )
    stressed = idx.join(F.broadcast(worst), "series").filter(
        (F.col("rn") > F.col("rn_end") - 250)
        & (F.col("rn") <= F.col("rn_end"))
    )
    return stressed.groupBy("series").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.round(F.percentile("ret", F.lit(0.01)), 6) + F.lit(0.0)).alias(
            "stressed_var99"
        ),
    )

@query(
    "leave_one_out_var",
    "WITH "
    + SQL_RETS
    + f""",
ns AS (SELECT CAST(COUNT(DISTINCT series) AS DOUBLE) AS n FROM rets),
spine AS (
  SELECT s.series, dd.d
  FROM (SELECT DISTINCT series FROM rets) s
  CROSS JOIN (SELECT DISTINCT d FROM rets) dd
),
aligned AS (
  SELECT sp.series, sp.d, COALESCE(r.ret, 0.0) AS ret
  FROM spine sp LEFT JOIN rets r
    ON sp.series = r.series AND sp.d = r.d
),
mkt AS (SELECT d, AVG(ret) AS rm FROM aligned GROUP BY 1),
full_var AS (SELECT {_Z99} * STDDEV_SAMP(rm) AS v FROM mkt),
excl AS (
  SELECT a.series, (ns.n * m.rm - a.ret) / (ns.n - 1) AS rx
  FROM aligned a JOIN mkt m USING (d), ns
)
SELECT series,
       ROUND(MAX(f.v), 6) + 0 AS var99_full,
       ROUND({_Z99} * STDDEV_SAMP(rx), 6) + 0 AS var99_excl,
       ROUND(MAX(f.v) - {_Z99} * STDDEV_SAMP(rx), 6) + 0 AS marginal_var
FROM excl, full_var f GROUP BY series
""",
)
def leave_one_out_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out marginal VaR: for each series, the parametric
    portfolio VaR with that series REMOVED (the remaining N-1 re-
    weighted equally: rx = (N*rm - r_i)/(N-1)) against the full
    portfolio VaR — the what-if companion to component_var_euler
    (Euler answers 'who contributes', this answers 'what do I save
    by exiting'). The excluded-portfolio return is pure arithmetic
    on the (series, date)-aligned frame — no N re-aggregations: ONE
    join against the date-keyed market reduction computes all N
    leave-one-out series simultaneously, then one grouped stddev.
    Same densified stale-price spine as the Euler query."""
    rets = daily_returns(spark, sf_dir)
    ns = rets.agg(
        F.count_distinct(F.col("series")).cast("double").alias("n")
    )
    spine = (
        rets.select("series")
        .distinct()
        .crossJoin(rets.select("d").distinct())
    )
    aligned = spine.join(rets, ["series", "d"], "left").select(
        "series", "d", F.coalesce(F.col("ret"), F.lit(0.0)).alias("ret")
    )
    mkt = aligned.groupBy("d").agg(F.avg("ret").alias("rm"))
    full_var = mkt.agg(
        (F.lit(_Z99) * F.stddev_samp("rm")).alias("v")
    )
    excl = (
        aligned.join(F.broadcast(mkt), "d")
        .crossJoin(F.broadcast(ns))
        .select(
            "series",
            (
                (F.col("n") * F.col("rm") - F.col("ret"))
                / (F.col("n") - 1)
            ).alias("rx"),
        )
    )
    return excl.crossJoin(F.broadcast(full_var)).groupBy("series").agg(
        (F.round(F.max("v"), 6) + F.lit(0.0)).alias("var99_full"),
        (F.round(F.lit(_Z99) * F.stddev_samp("rx"), 6) + F.lit(0.0)).alias(
            "var99_excl"
        ),
        (
            F.round(
                F.max("v") - F.lit(_Z99) * F.stddev_samp("rx"), 6
            )
            + F.lit(0.0)
        ).alias("marginal_var"),
    )

@query(
    "shrunk_covariance_matrix",
    "WITH "
    + SQL_RETS
    + """,
spine AS (
  SELECT s.series, dd.d
  FROM (SELECT DISTINCT series FROM rets) s
  CROSS JOIN (SELECT DISTINCT d FROM rets) dd
),
aligned AS (
  SELECT sp.series, sp.d, COALESCE(r.ret, 0.0) AS ret
  FROM spine sp LEFT JOIN rets r
    ON sp.series = r.series AND sp.d = r.d
),
pairs AS (
  SELECT a.series AS s1, b.series AS s2,
         COVAR_SAMP(a.ret, b.ret) AS cv
  FROM aligned a JOIN aligned b ON a.d = b.d AND a.series <= b.series
  GROUP BY 1, 2
)
SELECT s1, s2,
       ROUND(cv, 8) + 0 AS sample_cov,
       ROUND(CASE WHEN s1 = s2 THEN cv ELSE 0.8 * cv END, 8) + 0
         AS shrunk_cov
FROM pairs
""",
)
def shrunk_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance shrinkage toward the diagonal target (lambda=0.2,
    the fixed-intensity form of Ledoit-Wolf conditioning): off-
    diagonal sample covariances shrink by (1-lambda), variances stay
    — the fix for ill-conditioned sample matrices that makes MC
    factor models invertible when series count approaches observation
    count (the reference's Cholesky at 03_var_monte_carlo.py:70-75
    assumes exactly this conditioning exists). The upper triangle
    comes from ONE date-keyed self-join of the densified return frame
    with s1<=s2 — N(N+1)/2 grouped covariances in a single shuffle;
    at large N this becomes the A8 mapInPandas moment kernel
    (vector_agg.py) with shrinkage applied to the k x k driver-side
    matrix, same semantics."""
    rets = daily_returns(spark, sf_dir)
    spine = (
        rets.select("series")
        .distinct()
        .crossJoin(rets.select("d").distinct())
    )
    aligned = spine.join(rets, ["series", "d"], "left").select(
        "series", "d", F.coalesce(F.col("ret"), F.lit(0.0)).alias("ret")
    )
    a = aligned.select(
        F.col("series").alias("s1"), "d", F.col("ret").alias("ra")
    )
    b = aligned.select(
        F.col("series").alias("s2"), "d", F.col("ret").alias("rb")
    )
    pairs = (
        a.join(b, "d")
        .filter(F.col("s1") <= F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.covar_samp("ra", "rb").alias("cv"))
    )
    return pairs.select(
        "s1",
        "s2",
        (F.round("cv", 8) + F.lit(0.0)).alias("sample_cov"),
        (
            F.round(
                F.when(F.col("s1") == F.col("s2"), F.col("cv")).otherwise(
                    0.8 * F.col("cv")
                ),
                8,
            )
            + F.lit(0.0)
        ).alias("shrunk_cov"),
    )

@query(
    "cusum_changepoints",
    """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS v
  FROM orders GROUP BY 1
),
m AS (SELECT AVG(v) AS mu, STDDEV_SAMP(v) AS s FROM daily),
z AS (
  SELECT d, v, (v - m.mu) / m.s AS z FROM daily, m
),
c AS (
  SELECT d, v, z,
         SUM(z - 0.5) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cpos,
         SUM(z + 0.5) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cneg
  FROM z
),
s AS (
  SELECT d, v,
         cpos - LEAST(0.0, MIN(cpos) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING))
           AS s_hi,
         GREATEST(0.0, MAX(cneg) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING))
           - cneg AS s_lo
  FROM c
)
SELECT d, ROUND(v, 2) + 0 AS v,
       ROUND(s_hi, 6) + 0 AS cusum_hi,
       ROUND(s_lo, 6) + 0 AS cusum_lo,
       (s_hi > 5.0 OR s_lo > 5.0) AS is_shift
FROM s
""",
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point monitor on daily revenue (Page
    1954, the sequential drift detector behind manufacturing SPC and
    model-drift dashboards): S+_t = max(0, S+_{t-1} + z_t - k) with
    slack k=0.5 sigma, alarm at h=5 sigma. The recursion LOOKS
    inherently sequential, but max(0, .)-reset CUSUM equals
    C_t - min_{j<=t} C_j for the drifted cumsum C — so the whole
    monitor is two running windows (cumsum + running min), no
    recursion, no UDF. Both sides share one standardization broadcast.
    The raw volume reduces to one row per day first; the windows run
    over calendar scale, and at many-series scale they partition by
    series like every other monitor here."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum("o_totalprice").alias("v")
    )
    m = daily.agg(
        F.avg("v").alias("mu"), F.stddev_samp("v").alias("s")
    )
    z = daily.crossJoin(F.broadcast(m)).select(
        "d", "v", ((F.col("v") - F.col("mu")) / F.col("s")).alias("z")
    )
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = z.select(
        "d",
        "v",
        F.sum(F.col("z") - 0.5).over(wcum).alias("cpos"),
        F.sum(F.col("z") + 0.5).over(wcum).alias("cneg"),
    )
    s = c.select(
        "d",
        "v",
        (
            F.col("cpos")
            - F.least(F.lit(0.0), F.min("cpos").over(wcum))
        ).alias("s_hi"),
        (
            F.greatest(F.lit(0.0), F.max("cneg").over(wcum))
            - F.col("cneg")
        ).alias("s_lo"),
    )
    return s.select(
        "d",
        (F.round("v", 2) + F.lit(0.0)).alias("v"),
        (F.round("s_hi", 6) + F.lit(0.0)).alias("cusum_hi"),
        (F.round("s_lo", 6) + F.lit(0.0)).alias("cusum_lo"),
        ((F.col("s_hi") > 5.0) | (F.col("s_lo") > 5.0)).alias("is_shift"),
    )

@query(
    "bootstrap_ci_poisson",
    """
WITH rev AS (
  SELECT o_custkey AS k, SUM(o_totalprice) AS x FROM orders GROUP BY 1
),
reps AS (
  SELECT k, x, b,
         (('0x' || substring(md5(CAST(k AS VARCHAR) || '-' ||
            CAST(b AS VARCHAR)), 1, 8))::UBIGINT + 0.5) / 4294967296.0 AS u
  FROM rev, UNNEST(range(1, 51)) AS t(b)
),
w AS (
  SELECT b, x,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238462 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              ELSE 5 END AS wt
  FROM reps
),
means AS (
  SELECT b, SUM(wt * x) / SUM(wt) AS m FROM w GROUP BY b
),
pt AS (SELECT AVG(x) AS point FROM rev)
SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
       ROUND(MAX(pt.point), 4) + 0 AS point_mean,
       ROUND(quantile_cont(m, 0.025), 4) + 0 AS ci_lo,
       ROUND(quantile_cont(m, 0.975), 4) + 0 AS ci_hi
FROM means, pt
""",
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for mean customer
    revenue — THE bootstrap that works at 100 TB: instead of
    resampling n rows with replacement (which needs global
    coordination), every row independently draws a Poisson(1) weight
    per replicate (the multinomial's limit), so 50 replicates are one
    explode + one grouped weighted mean — embarrassingly parallel,
    no row ever leaves its partition before the replicate reduction.
    The Poisson draw inverts the CDF ladder on an md5 uniform keyed
    by (row, replicate): deterministic across engines, retries, and
    repartitioning, like every sampled operator here. The CI is the
    2.5/97.5 percentile of the replicate means."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum("o_totalprice").alias("x")
    )
    reps = rev.select(
        "k",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(50))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("k").cast("string"),
                        F.lit("-"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    ladder = (
        F.when(u < 0.36787944117144233, F.lit(0))
        .when(u < 0.7357588823428847, F.lit(1))
        .when(u < 0.9196986029286058, F.lit(2))
        .when(u < 0.9810118431238462, F.lit(3))
        .when(u < 0.9963401531726563, F.lit(4))
        .otherwise(F.lit(5))
    )
    means = (
        reps.select("b", "x", ladder.alias("wt"))
        .groupBy("b")
        .agg((F.sum(F.col("wt") * F.col("x")) / F.sum("wt")).alias("m"))
    )
    pt = rev.agg(F.avg("x").alias("point"))
    return means.crossJoin(F.broadcast(pt)).agg(
        F.count(F.lit(1)).alias("n_replicates"),
        (F.round(F.max("point"), 4) + F.lit(0.0)).alias("point_mean"),
        (F.round(F.percentile("m", F.lit(0.025)), 4) + F.lit(0.0)).alias(
            "ci_lo"
        ),
        (F.round(F.percentile("m", F.lit(0.975)), 4) + F.lit(0.0)).alias(
            "ci_hi"
        ),
    )

@query(
    "risk_report_by_series",
    "WITH "
    + SQL_RETS
    + """,
mkt AS (SELECT d, AVG(ret) AS rm FROM rets GROUP BY 1),
var_t AS (
  SELECT series, quantile_cont(ret, 0.01) AS var99 FROM rets GROUP BY 1
),
var_es AS (
  SELECT r.series, MIN(v.var99) AS var99,
         AVG(CASE WHEN r.ret <= v.var99 THEN r.ret END) AS es99
  FROM rets r JOIN var_t v ON r.series = v.series
  GROUP BY r.series
),
idx AS (
  SELECT series, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn
  FROM rets
),
nmax AS (SELECT series, MAX(rn) AS n FROM idx GROUP BY 1),
ew AS (
  SELECT idx.series,
         SQRT(SUM(POWER(0.94, n - rn) * ret * ret) * 0.06) AS ewma_vol
  FROM idx JOIN nmax ON idx.series = nmax.series
  GROUP BY idx.series
),
lvl AS (
  SELECT series, d, price,
         MAX(price) OVER (PARTITION BY series ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
),
dd AS (
  SELECT series, MIN(price / peak - 1.0) AS max_drawdown FROM lvl GROUP BY 1
),
beta AS (
  SELECT r.series, COVAR_SAMP(r.ret, m.rm) / VAR_SAMP(m.rm) AS beta
  FROM rets r JOIN mkt m ON r.d = m.d GROUP BY r.series
)
SELECT v.series,
       ROUND(v.var99, 6) + 0 AS var99,
       ROUND(v.es99, 6) + 0 AS es99,
       ROUND(e.ewma_vol, 6) + 0 AS ewma_vol,
       ROUND(d.max_drawdown, 6) + 0 AS max_drawdown,
       ROUND(b.beta, 6) + 0 AS beta
FROM var_es v
JOIN ew e ON v.series = e.series
JOIN dd d ON v.series = d.series
JOIN beta b ON v.series = b.series
""",
)
def risk_report_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-page risk report: historical VaR-99, expected
    shortfall, RiskMetrics EWMA volatility, maximum drawdown, and
    CAPM beta per series in a single wide frame — the composition the
    reference spreads across its 04/05 notebooks' final dashboards
    (04_var_aggregation.py, 05_var_compliance.py), here derived from
    ONE windowed base frame. All per-row state — return, row number,
    running peak, per-series count — comes out of a single window
    stage over the daily reduction; the only extra branches are three
    series- or date-keyed REDUCTIONS broadcast back (VaR thresholds,
    market return, nothing bigger than series x 1 rows), and every
    metric then folds in ONE final grouped aggregate. First form of
    this query naively composed the five standalone metric queries
    and re-scanned orders 14 times; this form scans it 4 times (base
    + three 1-row-per-key reductions) — the difference between
    declaring a report and stapling five jobs together."""
    daily = daily_prices(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    wpart = Window.partitionBy("series")
    wpeak = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = daily.select(
        "series",
        "d",
        "price",
        (F.round(log_returns_over("price", ["series"], "d"), 6) + F.lit(0.0)).alias(
            "ret"
        ),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wpart).alias("n"),
        F.max("price").over(wpeak).alias("peak"),
    )
    var_t = base.groupBy("series").agg(
        F.percentile("ret", F.lit(0.01)).alias("_v")
    )
    mkt = base.groupBy("d").agg(F.avg("ret").alias("rm"))
    enriched = base.join(F.broadcast(var_t), "series").join(
        F.broadcast(mkt), "d"
    )
    return enriched.groupBy("series").agg(
        (F.round(F.min("_v"), 6) + F.lit(0.0)).alias("var99"),
        (
            F.round(
                F.avg(F.when(F.col("ret") <= F.col("_v"), F.col("ret"))), 6
            )
            + F.lit(0.0)
        ).alias("es99"),
        (
            F.round(
                F.sqrt(
                    F.sum(
                        F.pow(F.lit(0.94), F.col("n") - F.col("rn"))
                        * F.col("ret")
                        * F.col("ret")
                    )
                    * 0.06
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("ewma_vol"),
        (
            F.round(F.min(F.col("price") / F.col("peak") - 1.0), 6)
            + F.lit(0.0)
        ).alias("max_drawdown"),
        (
            F.round(F.covar_samp("ret", "rm") / F.var_samp("rm"), 6)
            + F.lit(0.0)
        ).alias("beta"),
    )

@query(
    "ewma_covariance_matrix",
    "WITH "
    + SQL_RETS
    + """,
spine AS (
  SELECT s.series, dd.d,
         ROW_NUMBER() OVER (PARTITION BY s.series ORDER BY dd.d) AS rn,
         COUNT(*) OVER (PARTITION BY s.series) AS n
  FROM (SELECT DISTINCT series FROM rets) s
  CROSS JOIN (SELECT DISTINCT d FROM rets) dd
),
aligned AS (
  SELECT sp.series, sp.d, sp.rn, sp.n, COALESCE(r.ret, 0.0) AS ret
  FROM spine sp LEFT JOIN rets r
    ON sp.series = r.series AND sp.d = r.d
)
SELECT a.series AS s1, b.series AS s2,
       ROUND(SUM(POWER(0.94, a.n - a.rn) * a.ret * b.ret) * 0.06, 9) + 0
         AS ewma_cov
FROM aligned a JOIN aligned b ON a.d = b.d AND a.series <= b.series
GROUP BY 1, 2
""",
)
def ewma_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RiskMetrics EWMA covariance matrix (lambda=0.94, zero-mean
    daily convention — the multivariate extension of ewma_volatility
    and the live input to the reference's Cholesky factor,
    03_var_monte_carlo.py:70-75): cov_xy = (1-l) * sum l^(n-t) x_t
    y_t, the recursion unrolled to one weighted grouped sum exactly
    like the univariate case. The date index (rn, n) rides the
    densified spine so every pair shares the same weight ladder; the
    upper triangle reduces in ONE date-keyed self-join — same single
    shuffle as the sample-covariance query, weights folded into the
    sum, nothing recursive anywhere."""
    rets = daily_returns(spark, sf_dir)
    wsp = Window.partitionBy("series").orderBy("d")
    wn = Window.partitionBy("series")
    spine = (
        rets.select("series")
        .distinct()
        .crossJoin(rets.select("d").distinct())
        .select(
            "series",
            "d",
            F.row_number().over(wsp).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
    )
    aligned = spine.join(rets, ["series", "d"], "left").select(
        "series",
        "d",
        "rn",
        "n",
        F.coalesce(F.col("ret"), F.lit(0.0)).alias("ret"),
    )
    a = aligned.select(
        F.col("series").alias("s1"),
        "d",
        F.col("rn").alias("rn_a"),
        F.col("n").alias("n_a"),
        F.col("ret").alias("ra"),
    )
    b = aligned.select(
        F.col("series").alias("s2"), "d", F.col("ret").alias("rb")
    )
    return (
        a.join(b, "d")
        .filter(F.col("s1") <= F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            (
                F.round(
                    F.sum(
                        F.pow(F.lit(0.94), F.col("n_a") - F.col("rn_a"))
                        * F.col("ra")
                        * F.col("rb")
                    )
                    * 0.06,
                    9,
                )
                + F.lit(0.0)
            ).alias("ewma_cov")
        )
    )

@query(
    "volatility_cones",
    "WITH "
    + SQL_RETS
    + """,
h AS (SELECT UNNEST([5, 21, 63]) AS horizon),
rolled AS (
  SELECT r.series, h.horizon,
         STDDEV_SAMP(r.ret) OVER (
           PARTITION BY r.series, h.horizon ORDER BY r.d
           ROWS BETWEEN 62 PRECEDING AND CURRENT ROW) AS sd63,
         STDDEV_SAMP(r.ret) OVER (
           PARTITION BY r.series, h.horizon ORDER BY r.d
           ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS sd21,
         STDDEV_SAMP(r.ret) OVER (
           PARTITION BY r.series, h.horizon ORDER BY r.d
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sd5,
         ROW_NUMBER() OVER (PARTITION BY r.series, h.horizon
                            ORDER BY r.d) AS rn
  FROM rets r, h
),
vols AS (
  SELECT series, horizon,
         CASE horizon WHEN 5 THEN sd5 WHEN 21 THEN sd21 ELSE sd63 END AS v
  FROM rolled
  WHERE rn >= horizon
)
SELECT series, CAST(horizon AS BIGINT) AS horizon,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       ROUND(MIN(v), 6) + 0 AS vol_min,
       ROUND(quantile_cont(v, 0.5), 6) + 0 AS vol_median,
       ROUND(MAX(v), 6) + 0 AS vol_max
FROM vols GROUP BY 1, 2
""",
)
def volatility_cones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cones (Burghardt-Lane): the min/median/max of
    rolling realized volatility at 5/21/63-observation horizons per
    series — the options-desk chart that says whether TODAY'S vol is
    high for its horizon. One partitioned window pass per horizon
    over the shared return frame (Spark computes the three rolling
    stddevs in a single Window stage since they share partitioning
    and ordering), warm-up rows dropped, then a per-(series, horizon)
    percentile reduce. The horizon dimension is a 3-row literal
    frame, not three query copies."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    rolled = rets.select(
        "series",
        F.stddev_samp("ret").over(w.rowsBetween(-4, 0)).alias("sd5"),
        F.stddev_samp("ret").over(w.rowsBetween(-20, 0)).alias("sd21"),
        F.stddev_samp("ret").over(w.rowsBetween(-62, 0)).alias("sd63"),
        F.row_number().over(w).alias("rn"),
    )
    horizons = F.array(
        F.struct(F.lit(5).alias("horizon"), F.col("sd5").alias("v")),
        F.struct(F.lit(21).alias("horizon"), F.col("sd21").alias("v")),
        F.struct(F.lit(63).alias("horizon"), F.col("sd63").alias("v")),
    )
    vols = (
        rolled.select("series", "rn", F.explode(horizons).alias("h"))
        .select("series", "rn", F.col("h.horizon").alias("horizon"), F.col("h.v").alias("v"))
        .filter(F.col("rn") >= F.col("horizon"))
    )
    return vols.groupBy(
        "series", F.col("horizon").cast("long").alias("horizon")
    ).agg(
        F.count(F.lit(1)).alias("n_windows"),
        (F.round(F.min("v"), 6) + F.lit(0.0)).alias("vol_min"),
        (F.round(F.percentile("v", F.lit(0.5)), 6) + F.lit(0.0)).alias(
            "vol_median"
        ),
        (F.round(F.max("v"), 6) + F.lit(0.0)).alias("vol_max"),
    )

@query(
    "drawdown_duration_stats",
    "WITH "
    + SQL_DAILY
    + """,
lvl AS (
  SELECT series, d, price,
         MAX(price) OVER (PARTITION BY series ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS peak
  FROM daily
),
flagged AS (
  SELECT series, d, price < peak AS under,
         SUM(CASE WHEN price < peak THEN 0 ELSE 1 END)
           OVER (PARTITION BY series ORDER BY d ROWS UNBOUNDED PRECEDING)
           AS island
  FROM lvl
),
spells AS (
  SELECT series, island, CAST(COUNT(*) AS BIGINT) AS len
  FROM flagged WHERE under GROUP BY 1, 2
)
SELECT series,
       CAST(COUNT(*) AS BIGINT) AS n_spells,
       CAST(MAX(len) AS BIGINT) AS longest_underwater_days,
       ROUND(AVG(len), 4) + 0 AS mean_spell_days
FROM spells GROUP BY series
""",
)
def drawdown_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Underwater-spell statistics: how LONG drawdowns last, not just
    how deep (max_drawdown_by_series measures depth) — the recovery-
    time metric allocators actually ask about. Classic gaps-and-
    islands: a running count of at-peak rows is constant within each
    underwater stretch, so it IS the island id — consecutive below-
    peak runs fall out of two ordinary cumulative windows (peak, then
    island) plus one grouped count, no iteration, no self-join. Same
    per-series partitioned-window scale story as every monitor in
    this file."""
    daily = daily_prices(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lvl = daily.select(
        "series",
        "d",
        "price",
        F.max("price").over(wcum).alias("peak"),
    )
    flagged = lvl.select(
        "series",
        (F.col("price") < F.col("peak")).alias("under"),
        F.sum(
            F.when(F.col("price") < F.col("peak"), F.lit(0)).otherwise(
                F.lit(1)
            )
        )
        .over(wcum)
        .alias("island"),
    )
    spells = (
        flagged.filter(F.col("under"))
        .groupBy("series", "island")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return spells.groupBy("series").agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.max("len").alias("longest_underwater_days"),
        (F.round(F.avg("len"), 4) + F.lit(0.0)).alias("mean_spell_days"),
    )

@query(
    "hurst_exponent_rs",
    "WITH "
    + SQL_RETS
    + """,
idx AS (
  SELECT series, d, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn
  FROM rets
),
sized AS (
  SELECT idx.*, w.w,
         CAST(FLOOR((rn - 1) / w.w) AS BIGINT) AS chunk
  FROM idx, (SELECT UNNEST([8, 16, 32, 64]) AS w) w
),
stats AS (
  SELECT series, w, chunk, rn, ret,
         COUNT(*) OVER (PARTITION BY series, w, chunk) AS n_c,
         AVG(ret) OVER (PARTITION BY series, w, chunk) AS mu,
         STDDEV_POP(ret) OVER (PARTITION BY series, w, chunk) AS sp
  FROM sized
),
cum AS (
  SELECT series, w, chunk, rn, n_c, sp,
         SUM(ret - mu) OVER (PARTITION BY series, w, chunk ORDER BY rn
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM stats
),
rng AS (
  SELECT series, w, chunk, n_c, sp,
         MAX(c) OVER (PARTITION BY series, w, chunk)
           - MIN(c) OVER (PARTITION BY series, w, chunk) AS r,
         ROW_NUMBER() OVER (PARTITION BY series, w, chunk ORDER BY rn) AS pick
  FROM cum
),
rs AS (
  SELECT series, w, AVG(r / sp) AS avg_rs
  FROM rng WHERE pick = 1 AND n_c = w AND sp > 0
  GROUP BY 1, 2
)
SELECT series,
       CAST(COUNT(*) AS BIGINT) AS n_scales,
       ROUND(REGR_SLOPE(LN(avg_rs), LN(CAST(w AS DOUBLE))), 6) + 0
         AS hurst
FROM rs GROUP BY series
""",
)
def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis — the long-
    memory diagnostic (H>0.5 trending, H<0.5 mean-reverting, 0.5 a
    random walk) complementing the short-lag ACF/Ljung-Box tests.
    Per scale w in {8,16,32,64}: the series splits into complete
    w-sized chunks (floor((rn-1)/w) — pure arithmetic, no
    re-partitioning per scale), each chunk's range of cumulative
    mean-deviations over its population stddev averages into R/S(w),
    and H is the closed-form regression slope of ln(R/S) on ln(w).
    Everything is chunk-partitioned windows over an exploded 4-row
    scale dimension — one shuffle on (series, w, chunk), then two
    tiny reductions; no iteration, no driver math."""
    from value_at_risk_spark.operators.windows import hurst_rs

    rets = daily_returns(spark, sf_dir)
    fit = hurst_rs(rets, "series", "d", "ret", scales=(8, 16, 32, 64))
    return fit.select(
        "series",
        "n_scales",
        (F.round("hurst", 6) + F.lit(0.0)).alias("hurst"),
    )

@query(
    "garch_volatility_forecast",
    "WITH "
    + SQL_RETS
    + """,
idx AS (
  SELECT series, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY series) AS n,
         VAR_SAMP(ret) OVER (PARTITION BY series) AS v
  FROM rets
)
SELECT series,
       CAST(MAX(n) AS BIGINT) AS n_obs,
       ROUND(SQRT(MAX(v)), 6) + 0 AS uncond_vol,
       ROUND(SQRT(
         MAX(v) * (1 - 0.09 - 0.90) * (1 - POWER(0.90, MAX(n))) / (1 - 0.90)
         + 0.09 * SUM(POWER(0.90, n - rn) * ret * ret)
         + POWER(0.90, MAX(n)) * MAX(v)
       ), 6) + 0 AS garch_vol_next
FROM idx GROUP BY series
""",
)
def garch_volatility_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) next-day volatility forecast with variance
    targeting (omega = V*(1-alpha-beta), alpha=0.09, beta=0.90 — the
    textbook daily-equity parameterization): the recursion
    sigma2_t = omega + alpha*r2_{t-1} + beta*sigma2_{t-1} unrolls,
    for the FINAL forecast, to omega*(1-beta^n)/(1-beta) + alpha *
    sum beta^(n-j) r2_j + beta^n * V — one weighted grouped sum with
    decaying weights (numerically safe; the per-date variant needs
    beta^(-j) scaling that overflows past ~5k observations, which is
    why this emits the forecast, exactly like ewma_volatility).
    Completes the volatility ladder: sample (parametric_var), EWMA,
    GARCH — same single-pass grouped-sum shape for all three."""
    rets = daily_returns(spark, sf_dir)
    wsp = Window.partitionBy("series").orderBy("d")
    wp = Window.partitionBy("series")
    idx = rets.select(
        "series",
        "ret",
        F.row_number().over(wsp).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.var_samp("ret").over(wp).alias("v"),
    )
    a, b = 0.09, 0.90
    v = F.max("v")
    n = F.max("n")
    s2 = (
        v * (1 - a - b) * (1 - F.pow(F.lit(b), n)) / (1 - b)
        + F.lit(a)
        * F.sum(F.pow(F.lit(b), F.col("n") - F.col("rn")) * F.col("ret") * F.col("ret"))
        + F.pow(F.lit(b), n) * v
    )
    return idx.groupBy("series").agg(
        n.cast("long").alias("n_obs"),
        (F.round(F.sqrt(v), 6) + F.lit(0.0)).alias("uncond_vol"),
        (F.round(F.sqrt(s2), 6) + F.lit(0.0)).alias("garch_vol_next"),
    )

@query(
    "var_horizon_scaling",
    "WITH "
    + SQL_RETS
    + """,
multi AS (
  SELECT series, d,
         SUM(ret) OVER (PARTITION BY series ORDER BY d
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS r10,
         COUNT(*) OVER (PARTITION BY series ORDER BY d
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n10
  FROM rets
)
SELECT r.series,
       ROUND(quantile_cont(r.ret, 0.01), 6) + 0 AS var99_1d,
       ROUND(quantile_cont(r.ret, 0.01) * SQRT(10), 6) + 0 AS var99_10d_sqrt,
       ROUND((SELECT quantile_cont(m.r10, 0.01) FROM multi m
              WHERE m.series = r.series AND m.n10 = 10), 6) + 0
         AS var99_10d_empirical
FROM rets r GROUP BY r.series
""",
)
def var_horizon_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root-of-time check: 1-day VaR-99 scaled by sqrt(10)
    against the EMPIRICAL 10-day VaR from overlapping 10-day return
    windows — the regulatory scaling rule (Basel's sqrt-t) tested
    rather than assumed (serial correlation or fat tails make the
    two diverge; acf_ljung_box and hurst_exponent_rs explain WHY
    when they do). One partitioned running-sum window builds the
    overlapping multi-day returns, then two grouped percentiles —
    the correlated-subquery form in the oracle decorrelates to the
    same grouped aggregate in both engines."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d").rowsBetween(-9, 0)
    multi = rets.select(
        "series",
        F.sum("ret").over(w).alias("r10"),
        F.count(F.lit(1)).over(w).alias("n10"),
    ).filter(F.col("n10") == 10)
    one_d = rets.groupBy("series").agg(
        F.percentile("ret", F.lit(0.01)).alias("v1")
    )
    ten_d = multi.groupBy("series").agg(
        F.percentile("r10", F.lit(0.01)).alias("v10")
    )
    return one_d.join(F.broadcast(ten_d), "series").select(
        "series",
        (F.round("v1", 6) + F.lit(0.0)).alias("var99_1d"),
        (F.round(F.col("v1") * F.sqrt(F.lit(10.0)), 6) + F.lit(0.0)).alias(
            "var99_10d_sqrt"
        ),
        (F.round("v10", 6) + F.lit(0.0)).alias("var99_10d_empirical"),
    )

@query(
    "price_index_yoy",
    """
WITH yearly AS (
  SELECT l_partkey AS pk,
         EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) AS yr,
         SUM(l_quantity) AS q,
         SUM(l_extendedprice) / SUM(l_quantity) AS p
  FROM lineitem GROUP BY 1, 2
),
pairs AS (
  SELECT a.pk, a.yr AS base_yr,
         a.p AS p0, a.q AS q0, b.p AS p1, b.q AS q1
  FROM yearly a JOIN yearly b ON a.pk = b.pk AND b.yr = a.yr + 1
)
SELECT CAST(base_yr AS BIGINT) AS base_yr,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(SUM(p1 * q0) / SUM(p0 * q0), 6) + 0 AS laspeyres,
       ROUND(SUM(p1 * q1) / SUM(p0 * q1), 6) + 0 AS paasche,
       ROUND(SQRT((SUM(p1 * q0) / SUM(p0 * q0))
                * (SUM(p1 * q1) / SUM(p0 * q1))), 6) + 0 AS fisher
FROM pairs GROUP BY base_yr
""",
)
def price_index_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year price indices over the matched part basket:
    Laspeyres (base-year quantity weights), Paasche (current-year
    weights), and their geometric mean, the Fisher ideal index — the
    inflation-measurement classic, and a genuinely different
    aggregate shape: a MATCHED-PAIR self-join on (part, adjacent
    years) followed by ratio-of-sums (never sum-of-ratios — the
    unit-price fallacy this query exists to avoid). The yearly frame
    is a part-keyed reduction first; the adjacent-year pairing is a
    lead() window OVER THAT REDUCTION — one corpus scan plus one
    small re-shuffle of the reduced frame, where the oracle's
    equivalent self-join formulation would scan and aggregate
    lineitem twice (r13: was the join form; the two plans are
    algebraically identical on consecutive years)."""
    li = _t(spark, sf_dir, "lineitem")
    yearly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.year(F.col("l_shipdate").cast("date")).alias("yr"),
    ).agg(
        F.sum("l_quantity").alias("q"),
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("p"),
    )
    w = Window.partitionBy("pk").orderBy("yr")
    pairs = yearly.select(
        F.col("yr").alias("base_yr"),
        F.col("p").alias("p0"),
        F.col("q").alias("q0"),
        F.lead("yr").over(w).alias("yr1"),
        F.lead("p").over(w).alias("p1"),
        F.lead("q").over(w).alias("q1"),
    ).filter(F.col("yr1") == F.col("base_yr") + 1)
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(
        F.col("p0") * F.col("q0")
    )
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(
        F.col("p0") * F.col("q1")
    )
    return pairs.groupBy(F.col("base_yr").cast("long").alias("base_yr")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.round(lasp, 6) + F.lit(0.0)).alias("laspeyres"),
        (F.round(paas, 6) + F.lit(0.0)).alias("paasche"),
        (F.round(F.sqrt(lasp * paas), 6) + F.lit(0.0)).alias("fisher"),
    )

@query(
    "tail_dependence_pairs",
    "WITH "
    + SQL_RETS
    + """,
ranked AS (
  SELECT series, d,
         PERCENT_RANK() OVER (PARTITION BY series ORDER BY ret, d) AS u
  FROM rets
),
j AS (
  SELECT a.series AS s1, b.series AS s2, a.u AS u1, b.u AS u2
  FROM ranked a JOIN ranked b ON a.d = b.d AND a.series < b.series
)
SELECT s1, s2,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN u1 <= 0.1 AND u2 <= 0.1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_joint_tail,
       ROUND(SUM(CASE WHEN u1 <= 0.1 AND u2 <= 0.1 THEN 1 ELSE 0 END)
             / (0.1 * COUNT(*)), 6) + 0 AS lower_tail_dep
FROM j GROUP BY s1, s2
""",
)
def tail_dependence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical lower-tail dependence per series pair:
    lambda_L(q) = P(both in their own worst q) / q at q = 0.1 —
    rank-based (copula-level), so marginal distributions cancel and
    the number isolates JOINT crash behavior, the thing correlation
    famously understates in stress (and the reason
    shrunk_covariance_matrix alone can't answer 'do they crash
    together?'). Ranks are one percent_rank window per series
    (deterministic tie-break on date), pairs align on the date key —
    the same join discipline as rolling_correlation_pairs; under
    independence lambda -> q, so values well above 0.1 flag
    dependence that the MC factor model must capture."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("ret", "d")
    ranked = rets.select(
        "series", "d", F.percent_rank().over(w).alias("u")
    )
    a = ranked.select(
        F.col("series").alias("s1"), "d", F.col("u").alias("u1")
    )
    b = ranked.select(
        F.col("series").alias("s2"), "d", F.col("u").alias("u2")
    )
    j = a.join(b, "d").filter(F.col("s1") < F.col("s2"))
    joint = F.sum(
        F.when((F.col("u1") <= 0.1) & (F.col("u2") <= 0.1), F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    return j.groupBy("s1", "s2").agg(
        F.count(F.lit(1)).alias("n_days"),
        joint.alias("n_joint_tail"),
        (
            F.round(joint / (F.lit(0.1) * F.count(F.lit(1))), 6)
            + F.lit(0.0)
        ).alias("lower_tail_dep"),
    )

@query(
    "seasonal_naive_backtest",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, ROUND(SUM(value), 4) AS v
  FROM events GROUP BY 1, 2
),
preds AS (
  SELECT event_type, d, v,
         LAG(v, 1) OVER (PARTITION BY event_type ORDER BY d) AS naive1,
         LAG(v, 7) OVER (PARTITION BY event_type ORDER BY d) AS naive7
  FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(AVG(ABS(v - naive1)), 4) + 0 AS mae_naive1,
       ROUND(AVG(ABS(v - naive7)), 4) + 0 AS mae_seasonal7,
       ROUND(AVG(ABS(v - naive7)) / AVG(ABS(v - naive1)), 6) + 0
         AS mase_like_ratio
FROM preds WHERE naive7 IS NOT NULL
GROUP BY event_type
""",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest: last-value (naive-1) vs
    last-week (seasonal naive-7) predictors on daily event value,
    scored by MAE and their ratio (the MASE idea: any real model
    must beat these or it is decoration). Both predictors come from
    ONE partitioned window pass (two LAGs, shared spec); the ratio
    below 1 means weekly seasonality carries real signal — the
    decision input for seasonal_anomaly_days' weekly profile. Rows
    restricted to days where both predictors exist so the two MAEs
    average over the SAME days (the comparability mistake naive
    backtests make)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    w = Window.partitionBy("event_type").orderBy("d")
    preds = daily.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("naive1"),
        F.lag("v", 7).over(w).alias("naive7"),
    ).filter(F.col("naive7").isNotNull())
    mae1 = F.avg(F.abs(F.col("v") - F.col("naive1")))
    mae7 = F.avg(F.abs(F.col("v") - F.col("naive7")))
    return preds.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(mae1, 4) + F.lit(0.0)).alias("mae_naive1"),
        (F.round(mae7, 4) + F.lit(0.0)).alias("mae_seasonal7"),
        (F.round(mae7 / mae1, 6) + F.lit(0.0)).alias("mase_like_ratio"),
    )

@query(
    "demand_variability_xyz",
    """
WITH monthly AS (
  SELECT l_partkey AS pk,
         EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) * 12
           + EXTRACT(MONTH FROM CAST(l_shipdate AS DATE)) AS m,
         SUM(l_quantity) AS q
  FROM lineitem GROUP BY 1, 2
),
cv AS (
  SELECT pk, STDDEV_SAMP(q) / AVG(q) AS cv,
         CAST(COUNT(*) AS BIGINT) AS n_months
  FROM monthly GROUP BY 1
  HAVING COUNT(*) >= 6
),
classed AS (
  SELECT CASE WHEN cv < 0.5 THEN 'X'
              WHEN cv < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz, cv
  FROM cv
)
SELECT xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(AVG(cv), 6) + 0 AS mean_cv,
       ROUND(MAX(cv), 6) + 0 AS max_cv
FROM classed GROUP BY xyz
""",
)
def demand_variability_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the partner axis to
    pareto_abc_parts: ABC ranks value, XYZ ranks FORECASTABILITY):
    coefficient of variation of monthly demand per part — X (<0.5)
    steady, Y (<1) variable, Z (>=1) erratic — with a 6-month history
    floor so the CV means something. Month keys are integer
    arithmetic (year*12+month); the whole classification is two
    grouped aggregates and a 3-row rollup. ABC x XYZ is the 9-cell
    matrix inventory policy actually keys on."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    monthly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        (F.year(d) * 12 + F.month(d)).alias("m"),
    ).agg(F.sum("l_quantity").alias("q"))
    cv = (
        monthly.groupBy("pk")
        .agg(
            (F.stddev_samp("q") / F.avg("q")).alias("cv"),
            F.count(F.lit(1)).alias("n_months"),
        )
        .filter(F.col("n_months") >= 6)
    )
    classed = cv.select(
        F.when(F.col("cv") < 0.5, F.lit("X"))
        .when(F.col("cv") < 1.0, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz"),
        "cv",
    )
    return classed.groupBy("xyz").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.round(F.avg("cv"), 6) + F.lit(0.0)).alias("mean_cv"),
        (F.round(F.max("cv"), 6) + F.lit(0.0)).alias("max_cv"),
    )

@query(
    "basel_capital_charge",
    "WITH "
    + SQL_RETS
    + """,
var_t AS (
  SELECT series, d, ret,
         quantile_cont(ret, 0.01) OVER (
           PARTITION BY series ORDER BY d
           ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS var99,
         COUNT(*) OVER (PARTITION BY series ORDER BY d
           ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS n250
  FROM rets
),
armed AS (
  SELECT series, d, ret, var99,
         LAG(var99) OVER (PARTITION BY series ORDER BY d) AS var_prev,
         n250
  FROM var_t WHERE n250 = 250
),
flagged AS (
  SELECT series, d, var99,
         AVG(var99) OVER (PARTITION BY series ORDER BY d
           ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS avg60,
         SUM(CASE WHEN ret < var_prev THEN 1 ELSE 0 END) OVER (
           PARTITION BY series ORDER BY d
           ROWS BETWEEN 249 PRECEDING AND CURRENT ROW) AS breaches,
         ROW_NUMBER() OVER (
           PARTITION BY series,
                        EXTRACT(YEAR FROM d) * 12 + EXTRACT(MONTH FROM d)
           ORDER BY d DESC) AS rn_mth
  FROM armed
),
snap AS (
  SELECT series, d, var99, avg60, breaches,
         CASE WHEN breaches <= 4 THEN CAST(3.0 AS DOUBLE)
              WHEN breaches <= 9
                THEN CAST(3.0 AS DOUBLE) + 0.1 * (breaches - 4)
              ELSE CAST(4.0 AS DOUBLE) END AS k
  FROM flagged WHERE rn_mth = 1
)
SELECT series, d AS month_end,
       CAST(breaches AS BIGINT) AS breaches_250d,
       ROUND(k, 2) + 0 AS multiplier,
       ROUND(var99, 5) + 0 AS var99,
       ROUND(GREATEST(-var99, -k * avg60), 5) + 0 AS capital_charge
FROM snap
""",
)
def basel_capital_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Basel market-risk capital charge, composed end to end the
    way 05_var_compliance.py's dashboard implies but never computes:
    daily trailing-250-obs VaR-99 (exact sliding percentile), its
    trailing-60-day average, the backtest breach count against
    YESTERDAY'S VaR (no peeking), the traffic-light multiplier k
    (3.0 green, +0.1/breach amber, 4.0 red), and capital =
    max(|VaR_t|, k * |avg60|), snapshotted at month ends. Every
    ingredient exists as its own gate query (var99_by_series,
    basel_breach_zones, stressed_var_250d); this is the composition
    regulators actually ask for, in ONE plan of per-series windows.
    The sliding exact percentile re-sorts 250 values per row — fine
    at calendar scale; the documented scale path swaps in the
    bucketized t-digest sketch where the oracle no longer applies."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("d")
    w250 = w.rowsBetween(-249, 0)
    var_t = rets.select(
        "series",
        "d",
        "ret",
        F.percentile("ret", F.lit(0.01)).over(w250).alias("var99"),
        F.count(F.lit(1)).over(w250).alias("n250"),
    )
    armed = var_t.filter(F.col("n250") == 250).select(
        "series",
        "d",
        "ret",
        "var99",
        F.lag("var99").over(w).alias("var_prev"),
    )
    w60 = w.rowsBetween(-59, 0)
    mth = F.year("d") * 12 + F.month("d")
    wmth = Window.partitionBy("series", mth).orderBy(F.desc("d"))
    flagged = armed.select(
        "series",
        "d",
        "var99",
        F.avg("var99").over(w60).alias("avg60"),
        F.sum(
            F.when(F.col("ret") < F.col("var_prev"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .over(w250)
        .alias("breaches"),
        F.row_number().over(wmth).alias("rn_mth"),
    )
    k = (
        F.when(F.col("breaches") <= 4, F.lit(3.0))
        .when(
            F.col("breaches") <= 9,
            F.lit(3.0) + 0.1 * (F.col("breaches") - 4),
        )
        .otherwise(F.lit(4.0))
    )
    snap = flagged.filter(F.col("rn_mth") == 1).select(
        "series", "d", "var99", "avg60", "breaches", k.alias("k")
    )
    return snap.select(
        "series",
        F.col("d").alias("month_end"),
        F.col("breaches").cast("long").alias("breaches_250d"),
        (F.round("k", 2) + F.lit(0.0)).alias("multiplier"),
        # 5dp, not the house 6: the sliding percentile interpolates
        # 6dp-grid returns at weight 0.49, parking many results within
        # an ulp of the 6dp rounding boundary where the two engines'
        # interpolation formulas disagree on the last digit
        (F.round("var99", 5) + F.lit(0.0)).alias("var99"),
        (
            F.round(
                F.greatest(-F.col("var99"), -F.col("k") * F.col("avg60")),
                5,
            )
            + F.lit(0.0)
        ).alias("capital_charge"),
    )

@query(
    "evt_tail_fit_pot",
    "WITH "
    + SQL_RETS
    + """,
loss AS (SELECT series, d, -ret AS x FROM rets),
thr AS (
  SELECT series, quantile_cont(x, 0.95) AS u,
         CAST(COUNT(*) AS DOUBLE) AS n_all
  FROM loss GROUP BY 1
),
exc AS (
  SELECT l.series, l.x - t.u AS y, t.u, t.n_all
  FROM loss l JOIN thr t ON l.series = t.series
  WHERE l.x > t.u
),
ranked AS (
  SELECT series, y, u, n_all,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY y, u) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY series) AS DOUBLE) AS n
  FROM exc
),
pwm AS (
  SELECT series, MIN(u) AS u, MIN(n_all) AS n_all, MIN(n) AS n,
         AVG(y) AS b0,
         SUM((n - rn) / (n - 1) * y) / MIN(n) AS b1
  FROM ranked GROUP BY series
),
fit AS (
  SELECT series, u, n_all, n, b0, b1,
         2.0 - b0 / (b0 - 2 * b1) AS xi,
         2.0 * b0 * b1 / (b0 - 2 * b1) AS beta
  FROM pwm
)
SELECT series,
       CAST(n AS BIGINT) AS n_exceedances,
       ROUND(u, 6) + 0 AS threshold_u,
       ROUND(xi, 6) + 0 AS gpd_xi,
       ROUND(beta, 6) + 0 AS gpd_beta,
       ROUND(u + beta / xi * (POWER(n_all / n * 0.01, -xi) - 1.0), 6) + 0
         AS evt_var99_loss
FROM fit
""",
)
def evt_tail_fit_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme value fit (McNeil-Frey style):
    losses beyond the 95th percentile follow a Generalized Pareto
    tail whose (xi, beta) come CLOSED-FORM from probability-weighted
    moments (Hosking-Wallis: xi = 2 - b0/(b0-2b1), beta =
    2 b0 b1/(b0-2b1)) — no MLE iteration, so the whole EVT pipeline
    is windows + aggregates: threshold per series (exact percentile),
    exceedances by broadcast join, one rank window for b1's weights,
    one grouped reduction. The payoff column is the EVT-extrapolated
    VaR-99 = u + beta/xi*((n/Nu * 0.01)^-xi - 1): a tail estimate
    that does NOT read the empirical 1% quantile — the thing
    historical VaR cannot do beyond its sample, and why EVT is the
    FRTB-era answer to 'what about quantiles you never observed'."""
    rets = daily_returns(spark, sf_dir)
    loss = rets.select("series", "d", (-F.col("ret")).alias("x"))
    thr = loss.groupBy("series").agg(
        F.percentile("x", F.lit(0.95)).alias("u"),
        F.count(F.lit(1)).cast("double").alias("n_all"),
    )
    exc = (
        loss.join(F.broadcast(thr), "series")
        .filter(F.col("x") > F.col("u"))
        .select("series", (F.col("x") - F.col("u")).alias("y"), "u", "n_all")
    )
    wrn = Window.partitionBy("series").orderBy("y", "u")
    wp = Window.partitionBy("series")
    ranked = exc.select(
        "series",
        "y",
        "u",
        "n_all",
        F.row_number().over(wrn).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("double").alias("n"),
    )
    pwm = ranked.groupBy("series").agg(
        F.min("u").alias("u"),
        F.min("n_all").alias("n_all"),
        F.min("n").alias("n"),
        F.avg("y").alias("b0"),
        (
            F.sum((F.col("n") - F.col("rn")) / (F.col("n") - 1) * F.col("y"))
            / F.min("n")
        ).alias("b1"),
    )
    xi = F.lit(2.0) - F.col("b0") / (F.col("b0") - 2 * F.col("b1"))
    beta = 2.0 * F.col("b0") * F.col("b1") / (F.col("b0") - 2 * F.col("b1"))
    fit = pwm.select(
        "series", "u", "n_all", "n", xi.alias("xi"), beta.alias("beta")
    )
    evt_var = F.col("u") + F.col("beta") / F.col("xi") * (
        F.pow(F.col("n_all") / F.col("n") * 0.01, -F.col("xi")) - 1.0
    )
    return fit.select(
        "series",
        F.col("n").cast("long").alias("n_exceedances"),
        (F.round("u", 6) + F.lit(0.0)).alias("threshold_u"),
        (F.round("xi", 6) + F.lit(0.0)).alias("gpd_xi"),
        (F.round("beta", 6) + F.lit(0.0)).alias("gpd_beta"),
        (F.round(evt_var, 6) + F.lit(0.0)).alias("evt_var99_loss"),
    )

@query(
    "var_confidence_bands",
    "WITH "
    + SQL_RETS
    + """,
idx AS (
  SELECT series, ret,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY ret, d) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY series) AS DOUBLE) AS n
  FROM rets
),
bands AS (
  SELECT series, n,
         GREATEST(CAST(FLOOR(0.01 * n - 1.959963984540054
                   * SQRT(0.01 * 0.99 * n)) AS BIGINT), 1) AS r_lo,
         LEAST(CAST(CEIL(0.01 * n + 1.959963984540054
                   * SQRT(0.01 * 0.99 * n)) AS BIGINT),
               CAST(n AS BIGINT)) AS r_hi
  FROM idx GROUP BY series, n
),
pick AS (
  SELECT i.series, MIN(i.n) AS n, MIN(b.r_lo) AS r_lo, MIN(b.r_hi) AS r_hi,
         MIN(CASE WHEN i.rn = b.r_lo THEN i.ret END) AS var_lo,
         MIN(CASE WHEN i.rn = b.r_hi THEN i.ret END) AS var_hi
  FROM idx i JOIN bands b ON i.series = b.series
  GROUP BY i.series
),
point AS (
  SELECT series, quantile_cont(ret, 0.01) AS v FROM rets GROUP BY 1
)
SELECT p.series,
       ROUND(pt.v, 6) + 0 AS var99,
       ROUND(p.var_lo, 6) + 0 AS ci_lo,
       ROUND(p.var_hi, 6) + 0 AS ci_hi,
       CAST(p.r_hi - p.r_lo AS BIGINT) AS rank_width
FROM pick p JOIN point pt ON p.series = pt.series
""",
)
def var_confidence_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence band for VaR-99 from ORDER
    STATISTICS: the number of returns below the true 1% quantile is
    Binomial(n, 0.01), so the [floor(np - z*sqrt(np(1-p))),
    ceil(np + z*sqrt(np(1-p)))] order statistics bracket it with
    ~95% coverage — no resampling, no distributional assumption,
    just one rank window and a conditional-min selection (the
    classic nonparametric quantile CI; bootstrap_ci_poisson is the
    resampling alternative for statistics without this structure).
    The honest punchline a VaR report should carry: at fixture n,
    the 1% tail has single-digit observations and the band is WIDE
    — reporting VaR without it overstates precision."""
    rets = daily_returns(spark, sf_dir)
    w = Window.partitionBy("series").orderBy("ret", "d")
    wp = Window.partitionBy("series")
    idx = rets.select(
        "series",
        "ret",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("double").alias("n"),
    )
    z = 1.959963984540054
    mean_r = 0.01 * F.col("n")
    sd_r = F.sqrt(0.01 * 0.99 * F.col("n"))
    bands = idx.groupBy("series", "n").agg(F.lit(1).alias("_one")).select(
        "series",
        F.greatest(
            F.floor(mean_r - z * sd_r).cast("long"), F.lit(1)
        ).alias("r_lo"),
        F.least(
            F.ceil(mean_r + z * sd_r).cast("long"),
            F.col("n").cast("long"),
        ).alias("r_hi"),
    )
    pick = (
        idx.join(F.broadcast(bands), "series")
        .groupBy("series")
        .agg(
            F.min(F.col("r_lo")).alias("r_lo"),
            F.min(F.col("r_hi")).alias("r_hi"),
            F.min(
                F.when(F.col("rn") == F.col("r_lo"), F.col("ret"))
            ).alias("var_lo"),
            F.min(
                F.when(F.col("rn") == F.col("r_hi"), F.col("ret"))
            ).alias("var_hi"),
        )
    )
    point = rets.groupBy("series").agg(
        F.percentile("ret", F.lit(0.01)).alias("v")
    )
    return pick.join(F.broadcast(point), "series").select(
        "series",
        (F.round("v", 6) + F.lit(0.0)).alias("var99"),
        (F.round("var_lo", 6) + F.lit(0.0)).alias("ci_lo"),
        (F.round("var_hi", 6) + F.lit(0.0)).alias("ci_hi"),
        (F.col("r_hi") - F.col("r_lo")).cast("long").alias("rank_width"),
    )
