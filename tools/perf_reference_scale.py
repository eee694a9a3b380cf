"""Reference-scale Monte-Carlo throughput run.

Reproduces the reference's production workload dimensions (BASELINE.md):
35 weekly run dates × 32,000 trials = 1.12 M simulated 5-factor market
states; scored for 27 tickers = 30.2 M predicted returns; aggregated to
per-date portfolio VaR-99 + ES. Prints one JSON line with stage wall
times on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from value_at_risk_spark.montecarlo import simulate_trials  # noqa: E402
from value_at_risk_spark.plans.var_pipeline import (  # noqa: E402
    aggregate_var,
    aggregate_var_fused,
    score_trials,
)
from value_at_risk_spark.session import get_spark  # noqa: E402

N_DATES = 35
# MC_SCALE multiplies the trial count (MC_SCALE=10 -> 320k trials/date,
# 302.4 M scored rows) for scale-up curves beyond the reference config
N_TRIALS = int(32_000 * float(os.environ.get("MC_SCALE", "1")))
N_TICKERS = 27
N_FACTORS = 5


def main() -> None:
    spark = get_spark("perf-reference-scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    rng = np.random.default_rng(42)

    cov = 0.0001 * (np.eye(N_FACTORS) + 0.3)
    vol_rows = [
        (
            f"2019-{9 + i // 30:02d}-{1 + i % 28:02d}",
            rng.normal(0, 0.001, N_FACTORS).tolist(),
            cov.tolist(),
        )
        for i in range(N_DATES)
    ]
    from value_at_risk_spark.sources.local import local_frame

    # VALUES-literal plans: these frames sit on broadcast sides of the
    # hot joins — a pickled-RDD scan there re-enters Python per action
    vol = local_frame(
        spark,
        vol_rows,
        "date string, vol_avg array<double>, vol_cov array<array<double>>",
    ).select(F.col("date").cast("date").alias("date"), "vol_avg", "vol_cov")

    weights = local_frame(
        spark,
        [
            (f"T{i:02d}", rng.normal(0, 0.05, 1 + 4 * N_FACTORS).tolist())
            for i in range(N_TICKERS)
        ],
        "ticker string, weights array<double>",
    )
    portfolio = weights.select("ticker", F.lit(1 / 29).alias("weight"))

    def force(df) -> None:
        # noop sink: full plan execution (count() lets Catalyst prune
        # the pandas-UDF/predictor columns), no driver materialization
        df.write.format("noop").mode("overwrite").save()

    t0 = time.time()
    sims = simulate_trials(vol, runs=N_TRIALS)
    force(sims)
    n_sims = sims.count()
    t_sim = time.time() - t0

    t0 = time.time()
    scored = score_trials(sims, weights, n_factors=N_FACTORS)
    force(scored)
    n_scored = scored.count()
    t_score = time.time() - t0

    t0 = time.time()
    var = aggregate_var(scored, portfolio)
    # force() here too: count() over a groupBy can prune the percentile
    # (and transitively the whole scoring subtree) entirely
    force(var)
    n_var = var.count()
    t_var = time.time() - t0

    # fused path: portfolio linearity folds the 27-ticker scoring stage
    # into one combined weight vector applied per simulated state
    t0 = time.time()
    var_fused = aggregate_var_fused(
        sims, weights, portfolio, n_factors=N_FACTORS
    )
    force(var_fused)
    n_var_fused = var_fused.count()
    t_var_fused = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "reference_scale_mc_sec",
                "fused_var_dates": n_var_fused,
                "fused_total_sec": round(t_var_fused, 2),
                "simulate_rows": n_sims,
                "simulate_sec": round(t_sim, 2),
                "score_rows": n_scored,
                "score_sec": round(t_score, 2),
                "var_dates": n_var,
                "aggregate_var_sec": round(t_var, 2),
                "total_sec": round(t_sim + t_score + t_var, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
