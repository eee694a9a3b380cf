"""Monte-Carlo trial fan-out + market simulation — SURVEY §2.8 F12, §2.3 J1/J2.

Reference flow (``/root/reference/03_var_monte_carlo.py``):
seed frame 0..N-1 (``utils/var_utils.py:30-33``) cross-joined with the
per-run-date volatility stats (``03:64``), then a per-row Python UDF
draws one multivariate-normal market state seeded by ``trial_id``
(``utils/var_udf.py:57-67``).

Reproducibility contract (SURVEY §7.6, test-asserted by the reference at
``tests/tests_spark.py:133-162``): each row's RNG is seeded with its own
``trial_id`` — NEVER a global seed — so draws survive re-partitioning,
task retries, and speculative execution unchanged.

Engine changes vs reference:
- the per-row scalar UDF becomes an ``arrow_udf`` over whole record
  batches: one SVD per distinct covariance, one generator per distinct
  trial_id, one stacked matmul, no per-row Python;
- the seed frame is generated distributed via ``spark.range`` (no
  driver-side pandas lift);
- the cross join broadcasts the small side explicitly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def seed_frame(spark: SparkSession, runs: int) -> DataFrame:
    """trial_id spine 0..runs-1 (utils/var_utils.py:30-33), distributed."""
    return spark.range(0, runs).select(F.col("id").alias("trial_id"))


def _check_sampler_input(
    vol_avg: pa.ListArray, vol_cov: pa.ListArray, trial_id: pa.Array
) -> int:
    """The factor count d of a well-formed batch, else ``ValueError``.

    Flattening an Arrow list drops null entries, so a null anywhere
    would silently shift every later row onto another row's values;
    ragged rows would do the same. Both are refused up front.
    """
    cov_rows = vol_cov.flatten()
    for name, arr in (
        ("vol_avg", vol_avg),
        ("vol_cov", vol_cov),
        ("trial_id", trial_id),
        ("vol_avg element", vol_avg.flatten()),
        ("vol_cov row", cov_rows),
        ("vol_cov element", cov_rows.flatten()),
    ):
        if arr.null_count:
            raise ValueError(f"simulate_market: null {name}")
    lengths = pc.list_value_length(vol_avg).to_numpy()
    d = int(lengths[0])
    if np.any(lengths != d):
        raise ValueError(f"simulate_market: every vol_avg must have length {d}")
    if np.any(pc.list_value_length(vol_cov).to_numpy() != d) or np.any(
        pc.list_value_length(cov_rows).to_numpy() != d
    ):
        raise ValueError(f"simulate_market: every vol_cov must be {d}x{d}")
    return d


@F.arrow_udf(ArrayType(DoubleType()))
def simulate_market(
    vol_avg: pa.Array, vol_cov: pa.Array, trial_id: pa.Array
) -> pa.Array:
    """One multivariate-normal draw per row, seeded by trial_id.

    Re-expression of ``simulate_market`` (utils/var_udf.py:57-67) over
    whole Arrow batches, with the same per-row ``default_rng(seed)``
    contract. numpy's ``multivariate_normal`` draws
    ``mean + standard_normal(d) @ (sqrt(s)[:,None] * vh)`` after an SVD
    of cov; this sampler computes exactly that, with no per-row Python:

    - the list offsets are flattened into ``(n, d)`` means and
      ``(n, d, d)`` covariances (malformed rows raise ``ValueError``,
      see ``_check_sampler_input``);
    - one SVD per distinct covariance in the batch (one per run date);
    - one ``default_rng(t).standard_normal(d)`` per distinct trial_id
      in the batch — the vector depends on t alone, so every run date
      of a trial shares it;
    - the draws are one stacked matmul, ``(n,1,d) @ (n,d,d)``;
    - the result is a ``ListArray`` built from offsets.

    Why the stacked matmul: its draws are bit-identical to the per-row
    ``z @ A`` matvec of the recipe above (pinned in
    tests/test_functions.py), so every trial keeps its values. The
    shorter 2-D form, one ``Z @ A`` gemm per covariance, sums in a
    different order and changed the last bit of most draws when tried
    (66,847 of 105,000 rows at d=5).
    """
    n = len(trial_id)
    if n == 0:
        return pa.array([], pa.list_(pa.float64()))
    d = _check_sampler_input(vol_avg, vol_cov, trial_id)
    mean = vol_avg.flatten().to_numpy().reshape(n, d)
    cov = vol_cov.flatten().flatten().to_numpy().reshape(n, d, d)
    # distinct covariances keyed by their bytes (as a dict of
    # cov.tobytes() would be): -0.0 and 0.0 stay distinct
    _, first, cinv = np.unique(
        cov.reshape(n, d * d).view(np.uint64),
        axis=0,
        return_index=True,
        return_inverse=True,
    )
    factors = []
    for c in cov[first]:
        _, s, vh = np.linalg.svd(c)
        factors.append(np.sqrt(s)[:, None] * vh)
    A = np.stack(factors)
    seeds, tinv = np.unique(
        trial_id.to_numpy(zero_copy_only=False), return_inverse=True
    )
    Z = np.stack(
        [np.random.default_rng(int(t)).standard_normal(d) for t in seeds]
    )
    draws = (Z[tinv][:, None, :] @ A[cinv])[:, 0, :] + mean
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(draws.ravel()))


def simulate_trials(
    volatility: DataFrame,
    runs: int,
    date_col: str = "date",
) -> DataFrame:
    """volatility (date, vol_avg, vol_cov) × trials → simulated market states.

    03_var_monte_carlo.py:55-87 re-expressed: cross join against the
    seed spine, then the batch sampler ``simulate_market``. Output:
    (date, trial_id, features).

    The SEED spine is the stream side and the volatility frame is the
    broadcast side (r16, guide §2.6/§4 — the gbm_price_paths pattern):
    volatility is one small-ish row per run date, but it arrives as the
    output of an aggregation that AQE coalesces to ONE partition, so
    keeping it on the stream side serializes the entire dates×trials
    Python stage onto a single task (measured 4.0-5.9 s vs 0.9-1.7 s
    at 343 dates × 500 trials on local[32]). ``spark.range`` partitions
    the seed spine evenly across defaultParallelism tasks, so the flip
    parallelizes the Python stage with ZERO extra shuffle; per-row draws
    are seeded by trial_id alone, so values are partition-independent
    (the reproducibility contract above).

    The nested-loop join emits every date of one trial before the next
    trial, so an Arrow batch holds whole runs of a trial: the sampler
    builds one generator per trial (not per row) and one SVD factor
    per date in each batch. Batch boundaries only decide how often that
    work repeats, never the values.
    """
    spark = volatility.sparkSession
    seeds = seed_frame(spark, runs)
    fan = seeds.crossJoin(F.broadcast(volatility))
    return fan.select(
        date_col,
        "trial_id",
        simulate_market("vol_avg", "vol_cov", "trial_id").alias("features"),
    )


def pack_trials(
    scored: DataFrame,
    date_col: str = "date",
    key_col: str = "ticker",
    trial_col: str = "trial_id",
    value_col: str = "return",
) -> DataFrame:
    """Pack per-(date,key) trial returns into a trial-ordered dense array.

    Replaces the reference's collect_list×2 + sparse→dense ``to_vector``
    UDF (03_var_monte_carlo.py:124-137) with
    ``array_sort(collect_list(struct(trial_id, v)))`` — explicit sort, no
    Python, no VectorUDT (SURVEY §7.9/§7.10).
    """
    return (
        scored.groupBy(date_col, key_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(trial_col), F.col(value_col)))
            ).alias("_tv")
        )
        .select(
            date_col,
            key_col,
            F.transform(F.col("_tv"), lambda x: x[value_col]).alias("returns"),
        )
    )


def gbm_price_paths(
    instruments: DataFrame,
    n_paths: int,
    days: int,
    dt: float | None = None,
) -> DataFrame:
    """Geometric-Brownian price paths per (instrument, path) — SURVEY §2.8 F13.

    Engine variant of ``generate_prices`` (utils/var_utils.py:18-27,
    driven by 00_var_context.py:35-45): the driver-side loop becomes a
    grouped fan-out — instruments × path seeds — with one Arrow-batched
    pandas UDF emitting the full path per row as an array. Per-row seed
    = hash(instrument, path_id) for the same reproducibility contract
    as simulate_market.

    Matches the reference's numerics: path length ``days`` with an
    unshocked ``s0`` first element, ``days-1`` shocks at ``dt = 1/days``
    (the default), and prices floored at 0 — ``max(0, p·(1+shock))``
    equals ``p·max(0, 1+shock)`` for p ≥ 0, so the floor composes with
    cumprod exactly.

    instruments: (instrument:string, s0:double, mu:double, sigma:double).
    Output: (instrument, path_id, prices: array<double> of length days).
    """
    if dt is None:
        dt = 1.0 / days
    spark = instruments.sparkSession
    # paths on the streaming side so the fan-out (and the pandas UDF
    # behind it) inherits the range's partitioning — instruments is the
    # small broadcast side; keeping it on the left would collapse the
    # UDF onto the instrument table's partitions.
    paths = spark.range(0, n_paths).select(F.col("id").alias("path_id"))
    fan = paths.crossJoin(F.broadcast(instruments))

    @F.pandas_udf(ArrayType(DoubleType()))
    def _path(
        s0: pd.Series, mu: pd.Series, sigma: pd.Series, seed: pd.Series
    ) -> pd.Series:
        out = []
        for s, m, sg, sd in zip(s0, mu, sigma, seed):
            rng = np.random.default_rng(int(sd))
            shocks = rng.normal(m * dt, sg * np.sqrt(dt), int(days) - 1)
            steps = np.maximum(1.0 + shocks, 0.0).cumprod()
            prices = float(s) * np.concatenate(([1.0], steps))
            out.append(prices.tolist())
        return pd.Series(out)

    seed = F.abs(F.xxhash64("instrument", "path_id"))
    return fan.select(
        "instrument", "path_id", _path("s0", "mu", "sigma", seed).alias("prices")
    )


def context_var_demo(
    spark: SparkSession,
    s0: float = 100.0,
    mu: float = 0.05,
    sigma: float = 0.04,
    days: int = 300,
    n_paths: int = 10_000,
    confidence: float = 95.0,
) -> DataFrame:
    """The 00_var_context.py demo, distributed: single instrument, GBM
    paths, VaR/ES of the terminal return distribution
    (/root/reference/00_var_context.py:35-78)."""
    from value_at_risk_spark.sources.local import local_frame

    inst = local_frame(
        spark,
        [("DEMO", s0, mu, sigma)],
        "instrument string, s0 double, mu double, sigma double",
    )
    paths = gbm_price_paths(inst, n_paths, days)
    # two actions consume this (VaR percentile, then tail mean) —
    # materialize the tiny terminal frame so the path UDF runs once.
    # localCheckpoint, never cache/persist (r17): Spark's CacheManager
    # matches PLAN FRAGMENTS, so a cached frame from run 1 would
    # silently serve a same-session run 2; checkpoint blocks are tied
    # to this DataFrame's RDD identity, so every fresh call recomputes
    terminal = paths.select(
        "instrument",
        (F.element_at("prices", days) / F.lit(s0) - 1.0).alias("ret"),
    ).localCheckpoint(eager=True)
    p = (100.0 - confidence) / 100.0
    v = terminal.groupBy("instrument").agg(
        F.percentile("ret", p).alias("var")
    )
    return (
        terminal.join(F.broadcast(v), "instrument")
        .groupBy("instrument", "var")
        .agg(
            F.avg(F.when(F.col("ret") <= F.col("var"), F.col("ret"))).alias(
                "shortfall"
            )
        )
    )
