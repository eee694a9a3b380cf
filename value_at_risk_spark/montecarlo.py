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
- the per-row scalar UDF becomes one ``mapInArrow`` kernel over a
  trial-chunk spine: each (run date, chunk) row fans out to the
  chunk's trials inside the kernel, with one SVD per row, one
  generator per trial per batch and one stacked matmul, so Python
  sees run dates × chunks rows instead of one row per (date, trial);
- the chunk spine is generated distributed via ``spark.range`` (no
  driver-side pandas lift), one chunk per partition;
- the cross join broadcasts the small side explicitly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def seed_frame(spark: SparkSession, runs: int) -> DataFrame:
    """trial_id spine 0..runs-1 (utils/var_utils.py:30-33), distributed."""
    return spark.range(0, runs).select(F.col("id").alias("trial_id"))


def _check_sampler_input(vol_avg: pa.ListArray, vol_cov: pa.ListArray) -> int:
    """The factor count d of a well-formed batch, else ``ValueError``.

    Flattening an Arrow list drops null entries, so a null anywhere
    would silently shift every later row onto another row's values;
    ragged rows would do the same. Both are refused up front.
    """
    cov_rows = vol_cov.flatten()
    for name, arr in (
        ("vol_avg", vol_avg),
        ("vol_cov", vol_cov),
        ("vol_avg element", vol_avg.flatten()),
        ("vol_cov row", cov_rows),
        ("vol_cov element", cov_rows.flatten()),
    ):
        if arr.null_count:
            raise ValueError(f"simulate_trials: null {name}")
    lengths = pc.list_value_length(vol_avg).to_numpy()
    d = int(lengths[0])
    if np.any(lengths != d):
        raise ValueError(f"simulate_trials: every vol_avg must have length {d}")
    if np.any(pc.list_value_length(vol_cov).to_numpy() != d) or np.any(
        pc.list_value_length(cov_rows).to_numpy() != d
    ):
        raise ValueError(f"simulate_trials: every vol_cov must be {d}x{d}")
    return d


def _chunk_sampler(runs: int, n_chunks: int, date_col: str):
    """The ``mapInArrow`` kernel: every trial of a (run date, chunk) row.

    Re-expression of ``simulate_market`` (utils/var_udf.py:57-67) with
    the same per-trial ``default_rng(trial_id)`` contract. numpy's
    ``multivariate_normal`` draws ``mean + standard_normal(d) @
    (sqrt(s)[:,None] * vh)`` after an SVD of cov; per input row the
    kernel computes exactly that for the chunk's m trials:

    - one SVD of the row's covariance;
    - one ``default_rng(t).standard_normal(d)`` per trial of the
      chunk, drawn once per batch and reused by every run date in it
      (the vector depends on t alone);
    - the draws are one stacked matmul, ``(m,1,d) @ (m,d,d)``, emitted
      as one record batch of (date, trial_id, features).

    Why the stacked matmul: its draws are bit-identical to the per-row
    ``z @ A`` matvec of the recipe above (pinned in
    tests/test_functions.py), so every trial keeps its values. The
    shorter 2-D form, one ``Z @ A`` gemm per covariance, sums in a
    different order and changed the last bit of most draws when tried
    (66,847 of 105,000 rows at d=5).
    """

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vol_avg = batch.column("vol_avg")
            vol_cov = batch.column("vol_cov")
            d = _check_sampler_input(vol_avg, vol_cov)
            mean = vol_avg.flatten().to_numpy().reshape(n, d)
            cov = vol_cov.flatten().flatten().to_numpy().reshape(n, d, d)
            dates = batch.column(date_col)
            z_by_chunk: dict[int, np.ndarray] = {}
            for i, chunk in enumerate(batch.column("_chunk").to_pylist()):
                # trial ids [lo, hi): spark.range's own slicing, so
                # chunk c holds the trials range partition c would hold
                lo, hi = chunk * runs // n_chunks, (chunk + 1) * runs // n_chunks
                m = hi - lo
                if m <= 0:
                    continue
                if chunk not in z_by_chunk:
                    z_by_chunk[chunk] = np.stack([
                        np.random.default_rng(t).standard_normal(d)
                        for t in range(lo, hi)
                    ])
                z = z_by_chunk[chunk]
                _, s, vh = np.linalg.svd(cov[i])
                a = np.broadcast_to(np.sqrt(s)[:, None] * vh, (m, d, d))
                draws = (z[:, None, :] @ a)[:, 0, :] + mean[i]
                offsets = pa.array(np.arange(0, (m + 1) * d, d, dtype=np.int32))
                yield pa.RecordBatch.from_arrays(
                    [
                        dates.take(pa.array(np.full(m, i))),
                        pa.array(np.arange(lo, hi, dtype=np.int64)),
                        pa.ListArray.from_arrays(offsets, pa.array(draws.ravel())),
                    ],
                    names=[date_col, "trial_id", "features"],
                )

    return kernel


def _sample(
    volatility: DataFrame, runs: int, n_chunks: int, date_col: str
) -> DataFrame:
    """``simulate_trials`` over an explicit chunk count (at least 1)."""
    spark = volatility.sparkSession
    chunks = spark.range(0, n_chunks, 1, n_chunks).select(
        F.col("id").alias("_chunk")
    )
    vol = volatility.select(date_col, "vol_avg", "vol_cov")
    fan = chunks.crossJoin(F.broadcast(vol))
    schema = StructType([
        vol.schema[date_col],
        StructField("trial_id", LongType(), False),
        StructField("features", ArrayType(DoubleType()), False),
    ])
    return fan.mapInArrow(_chunk_sampler(runs, n_chunks, date_col), schema)


def simulate_trials(
    volatility: DataFrame,
    runs: int,
    date_col: str = "date",
) -> DataFrame:
    """volatility (date, vol_avg, vol_cov) × trials → simulated market states.

    03_var_monte_carlo.py:55-87 re-expressed. Output: one
    (date, trial_id, features) row per run date and trial 0..runs-1.

    The trials are cut into ``defaultParallelism`` chunks (at most
    ``runs``), one ``spark.range`` partition each, and the chunk spine
    is crossed with the broadcast volatility; the ``mapInArrow``
    kernel ``_chunk_sampler`` then emits every trial of each
    (date, chunk) row. Python receives dates × chunks rows, not
    dates × trials, and the dates × trials fan-out happens inside the
    kernel.

    The chunk spine is the stream side and the volatility frame the
    broadcast side (r16, guide §2.6/§4 — the gbm_price_paths pattern):
    volatility arrives as the output of an aggregation that AQE
    coalesces to ONE partition, so keeping it on the stream side would
    serialize the whole sampler onto a single task. One chunk per
    partition spreads it across defaultParallelism tasks with no
    shuffle. Each trial is seeded by its trial_id alone, so the chunk
    count and the batch boundaries only decide how often a generator
    or an SVD is rebuilt, never the values.
    """
    spark = volatility.sparkSession
    n_chunks = max(1, min(spark.sparkContext.defaultParallelism, runs))
    return _sample(volatility, runs, n_chunks, date_col)


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
    as simulate_trials.

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
