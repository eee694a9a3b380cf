"""Per-group model fit + distributed scoring — SURVEY §2.4 A6, §2.10.

Reference: per-ticker OLS over non-linear market features with
statsmodels inside a grouped-map pandas UDF
(``/root/reference/02_var_model.py:137-154``), the fitted weights frozen
into an MLflow pyfunc and re-applied as a Spark UDF
(``02_var_model.py:154-220``).

Engine design: the fit stays a per-group ``applyInPandas`` (a genuine
numerical boundary — SURVEY §2.10 principle), but uses
``numpy.linalg.lstsq`` (no statsmodels dependency) and returns a plain
``(key, weights:array<double>)`` DataFrame. Scoring is a **broadcast
join + native dot-product expression** (functions/features.py
``predict_expanded``) — no model registry, no Python at scoring time,
so the 30M-row scoring fan-out (BASELINE.md) stays inside whole-stage
codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from value_at_risk_spark.functions.features import (
    nonlinear_features,
    predict_expanded,
    predict_nonlinear,
)


def fit_ols_per_group(
    df: DataFrame,
    group_col: str,
    feature_col: str,
    target_col: str,
) -> DataFrame:
    """OLS fit per group → (group, weights[intercept, coefs...]).

    Grouped-map equivalent of train_model (02_var_model.py:137-154);
    weights[0] is the intercept, matching utils/var_utils.py:58-62.
    """
    schema = f"{group_col} string, weights array<double>"

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.vstack(pdf[feature_col].to_numpy())
        X = np.hstack([np.ones((X.shape[0], 1)), X])
        y = pdf[target_col].to_numpy(dtype=float)
        w, *_ = np.linalg.lstsq(X, y, rcond=None)
        return pd.DataFrame(
            {group_col: [pdf[group_col].iloc[0]], "weights": [w.tolist()]}
        )

    return df.groupBy(group_col).applyInPandas(_fit, schema=schema)


def score(
    df: DataFrame,
    weights: DataFrame,
    group_col: str,
    feature_col: str,
    out_col: str = "prediction",
    n_factors: int | None = None,
) -> DataFrame:
    """Broadcast-join weights and apply the native linear predictor.

    Replaces mlflow.pyfunc.spark_udf scoring (02_var_model.py:219-220,
    03_var_monte_carlo.py:98-109). The weights table is tiny (one row
    per instrument) → broadcast hash join; the predictor is a Catalyst
    expression ⇒ the hot path never leaves the JVM.

    Pass ``n_factors`` when the factor count is known at plan-build
    time (the VaR pipeline always knows it): the expansion + dot
    product unroll to flat codegen arithmetic — ~20× faster than the
    interpreted HOF form on the wide scoring stage, bit-identical
    output — rendered as one SQL expression (``predict_expanded``).
    ``feature_col`` is then read as a column name.
    """
    joined = df.join(F.broadcast(weights), on=group_col)
    pred = (
        predict_expanded("weights", feature_col, n_factors)
        if n_factors is not None
        else predict_nonlinear("weights", nonlinear_features(feature_col))
    )
    return joined.withColumn(out_col, pred)


def save_weights(weights: DataFrame, registry, name: str = "model_weights") -> None:
    """Persist a fitted weights table through the Registry.

    The reference registers each fitted model with MLflow and promotes
    it to production (``02_var_model.py:194-302``); this engine's model
    IS a DataFrame, so persistence is a table sink: the registry name
    plays the role of the registry stage ("model_weights" = the blessed
    production weights; write under another name for candidates, then
    re-``save_weights`` under the blessed name to promote).
    """
    registry.write(weights, name)


def load_weights(spark, registry, name: str = "model_weights") -> DataFrame:
    """Reload persisted weights for scoring — the ``spark_udf`` load
    analogue (02_var_model.py:219-220), minus the Python boundary."""
    return registry.read(spark, name)


def theil_sen_per_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    max_gap: float | None = None,
) -> DataFrame:
    """Theil-Sen robust slope per group: the exact median of pairwise
    slopes (y2-y1)/(x2-x1) over all x1<x2 pairs — the 29%-breakdown
    robust alternative to ``fit_ols_per_group`` (same role as the
    reference's per-ticker trend fit, 02_var_model.py:137-154, but
    immune to outlier rows). Returns (group, n_pairs, slope).

    Scale: the pair generation is a same-key self-equi-join — never a
    cartesian across groups. ``max_gap`` bounds |x2-x1|, turning the
    O(n^2) pair count into O(n * gap) (the windowed Theil-Sen form) —
    and the join key is widened with a gap-sized bucket id (the
    trailing_volatility bucketization): x1 < x2 <= x1 + gap pins
    floor(x2/gap) to {floor(x1/gap), floor(x1/gap) + 1}, so the early
    side explodes to those two bucket keys and Catalyst gets a
    (group, bucket) equi-join whose per-task pair block is O(gap^2)
    with parallelism over buckets, instead of a per-group O(n^2)
    expansion serialized onto one task per group key. For unbounded
    history sample one side's offsets (the published randomized
    estimator). Median is Spark's exact interpolating percentile,
    partial-aggregated per group."""
    a = df.select(
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("double").alias("_xa"),
        F.col(y_col).cast("double").alias("_ya"),
    )
    b = df.select(
        F.col(group_col).alias("_g"),
        F.col(x_col).cast("double").alias("_xb"),
        F.col(y_col).cast("double").alias("_yb"),
    )
    cond = F.col("_xa") < F.col("_xb")
    if max_gap is not None:
        gap = float(max_gap)
        cond = cond & (F.col("_xb") - F.col("_xa") <= F.lit(gap))
        a = a.select(
            "_g",
            "_xa",
            "_ya",
            F.explode(
                F.array(
                    F.floor(F.col("_xa") / gap),
                    F.floor(F.col("_xa") / gap) + 1,
                )
            ).alias("_bk"),
        )
        b = b.withColumn("_bk", F.floor(F.col("_xb") / gap))
        keys = ["_g", "_bk"]
    else:
        keys = ["_g"]
    # Pin the join-side partition count to spark.sql.shuffle.partitions
    # (r16): the pair join EXPANDS O(gap) per input row, so AQE —
    # which sizes the exchange from its INPUT bytes — under-
    # parallelizes the expansion at every scale (its 1 MB floor
    # collapsed the whole O(gap²)-per-bucket block onto ONE task at
    # bench scale: 4.0 s vs 2.5 s). An explicit count is AQE-exempt;
    # co-partitioned sides add no extra exchange to the join.
    # Guarded parse (r17, ADVICE): some runtimes set a non-numeric
    # value (e.g. "auto") — fall back to defaultParallelism instead of
    # turning a tuning hint into a hard failure.
    try:
        n_exch = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        n_exch = df.sparkSession.sparkContext.defaultParallelism
    a = a.repartition(n_exch, *keys)
    b = b.repartition(n_exch, *keys)
    pairs = (
        a.join(b, keys)
        .filter(cond)
        .select(
            "_g",
            (
                (F.col("_yb") - F.col("_ya"))
                / (F.col("_xb") - F.col("_xa"))
            ).alias("_slope"),
        )
    )
    return pairs.groupBy(F.col("_g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.median("_slope").alias("slope"),
    )
