"""Non-linear feature expansion + linear predictor (SURVEY §2.8 F10-F11).

Reference does both driver-side / inside a pyfunc model:
- feature expansion per factor x → ``[x, sign(x)·x², x³, sign(x)·√|x|]``
  (``/root/reference/utils/var_utils.py:47-55``)
- predictor ``ps[0] + Σ ps[i+1]·fs[i]``
  (``/root/reference/utils/var_utils.py:58-62``, applied through an
  MLflow pyfunc Spark UDF at ``02_var_model.py:219-220``).

Here both are native expressions: the scoring path is a broadcast join
of a weights table + this expression — no model registry, no Python
boundary, fully Catalyst-visible. ``nonlinear_features`` and
``predict_nonlinear`` are higher-order functions over arrays of any
width; when the factor count is known at plan-build time,
``predict_expanded`` unrolls both into one SQL-text expression (one
``F.expr`` parse, not one py4j round trip per term).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from value_at_risk_spark.functions.vector import _col_sql


def _feature_terms_sql(factors: str, dim: int) -> list[str]:
    """SQL text of the 4·dim expanded features of the column ``factors``
    (read as ``F.col`` reads it), in the expansion's order."""
    col = _col_sql(factors)
    terms = []
    for i in range(1, dim + 1):
        x = f"element_at({col}, {i})"
        terms += [
            x,
            f"signum({x}) * power({x}, 2)",
            f"power({x}, 3)",
            f"signum({x}) * sqrt(abs({x}))",
        ]
    return terms


def _predict_sql(weights: str, terms: list[str]) -> str:
    """SQL text of ``weights[0] + Σ weights[i+1]·terms[i]``, folded as
    ``((0.0D + w[2]·t1) + …) + w[1]``: products accumulated from 0.0,
    intercept added LAST — the HOF form's order, so both forms are
    bit-identical (FP addition is non-associative)."""
    w = _col_sql(weights)
    acc = "0.0D"
    for i, t in enumerate(terms, start=2):
        acc = f"({acc} + element_at({w}, {i}) * ({t}))"
    return f"{acc} + element_at({w}, 1)"


def nonlinear_features(factors: Column | str) -> Column:
    """array<double> of 4·n expanded features from an n-factor array.

    Per factor x: [x, sign(x)·x², x³, sign(x)·√|x|]
    (utils/var_utils.py:47-55; test expectation
    tests/tests_utils.py:28-30: [1,4] → [1,1,1,1,4,16,64,2]), as a
    ``flatten(transform)`` HOF over arrays of any width.
    """
    factors = F.col(factors) if isinstance(factors, str) else factors
    return F.flatten(
        F.transform(
            factors,
            lambda x: F.array(
                x,
                F.signum(x) * F.pow(x, 2),
                F.pow(x, 3),
                F.signum(x) * F.sqrt(F.abs(x)),
            ),
        )
    )


def predict_nonlinear(weights: Column | str, features: Column | str) -> Column:
    """weights[0] + Σ weights[i+1]·features[i] (utils/var_utils.py:58-62).

    The engine's replacement for the reference's MLflow pyfunc scoring
    UDF (02_var_model.py:172-183): the generic ``aggregate(zip_with(...))``
    HOF expression, correct for any width and interpreted per row. When
    the factor count is known at plan-build time use ``predict_expanded``.
    """
    weights = F.col(weights) if isinstance(weights, str) else weights
    features = F.col(features) if isinstance(features, str) else features
    tail = F.slice(weights, 2, F.size(weights) - 1)
    return (
        F.aggregate(
            F.zip_with(tail, features, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + weights[0]
    )


def predict_expanded(weights: str, factors: str, dim: int) -> Column:
    """``predict_nonlinear(weights, nonlinear_features(factors))`` for a
    ``dim``-factor array, UNROLLED to flat ``element_at`` arithmetic as
    ONE SQL expression: each expanded feature is written in place as its
    term, so whole-stage codegen compiles it. The HOF forms are
    interpreted per row in Spark — on the 30 M-row scoring stage they
    ran ~20× slower (measured: 291 s → 14 s). Same fold order, same
    values, bit for bit. Both operands are column names (``_col_sql``).
    """
    return F.expr(_predict_sql(weights, _feature_terms_sql(factors, dim)))
