"""Element-wise vector aggregation over array columns — SURVEY §2.4 A5/A8.

The reference's group-wise vector sum is MLlib ``Summarizer.sum`` over
``VectorUDT`` (``/root/reference/04_var_aggregation.py:35-41,58-66,
86-94,114-123``; ``05_var_compliance.py:68-75``), and its windowed
mean/covariance are per-row Python UDFs over collected arrays
(``utils/var_udf.py:44-54``). Native forms here:

- ``vector_sum``: aggregate(collect_list(vec), zero, zip_with(+)) — one
  shuffle of whole arrays, no row explosion. collect_list order does
  not matter for a commutative elementwise sum (up to FP rounding).
  Queries that surface the sum long-form (``vector_sum_by_label``)
  posexplode and hash-aggregate by (keys, pos) inline instead.
- ``vector_mean_cov``: per-group mean + sample covariance;
- ``embedding_covariance``: the high-dim covariance, one numpy partial
  per Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from value_at_risk_spark.functions.vector import _col_sql, _name_sql


def _exprs(*sql: str) -> list[Column]:
    """Aggregate expressions from SQL text, one parse each."""
    return [F.expr(e) for e in sql]


def vector_sum(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str,
    out_col: str = "vec_sum",
) -> DataFrame:
    """Element-wise sum of an array column per group → (group_cols...,
    out_col: array<double>).

    NULL vectors are skipped, and a group with no other vector sums to
    NULL. NULL elements add 0.0, like SUM skipping them, except that a
    position NULL in every vector sums to 0.0. Vectors of different
    widths in one group raise. The fold's accumulator is typed by its
    0.0 zero as non-null, so a NULL or zip_with-padded element would
    otherwise be stored as 0.0, dropping the running sum at that
    position."""
    folded = (
        "aggregate(_vecs, transform(try_element_at(_vecs, 1), _e -> 0.0D), "
        "(_acc, _v) -> IF(size(_v) = size(_acc), "
        "zip_with(_acc, _v, (_a, _b) -> _a + coalesce(CAST(_b AS DOUBLE), 0.0D)), "
        "raise_error('vector_sum: vectors of different widths in one group')))"
    )
    return (
        df.groupBy(*group_cols)
        .agg(F.collect_list(vec_col).alias("_vecs"))
        .selectExpr(*map(_col_sql, group_cols), f"{folded} AS {_name_sql(out_col)}")
    )


def vector_mean_cov(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str,
    mean_col: str = "vol_avg",
    cov_col: str = "vol_cov",
    count_col: str | None = None,
) -> DataFrame:
    """Column-wise mean + sample covariance matrix of array rows per group.

    Native replacement for ``compute_avg`` / ``compute_cov``
    (utils/var_udf.py:44-54; pandas ``.cov()`` ⇒ ddof=1 ⇒ covar_samp,
    SURVEY §7.3). Cross-pairs each row's positions (dim² per row) then
    avg / covar_samp by (keys, i, j); reassembles the matrix sorted.

    ``count_col`` (r17, opt-in): additionally emit the per-group input
    ROW count, riding the same aggregation pass — each (keys, i, j)
    cell sees every input row exactly once, so its count IS the row
    count and min over cells propagates it. Callers that previously
    ran a second ``groupBy().count()`` over the same (often expensive)
    input and joined it back (trailing_volatility's bucketized range
    join executed TWICE for exactly this) fold it into one pass.

    Precondition for ``count_col``: ``vec_col`` is non-null and of one
    fixed width in every row. The count is taken over the exploded
    (i, j) cells, so a row whose vector is NULL or empty adds no cell
    and is not counted, and ragged rows yield the minimum over cells;
    either way it is not the ``groupBy().count()`` it replaces.
    trailing_volatility meets the precondition: its features are an
    ``F.array`` of the factor columns, never null and always the same
    width (a null element still makes its cells, so it is counted).
    """
    g = [_col_sql(c) for c in group_cols]
    pairs = df.selectExpr(
        *g,
        f"posexplode({_col_sql(vec_col)}) AS (_i, _xi)",
        f"{_col_sql(vec_col)} AS _vec",
    ).selectExpr(*g, "_i", "_xi", "posexplode(_vec) AS (_j, _xj)")
    n_agg = ["count(1) AS _vmc_n"] if count_col else []
    n_min = ["min(_vmc_n) AS _vmc_n"] if count_col else []
    stats = pairs.groupBy(*group_cols, "_i", "_j").agg(
        *_exprs("avg(_xi) AS _mean_i", "covar_samp(_xi, _xj) AS _cov_ij", *n_agg)
    )
    rows = stats.groupBy(*group_cols, "_i").agg(
        *_exprs(
            "min(_mean_i) AS _mean_i",
            "array_sort(collect_list(struct(_j, _cov_ij))) AS _cr",
            *n_min,
        )
    )
    n_out = [f"_vmc_n AS {_name_sql(count_col)}"] if count_col else []
    return (
        rows.groupBy(*group_cols)
        .agg(
            *_exprs(
                "array_sort(collect_list(struct(_i, _mean_i, _cr))) AS _m",
                *n_min,
            )
        )
        .selectExpr(
            *g,
            f"transform(_m, _r -> _r._mean_i) AS {_name_sql(mean_col)}",
            "transform(_m, _r -> transform(_r._cr, _c -> _c._cov_ij)) "
            f"AS {_name_sql(cov_col)}",
            *n_out,
        )
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    ddof: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Sample covariance matrix of a high-dim embedding column →
    (i, j, cov) rows.

    ``vector_mean_cov`` cross-pairs positions per row (dim² rows per
    input row) — right for the VaR pipeline's dim=5 factors, quadratic
    blow-up at embedding dims. This is the 1024-dim-safe path: each
    Arrow batch is reduced in numpy to ONE partial row (n, Σx, flat
    Σxxᵀ) inside ``mapInPandas``, partials (one per batch, ~dim²
    doubles each) combine in a single global fold, and the covariance
    emerges per (i, j) from the moment identity
    cov = (Σxy − n·x̄·ȳ)/(n−ddof). Shuffled bytes = batches × dim²
    doubles — independent of row count; no dim² row explosion ever
    materializes.
    """
    import numpy as np
    import pandas as pd

    from value_at_risk_spark.functions.vector import resolve_dim

    d = resolve_dim(df, vec_col, dim, caller="embedding_covariance")

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(pdf)],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    partials = df.select(vec_col).mapInPandas(
        _partials, schema="n long, s array<double>, ss array<double>"
    )
    zero_d = F.array(*[F.lit(0.0)] * d)
    zero_dd = F.array(*[F.lit(0.0)] * (d * d))
    # array_sort before folding: collect_list order follows task
    # completion order, so an unsorted fold would make the low-order
    # bits of the sums RUN-dependent. Sorting pins the fold order to
    # the partials' values — for a fixed corpus + partitioning the
    # result is bit-reproducible, which downstream consumers that pin
    # golden artifacts (opq_rotation's corpus-keyed rotation, r16)
    # require. Cost: sorting <= #batches tiny arrays on one row.
    fold = partials.agg(
        F.sum("n").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list("s")),
            zero_d,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("s"),
        F.aggregate(
            F.array_sort(F.collect_list("ss")),
            zero_dd,
            lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
        ).alias("ss"),
    )
    flat = fold.select(
        "n", "s", F.posexplode("ss").alias("_idx", "_sxy")
    ).select(
        (F.col("_idx") / d).cast("long").alias("i"),
        (F.col("_idx") % d).cast("long").alias("j"),
        # try_divide: n <= ddof (e.g. a single row with sample ddof=1)
        # leaves the covariance statistically undefined -> NULL, not an
        # ANSI DIVIDE_BY_ZERO error
        F.try_divide(
            F.col("_sxy")
            - F.element_at("s", (F.col("_idx") / d).cast("int") + 1)
            * F.element_at("s", (F.col("_idx") % d).cast("int") + 1)
            / F.col("n"),
            F.col("n") - F.lit(ddof),
        ).alias("cov"),
    )
    return flat
