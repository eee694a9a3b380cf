"""Log-return expressions (SURVEY §2.8 F1, §2.5 W3).

Reference: ``compute_return(first, close) = log(close/first)`` as a
row-at-a-time Python UDF (``/root/reference/utils/var_udf.py:5-8``)
applied over a 2-row sliding window
(``/root/reference/02_var_model.py:55-61``,
``/root/reference/05_var_compliance.py:43-50``). Here it is a pure
Catalyst expression — stays inside whole-stage codegen, no Python
boundary.

Direction note (SURVEY §7.4): the reference is internally inconsistent
(``01_var_market_etl.py:144`` uses log(prev/cur) for indicators while
the UDF uses log(cur/prev) for stocks). This engine standardizes on
``log(cur/prev)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from value_at_risk_spark.functions.vector import _col_sql


def log_return(prev: Column | str, cur: Column | str) -> Column:
    """log(cur/prev); exact native equivalent of var_udf.py:5-8."""
    prev = F.col(prev) if isinstance(prev, str) else prev
    cur = F.col(cur) if isinstance(cur, str) else cur
    return F.log(cur / prev)


def _log_returns_sql(
    value_col: str,
    partition_by: list[str] | None,
    order_by: str,
) -> str:
    """SQL text of ``log_returns_over`` (column names read as ``F.col``
    reads them), for callers that project many returns in one
    ``selectExpr``."""
    x = _col_sql(value_col)
    part = (
        f"PARTITION BY {', '.join(map(_col_sql, partition_by))} "
        if partition_by
        else ""
    )
    prev = f"coalesce(lag({x}, 1) OVER ({part}ORDER BY {_col_sql(order_by)}), {x})"
    # try_divide: a zero previous price (possible at a GBM floor, or in
    # dirty market data) yields a NULL return instead of an ANSI
    # DIVIDE_BY_ZERO error; ln of a non-positive ratio is NULL too,
    # so zero/negative *current* prices degrade the same way
    return f"ln(try_divide({x}, {prev}))"


def log_returns_over(
    value_col: str,
    partition_by: list[str] | None,
    order_by: str,
) -> Column:
    """Per-series log return via lag.

    The reference uses ``F.first(close) OVER (ROWS BETWEEN 1 PRECEDING
    AND CURRENT ROW)`` (``02_var_model.py:55-61``) which makes each
    series' first return log(close/close)=0. ``coalesce(lag(x), x)``
    reproduces that first-row semantic exactly (SURVEY §7.5) while using
    the idiomatic ``lag``.
    """
    return F.expr(_log_returns_sql(value_col, partition_by, order_by))
