"""value_at_risk_spark — a PySpark-native analytics engine.

A clean-room, Spark-first re-expression of the query and data-processing
capabilities of the ``databricks-industry-solutions/value-at-risk``
solution accelerator (reference at /root/reference, cited by file:line in
docstrings), with no Databricks-runtime / MLflow / yfinance / dbl-tempo
dependencies, plus large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).

Design stance (see SURVEY.md §7):
- Everything declarative: DataFrame / Spark SQL expressions that Catalyst
  can optimize (predicate pushdown, column pruning, broadcast joins,
  whole-stage codegen).
- Python crosses the JVM boundary only where genuinely required:
  multivariate-normal sampling (a trial-chunk ``mapInArrow`` kernel) and
  per-group OLS fits (applyInPandas). Every other reference UDF is
  re-expressed as native column expressions.
- Array columns (``array<double>``) everywhere instead of VectorUDT so
  every operator stays SQL-expressible and oracle-checkable.
"""

__version__ = "0.1.0"

from value_at_risk_spark.session import get_spark  # noqa: F401
