"""Native as-of (point-in-time) join — SURVEY §2.3 J5.

The reference takes this from ``dbl-tempo``'s ``TSDF.asofJoin``
(``/root/reference/02_var_model.py:97-104`` partitioned by ticker;
``03_var_monte_carlo.py:30-42`` and ``05_var_compliance.py:84-99``
unpartitioned). Semantics: for each left row, attach the latest right
row with ``right.ts <= left.ts`` (backward inclusive); right columns
emerge with a ``right_`` prefix.

Implementation: the union-window pattern —

1. project both sides to a common schema, left rows tagged ``_side=1``
   and right rows ``_side=0`` (so at equal timestamps the right row
   sorts first ⇒ inclusive semantics);
2. one window pass ``last(right_cols, ignoreNulls=True) OVER
   (PARTITION BY keys ORDER BY ts, _side ROWS UNBOUNDED PRECEDING)``;
3. keep left rows.

Scale properties: exactly ONE shuffle (by the partition keys) and one
sort — same cost as a sort-merge join, no Python boundary, no
per-group pandas materialization. With no partition keys the window
degenerates to a single task (the reference accepts the same trade-off
for its ~500-row series — SURVEY §4); for large unkeyed as-of joins use
``asof_join_bucketed`` below (coarse time buckets with boundary
carry-in), or supply partition keys.

DuckDB oracle twin: ``ASOF JOIN ... ON l.k = r.k AND l.ts >= r.ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from value_at_risk_spark.functions.timeutil import epoch_seconds
from value_at_risk_spark.functions.vector import _col_sql, _name_sql


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    prefix: str = "right_",
    right_on: str | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join, tempo-compatible output shape.

    Every right column except the ``by`` keys comes back ``prefix``-ed
    (including the right timestamp, as ``right_<ts>`` — matching tempo's
    output consumed at e.g. 02_var_model.py:105-110).

    The projections and the window are SQL text (one parse each, not
    one py4j round trip per column); ``unionByName`` fills each side's
    missing columns with typed NULLs.
    """
    by = by or []
    right_on = right_on or on

    left_cols = left.columns
    payload_cols = [c for c in right.columns if c not in by and c != right_on]
    filled_cols = [f"{prefix}{c}" for c in [right_on, *payload_cols]]

    lhs = left.selectExpr(
        *[_col_sql(c) for c in left_cols],
        "1 AS _side",
        f"{_col_sql(on)} AS _asof_ts",
    )
    rhs = right.selectExpr(
        *[_col_sql(c) for c in by],
        "0 AS _side",
        f"{_col_sql(right_on)} AS _asof_ts",
        *[
            f"{_col_sql(c)} AS {_name_sql(f'{prefix}{c}')}"
            for c in [right_on, *payload_cols]
        ],
    )
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)
    part = f"PARTITION BY {', '.join(map(_col_sql, by))} " if by else ""
    w = (
        f"OVER ({part}ORDER BY _asof_ts, _side "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    filled = unioned.selectExpr(
        *[_col_sql(c) for c in left_cols],
        "_side",
        *[f"last({_name_sql(c)}, true) {w} AS {_name_sql(c)}" for c in filled_cols],
    )
    return filled.filter("_side = 1").drop("_side")


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    right_on: str | None = None,
    prefix: str = "right_",
    bucket_seconds: int = 7 * 86_400,
) -> DataFrame:
    """Scalable UNKEYED as-of join: time-bucketed with boundary carry-in.

    The plain unkeyed as-of (like the reference's unpartitioned tempo
    joins, 03_var_monte_carlo.py:30-42) sorts everything in one task.
    This variant partitions time into fixed buckets so every shuffle
    keys on the bucket id:

    1. assign each row to bucket = floor(epoch/bucket_seconds);
    2. per bucket, find the latest right row (one small agg);
    3. running `last` over the tiny bucket spine gives each bucket its
       carry-in — the latest right row from any earlier bucket;
    4. re-inject carry-ins as synthetic right rows at each bucket's
       start, then run the union-window pattern PARTITIONED BY BUCKET.

    Costs: two shuffles on the bucket key + one window over the bucket
    spine (|buckets| rows — negligible). Equivalent output to
    asof_join(left, right) for any bucket size; asserted in tests.
    """
    right_on = right_on or on
    bseconds = F.lit(bucket_seconds).cast("long")

    # tz-free epoch so date, timestamp, and timestamp_ntz keys all work
    # (ANSI forbids direct date→long and ntz→long casts)
    lb = left.withColumn(
        "_bucket",
        F.floor(epoch_seconds(on) / bseconds).cast("long"),
    )
    rb = right.withColumn(
        "_bucket",
        F.floor(epoch_seconds(right_on) / bseconds).cast("long"),
    )

    # latest right row per bucket, as a struct so max() carries payload
    payload_cols = [c for c in right.columns]
    last_per_bucket = rb.groupBy("_bucket").agg(
        F.max(F.struct(F.col(right_on).alias("_ts"), F.struct(*payload_cols).alias("_p"))).alias("_last")
    )

    # bucket spine = union of buckets either side touches
    buckets = (
        lb.select("_bucket").union(rb.select("_bucket")).distinct()
    )
    w = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        buckets.join(last_per_bucket, "_bucket", "left")
        .withColumn("_carry", F.last("_last", ignorenulls=True).over(w))
        .filter(F.col("_carry").isNotNull())
        .select(
            "_bucket",
            *[
                F.col(f"_carry._p.{c}").alias(c)
                for c in payload_cols
            ],
        )
        # carry-in is stamped with its ORIGINAL right timestamp (it is
        # still <= every left ts in this bucket, and the original value
        # must surface as the right_<ts> output)
    )

    rb_aug = rb.unionByName(carry)
    return asof_join(
        lb, rb_aug, on=on, by=["_bucket"], prefix=prefix, right_on=right_on
    ).drop("_bucket")
