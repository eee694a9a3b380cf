"""Query registry — graph ranking, sessions, cohorts, paths.

Mechanically split from the former single-module queries.py (r15,
VERDICT #7): zero behavior change, every query re-registers through
the same @query decorator in ``queries._shared``; the package
__init__ imports every domain module so ``from
value_at_risk_spark.queries import QUERIES, ORACLES`` is unchanged.
"""

from value_at_risk_spark.queries._shared import *  # noqa: F401,F403


@query(
    "sessionize_events",
    """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)))
                   > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM ordered
)
SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
       COUNT(*) AS n_events,
       CAST(MIN(ts) AS DATE) AS sess_start_day
FROM sess GROUP BY user_id, sess_id
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flag + running sum (the classic batch
    formulation; streaming variant is session_window)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = epoch_seconds("ts") - F.lag(epoch_seconds("ts")).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > 1800), F.lit(1)
    ).otherwise(F.lit(0))
    sess = e.select(
        "user_id",
        "ts",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess_id"),
    )
    return sess.groupBy("user_id", F.col("sess_id").cast("long").alias("sess_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.col("ts").cast("date")).alias("sess_start_day"),
    )

@query(
    "session_windows_native",
    """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
                   > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
)
SELECT user_id,
       CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS sess_start_s,
       CAST(FLOOR(epoch(MAX(ts))) + 1800 AS BIGINT) AS sess_end_s,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (gap-close semantics: window end =
    last event + gap), checked against the lag-gap SQL formulation —
    the two classic sessionization forms shown equivalent.

    Boundary rule, pinned empirically
    (tests/test_operators.py::test_session_window_boundary_semantics):
    sessions merge when next_start <= prev_end — END-INCLUSIVE — so a
    gap of EXACTLY the window size still merges, and the lag-gap twin
    must split on gap > 1800, not >= 1800."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            epoch_seconds(F.col("w.start")).alias("sess_start_s"),
            epoch_seconds(F.col("w.end")).alias("sess_end_s"),
            "n_events",
        )
    )

@query(
    "user_funnel_conversion",
    """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
),
n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2,
             (SELECT COUNT(*) FROM s3) AS n3)
SELECT 'view' AS stage, 1 AS stage_order, CAST(n1 AS BIGINT) AS n_users,
       CAST(NULL AS DOUBLE) AS conversion FROM n
UNION ALL
SELECT 'click', 2, CAST(n2 AS BIGINT), ROUND(n2 * 1.0 / NULLIF(n1, 0), 6) + 0 FROM n
UNION ALL
SELECT 'purchase', 3, CAST(n3 AS BIGINT), ROUND(n3 * 1.0 / NULLIF(n2, 0), 6) + 0 FROM n
""",
)
def user_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel (view → click → purchase): each stage
    anchors on the user's FIRST qualifying event STRICTLY AFTER the
    previous stage's anchor (operators/funnel.py) — a purchase that
    precedes the first view is correctly not a conversion. Every
    shuffle in the stage chain is keyed on user_id and the anchor
    table only shrinks; the report is three scalar counts + ratios."""
    from value_at_risk_spark.operators.funnel import funnel_report

    e = _t(spark, sf_dir, "events")
    out = funnel_report(e, ["view", "click", "purchase"])
    return out.select(
        "stage",
        F.col("stage_order").cast("int").alias("stage_order"),
        "n_users",
        "conversion",
    )

@query(
    "component_var_euler",
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
p AS (SELECT VAR_SAMP(rm) AS vp FROM mkt),
c AS (
  SELECT a.series, COVAR_SAMP(a.ret, m.rm) AS cv,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM aligned a JOIN mkt m USING (d) GROUP BY 1
)
SELECT series, n_obs,
       ROUND({_Z99} * cv / (n * SQRT(vp)), 6) + 0 AS component_var99,
       ROUND(cv / (n * vp), 6) + 0 AS pct_of_portfolio
FROM c, p, ns
""",
)
def component_var_euler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euler allocation of parametric portfolio VaR-99 across the
    return series (the risk-attribution step after the reference's
    portfolio VaR, 03_var_monte_carlo.py:183-196): with equal weights
    w=1/N, component_i = z * w * cov(r_i, r_p) / sigma_p, and the
    components sum to the portfolio VaR exactly — the property that
    makes this THE additive risk budget (pytest-pinned). Additivity
    requires every series to carry a return on every portfolio date,
    so the frame is densified onto the (series x date) spine with
    missing returns as 0.0 — the stale-price convention (a price that
    didn't print didn't move), exactly what forward-filling the price
    level implies for log returns. The spine cross-join is between
    two REDUCTIONS (distinct series x distinct dates — both tiny at
    any SF) and the densifying join is a broadcast LEFT join against
    it; the portfolio variance and series count are 1-row aggregates
    cross-joined in — nothing but the per-series covariance shuffle
    touches data volume, so the plan operates on a frame that at
    100 TB is already the tiny (series, date) reduction of the tick
    store."""
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
        "series",
        "d",
        F.coalesce(F.col("ret"), F.lit(0.0)).alias("ret"),
    )
    mkt = aligned.groupBy("d").agg(F.avg("ret").alias("rm"))
    p = mkt.agg(F.var_samp("rm").alias("vp"))
    c = (
        aligned.join(F.broadcast(mkt), "d")
        .groupBy("series")
        .agg(
            F.covar_samp("ret", "rm").alias("cv"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    return c.crossJoin(F.broadcast(p)).crossJoin(F.broadcast(ns)).select(
        "series",
        "n_obs",
        (
            F.round(
                F.lit(_Z99) * F.col("cv") / (F.col("n") * F.sqrt("vp")), 6
            )
            + F.lit(0.0)
        ).alias("component_var99"),
        (
            F.round(F.col("cv") / (F.col("n") * F.col("vp")), 6)
            + F.lit(0.0)
        ).alias("pct_of_portfolio"),
    )

@query(
    "pagerank_trade_graph",
    """
WITH pair AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'C' || CAST(o_custkey AS VARCHAR) AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pair
  UNION ALL
  SELECT c AS src, s AS dst FROM pair
),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
r1 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * SUM(r0.r / deg.od) AS r
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * SUM(r1.r / deg.od) AS r
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         0.15 / (SELECT n FROM nn) + 0.85 * SUM(r2.r / deg.od) AS r
  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
)
SELECT node, ROUND(r, 8) + 0 AS rank
FROM r3
""",
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, damping 0.85) over the supplier <->
    customer trade graph — the iterative-algorithm representative
    beside connected components (dedup.py): who the structurally
    central counterparties are. The graph is the DISTINCT
    (supplier, customer) pair set from one lineitem x orders join,
    made bidirectional so mass actually circulates (and so no node
    dangles: every node has out-edges, keeping total rank mass
    conserved without a dangling-redistribution term). Each iteration
    is one (ranks x edges) equi-join + one grouped sum — the classic
    r' = 0.15/n + 0.85 * sum(r/outdeg) recurrence; the oracle unrolls
    the same three iterations as CTE stages, so the result is
    HASH-CHECKED, not rows-only, rare for an iterative algorithm.
    Scale: operators/graph.pagerank materializes the edge list once and
    broadcasts the node-sized rank table into each iteration's join;
    node count is a 1-row broadcast, never a driver action."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r17 (guide §2.3 — narrower types): the node id is carried as a
    # LONG through the whole iteration (supplier k -> 2k, customer k ->
    # 2k+1; the parity bit is the S/C namespace) and decoded to the
    # 'S<k>'/'C<k>' string only in the final projection. The distinct,
    # the checkpointed edge list, every per-iteration hash probe and
    # the grouped contribution sum then hash/compare 8-byte longs
    # instead of variable-length strings — measured ~2x on the
    # iteration stages, ~35% on the whole query at the 10x arm. The
    # rank values are unchanged: the relabeling is a graph isomorphism
    # and the recurrence only sees graph structure.
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("s"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    from value_at_risk_spark.operators.graph import pagerank

    edges = pair.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pair.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # the pair set is distinct and the two union branches are disjoint
    # (even->odd vs odd->even), so the edge list is already simple —
    # skip the operator's default dedupe Exchange. The operator
    # broadcasts the rank table, one row per counterparty
    # (|suppliers|+|customers|), orders of magnitude under the edge
    # count at every SF: kilobytes per iteration, not an edge shuffle.
    ranks = pagerank(edges, iters=3, damping=0.85, dedupe=False)
    kind = F.when(F.col("node") % 2 == 0, F.lit("S")).otherwise(F.lit("C"))
    key = F.shiftright(F.col("node"), 1)  # exact floor-div for all longs
    return ranks.select(
        F.concat(kind, key.cast("string")).alias("node"),
        (F.round("r", 8) + F.lit(0.0)).alias("rank"),
    )

@query(
    "personalized_pagerank_seeds",
    """
WITH pair AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'C' || CAST(o_custkey AS VARCHAR) AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pair
  UNION ALL
  SELECT c AS src, s AS dst FROM pair
),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS od FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
seeds AS (
  SELECT DISTINCT 'S' || CAST(s_suppkey AS VARCHAR) AS node
  FROM supplier WHERE s_suppkey % 5 = 0
),
sn AS (SELECT s.node FROM seeds s JOIN nodes USING (node)),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM sn),
tele AS (
  SELECT n.node,
         CASE WHEN s.node IS NULL THEN 0.0
              ELSE 1.0 / (SELECT n FROM ns) END AS t
  FROM nodes n LEFT JOIN sn s ON s.node = n.node
),
r0 AS (SELECT node, t AS r FROM tele),
i1 AS (
  SELECT e.dst AS node, SUM(r0.r / deg.od) AS s
  FROM edges e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r1 AS (
  SELECT tele.node, 0.15 * tele.t + 0.85 * COALESCE(i1.s, 0) AS r
  FROM tele LEFT JOIN i1 USING (node)
),
i2 AS (
  SELECT e.dst AS node, SUM(r1.r / deg.od) AS s
  FROM edges e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r2 AS (
  SELECT tele.node, 0.15 * tele.t + 0.85 * COALESCE(i2.s, 0) AS r
  FROM tele LEFT JOIN i2 USING (node)
),
i3 AS (
  SELECT e.dst AS node, SUM(r2.r / deg.od) AS s
  FROM edges e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
  GROUP BY e.dst
),
r3 AS (
  SELECT tele.node, 0.15 * tele.t + 0.85 * COALESCE(i3.s, 0) AS r
  FROM tele LEFT JOIN i3 USING (node)
)
SELECT node, ROUND(r, 8) + 0 AS rank
FROM r3
""",
)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the same trade graph, teleporting to
    the s_suppkey % 5 == 0 supplier slice (present at every SF — a
    nation-keyed seed set is empty in the sf0.001 fixture's graph) — relevance-to-the-seed-set rather than
    global centrality (the seed-expansion / related-entity query a
    recommendation or entity-resolution pipeline runs). Seeds are
    intersected with the node set FIRST (operators/graph.
    personalized_pagerank) so out-of-graph suppliers cannot leak
    teleport mass; the oracle unrolls the same three
    r' = 0.15·t + 0.85·Σ r/od iterations as CTE stages — like the
    global variant, an iterative algorithm that is HASH-checked, not
    rows-only."""
    from value_at_risk_spark.operators.graph import personalized_pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r17: same long node encoding as pagerank_trade_graph (supplier k
    # -> 2k, customer k -> 2k+1; decode to 'S<k>'/'C<k>' only at the
    # end) — guide §2.3, narrower types through every iteration.
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("s"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    edges = pair.select(
        F.col("s").alias("src"), F.col("c").alias("dst")
    ).unionAll(pair.select(F.col("c").alias("src"), F.col("s").alias("dst")))
    seeds = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 5 == 0)
        .select((F.col("s_suppkey").cast("long") * 2).alias("node"))
    )
    ranks = personalized_pagerank(
        edges, seeds, iters=3, damping=0.85, dedupe=False
    )
    kind = F.when(F.col("node") % 2 == 0, F.lit("S")).otherwise(F.lit("C"))
    key = F.shiftright(F.col("node"), 1)
    return ranks.select(
        F.concat(kind, key.cast("string")).alias("node"),
        (F.round("r", 8) + F.lit(0.0)).alias("rank"),
    )

@query(
    "retention_cohorts",
    """
WITH uw AS (
  SELECT user_id,
         CAST(FLOOR(DATEDIFF('day', DATE '1990-01-01', CAST(ts AS DATE)) / 7)
              AS BIGINT) AS w
  FROM events GROUP BY 1, 2
),
coh AS (SELECT user_id, MIN(w) AS cohort_w FROM uw GROUP BY 1),
act AS (
  SELECT c.cohort_w, uw.w - c.cohort_w AS week_offset,
         COUNT(DISTINCT uw.user_id) AS n_users
  FROM uw JOIN coh c ON uw.user_id = c.user_id
  GROUP BY 1, 2
)
SELECT cohort_w, CAST(week_offset AS BIGINT) AS week_offset,
       CAST(n_users AS BIGINT) AS n_users,
       ROUND(n_users / CAST(MAX(CASE WHEN week_offset = 0 THEN n_users END)
             OVER (PARTITION BY cohort_w) AS DOUBLE), 6) + 0 AS retention
FROM act
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix — THE product-analytics query:
    users grouped by first-activity week, then the fraction of each
    cohort still active k weeks later. Week numbering is integer
    arithmetic off a fixed Monday anchor (engine-identical; no
    date_trunc locale semantics). Dataflow: events reduce to DISTINCT
    (user, week) FIRST — the only pass over raw volume — then cohort
    assignment is a per-user min re-joined on user_id (both sides
    already user-keyed; co-partitioned shuffle), and the retention
    denominator is a window over each cohort's offset-0 cell, not a
    second scan. At 100 TB the (user, week) reduction is what makes
    the rest interactive."""
    e = _t(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1990-01-01")) / 7
    ).alias("w")
    uw = e.select("user_id", week).distinct()
    coh = uw.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    act = (
        uw.join(coh, "user_id")
        .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
    wnd = Window.partitionBy("cohort_w")
    base = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_users"))
    ).over(wnd)
    return act.select(
        "cohort_w",
        F.col("week_offset").cast("long").alias("week_offset"),
        F.col("n_users").cast("long").alias("n_users"),
        (
            F.round(F.col("n_users") / base.cast("double"), 6) + F.lit(0.0)
        ).alias("retention"),
    )

@query(
    "attribution_last_touch",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type IN ('click', 'view', 'signup')
              THEN event_type END AS chan
  FROM events
),
attr AS (
  SELECT event_type, value,
         COALESCE(
           LAST_VALUE(chan IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           'direct') AS channel
  FROM tagged
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(SUM(value), 4) + 0 AS attributed_revenue
FROM attr WHERE event_type = 'purchase'
GROUP BY channel
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: every purchase's value is
    credited to the user's most recent PRIOR touch channel (click /
    view / signup; 'direct' when none) — the revenue-attribution
    query behind every campaign dashboard. One user-partitioned
    window pass: last_value(ignore nulls) over the preceding rows
    picks the latest non-null channel without a self-join or an
    as-of join per purchase (both engines define identical IGNORE
    NULLS semantics; event_id breaks ts ties). The final rollup is a
    4-row aggregate. At 100 TB this is one shuffle on user_id —
    the same key the sessionization family already uses."""
    e = _t(spark, sf_dir, "events")
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(
            F.col("event_type").isin("click", "view", "signup"),
            F.col("event_type"),
        ).alias("chan"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = tagged.select(
        "event_type",
        "value",
        F.coalesce(
            F.last("chan", ignorenulls=True).over(w), F.lit("direct")
        ).alias("channel"),
    )
    return (
        attr.filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias(
                "attributed_revenue"
            ),
        )
    )

@query(
    "event_transition_matrix",
    """
WITH ordered AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT event_type AS from_type, nxt AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type)
             AS DOUBLE), 6) + 0 AS p
FROM ordered WHERE nxt IS NOT NULL
GROUP BY event_type, nxt
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences
    — which action follows which, and with what probability (the
    k-state generalization of christoffersen_independence_test's
    2-state chain, and the model behind next-action prediction
    baselines). One user-partitioned LEAD window (same shuffle key as
    sessionization), one grouped count, and the row-normalizing
    denominator is a window over the 5x5 transition table — nothing
    after the first reduction touches data volume. event_id breaks
    timestamp ties so the chain is deterministic on both engines."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("to_type")
    ).filter(F.col("to_type").isNotNull())
    counts = ordered.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (
            F.round(F.col("n") / F.sum("n").over(wrow).cast("double"), 6)
            + F.lit(0.0)
        ).alias("p"),
    )

@query(
    "top_event_paths",
    """
WITH seq AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS e3
  FROM events
),
paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE e3 IS NOT NULL
  GROUP BY 1
),
ranked AS (
  SELECT path, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rnk,
         SUM(n) OVER () AS tot
  FROM paths
)
SELECT path, n, CAST(rnk AS BIGINT) AS rnk,
       ROUND(n / CAST(tot AS DOUBLE), 6) + 0 AS share
FROM ranked WHERE rnk <= 15
""",
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths (the click-path sunburst behind
    product analytics): every consecutive event-type trigram per
    user, counted and ranked. ONE user-partitioned window pass
    produces both LEADs — the same shuffle key as sessionization and
    the transition matrix, so a real pipeline computes all three in
    one stage — and the ranking runs over the tiny distinct-path
    table (at most |types|^3 rows). Deterministic rank tie-break on
    the path string."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrnk = Window.orderBy(F.desc("n"), F.asc("path"))
    wtot = Window.partitionBy(F.lit(1))
    return (
        paths.select(
            "path",
            "n",
            F.row_number().over(wrnk).cast("long").alias("rnk"),
            F.sum("n").over(wtot).alias("tot"),
        )
        .filter(F.col("rnk") <= 15)
        .select(
            "path",
            "n",
            "rnk",
            (
                F.round(F.col("n") / F.col("tot").cast("double"), 6)
                + F.lit(0.0)
            ).alias("share"),
        )
    )

@query(
    "hierarchy_depth_pointer_jumping",
    """
WITH RECURSIVE walk(k, ptr, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT k, CAST(FLOOR(ptr / 2) AS BIGINT), depth + 1
  FROM walk WHERE ptr > 1
)
SELECT k, CAST(MAX(depth) AS BIGINT) AS depth, CAST(1 AS BIGINT) AS root
FROM walk GROUP BY k
""",
)
def hierarchy_depth_pointer_jumping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchy depth + root for every node of the synthetic
    customer tree (parent(k) = floor(k/2), root 1) — computed by
    POINTER JUMPING: each iteration joins the ancestor table with
    itself so the known-ancestor distance DOUBLES (anc' = anc[anc],
    dist' = dist + dist[anc]); 5 iterations resolve any depth <= 32,
    i.e. 4 billion nodes — O(log depth) shuffles where the naive
    per-level walk (the oracle's WITH RECURSIVE) needs O(depth).
    This is the same doubling technique behind the dedup connected-
    components operator, isolated here as the hierarchy/org-chart/
    BOM primitive. Each iteration is one self-equi-join on the
    ancestor key — co-partitioned by construction after the first
    shuffle. Roots are their own fixed point (dist 0), so the join
    converges without special-casing."""
    c = _t(spark, sf_dir, "customer")
    j = c.select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") <= 1, F.lit(1))
        .otherwise(F.floor(F.col("c_custkey") / 2))
        .cast("long")
        .alias("anc"),
        F.when(F.col("c_custkey") <= 1, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("dist"),
    )
    for _ in range(5):  # 2^5 = 32 levels = 4e9 nodes
        b = j.select(
            F.col("k").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("dist").alias("dist2"),
        )
        j = j.join(b, "anc").select(
            "k",
            F.col("anc2").alias("anc"),
            (F.col("dist") + F.col("dist2")).alias("dist"),
        )
    return j.select(
        "k",
        F.col("dist").alias("depth"),
        F.col("anc").alias("root"),
    )

@query(
    "cohort_ltv_curve",
    """
WITH fo AS (
  SELECT o_custkey AS k,
         MIN(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))) AS cohort_year
  FROM orders GROUP BY 1
),
spend AS (
  SELECT fo.cohort_year,
         EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) - fo.cohort_year
           AS yrs_since,
         SUM(o.o_totalprice) AS rev,
         COUNT(DISTINCT o.o_custkey) AS active
  FROM orders o JOIN fo ON o.o_custkey = fo.k
  GROUP BY 1, 2
),
csize AS (SELECT cohort_year, COUNT(*) AS n0 FROM fo GROUP BY 1)
SELECT s.cohort_year, CAST(s.yrs_since AS BIGINT) AS yrs_since,
       CAST(s.active AS BIGINT) AS active_customers,
       ROUND(SUM(s.rev) OVER (PARTITION BY s.cohort_year ORDER BY s.yrs_since
             ROWS UNBOUNDED PRECEDING) / c.n0, 2) + 0 AS cum_ltv_per_customer
FROM spend s JOIN csize c ON s.cohort_year = c.cohort_year
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue per ORIGINAL
    cohort member by years since acquisition — the money companion to
    retention_cohorts (retention says who's left; LTV says what
    they're worth). Cohort assignment is a per-customer min-year
    re-joined customer-keyed; the curve is a running sum over each
    cohort's ≤7-row year series divided by the frozen cohort size
    (denominator = acquired customers, NOT survivors — the mistake
    that inflates naive LTV dashboards). Two customer-keyed shuffles
    + calendar-scale windows."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    fo = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.min(yr).alias("cohort_year")
    )
    spend = (
        o.join(fo, o.o_custkey == fo.k)
        .groupBy(
            "cohort_year", (yr - F.col("cohort_year")).alias("yrs_since")
        )
        .agg(
            F.sum("o_totalprice").alias("rev"),
            F.count_distinct("o_custkey").alias("active"),
        )
    )
    csize = fo.groupBy("cohort_year").agg(F.count(F.lit(1)).alias("n0"))
    wcum = (
        Window.partitionBy("cohort_year")
        .orderBy("yrs_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spend.join(F.broadcast(csize), "cohort_year").select(
        "cohort_year",
        F.col("yrs_since").cast("long").alias("yrs_since"),
        F.col("active").cast("long").alias("active_customers"),
        (
            F.round(F.sum("rev").over(wcum) / F.col("n0"), 2) + F.lit(0.0)
        ).alias("cum_ltv_per_customer"),
    )

@query(
    "graph_degree_distribution",
    """
WITH pair AS (
  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS s,
                  'C' || CAST(o_custkey AS VARCHAR) AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT s AS node FROM pair UNION ALL SELECT c FROM pair
  ) GROUP BY 1
),
hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1),
alpha AS (
  SELECT 1.0 + COUNT(*) / SUM(LN(d / 0.5)) AS a FROM deg
)
SELECT h.d AS degree, h.n_nodes,
       ROUND(a.a, 6) + 0 AS powerlaw_alpha_mle
FROM hist h, alpha a
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the trade graph + the Clauset-Shalizi-
    Newman continuous MLE for the power-law exponent (alpha = 1 +
    n / sum ln(d/(dmin - 1/2)), dmin=1) — the first structural
    question about any graph before running PageRank on it (hub
    dominance decides whether the rank iteration needs skew
    handling). The undirected degree is one union + one count; the
    histogram and the 1-row MLE are reductions over the node frame,
    stitched by a broadcast. Same DISTINCT pair base as
    pagerank_trade_graph, so the two queries share lineage in a
    multi-query plan."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
        )
        .distinct()
    )
    nodes = pair.select(F.col("s").alias("node")).unionAll(
        pair.select(F.col("c").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_nodes"))
    alpha = deg.agg(
        (
            F.lit(1.0)
            + F.count(F.lit(1))
            / F.sum(F.log(F.col("d") / F.lit(0.5)))
        ).alias("a")
    )
    return hist.crossJoin(F.broadcast(alpha)).select(
        F.col("d").alias("degree"),
        "n_nodes",
        (F.round("a", 6) + F.lit(0.0)).alias("powerlaw_alpha_mle"),
    )

@query(
    "popularity_recommendations",
    """
WITH buys AS (
  SELECT c.c_nationkey AS nk, l.l_partkey AS pk,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nk, pk, n,
         ROW_NUMBER() OVER (PARTITION BY nk ORDER BY n DESC, pk) AS rnk,
         SUM(n) OVER (PARTITION BY nk) AS tot
  FROM buys
)
SELECT n2.n_name AS nation, r.pk AS part_key, r.n AS n_purchases,
       CAST(r.rnk AS BIGINT) AS rnk,
       ROUND(r.n / CAST(r.tot AS DOUBLE), 6) + 0 AS support
FROM ranked r JOIN nation n2 ON r.nk = n2.n_nationkey
WHERE r.rnk <= 3
""",
)
def popularity_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start recommendation baseline: the top-3 most-purchased
    parts per customer nation with their within-segment support —
    the popularity prior every recommender backs off to when it has
    no user history (and the baseline any personalized model must
    beat, the serving-side cousin of market_basket_lift's
    co-purchase signal). One three-table join reduces to (segment,
    item) counts; ranking and the support denominator are windows
    over that reduction; the nation name is a broadcast stitch."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    buys = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("l_partkey").alias("pk"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("nk").orderBy(F.desc("n"), F.asc("pk"))
    wt = Window.partitionBy("nk")
    ranked = buys.select(
        "nk",
        "pk",
        "n",
        F.row_number().over(wr).alias("rnk"),
        F.sum("n").over(wt).alias("tot"),
    ).filter(F.col("rnk") <= 3)
    return ranked.join(F.broadcast(n), ranked.nk == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("pk").alias("part_key"),
        F.col("n").alias("n_purchases"),
        F.col("rnk").cast("long").alias("rnk"),
        (
            F.round(F.col("n") / F.col("tot").cast("double"), 6)
            + F.lit(0.0)
        ).alias("support"),
    )

@query(
    "session_depth_distribution",
    """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER
                   (PARTITION BY user_id ORDER BY ts))) > 1800
                   OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
),
depth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
),
bucketed AS (
  SELECT CASE WHEN n_events = 1 THEN '1'
              WHEN n_events <= 3 THEN '2-3'
              WHEN n_events <= 10 THEN '4-10'
              ELSE '11+' END AS depth_bucket,
         n_events
  FROM depth
)
SELECT depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) + 0
         AS session_share
FROM bucketed GROUP BY depth_bucket
""",
)
def session_depth_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session depth histogram (bounce / shallow / engaged / power
    buckets) over the same 30-minute-gap sessionization the engine
    uses everywhere (sessionize_events' exact rule — one lag-gap flag
    + one running sum; tz-free epoch seconds): the engagement-shape
    summary a product review starts with, and a reuse proof that the
    sessionization primitive composes into derived reports without a
    second definition drifting. Bucket shares normalize via a window
    over the 4-row histogram."""
    from value_at_risk_spark.functions.timeutil import epoch_seconds

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (epoch_seconds(F.col("ts")) - epoch_seconds(prev) > 1800),
        F.lit(1),
    ).otherwise(F.lit(0))
    sess = e.select(
        "user_id",
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    depth = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bucket = (
        F.when(F.col("n_events") == 1, F.lit("1"))
        .when(F.col("n_events") <= 3, F.lit("2-3"))
        .when(F.col("n_events") <= 10, F.lit("4-10"))
        .otherwise(F.lit("11+"))
    )
    wall = Window.partitionBy(F.lit(1))
    return (
        depth.select(bucket.alias("depth_bucket"), "n_events")
        .groupBy("depth_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "depth_bucket",
            "n_sessions",
            "n_events",
            (
                F.round(
                    F.col("n_sessions")
                    / F.sum("n_sessions").over(wall).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("session_share"),
        )
    )

@query(
    "attribution_linear_multitouch",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type IN ('click', 'view', 'signup') THEN 1
              ELSE 0 END AS is_touch
  FROM events
),
counted AS (
  SELECT user_id, ts, event_id, event_type, value,
         COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  OVER w, 0) AS n_click,
         COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  OVER w, 0) AS n_view,
         COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  OVER w, 0) AS n_signup
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
purch AS (
  SELECT value, n_click, n_view, n_signup,
         n_click + n_view + n_signup AS n_touch
  FROM counted WHERE event_type = 'purchase'
),
credited AS (
  SELECT
    SUM(CASE WHEN n_touch > 0 THEN value * n_click / n_touch ELSE 0 END)
      AS click_rev,
    SUM(CASE WHEN n_touch > 0 THEN value * n_view / n_touch ELSE 0 END)
      AS view_rev,
    SUM(CASE WHEN n_touch > 0 THEN value * n_signup / n_touch ELSE 0 END)
      AS signup_rev,
    SUM(CASE WHEN n_touch = 0 THEN value ELSE 0 END) AS direct_rev
  FROM purch
)
SELECT channel, ROUND(rev, 4) + 0 AS attributed_revenue
FROM (
  SELECT 'click' AS channel, click_rev AS rev FROM credited
  UNION ALL SELECT 'view', view_rev FROM credited
  UNION ALL SELECT 'signup', signup_rev FROM credited
  UNION ALL SELECT 'direct', direct_rev FROM credited
)
""",
)
def attribution_linear_multitouch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value splits
    EQUALLY across all the user's prior touches (click/view/signup;
    'direct' when none) — the fairness-motivated alternative to
    attribution_last_touch, and the two bracket most production
    attribution debates. No explode: each channel's credit share is
    value * n_channel_prior / n_prior, so three conditional window
    counts over the SAME user ordering (one Window stage) and one
    4-cell reduction produce the whole report; revenue is conserved
    by construction (pytest ties it to the last-touch totals)."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def prior(t):
        # an empty preceding frame (the user's FIRST event) yields
        # NULL, which would fall through BOTH n_touch branches and
        # silently drop the purchase — coalesce to 0
        return F.coalesce(
            F.sum(
                F.when(F.col("event_type") == t, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).over(w),
            F.lit(0),
        )

    counted = e.select(
        "event_type",
        "value",
        prior("click").alias("n_click"),
        prior("view").alias("n_view"),
        prior("signup").alias("n_signup"),
    ).filter(F.col("event_type") == "purchase")
    purch = counted.select(
        "value",
        "n_click",
        "n_view",
        "n_signup",
        (F.col("n_click") + F.col("n_view") + F.col("n_signup")).alias(
            "n_touch"
        ),
    )

    def credit(col):
        return F.sum(
            F.when(
                F.col("n_touch") > 0,
                F.col("value") * F.col(col) / F.col("n_touch"),
            ).otherwise(F.lit(0.0))
        )

    credited = purch.agg(
        credit("n_click").alias("click"),
        credit("n_view").alias("view"),
        credit("n_signup").alias("signup"),
        F.sum(
            F.when(F.col("n_touch") == 0, F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("direct"),
    )
    long = credited.selectExpr(
        "stack(4, 'click', click, 'view', view, 'signup', signup, "
        "'direct', direct) AS (channel, rev)"
    )
    return long.select(
        "channel", (F.round("rev", 4) + F.lit(0.0)).alias("attributed_revenue")
    )

@query(
    "net_dollar_retention",
    """
WITH fo AS (
  SELECT o_custkey AS k,
         MIN(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE))) AS cohort_year
  FROM orders GROUP BY 1
),
rev AS (
  SELECT fo.cohort_year,
         EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) - fo.cohort_year
           AS yrs_since,
         SUM(o.o_totalprice) AS r
  FROM orders o JOIN fo ON o.o_custkey = fo.k
  GROUP BY 1, 2
),
base AS (
  SELECT cohort_year, r AS r0 FROM rev WHERE yrs_since = 0
)
SELECT rev.cohort_year,
       CAST(rev.yrs_since AS BIGINT) AS yrs_since,
       ROUND(rev.r / 1e6, 4) + 0 AS revenue_m,
       ROUND(rev.r / base.r0, 6) + 0 AS ndr
FROM rev JOIN base ON rev.cohort_year = base.cohort_year
WHERE rev.yrs_since >= 1
""",
)
def net_dollar_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net dollar retention by acquisition cohort: each later year's
    revenue from a cohort over its FIRST-year revenue — the SaaS
    metric that distinguishes expansion from churn in money terms
    (retention_cohorts counts heads, cohort_ltv_curve accumulates;
    NDR is the year-over-year rate investors quote). Same cohort
    reduction as the LTV query; the base-year denominator joins back
    broadcast; revenue surfaced in millions (the magnitude rule)."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    fo = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.min(yr).alias("cohort_year")
    )
    rev = (
        o.join(fo, o.o_custkey == fo.k)
        .groupBy(
            "cohort_year", (yr - F.col("cohort_year")).alias("yrs_since")
        )
        .agg(F.sum("o_totalprice").alias("r"))
    )
    base = rev.filter(F.col("yrs_since") == 0).select(
        "cohort_year", F.col("r").alias("r0")
    )
    return (
        rev.filter(F.col("yrs_since") >= 1)
        .join(F.broadcast(base), "cohort_year")
        .select(
            "cohort_year",
            F.col("yrs_since").cast("long").alias("yrs_since"),
            (F.round(F.col("r") / 1e6, 4) + F.lit(0.0)).alias("revenue_m"),
            (F.round(F.col("r") / F.col("r0"), 6) + F.lit(0.0)).alias(
                "ndr"
            ),
        )
    )
