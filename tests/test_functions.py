"""Ported reference micro-fixtures (FIXTURES.md §C; exact-value tests
from /root/reference/tests/tests_spark.py and tests_utils.py), asserted
against this engine's native-expression equivalents."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from value_at_risk_spark.functions.features import (
    nonlinear_features,
    predict_nonlinear,
)
from value_at_risk_spark.functions.returns import log_return
from value_at_risk_spark.functions.risk import (
    basel_zone,
    count_breaches,
    value_at_risk_expr,
)
from value_at_risk_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    scale_vector,
)


def test_log_return(spark):
    # tests_spark.py:20-34 — compute_return(2,3) ≈ 0.4 (1 d.p.)
    row = spark.createDataFrame([(2.0, 3.0)], "first double, close double").select(
        log_return("first", "close").alias("r")
    ).first()
    assert round(row.r, 1) == 0.4
    assert row.r == pytest.approx(math.log(3 / 2))


def test_wsse(spark):
    # tests_spark.py:36-50 — (2-3)^2 = 1
    row = spark.createDataFrame([(2.0, 3.0)], "p double, a double").select(
        F.pow(F.col("p") - F.col("a"), 2).alias("wsse")
    ).first()
    assert row.wsse == 1.0


def test_var_and_shortfall_percentile_ramp(spark):
    # tests_spark.py:52-76 / tests_utils.py:15-26 — arange(100), VaR95≈5
    data = [(float(x),) for x in range(100)]
    df = spark.createDataFrame(data, "x double")
    var95 = df.select(value_at_risk_expr("x", 95.0).alias("v")).first().v
    assert var95 == pytest.approx(np.percentile(np.arange(100), 5))
    es = (
        df.filter(F.col("x") <= var95)
        .select(F.avg("x").alias("es"))
        .first()
        .es
    )
    expected = np.arange(100)[np.arange(100) <= var95].mean()
    assert es == pytest.approx(expected)


def test_weighted_returns_scale(spark):
    # tests_spark.py:78-98 — element-wise × 2
    df = spark.createDataFrame(
        [([float(x) for x in range(100)], 2.0)], "returns array<double>, weight double"
    )
    out = df.select(scale_vector("returns", "weight").alias("w")).first().w
    assert out == [2.0 * x for x in range(100)]


def test_circulant_mean_cov(spark):
    # tests_spark.py:100-130 — circulant 5×5: means all 3, cov rows sum 0
    from value_at_risk_spark.operators.vector_agg import vector_mean_cov

    base = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(1, base[i:] + base[:i]) for i in range(5)]
    df = spark.createDataFrame(rows, "g int, features array<double>")
    out = vector_mean_cov(df, ["g"], "features").first()
    assert [round(v, 9) for v in out.vol_avg] == [3.0] * 5
    pdf_cov = np.cov(np.array([r[1] for r in rows]).T, ddof=1)
    got = np.array(out.vol_cov)
    assert np.allclose(got, pdf_cov)
    assert np.allclose(got.sum(axis=1), 0.0)


_VOL_SCHEMA = "k string, vol_avg array<double>, vol_cov array<array<double>>"


def _sampler_stats():
    # d=5 as in the pipeline: a 2-D gemm's last-bit drift from the
    # per-row matvec showed at d=5, never at d=3
    x = np.random.default_rng(0).standard_normal((90, 5)) * 0.01
    a = ([0.0] * 5, (np.eye(5) + 0.1 * np.eye(5, k=1)
                     + 0.1 * np.eye(5, k=-1)).tolist())
    return {
        "a": a,
        "a2": a,
        "b": (x.mean(axis=0).tolist(), np.cov(x, rowvar=False).tolist()),
        "zero": ([0.5, -1.0, 2.0, 0.0, -0.25], [[0.0] * 5] * 5),
    }


def _draw_bits(df):
    return sorted(
        (r.k, r.trial_id, struct.pack(f"{len(r.features)}d", *r.features))
        for r in df.collect()
    )


def test_simulation_determinism(spark):
    # tests_spark.py:133-162 — same trial_id ⇒ identical draw across rows.
    # Every draw is also bit-equal to numpy's multivariate_normal recipe
    # for its seed, whatever the Arrow batch boundaries: two covariances
    # plus a singular (all-zero) one whose draws must be the mean
    # exactly, and a run date ("a2") repeating another's stats.
    from pyspark.errors import PythonException

    from value_at_risk_spark.montecarlo import simulate_trials

    stats = _sampler_stats()
    vol = spark.createDataFrame(
        [(k, *v) for k, v in stats.items()], _VOL_SCHEMA
    ).repartition(3)

    def draws():
        out = simulate_trials(vol, 12, date_col="k").collect()
        return sorted((r.k, r.trial_id, tuple(r.features)) for r in out)

    default = draws()
    assert len(default) == 12 * len(stats)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "2")
    try:
        assert draws() == default
    finally:
        spark.conf.unset(key)

    for k, t, f in default:
        avg, cov = stats[k]
        _, sv, vh = np.linalg.svd(np.array(cov))
        z = np.random.default_rng(t).standard_normal(5)
        assert f == tuple(z @ (np.sqrt(sv)[:, None] * vh) + np.array(avg))
        if k == "zero":
            assert f == tuple(avg)
    by_id = {(k, t): f for k, t, f in default}
    assert all(by_id["a", t] == by_id["a2", t] for t in range(12))
    assert by_id["a", 7] != by_id["a", 8]
    expected = np.random.default_rng(7).multivariate_normal(
        np.array(stats["a"][0]), np.array(stats["a"][1])
    )
    assert by_id["a", 7] == pytest.approx(tuple(expected))

    avg, cov = stats["a"]
    for bad in (
        [("a", avg, cov), ("r", avg, [[1.0] * 4] * 5)],  # ragged
        [("a", avg, cov), ("n", None, cov)],  # null
    ):
        with pytest.raises(PythonException, match="ValueError: simulate_trials"):
            simulate_trials(
                spark.createDataFrame(bad, _VOL_SCHEMA), 3, date_col="k"
            ).collect()


def test_simulate_trials_chunk_spine(spark):
    """The trial-chunk spine decides only how the trials are cut, never
    their values: 1 and 4 chunks give the same (date, trial_id,
    feature bits) set; chunks left empty (runs < chunks) emit nothing,
    and runs=0 emits no rows."""
    from value_at_risk_spark.montecarlo import _sample, simulate_trials

    stats = _sampler_stats()
    vol = spark.createDataFrame(
        [(k, *v) for k, v in stats.items()], _VOL_SCHEMA
    )
    one = _draw_bits(_sample(vol, 10, 1, "k"))
    assert len(one) == 10 * len(stats)
    assert _draw_bits(_sample(vol, 10, 4, "k")) == one
    two = _draw_bits(_sample(vol, 2, 4, "k"))
    assert [(k, t) for k, t, _ in two] == sorted(
        (k, t) for k in stats for t in range(2)
    )
    assert two == [r for r in one if r[1] < 2]
    assert simulate_trials(vol, 2, date_col="k").count() == 2 * len(stats)
    assert simulate_trials(vol, 0, date_col="k").count() == 0


def test_seed_frame(spark):
    # tests_utils.py:10-13 — trial_id spine 0..9
    from value_at_risk_spark.montecarlo import seed_frame

    rows = seed_frame(spark, 10).orderBy("trial_id").collect()
    assert [r.trial_id for r in rows] == list(range(10))


def test_nonlinear_feature_expansion(spark):
    # tests_utils.py:28-30 — [1,4] → [1,1,1,1,4,16,64,2]
    df = spark.createDataFrame([([1.0, 4.0],)], "xs array<double>")
    out = df.select(nonlinear_features("xs").alias("f")).first().f
    assert out == [1.0, 1.0, 1.0, 1.0, 4.0, 16.0, 64.0, 2.0]


def test_predictor_algebra(spark):
    # tests_utils.py:32-35 — 0.01-weights over expansion of [1,4]
    feats = [1.0, 1.0, 1.0, 1.0, 4.0, 16.0, 64.0, 2.0]
    weights = [0.01] * 9
    df = spark.createDataFrame(
        [(weights, feats)], "weights array<double>, features array<double>"
    )
    out = df.select(predict_nonlinear("weights", "features").alias("p")).first().p
    assert out == pytest.approx((sum(feats) + 1) / 100)


def _java_signum(x):
    # Math.signum: NaN and signed zeros pass through
    return x if x != x or x == 0.0 else math.copysign(1.0, x)


def _ref_expand(xs, pow_):
    """utils/var_utils.py:47-55 per factor, in Spark's double ops.
    ``pow_(x, k)`` is Spark's POWER (``java.lang.StrictMath.pow``,
    fdlibm), which is not always the correctly rounded result Python's
    ``**`` gives: x**3 differed in the last bit on ~10% of random
    inputs, and x**2 on a few."""
    out = []
    for x in xs:
        if x is None:
            out += [None] * 4
        else:
            s = _java_signum(x)
            out += [x, s * pow_(x, 2), pow_(x, 3), s * math.sqrt(abs(x))]
    return out


def _ref_predict(ws, fs):
    """utils/var_utils.py:58-62 as a left-to-right double fold:
    products from 0.0, intercept last."""
    if any(v is None for v in [*ws, *fs]):
        return None
    acc = 0.0
    for w, f in zip(ws[1:], fs):
        acc = acc + w * f
    return acc + ws[0]


def _bits(v):
    if v is None or v != v:
        return v if v is None else "nan"
    return struct.pack("d", v)


def test_predictor_sql_text_bit_parity(spark):
    """The SQL-text predictor (``predict_expanded``) and the HOF forms
    (``nonlinear_features``, ``predict_nonlinear``) all equal a Python
    left-to-right double fold of the reference semantics, bit for bit,
    on random rows plus NaN, ±Inf, NULL, ±0.0 and a subnormal; the text
    form takes names only."""
    from value_at_risk_spark.functions.features import predict_expanded

    rng = np.random.default_rng(11)
    d = 5
    rows = [
        (rng.standard_normal(4 * d + 1).tolist(),
         (rng.standard_normal(d) * 10.0 ** rng.integers(-4, 2)).tolist())
        for _ in range(2_000)
    ]
    w = rng.standard_normal(4 * d + 1).tolist()
    for special in (float("nan"), float("inf"), float("-inf"), None,
                    0.0, -0.0, 5e-324, -5e-324):
        rows.append((w, [0.01, special, -0.02, 0.03, special]))
    rows.append((w, [0.0, -0.0, 0.0, -0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "weights array<double>, factors array<double>"
    )
    out = df.select(
        "weights",
        "factors",
        nonlinear_features("factors").alias("x_hof"),
        predict_expanded("weights", "factors", d).alias("p"),
    ).select(
        "*",
        predict_nonlinear("weights", "x_hof").alias("p_hof"),
    ).collect()
    assert len(out) == len(rows)
    # the POWER primitive, evaluated on its own for every factor value
    xs = {_bits(x): x for _, f in rows for x in f if x is not None}
    powers = {
        _bits(r.x): {2: r.p2, 3: r.p3}
        for r in spark.createDataFrame(
            [(x,) for x in xs.values()], "x double"
        ).selectExpr("x", "power(x, 2) AS p2", "power(x, 3) AS p3").collect()
    }

    def pow_(x, k):
        return powers[_bits(x)][k]

    for r in out:
        want_x = _ref_expand(r.factors, pow_)
        want_p = _bits(_ref_predict(r.weights, want_x))
        assert [_bits(v) for v in r.x_hof] == [_bits(v) for v in want_x]
        assert _bits(r.p) == want_p
        assert _bits(r.p_hof) == want_p
    with pytest.raises(TypeError):
        predict_expanded(F.col("weights"), "factors", d)


def test_count_breaches_and_zone(spark):
    # utils/var_udf.py:22-30 — breach counting + traffic-light bounds
    df = spark.createDataFrame(
        [([-0.05, -0.01, 0.02, -0.08, 0.0], -0.04)],
        "prev array<double>, var_99 double",
    )
    out = df.select(
        count_breaches("prev", "var_99").alias("b"),
    ).withColumn("zone", basel_zone("b"))
    r = out.first()
    assert r.b == 2  # -0.05 and -0.08
    assert r.zone == 0
    zones = spark.createDataFrame(
        [(3,), (4,), (9,), (10,)], "b int"
    ).select(basel_zone("b").alias("z")).collect()
    assert [z.z for z in zones] == [0, 1, 1, 2]


def test_dot_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot_product("a", "b").alias("d"),
        cosine_similarity("a", "b").alias("c"),
    ).first()
    assert r.d == pytest.approx(32.0)
    na, nb = math.sqrt(14), math.sqrt(77)
    assert r.c == pytest.approx(32.0 / (na * nb))


def test_local_frame_values_plan(spark):
    """local_frame: VALUES plan (no Python RDD scan), exact schema,
    empty-input support."""
    from value_at_risk_spark.sources.local import local_frame

    df = local_frame(
        spark,
        [("a", 1, 1.5, [1.0, 2.0]), ("b", None, -0.0, [])],
        "name string, n int, x double, vec array<double>",
    )
    assert df.schema.simpleString() == (
        "struct<name:string,n:int,x:double,vec:array<double>>"
    )
    rows = {r.name: (r.n, r.x, r.vec) for r in df.collect()}
    assert rows["a"] == (1, 1.5, [1.0, 2.0])
    assert rows["b"][0] is None and rows["b"][2] == []
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()

    empty = local_frame(spark, [], "a string, b long")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<a:string,b:bigint>"


def test_chunk_tokens_edges(spark):
    from value_at_risk_spark.functions.text import chunk_tokens

    df = spark.createDataFrame(
        [("short doc",), (" ".join(f"t{i}" for i in range(100)),)],
        "text string",
    )
    out = df.select(F.explode(chunk_tokens("text", 64, 16)).alias("c")).select(
        "c.chunk_id", "c.chunk"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.chunk_id, []).append(r.chunk)
    # short doc -> exactly one chunk, unchanged
    assert "short doc" in by_doc[0]
    # 100 tokens, stride 48 -> ceil((100-16)/48)=2 chunks; chunk 1 covers 49..100
    chunks_100 = [c for cs in by_doc.values() for c in cs if c.startswith("t")]
    assert len(chunks_100) == 2
    assert chunks_100[1].split()[0] == "t48"

    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_tokens("text", 16, 16)


def test_chunk_tokens_reconstruction_property(spark):
    """Property (hypothesis): de-overlapped chunks reconstruct the
    exact token sequence — chunk 0 plus each later chunk minus its
    16-token overlap prefix."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from value_at_risk_spark.functions.text import chunk_tokens

    words = st.lists(
        st.sampled_from([f"w{i}" for i in range(40)]), min_size=1, max_size=200
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(toks=words)
    def check(toks):
        text = " ".join(toks)
        df = spark.createDataFrame([(text,)], "text string")
        chunks = [
            r.c.chunk
            for r in df.select(
                F.explode(chunk_tokens("text", 64, 16)).alias("c")
            )
            .orderBy("c.chunk_id")
            .collect()
        ]
        rebuilt = chunks[0].split(" ") if chunks else []
        for ch in chunks[1:]:
            rebuilt += ch.split(" ")[16:]
        assert rebuilt == toks, (toks, chunks)

    check()


def test_histogram_degenerate_group(spark):
    """A group whose values are all equal (span 0) must not raise
    DIVIDE_BY_ZERO under ANSI: everything lands in bin 0, density NULL."""
    from value_at_risk_spark.viz import histogram_frame

    df = spark.createDataFrame(
        [("g", 5.0)] * 4 + [("h", 1.0), ("h", 2.0)], "k string, v double"
    )
    out = {(r.k, r.bin): (r.n, r.density) for r in histogram_frame(df, "v", by=["k"], bins=4).collect()}
    assert out[("g", 0)][0] == 4 and out[("g", 0)][1] is None
    assert out[("h", 0)][0] == 1 and out[("h", 0)][1] is not None
    assert out[("h", 3)][0] == 1  # max value clamps into the last bin


def test_predictor_unrolled_bit_identical_to_hof(spark):
    """The unrolled predictor (``predict_expanded``) and the generic HOF
    forms fold in the SAME order (products from 0.0, intercept last), so
    they are bit-identical — not just tolerance-equal. Weights/factors
    chosen so a different association order WOULD differ in the last
    ulp."""
    from value_at_risk_spark.functions.features import predict_expanded

    rng = np.random.default_rng(7)
    w = [float(x) for x in rng.uniform(-1, 1, 9)]
    f = [float(x) for x in rng.uniform(-100, 100, 2)]
    df = spark.createDataFrame(
        [(w, f)], "weights array<double>, factors array<double>"
    )
    r = df.select(
        predict_nonlinear("weights", nonlinear_features("factors")).alias("hof"),
        predict_expanded("weights", "factors", 2).alias("unrolled"),
    ).first()
    # exact equality: same fold order, same FP ops
    assert r.hof == r.unrolled


def test_local_frame_parameterized_and_nested_types(spark):
    """DDL split handles top-level commas only: decimal(10,2) and
    map<string,int> keep their internal commas."""
    from value_at_risk_spark.sources.local import local_frame

    df = local_frame(
        spark,
        [("a", 1)],
        "name string, n decimal(10,2)",
    )
    assert df.schema.simpleString() == "struct<name:string,n:decimal(10,2)>"
    assert df.first().n == 1

    empty = local_frame(spark, [], "m map<string,int>, s struct<a:int,b:string>")
    assert empty.schema.simpleString() == (
        "struct<m:map<string,int>,s:struct<a:int,b:string>>"
    )
    assert empty.count() == 0


def test_local_frame_nonfinite_floats(spark):
    """NaN/±Infinity floats render as valid SQL casts, not 'nanD'."""
    from value_at_risk_spark.sources.local import local_frame

    df = local_frame(
        spark,
        [(float("nan"), float("inf"), float("-inf"), 1.5)],
        "a double, b double, c double, d double",
    )
    r = df.first()
    assert math.isnan(r.a)
    assert r.b == math.inf and r.c == -math.inf and r.d == 1.5


def test_approx_quantiles_within_rank_error_of_exact(spark, sf_dir):
    """percentile_approx(accuracy=10000) guarantees rank error
    <= n/accuracy per group (the KLL-style sketch contract). Pins the
    approx_revenue_quantiles rows-only query to the oracle-green exact
    revenue path: for every (priority, p) the approx value's RANK in
    the group's sorted o_totalprice must land within eps*n (+1 for
    boundary ties) of the target rank — the documented bound, asserted
    rather than assumed."""
    import math as _math

    from pyspark.sql import functions as FF

    from value_at_risk_spark.queries import QUERIES

    # the r12-graduated query emits band verdicts itself — all must
    # hold, and the exact values must match an independent recompute
    rows = QUERIES["approx_revenue_quantiles"](spark, sf_dir).collect()
    assert rows and all(r.p50_ok and r.p90_ok and r.p99_ok for r in rows)
    # tighter direct pin on the raw sketch: rank error <= eps*n (+1)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    approx = {
        r.priority: (r.a50, r.a90, r.a99)
        for r in o.groupBy(
            FF.col("o_orderpriority").alias("priority")
        ).agg(
            FF.element_at(
                FF.percentile_approx(
                    "o_totalprice",
                    FF.array(FF.lit(0.5), FF.lit(0.9), FF.lit(0.99)),
                    10000,
                ),
                1,
            ).alias("a50"),
            FF.element_at(
                FF.percentile_approx(
                    "o_totalprice",
                    FF.array(FF.lit(0.5), FF.lit(0.9), FF.lit(0.99)),
                    10000,
                ),
                2,
            ).alias("a90"),
            FF.element_at(
                FF.percentile_approx(
                    "o_totalprice",
                    FF.array(FF.lit(0.5), FF.lit(0.9), FF.lit(0.99)),
                    10000,
                ),
                3,
            ).alias("a99"),
        ).collect()
    }
    pdf = o.select("o_orderpriority", "o_totalprice").toPandas()
    eps = 1.0 / 10000  # rank error bound at accuracy=10000
    for prio, vals in approx.items():
        grp = np.sort(
            pdf.loc[pdf["o_orderpriority"] == prio, "o_totalprice"].values
        )
        n = len(grp)
        slack = _math.ceil(eps * n) + 1
        for p, got in zip((0.5, 0.9, 0.99), vals):
            rank = np.searchsorted(grp, got, side="right")
            target = p * n
            assert abs(rank - target) <= slack, (
                f"{prio} p{int(p*100)}: rank {rank} vs target {target:.1f} "
                f"(n={n}, slack={slack})"
            )


def test_hll_approx_distinct_within_error_bound(spark, sf_dir):
    """approx_count_distinct(rsd=0.01) is a HyperLogLog++ sketch whose
    relative standard deviation is the rsd parameter. Pins the
    approx_distinct_users rows-only query to the oracle-green exact
    distinct_users_by_type: per event_type the estimate must land
    within 5*rsd (5 sigma) of the exact count — the documented sketch
    contract asserted as a bound, not assumed."""
    from value_at_risk_spark.queries import QUERIES

    exact = {
        r.event_type: r.n_users
        for r in QUERIES["distinct_users_by_type"](spark, sf_dir).collect()
    }
    # the query is oracle-graduated (r12): it emits the exact count
    # (hash-compared against DuckDB) plus the 5-sigma verdict itself
    rows = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    got = {r.event_type: (r.n_users_exact, r.within_tol) for r in rows}
    assert set(got) == set(exact) and len(exact) > 0
    for et, n in exact.items():
        n_exact, ok = got[et]
        assert n_exact == n
        assert ok, f"{et}: HLL estimate outside 5*rsd of exact {n}"


def test_stratified_sample_fractions_match_hash_oracle(spark, sf_dir):
    """The seeded-RNG sampleBy path (sample_stratified, rows-only) is
    pinned to the hash-threshold path (sample_stratified_hash, oracle-
    green) through their common contract: per-stratum realized sampling
    fractions. Both must land within 5-sigma binomial tolerance of the
    same target rates over the same strata, and the RNG path must be
    bit-stable across reruns (seeded)."""
    import math as _math

    from value_at_risk_spark.queries import QUERIES

    targets = {"en": 0.5, "de": 0.3, "es": 0.3, "zh": 0.2, "fr": 0.2}
    totals = {
        r.lang: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    # the RNG path is oracle-graduated (r12): the query itself emits
    # (rate_ok, rerun_same) verdicts per stratum — both must hold
    rng = QUERIES["sample_stratified"](spark, sf_dir).collect()
    assert {r.lang for r in rng} == set(targets)
    assert all(r.rate_ok for r in rng)
    assert all(r.rerun_same for r in rng)

    # the hash path stays directly checkable: per-stratum realized
    # fractions within the 5-sigma binomial band, rows deterministic
    def strata_counts():
        rows = QUERIES["sample_stratified_hash"](spark, sf_dir).collect()
        out: dict[str, int] = {}
        for r in rows:
            out[r.lang] = out.get(r.lang, 0) + 1
        return out, {(r.doc_id, r.lang) for r in rows}

    hash_counts, hrows = strata_counts()
    for lang, p in targets.items():
        n = totals[lang]
        tol = 5 * _math.sqrt(p * (1 - p) * n)  # 5-sigma binomial
        k = hash_counts.get(lang, 0)
        assert abs(k - p * n) <= tol, (
            f"hash {lang}: {k}/{n} vs target {p} (tol {tol:.1f})"
        )
    _, hrows2 = strata_counts()
    assert hrows == hrows2


def test_doc_fingerprints_bottom_k_deterministic(spark, sf_dir):
    """doc_fingerprints_rolling (oracle-checked) is a bottom-k sketch:
    its fingerprint must equal the k smallest 5-gram md5 values per
    document computed by an independent plan (sort_array + slice over
    the full hash list, no window), and must be invariant under
    adversarial repartitioning — the determinism contract that makes
    the sketch usable as a join key at corpus scale."""
    from value_at_risk_spark.functions.text import shingles
    from value_at_risk_spark.queries import QUERIES

    got = {
        r.doc_id: r.fingerprint
        for r in QUERIES["doc_fingerprints_rolling"](spark, sf_dir).collect()
    }

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(7)
    independent = (
        d.select("doc_id", F.explode(shingles("text", 5)).alias("_s"))
        .select("doc_id", F.md5("_s").alias("_h"))
        .groupBy("doc_id")
        .agg(
            F.slice(F.sort_array(F.collect_list("_h")), 1, 8).alias("fp")
        )
        .select(
            "doc_id",
            F.concat_ws(",", "fp").alias("fingerprint"),
        )
    )
    exp = {r.doc_id: r.fingerprint for r in independent.collect()}
    assert got == exp and len(got) > 0


def test_epoch_helpers_tz_free_parity(spark, sf_dir):
    """epoch_seconds/epoch_micros (the tz-free replacements for
    CAST(ts AS BIGINT)/unix_micros, which ANSI forbids on the
    TIMESTAMP_NTZ columns the driver's tz-naive parquet scans as):
    exact parity with DuckDB's naive-as-UTC epoch()/epoch_us(), and —
    the property the plain casts lack — invariance to
    spark.sql.session.timeZone on NTZ inputs."""
    import duckdb

    from value_at_risk_spark.functions.timeutil import epoch_micros, epoch_seconds

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert dict(e.dtypes)["ts"] == "timestamp_ntz"

    got = (
        e.orderBy("event_id")
        .select(
            "event_id",
            epoch_seconds("ts").alias("es"),
            epoch_micros("ts").alias("eu"),
        )
        .limit(200)
        .collect()
    )
    con = duckdb.connect()
    exp = con.execute(
        "SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT), epoch_us(ts) "
        f"FROM read_parquet('{sf_dir}/events.parquet') ORDER BY event_id LIMIT 200"
    ).fetchall()
    assert [(r.event_id, r.es, r.eu) for r in got] == [tuple(x) for x in exp]

    # tz invariance: same values under a non-UTC session timezone
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got2 = (
            e.orderBy("event_id")
            .select(epoch_seconds("ts").alias("es"), epoch_micros("ts").alias("eu"))
            .limit(200)
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert [(r.es, r.eu) for r in got2] == [(r.es, r.eu) for r in got]


def test_var_shortfall_property_vs_numpy(spark):
    """Property (hypothesis): the engine's VaR-99/ES (linear-
    interpolation percentile + tail mean at or below it) equals
    numpy's own percentile/tail arithmetic for arbitrary float
    samples — not just the arange ramp the reference's unit test uses
    (tests_utils.py:15-26)."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from value_at_risk_spark.functions.risk import (
        expected_shortfall_expr,
        value_at_risk_expr,
    )

    vals = st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=2,
        max_size=60,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(xs=vals, conf=st.sampled_from([95.0, 99.0]))
    def check(xs, conf):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(float(x),) for x in xs], "x double")
        v = df.agg(value_at_risk_expr("x", conf).alias("v")).first().v
        es = df.agg(
            expected_shortfall_expr("x", F.lit(float(v))).alias("es")
        ).first().es
        exp_v = float(np.percentile(np.array(xs), 100.0 - conf))
        a = np.array(xs)
        exp_es = float(a[a <= exp_v].mean())
        assert v == pytest.approx(exp_v, rel=1e-9, abs=1e-9)
        assert es == pytest.approx(exp_es, rel=1e-9, abs=1e-9)

    check()


def test_pack_sequences_property_vs_python_nextfit(spark):
    """Property (hypothesis): the distributed packer with ONE bucket
    equals a pure-Python next-fit pass over the id-sorted token list —
    the sequential semantics the applyInPandas form must reproduce
    regardless of partitioning or Arrow batching."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from value_at_risk_spark.operators.packing import pack_sequences

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        toks=st.lists(
            st.integers(min_value=1, max_value=40), min_size=1, max_size=40
        ),
        cap=st.sampled_from([16, 25, 64]),
    )
    def check(toks, cap):
        # python reference: next-fit over ids 0..n-1 in order
        exp = {}
        seq, acc = 0, 0
        for i, t in enumerate(toks):
            if t > cap:
                if acc > 0:
                    seq += 1
                exp[i] = (seq, t, True)
                seq += 1
                acc = 0
                continue
            if acc + t > cap:
                seq += 1
                acc = 0
            acc += t
            exp[i] = (seq, acc, False)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
        ).repartition(5)
        got = {
            r.doc_id: (r.seq_in_bucket, r.seq_tokens_so_far, r.oversize)
            for r in pack_sequences(
                df, max_tokens=cap, buckets=1
            ).collect()
        }
        assert got == exp

    check()


def test_epoch_helpers_property_vs_python(spark):
    """Property (hypothesis): epoch_seconds/epoch_micros equal Python's
    own naive-UTC epoch arithmetic for arbitrary microsecond timestamps
    across the parquet-representable range — including pre-1970
    negatives, leap days, and end-of-day fractions."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from value_at_risk_spark.functions.timeutil import epoch_micros, epoch_seconds

    micros = st.integers(
        min_value=-(10**15),  # ~1938
        max_value=4 * 10**15,  # ~2096
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(us=st.lists(micros, min_size=1, max_size=20))
    def check(us):
        base = datetime(1970, 1, 1)
        rows = [(i, base + timedelta(microseconds=u)) for i, u in enumerate(us)]
        df = spark.createDataFrame(rows, "i long, ts timestamp_ntz")
        got = {
            r.i: (r.es, r.eu)
            for r in df.select(
                "i",
                epoch_seconds("ts").alias("es"),
                epoch_micros("ts").alias("eu"),
            ).collect()
        }
        for i, u in enumerate(us):
            exp_eu = u
            exp_es = u // 1_000_000  # floor division == wall-clock floor
            assert got[i] == (exp_es, exp_eu), (u, got[i])

    check()


def test_classification_report_edge_classes(spark):
    """classification_report: null precision for never-predicted
    classes, null recall for zero-support classes (try_divide — no
    invented zeros), exact tp/support/pred_n accounting, and perfect
    scores on a perfect classifier."""
    from value_at_risk_spark.functions.evalmetrics import classification_report

    df = spark.createDataFrame(
        [
            ("a", "a"), ("a", "a"), ("a", "b"),   # a: tp=2, fn=1
            ("b", "a"),                           # b: tp=0, support=1
            ("c", "c"),                           # c: perfect
            # 'd' never gold; predicted once:
            ("c", "d"),
        ],
        "gold string, pred string",
    )
    got = {r.label: r for r in classification_report(df).collect()}
    assert set(got) == {"a", "b", "c", "d"}
    a = got["a"]
    assert (a.support, a.tp, a.pred_n) == (3, 2, 3)
    assert abs(a.precision - 2 / 3) < 1e-6 and abs(a.recall - 2 / 3) < 1e-6
    b = got["b"]
    assert (b.support, b.tp, b.pred_n) == (1, 0, 1)
    assert b.precision == 0.0 and b.recall == 0.0 and b.f1 is None
    d = got["d"]
    assert d.support == 0 and d.pred_n == 1
    assert d.recall is None  # undefined, not zero

    perfect = spark.createDataFrame(
        [("x", "x")] * 5 + [("y", "y")] * 3, "gold string, pred string"
    )
    for r in classification_report(perfect).collect():
        assert r.precision == 1.0 and r.recall == 1.0 and r.f1 == 1.0


def test_documents_fixture_whitespace_assumption(sf_dir):
    """The text oracles tokenize with string_split(lower(text), ' ')
    while the Spark side splits on the regex \\s+ — equivalent ONLY
    while the documents fixture contains no tab/newline/CR and no
    consecutive/leading/trailing spaces beyond what both sides drop as
    empties. Guard the assumption so a fixture regen that introduces
    other whitespace fails HERE with a clear message instead of as an
    opaque hash mismatch in the BPE / heavy-hitters / PMI oracles."""
    import duckdb

    con = duckdb.connect()
    bad = con.sql(
        "SELECT COUNT(*) FROM read_parquet("
        f"'{sf_dir}/documents.parquet') "
        "WHERE regexp_matches(text, '[\\t\\n\\r\\x0b\\x0c]')"
    ).fetchone()[0]
    assert bad == 0, (
        f"{bad} document(s) contain non-space whitespace — the "
        "single-space DuckDB oracle tokenizer no longer matches "
        "Spark's \\s+ split; update the text oracles together"
    )


def test_xxh64_sql_parity(spark):
    """The DuckDB-SQL XXH64 replay (functions/xxh64_sql.py — the r13
    SimHash oracle graduation) equals Spark's ``F.xxhash64`` (seed
    42, UTF-8 bytes) BIT FOR BIT across every length class the
    algorithm branches on: empty, 1-byte tail, 4-byte tail, exact
    8/32-byte boundaries, multi-stripe (>64 bytes), and multibyte
    UTF-8 (hashing is over encoded bytes, not code points)."""
    import random
    import string

    import duckdb

    from value_at_risk_spark.functions.xxh64_sql import (
        xxh64_cte,
        xxh64_signed,
    )

    tests = [
        "", "a", "ab", "abc", "1234", "12345", "1234567", "12345678",
        "123456789012", "abcdefghijklmnop", "x" * 31, "x" * 32,
        "x" * 33, "x" * 39, "x" * 40, "x" * 64, "x" * 65, "0" * 100,
        "the quick brown fox jumps over the lazy dog and keeps going",
        "café", "naïve-ütf8-строка", "emoji \U0001f600 bytes",
    ]
    rng = random.Random(11)
    tests += [
        "".join(
            rng.choice(string.ascii_letters + "äöü§ ")
            for _ in range(rng.randint(0, 90))
        )
        for _ in range(40)
    ]
    tests = sorted(set(tests))
    want = {
        r.s: r.h
        for r in spark.createDataFrame([(t,) for t in tests], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE toks(t VARCHAR)")
    con.executemany("INSERT INTO toks VALUES (?)", [(t,) for t in tests])
    sql = (
        "WITH "
        + xxh64_cte("toks")
        + f"SELECT t, {xxh64_signed()} AS h FROM hsh"
    )
    got = dict(con.sql(sql).fetchall())
    assert got == want
    # the pure-Python twin (functions/xxh64_py.py — the multimodal
    # stub kernel's hash) agrees on the same cases
    from value_at_risk_spark.functions.xxh64_py import (
        xxh64_signed as xxh64_signed_py,
    )

    for t in tests:
        assert xxh64_signed_py(t.encode("utf-8")) == want[t], repr(t)


def test_xxh64_py_parity_property(spark):
    """Property form of the xxh64_py parity pin: for ARBITRARY
    unicode strings (hypothesis; includes multi-stripe lengths and
    multibyte code points), the pure-Python twin equals Spark's
    F.xxhash64 bit for bit — the guarantee the multimodal stub
    kernel's oracle rests on."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from value_at_risk_spark.functions.xxh64_py import xxh64_signed

    @given(
        ts=st.lists(
            st.text(max_size=120), min_size=1, max_size=25, unique=True
        )
    )
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    def prop(ts):
        rows = (
            spark.createDataFrame([(t,) for t in ts], "t string")
            .select("t", F.xxhash64("t").alias("h"))
            .collect()
        )
        for r in rows:
            assert xxh64_signed(r.t.encode("utf-8")) == r.h, repr(r.t)

    prop()


def test_gopher_quality_flags_rule_boundaries(spark):
    """Each Gopher rule exercised at a boundary the documents fixture
    never hits: symbol ratio ('#'/'...'), alpha ratio (numeric words),
    word-count bounds, and mean-word-length bounds."""
    from value_at_risk_spark.functions.text import gopher_quality_flags

    good = "the cat sat on a mat with " + " ".join(
        ["word"] * 50
    )  # 57 words, stopwords present, mean len in [3,10]
    short = "the cat sat on a mat"  # fails word count (6 < 50)
    symbols = "the " + "# " * 60 + "of " + " ".join(["word"] * 50)
    numeric = "the of " + " ".join(["12345"] * 98)  # alpha frac 0.02
    longwords = "the of " + " ".join(["x" * 40] * 98)  # mean len ~39
    nostop = " ".join(["word"] * 60)  # zero stopwords
    df = spark.createDataFrame(
        [
            ("good", good),
            ("short", short),
            ("symbols", symbols),
            ("numeric", numeric),
            ("longwords", longwords),
            ("nostop", nostop),
        ],
        "name string, text string",
    )
    rows = {
        r.name: r.g.asDict()
        for r in df.select(
            "name", gopher_quality_flags("text").alias("g")
        ).collect()
    }
    assert all(rows["good"].values()), rows["good"]
    assert not rows["short"]["word_count_ok"]
    assert not rows["symbols"]["symbol_ratio_ok"]
    assert rows["symbols"]["word_count_ok"]  # 112 words: only the rule fails
    assert not rows["numeric"]["alpha_ratio_ok"]
    assert not rows["longwords"]["mean_word_len_ok"]
    assert not rows["nostop"]["stopwords_ok"]
    assert rows["nostop"]["alpha_ratio_ok"]


def test_jl_projection_numpy_parity_and_distance_fold(spark):
    """jl_project equals the numpy matmul through the same rounded
    matrix; squared_distance equals the numpy norm; projection
    preserves distances within the JL envelope on a gaussian cloud."""
    from value_at_risk_spark.functions.vector import (
        jl_project,
        jl_projection_matrix,
        squared_distance,
    )

    mat = jl_projection_matrix(16, 8, seed=5)
    R = np.array(mat)
    rng = np.random.default_rng(3)
    pts = rng.standard_normal((20, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in p]) for i, p in enumerate(pts)],
        "id long, v array<double>",
    )
    rows = {r.id: np.array(r.p) for r in df.select(
        "id", jl_project("v", mat).alias("p")).collect()}
    for i in range(20):
        assert np.allclose(rows[i], R @ pts[i], atol=1e-12)

    d = df.alias("a").join(
        df.alias("b"), F.col("a.id") + 1 == F.col("b.id")
    ).select(
        squared_distance(F.col("a.v"), F.col("b.v")).alias("d2")
    ).collect()
    expect = [((pts[i] - pts[i + 1]) ** 2).sum() for i in range(19)]
    assert sorted(round(r.d2, 9) for r in d) == sorted(
        round(float(e), 9) for e in expect
    )

    # the SQL-text fold is BIT-IDENTICAL to a left-to-right double
    # fold of the same literals — exact equality per component,
    # including exponent-heavy literals; the operand name is read as
    # F.col reads it (struct path, escaped backtick)
    mat2 = [[x * s for x in row] for row, s in zip(mat, [1e-7, 1.0, -1e3, 1.0] * 2)]
    folds = []
    for p in pts:
        out = []
        for row in mat2:
            acc = 0.0
            for x, y in zip(p, row):
                acc = acc + float(x) * float(y)
            out.append(acc)
        folds.append(out)
    named = df.select(
        "id",
        "v",
        F.struct(F.col("v").alias("emb")).alias("s"),
        F.col("v").alias("a`b"),
    )
    for name in ("v", "s.emb", "a`b"):
        got = named.select("id", jl_project(name, mat2).alias("p")).collect()
        assert len(got) == 20
        for r in got:
            assert list(r.p) == folds[r.id]
    with pytest.raises(TypeError, match="column name"):
        jl_project(F.col("v"), mat2)


def test_shingles_let_bound_form_parity(spark):
    """The r16 let-binding rewrite of ``shingles``/``chunk_tokens``
    (token array bound through a one-element-array transform so the
    per-position lambda sees a BoundReference instead of re-evaluating
    the regex tokenize per element — the O(tokens²) HOF hazard) must
    be bit-identical to the direct form it replaced, across the edge
    cases the direct form defined: empty text, all-separator text,
    fewer tokens than n (one truncated shingle), exactly n tokens,
    repeated runs of whitespace."""
    from value_at_risk_spark.functions.text import (
        chunk_tokens,
        shingles,
        tokens,
    )

    rows = [
        (0, "a b c d e f g"),
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, "x  y\t z   w"),
        (7, "tok " * 200),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles_direct(text, n):
        toks = tokens(text)
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
        )
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        )

    for n in (2, 3, 5):
        got = df.select("doc_id", shingles("text", n).alias("s")).collect()
        exp = df.select(
            "doc_id", shingles_direct("text", n).alias("s")
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, exp))

    def chunks_direct(text, chunk_size, overlap):
        stride = chunk_size - overlap
        toks = tokens(text)
        n_chunks = F.greatest(
            F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride)).cast(
                "int"
            ),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_size)
                ).alias("chunk"),
            ),
        )

    got = df.select("doc_id", chunk_tokens("text", 8, 2).alias("c")).collect()
    exp = df.select(
        "doc_id", chunks_direct("text", 8, 2).alias("c")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


def test_spread_small_input_guard(spark):
    """spread_small_input fires only when the planned parallelism is
    below defaultParallelism, repartitions with an EXPLICIT partition
    count (exempt from AQE's small-shuffle coalescing — the failure
    mode that made the guard a silent no-op when first measured), and
    never changes results."""
    from value_at_risk_spark.operators.skew import spread_small_input

    par = spark.sparkContext.defaultParallelism
    small = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    ).coalesce(1)
    spread = spread_small_input(small, "doc_id")
    assert spread.rdd.getNumPartitions() == par
    assert sorted(r.doc_id for r in spread.collect()) == list(range(100))

    wide = spark.range(1000).repartition(par + 4)
    assert spread_small_input(wide, "id") is wide  # no-op, same object
