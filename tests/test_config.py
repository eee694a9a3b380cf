from __future__ import annotations

import json

from value_at_risk_spark.plans.config import (
    load_json_config,
    load_portfolio,
    var_config_from_dict,
)


def test_var_config_from_dict():
    cfg = var_config_from_dict(
        {
            "monte-carlo": {"runs": 32000, "volatility": 90},
            "basel": {"days": 250},
            "factors": ["SP500", "NYSE"],
        }
    )
    assert cfg.runs == 32000
    assert cfg.volatility_days == 90
    assert cfg.basel_days == 250
    assert cfg.factor_cols == ("SP500", "NYSE")


def test_load_portfolio(spark, tmp_path):
    p = tmp_path / "portfolio.json"
    rows = [
        {
            "country": "US",
            "company": "Acme",
            "ticker": "ACM",
            "industry": "Widgets",
            "weight": 1 / 29,
        }
    ]
    p.write_text(json.dumps(rows))
    df = load_portfolio(spark, str(p))
    r = df.first()
    assert (r.ticker, r.country, r.industry) == ("ACM", "US", "Widgets")
    assert abs(r.weight - 1 / 29) < 1e-12
    assert load_json_config(str(p)) == rows


def test_oracle_type_parity_canon():
    """The sweep's type-parity preflight (tools/check_oracle): DuckDB
    planner types and Spark simpleStrings collapse into shared
    comparison classes, HUGEINT maps to an int128 class no Spark type
    can match (the class that kept two gate rows red for three
    rounds), and DECIMAL never silently equals a float/int column."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.check_oracle import _canon_duck_type, _canon_spark_type

    pairs_equal = [
        ("BIGINT", "bigint"), ("INTEGER", "bigint"), ("DOUBLE", "double"),
        ("VARCHAR", "string"), ("BOOLEAN", "boolean"), ("DATE", "date"),
        ("TIMESTAMP", "timestamp"), ("TIMESTAMP_NS", "timestamp"),
        ("DOUBLE[]", "array<double>"), ("BLOB", "binary"),
        ("DECIMAL(10,2)", "decimal(10,2)"),
    ]
    for duck, spark_t in pairs_equal:
        assert _canon_duck_type(duck) == _canon_spark_type(spark_t), (
            duck, spark_t,
        )
    # the witness class: HUGEINT (Arrow decimal128(38,0)) vs int64
    assert _canon_duck_type("HUGEINT") == "int128"
    assert _canon_duck_type("HUGEINT") != _canon_spark_type("bigint")
    # DECIMAL vs double/bigint mismatch (the dp_noisy_release catch)
    assert _canon_duck_type("DECIMAL(2,1)") != _canon_spark_type("double")
    assert _canon_duck_type("DECIMAL(38,0)") != _canon_spark_type("bigint")
