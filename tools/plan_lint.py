"""Registry-wide physical-plan hygiene lint (ratchet form).

Builds EVERY registered query's DataFrame at a small SF and scans the
physical plan text for the silent scale killers:

- ``BatchEvalPython`` — a row-at-a-time Python UDF. The engine's
  contract is Arrow-vectorized Python only (ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas are fine). Forbidden outright,
  no allowlist.
- ``CartesianProduct`` — a true unbroadcast cartesian. The registry
  has ZERO today (every unkeyed join Catalyst plans is a
  BroadcastNestedLoopJoin with a bounded build side); forbidden
  outright so one can never appear silently.
- ``BroadcastNestedLoopJoin`` — ratcheted, not forbidden: the
  registry's instances are all the scalar-broadcast idiom (a keyless
  global aggregate — ``HashAggregate(keys=[])`` under a
  ``BroadcastExchange IdentityBroadcastMode`` — crossed into the big
  side: O(N) at any scale; spot-verified). Each query's BNLJ COUNT is
  pinned in ``tools/plan_baseline.json``; a count above baseline
  means a NEW unkeyed join appeared — e.g. a join key lost in a
  refactor silently turning an equi-join into a cross — and the lint
  fails. Counts below baseline auto-tighten on --update.
- **Unpartitioned WindowExec** (r15) — ``Window [exprs], [order]``
  with NO partition spec runs as ONE task holding the whole input:
  the remaining silent scale killer (SURVEY §4; the reference itself
  has the hazard at 01_var_market_etl.py:168 — a global
  ``orderBy().window()`` over the full history). Ratcheted like BNLJ:
  every carrier is pinned in plan_baseline.json with a per-query
  ``bounded`` note naming WHY its window input is provably bounded
  (a <=k-group aggregate, a VALUES literal, a top-k already cut by
  TakeOrdered...). A new query that global-sorts an unbounded frame
  fails the lint; a pinned carrier whose note is missing fails too,
  so the boundedness claim lives in the ratchet, not in docstrings.
  Operators with genuinely global ordering needs use the distributed
  two-phase rank (operators/ranks.py) which plans ONLY partitioned
  windows.

Plan construction only (executedPlan() plans, does not run), though
driver-side training collects inside query builders (k-means seeds,
ANN codebooks, BPE merges) do execute small jobs — hence sf0.001.

Baseline schema (plan_baseline.json):
  {"bnlj": {query: count},
   "global_window": {query: {"count": n, "bounded": "why"}}}

Usage:
  python3 tools/plan_lint.py [sf_dir] [names...]   # lint (exit 1 on fail)
  python3 tools/plan_lint.py --update [sf_dir]     # rewrite baseline
Wired into pytest via tests/test_plans.py (subset) and run over the
full registry before each round's closure sweep.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

BASELINE_PATH = os.path.join(os.path.dirname(__file__), "plan_baseline.json")
FORBIDDEN = ("BatchEvalPython", "CartesianProduct")
RATCHETED = "BroadcastNestedLoopJoin"


def count_global_windows(plan: str) -> int:
    """Count WindowExec nodes with no partition spec (single-task).

    Plan-text forms (verified empirically on Spark 4.1):
      ``Window [exprs], [part], [order]``  3 groups — partitioned: fine
      ``Window [exprs], [part]``           2 groups, last group has no
                                           sort markers — partitioned
                                           unordered: fine
      ``Window [exprs], [order]``          2 groups, last group carries
                                           ASC/DESC — GLOBAL sort: flag
      ``Window [exprs]``                   1 group — a constant
                                           partition (partitionBy(lit))
                                           folded away: every row in
                                           ONE task: flag
    """
    n = 0
    for line in plan.splitlines():
        s = line.strip().lstrip("+-*: ").strip()
        if not s.startswith("Window "):
            continue
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in s:
            if ch == "[":
                if depth == 0:
                    buf = []
                depth += 1
                if depth > 1:
                    buf.append(ch)
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                else:
                    buf.append(ch)
            elif depth > 0:
                buf.append(ch)
        if len(groups) <= 1:
            n += 1  # constant partition folded away: one task
        elif len(groups) == 2 and _is_order_spec(groups[-1]):
            n += 1  # order spec with no partition spec: global sort
    return n


def _is_order_spec(group: str) -> bool:
    """True iff the bracket group is a window ORDER spec: every
    top-level comma-separated expression ends with Spark's sort-order
    tokens (``<expr> ASC|DESC [NULLS FIRST|LAST]``). Structural, not a
    substring scan — a PARTITION spec whose expression text merely
    contains ' ASC'/' DESC' (e.g. a CASE literal) no longer
    false-positives (ADVICE r15)."""
    parts: list[str] = []
    depth = 0
    buf: list[str] = []
    for ch in group:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    if not parts or not any(p.strip() for p in parts):
        return False
    for p in parts:
        toks = p.split()
        if not toks:
            return False
        if toks[-2:] in (["NULLS", "FIRST"], ["NULLS", "LAST"]):
            toks = toks[:-2]
        if not toks or toks[-1] not in ("ASC", "DESC"):
            return False
    return True


def _plans(spark, sf_dir: str, names=None):
    from value_at_risk_spark.queries import QUERIES

    for name, fn in sorted(QUERIES.items()):
        if names and name not in names:
            continue
        try:
            df = fn(spark, sf_dir)
            yield name, df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 — surface, don't mask
            yield name, f"__PLAN_CONSTRUCTION_FAILED__ {ex!r}"


def _load_baseline() -> tuple[dict, dict]:
    with open(BASELINE_PATH) as f:
        raw = json.load(f)
    return raw.get("bnlj", {}), raw.get("global_window", {})


def lint(spark, sf_dir: str, names=None) -> list[tuple[str, str]]:
    bnlj_base, gw_base = _load_baseline()
    bad: list[tuple[str, str]] = []
    for name, plan in _plans(spark, sf_dir, names):
        if plan.startswith("__PLAN_CONSTRUCTION_FAILED__"):
            bad.append((name, plan[:220]))
            continue
        for tok in FORBIDDEN:
            if tok in plan:
                bad.append((name, f"forbidden operator: {tok}"))
        n = plan.count(RATCHETED)
        allowed = bnlj_base.get(name, 0)
        if n > allowed:
            frag = next(
                line.strip() for line in plan.splitlines() if RATCHETED in line
            )
            bad.append(
                (
                    name,
                    f"{RATCHETED} count {n} > baseline {allowed} "
                    f"(new unkeyed join?): {frag[:140]}",
                )
            )
        gw = count_global_windows(plan)
        entry = gw_base.get(name, {})
        gw_allowed = entry.get("count", 0)
        if gw > gw_allowed:
            frag = next(
                line.strip()
                for line in plan.splitlines()
                if line.strip().lstrip("+-*: ").startswith("Window ")
            )
            bad.append(
                (
                    name,
                    f"unpartitioned Window count {gw} > baseline "
                    f"{gw_allowed} (single-task global sort over an "
                    f"unbounded input? use operators/ranks.py): "
                    f"{frag[:120]}",
                )
            )
        elif gw and not str(entry.get("bounded", "")).strip():
            bad.append(
                (
                    name,
                    "unpartitioned Window carrier has no 'bounded' note "
                    "in plan_baseline.json — justify why its input is "
                    "bounded or rewrite with operators/ranks.py",
                )
            )
    return bad


def update_baseline(spark, sf_dir: str) -> dict:
    _, gw_old = _load_baseline()
    bnlj: dict[str, int] = {}
    gw: dict[str, dict] = {}
    for name, plan in _plans(spark, sf_dir):
        if plan.startswith("__PLAN_CONSTRUCTION_FAILED__"):
            raise RuntimeError(f"{name}: {plan[:220]}")
        n = plan.count(RATCHETED)
        if n:
            bnlj[name] = n
        g = count_global_windows(plan)
        if g:
            note = str(gw_old.get(name, {}).get("bounded", "")).strip()
            gw[name] = {"count": g, "bounded": note}  # empty note => lint red
    with open(BASELINE_PATH, "w") as f:
        json.dump(
            {"bnlj": bnlj, "global_window": gw}, f, indent=1, sort_keys=True
        )
        f.write("\n")
    return {"bnlj": bnlj, "global_window": gw}


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from value_at_risk_spark.session import get_spark

    argv = sys.argv[1:]
    update = "--update" in argv
    argv = [a for a in argv if a != "--update"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    names = set(argv[1:]) or None
    spark = get_spark("plan-lint")
    if update:
        counts = update_baseline(spark, sf_dir)
        print(
            f"baseline updated: {len(counts['bnlj'])} BNLJ carriers, "
            f"{len(counts['global_window'])} global-window carriers "
            f"({sum(1 for v in counts['global_window'].values() if not v['bounded'])} "
            f"need a bounded note)"
        )
        return 0
    bad = lint(spark, sf_dir, names)
    for name, why in bad:
        print(f"LINT {name}: {why}")
    print(f"{len(bad)} violations")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
