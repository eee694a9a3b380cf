"""``engine_queries``: the analyst's view, one query at a time.

Per iteration, ``TIMED`` queries, each built and collected once in a
seed-permuted order over seeded tables at scale factor ``SF``; set-up
ends with a cold pass and ``WARM_PASSES`` more, so the timed passes see
a warm session.
Operators, scans and driver-side planning dominate; no headline query
calls ``montecarlo``.

Each query call is split at the call: ``build`` is the query function
(planning plus any eager checkpoint or ``.first()`` inside it),
``exec`` is the final ``collect``. Every result is checked against
the query's DuckDB oracle, computed once before timing.

``TIMED`` is the first 7 of ``bench.py``'s 26 headline queries: a
warm pass over them takes about 3 s, so set-up can afford the
``WARM_PASSES`` passes the JIT needs after the cold one (the second
pass in a session ran 1.5x slower and burned 2.5x the CPU of the
sixth) and a run still times several passes; all 26 plus
``var_pipeline_end_to_end`` take about eight times as long. An odd
count puts ``op_p50_s`` in the middle of one query's samples rather
than between two queries' times.

The traced run also calls each of the other headline queries twice and
reports the second call (``queries.<name>.s``), and
``var_pipeline_end_to_end`` once: it runs the same ``run_pipeline``
code as ``var_reference`` with a long history, 5 tickers and only 500
trials, so a VaR-path change can be checked at that small size there,
but a second call would take the traced run past its time limit. The
traced run then runs the Delta DML sequence of ``delta_dml`` once cold
and once traced.
"""

from __future__ import annotations

import os
import random

import inputs
from harness import Op
from workloads import delta_dml

SF = 0.001
# bench.py's headline list as of this benchmark's definition, frozen so
# later edits to bench.py cannot change what this workload measures
HEADLINE = (
    "pricing_summary", "join_revenue_by_nation", "top3_orders_per_customer",
    "asof_join_orders_returns", "trailing_volatility_90d", "var99_by_series",
    "basel_breach_zones", "vector_sum_by_label", "ann_cosine_topk",
    "dedup_exact", "text_quality_stats", "minhash_lsh_pairs",
    "near_dedup_survivors", "embedding_covariance", "training_data_prep",
    "ann_near_dup_lsh", "min_cost_supplier", "regional_nation_revenue",
    "heavy_hitter_tokens", "twa_value_by_user_type", "duplicated_ngram_spans",
    "sq_ann_topk", "remove_duplicated_spans", "data_quality_audit",
    "pagerank_trade_graph", "source_overlap_matrix",
)
TIMED = HEADLINE[:7]
WARM_PASSES = 3
PIPELINE = "var_pipeline_end_to_end"
TRACED_ONLY = HEADLINE[7:] + (PIPELINE,)


class Workload:
    name = "engine_queries"
    modules = ("value_at_risk_spark.queries",)

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.order = list(TIMED)
        random.Random(seed).shuffle(self.order)
        self.expected: dict[str, tuple] = {}
        self.traced_failures: list[str] = []
        self.dml = delta_dml.Workload(seed)

    def prepare(self, out_dir: str) -> None:
        self.sf_dir = inputs.write_tables(out_dir, self.seed, SF)

    def start(self, spark) -> None:
        """DuckDB oracle answers over the same files, before timing."""
        import duckdb

        from check_oracle import _norm_rows
        from value_at_risk_spark.queries import ORACLES
        from value_at_risk_spark.sources.registry import TABLES

        self.spark = spark
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in HEADLINE:  # the traced run checks them all
                rel = con.sql(ORACLES[name])
                self.expected[name] = _norm_rows(
                    [c.lower() for c in rel.columns], rel.fetchall()
                )
        finally:
            con.close()

    def warm_up(self, probe) -> None:
        """One cold pass in the timed order, which compiles every plan
        and starts the Python workers, then ``WARM_PASSES`` more for
        the JIT."""
        for _ in range(1 + WARM_PASSES):
            self.iteration(probe)

    def _query(self, probe, name: str):
        """(build span, exec span, normalized rows) of one query call."""
        from check_oracle import _norm_rows
        from value_at_risk_spark.queries import QUERIES

        with probe.span(f"queries.{name}.build") as build:
            df = QUERIES[name](self.spark, self.sf_dir)
        with probe.span(f"queries.{name}.exec") as run:
            rows = [tuple(r) for r in df.collect()]
        return build, run, _norm_rows([c.lower() for c in df.columns], rows)

    def iteration(self, probe) -> list[Op]:
        ops = []
        for name in self.order:
            build, run, got = self._query(probe, name)
            ops.append(Op(
                name, build.wall_s + run.wall_s, got == self.expected[name],
                build.cpu_s + run.cpu_s,
            ))
        return ops

    def final_checks(self) -> list[str]:
        return self.traced_failures

    def layers(self, probe) -> None:
        """Each headline query of ``TRACED_ONLY`` twice, checked like
        the timed ones, and ``var_pipeline_end_to_end`` once: its
        oracle is a golden table keyed to the fixed fixture corpus, so
        on generated inputs it must return rows with zones in
        {0, 1, 2}."""
        for name in TRACED_ONLY:
            if name != PIPELINE:
                answers = [self._query(probe, name)[2] for _ in range(2)]
                ok = answers == [self.expected[name]] * 2
            else:
                cols, rows = self._query(probe, name)[2]
                zone = cols.index("max_zone")
                ok = bool(rows) and all(r[zone] in (0, 1, 2) for r in rows)
            if not ok:
                self.traced_failures.append(f"{name}: wrong answer")
        self.dml.prepare(os.path.join(os.path.dirname(self.sf_dir), "dml"))
        self.dml.start(self.spark)
        self.dml.warm_up(probe)
        if not all(op.ok for op in self.dml.iteration(probe)):
            self.traced_failures.append("delta DML: wrong final table")

    def layer_metrics(self, probe, groups) -> dict[str, tuple[float, str]]:
        """Each timed query's first traced call and each traced-only
        query's second; the sums cover the timed queries, like the
        end-to-end metrics."""
        calls: dict[str, list] = {}
        for s in probe.spans:
            if not s.name.startswith("queries."):
                continue
            name, part = s.name.rsplit(".", 1)
            if part == "build":
                calls.setdefault(name[len("queries."):], []).append([s])
            else:
                calls[name[len("queries."):]][-1].append(s)
        picked = {
            name: pairs[0] if name in TIMED else pairs[-1]
            for name, pairs in calls.items()
        }
        out: dict[str, tuple[float, str]] = {
            f"queries.{name}.s": (b.wall_s + r.wall_s, "s")
            for name, (b, r) in picked.items()
        }
        builds = [picked[n][0] for n in TIMED]
        runs = [picked[n][1] for n in TIMED]
        trace = groups.merged(*(s.group for s in builds + runs))
        out.update({
            "queries.build_s": (sum(s.wall_s for s in builds), "s"),
            "queries.exec_s": (sum(s.wall_s for s in runs), "s"),
            "queries.eager_jobs": (sum(s.jobs for s in builds), "count"),
            "queries.jobs": (sum(s.jobs for s in builds + runs), "count"),
            "queries.tasks": (trace.get("tasks", 0), "count"),
            "queries.cpu_s": (sum(s.cpu_s for s in builds + runs), "s"),
            "queries.shuffle_bytes": (
                trace.get("shuffle_write_bytes", 0), "bytes"
            ),
            "queries.spill_bytes": (trace.get("spill_bytes", 0), "bytes"),
            "queries.scan_bytes": (trace.get("input_bytes", 0), "bytes"),
        })
        out.update(self.dml.layer_metrics(groups))
        return out
