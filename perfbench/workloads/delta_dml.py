"""The Delta DML sequence: the write side of ``sources``.

``engine_queries`` runs it in its traced pass (a workload of its own
would not fit the benchmark's time budget). Set-up writes seeded
``orders`` at scale factor ``SF`` replicated 10x with shifted keys
(750k rows) as a native Delta table of 12 contiguous key-range
commits. Each iteration starts from a fresh copy of that table (copied
outside the timed region) and runs four ops: a
``merge_into_delta_native`` upsert whose source is 10% of the table
(half updates spread over every file, half inserts), a narrow
``delete_from_delta``, a narrow ``update_delta``, then a ``read_delta``
aggregate. The final count and ``sum(o_totalprice)`` must equal DuckDB's
result for the same op sequence over the same parquet.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

import inputs
from harness import Op

SF = 0.05
COPIES = 10
COMMITS = 12
SOURCE_SHARE = 0.1
KEY = "o_orderkey"

MERGE = "operators.merge.merge_into_delta_native"
DELETE = "sources.deltalog.delete_from_delta"
UPDATE = "sources.deltalog.update_delta"
READ = "sources.deltalog.read_delta"


def newest_commit(table: str) -> dict[str, float]:
    """Files added, files removed and bytes added by the table's newest
    ``_delta_log`` commit."""
    path = max(glob.glob(os.path.join(table, "_delta_log", "*.json")))
    added = removed = size = 0
    with open(path) as fh:
        for line in fh:
            action = json.loads(line)
            if "add" in action:
                added += 1
                size += action["add"].get("size", 0)
            elif "remove" in action:
                removed += 1
    return {"files_added": added, "files_removed": removed, "bytes": size}


class Workload:
    name = "delta_dml"

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.n_iter = 0
        # span group -> the table's newest commit right after that op
        self.commits: dict[str, dict[str, float]] = {}
        self.last: list = []  # the spans of the last iteration

    def prepare(self, out_dir: str) -> None:
        self.dir = out_dir
        self.paths = inputs.write_dml_inputs(
            out_dir, self.seed, SF, COPIES, SOURCE_SHARE
        )

    def start(self, spark) -> None:
        """The key layout of the commits and DuckDB's answer for the op
        sequence, before timing."""
        import duckdb

        self.spark = spark
        con = duckdb.connect()
        try:
            orders = f"read_parquet('{self.paths['orders']}')"
            source = f"read_parquet('{self.paths['source']}')"
            hi = con.sql(f"SELECT max({KEY}) + 1 FROM {orders}").fetchone()[0]
            self.step = hi // COMMITS + 1
            cut = self.step // 2
            self.delete_cond = (f"{KEY} < {cut}", [(KEY, "<", cut)])
            lo, hi2 = self.step, self.step + cut
            self.update_cond = (
                f"{KEY} >= {lo} AND {KEY} < {hi2}",
                [(KEY, ">=", lo), (KEY, "<", hi2)],
            )
            self.expected = con.sql(
                f"""
                WITH s AS (SELECT * FROM {source}),
                m AS (
                  SELECT * FROM {orders}
                  WHERE {KEY} NOT IN (SELECT {KEY} FROM s)
                  UNION ALL SELECT * FROM s
                ),
                d AS (SELECT * FROM m WHERE NOT ({self.delete_cond[0]}))
                SELECT count(*), sum(CASE WHEN {self.update_cond[0]}
                                     THEN o_totalprice * 2
                                     ELSE o_totalprice END)
                FROM d
                """
            ).fetchone()
        finally:
            con.close()

    def warm_up(self, probe) -> None:
        """Write the 12-commit base table, then one cold iteration."""
        from pyspark.sql import functions as F

        from value_at_risk_spark.sources.deltalog import write_delta

        self.base = os.path.join(self.dir, "base_table")
        orders = self.spark.read.parquet(self.paths["orders"])
        with probe.span("delta_dml.build_table"):
            for c in range(COMMITS):
                rng = (F.col(KEY) >= c * self.step) & (
                    F.col(KEY) < (c + 1) * self.step
                )
                write_delta(self.spark, orders.filter(rng), self.base)
        self.iteration(probe)

    def iteration(self, probe) -> list[Op]:
        from pyspark.sql import functions as F

        from value_at_risk_spark.operators.merge import merge_into_delta_native
        from value_at_risk_spark.sources.deltalog import (
            delete_from_delta,
            read_delta,
            update_delta,
        )

        self.n_iter += 1
        table = os.path.join(self.dir, f"table_{self.n_iter}")
        shutil.copytree(self.base, table)
        spark, spans = self.spark, []
        source = spark.read.parquet(self.paths["source"])
        with probe.span(MERGE) as s:
            merge_into_delta_native(spark, table, source, [KEY])
        spans.append(s)
        self.commits[s.group] = newest_commit(table)
        with probe.span(DELETE) as s:
            delete_from_delta(
                spark, table, self.delete_cond[0], stats_filters=self.delete_cond[1]
            )
        spans.append(s)
        self.commits[s.group] = newest_commit(table)
        with probe.span(UPDATE) as s:
            update_delta(
                spark, table, self.update_cond[0], {"o_totalprice": "o_totalprice * 2"},
                stats_filters=self.update_cond[1],
            )
        spans.append(s)
        self.commits[s.group] = newest_commit(table)
        with probe.span(READ) as s:
            n, total = read_delta(spark, table).agg(
                F.count("*"), F.sum("o_totalprice")
            ).first()
        spans.append(s)
        self.last = spans
        shutil.rmtree(table)
        ok = n == self.expected[0] and math.isclose(
            total, self.expected[1], rel_tol=1e-9
        )
        return [Op(s.name, s.wall_s, ok, s.cpu_s) for s in spans]

    def layer_metrics(self, groups) -> dict[str, tuple[float, str]]:
        """The last iteration's four ops."""
        m, d, u, r = self.last
        merge, delete, update = (self.commits[s.group] for s in (m, d, u))
        return {
            f"{MERGE}.s": (m.wall_s, "s"),
            f"{MERGE}.jobs": (m.jobs, "count"),
            f"{MERGE}.source_scans": (
                groups.scans_of(m.group, "merge_source.parquet"), "count"
            ),
            f"{MERGE}.files_added": (merge["files_added"], "count"),
            f"{MERGE}.files_removed": (merge["files_removed"], "count"),
            f"{MERGE}.bytes_written": (merge["bytes"], "bytes"),
            f"{DELETE}.s": (d.wall_s, "s"),
            f"{DELETE}.jobs": (d.jobs, "count"),
            f"{DELETE}.files_rewritten": (delete["files_removed"], "count"),
            f"{UPDATE}.s": (u.wall_s, "s"),
            f"{UPDATE}.jobs": (u.jobs, "count"),
            f"{UPDATE}.files_rewritten": (update["files_removed"], "count"),
            f"{READ}.s": (r.wall_s, "s"),
            f"{READ}.scan_bytes": (groups.get(r.group).get("input_bytes", 0), "bytes"),
        }
