"""Headline benchmark (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "codegen_compiles": {name: [n per run]},
"sf": ...}.

Measurement notes:
- each query is forced with a noop-sink write: full plan execution
  including projection-only stages (``count()`` would let Catalyst
  prune pandas-UDF and per-row expression columns entirely) with no
  driver materialization cost;
- 3 runs per query, median recorded — the box shows 2-3x
  noisy-neighbor variance, and the median of 3 is robust to one bad
  run while still penalizing consistently slow plans.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from value_at_risk_spark.queries import QUERIES  # noqa: E402
from value_at_risk_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "pricing_summary",
    "join_revenue_by_nation",
    "top3_orders_per_customer",
    "asof_join_orders_returns",
    "trailing_volatility_90d",
    "var99_by_series",
    "basel_breach_zones",
    "vector_sum_by_label",
    "ann_cosine_topk",
    "dedup_exact",
    "text_quality_stats",
    "minhash_lsh_pairs",
    # documents-scale dedup stress: the full LSH -> exact-Jaccard ->
    # survivor flow over the bench SF's documents table, so the dedup
    # scale story gets a measured growth curve (not just sf0.01
    # correctness)
    "near_dedup_survivors",
    # Arrow-boundary representative: mapInPandas partial-moment
    # covariance over the embeddings table (dim^2 payload, row-count-
    # independent shuffle)
    "embedding_covariance",
    # end-to-end training-data prep: dedup -> quality filter -> chunk
    # over the bench SF's documents table
    "training_data_prep",
    # round 3: the composed LSH -> exact cosine near-dup scale path
    # (banded sign-LSH candidates, exact verify on collisions only)
    "ann_near_dup_lsh",
    # round 3: TPC-H Q2 shape — correlated min decorrelated to a
    # window over the cost aggregate's own shuffle
    "min_cost_supplier",
    # round 3: TPC-H Q5 shape — the multi-way cyclic join (dims
    # broadcast, facts shuffle once each)
    "regional_nation_revenue",
    # round 3: two-pass exact heavy hitters (per-partition Misra-Gries
    # candidates -> broadcast-pruned exact verify) over the token stream
    "heavy_hitter_tokens",
    # round 4: grouped time-weighted average — one window + one agg
    # over the events stream (irregular-series integral mean)
    "twa_value_by_user_type",
    # round 7: substring-level dedup (8-token spans in 2+ docs) — the
    # gram-keyed shuffle's growth curve at the bench SF
    "duplicated_ngram_spans",
    # round 7: int8 scalar-quantized ANN — deterministic quantize +
    # broadcast-bounds reconstruct + brute cosine, the oracle-checked
    # ANN representative
    "sq_ann_topk",
    # round 7 second pass: exact-substring REMOVAL (gram min-agg +
    # rejoin + anti-join + ordered text rebuild) — the heaviest text
    # rewrite in the engine, tracked for growth
    "remove_duplicated_spans",
    # round 7 second pass: one-scan constraint sweep + RI anti-join —
    # the audit a pipeline runs before every ingest
    "data_quality_audit",
    # round 7 late passes: the iterative-join representative (3
    # PageRank iterations over the bidirectional trade graph) and the
    # inverted-index pair-generation representative (8-gram source
    # overlap with ubiquitous-gram pruning) — growth anchors for the
    # graph and corpus-matrix families
    "pagerank_trade_graph",
    "source_overlap_matrix",
]
# (semdedup_planted is deliberately NOT in the 3-run headline list:
# its cost is dominated by seeded k-means training, which would re-run
# 3x per bench — the embedding family's 3-run representative is
# sq_ann_topk. It has a ONE-run standing row in the 10x heavy-tail
# subset below instead, per the round-8 verdict.)

# frozen per-round query sets: the headline list grows each round, so
# the full total is NOT comparable across rounds — these subtotals are.
# r02 = the 15 queries benched in BENCH_r02; r03 = the 19 in BENCH_r03.
SUBSETS = {
    "r02_subset_total_sec": BENCH_QUERIES[:15],
    "r03_subset_total_sec": BENCH_QUERIES[:19],
    "r04_subset_total_sec": BENCH_QUERIES[:20],
    "r07_subset_total_sec": BENCH_QUERIES[:22],
    "r07b_subset_total_sec": BENCH_QUERIES[:24],
}

RUNS_PER_QUERY = 3


def force(df) -> None:
    """Execute the full plan without collecting: noop sink."""
    df.write.format("noop").mode("overwrite").save()


CALIBRATION_RUNS = 5


def calibration_anchor(spark, sf_dir: str) -> tuple[float, list[float]]:
    """Fixed trivial reference query, timed like every other row: a
    forced scan+aggregate over lineitem whose plan has not changed and
    will never change. Raw per-query seconds on this box carry 2-3x
    noisy-neighbor drift; dividing by this anchor turns a uniform-drift
    round (environment) into a flat normalized series and leaves a real
    regression visible — the falsifiability the raw numbers lack.

    Round-9 fix: the anchor is the median of FIVE runs and the raw
    samples are recorded in the JSON. A single-run anchor wobbled
    0.2439 -> 0.1875 s across rounds 7-8 (±25%), which normalized a
    -6% real improvement into a +22% apparent regression — the anchor
    must be quieter than the signal it normalizes."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "sum(l_extendedprice * l_quantity) as s", "count(*) as n"
    )
    samples = []
    for _ in range(CALIBRATION_RUNS):
        t0 = time.time()
        force(df)
        samples.append(round(time.time() - t0, 4))
    return round(statistics.median(samples), 4), samples


def calibration_anchor2(spark, sf_dir: str) -> tuple[float, list[float]]:
    """Second, HEAVIER anchor (round 11): the ~0.2 s scan anchor still
    wobbled ±25% within a single round (0.145/0.181/0.166 across three
    same-HEAD runs), because sub-second jobs are dominated by
    scheduler/JIT noise. This one runs a fixed ~1.5 s shuffle+agg
    (groupBy over a synthetic 8M-row range) whose longer duration
    amortizes that noise; recorded ALONGSIDE the original so historical
    normalized series stay comparable while future rounds can divide
    by the quieter anchor (normalized2)."""
    df = (
        spark.range(8_000_000)
        .selectExpr("id % 100000 as k", "id as v")
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    samples = []
    for _ in range(3):
        t0 = time.time()
        force(df)
        samples.append(round(time.time() - t0, 4))
    return round(statistics.median(samples), 4), samples


def scaled_near_dedup(spark, sf_dir: str) -> dict:
    """Standing dupe-heavy ~sf1 near-dedup row (round-4 verdict #2).

    Replicates the bench SF's documents table 10x with shifted doc_ids
    (every text appears 10x => a ~90%-duplicate corpus — exactly what
    dedup sees at scale) and times the composed exact flow once:
    LSH candidates -> exact-Jaccard verify -> connected components ->
    survivors. Also records the candidate-pair count so the timing has
    a work-size denominator. Round 14 (verdict #4): the r13 single-run
    number drifted +10% inside the box's documented 2-3x noise
    envelope, so this arm (with pagerank and training_data_prep_v2,
    the other two drifters) is now median-of-3 with the raw samples
    recorded — first run cold, re-runs warm — trading ~2 min of bench
    budget for a drift signal that actually means something.
    """
    import shutil

    from pyspark.sql import functions as F

    import tempfile

    scaled = os.environ.get("SPARK_GRAFT_SCALED_DIR") or tempfile.mkdtemp(
        prefix="bench_scaled_docs_"
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = 10
    shutil.rmtree(scaled, ignore_errors=True)
    os.makedirs(scaled)
    union = None
    for i in range(reps):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10**9))
        union = rep if union is None else union.unionByName(rep)
    union.write.mode("overwrite").parquet(f"{scaled}/documents.parquet")
    n_docs = spark.read.parquet(f"{scaled}/documents.parquet").count()

    runs = []
    for _ in range(3):
        t0 = time.time()
        force(QUERIES["near_dedup_survivors"](spark, scaled))
        runs.append(round(time.time() - t0, 3))
    pairs = QUERIES["minhash_lsh_pairs"](spark, scaled).count()
    shutil.rmtree(scaled, ignore_errors=True)
    return {
        "near_dedup_scaled_sec": sorted(runs)[1],
        "near_dedup_scaled_sec_runs": runs,
        "near_dedup_scaled_docs": n_docs,
        "near_dedup_scaled_candidate_pairs": pairs,
    }


def scaled_heavy_tail(spark, sf_dir: str) -> dict:
    """Standing ~sf1 heavy-tail subset (round-7 verdict #6): the four
    heaviest round-7 queries at 10x the bench SF, one timed run each,
    with work-size denominators — turning the newest operators'
    designed-for-100x claims into per-round regression numbers.

    The scaled dir replicates documents (shifted doc_ids: dupe-heavy
    corpus) AND the trade-graph tables with shifted supplier/customer
    keys per replica, so the PageRank graph genuinely grows 10x in
    nodes and edges (key-preserving replication would only deepen the
    same graph's edge multiplicity, which distinct() collapses)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    scaled = tempfile.mkdtemp(prefix="bench_scaled_heavy_")
    reps = 10
    stride = 10**9

    def replicate(name, shift_cols):
        base = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        union = None
        for i in range(reps):
            rep = base
            for c in shift_cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(i * stride))
            union = rep if union is None else union.unionByName(rep)
        union.write.mode("overwrite").parquet(f"{scaled}/{name}.parquet")

    shutil.rmtree(scaled, ignore_errors=True)
    os.makedirs(scaled)
    replicate("documents", ["doc_id"])
    replicate("lineitem", ["l_orderkey", "l_suppkey"])
    replicate("orders", ["o_orderkey", "o_custkey"])
    # round 9: embeddings too — semdedup_planted joins the scaled
    # subset (its k-means + shared-cell pair work is the heaviest
    # non-graph sweep entry, and replication makes every vector a
    # 10-way exact-dup cluster: precisely the dedup-heavy shape)
    replicate("embeddings", ["vec_id"])

    out: dict[str, object] = {
        "scaled10_docs": spark.read.parquet(
            f"{scaled}/documents.parquet"
        ).count()
    }
    try:
        # r14 (verdict #4): pagerank + training_data_prep_v2 drifted
        # +7-8% in r13's single runs — median-of-3 them (first run
        # cold) so drift vs noise is decidable; the other three stay
        # single-run (stable three rounds straight)
        for name, n_runs in (
            ("pagerank_trade_graph", 3),
            ("remove_duplicated_spans", 1),
            ("duplicated_ngram_spans", 1),
            ("source_overlap_matrix", 1),
            # round 9 addition (verdict #5): heaviest non-graph doc
            # sweep entry gets a standing scaled row
            ("training_data_prep_v2", 3),
        ):
            runs = []
            for _ in range(n_runs):
                t0 = time.time()
                force(QUERIES[name](spark, scaled))
                runs.append(round(time.time() - t0, 3))
            out[f"scaled10_{name}_sec"] = sorted(runs)[len(runs) // 2]
            if n_runs > 1:
                out[f"scaled10_{name}_sec_runs"] = runs
        # work-size denominators: graph nodes (pagerank output is one
        # row per node), duplicated-span rows, overlap-matrix cells;
        # remove_duplicated_spans emits one row per doc = scaled10_docs
        out["scaled10_graph_nodes"] = QUERIES["pagerank_trade_graph"](
            spark, scaled
        ).count()
        out["scaled10_duplicated_span_rows"] = QUERIES[
            "duplicated_ngram_spans"
        ](spark, scaled).count()
        out["scaled10_overlap_matrix_cells"] = QUERIES[
            "source_overlap_matrix"
        ](spark, scaled).count()
        out.update(scaled_semdedup(spark, scaled))
        out.update(scaled_knn_graph(spark, scaled))
        out.update(scaled_asof_bucketed(spark, scaled))
        try:
            out.update(scaled_delta_dml(spark, scaled))
        except Exception as ex:  # never sink the sibling rows
            out["scaled10_delta_dml_error"] = str(ex)[:200]
        try:
            out.update(scaled_row_tracking(spark, scaled))
        except Exception as ex:
            out["scaled10_rowtrack_error"] = str(ex)[:200]
        try:
            out.update(scaled_merge_clauses(spark, scaled))
        except Exception as ex:
            out["scaled10_merge_error"] = str(ex)[:200]
    finally:
        shutil.rmtree(scaled, ignore_errors=True)
    return out


def scaled_merge_clauses(spark, scaled: str) -> dict:
    """Standing 10x row for MERGE (round 13): a 1.5M-row target gets
    a 10%-sized source (half updating existing keys, half new), merged
    twice from the same pre-state — once through the upsert-star fast
    path (anti-join + union) and once through the general CLAUSE
    engine (full-outer join + action-tag CASE, expressing the same
    KEY ALGEBRA — update every matched key, insert every unmatched
    one — through a conditioned clause list) — so the rows price the
    clause engine's generality against the specialized plan on the
    same work. Row-count equality pins the key algebra."""
    import shutil as _sh
    import tempfile

    from pyspark.sql import functions as F

    from value_at_risk_spark.operators.merge import merge_into_delta_native
    from value_at_risk_spark.sources.deltalog import read_delta, write_delta

    orders = spark.read.parquet(f"{scaled}/orders.parquet").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderstatus").alias("tag"),
    )
    hi = orders.agg(F.max("k")).first()[0] + 1
    src = (
        orders.filter(F.col("k") % 10 == 0)
        .select("k", (F.col("v") * 2).alias("nv"))
        .unionByName(
            orders.filter(F.col("k") % 10 == 1).select(
                (F.col("k") + hi).alias("k"), F.col("v").alias("nv")
            )
        )
    )
    src_named = src.select(
        "k", F.col("nv").alias("v"), F.lit("MRG").alias("tag")
    )
    out: dict = {}
    counts = []
    for label, run in (
        (
            "scaled10_merge_upsert_star_sec",
            lambda tbl: merge_into_delta_native(spark, tbl, src_named, ["k"]),
        ),
        (
            "scaled10_merge_clause_engine_sec",
            lambda tbl: merge_into_delta_native(
                spark,
                tbl,
                src,
                ["k"],
                matched=[
                    {"condition": "s.nv >= 0", "update": {"v": "s.nv"}},
                    {"delete": True},
                ],
                not_matched=[
                    {
                        "insert": {
                            "k": "s.k",
                            "v": "s.nv",
                            "tag": "'MRG'",
                        }
                    }
                ],
            ),
        ),
    ):
        tbl = tempfile.mkdtemp(prefix="bench_merge_")
        _sh.rmtree(tbl, ignore_errors=True)
        try:
            write_delta(spark, orders, tbl)
            t0 = time.time()
            run(tbl)
            out[label] = round(time.time() - t0, 3)
            counts.append(read_delta(spark, tbl).count())
        finally:
            _sh.rmtree(tbl, ignore_errors=True)
    out["scaled10_merge_rows_equal"] = counts[0] == counts[1]
    out["scaled10_merge_rows"] = counts[0]
    return out


def scaled_semdedup(spark, scaled: str) -> dict:
    """Standing 10x row for SemDeDup (verdict r8 #5) — the OPERATOR at
    its documented scale posture, not the fixed-k gate query: pair work
    is O(N²·nprobe²/k), so cells must scale with the corpus (k=8 at the
    2.4k-vector gate fixture -> k=40 at the 20k-vector scaled corpus;
    holding k=8 here would be ~100x the gate's pair work and is exactly
    the misconfiguration the complexity bound warns about). iters=1:
    the standing row tracks the assign+pair+survivor pipeline, not
    codebook quality. The replicated corpus makes every vector a 10-way
    exact-duplicate cluster — the dedup-heavy shape — and the dup count
    is the row's work-size denominator."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.operators.similarity import semdedup_survivors

    from value_at_risk_spark.queries import _embedding_dim_peek

    corpus = spark.read.parquet(f"{scaled}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    # dim from the parquet data (zero-job pyarrow peek), never a
    # hardcoded width: a stale literal would make the unrolled dot
    # products silently truncate if the fixture's embedding width
    # changed (the stale-metadata hazard resolve_dim's contract warns
    # about). The peek reads the UNscaled fixture — replication does
    # not change the width.
    dim = _embedding_dim_peek(scaled)
    if dim is not None:
        corpus = corpus.withMetadata("embedding", {"dim": int(dim)})
    t0 = time.time()
    out = semdedup_survivors(
        corpus, k=40, threshold=0.99, iters=1, seed=123, nprobe=2
    ).persist()
    force(out)
    sec = round(time.time() - t0, 3)
    # denominators from the PERSISTED result — re-deriving them from
    # the lazy plan would re-execute the whole assign+pair pipeline a
    # second time outside the timed window (r9 verdict #6)
    agg = out.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_dup").cast("long")).alias("d"),
    ).first()
    out.unpersist()
    return {
        "scaled10_semdedup_sec": sec,
        "scaled10_semdedup_vectors": agg.n,
        "scaled10_semdedup_dups": agg.d,
    }


def scaled_knn_graph(spark, scaled: str) -> dict:
    """Standing 10x row for mutual-kNN graph construction (round 14):
    the blocked exact all-queries top-k on the 20k-vector replicated
    corpus. Replication makes every vector a 10-way exact-duplicate
    cluster, so EVERY row hits the rounded-tie Decimal cut — the
    kernel's worst case (the vectorized easy path handles tie-free
    corpora; measured 11.1 s tie-heavy vs 5.0 s tie-free at this size
    when the arm was added). Edge count is the work-size denominator:
    the 10-clone clusters collapse to exactly C(4,2) = 6 mutual edges
    each under the ascending-id tie-break, so a wrong edge count is a
    correctness signal too, not just a perf drift."""
    from value_at_risk_spark.operators.similarity import knn_graph_mutual

    corpus = spark.read.parquet(f"{scaled}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    t0 = time.time()
    edges = knn_graph_mutual(corpus, k=3, num_blocks=16).count()
    out = {
        "scaled10_knn_graph_sec": round(time.time() - t0, 3),
        "scaled10_knn_graph_edges": edges,
    }
    # r15 sibling arm: the ANN-backed graph on the SAME corpus — the
    # sub-quadratic composition (IVF cells -> shuffle equi-join ->
    # exact re-rank -> reciprocity) whose wall should sit well under
    # the exact kernel's at equal N, with edge recall bounded below by
    # the duplicate-cluster edges (exact duplicates share a cell)
    from value_at_risk_spark.operators.similarity import knn_graph_ann

    t0 = time.time()
    ann_edges = knn_graph_ann(corpus, k=3, nprobe=2, n_cells=16).count()
    out["scaled10_knn_graph_ann_sec"] = round(time.time() - t0, 3)
    out["scaled10_knn_graph_ann_edges"] = ann_edges
    # r16 sibling arm: the PERSISTED-INDEX graph on the same corpus —
    # build (Lloyd train + Arrow assign + cell-partitioned write) and
    # graph-from-storage timed separately; the graph leg re-pays no
    # training, so repeated graph builds over a live index amortize
    # the build column away (the FAISS add/train split)
    import shutil as _sh
    import tempfile as _tmp

    from value_at_risk_spark.operators.annindex import (
        build_ivf_graph_index,
        knn_graph_ann_indexed,
    )

    d = _tmp.mkdtemp(prefix="bench_ivfgraph_")
    try:
        t0 = time.time()
        build_ivf_graph_index(spark, d, corpus, n_cells=16, iters=2)
        out["scaled10_knn_graph_annidx_build_sec"] = round(
            time.time() - t0, 3
        )
        t0 = time.time()
        out["scaled10_knn_graph_annidx_edges"] = knn_graph_ann_indexed(
            spark, d, k=3, nprobe=2
        ).count()
        out["scaled10_knn_graph_annidx_sec"] = round(time.time() - t0, 3)
    finally:
        _sh.rmtree(d, ignore_errors=True)
    return out


def scaled_row_tracking(spark, scaled: str) -> dict:
    """Standing 10x row for row tracking (round 12): the 1.5M-row
    scaled orders land in a TRACKED native table (4 commits — fresh
    baseRowId carving + hwm domain per commit), then three reads are
    timed against each other: the plain scan (row tracking must cost
    untracked readers nothing), the row-id scan (adds one broadcast
    file→baseRowId join + the _metadata row_index materialization),
    and the row-id scan AFTER a narrow copy-on-write UPDATE (ids now
    come from the rewritten file's materialized column through
    coalesce). The update row itself times the id-preserving rewrite."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.deltalog import (
        read_delta,
        read_delta_row_ids,
        set_table_properties,
        snapshot,
        update_delta,
        write_delta,
    )

    tbl = tempfile.mkdtemp(prefix="bench_rowtrack_")
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        orders = spark.read.parquet(f"{scaled}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        hi = orders.agg(F.max("o_orderkey")).first()[0] + 1
        step = hi // 4 + 1
        t0 = time.time()
        for c in range(4):
            write_delta(
                spark,
                orders.filter(
                    (F.col("o_orderkey") >= c * step)
                    & (F.col("o_orderkey") < (c + 1) * step)
                ),
                tbl,
                configuration=(
                    {"delta.enableRowTracking": "true"} if c == 0 else None
                ),
            )
        build_sec = round(time.time() - t0, 3)
        t0 = time.time()
        n_plain = read_delta(spark, tbl).count()
        plain_sec = round(time.time() - t0, 3)
        # time the SAME action as the plain read (count — no shuffle)
        # so the metric isolates the row-id scan's cost: the old form
        # timed a count_distinct whose shuffle/codegen overhead (~1.2s
        # at any size) swamped the per-row cost being measured
        t0 = time.time()
        rid = read_delta_row_ids(spark, tbl)
        n_rid = rid.count()
        rowid_sec = round(time.time() - t0, 3)
        agg = rid.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("row_id").alias("d"),
        ).first()
        cut = step // 8
        t0 = time.time()
        u = update_delta(
            spark,
            tbl,
            f"o_orderkey < {cut}",
            {"o_totalprice": "o_totalprice * 2"},
            stats_filters=[("o_orderkey", "<", cut)],
        )
        update_sec = round(time.time() - t0, 3)
        t0 = time.time()
        rid2 = read_delta_row_ids(spark, tbl)
        rid2.count()
        rowid_after_sec = round(time.time() - t0, 3)
        d2 = rid2.agg(F.count_distinct("row_id")).first()[0]
        # mid-life enablement (r13): build the SAME table untracked,
        # then SET TBLPROPERTIES backfills every active file in one
        # metadata-only commit — the cost is O(files), never a data
        # rewrite, which is the 100 TB adoption story
        tbl2 = tempfile.mkdtemp(prefix="bench_rt_midlife_")
        shutil.rmtree(tbl2, ignore_errors=True)
        try:
            for c in range(4):
                write_delta(
                    spark,
                    orders.filter(
                        (F.col("o_orderkey") >= c * step)
                        & (F.col("o_orderkey") < (c + 1) * step)
                    ),
                    tbl2,
                )
            nfiles = len(snapshot(tbl2).files)
            t0 = time.time()
            set_table_properties(
                tbl2, {"delta.enableRowTracking": "true"}
            )
            midlife_sec = round(time.time() - t0, 3)
            mid_d = (
                read_delta_row_ids(spark, tbl2)
                .agg(F.count_distinct("row_id"))
                .first()[0]
            )
        finally:
            shutil.rmtree(tbl2, ignore_errors=True)
        return {
            "scaled10_rowtrack_midlife_enable_sec": midlife_sec,
            "scaled10_rowtrack_midlife_files": nfiles,
            "scaled10_rowtrack_midlife_ids_unique": bool(
                mid_d == n_plain
            ),
            "scaled10_rowtrack_rows": n_plain,
            "scaled10_rowtrack_ids_unique": bool(
                agg.d == agg.n == n_plain and d2 == n_plain
            ),
            "scaled10_rowtrack_build_sec": build_sec,
            "scaled10_rowtrack_plain_read_sec": plain_sec,
            "scaled10_rowtrack_rowid_read_sec": rowid_sec,
            "scaled10_rowtrack_update_sec": update_sec,
            "scaled10_rowtrack_update_files": u["files_rewritten"],
            "scaled10_rowtrack_rowid_read_after_update_sec": rowid_after_sec,
        }
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def scaled_delta_dml(spark, scaled: str) -> dict:
    """Standing 10x row for the native delta log's file-level
    copy-on-write DML (round 11): the 1.5M-row scaled orders land in a
    native table as 12 CONTIGUOUS key-range commits (the clustered
    ingest layout), then a narrow DELETE (one key slice, stats-pruned
    candidates) and a narrow UPDATE run against it, with the
    whole-active-set rewrite as the no-skipping baseline. The DML rows
    must rewrite ~1 file regardless of table size; the baseline grows
    with the table (PERF.md round-11 scaling table)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from value_at_risk_spark.sources.deltalog import (
        delete_from_delta,
        read_delta,
        snapshot,
        update_delta,
        write_delta,
    )

    tbl = tempfile.mkdtemp(prefix="bench_delta_dml_")
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        orders = spark.read.parquet(f"{scaled}/orders.parquet").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        hi = orders.agg(F.max("o_orderkey")).first()[0] + 1
        commits = 12
        step = hi // commits + 1
        t0 = time.time()
        for c in range(commits):
            write_delta(
                spark,
                orders.filter(
                    (F.col("o_orderkey") >= c * step)
                    & (F.col("o_orderkey") < (c + 1) * step)
                ),
                tbl,
            )
        build_sec = round(time.time() - t0, 3)
        n_files = len(snapshot(tbl).files)

        cut = step // 2
        t0 = time.time()
        d = delete_from_delta(
            spark,
            tbl,
            f"o_orderkey < {cut}",
            stats_filters=[("o_orderkey", "<", cut)],
        )
        delete_sec = round(time.time() - t0, 3)
        t0 = time.time()
        u = update_delta(
            spark,
            tbl,
            f"o_orderkey >= {step} AND o_orderkey < {step + cut}",
            {"o_totalprice": "o_totalprice * 2"},
            stats_filters=[
                ("o_orderkey", ">=", step),
                ("o_orderkey", "<", step + cut),
            ],
        )
        update_sec = round(time.time() - t0, 3)

        # deletion-vector arm (round 11): the merge-on-read DELETEs on
        # the SAME table — narrow (one key slice) and broad (a
        # predicate matching rows in EVERY file). Both write bitmaps
        # only; broad-vs-full_rewrite is the 100 TB payoff (a CoW
        # broad delete is bounded below by the full rewrite)
        from value_at_risk_spark.sources.deltalog import (
            purge_deletion_vectors,
            set_table_properties,
        )

        set_table_properties(tbl, {"delta.enableDeletionVectors": "true"})
        # slice anchored on ACTUAL keys: the scaled orders keyspace is
        # sparse with SF-dependent per-replica gaps, so any guessed
        # range can land on pure gap (measured 0 matched rows twice) —
        # instead take the smallest surviving key >= cut and a short
        # window after it (>= 1 row by construction)
        lo2 = (
            orders.filter(F.col("o_orderkey") >= cut)
            .agg(F.min("o_orderkey"))
            .first()[0]
        )
        hi2 = lo2 + max(1, step // 20)
        t0 = time.time()
        dv_n = delete_from_delta(
            spark,
            tbl,
            f"o_orderkey >= {lo2} AND o_orderkey < {hi2}",
            stats_filters=[
                ("o_orderkey", ">=", lo2),
                ("o_orderkey", "<", hi2),
            ],
        )
        dv_narrow_sec = round(time.time() - t0, 3)
        t0 = time.time()
        dv_b = delete_from_delta(spark, tbl, "o_orderkey % 97 = 0")
        dv_broad_sec = round(time.time() - t0, 3)
        t0 = time.time()
        dv_read_rows = read_delta(spark, tbl).count()
        dv_read_sec = round(time.time() - t0, 3)
        t0 = time.time()
        pg = purge_deletion_vectors(spark, tbl)
        purge_sec = round(time.time() - t0, 3)

        t0 = time.time()
        write_delta(spark, read_delta(spark, tbl), tbl, mode="overwrite")
        rewrite_sec = round(time.time() - t0, 3)
        return {
            "scaled10_delta_build_sec": build_sec,
            "scaled10_delta_files": n_files,
            "scaled10_delta_delete_sec": delete_sec,
            "scaled10_delta_delete_files_rewritten": d["files_rewritten"],
            "scaled10_delta_delete_rows": d["rows_deleted"],
            "scaled10_delta_update_sec": update_sec,
            "scaled10_delta_update_files_rewritten": u["files_rewritten"],
            "scaled10_delta_dv_delete_narrow_sec": dv_narrow_sec,
            "scaled10_delta_dv_delete_narrow_rows": dv_n["rows_deleted"],
            "scaled10_delta_dv_delete_broad_sec": dv_broad_sec,
            "scaled10_delta_dv_delete_broad_rows": dv_b["rows_deleted"],
            "scaled10_delta_dv_delete_broad_files": dv_b["dv_files"],
            "scaled10_delta_dv_read_sec": dv_read_sec,
            "scaled10_delta_dv_read_rows": dv_read_rows,
            "scaled10_delta_dv_purge_sec": purge_sec,
            "scaled10_delta_dv_purge_files": pg["files_rewritten"],
            "scaled10_delta_full_rewrite_sec": rewrite_sec,
        }
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def scaled_asof_bucketed(spark, scaled: str) -> dict:
    """Standing 10x row for the UNKEYED as-of join's declared 100 TB
    path (operators/asof.asof_join_bucketed — time buckets + boundary
    carry-in), with an output-equality assertion against the
    single-task window form at the same scale (verdict r8 #7). Left =
    the 1.5M-row scaled orders table, right = its ~2.4k-day revenue
    spine; equality is checked by (count, decimal sum of row hashes) —
    collecting 1.5M rows to the driver would be the anti-pattern the
    engine exists to avoid."""
    from pyspark.sql import functions as F

    from value_at_risk_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    orders = spark.read.parquet(f"{scaled}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    daily = orders.groupBy("o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders")
    ).select(F.col("o_orderdate").alias("ts"), "n_orders")
    left = orders.select("o_orderkey", F.col("o_orderdate").alias("ts"))

    def checksum(df):
        cols = sorted(df.columns)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row.n, str(row.h))

    t0 = time.time()
    bucketed = asof_join_bucketed(left, daily, on="ts")
    force(bucketed)
    sec = round(time.time() - t0, 3)
    t0 = time.time()
    window_form = asof_join(left, daily, on="ts")
    force(window_form)
    window_sec = round(time.time() - t0, 3)
    equal = checksum(bucketed) == checksum(window_form)
    return {
        "scaled10_asof_bucketed_sec": sec,
        "scaled10_asof_window_sec": window_sec,
        "scaled10_asof_rows": checksum(bucketed)[0],
        "scaled10_asof_equal": equal,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # optional subset (comma-separated query names) for spot runs, e.g.
    # the ~sf1 scaled-data run recorded in PERF.md
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    global BENCH_QUERIES
    if subset:
        BENCH_QUERIES = [q.strip() for q in subset.split(",") if q.strip()]
    spark = get_spark("bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    cal, cal_samples = calibration_anchor(spark, sf_dir)
    cal2, cal2_samples = calibration_anchor2(spark, sf_dir)

    from value_at_risk_spark.operators import annindex

    timings: dict[str, float] = {}
    # ANN index-cache state per query ("cold" if ANY run trained, else
    # "warm") — pq-family timings are bimodal and a number without this
    # flag is unreadable across rounds
    ann_cache: dict[str, str] = {}
    # generated classes Janino compiled during each timed run: the first
    # run of a query compiles its plan, a later one should compile none
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    codegen_compiles: dict[str, list[int]] = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        samples = []
        compiles = codegen_compiles[name] = []
        annindex.BUILD_EVENTS.clear()
        for _ in range(RUNS_PER_QUERY):
            c0 = compiled.getCount()
            t0 = time.time()
            force(fn(spark, sf_dir))
            samples.append(time.time() - t0)
            compiles.append(compiled.getCount() - c0)
        if annindex.BUILD_EVENTS:
            ann_cache[name] = (
                "cold"
                if any(m == "cold" for _, m in annindex.BUILD_EVENTS)
                else "warm"
            )
        timings[name] = round(statistics.median(samples), 3)

    total = round(sum(timings.values()), 3)
    subtotals = {
        key: round(sum(timings[q] for q in names if q in timings), 3)
        for key, names in SUBSETS.items()
    }
    # box-drift-normalized views: seconds / calibration_sec. Compare
    # THESE across rounds; raw seconds only within a round.
    normalized = {
        key.replace("_sec", "_x_cal"): round(v / cal, 2) if cal else None
        for key, v in {**subtotals, "total_sec": total}.items()
    }
    # dupe-heavy scaled near-dedup standing row — separate keys, NOT in
    # the headline total (keeps the frozen subtotals comparable);
    # disable with SPARK_GRAFT_SCALED=0 for quick spot runs
    scaled_stats = {}
    if os.environ.get("SPARK_GRAFT_SCALED", "1") != "0" and not subset:
        try:
            scaled_stats = scaled_near_dedup(spark, sf_dir)
        except Exception as ex:  # the extra row must never sink the bench
            scaled_stats = {"near_dedup_scaled_error": str(ex)[:200]}
        try:
            scaled_stats.update(scaled_heavy_tail(spark, sf_dir))
        except Exception as ex:
            scaled_stats["heavy_tail_scaled_error"] = str(ex)[:200]
    line = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "codegen_compiles": codegen_compiles,
            "subtotals": subtotals,
            "calibration_sec": cal,
            "calibration_samples": cal_samples,
            "calibration2_sec": cal2,
            "calibration2_samples": cal2_samples,
            "normalized": normalized,
            "normalized2_total_x_cal2": (
                round(total / cal2, 2) if cal2 else None
            ),
            **({"ann_cache": ann_cache} if ann_cache else {}),
            **scaled_stats,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    print(line)
    # Side-channel copy: the r15 VERDICT noted the recorded BENCH
    # artifact sometimes carries only the tail of captured stdout
    # (parsed: null), losing the per-query medians. bench_last.json is
    # the machine-readable record of the most recent local run —
    # best-effort, never sinks the bench.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_last.json"),
            "w",
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
