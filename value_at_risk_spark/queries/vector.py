"""Query registry — embeddings, ANN, kNN graphs, clustering, quantization.

Mechanically split from the former single-module queries.py (r15,
VERDICT #7): zero behavior change, every query re-registers through
the same @query decorator in ``queries._shared``; the package
__init__ imports every domain module so ``from
value_at_risk_spark.queries import QUERIES, ORACLES`` is unchanged.
"""

from value_at_risk_spark.queries._shared import *  # noqa: F401,F403


@query(
    "vector_sum_by_label",
    """
SELECT label, CAST(i - 1 AS BIGINT) AS pos,
       (ROUND(SUM(CAST(embedding[i] AS DOUBLE)), 4) + 0) AS elem_sum
FROM embeddings, generate_series(1, 64) t(i)
GROUP BY 1, 2
""",
)
def vector_sum_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise vector sum per group (A5) — the engine's native
    replacement for MLlib Summarizer.sum over VectorUDT
    (04_var_aggregation.py:35-41). Explode form: map-side partial agg,
    shuffle carries (label, pos, partial sum) only. Surfaced in long
    form; the array-valued sum is vector_agg.vector_sum."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg((F.round(F.sum(F.col("v").cast("double")), 4) + F.lit(0.0)).alias("elem_sum"))
    )

@query(
    "embedding_norms",
    """
SELECT vec_id, ROUND(SQRT(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))), 6) AS l2_norm
FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
GROUP BY vec_id
""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm via native fold (dot_product of a vector with itself) —
    the similarity-search kernel, zero Python."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(F.sqrt(dot_product("embedding", "embedding")), 6).alias("l2_norm"),
    )

@query(
    "weighted_embedding_scale",
    """
SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
       (ROUND(CAST(embedding[i] AS DOUBLE) * CAST(label AS DOUBLE), 6) + 0) AS scaled
FROM embeddings, generate_series(1, 64) t(i)
""",
)
def weighted_embedding_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise vector×scalar (F3; weighted_returns,
    utils/var_udf.py:39-41) as a native transform, surfaced long-form."""
    emb = _t(spark, sf_dir, "embeddings")
    scaled = F.transform(
        "embedding", lambda x: x.cast("double") * F.col("label").cast("double")
    )
    return emb.select(
        "vec_id", F.posexplode(scaled).alias("pos", "scaled")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        (F.round("scaled", 6) + F.lit(0.0)).alias("scaled"),
    )

@query(
    "ann_cosine_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
),
norms AS (
  SELECT vec_id, SQRT(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
),
dots AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         SUM(CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS dot
  FROM q, embeddings c, generate_series(1, 64) t(i)
  WHERE q.query_id <> c.vec_id
  GROUP BY 1, 2
),
sims AS (
  SELECT d.query_id, d.neighbor_id,
         (ROUND(d.dot / (nq.nrm * nc.nrm), 6) + 0) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM sims
) WHERE rnk <= 5
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (north-star similarity baseline): the
    small query set ships in the task closure, each corpus Arrow batch
    scores it with one BLAS gram and keeps its batch-local top-k; one
    final top-k window merges them."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(
        q,
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        k=5,
        round_to=6,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rnk")
    )

@query(
    "minhash_signatures_md5",
    """
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split(lower(text),' '), x -> x <> '') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
  FROM docs, UNNEST(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
)
SELECT doc_id,
       """
    + ",\n       ".join(
        "CAST(MIN(('0x' || substring(md5(s || '#%d'), 1, 8))::UBIGINT) "
        "AS BIGINT) AS h%d" % (i, i)
        for i in range(8)
    )
    + """
FROM sh GROUP BY doc_id
""",
)
def minhash_signatures_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with a CROSS-ENGINE hash family — the
    oracle-checked twin of the xxhash64 production signatures (any
    min-wise hash family gives MinHash its Jaccard-estimator property;
    md5-32bit makes the DuckDB twin compute the identical minima, so
    the gate value-hashes the signatures themselves). Plan shape
    matches the production path: distinct 3-shingles explode once, all
    8 min-aggregates ride ONE hash-agg with map-side partials — the
    shuffle carries docs × 8 longs."""
    from value_at_risk_spark.functions.text import shingles, tokens
    from value_at_risk_spark.operators.skew import spread_small_input

    # 8 md5(s || '#i') evaluations per shingle row run in the SCAN
    # stage; spread-guard the single-split fixture scan so the hash
    # family parallelizes (r16, guide §2.5 — no-op on a parallel scan;
    # measured 7.2 s -> see OPTIMIZATION_r16.md)
    d = spread_small_input(_t(spark, sf_dir, "documents"), "doc_id")
    sh = (
        d.filter(F.size(tokens("text")) >= 3)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles("text", 3))).alias("s"),
        )
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("s"), F.lit(f"#{i}"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"h{i}")
            for i in range(8)
        ]
    )

@query(
    "minhash_lsh_pairs",
    """
WITH docs AS (
  SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
  FROM docs, UNNEST(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND b.doc_id > a.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(ni * 1.0 / (ca.n + cb.n - ni), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
WHERE ni * 1.0 / (ca.n + cb.n - ni) >= 0.9
""",
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup candidates (north-star dedup):
    32-hash signatures over 3-gram shingles (xxhash64, JVM-side), 8
    bands of 4 rows; candidates from bucket equi-join — never O(n²).

    GRADUATED to a recall-pinned oracle (r13, the
    lsh_recall_high_jaccard pattern at this coarser operating point):
    candidates are verified with EXACT shingle Jaccard and only pairs
    at J >= 0.9 survive; the DuckDB twin computes ALL J >= 0.9 pairs
    exactly (inverted-index join). Hash equality asserts 100% recall
    at 8x4 banding on the fixture — deterministic, not probabilistic:
    the xxhash64 signature family is seeded, so whether a fixture
    pair escapes is a fixed property of the frozen fixture (an escape
    probability of (1-0.9^4)^8 ~ 2e-4 per pair would make a flaky
    family visible immediately)."""
    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=32, shingle_n=3)
    # materialize the (bounded, ids-only) candidate pairs once: they
    # feed both cand_ids and the verify join below, and lazily each
    # reference re-executes the whole signature+banding pipeline
    # (guide §2.4); localCheckpoint, never persist — no cross-run cache
    pairs = minhash_lsh_pairs(
        sigs, num_bands=8, num_hashes=32
    ).localCheckpoint(eager=True)
    from value_at_risk_spark.functions.text import shingles

    # verify ONLY the candidate docs: the shingle arrays feeding the
    # exact-Jaccard check are built after a semi-join on the (tiny)
    # candidate id set — without it both join branches recomputed
    # shingles for the WHOLE corpus (3x the query's cost at sf0.1;
    # at 100 TB the difference between candidate-bounded and
    # corpus-bounded verify)
    cand_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # spread-guard (r16, guide §2.5): the candidate shingle-array
    # build runs in the scan stage (broadcast semi-join) — parallelize
    # it when the input is single-split (no-op on a parallel scan).
    # Guard the RAW SCAN, not the joined frame (r17, ADVICE): .rdd on
    # a joined plan makes AQE eagerly run its broadcast/shuffle query
    # stages as a throwaway job; the scan-only probe runs none, and
    # the broadcast semi-join preserves the spread's partitioning.
    from value_at_risk_spark.operators.skew import spread_small_input

    sh = spread_small_input(d, "doc_id").join(
        F.broadcast(cand_ids), "doc_id", "left_semi"
    ).select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    cand = pairs.join(a, "id_a").join(b, "id_b")
    verified = jaccard_similarity(
        cand, "sh_a", "sh_b", out_col="jacc", tokenize=False
    ).filter(F.col("jacc") >= 0.9)
    return verified.select(
        "id_a", "id_b", F.round("jacc", 6).alias("jaccard")
    )

@query(
    "simhash_fingerprints",
    f"""
WITH {_SIMHASH_FP_CTES}
SELECT doc_id,
       (CASE WHEN fp >= 9223372036854775808::HUGEINT
             THEN fp - 18446744073709551616::HUGEINT
             ELSE fp END)::BIGINT AS simhash
FROM fpu
""",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (north-star dedup) via per-token
    xxhash64 bit votes in higher-order functions. ORACLE-checked
    value-for-value (r13 graduation, was rows-only): the oracle
    replays XXH64 seed-42 itself in DuckDB SQL
    (functions/xxh64_sql.py) — hash equality pins the exact 64-bit
    fingerprints, not just the row count."""
    return simhash(_t(spark, sf_dir, "documents"))

@query(
    "simhash_fingerprints_md5",
    """
WITH toks AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id,
               UNNEST(list_filter(string_split(lower(text),' '), x -> x <> '')) AS t
        FROM documents)
),
h AS (
  SELECT doc_id,
         ('0x' || substring(md5(t), 1, 8))::UBIGINT AS hi,
         ('0x' || substring(md5(t), 9, 8))::UBIGINT AS lo
  FROM toks
),
votes AS (
  SELECT doc_id, b,
         SUM(CASE WHEN b < 32
                  THEN CASE WHEN (lo >> b) & 1 = 1 THEN 1 ELSE -1 END
                  ELSE CASE WHEN (hi >> (b - 32)) & 1 = 1 THEN 1 ELSE -1 END
             END) AS v
  FROM h, UNNEST(range(0, 64)) AS q(b)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 AND b >= 32 THEN (1::UBIGINT << (b - 32))
                     ELSE 0 END) AS BIGINT) AS fp_hi,
       CAST(SUM(CASE WHEN v > 0 AND b < 32 THEN (1::UBIGINT << b)
                     ELSE 0 END) AS BIGINT) AS fp_lo
FROM votes GROUP BY doc_id
""",
)
def simhash_fingerprints_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with a CROSS-ENGINE hash family — the oracle-checked
    twin of simhash_fingerprints: per-token md5 split into two 32-bit
    halves (the ANSI-safe integer idiom — a full 64-bit unsigned hash
    overflows a signed BIGINT cast on both engines), 64 bit-votes as
    conditional sums in ONE hash-agg pass, fingerprint emitted as
    (fp_hi, fp_lo) 32-bit words. Semantically identical to the
    xxhash64 production path (any balanced hash family gives SimHash
    its Hamming-locality property); the md5 variant exists so the
    driver gate can value-hash the fingerprints themselves instead of
    counting rows. Same plan shape either way: explode distinct
    tokens, one grouped 64-way conditional sum, zero joins."""
    d = _t(spark, sf_dir, "documents")
    from value_at_risk_spark.functions.text import tokens as _tokens

    tok = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens("text"))).alias("_t")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("_t"), 1, 8), 16, 10)
        .cast("long")
        .alias("_hi"),
        F.conv(F.substring(F.md5("_t"), 9, 8), 16, 10)
        .cast("long")
        .alias("_lo"),
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("_lo" if b < 32 else "_hi"), b % 32)
                    .bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    fp_lo = None
    fp_hi = None
    for b in range(32):
        bit_lo = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        bit_hi = F.when(F.col(f"_v{b + 32}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        fp_lo = bit_lo if fp_lo is None else fp_lo.bitwiseOR(bit_lo)
        fp_hi = bit_hi if fp_hi is None else fp_hi.bitwiseOR(bit_hi)
    return votes.select(
        "doc_id",
        fp_hi.cast("long").alias("fp_hi"),
        fp_lo.cast("long").alias("fp_lo"),
    )

@query("ann_lsh_topk", _lsh_oracle_sql())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets + exact re-rank
    within collisions — the 100 TB-scale path where the brute-force
    cross join is infeasible. GRADUATED from rows-only in r15: the
    seeded hyperplanes are plan literals, so the DuckDB oracle embeds
    the SAME 4x64 constants and replays sign-bit bucketing, Hamming-1
    multiprobe, the bucket equi-join, and the rounded-cosine re-rank —
    full value-hash parity, not just a recall floor. The certificate
    stays as defense in depth: raises unless recall@5 vs the exact
    cosine baseline for the same 10 queries holds >=0.25 (measured
    0.38-0.56 across SFs at 4 planes — 16 buckets prune ~94% of the
    corpus, so ~0.4 recall at 6% scan cost is the documented operating
    point)."""
    from value_at_risk_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    approx = lsh_topk(q, corpus, k=5, num_planes=4)
    _certify_topk_recall(
        approx, cosine_topk(q, corpus, k=5), 0.25, "ann_lsh_topk"
    )
    return approx

@query(
    "ann_ivf_topk",
    _KMEANS_CTES
    + """,
cells AS MATERIALIZED (
  -- corpus rows assigned to their nearest FINAL centroid (same
  -- expression/tie-break the hash-green kmeans af CTE uses)
  SELECT id, v, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c) t WHERE rn = 1
),
probes AS MATERIALIZED (
  -- each query (id < 10) probes its 2 nearest cells
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c WHERE v.id < 10) t WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, m.id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, m.v), 6) + 0 AS cosine
  FROM probes p JOIN cells m USING (cell)
  WHERE m.id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand) t WHERE rn <= 5
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — GRADUATED from rows-only in r15: the coarse quantizer
    now trains with the engine-replayable Lloyd loop
    (operators/similarity.kmeans_fit — data-derived init from the 8
    smallest ids, 6-decimal centroid quantization at every handoff, no
    RNG), so the DuckDB oracle replays the ENTIRE pipeline: the
    2-iteration fit as unrolled MATERIALIZED CTEs (the hash-green
    kmeans_cluster_assignments chain), corpus cell assignment, 2-cell
    probe selection per query, and the exact cosine re-rank — one
    vector landing in a different cell or one neighbor displaced in
    either engine reds the row. Each Lloyd pass is one pure-projection
    assign (centroids are plan literals) + one hash-agg; the search is
    an equi-join on cell id with candidate volume corpus/k·nprobe per
    query — the scale path where even LSH bucket joins are too wide.
    The recall certificate stays: raises unless recall@5 vs the exact
    cosine baseline holds >=0.7 (the re-rank is exact, so any loss is
    cell pruning)."""
    from value_at_risk_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    approx = ivf_topk(q, corpus, cents, k=5, nprobe=2)
    _certify_topk_recall(
        approx, cosine_topk(q, corpus, k=5), 0.7, "ann_ivf_topk"
    )
    return approx

@query(
    "knn_graph_ann_edges",
    _KMEANS_CTES
    + """,
cells AS MATERIALIZED (
  SELECT id, v, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c) t WHERE rn = 1
),
probes AS MATERIALIZED (
  -- EVERY row acts as a query probing its 2 nearest cells
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c) t WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, m.id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, m.v), 6) + 0 AS cosine
  FROM probes p JOIN cells m USING (cell)
  WHERE m.id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM cand) t WHERE rn <= 3
)
SELECT LEAST(query_id, neighbor_id) AS id_a,
       GREATEST(query_id, neighbor_id) AS id_b,
       MIN(cosine) + 0 AS cosine
FROM topk GROUP BY 1, 2 HAVING COUNT(*) = 2
""",
)
def knn_graph_ann_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-backed approximate mutual-kNN graph (r15, VERDICT #3): the
    sub-quadratic composition the exact ``knn_graph_mutual_edges`` row
    declares as its past-1M-vectors path, now a first-class operator —
    IVF quantizer (engine-replayable kmeans_fit), per-cell candidate
    generation via a plain SHUFFLE equi-join on cell id (queries ARE
    the corpus: nothing is broadcast), exact rounded-cosine re-rank,
    count-2 reciprocity. Candidate volume N·nprobe·(N/n_cells), never
    N². FULL oracle replay, not rows-only: the DuckDB twin replays the
    Lloyd fit (the hash-green kmeans CTE chain), cell assignment,
    2-cell probing, re-rank, and reciprocity — one vector in a
    different cell or one displaced neighbor reds the row. Defense in
    depth: certifies in-query that ANN top-k recall@3 vs the exact
    cosine baseline holds >=0.7 for a 10-query probe subset."""
    from value_at_risk_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_fit,
        knn_graph_ann,
    )

    emb = _t(spark, sf_dir, "embeddings")
    edges = knn_graph_ann(emb, k=3, nprobe=2, n_cells=8, iters=2)
    # certificate: the same quantizer's ivf_topk for 10 probe queries
    # vs the exact cosine top-k — a training/probing regression trips
    # the floor even if the (deterministic) oracle drifts in lockstep
    cents = kmeans_fit(emb, "vec_id", "embedding", k=8, iters=2)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    _certify_topk_recall(
        ivf_topk(q, corpus, cents, k=3, nprobe=2),
        cosine_topk(q, corpus, k=3),
        0.7,
        "knn_graph_ann_edges",
    )
    return edges

@query(
    "knn_graph_ann_indexed_edges",
    _KMEANS_CTES
    + """,
cells AS MATERIALIZED (
  SELECT id, v, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c) t WHERE rn = 1
),
probes AS MATERIALIZED (
  -- EVERY row acts as a query probing its 3 nearest cells
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, c2 c) t WHERE rn <= 3
),
cand AS (
  SELECT p.query_id, m.id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, m.v), 6) + 0 AS cosine
  FROM probes p JOIN cells m USING (cell)
  WHERE m.id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM cand) t WHERE rn <= 4
)
SELECT LEAST(query_id, neighbor_id) AS id_a,
       GREATEST(query_id, neighbor_id) AS id_b,
       MIN(cosine) + 0 AS cosine
FROM topk GROUP BY 1, 2 HAVING COUNT(*) = 2
""",
)
def knn_graph_ann_indexed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph FROM A PERSISTED INDEX (r16, VERDICT #1): the
    executed form of the >400k-vector path the one-shot
    ``knn_graph_ann`` declares. The IVF coarse structure trains ONCE
    per corpus through the index lifecycle (ensure_index build-or-load
    — the FAISS add/train split) with ``kmeans_fit``, whose Lloyd
    assign switches to the Arrow kernel at large n_cells (plan size
    constant in n_cells, so the build scales to thousands of cells
    where the one-shot literal expression caps at 256); vectors persist
    PARTITIONED BY CELL; graph construction reads member cells from
    storage, Arrow-probes each row's 3 nearest cells, and runs the
    shared per-cell-gram → merge → reciprocity tail
    (mutual_edges_from_cells). FULL oracle replay: the Arrow kernels
    are bit-identical to the literal-centroid expressions
    (_seq_cell_dists), so the DuckDB twin replays fit, assignment,
    probing, re-rank, and reciprocity — the same chain that
    hash-greens knn_graph_ann_edges, here at (k=4, nprobe=3). The
    gate-row n_cells=8 is fixture-scale; the operator's operating
    range is build-time cells ∝ N (PERF.md, Round 16, records the
    1M-vector growth run). Certificate: index-centroid ivf_topk
    recall@4 vs exact cosine >= 0.7 on a 10-query probe subset."""
    from value_at_risk_spark.operators.annindex import (
        build_ivf_graph_index,
        ensure_index,
        index_cache_dir,
        knn_graph_ann_indexed,
        load_ivf_graph_index,
    )
    from value_at_risk_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    params = {"n_cells": 8, "iters": 2, "trainer": "arrow_lloyd"}

    def _build(dirpath: str) -> None:
        build_ivf_graph_index(spark, dirpath, emb, n_cells=8, iters=2)

    cache = ensure_index(index_cache_dir("ivfgraph", sf_dir, params), _build)
    edges = knn_graph_ann_indexed(spark, cache, k=4, nprobe=3)
    cents, _ = load_ivf_graph_index(spark, cache)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    _certify_topk_recall(
        ivf_topk(q, corpus, cents, k=4, nprobe=3),
        cosine_topk(q, corpus, k=4),
        0.7,
        "knn_graph_ann_indexed_edges",
    )
    return edges

@query(
    "hybrid_retrieval_rrf",
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents
),
docs AS (SELECT doc_id, len(ts) AS dl, ts FROM toks),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM docs),
tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(ts) AS t FROM docs)
  WHERE t IN ('spark', 'vector', 'stream')
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
bm25 AS (
  SELECT doc_id,
         ROUND(SUM(
           LN((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / stats.avgdl))
         ), 6) + 0 AS s
  FROM tf JOIN dfreq USING (t) CROSS JOIN stats
  GROUP BY 1
),
lex AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
  FROM bm25 QUALIFY r <= 20
),
qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
),
dense AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS r
  FROM (
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        qv.v), 6) + 0 AS c
    FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
  ) QUALIFY r <= 20
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / (60 + l.r), 0)
               + COALESCE(1.0 / (60 + d.r), 0), 6) + 0 AS rrf,
         l.r AS lex_rank, d.r AS dense_rank
  FROM lex l FULL OUTER JOIN dense d USING (doc_id)
)
SELECT doc_id, rrf,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(dense_rank AS BIGINT) AS dense_rank
FROM fused
QUALIFY ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) <= 10
""",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (r16): the modern
    RAG-retrieval shape — a LEXICAL leg (BM25 vs a fixed query, the
    bm25_relevance_scores machinery) and a DENSE leg (exact cosine vs
    a query embedding — doc 0's vector) each produce a top-20 ranking,
    fused as RRF = Σ 1/(60 + rank) over the legs a doc appears in
    (Cormack et al.'s k=60), top-10 by (rrf desc, id). Both legs rank
    on ROUNDED scores with id tie-breaks — fully deterministic, fully
    SQL-replayable; the fusion join is |top-k|-sized, the legs are the
    respective family's scale paths (pruned postings; ANN stands in
    for the brute-force dense leg past fixture scale). The two top-20
    heads are TakeOrdered-style bounded frames, so the ranking windows
    run over ≤ corpus-filtered rows (lint-pinned bounded)."""
    from value_at_risk_spark.functions.text import tokens
    from value_at_risk_spark.functions.vector import cosine_similarity

    terms = ["spark", "vector", "stream"]
    k1, b, kr = 1.2, 0.75, 60
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens("text").alias("ts")).select(
        "doc_id", F.size("ts").alias("dl"), "ts"
    )
    stats = docs.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select("doc_id", "dl", F.explode("ts").alias("t"))
        .filter(F.col("t").isin(terms))
        .groupBy("doc_id", "dl", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    score = (
        idf * F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    bm25 = (
        tf.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg((F.round(F.sum(score), 6) + F.lit(0.0)).alias("s"))
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject — parallel
    # partial top-k per partition, never a corpus-sized single-task
    # window); the rank window then runs over the 20-row head only
    wl = Window.orderBy(F.desc("s"), F.asc("doc_id"))
    lex = (
        bm25.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(20)
        .withColumn("lex_rank", F.row_number().over(wl))
        .select("doc_id", "lex_rank")
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qv")
    )
    wd = Window.orderBy(F.desc("c"), F.asc("doc_id"))
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                F.round(cosine_similarity("embedding", "_qv"), 6)
                + F.lit(0.0)
            ).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("doc_id"))
        .limit(20)
        .withColumn("dense_rank", F.row_number().over(wd))
        .select("doc_id", "dense_rank")
    )
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.round(
                F.coalesce(1.0 / (F.col("lex_rank") + kr), F.lit(0.0))
                + F.coalesce(1.0 / (F.col("dense_rank") + kr), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("rrf"),
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("dense_rank").cast("long").alias("dense_rank"),
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("_r", F.row_number().over(wf))
        .filter(F.col("_r") <= 10)
        .drop("_r")
    )

@query(
    "embedding_centroid_by_label",
    """
SELECT label, CAST(i - 1 AS BIGINT) AS pos,
       (ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) + 0) AS centroid
FROM embeddings, generate_series(1, 64) t(i)
GROUP BY 1, 2
""",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid (A5 mean form) — the k-means /
    classifier-prototype building block, long-form for the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            (F.round(F.avg(F.col("v").cast("double")), 6) + F.lit(0.0)).alias(
                "centroid"
            )
        )
    )

@query("kmeans_cluster_assignments", _KMEANS_ORACLE)
def kmeans_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class k-means clustering (the corpus partitioner under
    SemDeDup / IVF, here as its own operator): deterministic Lloyd fit
    + assignment (operators/similarity.kmeans_assignments — data-
    derived init from the k smallest ids, centroids quantized to 6
    decimals at every handoff, ties to the smallest cell), reported as
    per-cluster membership aggregates. ``id_sum`` is a permutation-
    sensitive membership checksum: the oracle REPLAYS the entire
    2-iteration Lloyd loop in SQL (unrolled assign→mean CTE chain,
    MATERIALIZED per the BPE/CDC oracle lesson), so one vector landing
    in a different cell in either engine reds the row. Each Spark
    iteration is one pure-projection assign (centroids are plan
    literals — no shuffle) plus one hash-agg; only k x dim doubles
    reach the driver per pass, the shape that holds at 100 TB."""
    from value_at_risk_spark.operators.similarity import kmeans_assignments

    emb = _t(spark, sf_dir, "embeddings")
    a = kmeans_assignments(emb, "vec_id", "embedding", k=8, iters=2)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("id_sum"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
        (F.round(F.avg("dist2"), 4) + F.lit(0.0)).alias("avg_dist2"),
    )

@query(
    "knn_graph_mutual_edges",
    """
WITH pairs AS MATERIALIZED (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) + 0
           AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
),
topk AS MATERIALIZED (
  SELECT qa, qb, cosine FROM (
    SELECT qa, qb, cosine,
           ROW_NUMBER() OVER (PARTITION BY qa
                              ORDER BY cosine DESC, qb) AS rn
    FROM pairs) t WHERE rn <= 3
)
SELECT LEAST(qa, qb) AS id_a, GREATEST(qa, qb) AS id_b,
       MIN(cosine) + 0 AS cosine
FROM topk GROUP BY 1, 2 HAVING COUNT(*) = 2
""",
)
def knn_graph_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph over the embedding corpus (k=3): the standard
    sparsifier feeding graph clustering / semantic dedup — an edge
    needs RECIPROCAL top-k membership, which kills the hub-node
    false merges one-way kNN graphs suffer. The Spark side runs
    operators/similarity.cosine_allpairs_topk_blocked: rows hash into
    B blocks, each block pair is one Arrow task computing the gram
    matrix with a single BLAS call and emitting only batch-local top-k
    (N·B·k candidate rows shuffle, never the N² pair matrix), then one
    window merge + one groupBy for mutuality — the exact-kNN plan that
    holds at 100 TB (the ANN index family is the sub-quadratic
    sibling). The oracle recomputes every pair, both top-3 directions,
    and the reciprocity condition."""
    from value_at_risk_spark.operators.similarity import knn_graph_mutual

    emb = _t(spark, sf_dir, "embeddings")
    return knn_graph_mutual(emb, k=3, num_blocks=8)

@query(
    "semantic_decontaminate",
    """
WITH ref AS (
  SELECT vec_id AS rid, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 = 0
),
tr AS (
  SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 17 <> 0
),
scored AS (
  SELECT t.tid, r.rid,
         ROUND(list_cosine_similarity(t.v, r.v), 6) + 0 AS cosine
  FROM tr t, ref r
),
best AS (
  SELECT tid, rid, cosine FROM (
    SELECT tid, rid, cosine,
           ROW_NUMBER() OVER (PARTITION BY tid
                              ORDER BY cosine DESC, rid) AS rn
    FROM scored) s WHERE rn = 1
)
SELECT tid AS vec_id, rid AS ref_id, cosine AS max_cosine,
       (cosine >= 0.31) AS contaminated
FROM best
""",
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of the
    n-gram decontaminators (decontaminate_training_docs /
    decontaminate_bloom_prefilter): every training vector's max cosine
    against a benchmark reference set (here the vec_id % 17 == 0
    slice, the same planted-benchmark convention), with the arg-max
    reference id for audit and a threshold keep/drop verdict.
    Paraphrased leakage defeats n-gram matching; this catches it. The
    broadcast direction is the decisive scale choice
    (operators/similarity.reference_max_cosine): the EVAL suite is the
    small side by nature, so it ships in the task closure and the
    100 TB training corpus streams through one BLAS matmul per Arrow
    batch, one output row per corpus row, nothing collected. The
    oracle recomputes every (train, ref) pair and the rounded-tie
    smallest-id argmax."""
    from value_at_risk_spark.operators.similarity import (
        reference_max_cosine,
    )

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 17 == 0)
    train = emb.filter(F.col("vec_id") % 17 != 0)
    scored = reference_max_cosine(train, ref)
    return scored.select(
        "vec_id",
        "ref_id",
        "max_cosine",
        (F.col("max_cosine") >= 0.31).alias("contaminated"),
    )

@query(
    "embedding_drift_by_label",
    """
WITH m AS (
  SELECT label, vec_id % 2 AS half, i - 1 AS pos,
         AVG(CAST(embedding[i] AS DOUBLE)) AS c
  FROM embeddings, generate_series(1, 64) t(i)
  GROUP BY 1, 2, 3
),
j AS (
  SELECT e.label,
         SUM(e.c * o.c) AS dot,
         SQRT(SUM(e.c * e.c)) AS ne,
         SQRT(SUM(o.c * o.c)) AS no
  FROM m e JOIN m o ON o.label = e.label AND o.pos = e.pos
  WHERE e.half = 0 AND o.half = 1
  GROUP BY 1
),
n AS (
  SELECT label,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_even,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_odd
  FROM embeddings GROUP BY 1
)
SELECT n.label, n.n_even, n.n_odd,
       ROUND(j.dot / (j.ne * j.no), 6) + 0 AS centroid_cosine,
       ROUND(j.ne / j.no, 6) + 0 AS norm_ratio
FROM n JOIN j ON j.label = n.label
""",
)
def embedding_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitoring: per label, the cosine between
    the centroids of two corpus halves (vec_id parity plays the
    before/after split) and their norm ratio — the sibling of
    field_drift_report for the representation space, the check an
    embedding-pipeline refresh runs before trusting a new encoder
    batch. Entirely native aggregates: per-(label, half, pos) means in
    one hash-agg, then the 64-term dot/norms in a second tiny agg —
    no arrays collected, no Python, two shuffles of k x dim rows
    total at any corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    m = (
        emb.select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos", "x"
            ),
        )
        .groupBy("label", "half", "pos")
        .agg(F.avg("x").alias("c"))
    )
    e = m.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ce")
    )
    o = m.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("co")
    )
    j = (
        e.join(o, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ce") * F.col("co")).alias("dot"),
            F.sqrt(F.sum(F.col("ce") * F.col("ce"))).alias("ne"),
            F.sqrt(F.sum(F.col("co") * F.col("co"))).alias("no"),
        )
    )
    n = emb.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_even"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).alias("n_odd"),
    )
    return n.join(j, "label").select(
        "label",
        "n_even",
        "n_odd",
        (
            F.round(F.col("dot") / (F.col("ne") * F.col("no")), 6)
            + F.lit(0.0)
        ).alias("centroid_cosine"),
        (F.round(F.col("ne") / F.col("no"), 6) + F.lit(0.0)).alias(
            "norm_ratio"
        ),
    )

@query("jl_distortion_report", _jl_oracle_sql())
def jl_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection (64 → 32 dims) with an
    in-query distortion CERTIFICATE — the dimensionality-reduction
    step a 100 TB pipeline runs before ANN / dedup to halve every
    downstream gram and index cost. The projection is a pure literal-
    matrix expression (functions/vector.jl_project: 32 HOF dot
    products, no shuffle, no Python, streaming-safe); the certificate
    recomputes pairwise distance ratios on adjacent-id pairs and
    RAISES unless min/max/mean stay inside the JL concentration
    envelope measured for this out-dim (ratio ~ χ²(32)/32: observed
    [0.42, 1.93] across SFs, floors 0.25/2.5/±0.15) — a projection
    regression turns the gate row red. The oracle replays the exact
    rounded matrix through a VALUES table, so hash equality pins every
    projected coordinate's contribution."""
    from value_at_risk_spark.functions.vector import (
        jl_project,
        jl_projection_matrix,
        squared_distance,
    )

    mat = jl_projection_matrix(64, 32, seed=123)
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("pv", jl_project("v", mat))
    ea = e.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("v").alias("va"),
        F.col("pv").alias("pa"),
    ).filter(F.col("id_a") % 2 == 0)
    eb = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("pv").alias("pb"),
    )
    pairs = ea.join(eb, F.col("id_b") == F.col("id_a") + 1).select(
        "label",
        (
            squared_distance("pa", "pb") / squared_distance("va", "vb")
        ).alias("ratio"),
    )
    cert = pairs.agg(
        F.min("ratio").alias("lo"),
        F.max("ratio").alias("hi"),
        F.avg("ratio").alias("mu"),
    ).first()
    if cert.lo < 0.25 or cert.hi > 2.5 or abs(cert.mu - 1.0) > 0.15:
        raise ValueError(
            "jl_distortion_report: projection outside the JL envelope "
            f"(min={cert.lo:.3f}, max={cert.hi:.3f}, mean={cert.mu:.3f})"
        )
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.round(F.avg("ratio"), 4) + F.lit(0.0)).alias("avg_ratio"),
        (F.round(F.min("ratio"), 4) + F.lit(0.0)).alias("min_ratio"),
        (F.round(F.max("ratio"), 4) + F.lit(0.0)).alias("max_ratio"),
    )

@query(
    "knn_incremental_update",
    """
WITH pairs AS MATERIALIZED (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) + 0
           AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id <> b.vec_id
)
SELECT qa AS query_id, qb AS neighbor_id, cosine,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT qa, qb, cosine,
             ROW_NUMBER() OVER (PARTITION BY qa
                                ORDER BY cosine DESC, qb) AS rn
      FROM pairs) t
WHERE rn <= 3
""",
)
def knn_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the exact top-k table — the
    operation that makes a quadratic artifact affordable at 100 TB:
    the graph is O(N²) to BUILD but only O(N·|batch|) to MAINTAIN.
    The vec_id % 5 == 0 slice plays the arriving batch; the query
    builds the stored top-k on the remaining 80% (the maintained
    artifact), then applies operators/similarity.knn_topk_incremental:
    one streaming vs-batch pass over the union (batch in the task
    closure), one broadcast batch-vs-old top-k, and a merge window
    over three provably disjoint candidate sources. The oracle is the
    FROM-SCRATCH answer on the full corpus — hash equality proves the
    incremental path reconstructs it exactly, displaced entries,
    rounded ties, ranks and all."""
    from value_at_risk_spark.operators.similarity import (
        cosine_allpairs_topk_blocked,
        knn_topk_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    stored = cosine_allpairs_topk_blocked(old, k=3, num_blocks=8).select(
        "query_id", "neighbor_id", "cosine"
    )
    return knn_topk_incremental(stored, old, new, k=3)

@query(
    "normalized_embeddings",
    """
WITH norms AS (
  SELECT vec_id, SQRT(SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS e FROM embeddings)
  GROUP BY vec_id
)
SELECT e.vec_id, CAST(i - 1 AS BIGINT) AS pos,
       (ROUND(CAST(embedding[i] AS DOUBLE) / n.nrm, 6) + 0) AS unit_val
FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id,
     generate_series(1, 64) t(i)
""",
)
def normalized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalization to unit vectors (the standard pre-ANN transform)
    as one per-row higher-order expression, long-form for the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    nrm = F.sqrt(dot_product("embedding", "embedding"))
    unit = F.transform("embedding", lambda x: x.cast("double") / nrm)
    base = emb.select("vec_id", unit.alias("_u"))
    return base.select(
        "vec_id", F.posexplode("_u").alias("pos", "unit_val")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        (F.round("unit_val", 6) + F.lit(0.0)).alias("unit_val"),
    )

@query(
    "ann_ivf_recall_planted",
    """
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planted AS (
  SELECT vec_id + 1000000 AS id,
         array_agg(x + ((vec_id * 31 + (i - 1) * 17) % 7 - 3) * 0.005
                   ORDER BY i) AS v
  FROM (SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
               UNNEST(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings WHERE vec_id % 5 = 0) t
  GROUP BY vec_id
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT q.id AS query_id, c.id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, c.v), 6) + 0 AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.id
           ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.id
         ) AS rn
  FROM planted q JOIN corpus c ON c.id <> q.id
) WHERE rn = 1
""",
)
def ann_ivf_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN recall@1, oracle-pinned: each planted near-dup
    query (same deterministic perturbation as ann_near_dup_lsh,
    cosine ≈ 0.997 to its source — every other vector ≤ ~0.6) must
    return its source as top-1 through the FULL IVF path: distributed
    k-means coarse quantizer, cell assignment, nprobe=2 probing, exact
    re-rank within probed cells only. The DuckDB twin computes the
    exact top-1 by brute force, so hash equality asserts recall@1 = 1
    through the bucketed scale path — the IVF analogue of what
    ann_near_dup_lsh pins for sign-LSH. (Near-identical query/source
    pairs land in the same k-means cell, so the assertion is robust to
    last-ulp centroid drift across runs; nprobe=2 covers the boundary.)
    Since r14 the trained coarse quantizer build-or-loads through the
    index lifecycle like the PQ-family gates (train once per corpus,
    load the k x dim centroid table thereafter — 3 Lloyd passes saved
    per repeat run); the keyed cache's corpus fingerprint + code salt
    keep a regenerated fixture or trainer change from serving stale
    centroids."""
    from value_at_risk_spark.operators.annindex import (
        ensure_index,
        index_cache_dir,
    )
    from value_at_risk_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )
    from value_at_risk_spark.sources.registry import Registry

    base, planted = _planted_embedding_corpus(_t(spark, sf_dir, "embeddings"))
    corpus = base.unionAll(planted)

    def _build(dirpath: str) -> None:
        trained = kmeans_centroids(corpus, "v", k=8, iters=3)
        Registry(dirpath).write(
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(trained)],
                "cell int, v array<double>",
            ),
            "ann_centroids",
            num_files=1,
        )

    cache = ensure_index(
        index_cache_dir(
            "ivf_recall", sf_dir, {"k": 8, "iters": 3, "planted": True}
        ),
        _build,
    )
    cents = [
        list(r.v)
        for r in sorted(
            Registry(cache).read(spark, "ann_centroids").collect(),
            key=lambda r: r.cell,
        )
    ]
    top1 = ivf_topk(
        planted.select(F.col("id").alias("query_id"), "v"),
        corpus.select(F.col("id").alias("neighbor_id"), "v"),
        cents,
        k=1,
        nprobe=2,
        query_id="query_id",
        corpus_id="neighbor_id",
        vec_col="v",
    )
    return top1.filter(F.col("rank") == 1).select(
        "query_id", "neighbor_id", "cosine"
    )

@query(
    "embedding_qc_report",
    """
WITH base AS (
  SELECT label,
         CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
           AS nrm
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(SUM(CASE WHEN isnan(nrm) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       ROUND(AVG(nrm), 6) + 0 AS norm_mean,
       ROUND(STDDEV_SAMP(nrm), 6) + 0 AS norm_std,
       ROUND(MIN(nrm), 6) + 0 AS norm_min,
       ROUND(MAX(nrm), 6) + 0 AS norm_max
FROM base GROUP BY 1
""",
)
def embedding_qc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-side data quality — the embedding hygiene sweep that runs
    before any ANN index build: per-label vector counts, zero-vector
    and NaN counts (both poison cosine math downstream), and the norm
    distribution (collapsed or exploded norms flag a broken encoder
    batch). One scan, per-row HOF norm (no explode), one grouped
    conditional aggregate — the vector sibling of data_quality_audit."""
    from value_at_risk_spark.functions.vector import vector_norm

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "label",
        vector_norm(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("nrm"),
    )
    return base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum(F.when(F.isnan("nrm"), 1).otherwise(0)).alias("n_nan"),
        (F.round(F.avg("nrm"), 6) + F.lit(0.0)).alias("norm_mean"),
        (F.round(F.stddev_samp("nrm"), 6) + F.lit(0.0)).alias("norm_std"),
        (F.round(F.min("nrm"), 6) + F.lit(0.0)).alias("norm_min"),
        (F.round(F.max("nrm"), 6) + F.lit(0.0)).alias("norm_max"),
    )

@query(
    "semdedup_planted",
    """
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planted AS (
  SELECT vec_id + 1000000 AS id,
         array_agg(x + ((vec_id * 31 + (i - 1) * 17) % 7 - 3) * 0.005
                   ORDER BY i) AS v
  FROM (SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
               UNNEST(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings WHERE vec_id % 5 = 0) t
  GROUP BY vec_id
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
dups AS (
  SELECT b.id, MIN(a.id) AS dup_of
  FROM corpus a JOIN corpus b
    ON a.id < b.id AND list_cosine_similarity(a.v, b.v) >= 0.99
  GROUP BY b.id
)
SELECT c.id, d.dup_of IS NOT NULL AS is_dup, d.dup_of
FROM corpus c LEFT JOIN dups d ON c.id = d.id
""",
)
def semdedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup; Abbas et al. 2023) on the planted
    near-dup corpus, ORACLE-pinned: k-means + nprobe=2 boundary
    probing restrict the exact cosine pair predicate to shared-cell
    pairs (operators/similarity.semdedup_survivors — pair work
    O(N²·nprobe²/k), shuffle keyed on cell), and the DuckDB twin
    computes the UNRESTRICTED O(N²) answer. Hash equality therefore
    asserts full recall through the bucketed path on this fixture:
    planted pairs sit at cosine ≈0.997 while natural pairs top out
    ≈0.51, and nprobe=2 closes the paper's boundary-straddle hole
    (measured: 8/400 pairs straddle rank-1 cells at sf0.1; zero
    escape the top-2 probe sets, because near-identical vectors have
    near-identical centroid distance profiles). The cell column is
    dropped from the gate projection because cell IDs are an RNG
    artifact of the seeded trainer."""
    from value_at_risk_spark.operators.similarity import semdedup_survivors

    e = _t(spark, sf_dir, "embeddings")
    base, planted = _planted_embedding_corpus(e)
    corpus = base.unionByName(planted).select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding")
    )
    out = semdedup_survivors(
        corpus, k=8, threshold=0.99, iters=3, seed=123, dim=None
    )
    return out.select(F.col("vec_id").alias("id"), "is_dup", "dup_of")

@query(
    "simhash_near_dup_pairs",
    f"""
WITH {_SIMHASH_FP_CTES},
bands AS (
  SELECT doc_id, fp, b AS band,
         ((fp // (1::HUGEINT << (16 * b))) % 65536)::BIGINT AS band_val
  FROM fpu, UNNEST(range(0, 4)) AS q(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       bit_count(xor(fa::UBIGINT, fb::UBIGINT))::INT AS hamming
FROM cand
WHERE bit_count(xor(fa::UBIGINT, fb::UBIGINT)) <= 8
""",
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banded near-dup candidate pairs with exact-Hamming
    verification, ORACLE-checked value-for-value (r13 graduation via
    the DuckDB XXH64 replay — the oracle recomputes the xxhash64
    fingerprints, re-bands them 4x16 bits, and verifies the identical
    popcount-Hamming cut): 4 bands over 64 bits catch every pair
    within Hamming distance 3 by construction (pigeonhole-EXACT,
    pytest-pinned); the popcount verify keeps pairs at distance ≤ 8
    that banding surfaced. Completes the SimHash modality from
    fingerprints to pairs — same bucketed (band, value) equi-join
    shape as MinHash and sign-LSH."""
    from value_at_risk_spark.operators.dedup import simhash_band_pairs

    d = _t(spark, sf_dir, "documents")
    fps = simhash(d)
    return simhash_band_pairs(fps, num_bands=4, max_hamming=8)

@query(
    "cosine_near_dup_pairs",
    """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) + 0 AS cosine
FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""",
)
def cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (the 4th dedup modality next
    to exact / MinHash-LSH / SimHash): all pairs above a cosine
    threshold, exact. The fixture's embeddings top out at cosine ≈ 0.51
    (no planted dups), so the gate threshold 0.4 selects the true top
    ~0.05% most-similar pairs; production near-dup thresholds (≥ 0.95)
    use the same operator. The operator is the block-partitioned
    Arrow-matmul form (block-pair applyInPandas, one BLAS gram per
    block pair); the sub-quadratic LSH scale path lives beside it in
    operators/similarity."""
    from value_at_risk_spark.operators.similarity import (
        cosine_near_dup_pairs as _pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    return _pairs(e, threshold=0.4)

@query(
    "ann_near_dup_lsh",
    """
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planted AS (
  SELECT vec_id + 1000000 AS id,
         array_agg(x + ((vec_id * 31 + (i - 1) * 17) % 7 - 3) * 0.005
                   ORDER BY i) AS v
  FROM (SELECT vec_id,
               generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
               UNNEST(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings WHERE vec_id % 5 = 0) t
  GROUP BY vec_id
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) + 0 AS cosine
FROM corpus a JOIN corpus b ON b.id > a.id
WHERE list_cosine_similarity(a.v, b.v) >= 0.95
""",
)
def ann_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LSH→exact near-dup path, oracle-pinned: the DuckDB
    twin computes ALL pairs with exact cosine ≥ 0.95 over a corpus with
    deterministically planted near-dups (every 5th vector gets a copy
    perturbed by an exact integer-arithmetic delta → cosine ≈ 0.997;
    natural fixture pairs top out ≈ 0.51, so truth = exactly the
    planted pairs, far from the threshold on both sides). The Spark
    side generates candidates with banded sign-LSH (64 planes × 8
    bands — a (band, band_value) equi-join, never all-pairs) and runs
    the exact cosine predicate only on collisions. Hash equality
    therefore asserts 100% LSH recall on the fixture: the escape
    probability of a cosine-0.997 pair under 8 bands of 8 bits is
    (1 - p⁸)⁸ ≈ 2e-7, p = 1 - arccos(0.997)/π ≈ 0.986.

    This is the scale path cosine_near_dup_pairs' docstring prescribes,
    composed and gated the way lsh_recall_high_jaccard pins MinHash."""
    from value_at_risk_spark.operators.similarity import (
        cosine_near_dup_pairs_lsh,
    )

    base, planted = _planted_embedding_corpus(_t(spark, sf_dir, "embeddings"))
    corpus = base.unionAll(planted)
    return cosine_near_dup_pairs_lsh(
        corpus, threshold=0.95, id_col="id", vec_col="v"
    )

@query(
    "embedding_covariance",
    """
WITH pos AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
       ROUND(COVAR_SAMP(a.x, b.x), 6) + 0 AS cov
FROM pos a JOIN pos b USING (vec_id)
GROUP BY 1, 2
""",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full covariance matrix of the 64-dim embedding column via the
    high-dim-safe path (operators/vector_agg.embedding_covariance):
    per-batch numpy partial moments through mapInPandas, one global
    fold, moment-identity covariance — shuffle volume independent of
    row count, no dim² row explosion (A8 at embedding scale)."""
    from value_at_risk_spark.operators.vector_agg import (
        embedding_covariance as _cov,
    )

    e = _t(spark, sf_dir, "embeddings")
    c = _cov(e, "embedding", ddof=1)
    return c.select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )

@query(
    "embedding_scalar_quantization",
    """
WITH ex AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS ord,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
mm AS (
  SELECT ord, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY ord
),
codes AS (
  SELECT e.vec_id, e.v, m.mn, m.mx,
         CASE WHEN m.mx = m.mn THEN 0
              ELSE LEAST(255, GREATEST(0, FLOOR((e.v - m.mn) * 255 / (m.mx - m.mn))))
         END AS code
  FROM ex e JOIN mm m ON e.ord = m.ord
)
SELECT vec_id,
       ROUND(AVG(code), 4) + 0 AS mean_code,
       ROUND(AVG(ABS(v - (mn + (code + 0.5) * (mx - mn) / 255))), 6) + 0 AS mae
FROM codes GROUP BY 1
""",
)
def embedding_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of the
    embedding column — the standard 4x memory compression in front of
    ANN indexes at corpus scale — reported as each vector's mean code
    and mean absolute reconstruction error. Scale shape: the min/max
    pass is ONE posexplode + grouped agg reduced map-side to dim-sized
    partials (the shuffle carries ~dim rows per task, not rows x dim);
    the dim-length bounds frame is broadcast back as two arrays; code
    assignment and reconstruction are per-row higher-order functions
    inside whole-stage codegen — no Python, no second shuffle."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).select("vec_id", "pos", F.col("v").cast("double").alias("v"))
    mm = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bounds = mm.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_mns"),
        F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_mxs"),
    ).select(
        F.transform("_mns", lambda x: x["mn"]).alias("mns"),
        F.transform("_mxs", lambda x: x["mx"]).alias("mxs"),
    )
    j = e.crossJoin(F.broadcast(bounds))
    code_at = lambda x, i: F.when(  # noqa: E731
        F.element_at("mxs", i + 1) == F.element_at("mns", i + 1), F.lit(0.0)
    ).otherwise(
        F.least(
            F.lit(255.0),
            F.greatest(
                F.lit(0.0),
                F.floor(
                    (x.cast("double") - F.element_at("mns", i + 1))
                    * 255
                    / (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
                ),
            ),
        )
    )
    # materialize the code array ONCE, then reconstruct from it: the
    # code_at transform is referenced by both outputs, and inlining it
    # into the MAE expression would evaluate the whole quantization
    # twice per row (CollapseProject keeps multi-referenced non-cheap
    # projections as their own step, so this select is a real barrier)
    coded = j.select(
        "vec_id",
        "embedding",
        "mns",
        "mxs",
        F.transform(F.col("embedding"), code_at).alias("_codes"),
    )
    recon_err = F.transform(
        F.col("embedding"),
        lambda x, i: F.abs(
            x.cast("double")
            - (
                F.element_at("mns", i + 1)
                + (F.element_at("_codes", i + 1) + 0.5)
                * (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
                / 255
            )
        ),
    )
    n = F.size("embedding")
    return coded.select(
        "vec_id",
        (
            F.round(
                F.aggregate("_codes", F.lit(0.0), lambda a, x: a + x) / n, 4
            )
            + F.lit(0.0)
        ).alias("mean_code"),
        (
            F.round(
                F.aggregate(recon_err, F.lit(0.0), lambda a, x: a + x) / n, 6
            )
            + F.lit(0.0)
        ).alias("mae"),
    )

def _pq_oracle_sql(
    m: int = 4,
    ksub: int = 16,
    sub: int = 16,
    k: int = 5,
    qmod: int = 25,
    v_cte: str | None = None,
    grid_mean: bool = False,
) -> str:
    """DuckDB replay of pq_ann_topk end to end: per-subspace Lloyd
    training (the kmeans_fit contract — ksub-smallest-id init,
    6-decimal quantized handoffs, smallest-cell ties) as unrolled
    MATERIALIZED CTEs, encoding as a second nearest-cell pass keeping
    the winning CENTROID directly, reconstruction by list
    concatenation, and the exact rounded-cosine re-rank vs the
    reconstructions.

    ``v_cte``: override the leading WITH chain — any CTE prefix that
    ends by defining ``v(id, v)`` (the corpus the sub-fits train on).
    The OPQ graduation passes the golden-rotation chain here so the
    SAME pq_fit replay machinery runs downstream of pinned rotation
    literals. ``qmod``: query-subset modulus (id % qmod = 0).
    ``grid_mean``: replay pq_fit's grid_exact_mean update (integer
    micro-sums + half-away rounding in pure integer arithmetic —
    required when the training vectors are themselves on the 6-decimal
    grid; see similarity.pq_fit)."""
    if grid_mean:
        mean_expr = (
            "CAST(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)"
            " ELSE -((2*(-s) + n) // (2*n)) END AS DOUBLE) / 1000000"
        )
        mean_inner = (
            "SELECT cell, i, SUM(CAST(ROUND(x * 1000000, 0) AS BIGINT)) AS s,"
            " COUNT(*) AS n FROM "
        )
    parts = [
        v_cte
        if v_cte is not None
        else """WITH v AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)"""
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        if grid_mean:
            m1_cte = f"""m1_{j} AS MATERIALIZED (
  SELECT cell, array_agg({mean_expr} ORDER BY i) AS c FROM (
    {mean_inner}(
      SELECT cell, generate_subscripts(sv, 1) AS i, UNNEST(sv) AS x
      FROM a1_{j}
    ) t GROUP BY cell, i) t2 GROUP BY cell
)"""
        else:
            m1_cte = f"""m1_{j} AS MATERIALIZED (
  SELECT cell, array_agg(ROUND(mm, 6) ORDER BY i) AS c FROM (
    SELECT cell, i, AVG(x) AS mm FROM (
      SELECT cell, generate_subscripts(sv, 1) AS i, UNNEST(sv) AS x
      FROM a1_{j}
    ) t GROUP BY cell, i) t2 GROUP BY cell
)"""
        parts.append(f""",
s{j} AS MATERIALIZED (
  SELECT id, v[{lo}:{hi}] AS sv FROM v
),
c0_{j} AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         list_transform(sv, x -> ROUND(x, 6)) AS c
  FROM (SELECT id, sv FROM s{j} ORDER BY id LIMIT {ksub})
),
a1_{j} AS MATERIALIZED (
  SELECT id, sv, cell FROM (
    SELECT s.id, s.sv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.id
                              ORDER BY list_distance(s.sv, c.c), c.cell) AS rn
    FROM s{j} s, c0_{j} c) t WHERE rn = 1
),
{m1_cte},
c1_{j} AS MATERIALIZED (
  SELECT p.cell, COALESCE(q.c, p.c) AS c
  FROM c0_{j} p LEFT JOIN m1_{j} q USING (cell)
),
code_{j} AS MATERIALIZED (
  SELECT id, c AS rc FROM (
    SELECT s.id, c.c,
           ROW_NUMBER() OVER (PARTITION BY s.id
                              ORDER BY list_distance(s.sv, c.c), c.cell) AS rn
    FROM s{j} s, c1_{j} c) t WHERE rn = 1
)""")
    joins = " ".join(
        f"JOIN code_{j} c{j} USING (id)" for j in range(1, m)
    )
    recon = " || ".join(f"c{j}.rc" for j in range(m))
    parts.append(f""",
recon AS MATERIALIZED (
  SELECT c0.id, {recon} AS r
  FROM code_0 c0 {joins}
),
qs AS (SELECT id AS query_id, v FROM v WHERE id % {qmod} = 0),
cand AS (
  SELECT q.query_id, r.id AS neighbor_id,
         ROUND(list_cosine_similarity(q.v, r.r), 6) + 0 AS cosine
  FROM qs q, recon r WHERE r.id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand) t WHERE rn <= {k}
""")
    return "".join(parts)


@query("pq_ann_topk", _pq_oracle_sql())
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — GRADUATED from rows-only in r15: the
    codebooks now train with the engine-replayable ``pq_fit`` (the
    kmeans_fit contract per subspace — ksub-smallest-id init,
    6-decimal quantized handoffs, no RNG), so the DuckDB oracle
    replays the ENTIRE pipeline: 4 per-subspace Lloyd fits as unrolled
    MATERIALIZED CTEs, code assignment, reconstruction, and the exact
    rounded-cosine re-rank — one code flipping in either engine reds
    the row. The r14 certificate stays as defense in depth: the row
    replants the pytest near-dup queries and raises unless the source
    survives a 10%-of-corpus shortlist for >=60% of them. Pipeline:
    train m=4 sub-codebooks distributed (ONE Lloyd pass advances all
    four), encode the corpus to 4 small ints per vector (16x memory
    compression at dim 64), search by in-codegen reconstruction
    distance. The candidate scan carries the code column, never the
    float vectors — the memory lever that makes billion-vector ANN fit
    a cluster."""
    from value_at_risk_spark.operators.annindex import (
        ensure_index,
        index_cache_dir,
        load_pq_index,
        save_pq_index,
    )
    from value_at_risk_spark.operators.similarity import (
        pq_encode,
        pq_fit,
        pq_topk,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    # iters=1 at the GATE only (wall-time budget; r06 measured 27s+ on
    # a loaded box): the pytest recall contracts train with full iters.
    # Training BUILD-OR-LOADS through the index lifecycle keyed by
    # (sf_dir, corpus fingerprint, params) — an index is trained once
    # per corpus, and repeated gate/sweep runs load the frozen
    # artifacts instead of re-paying k-means per invocation.
    params = {"m": 4, "ksub": 16, "iters": 1, "init": "data", "quant": 6}

    def _build(dirpath: str) -> None:
        cb = pq_fit(e, m=4, ksub=16, iters=1, dim=64)
        save_pq_index(spark, dirpath, cb, pq_encode(e, cb))

    cache = ensure_index(index_cache_dir("pq", sf_dir, params), _build)
    cb, codes, _ = load_pq_index(spark, cache)
    n = e.count()
    planted = _planted_queries(e, 25)
    _certify_shortlist_recall(
        pq_topk(planted, codes, cb, k=max(5, n // 10)),
        planted.count(),
        0.6,
        "pq_ann_topk",
    )
    queries = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(queries, codes, cb, k=5).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rnk")
    )

def _ivfpq_oracle_sql(
    ncells: int = 8,
    m: int = 4,
    ksub: int = 16,
    sub: int = 16,
    dim: int = 64,
    k: int = 5,
    nprobe: int = 2,
) -> str:
    """DuckDB replay of ivfpq_ann_topk end to end: the coarse Lloyd
    fit (kmeans_fit contract, 1 iteration), cell assignment +
    residuals (exact subtraction of quantized centroids), m
    per-subspace residual Lloyd fits (pq_fit contract), encoding
    keeping the winning residual centroid, reconstruction
    cell_centroid + decoded residual, nprobe-cell probing, and the
    exact rounded-cosine re-rank."""
    parts = [
        f"""WITH v AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
k0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         list_transform(v, x -> ROUND(x, 6)) AS c
  FROM (SELECT id, v FROM v ORDER BY id LIMIT {ncells})
),
ka1 AS MATERIALIZED (
  SELECT id, v, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, k0 c) t WHERE rn = 1
),
km1 AS MATERIALIZED (
  SELECT cell, array_agg(ROUND(mm, 6) ORDER BY i) AS c FROM (
    SELECT cell, i, AVG(x) AS mm FROM (
      SELECT cell, generate_subscripts(v, 1) AS i, UNNEST(v) AS x FROM ka1
    ) t GROUP BY cell, i) t2 GROUP BY cell
),
kc1 AS MATERIALIZED (
  SELECT p.cell, COALESCE(q.c, p.c) AS c FROM k0 p LEFT JOIN km1 q USING (cell)
),
cells AS MATERIALIZED (
  SELECT id, v, cell, cc FROM (
    SELECT v.id, v.v, c.cell, c.c AS cc,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, kc1 c) t WHERE rn = 1
),
resid AS MATERIALIZED (
  SELECT id, cell, cc,
         list_transform(range(1, {dim + 1}), i -> v[i] - cc[i]) AS r
  FROM cells
)"""
    ]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts.append(f""",
rs{j} AS MATERIALIZED (
  SELECT id, (r)[{lo}:{hi}] AS sv FROM resid
),
c0_{j} AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         list_transform(sv, x -> ROUND(x, 6)) AS c
  FROM (SELECT id, sv FROM rs{j} ORDER BY id LIMIT {ksub})
),
a1_{j} AS MATERIALIZED (
  SELECT id, sv, cell FROM (
    SELECT s.id, s.sv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.id
                              ORDER BY list_distance(s.sv, c.c), c.cell) AS rn
    FROM rs{j} s, c0_{j} c) t WHERE rn = 1
),
m1_{j} AS MATERIALIZED (
  SELECT cell, array_agg(ROUND(mm, 6) ORDER BY i) AS c FROM (
    SELECT cell, i, AVG(x) AS mm FROM (
      SELECT cell, generate_subscripts(sv, 1) AS i, UNNEST(sv) AS x
      FROM a1_{j}
    ) t GROUP BY cell, i) t2 GROUP BY cell
),
c1_{j} AS MATERIALIZED (
  SELECT p.cell, COALESCE(q.c, p.c) AS c
  FROM c0_{j} p LEFT JOIN m1_{j} q USING (cell)
),
code_{j} AS MATERIALIZED (
  SELECT id, c AS rc FROM (
    SELECT s.id, c.c,
           ROW_NUMBER() OVER (PARTITION BY s.id
                              ORDER BY list_distance(s.sv, c.c), c.cell) AS rn
    FROM rs{j} s, c1_{j} c) t WHERE rn = 1
)""")
    joins = " ".join(f"JOIN code_{j} c{j} USING (id)" for j in range(1, m))
    concat = " || ".join(f"c{j}.rc" for j in range(m))
    parts.append(f""",
rr AS MATERIALIZED (
  SELECT c0.id, {concat} AS rr FROM code_0 c0 {joins}
),
recon AS MATERIALIZED (
  SELECT s.id, s.cell,
         list_transform(range(1, {dim + 1}), i -> s.cc[i] + rr.rr[i]) AS rv
  FROM cells s JOIN rr USING (id)
),
probes AS MATERIALIZED (
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT v.id, v.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.id
                              ORDER BY list_distance(v.v, c.c), c.cell) AS rn
    FROM v, kc1 c WHERE v.id % 25 = 0) t WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, s.id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, s.rv), 6) + 0 AS cosine
  FROM probes p JOIN recon s USING (cell)
  WHERE s.id <> p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rnk FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM cand) t WHERE rn <= {k}
""")
    return "".join(parts)


@query("ivfpq_ann_topk", _ivfpq_oracle_sql())
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ index — GRADUATED from rows-only in r15: built
    with the engine-replayable trainers (ivfpq_build_replayable =
    kmeans_fit coarse cells + pq_fit residual codebooks, no RNG
    anywhere), so the DuckDB oracle replays the ENTIRE pipeline —
    coarse fit, cell assignment, residuals, all four sub-fits,
    encoding, reconstruction, probing, re-rank — and one flipped code
    or displaced neighbor in either engine reds the row. The r14
    certificate stays as defense in depth: raises unless the planted
    near-dup's source survives a 10%-of-corpus shortlist at nprobe=2
    for >=55% of queries. Coarse cells prune the scan to
    ~nprobe/ncells of the corpus, PQ codes on the RESIDUALS shrink the
    scanned payload to 1+m small ints per vector, and candidates
    reconstruct (centroid + decoded residual) inside codegen for the
    exact-cosine re-rank. The FAISS-style layout a billion-vector
    corpus actually ships."""
    from value_at_risk_spark.operators.annindex import (
        ensure_index,
        index_cache_dir,
        load_ivfpq_index,
        save_ivfpq_index,
    )
    from value_at_risk_spark.operators.similarity import (
        ivfpq_build_replayable,
        ivfpq_topk,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    # iters=1 at the GATE only (wall-time budget): the pytest shortlist
    # recall contract builds with full iters. Build-or-load through the
    # index lifecycle (train once per corpus; gate runs load the frozen
    # artifacts + the cell-partitioned codes table).
    params = {
        "ncells": 8, "m": 4, "ksub": 16, "iters": 1,
        "init": "data", "quant": 6,
    }

    def _build(dirpath: str) -> None:
        cents, cb, codes = ivfpq_build_replayable(
            e, ncells=8, m=4, ksub=16, iters=1, dim=64
        )
        save_ivfpq_index(spark, dirpath, cents, cb, codes)

    cache = ensure_index(index_cache_dir("ivfpq", sf_dir, params), _build)
    cents, cb, codes = load_ivfpq_index(spark, cache)
    n = e.count()
    planted = _planted_queries(e, 25)
    _certify_shortlist_recall(
        ivfpq_topk(planted, codes, cents, cb, k=max(5, n // 10), nprobe=2),
        planted.count(),
        0.55,
        "ivfpq_ann_topk",
    )
    queries = e.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(queries, codes, cents, cb, k=5, nprobe=2).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rnk"),
    )

@query(
    "sq_ann_topk",
    """
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS ord,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
mm AS (SELECT ord, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY ord),
rec AS (
  SELECT e.vec_id, e.ord,
         CASE WHEN m.mx = m.mn THEN m.mn
              ELSE m.mn + (LEAST(255, GREATEST(0,
                     FLOOR((e.v - m.mn) * 255 / (m.mx - m.mn)))) + 0.5)
                   * (m.mx - m.mn) / 255
         END AS rv
  FROM ex e JOIN mm m ON e.ord = m.ord
),
rnorms AS (SELECT vec_id, SQRT(SUM(rv * rv)) AS nrm FROM rec GROUP BY 1),
qs AS (SELECT vec_id AS query_id, ord, v FROM ex WHERE vec_id < 10),
qnorms AS (SELECT query_id, SQRT(SUM(v * v)) AS nrm FROM qs GROUP BY 1),
dots AS (
  SELECT q.query_id, r.vec_id AS neighbor_id, SUM(q.v * r.rv) AS dot
  FROM qs q JOIN rec r ON q.ord = r.ord
  WHERE q.query_id <> r.vec_id
  GROUP BY 1, 2
),
sims AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND(d.dot / (qn.nrm * rn.nrm), 6) + 0 AS cosine
  FROM dots d
  JOIN qnorms qn ON qn.query_id = d.query_id
  JOIN rnorms rn ON rn.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM sims
) WHERE rnk <= 5
""",
)
def sq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-scan ANN: brute-force cosine top-k where the corpus side is
    the scalar-quantized reconstruction (4x memory compression of the
    scanned payload) and the query side stays exact — the asymmetric-
    distance layout. Quantization here is deterministic per-dimension
    min/max, so THIS ANN entry is fully DuckDB-oracle-checked, giving
    the ANN family a hash-matched representative beside the rows-only
    seeded-k-means PQ/IVF entries. Recall@5 vs the exact scan is
    pytest-pinned in tests/test_operators.py."""
    from value_at_risk_spark.operators.similarity import (
        cosine_topk,
        scalar_quantize_reconstruct,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = scalar_quantize_reconstruct(emb).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    out = cosine_topk(q, corpus, k=5, round_to=6)
    return out.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rnk"),
    )

def _opq_oracle_sql() -> str:
    """DuckDB replay of opq_pq_ann_topk — the r16 graduation of the
    last rows-only row. The rotation (eigh over the corpus covariance)
    has no SQL twin, but it IS deterministic given the fixture
    (embedding_covariance's value-sorted fold + pure LAPACK), so it is
    pinned as corpus-keyed GOLDEN literals (queries/_goldens_opq.py,
    regenerated by tools/regen_opq_golden.py; key = the integer
    fingerprint SUM(FLOOR(ABS(embedding[1])·1e5)) — content-sensitive,
    distinguishing the same-row-count sf0.001/sf0.01 corpora). The
    oracle selects R by key, recomputes every rotated vector as
    ROUND(Σ_j R[i][j]·v[j], 6) (the same 6-decimal handoff the Spark
    side applies, absorbing numpy-vs-SQL summation-order drift), and
    then replays the ENTIRE downstream pipeline through the shared
    pq_fit CTE machinery — sub-fits, encoding, reconstruction,
    re-rank. A drifted eigh, flipped code, or displaced neighbor in
    either engine reds the row."""
    from value_at_risk_spark.queries._goldens_opq import OPQ_ROTATIONS

    vals = ",\n  ".join(
        f"({key}, {i + 1}, {j + 1}, {r[i][j]!r})"
        for key, r in sorted(OPQ_ROTATIONS.items())
        for i in range(64)
        for j in range(64)
    )
    v_cte = f"""WITH rt(k, i, j, r) AS (VALUES
  {vals}),
ev AS MATERIALIZED (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ckey AS (
  SELECT CAST(SUM(CAST(FLOOR(ABS(v[1]) * 100000) AS BIGINT)) AS BIGINT) AS k
  FROM ev
),
rot AS MATERIALIZED (
  SELECT e.id, rt.i, ROUND(SUM(e.v[rt.j] * rt.r), 6) AS p
  FROM ev e, rt WHERE rt.k = (SELECT k FROM ckey)
  GROUP BY e.id, rt.i
),
v AS MATERIALIZED (
  SELECT id, array_agg(p ORDER BY i) AS v FROM rot GROUP BY id
)"""
    return _pq_oracle_sql(qmod=50, v_cte=v_cte, grid_mean=True)


@query("opq_pq_ann_topk", _opq_oracle_sql())
def opq_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated product quantization — GRADUATED from rows-only in
    r16 (the registry's last such row): the rotation is pinned as
    corpus-keyed golden literals (see _opq_oracle_sql) and everything
    downstream — rotate, pq_fit sub-codebooks (the engine-replayable
    trainer that graduated pq_ann_topk, replacing the seeded
    pq_train), encode, reconstruct, re-rank — replays in the DuckDB
    twin. Quantized handoffs at both boundaries: R rounds to 6
    decimals (orthonormality to ~1e-6, far below the re-rank's own
    rounding) and every rotated component rounds to 6 decimals, so
    both engines train and search over identical bits. The r14
    shortlist certificate stays as defense in depth: raises unless the
    planted near-dup's source (query rotated through the index's own
    R) survives a 10%-of-corpus shortlist for >=40% of queries. The
    pipeline itself: one covariance pass (moment partials,
    row-count-independent shuffle), driver-side eigh + round-robin
    eigenvalue dealing across subspaces, Arrow matmul rotation, then
    standard PQ train/encode/search on the rotated space."""
    from value_at_risk_spark.operators.annindex import (
        ensure_index,
        index_cache_dir,
        load_pq_index,
        save_pq_index,
    )
    from value_at_risk_spark.operators.similarity import (
        opq_rotation,
        pq_encode,
        pq_fit,
        pq_topk,
        rotate_vectors,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    # Build-or-load via the index lifecycle: the rotation matrix is a
    # stored artifact beside the codebooks (queries must rotate through
    # the SAME R the codes were encoded under). Per-row matmul + the
    # 6-decimal handoff make rotating the filtered query subset
    # bit-identical to filtering the rotated corpus.
    params = {
        "m": 4, "ksub": 16, "iters": 1, "init": "data",
        "quant": 6, "opq": "golden6", "mean": "grid",
    }

    def _build(dirpath: str) -> None:
        R = opq_rotation(e, m=4, dim=64, quantize=6)
        rot = rotate_vectors(e, R, round_to=6)
        # grid_exact_mean: the rotated training vectors are 6-decimal
        # grid values, whose cell means land exactly on rounding
        # halfway points — the integer-micro update is deterministic
        # run-to-run and bit-identical to the SQL replay
        cb = pq_fit(rot, m=4, ksub=16, iters=1, dim=64,
                    grid_exact_mean=True)
        save_pq_index(spark, dirpath, cb, pq_encode(rot, cb), rotation=R)

    cache = ensure_index(index_cache_dir("opq_pq", sf_dir, params), _build)
    cb, codes, R = load_pq_index(spark, cache)
    n = e.count()
    planted_rot = rotate_vectors(
        _planted_queries(e, 50), R, id_col="query_id", round_to=6
    )
    _certify_shortlist_recall(
        pq_topk(planted_rot, codes, cb, k=max(5, n // 10)),
        e.filter(F.col("vec_id") % 50 == 0).count(),
        0.4,
        "opq_pq_ann_topk",
    )
    queries = rotate_vectors(
        e.filter(F.col("vec_id") % 50 == 0), R, round_to=6
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return pq_topk(queries, codes, cb, k=5).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rnk"),
    )
