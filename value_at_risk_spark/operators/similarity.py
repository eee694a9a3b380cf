"""Similarity search over embedding columns (north-star surface).

Exact cosine has ONE implementation: Arrow batches through one numpy
gram kernel (``_cosine_gram``, a single BLAS call per batch or block
pair). It serves the broadcast-query top-k (``cosine_topk``), the
block-pair all-pairs kernels (``cosine_near_dup_pairs``,
``cosine_allpairs_topk_blocked``), the per-cell ANN graph and the
reference-set scans. The approximate paths (LSH buckets, IVF, PQ,
SemDeDup cells) generate candidates and rank them by the same cosine.
Embeddings are plain ``array<float|double>`` columns (FIXTURES.md:
64-dim).

The contract every exact kernel keeps:
- rounding: raw similarities cross the Arrow boundary and the Spark
  plan applies the one authoritative rounding, ``F.round(c, r) + 0.0``
  (HALF_UP on the shortest decimal repr; ``+ 0.0`` collapses -0.0);
  top-k ranks on the rounded value, ties to the smaller id;
- a pair with a zero vector has a NULL cosine, as
  ``functions/vector.cosine_similarity``'s ``try_divide`` gives (and
  DuckDB's ``1.0/0.0``): top-k ranks it after every finite cosine, a
  threshold never passes it;
- top-k excludes self-pairs (the same id on both sides).

Scale design:
- brute force: the small query set collects into the task closure and
  each corpus Arrow batch computes Q @ Vᵀ, emitting only its
  batch-local top-k per query; one window merges the candidates.
- all-pairs (the queries ARE the corpus): rows hash into B blocks,
  each unordered block pair is one applyInPandas task.
- LSH: b random hyperplanes → b-bit bucket signature; candidates =
  bucket collisions (equi-join), exact cosine re-rank only on
  candidates. Hyperplanes come from a seeded driver-side numpy RNG and
  enter the plan as literals — deterministic and broadcast-free.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from value_at_risk_spark.functions.vector import (
    _array1_sql,
    _array2_sql,
    _col_sql,
    _lit_double_sql,
    cosine_similarity,
    dot_product,
    resolve_dim,
    vector_norm,
)


def _matrix(vectors) -> np.ndarray:
    """(n, d) float64 matrix of an Arrow batch's vector column."""
    return np.array(list(vectors), dtype=np.float64)


def _row_norms(V: np.ndarray) -> np.ndarray:
    """Row L2 norms, NaN for a zero vector: it has no direction, so
    every cosine it takes part in comes out NaN, which crosses the
    Arrow boundary as NULL."""
    n = np.linalg.norm(V, axis=1)
    n[n == 0.0] = np.nan
    return n


def _cosine_gram(A, B, na=None, nb=None) -> np.ndarray:
    """The one exact-cosine kernel: (A @ Bᵀ) / (‖a‖·‖b‖) with one BLAS
    call, NaN (NULL) wherever either row is a zero vector. A side
    reused across batches passes its ``_row_norms`` once."""
    na = _row_norms(A) if na is None else na
    nb = _row_norms(B) if nb is None else nb
    return (A @ B.T) / (na[:, None] * nb[None, :])


def _pairs_frame(a, b, raw, names=("query_id", "neighbor_id")) -> pd.DataFrame:
    """A kernel's typed (id, id, _raw) output batch; empty lists give
    the typed empty batch."""
    return pd.DataFrame(
        {
            names[0]: np.asarray(a, dtype=np.int64),
            names[1]: np.asarray(b, dtype=np.int64),
            "_raw": np.asarray(raw, dtype=np.float64),
        }
    )


def _round_sim(sim, round_to: int | None):
    """The one authoritative rounding of a cosine column; ``+ 0.0``
    collapses IEEE negative zero (oracle value-hash parity)."""
    sim = F.col(sim) if isinstance(sim, str) else sim
    return sim if round_to is None else F.round(sim, round_to) + F.lit(0.0)


def _topk_tail(
    cand: DataFrame,
    k: int,
    round_to: int | None,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    raw="_raw",
) -> DataFrame:
    """Round the candidates' cosine, then keep each query's top k under
    the contract order (cosine desc with NULLs last, id asc). Output:
    (query_id, corpus_id, cosine, rank)."""
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine"), F.asc(corpus_id)
    )
    return (
        cand.select(query_id, corpus_id, _round_sim(raw, round_to).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    queries: (query_id, vec_col); corpus: (corpus_id, vec_col), both
    ids integral. Output: (query_id, neighbor_id, cosine, rank), rank
    1..k under the module contract (rounded cosine desc, NULL last,
    neighbor id asc).

    The query block is collected once (bounded: a query BATCH is
    nq x dim floats — the same edge-collect class as the k-means
    codebooks) and shipped in the task closure; every Arrow batch of
    the corpus computes Q @ Vᵀ as ONE BLAS call and emits only each
    query's batch-local top-k (nq·k rows per batch, never the pair
    matrix). A final per-query window merges the candidates."""
    qrows = queries.select(query_id, vec_col).collect()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, cosine double, rank int"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    Qn = _row_norms(Q)
    kk = int(k)

    def _score(batches):
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            V = _matrix(pdf[vec_col])
            if V.size == 0:
                continue
            sims = _cosine_gram(Q, V, Qn)
            sims[qids[:, None] == ids[None, :]] = -np.inf  # self-matches
            out_q: list[int] = []
            out_c: list[int] = []
            out_s: list[float] = []
            _batch_topk_emit(sims, qids, ids, kk, round_to, out_q, out_c, out_s)
            yield _pairs_frame(out_q, out_c, out_s, (query_id, corpus_id))

    cand = corpus.select(corpus_id, vec_col).mapInPandas(
        _score, schema=f"{query_id} long, {corpus_id} long, _raw double"
    )
    return _topk_tail(cand, k, round_to, query_id, corpus_id)


def hyperplane_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per row (sign-bit signature).

    bucket = Σ_b [dot(v, plane_b) > 0] << b. Planes are literal arrays
    in the plan (seeded, reproducible — same contract philosophy as the
    reference's trial-id seeding, utils/var_udf.py:58-61).
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))
    # r16: one SQL parse instead of planes x dim py4j round-trips (same
    # construction-cost argument as _cell_dists_sql); each plane's dot
    # is dot_product's HOF fold, rendered as text
    terms = " | ".join(
        "CAST(CASE WHEN aggregate(zip_with({v}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, x) -> acc + x) > 0 THEN {bit} ELSE 0 END AS BIGINT)"
        .format(
            v=_col_sql(vec_col),
            arr=_array1_sql(planes[b]),
            bit=1 << b,
        )
        for b in range(num_planes)
    )
    return df.withColumn("bucket", F.expr(f"CAST(0 AS BIGINT) | {terms}"))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: exact re-rank within LSH bucket collisions.

    The bucket equi-join replaces the cross join — candidate count drops
    ~2^planes-fold; recall is tunable via num_planes (fewer planes →
    bigger buckets → higher recall, more compute). With ``multiprobe``
    each query also probes the num_planes buckets at Hamming distance 1
    from its own (a near-miss on one hyperplane is the dominant failure
    mode), trading (1+planes)× candidate volume for much higher recall —
    the standard multi-probe LSH refinement.
    """
    qb = hyperplane_lsh_buckets(
        queries.select(query_id, vec_col), vec_col, dim, num_planes
    ).select(query_id, F.col(vec_col).alias("_qv"), "bucket")
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << b)).cast("long")
                for b in range(num_planes)
            ],
        )
        qb = qb.select(
            query_id, "_qv", F.explode(probes).alias("bucket")
        )
    cb = hyperplane_lsh_buckets(
        corpus.select(corpus_id, vec_col), vec_col, dim, num_planes
    ).select(corpus_id, F.col(vec_col).alias("_cv"), "bucket")
    cand = cb.join(F.broadcast(qb), on="bucket").filter(
        F.col(query_id) != F.col(corpus_id)
    )
    return _topk_tail(
        cand, k, 6, query_id, corpus_id, cosine_similarity("_qv", "_cv")
    )


def hyperplane_band_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = 64,
    num_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded sign-LSH candidate pairs — the cosine twin of
    operators/dedup.minhash_lsh_pairs.

    Each row gets ``num_planes`` hyperplane sign bits, chunked into
    ``num_bands`` bands of r = planes/bands bits; candidates are rows
    agreeing on ALL r bits of any band — a (band, band_value) equi-join,
    never all-pairs. Per-band value space is 2^r (r=8 → 256 buckets),
    so bucket population stays ~N/2^r per band; at larger corpora raise
    r (and bands with it) to keep buckets bounded. A pair at cosine c
    escapes with probability (1 - p^r)^bands, p = 1 - arccos(c)/π —
    for c ≥ 0.99 and 8×8 bands this is ~1e-6.
    """
    if num_planes % num_bands:
        raise ValueError("hyperplane_band_pairs: bands must divide planes")
    r = num_planes // num_bands
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))

    # num_planes dot products per row is a dense matmul — the one shape
    # where interpreted per-element HOF expressions lose badly to an
    # Arrow batch (64 planes × dim 64: ~2 s of expression interpretation
    # per 2.4 k rows vs milliseconds of numpy). SURVEY §2.10 boundary:
    # genuinely numerical kernel, vectorized pandas, never per-row.
    import pandas as pd

    weights = 1 << np.arange(r, dtype=np.int64)

    def _sign_bands(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.vstack(pdf[vec_col].to_numpy())
            bits = (v @ planes.T) > 0  # n × num_planes sign bits
            vals = np.stack(
                [
                    bits[:, b * r : (b + 1) * r] @ weights
                    for b in range(num_bands)
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), num_bands),
                    "band": np.tile(
                        np.arange(num_bands, dtype=np.int32), len(pdf)
                    ),
                    "band_val": vals.reshape(-1),
                }
            )

    bands = df.select(id_col, vec_col).mapInPandas(
        _sign_bands, schema=f"{id_col} long, band int, band_val long"
    )
    # materialize the signature projection once: an aliased self-join
    # re-executes its lineage on BOTH sides, doubling the signature
    # work; the bands frame is (id, band, val) rows only — tiny
    # relative to the vectors it came from
    bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    dim: int = 64,
    num_planes: int = 64,
    num_bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The composed 100 TB near-dup path: banded sign-LSH candidate
    generation (``hyperplane_band_pairs`` — bucketed equi-join, never
    all-pairs) followed by the SAME exact cosine predicate as
    ``cosine_near_dup_pairs``. Identical output schema/semantics up to
    LSH recall; recall on the gate fixture is oracle-pinned by the
    ``ann_near_dup_lsh`` query (hash equality vs the exact all-pairs
    DuckDB twin)."""
    cand = hyperplane_band_pairs(
        df, id_col, vec_col, dim, num_planes, num_bands, seed
    ).localCheckpoint(eager=True)  # ids-only; feeds cand_ids + verify
    # candidate-bounded verify (r16, the minhash_lsh_pairs pattern):
    # vectors + norms are built only for docs that appear in some
    # candidate pair, so the corpus projection isn't re-computed twice
    # corpus-wide for the two join sides
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sides = df.join(F.broadcast(cand_ids), id_col, "left_semi").select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        vector_norm(vec_col).alias("_n"),
    )
    cand = (
        cand.join(
            sides.select(
                F.col(id_col).alias("id_a"),
                F.col("_v").alias("_va"),
                F.col("_n").alias("_na"),
            ),
            "id_a",
        )
        .join(
            sides.select(
                F.col(id_col).alias("id_b"),
                F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"),
            ),
            "id_b",
        )
    )
    sim = F.try_divide(dot_product("_va", "_vb"), F.col("_na") * F.col("_nb"))
    return cand.filter(sim >= F.lit(threshold)).select(
        "id_a", "id_b", _round_sim(sim, round_to).alias("cosine")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every unordered pair
    (id_a < id_b, integral ids) with cosine ≥ threshold, by
    block-partitioned Arrow matmul. Output: (id_a, id_b, cosine).

    The textbook distributed exact all-pairs (``_block_pair_groups``):
    rows hash into B blocks; each unordered block pair (i <= j) is one
    applyInPandas task whose kernel computes the cross-block gram with
    ONE BLAS call and emits only the above-threshold pairs.
    Replication factor is B per row (N·B rows shuffled, B(B+1)/2
    tasks), so B trades task parallelism against shuffle volume —
    still O(N²·d) compute, as any exact method must be. At corpus
    sizes where that is no longer affordable, generate candidates with
    sign-LSH (``cosine_near_dup_pairs_lsh``) and verify only
    collisions; the threshold predicate is identical either way."""
    thr = float(threshold)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        g = _block_pair_gram(pdf)
        if g is None:
            return _pairs_frame([], [], [], ("id_a", "id_b"))
        diag, ids_l, ids_r, sims = g
        ia, ib = np.nonzero(sims >= thr)  # NaN (zero vector) never passes
        id_a, id_b = ids_l[ia], ids_r[ib]
        keep = id_a != id_b
        if diag:
            keep &= id_a < id_b  # upper triangle once
        id_a, id_b, raw = id_a[keep], id_b[keep], sims[ia, ib][keep]
        return _pairs_frame(
            np.minimum(id_a, id_b), np.maximum(id_a, id_b), raw,
            ("id_a", "id_b"),
        )

    out = _block_pair_groups(df, id_col, vec_col, num_blocks).groupBy(
        "_bi", "_bj"
    ).applyInPandas(_pairs, "id_a long, id_b long, _raw double")
    return out.select("id_a", "id_b", _round_sim("_raw", round_to).alias("cosine"))


def _block_pair_groups(
    df: DataFrame, id_col: str, vec_col: str, num_blocks: int
) -> DataFrame:
    """The block-pair grid of the two blocked all-pairs kernels: rows
    hash into ``num_blocks`` blocks, and a row of block b joins the
    groups (b, j >= b) as the LEFT side (_side 0) and the groups
    (i < b, b) as the RIGHT side (_side 1) — strict, so a diagonal
    group takes its rows from the left side only. Output
    (_bi, _bj, _side, _id, _v); group on (_bi, _bj): one Exchange of
    N·B rows, no cartesian product."""
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).cast("int")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        blk.alias("_blk"),
    )
    grid = F.explode(
        F.array(*[F.lit(j) for j in range(num_blocks)])
    ).alias("_other")
    lefts = base.select(
        "_id", "_v", F.col("_blk").alias("_bi"), grid, F.lit(0).alias("_side")
    ).filter(F.col("_other") >= F.col("_bi")).withColumnRenamed(
        "_other", "_bj"
    )
    rights = base.select(
        "_id", "_v", grid, F.col("_blk").alias("_bj"), F.lit(1).alias("_side")
    ).filter(F.col("_bj") > F.col("_other")).withColumnRenamed(
        "_other", "_bi"
    )
    cols = ("_bi", "_bj", "_side", "_id", "_v")
    return lefts.select(*cols).unionByName(rights.select(*cols))


def _block_pair_gram(pdf: pd.DataFrame):
    """(diag, left ids, right ids, cosine gram) of one block-pair group
    of ``_block_pair_groups``, or None when the group holds no pair.

    ``diag`` MUST come from the group key, not from an empty right
    side: lefts are exploded over every j >= bi regardless of
    occupancy, so an off-diagonal group whose block bj is EMPTY also
    has no side-1 rows — read as diagonal, it would re-emit block bi's
    internal pairs once per empty higher block (duplicate pairs, and
    duplicate top-k candidates that each take a row_number)."""
    left = pdf[pdf["_side"] == 0]
    right = pdf[pdf["_side"] == 1]
    diag = bool(pdf["_bi"].iat[0] == pdf["_bj"].iat[0])
    if left.empty or (right.empty and not diag):
        return None
    ids_l = left["_id"].to_numpy(dtype=np.int64)
    V_l = _matrix(left["_v"])
    n_l = _row_norms(V_l)
    if diag:
        return True, ids_l, ids_l, _cosine_gram(V_l, V_l, n_l, n_l)
    ids_r = right["_id"].to_numpy(dtype=np.int64)
    return False, ids_l, ids_r, _cosine_gram(V_l, _matrix(right["_v"]), n_l)


def _contract_topk_cols(sims_row, ids, k: int, round_to: int | None):
    """Batch-local top-k candidate columns of ONE row under the
    CONTRACT total order (rounded sim desc, id asc) — the exact cut
    behind ``_batch_topk_emit``: first a raw-threshold superset (any
    global winner satisfies raw >= raw-kth − 10^-r), then, only when
    ties inflate the superset past k, an exact cut whose rounding
    replicates Spark's F.round bit-for-bit (Decimal(repr), HALF_UP —
    numpy's half-even can flip the id tie-break at decimal
    boundaries). Returns candidate INDICES into ``ids``; emitted sims
    must stay unrounded so the Spark-side merge window applies the one
    authoritative rounding."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    n = sims_row.shape[0]
    take = min(k, n)
    if take == 0:
        return np.array([], dtype=np.int64)
    part = np.argpartition(-sims_row, take - 1)[:take]
    kth = sims_row[part].min()
    thr = kth if round_to is None else kth - 10.0 ** (-round_to)
    cols = np.nonzero(sims_row >= thr)[0]
    if len(cols) > k:
        raw = sims_row[cols]
        if round_to is None:
            key = raw
        else:
            quant = Decimal(1).scaleb(-round_to)
            key = np.array(
                [
                    float(
                        Decimal(repr(s)).quantize(
                            quant, rounding=ROUND_HALF_UP
                        )
                    )
                    if math.isfinite(s)
                    else s
                    for s in raw.tolist()
                ]
            )
        cols = cols[np.lexsort((ids[cols], -key))[:k]]
    return cols


# Rank key of a NULL (zero-vector) cosine inside the batch cut: below
# every finite cosine (|cos| <= 1 up to rounding error), above the
# -inf that masks an excluded self-pair.
_NULL_KEY = -2.0


def _batch_topk_emit(sims, qids, cand_ids, kk, rt, out_q, out_c, out_s):
    """Append each query row's BATCH-LOCAL top-k candidates (contract
    order: rounded sim desc, NULL last, id asc) to the output lists —
    vectorized cut for the tie-free common case, Decimal contract cut
    only on rows whose rounded ties inflate the superset. -inf sims
    (masked self-pairs) are never emitted; NaN sims (zero vectors)
    rank as ``_NULL_KEY`` and are emitted as NaN, i.e. NULL. The one
    batch top-k cut behind every Arrow top-k kernel: broadcast-query
    (cosine_topk), reference-set (reference_topk_cosine and, at k=1,
    reference_max_cosine), blocked all-pairs and per-cell ANN graph.

    Exact because any global winner is a batch winner under the same
    order: the raw-kth threshold keeps every candidate within one
    rounding unit of the kth raw value — a rigorous superset of the
    contract's top-k, since any c with round(c) >= round(kth)
    satisfies c >= kth - 10^-r. Emitted sims stay UNROUNDED so the
    Spark-side merge window applies the one authoritative rounding."""
    null = np.isnan(sims)
    key = np.where(null, _NULL_KEY, sims) if null.any() else sims
    n, m = key.shape
    take = min(kk, m)
    if take == 0:
        return
    part = np.argpartition(-key, take - 1, axis=1)[:, :take]
    kth = key[np.arange(n)[:, None], part].min(axis=1)
    thr = kth if rt is None else kth - 10.0 ** (-rt)
    mask = key >= thr[:, None]
    counts = mask.sum(axis=1)
    easy = counts <= take
    if easy.any():
        eidx = np.nonzero(easy)[0]
        rows, cols = np.nonzero(mask[easy])
        rows = eidx[rows]
        keep = np.isfinite(key[rows, cols])
        out_q.extend(qids[rows[keep]].tolist())
        out_c.extend(cand_ids[cols[keep]].tolist())
        out_s.extend(sims[rows[keep], cols[keep]].tolist())
    for i in np.nonzero(~easy)[0]:
        cols = _contract_topk_cols(key[i], cand_ids, kk, rt)
        cols = cols[np.isfinite(key[i, cols])]
        out_q.extend([int(qids[i])] * len(cols))
        out_c.extend(cand_ids[cols].tolist())
        out_s.extend(sims[i, cols].tolist())


def cosine_allpairs_topk_blocked(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    num_blocks: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for EVERY row (self excluded) via
    block-partitioned Arrow matmul — the all-queries sibling of
    ``cosine_topk`` (equality pytest-pinned incl. a tie-heavy corpus).
    ``cosine_topk`` broadcasts the query set, so it stops scaling
    when the queries ARE the corpus; here rows hash
    into B blocks, each unordered block pair is one applyInPandas task
    computing the cross-block gram with ONE BLAS call, and each task
    emits only its rows' BATCH-LOCAL top-k against the opposite side
    (contract order — see _batch_topk_emit). A global winner for
    query q vs corpus row c lives in exactly one block pair, so the
    per-query merge window over N·B·k candidate rows recovers the
    exact top-k. Output: (query_id, neighbor_id, cosine, rank).

    ``num_blocks=None`` sizes B so blocks hold ~2,000 rows (one count
    job): the per-task gram is the REAL memory bound — at 100k rows
    and B=16 each task materializes a 6,250² float64 sims matrix
    (312 MB) plus mask/argpartition temporaries, and 32 concurrent
    tasks thrash the executor heap (measured 178.6 s; B=48 with 32 MB
    grams: 32.4 s, identical edges). B² grows, but block-pair tasks
    are tiny and independent — exactly what a 1000-executor cluster
    wants. Result is B-invariant (pytest-pinned at two block
    counts)."""
    if num_blocks is None:
        import math

        num_blocks = min(256, max(8, math.ceil(df.count() / 2000)))
    kk, rt = int(k), round_to

    def _knn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_q: list[int] = []
        out_c: list[int] = []
        out_s: list[float] = []
        g = _block_pair_gram(pdf)
        if g is not None:
            diag, ids_l, ids_r, sims = g
            sims[ids_l[:, None] == ids_r[None, :]] = -np.inf
            # left rows as queries, then (off-diagonal) right rows as
            # queries against the same gram transposed
            _batch_topk_emit(sims, ids_l, ids_r, kk, rt, out_q, out_c, out_s)
            if not diag:
                _batch_topk_emit(
                    np.ascontiguousarray(sims.T), ids_r, ids_l, kk, rt,
                    out_q, out_c, out_s,
                )
        return _pairs_frame(out_q, out_c, out_s)

    cand = _block_pair_groups(df, id_col, vec_col, num_blocks).groupBy(
        "_bi", "_bj"
    ).applyInPandas(_knn, "query_id long, neighbor_id long, _raw double")
    return _topk_tail(cand, k, round_to)


def knn_graph_mutual(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    num_blocks: int | None = None,
) -> DataFrame:
    """Mutual-kNN graph construction: edge (a, b) exists iff b is in
    a's exact top-k AND a is in b's — the standard sparsifier feeding
    graph clustering / dedup connected components (a mutual edge is
    reciprocal evidence; one-way edges from hub nodes are the classic
    false-merge source). Cosine is symmetric bit-for-bit here (same
    fold order both directions), so mutuality reduces to the
    normalized (lo, hi) directed edge appearing exactly twice — one
    groupBy, no self-join. Output: (id_a < id_b, cosine)."""
    topk = cosine_allpairs_topk_blocked(
        df, k=k, id_col=id_col, vec_col=vec_col,
        round_to=round_to, num_blocks=num_blocks,
    )
    lo = F.least("query_id", "neighbor_id")
    hi = F.greatest("query_id", "neighbor_id")
    return (
        topk.select(lo.alias("id_a"), hi.alias("id_b"), "cosine")
        .groupBy("id_a", "id_b")
        .agg(F.min("cosine").alias("cosine"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .drop("_n")
    )


def nearest_cells_expr(vec_col: str, centroids, nprobe: int) -> "F.Column":
    """Array of the ``nprobe`` nearest centroid indices (squared-L2
    ranking, ties to the smallest cell) — the multi-cell sibling of
    ``nearest_cell_expr``, shared by IVF search and the ANN graph."""
    np_ = min(nprobe, len(centroids))
    return F.expr(
        f"transform(slice({_cell_dists_sql(vec_col, centroids)}, 1, "
        f"{np_}), s -> s.cell)"
    )


def _seq_cell_dists(V: "np.ndarray", centroids) -> "np.ndarray":
    """(N x k) squared-L2 ranking scores d_i = ||c_i||² − 2·(v·c_i),
    BIT-IDENTICAL to ``nearest_cell_expr``'s Catalyst form: ||c_i||²
    is the same sequential Python ``sum(x*x)`` the expression bakes
    as a literal, and the dot product accumulates dim-by-dim in the
    HOF fold's left-to-right order (one vectorized (N x k) FMA-free
    step per dimension — each element sees the identical IEEE-double
    op sequence a scalar fold would). That parity is what lets the
    Arrow-assigned indexed path share the expression path's DuckDB
    oracle; pinned by test_arrow_cell_assign_matches_expr."""
    C = np.array(centroids, dtype=np.float64)
    cnorm2 = np.array(
        [sum(x * x for x in cent) for cent in centroids], dtype=np.float64
    )
    acc = np.zeros((V.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(V.shape[1]):
        acc = acc + V[:, d : d + 1] * C[None, :, d]
    return cnorm2[None, :] - 2.0 * acc


def assign_cells_arrow(
    df: DataFrame,
    centroids,
    id_col: str = "_id",
    vec_col: str = "_v",
    out: str = "_cell",
) -> DataFrame:
    """Nearest-centroid assignment as an Arrow kernel — the many-cells
    sibling of ``nearest_cell_expr``. The expression form is a plan
    literal of k·dim terms: free of Python but O(k·dim) CODEGEN per
    row, which is why the one-shot graph caps at 256 cells. Here the
    centroids ride the task closure as one numpy array (kilobytes→
    megabytes) and each Arrow batch scores all k cells with dim
    vectorized passes — constant plan size in k, the shape that holds
    at thousands of cells. Distances and the ties-to-smallest-cell
    contract are bit-identical to the expression (see
    _seq_cell_dists), so either path feeds the same oracle."""
    cents = [list(map(float, c)) for c in centroids]

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            dists = _seq_cell_dists(V, cents)
            # argmin returns the FIRST minimum: ties → smallest cell,
            # same as array_sort over (d, cell)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: pdf[vec_col],
                    out: dists.argmin(axis=1).astype(np.int32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        _assign, f"{id_col} long, {vec_col} array<double>, {out} int"
    )


def probe_cells_arrow(
    df: DataFrame,
    centroids,
    nprobe: int,
    id_col: str = "_id",
    vec_col: str = "_v",
    out: str = "_cell",
) -> DataFrame:
    """Each row exploded to its ``nprobe`` nearest cells (squared-L2
    ranking, ties to the smallest cell) — the Arrow sibling of
    ``nearest_cells_expr`` with the same constant-plan-size argument
    as ``assign_cells_arrow``. Emits nprobe rows per input row."""
    cents = [list(map(float, c)) for c in centroids]
    np_ = min(int(nprobe), len(cents))

    def _probe(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            dists = _seq_cell_dists(V, cents)
            # stable argsort on distance: equal distances keep cell
            # order → ties to the smallest cell, matching array_sort
            order = np.argsort(dists, axis=1, kind="stable")[:, :np_]
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, np_),
                    vec_col: pdf[vec_col].iloc[
                        np.repeat(np.arange(n), np_)
                    ].to_numpy(),
                    out: order.reshape(-1).astype(np.int32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        _probe, f"{id_col} long, {vec_col} array<double>, {out} int"
    )


def knn_graph_ann(
    df: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_cells: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """ANN-backed approximate mutual-kNN graph — the sub-quadratic
    sibling of ``knn_graph_mutual`` for corpora past ~1M vectors where
    even the blocked-exact N²/B kernel is too wide.

    Composition: (1) train an IVF coarse quantizer with the
    engine-replayable ``kmeans_fit`` (data-derived init, quantized
    handoffs — a DuckDB oracle replays the whole loop); (2) assign
    every corpus row to its nearest cell (pure projection — centroids
    are plan literals); (3) every row, acting as a query, probes its
    ``nprobe`` nearest cells; (4) ONE shuffle groups each cell's
    members with its probing queries, and a per-cell Arrow task
    computes the (queries x members) gram with a single BLAS call,
    emitting only batch-local top-k per query — the queries ARE the
    corpus, nothing is broadcast, and nothing is scored per-pair in an
    expression; (5) a per-query merge window over <= nprobe·k
    candidate rows recovers the exact ANN top-k (same argument and
    tie contract as cosine_allpairs_topk_blocked); (6) reciprocity via
    the same count-2 groupBy as the exact graph. Total candidate
    volume is N·nprobe·(N/n_cells) instead of N² — sizing ``n_cells``
    ∝ N keeps per-cell work flat, which is the 1000-executor shape.
    Output: (id_a < id_b, cosine); cosine is bit-symmetric, so
    mutuality is COUNT(*)=2 on the normalized edge.

    ``n_cells=None`` auto-sizes to ~1,500 members/cell (one count
    job), capped at 256 — the cap bounds both the per-cell gram
    (queries x members, the real task-memory bound, same lesson as
    the blocked kernel's 100k heap-thrash) and the k-centroid literal
    assignment expression. Past ~400k vectors the cap makes cells
    grow with N again; the persisted-index path (operators/annindex
    IVF, cells assigned once at build time and stored partitioned)
    is the declared route there — this operator is the one-shot
    build-and-rank form."""
    if n_cells is None:
        import math

        n = df.count()
        if n == 0:
            raise ValueError("knn_graph_ann: empty corpus")
        # Clamp by corpus size so tiny inputs (< 8 vectors) don't push
        # kmeans_fit past N seeds (ADVICE r15); 1 cell degrades to the
        # exact in-cell gram, which is correct at that scale anyway.
        n_cells = min(n, 256, max(8, math.ceil(n / 1500)))
    cents = kmeans_fit(df, id_col, vec_col, k=n_cells, iters=iters)
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # Per-cell Arrow gram kernel, NOT a per-pair Catalyst expression:
    # the r15 growth run measured the expression form exactly linear in
    # candidate volume but ~100x the per-pair cost of a BLAS gram —
    # 211 s at 100k vectors vs 32 s for the blocked-EXACT kernel. Each
    # cell is one applyInPandas task computing (probing queries) x
    # (members) in a single matmul and emitting only batch-local top-k
    # per query (contract order, shared _batch_topk_emit); a query's
    # global ANN top-k lives inside its nprobe probed cells, so the
    # per-query merge window over <= nprobe*k candidates is exact
    # w.r.t. the ANN candidate set — the same argument, kernel, and
    # tie contract as cosine_allpairs_topk_blocked.
    # ONE ranking pass per row (r16, guide §2.4): the member cell IS
    # the rank-1 probe cell, so the old two-branch union (members +
    # probing) scored the k-centroid ranking twice per vector. Here
    # the nprobe ranking is computed once, and each (row, probe-cell)
    # pair fans out to its roles in place: rank-1 → member (side 0)
    # AND probe (side 1); other ranks → probe only.
    both = base.select(
        "_id", "_v",
        F.posexplode(nearest_cells_expr("_v", cents, nprobe)).alias(
            "_pos", "_cell"
        ),
    ).select(
        "_id", "_v", "_cell",
        F.explode(
            F.when(
                F.col("_pos") == 0, F.array(F.lit(0), F.lit(1))
            ).otherwise(F.array(F.lit(1)))
        ).alias("_side"),
    )
    return mutual_edges_from_cells(both, k=k, round_to=round_to)


def mutual_edges_from_cells(
    both: DataFrame, k: int, round_to: int | None = 6
) -> DataFrame:
    """The cell-candidates → mutual-edges tail shared by
    ``knn_graph_ann`` (one-shot, expression-assigned cells) and
    ``annindex.knn_graph_ann_indexed`` (cells read from a persisted
    index). ``both``: (_id long, _v array<double>, _cell, _side)
    where _side 0 = cell member, 1 = probing query. One shuffle
    groups each cell's members with its probing queries; a per-cell
    Arrow task computes the (queries x members) gram with one BLAS
    call emitting batch-local top-k (contract order); the per-query
    merge window over <= nprobe·k candidates recovers the exact ANN
    top-k; reciprocity is COUNT(*)=2 on the normalized edge."""
    kk, rt = int(k), round_to

    def _cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["_side"] == 0]
        qry = pdf[pdf["_side"] == 1]
        out_q: list[int] = []
        out_c: list[int] = []
        out_s: list[float] = []
        if not (mem.empty or qry.empty):
            ids_m = mem["_id"].to_numpy(dtype=np.int64)
            ids_q = qry["_id"].to_numpy(dtype=np.int64)
            sims = _cosine_gram(_matrix(qry["_v"]), _matrix(mem["_v"]))
            sims[ids_q[:, None] == ids_m[None, :]] = -np.inf
            _batch_topk_emit(sims, ids_q, ids_m, kk, rt, out_q, out_c, out_s)
        return _pairs_frame(out_q, out_c, out_s)

    cand = both.groupBy("_cell").applyInPandas(
        _cell_knn, "query_id long, neighbor_id long, _raw double"
    )
    topk = _topk_tail(cand, k, round_to)
    lo = F.least("query_id", "neighbor_id")
    hi = F.greatest("query_id", "neighbor_id")
    return (
        topk.select(lo.alias("id_a"), hi.alias("id_b"), "cosine")
        .groupBy("id_a", "id_b")
        .agg(F.min("cosine").alias("cosine"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == 2)
        .drop("_n")
    )


def reference_max_cosine(
    corpus: DataFrame,
    ref: DataFrame,
    corpus_id: str = "vec_id",
    ref_id: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Max cosine of every corpus row against a REFERENCE set, plus
    the arg-max reference id — the semantic-decontamination primitive
    (reference = the benchmark/eval suite; a training doc whose
    embedding sits too close to any eval item leaks the benchmark).

    The broadcast direction is the opposite of cosine_topk: the
    reference is the small side by nature (eval suites are 1e3–1e5
    rows), so it collects once into the task closure and every Arrow
    batch of the CORPUS — the 100 TB side, never collected — computes
    V @ R^T as one BLAS call, emitting one row per corpus row. Rounded
    ties pick the smallest reference id (Decimal HALF_UP replay of
    F.round, same contract as the top-k kernels); emitted sims stay
    raw so the Spark plan applies the one authoritative rounding.
    Output: (corpus_id, ref_id, max_cosine)."""
    rids, R, Rn = _reference_side(ref, ref_id, vec_col, "reference_max_cosine")
    rt = round_to

    def _score(batches):
        for pdf in batches:
            V = _matrix(pdf["_v"])
            if V.size == 0:
                continue
            out_q: list[int] = []
            out_c: list[int] = []
            out_s: list[float] = []
            _batch_topk_emit(
                _cosine_gram(V, R, None, Rn),
                pdf["_cid"].to_numpy(dtype=np.int64), rids, 1, rt,
                out_q, out_c, out_s,
            )
            yield _pairs_frame(out_q, out_c, out_s, ("_cid", "ref_id"))

    out = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_v")
    ).mapInPandas(_score, schema="_cid long, ref_id long, _raw double")
    return out.select(
        F.col("_cid").alias(corpus_id),
        "ref_id",
        _round_sim("_raw", round_to).alias("max_cosine"),
    )


def _reference_side(ref: DataFrame, ref_id: str, vec_col: str, caller: str):
    """(ids, vectors, ``_row_norms``) of a small reference set,
    collected once for the task closure of a reference-set scan."""
    rrows = ref.select(ref_id, vec_col).collect()
    if not rrows:
        raise ValueError(f"{caller}: empty reference set")
    R = np.array([r[1] for r in rrows], dtype=np.float64)
    return np.array([r[0] for r in rrows], dtype=np.int64), R, _row_norms(R)


def reference_topk_cosine(
    corpus: DataFrame,
    ref: DataFrame,
    k: int = 3,
    corpus_id: str = "vec_id",
    ref_id: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Top-k cosine of every corpus row against a small REFERENCE set
    (the k>1 generalization of reference_max_cosine, same broadcast
    direction): the reference ships in the task closure, the corpus —
    the big side, never collected — streams through one BLAS matmul
    per Arrow batch, emitting <= k rows per corpus row under the
    contract cut (rounded desc, id asc). Self-pairs (same id on both
    sides) are excluded, so corpus and reference may overlap.
    Output: (corpus_id, ref_id, cosine) — rank assignment is left to
    the caller's merge window (the incremental-kNN use case merges
    these candidates with a STORED top-k before ranking)."""
    rids, R, Rn = _reference_side(ref, ref_id, vec_col, "reference_topk_cosine")
    rt, kk = round_to, int(k)

    def _score(batches):
        for pdf in batches:
            ids = pdf["_cid"].to_numpy(dtype=np.int64)
            V = _matrix(pdf["_v"])
            if V.size == 0:
                continue
            sims = _cosine_gram(V, R, None, Rn)
            sims[ids[:, None] == rids[None, :]] = -np.inf
            out_q: list[int] = []
            out_c: list[int] = []
            out_s: list[float] = []
            _batch_topk_emit(sims, ids, rids, kk, rt, out_q, out_c, out_s)
            yield _pairs_frame(out_q, out_c, out_s, ("_cid", "ref_id"))

    out = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_v")
    ).mapInPandas(_score, schema="_cid long, ref_id long, _raw double")
    return out.select(
        F.col("_cid").alias(corpus_id),
        "ref_id",
        _round_sim("_raw", round_to).alias("cosine"),
    )


def knn_topk_incremental(
    stored_topk: DataFrame,
    old_corpus: DataFrame,
    new_batch: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Incrementally maintain an exact all-corpus top-k table when a
    batch of new vectors arrives — O(N·|batch|) work instead of the
    O(N²) rebuild (the daily-ingest shape: the graph artifact is
    quadratic to build but cheap to MAINTAIN).

    Exactness argument: a new vector can only DISPLACE entries of an
    old row's top-k, never promote a previously-losing old candidate —
    so an old row's union top-k lives inside (stored top-k ∪ its
    top-k-vs-batch), and re-ranking the merge recovers it exactly. A
    NEW row's candidates split into old-side (batch as broadcast
    queries vs the old corpus) and batch-internal (covered by the same
    streaming vs-batch pass that serves the old rows, since the union
    stream includes the batch). Three disjoint candidate sources, one
    merge window.

    Inputs: ``stored_topk`` (query_id, neighbor_id, cosine[, rank]) —
    the maintained artifact; ``old_corpus`` / ``new_batch`` with
    (id_col, vec_col). Output: the updated (query_id, neighbor_id,
    cosine, rank) table for the union corpus, bit-identical to a
    from-scratch cosine_allpairs_topk_blocked on the union
    (pytest-pinned)."""
    union = old_corpus.select(id_col, vec_col).unionByName(
        new_batch.select(id_col, vec_col)
    )
    # (1) every union row's top-k against the batch (self-pairs
    # excluded): old rows' NEW candidates + new rows' batch-internal
    # candidates, one streaming pass over the union corpus
    vs_batch = reference_topk_cosine(
        union, new_batch, k=k, corpus_id=id_col, ref_id=id_col,
        vec_col=vec_col, round_to=round_to,
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("ref_id").alias("neighbor_id"),
        "cosine",
    )
    # (2) new rows' OLD-side candidates: batch as queries against the
    # old corpus — the batch is small by nature, so the broadcast
    # top-k form is the right tool for exactly this side
    from_batch = cosine_topk(
        new_batch.select(F.col(id_col).alias("query_id"), vec_col),
        old_corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        k=k, round_to=round_to,
    ).select("query_id", "neighbor_id", "cosine")
    # (3) stored top-k: old rows' OLD-side candidates. The three
    # sources are pairwise DISJOINT by construction — (1) has
    # neighbor in batch, (2)/(3) have neighbor in old with query in
    # batch/old respectively — so no dedup shuffle is needed before
    # the merge window re-ranks on the shared contract order.
    merged = (
        stored_topk.select("query_id", "neighbor_id", "cosine")
        .unionByName(vs_batch)
        .unionByName(from_batch)
    )
    return _topk_tail(merged, k, None, raw="cosine")


def _cell_dists_sql(vec_col: str, centroids) -> str:
    """SQL text of the sorted (d, cell) struct array over literal
    centroids: d = ||c||² − 2·v·c (the squared-L2 ranking; ||v||² is
    constant per row), the dot product as ``dot_product``'s HOF fold,
    ``array_sort`` breaking ties to the smallest cell. The ONE
    nearest-cell builder behind ``nearest_cell_expr``,
    ``nearest_cell_struct`` and ``nearest_cells_expr``; the Arrow
    kernels replay it bit-for-bit in ``_seq_cell_dists``.

    Why text: building k·dim literals through the Python Column API
    costs one py4j round-trip per node — measured ~26 s of pure
    DRIVER time to construct the k=40 x dim=64 assignment expression,
    repeated per k-means iteration. The SQL parser builds the tree
    JVM-side in milliseconds. Why the HOF fold, not an unrolled
    element_at chain: k centroids x dim element_at terms in one
    expression blow the codegen unit past JIT limits (measured 2x
    slower at ksub=16). Why array_sort, not a when/least fold: that
    fold re-nests the accumulated best-distance subtree at every step
    — O(k²) expression size."""
    cells = ", ".join(
        "named_struct('d', {c2} - 2 * aggregate(zip_with({v}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, x) -> acc + x), 'cell', {i})".format(
            c2=_lit_double_sql(sum(float(x) * float(x) for x in cent)),
            v=_col_sql(vec_col),
            arr=_array1_sql(cent),
            i=i,
        )
        for i, cent in enumerate(centroids)
    )
    return f"array_sort(array({cells}))"


def nearest_cell_expr(vec_col: str, centroids) -> "F.Column":
    """Index of the nearest centroid (squared-L2, ties to the smallest
    index) as a native expression — centroids are plan literals, so
    assignment is a pure projection: no shuffle, no Python, works
    identically in batch and streaming. ``vec_col`` is a column name
    read as ``F.col`` reads it; project a computed vector under a name
    first."""
    return F.expr(f"element_at({_cell_dists_sql(vec_col, centroids)}, 1).cell")


def nearest_cell_struct(vec_col: str, centroids) -> "F.Column":
    """Head (d, cell) struct of the nearest-centroid ranking — same
    expression as nearest_cell_expr but keeps the rank score so the
    caller can recover the true squared distance (``d + ||v||²``,
    since d = ||c||² − 2·v·c) without a second k·dim pass."""
    return F.expr(f"element_at({_cell_dists_sql(vec_col, centroids)}, 1)")


# Lloyd assignment kernel crossover in k: below it the k·dim literal
# expression (pure projection, no Python worker) is cheaper; at or
# above it the Arrow kernel, whose plan and codegen size stay constant
# in k. Both produce bit-identical assignments (_seq_cell_dists).
# Measured at local[1] on 500, 2,000 and 20,000 vectors (PERF.md,
# "k-means assignment crossover").
_KMEANS_ARROW_MIN_K = 16


def _lloyd_means(assigned: DataFrame, keys: tuple[str, ...] = ()) -> list:
    """One Lloyd mean update, collected to the driver: the mean vector
    of every occupied (keys..., _cell) group of ``assigned`` — a frame
    of (keys..., _cell, _v) — as rows (keys..., _cell, _mean). One
    posexplode and one per-(keys, _cell, position) AVG, then
    ``_collect_cell_means``. Empty cells return no row, so callers
    keep their previous centroid. The posexplode runs in its own
    select, apart from the assignment: a generator in the same
    projection as the struct-literal ranking makes the analyzer drop
    the (d, cell) field names (FIELD_NOT_FOUND)."""
    per_pos = (
        assigned.select(*keys, "_cell", F.posexplode("_v").alias("_i", "_x"))
        .groupBy(*keys, "_cell", "_i")
        .agg(F.avg("_x").alias("_m"))
    )
    return _collect_cell_means(per_pos, keys)


def _collect_cell_means(per_pos: DataFrame, keys: tuple[str, ...] = ()) -> list:
    """Per-position means (keys..., _cell, _i, _m) reassembled into one
    ordered vector per (keys..., _cell) — array_sort over (_i, _m) —
    and collected as rows (keys..., _cell, _mean); only k×dim doubles
    reach the driver."""
    return (
        per_pos.groupBy(*keys, "_cell")
        .agg(F.array_sort(F.collect_list(F.struct("_i", "_m"))).alias("_ms"))
        .select(
            *keys, "_cell", F.transform("_ms", lambda s: s["_m"]).alias("_mean")
        )
        .collect()
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantize: int = 6,
) -> list[list[float]]:
    """Engine-replayable Lloyd k-means TRAINING (the fit half of
    ``kmeans_assignments``, exposed so IVF can train its coarse
    quantizer on the same cross-engine-deterministic contract):

    - init is data-derived (the vectors of the ``k`` smallest ids) —
      no RNG, no partition-order dependence;
    - every centroid coordinate is ROUNDED to ``quantize`` decimals
      after init and after each mean update, so sub-ulp summation-
      order drift between engines' AVG implementations is absorbed at
      each handoff instead of compounding through iterations;
    - empty cells keep their previous centroid.

    Each iteration is one distributed assign plus one hash-agg
    (``_lloyd_means``); only k×dim doubles reach the driver per pass.
    The assign is the literal-centroid expression (pure projection)
    below ``_KMEANS_ARROW_MIN_K`` cells and the Arrow kernel
    (``assign_cells_arrow`` — constant plan size in k) at or above
    it; the two are bit-identical, so the centroids do not depend on
    the choice. A DuckDB oracle replays the whole loop as an unrolled
    assign→mean CTE chain (queries._KMEANS_ORACLE)."""
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).cast("long").alias("_id"), v.alias("_v"))
    seeds = base.orderBy("_id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_fit: k={k} exceeds corpus size {len(seeds)}"
        )
    cents = [[round(float(x), quantize) for x in r._v] for r in seeds]
    for _ in range(iters):
        if k >= _KMEANS_ARROW_MIN_K:
            assigned = assign_cells_arrow(base, cents)
        else:
            assigned = base.select(
                "_v", nearest_cell_expr("_v", cents).alias("_cell")
            )
        for r in _lloyd_means(assigned):  # empty cells keep their centroid
            cents[r._cell] = [round(float(x), quantize) for x in r._mean]
    return cents


def kmeans_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    quantize: int = 6,
) -> DataFrame:
    """Deterministic, engine-replayable Lloyd k-means: fit AND assign.

    Unlike ``kmeans_centroids`` (seeded-RNG init for quantizer
    training), this variant is built to cross-check bit-for-bit
    against a SQL replay of the same algorithm in another engine:

    - init is data-derived (the vectors of the ``k`` smallest ids) —
      no RNG, no partition-order dependence;
    - every centroid coordinate is ROUNDED to ``quantize`` decimals
      after init and after each mean update, so the sub-ulp
      summation-order drift between engines' AVG implementations is
      absorbed at each handoff instead of compounding through
      iterations;
    - ties in the nearest-centroid ranking break to the smallest cell
      index in both engines (array_sort on (d, cell)).

    Each iteration is one distributed assign (pure projection — the
    centroids are plan literals) plus one hash-agg for the per-cell
    means; only k×dim doubles reach the driver per pass, so the loop
    is the canonical 100 TB clustering shape (SemDeDup's
    per-cell partitioner trains exactly like this). Returns
    (id_col, cluster, dist2) with dist2 the exact squared L2 to the
    assigned centroid.
    """
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).cast("long").alias("_id"), v.alias("_v"))
    cents = kmeans_fit(base, "_id", "_v", k=k, iters=iters, quantize=quantize)
    best = nearest_cell_struct("_v", cents)
    vsq = F.aggregate(
        F.transform("_v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return base.select(
        F.col("_id").alias(id_col),
        best["cell"].alias("cluster"),
        (best["d"] + vsq).alias("dist2"),
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    seed: int = 123,
    dim: int | None = None,
) -> list[list[float]]:
    """Coarse-quantizer training: k-means via distributed Lloyd steps.

    Init is a seeded driver-side RNG (deterministic, partition-order
    free); each iteration is one distributed pass — assign rows to the
    nearest centroid with ``nearest_cell_expr`` (pure projection), then
    per-cell vector means via one hash-agg (posexplode → avg by (cell,
    pos)). Only k×dim doubles ever reach the driver per iteration —
    the canonical IVF training loop at any corpus size. Empty cells
    keep their previous centroid.
    """
    import numpy as np

    dim = resolve_dim(df, vec_col, dim, caller="kmeans_centroids")
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((k, dim)).tolist()
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col).alias("_v"),
            nearest_cell_expr(vec_col, cents).alias("_cell"),
        )
        for r in _lloyd_means(assigned):
            cents[r._cell] = [float(x) for x in r._mean]
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """IVF search: corpus rows live in their nearest cell; each query
    probes its ``nprobe`` nearest cells (explode) and exact-cosine
    re-ranks only those cells' members — candidate volume is
    corpus/k·nprobe per query instead of the full corpus, and the
    candidate join is a plain equi-join on the cell id.

    ``cell_col``: name of a PRECOMPUTED cell-assignment column on the
    corpus (the prebuilt-index path — see operators/annindex.py). A
    real index assigns cells once at build time and stores the codes
    partitioned by cell; recomputing the assignment per search (the
    default, fine for one-shot jobs) re-pays the k-centroid scoring
    pass on every query batch."""
    n_cells = len(centroids)
    nprobe = min(nprobe, n_cells)

    d = len(centroids[0])
    corp = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("_cv"),
        vector_norm(vec_col).alias("_cn"),
        (
            F.col(cell_col)
            if cell_col is not None
            else nearest_cell_expr(vec_col, centroids)
        ).alias("_cell"),
    )

    # per-query distance to every centroid -> nprobe nearest cells
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qv"),
        vector_norm(vec_col).alias("_qn"),
        F.explode(
            nearest_cells_expr(vec_col, centroids, nprobe)
        ).alias("_cell"),
    )

    sim = F.try_divide(dot_product("_qv", "_cv"), F.col("_qn") * F.col("_cn"))
    cand = corp.join(F.broadcast(q), "_cell").filter(
        F.col(query_id) != F.col(corpus_id)
    )
    return _topk_tail(cand, k, 6, query_id, corpus_id, sim)


# --------------------------------------------------------------------------
# Product quantization (round 6): m-subspace codebooks + ADC-style search
# --------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    seed: int = 123,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the dim axis splits into
    ``m`` contiguous subvectors and each subspace gets its own
    ``ksub``-centroid k-means. Returns m x ksub x (dim/m) centroids —
    the 100 TB ANN memory lever: codes are m SMALL INTS per vector
    (m bytes at ksub<=256) versus dim floats, a dim*4/m compression,
    with only the codebooks (m*ksub*dim/m doubles) ever reaching the
    driver.

    All m sub-codebooks advance in ONE distributed Lloyd pass per
    iteration: each row explodes into its m (subspace, subvector)
    slices, assignment picks the j-th codebook's nearest centroid via
    a CASE on the subspace id (pure projection), and a single hash-agg
    grouped by (subspace, cell, pos) produces every subspace's means
    at once. Against the per-subspace-sequential form this is m-fold
    fewer corpus scans — iters passes total instead of m*iters, which
    is the difference between 2 and 8 reads of a 100 TB corpus."""
    import numpy as np

    dim = resolve_dim(df, vec_col, dim, caller="pq_train")
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m {m}")
    sub = dim // m
    # per-subspace seeded init, identical to running kmeans_centroids
    # with seed+j on the j-th slice
    cents = [
        np.random.default_rng(seed + j).standard_normal((ksub, sub)).tolist()
        for j in range(m)
    ]
    for _ in range(iters):
        assigned = _pq_assigned(df, vec_col, cents, sub)
        for r in _lloyd_means(assigned, keys=("_j",)):
            cents[r._j][r._cell] = [float(x) for x in r._mean]
    return cents


def _pq_assigned(df: DataFrame, vec_col: str, cents, sub: int) -> DataFrame:
    """The PQ trainers' Lloyd assign: every row explodes into its m
    (subspace ``_j``, slice ``_v``) pairs, and each slice takes the
    nearest cell of its own subspace's codebook through a CASE on
    ``_j`` (pure projection). Output: (_j, _v, _cell)."""
    sliced = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("_j"),
                        F.slice(vec_col, j * sub + 1, sub).alias("_v"),
                    )
                    for j in range(len(cents))
                ]
            )
        ).alias("_p")
    ).select("_p._j", "_p._v")
    cell = F.when(F.col("_j") == 0, nearest_cell_expr("_v", cents[0]))
    for j in range(1, len(cents)):
        cell = cell.when(F.col("_j") == j, nearest_cell_expr("_v", cents[j]))
    return sliced.select("_j", "_v", cell.alias("_cell"))


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    quantize: int = 6,
    dim: int | None = None,
    grid_exact_mean: bool = False,
) -> list[list[list[float]]]:
    """Engine-replayable PQ codebook training — the ``kmeans_fit``
    contract applied per subspace (the graduation path that took
    pq_ann_topk off rows-only):

    - init per subspace j = the j-th slices of the ``ksub`` smallest-id
      vectors (no RNG, no partition-order dependence);
    - every centroid coordinate ROUNDED to ``quantize`` decimals after
      init and after each mean update (absorbs cross-engine AVG
      summation-order drift at each handoff);
    - nearest-cell ties break to the smallest cell in both engines;
    - empty cells keep their previous centroid.

    Same single-pass-per-iteration shape as ``pq_train`` (all m
    sub-codebooks advance in ONE distributed Lloyd pass: explode to
    (subspace, slice), CASE-dispatched assignment, one hash-agg); only
    m*ksub*(dim/m) doubles reach the driver per pass. A DuckDB oracle
    replays the whole loop per subspace as unrolled CTEs
    (queries/vector._pq_oracle_sql).

    ``grid_exact_mean`` (r16, for training data ALREADY quantized to
    the ``quantize`` decimal grid — the OPQ row's rotated-and-rounded
    vectors): the float AVG handoff breaks down there, because means
    of grid rationals land EXACTLY on decimal-halfway points, where
    each engine's sub-ulp summation-order drift decides the rounding
    side (measured: 10/1024 centroid coords flipped vs the DuckDB
    replay, and the Spark result itself was shuffle-order-dependent).
    This mode recovers each component's exact integer micro-value
    (round(x·10^q) — exact, inputs are on the grid), sums INTEGERS
    (order-independent: deterministic run-to-run AND engine-to-engine),
    and rounds the rational mean half-away-from-zero in pure integer
    arithmetic: r = sign·((2|s| + n) div 2n), centroid = r / 10^q.
    Bit-identical in any engine; no drift to absorb."""
    dim = resolve_dim(df, vec_col, dim, caller="pq_fit")
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m {m}")
    sub = dim // m
    base = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_fv"),
    )
    seeds = base.orderBy("_id").limit(ksub).collect()
    if len(seeds) < ksub:
        raise ValueError(
            f"pq_fit: ksub={ksub} exceeds corpus size {len(seeds)}"
        )
    cents = [
        [
            [
                round(float(x), quantize)
                for x in r._fv[j * sub : (j + 1) * sub]
            ]
            for r in seeds
        ]
        for j in range(m)
    ]
    for _ in range(iters):
        assigned = _pq_assigned(base, "_fv", cents, sub)
        if not grid_exact_mean:
            means = _lloyd_means(assigned, keys=("_j",))
        else:
            scale = 10 ** quantize
            micro = assigned.select(
                "_j", "_cell", F.posexplode("_v").alias("_i", "_x")
            ).withColumn("_k", F.round(F.col("_x") * scale, 0).cast("long"))
            per = micro.groupBy("_j", "_cell", "_i").agg(
                F.sum("_k").alias("_s"), F.count(F.lit(1)).alias("_n")
            )
            r_expr = (
                F.signum("_s").cast("long")
                * F.expr("(2 * abs(_s) + _n) div (2 * _n)")
            ).cast("long")
            per_pos = per.select(
                "_j", "_cell", "_i",
                (r_expr / F.lit(float(scale))).alias("_m"),
            )
            means = _collect_cell_means(per_pos, keys=("_j",))
        for r in means:  # empty cells keep their previous centroid
            cents[r._j][r._cell] = (
                [float(x) for x in r._mean]
                if grid_exact_mean  # already exact on the grid
                else [round(float(x), quantize) for x in r._mean]
            )
    return cents


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its m per-subspace nearest-centroid codes —
    a pure projection (the same ``nearest_cell_expr`` ranking used by
    IVF assignment), no shuffle at all. Output:
    (id_col, codes array<int>)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    slices = df.select(
        F.col(id_col),
        *[
            F.slice(vec_col, j * sub + 1, sub).alias(f"_pq_s{j}")
            for j in range(m)
        ],
    )
    codes = F.array(
        *[nearest_cell_expr(f"_pq_s{j}", codebooks[j]) for j in range(m)]
    )
    return slices.select(F.col(id_col), codes.alias("codes"))


def _pq_decode_sql(
    codebooks: list[list[list[float]]], codes_col: str = "codes"
) -> str:
    """SQL text of the PQ reconstruction (see ``pq_decode_expr``);
    ``codes_col`` is read as ``F.col`` reads it (``_col_sql``)."""
    parts = ", ".join(
        "element_at({cb}, element_at({c}, {j}) + 1)".format(
            cb=_array2_sql(codebooks[m]), c=_col_sql(codes_col), j=m + 1
        )
        for m in range(len(codebooks))
    )
    return f"concat({parts})"


def pq_decode_expr(codebooks: list[list[list[float]]], codes_col: str = "codes"):
    """Reconstruction expression: concatenate each subspace's centroid
    for the stored code — codebooks enter the plan as literal arrays
    (broadcast with the plan, tiny), lookup is ``element_at``.

    r16: the m·ksub·sub literal tree is built as ONE SQL string (the ``_cell_dists_sql`` construction-cost
    argument — ~1,000 ``F.lit`` py4j round-trips measured ~0.6 s of
    pure driver time PER build, and pq/ivfpq/opq queries build it
    twice per call); the codes column is a name (``_col_sql``),
    pytest-pinned against numpy (test_pq_decode_sql_text_parity)."""
    return F.expr(_pq_decode_sql(codebooks, codes_col))


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over PQ codes: reconstruct each corpus vector
    from its codes (reconstruction-distance search — the asymmetric
    flavor where the query side stays exact) and rank by exact cosine
    against the reconstruction. The scan-side payload is the m-byte
    code column, not the float vectors; reconstruction happens inside
    codegen per candidate row."""
    decoded = codes.select(
        F.col(corpus_id).alias("neighbor_id"),
        pq_decode_expr(codebooks).alias(vec_col),
    )
    out = cosine_topk(
        queries, decoded, k=k, query_id=query_id, vec_col=vec_col
    )
    return out


# --------------------------------------------------------------------------
# IVF+PQ (round 6): coarse cells + residual codes — the canonical
# billion-vector index layout (cells prune the scan, codes shrink it)
# --------------------------------------------------------------------------


def ivfpq_build_replayable(
    corpus: DataFrame,
    ncells: int = 8,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    quantize: int = 6,
):
    """IVFPQ build on the ENGINE-REPLAYABLE trainers (the r15
    graduation path for ivfpq_ann_topk): coarse cells from
    ``kmeans_fit`` (smallest-id init, quantized handoffs, no RNG),
    residuals r = v − cell_centroid as exact float subtraction of
    quantized literals (bit-identical in any engine), and residual
    codebooks from ``pq_fit`` on the residual frame — so a DuckDB
    oracle replays the coarse fit, the residuals, all m sub-fits, the
    encoding, and the reconstruction, stage for stage. Same return
    shape as ``ivfpq_build``: (centroids, codebooks, codes_df)."""
    dim = resolve_dim(corpus, vec_col, dim, caller="ivfpq_build_replayable")
    cents = kmeans_fit(
        corpus, corpus_id, vec_col, k=ncells, iters=iters, quantize=quantize
    )
    # r17 (guide §4, the _cell_dists_sql argument): ncells x dim
    # literals as ONE parsed SQL string, not k*dim py4j round-trips
    # (measured 0.5-0.7 s of pure driver time per build at 8x64)
    cents_lit = F.expr(_array2_sql(cents))
    assigned = corpus.select(
        F.col(corpus_id), F.col(vec_col).cast("array<double>").alias("_fv")
    ).select(
        F.col(corpus_id),
        F.col("_fv").alias(vec_col),
        nearest_cell_expr("_fv", cents).alias("_cell"),
    ).withColumn(
        "_resid",
        F.zip_with(
            F.col(vec_col),
            F.element_at(cents_lit, F.col("_cell") + 1),
            lambda a, b: a - b,
        ),
    )
    resid = assigned.select(
        F.col(corpus_id), F.col("_resid").alias(vec_col)
    )
    codebooks = pq_fit(
        resid, id_col=corpus_id, vec_col=vec_col, m=m, ksub=ksub,
        iters=iters, quantize=quantize, dim=dim,
    )
    codes = pq_encode(resid, codebooks, id_col=corpus_id, vec_col=vec_col)
    codes_df = assigned.select(corpus_id, "_cell").join(codes, corpus_id)
    return cents, codebooks, codes_df


def ivfpq_build(
    corpus: DataFrame,
    ncells: int = 8,
    m: int = 4,
    ksub: int = 16,
    iters: int = 2,
    seed: int = 321,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
):
    """Build the composed index: coarse k-means cells, then PQ trained
    on the RESIDUALS (v - cell centroid) — residuals concentrate around
    the origin so a small sub-codebook covers them far better than raw
    vectors (the reason IVFPQ beats flat PQ at equal bits). Returns
    (centroids, codebooks, codes_df) with codes_df =
    (corpus_id, _cell, codes): one int for the cell + m ints for the
    residual — the entire per-vector index payload.
    """
    dim = resolve_dim(corpus, vec_col, dim, caller="ivfpq_build")
    cents = kmeans_centroids(
        corpus, vec_col=vec_col, k=ncells, iters=iters, seed=seed, dim=dim
    )
    # r17 (guide §4, the _cell_dists_sql argument): ncells x dim
    # literals as ONE parsed SQL string, not k*dim py4j round-trips
    # (measured 0.5-0.7 s of pure driver time per build at 8x64)
    cents_lit = F.expr(_array2_sql(cents))
    assigned = corpus.select(
        F.col(corpus_id),
        F.col(vec_col),
        nearest_cell_expr(vec_col, cents).alias("_cell"),
    ).withColumn(
        "_resid",
        F.zip_with(
            F.col(vec_col),
            F.element_at(cents_lit, F.col("_cell") + 1),
            lambda a, b: a - b,
        ),
    )
    codebooks = pq_train(
        assigned.select(F.col("_resid").alias(vec_col)),
        vec_col=vec_col,
        m=m,
        ksub=ksub,
        iters=iters,
        seed=seed + 1000,
        dim=dim,
    )
    codes = pq_encode(
        assigned.select(corpus_id, "_cell", F.col("_resid").alias(vec_col)),
        codebooks,
        id_col=corpus_id,
        vec_col=vec_col,
    )
    codes_df = assigned.select(corpus_id, "_cell").join(codes, corpus_id)
    return cents, codebooks, codes_df


def ivfpq_topk(
    queries: DataFrame,
    codes_df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the composed index: each query probes its ``nprobe``
    nearest cells (explode, same pruning as ivf_topk — candidate
    volume ~ corpus * nprobe / ncells), candidates reconstruct as
    cell_centroid + PQ-decoded residual INSIDE codegen, and exact
    cosine ranks the reconstructions. The scanned index payload per
    candidate is 1 + m small ints — never the float vectors."""
    n_cells = len(centroids)
    nprobe = min(nprobe, n_cells)
    # r16: whole reconstruction (cell centroid + decoded residual) as
    # ONE SQL string — the ncells·dim + m·ksub·sub literal tree
    # otherwise costs ~1,500 py4j round-trips of driver time per build
    # (same argument and parity contract as pq_decode_expr)
    decoded = codes_df.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col("_cell"),
        F.expr(
            "zip_with(element_at({cents}, `_cell` + 1), {dec}, "
            "(a, b) -> a + b)".format(
                cents=_array2_sql(centroids),
                dec=_pq_decode_sql(codebooks),
            )
        ).alias("_cv"),
    ).withColumn("_cn", vector_norm("_cv"))

    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qv"),
        vector_norm(vec_col).alias("_qn"),
        F.explode(nearest_cells_expr(vec_col, centroids, nprobe)).alias(
            "_cell"
        ),
    )
    sim = F.try_divide(dot_product("_qv", "_cv"), F.col("_qn") * F.col("_cn"))
    cand = decoded.join(F.broadcast(q), "_cell").filter(
        F.col(query_id) != F.col("neighbor_id")
    )
    return _topk_tail(cand, k, 6, query_id, "neighbor_id", sim)


def scalar_quantize_reconstruct(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Per-dimension min/max scalar quantization, returned as the
    RECONSTRUCTED float vectors (midpoint of each int8 cell) — the
    corpus representation an int8-scan ANN search actually ranks
    against. Deterministic (no RNG), so unlike the PQ/IVF paths a
    search over it is DuckDB-oracle-checkable end to end.

    The bounds pass is one posexplode + grouped agg with map-side
    partials (shuffle ~dim rows per task), broadcast back as two
    arrays; quantize + reconstruct run per row inside codegen. At
    100 TB the stored column is the code array (dim bytes); this
    helper folds encode+decode because every consumer here ranks on
    reconstructions."""
    top = float(levels - 1)
    ex = df.select(
        id_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(id_col, "pos", F.col("v").cast("double").alias("v"))
    mm = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bounds = mm.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("_mns"),
        F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("_mxs"),
    ).select(
        F.transform("_mns", lambda x: x["mn"]).alias("mns"),
        F.transform("_mxs", lambda x: x["mx"]).alias("mxs"),
    )
    recon = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.element_at("mxs", i + 1) == F.element_at("mns", i + 1),
            F.element_at("mns", i + 1),
        ).otherwise(
            F.element_at("mns", i + 1)
            + (
                F.least(
                    F.lit(top),
                    F.greatest(
                        F.lit(0.0),
                        F.floor(
                            (x.cast("double") - F.element_at("mns", i + 1))
                            * top
                            / (
                                F.element_at("mxs", i + 1)
                                - F.element_at("mns", i + 1)
                            )
                        ),
                    ),
                )
                + 0.5
            )
            * (F.element_at("mxs", i + 1) - F.element_at("mns", i + 1))
            / top
        ),
    )
    return df.crossJoin(F.broadcast(bounds)).select(
        id_col, recon.alias(vec_col)
    )


def opq_rotation(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    dim: int | None = None,
    quantize: int | None = None,
) -> list[list[float]]:
    """OPQ-style rotation (parametric OPQ, Ge et al. CVPR 2013): the
    corpus covariance's eigenvectors rotate the space so variance
    aligns with coordinate axes, and principal components are dealt
    round-robin by descending eigenvalue across the ``m`` PQ subspaces
    — balancing per-subspace variance so no sub-codebook starves while
    another saturates. Returns the permuted rotation matrix R
    (dim x dim, row i = the component assigned to output position i);
    apply with ``rotate_vectors`` and train PQ on the rotated space.

    R is orthonormal, so inner products and norms are EXACTLY
    preserved — cosine top-k over rotated vectors equals the unrotated
    answer; only the PQ cell boundaries (and hence quantization
    distortion) change. Distributed cost: one covariance pass
    (mapInPandas moment partials — shuffled bytes ~ batches * dim^2,
    row-count independent) + an eigh on the driver's dim x dim matrix.

    ``quantize``: round each R entry to that many decimals — the
    oracle-parity handoff (r16 graduation of opq_pq_ann_topk): a
    quantized R can be pinned as corpus-keyed golden literals and
    replayed exactly by a SQL twin, at the cost of orthonormality
    holding only to ~10^-quantize (cosine semantics preserved to the
    same order — far below the re-rank's own 6-decimal rounding).
    None (default) keeps the exact eigh output."""
    import numpy as np

    from value_at_risk_spark.operators.vector_agg import (
        embedding_covariance,
    )

    dim = resolve_dim(df, vec_col, dim, caller="opq_rotation")
    cov_rows = embedding_covariance(df, vec_col=vec_col, dim=dim).collect()
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r.i, r.j] = r.cov
    eigvals, eigvecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(eigvals)[::-1]  # descending variance
    # deal components round-robin: subspace j gets components
    # j, j+m, j+2m, ... (descending within each subspace)
    perm = [
        order[k]
        for j in range(m)
        for k in range(j, dim, m)
    ]
    R = eigvecs[:, perm].T
    if quantize is not None:
        R = np.round(R, quantize)
    return R.tolist()


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Apply v' = R v per row via an Arrow-batched pandas UDF (one
    numpy matmul per batch — the genuinely-numerical boundary where
    Python earns its transfer cost; a dim^2-term native expression per
    row would drown codegen instead). ``round_to``: round each rotated
    component — the quantized handoff that lets a SQL twin recompute
    v' from pinned R literals and land on identical bits (sub-ulp
    summation-order drift between numpy's matmul and SQL's group-sum
    is absorbed at the grid)."""
    from pyspark.sql.functions import pandas_udf

    R = np.asarray(rotation, dtype=np.float64)
    rt = round_to

    @pandas_udf("array<double>")
    def _rot(v: pd.Series) -> pd.Series:
        X = np.vstack(v.to_numpy()).astype(np.float64)
        out = X @ R.T
        if rt is not None:
            out = np.round(out, rt)
        return pd.Series(list(out))

    return df.select(F.col(id_col), _rot(F.col(vec_col)).alias(vec_col))


def semdedup_survivors(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    iters: int = 3,
    seed: int = 123,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) with boundary
    probing: k-means clustering THEN exact pairwise cosine only WITHIN
    shared cells — the composition that turns embedding near-dup
    detection from O(N^2) into O(N^2/k) expected pair work with zero
    driver-side data movement beyond the k x dim centroids.

    The paper's known recall hole is pairs straddling a cluster
    boundary. ``nprobe`` closes it the same way IVF search does: every
    vector is indexed under its ``nprobe`` nearest cells (measured on
    this fixture: nprobe=1 misses 2 % of planted 0.997-cosine pairs at
    sf0.1; nprobe=2 misses none — two near-identical vectors have
    near-identical centroid distance profiles, so the rank-1 cell of
    one is in the other's top-2 except at ties far below the
    threshold's similarity scale). Pair work rises by ~nprobe^2/k,
    still a k/nprobe^2-fold cut over all-pairs.

    Two scale defenses (round 10 — replacing the per-pair interpreted
    HOF cosine that cost ~440 µs/pair at 10x):

    1. **Exact-dup pre-collapse.** Identical vectors are grouped
       FIRST (groupBy on the vector value itself — partial
       aggregation collapses replicas map-side, so a giant duplicate
       cluster never lands on one reducer, and there is no hash-
       collision risk a fingerprint would carry). Cells and pair work
       run over one min-id representative per distinct vector; a
       member of a multiplicity group is a dup of min(group rep,
       best cross-group rep) directly, because identical vectors have
       cosine exactly 1 and identical probe-cell sets. Without this,
       within-cell pair work is QUADRATIC in duplicate-cluster size —
       precisely the dedup-heavy regime the operator exists for.

    2. **Arrow-batched per-cell verify.** Within each cell the exact
       cosine check is one blocked numpy Q @ V^T per Arrow group
       (applyInPandas keyed on the cell — the same shuffle key the
       pair join used), emitting at most ONE row per (rep, cell): the
       minimum qualifying neighbor rep id. The n_cell x n_cell
       similarity matrix is never materialized (row blocks of 2048),
       and no pair row ever carries two vectors through a shuffle.
       Per-cell memory is n_cell x dim doubles + one block stripe —
       bounded by the cell size k is chosen to bound anyway.

    Cross-group reduction (why reps suffice): identical vectors share
    every probe cell, so the qualifying lower-id set of a member x in
    group g is members(g) below x plus all members of the qualifying
    neighbor groups Q(g) of its representative. The minimum of the
    latter is M(g) = min over rep ids of Q(g) (a group's rep IS its
    minimum id). Hence dup_of(x) = least(rep_g, M(g)) for non-rep x,
    and M(g) if M(g) < rep_g for the representative itself. Zero-norm
    vectors never qualify in either direction (cosine undefined —
    try_divide-NULL semantics preserved), including identical zero
    vectors.

    FP note: the kernel's numpy dot sums in a different order than
    the previous HOF fold; pairs within ~1e-12 of the threshold could
    classify differently. The contract (and the DuckDB oracle, which
    has its own summation order) is exact-arithmetic cosine; fixtures
    keep >1e-2 margin. ``threshold`` must be <= 1.0 (identical
    vectors qualify by exact arithmetic even where floating point
    yields 1-ulp-below-1).

    Output: (id, cell, is_dup, dup_of) — cell is the rank-1
    assignment; dup_of the smallest qualifying lower id, NULL for
    survivors.
    """
    if threshold > 1.0:
        raise ValueError("semdedup threshold must be <= 1.0")
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            "semdedup_survivors: id_col must be integral (the Arrow "
            f"cell kernel carries int64 ids); got {id_type} — map your "
            "ids to a long surrogate first"
        )
    # centroids still train on the FULL corpus: Lloyd mean updates
    # weighted by multiplicity == training on all rows, so cells are
    # identical to the pre-collapse implementation (linear scans; the
    # quadratic stage below is what runs on representatives).
    centroids = kmeans_centroids(
        df, vec_col=vec_col, k=k, iters=iters, seed=seed, dim=dim
    )
    nprobe = min(nprobe, len(centroids))
    thr = float(threshold)

    rows = df.select(F.col(id_col), F.col(vec_col))
    groups = rows.groupBy(vec_col).agg(F.min(id_col).alias("_rep"))
    reps = groups.select(F.col("_rep").alias(id_col), F.col(vec_col))

    probed = reps.select(
        F.col(id_col),
        F.col(vec_col),
        vector_norm(vec_col).alias("_n"),
        # shared SQL-text builder (r16): the same sorted-(d, cell)
        # ranking this operator always inlined, built in one F.expr
        # call instead of k·dim py4j round-trips
        nearest_cells_expr(vec_col, centroids, nprobe).alias("_cells"),
    )
    exploded = probed.filter(F.col("_n") > 0).select(
        id_col, vec_col, F.explode("_cells").alias("_cell")
    )

    def _cell_min_neighbor(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"_id": [], "_nbr": []}).astype(
                {"_id": np.int64, "_nbr": np.int64}
            )
        V = np.array(list(pdf[vec_col]), dtype=np.float64)
        if V.ndim != 2:
            # ragged/non-numeric vectors must surface, not silently
            # report every vector a unique survivor (the stale-width
            # hazard resolve_dim's contract warns about)
            raise ValueError(
                "semdedup_survivors: inconsistent embedding widths "
                f"within a cell (sample widths: "
                f"{sorted({len(v) if v is not None else None for v in pdf[vec_col][:50]}, key=str)})"
            )
        norms = _row_norms(V)
        sentinel = np.int64(2**62)
        out_id: list[int] = []
        out_nbr: list[int] = []
        block = 2048
        for s in range(0, len(ids), block):
            e = min(s + block, len(ids))
            sims = _cosine_gram(V[s:e], V, norms[s:e], norms)
            qual = sims >= thr
            qual &= ids[None, :] != ids[s:e, None]
            best = np.where(qual, ids[None, :], sentinel).min(axis=1)
            hit = best < sentinel
            out_id.extend(ids[s:e][hit].tolist())
            out_nbr.extend(best[hit].tolist())
        return pd.DataFrame(
            {"_id": np.asarray(out_id, dtype=np.int64),
             "_nbr": np.asarray(out_nbr, dtype=np.int64)}
        )

    rep_links = exploded.groupBy("_cell").applyInPandas(
        _cell_min_neighbor, schema="_id long, _nbr long"
    )
    m_of_rep = rep_links.groupBy(F.col("_id").alias("_rep")).agg(
        F.min("_nbr").alias("_m")
    )

    rep_info = (
        probed.select(
            F.col(id_col).alias("_rep"),
            F.element_at("_cells", 1).alias("cell"),
            (F.col("_n") > 0).alias("_nz"),
        )
        .join(m_of_rep, on="_rep", how="left")
    )
    g = groups.select(F.col(vec_col).alias("_gv"), F.col("_rep"))
    members = rows.join(
        g, F.col(vec_col).eqNullSafe(F.col("_gv"))
    ).select(id_col, "_rep")
    i, r, m = F.col(id_col), F.col("_rep"), F.col("_m")
    dup_of = (
        F.when(F.col("_nz") & (i == r), F.when(m < r, m))
        .when(F.col("_nz") & (i != r), F.least(r, m))
    )
    return (
        members.join(rep_info, on="_rep")
        .select(
            id_col,
            "cell",
            dup_of.isNotNull().alias("is_dup"),
            dup_of.alias("dup_of"),
        )
    )
