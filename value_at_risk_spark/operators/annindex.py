"""ANN index lifecycle: persist, load, and incrementally extend an
IVF+PQ index as plain parquet tables.

A production vector index is not rebuilt per query — it is trained
once, stored, appended to as the corpus grows, and retrained only when
drift warrants it (the FAISS add/train split). The same split maps
cleanly onto Spark storage:

- trained artifacts (coarse centroids, PQ sub-codebooks) are TINY
  (ncells×dim + m×ksub×dim/m floats) and live as small parquet tables;
- the per-vector payload (cell id + m code ints) is the big table,
  partitioned by cell so a probe-driven search scans only probed
  cells' files (partition pruning does the nprobe cut at the STORAGE
  layer, before any executor touches a row);
- appending a new batch reuses the frozen artifacts: assign cells,
  take residuals, encode — one scan of the batch, zero training, an
  append write. Quantization error on drifted data grows gracefully
  and is the signal to retrain.

Reference intent: the reference persists model artifacts between
sessions (02_var_model.py save/load weights); this is the ANN-index
analogue through the same Registry storage layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from value_at_risk_spark.functions.vector import _array1_sql, _array2_sql
from value_at_risk_spark.operators.similarity import (
    nearest_cell_expr,
    pq_encode,
)
from value_at_risk_spark.sources.registry import Registry


def save_ivfpq_index(
    spark: SparkSession,
    base_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    codes_df: DataFrame,
) -> None:
    """Persist (centroids, codebooks, codes) under ``base_dir`` as the
    tables ``ann_centroids`` / ``ann_codebooks`` / ``ann_codes``. The
    codes table is partitioned by ``_cell`` so nprobe search prunes
    whole directories."""
    reg = Registry(base_dir)
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    reg.write(
        spark.createDataFrame(cent_rows, "cell int, v array<double>"),
        "ann_centroids",
        num_files=1,
    )
    cb_rows = [
        (j, c, [float(x) for x in vec])
        for j, book in enumerate(codebooks)
        for c, vec in enumerate(book)
    ]
    reg.write(
        spark.createDataFrame(cb_rows, "j int, code int, v array<double>"),
        "ann_codebooks",
        num_files=1,
    )
    reg.write(codes_df, "ann_codes", partition_keys=["_cell"])


def load_ivfpq_index(
    spark: SparkSession, base_dir: str
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """Load the trained artifacts (collected — they are kilobytes) and
    the codes table (LAZY — it is the corpus-sized side and stays a
    partition-prunable scan)."""
    reg = Registry(base_dir)
    cents = [
        list(r.v)
        for r in sorted(
            reg.read(spark, "ann_centroids").collect(), key=lambda r: r.cell
        )
    ]
    cb_rows = reg.read(spark, "ann_codebooks").collect()
    m = max(r.j for r in cb_rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(cb_rows, key=lambda r: (r.j, r.code)):
        books[r.j].append(list(r.v))
    codes = reg.read(spark, "ann_codes")
    # merge-on-read deletes: tombstoned ids never reach a search
    # (broadcast anti-join — the tombstone side is deleted-count sized)
    tomb = _tombstones(spark, base_dir)
    if tomb is not None:
        codes = codes.join(
            F.broadcast(tomb), tomb.columns[0], "left_anti"
        )
    return cents, books, codes


def save_pq_index(
    spark: SparkSession,
    base_dir: str,
    codebooks: list[list[list[float]]],
    codes_df: DataFrame,
    rotation: list[list[float]] | None = None,
) -> None:
    """Persist a FLAT-PQ index (no coarse cells): sub-codebooks + the
    per-vector code table, plus the optional OPQ rotation matrix (row
    i = the principal component assigned to output position i). Same
    Registry storage layer as the IVF+PQ lifecycle; the codes table is
    the corpus-sized side and stays a plain scan (flat PQ has no cell
    key to prune on — that is IVF's job)."""
    reg = Registry(base_dir)
    cb_rows = [
        (j, c, [float(x) for x in vec])
        for j, book in enumerate(codebooks)
        for c, vec in enumerate(book)
    ]
    reg.write(
        spark.createDataFrame(cb_rows, "j int, code int, v array<double>"),
        "ann_codebooks",
        num_files=1,
    )
    if rotation is not None:
        rot_rows = [(i, [float(x) for x in r]) for i, r in enumerate(rotation)]
        reg.write(
            spark.createDataFrame(rot_rows, "i int, v array<double>"),
            "ann_rotation",
            num_files=1,
        )
    reg.write(codes_df, "ann_pq_codes")


def load_pq_index(
    spark: SparkSession, base_dir: str
) -> tuple[
    list[list[list[float]]], DataFrame, list[list[float]] | None
]:
    """Load (codebooks, codes, rotation-or-None). Artifacts collect
    (kilobytes); the codes table stays lazy."""
    reg = Registry(base_dir)
    cb_rows = reg.read(spark, "ann_codebooks").collect()
    m = max(r.j for r in cb_rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(cb_rows, key=lambda r: (r.j, r.code)):
        books[r.j].append(list(r.v))
    rotation = None
    if os.path.exists(reg.path("ann_rotation")):
        rot_rows = reg.read(spark, "ann_rotation").collect()
        rotation = [
            list(r.v) for r in sorted(rot_rows, key=lambda r: r.i)
        ]
    return books, reg.read(spark, "ann_pq_codes"), rotation


#: per-process record of cache outcomes, appended by ensure_index:
#: (kind_and_key_basename, "cold" | "warm"). Sweep/bench harnesses
#: drain this so every recorded pq/ivfpq/opq timing says which of the
#: two bimodal cost modes (train vs load) it measured.
BUILD_EVENTS: list[tuple[str, str]] = []

_CODE_SALT: str | None = None

#: bounded cache: newest entries kept per kind (GC in ensure_index)
CACHE_KEEP_PER_KIND = 8


def _code_salt() -> str:
    """Hash of the modules whose training/encoding output the cached
    artifacts embody. Folded into the cache key so editing pq_train /
    ivfpq_build / opq_rotation invalidates every prior index — without
    this, gate runs after a code change silently load artifacts
    trained by the OLD code, and cold/warm equality tests cannot catch
    it because both paths read the same stale cache."""
    global _CODE_SALT
    if _CODE_SALT is None:
        h = hashlib.md5()
        here = os.path.dirname(os.path.abspath(__file__))
        for mod in ("similarity.py", "annindex.py"):
            try:
                with open(os.path.join(here, mod), "rb") as f:
                    h.update(f.read())
            except OSError:
                h.update(mod.encode())
        _CODE_SALT = h.hexdigest()[:12]
    return _CODE_SALT


def cache_root() -> str:
    """Per-user cache root: a world-shared /tmp name invites
    cross-user collisions (EACCES on a root another uid created,
    or loading an index another user published)."""
    uid = getattr(os, "getuid", lambda: "u")()
    return os.path.join(
        tempfile.gettempdir(), f"vars_ann_index_cache_{uid}"
    )


def index_cache_dir(kind: str, sf_dir: str, params: dict) -> str:
    """Deterministic on-disk location for a trained index over a fixture
    corpus, keyed by (kind, sf_dir, corpus fingerprint, params, code
    salt). The fingerprint is the embeddings parquet's (mtime_ns, size)
    so a regenerated fixture invalidates the cache instead of serving
    stale artifacts; the code salt (hash of similarity.py + annindex.py)
    does the same for trainer/encoder changes. This is what lets the
    GATE queries train once per box and load thereafter — at 100 TB an
    index is trained once per corpus, never once per query (the FAISS
    add/train split the module docstring describes)."""
    fp: list = []
    emb = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(emb):
            for f in sorted(os.listdir(emb)):
                st = os.stat(os.path.join(emb, f))
                fp.append((f, st.st_mtime_ns, st.st_size))
        else:
            st = os.stat(emb)
            fp.append((st.st_mtime_ns, st.st_size))
    except OSError:
        fp.append("unknown")
    key = hashlib.md5(
        json.dumps(
            {
                "kind": kind,
                "sf": os.path.abspath(sf_dir),
                "fp": fp,
                "code": _code_salt(),
                **params,
            },
            sort_keys=True,
            default=str,
        ).encode()
    ).hexdigest()[:16]
    return os.path.join(cache_root(), f"{kind}_{key}")


def _gc_cache(root: str, kind: str) -> None:
    """Keep the most-recently-USED CACHE_KEEP_PER_KIND entries per
    kind (warm hits touch mtime), and never evict anything used within
    the grace window — a reader that passed the existence check moments
    ago must not have its parquet deleted mid-load by a concurrent
    builder's GC."""
    import time as _time

    grace = _time.time() - 600
    try:
        entries = [
            (os.path.getmtime(os.path.join(root, d)), d)
            for d in os.listdir(root)
            if d.startswith(f"{kind}_") and ".staging." not in d
        ]
    except OSError:
        return
    for mt, d in sorted(entries, reverse=True)[CACHE_KEEP_PER_KIND:]:
        if mt < grace:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def ensure_index(base_dir: str, build: Callable[[str], None]) -> str:
    """Build-or-load gatekeeper: if ``base_dir`` exists (a completed
    build — publication is an atomic rename, so existence implies
    completeness), return it untouched; otherwise run ``build`` into a
    pid-keyed sibling staging dir and atomically rename it into place.
    A concurrent builder losing the rename race discards its staging
    dir and uses the winner's — readers can never observe a torn
    index. Every call appends (entry name, cold|warm) to BUILD_EVENTS
    so harnesses can stamp which cost mode a timing measured."""
    name = os.path.basename(base_dir)
    if os.path.isdir(base_dir):
        BUILD_EVENTS.append((name, "warm"))
        try:
            os.utime(base_dir)  # LRU signal for the GC below
        except OSError:
            pass
        return base_dir
    BUILD_EVENTS.append((name, "cold"))
    os.makedirs(os.path.dirname(base_dir), exist_ok=True)
    staging = f"{base_dir}.staging.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    try:
        build(staging)
        try:
            os.rename(staging, base_dir)
        except OSError:
            # a lost publish race is fine ONLY if the winner's index is
            # actually there; a genuine failure (EACCES, EXDEV) must
            # surface here, not as a missing-table error in the loader
            if not os.path.isdir(base_dir):
                raise
            shutil.rmtree(staging, ignore_errors=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    # GC only inside the managed cache root — ensure_index accepts any
    # target dir, and pruning siblings of a caller-owned path would be
    # a destructive surprise
    parent = os.path.dirname(base_dir)
    if os.path.basename(parent).startswith("vars_ann_index_cache"):
        _gc_cache(parent, name.split("_", 1)[0])
    return base_dir


def append_to_ivfpq(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally index a new vector batch against the FROZEN
    artifacts: nearest-cell assignment + residual + PQ encode (one
    scan, pure codegen + one small join) and an append write into the
    cell-partitioned codes table. No retraining, no touch of existing
    codes — the per-increment cost profile a daily embedding feed
    needs. Search sees the new vectors on its next scan."""
    cents, books, _ = load_ivfpq_index(spark, base_dir)
    # r17: ncells x dim literals as ONE parsed SQL string (guide §4)
    cents_lit = F.expr(_array2_sql(cents))
    assigned = new_vectors.select(
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
    codes = pq_encode(
        assigned.select(corpus_id, "_cell", F.col("_resid").alias(vec_col)),
        books,
        id_col=corpus_id,
        vec_col=vec_col,
    )
    codes_df = assigned.select(corpus_id, "_cell").join(codes, corpus_id)
    Registry(base_dir).write(
        codes_df, "ann_codes", mode="append", partition_keys=["_cell"]
    )


# --------------------------------------------------------------------------
# Index maintenance under churn (round 12): deletes as tombstones (the
# DV idea applied to the vector index — no partition rewrite per
# delete), bounded purge, and hot-cell splitting so a skewed ingest
# cannot degrade probe selectivity forever.
# --------------------------------------------------------------------------


def delete_from_ivfpq(
    spark: SparkSession,
    base_dir: str,
    ids: DataFrame,
    corpus_id: str = "vec_id",
) -> None:
    """Delete vectors from the index WITHOUT touching the codes table:
    the ids append to a tiny ``ann_tombstones`` table and every
    ``load_ivfpq_index`` scan anti-joins them out (broadcast — the
    tombstone side is deleted-count sized, never corpus sized). The
    merge-on-read shape deletion vectors use on the delta log, applied
    to the vector index; ``purge_ivfpq`` is the compaction arm."""
    Registry(base_dir).write(
        ids.select(F.col(corpus_id)).distinct(),
        "ann_tombstones",
        mode="append",
        num_files=1,
    )


def _tombstones(spark: SparkSession, base_dir: str) -> DataFrame | None:
    reg = Registry(base_dir)
    if not os.path.isdir(reg.path("ann_tombstones")):
        return None
    return reg.read(spark, "ann_tombstones")


def purge_ivfpq(
    spark: SparkSession, base_dir: str, corpus_id: str = "vec_id"
) -> dict:
    """Materialize the tombstones: rewrite ONLY the cell partitions
    that hold deleted vectors (dynamic partition overwrite — untouched
    cells' files are never read or written), drop cells left empty,
    and clear EXACTLY the tombstone files this purge read. Bounded by
    the DELETED rows' cell count, not the corpus — the same cost
    contract as REORG PURGE on the delta log.

    The tombstone read is FILE-SNAPSHOTTED: delete_from_ivfpq appends
    concurrently, and an rmtree of the whole tombstone dir after
    materializing would silently drop ids appended between this
    purge's read and the clear — those vectors would resurrect. Only
    the snapshotted files are removed; later appends survive for the
    next purge."""
    import glob as _glob

    reg = Registry(base_dir)
    tomb_dir = reg.path("ann_tombstones")
    if not os.path.isdir(tomb_dir):
        return {"cells_rewritten": 0, "cells_dropped": 0, "purged": 0}
    tomb_files = sorted(_glob.glob(os.path.join(tomb_dir, "*.parquet")))
    if not tomb_files:
        return {"cells_rewritten": 0, "cells_dropped": 0, "purged": 0}
    tomb = spark.read.parquet(*tomb_files).select(corpus_id).distinct()
    codes_path = reg.path("ann_codes")
    raw = spark.read.parquet(codes_path)  # tombstones NOT applied
    hit = raw.join(F.broadcast(tomb), corpus_id, "inner")
    affected = [r._cell for r in hit.select("_cell").distinct().collect()]
    n_purged = hit.count()
    if affected:
        survivors = raw.filter(F.col("_cell").isin(affected)).join(
            F.broadcast(tomb), corpus_id, "left_anti"
        ).localCheckpoint()  # lineage reads the partitions we replace
        live_cells = {
            r._cell for r in survivors.select("_cell").distinct().collect()
        }
        (
            survivors.repartition(max(1, len(live_cells)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_cell")
            .parquet(codes_path)
        )
        # dynamic overwrite only replaces partitions PRESENT in the
        # written frame — a cell whose every row died must be dropped
        # explicitly or its stale files would resurrect the deletes
        for c in set(affected) - live_cells:
            shutil.rmtree(
                os.path.join(codes_path, f"_cell={c}"), ignore_errors=True
            )
    # clear ONLY the snapshotted files (concurrent appends survive);
    # drop the dir itself only if nothing else landed meanwhile
    for f in tomb_files:
        try:
            os.remove(f)
        except OSError:
            pass
    if not _glob.glob(os.path.join(tomb_dir, "*.parquet")):
        shutil.rmtree(tomb_dir, ignore_errors=True)
    # report from driver-side state already in hand — a corpus rescan
    # here would break the deleted-rows-bounded cost contract and
    # crash (UNABLE_TO_INFER_SCHEMA) when the purge emptied the table
    dropped = len(set(affected) - live_cells) if affected else 0
    return {
        "cells_rewritten": len(affected),
        "cells_dropped": dropped,
        "purged": n_purged,
    }


def _two_means(
    df: DataFrame, vec_col: str, iters: int = 2, seed: int = 7
) -> list[list[float]] | None:
    """Distributed 2-means with DATA-driven init: the two vectors at
    the extremes of a seeded random projection (random-gaussian init —
    kmeans_centroids' choice, fine for a coarse quantizer over the
    whole corpus — collapses on a single tight cell: one centroid
    captures everything and the split becomes a no-op). Lloyd steps
    are the shared one-pass mean update (similarity._lloyd_means).
    Returns None when the cell is degenerate (both extremes
    identical)."""
    import numpy as np

    from value_at_risk_spark.operators.similarity import _lloyd_means

    first = df.select(vec_col).first()
    if first is None:
        return None
    dim = len(first[0])
    g = np.random.default_rng(seed).standard_normal(dim)
    proj = sum(
        F.element_at(F.col(vec_col), i + 1) * float(g[i]) for i in range(dim)
    )
    ends = df.select(
        F.min_by(vec_col, proj).alias("lo"), F.max_by(vec_col, proj).alias("hi")
    ).first()
    pair = [[float(x) for x in ends.lo], [float(x) for x in ends.hi]]
    if pair[0] == pair[1]:
        return None
    for _ in range(iters):
        assigned = df.select(
            nearest_cell_expr(vec_col, pair).alias("_cell"),
            F.col(vec_col).alias("_v"),
        )
        for r in _lloyd_means(assigned):
            pair[r._cell] = [float(x) for x in r._mean]
    if pair[0] == pair[1]:
        return None
    return pair


def rebalance_ivfpq(
    spark: SparkSession,
    base_dir: str,
    hot_factor: float = 4.0,
    iters: int = 2,
    corpus_id: str = "vec_id",
) -> dict:
    """Split HOT cells — cells whose population exceeds ``hot_factor``
    × the mean — so skewed ingest cannot degrade probe selectivity: a
    probe of a cell holding half the corpus rescans half the corpus.

    Per hot cell: reconstruct its vectors from their codes (centroid +
    PQ decode — the quantization-bounded approximation; originals are
    not stored, by design), train TWO sub-centroids with the same
    distributed Lloyd pass as the coarse quantizer, re-assign each row
    to its nearer sub-centroid, and re-encode residuals against it.
    The split cell keeps its id (sub-centroid A replaces it in place);
    sub-centroid B appends at the end — cell ids stay POSITIONAL into
    the centroid list, which is what ivfpq_topk's element_at decode
    requires. Storage cost: dynamic partition overwrite of the hot
    cells + the new cells only; cold partitions are never touched.
    PQ codebooks are frozen (residual geometry barely moves under a
    mean split; recall is pinned by the caller's floor test)."""
    from value_at_risk_spark.operators.similarity import (
        pq_decode_expr,
        pq_encode,
    )

    cents, books, codes = load_ivfpq_index(spark, base_dir)
    counts = {r._cell: r["count"] for r in codes.groupBy("_cell").count().collect()}
    total = sum(counts.values())
    if not total:
        return {"cells_split": 0}
    mean = total / max(1, len(cents))
    hot = sorted(
        c for c, n in counts.items() if n > hot_factor * mean and n >= 4
    )
    if not hot:
        return {"cells_split": 0}
    new_cents = [list(c) for c in cents]
    out_frames = []
    split_cells = []
    for c in hot:
        # reconstruct ≈ originals: centroid + decoded residual
        vecs = codes.filter(F.col("_cell") == c).select(
            corpus_id,
            F.zip_with(
                F.expr(_array1_sql(cents[c])),
                pq_decode_expr(books),
                lambda a, b: a + b,
            ).alias("embedding"),
        )
        sub = _two_means(vecs, "embedding", iters=iters, seed=1000 + c)
        if sub is None:
            # degenerate cell (all vectors identical) — splitting
            # cannot reduce it; leave it alone
            continue
        new_id = len(new_cents)
        new_cents[c] = sub[0]
        new_cents.append(sub[1])
        split_cells.append(c)
        pair = [sub[0], sub[1]]
        assigned = vecs.withColumn(
            "_pick", nearest_cell_expr("embedding", pair)
        ).withColumn(
            "_cell",
            F.when(F.col("_pick") == 0, F.lit(c)).otherwise(F.lit(new_id)),
        ).withColumn(
            "_resid",
            F.zip_with(
                F.col("embedding"),
                F.element_at(
                    F.expr(_array2_sql(pair)),
                    F.col("_pick") + 1,
                ),
                lambda a, b: a - b,
            ),
        )
        recoded = pq_encode(
            assigned.select(
                corpus_id, "_cell", F.col("_resid").alias("embedding")
            ),
            books,
            id_col=corpus_id,
            vec_col="embedding",
        )
        out_frames.append(
            assigned.select(corpus_id, "_cell").join(recoded, corpus_id)
        )
    if not out_frames:
        return {"cells_split": 0}
    allnew = out_frames[0]
    for f in out_frames[1:]:
        allnew = allnew.unionByName(f)
    # materialize BEFORE overwriting: the lineage reads the very
    # partitions the dynamic overwrite replaces (bounded: hot-cell
    # rows only, the same rows being rewritten)
    allnew = allnew.localCheckpoint()
    reg = Registry(base_dir)
    # centroid table FIRST (tiny, it IS the cell id space): a crash
    # between the two writes leaves NEW centroids with no codes
    # (harmless — empty cells) instead of codes whose cell ids index
    # past the centroid list (silent recall loss + OOB decode). The
    # residual window: each REPLACED cell c's existing codes decode
    # against sub[0] until the codes write lands — reconstructions in
    # that window are off by (old_centroid - sub[0]), degraded recall
    # for the hot cells only, self-healing at the codes write; the
    # reverse order would corrupt ALL split-cell probes permanently
    # on crash, so this is the right side of the trade
    reg.write(
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(new_cents)],
            "cell int, v array<double>",
        ),
        "ann_centroids",
        num_files=1,
    )
    (
        allnew.repartition(2 * len(hot))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_cell")
        .parquet(reg.path("ann_codes"))
    )
    # dynamic overwrite only replaces partitions PRESENT in the
    # written frame: if a split's final re-assignment put zero rows
    # in a kept (or new) sub-cell, its old partition would survive
    # with stale codes that duplicate the re-encoded rows AND decode
    # against the replaced centroid — drop the absent ones explicitly
    # (same hazard purge_ivfpq handles for emptied cells)
    written = {r._cell for r in allnew.select("_cell").distinct().collect()}
    expected = set(split_cells) | set(range(len(cents), len(new_cents)))
    for c in sorted(expected - written):
        shutil.rmtree(
            os.path.join(reg.path("ann_codes"), f"_cell={c}"),
            ignore_errors=True,
        )
    return {
        "cells_split": len(out_frames),
        "hot_cells": hot,
        "n_cells_before": len(cents),
        "n_cells_after": len(new_cents),
        "max_cell_before": max(counts.values()),
    }


# --------------------------------------------------------------------------
# IVF GRAPH index (round 16): the persisted path for mutual-kNN graph
# construction past the one-shot knn_graph_ann's 256-cell operating
# range (similarity.py knn_graph_ann docstring — r15 VERDICT #1).
# --------------------------------------------------------------------------


def build_ivf_graph_index(
    spark: SparkSession,
    base_dir: str,
    corpus: DataFrame,
    n_cells: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Train and persist the IVF coarse structure graph construction
    searches: ``ann_centroids`` (cell, v — n_cells·dim doubles, tiny)
    plus ``ann_vectors`` — the FULL float vectors partitioned by their
    assigned ``_cell``, because graph re-ranking is exact-cosine over
    true vectors (unlike the PQ search indexes, whose payload is
    codes). Training is ``similarity.kmeans_fit`` (smallest-id init,
    quantized handoffs, ties to the smallest cell), which assigns
    through the Arrow kernel from ``_KMEANS_ARROW_MIN_K`` cells up —
    the plan stays constant-size in n_cells, so the quantizer can be
    thousands of cells where the one-shot literal expression caps at
    256. Cell assignment is paid ONCE here; every later graph
    build, probe batch, or append reads cells from storage — the FAISS
    add/train split applied to graph construction.

    ``n_cells=None`` auto-sizes to ~1,500 members/cell capped at 4096
    (driver artifact stays <= 4096·dim doubles); returns n_cells."""
    import math

    from value_at_risk_spark.operators.similarity import (
        assign_cells_arrow,
        kmeans_fit,
    )

    if n_cells is None:
        n = corpus.count()
        if n == 0:
            raise ValueError("build_ivf_graph_index: empty corpus")
        n_cells = min(n, 4096, max(8, math.ceil(n / 1500)))
    cents = kmeans_fit(corpus, id_col, vec_col, k=n_cells, iters=iters)
    base = corpus.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    assigned = assign_cells_arrow(base, cents).select(
        F.col("_id").alias(id_col),
        F.col("_v").alias(vec_col),
        "_cell",
    )
    reg = Registry(base_dir)
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    reg.write(
        spark.createDataFrame(cent_rows, "cell int, v array<double>"),
        "ann_centroids",
        num_files=1,
    )
    reg.write(assigned, "ann_vectors", partition_keys=["_cell"])
    return int(n_cells)


def load_ivf_graph_index(
    spark: SparkSession, base_dir: str
) -> tuple[list[list[float]], DataFrame]:
    """(centroids, vectors) — centroids collected (kilobytes), the
    cell-partitioned vector table LAZY (corpus-sized; a probe-driven
    read prunes whole ``_cell=`` directories at the storage layer).
    Tombstoned ids (delete_from_ivf_graph_index) are anti-joined out
    on read — the same merge-on-read shape the IVFPQ index uses.
    Streamed increments (streaming/graphindex.py commits under
    ``ann_vectors_inc/batch_id=N``) union in lazily; run
    ``compact_graph_index`` to fold them into the partitioned base."""
    reg = Registry(base_dir)
    cents = [
        list(r.v)
        for r in sorted(
            reg.read(spark, "ann_centroids").collect(), key=lambda r: r.cell
        )
    ]
    vectors = reg.read(spark, "ann_vectors")
    inc = _graph_increments(spark, base_dir)
    if inc is not None:
        vectors = vectors.select(inc.columns).unionByName(inc)
    tomb = _tombstones(spark, base_dir)
    if tomb is not None:
        vectors = vectors.join(
            F.broadcast(tomb), tomb.columns[0], "left_anti"
        )
    return cents, vectors


def _graph_increments(
    spark: SparkSession, base_dir: str
) -> DataFrame | None:
    from value_at_risk_spark.streaming.graphindex import INC_DIR

    inc_dir = os.path.join(base_dir, INC_DIR)
    if not os.path.isdir(inc_dir) or not any(
        e.startswith("batch_id=") for e in os.listdir(inc_dir)
    ):
        return None
    return spark.read.parquet(inc_dir).drop("batch_id")


def compact_graph_index(spark: SparkSession, base_dir: str) -> dict:
    """Fold streamed increments into the cell-partitioned base table:
    a STAGING full rewrite of ``ann_vectors`` (base ∪ increments) with
    an atomic directory swap, then the increment dirs are removed —
    a crash mid-compaction leaves either the old base plus the
    increments (nothing lost, compaction re-runs) or the new base with
    the increments gone, never duplicates. OPTIMIZE-style maintenance:
    rewrites are its nature; run it when the increment tail is a
    meaningful fraction of the base."""
    import shutil as _sh

    from value_at_risk_spark.streaming.graphindex import INC_DIR

    reg = Registry(base_dir)
    inc = _graph_increments(spark, base_dir)
    if inc is None:
        return {"compacted_batches": 0}
    inc_dir = os.path.join(base_dir, INC_DIR)
    n_batches = sum(
        1 for e in os.listdir(inc_dir) if e.startswith("batch_id=")
    )
    base = reg.read(spark, "ann_vectors").select(inc.columns)
    merged = base.unionByName(inc)
    vec_path = reg.path("ann_vectors")
    staging = f"{vec_path}.compact.{os.getpid()}"
    _sh.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy("_cell").parquet(staging)
    old = f"{vec_path}.old.{os.getpid()}"
    os.rename(vec_path, old)
    os.rename(staging, vec_path)
    _sh.rmtree(old, ignore_errors=True)
    _sh.rmtree(inc_dir, ignore_errors=True)
    return {"compacted_batches": n_batches}


def delete_from_ivf_graph_index(
    spark: SparkSession,
    base_dir: str,
    ids: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """Delete vectors from the GRAPH index without touching the
    cell-partitioned vector table: ids append to the tiny
    ``ann_tombstones`` table and every load anti-joins them out
    (broadcast — deleted-count sized). A deleted vector stops
    appearing as member AND as query on the next graph build."""
    Registry(base_dir).write(
        ids.select(F.col(id_col)).distinct(),
        "ann_tombstones",
        mode="append",
        num_files=1,
    )


def knn_graph_ann_indexed(
    spark: SparkSession,
    base_dir: str,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """Approximate mutual-kNN graph FROM A PERSISTED INDEX — the
    executed form of the >400k-vector path the one-shot
    ``similarity.knn_graph_ann`` docstring declares (r15 VERDICT #1).

    Member cells come from STORAGE (assigned once at build time —
    never recomputed per run); the probing side re-scores the corpus
    against the collected centroids with the Arrow probe kernel
    (constant plan size in n_cells — no k·dim literal expression, so
    thousands of cells are fine); then the identical tail as the
    one-shot graph: ONE shuffle equi-join on cell id, per-cell Arrow
    gram re-rank, per-query merge window, COUNT(*)=2 reciprocity
    (``similarity.mutual_edges_from_cells`` — shared code, shared tie
    contract, shared oracle shape). Candidate volume is
    N·nprobe·(N/n_cells); with build-time n_cells ∝ N the per-cell
    work is flat — the 1000-executor shape at any corpus size.

    Both kernels are bit-identical to the literal-expression forms
    (similarity._seq_cell_dists), so a fixture-deterministic build
    (kmeans_fit contract) shares the one-shot graph's full DuckDB
    oracle replay."""
    from value_at_risk_spark.operators.similarity import (
        mutual_edges_from_cells,
        probe_cells_arrow,
    )

    cents, vectors = load_ivf_graph_index(spark, base_dir)
    members = vectors.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.col("_cell").cast("int").alias("_cell"),
        F.lit(0).alias("_side"),
    )
    probing = probe_cells_arrow(
        vectors.select(
            F.col(id_col).cast("long").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        cents,
        nprobe,
    ).withColumn("_side", F.lit(1))
    both = members.unionByName(probing)
    return mutual_edges_from_cells(both, k=k, round_to=round_to)


def append_to_ivf_graph_index(
    spark: SparkSession,
    base_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally index a new vector batch into the GRAPH index
    against the FROZEN coarse structure: Arrow nearest-cell assignment
    (one scan of the batch, zero training) and an append write into
    the cell-partitioned vector table — the per-increment cost profile
    a daily embedding feed needs, completing the FAISS add/train split
    for graph construction (the same contract append_to_ivfpq gives
    the search index). The next ``knn_graph_ann_indexed`` run sees the
    new vectors; quantization drift of appended data vs the frozen
    centroids grows gracefully and is the retrain signal."""
    from value_at_risk_spark.operators.similarity import assign_cells_arrow

    cents, _ = load_ivf_graph_index(spark, base_dir)
    base = new_vectors.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    assigned = assign_cells_arrow(base, cents).select(
        F.col("_id").alias(id_col),
        F.col("_v").alias(vec_col),
        "_cell",
    )
    Registry(base_dir).write(
        assigned, "ann_vectors", mode="append", partition_keys=["_cell"]
    )
