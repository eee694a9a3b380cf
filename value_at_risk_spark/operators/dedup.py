"""Deduplication operators (north-star surface, BASELINE.json).

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over a document
table. Designed for the 100 TB regime:

- exact: one hash-shuffle on a 128-bit digest (md5) — the digest, not
  the document body, is the shuffle key payload.
- minhash-LSH: signatures via xxhash64 (JVM-side), banded so candidate
  generation is an equi-join on (band, band_hash) buckets — no pairwise
  O(n²) stage; the final Jaccard check runs only on bucket collisions.
- simhash: 64-bit fingerprint via per-token xxhash64 bit-votes, all in
  higher-order functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from value_at_risk_spark.functions.text import shingles, tokens


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest id per identical text digest.

    groupBy(md5(text)) → min(id). The shuffle carries (digest, id) only;
    survivors re-join to recover payload columns if needed.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document, all JVM-side.

    No shingle strings are ever built: each token is hashed once
    (xxhash64 → long), an n-gram shingle hash is xxhash64 over the n
    consecutive token hashes (long-only work), and the k-member hash
    family is derived from the shingle hash (xxhash64(h, i)) as k
    min-aggregates in one hash-agg pass over the exploded
    (doc, shingle-hash) rows. Linear in docs × tokens; partial
    (map-side) aggregation keeps the shuffle at docs × k longs.

    The input is ``spread_small_input``-guarded (r16, guide §2.5):
    the tokenize + shingle + k-hash work runs in the SCAN stage, so a
    single-split input (small fixture parquet, unsplittable file)
    serializes the whole hash family onto one task; the guard
    repartitions by id only in that case (no-op on a real corpus,
    where the scan is already parallel and the post-partial-agg
    exchange of docs × k longs stays the only shuffle).
    """
    from value_at_risk_spark.operators.skew import spread_small_input

    df = spread_small_input(df, id_col)
    toks = tokens(text_col)
    # materialize the token-hash array in its own projection: inlining it
    # into the shingle transform would re-evaluate the whole array per
    # shingle element (O(tokens²) per doc)
    base = df.select(
        F.col(id_col),
        F.concat(
            F.transform(toks, lambda t: F.xxhash64(t)),
            # pad so element_at stays in bounds under ANSI for short docs
            F.array(*[F.lit(0).cast("long")] * (shingle_n - 1)),
        ).alias("_th"),
        F.greatest(F.size(toks) - (shingle_n - 1), F.lit(1)).alias("_nsh"),
    )
    sh_hashes = F.transform(
        F.sequence(F.lit(1), F.col("_nsh")),
        lambda i: F.xxhash64(
            *[F.element_at(F.col("_th"), i + k) for k in range(shingle_n)]
        ),
    )
    sh = base.select(F.col(id_col), F.explode(sh_hashes).alias("_h"))
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64("_h", F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        id_col,
        F.array(*[f"_m{i}" for i in range(num_hashes)]).alias(
            # carry k in column metadata so downstream banding can learn
            # the signature length from the SCHEMA, never from a probe job
            "signature",
            metadata={"num_hashes": num_hashes},
        ),
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding: candidate pairs = docs sharing any band bucket.

    Explode the signature into ``num_bands`` band-hashes, equi-join on
    (band, band_hash) — Catalyst does a hash shuffle on the bucket key,
    so cost is O(candidates), never O(n²). Self-join is deduped by
    id_a < id_b.
    """
    # signature length resolves without ever running a job: explicit
    # argument first, then the column metadata stamped by
    # minhash_signatures; the .first() probe is a last resort for
    # foreign signature frames only. CONTRACT: metadata rides the
    # schema, not the data — a frame whose signature arrays were
    # sliced/rebuilt after stamping carries a stale k that silently
    # shifts band boundaries; such transforms must re-stamp the
    # metadata or pass num_hashes explicitly (explicit always wins).
    if num_hashes is not None:
        k = num_hashes
    elif "signature" in signatures.columns and signatures.schema[
        "signature"
    ].metadata.get("num_hashes"):
        k = int(signatures.schema["signature"].metadata["num_hashes"])
    else:
        row = signatures.select(F.size("signature")).first()
        if row is None:
            raise ValueError(
                "minhash_lsh_pairs: empty signatures frame — pass "
                "num_hashes explicitly to build the plan without input"
            )
        k = row[0]
    rows_per_band = max(1, k // num_bands)
    bands = signatures.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("signature", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs_cross(
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding ACROSS two signature frames — the incremental-dedup
    join shape: candidates are (left, right) docs sharing any band
    bucket, with no left-left or right-right pairs generated. This is
    how a NEW BATCH is deduped against an EXISTING CORPUS without
    recomputing or self-joining the corpus: both sides band with the
    identical hash family, and the equi-join on (band, band_hash) keys
    the shuffle on the bucket — O(candidates), never O(batch x corpus).
    Returns distinct (id_left, id_right).
    """
    # same no-probe resolution order as minhash_lsh_pairs: explicit
    # argument, then the num_hashes column metadata stamped by
    # minhash_signatures, then (last resort) a .first() probe
    if num_hashes is not None:
        k = num_hashes
    elif "signature" in left_sigs.columns and left_sigs.schema[
        "signature"
    ].metadata.get("num_hashes"):
        k = int(left_sigs.schema["signature"].metadata["num_hashes"])
    else:
        row = left_sigs.select(F.size("signature")).first()
        if row is None:
            raise ValueError(
                "minhash_lsh_pairs_cross: empty left signatures — pass "
                "num_hashes explicitly"
            )
        k = row[0]
    rows_per_band = max(1, k // num_bands)

    def bands(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            id_col,
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        "signature",
                                        b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                            )
                        )
                        for b in range(num_bands)
                    ]
                )
            ).alias("band", "band_hash"),
        )

    a = bands(left_sigs).alias("a")
    b = bands(right_sigs).alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_hash") == F.col("b.band_hash"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_left"),
            F.col(f"b.{id_col}").alias("id_right"),
        )
        .distinct()
    )


def jaccard_similarity(
    df: DataFrame,
    text_a: str,
    text_b: str,
    out_col: str = "jaccard",
    tokenize: bool = True,
) -> DataFrame:
    """Token-set Jaccard between two columns (exact verify step).

    With ``tokenize=True`` the inputs are raw text; with False they are
    already token arrays (e.g. pre-shingled).
    """
    if tokenize:
        ta = F.array_distinct(tokens(text_a))
        tb = F.array_distinct(tokens(text_b))
    else:
        ta = F.array_distinct(F.col(text_a))
        tb = F.array_distinct(F.col(text_b))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return df.withColumn(
        out_col, inter / F.greatest(union, F.lit(1))
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash fingerprint per doc: per-token xxhash64, bit votes.

    For each bit position, vote +1/-1 by the token-hash bit; fingerprint
    bit = sign of the vote sum. Near-dups differ in few bits (Hamming).
    Pure higher-order functions; xxhash64 is a JVM intrinsic.
    Input spread-guarded like ``minhash_signatures`` (r16, guide §2.5):
    the 64-conditional-sum partial agg runs in the scan stage, so a
    single-split input serializes it onto one task.
    """
    from value_at_risk_spark.operators.skew import spread_small_input

    df = spread_small_input(df, id_col)
    def _mask(b: int) -> int:
        # bit 63 is the sign bit of a 64-bit long
        return (1 << b) if b < 63 else -(1 << 63)

    # One xxhash64 per (doc, token), then 64 conditional-sum aggregates in
    # a single hash-agg pass — not 64 separate folds over the token array
    # (which inlines the hash expression 64× and re-evaluates it per bit).
    tok = df.select(
        id_col, F.explode(F.array_distinct(tokens(text_col))).alias("_t")
    ).select(id_col, F.xxhash64("_t").alias("_h"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(_mask(b))) != 0, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"_v{b}") > 0, F.lit(_mask(b))).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return votes.select(id_col, fp.cast("long").alias("simhash"))


def simhash_band_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    num_bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded SimHash fingerprints, with an EXACT
    recall guarantee: a 64-bit fingerprint split into ``num_bands``
    equal bands collides on at least one band whenever
    Hamming(a, b) < num_bands (pigeonhole — d differing bits can dirty
    at most d bands). So with 4 bands, every pair within Hamming
    distance 3 is guaranteed a candidate; no hash-family luck involved
    (pinned in tests). Candidates come from a (band, band_val)
    equi-join — never all-pairs — and are optionally verified with the
    exact popcount Hamming distance (``max_hamming``).

    Output: (id_a, id_b[, hamming]) with id_a < id_b.
    """
    bits = 64
    if bits % num_bands:
        raise ValueError("simhash_band_pairs: bands must divide 64")
    r = bits // num_bands
    # unsigned right-shift so the sign bit doesn't smear; mask to r bits
    mask = (1 << r) - 1
    band_vals = F.array(
        *[
            F.shiftrightunsigned(F.col(fp_col), b * r)
            .bitwiseAND(F.lit(mask))
            .alias(f"_b{b}")
            for b in range(num_bands)
        ]
    )
    bands = fingerprints.select(
        id_col, fp_col, F.posexplode(band_vals).alias("band", "band_val")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
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
            F.col(f"a.{fp_col}").alias("_fa"),
            F.col(f"b.{fp_col}").alias("_fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    out = pairs.select("id_a", "id_b", hamming.alias("hamming"))
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation —
    (node, component) where component = the smallest node id reachable.

    The cluster step real dedup needs above candidate PAIRS: verified
    near-dup pairs form a graph whose components are the duplicate
    groups (keep min-id per component). Each round does (a) a
    neighborhood-min step — labels propagate one hop across edges —
    and (b) a POINTER-JUMPING step — each node also adopts its current
    label's label (``component[component]``), which halves label-chain
    lengths — so convergence is O(log diameter) rounds, not
    O(diameter): a 1000-node path converges in ~10 rounds where plain
    propagation needs ~1000 (caught by the stress test). Each round is
    three hash-shuffles on node id; ``localCheckpoint`` truncates
    lineage so plans don't grow with rounds. Raises if ``max_iter``
    rounds don't converge (never silently returns partial clusters).

    Edge sets at or below ``driver_threshold`` (default 100k edges,
    ~1.6 MB) solve by union-find on the driver instead: one scheduler
    round-trip costs more than the whole computation at that size,
    and a verified-duplicate graph is orders of magnitude smaller than
    its corpus — so the iterative path is reserved for graphs that are
    genuinely large (pass 0 to force it; identical output either way,
    asserted in tests). The same size-gate reasoning as the k-means
    centroid collect: only k×dim doubles / edge pairs cross the driver
    boundary, never corpus-sized data.

    ``stats`` (optional out-param) records ``{"path": "driver" |
    "distributed", "rounds": n}`` so stress tests can assert the
    O(log diameter) convergence bound instead of trusting it.
    """
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # Materialize the edge list ONCE: the caller's edges often carry an
    # expensive lineage (LSH candidates -> exact-Jaccard verify), and
    # every round below would otherwise recompute it from scratch —
    # measured 11 s -> 2.5 s on near_dedup_survivors at sf0.1.
    sym = sym.localCheckpoint(eager=True)
    if driver_threshold and sym.count() <= 2 * driver_threshold:
        import pandas as pd
        from pyspark.sql.types import StructField, StructType

        epdf = sym.toPandas()  # one Arrow transfer, ≤ 2·threshold rows
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        # ids are used as-is — any hashable, orderable type (ints,
        # strings, dates) works, same as the distributed path below
        for ea, eb in zip(epdf["a"], epdf["b"]):
            ra, rb = find(ea), find(eb)
            if ra != rb:  # union toward the smaller id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        seen = sorted(set(epdf["a"]))
        pdf = pd.DataFrame(
            {"node": seen, "component": [find(n) for n in seen]}
        )
        id_type = sym.schema["a"].dataType  # carry the caller's id type
        out_schema = StructType(
            [
                StructField("node", id_type, False),
                StructField("component", id_type, False),
            ]
        )
        if stats is not None:
            stats.update(path="driver", rounds=0)
        return edges.sparkSession.createDataFrame(pdf, schema=out_schema)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _round in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("_nbr"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce("_nbr", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component <- component's own component. The
        # pre-round label rides along as _old so convergence is read off
        # the materialized frame — no extra join-per-round.
        parent = stepped.select(
            F.col("node").alias("_p"), F.col("component").alias("_pc")
        )
        new_labels = (
            stepped.join(parent, stepped.component == parent._p, "left")
            .select(
                "node",
                "_old",
                F.least(
                    F.col("component"), F.coalesce("_pc", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "component")
        if changed == 0:
            if stats is not None:
                stats.update(path="distributed", rounds=_round + 1)
            return labels
    raise RuntimeError(
        f"connected_components: not converged after {max_iter} rounds — "
        "raise max_iter (graph diameter exceeds 2^max_iter)"
    )


def remove_duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_gram_keys: bool = False,
    materialize: bool = True,
) -> DataFrame:
    """Exact-substring duplicate removal (Lee et al., ACL 2022): every
    ``span_tokens``-token span occurring in >= 2 distinct documents
    keeps exactly ONE canonical occurrence — lexicographic min
    (doc_id, position), deterministic under any partitioning — and all
    other occurrences' token ranges are cut from their documents.

    Output: (doc_id, n_before, n_after, cleaned_text). Idempotent:
    the canonical occurrence of each formerly-duplicated span is the
    only one left, so a second pass finds no cross-document span and
    removes nothing (pytest-pinned).

    Plan: grams reduce by span text (map-side partial count+min), only
    DUPLICATED grams join back against the span stream, covered
    positions explode bounded x span_tokens, anti-join drops them, an
    ordered re-agg rebuilds text. ``hash_gram_keys=True`` is the
    100 TB form: both gram shuffles carry xxhash64 8-byte keys instead
    of ~60-byte span strings (output identical modulo a ~N^2/2^65
    collision probability — pytest pins equality on the fixture; at a
    trillion spans, pair the hash with a second seed to verify).

    ``materialize=True`` (r16, guide §2.4) eagerly localCheckpoints
    the tokenized corpus and the span stream: lazily, ``toks`` is
    referenced three times (span build, position explode, n_before)
    and ``grams`` twice (duplicate reduce, join-back), so the
    tokenize/explode subtree re-executes up to four times per run.
    The checkpointed frames are (id, token-array) and (id, pos,
    8-byte gram key) — bounded by the corpus's own token count.
    localCheckpoint, never persist: no cross-run plan-fragment cache.
    """
    from value_at_risk_spark.functions.text import tokens

    n = span_tokens
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("ts")
    )
    if materialize:
        toks = toks.localCheckpoint(eager=True)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.array_join(F.slice("ts", i, n), " ").alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,g:string>>"))
        ).alias("s"),
    ).select("doc_id", F.col("s.i").alias("i"), F.col("s.g").alias("g"))
    if hash_gram_keys:
        grams = grams.select("doc_id", "i", F.xxhash64("g").alias("g"))
    if materialize:
        grams = grams.localCheckpoint(eager=True)
    gdup = (
        grams.groupBy("g")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min(F.struct(F.col("doc_id").alias("d"), F.col("i"))).alias(
                "can"
            ),
        )
        .filter(F.col("nd") >= 2)
        .select("g", "can")
    )
    removable = (
        grams.join(gdup, "g")
        .filter(
            ~(
                (F.col("doc_id") == F.col("can.d"))
                & (F.col("i") == F.col("can.i"))
            )
        )
        .select("doc_id", "i")
    )
    covered = removable.select(
        "doc_id",
        F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("pos"),
    ).distinct()
    tokpos = toks.select(
        "doc_id", F.posexplode("ts").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = tokpos.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        toks.select("doc_id", F.size("ts").cast("long").alias("n_before"))
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def content_defined_chunks(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 8,
    modulus: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking — split each document at positions
    where the hash of a sliding window lands in a fixed residue class
    (boundary at ``i`` when ``xxhash64(substr(text, i, window)) %
    modulus == 0``), the CDC family behind storage/dataset dedup
    (Muthitacharoen et al. LBFS, SOSP'01; FastCDC, USENIX ATC'16 adds
    min/max chunk normalization — the production extension of this
    skeleton). Boundaries are CONTENT-keyed, not offset-keyed: an
    insertion early in a document shifts no later boundary, so
    unchanged regions re-chunk identically and chunk-level dedup
    keeps matching across edits — the property fixed-size blocking
    lacks.

    Everything stays JVM-side whole-stage codegen: candidate
    positions by ``sequence``, the rolling-window hash test inside a
    ``transform`` lambda (``xxhash64(substring(...))``), chunk slicing
    by ``zip_with`` over the start/end arrays, one ``posexplode`` to
    rows. Average chunk length ~= ``modulus`` chars; documents
    shorter than ``window + 1`` become one whole-text chunk.

    Plan hazard, deliberately avoided: the boundary array must only
    be referenced by ROW-level expressions, never inside a slicing
    lambda — CollapseProject inlines the expensive hash expression
    into every reference, and a per-ELEMENT reference re-hashes the
    whole document once per chunk (measured 38 s vs ~2 s at sf0.1).

    Output: (doc_id, chunk_idx, chunk) — one row per chunk in
    document order.
    """
    t = text_col
    # boundary candidates start at 2 (a boundary at 1 would mint an
    # empty first chunk) and end at len-window+1 (full window inside);
    # the first admissible doc length is window+1 (candidate i=2 with
    # the window ending exactly at the text end) — a >= window+2
    # guard would silently diverge from the SQL oracle on docs of
    # exactly window+1 chars whose window hits the residue class
    bounds = (
        f"CASE WHEN length({t}) >= {window + 1} THEN "
        f"filter(transform(sequence(2, length({t}) - {window - 1}), "
        f"i -> CASE WHEN xxhash64(substring({t}, i, {window})) "
        f"% {modulus} = 0 THEN i END), x -> x IS NOT NULL) "
        "ELSE array() END"
    )
    chunks = (
        "zip_with("
        "concat(array(1), _b), "
        f"concat(_b, array(length({t}) + 1)), "
        f"(s, e) -> substring({t}, s, e - s))"
    )
    return (
        docs.withColumn("_b", F.expr(bounds))
        .withColumn("_chunks", F.expr(chunks))
        .select(
            id_col,
            F.posexplode("_chunks").alias("chunk_idx", "chunk"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """SPARSE TF-IDF cosine near-duplicate pairs via an inverted-index
    (token-postings) self-join — the lexical sibling of the dense
    embedding-cosine path (similarity.cosine_near_dup_pairs) and the
    probabilistic MinHash path: exact cosine over the df-capped
    TF-IDF vocabulary, no hashing, no embeddings.

    Pipeline (every stage an equi-keyed shuffle — no cross join, no
    broadcast of corpus-sized sides):

    1. per-(doc, token) term frequencies (one explode + hash-agg);
    2. document frequencies; tokens with ``df > df_cap`` are PRUNED —
       the standard postings-explosion guard: a token seen in d docs
       contributes O(d²) candidate pairs, so ubiquitous tokens (stop
       words, boilerplate) would quadratically dominate while carrying
       near-zero IDF weight. The contract is exact cosine over the
       REMAINING vocabulary (the df cap is part of the operator's
       semantics, replayed identically by the SQL oracle);
    3. weights w = tf · (ln((N+1)/(df+1)) + 1) (smoothed IDF), norms
       over the same capped vocabulary;
    4. postings self-join on the token (per-token pair fan-out ≤
       df_cap²), one hash-agg summing w_a·w_b per (id_a < id_b) pair;
    5. cosine = dot/(‖a‖·‖b‖), rounded; the threshold filter applies
       to the ROUNDED value in both engines.

    At 100 TB: per-token work is bounded by the cap, the pair agg
    shuffles on the pair key, and nothing corpus-sized reaches the
    driver (N alone is collected). Output: (id_a, id_b, cosine).

    SCALE CONTRACT (r16, VERDICT): candidate volume is
    Σ_t min(df_t, df_cap)² ≤ |vocab|·df_cap² — LINEAR in the corpus
    only when ``df_cap`` is a CONSTANT (the default 50; vocabulary
    growth is sublinear in docs). A cap set proportionally to N (the
    gate row's 2N/5 — fixture enrichment so a 500-doc corpus keeps
    enough shared vocabulary to emit pairs) makes the worst case
    O(N²): one token sitting at the cap contributes ~0.16·N² pairs.
    Proportional caps are a small-corpus tool; the 10×-docs growth
    run in PERF.md (Round 16) records the constant-cap wall.
    """
    tf = tfidf_postings(docs, id_col=id_col, text_col=text_col)
    n_docs = docs.count()
    return tfidf_pairs_from_postings(
        tf,
        n_docs,
        threshold=threshold,
        df_cap=df_cap,
        round_to=round_to,
    )


def tfidf_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stage 1 of the sparse near-dup pipeline: per-(doc, token) term
    frequencies — one explode + hash-agg, the only stage that touches
    raw text. Split out (r16) so the STREAMING maintenance loop can
    pay tokenization once per arriving batch and accumulate postings
    additively (streaming/tfidf.py); the batch operator composes this
    with tfidf_pairs_from_postings unchanged.

    ZERO-TOKEN docs emit one sentinel row (_t NULL, _tf 0) so a
    consumer recovering n_docs from the postings (the streaming sink's
    only source of truth for the IDF's N) counts EVERY document the
    batch operator's docs.count() would — without the sentinel, an
    empty document silently shrinks N and every weight drifts.
    Sentinels are inert downstream: NULL tokens never match the
    df/weight equi-joins."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        F.explode(tokens(text_col)).alias("_t"),
    )
    tf = toks.groupBy("_id", "_t").agg(
        F.count(F.lit(1)).cast("double").alias("_tf")
    )
    sentinels = (
        docs.filter(F.size(tokens(text_col)) == 0)
        .select(
            F.col(id_col).cast("long").alias("_id"),
            F.lit(None).cast("string").alias("_t"),
            F.lit(0.0).alias("_tf"),
        )
    )
    return tf.unionByName(sentinels)


def tfidf_pairs_from_postings(
    tf: DataFrame,
    n_docs: int,
    threshold: float = 0.5,
    df_cap: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """Stage 2: df → capped vocabulary → smoothed-IDF weights → norms
    → postings self-join → rounded cosine ≥ threshold (contract and
    bounds per tfidf_cosine_pairs). GLOBAL-IDF exactness means every
    weight depends on (n_docs, df), so incremental maintenance re-runs
    THIS stage over the accumulated postings each refresh — the
    candidate volume stays Σ_t min(df_t, cap)²; only tokenization is
    per-batch work."""
    dfreq = (
        tf.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= df_cap)
    )
    w = tf.join(dfreq, "_t").select(
        "_id",
        "_t",
        (
            F.col("_tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1)) + 1.0)
        ).alias("_w"),
    )
    nrm = w.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_n")
    )
    a = w.select(
        F.col("_id").alias("id_a"), "_t", F.col("_w").alias("_wa")
    )
    b = w.select(
        F.col("_id").alias("id_b"), "_t", F.col("_w").alias("_wb")
    )
    dot = (
        a.join(b, "_t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_d"))
    )
    na = nrm.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    nb = nrm.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    cos = (
        F.round(F.col("_d") / (F.col("_na") * F.col("_nb")), round_to)
        + F.lit(0.0)
    )
    return (
        dot.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-duplicate pairs via a shingle
    postings self-join — the set-overlap leg of the near-dup family
    (MinHash approximates exactly this quantity; here it is computed
    exactly over the df-capped shingle vocabulary, the deterministic
    ground truth MinHash's banding recall is measured against).

    Pipeline (every stage an equi-keyed shuffle, mirror of
    tfidf_cosine_pairs with sets instead of weights):

    1. per-doc DISTINCT word n-gram shingles (tokens → windowed
       concat → distinct);
    2. shingles with ``df > df_cap`` PRUNED — the same postings-
       explosion guard: a shingle in d docs contributes O(d²)
       candidate pairs; boilerplate shingles carry the least identity
       signal. The contract is exact Jaccard over the REMAINING
       shingle vocabulary (capped per-doc set sizes enter the union);
    3. |A∩B| per (id_a < id_b) from the postings join, one hash-agg;
    4. jaccard = inter / (|A_c| + |B_c| − inter), rounded; the
       threshold applies to the ROUNDED value in both engines.

    Candidate volume Σ_g min(df_g, df_cap)² — linear in the corpus at
    a CONSTANT cap (the same scale contract as the TF-IDF leg). Docs
    with fewer than ``n`` tokens have an empty shingle set and join
    nothing. Output: (id_a, id_b, jaccard)."""
    # token array LET-BOUND through a one-element-array transform
    # (r16, the ``shingles`` fix): referencing tokens(text) directly
    # inside the per-position lambda re-evaluates the regex split per
    # shingle — O(tokens²) per doc. Values identical (the when/
    # otherwise short-doc sentinel moves inside the bound lambda).
    sh_arr = F.flatten(
        F.transform(
            F.array(tokens(text_col)),
            lambda t: F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - n + 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i, n)),
                ),
            ).otherwise(F.array(F.lit(None).cast("string"))),
        )
    )
    from value_at_risk_spark.operators.skew import spread_small_input

    sh = (
        spread_small_input(docs, id_col)
        .select(
            F.col(id_col).cast("long").alias("_id"),
            F.explode(sh_arr).alias("_g"),
        )
        .filter(F.col("_g").isNotNull())
        .distinct()
    )
    dfreq = (
        sh.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= df_cap)
    )
    capped = sh.join(dfreq.select("_g"), "_g")
    # Three consumers (sizes, both postings sides) would each re-derive
    # the tokenize+shingle+distinct+df-prune lineage; one eager local
    # checkpoint of the bounded capped postings (Σ min(df, cap) rows of
    # (gram, id)) executes it once (guide §2.4, batch-1 pattern).
    capped = capped.localCheckpoint(eager=True)
    sizes = capped.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = capped.select(F.col("_id").alias("id_a"), "_g")
    b = capped.select(F.col("_id").alias("id_b"), "_g")
    inter = (
        a.join(b, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb"))
    jac = (
        F.round(
            F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")),
            round_to,
        )
        + F.lit(0.0)
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )
