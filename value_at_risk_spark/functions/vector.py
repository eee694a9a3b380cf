"""Array-vector math as native higher-order functions (SURVEY §2.8 F3, §1.4).

The reference stores simulation vectors as ``VectorUDT`` and scales them
with a Python UDF (``weighted_returns``,
``/root/reference/utils/var_udf.py:39-41``) and sums them with MLlib's
``Summarizer.sum`` (``04_var_aggregation.py:35-41``). This engine keeps
plain ``array<double>`` columns and does vector math with ``transform``
/ ``zip_with`` / ``aggregate`` — Catalyst-optimizable, SQL-expressible,
oracle-checkable, and with no VectorUDT serialization overhead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def scale_vector(vec: Column | str, scalar: Column | str) -> Column:
    """Element-wise vec·w — native form of weighted_returns (var_udf.py:39-41)."""
    vec, scalar = _c(vec), _c(scalar)
    return F.transform(vec, lambda x: x * scalar)


def vector_add(a: Column | str, b: Column | str) -> Column:
    """Element-wise sum of two arrays (the combine step of A5 vector sums)."""
    return F.zip_with(_c(a), _c(b), lambda x, y: x + y)


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ in double precision (cast before multiply for engine
    parity), as one ``aggregate(zip_with(...))`` fold, left to right
    from 0.0.

    The fold is the only form: an unrolled ``element_at`` chain wins
    only for narrow arrays, and the one narrow caller, the 21-term VaR
    predictor, has its own unrolled form (``predict_expanded``). For
    dense vector math (cosine top-k, near-dup, cell assignment at many
    cells) the engine uses the Arrow/BLAS kernels in
    ``operators/similarity``, not a per-pair expression.
    """
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vector_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


DIM_METADATA_KEY = "dim"


def resolve_dim(df, vec_col: str, dim: int | None = None, caller: str = "") -> int:
    """Vector dimensionality without a Spark job wherever possible —
    the resolution order minhash's ``num_hashes`` pioneered
    (operators/dedup.py:107): the explicit argument wins, then the
    ``dim`` column metadata stamped where the vector column was
    created, and only a foreign frame with neither pays a ``.first()``
    probe job (one extra Spark job per training/build call — the class
    of hidden driver actions the round-8 audit flagged).

    CONTRACT: metadata rides the SCHEMA, not the data. A frame whose
    vectors were sliced, concatenated, or rebuilt after stamping
    carries a stale dim that silently mis-sizes downstream plans —
    such transforms must re-stamp (``df.withMetadata(col, {"dim": d})``)
    or pass ``dim`` explicitly (explicit always wins).
    """
    if dim is not None:
        return int(dim)
    if vec_col in df.columns:
        md = df.schema[vec_col].metadata
        if md and md.get(DIM_METADATA_KEY):
            return int(md[DIM_METADATA_KEY])
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None:
        raise ValueError(
            f"{caller or 'resolve_dim'}: empty input — pass dim "
            "explicitly to build the plan without data"
        )
    return int(row[0])


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (‖a‖·‖b‖) as a per-row expression (candidate re-rank
    after an equi-join: LSH, IVF, PQ).

    ``try_divide``: a zero vector has no direction — its cosine is
    NULL (which sorts last in rankings and fails threshold filters)
    rather than an ANSI DIVIDE_BY_ZERO error. The Arrow kernels in
    ``operators/similarity`` keep the same rule."""
    return F.try_divide(dot_product(a, b), vector_norm(a) * vector_norm(b))


def squared_distance(a: Column | str, b: Column | str) -> Column:
    """Σ (aᵢ−bᵢ)² in double precision (left-to-right fold)."""
    a, b = _c(a), _c(b)
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def jl_projection_matrix(
    in_dim: int, out_dim: int, seed: int = 123
) -> list[list[float]]:
    """The Johnson–Lindenstrauss random projection matrix (Gaussian
    entries / sqrt(out_dim)), seeded and ROUNDED to 6 decimals so the
    exact same literal matrix can be embedded in both the Spark plan
    and an oracle's VALUES table — the projection becomes a pure,
    engine-replayable expression."""
    import numpy as np

    rng = np.random.default_rng(seed)
    R = rng.standard_normal((out_dim, in_dim)) / float(np.sqrt(out_dim))
    return [[round(float(x), 6) for x in row] for row in R]


def _col_sql(name: str) -> str:
    """SQL text of a column reference, read the way ``F.col`` reads
    the name: dots split a struct path (``"s.emb"`` is field ``emb``
    of struct ``s``), a part wrapped in backticks is taken literally
    (two backticks inside it stand for one), and every part is
    re-quoted with its inner backticks doubled. A backtick inside an
    unquoted part is a literal character: ``"a`b"`` names the column
    a`b, which ``F.col`` would reject. Text builders render their
    operand through this one helper, so a name resolves in a parsed
    ``F.expr`` exactly as it does through ``F.col``."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name, got {type(name).__name__}: project "
            "the Column under a name first (df.select(col.alias(name)))"
        )
    parts: list[str] = []
    cur: list[str] = []
    i, quoted = 0, False
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(
                        f"column name {name!r}: a quoted part must end "
                        "at a dot or at the end of the name"
                    )
        elif ch == "`" and not cur:
            quoted = True
        elif ch == ".":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"column name {name!r}: unclosed backtick")
    parts.append("".join(cur))
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _name_sql(name: str) -> str:
    """SQL text of an output name (an ``AS`` target): the whole string
    is one identifier, as ``Column.alias`` takes it, with inner
    backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _lit_double_sql(x) -> str:
    """A python float as a Spark SQL DOUBLE literal. ``repr`` emits the
    shortest round-trip decimal string and the SQL lexer's D-suffixed
    literal parses with Java's Double.parseDouble (nearest-double) —
    so the parsed constant is BIT-IDENTICAL to ``F.lit(float(x))``.

    Non-finite values: ``repr`` would emit ``nanD`` / ``infD``, which
    the SQL lexer rejects — emit the CAST-from-string form instead,
    which parses to the same double ``F.lit`` builds."""
    v = float(x)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def _array1_sql(row) -> str:
    """SQL text of a 1-D float vector as an array literal (bit-exact
    ``_lit_double_sql`` round-trip)."""
    return "array({})".format(", ".join(_lit_double_sql(x) for x in row))


def _array2_sql(mat) -> str:
    """SQL text of a 2-D float matrix as nested array literals."""
    return "array({})".format(", ".join(_array1_sql(row) for row in mat))


def jl_project(vec: str, matrix: list[list[float]]) -> Column:
    """Project the column ``vec`` through a literal JL matrix:
    out[i] = Rᵢ · v, one HOF dot product per output dimension (the
    same fold as ``dot_product``, repeated per output row, the same
    shape as nearest_cell_expr).
    Entirely plan-side: no shuffle, no Python, streaming-safe.

    The out_dim x in_dim literal tree is rendered as ONE SQL string
    parsed JVM-side: building it through the Column API cost one py4j
    round-trip per literal (measured ~2.4 s of pure driver time at
    32x64). The rendered fold is byte-for-byte the text form of
    ``dot_product``'s HOF (same cast, same left fold, 0.0D zero).
    ``vec`` is a column name read as ``F.col`` reads it (see
    ``_col_sql``); project a computed Column under a name first."""
    dots = ", ".join(
        "aggregate(zip_with({v}, {arr}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, x) -> acc + x)".format(v=_col_sql(vec), arr=_array1_sql(row))
        for row in matrix
    )
    return F.expr(f"array({dots})")
