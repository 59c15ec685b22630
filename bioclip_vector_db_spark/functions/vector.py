"""Columnar vector math — Catalyst higher-order functions, no Python UDFs.

The reference computes inner products inside FAISS ``IndexFlatIP``
(reference: src/bioclip_vector_db/query/neighborhood_server.py:163-170) over
L2-normalized embeddings (vector_db.py:112-114), so inner product == cosine
similarity. Here the same kernels are Catalyst expressions (``zip_with`` +
``aggregate``) that run inside whole-stage codegen — JVM-side, no
serialization boundary, and they scale with the scan.

Numeric-parity convention (used by every declared query and its DuckDB
oracle): compute in DOUBLE, round to 9 decimals BEFORE any ranking, and
tiebreak ranks by id — so Spark and the oracle order identically despite
engine-level floating-point differences.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal places for cross-engine float parity (see module docstring).
PARITY_SCALE = 9


def sql_array(values) -> str:
    """The ``array(...)`` SQL literal of ``values``: the one renderer
    behind ``lit_array`` and the plans that embed a vector in a SQL
    string.

    Supports the literal element types used here: float (emitted as
    repr + 'D' so the parser yields DOUBLE exactly), bool, int, and str
    (single quotes escaped by doubling, backslashes doubled — Spark SQL's
    default parser treats backslash as a C-style escape inside string
    literals, so an unescaped one would parse to a DIFFERENT value than
    F.lit; r16 ADVICE). Floats must be finite: SQL has no inf/nan double
    literal. Empty input raises: the element type of F.expr("array()")
    differs from any typed per-element form (r16 ADVICE) and no call
    site needs it.
    """
    parts = []
    for v in values:
        if isinstance(v, bool):
            parts.append("true" if v else "false")
        elif isinstance(v, float):
            if v != v or v in (float("inf"), float("-inf")):
                raise ValueError("lit_array: non-finite float has no SQL literal")
            parts.append(repr(v) + "D")
        elif isinstance(v, int):
            parts.append(str(v))
        elif isinstance(v, str):
            parts.append("'" + v.replace("\\", "\\\\").replace("'", "''") + "'")
        else:
            raise TypeError(f"lit_array: unsupported element type {type(v)!r}")
    if not parts:
        raise ValueError(
            "lit_array: empty input (array() would carry ARRAY<NULL>/"
            "ARRAY<STRING> depending on version, not the per-element type)"
        )
    return "array(" + ",".join(parts) + ")"


def lit_array(values) -> Column:
    """Array-literal Column in ONE driver round trip.

    ``F.array(*[F.lit(v) for v in values])`` costs one py4j call per
    element — ~1.4 ms each, so a 64-element plane costs ~90 ms of pure
    driver-side Column construction and operators that build dozens of
    planes per invocation (rp_project, simhash_signature, band keys)
    spent SECONDS per query call in py4j before any Spark job ran
    (measured: knn_rp_rescore 2.6 s construction). Parsing one
    ``array(...)`` SQL string (``sql_array``) builds the identical
    expression tree — same schema including containsNull=false,
    byte-identical optimized plan (gated in tests/test_lit_array.py) — in
    a single call.
    """
    return F.expr(sql_array(values))


def dot_product(
    a: "Column | str", b: "Column | str", *, dim: "int | None" = None
) -> Column:
    """Inner product of two ARRAY<numeric> columns, accumulated in DOUBLE.

    A sequential fold, like the reference's flat-IP scan. Higher-order
    function expressions (``zip_with``/``aggregate``) are interpreted per
    element, never codegen'd, and the zip allocates an intermediate array
    per row — so callers on a measured-hot pairwise path may pass ``dim``
    (the expected array length) to engage a straight-line expression:

        size(a)==dim AND size(b)==dim  ->  ((0.0 + x0) + x1) + ... + x63
        anything else                  ->  the fold, unchanged

    with x_i = CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE). The explicit
    sum is left-associated in index order — the SAME addition order and
    element casts as the fold, so the float result is bit-identical (A/B'd
    over every multiprobe candidate pair at sf0.1: 0 differing rounded
    values); when either length differs from ``dim`` both forms agree too
    (out-of-range getItem and zip_with's null padding each null the total),
    so a wrong hint costs only the branch, never the value. Default stays
    the fold: the explicit form multiplies the expression-tree size by
    ~dim, which is pure overhead in plans where the dot product sits inside
    another higher-order lambda or runs over a handful of rows.
    """
    if dim is None:
        ac = F.col(a) if isinstance(a, str) else a
        bc = F.col(b) if isinstance(b, str) else b
        return F.aggregate(
            F.zip_with(
                ac.cast("array<double>"), bc.cast("array<double>"), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    if not (isinstance(a, str) and isinstance(b, str)):
        # The straight-line form is ~4*dim expression nodes; built as
        # Column ops that is one py4j round trip PER NODE (~0.3 s at
        # dim=64 — measured to cancel the execution win), so the fast
        # path is expr-string-only, like lit_array.
        raise TypeError("dot_product: the dim fast path needs column NAMES")
    if not 1 <= int(dim) <= 256:
        raise ValueError(f"dot_product: dim hint {dim!r} out of range [1, 256]")
    qa, qb = f"`{a}`", f"`{b}`"
    if "`" in a or "`" in b:
        raise ValueError("dot_product: column names must not contain backticks")
    terms = " + ".join(
        f"(CAST({qa}[{i}] AS DOUBLE) * CAST({qb}[{i}] AS DOUBLE))"
        for i in range(int(dim))
    )
    fold_sql = (
        f"aggregate(zip_with(CAST({qa} AS ARRAY<DOUBLE>), "
        f"CAST({qb} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return F.expr(
        f"CASE WHEN size({qa}) = {int(dim)} AND size({qb}) = {int(dim)} "
        f"THEN (CAST(0.0 AS DOUBLE) + {terms}) ELSE {fold_sql} END"
    )


def cosine_distance(a: Column, b: Column, *, rounded: bool = True) -> Column:
    """``1 - cosine_similarity`` for L2-normalized vectors; ascending = closer.

    This is the Chroma-path semantics the reference intends
    (storage_factory.py:33 uses ip space where Chroma returns ``1 - ip``);
    SURVEY.md section 1.4 documents the deviation from the literal FAISS-path
    sort order.
    """
    d = F.lit(1.0) - dot_product(a, b)
    return F.round(d, PARITY_SCALE) if rounded else d


def cosine_distance_sql(a: str, b: str) -> str:
    """``cosine_distance(a, b)`` as a SQL string over two SQL array
    expressions: the same expression tree (lambda variables named like
    the Column form's), parsed in one call instead of built from a dozen
    py4j Column calls."""
    return (
        f"round(1.0D - aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D, (x, y) -> x + y), "
        f"{PARITY_SCALE})"
    )


def l2_norm(v: Column) -> Column:
    """Euclidean norm of an ARRAY<numeric> column."""
    return F.sqrt(
        F.aggregate(
            F.transform(v.cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_normalize(v: Column) -> Column:
    """Scale a vector to unit norm (reference: vector_db.py:112-114
    ``normalize=True`` on every embedding). Zero vectors pass through
    unchanged instead of dividing by zero."""
    vd = v.cast("array<double>")
    norm = l2_norm(v)
    return F.when(norm == 0.0, vd).otherwise(F.transform(vd, lambda x: x / norm))
