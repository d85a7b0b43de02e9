"""Distance kernels as native Catalyst expressions.

The reference computes distances with faiss SIMD kernels
(fvec_L2sqr / fvec_inner_product, used from gamma_index_flat.cc:73-77).
The Spark-native equivalent keeps the whole computation JVM-side inside
whole-stage codegen: ``zip_with`` + ``aggregate`` over the float array,
accumulating in double. No Python UDF is involved, so the expression
vectorizes across rows and survives a 100× scale-up untouched.

All kernels cast inputs to ``array<double>`` so results are
bit-reproducible against a double-precision oracle (sequential left-fold
sum, same order as DuckDB's list_distance / list_inner_product).

Each kernel is written as SQL text and built with ONE ``F.expr``: the
lambdas are SQL lambdas and a query vector is one literal node
(:func:`array_lit`), so building a kernel costs a few Python→JVM calls
whatever the dimension. An operand is a column name, a sequence of
numbers (a literal) or a ``Column``; a ``Column`` (an arbitrary
expression, which has no SQL text) is bound to a lambda parameter of
the same text instead (:func:`_kernel`).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F

from vearch_spark.filters import sql_ident

Operand = Column | str | Sequence[float]


def _literal_sql(values: Sequence[float], elem: str = "double") -> str:
    """One literal node of type ``array<elem>``: the values joined into
    one string and cast. ``repr(float)`` round-trips exactly through
    the string-to-double cast, NaN and ±inf included (``nan``, ``inf``
    and ``-inf`` are the cast's special literals), so the folded
    literal holds the same doubles bit for bit."""
    conv = float if elem == "double" else int
    text = ",".join(repr(conv(v)) for v in values)
    if not text:
        return f"cast(array() as array<{elem}>)"
    return f"cast(split('{text}', ',') as array<{elem}>)"


def array_lit(values: Sequence[float]) -> Column:
    """A literal array<double> column from a Python sequence."""
    return F.expr(_literal_sql(values))


def _kernel(body: Callable[..., str], *operands: Operand, elem: str = "double") -> Column:
    """The expression ``body(*texts)``, where each operand's text is an
    ``array<elem>``. Names and literals are written into the text, so
    the kernel is one ``F.expr``. ``Column`` operands are bound to the
    parameters of a lambda over one-element arrays of them —
    ``element_at(zip_with(array(a), array(b), (o0, o1) -> body), 1)``
    — which evaluates each once per row and yields the same value."""
    texts, bound = [], []
    for v in operands:
        if isinstance(v, Column):
            texts.append(f"cast(o{len(bound)} as array<{elem}>)")
            bound.append(v)
        elif isinstance(v, str):
            texts.append(f"cast({sql_ident(v)} as array<{elem}>)")
        else:
            texts.append(_literal_sql(v, elem))
    sql = body(*texts)
    if not bound:
        return F.expr(sql)
    fn, params = ("transform", "o0") if len(bound) == 1 else ("zip_with", "(o0, o1)")
    arrays = [F.array(c) for c in bound]
    applied = F.call_function(fn, *arrays, F.expr(f"{params} -> {sql}"))
    return F.call_function("element_at", applied, F.lit(1))


def _fold(a: str, b: str, term: str, zero: str = "0.0D") -> str:
    """Σ term(x, y) over the element pairs of ``a`` and ``b``, as a
    sequential left fold."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), {zero}, (acc, t) -> acc + t)"


def _l2_squared(a: str, b: str) -> str:
    return _fold(a, b, "(x - y) * (x - y)")


def _inner_product(a: str, b: str) -> str:
    return _fold(a, b, "x * y")


def _norm(a: str) -> str:
    return f"sqrt({_inner_product(a, a)})"


def _cosine(a: str, b: str) -> str:
    return f"try_divide({_inner_product(a, b)}, {_norm(a)} * {_norm(b)})"


def _normalize(a: str) -> str:
    # the norm is a lambda ARGUMENT (array_repeat), not captured by the
    # lambda body: interpreted higher-order lambdas re-evaluate captured
    # subexpressions per ELEMENT, turning the O(d) norm fold into
    # O(d²)/row (measured 18× slower at dim=128 over 1M rows). The IS
    # NOT NULL guard adds one more fold per row — still O(d).
    n = _norm(a)
    return (
        f"CASE WHEN {n} IS NOT NULL THEN zip_with({a}, array_repeat({n}, size({a})), "
        "(x, nn) -> coalesce(try_divide(x, nn), 0.0D)) END"
    )


def l2_squared(vec: Operand, query: Operand) -> Column:
    """Σ (x-y)^2 — the reference's L2 score *without* sqrt: gamma scores
    L2 as squared distance unless the request sets ``l2_sqrt``
    (search_doc.go:78, vector_manager.cc:1117-1129)."""
    return _kernel(_l2_squared, vec, query)


def l2_distance(vec: Operand, query: Operand) -> Column:
    """sqrt(Σ (x-y)^2) — the ``l2_sqrt: true`` variant."""
    return _kernel(lambda a, b: f"sqrt({_l2_squared(a, b)})", vec, query)


def inner_product(vec: Operand, query: Operand) -> Column:
    """Σ x·y (metric InnerProduct; higher is better)."""
    return _kernel(_inner_product, vec, query)


def vector_norm(vec: Operand) -> Column:
    return _kernel(_norm, vec)


def cosine_similarity(vec: Operand, query: Operand) -> Column:
    """NULL for a zero-norm side (ANSI-safe)."""
    return _kernel(_cosine, vec, query)


def l2_normalize(vec: Operand) -> Column:
    """L2-normalize a vector column (reference normalizes docs at ingest
    and queries on the router when ``format: normalization`` —
    doc_parse.go:487-515, client.go:603-658). A zero vector stays zero;
    a NULL vector or a vector containing a NULL element yields NULL —
    the norm fold is NULL then, and coalescing to 0.0 would silently
    turn corrupt input into a legitimate-looking zero vector.
    """
    return _kernel(_normalize, vec)


def l2_normalize_fast(vec: Column | str) -> Column:
    """Arrow-batched L2 normalization for BULK paths (wide vector
    columns at ingest): numpy per-row norm, measured ~15× faster than
    the interpreted expression at dim=128 over 1M rows (43 s → 3 s).
    The norm accumulates in float64 with numpy's pairwise summation —
    within a few ulps of :func:`l2_normalize`'s sequential fold; use
    the expression form where an external oracle must reproduce the
    fold bit-for-bit (query literals, oracle-checked paths). NULL rows
    and rows with NULL elements yield NULL (matching
    :func:`l2_normalize`); zero vectors stay zero."""
    from pyspark.sql.pandas.functions import pandas_udf

    col = F.col(vec) if isinstance(vec, str) else vec

    @pandas_udf("array<double>")
    def _norm(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            if np.isnan(x).any():  # NULL element → NULL row, not NaNs
                out.append(None)
                continue
            n = np.linalg.norm(x)
            out.append(x / n if n > 0 else x)
        return pd.Series(out)

    return _norm(col.cast("array<double>"))


def hamming_distance(codes: Operand, query: Operand) -> Column:
    """Hamming distance over uint8 code arrays (BINARYIVF metric,
    gamma_index_binary_ivf.cc). ``bit_count(xor)`` summed JVM-side."""
    return _kernel(
        lambda a, b: _fold(a, b, "bit_count(x ^ y)", zero="0"), codes, query, elem="int"
    )


def score_expr(
    vec: Operand,
    query: Operand,
    metric: str = "L2",
    l2_sqrt: bool = False,
    normalize_query: bool = False,
) -> Column:
    """The ``_score`` column for a search (response.cc:280-281).

    L2 → squared distance (sqrt only when ``l2_sqrt``); IP → dot
    product. Ordering: L2 ascending, IP descending
    (vector_manager.cc:1117-1129). ``normalize_query`` scores against
    :func:`l2_normalize` of the query, inside the same expression.
    """
    from vearch_spark.schema import Metric

    m = Metric.parse(metric) if isinstance(metric, str) else metric

    def body(v: str, q: str) -> str:
        if normalize_query:
            q = _normalize(q)
        if m is Metric.L2:
            return f"sqrt({_l2_squared(v, q)})" if l2_sqrt else _l2_squared(v, q)
        return _inner_product(v, q)

    return _kernel(body, vec, query)
