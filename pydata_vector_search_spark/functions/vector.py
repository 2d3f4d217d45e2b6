"""Vector distances over ``array<float>`` columns.

The reference gets cosine distance from the Lance index inside the
`hudi_vector_search` TVF, emitting a `_distance` pseudo-column with
score = 1 - _distance (demo.ipynb c11:8,10, raw L724-728). Here the metric
has three spellings, equal after in-query rounding (like the DuckDB oracle):

* **Arrow kernel** (``distance_arrow``) — the scoring path of every search:
  one numpy kernel per Arrow batch, the query vector a closure parameter,
  so a fresh query compiles nothing. Exact top-10 with a fresh query over
  3072×384 rows takes 0.44 s at ``local[4]`` on a 4-core VM, against
  1.92 s for the unrolled form (0.89 s when its codegen cache hits).
* **Unrolled scalar form** (``*_lit`` / ``*_dim``) — a balanced tree of
  ``GetArrayItem``/multiply/add expressions inside whole-stage codegen for
  callers composing a distance into a larger expression (a scored
  projection, a hyperplane sign bit); Janino compiles each new literal.
* **HOF form** (``dot_product``/``l2_distance``/...) — dimension-agnostic
  semantic reference for column-vs-column use where the dimension is
  unknown; an explicit left-to-right double fold, evaluated interpreted.

Catalyst pushes filters *below* each form (the pre-filter hybrid search
the reference explicitly lacks, demo.ipynb c13:1-4). At 100 TB these
expressions scan embarrassingly parallel over partitions — no shuffle, no
driver involvement; the only cost is bytes read, which column pruning keeps
proportional to the embedding column itself.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, functions as F


def _to_double(x: Column) -> Column:
    return x.cast("double")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double-precision fold of elementwise products."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    prod = F.zip_with(a, b, lambda x, y: _to_double(x) * _to_double(y))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: _to_double(x) * _to_double(x))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    d = F.zip_with(a, b, lambda x, y: (_to_double(x) - _to_double(y)) ** 2)
    return F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """Reference metric: `_distance` in [0, 2], score = 1 - _distance."""
    return F.lit(1.0) - cosine_similarity(a, b)


_METRICS = {
    "cosine": cosine_distance,
    "l2": l2_distance,
    "dot": lambda a, b: -dot_product(a, b),  # larger dot = closer → negate
}


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    try:
        return _METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")


# --------------------------------------------------------------------------
# unrolled (codegen-path) forms
# --------------------------------------------------------------------------
# Mathematically identical to the HOF folds above; last-ulp bits may differ
# (different association order), which every declared query already absorbs
# by rounding in-query — the same tolerance that makes the DuckDB oracle
# comparable at all. Two codegen facts drive the term shapes below, both
# measured at 1M rows × 64 dims on this container:
#
# 1. BALANCED add tree, not a left-deep chain. A 64-deep nested Add
#    generates one serial dependency chain in a single expression; pairwise
#    reduction halves the depth to 6 and lets the JIT pipeline the adds
#    (left-deep cosine 5.7s → balanced 0.5s).
# 2. Every GetArrayItem must appear in SOME repeated subexpression.
#    Codegen's subexpression elimination promotes repeated subtrees to
#    statement-level locals, which the method splitter can then cut into
#    JIT-compilable pieces; 64 single-use getItems inline into one huge
#    method that HotSpot refuses to compile (plain dot 9.5s, l2-via-pow
#    11.7s → with a repeated term 0.4-0.5s). cosine and norm repeat
#    elements naturally (a[i] in dot and norm; a[i]*a[i]); standalone dot
#    uses (m+m)/2 — exact for every double below max/2, inf/NaN/-0.0
#    preserving — and l2 spells (d*d), not pow(d,2), so d repeats.

def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _balanced_sum(terms: list[Column]) -> Column:
    while len(terms) > 1:
        terms = [terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
                 for i in range(0, len(terms), 2)]
    return terms[0]


def _elem(a: Column, i: int) -> Column:
    return a.getItem(i).cast("double")


# --- SQL-text spellings of the unrolled forms ------------------------------
# Building a dim-64 unrolled tree out of Column operator calls costs
# hundreds of driver Py4J round-trips (~1.5 s measured at dim=64) — every
# time the plan is BUILT, before any data moves. Rendering the identical
# expression as ONE SQL string and letting the JVM parse it is ~50 ms.
# The parsed tree is node-for-node the tree the Column operators build
# (same casts, literals, associativity), so results are bit-identical —
# pinned in tests/test_vector_functions.py. String inputs take this path;
# Column inputs (no safe way to render arbitrary Columns to SQL) keep the
# operator-built tree.

def _fmt_lit(v: float) -> str:
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"non-finite query-vector component: {v}")
    return f"{v!r}D"          # repr round-trips doubles exactly


def _balanced_sum_sql(terms: list[str]) -> str:
    while len(terms) > 1:
        terms = [f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms)
                 else terms[i] for i in range(0, len(terms), 2)]
    return terms[0]


def _elem_sql(name: str, i: int) -> str:
    return f"CAST(`{name}`[{i}] AS DOUBLE)"


def _dot_sql(name: str, q: Sequence[float], baited: bool) -> str:
    def term(i: int) -> str:
        m = f"({_elem_sql(name, i)} * {_fmt_lit(q[i])})"
        return f"(({m} + {m}) / 2.0D)" if baited else m
    return _balanced_sum_sql([term(i) for i in range(len(q))])


def _norm_sql(name: str, dim: int) -> str:
    sq = [f"({_elem_sql(name, i)} * {_elem_sql(name, i)})"
          for i in range(dim)]
    return f"SQRT({_balanced_sum_sql(sq)})"


def dot_product_lit(a: Column | str, q: Sequence[float]) -> Column:
    """Dot product against a LITERAL query vector, unrolled to scalar
    multiply/add codegen expressions (exact search uses distance_arrow)."""
    if isinstance(a, str):
        return F.expr(_dot_sql(a, q, baited=True))
    a = _c(a)

    def term(i: int) -> Column:
        m = _elem(a, i) * float(q[i])
        return (m + m) / 2.0            # repeated subtree → CSE (see header)

    return _balanced_sum([term(i) for i in range(len(q))])


def _dot_terms(a: Column, q: Sequence[float]) -> Column:
    # un-baited dot for composition with a norm over the same elements —
    # the norm's a[i]*a[i] already repeats every getItem
    return _balanced_sum([_elem(a, i) * float(q[i]) for i in range(len(q))])


def l2_norm_dim(a: Column | str, dim: int) -> Column:
    a = _c(a)
    return F.sqrt(_balanced_sum([_elem(a, i) * _elem(a, i)
                                 for i in range(dim)]))


def _py_norm(q: Sequence[float]) -> float:
    acc = 0.0
    for v in q:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def cosine_similarity_lit(a: Column | str, q: Sequence[float]) -> Column:
    if isinstance(a, str):
        return F.expr(f"({_dot_sql(a, q, baited=False)} / "
                      f"({_norm_sql(a, len(q))} * {_fmt_lit(_py_norm(q))}))")
    a = _c(a)
    return _dot_terms(a, q) / (l2_norm_dim(a, len(q)) * _py_norm(q))


def cosine_distance_lit(a: Column | str, q: Sequence[float]) -> Column:
    if isinstance(a, str):
        return F.expr(
            f"(1.0D - ({_dot_sql(a, q, baited=False)} / "
            f"({_norm_sql(a, len(q))} * {_fmt_lit(_py_norm(q))})))")
    return F.lit(1.0) - cosine_similarity_lit(a, q)


def l2_distance_lit(a: Column | str, q: Sequence[float]) -> Column:
    if isinstance(a, str):
        def term_sql(i: int) -> str:
            d = f"({_elem_sql(a, i)} - {_fmt_lit(q[i])})"
            return f"({d} * {d})"
        return F.expr(
            f"SQRT({_balanced_sum_sql([term_sql(i) for i in range(len(q))])})")
    a = _c(a)

    def term(i: int) -> Column:
        d = _elem(a, i) - float(q[i])
        return d * d                    # d repeats → CSE; pow(d,2) doesn't

    return F.sqrt(_balanced_sum([term(i) for i in range(len(q))]))


def dot_product_dim(a: Column | str, b: Column | str, dim: int) -> Column:
    """Column-vs-column dot product unrolled for a KNOWN dimension (batch
    KNN joins score corpus×query pairs per row — the HOF form would pay
    the interpreter on every pair)."""
    a, b = _c(a), _c(b)

    def term(i: int) -> Column:
        m = _elem(a, i) * _elem(b, i)
        return (m + m) / 2.0

    return _balanced_sum([term(i) for i in range(dim)])


def cosine_similarity_dim(a: Column | str, b: Column | str,
                          dim: int) -> Column:
    a, b = _c(a), _c(b)
    dot = _balanced_sum([_elem(a, i) * _elem(b, i) for i in range(dim)])
    return dot / (l2_norm_dim(a, dim) * l2_norm_dim(b, dim))


def l2_distance_dim(a: Column | str, b: Column | str, dim: int) -> Column:
    a, b = _c(a), _c(b)

    def term(i: int) -> Column:
        d = _elem(a, i) - _elem(b, i)
        return d * d

    return F.sqrt(_balanced_sum([term(i) for i in range(dim)]))


_METRICS_DIM = {
    "cosine": lambda a, b, d: F.lit(1.0) - cosine_similarity_dim(a, b, d),
    "l2": l2_distance_dim,
    "dot": lambda a, b, d: -dot_product_dim(a, b, d),
}


def distance_expr_dim(metric: str, a: Column | str, b: Column | str,
                      dim: int) -> Column:
    """Codegen-path column-vs-column distance for a known dimension."""
    try:
        return _METRICS_DIM[metric](a, b, dim)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS_DIM)}")


def distance_arrow(metric: str, a: Column | str,
                   b: Column | str | Sequence[float]) -> Column:
    """Distance from ``a`` to ``b`` — a column, or a literal query vector —
    as one numpy kernel per Arrow batch: the scoring path of exact search
    (``operators.knn.vector_search``, so also every IVF/PQ re-rank and the
    SQL TVF) and of batch-join candidate scoring.

    A literal ``b`` is a closure parameter whose norm is taken once on the
    driver; each batch does one float64 matmul, and the plan is the same
    for every query vector of every dimension, so a fresh query compiles
    nothing. The unrolled form compiles per query: exact top-10 over
    50k×384 rows took 5.2 s against 1.0 s here, 1.92 s against 0.44 s over
    3072×384 (``local[4]``, 4-core VM). Semantics are the scalar forms': a
    NULL vector or element scores NULL, a zero-norm vector under cosine
    raises (their ANSI ``DIVIDE_BY_ZERO``), and a vector whose length
    differs from the other side's raises ValueError naming both lengths.
    Agrees with the other spellings after in-query rounding."""
    from pyspark.sql.functions import arrow_udf

    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(_METRICS)}")
    lit = not isinstance(b, (Column, str))
    if lit:
        q = np.array([float(v) for v in b])
        if not np.isfinite(q).all():
            raise ValueError("non-finite query-vector component: "
                             f"{q[~np.isfinite(q)][0]}")
        qn = float(np.sqrt(q @ q))

    # nested: the UDF pickles by value, executors need no package import
    def matrix(xs: pa.Array, dim: int) -> tuple:
        # non-NULL lists → float64 (rows, dim) + rows holding a NULL
        lens = pc.list_value_length(xs).to_numpy()
        if (lens != dim).any():
            raise ValueError(f"cannot compare a vector of length "
                             f"{lens[lens != dim][0]} with one of length {dim}")
        vals = xs.flatten()
        holes = vals.is_null().to_numpy(zero_copy_only=False)
        return (vals.to_numpy(zero_copy_only=False).astype(np.float64)
                .reshape(len(xs), dim), holes.reshape(len(xs), dim).any(1))

    def distance(*cols: pa.Array) -> pa.Array:
        # (vectors,) against the literal query, or (vectors, vectors)
        keep = pc.and_(cols[0].is_valid(), cols[-1].is_valid())
        xs = cols[0].filter(keep)
        dim = q.size if lit else (len(xs[0]) if len(xs) else 0)
        A, holes = matrix(xs, dim)
        if lit:
            B, dots, nb = q, A @ q, qn
        else:
            B, hb = matrix(cols[1].filter(keep), dim)
            holes |= hb
            dots = np.einsum("ij,ij->i", A, B)
            nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        if metric == "dot":
            d = -dots
        elif metric == "l2":   # Σ(a−b)², not |a|²−2ab+|b|² (cancellation)
            d = np.linalg.norm(A - B, axis=1)
        else:
            na = np.sqrt(np.einsum("ij,ij->i", A, A))
            if (((na == 0) | (nb == 0)) & ~holes).any():
                raise ZeroDivisionError(
                    "cosine distance of a zero-norm vector (DIVIDE_BY_ZERO)")
            d = 1.0 - dots / (na * nb)
        kept = keep.to_numpy(zero_copy_only=False)
        out, null = np.zeros(len(kept)), ~kept
        out[kept], null[kept] = d, holes
        return pa.array(out, mask=null)

    udf = arrow_udf(distance, "double")
    return udf(_c(a)) if lit else udf(_c(a), _c(b))


def query_vector_lit(vec) -> Column:
    """A query vector as a literal array<double> column (Catalyst folds it
    into codegen — the reference achieves the same by executing a scalar
    subquery to a literal, demo.ipynb c11:10)."""
    return F.array(*[F.lit(float(v)) for v in vec])
