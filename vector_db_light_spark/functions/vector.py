"""Vector math as Catalyst expressions (no Python in the hot path).

Re-expresses the reference's FLAT-index query math
(``/root/reference/vector_db_query.py:158-202``, metric written at
``/root/reference/vector_db_creator.py:210-225``) as column expressions over
``ARRAY<FLOAT>`` embedding columns.

Numeric-determinism note: dot products are computed as a *left-to-right
fold over doubles* (``aggregate(zip_with(...))``). The DuckDB oracles use
``list_reduce(list_transform(list_zip(...)))`` — the identical IEEE-754
operation sequence — so results are bit-identical and hash-comparable
without rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# The four metrics the reference's index sidecar can declare
# (vector_db_creator.py:218-225) plus the "unknown" fallback branch
# (vector_db_query.py:199-202).
METRICS = ("cosine", "l2", "sum_of_squares", "inner_product")


def default_query_vector(dim: int = 64, seed: int = 7) -> list[float]:
    """Deterministic unit-norm query vector used by tests/oracles.

    The reference embeds the query string with the same model as the corpus
    (vector_db_query.py:151-154); for model-free oracle checking we use a
    fixed literal vector instead (FIXTURES.md §3).
    """
    raw = [math.sin(seed + 0.7 * i) for i in range(dim)]
    norm = math.sqrt(sum(x * x for x in raw))
    return [round(x / norm, 6) for x in raw]


def vector_lit(vec: list[float]) -> Column:
    """A literal ARRAY<DOUBLE> column."""
    return F.array(*[F.lit(float(v)) for v in vec])


import re as _re

_IDENT_RE = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _col_sql(name: str) -> str:
    """Backtick simple identifiers; pass qualified refs (a.b) through."""
    return f"`{name}`" if _IDENT_RE.fullmatch(name) else name


def _dlit_sql(x: float) -> str:
    """Exact double literal: repr round-trips binary64, and both engines'
    string->double parse is correctly rounded ('0.x'::DOUBLE rule)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _get_d_sql(name: str, i: int) -> str:
    """Element i of a numeric array column, as DOUBLE, via an ELEMENT cast:
    ``CAST(get(col, i) AS DOUBLE)``. Bit-identical to
    ``get(CAST(col AS ARRAY<DOUBLE>), i)`` (float->double widening is exact
    and commutes with indexing; get is NULL on out-of-bounds either way)
    but generates ~3 lines of whole-stage code instead of a full 64-element
    array-conversion LOOP per term: the array-cast form re-materialized the
    cast at EVERY term reference inside conditional branches (CASE/WHEN
    disables subexpression elimination), which (a) did O(dim) conversion
    work per term — O(dim^2) per dot — and (b) blew janino's 64 KB method
    limit at 6 plane dots + 1 distance dot in one stage, tripping the
    whole-stage-codegen fallback on ann_lsh_bucketed /
    knn_ivfpq_residual_topk (VERDICT r15 #2; fixed r16)."""
    return f"CAST(get({_col_sql(name)}, {i}) AS DOUBLE)"


def dot(
    vec_col: Column | str,
    query: Column | str | list[float],
    dim: int | None = None,
) -> Column:
    """Left-to-right double fold of the elementwise product.

    Three physical forms, one numeric result:

    * ``vec_col`` is a column NAME and ``query`` a **Python list** (literal
      query vector) or a column NAME with ``dim`` given (batch serving):
      emit the statically unrolled sum ``0.0 + v[0]*q0 + v[1]*q1 + ...``
      as ONE ``F.expr`` string. Plain Add/Multiply stays inside whole-stage
      codegen (VERDICT r6 #1: the interpreted HOF fold was the
      search_pipeline bench breach), and the single-parse construction
      avoids ~4*dim Py4J round-trips per call (~260 ms at dim 64 — found
      live as an ann_ivf_pruned construction regression; the string parse
      is ~0.5 ms).
    * same shapes but with Column (not name) inputs: the per-term loop —
      construction-heavy, prefer passing names on hot paths.
    * ``query`` is a Column, ``dim`` unknown: the Catalyst
      HigherOrderFunction fold ``aggregate(zip_with(...))`` — JVM-side but
      interpreted.

    All evaluate the identical IEEE-754 addition sequence starting from
    0.0, so results are bit-identical to each other and to the DuckDB
    ``list_reduce(list_transform(list_zip(...)))`` oracles — INCLUDING on
    dimension mismatch: zip_with/list_zip NULL-pad the shorter side (sum
    -> NULL), a short stored vector makes ``get``/[] return NULL, and the
    unrolled forms guard the LONGER-vector case (BOTH sides in the
    name+name+dim batch form — review r8: guarding only the stored side
    left a too-long QUERY vector producing the same silent partial dot)
    with a size check
    (ADVICE r7: without it a too-long vector produced a silently plausible
    partial dot where every other form returns NULL). The guard is emitted
    as the chain's INITIAL term — ``(CASE WHEN size(v)=N THEN 0.0D END) +
    t0 + ...`` — so NULL propagates through the additions on mismatch
    while the chain itself stays a flat top-level Add sequence; wrapping
    the whole chain in the CASE instead pushed the 64-term expression into
    one un-splittable conditional branch whose generated method blew the
    JIT's 8 KB compile limit (measured live: knn_batch_topk 0.63->2.83 s).
    In the valid case the initial term is 0.0, so the IEEE op sequence is
    unchanged and oracle parity holds bit-for-bit.
    """
    if isinstance(query, (list, tuple)):
        if not query:
            return F.lit(0.0)
        n = len(query)
        if isinstance(vec_col, str):
            terms = " + ".join(
                f"({_get_d_sql(vec_col, i)} * {_dlit_sql(x)})"
                for i, x in enumerate(query)
            )
            return F.expr(
                f"(CASE WHEN size({_col_sql(vec_col)}) = {n} THEN 0.0D END)"
                f" + {terms}"
            )
        acc = F.when(F.size(vec_col) == n, F.lit(0.0))
        for i, q in enumerate(query):
            acc = acc + F.get(vec_col, i).cast("double") * F.lit(float(q))
        return acc
    if dim is not None and isinstance(vec_col, str) and isinstance(query, str):
        terms = " + ".join(
            f"({_get_d_sql(vec_col, i)} * {_get_d_sql(query, i)})"
            for i in range(dim)
        )
        return F.expr(
            f"(CASE WHEN size({_col_sql(vec_col)}) = {dim}"
            f" AND size({_col_sql(query)}) = {dim} THEN 0.0D END)"
            f" + {terms}"
        )
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    q = F.col(query) if isinstance(query, str) else query
    if dim is not None:
        acc = F.when((F.size(v) == dim) & (F.size(q) == dim), F.lit(0.0))
        for i in range(dim):
            acc = acc + F.get(v, i).cast("double") * F.get(q, i).cast("double")
        return acc
    prods = F.zip_with(v.cast("array<double>"), q, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine_distance(vec_col: Column | str, query: Column | list[float]) -> Column:
    """Cosine distance = 1 - dot, assuming unit-norm inputs — the invariant
    the reference guarantees at encode time (embedding_models.py:122)."""
    return F.lit(1.0) - dot(vec_col, query)


def sum_of_squares_distance(
    vec_col: Column | str,
    query: Column | str | list[float],
    dim: int | None = None,
) -> Column:
    if dim is not None and isinstance(vec_col, str) and isinstance(query, str):
        # name+name+dim: single-parse unrolled chain, size-guarded (dot());
        # element casts, not array casts (_get_d_sql)
        terms = " + ".join(
            f"(({_get_d_sql(vec_col, i)} - {_get_d_sql(query, i)}) *"
            f" ({_get_d_sql(vec_col, i)} - {_get_d_sql(query, i)}))"
            for i in range(dim)
        )
        return F.expr(
            f"(CASE WHEN size({_col_sql(vec_col)}) = {dim}"
            f" AND size({_col_sql(query)}) = {dim} THEN 0.0D END)"
            f" + {terms}"
        )
    if isinstance(query, str):
        query = F.col(query)
    if isinstance(query, (list, tuple)):
        if not query:
            return F.lit(0.0)
        if isinstance(vec_col, str):
            terms = " + ".join(
                f"(({_get_d_sql(vec_col, i)} - {_dlit_sql(x)}) *"
                f" ({_get_d_sql(vec_col, i)} - {_dlit_sql(x)}))"
                for i, x in enumerate(query)
            )
            return F.expr(
                f"(CASE WHEN size({_col_sql(vec_col)}) = {len(query)} "
                f"THEN 0.0D END) + {terms}"
            )
        acc = F.when(F.size(vec_col) == len(query), F.lit(0.0))
        for i, q in enumerate(query):
            diff = F.get(vec_col, i).cast("double") - F.lit(float(q))
            acc = acc + diff * diff
        return acc
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    diffs = F.zip_with(v.cast("array<double>"), query, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2_distance(vec_col: Column | str, query: Column | list[float]) -> Column:
    return F.sqrt(sum_of_squares_distance(vec_col, query))


def inner_product(vec_col: Column | str, query: Column | list[float]) -> Column:
    return dot(vec_col, query)


def distance_expr(
    metric: str, vec_col: Column | str, query: Column | list[float]
) -> Column:
    """Distance for one stored metric (vector_db_creator.py:210 fixes cosine
    at build time; the query path dispatches on the sidecar value)."""
    if metric == "cosine":
        return cosine_distance(vec_col, query)
    if metric == "l2":
        return l2_distance(vec_col, query)
    if metric == "sum_of_squares":
        return sum_of_squares_distance(vec_col, query)
    if metric == "inner_product":
        return inner_product(vec_col, query)
    # "unknown metric" branch: callers still need a distance; reference
    # only defines the conversion (1 - d^2/2), distances come from the
    # index. We model unknown metrics as cosine distance.
    return cosine_distance(vec_col, query)


def clip01(col: Column) -> Column:
    """np.clip(x, 0.0, 1.0) (vector_db_query.py:172-186)."""
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), col))


def similarity_expr(metric: str, d: Column, dmin: Column, dmax: Column) -> Column:
    """Distance -> similarity conversion, exact parity with
    ``/root/reference/vector_db_query.py:170-202``.

    ``dmin``/``dmax`` are aggregates over the *raw top-k result set* (before
    threshold filtering) — the reference computes np.min/np.max over the
    returned distance arrays, so the conversion is result-set-relative for
    every metric except cosine (SURVEY.md §7 hard-part #1).
    """
    if metric == "cosine":
        return clip01(F.lit(1.0) - d)
    if metric in ("l2", "sum_of_squares"):
        return clip01(
            F.when(dmax > F.lit(0.0), F.lit(1.0) - d / dmax).otherwise(F.lit(1.0))
        )
    if metric == "inner_product":
        # min-max rescale, NO clip (vector_db_query.py:188-197)
        return F.when(dmax > dmin, (d - dmin) / (dmax - dmin)).otherwise(F.lit(1.0))
    # unknown metric fallback (vector_db_query.py:199-202)
    return clip01(F.lit(1.0) - (d * d) / F.lit(2.0))
