"""Vector (embedding) math with exact cross-engine determinism.

Embeddings are ``array<float>``. Naive float dot products are not
reproducible across engines (SIMD/accumulation order), so every similarity
operator first scales vectors to integers:

    x_int = round(double(x) * 2^20)        # float32→double is exact;
                                           # *2^20 is exact; round is defined

All downstream sums/products stay integers < 2^53, where IEEE double
arithmetic is exact and order-independent — so Spark's ``zip_with`` +
``aggregate`` and any oracle's unnest-and-sum produce bit-identical
results. Cosine is then ``dot / (sqrt(na) * sqrt(nb))`` over exact ints
(sqrt and division are correctly rounded → deterministic).

Precision cost: ~1e-6 relative on unit-scale embeddings — far below any
similarity threshold that matters; determinism is worth it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1 << 20


def _q(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


# The exact-integer expressions are SQL text applied with ONE ``F.expr``
# each: a Column tree with Python lambdas costs one py4j call per node
# (~0.2 ms each), rebuilt by every query. INT literals and
# ``CAST(... AS BIGINT)`` keep the types the Column forms had. These are
# Spark SQL strings; the DuckDB oracle keeps its own (:func:`sql_int_vec`).
def dot_long_sql(a: str, b: str) -> str:
    """Spark SQL text of :func:`dot_long` over columns ``a`` and ``b``."""
    return (
        f"aggregate(zip_with({_q(a)}, {_q(b)}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def int_vec(col: str) -> Column:
    """array<float> column ``col`` → array<long>, fixed-point at 2^20."""
    return F.expr(
        f"transform({_q(col)}, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT))"
    )


def dot_long(a: str, b: str) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.expr(dot_long_sql(a, b))


def norm_sq_long(a: str) -> Column:
    return dot_long(a, a)


def cosine_from_ints(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of array<long> columns ``a``/``b`` from their exact integer
    dot and squared norms ``na``/``nb``; deterministic double result.
    ``try_divide``: a zero norm scores NULL instead of raising
    DIVIDE_BY_ZERO under ANSI mode — it ranks after every scored
    candidate (DESC NULLS LAST) and passes no threshold."""
    return F.expr(
        f"try_divide(CAST({dot_long_sql(a, b)} AS DOUBLE), "
        f"sqrt(CAST({_q(na)} AS DOUBLE)) * sqrt(CAST({_q(nb)} AS DOUBLE)))"
    )


def sql_int_vec(expr: str) -> str:
    """DuckDB twin of :func:`int_vec`."""
    return (
        f"list_transform({expr}, x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT))"
    )
