"""Vector algebra over embedding arrays as SQL text: the one spelling of
the dot product, squared L2 distance, norm, cosine and nearest centroid,
for Spark and for the DuckDB oracles. Column-API callers wrap it in F.expr.

Each fold adds its per-dimension terms one at a time, in dimension order,
from 0.0. float32 -> double casts are exact, so both engines add the same
doubles in the same order and their results are bit-identical.

``cosine`` is NULL when either norm is zero: under ANSI mode a double
division by 0.0 raises in Spark, while ``try_divide`` returns NULL, as
DuckDB's ``/`` does. ``top_k_per_group`` ranks that NULL last and a ``>=``
threshold drops it, as the oracles' ORDER BY and WHERE do.
"""

from __future__ import annotations


def dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )


def sqd(a: str, b: str) -> str:
    """Squared L2 distance of two double arrays."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, t) -> acc + t)"
    )


def norm(v: str) -> str:
    return f"sqrt({dot(v, v)})"


def cosine(a: str, b: str, na: str, nb: str) -> str:
    """Cosine of ``a`` and ``b`` given their norms; NULL if either is 0."""
    return f"try_divide({dot(a, b)}, {na} * {nb})"


def nearest(cents: str, v: str, vec: str = "cv", key: str = "cid") -> str:
    """named_struct(d2, key) of the entry of ``cents`` (structs of a double
    array ``vec`` and a bigint ``key``) nearest ``v`` by ``sqd``, ties to
    the lower key, so the array's order does not matter."""
    return (
        f"aggregate(transform({cents}, c -> named_struct("
        f"'d2', {sqd(v, 'c.' + vec)}, '{key}', c.{key})), "
        f"named_struct('d2', CAST('Infinity' AS DOUBLE), '{key}', CAST(-1 AS BIGINT)), "
        "(acc, s) -> IF(s.d2 < acc.d2"
        f" OR (s.d2 = acc.d2 AND s.{key} < acc.{key}), s, acc))"
    )


def duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def duck_sqd(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
