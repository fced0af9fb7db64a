"""Vector math over ``array<float/double>`` embedding columns.

[extension] Pure ``pyspark.sql.functions`` higher-order expressions
(zip_with + aggregate) — JVM-side, no UDF, codegen-friendly. At 100 TB
these evaluate inside the scan/project stage; the expensive part of
similarity search is the *join strategy* (see similarity/), not the
arithmetic.

Plan literals (centroids, query vectors, hash-family coefficients) are
emitted as ONE parsed SQL expression, never as one ``Column`` per
element: every ``F.*`` call is a py4j round trip to the JVM, and
PySpark's call-site capture adds about eight more, so an unrolled
8 × 64 centroid literal costs over 1,500 round trips per build, while
``F.expr`` over the rendered string is one call whatever the literal's
size, and parses to the same Catalyst expressions.
:func:`_sql_double_array` renders the doubles and :func:`_sql_dot` the
dot product.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_double_array(values) -> str:
    """``values`` as a Spark SQL ``array<double>`` literal whose
    elements parse back to the same 64 bits: ``repr`` is the shortest
    decimal that round-trips, and NaN/±inf, which have no literal
    syntax, become foldable string casts."""

    def one(x) -> str:
        x = float(x)
        if math.isfinite(x):
            return f"{x!r}D"
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'' if x > 0 else '-'}Infinity' AS DOUBLE)"

    return f"array({', '.join(one(x) for x in values)})"


def _sql_dot(a: str, b: str) -> str:
    """SQL text of :func:`dot` over two array expressions: the same
    sequential fold from 0.0, so it gives the same bits."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential fold — deterministic
    summation order, unlike a shuffle-order-dependent SUM)."""
    prod = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) with 0-norm guard (null on zero vectors)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def mean_pool(
    df: "DataFrame",
    group_cols: list[str],
    vec_col: str = "embedding",
    out_col: str = "centroid",
    round_to: int | None = 6,
):
    """Element-wise mean of embedding vectors per group — the pooling
    primitive behind class centroids, chunk→document embeddings, and
    cluster prototypes.

    Dimension-parallel shape: ``posexplode`` the vectors and aggregate
    ``avg`` per (group, position) — the shuffle is keyed on
    (group, dim-position), so a single huge group still spreads over
    ``dim`` reducers instead of hot-spotting one (collect_list-based
    pooling would ship every member vector to one task). The pooled
    array reassembles with a sorted-struct transform, positions sorted
    numerically. ``round_to`` rounds each component (shuffle-order
    float sums; the cross-engine precision contract) — pass None for
    raw doubles."""
    from pyspark.sql import functions as F

    exploded = df.select(
        *group_cols,
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__pos__", "__x__"),
    )
    per_dim = exploded.groupBy(*group_cols, "__pos__").agg(
        F.avg("__x__").alias("__m__")
    )
    comp = F.col("__m__") if round_to is None else F.round("__m__", round_to)
    return (
        per_dim.groupBy(*group_cols)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos__"), comp.alias("m")))
                ),
                lambda s: s.getField("m"),
            ).alias(out_col)
        )
    )
