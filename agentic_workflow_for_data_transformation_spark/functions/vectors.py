"""Vector math over array<float|double> columns, built from JVM
expressions so similarity scans never leave the executors — no Python,
no UDF serialization.

Cost model (measured at sf0.1): Spark evaluates higher-order-function
lambdas (zip_with/aggregate) interpreted, and fully-expanded
element_at sums blow past JIT method limits for d=64, so the fastest
deterministic shape is:

- per ROW (linear work): compute the L2 norm once — expanded sum for
  known ``dim`` (small enough to codegen), fold otherwise;
- per PAIR (quadratic work): one zip_with/aggregate fold for the dot,
  then ``dot / (norm_a * norm_b)`` — a single interpreted fold per
  pair instead of three.

Construction cost: each Column method or ``functions.*`` call is a
py4j round trip, so the expanded d=64 norm built from Column calls
took about 3 x 64 of them per norm; built as one SQL expression
(``l2_norm`` given a column name) it takes one.

The float expression shape dot/(na*nb) matches the ANSI oracle's
cosine formula term-for-term, so rounded-to-6 results agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import memo


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def probe_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Vector width for ``vec_col``: the explicit ``dim`` when the
    caller knows it (the scale path — no job at all), else one
    memoized single-row probe per (application, source plan).
    Embedding width is a table constant, so repeated registry/bench
    invocations reuse the memo instead of launching a hidden one-row
    job per query construction. A width of 0 (empty input) is never
    memoized."""
    if dim is not None:
        return dim

    def probe() -> int | None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        return (int(row["d"]) if row else 0) or None

    try:
        key = (int(df._jdf.queryExecution().analyzed().semanticHash()), vec_col)
    except Exception:  # semanticHash unavailable: fall back to probing
        return probe() or 0
    return memo(df.sparkSession, "dim", key, probe) or 0


def dot(a: Column, b: Column) -> Column:
    """Left-fold sum of elementwise products (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column | str, dim: int | None = None) -> Column:
    """Row-wise L2 norm of a vector column, or of the column named
    ``a`` read as array<double>. Given a name and ``dim``, the sum of
    squares is expanded (codegen) as one SQL expression, so building
    it is one py4j round trip rather than three Column calls per
    term; otherwise it is a fold."""
    if dim and isinstance(a, str):
        quoted = a.replace("`", "``")
        v = f"CAST(`{quoted}` AS ARRAY<DOUBLE>)"
        sq = " + ".join(f"element_at({v}, {i}) * element_at({v}, {i})"
                        for i in range(1, dim + 1))
        return F.expr(f"sqrt({sq})")
    if isinstance(a, str):
        a = as_double_array(a)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Self-contained cosine (norms folded per evaluation). In pair
    joins prefer precomputing each side's norm per row and using
    cosine_from_parts — same float semantics, 3x less pair work."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_from_parts(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from precomputed row norms: dot/(na*nb), the hot-path
    form for pairwise joins."""
    return dot(a, b) / (norm_a * norm_b)
