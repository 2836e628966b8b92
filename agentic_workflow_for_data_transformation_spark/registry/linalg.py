"""Embedding linear algebra (operators/linalg.py): the integer-exact
Gram matrix, top principal components and the common-direction audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..benchqueries import _t, register
from ..operators import linalg
from ..plans.sqlgen import spec_to_sql


@register(
    "ns_embed_gram",
    "WITH dims AS (SELECT unnest(generate_series(1, 64)) AS d), "
    "q AS (SELECT vec_id, d, CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) "
    " AS BIGINT) AS qv FROM embeddings, dims), "
    "sums AS (SELECT d, CAST(sum(qv) AS BIGINT) AS s, count(*) AS n "
    " FROM q GROUP BY d), "
    "g AS (SELECT a.d AS i, b.d AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot "
    " FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.d >= a.d GROUP BY 1, 2) "
    "SELECT g.i - 1 AS i, g.j - 1 AS j, dot, si.n AS n, "
    "si.s AS si, sj.s AS sj "
    "FROM g JOIN sums si ON si.d = g.i JOIN sums sj ON sj.d = g.j",
)
def ns_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact upper-triangle Gram matrix + per-dimension sums —
    the one-pass sufficient statistics for covariance/PCA/whitening
    over the embedding corpus (operators/linalg.py; pca_components
    finishes with a d x d eigh on the driver). Components quantize to
    scaled BIGINTs before any arithmetic, so the sums are partition-
    order-independent and the oracle matches exactly. Shuffle volume
    is O(tasks * d^2) regardless of row count: map-side partial
    aggregation collapses the posexplode-squared triangle to
    d(d+1)/2 partial sums per task."""
    return linalg.gram_upper(_t(spark, sf_dir, "embeddings"), "embedding")


def _abtt_sql(n_iter: int = 6) -> str:
    # delegate to the sqlgen 'common_direction' renderer so the
    # unrolled power-iteration oracle lives in exactly one place (the
    # NL twin p101 renders the identical chain)
    return spec_to_sql(
        {"ops": [{"op": "common_direction", "n_iter": n_iter}]},
        "embeddings",
    )


register(
    "ns_embed_common_direction",
    _abtt_sql(6),
    desc=(
        "All-but-the-top audit (Mu & Viswanath, ICLR 2018): per "
        "vector, the projection onto the corpus TOP principal "
        "component (found by 6 fixed power-iteration rounds run "
        "IN-PLAN over the integer-exact Gram statistics — no numpy "
        "eigh, so even the eigenvector is hash-checked) plus the "
        "centered norm and projection ratio — exactly what the "
        "standard anisotropy-correction step subtracts. Two corpus "
        "scans total (Gram stats, per-row aggregates); the iteration "
        "itself touches only the d*d covariance frame."
    ),
)(
    lambda spark, sf_dir: linalg.common_direction_audit(
        _t(spark, sf_dir, "embeddings")
    )
)


def _pi_round_ctes(cov: str, p: str, n_iter: int) -> list[str]:
    """Unrolled fixed-round power-iteration CTEs over covariance frame
    ``cov``, names prefixed ``p`` — the sqlgen common_direction round
    shapes, parameterized so the deflated second component reuses
    them. Ends with {p}vf: the sign-pinned unit iterate."""
    ctes = [f"{p}v0 AS (SELECT DISTINCT i, 1.0 AS v FROM {cov})"]
    for r in range(1, n_iter + 1):
        ctes.append(
            f"{p}w{r} AS (SELECT {cov}.i, CAST(SUM(CAST("
            "CAST(c AS DECIMAL(20,12)) * CAST(v AS DECIMAL(12,9)) "
            "AS DECIMAL(38,21))) AS DOUBLE) AS w "
            f"FROM {cov} JOIN {p}v{r - 1} q ON {cov}.j = q.i GROUP BY 1)"
        )
        ctes.append(
            f"{p}n{r} AS (SELECT sqrt(CAST(SUM(CAST("
            "CAST(round(w, 9) AS DECIMAL(18,9)) "
            "* CAST(round(w, 9) AS DECIMAL(18,9)) "
            "AS DECIMAL(38,18))) AS DOUBLE)) AS nrm "
            f"FROM {p}w{r})"
        )
        ctes.append(
            f"{p}v{r} AS (SELECT i, round(round(w, 9) / nrm, 9) AS v "
            f"FROM {p}w{r}, {p}n{r})"
        )
    ctes.append(
        f"{p}sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS sgn "
        f"FROM {p}v{n_iter} ORDER BY abs(v) DESC, i LIMIT 1)"
    )
    ctes.append(
        f"{p}vf AS (SELECT i, round(v * sgn, 9) AS v "
        f"FROM {p}v{n_iter}, {p}sgn)"
    )
    return ctes


def _rayleigh_ctes(cov: str, vf: str, p: str) -> list[str]:
    """lam = v' C v via the matvec shapes: one more C v, then the
    decimal-exact dot with v, rounded to 12."""
    return [
        f"{p}lw AS (SELECT {cov}.i, CAST(SUM(CAST("
        "CAST(c AS DECIMAL(20,12)) * CAST(v AS DECIMAL(12,9)) "
        "AS DECIMAL(38,21))) AS DOUBLE) AS w "
        f"FROM {cov} JOIN {vf} q ON {cov}.j = q.i GROUP BY 1)",
        f"{p}lam AS (SELECT round(CAST(SUM(CAST("
        "CAST(round(w, 9) AS DECIMAL(18,9)) * CAST(v AS DECIMAL(12,9)) "
        "AS DECIMAL(38,18))) AS DOUBLE), 12) AS lam "
        f"FROM {p}lw JOIN {vf} USING (i))",
    ]


def _pca_top2_sql(n_iter: int = 6, dim: int = 64) -> str:
    """Oracle for linalg.power_iteration_top2: integer-exact Gram
    statistics, 12-rounded covariances, the component-1 rounds, the
    Rayleigh eigenvalue, Hotelling deflation re-rounded to 12, the
    component-2 rounds over the deflated frame, UNION of both. Every
    CTE is MATERIALIZED: with ~50 chained CTEs each referenced
    several times, DuckDB's default inlining re-expands the whole
    chain per reference (the plain form died on fd exhaustion
    re-opening the parquet); materialization evaluates each once —
    the SQL analog of the operator's localCheckpoint per round."""
    ctes = [
        f"__dims AS (SELECT unnest(generate_series(1, {dim})) AS d)",
        "__q AS (SELECT vec_id, d, "
        "CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) "
        "AS qv FROM embeddings, __dims)",
        "__sums AS (SELECT d, CAST(sum(qv) AS BIGINT) AS s, count(*) AS n "
        "FROM __q GROUP BY d)",
        "__g AS (SELECT a.d AS i, b.d AS j, "
        "CAST(sum(a.qv * b.qv) AS BIGINT) AS dot "
        "FROM __q a JOIN __q b ON a.vec_id = b.vec_id AND b.d >= a.d "
        "GROUP BY 1, 2)",
        "__covu AS (SELECT __g.i - 1 AS i, __g.j - 1 AS j, "
        "round((CAST(dot AS DOUBLE) - CAST(si.s AS DOUBLE) "
        "* CAST(sj.s AS DOUBLE) / si.n) / si.n / 1000000000000.0, 12) AS c "
        "FROM __g JOIN __sums si ON si.d = __g.i "
        "JOIN __sums sj ON sj.d = __g.j)",
        "__cov AS (SELECT * FROM __covu UNION ALL "
        "SELECT j AS i, i AS j, c FROM __covu WHERE i <> j)",
    ]
    ctes += _pi_round_ctes("__cov", "__a", n_iter)
    ctes += _rayleigh_ctes("__cov", "__avf", "__a")
    ctes.append(
        "__cov2 AS (SELECT x.i, x.j, "
        "round(x.c - lam * vi.v * vj.v, 12) AS c "
        "FROM __cov x JOIN __avf vi ON x.i = vi.i "
        "JOIN __avf vj ON x.j = vj.i CROSS JOIN __alam)"
    )
    ctes += _pi_round_ctes("__cov2", "__b", n_iter)
    ctes += _rayleigh_ctes("__cov2", "__bvf", "__b")
    ctes = [c.replace(" AS (", " AS MATERIALIZED (", 1) for c in ctes]
    return (
        f"WITH {', '.join(ctes)} "
        "SELECT CAST(1 AS INTEGER) AS component, i, v, "
        "round(lam, 9) AS eigval FROM __avf, __alam "
        "UNION ALL SELECT CAST(2 AS INTEGER), i, v, round(lam, 9) "
        "FROM __bvf, __blam"
    )


@register(
    "ns_embed_pca_top2",
    _pca_top2_sql(),
    desc=(
        "Top-2 principal components by in-plan power iteration with "
        "Hotelling deflation (the D=2 all-but-the-top rung): one Gram "
        "scan, fixed decimal-pinned rounds for component 1, Rayleigh "
        "eigenvalue, 12-rounded deflated covariance, same rounds for "
        "component 2 — even both eigenvectors and eigenvalues are "
        "hash-checked cross-engine."
    ),
)
def ns_embed_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflated top-2 PCA (operators/linalg.power_iteration_top2):
    everything after the one corpus scan runs on d*d-row frames."""
    return linalg.power_iteration_top2(
        _t(spark, sf_dir, "embeddings"), n_iter=6,
    )
