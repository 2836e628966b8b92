"""Distributed linear algebra over embedding columns: the one-pass
sufficient-statistics pattern (Gram matrix / per-dimension sums via a
single aggregation) with the tiny d x d solve done driver-side.

This is THE scalable shape for PCA/whitening/covariance at 100 TB: the
cluster never materializes anything bigger than d(d+1)/2 running sums
per task (partial aggregation collapses the exploded products before
the exchange), and the eigendecomposition happens on a d x d matrix on
the driver — never on the data. Compare Spark MLlib's
RowMatrix.computeGramianMatrix, which does the same reduction RDD-side.

Cross-engine exactness: components are quantized to scaled BIGINTs
(round(x * 10^6)) BEFORE any arithmetic, so sums are integer-exact and
independent of partition order — the same discipline as the decimal
money sums and the integer PageRank (operators/graph.py).
"""

from __future__ import annotations

import decimal
import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import spread_small_input

SCALE = 10**6


def quantized(vec_col: str, scale: int = SCALE) -> F.Column:
    """array<long> of round(x * scale) — the exact integer domain all
    downstream sums run in. At scale=10^6 with unit-norm-ish inputs,
    a pairwise product is <= 10^12, so ~9 million rows per (i, j) cell
    fit in a BIGINT partial sum per task before any precision concern;
    the merged total tolerates ~9e6 * #tasks rows."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"),
    )


def gram_upper(df: DataFrame, vec_col: str = "embedding",
               scale: int = SCALE) -> DataFrame:
    """Upper-triangle Gram matrix sum_rows(q_i * q_j), i <= j, over the
    quantized components, plus the row count and per-dimension sums
    needed to turn it into a covariance matrix driver-side
    (cov_ij = (G_ij - s_i*s_j/n) / n in the scaled domain).

    Plan: posexplode the vector once (x d rows), slice the tail from
    each position and posexplode again (x (d-i) rows) — exactly the
    upper triangle, no self-join, no d^2 blowup below i <= j. The
    groupBy(i, j) has d(d+1)/2 groups, so map-side partial aggregation
    collapses each task's explosion to <= d(d+1)/2 partial sums before
    the exchange: shuffle volume is O(tasks * d^2), independent of row
    count.

    Output: (i, j, dot, n, si, sj) with 0-based dimension indices —
    dot/si/sj in the scaled-integer domain.
    """
    # NOT spread: an optimization-round A/B measured the round-robin
    # repartition costing ~1 s in-bench at sf0.1 against a noise-level
    # gain (the d(d+1)/2-products-per-row explode partial-aggregates
    # to d^2 sums in the scan task, so the exchange it saves is tiny);
    # a single-file embedding table big enough to need the spread
    # (~100 MB+) should set maxPartitionBytes / split the file instead
    q = df.select(quantized(vec_col, scale).alias("q"))
    # per-dimension sums + count, one tiny aggregate pass
    sums = (
        q.select(F.posexplode("q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    e = q.select(F.posexplode("q").alias("i", "qi"), F.col("q"))
    tri = e.select(
        "i",
        "qi",
        F.posexplode(
            F.slice(F.col("q"), F.col("i") + 1, F.size("q") - F.col("i"))
        ).alias("dj", "qj"),
    ).select(
        "i",
        (F.col("i") + F.col("dj")).alias("j"),
        (F.col("qi") * F.col("qj")).alias("p"),
    )
    g = tri.groupBy("i", "j").agg(F.sum("p").alias("dot"))
    si = sums.select(F.col("i"), F.col("s").alias("si"), "n")
    sj = sums.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    return (
        g.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select("i", "j", "dot", "n", "si", "sj")
    )


def pca_components(df: DataFrame, vec_col: str = "embedding", k: int = 2,
                   scale: int = SCALE):
    """Top-k principal components from the distributed sufficient
    statistics (gram_upper — the only thing ever collected is
    d(d+1)/2 sums), then a d x d eigendecomposition on the driver. Returns (components, variances)
    as numpy arrays — components rows are unit eigenvectors sorted by
    descending eigenvalue, sign-fixed so each row's
    largest-magnitude entry is positive (eigenvectors are only defined
    up to sign; fixing it makes results comparable across runs).
    """

    rows = gram_upper(df, vec_col, scale).collect()
    d = max(r["j"] for r in rows) + 1
    n = rows[0]["n"]
    g = np.zeros((d, d), dtype=np.float64)
    s = np.zeros(d, dtype=np.float64)
    for r in rows:
        g[r["i"], r["j"]] = g[r["j"], r["i"]] = float(r["dot"])
        s[r["i"]] = float(r["si"])
    cov = (g - np.outer(s, s) / n) / n / (scale * scale)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    flips = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    return comps * flips[:, None], vals[order]


def covariance_full(df: DataFrame, vec_col: str = "embedding",
                    scale: int = SCALE) -> DataFrame:
    """Full (mirrored) covariance matrix as a d*d-row frame
    (i, j, c), c = (G_ij - s_i s_j / n) / n in the original units,
    rounded to 12 — derived from gram_upper's integer-exact
    sufficient statistics, so every c is partition-order-independent
    and the SQL oracle reproduces it digit for digit. d*d rows for
    d=64 is 4096 — broadcast-sized; nothing here touches the corpus
    after the one gram scan."""
    g = gram_upper(df, vec_col, scale)
    c = F.round(
        (
            F.col("dot").cast("double")
            - F.col("si").cast("double") * F.col("sj").cast("double")
            / F.col("n").cast("double")
        )
        / F.col("n").cast("double")
        / F.lit(float(scale * scale)),
        12,
    ).alias("c")
    upper = g.select("i", "j", c)
    lower = (
        g.filter(F.col("i") != F.col("j"))
        .select(F.col("j").alias("i"), F.col("i").alias("j"), c)
    )
    return upper.unionByName(lower)


def _pinned_ctx():
    """Decimal context for every local replica below: 50 significant
    digits (>= the 38 of Spark's widest DECIMAL(38,21) accumulator and
    the 32 a DEC(20,12) x DEC(12,9) product can need), HALF_UP like
    the SQL engines. The ambient process context is only prec=28
    ROUND_HALF_EVEN and is mutable by any host code — under it a
    large-magnitude covariance product would silently round
    mid-accumulation and diverge from the oracle's exact decimal sum."""

    return decimal.localcontext(
        decimal.Context(prec=50, rounding=decimal.ROUND_HALF_UP)
    )


def _rhu(x: float, ndigits: int) -> float:
    """Bit-exact replica of Spark's round(double, s) (and of the
    DuckDB oracle's agreeing values): HALF_UP on the shortest
    round-trip decimal representation — Java's
    BigDecimal.valueOf(x).setScale(s, HALF_UP).toDouble(), which
    Python reproduces as quantize over repr(x) (both languages print
    the minimal-length decimal that round-trips)."""

    with _pinned_ctx():
        return float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal(1).scaleb(-ndigits),
                rounding=decimal.ROUND_HALF_UP,
            )
        )


def _dec(x: float, scale_digits: int):
    """Bit-exact replica of Spark's CAST(double AS DECIMAL(p, s)):
    HALF_UP at scale s over the shortest round-trip decimal. For the
    power-iteration inputs (values already rounded to <= s decimals
    and well inside 15 significant digits) the quantize is exact —
    it recovers the intended decimal, not an approximation."""

    with _pinned_ctx():
        return decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal(1).scaleb(-scale_digits),
            rounding=decimal.ROUND_HALF_UP,
        )


def _matvec_local(cov_dec: dict, v: dict) -> dict:
    """w = C v with the plan's exact decimal accumulation:
    SUM(CAST(c AS DEC(20,12)) * CAST(v AS DEC(12,9)) AS DEC(38,21))
    CAST AS DOUBLE — Decimal sums are exact in any order, the final
    double conversion is correctly rounded in both runtimes.
    ``cov_dec`` carries the DEC(20,12) covariances pre-quantized (one
    conversion per entry, not one per entry per round); the iterate is
    quantized once per dimension per call."""

    vdec = {j: _dec(x, 9) for j, x in v.items()}
    acc: dict = {}
    zero = decimal.Decimal(0)
    with _pinned_ctx():
        for (i, j), cd in cov_dec.items():
            acc[i] = acc.get(i, zero) + cd * vdec[j]
    return {i: float(s) for i, s in acc.items()}


def _power_rounds_local(cov: dict, dims: list, n_iter: int) -> dict:
    """Driver-side replica of the fixed-round power iteration the
    in-plan version ran over localCheckpointed d*d frames (and the
    unrolled-SQL oracle still runs): matvec -> 9-round -> normalize
    (double sqrt/divide) -> 9-round, n_iter times, then the sign pin
    (largest-|v| entry, ties to lowest i, made positive). Identical
    arithmetic at every step, so the hash-checked output is unchanged
    — but ~2*n_iter tiny Spark jobs become zero (the covariance is
    d*d-bounded driver state, the same class as the logreg weights
    and the Bloom bitset words)."""

    cov_dec = {k: _dec(c, 12) for k, c in cov.items()}
    v = {i: 1.0 for i in dims}
    for _ in range(n_iter):
        w = _matvec_local(cov_dec, v)
        with _pinned_ctx():
            s = sum((_dec(_rhu(w[i], 9), 9) * _dec(_rhu(w[i], 9), 9)
                     for i in dims), start=decimal.Decimal(0))
        nrm = math.sqrt(float(s))
        v = {i: _rhu(_rhu(w[i], 9) / nrm, 9) for i in dims}
    top_i = min(dims, key=lambda i: (-abs(v[i]), i))
    sgn = -1.0 if v[top_i] < 0 else 1.0
    return {i: _rhu(v[i] * sgn, 9) for i in dims}


def _rayleigh_local(cov: dict, v: dict) -> float:
    """lam = v' C v, the plan's two exact stages: decimal matvec then
    SUM(CAST(round(w,9) AS DEC(18,9)) * CAST(v AS DEC(12,9)) AS
    DEC(38,18)) in Decimal, one double round to 12."""

    cov_dec = {k: _dec(c, 12) for k, c in cov.items()}
    w = _matvec_local(cov_dec, v)
    with _pinned_ctx():
        s = sum((_dec(_rhu(w[i], 9), 9) * _dec(v[i], 9) for i in v),
                start=decimal.Decimal(0))
    return _rhu(float(s), 12)


def _collect_cov_local(df: DataFrame, vec_col: str, scale: int):
    """One distributed gram scan, then the d*d covariance assembled
    driver-side with covariance_full's exact double expression
    (((dot - si*sj/n) / n) / scale^2 rounded to 12). Returns
    (cov dict {(i, j): c}, sums dict {i: si}, n, dims). Bounded
    driver state: d(d+1)/2 rows collected, never corpus-sized."""
    rows = gram_upper(df, vec_col, scale).collect()
    sc2 = float(scale * scale)
    cov: dict = {}
    sums: dict = {}
    n = 0
    for r in rows:
        n = r["n"]
        c = _rhu(
            (float(r["dot"]) - float(r["si"]) * float(r["sj"]) / float(n))
            / float(n) / sc2,
            12,
        )
        cov[(r["i"], r["j"])] = c
        if r["i"] != r["j"]:
            cov[(r["j"], r["i"])] = c
        else:
            sums[r["i"]] = r["si"]
    dims = sorted(sums)
    return cov, sums, n, dims


def power_iteration_top_pc(df: DataFrame, vec_col: str = "embedding",
                           n_iter: int = 6, scale: int = SCALE) -> DataFrame:
    """Top principal component by FIXED-ROUND power iteration — the
    eigh-free path with an exact SQL oracle (pca_components does a
    driver-side numpy eigh; fine operationally, but numpy's LAPACK
    result cannot be hash-checked cross-engine; this can).

    Determinism engineering (the Lloyd/logreg discipline): the matvec
    w = C v sums DECIMAL products of the 12-rounded covariances and
    the 9-rounded iterate (exact in any order); the normalization
    divides in doubles and rounds the next iterate to 9 BEFORE the
    following round; iterations are FIXED at n_iter (no convergence
    test), so the unrolled oracle is finite. Start vector is
    all-ones. Sign is pinned after the last round (largest-|v| entry,
    ties to the lowest i, made positive).

    Scale/overhead shape (optimization round 9): ONE distributed gram
    scan; the d*d covariance (4096 values at d=64 — dimension-bounded,
    never data-sized) is collected and the fixed rounds run
    driver-side with bit-identical arithmetic (_power_rounds_local).
    The previous in-plan form paid ~2 jobs + a localCheckpoint per
    round over 4096-row frames — pure scheduler overhead at any scale.

    EAGER: the gram scan executes at DataFrame-CONSTRUCTION time (the
    covariance collect), so building this frame speculatively pays a
    full pass and scan failures surface at build, not at run.

    Output: (i, v) — d rows, the unit top component."""
    cov, _sums, _n, dims = _collect_cov_local(df, vec_col, scale)
    v = _power_rounds_local(cov, dims, n_iter)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(i), float(v[i])) for i in dims], "i int, v double"
    )


def common_direction_audit(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding", n_iter: int = 6,
                           scale: int = SCALE) -> DataFrame:
    """All-but-the-top audit (Mu & Viswanath, ICLR 2018): embedding
    corpora concentrate mass in a handful of common directions (the
    anisotropy ns_embed_anisotropy measures); the standard
    post-processing subtracts the projection onto the TOP component
    of the centered corpus. This operator emits, per vector, exactly
    what that step needs to be audited and applied: the projection
    onto the corpus top component and the centered norm —
    (id, c1_proj, norm_centered, proj_ratio), proj_ratio =
    |proj| / norm (0 for zero vectors).

    Scale shape: ONE corpus scan for the Gram statistics (the power
    iteration then runs on the d*d frame), one broadcast of d
    (mean_i, v_i) rows back, and a second corpus scan computing both
    per-row sums in one posexplode aggregate keyed by id. No corpus
    self-joins, no driver state beyond the d-row component.

    Exactness: mean_i = s_i / n / scale rounded to 9; the per-row
    sums multiply 9-rounded decimals into DECIMAL(38,x) accumulators
    (exact under any fold order), and the two emitted measures round
    to 6 from one double sqrt/divide each.

    EAGER: the gram scan executes at DataFrame-CONSTRUCTION time (the
    covariance collect), so building this frame speculatively pays a
    full pass and scan failures surface at build, not at run."""
    # one gram scan feeds BOTH the component and the means (the old
    # form ran power_iteration_top_pc(df) AND gram_upper(df) — two
    # full gram passes); the fixed rounds run driver-side over the
    # d*d-bounded covariance with bit-identical arithmetic
    cov, sums, n, dims = _collect_cov_local(df, vec_col, scale)
    v = _power_rounds_local(cov, dims, n_iter)
    mu = {
        i: _rhu(float(sums[i]) / float(n) / float(scale), 9) for i in dims
    }
    model = F.broadcast(
        df.sparkSession.createDataFrame(
            [(int(i), float(v[i]), float(mu[i])) for i in dims],
            "i int, v double, mu double",
        )
    )

    cx = (
        spread_small_input(df.select(id_col, vec_col))
        .select(F.col(id_col), F.posexplode(quantized(vec_col, scale))
                .alias("i", "q"))
        .join(model, "i")
        .select(
            id_col,
            # centered component, exact in the decimal domain:
            # q/scale is exact at 6 dp, mu is 9-rounded
            (
                (F.col("q").cast("double") / F.lit(float(scale)))
                .cast("decimal(18,9)")
                - F.col("mu").cast("decimal(18,9)")
            ).alias("x"),
            F.col("v").cast("decimal(12,9)").alias("vv"),
        )
    )
    per = cx.groupBy(id_col).agg(
        F.sum((F.col("x") * F.col("vv")).cast("decimal(38,18)"))
        .cast("double").alias("_proj"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)"))
        .cast("double").alias("_ss"),
    )
    nrm = F.sqrt(F.col("_ss"))
    return per.select(
        id_col,
        F.round(F.col("_proj"), 6).alias("c1_proj"),
        F.round(nrm, 6).alias("norm_centered"),
        F.when(nrm > 0, F.round(F.abs(F.col("_proj")) / nrm, 6))
        .otherwise(F.lit(0.0)).alias("proj_ratio"),
    )




def power_iteration_top2(df: DataFrame, vec_col: str = "embedding",
                         n_iter: int = 6, scale: int = SCALE) -> DataFrame:
    """Top TWO principal components by power iteration with Hotelling
    deflation, run entirely in the plan — the distributed-PCA read
    beyond the single common direction (all-but-the-top removes D
    components, D=2-3 at 300d per Mu & Viswanath; this is the D=2
    rung with a hash-checkable oracle). Component 1 is the standard
    fixed-round iterate over the covariance frame; its eigenvalue is
    the Rayleigh quotient v1' C v1; the DEFLATED covariance
    C2 = round(C - lam1 * v1 v1', 12) removes the first axis, and the
    same fixed rounds over C2 yield component 2 (its Rayleigh
    quotient on C2 estimates eigenvalue 2 of C).

    Convergence caveat (inherent to FIXED rounds): power iteration
    separates components at a rate set by the spectral gap, so on a
    near-flat spectrum (the synthetic embeddings table: 0.0289 vs
    0.0269 at the top) 6 rounds return a deterministic, hash-stable
    MIXTURE of the leading directions — still the exact output of
    the specified procedure on both engines, but read it as "the
    dominant subspace", not a resolved eigenbasis. With a real gap
    (tests/test_operators.py plants var-3 and var-1.1 axes) it
    recovers both components to |cos| > 0.99.

    Exactness: both iterates and both Rayleigh stages reuse the
    matvec's decimal accumulators and 9-rounded iterates; the
    deflation runs in doubles over already-pinned inputs with ONE
    fixed expression shape (c - lam * vi * vj, left-associated) and
    re-rounds to 12 — the same pin covariance_full emits, so rounds
    over C2 are as engine-stable as over C.

    Scale/overhead shape (optimization round 9): ONE distributed gram
    scan, then every stage — both iterates, both Rayleigh quotients,
    the deflation — runs driver-side over the collected d*d
    covariance with bit-identical arithmetic (_power_rounds_local /
    _rayleigh_local; the deflation is the same left-associated
    c - lam * vi * vj double expression re-rounded to 12). The
    previous in-plan form paid ~25 tiny jobs + localCheckpoints over
    4096-row frames: measured 13.5 s in-bench at sf0.1 for what is
    microseconds of arithmetic. Output: (component, i, v, eigval) —
    2d rows.

    EAGER: the gram scan executes at DataFrame-CONSTRUCTION time (the
    covariance collect), so building this frame speculatively pays a
    full pass and scan failures surface at build, not at run."""
    cov, _sums, _n, dims = _collect_cov_local(df, vec_col, scale)
    v1 = _power_rounds_local(cov, dims, n_iter)
    lam1 = _rayleigh_local(cov, v1)
    cov2 = {
        (i, j): _rhu(c - lam1 * v1[i] * v1[j], 12)
        for (i, j), c in cov.items()
    }
    v2 = _power_rounds_local(cov2, dims, n_iter)
    lam2 = _rayleigh_local(cov2, v2)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(1, int(i), float(v1[i]), _rhu(lam1, 9)) for i in dims]
        + [(2, int(i), float(v2[i]), _rhu(lam2, 9)) for i in dims],
        "component int, i int, v double, eigval double",
    )
