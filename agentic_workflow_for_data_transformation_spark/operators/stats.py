"""Distribution statistics for pipeline monitoring (two-sample drift
tests). The reference has nothing comparable (SURVEY.md section 2.9
extension surface); at 100 TB these are the checks a training-data
pipeline runs between snapshots — "did the quality-score / length /
value distribution move?" — before a bad crawl poisons a mix.

Exactness policy: the Kolmogorov-Smirnov statistic is computed as an
INTEGER numerator max|k*m - j*n| over the pooled sample (with n, m the
side sizes), not as a float max|k/n - j/m| — integer arithmetic is
bit-identical in every engine, so the operator hash-matches a plain
SQL oracle; callers divide by n*m when they want the classical D.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_small_input
from .sampling import DRAW_BUCKETS, _hash60, hash_draw, poisson1_weight
from .text import hashed_bow_features


def ks_statistic_cogrouped(left: DataFrame, right: DataFrame,
                           key_col: str = "user_id",
                           value_col: str = "value",
                           shards: int = 256) -> DataFrame:
    """Per-key two-sample KS via ``cogroup().applyInPandas``: for each
    key, D_num = max over pooled values v of |#left<=v * m - #right<=v
    * n| with n=|left|, m=|right| for that key. Emits
    (key, ks_num, n, m) for keys present on both sides.

    This is the cogrouped-map escape hatch (two keyed inputs, one
    Arrow-batched pandas computation per key) — the API tier between
    a single-input grouped map and a full join. The same statistic is
    SQL-expressible (running counts over the pooled union — see the
    registered oracle), which is what keeps this exact and checkable;
    the pandas form exists to cover the cogroup surface and to scale to
    statistics SQL can't express (weighted variants, permutation
    tests).

    Key-coarsening: per-group pandas overhead dominates when keys are
    numerous and tiny (millions of users, a handful of rows each), so
    the cogroup runs on ``key % shards`` — bounded fan-in per task —
    and the true key is grouped INSIDE the pandas function. Same
    result, ~|shards| Arrow round-trips instead of ~|keys|. Set
    ``shards=None`` to cogroup on the raw key (the right call when
    keys are few and groups are big)."""

    def ks_frame(lpdf, rpdf):
        out_keys, out_d, out_n, out_m = [], [], [], []
        lg = {k: g[value_col].to_numpy() for k, g in lpdf.groupby(key_col)}
        rg = {k: g[value_col].to_numpy() for k, g in rpdf.groupby(key_col)}
        for key in lg.keys() & rg.keys():
            lv, rv = np.sort(lg[key]), np.sort(rg[key])
            n, m = len(lv), len(rv)
            pooled = np.unique(np.concatenate([lv, rv]))
            k = np.searchsorted(lv, pooled, side="right").astype("int64")
            j = np.searchsorted(rv, pooled, side="right").astype("int64")
            out_keys.append(key)
            out_d.append(int(np.max(np.abs(k * m - j * n))))
            out_n.append(n)
            out_m.append(m)
        return pd.DataFrame(
            {"key": out_keys, "ks_num": out_d, "n": out_n, "m": out_m}
        )

    schema = "key long, ks_num long, n long, m long"
    lsel = left.select(key_col, value_col)
    rsel = right.select(key_col, value_col)
    if shards:
        shard = F.pmod(F.col(key_col), F.lit(shards)).alias("_shard")
        out = (
            lsel.withColumn("_shard", shard)
            .groupBy("_shard")
            .cogroup(rsel.withColumn("_shard", shard).groupBy("_shard"))
            .applyInPandas(ks_frame, schema=schema)
        )
    else:
        out = (
            lsel.groupBy(key_col)
            .cogroup(rsel.groupBy(key_col))
            .applyInPandas(ks_frame, schema=schema)
        )
    return out.withColumnRenamed("key", key_col)


def groupwise_ols(df: DataFrame, group_col: str, x_col: str, y_col: str,
                  x_decimal: str = "decimal(12,2)",
                  y_decimal: str = "decimal(18,2)") -> DataFrame:
    """Per-group simple linear regression (OLS slope + intercept +
    Pearson r^2) of ``y_col`` on ``x_col`` — the distributed form of
    "fit a line per segment" analytics, in one map-side-combined
    aggregate pass (the five moments n, Sx, Sy, Sxx, Sxy are a
    mergeable monoid, like everything else this engine shuffles).

    Cross-engine exactness: money-like doubles are cast to DECIMAL
    before the moment sums, so the aggregates are EXACT regardless of
    partition/visit order (float sums are order-dependent and would
    drift between engines); the closed-form formulas then run in
    doubles with one fixed expression shape — IEEE ops on identical
    inputs are bit-identical — and only the reported values are
    rounded. Groups with zero x-variance report NULL slope/intercept
    (vertical fit) rather than dividing by zero.
    """
    # the six decimal moment sums (two DECIMAL multiplies per row) are
    # far heavier than the scan; a single-file local input would
    # otherwise run the whole partial aggregate in 1-2 scan tasks
    # (no-op for real multi-file tables)
    df = spread_small_input(df.select(group_col, x_col, y_col))
    x = F.col(x_col).cast(x_decimal)
    y = F.col(y_col).cast(y_decimal)
    m = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(den_x != 0, num / den_x)
    intercept = F.when(
        den_x != 0, (F.col("sy") - (num / den_x) * F.col("sx")) / F.col("n")
    )
    r2 = F.when(
        (den_x != 0) & (den_y != 0), (num * num) / (den_x * den_y)
    )
    return m.select(
        group_col,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def chi_square_cells(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Chi-square test-of-independence CONTRIBUTION TABLE between two
    categorical columns: per (a, b) cell the observed count, the
    independence-expected count row_total * col_total / n, and the
    cell contribution (o - e)^2 / e — the drill-down view that tells
    you WHICH cells drive an association, not just that one exists.
    An integer-microunit contribution (floor(contrib * 1e6)) is
    emitted alongside so callers can SUM it exactly: integer sums are
    partition-order-independent where a float chi2 total would drift.

    Shape: one (a, b) count aggregate, two marginal aggregates, the
    1-row n broadcast via crossJoin, two equi-joins back on the
    marginal keys — every exchange carries count rows, never data
    rows. Cells with observed 0 don't appear (sparse output; their
    contribution is e, derivable from the marginals if a dense table
    is wanted)."""
    o = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("observed"))
    ra = df.groupBy(a_col).agg(F.count(F.lit(1)).alias("_row_total"))
    cb = df.groupBy(b_col).agg(F.count(F.lit(1)).alias("_col_total"))
    n = df.agg(F.count(F.lit(1)).alias("_n"))
    e = (F.col("_row_total") * F.col("_col_total")) / F.col("_n")
    contrib = (F.col("observed") - e) * (F.col("observed") - e) / e
    return (
        o.join(ra, a_col)
        .join(cb, b_col)
        .crossJoin(F.broadcast(n))
        .select(
            a_col,
            b_col,
            "observed",
            F.round(e, 6).alias("expected"),
            F.round(contrib, 6).alias("contrib"),
            F.floor(contrib * 1000000).cast("long").alias("contrib_micro"),
        )
    )


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Shuffle-skew diagnostic: the log2-bucketed histogram of per-key
    row counts — the question to ask BEFORE any big groupBy/join ships
    ("does one key own half the table?"). Each output row is one
    bucket: how many keys fall in [2^b, 2^(b+1)) rows, how many rows
    they carry in total, the largest key in the bucket, and the
    bucket's share of all rows (the top bucket's share is the salting/
    AQE-skew-join decision input). Two aggregates: per-key counts
    (map-side combined), then the tiny per-bucket rollup."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_total"))
    b = counts.withColumn(
        "bucket", F.floor(F.log2("_n")).cast("int")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_n").cast("long").alias("n_rows"),
            F.max("_n").cast("long").alias("max_key_rows"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_keys",
            "n_rows",
            "max_key_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("_total"), 6).alias("row_share"),
        )
    )


def robust_outliers(df: DataFrame, group_col: str, value_col: str,
                    k: float = 3.0) -> DataFrame:
    """Robust per-group outlier report via median / MAD (median
    absolute deviation): rows where |x - median| > k * 1.4826 * MAD —
    the outlier test that, unlike mean/stddev z-scores, is not itself
    dragged by the outliers. Emits per group the median, the MAD, and
    the outlier count.

    Shape: one grouped median, one join back, one grouped median of
    deviations, one join + conditional count — all keyed on the group
    column. Cross-engine: both engines define even-count median as the
    midpoint of the two middle values computed in doubles, and the
    threshold comparison uses one fixed expression shape."""
    med = df.groupBy(group_col).agg(F.median(value_col).alias("_med"))
    dev = df.join(med, group_col).withColumn(
        "_ad", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = dev.groupBy(group_col).agg(F.median("_ad").alias("_mad"))
    flagged = dev.join(mad, group_col).withColumn(
        "_out",
        (F.col("_ad") > k * 1.4826 * F.col("_mad")).cast("long"),
    )
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("_med"), 6).alias("median"),
        F.round(F.max("_mad"), 6).alias("mad"),
        F.sum("_out").cast("long").alias("n_outliers"),
    )


def welch_ttest(df: DataFrame, group_col: str, value_col: str,
                split_col: str, value_decimal: str = "decimal(18,2)") -> DataFrame:
    """Per-group Welch two-sample t-test between the two halves of a
    deterministic split (``split_col % 2``) — the unequal-variance
    drift test a pipeline runs per segment when comparing an A/B
    cohort or two ingest windows (KS is the distribution-shape
    sibling; this is the mean-shift one).

    One map-side-combined aggregate computes the six sufficient
    statistics (n, sum, sum-of-squares per side) with the same
    decimal-exact discipline as groupwise_ols: sums over DECIMAL are
    partition-order independent, then the closed-form t and
    Welch-Satterthwaite df run in doubles with one fixed expression
    shape, rounded only on report. Groups where either side has < 2
    rows or both variances are zero report NULL t (no sampling
    distribution) rather than dividing by zero."""
    d = F.col(value_col).cast(value_decimal)
    a = F.col(split_col) % 2 == 0
    # n counts NON-NULL values (count over the value expression, not a
    # literal) so it matches the rows the sums actually include — a
    # count(when(a, 1)) would inflate n on NULL-bearing value columns,
    # skewing mean/variance (possibly negative -> NaN t); round-8
    # advisor finding
    m = df.groupBy(group_col).agg(
        F.count(F.when(a, d)).alias("n_a"),
        F.sum(F.when(a, d)).cast("double").alias("s_a"),
        F.sum(F.when(a, d * d)).cast("double").alias("ss_a"),
        F.count(F.when(~a, d)).alias("n_b"),
        F.sum(F.when(~a, d)).cast("double").alias("s_b"),
        F.sum(F.when(~a, d * d)).cast("double").alias("ss_b"),
    )
    v_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (F.col("n_a") - 1)
    v_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (F.col("n_b") - 1)
    se2 = v_a / F.col("n_a") + v_b / F.col("n_b")
    t = (F.col("s_a") / F.col("n_a") - F.col("s_b") / F.col("n_b")) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (v_a / F.col("n_a")) * (v_a / F.col("n_a")) / (F.col("n_a") - 1)
        + (v_b / F.col("n_b")) * (v_b / F.col("n_b")) / (F.col("n_b") - 1)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0)
    return m.select(
        group_col,
        "n_a",
        "n_b",
        F.round(F.when(ok, t), 6).alias("t_stat"),
        F.round(F.when(ok, df_w), 6).alias("df_welch"),
    )


def count_min_estimates(df: DataFrame, text_col: str = "text",
                        depth: int = 4, width: int = 256,
                        k: int = 10) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, J.Alg 2005) built
    over the corpus token stream, evaluated against exact counts for
    the top-k tokens — the sketch a streaming pipeline keeps when the
    key space is too large for an exact map, with its one-sided
    overestimate shown next to ground truth (est >= exact always; the
    gap is the collision mass, bounded by 2N/width w.h.p. per row).

    The sketch is DETERMINISTIC given the hash family — no RNG — so
    this has an exact SQL oracle: row r hashes a token to
    md5-60bit(token|r) % width, each of the depth x width cells sums
    the counts hashing into it (a mergeable monoid, one aggregate),
    and the estimate is min over rows of the addressed cells.

    Scale shape: tokens reduce to (token, count) map-side; the sketch
    aggregate exchanges at most depth*width fixed rows regardless of
    corpus size; the top-k probe joins k*depth addressed cells back
    by (row, cell) against the broadcast sketch."""

    tf = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    cell = F.pmod(_hash60(F.concat(F.col("w"), F.lit("|"), F.col("r"))),
                  F.lit(width))
    sketch = (
        tf.select(F.col("w"), F.col("c"), rows)
        .select("c", "r", cell.alias("cell"))
        .groupBy("r", "cell")
        .agg(F.sum("c").alias("cellsum"))
    )
    top = (
        tf.orderBy(F.col("c").desc(), F.col("w"))
        .limit(k)
        .select("w", F.col("c").alias("exact"))
    )
    probes = top.select("w", "exact", rows).select(
        "w", "exact", F.col("r"), cell.alias("cell")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("w", "exact")
        .agg(F.min("cellsum").alias("cm_estimate"))
    )


def winsorize_group(df: DataFrame, col: str, keys: list[str],
                    lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Per-group winsorization: clamp ``col`` into its group's
    [lo, hi] exact-percentile band, adding ``<col>_winsor`` (rounded
    to 6) and ``was_clamped``. Plan shape: one exact-percentile
    aggregate over the grouping keys (tiny output, broadcast back),
    one broadcast join, then a pure per-row least/greatest clamp —
    the fact table never shuffles on a data-sized key. At 100 TB swap
    the exact percentile for percentile_approx (mergeable sketch,
    same broadcast-back shape)."""
    q = df.groupBy(*keys).agg(
        F.expr(f"percentile({col}, {lo!r})").alias("__lo"),
        F.expr(f"percentile({col}, {hi!r})").alias("__hi"),
    )
    return df.join(F.broadcast(q), keys).select(
        *df.columns,
        F.round(
            F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")), 6
        ).alias(f"{col}_winsor"),
        ((F.col(col) < F.col("__lo")) | (F.col(col) > F.col("__hi")))
        .alias("was_clamped"),
    )


def psi_by_split(df: DataFrame, cat_col: str = "lang",
                 id_col: str = "doc_id", test_fraction: float = 0.2,
                 salt: str = "psi", eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between the train and test slices of
    a deterministic hash split: PSI = sum over categories of
    (p_train - p_test) * ln(p_train / p_test). The
    did-my-split-shift-the-distribution audit read next to the
    leakage audit (ns_split_leakage_audit) — a clean random split
    should score well under 0.1; a split keyed on something
    correlated with the category column shows up immediately. Zero
    counts clamp at ``eps`` (the standard PSI guard) so empty cells
    contribute a large-but-finite term instead of infinity.

    Output: one row per category (counts, shares, psi_term) with the
    corpus-level psi_total repeated on every row. Counts are exact
    longs; shares/terms are float64 on exact integer ratios, terms
    rounded to 6 and pinned DECIMAL(12,6) so psi_total is an exact
    decimal sum — partition-order independent, plain-SQL oracle.

    Scale shape: the split flag is a pure per-row md5 draw
    (sampling.hash_draw) — no second scan; one hash aggregate on the
    category key, then category-cardinality rows fold through two
    broadcast 1-row cross joins (totals, then term sum)."""

    cut = int(test_fraction * DRAW_BUCKETS)
    base = df.select(
        F.col(cat_col).alias("category"),
        (hash_draw(F.col(id_col), salt) < cut).alias("_test"),
    )
    cat = base.groupBy("category").agg(
        F.sum(F.when(~F.col("_test"), 1).otherwise(0)).cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("_test"), 1).otherwise(0)).cast("long")
        .alias("n_test"),
    )
    tot = cat.agg(
        F.sum("n_train").alias("_tt"), F.sum("n_test").alias("_te")
    )
    p = F.greatest(F.col("n_train") / F.col("_tt"), F.lit(eps))
    q = F.greatest(F.col("n_test") / F.col("_te"), F.lit(eps))
    terms = cat.crossJoin(F.broadcast(tot)).select(
        "category",
        "n_train",
        "n_test",
        F.round(F.col("n_train") / F.col("_tt"), 8).alias("p_train"),
        F.round(F.col("n_test") / F.col("_te"), 8).alias("p_test"),
        F.round((p - q) * F.log(p / q), 6).cast("decimal(12,6)")
        .alias("_term"),
    )
    total = terms.agg(F.sum("_term").alias("_pt"))
    return terms.crossJoin(F.broadcast(total)).select(
        "category",
        "n_train",
        "n_test",
        "p_train",
        "p_test",
        F.col("_term").cast("double").alias("psi_term"),
        F.round(F.col("_pt").cast("double"), 6).alias("psi_total"),
    )


def train_logreg_hashed_bow(df: DataFrame, d: int = 8, n_iter: int = 2,
                            lr: float = 0.5, target_col: str = "lang",
                            target_val: str = "en",
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Distributed logistic-regression training ON the cluster — the
    fastText-shaped quality/domain classifier every curation pipeline
    eventually trains (CCNet, DSIR and the C4 'badness' filters all
    reduce to a linear model over cheap text features). Features are
    the d-bucket hashed bag-of-words (text.hashed_bow_features); the
    binary target is ``target_col == target_val``; training is
    full-batch gradient descent for a FIXED ``n_iter`` rounds from
    zero weights. Emits (term, value): the bias, every feature
    weight, and the final resubstitution accuracy row ('train_acc').

    Exactness engineering (the same discipline as kmeans_assign and
    the BPE trainer, so even the ITERATED trainer has an unrolled-SQL
    oracle): the per-row logit folds left-to-right over 6-decimal
    weight literals in double; the sigmoid output rounds to 8; each
    gradient contribution rounds to 8 and pins DECIMAL(20,8) so the
    cross-partition gradient sums are exact; the weight update
    round(w + lr * grad / n, 6) runs in double on exact inputs. Every
    iteration's weights are therefore bit-identical on any engine and
    partitioning.

    Scale shape: one explode+aggregate builds the feature table
    (checkpointed once); each iteration is ONE map-side-combinable
    aggregate over it returning d+1 decimals to the driver — bounded
    driver state, like the BPE trainer's 1-row argmax collect. At
    100 TB each round costs a feature-table scan, nothing more."""

    feats = hashed_bow_features(df, d=d, id_col=id_col, text_col=text_col)
    y = F.when(F.col(target_col) == target_val, 1).otherwise(0)
    base = (
        feats.join(df.select(id_col, y.alias("_y")), id_col)
        .localCheckpoint()
    )

    def logit(ws: list[float]) -> F.Column:
        z = F.lit(float(ws[0]))
        for j in range(d):
            z = z + F.lit(float(ws[j + 1])) * F.col(f"f{j}")
        return z

    def prob(ws: list[float]) -> F.Column:
        return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit(ws))), 8)

    ws = [0.0] * (d + 1)
    for _ in range(n_iter):
        err = F.col("_y") - prob(ws)
        aggs = [
            F.sum(F.round(err, 8).cast("decimal(20,8)")).alias("gb"),
            F.count(F.lit(1)).alias("n"),
        ] + [
            F.sum(F.round(err * F.col(f"f{j}"), 8).cast("decimal(20,8)"))
            .alias(f"g{j}")
            for j in range(d)
        ]
        # the update itself runs IN the plan (Spark round = HALF_UP,
        # matching SQL round; Python's round() is banker's and could
        # diverge on an exact half)
        upd = base.agg(*aggs).select(
            F.round(
                F.lit(float(ws[0]))
                + F.lit(lr) * F.col("gb").cast("double") / F.col("n"),
                6,
            ).alias("wb"),
            *[
                F.round(
                    F.lit(float(ws[j + 1]))
                    + F.lit(lr) * F.col(f"g{j}").cast("double") / F.col("n"),
                    6,
                ).alias(f"w{j}")
                for j in range(d)
            ],
        )
        row = upd.collect()[0]
        ws = [row["wb"]] + [row[f"w{j}"] for j in range(d)]
    p = prob(ws)
    acc = base.agg(
        F.round(
            F.sum(F.when((p >= 0.5) == (F.col("_y") == 1), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("value")
    ).select(F.lit("train_acc").alias("term"), "value")
    spark = df.sparkSession
    wrows = spark.createDataFrame(
        [("bias", float(ws[0]))]
        + [(f"f{j}", float(ws[j + 1])) for j in range(d)],
        ["term", "value"],
    )
    return wrows.unionByName(acc)


def logreg_prob(weights: dict[str, float], d: int = 8) -> F.Column:
    """The scoring expression shared by the batch scorer, the
    calibration audit, and the streaming server: left-fold logit over
    6-decimal weight literals (bias under 'bias', features under
    'f<j>'), sigmoid rounded to 8 — the exact per-row arithmetic the
    trainer used, so every consumer scores identically."""
    z = F.lit(float(weights["bias"]))
    for j in range(d):
        z = z + F.lit(float(weights[f"f{j}"])) * F.col(f"f{j}")
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 8)


def score_logreg_hashed_bow(df: DataFrame, weights: dict[str, float],
                            d: int = 8, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Apply a trained hashed-BoW logistic model to documents: emits
    (id, p_score, predicted). The model is d+1 literal decimals folded
    into the projection — no join, no shuffle beyond the feature
    aggregate; the serving half of train_logreg_hashed_bow, and the
    per-batch plan the streaming scorer runs."""

    feats = hashed_bow_features(df, d=d, id_col=id_col, text_col=text_col)
    p = logreg_prob(weights, d=d)
    return feats.select(
        id_col,
        p.alias("p_score"),
        (p >= 0.5).alias("predicted"),
    )


def calibration_report(df: DataFrame, weights: dict[str, float],
                       d: int = 8, n_bins: int = 10,
                       target_col: str = "lang", target_val: str = "en",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Classifier calibration audit (the reliability-diagram table
    behind expected-calibration-error): scores bin into ``n_bins``
    fixed-width probability bins; per bin the count, the exact mean
    predicted probability, the observed positive rate, and their
    absolute gap — a well-calibrated quality filter has small gaps,
    and a miscalibrated one silently over- or under-prunes whole
    corpus slices at any chosen threshold.

    Exactness: p is the trainer's 8-decimal sigmoid; bin assignment
    floor(p * n_bins) is integer-exact on those values (capped at the
    top bin); per-bin p sums pin DECIMAL(18,8); the three ratios are
    single float divisions rounded to 6.

    Scale shape: one feature aggregate, one projection, one bin-keyed
    aggregate (n_bins rows out) — the scan you already pay to score."""

    feats = hashed_bow_features(df, d=d, id_col=id_col, text_col=text_col)
    y = F.when(F.col(target_col) == target_val, 1).otherwise(0)
    base = feats.join(df.select(id_col, y.alias("_y")), id_col)
    p = logreg_prob(weights, d=d)
    binned = base.select(
        F.least(F.floor(p * n_bins), F.lit(n_bins - 1)).cast("int")
        .alias("bin"),
        p.cast("decimal(18,8)").alias("_p"),
        "_y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.sum("_p").cast("double") / F.count(F.lit(1)), 6)
            .alias("mean_p"),
            F.sum("_y").cast("long").alias("n_pos"),
            F.round(F.sum("_y") / F.count(F.lit(1)).cast("double"), 6)
            .alias("frac_pos"),
        )
        .withColumn(
            "calib_gap",
            F.round(
                F.abs(
                    F.round(F.col("mean_p"), 6)
                    - F.round(F.col("frac_pos"), 6)
                ),
                6,
            ),
        )
    )


def auc_report(df: DataFrame, weights: dict[str, float], d: int = 8,
               target_col: str = "lang", target_val: str = "en",
               id_col: str = "doc_id", text_col: str = "text",
               n_buckets: int = 64) -> DataFrame:
    """Exact ROC-AUC of the hashed-BoW logistic scores via the
    Mann-Whitney rank statistic — the threshold-free companion to the
    calibration report (calibration says whether p means what it says;
    AUC says whether the ORDERING separates the classes at all). Tie
    groups contribute the standard half credit, folded into integer
    arithmetic as num2 = sum over distinct scores of
    n_pos_at * (2 * n_neg_below + n_neg_at); AUC = num2 / (2 np nn).
    Everything is integer-exact until the single final division.

    Scale shape: scores collapse to DISTINCT-score rows first (8-
    decimal sigmoid outputs cluster heavily); the cumulative
    negatives-below runs TWO-PHASE like windows.two_phase_row_number —
    an in-bucket window partitioned by floor(p * n_buckets) plus a
    broadcast bucket-offset frame (<= n_buckets + 1 rows, its own
    cumulative keyed by the same non-foldable pmod trick) — so no
    unpartitioned window over data-sized input exists in the plan."""

    feats = hashed_bow_features(df, d=d, id_col=id_col, text_col=text_col)
    y = F.when(F.col(target_col) == target_val, 1).otherwise(0)
    base = feats.join(df.select(id_col, y.alias("_y")), id_col)
    p = logreg_prob(weights, d=d)
    g = (
        base.select(p.alias("_p"), "_y")
        .groupBy("_p")
        .agg(
            F.sum("_y").cast("long").alias("_np"),
            F.sum(1 - F.col("_y")).cast("long").alias("_nn"),
        )
        .withColumn("_b", F.floor(F.col("_p") * n_buckets).cast("long"))
    )
    w_in = (
        Window.partitionBy("_b").orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn(
        "_below_in", F.coalesce(F.sum("_nn").over(w_in), F.lit(0))
    )
    boff = g.groupBy("_b").agg(F.sum("_nn").alias("_bn"))
    w_off = (
        Window.partitionBy(F.pmod(F.col("_b"), F.lit(1))).orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = boff.withColumn(
        "_off", F.coalesce(F.sum("_bn").over(w_off), F.lit(0))
    ).select("_b", "_off")
    scored = g.join(F.broadcast(boff), "_b").withColumn(
        "_below", F.col("_off") + F.col("_below_in")
    )
    return scored.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.round(
            F.sum(
                F.col("_np")
                * (F.lit(2) * F.col("_below") + F.col("_nn"))
            )
            / (
                F.lit(2.0)
                * F.sum("_np").cast("double")
                * F.sum("_nn").cast("double")
            ),
            6,
        ).alias("auc"),
    )


def fleiss_kappa(df: DataFrame, item_col: str, label_col: str,
                 n_raters: int = 5,
                 order_col: str | None = None) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED number
    of ratings per item (Fleiss, Psych. Bull. 1971). The gate a
    labeling pipeline runs on multi-annotator batches before trusting
    majority votes: kappa near 0 means the "labels" are noise, and no
    amount of downstream training fixes that.

    Each item keeps its first ``n_raters`` ratings in ``order_col``
    order (Fleiss requires a constant n); items with fewer ratings are
    dropped and reported in n_items_dropped. The trim is made
    DETERMINISTIC by always appending ``label_col`` as the final sort
    key: kappa depends only on the MULTISET of labels kept per item,
    and (order_col?, label) totally orders that multiset — without the
    tiebreak, an omitted or non-unique order_col would keep an
    arbitrary partition-order-dependent subset of an over-rated item's
    ratings and kappa would be nondeterministic. (The old default of
    ordering by ``item_col`` — constant within the partition — was
    exactly that bug.)
    With n_ij the count of ratings of item i in category j:

        P_i  = (sum_j n_ij^2 - n) / (n (n-1))
        Pbar = mean_i P_i
        p_j  = sum_i n_ij / (N n);   P_e = sum_j p_j^2
        kappa = (Pbar - P_e) / (1 - P_e)

    Exactness: every sufficient statistic is an INTEGER (sum of
    n_ij^2, per-category totals, N) aggregated exactly; Pbar, P_e and
    kappa are single double divisions of those integers — bit-
    identical on any engine, so the oracle is plain SQL. Scale shape:
    one row_number window on item, two hash aggregates, a 1-row
    report; no driver state."""
    keys = (
        [F.col(order_col).asc_nulls_first()] if order_col else []
    ) + [F.col(label_col).asc_nulls_first()]
    w = Window.partitionBy(item_col).orderBy(*keys)
    trimmed = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_raters)
    )
    per_item = trimmed.groupBy(item_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    kept = per_item.filter(F.col("_n") == n_raters).select(item_col)
    n_dropped = per_item.filter(F.col("_n") < n_raters).select(
        F.count(F.lit(1)).cast("long").alias("n_items_dropped")
    )
    nij = (
        trimmed.join(kept, item_col)
        .groupBy(item_col, label_col)
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
    )
    cat = nij.groupBy(label_col).agg(F.sum("nij").alias("cj"))
    cat_tot = cat.agg(
        F.count(F.lit(1)).cast("int").alias("n_categories"),
        F.sum(F.col("cj") * F.col("cj")).cast("long").alias("c2"),
    )
    item_tot = nij.agg(
        F.count_distinct(F.col(item_col)).cast("long").alias("n_items"),
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("s2"),
    )
    n = F.lit(int(n_raters)).cast("long")
    nn = F.col("n_items") * n
    p_bar = (
        (F.col("s2") - nn).cast("double")
        / (nn * (n - F.lit(1))).cast("double")
    )
    p_e = F.col("c2").cast("double") / (nn * nn).cast("double")
    return (
        item_tot.crossJoin(F.broadcast(cat_tot))
        .crossJoin(F.broadcast(n_dropped))
        .select(
            "n_items",
            F.lit(int(n_raters)).cast("int").alias("n_raters"),
            "n_categories",
            "n_items_dropped",
            F.round(p_bar, 6).alias("p_bar"),
            F.round(p_e, 6).alias("p_e"),
            F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("kappa"),
        )
    )


def krippendorff_alpha(df: DataFrame, item_col: str,
                       label_col: str) -> DataFrame:
    """Krippendorff's alpha (nominal data) — the agreement coefficient
    that, unlike Fleiss' kappa, needs NO fixed number of ratings per
    item: every item with >= 2 ratings contributes all its rating
    pairs through the coincidence-matrix formulation (Krippendorff,
    Content Analysis; nominal metric). The right gate when annotator
    counts vary — redundant labeling, partial re-review, vote top-ups.

    With n_ic the count of category c in item i, n_i = sum_c n_ic
    (items with n_i >= 2 only), marginals n_c = sum_i n_ic,
    n = sum_c n_c:

        sum_c o_cc = sum_i [ sum_c n_ic (n_ic - 1) ] / (n_i - 1)
        D_o = n - sum_c o_cc                (observed disagreement)
        D_e = (n^2 - sum_c n_c^2) / (n - 1) (expected disagreement)
        alpha = 1 - D_o / D_e

    Exactness: each item's quotient is a double division of two exact
    integers (identical IEEE result on any engine) rounded to 12 and
    pinned DECIMAL(24,12), so the cross-item sum is partition-order
    exact; marginals are pure integers; alpha is closed-form doubles
    from those exact terms. Scale shape: one (item,label) hash
    aggregate, one per-item fold, two global 1-row aggregates — no
    windows, no joins against data-sized sides, no driver state."""
    nij = df.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    )
    per_item = nij.groupBy(item_col).agg(
        F.sum("nij").cast("long").alias("ni"),
        F.sum(F.col("nij") * (F.col("nij") - 1)).cast("long").alias("ai"),
    )
    pairable = per_item.filter(F.col("ni") >= 2)
    dropped = per_item.filter(F.col("ni") < 2).agg(
        F.count(F.lit(1)).cast("long").alias("n_items_dropped")
    )
    occ = pairable.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(
            F.round(
                F.col("ai").cast("double") / (F.col("ni") - 1).cast("double"),
                12,
            ).cast("decimal(24,12)")
        ).alias("_socc"),
    )
    marg = (
        nij.join(pairable.select(item_col), item_col)
        .groupBy(label_col)
        .agg(F.sum("nij").cast("long").alias("nc"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_categories"),
            F.sum("nc").cast("long").alias("n_ratings"),
            F.sum(F.col("nc") * F.col("nc")).cast("long").alias("_nc2"),
        )
    )
    n = F.col("n_ratings").cast("double")
    d_o = n - F.col("_socc").cast("double")
    d_e = (n * n - F.col("_nc2").cast("double")) / (n - F.lit(1.0))
    return (
        occ.crossJoin(F.broadcast(marg))
        .crossJoin(F.broadcast(dropped))
        .select(
            "n_items",
            "n_items_dropped",
            "n_ratings",
            "n_categories",
            F.round(d_o, 6).alias("d_observed"),
            F.round(d_e, 6).alias("d_expected"),
            F.round(F.lit(1.0) - d_o / d_e, 6).alias("alpha"),
        )
    )


BENFORD_EXPECTED = {
    d: round(__import__("math").log10(1.0 + 1.0 / d), 6) for d in range(1, 10)
}


def benford_audit(df: DataFrame, col: str = "value") -> DataFrame:
    """Benford's-law first-digit audit — the data-forensics screen for
    fabricated or truncated numeric columns: naturally-occurring
    multi-scale magnitudes put digit d first with probability
    log10(1 + 1/d) (~30% ones, ~4.6% nines); synthetic, capped, or
    hand-entered columns don't. Emits per leading digit the observed
    count, share, the Benford expectation, and the excess — read the
    excess column for the bump that says someone generated these
    numbers.

    Exactness: the leading digit comes from the DECIMAL(18,6) string
    rendering (identical across engines — trailing-zero scale 6,
    '.'/'-' stripped, leading zeros trimmed), never from float
    log10 whose power-of-ten boundaries differ in ULPs; counts are
    integers, shares single rounded divisions, expectations frozen
    6-decimal literals (BENFORD_EXPECTED). Zero and NULL values drop
    out (no leading digit). Scale shape: one scan, one 9-group hash
    aggregate, a broadcast 1-row total."""
    s = F.col(col).cast("decimal(18,6)").cast("string")
    digits = F.regexp_replace(F.regexp_replace(s, "[.-]", ""), "^0+", "")
    rows = (
        df.filter(F.col(col).isNotNull())
        .select(F.substring(digits, 1, 1).alias("digit"))
        .filter(F.col("digit") != "")
    )
    counts = rows.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("_tot"))
    expected = F.col("digit")
    emap = None
    for d, e in BENFORD_EXPECTED.items():
        cond = F.when(F.col("digit") == str(d), F.lit(e))
        emap = cond if emap is None else emap.when(
            F.col("digit") == str(d), F.lit(e)
        )
    share = F.round(F.col("n_obs") / F.col("_tot").cast("double"), 6)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            share.alias("share"),
            emap.alias("benford_expected"),
            F.round(
                F.col("n_obs") / F.col("_tot").cast("double") - emap, 6
            ).alias("excess"),
        )
    )


def _boot_draw(key: F.Column, rep: F.Column, salt: str,
               draw: str) -> F.Column:
    """Per-(row, replicate) uniform in [0, 1e6). draw='md5' is the
    engine-portable default every oracle replicates; draw='xxhash64'
    is the Spark-native production path — measured 6.1 s -> 1.6 s on
    the sf0.1 bootstrap (the md5-over-string draw IS the op's
    bottleneck), but DuckDB has no xxhash64, so the fast mode trades
    the cross-engine hash check for a rows/shape check. Same weights
    domain, same cutoffs, different (equally deterministic) stream."""

    if draw == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), key, rep),
                      F.lit(DRAW_BUCKETS))
    if draw != "md5":
        raise ValueError(f"draw must be 'md5' or 'xxhash64': {draw!r}")
    return hash_draw(
        F.concat_ws("|", key.cast("string"), rep.cast("string")), salt
    )


def poisson_bootstrap_ci(df: DataFrame, group_col: str, val_col: str,
                         key_col: str, n_boot: int = 40,
                         salt: str = "boot",
                         draw: str = "md5") -> DataFrame:
    """Per-group bootstrap confidence interval for the mean via the
    POISSON bootstrap (Chamandy et al., Google 2012; the resampling
    scheme that scales where classical resampling cannot): instead of
    materializing B resampled datasets, every row contributes a
    Poisson(1) weight to each of B replicates, so B bootstrap means
    come out of ONE corpus scan. Reports the group mean with the
    [2.5%, 97.5%] nearest-rank percentile interval over the replicate
    means — the uncertainty band a metrics dashboard needs before
    calling a between-group difference real.

    Determinism: the per-(row, replicate) weight is a HASH draw
    (sampling.hash_draw on key|replicate), never an RNG, inverted
    through the shared integer Poisson(1) CDF cutoffs
    (sampling.POISSON1_CUTOFFS) — both engines compare the same
    integers. Weighted sums carry DECIMAL(18,2) values times integer
    weights (exact under any partition order); each replicate mean is
    one double division rounded to 6; the rank over replicate means
    ties on the replicate id.

    Scale shape: the explode to B replicates happens INSIDE the map
    stage and is collapsed by map-side partial aggregation to
    (group x B) partial rows before the only corpus-sized exchange —
    at any corpus size the shuffle carries groups*B rows. The rank
    window partitions by group over B rows."""

    val = F.col(val_col).cast("decimal(18,2)")
    # the replicate explode does n_boot md5 draws per row — orders of
    # magnitude more work than the scan, so a single small input file
    # must not pin the whole map stage to one task (same rationale as
    # the shingling ops). Weighted sums are decimal-exact, so the
    # round-robin repartition cannot move any digit.
    rep = (
        spread_small_input(
            df.select(F.col(group_col), F.col(key_col).alias("_k"),
                      val.alias("_v"))
        )
        .withColumn(
            "r", F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1)))
        )
    )
    w = poisson1_weight(_boot_draw(F.col("_k"), F.col("r"), salt, draw))
    means = (
        rep.select(group_col, "r", w.alias("_w"), "_v")
        .groupBy(group_col, "r")
        .agg(
            F.sum("_w").cast("long").alias("_nw"),
            F.sum(
                (F.col("_w").cast("decimal(10,0)") * F.col("_v"))
                .cast("decimal(38,2)")
            ).alias("_sw"),
        )
        .select(
            group_col,
            "r",
            F.when(
                F.col("_nw") > 0,
                F.round(
                    F.col("_sw").cast("double") / F.col("_nw").cast("double"),
                    6,
                ),
            ).alias("mean_r"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.col("mean_r").asc_nulls_first(), F.col("r")
        )
    )
    lo_rank = max(1, math.ceil(0.025 * n_boot))
    hi_rank = math.ceil(0.975 * n_boot)
    boot = (
        means.withColumn("_rn", rnk)
        .groupBy(group_col)
        .agg(
            F.max(F.when(F.col("_rn") == lo_rank, F.col("mean_r"))).alias(
                "boot_lo"
            ),
            F.max(F.when(F.col("_rn") == hi_rank, F.col("mean_r"))).alias(
                "boot_hi"
            ),
            F.count(F.lit(1)).cast("int").alias("n_replicates"),
        )
    )
    point = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum(val).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_value"),
    )
    return point.join(boot, group_col).select(
        group_col, "n_rows", "mean_value", "boot_lo", "boot_hi",
        "n_replicates",
    )


def bootstrap_diff_ci(df: DataFrame, group_col: str, val_col: str,
                      key_col: str, cohort: F.Column, n_boot: int = 40,
                      salt: str = "boot",
                      draw: str = "md5") -> DataFrame:
    """Per-group Poisson-bootstrap CI for the DIFFERENCE of cohort
    means — the A/B readout next to the Welch t-test (welch_ttest
    answers "is the shift real under normal-theory assumptions";
    this answers it distribution-free, from the same one scan).
    ``cohort`` is a boolean column expression: True rows form cohort
    A, False rows cohort B. Each replicate draws the SAME Poisson(1)
    weight per row as poisson_bootstrap_ci (a row sits in exactly one
    cohort, so reuse is sound and keeps the draw domain shared);
    diff_r = mean_A,r - mean_B,r, and the interval is the nearest-rank
    [2.5%, 97.5%] band over the B diffs. ``significant`` = the band
    excludes zero.

    Scale shape: identical to poisson_bootstrap_ci — the replicate
    explode collapses map-side to (group x B) partials carrying FOUR
    sums each; everything after the one exchange is group-cardinality.
    Determinism: hash draws, decimal-exact weighted sums, one double
    division per cohort per replicate, rank ties on replicate id."""

    val = F.col(val_col).cast("decimal(18,2)")
    # same single-small-file guard as poisson_bootstrap_ci: the
    # n_boot-way explode + md5 draw is the expensive part and must
    # parallelize even when the scan is one task
    rep = (
        spread_small_input(
            df.select(
                F.col(group_col),
                F.col(key_col).alias("_k"),
                val.alias("_v"),
                cohort.cast("boolean").alias("_a"),
            )
        )
        .withColumn(
            "r", F.explode(F.sequence(F.lit(0), F.lit(int(n_boot) - 1)))
        )
    )
    w = poisson1_weight(_boot_draw(F.col("_k"), F.col("r"), salt, draw))
    wv = (F.col("_w").cast("decimal(10,0)") * F.col("_v")).cast(
        "decimal(38,2)"
    )
    sums = (
        rep.select(group_col, "r", w.alias("_w"), "_v", "_a")
        .groupBy(group_col, "r")
        .agg(
            F.sum(F.when(F.col("_a"), F.col("_w"))).cast("long")
            .alias("_nwa"),
            F.sum(F.when(F.col("_a"), wv)).alias("_swa"),
            F.sum(F.when(~F.col("_a"), F.col("_w"))).cast("long")
            .alias("_nwb"),
            F.sum(F.when(~F.col("_a"), wv)).alias("_swb"),
        )
    )
    diff = F.when(
        (F.col("_nwa") > 0) & (F.col("_nwb") > 0),
        F.round(
            F.col("_swa").cast("double") / F.col("_nwa").cast("double")
            - F.col("_swb").cast("double") / F.col("_nwb").cast("double"),
            6,
        ),
    )
    means = sums.select(group_col, "r", diff.alias("diff_r"))
    rnk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(
            F.col("diff_r").asc_nulls_first(), F.col("r")
        )
    )
    lo_rank = max(1, math.ceil(0.025 * n_boot))
    hi_rank = math.ceil(0.975 * n_boot)
    boot = (
        means.withColumn("_rn", rnk)
        .groupBy(group_col)
        .agg(
            F.max(F.when(F.col("_rn") == lo_rank, F.col("diff_r"))).alias(
                "boot_lo"
            ),
            F.max(F.when(F.col("_rn") == hi_rank, F.col("diff_r"))).alias(
                "boot_hi"
            ),
            F.count(F.lit(1)).cast("int").alias("n_replicates"),
        )
    )
    point = (
        df.select(
            F.col(group_col),
            val.alias("_v"),
            cohort.cast("boolean").alias("_a"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.when(F.col("_a"), F.lit(1))).cast("long")
            .alias("n_a"),
            F.count(F.when(~F.col("_a"), F.lit(1))).cast("long")
            .alias("n_b"),
            F.round(
                F.sum(F.when(F.col("_a"), F.col("_v"))).cast("double")
                / F.count(F.when(F.col("_a"), F.lit(1))).cast("double")
                - F.sum(F.when(~F.col("_a"), F.col("_v"))).cast("double")
                / F.count(F.when(~F.col("_a"), F.lit(1))).cast("double"),
                6,
            ).alias("mean_diff"),
        )
    )
    return point.join(boot, group_col).select(
        group_col,
        "n_a",
        "n_b",
        "mean_diff",
        "boot_lo",
        "boot_hi",
        ((F.col("boot_lo") > 0) | (F.col("boot_hi") < 0)).alias(
            "significant"
        ),
        "n_replicates",
    )


def mutual_information(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Mutual information between two categorical columns, with the
    marginal entropies and the normalized MI (mi / sqrt(h_a * h_b),
    the symmetric [0,1] association score) — the feature-selection /
    redundancy readout next to chi_square_cells: chi-square answers
    "is there an association", MI answers "how many bits does one
    column carry about the other". Corpus use: lang x source MI near
    h_lang means source determines language — a stratified split on
    source silently stratifies language too.

    Extends the reference's group-by aggregate surface
    (agentic_workflow_transformation.py:341-361) with the
    information-theoretic dependence audit; no counterpart exists
    there.

    Exactness: every term ((n_xy/n) * ln(n_xy*n / (n_x*n_y)), and the
    marginal-entropy terms) is computed in float64 from exact BIGINT
    counts with an identical operation shape on both engines, rounded
    to 12 and pinned DECIMAL(28,12) so the SUMS are partition-order
    exact; the final mi/h/nmi round to 6. Rows where either column is
    NULL are excluded (both marginals and n computed over the same
    complete rows, so the cell probabilities stay a distribution).

    Scale shape: ONE scan builds the (a, b) contingency aggregate
    (map-side combined); marginals, total and entropies all derive
    from that tiny cell frame — never a second pass over the data.
    The joins are broadcast cell-frame joins; output is one row."""
    joint = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_nab"))
    )
    # four consumers (marginals, total, MI sum) share the tiny cell
    # frame; a lazy checkpoint materializes the contingency scan ONCE
    # at first execution instead of four times (winnowing discipline)
    joint = joint.localCheckpoint(eager=False)
    ra = joint.groupBy(a_col).agg(F.sum("_nab").cast("long").alias("_na"))
    cb = joint.groupBy(b_col).agg(F.sum("_nab").cast("long").alias("_nb"))
    tot = joint.agg(
        F.sum("_nab").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    mi_term = F.round(
        (F.col("_nab").cast("double") / F.col("_n"))
        * F.log(
            F.col("_nab").cast("double") * F.col("_n")
            / (F.col("_na").cast("double") * F.col("_nb"))
        ),
        12,
    ).cast("decimal(28,12)")
    mi = (
        joint.join(F.broadcast(ra), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term).alias("_mi"))
    )

    def _marg_entropy(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        term = F.round(
            (F.col(cnt).cast("double") / F.col("_n"))
            * F.log(F.col("_n").cast("double") / F.col(cnt)),
            12,
        ).cast("decimal(28,12)")
        return marg.crossJoin(F.broadcast(tot.select("_n"))).agg(
            F.sum(term).alias(out)
        )

    ha = _marg_entropy(ra, "_na", "_ha")
    hb = _marg_entropy(cb, "_nb", "_hb")
    one = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
    )
    mi_d = F.round(F.col("_mi").cast("double"), 6)
    ha_d = F.round(F.col("_ha").cast("double"), 6)
    hb_d = F.round(F.col("_hb").cast("double"), 6)
    return one.select(
        F.col("_n").alias("n"),
        "n_cells",
        mi_d.alias("mi"),
        ha_d.alias("h_a"),
        hb_d.alias("h_b"),
        F.when(
            (ha_d > 0) & (hb_d > 0),
            F.round(mi_d / F.sqrt(ha_d * hb_d), 6),
        ).alias("nmi"),
    )


def kendall_tau_b(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Kendall tau-b across LOW-CARDINALITY numeric/ordinal
    columns — the concordance view of association next to Pearson
    (x_corr_matrix) and Spearman (x_spearman_matrix): what fraction of
    row pairs are ordered the same way in both columns, tie-corrected
    (tau-b). One row per unordered pair:
    (col_a, col_b, n, concordant, discordant, tau_b).

    Method — the contingency-cell form: the naive definition is a
    row-pair double sum (O(n^2), dead at any scale). But concordance
    only depends on the JOINT DISTRIBUTION, so ONE scan builds the
    d-column cell aggregate; each pair's contingency table derives
    from that frame by re-aggregation, and C/D come from a cell
    self-join — O(cells^2) work on an aggregate-sized frame, never on
    data. This is exact ONLY when the profiled columns are genuinely
    low-cardinality (flags, grades, small discrete measures); for
    continuous columns the cell frame approaches |df| and the
    self-join explodes — use spearman_matrix there (the rank path is
    the continuous sibling), or bucket first.

    Exactness: C, D and the tie terms are integer cell-count products
    summed as DECIMAL(38,0) (exact, partition-order independent; a
    BIGINT product overflows at ~1e10-row cells); n0/n1/n2 use the
    same decimal arithmetic since n*(n-1)/2 exceeds int64 beyond
    ~4e9 rows. tau_b = (C - D) / (sqrt(n0-n1) * sqrt(n0-n2)) runs in
    doubles on the exact sums (the sqrt split keeps the product
    inside float range where a decimal product would overflow),
    rounded to 6; NULL when either column is constant."""
    base = (
        df.select(*cols)
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint(eager=False)
    )
    pair_frames = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = cols[i], cols[j]
            cells = (
                base.where(F.col(a).isNotNull() & F.col(b).isNotNull())
                .groupBy(F.col(a).alias("_x"), F.col(b).alias("_y"))
                .agg(F.sum("_c").cast("decimal(19,0)").alias("_n"))
            )
            l = cells.select(
                F.col("_x").alias("_x1"), F.col("_y").alias("_y1"),
                F.col("_n").alias("_n1"),
            )
            r = cells.select(
                F.col("_x").alias("_x2"), F.col("_y").alias("_y2"),
                F.col("_n").alias("_n2"),
            )
            prod = (F.col("_n1") * F.col("_n2")).cast("decimal(38,0)")
            cd = (
                l.join(r, F.col("_x2") > F.col("_x1"))
                .agg(
                    F.sum(
                        F.when(F.col("_y2") > F.col("_y1"), prod)
                    ).alias("_conc"),
                    F.sum(
                        F.when(F.col("_y2") < F.col("_y1"), prod)
                    ).alias("_disc"),
                )
            )
            half = F.lit(2).cast("decimal(38,0)")
            tx = cells.groupBy("_x").agg(
                F.sum("_n").cast("decimal(19,0)").alias("_t")
            ).agg(
                F.sum(
                    (F.col("_t") * (F.col("_t") - 1)).cast("decimal(38,0)")
                ).alias("_sx"),
            )
            ty = cells.groupBy("_y").agg(
                F.sum("_n").cast("decimal(19,0)").alias("_t")
            ).agg(
                F.sum(
                    (F.col("_t") * (F.col("_t") - 1)).cast("decimal(38,0)")
                ).alias("_sy"),
            )
            tot = cells.agg(F.sum("_n").cast("decimal(19,0)").alias("_nn"))
            one = (
                cd.crossJoin(F.broadcast(tot))
                .crossJoin(F.broadcast(tx))
                .crossJoin(F.broadcast(ty))
            )
            conc = F.coalesce(F.col("_conc"), F.lit(0).cast("decimal(38,0)"))
            disc = F.coalesce(F.col("_disc"), F.lit(0).cast("decimal(38,0)"))
            n0x2 = (F.col("_nn") * (F.col("_nn") - 1)).cast("decimal(38,0)")
            den_x = (n0x2 - F.col("_sx")).cast("double") / 2.0
            den_y = (n0x2 - F.col("_sy")).cast("double") / 2.0
            pair_frames.append(
                one.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("_nn").cast("long").alias("n"),
                    conc.cast("long").alias("concordant"),
                    disc.cast("long").alias("discordant"),
                    F.when(
                        (den_x > 0) & (den_y > 0),
                        F.round(
                            (conc - disc).cast("double")
                            / (F.sqrt(den_x) * F.sqrt(den_y)),
                            6,
                        ),
                    ).alias("tau_b"),
                )
            )
    out = pair_frames[0]
    for f in pair_frames[1:]:
        out = out.unionByName(f)
    return out


def anova_oneway(df: DataFrame, group_col: str, value_col: str,
                 value_decimal: str = "decimal(18,2)") -> DataFrame:
    """One-way ANOVA over a categorical factor: the k-group
    generalization of welch_ttest — "does the value's MEAN differ
    across groups at all?" — reported as the classical F statistic
    plus eta-squared (the fraction of total variance the factor
    explains, the effect size the F alone hides). Corpus use: quality
    score by source, token count by language — one row answers whether
    a per-group curation policy is even warranted.

    Extends the reference's group-by aggregate surface
    (agentic_workflow_transformation.py:341-361) with the variance
    decomposition; no counterpart exists there.

    Exactness: one map-side-combined aggregate per group computes
    (n_g, sum, sum-of-squares) over DECIMAL (partition-order exact, the
    welch_ttest discipline); the per-group s_g^2/n_g term is computed
    in float64 from those exact sums, rounded to 12 and pinned
    DECIMAL(28,12) so the k-term reduction is order-exact too; the
    closed-form F / eta^2 then run in doubles with one fixed expression
    shape, rounded only on report. Rows where either column is NULL are
    excluded. Degenerate inputs (k < 2, N <= k, zero within-variance)
    report NULL F rather than dividing by zero.

    Shape: ONE data scan (grouped sufficient statistics, map-side
    combined), then a k-row reduction to a single output row — nothing
    downstream of the first aggregate ever touches data rows."""
    d = F.col(value_col).cast(value_decimal)
    g = (
        df.where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(d).cast("long").alias("_ng"),
            F.sum(d).alias("_sg"),
            F.sum(d * d).alias("_ssg"),
        )
    )
    w_term = F.round(
        F.col("_sg").cast("double") * F.col("_sg").cast("double")
        / F.col("_ng"),
        12,
    ).cast("decimal(28,12)")
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_ng").cast("long").alias("n"),
        F.sum("_sg").cast("double").alias("_s"),
        F.sum("_ssg").cast("double").alias("_ss"),
        F.sum(w_term).cast("double").alias("_w"),
    )
    ssb = F.col("_w") - F.col("_s") * F.col("_s") / F.col("n")
    ssw = F.col("_ss") - F.col("_w")
    # Guard on the REPORT-scale ssw: the raw float64 difference carries
    # ~1e-8 representation noise that the two engines resolve
    # differently around exact zero (e.g. a singleton group whose
    # s^2/n term round-trips through round(double, 12)); at scale 6
    # both engines agree because any true nonzero ssw of 2-decimal
    # data is >= 2.5e-5.
    ok = (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (F.round(ssw, 6) > 0)
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return tot.select(
        "k",
        "n",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(F.when(ok, f_stat), 6).alias("f_stat"),
        F.round(F.when(ok, ssb / (ssb + ssw)), 6).alias("eta_sq"),
    )


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V between two categorical columns: the chi-square
    association rescaled to [0, 1] so it is comparable ACROSS column
    pairs regardless of table size or level counts — the one-number
    companion to chi_square_cells (which localizes the association)
    and mutual_information (its information-theoretic sibling).

    Exactness: the contingency cells, marginals and n are exact BIGINT
    counts from one scan; each cell's (o - e)^2 / e runs in float64
    with an identical shape on both engines, rounded to 12 and pinned
    DECIMAL(28,12) so the chi2 SUM is partition-order exact; V =
    sqrt(chi2 / (n * min(r-1, c-1))) rounds to 6 on report. NULL rows
    in either column are excluded so the cell counts stay a
    distribution. Single-level degenerate inputs report NULL V.

    Shape: one (a, b) cell aggregate (map-side combined); marginals and
    the level counts derive from the tiny cell frame (localCheckpoint
    so the cell scan materializes once — the mutual_information
    discipline); broadcast joins; one output row."""
    joint = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_o"))
    )
    joint = joint.localCheckpoint(eager=False)
    ra = joint.groupBy(a_col).agg(F.sum("_o").cast("long").alias("_na"))
    cb = joint.groupBy(b_col).agg(F.sum("_o").cast("long").alias("_nb"))
    tot = joint.agg(F.sum("_o").cast("long").alias("n"))
    levels = (
        ra.agg(F.count(F.lit(1)).cast("long").alias("r_levels"))
        .crossJoin(
            F.broadcast(
                cb.agg(F.count(F.lit(1)).cast("long").alias("c_levels"))
            )
        )
    )
    e = F.col("_na").cast("double") * F.col("_nb") / F.col("n")
    cell = F.round(
        (F.col("_o") - e) * (F.col("_o") - e) / e, 12
    ).cast("decimal(28,12)")
    chi2 = (
        joint.join(F.broadcast(ra), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(cell).alias("_chi2"))
    )
    one = tot.crossJoin(F.broadcast(levels)).crossJoin(F.broadcast(chi2))
    chi2_d = F.round(F.col("_chi2").cast("double"), 6)
    dmin = F.least(F.col("r_levels"), F.col("c_levels")) - 1
    return one.select(
        "n",
        "r_levels",
        "c_levels",
        chi2_d.alias("chi2"),
        F.when(
            dmin >= 1,
            F.round(F.sqrt(chi2_d / (F.col("n") * dmin)), 6),
        ).alias("cramers_v"),
    )


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str, value_decimal: str = "decimal(18,2)",
                       bucket_width: int = 4096) -> DataFrame:
    """Quantile normalization across groups (the microarray-era
    technique, Bolstad et al. 2003, applied to pipeline features):
    force every group's value distribution onto the SAME reference
    distribution — the mean of the groups' order statistics — so
    downstream thresholds compare like with like across sources whose
    scoring scales drift. Classical QN assumes equal group sizes, so
    each group is first trimmed to the smallest group's size n_min
    with a deterministic (value, id) order — the trim is part of the
    contract, not an implementation accident.

    Output: one row per surviving (group, rank) with the original
    value and the normalized value (the cross-group mean of that
    rank's order statistic, exact DECIMAL sum / group count).

    Shape: one per-group count aggregate reduced to a broadcast 1-row
    n_min; the per-group rank is built with the TWO-PHASE bucketed
    cumulative (the x_spearman_matrix recipe) rather than one
    group-sized window sort: scale-2 decimals are exact integer
    "cents", a coarse monotone bucket floor(cents / width) partitions
    the in-bucket rank window on (group, bucket), and the per-bucket
    counts — a frame bounded by value-range/width per group, never by
    the data — cumulate into broadcast offsets. Parallelism is
    groups x buckets instead of the group count, so a single huge
    group no longer serializes onto one reducer. Then one rank-keyed
    mean aggregate (k rows per rank) and one rank equi-join back —
    the rank join is uniform by construction (every rank appears
    exactly k times)."""
    d = F.col(value_col).cast(value_decimal)
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col), F.col(id_col), d.alias("_v"))
    nmin = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_ng")
    ).agg(F.min("_ng").alias("_nmin"))
    # two-phase per-group rank: bucket is monotone in _v (exact cents,
    # so equal values can never straddle a bucket boundary and the
    # (value, id) tie-break stays inside one in-bucket window)
    scale = 10 ** int(value_decimal.rstrip(")").split(",")[1])
    bucket = F.floor((F.col("_v") * scale).cast("long") / F.lit(bucket_width))
    b = base.withColumn("_b", bucket)
    w_in = Window.partitionBy(group_col, "_b").orderBy("_v", id_col)
    in_ranked = b.withColumn("_ir", F.row_number().over(w_in))
    bcounts = b.groupBy(group_col, "_b").agg(
        F.count(F.lit(1)).alias("_bc")
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = bcounts.withColumn(
        "_off", F.sum("_bc").over(w_off) - F.col("_bc")
    ).select(group_col, "_b", "_off")
    ranked = (
        in_ranked.join(F.broadcast(offsets), [group_col, "_b"])
        .withColumn("rank", (F.col("_off") + F.col("_ir")).cast("int"))
        .crossJoin(F.broadcast(nmin))
        .where(F.col("rank") <= F.col("_nmin"))
        .drop("_nmin", "_b", "_ir", "_off")
    )
    # the reference distribution and the output both consume the
    # trimmed ranked frame; a lazy checkpoint materializes the rank
    # window ONCE instead of sorting the data twice
    ranked = ranked.localCheckpoint(eager=False)
    ref = ranked.groupBy("rank").agg(
        (F.sum("_v").cast("double") / F.count(F.lit(1))).alias("_ref")
    )
    return ranked.join(ref, "rank").select(
        group_col,
        id_col,
        "rank",
        F.col("_v").cast("double").alias("value"),
        F.round(F.col("_ref"), 6).alias("normalized"),
    )
