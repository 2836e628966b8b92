"""Statistics (operators/stats.py): tests, bootstrap, association,
agreement, regression, calibration and outlier measures.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import stats
from ..operators.sampling import POISSON1_CUTOFFS
from ..operators.stats import BENFORD_EXPECTED
from ..plans.sqlgen import spec_to_sql
from ..session import memo


register(
    "ns_ks_drift_per_user",
    # pooled-ECDF running counts; RANGE frame (the ORDER BY default)
    # counts all rows with value <= current, matching searchsorted-right
    "WITH u AS (SELECT user_id, value, "
    " CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_c, "
    " CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v "
    " FROM events WHERE event_type IN ('click', 'view')), "
    "tot AS (SELECT user_id, CAST(sum(is_c) AS BIGINT) AS n, "
    " CAST(sum(is_v) AS BIGINT) AS m FROM u GROUP BY 1), "
    "r AS (SELECT user_id, "
    " sum(is_c) OVER (PARTITION BY user_id ORDER BY value) AS k, "
    " sum(is_v) OVER (PARTITION BY user_id ORDER BY value) AS j "
    " FROM u) "
    "SELECT r.user_id, CAST(max(abs(k * m - j * n)) AS BIGINT) AS ks_num, n, m "
    "FROM r JOIN tot USING (user_id) WHERE n > 0 AND m > 0 "
    "GROUP BY r.user_id, n, m",
)(
    lambda spark, sf_dir: stats.ks_statistic_cogrouped(
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "click"),
        _t(spark, sf_dir, "events").filter(F.col("event_type") == "view"),
        key_col="user_id", value_col="value",
    )
)


register(
    "ns_stats_chi_square",
    "WITH o AS (SELECT lang, source, count(*) AS observed FROM documents GROUP BY lang, source), "
    "ra AS (SELECT lang, count(*) AS rt FROM documents GROUP BY lang), "
    "cb AS (SELECT source, count(*) AS ct FROM documents GROUP BY source), "
    "t AS (SELECT count(*) AS n FROM documents) "
    "SELECT lang, source, observed, "
    "round((rt * ct) / n, 6) AS expected, "
    "round((observed - (rt * ct) / n) * (observed - (rt * ct) / n) / ((rt * ct) / n), 6) AS contrib, "
    "CAST(floor((observed - (rt * ct) / n) * (observed - (rt * ct) / n) / ((rt * ct) / n) * 1000000) AS BIGINT) AS contrib_micro "
    "FROM o JOIN ra USING (lang) JOIN cb USING (source) CROSS JOIN t",
    desc=(
        "Chi-square independence contribution table for lang x source: "
        "per-cell observed vs independence-expected counts and the "
        "(o-e)^2/e contribution — the drill-down that names WHICH cells "
        "drive an association. Integer-microunit contributions sum "
        "exactly (partition-order-independent) where a float chi2 total "
        "would drift. Three count aggregates + two marginal equi-joins."
    ),
)(
    lambda spark, sf_dir: stats.chi_square_cells(
        _t(spark, sf_dir, "documents"), "lang", "source"
    )
)


register(
    "ns_stats_key_skew",
    "WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id), "
    "t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c), "
    "b AS (SELECT CAST(floor(log2(n)) AS INT) AS bucket, count(*) AS n_keys, "
    " CAST(sum(n) AS BIGINT) AS n_rows, CAST(max(n) AS BIGINT) AS max_key_rows "
    " FROM c GROUP BY 1) "
    "SELECT bucket, n_keys, n_rows, max_key_rows, "
    "round(n_rows * 1.0 / total, 6) AS row_share FROM b CROSS JOIN t",
    desc=(
        "Shuffle-skew diagnostic: log2-bucketed histogram of per-key row "
        "counts with each bucket's share of all rows — the pre-flight "
        "check before a big groupBy/join that decides whether salting or "
        "AQE skew-join is needed. Two aggregates, the second over "
        "|log2 buckets| rows."
    ),
)(
    lambda spark, sf_dir: stats.key_skew_profile(
        _t(spark, sf_dir, "events"), "user_id"
    )
)


register(
    "ns_stats_robust_outliers",
    "WITH med AS (SELECT event_type, median(value) AS m FROM events GROUP BY 1), "
    "dev AS (SELECT e.event_type, e.value, m, abs(e.value - m) AS ad "
    " FROM events e JOIN med USING (event_type)), "
    "mad AS (SELECT event_type, median(ad) AS md FROM dev GROUP BY 1) "
    "SELECT dev.event_type, count(*) AS n, round(max(m), 6) AS median, "
    "round(max(md), 6) AS mad, "
    "CAST(sum(CASE WHEN ad > 3.0 * 1.4826 * md THEN 1 ELSE 0 END) AS BIGINT) "
    " AS n_outliers "
    "FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type",
    desc=(
        "Robust per-group outliers via median/MAD: |x - median| > "
        "3 * 1.4826 * MAD — the outlier test that is not itself dragged "
        "by the outliers (unlike mean/stddev z-scores, cf. "
        "x_event_rate_anomaly). Two grouped medians + two equi-joins on "
        "the group key."
    ),
)(
    lambda spark, sf_dir: stats.robust_outliers(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )
)


_TTEST_SQL = (
    "WITH m AS (SELECT event_type, "
    " count(CASE WHEN event_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS n_a, "
    " CAST(sum(CASE WHEN event_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_a, "
    " CAST(sum(CASE WHEN event_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS ss_a, "
    " count(CASE WHEN NOT (event_id % 2 = 0) THEN CAST(value AS DECIMAL(18,2)) END) AS n_b, "
    " CAST(sum(CASE WHEN NOT (event_id % 2 = 0) THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS s_b, "
    " CAST(sum(CASE WHEN NOT (event_id % 2 = 0) THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS ss_b "
    " FROM events GROUP BY 1), "
    "v AS (SELECT *, "
    " (ss_a - s_a * s_a / n_a) / (n_a - 1) AS v_a, "
    " (ss_b - s_b * s_b / n_b) / (n_b - 1) AS v_b FROM m), "
    "s AS (SELECT *, v_a / n_a + v_b / n_b AS se2 FROM v) "
    "SELECT event_type, n_a, n_b, "
    "round(CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN "
    " (s_a / n_a - s_b / n_b) / sqrt(se2) END, 6) AS t_stat, "
    "round(CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0 THEN "
    " (se2 * se2) / ((v_a / n_a) * (v_a / n_a) / (n_a - 1) "
    " + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) END, 6) AS df_welch "
    "FROM s"
)


@register("ns_stats_welch_ttest", _TTEST_SQL)
def ns_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch unequal-variance t-test per event_type between the two
    event_id-parity cohorts (operators/stats.welch_ttest) — the
    mean-shift drift detector beside the KS shape test. Six decimal-
    exact sufficient statistics in ONE map-side-combined aggregate
    (partition-order independent), closed-form t and Welch-
    Satterthwaite df in fixed-shape double math, rounded on report.
    Scale: the exchange carries one 6-number row per group."""
    return stats.welch_ttest(_t(spark, sf_dir, "events"), "event_type",
                              "value", "event_id")


_CMS_SQL = (
    "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), "
    "tf AS (SELECT w, count(*) AS c FROM toks GROUP BY 1), "
    "rs AS (SELECT unnest(generate_series(0, 3)) AS r), "
    "sk AS (SELECT r, ('0x' || substr(md5(w || '|' || CAST(r AS VARCHAR)), 1, 15))::BIGINT % 256 AS cell, "
    " CAST(sum(c) AS BIGINT) AS cellsum FROM tf, rs GROUP BY 1, 2), "
    "top AS (SELECT w, c AS exact FROM tf ORDER BY c DESC, w LIMIT 10), "
    "pr AS (SELECT w, exact, r, ('0x' || substr(md5(w || '|' || CAST(r AS VARCHAR)), 1, 15))::BIGINT % 256 AS cell "
    " FROM top, rs) "
    "SELECT w, exact, min(cellsum) AS cm_estimate "
    "FROM pr JOIN sk USING (r, cell) GROUP BY 1, 2"
)


@register("ns_stats_count_min", _CMS_SQL)
def ns_stats_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed at the
    top-10 exact tokens (operators/stats.count_min_estimates) — the
    fixed-memory heavy-hitter estimator, with its one-sided
    overestimate (est >= exact) shown against ground truth. The hash
    family is the portable md5-60bit, so the sketch is deterministic
    and fully SQL-oracle-checkable; the sketch aggregate exchanges at
    most depth*width rows no matter the corpus size."""
    return stats.count_min_estimates(_t(spark, sf_dir, "documents"))


@register(
    "x_winsorize_group",
    "WITH wq AS (SELECT event_type, "
    "quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi "
    "FROM events GROUP BY 1) "
    "SELECT event_id, e.event_type, "
    "round(least(greatest(value, lo), hi), 6) AS value_winsor, "
    "(value < lo OR value > hi) AS was_clamped "
    "FROM events e JOIN wq USING (event_type)",
)
def x_winsorize_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp each value into its group's
    [p05, p95] band — the standard outlier-taming step before training
    on heavy-tailed features. Plan shape: one exact-percentile
    aggregate over the grouping key (tiny output, broadcast back), one
    broadcast join, then a pure per-row least/greatest clamp — the
    fact table is scanned twice but never shuffled on a data-sized
    key. At 100 TB swap the exact percentile for percentile_approx
    (mergeable sketch, same broadcast-back shape)."""
    return stats.winsorize_group(
        _t(spark, sf_dir, "events"), "value", ["event_type"]
    ).select("event_id", "event_type", "value_winsor", "was_clamped")


register(
    "x_split_psi",
    # test_fraction=0.2, salt='psi', eps=1e-6 — replicate hash_draw
    "WITH sp AS (SELECT lang AS category, "
    " ('0x' || substr(md5('psi|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
    "   % 1000000 < 200000 AS is_test FROM documents), "
    "cat AS (SELECT category, "
    " CAST(SUM(CASE WHEN NOT is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_train, "
    " CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test "
    " FROM sp GROUP BY 1), "
    "tot AS (SELECT SUM(n_train) AS tt, SUM(n_test) AS te FROM cat), "
    "terms AS (SELECT category, n_train, n_test, "
    " round(n_train / CAST(tt AS DOUBLE), 8) AS p_train, "
    " round(n_test / CAST(te AS DOUBLE), 8) AS p_test, "
    " CAST(round((greatest(n_train / CAST(tt AS DOUBLE), 1e-06) "
    "   - greatest(n_test / CAST(te AS DOUBLE), 1e-06)) "
    "  * ln(greatest(n_train / CAST(tt AS DOUBLE), 1e-06) "
    "     / greatest(n_test / CAST(te AS DOUBLE), 1e-06)), 6) "
    "  AS DECIMAL(12,6)) AS term "
    " FROM cat CROSS JOIN tot) "
    "SELECT category, n_train, n_test, p_train, p_test, "
    " CAST(term AS DOUBLE) AS psi_term, "
    " round(CAST((SELECT SUM(term) FROM terms) AS DOUBLE), 6) AS psi_total "
    "FROM terms",
    desc=(
        "Population Stability Index between hash-split train/test "
        "slices over the language distribution: per-category "
        "(p_train - p_test) * ln(p/q) terms (eps-clamped) pinned "
        "DECIMAL(12,6), corpus psi_total as their exact sum — the "
        "did-my-split-shift audit beside the leakage audit. One "
        "category aggregate plus two broadcast 1-row cross joins."
    ),
)(
    lambda spark, sf_dir: stats.psi_by_split(
        _t(spark, sf_dir, "documents"), cat_col="lang", id_col="doc_id",
        test_fraction=0.2, salt="psi"
    )
)


def _logreg_ctes(d: int = 8, n_iter: int = 2, lr: float = 0.5):
    """Unrolled-iteration CTE chain shared by the trainer and the
    calibration oracle: one CTE pair (scored, weights) per gradient
    round, weights chained by cross join — the same unroll discipline
    as the BPE trainer. Returns (ctes list, logit expression)."""
    bkt = f"(('0x' || substr(md5(w), 1, 15))::BIGINT % {d})"
    fsums = ", ".join(
        f"CAST(sum(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}"
        for i in range(d)
    )
    zeros = "0.0 AS b, " + ", ".join(f"0.0 AS g{j}" for j in range(d))
    logit = "(b + " + " + ".join(f"g{j} * f{j}" for j in range(d)) + ")"
    ctes = [
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
        "FROM documents)",
        f"bk AS (SELECT doc_id, {bkt} AS bkt FROM tok)",
        f"feats AS (SELECT doc_id, {fsums} FROM bk GROUP BY doc_id)",
        "base AS (SELECT feats.*, CASE WHEN lang = 'en' THEN 1 ELSE 0 END "
        "AS y FROM feats JOIN documents USING (doc_id))",
        f"w0 AS (SELECT {zeros})",
    ]
    for it in range(1, n_iter + 1):
        ctes.append(
            f"s{it} AS (SELECT base.*, "
            f"round(1.0 / (1.0 + exp(-{logit})), 8) AS p "
            f"FROM base CROSS JOIN w{it - 1})"
        )
        gsums = ", ".join(
            f"SUM(CAST(round((y - p) * f{j}, 8) AS DECIMAL(20,8))) AS gg{j}"
            for j in range(d)
        )
        ctes.append(
            f"a{it} AS (SELECT SUM(CAST(round(y - p, 8) AS DECIMAL(20,8))) "
            f"AS gb, count(*) AS n, {gsums} FROM s{it})"
        )
        wupds = ", ".join(
            f"round(g{j} + {lr} * CAST(gg{j} AS DOUBLE) / n, 6) AS g{j}"
            for j in range(d)
        )
        ctes.append(
            f"w{it} AS (SELECT round(b + {lr} * CAST(gb AS DOUBLE) / n, 6) "
            f"AS b, {wupds} FROM a{it} CROSS JOIN w{it - 1})"
        )
    return ctes, logit


def _logreg_sql(d: int = 8, n_iter: int = 2, lr: float = 0.5) -> str:
    ctes, logit = _logreg_ctes(d=d, n_iter=n_iter, lr=lr)
    ctes.append(
        f"sf AS (SELECT y, round(1.0 / (1.0 + exp(-{logit})), 8) AS p "
        f"FROM base CROSS JOIN w{n_iter})"
    )
    ctes.append(
        "acc AS (SELECT round(SUM(CASE WHEN (p >= 0.5) = (y = 1) THEN 1 "
        "ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS value FROM sf)"
    )
    selects = [f"SELECT 'bias' AS term, b AS value FROM w{n_iter}"] + [
        f"SELECT 'f{j}' AS term, g{j} AS value FROM w{n_iter}"
        for j in range(d)
    ] + ["SELECT 'train_acc' AS term, value FROM acc"]
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def _calibration_sql(d: int = 8, n_iter: int = 2, lr: float = 0.5,
                     n_bins: int = 10) -> str:
    """Calibration oracle: train via the shared unrolled chain, score
    every doc with the final weights, bin, and report — mirrors
    stats.calibration_report over stats.train_logreg_hashed_bow."""
    ctes, logit = _logreg_ctes(d=d, n_iter=n_iter, lr=lr)
    ctes.append(
        f"sf AS (SELECT y, round(1.0 / (1.0 + exp(-{logit})), 8) AS p "
        f"FROM base CROSS JOIN w{n_iter})"
    )
    ctes.append(
        f"bn AS (SELECT CAST(least(floor(p * {n_bins}), {n_bins - 1}) "
        f"AS INTEGER) AS bin, CAST(p AS DECIMAL(18,8)) AS pp, y FROM sf)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT bin, CAST(count(*) AS BIGINT) AS n_docs, "
        "round(CAST(SUM(pp) AS DOUBLE) / count(*), 6) AS mean_p, "
        "CAST(SUM(y) AS BIGINT) AS n_pos, "
        "round(SUM(y) / CAST(count(*) AS DOUBLE), 6) AS frac_pos, "
        "round(abs(round(round(CAST(SUM(pp) AS DOUBLE) / count(*), 6), 6) "
        " - round(round(SUM(y) / CAST(count(*) AS DOUBLE), 6), 6)), 6) "
        "AS calib_gap "
        "FROM bn GROUP BY bin"
    )


register(
    "ns_quality_train_logreg",
    _logreg_sql(d=8, n_iter=2, lr=0.5),
    desc=(
        "Distributed logistic-regression training (the fastText-"
        "shaped quality/domain classifier): full-batch gradient "
        "descent over 8-bucket hashed BoW features predicting "
        "lang='en', 2 fixed rounds from zero weights — sigmoid "
        "outputs round to 8, gradient contributions pin "
        "DECIMAL(20,8), updates round to 6 IN the plan, so the "
        "iterated trainer is bit-identical on any engine and has an "
        "unrolled-SQL oracle. Each round = one map-side-combinable "
        "aggregate over the checkpointed feature table; d+1 decimals "
        "of driver state."
    ),
)(
    lambda spark, sf_dir: stats.train_logreg_hashed_bow(
        _t(spark, sf_dir, "documents"), d=8, n_iter=2, lr=0.5
    )
)


# Session artifact: calibration and AUC evaluate the SAME
# deterministic trainer (d=8, n_iter=8, lr=0.5) — a production pipeline
# trains once and evaluates many ways, so the registry does too. Keyed
# by (sf_dir, params); the weights are d+1 floats of driver state.
def _trained_weights(spark, sf_dir: str, d: int = 8, n_iter: int = 8,
                     lr: float = 0.5) -> dict[str, float]:
    return memo(spark, "logreg_w", (sf_dir, d, n_iter, lr), lambda: {
        r["term"]: float(r["value"])
        for r in stats.train_logreg_hashed_bow(
            _t(spark, sf_dir, "documents"), d=d, n_iter=n_iter, lr=lr
        ).filter("term <> 'train_acc'").collect()
    })


register(
    "ns_quality_calibration",
    _calibration_sql(d=8, n_iter=8, lr=0.5, n_bins=10),
    desc=(
        "Classifier calibration audit (the reliability-diagram table "
        "behind ECE): the trained hashed-BoW logistic scores bin into "
        "10 fixed-width probability bins; per bin the exact mean "
        "predicted probability, observed positive rate, and their "
        "gap — the miscalibration signal that decides whether a "
        "quality filter's threshold means what it says. One feature "
        "aggregate + one bin-keyed aggregate over the scoring scan."
    ),
)(
    lambda spark, sf_dir: stats.calibration_report(
        _t(spark, sf_dir, "documents"),
        _trained_weights(spark, sf_dir, d=8, n_iter=8, lr=0.5),
        d=8,
        n_bins=10,
    )
)


def _auc_sql(d: int = 8, n_iter: int = 8, lr: float = 0.5) -> str:
    """AUC oracle: train via the shared unrolled chain, score, then the
    Mann-Whitney integer form over distinct scores."""
    ctes, logit = _logreg_ctes(d=d, n_iter=n_iter, lr=lr)
    ctes.append(
        f"sf AS (SELECT y, round(1.0 / (1.0 + exp(-{logit})), 8) AS p "
        f"FROM base CROSS JOIN w{n_iter})"
    )
    ctes.append(
        "g AS (SELECT p, CAST(SUM(y) AS BIGINT) AS np, "
        "CAST(SUM(1 - y) AS BIGINT) AS nn FROM sf GROUP BY p)"
    )
    ctes.append(
        "c AS (SELECT *, coalesce(SUM(nn) OVER (ORDER BY p "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below "
        "FROM g)"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT CAST(SUM(np) AS BIGINT) AS n_pos, "
        "CAST(SUM(nn) AS BIGINT) AS n_neg, "
        "round(SUM(np * (2 * below + nn)) "
        "/ (2.0 * SUM(np) * SUM(nn)), 6) AS auc FROM c"
    )


register(
    "ns_quality_auc",
    _auc_sql(d=8, n_iter=8, lr=0.5),
    desc=(
        "Exact ROC-AUC of the trained logistic scores (Mann-Whitney "
        "integer form, ties half-credited) — the threshold-free "
        "separation metric beside the calibration report. Scores "
        "collapse to distinct-score rows; the negatives-below "
        "cumulative runs two-phase (in-bucket window + broadcast "
        "bucket offsets), so no unpartitioned data-sized window "
        "exists; integer-exact until the single final division."
    ),
)(
    lambda spark, sf_dir: stats.auc_report(
        _t(spark, sf_dir, "documents"),
        _trained_weights(spark, sf_dir, d=8, n_iter=8, lr=0.5),
        d=8,
    )
)


register(
    "ns_quality_fleiss_kappa",
    # items = event_id % 311, ratings = event_type, n_raters=5
    "WITH r AS (SELECT event_id % 311 AS item, event_type AS label, "
    " row_number() OVER (PARTITION BY event_id % 311 ORDER BY event_id) "
    "  AS rn FROM events), "
    "t AS (SELECT item, label FROM r WHERE rn <= 5), "
    "pi AS (SELECT item, count(*) AS n FROM t GROUP BY 1), "
    "kept AS (SELECT item FROM pi WHERE n = 5), "
    "dr AS (SELECT CAST(count(*) AS BIGINT) AS n_items_dropped "
    "       FROM pi WHERE n < 5), "
    "nij AS (SELECT t.item, t.label, CAST(count(*) AS BIGINT) AS nij "
    "        FROM t JOIN kept USING (item) GROUP BY 1, 2), "
    "it AS (SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_items, "
    "        CAST(SUM(nij * nij) AS BIGINT) AS s2 FROM nij), "
    "cj AS (SELECT label, SUM(nij) AS cj FROM nij GROUP BY 1), "
    "ct AS (SELECT CAST(count(*) AS INTEGER) AS n_categories, "
    "        CAST(SUM(cj * cj) AS BIGINT) AS c2 FROM cj) "
    "SELECT n_items, CAST(5 AS INTEGER) AS n_raters, n_categories, "
    " n_items_dropped, "
    " round((s2 - n_items * 5) / CAST(n_items * 5 * 4 AS DOUBLE), 6) "
    "  AS p_bar, "
    " round(c2 / CAST((n_items * 5) * (n_items * 5) AS DOUBLE), 6) AS p_e, "
    " round(((s2 - n_items * 5) / CAST(n_items * 5 * 4 AS DOUBLE) "
    "   - c2 / CAST((n_items * 5) * (n_items * 5) AS DOUBLE)) "
    "  / (1.0 - c2 / CAST((n_items * 5) * (n_items * 5) AS DOUBLE)), 6) "
    "  AS kappa "
    "FROM it CROSS JOIN ct CROSS JOIN dr",
    desc=(
        "Fleiss' kappa inter-annotator agreement over a derived "
        "5-ratings-per-item batch (items = event_id mod 311, "
        "categories = event_type): chance-corrected P-bar vs P-e — "
        "the labels-are-real gate before majority-vote aggregation. "
        "Every sufficient statistic is an exact integer; kappa is one "
        "double division, bit-identical on any engine."
    ),
)(
    lambda spark, sf_dir: stats.fleiss_kappa(
        _t(spark, sf_dir, "events").select(
            (F.col("event_id") % 311).alias("item"),
            F.col("event_type").alias("label"),
            F.col("event_id").alias("ord"),
        ),
        item_col="item", label_col="label", n_raters=5, order_col="ord",
    )
)


register(
    "ns_quality_kripp_alpha",
    # same derived annotation batch as fleiss/majority, but NO
    # trimming — alpha handles varying ratings-per-item natively
    "WITH nij AS (SELECT event_id % 311 AS item, event_type AS label, "
    " CAST(count(*) AS BIGINT) AS nij FROM events GROUP BY 1, 2), "
    "pi AS (SELECT item, CAST(SUM(nij) AS BIGINT) AS ni, "
    " CAST(SUM(nij * (nij - 1)) AS BIGINT) AS ai FROM nij GROUP BY 1), "
    "pa AS (SELECT * FROM pi WHERE ni >= 2), "
    "dr AS (SELECT CAST(count(*) AS BIGINT) AS n_items_dropped "
    "       FROM pi WHERE ni < 2), "
    "occ AS (SELECT CAST(count(*) AS BIGINT) AS n_items, "
    " SUM(CAST(round(ai / CAST(ni - 1 AS DOUBLE), 12) AS DECIMAL(24,12))) "
    "  AS socc FROM pa), "
    "mc AS (SELECT label, SUM(nij) AS nc FROM nij "
    "       JOIN pa USING (item) GROUP BY 1), "
    "marg AS (SELECT CAST(count(*) AS INTEGER) AS n_categories, "
    " CAST(SUM(nc) AS BIGINT) AS n_ratings, "
    " CAST(SUM(nc * nc) AS BIGINT) AS nc2 FROM mc) "
    "SELECT n_items, n_items_dropped, n_ratings, n_categories, "
    " round(n_ratings - CAST(socc AS DOUBLE), 6) AS d_observed, "
    " round((CAST(n_ratings AS DOUBLE) * n_ratings - nc2) "
    "   / (n_ratings - 1.0), 6) AS d_expected, "
    " round(1.0 - (n_ratings - CAST(socc AS DOUBLE)) "
    "   / ((CAST(n_ratings AS DOUBLE) * n_ratings - nc2) "
    "      / (n_ratings - 1.0)), 6) AS alpha "
    "FROM occ CROSS JOIN marg CROSS JOIN dr",
    desc=(
        "Krippendorff's alpha (nominal) over the derived annotation "
        "batch with NO per-item trimming — the agreement gate when "
        "ratings-per-item vary (unlike Fleiss' fixed-n): coincidence-"
        "matrix D_o vs D_e from exact integer marginals, per-item "
        "quotients pinned DECIMAL(24,12) so the sum is partition-order "
        "exact. One hash aggregate, one fold, two 1-row aggregates."
    ),
)(
    lambda spark, sf_dir: stats.krippendorff_alpha(
        _t(spark, sf_dir, "events").select(
            (F.col("event_id") % 311).alias("item"),
            F.col("event_type").alias("label"),
        ),
        item_col="item", label_col="label",
    )
)


def _benford_sql() -> str:
    case = " ".join(
        f"WHEN '{d}' THEN {e!r}" for d, e in BENFORD_EXPECTED.items()
    )
    return (
        "WITH s AS (SELECT CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) "
        "  AS vs FROM events WHERE value IS NOT NULL), "
        "d AS (SELECT substr(regexp_replace("
        "  replace(replace(vs, '.', ''), '-', ''), '^0+', ''), 1, 1) "
        "  AS digit FROM s), "
        "c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d "
        "      WHERE digit <> '' GROUP BY 1), "
        "t AS (SELECT SUM(n_obs) AS tot FROM c) "
        "SELECT digit, n_obs, "
        " round(n_obs / CAST(tot AS DOUBLE), 6) AS share, "
        f" (CASE digit {case} END) AS benford_expected, "
        f" round(n_obs / CAST(tot AS DOUBLE) - (CASE digit {case} END), 6) "
        "  AS excess "
        "FROM c CROSS JOIN t"
    )


register(
    "x_benford",
    _benford_sql(),
    desc=(
        "Benford's-law first-digit audit over the value column — the "
        "data-forensics screen for fabricated/capped numerics: per "
        "leading digit the observed share vs the log10(1+1/d) "
        "expectation and the excess. Digits come from the DECIMAL "
        "string rendering (identical cross-engine), never float "
        "log10; one scan, one 9-group aggregate, broadcast total."
    ),
)(
    lambda spark, sf_dir: stats.benford_audit(
        _t(spark, sf_dir, "events"), col="value"
    )
)


@register(
    "x_groupwise_ols",
    # decimal-exact moments (order-independent), then one fixed double
    # expression shape per formula — mirrored verbatim on the Spark side
    "WITH j AS (SELECT p_brand, CAST(l_quantity AS DECIMAL(12,2)) AS x, "
    " CAST(l_extendedprice AS DECIMAL(18,2)) AS y "
    " FROM lineitem JOIN part ON l_partkey = p_partkey), "
    "m AS (SELECT p_brand, count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx, "
    " CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * x) AS DOUBLE) AS sxx, "
    " CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(y * y) AS DOUBLE) AS syy "
    " FROM j GROUP BY p_brand) "
    "SELECT p_brand, n, "
    "round(CASE WHEN n * sxx - sx * sx <> 0 "
    " THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6) AS slope, "
    "round(CASE WHEN n * sxx - sx * sx <> 0 "
    " THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END, 6) "
    " AS intercept, "
    "round(CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 "
    " THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy)) "
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6) AS r2 "
    "FROM m",
)
def x_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of extended price on quantity (slope, intercept,
    Pearson r^2) in ONE aggregate pass: the five moments are a
    mergeable monoid summed as exact decimals (partition-order-
    independent), the closed forms then run as one fixed IEEE double
    expression shape in both engines. The distributed form of
    fit-a-line-per-segment analytics; at 100 TB it costs exactly one
    partial+final aggregate on the group key."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "p_brand", "l_quantity", "l_extendedprice"
    )
    return stats.groupwise_ols(
        j, group_col="p_brand", x_col="l_quantity", y_col="l_extendedprice"
    )


def _bootstrap_oracle(n_boot: int) -> str:
    """Delegates to the sqlgen 'bootstrap_mean' renderer (the NL p103
    path): same integer Poisson(1) CDF cutoffs
    (sampling.POISSON1_CUTOFFS), same md5 draw, decimal-exact weighted
    sums, nearest-rank picks with NULLS FIRST pinned."""
    return spec_to_sql(
        {"ops": [{"op": "bootstrap_mean", "col": "value",
                  "key": "event_type", "id": "event_id", "n": n_boot}]},
        "events",
    )


@register(
    "ns_stats_poisson_bootstrap",
    _bootstrap_oracle(40),
    desc=(
        "Poisson bootstrap (Chamandy et al. 2012) 95% CI for the "
        "per-event-type mean value: 40 replicate means from ONE "
        "corpus scan — each row contributes a hash-derived Poisson(1) "
        "weight per replicate, map-side combine collapses the explode "
        "to groups x 40 partial rows before the only exchange; "
        "nearest-rank percentile picks over the replicate means."
    ),
)
def ns_stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable bootstrap CI (operators/stats.poisson_bootstrap_ci):
    the uncertainty band beside the Welch t-test and KS drift ops —
    hash-deterministic, decimal-exact weighted sums, engine-pinned
    rank picks."""
    return stats.poisson_bootstrap_ci(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        n_boot=40,
    )


def _bootstrap_diff_oracle(n_boot: int) -> str:
    """Oracle for bootstrap_diff_ci over the event_id-parity cohorts
    (the welch_ttest cohort split): same draw, same cutoffs, four
    decimal sums per (group, replicate), nearest-rank band, zero test."""
    lo = max(1, math.ceil(0.025 * n_boot))
    hi = math.ceil(0.975 * n_boot)
    wcase = "CASE " + " ".join(
        f"WHEN d < {cut} THEN {k}" for k, cut in enumerate(POISSON1_CUTOFFS)
    ) + f" ELSE {len(POISSON1_CUTOFFS)} END"
    draw = (
        "(('0x' || substr(md5('boot|' || event_id::VARCHAR || '|' || "
        "r::VARCHAR), 1, 15))::BIGINT % 1000000)"
    )
    return (
        "WITH rep AS (SELECT event_type AS g, event_id, "
        " CAST(value AS DECIMAL(18,2)) AS v, event_id % 2 = 0 AS a, r "
        f" FROM events CROSS JOIN (SELECT unnest(range({n_boot})) AS r)), "
        f"d AS (SELECT g, r, v, a, {draw} AS d FROM rep), "
        f"w AS (SELECT g, r, v, a, {wcase} AS w FROM d), "
        "m AS (SELECT g, r, "
        " CAST(sum(CASE WHEN a THEN w END) AS BIGINT) AS nwa, "
        " sum(CASE WHEN a THEN CAST(w AS DECIMAL(10,0)) * v END) AS swa, "
        " CAST(sum(CASE WHEN NOT a THEN w END) AS BIGINT) AS nwb, "
        " sum(CASE WHEN NOT a THEN CAST(w AS DECIMAL(10,0)) * v END) AS swb "
        " FROM w GROUP BY 1, 2), "
        "mr AS (SELECT g, r, CASE WHEN nwa > 0 AND nwb > 0 THEN "
        " round(CAST(swa AS DOUBLE) / CAST(nwa AS DOUBLE) "
        "  - CAST(swb AS DOUBLE) / CAST(nwb AS DOUBLE), 6) END AS diff_r "
        " FROM m), "
        "rk AS (SELECT g, diff_r, row_number() OVER (PARTITION BY g "
        " ORDER BY diff_r ASC NULLS FIRST, r) AS rn FROM mr), "
        "boot AS (SELECT g, "
        f" max(CASE WHEN rn = {lo} THEN diff_r END) AS boot_lo, "
        f" max(CASE WHEN rn = {hi} THEN diff_r END) AS boot_hi, "
        " CAST(count(*) AS INTEGER) AS n_replicates FROM rk GROUP BY 1), "
        "pt AS (SELECT event_type AS g, "
        " CAST(count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS BIGINT) "
        "  AS n_a, "
        " CAST(count(CASE WHEN NOT (event_id % 2 = 0) THEN 1 END) "
        "  AS BIGINT) AS n_b, "
        " round(CAST(sum(CASE WHEN event_id % 2 = 0 THEN "
        "   CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) "
        "  / count(CASE WHEN event_id % 2 = 0 THEN 1 END) "
        "  - CAST(sum(CASE WHEN NOT (event_id % 2 = 0) THEN "
        "   CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) "
        "  / count(CASE WHEN NOT (event_id % 2 = 0) THEN 1 END), 6) "
        "  AS mean_diff FROM events GROUP BY 1) "
        "SELECT g AS event_type, n_a, n_b, mean_diff, boot_lo, boot_hi, "
        "(boot_lo > 0 OR boot_hi < 0) AS significant, n_replicates "
        "FROM pt JOIN boot USING (g)"
    )


@register(
    "ns_stats_bootstrap_diff",
    _bootstrap_diff_oracle(40),
    desc=(
        "Poisson-bootstrap 95% CI for the DIFFERENCE of cohort means "
        "per event_type (cohorts = event_id parity, the welch_ttest "
        "split) — the distribution-free A/B readout from one scan; "
        "significant = the band excludes zero. Same draw domain and "
        "cutoffs as ns_stats_poisson_bootstrap; the only exchange "
        "carries groups x 40 four-sum partials."
    ),
)
def ns_stats_bootstrap_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B bootstrap (operators/stats.bootstrap_diff_ci) beside the
    Welch t-test: same cohorts, assumption-free interval."""
    return stats.bootstrap_diff_ci(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        cohort=F.col("event_id") % 2 == 0, n_boot=40,
    )


def _mi_oracle() -> str:
    """Delegates to the sqlgen 'mutual_info' renderer (the NL p105
    path) so the decimal-pinned term chain lives in ONE place."""
    return spec_to_sql(
        {"ops": [{"op": "mutual_info", "a": "lang", "b": "source"}]},
        "documents",
    )


register(
    "ns_stats_mutual_info",
    _mi_oracle(),
    desc=(
        "Mutual information between lang and source (plus marginal "
        "entropies and normalized MI) — how many nats one column "
        "carries about the other, the redundancy audit beside "
        "chi-square: MI near h_lang means source determines language, "
        "so a source-stratified split silently stratifies language. "
        "One contingency scan; marginals/total/entropies all derive "
        "from the tiny cell frame; every log term pinned "
        "DECIMAL(28,12) for partition-order-exact sums."
    ),
)(
    lambda spark, sf_dir: stats.mutual_information(
        _t(spark, sf_dir, "documents"), "lang", "source"
    )
)


_KENDALL_COLS = ["l_quantity", "l_discount", "l_tax"]


def _kendall_sql(cols: list[str], table: str = "lineitem") -> str:
    """Mirrors stats.kendall_tau_b cell-form arithmetic: one d-column
    cell aggregate, per-pair contingency re-aggregation, DECIMAL(38,0)
    C/D products, tie terms from the marginals, tau-b in doubles from
    the exact sums."""
    base_cols = ", ".join(cols)
    parts = [
        f"base AS (SELECT {base_cols}, CAST(count(*) AS BIGINT) AS c "
        f"FROM {table} GROUP BY {', '.join(str(i + 1) for i in range(len(cols)))})"
    ]
    arms = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = cols[i], cols[j]
            t = f"{i}_{j}"
            parts.append(
                f"cells{t} AS (SELECT {a} AS x, {b} AS y, "
                f"CAST(sum(c) AS DECIMAL(19,0)) AS n FROM base "
                f"WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2), "
                f"cd{t} AS (SELECT "
                f"SUM(CASE WHEN r.y > l.y THEN CAST(l.n * r.n AS DECIMAL(38,0)) END) AS conc, "
                f"SUM(CASE WHEN r.y < l.y THEN CAST(l.n * r.n AS DECIMAL(38,0)) END) AS disc "
                f"FROM cells{t} l JOIN cells{t} r ON r.x > l.x), "
                f"tx{t} AS (SELECT SUM(CAST(t * (t - 1) AS DECIMAL(38,0))) AS sx "
                f"FROM (SELECT CAST(sum(n) AS DECIMAL(19,0)) AS t "
                f"      FROM cells{t} GROUP BY x)), "
                f"ty{t} AS (SELECT SUM(CAST(t * (t - 1) AS DECIMAL(38,0))) AS sy "
                f"FROM (SELECT CAST(sum(n) AS DECIMAL(19,0)) AS t "
                f"      FROM cells{t} GROUP BY y)), "
                f"tot{t} AS (SELECT CAST(sum(n) AS DECIMAL(19,0)) AS nn "
                f"FROM cells{t})"
            )
            arms.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"CAST(nn AS BIGINT) AS n, "
                f"CAST(COALESCE(conc, 0) AS BIGINT) AS concordant, "
                f"CAST(COALESCE(disc, 0) AS BIGINT) AS discordant, "
                f"CASE WHEN CAST(CAST(nn * (nn - 1) AS DECIMAL(38,0)) - sx "
                f"  AS DOUBLE) / 2.0 > 0 "
                f" AND CAST(CAST(nn * (nn - 1) AS DECIMAL(38,0)) - sy "
                f"  AS DOUBLE) / 2.0 > 0 THEN "
                f"round(CAST(COALESCE(conc, 0) - COALESCE(disc, 0) AS DOUBLE) "
                f" / (sqrt(CAST(CAST(nn * (nn - 1) AS DECIMAL(38,0)) - sx "
                f"      AS DOUBLE) / 2.0) "
                f"  * sqrt(CAST(CAST(nn * (nn - 1) AS DECIMAL(38,0)) - sy "
                f"      AS DOUBLE) / 2.0)), 6) END AS tau_b "
                f"FROM cd{t} CROSS JOIN tot{t} CROSS JOIN tx{t} "
                f"CROSS JOIN ty{t}"
            )
    return f"WITH {', '.join(parts)} " + " UNION ALL ".join(arms)


@register(
    "x_kendall_tau",
    _kendall_sql(_KENDALL_COLS),
    desc=(
        "Pairwise Kendall tau-b over the LOW-CARDINALITY lineitem "
        "measures (quantity/discount/tax) — the concordance view of "
        "association beside Pearson and Spearman, computed in the "
        "contingency-cell form: one d-column cell aggregate replaces "
        "the O(n^2) row-pair definition, each pair's C/D comes from a "
        "cell self-join on the aggregate-sized frame, DECIMAL(38,0) "
        "products keep 1e12-row counts exact. Continuous columns "
        "belong to x_spearman_matrix (the rank path); this is the "
        "discrete sibling."
    ),
)
def x_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (operators/stats.kendall_tau_b) in the
    cell-aggregate form — exact concordance counts from the joint
    distribution, never from row pairs."""
    return stats.kendall_tau_b(
        _t(spark, sf_dir, "lineitem"), _KENDALL_COLS
    )


register(
    "ns_stats_anova",
    "WITH g AS (SELECT event_type, CAST(count(v) AS BIGINT) AS ng, "
    " sum(v) AS sg, sum(v * v) AS ssg "
    " FROM (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v "
    "       FROM events WHERE event_type IS NOT NULL "
    "       AND value IS NOT NULL) GROUP BY 1), "
    "t AS (SELECT CAST(count(*) AS BIGINT) AS k, "
    " CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS DOUBLE) AS s, "
    " CAST(sum(ssg) AS DOUBLE) AS ss, "
    " CAST(sum(CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, "
    "  12) AS DECIMAL(28,12))) AS DOUBLE) AS w FROM g) "
    "SELECT k, n, round(w - s * s / n, 6) AS ss_between, "
    "round(ss - w, 6) AS ss_within, "
    "CASE WHEN k >= 2 AND n > k AND ss - w > 0 THEN "
    " round(((w - s * s / n) / (k - 1)) / ((ss - w) / (n - k)), 6) "
    "END AS f_stat, "
    "CASE WHEN k >= 2 AND n > k AND ss - w > 0 THEN "
    " round((w - s * s / n) / ((w - s * s / n) + (ss - w)), 6) "
    "END AS eta_sq FROM t",
    desc=(
        "One-way ANOVA of the event value across event types: F "
        "statistic + eta-squared effect size from one grouped "
        "sufficient-statistics scan (DECIMAL-exact sums, the "
        "welch_ttest discipline generalized to k groups)."
    ),
)(
    lambda spark, sf_dir: stats.anova_oneway(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )
)


register(
    "ns_stats_cramers_v",
    "WITH j AS (SELECT o_orderstatus AS a, o_orderpriority AS b, "
    " CAST(count(*) AS BIGINT) AS o FROM orders "
    " WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL "
    " GROUP BY 1, 2), "
    "ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS na FROM j GROUP BY 1), "
    "cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS nb FROM j GROUP BY 1), "
    "t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM j), "
    "lv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ra) AS r_levels, "
    " (SELECT CAST(count(*) AS BIGINT) FROM cb) AS c_levels), "
    "c2 AS (SELECT sum(CAST(round((o - CAST(na AS DOUBLE) * nb / n) "
    " * (o - CAST(na AS DOUBLE) * nb / n) / (CAST(na AS DOUBLE) * nb / n), "
    " 12) AS DECIMAL(28,12))) AS chi2 "
    " FROM j JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN t) "
    "SELECT n, r_levels, c_levels, "
    "round(CAST(chi2 AS DOUBLE), 6) AS chi2, "
    "CASE WHEN least(r_levels, c_levels) - 1 >= 1 THEN "
    " round(sqrt(round(CAST(chi2 AS DOUBLE), 6) "
    "  / (n * (least(r_levels, c_levels) - 1))), 6) "
    "END AS cramers_v FROM t CROSS JOIN lv CROSS JOIN c2",
    desc=(
        "Cramér's V between order status and priority: chi-square "
        "association rescaled to [0,1] for cross-pair comparability; "
        "one cell aggregate, DECIMAL(28,12)-pinned chi2 sum."
    ),
)(
    lambda spark, sf_dir: stats.cramers_v(
        _t(spark, sf_dir, "orders"), "o_orderstatus", "o_orderpriority"
    )
)


register(
    "ns_stats_quantile_norm",
    "WITH base AS (SELECT event_type, event_id, "
    " CAST(value AS DECIMAL(18,2)) AS v FROM events "
    " WHERE event_type IS NOT NULL AND value IS NOT NULL), "
    "nm AS (SELECT min(c) AS nmin FROM "
    " (SELECT count(*) AS c FROM base GROUP BY event_type)), "
    "r AS (SELECT event_type, event_id, v, CAST(row_number() OVER ("
    " PARTITION BY event_type ORDER BY v, event_id) AS INTEGER) AS rank "
    " FROM base), "
    "tr AS (SELECT event_type, event_id, v, rank FROM r CROSS JOIN nm "
    " WHERE rank <= nmin), "
    "ref AS (SELECT rank, CAST(sum(v) AS DOUBLE) / count(*) AS ref "
    " FROM tr GROUP BY 1) "
    "SELECT event_type, event_id, rank, CAST(v AS DOUBLE) AS value, "
    "round(ref, 6) AS normalized FROM tr JOIN ref USING (rank)",
    desc=(
        "Quantile normalization of the event value across event types "
        "(Bolstad et al. 2003): each type trimmed to the smallest "
        "type's size with a deterministic (value, id) order, every "
        "rank mapped to the cross-type mean order statistic. Rank "
        "window partitioned by type; rank-keyed mean + equi-join."
    ),
)(
    lambda spark, sf_dir: stats.quantile_normalize(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id"
    )
)


_DESCRIPTIONS.update({
    "ns_ks_drift_per_user": "Kolmogorov-Smirnov drift statistic between click and view value distributions per user via cogrouped applyInPandas.",
})
