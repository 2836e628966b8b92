"""Data quality (operators/quality.py): expectations, label agreement,
conformal thresholds and k-anonymity / l-diversity.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..benchqueries import _t, register
from ..operators import quality


_EXPECTATIONS = [
    {"kind": "not_null", "col": "text"},
    {"kind": "unique", "col": "doc_id"},
    {"kind": "accepted_values", "col": "lang", "values": ["en", "de", "fr"]},
    {"kind": "range", "col": "n_chars", "lo": 1, "hi": 375},
    {"kind": "regex", "col": "source", "pattern": "^src[0-9]+$"},
    {"kind": "min_rows", "n": 100},
]


register(
    "ns_quality_expectations",
    "WITH a AS (SELECT count(*) AS n, "
    " CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0, "
    " count(DISTINCT doc_id) AS d1, "
    " CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dn1, "
    " CAST(sum(CASE WHEN lang IS NULL OR lang NOT IN ('en','de','fr') THEN 1 ELSE 0 END) AS BIGINT) AS v2, "
    " CAST(sum(CASE WHEN n_chars IS NULL OR n_chars NOT BETWEEN 1 AND 375 THEN 1 ELSE 0 END) AS BIGINT) AS v3, "
    " CAST(sum(CASE WHEN source IS NULL OR NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v4 "
    " FROM documents) "
    "SELECT '0_not_null_text' AS expectation, 'not_null' AS kind, 'text' AS col, n AS n_rows, v0 AS n_violations, v0 = 0 AS passed FROM a "
    "UNION ALL SELECT '1_unique_doc_id', 'unique', 'doc_id', n, n - d1 - (CASE WHEN dn1 > 0 THEN 1 ELSE 0 END), n - d1 - (CASE WHEN dn1 > 0 THEN 1 ELSE 0 END) = 0 FROM a "
    "UNION ALL SELECT '2_accepted_values_lang', 'accepted_values', 'lang', n, v2, v2 = 0 FROM a "
    "UNION ALL SELECT '3_range_n_chars', 'range', 'n_chars', n, v3, v3 = 0 FROM a "
    "UNION ALL SELECT '4_regex_source', 'regex', 'source', n, v4, v4 = 0 FROM a "
    "UNION ALL SELECT '5_min_rows_*', 'min_rows', '*', n, "
    " CASE WHEN n < 100 THEN 100 - n ELSE 0 END, n >= 100 FROM a",
    desc=(
        "Declarative data-quality contract (Deequ/Great-Expectations "
        "pattern): not-null, key uniqueness, accepted values, numeric "
        "range, regex shape, and min-row-count checked in ONE aggregate "
        "pass — each per-row check is a conditional sum and uniqueness "
        "an exact count-distinct inside a single scan, however many "
        "expectations are declared. The report (one row per "
        "expectation, violation counts) is what batch ingest gates on."
    ),
)(
    lambda spark, sf_dir: quality.check_expectations(
        _t(spark, sf_dir, "documents"), _EXPECTATIONS
    )
)


register(
    "x_kanonymity",
    # quasi-identifiers (user_id, event_type), k=5
    "WITH g AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n "
    "FROM events GROUP BY 1, 2) "
    "SELECT 'user_id+event_type' AS quasi, CAST(5 AS INTEGER) AS k, "
    " CAST(SUM(n) AS BIGINT) AS n_rows, "
    " CAST(count(*) AS BIGINT) AS n_groups, "
    " CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) "
    "   AS n_violating_groups, "
    " CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) "
    "   AS n_rows_at_risk, "
    " round(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) "
    "       / CAST(SUM(n) AS DOUBLE), 6) AS risk_ratio, "
    " CAST(min(n) AS BIGINT) AS min_group_size "
    "FROM g",
    desc=(
        "k-anonymity audit (Sweeney 2002) on the event log's "
        "(user_id, event_type) quasi-identifier pair at k=5: rows "
        "whose combination is shared by fewer than 5 rows are "
        "re-identification risks. One hash aggregate on the quasi "
        "key, then group-cardinality rows fold to a single report "
        "row — the privacy gate beside the PII redaction pass."
    ),
)(
    lambda spark, sf_dir: quality.k_anonymity_audit(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], k=5
    )
)


register(
    "ns_quality_majority_vote",
    # items = event_id % 311, labels = event_type (the same derived
    # annotation batch ns_quality_fleiss_kappa gates)
    "WITH v AS (SELECT event_id % 311 AS item, event_type AS label, "
    " CAST(count(*) AS BIGINT) AS votes FROM events GROUP BY 1, 2), "
    "r AS (SELECT item, label, votes, "
    " row_number() OVER (PARTITION BY item "
    "  ORDER BY votes DESC, label ASC NULLS FIRST) AS rn, "
    " lead(votes) OVER (PARTITION BY item "
    "  ORDER BY votes DESC, label ASC NULLS FIRST) AS votes2, "
    " SUM(votes) OVER (PARTITION BY item) AS n_ratings FROM v) "
    "SELECT item, label AS majority_label, "
    " CAST(n_ratings AS BIGINT) AS n_ratings, votes AS n_votes, "
    " round(votes / CAST(n_ratings AS DOUBLE), 6) AS vote_share, "
    " CAST(votes - COALESCE(votes2, 0) AS BIGINT) AS margin, "
    " COALESCE(votes2, -1) = votes AS is_tie "
    "FROM r WHERE rn = 1",
    desc=(
        "Majority-vote label aggregation over the derived annotation "
        "batch — per item the winning label with total ratings, vote "
        "share, runner-up margin, and a tie flag (ties break to the "
        "smaller label, flagged). The step after the Fleiss-kappa "
        "agreement gate; one hash aggregate plus one item-partitioned "
        "window, integer-exact except the rounded share."
    ),
)(
    lambda spark, sf_dir: quality.majority_vote(
        _t(spark, sf_dir, "events").select(
            (F.col("event_id") % 311).alias("item"),
            F.col("event_type").alias("label"),
        ),
        item_col="item", label_col="label",
    )
)


def _conformal_sql() -> str:
    """Split-conformal oracle: the quality-score formula term for
    term, the md5 hash split, quantile_cont thresholds over the
    calibration slice (== Spark percentile, the winsorize precedent),
    then one UNION ALL arm per coverage level."""
    levels = [(0.8, 0.2, 80), (0.9, 0.1, 90), (0.95, 0.05, 95)]
    ts = ", ".join(
        f"round(quantile_cont(CASE WHEN cal THEN q END, {p!r}), 6) AS t{tag}"
        for _, p, tag in levels
    )
    ks = ", ".join(
        f"CAST(SUM(CASE WHEN q >= t{tag} THEN 1 ELSE 0 END) AS BIGINT) AS k{tag}"
        for _, _, tag in levels
    )
    arms = " UNION ALL ".join(
        f"SELECT CAST({c!r} AS DOUBLE) AS coverage, n_cal, "
        f"t{tag} AS threshold, n_test, k{tag} AS n_test_kept, "
        f"CASE WHEN n_test > 0 THEN round(k{tag} / CAST(n_test AS DOUBLE), 6) "
        f" ELSE 0.0 END AS observed_coverage FROM one, cov"
        for c, _, tag in levels
    )
    return (
        "WITH t AS (SELECT doc_id, text, length(text) AS n_chars, "
        " string_split(text, ' ') AS ws FROM documents), "
        "m AS (SELECT doc_id, n_chars, len(ws) AS n_words, "
        " len(list_filter(ws, w -> lower(w) IN ('the','a','of','and','to'))) "
        "  AS stop_hits, "
        " len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS nonalnum FROM t), "
        "s AS (SELECT doc_id, "
        " round(least(1.0, n_words / 50.0) * 0.5 "
        "  + (1.0 - least(1.0, round(nonalnum / greatest(n_chars, 1), 6) * 10)) * 0.3 "
        "  + least(1.0, round(stop_hits / n_words, 6) * 5) * 0.2, 6) AS q "
        " FROM m), "
        "b AS (SELECT doc_id, q, "
        " ('0x' || substr(md5('conf|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        "  % 1000000 < 500000 AS cal FROM s), "
        "one AS (SELECT "
        " CAST(SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT) AS n_cal, "
        " CAST(SUM(CASE WHEN NOT cal THEN 1 ELSE 0 END) AS BIGINT) AS n_test, "
        f" {ts} FROM b), "
        f"cov AS (SELECT {ks} FROM b, one WHERE NOT cal) "
        f"{arms}"
    )


register(
    "ns_quality_conformal",
    _conformal_sql(),
    desc=(
        "Split-conformal quality-filter calibration: md5 hash split "
        "into calibration/test, each coverage level's threshold at "
        "the (1-coverage) exact quantile of calibration quality "
        "scores, observed test coverage reported beside the target — "
        "the cutoff with a guarantee instead of a guess. One "
        "conditional aggregate for all thresholds, one broadcast-back "
        "coverage pass; two scans total for any number of levels."
    ),
)(
    lambda spark, sf_dir: quality.conformal_quality_thresholds(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "x_ldiversity",
    # quasi user_id, sensitive event_type, l=3
    "WITH g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, "
    " CAST(count(DISTINCT event_type) AS BIGINT) AS d "
    " FROM events GROUP BY 1) "
    "SELECT 'user_id' AS quasi, 'event_type' AS sensitive, "
    " CAST(3 AS INTEGER) AS l, "
    " CAST(SUM(n) AS BIGINT) AS n_rows, "
    " CAST(count(*) AS BIGINT) AS n_groups, "
    " CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT) "
    "   AS n_violating_groups, "
    " CAST(SUM(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT) "
    "   AS n_rows_at_risk, "
    " round(SUM(CASE WHEN d < 3 THEN n ELSE 0 END) "
    "   / CAST(SUM(n) AS DOUBLE), 6) AS risk_ratio, "
    " CAST(min(d) AS BIGINT) AS min_diversity "
    "FROM g",
    desc=(
        "l-diversity privacy audit — the homogeneity-attack gap "
        "k-anonymity leaves open: quasi-identifier groups whose "
        "sensitive column takes fewer than l distinct values, and the "
        "rows they expose, folded to one report row. One hash "
        "aggregate on the quasi key (count + count-distinct share the "
        "exchange), integer-exact except the rounded ratio."
    ),
)(
    lambda spark, sf_dir: quality.l_diversity_audit(
        _t(spark, sf_dir, "events"), ["user_id"], "event_type", l=3
    )
)
