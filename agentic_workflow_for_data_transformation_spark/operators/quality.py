"""Declarative data-quality expectations (the Deequ/Great-Expectations
pattern, Spark-first): a table-level contract — not-null, uniqueness,
accepted values, numeric ranges, regex shape, minimum row count —
checked in ONE pass and reported as one row per expectation.

The reference (agentic_workflow_transformation.py:1-403) has no
quality gate at all; its critic re-reads the output CSV and checks row
counts. This operator is the production form of that idea: a corpus
ingest pipeline asserts its contract on every batch, and the report
table is what the orchestrator (or a human) gates on.

Scale shape: every per-row expectation compiles to a conditional SUM
and every uniqueness expectation to a COUNT DISTINCT inside a SINGLE
global aggregate — one scan, one 1-row partial-aggregated exchange, no
matter how many expectations. The per-expectation report rows are then
exploded from that 1-row frame with ``stack`` (no second scan, no
join). At 100 TB the cost is the scan you were already paying on
ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import DRAW_BUCKETS, hash_draw
from .text import with_quality_score


def _violation_pred(exp: dict) -> F.Column:
    """Per-row violation predicate for one expectation (NULL-safe:
    NULL comparisons count as violations for range/values/regex, which
    is what a contract wants — an unexpected NULL is not a pass)."""
    col = F.col(exp["col"])
    kind = exp["kind"]
    if kind == "not_null":
        return col.isNull()
    if kind == "accepted_values":
        return ~col.isin(*exp["values"]) | col.isNull()
    if kind == "range":
        lo, hi = exp["lo"], exp["hi"]
        return ~col.between(lo, hi) | col.isNull()
    if kind == "regex":
        return ~col.rlike(exp["pattern"]) | col.isNull()
    raise ValueError(f"unknown per-row expectation kind: {kind}")


def check_expectations(df: DataFrame, expectations: list[dict]) -> DataFrame:
    """Evaluate a list of expectation dicts against ``df`` in a single
    aggregate pass. Supported kinds:

    - ``{"kind": "not_null", "col": c}``
    - ``{"kind": "unique", "col": c}`` — violations = rows beyond the
      first occurrence of each value (exact count-distinct)
    - ``{"kind": "accepted_values", "col": c, "values": [...]}``
    - ``{"kind": "range", "col": c, "lo": x, "hi": y}`` (inclusive)
    - ``{"kind": "regex", "col": c, "pattern": r}``
    - ``{"kind": "min_rows", "n": k}``

    Returns (expectation, kind, col, n_rows, n_violations, passed),
    one row per expectation, in input order via the ``expectation``
    label ``<idx>_<kind>_<col>``.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, exp in enumerate(expectations):
        kind = exp["kind"]
        if kind == "unique":
            aggs.append(F.count_distinct(F.col(exp["col"])).alias(f"_d{i}"))
            aggs.append(
                F.sum(F.col(exp["col"]).isNull().cast("long")).alias(f"_dn{i}")
            )
        elif kind == "min_rows":
            pass  # derived from _n
        else:
            aggs.append(
                F.sum(_violation_pred(exp).cast("long")).alias(f"_v{i}")
            )
    one = df.agg(*aggs)

    rows = []
    for i, exp in enumerate(expectations):
        kind = exp["kind"]
        col = exp.get("col", "*")
        label = F.lit(f"{i}_{kind}_{col}")
        if kind == "unique":
            # rows beyond the first occurrence of each value; NULL is a
            # value group too (count_distinct ignores NULLs, so add the
            # NULL group back when present): n - distinct - has_null
            viol = F.col("_n") - F.col(f"_d{i}") - F.when(
                F.col(f"_dn{i}") > 0, F.lit(1)
            ).otherwise(F.lit(0))
        elif kind == "min_rows":
            viol = F.when(
                F.col("_n") < exp["n"], F.lit(exp["n"]) - F.col("_n")
            ).otherwise(F.lit(0))
        else:
            viol = F.col(f"_v{i}")
        rows.append(
            F.struct(
                label.alias("expectation"),
                F.lit(kind).alias("kind"),
                F.lit(col).alias("col"),
                F.col("_n").cast("long").alias("n_rows"),
                viol.cast("long").alias("n_violations"),
                (viol == 0).alias("passed"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("_e")).select("_e.*")


def k_anonymity_audit(df: DataFrame, quasi_cols: list[str],
                      k: int = 5) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): group the table by the
    quasi-identifier columns and report, in ONE row, how much of it
    fails the k-anonymity bar — a row is at risk when its
    quasi-identifier combination is shared by fewer than ``k`` rows,
    because that combination narrows re-identification to a handful
    of individuals. The privacy gate a training-data release runs
    next to the PII redaction pass (text.redact_text): redaction
    scrubs the values, this measures the join-attack surface that
    remains in the metadata columns.

    Output: (quasi, k, n_rows, n_groups, n_violating_groups,
    n_rows_at_risk, risk_ratio, min_group_size) — all integer-exact
    except the single rounded ratio, so the oracle is plain SQL.

    Scale shape: one hash aggregate on the quasi-identifier key (the
    scan you were already paying), then a second aggregate over
    GROUP-cardinality rows down to one row. NULL quasi-identifier
    values group together (Spark and SQL GROUP BY agree on that), so
    an all-NULL column cannot fake anonymity by splitting."""
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    viol = F.col("_n") < k
    return groups.agg(
        F.lit("+".join(quasi_cols)).alias("quasi"),
        F.lit(k).cast("int").alias("k"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("_n")).otherwise(0)).cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(viol, F.col("_n")).otherwise(0))
            / F.sum("_n").cast("double"),
            6,
        ).alias("risk_ratio"),
        F.min("_n").cast("long").alias("min_group_size"),
    )


def majority_vote(df: DataFrame, item_col: str,
                  label_col: str) -> DataFrame:
    """Majority-vote label aggregation — the step AFTER the agreement
    gate (stats.fleiss_kappa): per item, the winning label plus the
    evidence a curator filters on — total ratings, winning votes, vote
    share, the margin over the runner-up, and a tie flag (ties break
    to the smaller label, flagged so downstream can drop or re-route
    them instead of silently trusting the tiebreak).

    Exactness: counts are integers, vote_share is one double division
    rounded to 6, the tiebreak is total (votes desc, label asc) — so
    the aggregated label table is bit-identical on any engine. Scale
    shape: one hash aggregate on (item, label), then one window
    partitioned BY ITEM (key-partitioned, never global) reading the
    top two rows per item; no joins, no driver state."""

    v = df.groupBy(item_col, label_col).agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    # label tiebreak pinned asc_nulls_first: Spark's bare ASC default
    # is NULLS FIRST but DuckDB's is NULLS LAST, so a NULL label tying
    # on votes would pick different winners cross-engine unless both
    # sides spell the null ordering out (the oracle renders
    # 'label ASC NULLS FIRST' to match)
    w = Window.partitionBy(item_col).orderBy(
        F.col("votes").desc(), F.col(label_col).asc_nulls_first()
    )
    wp = Window.partitionBy(item_col)
    ranked = v.select(
        item_col,
        F.col(label_col).alias("majority_label"),
        "votes",
        F.row_number().over(w).alias("_rn"),
        F.lead("votes").over(w).alias("_votes2"),
        F.sum("votes").over(wp).cast("long").alias("n_ratings"),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        item_col,
        "majority_label",
        "n_ratings",
        F.col("votes").alias("n_votes"),
        F.round(F.col("votes") / F.col("n_ratings"), 6).alias("vote_share"),
        (F.col("votes") - F.coalesce(F.col("_votes2"), F.lit(0)))
        .cast("long")
        .alias("margin"),
        (F.coalesce(F.col("_votes2"), F.lit(-1)) == F.col("votes"))
        .alias("is_tie"),
    )


def conformal_quality_thresholds(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 coverages: tuple = (0.8, 0.9, 0.95),
                                 cal_fraction: float = 0.5,
                                 salt: str = "conf") -> DataFrame:
    """Split-conformal threshold calibration for the quality filter —
    instead of guessing a cutoff OR eyeballing the sweep table, pick
    the threshold with a coverage GUARANTEE: hash-split the corpus
    into calibration/test, set each coverage level's threshold at the
    (1 - coverage) quantile of calibration quality scores (so at least
    ~coverage of in-distribution documents survive the filter), then
    report the OBSERVED test-slice coverage beside the target — the
    empirical check that the guarantee transfers (Vovk et al.;
    Angelopoulos & Bates arXiv:2107.07511 for the split form).

    Exactness: the split is the deterministic md5 draw
    (sampling.hash_draw), thresholds are exact interpolated
    percentiles over the calibration slice (Spark percentile ==
    DuckDB quantile_cont, the winsorize precedent) rounded to 6, and
    coverage counts are integers. Scale shape: pass 1 is ONE
    conditional aggregate (counts + all percentiles over the
    null-masked calibration scores); pass 2 broadcasts that 1-row
    frame onto the test slice for conditional coverage counts; the
    report rows are exploded with ``stack``. Two scans total,
    regardless of how many coverage levels."""

    cut = int(cal_fraction * DRAW_BUCKETS)
    scored = with_quality_score(df, text_col).select(id_col, "quality_score")
    base = scored.withColumn("_cal", hash_draw(F.col(id_col), salt) < cut)
    tags = [int(round(c * 100)) for c in coverages]
    aggs = [
        F.sum(F.when(F.col("_cal"), 1).otherwise(0)).cast("long").alias("n_cal"),
        F.sum(F.when(~F.col("_cal"), 1).otherwise(0)).cast("long").alias("n_test"),
    ]
    for c, tag in zip(coverages, tags):
        p = round(1.0 - c, 6)
        aggs.append(
            F.round(
                F.expr(
                    f"percentile(CASE WHEN _cal THEN quality_score END, {p!r})"
                ),
                6,
            ).alias(f"_t{tag}")
        )
    one = base.agg(*aggs)
    cov = (
        base.filter(~F.col("_cal"))
        .crossJoin(F.broadcast(one))
        .agg(
            *[
                F.sum(
                    F.when(F.col("quality_score") >= F.col(f"_t{tag}"), 1)
                    .otherwise(0)
                )
                .cast("long")
                .alias(f"_k{tag}")
                for tag in tags
            ]
        )
    )
    arms = ", ".join(
        f"double({c!r}), _t{tag}, _k{tag}" for c, tag in zip(coverages, tags)
    )
    stacked = one.crossJoin(F.broadcast(cov)).select(
        "n_cal",
        "n_test",
        F.expr(
            f"stack({len(tags)}, {arms}) AS (coverage, threshold, n_test_kept)"
        ),
    )
    return stacked.select(
        "coverage",
        "n_cal",
        "threshold",
        "n_test",
        "n_test_kept",
        F.when(
            F.col("n_test") > 0,
            F.round(F.col("n_test_kept").cast("double") / F.col("n_test"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("observed_coverage"),
    )


def l_diversity_audit(df: DataFrame, quasi_cols: list[str],
                      sensitive_col: str, l: int = 3) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) — the
    gap k-anonymity leaves open: a quasi-identifier group can be
    large (k-anonymous) yet carry only ONE sensitive value, so an
    attacker who pins a person to the group learns the attribute
    anyway (the homogeneity attack). A group passes when its
    ``sensitive_col`` takes at least ``l`` DISTINCT values. Run next
    to k_anonymity_audit on every release: k bounds WHO you can
    pin down, l bounds WHAT you learn once you have.

    Output, one row: (quasi, sensitive, l, n_rows, n_groups,
    n_violating_groups, n_rows_at_risk, risk_ratio, min_diversity) —
    integer-exact except the single rounded ratio, plain-SQL oracle.

    Scale shape: one hash aggregate on (quasi key) computing count
    plus count-distinct of the sensitive column (a single exchange —
    Spark plans distinct-in-aggregate with a partial expand, still
    one shuffle on the quasi key), then a fold to one row."""
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.count_distinct(F.col(sensitive_col)).cast("long").alias("_d"),
    )
    viol = F.col("_d") < l
    return groups.agg(
        F.lit("+".join(quasi_cols)).alias("quasi"),
        F.lit(sensitive_col).alias("sensitive"),
        F.lit(l).cast("int").alias("l"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("_n")).otherwise(0)).cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(viol, F.col("_n")).otherwise(0))
            / F.sum("_n").cast("double"),
            6,
        ).alias("risk_ratio"),
        F.min("_d").cast("long").alias("min_diversity"),
    )
