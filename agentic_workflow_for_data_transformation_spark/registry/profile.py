"""Profiling (operators/profile.py): the table profile and the Pearson
and Spearman correlation matrices.
"""

from __future__ import annotations

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import profile
from ..plans.sqlgen import spec_to_sql


register(
    "ns_profile_table",
    # one branch per profiled column, stringified min/max so the
    # columns share a schema — mirrors the stack() unpivot exactly
    "WITH a AS (SELECT count(*) AS _n, "
    " count(o_orderpriority) AS nn1, count(DISTINCT o_orderpriority) AS nd1, "
    " CAST(min(o_orderpriority) AS VARCHAR) AS mn1, CAST(max(o_orderpriority) AS VARCHAR) AS mx1, "
    " count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2, "
    " CAST(min(o_custkey) AS VARCHAR) AS mn2, CAST(max(o_custkey) AS VARCHAR) AS mx2, "
    " count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS nd3, "
    " CAST(min(o_orderstatus) AS VARCHAR) AS mn3, CAST(max(o_orderstatus) AS VARCHAR) AS mx3 "
    " FROM orders) "
    "SELECT 'o_orderpriority' AS \"column\", _n AS n_rows, nn1 AS n_non_null, "
    " nd1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM a "
    "UNION ALL SELECT 'o_custkey', _n, nn2, nd2, mn2, mx2 FROM a "
    "UNION ALL SELECT 'o_orderstatus', _n, nn3, nd3, mn3, mx3 FROM a",
)(
    lambda spark, sf_dir: profile.profile_table(
        _t(spark, sf_dir, "orders"),
        cols=["o_orderpriority", "o_custkey", "o_orderstatus"],
    )
)


def _corr_sql(cols: list[str]) -> str:
    # delegate to the sqlgen 'correlate' renderer so the oracle formula
    # (pairwise-complete masking, DECIMAL(24,6) product widening for
    # DuckDB's int64 DECIMAL multiply) lives in exactly one place
    return spec_to_sql(
        {"ops": [{"op": "correlate", "cols": list(cols)}]}, "lineitem"
    )


register(
    "x_corr_matrix",
    _corr_sql(["l_quantity", "l_extendedprice", "l_discount", "l_tax"]),
    desc=(
        "Pairwise Pearson correlation matrix over the lineitem "
        "measures — which 'independent' features are the same signal "
        "twice, read after per-column profiling. All d + d(d+1)/2 "
        "moments pin DECIMAL inside ONE global aggregate (single "
        "scan), pair rows exploded with stack; r closed-form in "
        "doubles from exact sums, NULL on zero variance."
    ),
)(
    lambda spark, sf_dir: profile.correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
)


_SPEAR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _spearman_sql(cols: list[str], table: str = "lineitem") -> str:
    """Delegates to the sqlgen 'spearman' renderer (the NL p104 path)
    so the rank CTEs + shared _correlate_sql moment chain live in ONE
    place."""
    return spec_to_sql(
        {"ops": [{"op": "spearman", "cols": list(cols)}]}, table
    )


register(
    "x_spearman_matrix",
    _spearman_sql(_SPEAR_COLS),
    desc=(
        "Pairwise Spearman rank correlation matrix over the lineitem "
        "measures — the monotone-association sibling of x_corr_matrix, "
        "robust to outliers and monotone rescaling. Fractional "
        "(average) ranks per column via the two-phase bucketed "
        "cumulative (no global sort anywhere), then the single-scan "
        "DECIMAL-pinned Pearson moment aggregate on the rank columns; "
        "ranks are half-integers so rho is engine-exact."
    ),
)(
    lambda spark, sf_dir: profile.spearman_matrix(
        _t(spark, sf_dir, "lineitem"), _SPEAR_COLS
    )
)


_DESCRIPTIONS.update({
    "ns_profile_table": "One-pass column profiler (rows, non-null, distinct, min/max as strings) unpivoted to one row per column.",
})
