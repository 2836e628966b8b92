"""Time series (operators/timeseries.py): ordered multi-step funnels.
"""

from __future__ import annotations

from ..benchqueries import _t, register
from ..operators import timeseries


_FUNNEL = ["view", "click", "purchase"]


register(
    "x_funnel_conversion",
    "WITH u1 AS (SELECT user_id, min(ts) AS t1 FROM events "
    f" WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1), "
    "u2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e "
    " JOIN u1 ON e.user_id = u1.user_id AND e.ts > u1.t1 "
    f" WHERE e.event_type = '{_FUNNEL[1]}' GROUP BY 1), "
    "u3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e "
    " JOIN u2 ON e.user_id = u2.user_id AND e.ts > u2.t2 "
    f" WHERE e.event_type = '{_FUNNEL[2]}' GROUP BY 1), "
    "c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM u1) AS c1, "
    " (SELECT CAST(count(*) AS BIGINT) FROM u2) AS c2, "
    " (SELECT CAST(count(*) AS BIGINT) FROM u3) AS c3) "
    f"SELECT 1 AS step, '{_FUNNEL[0]}' AS event_type, c1 AS n_users, "
    "CAST(NULL AS DOUBLE) AS conversion FROM c "
    f"UNION ALL SELECT 2, '{_FUNNEL[1]}', c2, "
    "CASE WHEN c1 > 0 THEN round(CAST(c2 AS DOUBLE) / c1, 6) END FROM c "
    f"UNION ALL SELECT 3, '{_FUNNEL[2]}', c3, "
    "CASE WHEN c2 > 0 THEN round(CAST(c3 AS DOUBLE) / c2, 6) END FROM c",
    desc=(
        "Three-stage funnel (view -> click -> purchase) with "
        "first-touch anchoring: per step, users who performed it "
        "strictly after completing the previous step, plus "
        "step-over-step conversion. One min-ts aggregate per step "
        "joined on the user key; 1-row count frames assembled "
        "broadcast-side — no global window, no collect."
    ),
)(
    lambda spark, sf_dir: timeseries.funnel_steps(
        _t(spark, sf_dir, "events"), _FUNNEL
    )
)
