"""Graphs (operators/graph.py) over near-duplicate and co-occurrence
edges: PageRank, triangles, BFS levels, Adamic-Adar, label propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _t, register
from ..operators import graph
from ..session import memo
from ._shared import _VERIFIED_CTES, _dedup_cached


def _pagerank_sql(iters: int = 5, scale: int = 10**12) -> str:
    """Unrolled integer-PageRank oracle over the verified near-dup pair
    graph — every operation BIGINT, so the result is bit-identical to
    the Spark side regardless of join/partition order."""
    parts = [
        "p0 AS (SELECT doc_a, doc_b FROM cand JOIN jac USING (doc_a, doc_b) "
        " WHERE jaccard >= 0.5)",
        "ed AS (SELECT doc_a AS src, doc_b AS dst FROM p0 "
        " UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p0)",
        "dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src)",
        "nd AS (SELECT DISTINCT src AS node FROM ed)",
        "nn AS (SELECT count(*) AS n FROM nd)",
        f"r0 AS (SELECT node, {scale} // n AS rank_scaled FROM nd CROSS JOIN nn)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            # CAST: DuckDB widens SUM(BIGINT) to HUGEINT (float in pandas)
            f"r{k} AS (SELECT nd.node, CAST(({scale} * 15) // (100 * nn.n) "
            f" + COALESCE(CAST(SUM((p.rank_scaled * 85) // (100 * dg.deg)) AS BIGINT), 0) AS BIGINT) AS rank_scaled "
            f" FROM nd CROSS JOIN nn "
            f" LEFT JOIN ed ON ed.dst = nd.node "
            f" LEFT JOIN dg ON dg.src = ed.src "
            f" LEFT JOIN r{k-1} p ON p.node = ed.src "
            f" GROUP BY nd.node, nn.n)"
        )
    return ", ".join(parts) + f" SELECT node, rank_scaled FROM r{iters}"


register(
    "ns_graph_pagerank",
    f"WITH {_VERIFIED_CTES}, {_pagerank_sql()}",
    desc=(
        "PageRank centrality over the verified near-dup pair graph "
        "(5 iterations, damping 0.85) in exact scaled-integer "
        "arithmetic — float in-mass sums are partition-order-dependent, "
        "integer sums are associative, so the ranks are bit-identical "
        "across engines and reruns. Corpus use: the most-central doc of "
        "a duplicate cluster is its canonical representative. Per "
        "iteration: one edge-list equi-join + one map-side-combined sum."
    ),
)(
    lambda spark, sf_dir: (lambda pairs: graph.pagerank_integer(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    ))(_dedup_cached(spark, sf_dir, "pairs"))
)


def _triangles_sql() -> str:

    return (
        f"WITH {_VERIFIED_CTES}, "
        "p0 AS (SELECT doc_a, doc_b FROM cand JOIN jac USING (doc_a, doc_b) "
        " WHERE jaccard >= 0.5), "
        "t AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z "
        " FROM p0 e1 JOIN p0 e2 ON e2.doc_a = e1.doc_b "
        " JOIN p0 e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b), "
        "nd AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t "
        " UNION ALL SELECT z FROM t) "
        "SELECT node, count(*) AS n_triangles FROM nd GROUP BY 1"
    )


@register("ns_graph_triangles", _triangles_sql())
def ns_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the verified near-dup pair graph
    (operators/graph.triangle_counts): degree orientation bounds every
    out-neighborhood at O(sqrt(m)), so the wedge join never explodes
    on a hub — vs the naive neighborhood self-join whose hottest key
    costs deg^2. Docs in many triangles sit in tight duplicate
    cliques; chain-shaped borderline matches score 0. The oracle is
    the naive ordered 3-way join (orientation-independent count)."""
    pairs = _dedup_cached(spark, sf_dir, "pairs")
    return graph.triangle_counts(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )


_BFS_DEPTH = 8


_BFS_MIN_CO = 2


# the repeat-co-order part graph, shared by the BFS and link-prediction
# registrations: parts linked when co-ordered in >= min_co orders
_CO_EDGE_CTES = (
    "co AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, "
    " count(*) AS w FROM lineitem a JOIN lineitem b "
    " ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey "
    " GROUP BY 1, 2), "
    f"e0 AS (SELECT src, dst FROM co WHERE w >= {_BFS_MIN_CO})"
)


def _co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _CO_EDGE_CTES: one orderkey self-join (fan-out
    bounded by order size squared) + one (src, dst) count aggregate,
    w >= min_co cut; symmetric by construction. A session artifact,
    materialized once per (application, sf_dir) via localCheckpoint:
    BFS, label propagation, and Adamic-Adar all read the SAME graph —
    a production pipeline materializes the edge list once and runs
    every graph read off it, so the registry does too."""
    def build() -> DataFrame:
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a = li.select(
            F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src")
        )
        b = li.select(
            F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst")
        )
        return (
            a.join(b, "_o")
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("_w"))
            .where(F.col("_w") >= _BFS_MIN_CO)
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )

    return memo(spark, "co_edges", (sf_dir,), build)


def _bfs_sql(max_depth: int, min_co: int) -> str:
    return (
        f"WITH RECURSIVE {_CO_EDGE_CTES}, "
        "seed AS (SELECT min(src) AS s FROM e0), "
        "bfs(node, lvl) AS (SELECT s, 0 FROM seed "
        " UNION SELECT e0.dst, b.lvl + 1 FROM bfs b "
        f" JOIN e0 ON e0.src = b.node WHERE b.lvl < {max_depth}) "
        "SELECT CAST(node AS BIGINT) AS node, "
        "CAST(min(lvl) AS INTEGER) AS level FROM bfs GROUP BY 1"
    )


@register(
    "ns_graph_bfs_levels",
    _bfs_sql(_BFS_DEPTH, _BFS_MIN_CO),
    desc=(
        "BFS levels (shortest hop distance, <= 8) from the smallest "
        "part over the repeat-co-order graph (parts linked when "
        "co-ordered in >= 2 orders — the association graph behind "
        "recommendations and substitute detection): per-level frontier "
        "counts reveal the graph's reach profile. Eight frontier-join "
        "rounds, per-round traffic bounded by the frontier, not the "
        "graph; the edge build's fan-out is bounded by order size "
        "squared. Oracle = recursive-CTE shortest path (min level "
        "over all enumerated walks)."
    ),
)
def ns_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-iteration BFS (operators/graph.bfs_levels) over the
    co-order part graph — distance joins the centrality (pagerank)
    and membership (connected components) graph reads. Edge weights
    come from one orderkey self-join (fan-out <= order size squared,
    the TPC-H cap of 7 lines) plus one (src, dst) count aggregate;
    the w >= 2 cut keeps only repeat associations, the graph whose
    diameter is worth measuring."""
    return graph.bfs_levels(
        _co_edges(spark, sf_dir), max_depth=_BFS_DEPTH
    )


def _adamic_adar_sql(max_degree: int, min_common: int) -> str:
    return (
        f"WITH {_CO_EDGE_CTES}, "
        "und AS (SELECT DISTINCT src AS a, dst AS b FROM e0 WHERE src < dst), "
        "sym AS (SELECT a AS w, b AS nb FROM und "
        " UNION ALL SELECT b, a FROM und), "
        "deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg "
        " FROM sym GROUP BY 1), "
        f"mid AS (SELECT sym.w, sym.nb, deg FROM sym JOIN deg USING (w) "
        f" WHERE deg <= {max_degree}), "
        "p AS (SELECT l.nb AS u, r.nb AS v, "
        " CAST(count(*) AS BIGINT) AS cn, "
        " SUM(CAST(round(1.0 / ln(CAST(l.deg AS DOUBLE)), 12) "
        "  AS DECIMAL(28,12))) AS aa "
        " FROM mid l JOIN mid r ON l.w = r.w AND l.nb < r.nb "
        " GROUP BY 1, 2) "
        f"SELECT u AS node_a, v AS node_b, cn AS common_neighbors, "
        f"round(CAST(aa AS DOUBLE), 6) AS aa_score FROM p "
        f"WHERE cn >= {min_common} AND NOT EXISTS "
        "(SELECT 1 FROM und WHERE und.a = p.u AND und.b = p.v)"
    )


@register(
    "ns_graph_adamic_adar",
    _adamic_adar_sql(64, 2),
    desc=(
        "Adamic-Adar link prediction on the repeat-co-order part "
        "graph: for non-adjacent part pairs sharing >= 2 repeat "
        "co-purchase partners, sum(1/ln(deg)) over the common "
        "neighbors — rare shared partners outweigh hubs. Middles "
        "above degree 64 are excluded (the hub cut that bounds wedge "
        "fan-out, mirrored in the oracle); 1/ln terms pinned "
        "DECIMAL(28,12) for exact sums. Completes the graph family: "
        "distance (BFS), centrality (PageRank), cohesion "
        "(triangles), prediction (this)."
    ),
)
def ns_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (operators/graph.adamic_adar) over the shared
    co-order edge build (_co_edges) — wedge join bounded by the
    degree cap, existing edges anti-joined away."""
    return graph.adamic_adar(_co_edges(spark, sf_dir))


def _label_prop_sql(n_iter: int, min_size: int) -> str:
    ctes = [
        _CO_EDGE_CTES,
        "n0 AS (SELECT DISTINCT src AS node FROM e0)",
        "l0 AS (SELECT node, node AS lab FROM n0)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"v{i} AS (SELECT e.src AS node, l.lab, count(*) AS c "
            f"FROM e0 e JOIN l{i-1} l ON l.node = e.dst GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, lab FROM (SELECT node, lab, "
            f"row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) "
            f"AS rn FROM v{i}) WHERE rn = 1)"
        )
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT CAST(lab AS BIGINT) AS community, "
        f"CAST(count(*) AS BIGINT) AS n_members FROM l{n_iter} "
        f"GROUP BY 1 HAVING count(*) >= {min_size}"
    )


register(
    "ns_graph_label_prop",
    _label_prop_sql(3, 2),
    desc=(
        "Communities of the repeat-co-order part graph via 3-round "
        "synchronous label propagation (Raghavan et al. 2007), ties "
        "toward the smallest label for engine-exact determinism; "
        "reported as community sizes >= 2. Per round: one edge-keyed "
        "label join, one (node,label) vote count, one node-partitioned "
        "argmax window. Oracle = the same three rounds unrolled as CTEs."
    ),
)(
    lambda spark, sf_dir: graph.label_propagation(
        _co_edges(spark, sf_dir), n_iter=3, min_size=2
    )
)
