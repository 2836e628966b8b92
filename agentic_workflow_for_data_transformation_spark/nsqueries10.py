"""Round-9 session registrations: the corpus-construction extensions a
training-data owner reaches for after the evaluation layer — hybrid
lexical+dense retrieval (BM25 and exact cosine reciprocal-rank-fused,
the production search shape), UniMax epoch-capped budget allocation
(Chung et al. ICLR 2023 — the fairer alternative to temperature
sampling), and the Poisson bootstrap (Chamandy et al. 2012 — B
replicate means from one corpus scan, the only bootstrap that scales).
All exact-oracle: integer ranks from 6-decimal pinned scores, the
water-filling capped set identified in pure-integer window arithmetic,
and hash-derived integer bootstrap weights through shared CDF cutoff
literals. Registered AFTER the frozen round-9 driver window (the r5
lesson) — these lead the r10 rotation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .benchqueries import _t, register
from .operators import corpus, graph, profile, similarity, stats, text
from .session import memo


# --------------------------------------------------------------- hybrid
_HYBRID_QT: dict[int, list[str]] = {
    0: ["vector", "stream"],
    7: ["window", "group", "merge"],
    11: ["join", "hash"],
}


def _hybrid_sql(query_terms: dict[int, list[str]], k: int, depth: int,
                rrf_k: int = 60, k1: float = 1.2, b: float = 0.75) -> str:
    """Oracle for hybrid_rrf_topk: the identical BM25 and cosine
    expression shapes as the ns_text_bm25 / ns_sim_rrf_fusion oracles,
    depth-cut ranks, FULL OUTER fuse, per-query fused top-k."""
    qt_rows = sorted(
        (int(qid), t) for qid, terms in query_terms.items() for t in terms
    )
    all_terms = sorted({t for _, t in qt_rows})
    qids = sorted({q for q, _ in qt_rows})
    terms_in = ", ".join(f"'{t}'" for t in all_terms)
    qt_values = ", ".join(f"({q}, '{t}')" for q, t in qt_rows)
    qids_in = ", ".join(str(q) for q in qids)
    return (
        "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id IN ({qids_in})), "
        "ds AS (SELECT query_id, d.vec_id AS id, "
        " round(list_cosine_similarity(d.v, qv), 6) AS cos_sim "
        " FROM d, q WHERE d.vec_id <> query_id), "
        "rd AS (SELECT query_id, id, CAST(row_number() OVER ("
        "  PARTITION BY query_id ORDER BY cos_sim DESC, id) AS INTEGER) "
        "  AS rank_dense FROM ds), "
        f"rdc AS (SELECT * FROM rd WHERE rank_dense <= {depth}), "
        "w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
        "dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1), "
        "n AS (SELECT count(*) AS n_docs FROM documents), "
        "ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), "
        f"tf AS (SELECT doc_id, w, count(*) AS tf FROM w WHERE w IN ({terms_in}) GROUP BY 1, 2), "
        "dfreq AS (SELECT w, count(*) AS dfq FROM tf GROUP BY 1), "
        f"qt(query_id, w) AS (VALUES {qt_values}), "
        "s AS (SELECT query_id, doc_id, "
        " ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5)) * "
        f" ((tf * {k1 + 1.0}) / (tf + {k1} * ({1.0 - b} + {b} * dl / avgdl))) AS s "
        " FROM tf JOIN qt USING (w) JOIN dfreq USING (w) JOIN dl USING (doc_id) "
        " CROSS JOIN n CROSS JOIN ad WHERE doc_id <> query_id), "
        "lex AS (SELECT query_id, doc_id AS id, round(sum(s), 6) AS bm25 "
        " FROM s GROUP BY 1, 2), "
        "rl AS (SELECT query_id, id, CAST(row_number() OVER ("
        "  PARTITION BY query_id ORDER BY bm25 DESC, id) AS INTEGER) "
        "  AS rank_lex FROM lex), "
        f"rlc AS (SELECT * FROM rl WHERE rank_lex <= {depth}), "
        "f AS (SELECT coalesce(rdc.query_id, rlc.query_id) AS query_id, "
        " coalesce(rdc.id, rlc.id) AS id, rank_dense, rank_lex "
        " FROM rdc FULL OUTER JOIN rlc "
        " ON rdc.query_id = rlc.query_id AND rdc.id = rlc.id), "
        "g AS (SELECT *, "
        f" round(coalesce(1.0 / ({rrf_k} + rank_dense), 0.0) "
        f" + coalesce(1.0 / ({rrf_k} + rank_lex), 0.0), 6) AS rrf_score FROM f) "
        "SELECT query_id, id AS doc_id, rank_dense, rank_lex, rrf_score, "
        "fused_rank FROM (SELECT *, CAST(row_number() OVER ("
        " PARTITION BY query_id ORDER BY rrf_score DESC, id) AS INTEGER) "
        f" AS fused_rank FROM g) WHERE fused_rank <= {k}"
    )


@register(
    "ns_sim_hybrid_rrf",
    _hybrid_sql(_HYBRID_QT, k=10, depth=50),
    desc=(
        "Hybrid lexical+dense retrieval: per query, BM25 over the "
        "document text and exact cosine over the embedding column, "
        "each ranking depth-cut at 50, reciprocal-rank-fused "
        "(1/(60+rank)); fused top-10 with both source ranks (NULL = "
        "that ranker missed it). One text explode and one embedding "
        "scan serve all queries; the fuse join is bounded at 2*depth "
        "rows per query regardless of corpus size."
    ),
)
def ns_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25+cosine RRF (operators/similarity.hybrid_rrf_topk):
    the production retrieval shape next to the pure-dense ANN family.
    Dense query = the query id's own corpus vector, lexical query =
    its term list; both rank windows partition by query_id and the
    depth cut bounds the full-outer fuse."""
    return similarity.hybrid_rrf_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        _HYBRID_QT, k=10, depth=50,
    )


# --------------------------------------------------------------- unimax
_UNIMAX_B = 48000
_UNIMAX_E = 2

def _unimax_oracle() -> str:
    """Delegates to the sqlgen 'unimax' renderer (the NL p102 path),
    so the operator registration and the NL clause share ONE oracle
    chain."""
    from .plans.sqlgen import spec_to_sql

    return spec_to_sql(
        {"ops": [{"op": "unimax", "budget": _UNIMAX_B, "key": "source",
                  "epochs": _UNIMAX_E}]},
        "documents",
    )


@register(
    "ns_corpus_unimax",
    _unimax_oracle(),
    desc=(
        "UniMax budget allocation (Chung et al., ICLR 2023): "
        "distribute a 48k-token training budget across sources with "
        "an epoch cap of 2 — water-filling closed form, the capped "
        "prefix identified by pure-integer window arithmetic on the "
        "source-cardinality frame; one corpus scan total."
    ),
)
def ns_corpus_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped mixing (operators/corpus.unimax_allocation)
    beside the temperature mix (ns_corpus_mix_weights): fairer
    multi-source sampling where no source repeats more than E times
    and the rest of the budget spreads uniformly."""
    return corpus.unimax_allocation(
        _t(spark, sf_dir, "documents"),
        budget_tokens=_UNIMAX_B, max_epochs=_UNIMAX_E,
    )


# ------------------------------------------------------------ bootstrap
def _bootstrap_oracle(n_boot: int) -> str:
    """Delegates to the sqlgen 'bootstrap_mean' renderer (the NL p103
    path): same integer Poisson(1) CDF cutoffs
    (sampling.POISSON1_CUTOFFS), same md5 draw, decimal-exact weighted
    sums, nearest-rank picks with NULLS FIRST pinned."""
    from .plans.sqlgen import spec_to_sql

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
    from .operators import stats as _stats

    return _stats.poisson_bootstrap_ci(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        n_boot=40,
    )


# ------------------------------------------------------------- pca top2
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
    from .operators import linalg as _linalg

    return _linalg.power_iteration_top2(
        _t(spark, sf_dir, "embeddings"), n_iter=6,
    )


def _unimax_apply_oracle() -> str:
    """Materialized-UniMax oracle: the sqlgen unimax chain as a
    subquery, then the same floor/frac-cutoff copy arithmetic and the
    same md5 draw domain as sampling.hash_draw."""
    alloc = _unimax_oracle()
    draw = (
        "(('0x' || substr(md5('unimax|' || doc_id::VARCHAR), 1, 15))"
        "::BIGINT % 1000000)"
    )
    return (
        f"WITH __alloc AS ({alloc}), "
        "__plan AS (SELECT source, CAST(floor(epochs) AS INTEGER) AS f, "
        " CAST(round((epochs - floor(epochs)) * 1000000.0) AS BIGINT) "
        " AS cut FROM __alloc), "
        "__d AS (SELECT doc_id, source, "
        f" f + (CASE WHEN {draw} < cut THEN 1 ELSE 0 END) AS n "
        " FROM documents JOIN __plan USING (source)) "
        "SELECT doc_id, source, "
        "CAST(unnest(generate_series(1, n)) AS INTEGER) AS copy "
        "FROM __d WHERE n > 0"
    )


@register(
    "ns_corpus_unimax_apply",
    _unimax_apply_oracle(),
    desc=(
        "Materialized UniMax corpus: every document appears "
        "floor(epochs) times plus one hash-Bernoulli extra copy at "
        "frac(epochs) — expected tokens per source equal the "
        "allocation, no document exceeds the epoch cap. The "
        "group-cardinality plan broadcasts onto a second scan; the "
        "copy explode shuffles nothing."
    ),
)
def ns_corpus_unimax_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The allocation made real (corpus.apply_unimax_sampling) — the
    unimax twin of mix_weights/mix_apply: weights AND the
    deterministic sampler that materializes them."""
    return corpus.apply_unimax_sampling(
        _t(spark, sf_dir, "documents"),
        budget_tokens=_UNIMAX_B, max_epochs=_UNIMAX_E,
    )


def _bootstrap_diff_oracle(n_boot: int) -> str:
    """Oracle for bootstrap_diff_ci over the event_id-parity cohorts
    (the welch_ttest cohort split): same draw, same cutoffs, four
    decimal sums per (group, replicate), nearest-rank band, zero test."""
    import math as _math

    from .operators.sampling import POISSON1_CUTOFFS

    lo = max(1, _math.ceil(0.025 * n_boot))
    hi = _math.ceil(0.975 * n_boot)
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
    from pyspark.sql import functions as F

    from .operators import stats as _stats

    return _stats.bootstrap_diff_ci(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id",
        cohort=F.col("event_id") % 2 == 0, n_boot=40,
    )


# ------------------------------------------------------- mutual info
def _mi_oracle() -> str:
    """Delegates to the sqlgen 'mutual_info' renderer (the NL p105
    path) so the decimal-pinned term chain lives in ONE place."""
    from .plans.sqlgen import spec_to_sql

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


# ---------------------------------------------------------- spearman
_SPEAR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _spearman_sql(cols: list[str], table: str = "lineitem") -> str:
    """Delegates to the sqlgen 'spearman' renderer (the NL p104 path)
    so the rank CTEs + shared _correlate_sql moment chain live in ONE
    place."""
    from .plans.sqlgen import spec_to_sql

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


# --------------------------------------------------------------- bfs
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


# ------------------------------------------------------------- kendall
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


# --------------------------------------------------------- kneser-ney
register(
    "ns_text_kneser_ney",
    "WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents), "
    "g AS (SELECT unnest(list_transform(range(1, len(ws)), "
    " i -> [ws[i], ws[i+1]])) AS bg FROM w WHERE len(ws) >= 2), "
    "c AS (SELECT bg[1] AS w1, bg[2] AS w2, CAST(count(*) AS BIGINT) AS n "
    " FROM g GROUP BY 1, 2), "
    "c1 AS (SELECT w1, CAST(sum(n) AS BIGINT) AS c1, "
    " CAST(count(*) AS BIGINT) AS nf FROM c GROUP BY 1), "
    "nb AS (SELECT w2, CAST(count(*) AS BIGINT) AS nb FROM c GROUP BY 1), "
    "b AS (SELECT CAST(count(*) AS BIGINT) AS btot FROM c) "
    "SELECT w1, w2, n, "
    "round(greatest(CAST(n AS DOUBLE) - 0.75, 0.0) / c1 "
    " + (0.75 * nf / c1) * (nb / CAST(btot AS DOUBLE)), 6) AS p_kn "
    "FROM c JOIN c1 USING (w1) JOIN nb USING (w2) CROSS JOIN b "
    "WHERE n >= 2",
    desc=(
        "Interpolated Kneser-Ney bigram probabilities (d = 0.75) — "
        "the continuation-count smoothing every n-gram quality scorer "
        "wants over raw MLE: backoff mass goes to words by how many "
        "contexts they complete, not how often they occur. One "
        "corpus-sized exchange (the bigram count aggregate); prefix, "
        "follower, continuation and total counts all derive from "
        "that cell frame and join back broadcast."
    ),
)(
    lambda spark, sf_dir: text.kneser_ney_bigrams(
        _t(spark, sf_dir, "documents"), min_count=2
    )
)


# ---------------------------------------------------------- link pred
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
