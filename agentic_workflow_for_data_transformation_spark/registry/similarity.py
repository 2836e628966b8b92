"""Vector similarity (operators/similarity.py): exact and approximate
top-k, clustering, classification and retrieval metrics.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import similarity
from ..operators.similarity import _idcg_table, _ndcg_weights
from ..session import memo


_COS = "round(list_cosine_similarity({a}, {b}), 6)"


register(
    "ns_sim_topk_bruteforce",
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) "
    "SELECT vec_id, " + _COS.format(a="embedding::DOUBLE[]", b="qv") + " AS cos_sim "
    "FROM embeddings, q WHERE vec_id <> 0 ORDER BY cos_sim DESC, vec_id LIMIT 10",
)(lambda spark, sf_dir: similarity.topk_cosine_bruteforce(_t(spark, sf_dir, "embeddings"), query_id=0, k=10))


def _bucket_sql(col: str, bits: int = 8) -> str:
    return " || ".join(
        f"(CASE WHEN {col}[{i+1}] >= 0 THEN '1' ELSE '0' END)" for i in range(bits)
    )


def _auto_bits_sql(table: str = "embeddings", target: int = 200,
                   lo: int = 2, hi: int = 16) -> str:
    """Scalar subquery mirroring similarity.auto_bits exactly: the
    oracle computes the same data-dependent bit count the Spark
    operator does, so hash-matched correctness survives scaling."""
    return (
        f"(SELECT CASE WHEN count(*) <= {target} THEN {lo} ELSE "
        f"GREATEST({lo}, LEAST({hi}, CAST(ceil(log2(count(*) / {target}.0)) AS INT))) "
        f"END FROM {table})"
    )


def _auto_bucket_sql(col: str, table: str = "embeddings") -> str:
    """Sign-LSH bucket at the auto-scaled width: the 16-bit bucket
    string truncated to auto_bits chars (identical to computing the
    bucket at that width directly)."""
    return f"substr(({_bucket_sql(col, bits=16)}), 1, {_auto_bits_sql(table)})"


# residual (per-label-centered) bucketing CTEs mirroring
# similarity.residual_sign_bucket: decimal-exact per-(label, dim) means
# rounded to 6, then sign bits of v - center truncated to auto_bits
_RESIDUAL_CTR_CTES = (
    "m AS (SELECT label, i, "
    " round(CAST(sum(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / count(*), 6) AS c "
    " FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM d) "
    " WHERE i <= 16 GROUP BY 1, 2), "
    "ctr AS (SELECT label, list(c ORDER BY i) AS cv FROM m GROUP BY 1)"
)


def _residual_bucket_sql(table: str = "embeddings", hi: int = 16) -> str:
    full = " || ".join(
        f"(CASE WHEN v[{i+1}] - cv[{i+1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(hi)
    )
    return f"substr(({full}), 1, {_auto_bits_sql(table)})"


register(
    "ns_sim_topk_lsh",
    "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    f"{_bucket_sql('embedding', bits=4)} AS bucket FROM embeddings), "
    "q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0) "
    "SELECT vec_id, " + _COS.format(a="v", b="qv") + " AS cos_sim "
    "FROM b, q WHERE vec_id <> 0 AND bucket = qbucket "
    "ORDER BY cos_sim DESC, vec_id LIMIT 5",
)(lambda spark, sf_dir: similarity.topk_cosine_lsh(_t(spark, sf_dir, "embeddings"), query_id=0, k=5, bits=4))


register(
    "ns_dedup_embedding_cosine",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"b AS (SELECT vec_id, v, {_auto_bucket_sql('v')} AS bucket FROM d) "
    "SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, "
    + _COS.format(a="x.v", b="y.v") + " AS cos_sim "
    "FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id "
    "WHERE " + _COS.format(a="x.v", b="y.v") + " >= 0.4",
)(
    lambda spark, sf_dir: similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, bits=None
    )
)


register(
    "ns_sim_knn_per_label",
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "p AS (SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nn_vec_id, "
    + _COS.format(a="a.v", b="b.v") + " AS cos_sim, "
    "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
    + _COS.format(a="a.v", b="b.v") + " DESC, b.vec_id) AS rn "
    "FROM d a JOIN d b ON a.label = b.label AND a.vec_id <> b.vec_id) "
    "SELECT vec_id, label, nn_vec_id, cos_sim FROM p WHERE rn = 1",
)(lambda spark, sf_dir: similarity.knn_join_per_label(_t(spark, sf_dir, "embeddings"), k=1))


register(
    "ns_centroids_per_label",
    "WITH e AS (SELECT label, unnest(embedding) AS val, "
    " generate_subscripts(embedding, 1) AS i FROM embeddings) "
    "SELECT label, i - 1 AS pos, "
    "round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS centroid_val "
    "FROM e GROUP BY label, i",
)(
    lambda spark, sf_dir: _t(spark, sf_dir, "embeddings")
    .select("label", F.posexplode("embedding").alias("pos", "val"))
    .groupBy("label", "pos")
    .agg(
        F.round(
            F.sum(F.col("val").cast("decimal(20,10)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("centroid_val")
    )
)


def _topk_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a bucket-partitioned materialization: the probe's
    literal bucket predicate prunes at the FILE level (PartitionFilters
    in the scan), asserted by tests/test_plans.py."""
    out = f"/tmp/spark_graft_part/{Path(sf_dir).name}/emb_by_bucket"
    return similarity.topk_cosine_partition_pruned(
        spark, _t(spark, sf_dir, "embeddings"), query_id=7, out_path=out, k=5, bits=4
    )


register(
    "ns_sim_topk_partitioned",
    "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    f"{_bucket_sql('embedding', bits=4)} AS bucket FROM embeddings), "
    "q AS (SELECT v AS qv FROM b WHERE vec_id = 7), "
    "qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 7) "
    "SELECT vec_id, " + _COS.format(a="v", b="qv") + " AS cos_sim "
    "FROM b, q, qb WHERE vec_id <> 7 AND bucket = qbucket "
    "ORDER BY cos_sim DESC, vec_id LIMIT 5",
)(_topk_partitioned)


register(
    "ns_embed_quantize",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "s AS (SELECT vec_id, v, CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0 "
    "THEN list_max(list_transform(v, x -> abs(x))) / 127.0 ELSE 1.0 END AS scale FROM d) "
    "SELECT vec_id, round(scale, 9) AS scale, "
    "CAST(unnest(range(len(v))) AS INTEGER) AS dim_idx, "
    "CAST(round(unnest(v) / scale) AS INTEGER) AS q FROM s",
)(
    lambda spark, sf_dir: similarity.quantize_int8(
        _t(spark, sf_dir, "embeddings")
    ).select("vec_id", "scale", F.posexplode("qvec").alias("dim_idx", "q"))
)


register(
    "ns_kmeans_refined",
    # one Lloyd iteration unrolled: init cells (vec_id < 8) -> assign ->
    # decimal-mean refine (rounded 6) -> final assignment
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "c0 AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 8), "
    "a1 AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY "
    " round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn FROM d, c0), "
    "m1 AS (SELECT cell, i, round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS cval "
    " FROM (SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a1 WHERE rn = 1) "
    " GROUP BY cell, i), "
    "c1 AS (SELECT cell, list(cval ORDER BY i) AS cv FROM m1 GROUP BY cell), "
    "a2 AS (SELECT vec_id, cell, round(list_cosine_similarity(v, cv), 6) AS cent_sim, "
    " row_number() OVER (PARTITION BY vec_id ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn "
    " FROM d, c1) "
    "SELECT vec_id, cell, cent_sim FROM a2 WHERE rn = 1",
)(lambda spark, sf_dir: similarity.kmeans_assign(_t(spark, sf_dir, "embeddings"), n_centroids=8, n_iter=1))


register(
    "ns_sim_topk_ivf",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "c AS (SELECT vec_id AS cent_id, v AS cv FROM d WHERE vec_id < 8), "
    "a AS (SELECT vec_id, v, cent_id, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY "
    + _COS.format(a="v", b="cv") + " DESC, cent_id) AS rn FROM d, c), "
    "cells AS (SELECT vec_id, v, cent_id AS cell FROM a WHERE rn = 1), "
    "q AS (SELECT v AS qv FROM d WHERE vec_id = 0), "
    "probe AS (SELECT cent_id AS probe_cell, qv FROM c, q "
    "  ORDER BY " + _COS.format(a="qv", b="cv") + " DESC, cent_id LIMIT 2) "
    "SELECT vec_id, cell, " + _COS.format(a="v", b="qv") + " AS cos_sim "
    "FROM cells JOIN probe ON cell = probe_cell WHERE vec_id <> 0 "
    "ORDER BY cos_sim DESC, vec_id LIMIT 5",
)(
    lambda spark, sf_dir: similarity.topk_cosine_ivf(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=5, n_centroids=8, n_probe=2
    )
)


register(
    "ns_sim_topk_multi",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id IN (0, 1, 2, 3)), "
    "s AS (SELECT query_id, vec_id, " + _COS.format(a="v", b="qv") + " AS cos_sim, "
    " row_number() OVER (PARTITION BY query_id ORDER BY "
    + _COS.format(a="v", b="qv") + " DESC, vec_id) AS rn "
    " FROM d, q WHERE vec_id <> query_id) "
    "SELECT query_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM s WHERE rn <= 3",
)(
    lambda spark, sf_dir: similarity.topk_cosine_multi(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3], k=3
    )
)


_BITS4_BUCKET = (
    "concat(CASE WHEN v[1] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[2] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[3] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[4] >= 0 THEN '1' ELSE '0' END)"
)


register(
    "ns_ann_recall_lsh",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"b AS (SELECT vec_id, v, {_BITS4_BUCKET} AS bucket FROM d), "
    "q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM b "
    " WHERE vec_id IN (0, 1, 2, 3)), "
    "ex AS (SELECT query_id, vec_id FROM ("
    " SELECT q.query_id, d.vec_id, row_number() OVER (PARTITION BY q.query_id "
    " ORDER BY " + _COS.format(a="d.v", b="q.qv") + " DESC, d.vec_id) AS rn "
    " FROM d, q WHERE d.vec_id <> q.query_id) WHERE rn <= 5), "
    "ann AS (SELECT query_id, vec_id FROM ("
    " SELECT q.query_id, b.vec_id, row_number() OVER (PARTITION BY q.query_id "
    " ORDER BY " + _COS.format(a="b.v", b="q.qv") + " DESC, b.vec_id) AS rn "
    " FROM b, q WHERE b.vec_id <> q.query_id AND b.bucket = q.qbucket) WHERE rn <= 5), "
    "h AS (SELECT a.query_id, count(*) AS n_hits FROM ann a "
    " JOIN ex USING (query_id, vec_id) GROUP BY 1), "
    "c AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY 1) "
    "SELECT c.query_id, c.n_ann, coalesce(h.n_hits, 0) AS n_hits, "
    "round(coalesce(h.n_hits, 0) / 5.0, 6) AS recall "
    "FROM c LEFT JOIN h USING (query_id)",
)(
    lambda spark, sf_dir: similarity.ann_recall_vs_bruteforce(
        _t(spark, sf_dir, "embeddings"), query_ids=[0, 1, 2, 3], k=5, bits=4
    )
)


register(
    "ns_sim_knn_bucketed",
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    f"{_RESIDUAL_CTR_CTES}, "
    "b AS (SELECT vec_id, d.label AS label, v, "
    f"{_residual_bucket_sql()} AS bucket FROM d JOIN ctr ON d.label = ctr.label), "
    "p AS (SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS nn_vec_id, "
    + _COS.format(a="a.v", b="b.v") + " AS cos_sim, "
    "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
    + _COS.format(a="a.v", b="b.v") + " DESC, b.vec_id) AS rn "
    "FROM b a JOIN b b ON a.label = b.label AND a.bucket = b.bucket "
    "AND a.vec_id <> b.vec_id) "
    "SELECT vec_id, label, nn_vec_id, cos_sim FROM p WHERE rn = 1",
)(
    lambda spark, sf_dir: similarity.knn_join_bucketed(
        _t(spark, sf_dir, "embeddings"), k=1, bits=None
    )
)


register(
    "ns_dedup_embedding_apply",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"b AS (SELECT vec_id, v, {_auto_bucket_sql('v')} AS bucket FROM d), "
    "r AS (SELECT bucket, min(vec_id) AS rep_id FROM b GROUP BY 1), "
    "rv AS (SELECT r.bucket, r.rep_id, b.v AS rv FROM r JOIN b ON r.rep_id = b.vec_id), "
    "s AS (SELECT b.vec_id, b.bucket, rv.rep_id, "
    + _COS.format(a="b.v", b="rv.rv") + " AS cos_to_rep "
    " FROM b JOIN rv ON b.bucket = rv.bucket) "
    "SELECT vec_id, bucket, cos_to_rep FROM s "
    "WHERE vec_id = rep_id OR cos_to_rep < 0.9",
    desc="Applied embedding dedup by canopy representative selection — one aggregation + one equi-join + one cosine per row, the LINEAR path where pair enumeration is quadratic.",
)(
    lambda spark, sf_dir: similarity.embedding_dedup_apply(
        _t(spark, sf_dir, "embeddings"), threshold=0.9, bits=None
    )
)


_PQ_SQL = (
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "g AS (SELECT unnest(generate_series(0, 3)) AS sub), "
    "subs AS (SELECT vec_id, sub, v[(sub*16+1):(sub*16+16)] AS sv FROM d, g), "
    "cents AS (SELECT vec_id AS cent, sub, sv AS cv FROM subs WHERE vec_id < 8), "
    "scored AS (SELECT vec_id, s.sub, cent, round(list_distance(sv, cv), 6) AS dist, "
    " row_number() OVER (PARTITION BY vec_id, s.sub ORDER BY round(list_distance(sv, cv), 6), cent) AS rn "
    " FROM subs s JOIN cents c ON s.sub = c.sub) "
    "SELECT vec_id, sub, cent, dist FROM scored WHERE rn = 1"
)


@register("ns_embed_pq", _PQ_SQL)
def ns_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization codes (operators/similarity.product_quantize):
    m=4 subspaces x 16 dims, k=8 seeded-exemplar centroids per
    subspace; one row per (vector, subspace) with the nearest centroid
    and its rounded L2 distance. Slice-before-explode keeps only
    subvectors on the wire; the k*m codebook broadcasts; the argmin is
    a min(struct) aggregate — one corpus-sized exchange."""
    return similarity.product_quantize(_t(spark, sf_dir, "embeddings"),
                                 m=4, k=8, dim=64)


# One config everywhere: m subspaces of sub_w dims, k centroids per
# subspace, a fixed iteration count, training capped at the first
# SAMPLE_N ids (the deterministic sample — at 100 TB the trainer must
# not scan the corpus; encoding with the frozen codebook is the only
# full pass). m=32 x k=128 measured recall@10 = 0.8-0.9 across probe
# queries on the sf0.01 fixture (vs 0.1 for the untrained exemplar
# codebook this replaced).
_PQ_M, _PQ_K, _PQ_SUBW, _PQ_ITER, _PQ_SAMPLE = 32, 128, 2, 2, 500


def _pq_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped trained codebook (localCheckpoint'ed by the
    trainer) shared by the ADC top-k and recall queries — training
    once is exactly what a serving deployment does."""
    return memo(spark, "pq_codebook", (sf_dir,), lambda: similarity.train_pq_codebook(
        _t(spark, sf_dir, "embeddings"), m=_PQ_M, k=_PQ_K,
        n_iter=_PQ_ITER, dim=64, sample_n=_PQ_SAMPLE,
    ))


def _pq_codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped ENCODED code table (localCheckpoint'ed) — the
    second offline serving artifact beside the codebook. Encoding is
    the n x (m*k) assignment join (819M intermediate rows at sf10);
    before round 9 the registered ADC queries re-ran it per query and
    the solo sweep measured 155 s at sf10 for what should be a
    code-table scan. A deployment encodes once per corpus snapshot;
    serving reads n*m code rows, each matching exactly ONE broadcast
    LUT row."""
    return memo(spark, "pq_codes", (sf_dir,), lambda: similarity.product_quantize(
        _t(spark, sf_dir, "embeddings"), m=_PQ_M, k=_PQ_K, dim=64,
        codebook=_pq_codebook_cached(spark, sf_dir),
    ).localCheckpoint())


def _pq_lloyd_ctes(ctes: list[str]) -> list[str]:
    """Append the unrolled Lloyd-training CTEs to a prelude that has
    already defined ``subs`` (vec_id, sub, sv): per iteration an
    argmin assignment (distance rounded 6, ties to the lowest
    centroid id) and a decimal-exact mean refine (components rounded
    6 BEFORE the next assignment), mirroring train_pq_codebook term
    for term. The final codebook CTE is named ``cb``."""
    k, it, samp = _PQ_K, _PQ_ITER, _PQ_SAMPLE
    ctes = ctes + [
        f"tsubs AS (SELECT * FROM subs WHERE vec_id < {samp})",
        f"c0 AS (SELECT vec_id AS cent, sub, sv AS cv FROM subs WHERE vec_id < {k})",
    ]
    prev = "c0"
    for i in range(1, it + 1):
        ctes.append(
            f"a{i} AS (SELECT vec_id, sub, sv, cent FROM ("
            "SELECT s.vec_id, s.sub, s.sv, c.cent, row_number() OVER ("
            "PARTITION BY s.vec_id, s.sub "
            "ORDER BY round(list_distance(s.sv, c.cv), 6), c.cent) AS rn "
            f"FROM tsubs s JOIN {prev} c ON s.sub = c.sub) WHERE rn = 1)"
        )
        ctes.append(
            f"c{i} AS (SELECT sub, cent, list(cval ORDER BY i) AS cv FROM ("
            "SELECT sub, cent, i, "
            "round(CAST(sum(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS cval "
            f"FROM (SELECT sub, cent, unnest(sv) AS val, "
            f"generate_subscripts(sv, 1) AS i FROM a{i}) "
            "GROUP BY 1, 2, 3) GROUP BY 1, 2)"
        )
        prev = f"c{i}"
    ctes.append(f"cb AS (SELECT * FROM {prev})")
    return ctes


def _pq_trained_ctes() -> str:
    """Flat-PQ oracle prelude (raw-vector subspaces) + Lloyd CTEs."""
    m, sw = _PQ_M, _PQ_SUBW
    return ", ".join(
        _pq_lloyd_ctes([
            "d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            f"g AS (SELECT unnest(generate_series(0, {m - 1})) AS sub)",
            f"subs AS (SELECT vec_id, sub, v[(sub*{sw}+1):(sub*{sw}+{sw})] AS sv FROM d, g)",
        ])
    )


# encoding + ADC over the trained codebook (shared CTE tail)
_PQ_ADC_TAIL = (
    "scored AS (SELECT vec_id, s.sub, cent, "
    " row_number() OVER (PARTITION BY vec_id, s.sub ORDER BY round(list_distance(sv, cv), 6), cent) AS rn "
    " FROM subs s JOIN cb c ON s.sub = c.sub), "
    "codes AS (SELECT vec_id, sub, cent FROM scored WHERE rn = 1), "
    "q AS (SELECT sub, sv AS qv FROM subs WHERE vec_id = 42), "
    "lut AS (SELECT c.sub, c.cent, round(list_distance(qv, cv), 6) AS qd "
    " FROM cb c JOIN q ON c.sub = q.sub)"
)


_PQ_ADC_SQL = (
    f"WITH {_pq_trained_ctes()}, {_PQ_ADC_TAIL} "
    "SELECT vec_id, round(sum(qd * qd), 6) AS adc_dist "
    "FROM codes JOIN lut USING (sub, cent) WHERE vec_id <> 42 "
    "GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10"
)


@register("ns_sim_topk_pq", _PQ_ADC_SQL)
def ns_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.topk_pq_adc)
    over a TRAINED per-subspace k-means codebook
    (similarity.train_pq_codebook, m=32 x k=128, 2 Lloyd iterations on
    the first-500-ids sample — recall converges by the second pass):
    the compressed serving path of the ANN family — the query stays
    full-precision, candidates are scored from their PQ codes via a
    broadcast k*m lookup table, so the scan reads codes, not vectors.
    SERVES FROM SESSION ARTIFACTS (round 9): the codebook AND the
    encoded code table are built once per (session, corpus) —
    _pq_codes_cached — so the per-query plan is the n*m code scan +
    one-to-one broadcast LUT join + TakeOrdered; re-encoding per query
    (the n x (m*k) assignment join) measured 155 s solo at sf10 vs
    1.75 s served. Approximate BY DESIGN (quantization error bounds
    recall — measured next door by ns_sim_recall_pq at 0.8-0.9 with
    this codebook); the exact harness is ns_sim_topk_bruteforce. The
    oracle unrolls training AND encoding as SQL CTEs, so the whole
    offline build is hash-checked too."""
    return similarity.topk_pq_adc(
        _t(spark, sf_dir, "embeddings"), query_id=42, k=10,
        m=_PQ_M, n_cents=_PQ_K, dim=64,
        codebook=_pq_codebook_cached(spark, sf_dir),
        codes=_pq_codes_cached(spark, sf_dir),
    )


_PQ_RECALL_SQL = (
    f"WITH {_pq_trained_ctes()}, {_PQ_ADC_TAIL}, "
    "adc AS (SELECT vec_id FROM (SELECT vec_id, round(sum(qd * qd), 6) AS adc_dist "
    " FROM codes JOIN lut USING (sub, cent) WHERE vec_id <> 42 "
    " GROUP BY 1 ORDER BY adc_dist, vec_id LIMIT 10)), "
    "qv AS (SELECT v AS qfull FROM d WHERE vec_id = 42), "
    "ex AS (SELECT vec_id FROM (SELECT d.vec_id, "
    " round(list_distance(d.v, qfull), 6) AS dist FROM d, qv "
    " WHERE d.vec_id <> 42 ORDER BY dist, d.vec_id LIMIT 10)) "
    "SELECT CAST(42 AS BIGINT) AS query_id, count(*) AS n_hits, "
    "round(count(*) / 10.0, 6) AS recall FROM adc JOIN ex USING (vec_id)"
)


@register("ns_sim_recall_pq", _PQ_RECALL_SQL)
def ns_sim_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ/ADC compressed path vs the exact L2 top-10
    (operators/similarity.pq_recall_vs_exact) — the sizing measurement
    every PQ deployment runs before serving from codes: quantization
    loss shows up here, not in production. Same-metric ground truth
    (L2, not cosine) so the number isolates codebook error. History
    this harness drove: the round-7 seeded-exemplar codebook honestly
    scored 0.1 (0.4 even at m=8/k=64 on these label-clustered
    vectors); the round-8 TRAINED codebook (train_pq_codebook, m=32 x
    k=128, 2 Lloyd iterations) scores 0.9 on this registered query
    and 0.8-0.9 across probe queries — cleared for serving."""
    return similarity.pq_recall_vs_exact(
        _t(spark, sf_dir, "embeddings"), query_id=42, k=10,
        m=_PQ_M, n_cents=_PQ_K, dim=64,
        codebook=_pq_codebook_cached(spark, sf_dir),
        codes=_pq_codes_cached(spark, sf_dir),
    )


_IVF_CELLS, _IVF_PROBE = 8, 4


def _ivfpq_index_cached(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-scoped PERSISTED IVFADC index (similarity.
    write_ivfpq_index into a per-session tmp dir, loaded once): coarse
    centroids + trained residual codebook broadcast-pinned, and the
    residual CODE TABLE written partitioned by cell — the offline
    artifacts an IVFADC deployment builds once per corpus snapshot.
    Before round 9 the registered query re-encoded the corpus per run
    (the n x (m*k) assignment join — 66 s solo at sf10); the serve
    path scans codes only, and the probed-cell join prunes at the
    partitioned scan. The tmp dir is removed at interpreter exit, never
    on eviction: a query built earlier may still scan the code table."""
    def build() -> tuple:
        index_dir = tempfile.mkdtemp(prefix="spark_graft_ivfpq_")
        atexit.register(shutil.rmtree, index_dir, True)
        similarity.write_ivfpq_index(
            _t(spark, sf_dir, "embeddings"), index_dir,
            n_cells=_IVF_CELLS, m=_PQ_M, n_cents=_PQ_K, n_iter=_PQ_ITER,
            dim=64, sample_n=_PQ_SAMPLE,
        )
        cents, cb, codes = similarity.load_ivfpq_index(spark, index_dir)
        # partition-column type inference reads small cell ids as INT;
        # the scoring plan and oracle speak BIGINT
        codes = codes.withColumn("cell", F.col("cell").cast("long"))
        return cents, cb, codes

    return memo(spark, "ivfpq", (sf_dir,), build)


def _ivfpq_sql() -> str:
    """IVFADC oracle: coarse L2 assignment + residuals, the unrolled
    Lloyd trainer over RESIDUAL subvectors, then per-probed-cell
    lookup tables and the pruned ADC scan — every stage of the
    composed serving path is hash-checked."""
    m, sw, nc, npb = _PQ_M, _PQ_SUBW, _IVF_CELLS, _IVF_PROBE
    prelude = [
        "d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"cc AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < {nc})",
        "asg AS (SELECT vec_id, cell, v, cv FROM ("
        "SELECT d.vec_id, c.cell, d.v, c.cv, row_number() OVER ("
        "PARTITION BY d.vec_id ORDER BY round(list_distance(d.v, c.cv), 6), c.cell) AS rn "
        "FROM d, cc c) WHERE rn = 1)",
        "res AS (SELECT vec_id, cell, "
        "list_transform(generate_series(1, 64), i -> v[i] - cv[i]) AS rv FROM asg)",
        f"g AS (SELECT unnest(generate_series(0, {m - 1})) AS sub)",
        f"subs AS (SELECT vec_id, sub, rv[(sub*{sw}+1):(sub*{sw}+{sw})] AS sv FROM res, g)",
    ]
    ctes = ", ".join(_pq_lloyd_ctes(prelude))
    tail = (
        "scored AS (SELECT vec_id, s.sub, cent, row_number() OVER ("
        "PARTITION BY vec_id, s.sub ORDER BY round(list_distance(sv, cv), 6), cent) AS rn "
        "FROM subs s JOIN cb c ON s.sub = c.sub), "
        "codes AS (SELECT s.vec_id, s.sub, s.cent, r.cell FROM "
        "(SELECT vec_id, sub, cent FROM scored WHERE rn = 1) s JOIN res r USING (vec_id)), "
        "probe AS (SELECT cell, qrv FROM (SELECT c.cell, "
        "round(list_distance(q.v, c.cv), 6) AS cd, "
        "list_transform(generate_series(1, 64), i -> q.v[i] - c.cv[i]) AS qrv "
        "FROM (SELECT v FROM d WHERE vec_id = 42) q, cc c) "
        f"ORDER BY cd, cell LIMIT {npb}), "
        f"qsubs AS (SELECT cell, sub, qrv[(sub*{sw}+1):(sub*{sw}+{sw})] AS qv FROM probe, g), "
        "lut AS (SELECT q.cell, c.sub, c.cent, "
        "round(list_distance(q.qv, c.cv), 6) AS qd "
        "FROM cb c JOIN qsubs q ON c.sub = q.sub)"
    )
    return (
        f"WITH {ctes}, {tail} "
        "SELECT vec_id, cell, round(sum(qd * qd), 6) AS adc_dist "
        "FROM codes JOIN lut USING (cell, sub, cent) WHERE vec_id <> 42 "
        "GROUP BY 1, 2 ORDER BY adc_dist, vec_id LIMIT 10"
    )


@register("ns_sim_topk_ivfpq", _ivfpq_sql())
def ns_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ asymmetric-distance top-k — the composed IVFADC
    serving stack (operators/similarity.topk_ivfpq_adc; Jégou et al.
    2011 §IV): coarse quantizer prunes to the 4-of-8 cells nearest
    the query, PQ codes are of RESIDUALS (v - coarse centroid, far
    tighter than raw vectors for the same codebook budget), and each
    probed cell scores through its own broadcast lookup table. SERVES
    FROM THE PERSISTED INDEX (round 9): write_ivfpq_index builds the
    artifacts once per (session, corpus) — coarse centroids, trained
    residual codebook, and the residual code table written PARQUET
    PARTITIONED BY CELL — and the query-time probe prunes cell
    partitions at the scan via dynamic partition pruning (plan pin
    tests/test_plans.py::test_ivfpq_codes_scan_partition_pruned); no
    vector column ever leaves the two pushed-filter query/centroid
    row fetches. Re-encoding per query measured 66 s solo at sf10 vs
    4.4 s served. n_probe/n_cells shrinks as n_cells grows with the
    corpus (8 cells here is fixture-sized). Measured recall@10 vs
    exact L2 on sf0.01: 0.72 avg over 5 probe queries (boundary
    losses across unprobed cells are the residual-PQ tradeoff the
    n_probe knob prices)."""
    cents, cb, codes = _ivfpq_index_cached(spark, sf_dir)
    return similarity.topk_ivfpq_adc(
        _t(spark, sf_dir, "embeddings"), query_id=42, k=10,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE, m=_PQ_M, n_cents=_PQ_K,
        dim=64, codebook=cb, codes=codes,
    )


# One unrolled deterministic Lloyd iteration (same algebra as the
# ns_kmeans_refined oracle), but the final assignment CTE ``m`` keeps
# the vector so downstream pairwise stages can reuse it, and the
# centroid count auto-scales with the input
# (similarity.auto_cells — the oracle computes the identical
# greatest(8, ceil(n/512)) from count(*), so the sizing is portable).
_KMEANS1_M_CTES = (
    "d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "k AS (SELECT greatest(8, CAST(ceil(count(*) / 512.0) AS BIGINT)) AS kc FROM d), "
    "c0 AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < (SELECT kc FROM k)), "
    "a1 AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id ORDER BY "
    " round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn FROM d, c0), "
    "m1 AS (SELECT cell, i, round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS cval "
    " FROM (SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM a1 WHERE rn = 1) "
    " GROUP BY cell, i), "
    "c1 AS (SELECT cell, list(cval ORDER BY i) AS cv FROM m1 GROUP BY cell), "
    "a2 AS (SELECT vec_id, v, cell, round(list_cosine_similarity(v, cv), 6) AS cent_sim, "
    " row_number() OVER (PARTITION BY vec_id ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn "
    " FROM d, c1), "
    "m AS (SELECT vec_id, v, cell, cent_sim FROM a2 WHERE rn = 1)"
)


register(
    "ns_dedup_semantic",
    f"WITH {_KMEANS1_M_CTES}, "
    "dropped AS (SELECT DISTINCT x.vec_id FROM m x JOIN m y "
    " ON x.cell = y.cell AND y.vec_id < x.vec_id "
    " AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.3) "
    "SELECT vec_id, cell, cent_sim FROM m "
    "WHERE vec_id NOT IN (SELECT vec_id FROM dropped)",
    desc=(
        "SemDeDup (arXiv:2303.09540): k-means cluster the embeddings, then "
        "within each cluster drop every vector with cosine >= 0.3 to a "
        "lower-id member — cell count auto-scales (similarity.auto_cells) "
        "so pair work stays ~n * cell, never global n^2."
    ),
)(
    lambda spark, sf_dir: similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), n_centroids=None, threshold=0.3,
        n_iter=1
    )
)


register(
    "ns_sim_mrr",
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM d WHERE vec_id < 8), "
    "s AS (SELECT query_id, qlabel, d.vec_id, d.label, "
    " round(list_cosine_similarity(d.v, qv), 6) AS cos_sim FROM d, q WHERE d.vec_id <> query_id), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank FROM s), "
    "t AS (SELECT * FROM r WHERE rank <= 10) "
    "SELECT query_id, "
    "CAST(coalesce(min(CASE WHEN label = qlabel THEN rank END), 0) AS INTEGER) AS first_rel_rank, "
    "round(coalesce(CAST(1.0 AS DOUBLE) / min(CASE WHEN label = qlabel THEN rank END), 0.0), 6) AS rr, "
    "CAST(count(CASE WHEN label = qlabel THEN 1 END) AS INTEGER) AS n_rel, "
    "round(CAST(count(CASE WHEN label = qlabel THEN 1 END) AS DOUBLE) / 10.0, 6) AS p_at_k "
    "FROM t GROUP BY query_id",
    desc=(
        "Retrieval-quality harness: exact-cosine top-10 per query vs label "
        "ground truth — first relevant rank, MRR, precision@10; query side "
        "broadcast so the corpus is scanned once for all queries."
    ),
)(
    lambda spark, sf_dir: similarity.retrieval_metrics_per_query(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(8)), k=10
    )
)


register(
    "ns_sim_hard_negatives",
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av FROM d WHERE vec_id < 8), "
    "s AS (SELECT anchor_id, anchor_label, d.vec_id, d.label, "
    " round(list_cosine_similarity(d.v, av), 6) AS cos_sim FROM d, a "
    " WHERE d.label <> anchor_label), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id "
    " ORDER BY cos_sim DESC, vec_id) AS neg_rank FROM s) "
    "SELECT anchor_id, anchor_label, vec_id AS negative_id, "
    "label AS negative_label, cos_sim, CAST(neg_rank AS INTEGER) AS neg_rank "
    "FROM r WHERE neg_rank <= 5",
    desc=(
        "Hard-negative mining: per anchor, the 5 most cosine-similar "
        "DIFFERENT-label vectors (boundary negatives for contrastive "
        "training) — anchors broadcast, corpus scanned once; the bucketed "
        "kNN join is the every-anchor sibling at scale."
    ),
)(
    lambda spark, sf_dir: similarity.hard_negatives_per_anchor(
        _t(spark, sf_dir, "embeddings"), anchor_ids=list(range(8)), k=5
    )
)


register(
    "ns_sim_centroid_pairs",
    "WITH e AS (SELECT label, unnest(embedding) AS val, "
    " generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "cent AS (SELECT label, i, CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) "
    " AS DOUBLE) / count(*), 6) AS DECIMAL(12,6)) AS c FROM e GROUP BY label, i), "
    "p AS (SELECT a.label AS label_a, b.label AS label_b, "
    " SUM(a.c * b.c) AS dot, SUM(a.c * a.c) AS na, SUM(b.c * b.c) AS nb "
    " FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label "
    " GROUP BY a.label, b.label) "
    "SELECT label_a, label_b, "
    " round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine "
    "FROM p",
    desc=(
        "Subcorpus semantic-redundancy map: pairwise cosine between "
        "per-label embedding centroids — one posexplode aggregate is the "
        "only corpus-sized pass; the pairwise join runs on labels x dim "
        "rows. Centroids decimal-pinned so both engines sum exactly."
    ),
)(
    lambda spark, sf_dir: similarity.label_centroid_similarity(
        _t(spark, sf_dir, "embeddings")
    )
)


register(
    "ns_classify_nearest_centroid",
    # test_fraction=0.2, salt='nc' — replicate sampling.hash_draw
    "WITH sp AS (SELECT vec_id, label, embedding, "
    " ('0x' || substr(md5('nc|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT "
    "   % 1000000 < 200000 AS is_test FROM embeddings), "
    "e AS (SELECT vec_id, label, is_test, unnest(embedding) AS val, "
    "      generate_subscripts(embedding, 1) AS i FROM sp), "
    "cent AS (SELECT label AS predicted, i, "
    " CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) "
    "      AS DECIMAL(12,6)) AS c "
    " FROM e WHERE NOT is_test GROUP BY 1, 2), "
    "cn AS (SELECT predicted, SUM(c * c) AS c2 FROM cent GROUP BY 1), "
    "dots AS (SELECT vec_id, label, is_test, predicted, "
    "  SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot "
    " FROM e JOIN cent USING (i) GROUP BY 1, 2, 3, 4), "
    "best AS (SELECT vec_id, label, is_test, predicted, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY c2 - 2 * dot, predicted) AS rn "
    " FROM dots JOIN cn USING (predicted)) "
    "SELECT CASE WHEN is_test THEN 'test' ELSE 'train' END AS slice, "
    " label, predicted, CAST(count(*) AS BIGINT) AS n_vecs "
    "FROM best WHERE rn = 1 GROUP BY 1, 2, 3",
    desc=(
        "Nearest-centroid classifier as a label-separability audit: "
        "md5 hash split, decimal-exact per-label centroids from the "
        "train slice, argmin squared-Euclidean assignment of BOTH "
        "slices (pure DECIMAL |c|^2 - 2 t.c, label tiebreak), per-"
        "slice confusion matrix out — the resubstitution-vs-held-out "
        "gap is the are-my-labels-real check before GPU spend."
    ),
)(
    lambda spark, sf_dir: similarity.nearest_centroid_classifier(
        _t(spark, sf_dir, "embeddings"), test_fraction=0.2, salt="nc"
    )
)


register(
    "ns_sim_cluster_exemplars",
    # k=3 exemplars per label, trained on all rows
    "WITH e AS (SELECT vec_id, label, unnest(embedding) AS val, "
    "      generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "cent AS (SELECT label AS predicted, i, "
    " CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) "
    "      AS DECIMAL(12,6)) AS c FROM e GROUP BY 1, 2), "
    "cn AS (SELECT predicted, SUM(c * c) AS c2 FROM cent GROUP BY 1), "
    "dots AS (SELECT vec_id, label, "
    "  SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot, "
    "  SUM(CAST(val * val AS DECIMAL(20,10))) AS t2 "
    " FROM e JOIN cent ON e.i = cent.i AND e.label = cent.predicted "
    " GROUP BY 1, 2), "
    "r AS (SELECT vec_id, label, "
    "  CAST(t2 AS DECIMAL(30,12)) + CAST(c2 AS DECIMAL(30,12)) "
    "    - 2 * CAST(dot AS DECIMAL(30,12)) AS d2, "
    "  row_number() OVER (PARTITION BY label ORDER BY "
    "    CAST(t2 AS DECIMAL(30,12)) + CAST(c2 AS DECIMAL(30,12)) "
    "      - 2 * CAST(dot AS DECIMAL(30,12)), vec_id) AS rank "
    " FROM dots JOIN cn ON label = predicted) "
    "SELECT label, rank, vec_id, round(CAST(d2 AS DOUBLE), 6) AS d2 "
    "FROM r WHERE rank <= 3",
    desc=(
        "Cluster exemplars: the 3 most central vectors per label (pure-"
        "DECIMAL distance to the label's own centroid, id tiebreak) — "
        "what a curator eyeballs before merging, pruning, or naming a "
        "cluster; each (row, pos) joins only its OWN label's centroid "
        "row, fan-out 1."
    ),
)(
    lambda spark, sf_dir: similarity.cluster_exemplars(
        _t(spark, sf_dir, "embeddings"), k=3
    )
)


register(
    "ns_classify_label_margin",
    # k_flag=10 review queue; margins are pinned-decimal differences
    "WITH e AS (SELECT vec_id, label, unnest(embedding) AS val, "
    "      generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "cent AS (SELECT label AS predicted, i, "
    " CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) "
    "      AS DECIMAL(12,6)) AS c FROM e GROUP BY 1, 2), "
    "cn AS (SELECT predicted, SUM(c * c) AS c2 FROM cent GROUP BY 1), "
    "dots AS (SELECT vec_id, label, predicted, "
    "  SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot "
    " FROM e JOIN cent USING (i) GROUP BY 1, 2, 3), "
    "sc AS (SELECT vec_id, label, predicted, "
    "  CAST(c2 AS DECIMAL(30,12)) - 2 * CAST(dot AS DECIMAL(30,12)) AS pd2 "
    " FROM dots JOIN cn USING (predicted)), "
    "own AS (SELECT vec_id, pd2 AS own_d2 FROM sc WHERE label = predicted), "
    "oth AS (SELECT vec_id, label, predicted AS nearest_other, pd2 AS other_d2, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY pd2, predicted) AS rn "
    " FROM sc WHERE label <> predicted) "
    "SELECT o.vec_id AS vec_id, label, nearest_other, "
    " round(CAST(own_d2 - other_d2 AS DOUBLE), 6) AS margin "
    "FROM own w JOIN oth o ON w.vec_id = o.vec_id AND o.rn = 1 "
    "ORDER BY margin DESC, vec_id LIMIT 10",
    desc=(
        "Label-noise review queue (confident-learning shape): the 10 "
        "vectors whose own-label centroid is farthest beyond the "
        "nearest OTHER centroid (pinned-decimal margin, shared |t|^2 "
        "cancels) — what a curator re-labels first; broadcast model, "
        "label-count fan-out, one TakeOrdered."
    ),
)(
    lambda spark, sf_dir: similarity.label_margin_audit(
        _t(spark, sf_dir, "embeddings"), k_flag=10
    )
)


register(
    "ns_sim_silhouette",
    "WITH e AS (SELECT vec_id, label, unnest(embedding) AS val, "
    "      generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "cent AS (SELECT label AS predicted, i, "
    " CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) "
    "      AS DECIMAL(12,6)) AS c FROM e GROUP BY 1, 2), "
    "cn AS (SELECT predicted, SUM(c * c) AS c2 FROM cent GROUP BY 1), "
    "dots AS (SELECT vec_id, label, predicted, "
    "  SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot, "
    "  SUM(CAST(val * val AS DECIMAL(20,10))) AS t2 "
    " FROM e JOIN cent USING (i) GROUP BY 1, 2, 3), "
    "sc AS (SELECT vec_id, label, predicted, "
    "  CAST(t2 AS DECIMAL(30,12)) + CAST(c2 AS DECIMAL(30,12)) "
    "    - 2 * CAST(dot AS DECIMAL(30,12)) AS d2 "
    " FROM dots JOIN cn USING (predicted)), "
    "own AS (SELECT vec_id, label, "
    "  sqrt(greatest(CAST(d2 AS DOUBLE), 0.0)) AS a "
    " FROM sc WHERE label = predicted), "
    "oth AS (SELECT vec_id, sqrt(greatest(CAST(d2 AS DOUBLE), 0.0)) AS b, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY d2, predicted) AS rn "
    " FROM sc WHERE label <> predicted), "
    "pr AS (SELECT o.label AS label, "
    "  CAST(round(CASE WHEN greatest(a, b) = 0 THEN 0.0 "
    "        ELSE (b - a) / greatest(a, b) END, 6) AS DECIMAL(12,6)) AS s "
    " FROM own o JOIN oth t ON o.vec_id = t.vec_id AND t.rn = 1) "
    "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
    " round(CAST(SUM(s) AS DOUBLE) / count(*), 6) AS mean_silhouette, "
    " CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative "
    "FROM pr GROUP BY label",
    desc=(
        "Simplified silhouette per label (centroid form — LINEAR in "
        "rows, unlike Rousseeuw's all-pairs original): a = distance "
        "to own centroid, b = distance to nearest other, s=(b-a)/"
        "max(a,b); per-label mean plus the count of negative rows. "
        "The one-number cluster-quality read after the confusion "
        "matrix; broadcast model, label-count fan-out, per-row s "
        "pinned DECIMAL(12,6) so the mean is an exact decimal sum."
    ),
)(
    lambda spark, sf_dir: similarity.simplified_silhouette(
        _t(spark, sf_dir, "embeddings")
    )
)


_NDCG_GAIN_CASE = "CASE rank " + " ".join(
    f"WHEN {r} THEN {w}::DECIMAL(16,12)"
    for r, w in enumerate(_ndcg_weights(10), start=1)
) + " END"


_NDCG_IDEAL_CASE = "CASE least(nlab - 1, 10) " + " ".join(
    f"WHEN {n} THEN {s}::DECIMAL(16,12)"
    for n, s in enumerate(_idcg_table(10), start=1)
) + " END"


register(
    "ns_sim_ndcg",
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv "
    "      FROM d WHERE vec_id < 8), "
    "lc AS (SELECT label, CAST(count(*) AS BIGINT) AS nlab "
    "       FROM embeddings GROUP BY 1), "
    "s AS (SELECT query_id, qlabel, d.vec_id, d.label, "
    " round(list_cosine_similarity(d.v, qv), 6) AS cos_sim "
    " FROM d, q WHERE d.vec_id <> query_id), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    " ORDER BY cos_sim DESC, vec_id) AS rank FROM s), "
    "t AS (SELECT * FROM r WHERE rank <= 10), "
    "g AS (SELECT query_id, qlabel, "
    " CAST(count(CASE WHEN label = qlabel THEN 1 END) AS INTEGER) "
    "   AS n_rel_topk, "
    f" SUM(CASE WHEN label = qlabel THEN {_NDCG_GAIN_CASE} END) AS dcg "
    " FROM t GROUP BY 1, 2) "
    "SELECT query_id, n_rel_topk, "
    " CAST(least(nlab - 1, 10) AS INTEGER) AS ideal_n, "
    " CASE WHEN least(nlab - 1, 10) <= 0 THEN 0.0 "
    "  ELSE round(CAST(coalesce(dcg, 0.0::DECIMAL(16,12)) AS DOUBLE) "
    f"   / CAST({_NDCG_IDEAL_CASE} AS DOUBLE), 6) END AS ndcg "
    "FROM g JOIN lc ON g.qlabel = lc.label",
    desc=(
        "NDCG@10 retrieval harness: exact-cosine top-10 per query "
        "scored with log2-discounted binary gains, normalized by the "
        "ideal DCG given how many same-label rows exist (capped at "
        "10). Gain and ideal tables are frozen 12-decimal literals "
        "summed as DECIMAL, so the metric is bit-identical on any "
        "engine; query side broadcast, corpus scanned once."
    ),
)(
    lambda spark, sf_dir: similarity.ndcg_per_query(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(8)), k=10
    )
)


register(
    "ns_sim_cluster_purity",
    # kmeans_assign defaults: n_centroids=8, n_iter=1 (lowest-id init)
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "c0 AS (SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 8), "
    "a1 AS (SELECT vec_id, v, cell, row_number() OVER (PARTITION BY vec_id "
    " ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn "
    " FROM d, c0), "
    "m1 AS (SELECT cell, i, "
    " round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS cval "
    " FROM (SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) AS i "
    "       FROM a1 WHERE rn = 1) GROUP BY cell, i), "
    "c1 AS (SELECT cell, list(cval ORDER BY i) AS cv FROM m1 GROUP BY cell), "
    "a2 AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id "
    " ORDER BY round(list_cosine_similarity(v, cv), 6) DESC, cell) AS rn "
    " FROM d, c1), "
    "m AS (SELECT vec_id, cell FROM a2 WHERE rn = 1), "
    "g AS (SELECT cell, label, CAST(count(*) AS BIGINT) AS n "
    " FROM m JOIN d USING (vec_id) GROUP BY 1, 2), "
    "t AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs FROM g GROUP BY 1), "
    "r AS (SELECT cell, label, n, row_number() OVER (PARTITION BY cell "
    " ORDER BY n DESC, label) AS rn FROM g) "
    "SELECT r.cell AS cell, n_vecs, label AS majority_label, "
    " n AS n_majority, round(n / CAST(n_vecs AS DOUBLE), 6) AS purity "
    "FROM r JOIN t USING (cell) WHERE rn = 1",
    desc=(
        "Cluster-purity audit (external quality metric beside the "
        "internal silhouette): k-means cells scored by majority-label "
        "share — near-chance purity on this corpus is the correct "
        "reading (labels are decorrelated from geometry by "
        "construction). kmeans_assign's decimal-pinned chain, one "
        "(cell,label) aggregate, argmax over KB-sized cell rows."
    ),
)(
    lambda spark, sf_dir: similarity.cluster_purity(
        _t(spark, sf_dir, "embeddings"), n_centroids=8, n_iter=1
    )
)


register(
    "ns_embed_anisotropy",
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "r AS (SELECT vec_id, v, "
    " sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm "
    " FROM d), "
    "e AS (SELECT vec_id, nrm, unnest(v) AS val, "
    " generate_subscripts(v, 1) AS i FROM r), "
    "u AS (SELECT i, CAST(round(val / nrm, 8) AS DECIMAL(18,8)) AS u "
    " FROM e), "
    "pd AS (SELECT i, SUM(u) AS s, SUM(u * u) AS ss FROM u GROUP BY i), "
    "nr AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs, "
    " SUM(CAST(round(nrm, 8) AS DECIMAL(18,8))) AS sn FROM r), "
    "t AS (SELECT SUM(s * s) AS s2, SUM(ss) AS ssq FROM pd) "
    "SELECT n_vecs, CAST(64 AS INTEGER) AS dim, "
    " round(CAST(sn AS DOUBLE) / n_vecs, 6) AS mean_norm, "
    " round((CAST(s2 AS DOUBLE) - CAST(ssq AS DOUBLE)) "
    "  / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1)), 6) "
    " AS mean_pairwise_cosine "
    "FROM nr CROSS JOIN t",
    desc=(
        "Embedding anisotropy audit (Ethayarajh 2019): the EXACT mean "
        "pairwise cosine over all n(n-1) pairs in closed form from "
        "sums — |SUM u|^2 - SUM |u|^2 over unit-normalized rows, so "
        "the all-pairs quantity costs one scan and d running sums; "
        "high values mean the space is collapsing toward a cone and "
        "every cosine threshold silently tightens. Components pin "
        "DECIMAL(18,8); one posexplode, dim-sized aggregate, 1-row "
        "fold."
    ),
)(
    lambda spark, sf_dir: similarity.embedding_anisotropy(
        _t(spark, sf_dir, "embeddings")
    )
)


def _mmr_sql(n_queries: int, k: int, pool: int) -> str:
    """Unrolled greedy-MMR oracle (house pattern: the unrolled-Lloyd
    PQ-training oracles): candidate pool and pairwise sims as CTEs,
    then k selection stages, each picking per query the argmax of
    0.5*rel - 0.5*max_sim_to_selected (ties on vec_id) among the
    not-yet-selected pool."""
    parts = [
        "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), ",
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < {n_queries}), ",
        "s AS (SELECT query_id, d.vec_id, "
        " round(list_cosine_similarity(d.v, qv), 6) AS rel, d.v AS v "
        " FROM d, q WHERE d.vec_id <> query_id), ",
        "cand AS (SELECT query_id, vec_id, rel, v FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id "
        "   ORDER BY rel DESC, vec_id) AS rn FROM s) "
        f" WHERE rn <= {pool}), ",
        "pr AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b, "
        " round(list_cosine_similarity(a.v, b.v), 6) AS sim "
        " FROM cand a JOIN cand b ON a.query_id = b.query_id "
        " AND a.vec_id <> b.vec_id), ",
        "sel1 AS (SELECT query_id, vec_id, rel, 1 AS step, 0.0 AS ms FROM ("
        " SELECT *, row_number() OVER (PARTITION BY query_id "
        "  ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1)",
    ]
    for t in range(2, k + 1):
        parts.append(
            f", m{t} AS (SELECT c.query_id, c.vec_id, c.rel, max(p.sim) AS ms "
            f" FROM cand c "
            f" JOIN pr p ON p.query_id = c.query_id AND p.a = c.vec_id "
            f" JOIN sel{t - 1} s ON s.query_id = p.query_id AND s.vec_id = p.b "
            f" LEFT JOIN sel{t - 1} x ON x.query_id = c.query_id "
            f"  AND x.vec_id = c.vec_id "
            f" WHERE x.vec_id IS NULL GROUP BY 1, 2, 3), "
            f"pick{t} AS (SELECT query_id, vec_id, rel, {t} AS step, ms FROM ("
            f" SELECT *, row_number() OVER (PARTITION BY query_id "
            f"  ORDER BY 0.5 * rel - 0.5 * ms DESC, vec_id) AS rn FROM m{t}) "
            f" WHERE rn = 1), "
            f"sel{t} AS (SELECT * FROM sel{t - 1} UNION ALL "
            f" SELECT query_id, vec_id, rel, step, ms FROM pick{t})"
        )
    parts.append(
        f" SELECT query_id, CAST(step AS INTEGER) AS step, vec_id, "
        f"rel AS relevance, ms AS max_sim_prev FROM sel{k}"
    )
    return "".join(parts)


register(
    "ns_sim_rrf_fusion",
    # queries vec_id < 6, k=10, rrf_k=60
    "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 6), "
    "s AS (SELECT query_id, d.vec_id, "
    " round(list_cosine_similarity(d.v, qv), 6) AS cos_sim, "
    " round(list_dot_product(d.v, qv), 6) AS dot_score "
    " FROM d, q WHERE d.vec_id <> query_id), "
    "r AS (SELECT query_id, vec_id, "
    " CAST(row_number() OVER (PARTITION BY query_id "
    "   ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank_cos, "
    " CAST(row_number() OVER (PARTITION BY query_id "
    "   ORDER BY dot_score DESC, vec_id) AS INTEGER) AS rank_dot "
    " FROM s), "
    "f AS (SELECT *, round(1.0 / (60 + rank_cos) "
    "   + 1.0 / (60 + rank_dot), 6) AS rrf_score FROM r) "
    "SELECT * FROM (SELECT query_id, vec_id, rank_cos, rank_dot, "
    " rrf_score, CAST(row_number() OVER (PARTITION BY query_id "
    "  ORDER BY rrf_score DESC, vec_id) AS INTEGER) AS fused_rank FROM f) "
    "WHERE fused_rank <= 10",
    desc=(
        "Reciprocal-rank fusion (RRF, k=60) of the cosine and "
        "dot-product rankers per query — the hybrid-retrieval merge "
        "for rankers with incomparable raw scores; fused top-10 with "
        "both source ranks. Integer ranks from 6-decimal-pinned "
        "scores, so the fusion is bit-identical on any engine; one "
        "corpus scan scores both rankers, three windows share one "
        "query_id exchange."
    ),
)(
    lambda spark, sf_dir: similarity.rrf_fusion(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(6)), k=10
    )
)


register(
    "ns_sim_mmr_rerank",
    _mmr_sql(n_queries=4, k=5, pool=12),
    desc=(
        "Maximal-marginal-relevance rerank: per query, greedy-select "
        "5 of the exact-cosine top-12 candidates maximizing "
        "0.5*rel - 0.5*max_sim_to_selected — the diversity pass "
        "between ANN retrieval and the prompt. Distributed pool + "
        "pairwise sims; the bounded greedy runs per query inside "
        "applyInPandas (a million queries rerank in parallel); the "
        "oracle unrolls the same 5 stages in SQL on the same pinned "
        "6-decimal inputs."
    ),
)(
    lambda spark, sf_dir: similarity.mmr_rerank(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(4)), k=5, pool=12, lam=0.5,
    )
)


register(
    "ns_classify_prf",
    # test_fraction=0.2, salt='prf' — replicate sampling.hash_draw,
    # then per-class precision/recall/F1 over the confusion matrix
    "WITH sp AS (SELECT vec_id, label, embedding, "
    " ('0x' || substr(md5('prf|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT "
    "   % 1000000 < 200000 AS is_test FROM embeddings), "
    "e AS (SELECT vec_id, label, is_test, unnest(embedding) AS val, "
    "      generate_subscripts(embedding, 1) AS i FROM sp), "
    "cent AS (SELECT label AS predicted, i, "
    " CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) "
    "      AS DECIMAL(12,6)) AS c "
    " FROM e WHERE NOT is_test GROUP BY 1, 2), "
    "cn AS (SELECT predicted, SUM(c * c) AS c2 FROM cent GROUP BY 1), "
    "dots AS (SELECT vec_id, label, is_test, predicted, "
    "  SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot "
    " FROM e JOIN cent USING (i) GROUP BY 1, 2, 3, 4), "
    "best AS (SELECT vec_id, label, is_test, predicted, "
    "  row_number() OVER (PARTITION BY vec_id ORDER BY c2 - 2 * dot, predicted) AS rn "
    " FROM dots JOIN cn USING (predicted)), "
    "conf AS (SELECT CASE WHEN is_test THEN 'test' ELSE 'train' END AS slice, "
    " label, predicted, CAST(count(*) AS BIGINT) AS n "
    " FROM best WHERE rn = 1 GROUP BY 1, 2, 3), "
    "lab AS (SELECT slice, label AS cls, SUM(n) AS n_true FROM conf GROUP BY 1, 2), "
    "pred AS (SELECT slice, predicted AS cls, SUM(n) AS n_pred FROM conf GROUP BY 1, 2), "
    "tp AS (SELECT slice, label AS cls, SUM(n) AS tp FROM conf "
    "       WHERE label = predicted GROUP BY 1, 2), "
    "b AS (SELECT COALESCE(l.slice, p.slice) AS slice, "
    "       COALESCE(l.cls, p.cls) AS cls, "
    "       COALESCE(l.n_true, 0) AS n_true, COALESCE(p.n_pred, 0) AS n_pred "
    "      FROM lab l FULL JOIN pred p ON l.slice = p.slice AND l.cls = p.cls) "
    "SELECT b.slice, b.cls, CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp, "
    " CAST(b.n_pred AS BIGINT) AS n_pred, CAST(b.n_true AS BIGINT) AS n_true, "
    " CASE WHEN b.n_pred > 0 "
    "  THEN round(COALESCE(tp.tp, 0) / CAST(b.n_pred AS DOUBLE), 6) "
    "  ELSE 0.0 END AS \"precision\", "
    " CASE WHEN b.n_true > 0 "
    "  THEN round(COALESCE(tp.tp, 0) / CAST(b.n_true AS DOUBLE), 6) "
    "  ELSE 0.0 END AS recall, "
    " CASE WHEN b.n_pred + b.n_true > 0 "
    "  THEN round(2 * COALESCE(tp.tp, 0) / CAST(b.n_pred + b.n_true AS DOUBLE), 6) "
    "  ELSE 0.0 END AS f1 "
    "FROM b LEFT JOIN tp ON tp.slice = b.slice AND tp.cls = b.cls",
    desc=(
        "Per-class precision/recall/F1 over the nearest-centroid "
        "confusion matrix, both slices — the class-level read the "
        "aggregate accuracy hides (a dropped minority class is a "
        "recall row here). Counts are the decimal-exact confusion "
        "cells; P, R and F1=2tp/(n_pred+n_true) are single double "
        "divisions of BIGINTs, 0.0 on empty denominators."
    ),
)(
    lambda spark, sf_dir: similarity.classifier_prf(
        _t(spark, sf_dir, "embeddings"), test_fraction=0.2, salt="prf"
    )
)


register(
    "ns_sim_map",
    # queries vec_id < 8, k=10 — mirrors the engine: pinned cosines,
    # rank window, cumulative relevant count, DECIMAL(18,12) AP sum,
    # ideal = min(same-label corpus count - 1, k)
    "WITH d AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv "
    "      FROM d WHERE vec_id < 8), "
    "lc AS (SELECT label, CAST(count(*) AS BIGINT) AS nlab "
    "       FROM embeddings GROUP BY 1), "
    "s AS (SELECT query_id, qlabel, d.vec_id, d.label, "
    " round(list_cosine_similarity(d.v, qv), 6) AS cos_sim "
    " FROM d, q WHERE d.vec_id <> query_id), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    " ORDER BY cos_sim DESC, vec_id) AS rank FROM s), "
    "t AS (SELECT *, CAST(label = qlabel AS INTEGER) AS rel, "
    " SUM(CAST(label = qlabel AS INTEGER)) OVER (PARTITION BY query_id "
    "  ORDER BY cos_sim DESC, vec_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_rel_cum "
    " FROM r WHERE rank <= 10), "
    "g AS (SELECT query_id, qlabel, "
    " CAST(SUM(rel) AS INTEGER) AS n_rel_topk, "
    " COALESCE(SUM(CASE WHEN rel = 1 THEN "
    "   CAST(round(n_rel_cum / CAST(rank AS DOUBLE), 12) "
    "     AS DECIMAL(18,12)) END), 0) AS psum "
    " FROM t GROUP BY 1, 2) "
    "SELECT query_id, n_rel_topk, "
    " CAST(least(nlab - 1, 10) AS INTEGER) AS ideal_n, "
    " CASE WHEN least(nlab - 1, 10) > 0 THEN "
    "  round(CAST(psum AS DOUBLE) / least(nlab - 1, 10), 6) "
    "  ELSE 0.0 END AS ap_at_k "
    "FROM g JOIN lc ON g.qlabel = lc.label",
    desc=(
        "MAP@10 retrieval harness per query — average precision over "
        "the relevant ranks normalized by the best achievable count "
        "(same-label corpus rows capped at k); the order-sensitive "
        "metric between MRR and NDCG. Integer ranks from pinned "
        "cosines, precision terms DECIMAL(18,12)-summed; query side "
        "broadcast, corpus scanned once, two windows share one "
        "exchange."
    ),
)(
    lambda spark, sf_dir: similarity.map_at_k(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(8)), k=10
    )
)


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


_DESCRIPTIONS.update({
    "ns_dedup_embedding_cosine": "Embedding near-dup pairs: auto-sized sign-LSH buckets, self-join within bucket, cosine >= 0.4 (output itself is quadratic on clustered data — see BENCH_SCALE.md).",
    "ns_sim_topk_bruteforce": "Brute-force cosine top-k for one query vector: broadcast the query, one scan, TakeOrderedAndProject — the exactness baseline.",
    "ns_sim_knn_per_label": "Exact per-label kNN join: quadratic within each label block BY DESIGN — the recall harness its bucketed sibling is validated against.",
    "ns_centroids_per_label": "Per-label centroid vectors: posexplode + decimal-exact per-dimension means, reassembled in dimension order.",
    "ns_sim_topk_lsh": "Sign-LSH bucketed cosine top-k: bucket-equality prune before any vector math, exact scoring of the pruned set.",
    "ns_embed_quantize": "Symmetric int8 vector quantization: per-vector scale + rounded components, exploded per dimension for the oracle.",
    "ns_kmeans_refined": "One unrolled Lloyd iteration of cosine k-means: assign to seed centroids, decimal-exact mean refine, reassign.",
    "ns_sim_topk_ivf": "IVF top-k: assign vectors to nearest seed centroid cells, probe the query's 2 closest cells only — partition-pruned ANN.",
    "ns_sim_topk_multi": "Multi-query brute-force top-k: all query vectors broadcast once, one scan scores every (query, row) pair.",
    "ns_ann_recall_lsh": "ANN recall@5 harness: bucketed ANN vs exact brute-force for 4 query vectors in one bucketed scan, recall per query.",
    "ns_sim_knn_bucketed": "Approximate per-label kNN join blocked by (label, residual sign-LSH bucket) with auto-sized bits — the linear-scaling sibling of the exact harness.",
})
