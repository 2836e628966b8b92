"""Sampling (operators/sampling.py): hash, split, balanced and weighted
draws, and negative sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import sampling
from ._shared import _DRAW


register(
    "ns_sample_hash",
    "SELECT * FROM documents WHERE "
    + _DRAW.format(salt="sample", key="doc_id") + " < 100000",
)(
    lambda spark, sf_dir: sampling.hash_sample(
        _t(spark, sf_dir, "documents"), fraction=0.1, key_col="doc_id"
    )
)


register(
    "ns_sample_split",
    "SELECT doc_id, CASE WHEN " + _DRAW.format(salt="split", key="doc_id")
    + " < 200000 THEN 'test' ELSE 'train' END AS split FROM documents",
)(
    lambda spark, sf_dir: sampling.with_train_test_split(
        _t(spark, sf_dir, "documents"), key_col="doc_id", test_fraction=0.2
    ).select("doc_id", "split")
)


register(
    "ns_sample_balanced",
    "WITH d AS (SELECT vec_id, label, " + _DRAW.format(salt="balance", key="vec_id")
    + " AS dr FROM embeddings), "
    "r AS (SELECT vec_id, label, row_number() OVER "
    " (PARTITION BY label ORDER BY dr, vec_id) AS rn FROM d) "
    "SELECT vec_id, label FROM r WHERE rn <= 5",
)(
    lambda spark, sf_dir: sampling.balanced_sample_per_label(
        _t(spark, sf_dir, "embeddings").select("vec_id", "label"),
        label_col="label", n_per_label=5, key_col="vec_id",
    )
)


register(
    "ns_sample_weighted",
    # Efraimidis-Spirakis priority u^(1/weight), u from the portable
    # 60-bit hash; identical double expressions in both engines
    "WITH p AS (SELECT doc_id, lang, n_chars, "
    " pow((('0x' || substr(md5('wrs|' || doc_id), 1, 15))::BIGINT + 1) "
    "   / 1152921504606846976.0, 1.0 / n_chars) AS pri FROM documents), "
    "r AS (SELECT doc_id, lang, n_chars, row_number() OVER "
    " (PARTITION BY lang ORDER BY pri DESC, doc_id ASC) AS rn FROM p) "
    "SELECT doc_id, lang, n_chars FROM r WHERE rn <= 10",
    desc=(
        "Weighted sampling without replacement, per language: top-10 by "
        "the Efraimidis-Spirakis priority u^(1/n_chars) with a "
        "deterministic per-doc hash draw — inclusion probability "
        "proportional to document length, fully reproducible across "
        "runs, shards, and engines."
    ),
)(
    lambda spark, sf_dir: sampling.weighted_sample_per_group(
        _t(spark, sf_dir, "documents"),
        group_col="lang", weight_col="n_chars", k=10, key_col="doc_id",
    ).select("doc_id", "lang", "n_chars")
)


@register(
    "ns_sample_negatives",
    "WITH npool AS (SELECT vec_id AS cand_id, label AS cand_label "
    "FROM embeddings ORDER BY "
    "(('0x' || substr(md5('negpool|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000000), "
    "cand_id LIMIT 64), "
    "npairs AS (SELECT e.vec_id, e.label, p.cand_id, "
    "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
    "md5(CAST(e.vec_id AS VARCHAR) || '|' || CAST(p.cand_id AS VARCHAR)), "
    "p.cand_id) AS rn "
    "FROM embeddings e JOIN npool p ON e.label <> p.cand_label) "
    "SELECT vec_id, label, cand_id AS negative_id, "
    "CAST(rn AS BIGINT) AS neg_rank FROM npairs WHERE rn <= 3",
)
def ns_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (operators/sampling.negative_samples): each anchor draws 3
    different-label negatives from a fixed 64-row broadcast pool,
    ranked per anchor by md5(anchor|candidate). Anchor x pool work
    with a constant pool — linear at 100 TB where per-anchor corpus
    sampling would be a self-join; assignment is engine- and
    run-stable (the md5 rank key is the oracle's own)."""
    return sampling.negative_samples(_t(spark, sf_dir, "embeddings"))


_DESCRIPTIONS.update({
    "ns_sample_hash": "Deterministic hash sampling: keep rows whose salted md5 draw falls under the rate — a pure pushable filter, no shuffle.",
    "ns_sample_balanced": "Class-balanced sampling: per-label row_number window capped at the minority class size.",
    "ns_sample_split": "Deterministic train/test split by salted hash draw — membership stable across runs and engines.",
})
