"""Deduplication (operators/dedup.py): exact, shingle, MinHash-LSH,
span, line and incremental dedup.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import dedup
from ..operators.sampling import split_thresholds
from ._shared import _SHINGLE_CTE, _VERIFIED_CTES, _buckets_sql, _dedup_cached, _sig_sql


register(
    "ns_dedup_exact",
    "SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies "
    "FROM documents GROUP BY md5(text)",
)(lambda spark, sf_dir: dedup.exact_dedup_groups(_t(spark, sf_dir, "documents")))


register(
    "ns_dedup_ngram_jaccard",
    f"WITH {_SHINGLE_CTE}, "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter "
    "  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, len(sh) AS sz FROM sh) "
    "SELECT doc_a, doc_b, round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id "
    "WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) >= 0.2",
)(
    lambda spark, sf_dir: dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2,
        index=_dedup_cached(spark, sf_dir, "eidx"),
    )
)


register(
    "ns_dedup_jaccard_prefix",
    # identical answer to the quadratic inverted-index join at the same
    # threshold by the prefix-filter completeness lemma, so the
    # quadratic CTE is the exact oracle. Registered at t=0.5 (the
    # LSH-verified dedup threshold): prefix length is (1-t)|x|+1, so
    # the filter only pays ABOVE moderate thresholds — at t=0.2 the
    # prefix is 80% of each doc and candidate generation approaches
    # the naive join (measured 7x slower end-to-end), while at t=0.5
    # the candidate space shrinks 15x and at t=0.7, 440x.
    f"WITH {_SHINGLE_CTE}, "
    "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter "
    "  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, len(sh) AS sz FROM sh) "
    "SELECT doc_a, doc_b, round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard "
    "FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id "
    "WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) >= 0.5",
    desc=(
        "Prefix-filtered set-similarity self-join (AllPairs/PPJoin "
        "family): the LOSSLESS exact-threshold alternative to LSH "
        "banding — candidates join only on each doc's rarest-shingle "
        "prefix (global frequency order, prefix length (1-t)|x|+1) "
        "with PPJoin's positional overlap bound in the join condition, "
        "then verify exactly. Same answer as the quadratic harness at "
        "the same threshold (completeness lemma). Pruning power is "
        "token-skew-dependent: strong on Zipfian text, degrades on "
        "this low-entropy synthetic corpus (BENCH_SCALE.md; the LSH "
        "chain is the scale path there)."
    ),
)(
    lambda spark, sf_dir: dedup.jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5,
        index=_dedup_cached(spark, sf_dir, "eidx"),
    )
)


register(
    "ns_dedup_minhash_lsh",
    f"WITH {_SHINGLE_CTE}, {_sig_sql()}, {_buckets_sql()} "
    "SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM buckets x "
    "JOIN buckets y ON x.band_idx = y.band_idx AND x.band_key = y.band_key "
    "AND x.doc_id < y.doc_id",
)(lambda spark, sf_dir: _dedup_cached(spark, sf_dir, "cand"))


register(
    "ns_dedup_lsh_verified",
    f"WITH {_VERIFIED_CTES} "
    "SELECT c.doc_a, c.doc_b, jaccard FROM cand c JOIN jac USING (doc_a, doc_b) "
    "WHERE jaccard >= 0.5",
)(lambda spark, sf_dir: _dedup_cached(spark, sf_dir, "pairs"))


register(
    "ns_dedup_clusters",
    f"WITH RECURSIVE {_VERIFIED_CTES}, "
    "ver AS (SELECT c.doc_a, c.doc_b FROM cand c JOIN jac USING (doc_a, doc_b) WHERE jaccard >= 0.5), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM ver "
    " UNION SELECT doc_b, doc_a FROM ver), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    " UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
    "m AS (SELECT src AS doc_id, min(dst) AS mr FROM reach GROUP BY src) "
    "SELECT d.doc_id, CAST(least(coalesce(m.mr, d.doc_id), d.doc_id) AS BIGINT) AS cluster_id "
    "FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id",
)(lambda spark, sf_dir: _dedup_cached(spark, sf_dir, "clusters"))


register(
    "ns_dedup_apply",
    f"WITH RECURSIVE {_VERIFIED_CTES}, "
    "ver AS (SELECT c.doc_a, c.doc_b FROM cand c JOIN jac USING (doc_a, doc_b) WHERE jaccard >= 0.5), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM ver "
    " UNION SELECT doc_b, doc_a FROM ver), "
    "reach(src, dst) AS (SELECT src, dst FROM edges "
    " UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), "
    "m AS (SELECT src AS doc_id, min(dst) AS mr FROM reach GROUP BY src) "
    "SELECT d.* FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id "
    "WHERE least(coalesce(m.mr, d.doc_id), d.doc_id) = d.doc_id",
)(
    lambda spark, sf_dir: dedup.dedup_keep_canonical(
        _t(spark, sf_dir, "documents"), threshold=0.5,
        clusters=_dedup_cached(spark, sf_dir, "clusters"),
    )
)


def _simhash_sql(bits: int = 16) -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ", ".join(
        f"sum(CASE WHEN substring(h, {j+1}, 1) IN {high} THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits)
    )
    fp = " || ".join(f"(CASE WHEN b{j} >= 0 THEN '1' ELSE '0' END)" for j in range(bits))
    return (
        "WITH e AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents), "
        "h AS (SELECT doc_id, md5(w) AS h FROM e), "
        f"s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, {fp} AS simhash FROM s"
    )


register("ns_dedup_simhash", _simhash_sql())(
    lambda spark, sf_dir: dedup.simhash_fingerprints(_t(spark, sf_dir, "documents"))
)


register(
    "ns_text_top_ngrams",
    f"WITH {_SHINGLE_CTE} "
    "SELECT s, count(*) AS doc_freq FROM e GROUP BY s "
    "ORDER BY doc_freq DESC, s LIMIT 20",
)(
    lambda spark, sf_dir: dedup.shingle_index(_t(spark, sf_dir, "documents"))
    .groupBy("s")
    .agg(F.count(F.lit(1)).alias("doc_freq"))
    .orderBy(F.col("doc_freq").desc(), "s")
    .limit(20)
)


register(
    "ns_dedup_minhash_estimate",
    f"WITH {_SHINGLE_CTE}, {_sig_sql()}, {_buckets_sql()}, "
    "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM buckets x "
    " JOIN buckets y ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id) "
    "SELECT doc_a, doc_b, round(("
    + " + ".join(f"CAST(sa.h{i} = sb.h{i} AS INTEGER)" for i in range(16))
    + ") / 16.0, 6) AS est_jaccard "
    "FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id",
)(
    lambda spark, sf_dir: dedup.minhash_estimate_pairs(
        _t(spark, sf_dir, "documents"),
        sig=_dedup_cached(spark, sf_dir, "sig"),
        cand=_dedup_cached(spark, sf_dir, "cand"),
    )
)


register(
    "ns_dedup_containment",
    f"WITH {_VERIFIED_CTES} "
    "SELECT c.doc_a, c.doc_b, "
    "round(i.n_inter * 1.0 / sa.sz, 6) AS cont_a_in_b, "
    "round(i.n_inter * 1.0 / sb.sz, 6) AS cont_b_in_a "
    "FROM cand c JOIN inter i USING (doc_a, doc_b) "
    "JOIN sizes sa ON c.doc_a = sa.doc_id JOIN sizes sb ON c.doc_b = sb.doc_id "
    "WHERE greatest(round(i.n_inter * 1.0 / sa.sz, 6), "
    "round(i.n_inter * 1.0 / sb.sz, 6)) >= 0.5",
)(
    lambda spark, sf_dir: dedup.containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5,
        cand=_dedup_cached(spark, sf_dir, "cand"),
    )
)


register(
    "ns_dedup_exact_norm",
    "WITH n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace("
    "lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5 "
    "FROM documents) "
    "SELECT norm_md5, min(doc_id) AS keeper_id, count(*) AS n_copies "
    "FROM n GROUP BY 1",
)(lambda spark, sf_dir: dedup.normalized_exact_dedup(_t(spark, sf_dir, "documents")))


_NORM_MD5 = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), "
    "' +', ' ', 'g')))"
)


register(
    "ns_dedup_incremental",
    # odd doc_ids are the 'new batch', evens the historical corpus
    f"WITH nh AS (SELECT *, {_NORM_MD5} AS h FROM documents WHERE doc_id % 2 = 1), "
    f"seen AS (SELECT DISTINCT {_NORM_MD5} AS h FROM documents WHERE doc_id % 2 = 0), "
    "keep AS (SELECT h, min(doc_id) AS doc_id FROM nh GROUP BY h) "
    "SELECT nh.doc_id, text, lang, source, n_chars FROM nh "
    "JOIN keep USING (h, doc_id) WHERE h NOT IN (SELECT h FROM seen)",
)(
    lambda spark, sf_dir: dedup.incremental_new_docs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1),
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
    )
)


register(
    "ns_cross_corpus_overlap",
    f"WITH {_VERIFIED_CTES} "
    "SELECT c.doc_a, c.doc_b, jaccard FROM cand c JOIN jac USING (doc_a, doc_b) "
    "WHERE jaccard >= 0.5 AND (doc_a % 2) <> (doc_b % 2)",
    desc=(
        "Cross-corpus contamination PAIRS: verified near-dups restricted to "
        "pairs straddling the corpus split (id parity as the corpus label) — "
        "train/benchmark overlap reported as auditable pair evidence, where "
        "ns_decontaminate only filters. Shares the session-scoped LSH "
        "intermediates, so the marginal cost is one filter over the pair "
        "table."
    ),
)(
    lambda spark, sf_dir: _dedup_cached(spark, sf_dir, "pairs").filter(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    )
)


@register(
    "ns_dedup_substring_spans",
    "WITH spans AS (SELECT doc_id, "
    " substr(md5(substr(text, CAST(p AS INTEGER), 50)), 1, 16) AS h "
    " FROM documents CROSS JOIN "
    "  unnest(generate_series(1, length(text) - 49, 10)) AS t(p) "
    " WHERE length(text) >= 50), "
    "ph AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h), "
    "agg AS (SELECT s.doc_id, count(*) AS n_spans, "
    " CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans "
    " FROM spans s JOIN ph USING (h) GROUP BY s.doc_id) "
    "SELECT d.doc_id, CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans, "
    "CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans, "
    "round(coalesce(n_dup_spans, 0) * 1.0 / "
    " greatest(coalesce(n_spans, 0), 1), 6) AS dup_ratio "
    "FROM documents d LEFT JOIN agg USING (doc_id)",
)
def ns_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level substring dedup (Lee et al. ACL'22): hash a
    50-char window every 10 chars, flag spans shared across >= 2
    distinct documents, and report each document's duplicated-span
    fraction — the boilerplate/quote-level signal whole-document
    MinHash dilutes away. The exchange carries only (doc_id, digest)
    pairs; exploded rows are corpus_chars/stride, linear in corpus
    size (operators/dedup.py duplicated_span_stats)."""
    return dedup.duplicated_span_stats(_t(spark, sf_dir, "documents"))


@register(
    "ns_dedup_span_ranges",
    "WITH spans AS (SELECT doc_id, CAST(p AS INTEGER) AS p, "
    " substr(md5(substr(text, CAST(p AS INTEGER), 50)), 1, 16) AS h "
    " FROM documents CROSS JOIN "
    "  unnest(generate_series(1, length(text) - 49, 10)) AS t(p) "
    " WHERE length(text) >= 50), "
    "ph AS (SELECT h FROM ("
    " SELECT h, count(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h"
    ") WHERE ndocs > 1), "
    "d AS (SELECT s.doc_id, s.p FROM spans s JOIN ph USING (h)), "
    "m AS (SELECT doc_id, p, CASE WHEN lag(p) OVER w IS NULL "
    " OR p - lag(p) OVER w > 50 THEN 1 ELSE 0 END AS brk "
    " FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY p)), "
    "i AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p "
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM m) "
    "SELECT doc_id, CAST(min(p) AS BIGINT) AS range_start, "
    "CAST(max(p) + 49 AS BIGINT) AS range_end, "
    "CAST(count(*) AS BIGINT) AS n_dup_spans "
    "FROM i GROUP BY doc_id, isl",
)
def ns_dedup_span_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated RANGES per document (VERDICT r5 #7 — the
    refinement of ns_dedup_substring_spans an actual decontamination
    pass removes): contiguous runs of cross-document-duplicated
    50-char span hashes merged into [start, end] char intervals via
    per-document gaps-and-islands over the duplicated positions only.
    Same linear explode/aggregate skeleton as the span stats (exchange
    carries (doc_id, digest, pos), never text); the merge windows are
    partitioned by doc_id — no global sort anywhere
    (operators/dedup.py duplicated_span_ranges)."""
    return dedup.duplicated_span_ranges(_t(spark, sf_dir, "documents"))


_INC_DEDUP_SQL = (
    # identical semantics (and oracle) to ns_dedup_incremental: the
    # bucketed layout changes the PLAN, never the rows
    "WITH nh AS (SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS h FROM documents "
    "WHERE doc_id % 2 = 1), "
    "seen AS (SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))) AS h FROM documents "
    "WHERE doc_id % 2 = 0), "
    "keep AS (SELECT h, min(doc_id) AS doc_id FROM nh GROUP BY h) "
    "SELECT nh.doc_id, text, lang, source, n_chars FROM nh "
    "JOIN keep USING (h, doc_id) WHERE h NOT IN (SELECT h FROM seen)"
)


@register("ns_dedup_incremental_bucketed", _INC_DEDUP_SQL)
def ns_dedup_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring-pipeline form of incremental ingest dedup (VERDICT r6
    #8): the historical corpus's digest set is MATERIALIZED once as a
    bucketed, bucket-sorted table (bucketBy(32, _h).sortBy(_h)), and
    each day's anti join reads it back already hash-partitioned — the
    archive side of the join plans NO Exchange, ever again, while the
    per-session path re-hashes and re-shuffles the archive under every
    batch. Rows are identical to ns_dedup_incremental (same oracle);
    only the plan changes. The archive-side exchange elimination is
    pinned by tests/test_layout.py and measured in PLANS.md."""
    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"[^a-zA-Z0-9_]", "_", sf_dir.strip("/").split("/")[-1])
    table = f"digest_archive_{tag}"
    path = os.path.join(os.getcwd(), "spark-warehouse", table)
    dedup.write_digest_archive(
        docs.filter(F.col("doc_id") % 2 == 0), table, path
    )
    return dedup.incremental_new_docs(
        docs.filter(F.col("doc_id") % 2 == 1),
        existing_digests=spark.table(table),
    )


@register(
    "ns_dedup_lines",
    "WITH lw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "lsegs AS (SELECT doc_id, list_transform("
    "range(0, CAST(ceil(len(ws)/8.0) AS BIGINT)), "
    "i -> array_to_string(list_slice(ws, i*8+1, i*8+8), ' ')) AS segs FROM lw), "
    "lex AS (SELECT doc_id, unnest(segs) AS seg, "
    "generate_subscripts(segs, 1) AS pos FROM lsegs), "
    "lrk AS (SELECT *, row_number() OVER "
    "(PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM lex) "
    "SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_dedup, "
    "CAST(count(*) AS BIGINT) AS n_kept "
    "FROM lrk WHERE rn = 1 GROUP BY doc_id",
)
def ns_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup with document rebuild
    (operators/dedup.line_dedup): fixed 8-word segments stand in for
    lines (the synthetic corpus is newline-free), each distinct
    segment survives only at its first (doc_id, pos) occurrence
    corpus-wide, and documents are reassembled from their surviving
    segments in order. Two keyed shuffles total — by segment content
    for the global first-occurrence rank, by doc_id for the ordered
    rebuild — the canonical distributed line-dedup plan."""
    return dedup.line_dedup(_t(spark, sf_dir, "documents"))


@register(
    "ns_dedup_incremental_lsh",
    f"WITH {_SHINGLE_CTE}, {_sig_sql()}, {_buckets_sql()}, "
    "cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS arch_id FROM buckets x "
    " JOIN buckets y ON x.band_idx = y.band_idx AND x.band_key = y.band_key "
    " AND x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0), "
    "inter AS (SELECT a.doc_id AS new_id, b.doc_id AS arch_id, count(*) AS n_inter "
    " FROM e a JOIN e b ON a.s = b.s AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 "
    " GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, len(sh) AS sz FROM sh), "
    "matched AS (SELECT DISTINCT new_id FROM cand JOIN inter USING (new_id, arch_id) "
    " JOIN sizes sa ON new_id = sa.doc_id JOIN sizes sb ON arch_id = sb.doc_id "
    " WHERE round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) >= 0.5) "
    "SELECT doc_id, text, lang, source, n_chars FROM documents "
    "WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT new_id FROM matched)",
    desc=(
        "Incremental NEAR-dup ingest dedup (dedup."
        "incremental_neardup_new_docs): batch band keys equi-join the "
        "archive's LSH buckets, exact Jaccard verifies candidates with "
        "both sides id-restricted, survivors leave via one anti join — "
        "the fuzzy twin of the exact-digest incremental rung; "
        "write_lsh_archive persists the bucketed archive side."
    ),
)
def _incremental_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.incremental_neardup_new_docs(
        new=docs.filter(F.col("doc_id") % 5 == 0),
        archive=docs.filter(F.col("doc_id") % 5 != 0),
        threshold=0.5,
    )


_T_TRAIN, _T_VAL = split_thresholds([90.0, 5.0, 5.0])
_SPLIT_DRAW = ("(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
               " % 1000000)")


register(
    "ns_split_leakage_audit",
    f"WITH {_VERIFIED_CTES}, "
    "verified AS (SELECT c.doc_a, c.doc_b FROM cand c "
    " JOIN jac USING (doc_a, doc_b) WHERE jaccard >= 0.5), "
    "tags AS (SELECT doc_id, CASE "
    f" WHEN {_SPLIT_DRAW} < {_T_TRAIN} THEN 'train' "
    f" WHEN {_SPLIT_DRAW} < {_T_VAL} THEN 'val' "
    " ELSE 'test' END AS split FROM documents) "
    "SELECT least(ta.split, tb.split) AS split_a, "
    "greatest(ta.split, tb.split) AS split_b, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "least(ta.split, tb.split) <> greatest(ta.split, tb.split) AS leaked "
    "FROM verified JOIN tags ta ON doc_a = ta.doc_id "
    "JOIN tags tb ON doc_b = tb.doc_id GROUP BY 1, 2",
    desc=(
        "Train/test leakage audit (dedup.split_leakage_audit): verified "
        "near-dup pairs joined to their hash-split tags, counted per "
        "unordered split pair — cross-split rows with n_pairs > 0 ARE "
        "the contamination finding; LSH-bounded pair work, one tiny "
        "final aggregate."
    ),
)(
    lambda spark, sf_dir: dedup.split_leakage_audit(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )
)


register(
    "ns_dedup_winnowing",
    # k=4-word grams, window w=5, max_df=100, overlap >= 0.5
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "g AS (SELECT doc_id, i, "
    " ('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))::BIGINT AS h "
    " FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 2, 1))) AS i "
    "       FROM w WHERE len(ws) >= 8)), "
    "fd AS (SELECT doc_id, fp FROM ("
    "        SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i "
    "          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fp FROM g) "
    "       WHERE i >= 5 GROUP BY doc_id, fp), "
    "kept AS (SELECT doc_id, fp FROM ("
    "          SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfc FROM fd) "
    "         WHERE dfc <= 100), "
    "sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1), "
    "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "        CAST(count(*) AS BIGINT) AS shared_fps "
    "       FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id "
    "       GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, shared_fps, "
    " round(shared_fps / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS overlap "
    "FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id "
    "JOIN sz sb ON pr.doc_b = sb.doc_id "
    "WHERE round(shared_fps / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) >= 0.5",
    desc=(
        "Winnowing (MOSS) fingerprint dedup: per-doc window-min of "
        "4-gram hashes (w=5, ~2/(w+1) density with the shared-substring "
        "guarantee), then doc pairs ranked by containment overlap of "
        "fingerprint sets; fingerprints in >100 docs dropped first — "
        "the boilerplate guard that bounds the self-join fan-out. "
        "Pair LISTING is output-bound on heavily duplicated corpora "
        "(BENCH_SCALE); the keep-first apply (p84) is the linear path."
    ),
)(
    lambda spark, sf_dir: dedup.winnow_shared_pairs(
        _t(spark, sf_dir, "documents"), k=4, w=5, max_df=100, threshold=0.5
    )
)


register(
    "ns_dedup_savings_by_source",
    "WITH r AS (SELECT doc_id AS _id, source, CAST(n_chars AS BIGINT) AS _len, "
    "  md5(text) AS _h FROM documents), "
    "k AS (SELECT _h, min(_id) AS _keep FROM r GROUP BY 1) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    " CAST(sum(CASE WHEN _id <> _keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, "
    " CAST(sum(_len) AS BIGINT) AS chars_total, "
    " CAST(sum(CASE WHEN _id <> _keep THEN _len ELSE 0 END) AS BIGINT) AS chars_saved, "
    " round(sum(CASE WHEN _id <> _keep THEN _len ELSE 0 END) "
    "       / CAST(sum(_len) AS DOUBLE), 6) AS savings_ratio "
    "FROM r JOIN k USING (_h) GROUP BY source",
    desc=(
        "Dedup SAVINGS report: per source, documents and characters "
        "exact dedup removes (corpus-wide keeper = lowest id per md5 "
        "digest) — the storage business case; digests-only exchanges, "
        "source-cardinality output. Prices what dup_rate_by_source "
        "locates."
    ),
)(
    lambda spark, sf_dir: dedup.dedup_savings_by_source(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "ns_dedup_cluster_sizes",
    "WITH g AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies "
    "FROM documents GROUP BY 1) "
    "SELECT n_copies, CAST(count(*) AS BIGINT) AS n_groups, "
    " CAST(n_copies * count(*) AS BIGINT) AS n_docs, "
    " CAST((n_copies - 1) * count(*) AS BIGINT) AS n_removable "
    "FROM g GROUP BY n_copies",
    desc=(
        "Duplicate-cluster size HISTOGRAM: how many exact-duplicate "
        "groups exist at each copy count, the docs they hold, and the "
        "copies dedup would remove — the how-duplicated-is-my-corpus "
        "curve read next to the savings report; one digest aggregate "
        "then a histogram over group sizes (distinct-text cardinality, "
        "then copy-count cardinality — nothing corpus-sized shuffles "
        "twice)."
    ),
)(
    lambda spark, sf_dir: (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
        .groupBy("n_copies")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .select(
            "n_copies",
            "n_groups",
            (F.col("n_copies") * F.col("n_groups")).cast("long").alias("n_docs"),
            ((F.col("n_copies") - F.lit(1)) * F.col("n_groups")).cast("long")
            .alias("n_removable"),
        )
    )
)


register(
    "ns_dedup_cdc_chunks",
    # mask=16 (expected ~16-word chunks), min_words=1
    "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w, "
    " generate_subscripts(string_split(text, ' '), 1) AS pos "
    " FROM documents), "
    "b AS (SELECT doc_id, pos, w, "
    " CASE WHEN ('0x' || substr(md5(w), 1, 15))::BIGINT % 16 = 0 "
    " THEN 1 ELSE 0 END AS bnd FROM t), "
    "c AS (SELECT *, SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos) "
    " AS chunk_id FROM b), "
    "ch AS (SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_words, "
    " md5(string_agg(w, ' ' ORDER BY pos)) AS digest "
    " FROM c GROUP BY 1, 2), "
    "dd AS (SELECT digest, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, "
    " CAST(SUM(n_words) AS BIGINT) AS n_words, "
    " CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "   AS n_dup_chunks, "
    " CAST(SUM(CASE WHEN nd > 1 THEN n_words ELSE 0 END) AS BIGINT) "
    "   AS n_dup_words, "
    " round(SUM(CASE WHEN nd > 1 THEN n_words ELSE 0 END) "
    "   / CAST(SUM(n_words) AS DOUBLE), 6) AS dup_mass_ratio "
    "FROM ch JOIN dd USING (digest) GROUP BY doc_id",
    desc=(
        "Content-defined chunking dedup audit (FastCDC/LBFS at word "
        "granularity): boundaries fall before words hashing to 0 mod "
        "16, so chunk edges survive insertions that shift every "
        "fixed-stride window — per doc, the chunk/word mass that also "
        "appears elsewhere. One explode, per-doc running-sum window, "
        "digest-only exchanges."
    ),
)(
    lambda spark, sf_dir: dedup.cdc_chunk_dup_stats(
        _t(spark, sf_dir, "documents"), mask=16
    )
)


_DESCRIPTIONS.update({
    "ns_dedup_exact": "Exact duplicate groups: hash-aggregate on md5(text) so the exchange carries 16-byte digests, emitting count and min doc_id per duplicated text.",
    "ns_dedup_ngram_jaccard": "Exact 3-gram Jaccard over candidate pairs — the documented quadratic verification harness for the LSH tier (never the serving path).",
    "ns_dedup_minhash_lsh": "MinHash signatures + banded LSH: shingle -> 16 arithmetic min-hashes -> band keys; candidate pairs join on band buckets only.",
    "ns_dedup_lsh_verified": "LSH candidates verified by exact Jaccard restricted to bucket survivors via broadcast semi-join — the full near-dup pair pipeline.",
    "ns_dedup_clusters": "Connected components over verified near-dup pairs (Pregel-style min-label propagation with per-round localCheckpoint).",
    "ns_dedup_apply": "Applied dedup: anti-join documents against non-representative cluster members, keeping one doc per near-dup cluster.",
    "ns_dedup_simhash": "64-bit SimHash per document from one aggregation over word hashes — zero joins, the cheapest near-dup fingerprint.",
    "ns_text_top_ngrams": "Corpus-wide top-20 word 3-grams by count: explode, hash-aggregate, TakeOrderedAndProject.",
    "ns_dedup_minhash_estimate": "Signature-only Jaccard estimate (matching-hash fraction) per LSH candidate pair — the O(k)/pair screen before exact verify.",
    "ns_dedup_containment": "Asymmetric containment (|A∩B|/min |A|,|B|) over LSH candidates — catches subset duplication symmetric Jaccard misses.",
    "ns_dedup_exact_norm": "Normalized exact dedup: lowercase/strip-punctuation normalization, then groups on the 16-byte md5 of the normal form.",
    "ns_dedup_incremental": "Incremental ingest dedup: anti-join the new batch's normalized digests against the existing corpus — only digests shuffle.",
})
