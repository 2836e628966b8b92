"""Corpus construction (operators/corpus.py): decontamination, packing,
mixing, budget allocation and corpus audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import corpus, sampling, text
from ..plans.sqlgen import spec_to_sql
from ._shared import _DRAW, _EN, _SHINGLE_CTE


register(
    "ns_decontaminate",
    f"WITH {_SHINGLE_CTE}, "
    "bm AS (SELECT DISTINCT s FROM e WHERE doc_id % 97 = 0) "
    "SELECT DISTINCT doc_id FROM e WHERE doc_id % 97 <> 0 "
    "AND s IN (SELECT s FROM bm)",
)(
    lambda spark, sf_dir: corpus.contaminated_ids(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 != 0),
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0),
    )
)


register(
    "ns_pack_sequences",
    "WITH t AS (SELECT doc_id, lang, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    "CAST(floor(doc_id / 128.0) AS BIGINT) AS grp FROM documents), "
    "c AS (SELECT *, SUM(n_tokens) OVER "
    "(PARTITION BY lang, grp ORDER BY doc_id) AS cum FROM t) "
    "SELECT lang, grp, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id, "
    "COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens, "
    "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
    "FROM c GROUP BY 1, 2, 3",
)(
    lambda spark, sf_dir: corpus.pack_sequences(
        _t(spark, sf_dir, "documents"), budget=256, group_size=128
    )
)


register(
    "ns_sample_stratified",
    "SELECT * FROM documents WHERE "
    + _DRAW.format(salt="strat", key="doc_id")
    + " < CASE WHEN lang = 'en' THEN 200000 ELSE 800000 END",
)(
    lambda spark, sf_dir: corpus.stratified_hash_sample(
        _t(spark, sf_dir, "documents"), rates={"en": 0.2}, default_rate=0.8
    )
)


register(
    "ns_shuffle_sharded",
    "WITH d AS (SELECT doc_id, "
    "(('0x' || substr(md5('shard|' || doc_id::VARCHAR), 1, 15))::BIGINT % 8) AS shard, "
    + _DRAW.format(salt="shuffle", key="doc_id")
    + " AS draw FROM documents) "
    "SELECT doc_id, shard, CAST(row_number() OVER "
    "(PARTITION BY shard ORDER BY draw, doc_id) AS BIGINT) AS pos FROM d",
)(
    lambda spark, sf_dir: corpus.sharded_shuffle(
        _t(spark, sf_dir, "documents")
    ).withColumn("pos", F.col("pos").cast("long"))
)


register(
    "ns_source_filter",
    "WITH s AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS sl, "
    "COUNT(*) AS n FROM documents GROUP BY 1), "
    "g AS (SELECT CAST(SUM(sl) AS DOUBLE) AS gs, CAST(SUM(n) AS DOUBLE) AS gn FROM s), "
    "keep AS (SELECT source FROM s, g WHERE sl / n >= gs / gn) "
    "SELECT doc_id, source, n_chars FROM documents "
    "WHERE source IN (SELECT source FROM keep)",
)(
    lambda spark, sf_dir: corpus.filter_sources_by_mean_len(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "ns_chunk_documents",
    # sliding word windows: starts 1, 1+stride, ... while start <= len;
    # tail chunks may be short, no suffix dropped (stride 16, size 32)
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "st AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws), 16)) AS start FROM w), "
    "c AS (SELECT doc_id, start, list_slice(ws, start, least(start + 31, len(ws))) AS chunk FROM st) "
    "SELECT doc_id, CAST((start - 1) / 16 AS INTEGER) AS chunk_idx, "
    "CAST(len(chunk) AS INTEGER) AS n_chunk_words, "
    "md5(array_to_string(chunk, ' ')) AS chunk_md5 FROM c",
)(
    lambda spark, sf_dir: corpus.chunk_documents(
        _t(spark, sf_dir, "documents"), size=32, stride=16
    ).withColumn("n_chunk_words", F.col("n_chunk_words").cast("int"))
)


register(
    "ns_corpus_mix_weights",
    "SELECT lang, count(*) AS n_docs, "
    "round(pow(count(*), 0.7) / sum(pow(count(*), 0.7)) OVER (), 6) AS weight "
    "FROM documents GROUP BY lang",
)(lambda spark, sf_dir: corpus.mix_weights(_t(spark, sf_dir, "documents"), alpha=0.7))


register(
    "ns_corpus_length_hist",
    "SELECT lang, CAST(floor(log2(n_chars::DOUBLE)) AS BIGINT) AS log2_bucket, "
    "count(*) AS n_docs, min(n_chars) AS min_len, max(n_chars) AS max_len "
    "FROM documents WHERE n_chars > 0 GROUP BY 1, 2",
)(lambda spark, sf_dir: corpus.length_histogram(_t(spark, sf_dir, "documents")))


register(
    "ns_corpus_length_buckets",
    "SELECT CAST(ceil(n_chars / 128.0) * 128 AS BIGINT) AS bucket_len, "
    "count(*) AS n_docs, "
    "CAST(CAST(ceil(n_chars / 128.0) * 128 AS BIGINT) * count(*) - sum(n_chars) AS BIGINT) AS padding_waste "
    "FROM documents WHERE n_chars > 0 GROUP BY 1",
)(
    lambda spark, sf_dir: corpus.length_bucket_stats(
        _t(spark, sf_dir, "documents"), bucket=128
    )
)


register(
    "ns_corpus_mix_apply",
    # keep rate per lang = floor(budget * w / n * 1e6), hash-draw filter
    "WITH c AS (SELECT lang, count(*) AS n_docs, "
    " pow(count(*), 0.7) / sum(pow(count(*), 0.7)) OVER () AS w FROM documents GROUP BY lang), "
    "r AS (SELECT lang, least(1000000, CAST(floor(200 * w / n_docs * 1000000) AS BIGINT)) AS kb FROM c) "
    "SELECT doc_id, documents.lang, source FROM documents JOIN r ON documents.lang = r.lang "
    "WHERE ('0x' || substr(md5('mix|' || doc_id), 1, 15))::BIGINT % 1000000 < kb",
)(
    lambda spark, sf_dir: corpus.apply_mix_sampling(
        _t(spark, sf_dir, "documents"), budget=200
    ).select("doc_id", "lang", "source")
)


@register(
    "ns_corpus_interleave",
    "WITH s AS (SELECT source, row_number() OVER (ORDER BY source) AS src_idx, "
    " count(*) OVER () AS n_src FROM (SELECT DISTINCT source FROM documents)), "
    "r AS (SELECT doc_id, source, row_number() OVER "
    " (PARTITION BY source ORDER BY doc_id) AS rn FROM documents) "
    "SELECT doc_id, r.source, (rn - 1) * n_src + src_idx AS interleave_key "
    "FROM r JOIN s ON r.source = s.source",
)
def ns_corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave across sources: assigns
    each document the training-order key (rank_within_source - 1) *
    n_sources + source_index, so consuming in key order alternates
    sources 1-per-step — the curriculum shape mixture training wants.
    No global sort is ever computed: the per-source rank is a
    partitioned window and the source index comes from a broadcast
    20-row dimension; the total order exists only as a sortable key."""
    docs = _t(spark, sf_dir, "documents")
    # The src_idx/n_src windows run over the ~20-row distinct-source
    # dimension, where one partition is the POINT. The key must be a
    # constant-valued but NON-FOLDABLE expression: lit(1) gets
    # constant-folded away by Catalyst, leaving an unpartitioned
    # WindowExec that warns (round-6 plan trace); pmod(length(source),
    # 1) is 0 on every row but stays nullable, so it survives as a
    # real partition column and the dimension is read exactly once.
    # Pinned by tests/test_plans.py::test_no_unpartitioned_windows_*.
    one = Window.partitionBy(F.pmod(F.length("source"), F.lit(1)))
    srcs = (
        docs.select("source").distinct()
        .select(
            "source",
            F.row_number().over(one.orderBy("source")).alias("src_idx"),
            F.count(F.lit(1)).over(one).alias("n_src"),
        )
    )
    rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    return (
        docs.join(F.broadcast(srcs), "source")
        .select(
            "doc_id",
            "source",
            ((rn - 1) * F.col("n_src") + F.col("src_idx")).alias("interleave_key"),
        )
    )


register(
    "ns_corpus_build_e2e",
    # the full corpus build as ONE composed statement: quality gate ->
    # exact-dedup keepers -> benchmark decontamination -> sequence
    # packing. CTE names are prefixed (qt/qm/qs, kp, bm/bad, cl,
    # pt/pc) so the reused quality/shingle/pack fragments can't
    # collide.
    "WITH qt AS (SELECT doc_id, text, length(text) AS n_chars, "
    " string_split(text, ' ') AS ws FROM documents), "
    "qm AS (SELECT doc_id, n_chars, len(ws) AS n_words, "
    f" len(list_filter(ws, w -> lower(w) IN {_EN})) AS stop_hits, "
    " len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS nonalnum FROM qt), "
    "qs AS (SELECT doc_id FROM qm WHERE "
    " round(least(1.0, n_words / 50.0) * 0.5 "
    "  + (1.0 - least(1.0, round(nonalnum / greatest(n_chars, 1), 6) * 10)) * 0.3 "
    "  + least(1.0, round(stop_hits / n_words, 6) * 5) * 0.2, 6) >= 0.55), "
    "kp AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), "
    f"{_SHINGLE_CTE}, "
    "bm AS (SELECT DISTINCT s FROM e WHERE doc_id % 97 = 0), "
    "bad AS (SELECT DISTINCT doc_id FROM e WHERE doc_id % 97 <> 0 "
    " AND s IN (SELECT s FROM bm)), "
    "cl AS (SELECT d.doc_id, d.lang, d.text FROM documents d "
    " JOIN qs ON d.doc_id = qs.doc_id JOIN kp ON d.doc_id = kp.doc_id "
    " WHERE d.doc_id % 97 <> 0 "
    " AND d.doc_id NOT IN (SELECT doc_id FROM bad)), "
    "pt AS (SELECT doc_id, lang, "
    " CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    " CAST(floor(doc_id / 128.0) AS BIGINT) AS grp FROM cl), "
    "pc AS (SELECT *, SUM(n_tokens) OVER "
    " (PARTITION BY lang, grp ORDER BY doc_id) AS cum FROM pt) "
    "SELECT lang, grp, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id, "
    "COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens, "
    "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
    "FROM pc GROUP BY 1, 2, 3",
    desc=(
        "END-TO-END corpus build in one declarative plan: quality gate "
        "(score >= 0.55) -> exact-dedup keepers (min doc_id per md5) -> "
        "benchmark decontamination (broadcast shingle anti-join, "
        "doc_id % 97 as the benchmark split) -> greedy sequence packing "
        "(256-token budget, 128-doc groups). Every stage is the "
        "registered operator run on its own; composed, Catalyst sees one "
        "plan: slim semi/anti joins on doc_id, the 100 TB side never "
        "shuffled on text. Honest scan count: each stage derives from its "
        "own scan of documents (4 pruned-column scans); at 100 TB you "
        "would checkpoint the quality-gated subset once and feed the "
        "later stages from it — the JOIN structure is unchanged."
    ),
)(
    lambda spark, sf_dir: (lambda docs: corpus.pack_sequences(
        docs.filter(F.col("doc_id") % 97 != 0)
        .join(
            text.with_quality_score(docs)
            .filter(F.col("quality_score") >= 0.55)
            .select("doc_id"),
            "doc_id", "left_semi",
        )
        .join(
            docs.groupBy(F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"),
            "doc_id", "left_semi",
        )
        .join(
            corpus.contaminated_ids(
                docs.filter(F.col("doc_id") % 97 != 0),
                docs.filter(F.col("doc_id") % 97 == 0),
            ).select("doc_id"),
            "doc_id", "left_anti",
        ),
        budget=256, group_size=128,
    ))(_t(spark, sf_dir, "documents"))
)


register(
    "ns_corpus_incremental_stats",
    # the oracle recomputes from scratch over ALL documents — equality
    # proves the monoid merge (history state + batch state) is exact
    "SELECT lang, source, count(*) AS n, "
    "CAST(sum(n_chars) AS BIGINT) AS total, "
    "CAST(sum(n_chars * n_chars) AS BIGINT) AS total_sq, "
    "min(n_chars) AS lo, max(n_chars) AS hi, "
    "round(sum(n_chars) * 1.0 / count(*), 6) AS mean_chars, "
    "round((sum(n_chars * n_chars) * 1.0 - sum(n_chars) * 1.0 * sum(n_chars) "
    " / count(*)) / count(*), 6) AS var_chars "
    "FROM documents GROUP BY lang, source",
    desc=(
        "Incremental aggregate maintenance: per-(lang, source) corpus "
        "stats kept as a mergeable monoid state (n, sum, sum-of-squares, "
        "min, max) — the Spark side merges a HISTORY state with a new "
        "BATCH state, the oracle recomputes from scratch; equality "
        "proves batch ingest never needs to rescan history. Integer "
        "measures make the state exact, so mean and variance derive "
        "bit-identically."
    ),
)(
    lambda spark, sf_dir: (lambda docs: corpus.merge_agg_states(
        corpus.agg_state(docs.filter(F.col("doc_id") % 11 != 0),
                         ["lang", "source"], "n_chars"),
        corpus.agg_state(docs.filter(F.col("doc_id") % 11 == 0),
                         ["lang", "source"], "n_chars"),
    ).select(
        "lang", "source", "n", "total", "total_sq", "lo", "hi",
        F.round(F.col("total") * 1.0 / F.col("n"), 6).alias("mean_chars"),
        F.round(
            (F.col("total_sq") * 1.0
             - F.col("total") * 1.0 * F.col("total") / F.col("n"))
            / F.col("n"), 6,
        ).alias("var_chars"),
    ))(_t(spark, sf_dir, "documents"))
)


register(
    "ns_corpus_contamination_score",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN "
    "list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) "
    "ELSE CAST([] AS VARCHAR[]) END AS sh FROM w), "
    "e AS (SELECT doc_id, unnest(sh) AS s FROM sh), "
    "c AS (SELECT * FROM e WHERE doc_id % 97 <> 0), "
    "bs AS (SELECT DISTINCT s FROM e WHERE doc_id % 97 = 0) "
    "SELECT c.doc_id, count(*) AS n_grams, "
    "CAST(count(bs.s) AS BIGINT) AS n_hit, "
    "round(count(bs.s) * 1.0 / count(*), 6) AS contamination "
    "FROM c LEFT JOIN bs ON c.s = bs.s GROUP BY c.doc_id",
    desc=(
        "GRADED benchmark contamination: per training doc, the fraction "
        "of its distinct 3-gram shingles appearing anywhere in the "
        "benchmark split — the audit/threshold/stratify sibling of the "
        "binary ns_decontaminate filter. The benchmark gram set "
        "broadcasts (eval suites are small), so the corpus never "
        "shuffles for the join."
    ),
)(
    lambda spark, sf_dir: (lambda docs: corpus.contamination_scores(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    ))(_t(spark, sf_dir, "documents"))
)


def _bloom_guarantee_sql() -> str:

    return (
        f"WITH {_SHINGLE_CTE}, "
        "bm AS (SELECT DISTINCT s FROM e WHERE doc_id % 97 = 0 AND doc_id < 58200), "
        "exact AS (SELECT DISTINCT doc_id FROM e WHERE doc_id % 97 <> 0 "
        "AND s IN (SELECT s FROM bm)) "
        "SELECT CAST(count(*) AS BIGINT) AS n_exact_contaminated, "
        "CAST(0 AS BIGINT) AS n_missed_by_bloom FROM exact"
    )


@register("ns_decontaminate_bloom", _bloom_guarantee_sql())
def ns_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screen decontamination: benchmark shingles fold into one
    natively-built Bloom bitset (xxhash64 double hashing, bit_or word
    merge) shipped as a binary literal; the corpus probes it with pure
    JVM byte-extraction expressions — a per-row filter, NO join
    against the gram set, the shape that decontaminates 100 TB
    without ever shuffling it. One-sided error (never misses a
    contaminated doc; ~2% clean docs over-flagged at the default
    sizing) — the screen-then-verify front half, with exact
    contaminated_ids as the verify pass over the flagged sliver.
    Round-8: registered as the GUARANTEE harness
    (corpus.bloom_guarantee_check) so the driver gate hash-checks the
    one-sided contract — n_missed_by_bloom must be exactly 0 and the
    exact contaminated count must match SQL — instead of recording an
    err:no_oracle row; the FP-rate bound stays pinned in
    tests/test_corpus.py."""
    docs = _t(spark, sf_dir, "documents")
    # the benchmark side is a FIXED slice (<= 600 docs at any sf):
    # real decontamination screens a growing crawl against a
    # fixed-size eval suite, so the scale sweep measures the PROBE's
    # linear scan, not an ever-growing build (r7: the benchmark-
    # scales-with-corpus form spent 97s at sf10, build-dominated)
    return corpus.bloom_guarantee_check(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 58200)),
    )


_BUDGET_SQL = (
    "WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens, "
    " ('0x' || substr(md5('budget|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS _ord "
    " FROM documents), "
    "r AS (SELECT lang, doc_id, n_tokens, "
    " CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY _ord, doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_tokens FROM t) "
    "SELECT lang, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, running_tokens "
    "FROM r WHERE running_tokens <= 4000"
)


@register("ns_corpus_token_budget", _BUDGET_SQL)
def ns_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus fill (operators/corpus.select_token_budget):
    4000 tokens per language in deterministic md5-draw order — the
    selection step that turns per-language token targets into a
    document set, with the ingest-order bias removed. One per-group
    cumulative window; strict <= makes budgets hard caps."""
    return corpus.select_token_budget(
        _t(spark, sf_dir, "documents"), budget_tokens=4000
    )


register(
    "ns_corpus_dsir_weights",
    "WITH e AS (SELECT doc_id, lang = 'en' AS is_t, "
    " (('0x' || substr(md5(w), 1, 15))::BIGINT % 16) AS bkt "
    " FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)), "
    "c AS (SELECT bkt, CAST(count(*) AS BIGINT) AS r_k, "
    " CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_k FROM e GROUP BY bkt), "
    "t AS (SELECT CAST(sum(r_k) AS BIGINT) AS r_tot, CAST(sum(t_k) AS BIGINT) AS t_tot FROM c), "
    "lr AS (SELECT bkt, CAST(round(ln((t_k + 1) / CAST(t_tot + 16 AS DOUBLE)) "
    " - ln((r_k + 1) / CAST(r_tot + 16 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lr FROM c, t) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, "
    " round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight, "
    " round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS avg_log_ratio "
    "FROM e JOIN lr USING (bkt) GROUP BY doc_id",
    desc=(
        "DSIR importance weights (arXiv:2302.03169): hashed bag-of-words "
        "log-likelihood ratio of target (lang='en') vs raw distribution per "
        "document — one explode feeds both distribution estimates and the "
        "broadcast scoring join; decimal-exact per-doc sums."
    ),
)(
    lambda spark, sf_dir: corpus.dsir_log_weights(
        _t(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en", d=16
    )
)


# the dsir CTE chain, shared by the weights query's oracle and the
# composed importance-sampling oracle below (templated on nothing —
# target lang 'en', d=16, documents table)
_DSIR_CTES = (
    "e AS (SELECT doc_id, lang = 'en' AS is_t, "
    " (('0x' || substr(md5(w), 1, 15))::BIGINT % 16) AS bkt "
    " FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)), "
    "c AS (SELECT bkt, CAST(count(*) AS BIGINT) AS r_k, "
    " CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_k FROM e GROUP BY bkt), "
    "t AS (SELECT CAST(sum(r_k) AS BIGINT) AS r_tot, CAST(sum(t_k) AS BIGINT) AS t_tot FROM c), "
    "lr AS (SELECT bkt, CAST(round(ln((t_k + 1) / CAST(t_tot + 16 AS DOUBLE)) "
    " - ln((r_k + 1) / CAST(r_tot + 16 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lr FROM c, t), "
    "w AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats, "
    " round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight, "
    " round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS avg_log_ratio "
    " FROM e JOIN lr USING (bkt) GROUP BY doc_id)"
)


def _q_dsir_sample(spark, sf_dir: str):
    """DSIR end-to-end: importance weights -> importance RESAMPLING.
    Per language, keep 10 documents without replacement with inclusion
    probability proportional to exp(avg log-likelihood ratio) — the
    Efraimidis-Spirakis priority u^(1/weight) over the deterministic
    per-doc hash draw, i.e. the published DSIR recipe's selection step
    made reproducible. The weights chain reuses dsir_log_weights
    unchanged; the join back to the corpus is on doc_id (at 100 TB the
    weight table is doc-count-sized, co-partitioned by the same key)."""
    docs = _t(spark, sf_dir, "documents")
    w = corpus.dsir_log_weights(docs, target_pred=F.col("lang") == "en", d=16)
    j = docs.select("doc_id", "lang").join(w, "doc_id").withColumn(
        "samp_weight", F.exp(F.col("avg_log_ratio"))
    )
    sel = sampling.weighted_sample_per_group(
        j, group_col="lang", weight_col="samp_weight", k=10,
        key_col="doc_id", salt="dsir",
    )
    return sel.select("doc_id", "lang", "n_feats", "log_weight")


register(
    "ns_corpus_dsir_sample",
    f"WITH {_DSIR_CTES}, "
    "jw AS (SELECT d.doc_id, d.lang, w.n_feats, w.log_weight, "
    " exp(w.avg_log_ratio) AS samp_weight FROM documents d JOIN w ON d.doc_id = w.doc_id), "
    "p AS (SELECT *, pow((('0x' || substr(md5('dsir|' || doc_id), 1, 15))::BIGINT + 1) "
    " / 1152921504606846976.0, 1.0 / samp_weight) AS pri FROM jw), "
    "r AS (SELECT doc_id, lang, n_feats, log_weight, row_number() OVER "
    " (PARTITION BY lang ORDER BY pri DESC, doc_id ASC) AS rn FROM p) "
    "SELECT doc_id, lang, n_feats, log_weight FROM r WHERE rn <= 10",
    desc=(
        "DSIR importance RESAMPLING: the weights chain composed with "
        "per-language Efraimidis-Spirakis selection at probability "
        "proportional to exp(avg log-likelihood ratio) — fully "
        "deterministic, the complete published DSIR recipe end-to-end."
    ),
)(_q_dsir_sample)


register(
    "ns_corpus_dup_by_source",
    "WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents), "
    "o AS (SELECT doc_id, source, "
    " ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 15))::BIGINT AS h "
    " FROM (SELECT doc_id, source, ws, "
    "        unnest(range(1, greatest(len(ws) - 3, 1))) AS i "
    "       FROM w WHERE len(ws) >= 5)), "
    "sg AS (SELECT h, source, CAST(count(*) AS BIGINT) AS occ, "
    " CAST(count(DISTINCT doc_id) AS BIGINT) AS docs FROM o GROUP BY h, source), "
    "gs AS (SELECT h, CAST(sum(docs) AS BIGINT) AS total_docs, "
    " CAST(count(*) AS BIGINT) AS n_sources FROM sg GROUP BY h), "
    "ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_grams, "
    " CAST(sum(occ) AS BIGINT) AS n_gram_occ, "
    " CAST(coalesce(sum(CASE WHEN total_docs > 1 THEN occ END), 0) AS BIGINT) AS dup_occ, "
    " CAST(coalesce(sum(CASE WHEN n_sources > 1 THEN occ END), 0) AS BIGINT) AS cross_occ "
    " FROM sg JOIN gs USING (h) GROUP BY source), "
    "d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source) "
    "SELECT d.source AS source, n_docs, "
    " CAST(coalesce(n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams, "
    " CAST(coalesce(n_gram_occ, 0) AS BIGINT) AS n_gram_occ, "
    " round(dup_occ / CAST(n_gram_occ AS DOUBLE), 6) AS dup_gram_ratio, "
    " round(cross_occ / CAST(n_gram_occ AS DOUBLE), 6) AS cross_source_ratio "
    "FROM d LEFT JOIN ps USING (source)",
    desc=(
        "Per-source duplication audit: fraction of each source's word "
        "5-gram occurrences duplicated across documents and shared with "
        "other sources — the contamination report behind per-source mix "
        "weights; exchanges carry 60-bit gram digests, never gram text."
    ),
)(
    lambda spark, sf_dir: corpus.dup_rate_by_source(
        _t(spark, sf_dir, "documents"), n=5
    )
)


def _q_snapshot_diff(spark, sf_dir: str):
    """Corpus version diff between the documents table (v1) and a
    deterministically mutated v2 derived from it in-plan: doc_id % 17
    removed, % 13 rewritten (suffix appended), % 19 re-keyed high as
    additions. Both engines derive v2 from the same parquet view, so
    the diff itself — full-outer digest join + status classification —
    is what the hash checks."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
        )
    )
    return corpus.snapshot_diff(docs, v2)


register(
    "ns_corpus_snapshot_diff",
    "WITH v1 AS (SELECT doc_id, md5(text) AS old_md5 FROM documents), "
    "v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [v2]' "
    "  ELSE text END) AS new_md5 FROM documents WHERE doc_id % 17 <> 0 "
    " UNION ALL "
    " SELECT doc_id + 10000000, md5(text) FROM documents WHERE doc_id % 19 = 0), "
    "j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, old_md5, new_md5 "
    " FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id) "
    "SELECT doc_id, CASE WHEN old_md5 IS NULL THEN 'added' "
    " WHEN new_md5 IS NULL THEN 'removed' "
    " WHEN old_md5 <> new_md5 THEN 'changed' END AS status, old_md5, new_md5 "
    "FROM j WHERE old_md5 IS NULL OR new_md5 IS NULL OR old_md5 <> new_md5",
    desc=(
        "Corpus version diff (dataset-release changelog): added / removed / "
        "changed documents between two snapshots via a full-outer join of "
        "(id, md5) digests — the exchange carries 16-byte digests, never "
        "documents; unchanged rows never leave the join."
    ),
)(_q_snapshot_diff)


register(
    "ns_corpus_js_divergence",
    "WITH t AS (SELECT source AS g, unnest(string_split(text, ' ')) AS w "
    "           FROM documents), "
    "c AS (SELECT g, w, count(*) AS c FROM t GROUP BY 1, 2), "
    "n AS (SELECT g, sum(c) AS n FROM c GROUP BY 1), "
    "p AS (SELECT g, w, CAST(c AS DOUBLE) / n AS p FROM c JOIN n USING (g)), "
    "i AS (SELECT a.g AS source_a, b.g AS source_b, "
    "       CAST(count(*) AS BIGINT) AS n_shared_words, "
    "       sum(a.p * ln(2.0 * a.p / (a.p + b.p)) "
    "           + b.p * ln(2.0 * b.p / (a.p + b.p))) AS s, "
    "       sum(a.p) AS pin, sum(b.p) AS qin "
    "      FROM p a JOIN p b ON a.w = b.w AND a.g < b.g GROUP BY 1, 2) "
    "SELECT source_a, source_b, n_shared_words, "
    " round(0.5 * (s + (1.0 - pin) * ln(2.0) + (1.0 - qin) * ln(2.0)), 6) "
    "   AS js_divergence FROM i",
    desc=(
        "Pairwise Jensen-Shannon divergence between per-source unigram "
        "distributions — which dumps say the same things, read before "
        "mix weights; the union-of-vocab sum folds into "
        "intersection-only join terms plus closed-form one-sided mass."
    ),
)(
    lambda spark, sf_dir: corpus.js_divergence_by_group(
        _t(spark, sf_dir, "documents"), group_col="source"
    )
)


register(
    "ns_corpus_datacard",
    "WITH nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, "
    "  CAST(count(DISTINCT text) AS DOUBLE) AS ndt, "
    "  quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50, "
    "  quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90 FROM documents), "
    "tok AS (SELECT lang AS l, unnest(string_split(text, ' ')) AS w FROM documents), "
    "cnt AS (SELECT l, w, count(*) AS c FROM tok GROUP BY 1, 2), "
    "tt AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tokens, "
    "  CAST(count(DISTINCT w) AS DOUBLE) AS ndw FROM cnt), "
    "lt AS (SELECT l, sum(c) AS n FROM cnt GROUP BY 1) "
    "SELECT 'corpus' AS section, 'all' AS \"key\", 'n_docs' AS metric, n_docs AS value FROM nd "
    "UNION ALL SELECT 'corpus', 'all', 'dup_text_ratio', round(1.0 - ndt / n_docs, 6) FROM nd "
    "UNION ALL SELECT 'length', 'all', 'p50_chars', round(p50, 6) FROM nd "
    "UNION ALL SELECT 'length', 'all', 'p90_chars', round(p90, 6) FROM nd "
    "UNION ALL SELECT 'corpus', 'all', 'n_tokens', n_tokens FROM tt "
    "UNION ALL SELECT 'corpus', 'all', 'distinct_words', ndw FROM tt "
    "UNION ALL SELECT 'lang', CAST(lang AS VARCHAR), 'doc_share', "
    "  round(count(*) / (SELECT n_docs FROM nd), 6) FROM documents GROUP BY lang "
    "UNION ALL SELECT 'source', CAST(source AS VARCHAR), 'doc_share', "
    "  round(count(*) / (SELECT n_docs FROM nd), 6) FROM documents GROUP BY source "
    "UNION ALL SELECT 'lang', CAST(l AS VARCHAR), 'unigram_entropy', "
    "  round(-sum((c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))), 6) "
    "  FROM cnt JOIN lt USING (l) GROUP BY l",
    desc=(
        "One-call corpus DATACARD: long-format (section, key, metric, "
        "value) release datasheet — doc/token totals, exact dup-text "
        "ratio, exact length percentiles, per-lang/source doc shares, "
        "per-lang unigram entropy; diff two datacards and you have the "
        "release notes. Document sections are single-scan aggregates; "
        "token sections share one checkpointed (lang, word) count table."
    ),
)(
    lambda spark, sf_dir: corpus.corpus_datacard(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "ns_corpus_pack_efficiency",
    # budget=256, group_size=128 — the ns_pack_sequences knobs
    "WITH t AS (SELECT doc_id, lang, "
    "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
    "CAST(floor(doc_id / 128.0) AS BIGINT) AS grp FROM documents), "
    "c AS (SELECT *, SUM(n_tokens) OVER "
    "(PARTITION BY lang, grp ORDER BY doc_id) AS cum FROM t), "
    "s AS (SELECT lang, grp, "
    " CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS seq_id, "
    " COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens "
    " FROM c GROUP BY 1, 2, 3) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_seqs, "
    " CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens, "
    " round(SUM(n_docs) / CAST(count(*) AS DOUBLE), 6) AS mean_docs_per_seq, "
    " round(SUM(seq_tokens) / CAST(count(*) * 256 AS DOUBLE), 6) AS mean_fill, "
    " CAST(SUM(CASE WHEN seq_tokens < 256 THEN 256 - seq_tokens ELSE 0 END) "
    "   AS BIGINT) AS padding_tokens, "
    " round(SUM(CASE WHEN seq_tokens < 256 THEN 256 - seq_tokens ELSE 0 END) "
    "   / CAST(count(*) * 256 AS DOUBLE), 6) AS waste_ratio, "
    " CAST(SUM(CASE WHEN seq_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) "
    "   AS n_overfull "
    "FROM s GROUP BY lang",
    desc=(
        "Packing-efficiency audit per language: fill ratio, padding "
        "tokens a trainer would burn, waste ratio, and overfull-"
        "sequence count over the greedy pack (budget=256) — the "
        "report that tunes budget/group_size before a run is priced. "
        "pack_sequences' bounded windows plus one language-"
        "cardinality aggregate; nothing new shuffles."
    ),
)(
    lambda spark, sf_dir: corpus.pack_efficiency(
        _t(spark, sf_dir, "documents"), budget=256, group_size=128
    )
)


_UNIMAX_B = 48000


_UNIMAX_E = 2


def _unimax_oracle() -> str:
    """Delegates to the sqlgen 'unimax' renderer (the NL p102 path),
    so the operator registration and the NL clause share ONE oracle
    chain."""
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


register(
    "ns_corpus_curriculum",
    "WITH c AS (SELECT quantile_cont(n_chars, 0.25) AS q0, "
    " quantile_cont(n_chars, 0.5) AS q1, "
    " quantile_cont(n_chars, 0.75) AS q2 FROM documents), "
    "b AS (SELECT doc_id, source, n_chars, CAST(1 "
    " + CASE WHEN n_chars > q0 THEN 1 ELSE 0 END "
    " + CASE WHEN n_chars > q1 THEN 1 ELSE 0 END "
    " + CASE WHEN n_chars > q2 THEN 1 ELSE 0 END AS INTEGER) AS bucket "
    " FROM documents CROSS JOIN c) "
    "SELECT doc_id, source, n_chars, bucket, "
    "CAST(row_number() OVER (PARTITION BY bucket, source "
    " ORDER BY doc_id) AS INTEGER) AS rr FROM b",
    desc=(
        "Curriculum sort key: quartile difficulty stage by document "
        "length (broadcast exact-percentile cutoffs — no global sort) "
        "plus a per-(stage, source) round-robin index; sorting by "
        "(bucket, rr, source, doc_id) materializes the easy-first, "
        "source-interleaved training order at any scale."
    ),
)(lambda spark, sf_dir: corpus.curriculum_order(_t(spark, sf_dir, "documents")))


_EPOCH_BUDGET = 48000


register(
    "ns_corpus_epoch_audit",
    "WITH t AS (SELECT source, "
    " CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens "
    " FROM documents GROUP BY 1), "
    "k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM t), "
    f"a AS (SELECT source, n_tokens, CAST(floor({_EPOCH_BUDGET} / k) "
    " AS BIGINT) AS allocated_tokens FROM t CROSS JOIN k), "
    "e AS (SELECT *, round(CAST(allocated_tokens AS DOUBLE) / n_tokens, 6) "
    " AS epochs FROM a), "
    "f AS (SELECT *, round(n_tokens * (least(epochs, 1.0) "
    " + 4.0 * (1.0 - exp(-greatest(epochs - 1.0, 0.0) / 4.0))), 6) "
    " AS effective_tokens FROM e) "
    "SELECT source, n_tokens, allocated_tokens, epochs, effective_tokens, "
    "round(effective_tokens / allocated_tokens, 6) AS utilization FROM f",
    desc=(
        "Data-constrained scaling audit (Muennighoff et al. 2023): "
        "uniform 48k-token budget split across sources; per source the "
        "repeat-epoch count and the effective unique-token yield under "
        "the diminishing-returns law (r*=4), utilization = effective / "
        "allocated. One corpus scan; source-cardinality math."
    ),
)(
    lambda spark, sf_dir: corpus.epoch_audit(
        _t(spark, sf_dir, "documents"), budget_tokens=_EPOCH_BUDGET
    )
)


register(
    "ns_corpus_concentration",
    "WITH t AS (SELECT source, "
    " CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w "
    " FROM documents GROUP BY 1), "
    "r AS (SELECT source, w, CAST(row_number() OVER ("
    " ORDER BY w ASC, source) AS INTEGER) AS i, "
    " CAST(count(*) OVER () AS BIGINT) AS k FROM t) "
    "SELECT CAST(count(*) AS BIGINT) AS k_groups, "
    "CAST(sum(w) AS BIGINT) AS total_tokens, "
    "round(sum(CAST(w AS DOUBLE) * w) "
    " / (CAST(sum(w) AS DOUBLE) * sum(w)), 6) AS hhi, "
    "round(2.0 * CAST(sum(CAST(i AS BIGINT) * w) AS DOUBLE) "
    " / CAST(count(*) * sum(w) AS DOUBLE) "
    " - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini, "
    "round(CAST(sum(CASE WHEN i > k - 3 THEN w ELSE 0 END) AS DOUBLE) "
    " / CAST(sum(w) AS DOUBLE), 6) AS top3_share FROM r",
    desc=(
        "Source-concentration audit of the token mass: HHI (sum of "
        "squared shares), Gini (sorted-rank closed form, integer "
        "rank-weight products), and the top-3 source share in one "
        "report row — the dominance check before trusting a 'diverse "
        "mixture' claim. One corpus scan; rank math on the "
        "source-cardinality frame behind the pmod partition key."
    ),
)(
    lambda spark, sf_dir: corpus.concentration_audit(
        _t(spark, sf_dir, "documents")
    )
)


_DESCRIPTIONS.update({
    "ns_sample_stratified": "Per-stratum hash sampling at stratum-specific rates (lang-keyed), still a shuffle-free filter.",
    "ns_decontaminate": "Benchmark decontamination: broadcast the benchmark shingle set into a left-anti join — the corpus side never shuffles.",
    "ns_pack_sequences": "Greedy sequence packing into fixed token budgets, windowed per (lang, id-group) so packing parallelizes without a global scan.",
    "ns_source_filter": "Source allow/deny filtering with per-source survival counts — predicate pushed to the scan.",
    "ns_shuffle_sharded": "Deterministic corpus shuffle: salted-hash shard + in-shard sort — a reproducible global permutation without a single-node sort.",
    "ns_chunk_documents": "Sliding-window chunking (32-word windows, stride 16) as a pure narrow explode — no shuffle, tail chunks kept.",
    "ns_corpus_mix_weights": "Power-law (alpha=0.7) corpus mix weights per language from document counts — the sampling policy table.",
    "ns_corpus_length_hist": "Document length histogram in 64-char bins: one hash-aggregate over a computed bin key.",
    "ns_corpus_length_buckets": "Padding-bucket accounting: round lengths up to 128-char buckets and report wasted padding chars per bucket.",
    "ns_corpus_mix_apply": "Apply the power-law mix policy as a deterministic hash-draw sampler: per-language keep thresholds, stable membership.",
})
