"""Text analysis (operators/text.py): tokens, n-grams, language models,
tokenizers and quality heuristics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..benchqueries import _DESCRIPTIONS, _t, register
from ..operators import text
from ._shared import _EN, _SHINGLE_CTE


register(
    "ns_text_tokens",
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words, "
    r"CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens "
    "FROM documents",
)(
    lambda spark, sf_dir: text.with_token_counts(_t(spark, sf_dir, "documents"))
    .select("doc_id", F.col("n_words").cast("long").alias("n_words"),
            F.col("n_tokens").cast("long").alias("n_tokens"))
)


register(
    "ns_text_quality",
    "WITH t AS (SELECT doc_id, text, length(text) AS n_chars, "
    " string_split(text, ' ') AS ws FROM documents), "
    "m AS (SELECT doc_id, n_chars, len(ws) AS n_words, "
    f" len(list_filter(ws, w -> lower(w) IN {_EN})) AS stop_hits, "
    " len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS nonalnum FROM t) "
    "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
    " round((n_chars - (n_words - 1)) / n_words, 6) AS avg_word_len, "
    " round(stop_hits / n_words, 6) AS stopword_ratio, "
    " round(nonalnum / greatest(n_chars, 1), 6) AS nonalnum_ratio, "
    " round(least(1.0, n_words / 50.0) * 0.5 "
    "  + (1.0 - least(1.0, round(nonalnum / greatest(n_chars, 1), 6) * 10)) * 0.3 "
    "  + least(1.0, round(stop_hits / n_words, 6) * 5) * 0.2, 6) AS quality_score "
    "FROM m",
)(
    lambda spark, sf_dir: text.with_quality_score(_t(spark, sf_dir, "documents"))
    .select("doc_id", F.col("n_words").cast("long").alias("n_words"),
            "avg_word_len", "stopword_ratio", "nonalnum_ratio", "quality_score")
)


def _langid_sql() -> str:
    hits = {
        lang: f"len(list_filter(ws, w -> lower(w) IN ({', '.join(repr(s) for s in stops)})))"
        for lang, stops in text.STOPWORDS.items()
    }
    langs = sorted(text.STOPWORDS)
    best = f"greatest({', '.join(hits[lang] for lang in langs)})"
    case = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
        f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return (
        "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents) "
        f"SELECT doc_id, lang, {case} AS pred_lang FROM t"
    )


register("ns_text_langid", _langid_sql())(
    lambda spark, sf_dir: text.with_lang_id(_t(spark, sf_dir, "documents"))
    .select("doc_id", "lang", "pred_lang")
)


register(
    "ns_text_fingerprint",
    "SELECT doc_id, md5(lower(trim(text))) AS fp_md5, "
    "substring(md5(lower(trim(text))), 1, 16) AS fp_prefix FROM documents",
)(
    lambda spark, sf_dir: text.with_fingerprint(_t(spark, sf_dir, "documents"))
    .select("doc_id", "fp_md5", "fp_prefix")
)


def _hashvec_sql(d: int = 8) -> str:
    bkt = "(('0x' || substr(md5(w), 1, 15))::BIGINT % " + str(d) + ")"
    sums = ", ".join(
        f"CAST(sum(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}"
        for i in range(d)
    )
    return (
        "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
        f"b AS (SELECT doc_id, {bkt} AS bkt FROM w) "
        f"SELECT doc_id, {sums} FROM b GROUP BY doc_id"
    )


register("ns_text_hashvec", _hashvec_sql())(
    lambda spark, sf_dir: text.hashed_bow_features(_t(spark, sf_dir, "documents"), d=8)
)


register(
    "ns_text_redact",
    "SELECT doc_id, substr(md5(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'[0-9]{4,}', '<NUM>', 'g')), 1, 16) AS redacted_md5, "
    "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
    "+ len(regexp_extract_all(text, '[0-9]{4,}')) AS INTEGER) AS n_masked "
    "FROM documents",
)(
    lambda spark, sf_dir: text.redact_text(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.substring(F.md5("redacted"), 1, 16).alias("redacted_md5"),
        F.col("n_masked").cast("int").alias("n_masked"),
    )
)


register(
    "ns_text_tfidf_top",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
    "tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY 1, 2), "
    "dfreq AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "scored AS (SELECT doc_id, w, round(tf * (ln((n_docs + 1) * 1.0 / (dfreq + 1)) + 1), 6) AS tfidf "
    " FROM tf JOIN dfreq USING (w) CROSS JOIN n), "
    "r AS (SELECT doc_id, w, tfidf, row_number() OVER "
    " (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rnk FROM scored) "
    "SELECT doc_id, w AS term, tfidf, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= 3",
)(lambda spark, sf_dir: text.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3))


register(
    "ns_text_repetition",
    # intra-doc n-gram repetition over the same 60-bit gram hash the
    # Spark side aggregates, so distinctness is bit-identical
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
    "g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3 THEN "
    "list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) "
    "ELSE CAST([] AS VARCHAR[]) END) AS s FROM w) "
    "SELECT doc_id, count(*) AS n_grams, "
    "count(DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT) AS n_distinct, "
    "round(1 - count(DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT) * 1.0 / count(*), 6) "
    "AS repetition FROM g GROUP BY doc_id",
)(lambda spark, sf_dir: text.repetition_ratio(_t(spark, sf_dir, "documents")))


register(
    "ns_groupwise_scale",
    "WITH m AS (SELECT event_type, min(value) AS lo, max(value) AS hi "
    "FROM events GROUP BY 1) "
    "SELECT event_id, events.event_type, "
    "round(CASE WHEN hi > lo THEN (value - lo) / (hi - lo) ELSE 0.0 END, 6) AS scaled "
    "FROM events JOIN m ON events.event_type = m.event_type",
)(
    lambda spark, sf_dir: text.groupwise_minmax_scale(
        _t(spark, sf_dir, "events")
    )
)


register(
    "ns_text_surprisal",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
    "t AS (SELECT count(*) AS total FROM w), "
    "v AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1) "
    "SELECT doc_id, count(*) AS n_tokens, "
    "round(sum(-ln(cnt * 1.0 / total)) / count(*), 6) AS surprisal "
    "FROM w JOIN v USING (w) CROSS JOIN t GROUP BY doc_id",
)(lambda spark, sf_dir: text.unigram_surprisal(_t(spark, sf_dir, "documents")))


@register(
    "ns_text_bigram_lm",
    "WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents), "
    "g AS (SELECT unnest(list_transform(range(1, len(ws)), "
    " i -> [ws[i], ws[i+1]])) AS bg FROM w WHERE len(ws) >= 2), "
    "c AS (SELECT bg[1] AS w1, bg[2] AS w2, count(*) AS n FROM g GROUP BY 1, 2) "
    "SELECT w1, w2, n, round(n * 1.0 / sum(n) OVER (PARTITION BY w1), 6) AS p "
    "FROM c",
)
def ns_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model table: corpus-wide P(w2 | w1) as
    count(w1,w2) / count(w1-prefix). One explode + hash-aggregate over
    the corpus (map-side combine collapses to vocab^2 rows per
    partition), then a window over the tiny vocab^2 count table for
    the conditional — the big scan never sees a window function."""
    docs = _t(spark, sf_dir, "documents")
    ws = docs.select(F.split("text", " ").alias("ws")).filter(F.size("ws") >= 2)
    pairs = ws.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    )
    c = (
        pairs.select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.select(
        "w1", "w2", "n",
        F.round(F.col("n") / F.sum("n").over(Window.partitionBy("w1")), 6).alias("p"),
    )


register(
    "ns_text_boilerplate_ratio",
    f"WITH {_SHINGLE_CTE}, "
    "f AS (SELECT s, count(*) AS nd FROM e GROUP BY s) "
    "SELECT doc_id, count(*) AS n_grams, "
    "CAST(count(*) FILTER (WHERE nd >= 2) AS BIGINT) AS n_common, "
    "round(count(*) FILTER (WHERE nd >= 2) * 1.0 / count(*), 6) "
    "AS boilerplate_ratio "
    "FROM e JOIN f USING (s) GROUP BY doc_id",
    desc=(
        "Cross-document boilerplate ratio: fraction of a doc's distinct "
        "3-gram shingles occurring in >= 2 documents corpus-wide — the "
        "RefinedWeb/CCNet template-text quality signal, sibling of the "
        "intra-document repetition ratio. One DF aggregate on the 60-bit "
        "gram hash, one join back, one per-doc aggregate."
    ),
)(
    lambda spark, sf_dir: text.boilerplate_ratio(
        _t(spark, sf_dir, "documents"), min_docs=2
    )
)


register(
    "ns_text_token_pmi",
    # rank on the RAW likelihood ratio (IEEE-exact identical doubles in
    # both engines); ln only on the reported, 6-decimal-rounded pmi
    "WITH w AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS word "
    " FROM documents), "
    "cw AS (SELECT word, count(*) AS c_w FROM w GROUP BY word), "
    "cl AS (SELECT label, count(*) AS c_l FROM w GROUP BY label), "
    "cwl AS (SELECT label, word, count(*) AS c_wl FROM w GROUP BY label, word), "
    "t AS (SELECT count(*) AS n_total FROM w), "
    "s AS (SELECT label, word, c_wl, "
    " (c_wl * 1.0 * n_total) / (c_w * c_l) AS score "
    " FROM cwl JOIN cw USING (word) JOIN cl USING (label) CROSS JOIN t "
    " WHERE c_wl >= 5), "
    "r AS (SELECT label, word, c_wl, score, row_number() OVER "
    " (PARTITION BY label ORDER BY score DESC, word ASC) AS rn FROM s) "
    "SELECT label, word, c_wl, round(ln(score), 6) AS pmi, CAST(rn AS BIGINT) AS rn "
    "FROM r WHERE rn <= 10",
    desc=(
        "Token-label pointwise mutual information: top-10 tokens most "
        "characteristic of each language by PMI with a min-count floor "
        "— the classic feature-selection / corpus-analysis measure. "
        "Three map-side-combined aggregates + broadcast 1-row total; "
        "ranking key is the raw likelihood ratio so cross-engine order "
        "is bit-identical, ln only decorates the report."
    ),
)(
    lambda spark, sf_dir: text.token_label_pmi(
        _t(spark, sf_dir, "documents"), label_col="lang", k=10, min_count=5
    ).withColumn("rn", F.col("rn").cast("long"))
)


_BM25_TERMS = ("vector", "stream", "window", "group")


_BM25_SQL = (
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
    "dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), "
    "tf AS (SELECT doc_id, w, count(*) AS tf FROM w WHERE w IN ('vector', 'stream', 'window', 'group') GROUP BY 1, 2), "
    "dfreq AS (SELECT w, count(*) AS dfq FROM tf GROUP BY 1), "
    "s AS (SELECT doc_id, "
    " ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5)) * "
    " ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s "
    " FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad) "
    "SELECT doc_id, round(sum(s), 6) AS bm25 FROM s GROUP BY 1 "
    "ORDER BY bm25 DESC, doc_id LIMIT 20"
)


@register("ns_text_bm25", _BM25_SQL)
def ns_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval over the documents table for a 4-term
    query (operators/text.bm25_topk) — the lexical-search sibling of
    the ANN family: one token explode, query-term filter BEFORE the tf
    shuffle, broadcast df/N/avgdl frames, TakeOrderedAndProject top-k.
    Oracle renders the identical IEEE expression shapes; the per-doc
    sum (the only order-sensitive float op) is rounded to 6 places and
    the k boundary tie-breaks on doc_id."""
    return text.bm25_topk(_t(spark, sf_dir, "documents"),
                           list(_BM25_TERMS), k=20)


_ZIPF_SQL = (
    "WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents), "
    "tf AS (SELECT lang, w, count(*) AS c FROM toks GROUP BY 1, 2), "
    "xy AS (SELECT lang, "
    " CAST(round(ln(CAST(row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x, "
    " CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y FROM tf), "
    "m AS (SELECT lang, count(*) AS n_types, "
    " CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, "
    " CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * y) AS DOUBLE) AS sxy, "
    " CAST(sum(y * y) AS DOUBLE) AS syy FROM xy GROUP BY 1) "
    "SELECT lang, n_types, "
    "round(CASE WHEN n_types >= 2 AND (n_types * sxx - sx * sx) != 0 THEN "
    " (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) END, 6) AS zipf_slope, "
    "round(CASE WHEN n_types >= 2 AND (n_types * sxx - sx * sx) != 0 "
    " AND (n_types * syy - sy * sy) != 0 THEN "
    " ((n_types * sxy - sx * sy) * (n_types * sxy - sx * sy)) / "
    " ((n_types * sxx - sx * sx) * (n_types * syy - sy * sy)) END, 6) AS r2 "
    "FROM m"
)


@register("ns_text_zipf_fit", _ZIPF_SQL)
def ns_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf exponent (operators/text.zipf_fit): OLS of
    ln(freq) on ln(rank) with r^2 — natural text slopes near -1,
    templated/synthetic corpora flatten or cliff. Regressors round to
    6 then sum as DECIMAL (exact moments), slope in fixed-shape double
    math. One explode, one per-group rank window, one aggregate."""
    return text.zipf_fit(_t(spark, sf_dir, "documents"))


def _bpe_sql(n_merges: int = 3) -> str:
    # unrolled-iteration oracle (same pattern as the PageRank and
    # Lloyd CTE chains): each round picks the argmax pair by scalar
    # subquery and fuses it with the identical doubled-boundary
    # replace algebra the engine uses
    ctes = [
        "bw AS (SELECT w, count(*) AS wc FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) "
        "WHERE len(w) > 0 GROUP BY w)",
        "s0 AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, wc FROM bw)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"p{r} AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM ("
            "SELECT unnest(list_transform(range(1, len(ws)), "
            "i -> ws[i] || ' ' || ws[i+1])) AS pair, wc "
            f"FROM (SELECT string_split(s, ' ') AS ws, wc FROM {prev})) "
            "GROUP BY pair)"
        )
        ctes.append(
            f"b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"s{r} AS (SELECT trim(replace(replace("
            "' ' || replace(s, ' ', '  ') || ' ', "
            f"' ' || (SELECT replace(pair, ' ', '  ') FROM b{r}) || ' ', "
            f"' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' '"
            f"), '  ', ' ')) AS s, wc FROM {prev})"
        )
    unions = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, pair, replace(pair, ' ', '') AS merged, "
        f"n AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {', '.join(ctes)} {unions}"


@register("ns_text_bpe_merges", _bpe_sql(3))
def ns_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first 3 merges
    (operators/text.bpe_merge_table; Sennrich et al. 2016): the corpus
    collapses to its word-frequency table in one aggregate, then each
    round explodes adjacent symbol pairs, aggregates counts, and fuses
    the argmax pair everywhere via boundary-doubled string replace —
    greedy non-overlapping semantics identical across engines, ties on
    the pair string. The per-round driver state is ONE row (the chosen
    merge), the Lloyd-trainer shape; everything corpus-sized stays in
    the plan."""
    return text.bpe_merge_table(_t(spark, sf_dir, "documents"), n_merges=3)


register(
    "ns_text_perplexity_buckets",
    "WITH b AS (SELECT doc_id, lang, source, unnest(string_split(text, ' ')) AS w "
    " FROM documents), "
    "ref AS (SELECT w FROM b WHERE source = 'src0'), "
    "t AS (SELECT CAST(count(*) AS DOUBLE) AS _n, "
    " CAST(count(DISTINCT w) AS DOUBLE) AS _v FROM ref), "
    "vocab AS (SELECT w, count(*) AS _cnt FROM ref GROUP BY w), "
    "sc AS (SELECT doc_id, lang, -ln((coalesce(_cnt, 0) + 1) / (_n + _v)) AS nll "
    " FROM b LEFT JOIN vocab USING (w) CROSS JOIN t), "
    "pd AS (SELECT doc_id, lang, count(*) AS n_tokens, "
    " round(sum(nll) / count(*), 6) AS xent FROM sc GROUP BY 1, 2), "
    f"cuts AS (SELECT lang, quantile_cont(xent, {1.0 / 3.0!r}) AS q33, "
    f" quantile_cont(xent, {2.0 / 3.0!r}) AS q67 FROM pd GROUP BY lang) "
    "SELECT doc_id, lang, n_tokens, xent, "
    "CASE WHEN xent <= q33 THEN 'head' WHEN xent <= q67 THEN 'middle' "
    "ELSE 'tail' END AS ppl_bucket FROM pd JOIN cuts USING (lang)",
    desc=(
        "CCNet-style perplexity bucketing (arXiv:1911.00359): cross-entropy "
        "under an add-one unigram LM trained on the src0 reference slice, "
        "head/middle/tail tertiles per language via broadcast percentile "
        "cutoffs — no language-sized window sort."
    ),
)(
    lambda spark, sf_dir: text.perplexity_buckets(
        _t(spark, sf_dir, "documents"), ref_source="src0"
    )
)


def _bpe_encode_sql(n_merges: int = 3) -> str:
    # train CTEs identical to _bpe_sql, but the symbol chain
    # keeps the word so the final fused form encodes the vocabulary;
    # per-doc counts join exploded words to the encoded vocab
    ctes = [
        "bw AS (SELECT w, count(*) AS wc FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) "
        "WHERE len(w) > 0 GROUP BY w)",
        "s0 AS (SELECT w, array_to_string(string_split(w, ''), ' ') AS s, wc FROM bw)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"p{r} AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM ("
            "SELECT unnest(list_transform(range(1, len(ws)), "
            "i -> ws[i] || ' ' || ws[i+1])) AS pair, wc "
            f"FROM (SELECT string_split(s, ' ') AS ws, wc FROM {prev})) "
            "GROUP BY pair)"
        )
        ctes.append(
            f"b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1)"
        )
        ctes.append(
            f"s{r} AS (SELECT w, trim(replace(replace("
            "' ' || replace(s, ' ', '  ') || ' ', "
            f"' ' || (SELECT replace(pair, ' ', '  ') FROM b{r}) || ' ', "
            f"' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' '"
            f"), '  ', ' ')) AS s, wc FROM {prev})"
        )
    ctes.append(
        f"enc AS (SELECT w, len(string_split(s, ' ')) AS n_tok FROM s{n_merges})"
    )
    ctes.append(
        "dw AS (SELECT doc_id, w FROM (SELECT doc_id, "
        "unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0)"
    )
    return (
        f"WITH {', '.join(ctes)} "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens "
        "FROM dw JOIN enc USING (w) GROUP BY doc_id"
    )


register(
    "ns_text_bpe_encode",
    _bpe_encode_sql(3),
    desc=(
        "BPE encode (text.bpe_encode_token_counts): apply the 3 trained "
        "merges to the distinct vocabulary via the same boundary-doubled "
        "replace algebra, then count tokenizer tokens per document — the "
        "serving half of the BPE trainer; encode work is vocab-sized, "
        "per-doc counts via one broadcast word join."
    ),
)(
    lambda spark, sf_dir: text.bpe_encode_token_counts(
        _t(spark, sf_dir, "documents"), n_merges=3
    )
)


_GOPHER_STOPLIST = "['the','be','to','of','and','that','have','with']"


register(
    "ns_quality_gopher",
    "WITH s AS (SELECT doc_id, text, lang, source, n_chars, "
    " string_split(text, ' ') AS ws, string_split(text, chr(10)) AS ls FROM documents), "
    "sig AS (SELECT doc_id, text, lang, source, n_chars, "
    " CAST(len(ws) AS BIGINT) AS n_words, len(ls) AS nl, "
    " round((length(text) - (len(ws) - 1)) / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len, "
    " (length(text) - length(replace(text, '#', ''))) "
    "   + (length(text) - length(replace(text, '...', ''))) / CAST(3 AS DOUBLE) AS nsym, "
    " len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %')) AS nbul, "
    " len(list_filter(ls, l -> l LIKE '%...')) AS nell, "
    " len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS nalpha, "
    " CAST(len(list_distinct(list_filter(ws, w -> list_contains("
    + _GOPHER_STOPLIST + ", lower(w))))) AS BIGINT) AS n_req_stopwords FROM s), "
    "r AS (SELECT doc_id, text, lang, source, n_chars, n_words, mean_word_len, "
    " n_req_stopwords, "
    " round(nsym / n_words, 6) AS symbol_ratio, "
    " round(nbul / CAST(nl AS DOUBLE), 6) AS bullet_ratio, "
    " round(nell / CAST(nl AS DOUBLE), 6) AS ellipsis_ratio, "
    " round(nalpha / CAST(n_words AS DOUBLE), 6) AS alpha_ratio FROM sig) "
    "SELECT *, "
    " n_words BETWEEN 50 AND 100000 AS r_word_count, "
    " mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len, "
    " symbol_ratio <= 0.1 AS r_symbols, bullet_ratio <= 0.9 AS r_bullets, "
    " ellipsis_ratio <= 0.3 AS r_ellipsis, alpha_ratio >= 0.8 AS r_alpha, "
    " n_req_stopwords >= 2 AS r_stopwords, "
    " (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0) "
    " AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 "
    " AND alpha_ratio >= 0.8 AND n_req_stopwords >= 2 AS passes_gopher "
    "FROM r",
    desc=(
        "Gopher quality-rule battery (Rae et al. 2021 table A1): word-count "
        "bounds, mean-word-length band, symbol/bullet/ellipsis ratios, "
        "alphabetic-word fraction, two-distinct-required-stopwords — one "
        "shuffle-free codegen'd projection per document."
    ),
)(
    lambda spark, sf_dir: text.gopher_rules(
        _t(spark, sf_dir, "documents")
    ).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        F.col("n_req_stopwords").cast("long").alias("n_req_stopwords"),
        "symbol_ratio", "bullet_ratio", "ellipsis_ratio", "alpha_ratio",
        "r_word_count", "r_word_len", "r_symbols", "r_bullets",
        "r_ellipsis", "r_alpha", "r_stopwords", "passes_gopher",
    )
)


register(
    "ns_text_token_fertility",
    "WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n_words, "
    r" len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_tokens, "
    " length(text) AS n_chars FROM documents) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    " CAST(sum(n_words) AS BIGINT) AS total_words, "
    " CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    " round(sum(n_tokens) / CAST(sum(n_words) AS DOUBLE), 6) AS tokens_per_word, "
    " round(sum(n_chars) / CAST(sum(n_tokens) AS DOUBLE), 6) AS chars_per_token "
    "FROM t GROUP BY lang",
    desc=(
        "Tokenizer fertility per language: tokens-per-word and "
        "chars-per-token from exact integer sums (one scan, one division "
        "per group) — the over-fragmentation audit run before committing a "
        "corpus to a tokenizer."
    ),
)(
    lambda spark, sf_dir: text.token_fertility_by_lang(_t(spark, sf_dir, "documents"))
)


def _gopher_rep_sql() -> str:
    GB = text.GOPHER_REP_BOUNDS
    rules = {
        "r_dup_lines": f"dup_line_frac <= {GB['max_dup_line_frac']}",
        "r_dup_line_chars": f"dup_line_char_frac <= {GB['max_dup_line_char_frac']}",
        "r_top_2gram": f"top2gram_char_frac <= {GB['max_top2gram_char_frac']}",
        "r_dup_5gram": f"dup5gram_char_frac <= {GB['max_dup5gram_char_frac']}",
    }
    rule_cols = ", ".join(f"({e}) AS {n}" for n, e in rules.items())
    passes = " AND ".join(f"({e})" for e in rules.values())
    return (
        "WITH l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM documents), "
        "pl AS (SELECT doc_id, ln, count(*) AS cnt FROM l GROUP BY 1, 2), "
        "ls AS (SELECT doc_id, "
        " round(sum(cnt - 1) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_line_frac, "
        " round(sum((cnt - 1) * length(ln)) "
        "  / CAST(greatest(sum(cnt * length(ln)), 1) AS DOUBLE), 6) AS dup_line_char_frac "
        " FROM pl GROUP BY 1), "
        "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), "
        " i -> ws[i] || ' ' || ws[i+1])) AS s FROM w WHERE len(ws) >= 2), "
        "p2 AS (SELECT doc_id, s, count(*) AS cnt FROM g2 GROUP BY 1, 2), "
        "t2 AS (SELECT doc_id, CASE WHEN cnt > 1 THEN cnt * length(s) ELSE 0 END AS t2c, "
        " row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, s) AS rn FROM p2), "
        "g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 3), "
        " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS s "
        " FROM w WHERE len(ws) >= 5), "
        "p5 AS (SELECT doc_id, s, count(*) AS cnt FROM g5 GROUP BY 1, 2), "
        "d5 AS (SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * length(s) ELSE 0 END) AS d5c "
        " FROM p5 GROUP BY 1), "
        "o AS (SELECT b.doc_id, length(b.text) AS n_chars, "
        " ls.dup_line_frac, ls.dup_line_char_frac, "
        " round(coalesce(t2.t2c, 0) / CAST(length(b.text) AS DOUBLE), 6) AS top2gram_char_frac, "
        " round(coalesce(d5.d5c, 0) / CAST(length(b.text) AS DOUBLE), 6) AS dup5gram_char_frac "
        " FROM documents b JOIN ls USING (doc_id) "
        " LEFT JOIN (SELECT doc_id, t2c FROM t2 WHERE rn = 1) t2 USING (doc_id) "
        " LEFT JOIN d5 USING (doc_id)) "
        f"SELECT *, {rule_cols}, ({passes}) AS passes_gopher_rep FROM o"
    )


register(
    "ns_quality_gopher_rep",
    _gopher_rep_sql(),
    desc=(
        "Gopher repetition rules (Rae et al. 2021 table A1, second half): "
        "duplicate-line fraction by count and character mass, the "
        "character fraction of the most frequent word 2-gram, and the "
        "character fraction inside duplicated 5-grams — three map-side-"
        "combined explodes joined back on the doc key; thresholds shared "
        "with the oracle via text.GOPHER_REP_BOUNDS."
    ),
)(
    lambda spark, sf_dir: text.gopher_repetition(
        _t(spark, sf_dir, "documents")
    )
)


_HEAPS_CUTS = [125_000, 250_000, 500_000, 1_000_000]


def _heaps_sql() -> str:
    dr = "(('0x' || substr(md5('heaps|' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000)"
    one_cols = ", ".join(
        f"CAST(count(CASE WHEN dr < {c} THEN 1 END) AS BIGINT) AS tok{i}, "
        f"CAST(count(DISTINCT CASE WHEN dr < {c} THEN w END) AS BIGINT) AS typ{i}"
        for i, c in enumerate(_HEAPS_CUTS)
    )
    pts = " UNION ALL ".join(
        f"SELECT CAST({c} AS BIGINT) AS draw_cut, tok{i} AS n_tokens, typ{i} AS n_types FROM one"
        for i, c in enumerate(_HEAPS_CUTS)
    )
    x = "CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6))"
    y = "CAST(round(ln(CAST(n_types AS DOUBLE)), 6) AS DECIMAL(18,6))"
    return (
        f"WITH e AS (SELECT {dr} AS dr, unnest(string_split(text, ' ')) AS w FROM documents), "
        f"one AS (SELECT {one_cols} FROM e), "
        f"pts AS ({pts}), "
        f"xy AS (SELECT {x} AS x, {y} AS y FROM pts), "
        "m AS (SELECT count(*) AS np, CAST(sum(x) AS DOUBLE) AS sx, "
        " CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(x * x) AS DOUBLE) AS sxx, "
        " CAST(sum(x * y) AS DOUBLE) AS sxy FROM xy), "
        "b AS (SELECT round(CASE WHEN np * sxx - sx * sx <> 0 "
        " THEN (np * sxy - sx * sy) / (np * sxx - sx * sx) END, 6) + 0.0 AS heaps_beta FROM m) "
        "SELECT draw_cut, n_tokens, n_types, heaps_beta FROM pts, b"
    )


register(
    "ns_text_heaps_fit",
    _heaps_sql(),
    desc=(
        "Heaps'-law vocabulary-growth fit over four nested deterministic "
        "hash subsamples (1/8 .. all): single-scan multi-count-distinct "
        "aggregate, OLS slope of ln(types) on ln(tokens) — the lexical-"
        "diversity diagnostic beside the Zipf fit."
    ),
)(
    lambda spark, sf_dir: text.heaps_fit(_t(spark, sf_dir, "documents"))
)


register(
    "ns_text_word_entropy",
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    " FROM documents), "
    "wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt "
    " FROM w GROUP BY 1, 2), "
    "pd AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words, "
    " CAST(count(*) AS BIGINT) AS n_distinct, "
    " SUM(CAST(round(cnt * log2(cnt), 8) AS DECIMAL(18,8))) AS s "
    " FROM wc GROUP BY 1) "
    "SELECT doc_id, n_words, n_distinct, "
    " round(log2(n_words) - CAST(s AS DOUBLE) / n_words, 6) AS entropy, "
    " CASE WHEN n_distinct <= 1 THEN 0.0 ELSE "
    "  round(round(log2(n_words) - CAST(s AS DOUBLE) / n_words, 6) "
    "        / log2(n_distinct), 6) END AS evenness "
    "FROM pd",
    desc=(
        "Per-document word-distribution Shannon entropy + evenness "
        "(entropy / log2(n_distinct)): the model-free repetition/"
        "gibberish screen — near-zero entropy is a few words "
        "repeated. cnt*log2(cnt) terms pinned DECIMAL(18,8) so the "
        "per-doc sum is exact; one explode, two map-side-combinable "
        "aggregates, no joins."
    ),
)(
    lambda spark, sf_dir: text.word_entropy(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "ns_text_distinct_n",
    "WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents), "
    "u AS (SELECT source, 1 AS n, unnest(ws) AS g FROM w "
    " UNION ALL "
    " SELECT source, 2 AS n, array_to_string(ws[i:i+1], ' ') AS g "
    " FROM (SELECT source, ws, unnest(range(1, greatest(len(ws), 1))) AS i "
    "       FROM w WHERE len(ws) >= 2) "
    " UNION ALL "
    " SELECT source, 3 AS n, array_to_string(ws[i:i+2], ' ') AS g "
    " FROM (SELECT source, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i "
    "       FROM w WHERE len(ws) >= 3)) "
    "SELECT source, CAST(n AS INTEGER) AS n, "
    " CAST(count(*) AS BIGINT) AS n_total, "
    " CAST(count(DISTINCT g) AS BIGINT) AS n_distinct, "
    " round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 6) "
    "   AS distinct_ratio "
    "FROM u GROUP BY 1, 2",
    desc=(
        "Distinct-n corpus diversity per source (n=1,2,3): distinct "
        "over total word n-grams — the template-collapse signal exact "
        "dedup misses. ONE scan: shifted-slice zip_with builds every "
        "n's grams per row, struct-tagged and exploded once into a "
        "single (source, n) exact count-distinct aggregate."
    ),
)(
    lambda spark, sf_dir: text.distinct_ngram_stats(
        _t(spark, sf_dir, "documents")
    )
)


register(
    "ns_text_oov_rate",
    # v=100 vocabulary, ties by word order
    "WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tw "
    " FROM documents), "
    "voc AS (SELECT tw FROM (SELECT tw, count(*) AS c FROM tok GROUP BY 1) "
    " ORDER BY c DESC, tw LIMIT 100) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, "
    " CAST(SUM(CASE WHEN tw IN (SELECT tw FROM voc) THEN 0 ELSE 1 END) "
    "   AS BIGINT) AS n_oov, "
    " round(SUM(CASE WHEN tw IN (SELECT tw FROM voc) THEN 0 ELSE 1 END) "
    "   / CAST(count(*) AS DOUBLE), 6) AS oov_rate "
    "FROM tok GROUP BY source",
    desc=(
        "Tokenizer-coverage audit: per source, tokens outside the "
        "deterministic top-100 corpus vocabulary and the OOV rate — "
        "the starved-slice signal where fertility explodes. One "
        "explode feeds both the TakeOrdered vocab (never a global "
        "window) and the per-source counts; the 100-row vocabulary "
        "broadcasts into the membership join."
    ),
)(
    lambda spark, sf_dir: text.oov_rate_by_group(
        _t(spark, sf_dir, "documents"), v=100
    )
)


def _sweep_sql(n_bins: int = 10) -> str:
    """Threshold-sweep oracle: the ns_text_quality score formula term
    for term, then one 3*n_bins-column conditional aggregate and a
    UNION ALL arm per threshold (the SQL twin of Spark's stack)."""
    heads = ", ".join(
        f"SUM(CASE WHEN q >= CAST({i / n_bins!r} AS DOUBLE) THEN 1 ELSE 0 END) AS d{i}, "
        f"COALESCE(SUM(CASE WHEN q >= CAST({i / n_bins!r} AS DOUBLE) THEN n_words END), 0) AS w{i}, "
        f"COALESCE(SUM(CASE WHEN q >= CAST({i / n_bins!r} AS DOUBLE) "
        f" THEN CAST(q AS DECIMAL(8,6)) END), 0) AS q{i}"
        for i in range(n_bins)
    )
    arms = " UNION ALL ".join(
        f"SELECT CAST({i / n_bins!r} AS DOUBLE) AS threshold, "
        f"CAST(d{i} AS BIGINT) AS n_docs_kept, "
        f"CAST(w{i} AS BIGINT) AS n_words_kept, "
        f"CASE WHEN d{i} > 0 THEN round(CAST(q{i} AS DOUBLE) / d{i}, 6) "
        f" ELSE 0.0 END AS mean_quality_kept, "
        f"CASE WHEN d0 > 0 THEN round(d{i} / CAST(d0 AS DOUBLE), 6) "
        f" ELSE 0.0 END AS share_docs_kept FROM a"
        for i in range(n_bins)
    )
    return (
        "WITH t AS (SELECT text, length(text) AS n_chars, "
        " string_split(text, ' ') AS ws FROM documents), "
        "m AS (SELECT n_chars, len(ws) AS n_words, "
        " len(list_filter(ws, w -> lower(w) IN ('the','a','of','and','to'))) "
        "  AS stop_hits, "
        " len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS nonalnum FROM t), "
        "s AS (SELECT CAST(n_words AS BIGINT) AS n_words, "
        " round(least(1.0, n_words / 50.0) * 0.5 "
        "  + (1.0 - least(1.0, round(nonalnum / greatest(n_chars, 1), 6) * 10)) * 0.3 "
        "  + least(1.0, round(stop_hits / n_words, 6) * 5) * 0.2, 6) AS q "
        " FROM m), "
        f"a AS (SELECT {heads} FROM s) {arms}"
    )


register(
    "ns_quality_threshold_sweep",
    _sweep_sql(10),
    desc=(
        "Quality-threshold tradeoff curve: for each cutoff t in "
        "{0,.1,...,.9}, the documents/words surviving quality_score "
        ">= t and the surviving mean quality — the table that PICKS "
        "the filter cutoff instead of guessing it. All thresholds "
        "compile into ONE conditional aggregate (one scan, one 1-row "
        "exchange, no window), report rows exploded with stack; "
        "counts integer, quality sums DECIMAL(8,6)-pinned."
    ),
)(
    lambda spark, sf_dir: text.quality_threshold_sweep(
        _t(spark, sf_dir, "documents"), n_bins=10
    )
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


register(
    "ns_text_novelty",
    f"WITH {_SHINGLE_CTE}, "
    "f AS (SELECT s, min(doc_id) AS first FROM e GROUP BY s) "
    "SELECT doc_id, count(*) AS n_grams, "
    "CAST(count(*) FILTER (WHERE first = doc_id) AS BIGINT) AS n_novel, "
    "round(count(*) FILTER (WHERE first = doc_id) * 1.0 / count(*), 6) "
    "AS novelty FROM e JOIN f USING (s) GROUP BY doc_id",
    desc=(
        "Per-document 3-gram novelty under ascending-id ingest order: "
        "fraction of a doc's distinct shingles first seen in THIS doc "
        "— the marginal-contribution curve that shows how fast a crawl "
        "stops adding new phrasing (complement of boilerplate_ratio). "
        "One min-id aggregate on the 60-bit gram hash, one join back."
    ),
)(lambda spark, sf_dir: text.ngram_novelty(_t(spark, sf_dir, "documents")))


register(
    "ns_text_hapax",
    "WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w "
    " FROM documents), "
    "v AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c "
    " FROM w GROUP BY 1, 2) "
    "SELECT source, CAST(count(*) AS BIGINT) AS vocab_size, "
    "CAST(sum(c) AS BIGINT) AS n_tokens, "
    "CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax, "
    "round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6) "
    "AS hapax_ratio FROM v GROUP BY 1",
    desc=(
        "Per-source hapax legomena ratio: fraction of the source's "
        "vocabulary occurring exactly once — the lexical-richness / "
        "generated-content tell next to Heaps and word entropy. One "
        "token explode, one (source, word) aggregate, one rollup."
    ),
)(lambda spark, sf_dir: text.hapax_ratio(_t(spark, sf_dir, "documents")))


_DESCRIPTIONS.update({
    "ns_text_tokens": "Whitespace + BPE-ish regex token counts per document — pure JVM regex/array expressions.",
    "ns_text_quality": "Quality scoring: length, punctuation ratio, stopword ratio, mean word length per document in one projection.",
    "ns_text_langid": "N-gram-heuristic language ID: stopword-marker hit counts per language, argmax with deterministic tie-break.",
    "ns_text_fingerprint": "64-bit rolling-hash document fingerprint over normalized words (order-sensitive, unlike a bag-of-words hash).",
    "ns_text_hashvec": "8-bucket hashed bag-of-words features per document (feature-hashing trick) as one aggregation.",
    "ns_text_redact": "PII-style redaction: regex-mask emails and long digit runs, reporting a masked-span count per document.",
    "ns_text_tfidf_top": "Top-3 TF-IDF terms per document: term/document frequencies as two hash-aggregates, smoothed idf, per-doc window rank.",
    "ns_text_repetition": "Intra-document 3-gram repetition ratio (1 - distinct/total grams) over a 60-bit gram hash.",
    "ns_groupwise_scale": "Grouped min-max scaling of event values per event_type via applyInPandas (grouped-map Arrow path).",
    "ns_text_surprisal": "Unigram-surprisal quality score (mean -log2 corpus frequency per word) — a perplexity proxy from two aggregates.",
})
