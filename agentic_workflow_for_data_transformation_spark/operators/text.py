"""Text analysis for LLM data pipelines (SURVEY.md section 2.9):
token counting, quality scoring, language ID, fingerprinting — all
built from JVM-side string/regex functions so a 100 TB corpus is
processed inside whole-stage codegen with no Python per row.

Each operator uses only engine-portable primitives (length, regex
extraction, md5) and deterministic arithmetic, so every derived column
has an exact ANSI-SQL oracle.
"""

from __future__ import annotations

import string

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_index, spread_small_input
from .sampling import DRAW_BUCKETS, _hash60, hash_draw

# the [A-Za-z0-9 ] class as a translate() deletion table — see
# with_quality_score for why this replaces the regex scan
_ALNUM_SPACE = (
    string.ascii_uppercase + string.ascii_lowercase + string.digits + " "
)

# minimal stopword sets per language for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

TOKEN_REGEX = r"[a-z0-9]+|[^a-z0-9\s]"  # BPE-ish: runs of alnum or single symbol


def _word_array(text_col: str) -> F.Column:
    return F.split(F.col(text_col), " ")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace word count + regex token count (a cheap stand-in for
    BPE tokenization: alphanumeric runs and individual symbols)."""
    ws = _word_array(text_col)
    return df.withColumn("n_words", F.size(ws)).withColumn(
        "n_tokens",
        F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristics: length, mean word length,
    stopword ratio, non-alphanumeric ratio, and a composite score in
    [0, 1]. The formula is arbitrary but fixed — what matters for the
    pipeline is that it's cheap, monotone in the signals a filter would
    use, and computed identically everywhere."""
    ws = _word_array(text_col)
    n_chars = F.length(F.col(text_col))
    n_words = F.size(ws)
    avg_word_len = F.round((n_chars - (n_words - 1)) / n_words, 6)
    stop_hits = F.size(
        F.filter(ws, lambda w: F.lower(w).isin(*STOPWORDS["en"]))
    )
    stop_ratio = F.round(stop_hits / n_words, 6)
    # char-table deletion instead of a regex scan: translate() drops
    # every alphanumeric/space char, and the residue's length IS the
    # non-alnum count. Java regex was 94% of this whole query's cost
    # (5.7 s of 6.3 s noop at sf3); translate is 0.35 s — 16x — with
    # bit-identical counts (regex parity asserted on the test corpus;
    # equivalence is per UTF-16 unit, so astral-plane chars count as
    # 2 here vs 1 per code point in a regex count)
    nonalnum = F.length(F.translate(F.col(text_col), _ALNUM_SPACE, ""))
    nonalnum_ratio = F.round(nonalnum / F.greatest(n_chars, F.lit(1)), 6)
    # materialize the signal columns FIRST, then derive the composite
    # from column references: inlining the array-scan expressions again
    # inside the score doubles the generated per-row work (same
    # two-step discipline as similarity.quantize_int8)
    base = (
        df.withColumn("n_words", n_words)
        .withColumn("avg_word_len", avg_word_len)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("nonalnum_ratio", nonalnum_ratio)
    )
    score = F.round(
        F.least(F.lit(1.0), F.col("n_words") / F.lit(50.0)) * 0.5
        + (F.lit(1.0) - F.least(F.lit(1.0), F.col("nonalnum_ratio") * 10)) * 0.3
        + F.least(F.lit(1.0), F.col("stopword_ratio") * 5) * 0.2,
        6,
    )
    return base.withColumn("quality_score", score)


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: count stopword hits per language over
    the word array, predict the argmax (ties break by language code
    order), 'und' (undetermined) when no list scores > 0."""
    langs = sorted(STOPWORDS)  # deterministic tie order
    # Three projections, each materializing what the next one reuses:
    # (1) lowercase the word array once, (2) one stopword-scan per
    # language, (3) argmax over plain column refs. Inlining instead
    # duplicates every array scan in greatest() AND the when-chain
    # (~3x the generated code), which both slows each row and bloats
    # the codegen class — measured 2x faster in this form.
    lowered = df.withColumn(
        "_wl", F.transform(_word_array(text_col), lambda w: F.lower(w))
    )
    scored = lowered
    for lang in langs:
        stops = STOPWORDS[lang]
        # a plain 1-arg lambda: a default-arg binding would change the
        # higher-order-function arity pyspark infers
        scored = scored.withColumn(
            f"_hits_{lang}",
            F.size(F.filter(F.col("_wl"), lambda w: w.isin(*stops))),  # noqa: B023
        )
    hit_cols = {lang: F.col(f"_hits_{lang}") for lang in langs}
    best = F.greatest(*[hit_cols[lang] for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(hit_cols[lang] == best, F.lit(lang))
    return scored.withColumn("pred_lang", pred).drop(
        "_wl", *[f"_hits_{lang}" for lang in langs]
    )


def hashed_bow_features(df: DataFrame, d: int = 8, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Feature hashing (hashing-trick bag of words): every word counts
    into one of ``d`` buckets by portable 60-bit hash; output is one
    integer column per bucket (f0..f{d-1}). This is the deterministic
    text->vector bridge into the similarity stack — no vocabulary
    build, no second pass, fixed width at any corpus size. One explode
    + one aggregate; map-side partial aggregation collapses each
    partition to d longs per doc before the shuffle."""

    e = (
        spread_small_input(df)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .withColumn("bkt", _hash60(F.col("w")) % d)
    )
    sums = [
        F.sum(F.when(F.col("bkt") == i, 1).otherwise(0)).alias(f"f{i}")
        for i in range(d)
    ]
    return e.groupBy(id_col).agg(*sums)


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: full-content md5 of the normalized text,
    plus a 64-bit-style prefix for compact storage/joins. Rolling-hash
    winnowing reduces to min-over-shingle-hashes — that variant lives
    in dedup.minhash_signatures."""
    norm = F.lower(F.trim(F.col(text_col)))
    return df.withColumn("fp_md5", F.md5(norm)).withColumn(
        "fp_prefix", F.substring(F.md5(norm), 1, 16)
    )


# RE2-safe patterns (work identically under Java regex and DuckDB RE2)
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUM_REGEX = r"[0-9]{4,}"


def redact_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-style redaction for training corpora: mask emails and long
    digit runs with typed placeholders, entirely in JVM regex — the
    shape of every scrub/normalize pass a 100 TB pipeline runs before
    tokenization (no Python per row, fully codegen'd).

    Emits the redacted text plus ``n_masked`` (total matches of either
    pattern against the ORIGINAL text, so the count is
    replacement-order independent and portable)."""
    email_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(EMAIL_REGEX), 0))
    num_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(LONG_NUM_REGEX), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col(text_col), EMAIL_REGEX, "<EMAIL>"),
        LONG_NUM_REGEX,
        "<NUM>",
    )
    return df.withColumn("redacted", redacted).withColumn(
        "n_masked", email_hits + num_hits
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document top-k terms by smoothed tf-idf
    (tf * (ln((N+1)/(df+1)) + 1)) — the classic relevance weighting a
    corpus pipeline derives before keyword extraction or sparse
    retrieval.

    Shape: one explode -> (doc, term) count aggregate -> document
    frequency aggregate on the term-level result (already distinct per
    doc, so df is a plain count) -> broadcast joins of the tiny df/N
    sides back onto term counts -> per-doc window top-k. The corpus
    size N stays lazy (1-row aggregate cross-joined broadcast), so the
    whole plan is one DAG with no driver action. Ties break on the
    term string, so top-k is total-ordered and oracle-reproducible."""

    words = (
        spread_small_input(df)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
    )
    tf = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("dfreq") + 1)) + 1),
                6,
            ),
        )
    )
    win = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select(id_col, F.col("w").alias("term"), "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


def repetition_ratio(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Intra-document repetition: 1 − distinct/total word ``n``-grams —
    the standard boilerplate/spam signal (near-1 means the document
    repeats itself; quality filters drop high-repetition docs before
    training). Documents shorter than ``n`` words have no n-grams and
    are omitted, matching the empty-shingle-set semantics of
    dedup.shingle_index.

    Shape: one codegen'd shingle explode + one grouped aggregate with
    map-side partial count/count-distinct — a single shuffle carrying
    (doc, gram-hash) partials, never the gram strings themselves."""

    e = shingle_index(df, id_col=id_col, text_col=text_col, n=n,
                      distinct=False).select(
        id_col, _hash60(F.col("s")).alias("hs")
    )
    return (
        e.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_distinct("hs").alias("n_distinct"),
        )
        .withColumn(
            "repetition",
            F.round(1 - F.col("n_distinct") / F.col("n_grams"), 6),
        )
    )


def groupwise_minmax_scale(df: DataFrame, group_col: str = "event_type",
                           value_col: str = "value",
                           id_col: str = "event_id") -> DataFrame:
    """Per-group min-max scaling via ``applyInPandas`` (grouped-map
    Pandas UDF): each group arrives as ONE pandas DataFrame, scaled =
    (x - min) / (max - min), rounded to 6 (0.0 for constant groups).

    This is the grouped-map member of the Pandas-UDF family (mapInPandas
    = stream of batches, applyInPandasWithState = stateful streaming;
    this = whole-group batch) — the escape hatch for per-group logic a
    window can't express (quantile clipping, per-group model scoring).
    Min/max are order-independent, so the result is deterministic and
    exactly oracle-checkable, unlike float accumulations (the final
    rounding happens JVM-side: pandas .round is banker's rounding,
    Spark/DuckDB round half away from zero — rounding in the UDF would
    disagree on exact halves). Scale note:
    one shuffle on the group key, and each GROUP must fit in one
    executor's memory — for billion-row groups prefer window functions;
    this operator is for many modest groups."""
    out_schema = f"{id_col} long, {group_col} string, scaled double"

    def scale(pdf):
        lo, hi = pdf[value_col].min(), pdf[value_col].max()
        rng = hi - lo
        scaled = (pdf[value_col] - lo) / rng if rng > 0 else pdf[value_col] * 0.0
        return pd.DataFrame({
            id_col: pdf[id_col],
            group_col: pdf[group_col],
            "scaled": scaled,
        })

    out = df.select(id_col, group_col, value_col).groupBy(group_col).applyInPandas(
        scale, schema=out_schema
    )
    return out.withColumn("scaled", F.round("scaled", 6))


def unigram_surprisal(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality score from a self-trained unigram LM:
    score(doc) = mean over tokens of -ln p(w), with p estimated from
    the corpus itself (count(w)/total). Low surprisal = formulaic or
    boilerplate text, high = rare-token soup; both tails are what
    quality filters cut. This is the cheap stand-in for a real LM
    perplexity filter — same pipeline shape (count pass, broadcast-ish
    probability join, score pass), no model needed.

    Two aggregates over the token explode plus one join from tokens to
    the (vocabulary-sized) count table; the mean is computed as exact
    sum-of-logs / exact count, rounded once at the end. At 100 TB the
    vocabulary table is the thing to persist and broadcast."""
    w = (
        spread_small_input(df)
        .select(F.col(id_col), F.explode(_word_array(text_col)).alias("w"))
    )
    # lazy 1-row total cross-joined in (broadcast) — no driver action
    total = w.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    vocab = w.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        w.join(vocab, "w")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (-F.log(F.col("cnt") / F.col("_total"))).alias("nll"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("surprisal"),
        )
    )


def boilerplate_ratio(df: DataFrame, min_docs: int = 2, n: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """CROSS-document boilerplate signal (the RefinedWeb/CCNet-style
    sibling of ``repetition_ratio``'s intra-document one): the fraction
    of a document's distinct word n-grams that occur in at least
    ``min_docs`` documents corpus-wide. Near-1 means the document is
    assembled from corpus-common phrasing (templates, navigation,
    license blocks); quality filters drop or down-weight high-ratio
    docs before training. Documents shorter than ``n`` words have no
    n-grams and are omitted (empty-shingle-set semantics).

    Shape: one codegen'd shingle explode, a document-frequency
    aggregate keyed on the 60-bit gram hash (map-side combined; the
    exchange carries 8-byte hashes), one equi-join back on that hash,
    and a final per-doc aggregate. No window, no driver loop; every
    stage keys on either the gram hash or the doc id."""

    e = shingle_index(df, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), _hash60(F.col("s")).alias("hs")
    )
    freq = e.groupBy("hs").agg(F.count(F.lit(1)).alias("nd"))
    return (
        e.join(freq, "hs")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("nd") >= min_docs).cast("long")).alias("n_common"),
        )
        .withColumn(
            "boilerplate_ratio",
            F.round(F.col("n_common") / F.col("n_grams"), 6),
        )
    )


def token_label_pmi(df: DataFrame, label_col: str = "lang", k: int = 10,
                    min_count: int = 5,
                    text_col: str = "text") -> DataFrame:
    """Pointwise mutual information between word tokens and a document
    label (language, source, quality tier): the classic
    feature-selection / corpus-analysis measure surfacing the tokens
    most characteristic of each label. Emits the top ``k`` tokens per
    label by PMI = ln(p(w,l) / (p(w) p(l))) among tokens with at least
    ``min_count`` occurrences under the label.

    Determinism across engines: the RANKING key is the raw likelihood
    ratio c_wl * N / (c_w * c_l), computed with an identical
    floating-point expression shape on both sides — IEEE multiply and
    divide are exactly rounded, so the doubles (and hence the order)
    are bit-identical; ln is applied only to the REPORTED pmi, rounded
    to 6 decimals. Ties break on the token string.

    Shape: one explode, three map-side-combined aggregates (token,
    label, token-x-label), the 1-row corpus total broadcast via
    crossJoin, one equi-join per marginal, one per-label rank window
    over at most |vocab| rows."""

    w = df.select(
        F.col(label_col).alias("label"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    c_w = w.groupBy("word").agg(F.count(F.lit(1)).alias("c_w"))
    c_l = w.groupBy("label").agg(F.count(F.lit(1)).alias("c_l"))
    c_wl = w.groupBy("label", "word").agg(F.count(F.lit(1)).alias("c_wl"))
    total = w.agg(F.count(F.lit(1)).alias("n_total"))
    score = (F.col("c_wl") * 1.0 * F.col("n_total")) / (
        F.col("c_w") * F.col("c_l")
    )
    ranked = (
        c_wl.filter(F.col("c_wl") >= min_count)
        .join(c_w, "word")
        .join(c_l, "label")
        .crossJoin(F.broadcast(total))
        .withColumn("_score", score)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("label").orderBy(
                    F.desc("_score"), F.asc("word")
                )
            ),
        )
        .filter(F.col("rn") <= k)
    )
    return ranked.select(
        "label",
        "word",
        "c_wl",
        F.round(F.log("_score"), 6).alias("pmi"),
        "rn",
    )


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """BM25 sparse retrieval: score every document against a query
    term set and return the top-k — the lexical-search baseline every
    RAG / retrieval pipeline keeps next to its ANN index (tf-idf's
    production successor: term saturation via k1, document-length
    normalization via b).

    Per-term score: idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    with the Robertson/Lucene idf ln(1 + (N-df+.5)/(df+.5)).

    Scale shape: ONE token explode feeds both the per-doc length
    aggregate and the (doc, term) tf aggregate; the tf side filters to
    the query terms BEFORE its shuffle (an isin over a literal list —
    pushed into the scan stage), so the only full-corpus exchanges
    carry (doc_id, dl) and the query-term sliver. df/N/avgdl are
    term- or 1-row-cardinality frames broadcast back via crossJoin —
    no unpartitioned window, no driver action. Final top-k is a sort
    + limit = TakeOrderedAndProject, never a global sort.

    Determinism: every per-term score is the same IEEE expression
    shape in both engines (bit-identical); only the per-doc SUM order
    differs, so the reported score rounds to 6 places and the top-k
    boundary breaks ties on doc_id."""
    qt = [t for t in query_terms]
    words = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
    doclen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    # N over the documents frame, avgdl over lengths: sum/count in the
    # SAME shape the oracle renders (avg() could disagree in the last
    # ulp; an explicit sum-over-count cannot)
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    avgdl = doclen.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    tf = (
        words.filter(F.col("w").isin(qt))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfq"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + F.lit(0.5)) / (F.col("dfq") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .select(F.col(id_col), (idf * tfnorm).alias("s"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def zipf_fit(df: DataFrame, group_col: str = "lang",
             text_col: str = "text") -> DataFrame:
    """Per-group Zipf exponent: OLS slope of ln(freq) on ln(rank) over
    the group's token frequency table — the corpus-health diagnostic
    that separates natural text (slope near -1) from templated or
    synthetic output (flat or cliff-shaped rank curves). Reported with
    the fit's r^2 so a bad fit is visible, not hidden in the slope.

    Determinism: ln() of identical doubles is engine-stable, but float
    SUMS are not — so both regressors round to 6 places and cast to
    DECIMAL before the five moment sums (exact, partition-order
    independent; same discipline as stats.groupwise_ols), and the
    closed-form slope runs in doubles with one fixed expression shape.

    Scale shape: one explode -> (group, token) count -> per-group rank
    window (partitioned by group, never global) -> one moment
    aggregate; the exchanges carry (group, token-hash-sized) rows."""

    tf = (
        df.select(F.col(group_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rnk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(F.col("c").desc(), F.col("w"))
    )
    x = F.round(F.log(rnk.cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("c").cast("double")), 6).cast("decimal(18,6)")
    m = (
        tf.select(F.col(group_col), x.alias("x"), y.alias("y"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        )
    )
    den_x = F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n_types") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy")
    ok = (F.col("n_types") >= 2) & (den_x != 0)
    slope = F.when(ok, num / den_x)
    r2 = F.when(ok & (den_y != 0), (num * num) / (den_x * den_y))
    return m.select(
        group_col,
        "n_types",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r2, 6).alias("r2"),
    )


def bpe_merge_table(df: DataFrame, n_merges: int = 3,
                    text_col: str = "text") -> DataFrame:
    """Train the first ``n_merges`` BPE merges on the corpus (Sennrich
    et al. 2016): start from characters, repeatedly find the most
    frequent adjacent symbol pair (weighted by word frequency) and
    fuse it everywhere. Output: one row per merge —
    (rank, pair, merged, pair_count) — the head of the merge list a
    real tokenizer trainer would persist.

    Distributed shape: the corpus collapses to the WORD-FREQUENCY
    table first (one hash aggregate; the synthetic corpus has ~30
    distinct words, web corpora ~10^7 — always tiny next to the
    corpus), so every BPE iteration runs on the vocab table: explode
    adjacent pairs, one aggregate, one 1-ROW collect for the argmax
    (the merge must become a literal in the next plan — the same
    bounded driver state as Lloyd's chosen centroids). Pair fusion is
    pure string algebra on the spaced symbol form, with boundaries
    double-spaced during replace so greedy non-overlapping semantics
    are well-defined and IDENTICAL in Spark and ANSI SQL (verified:
    'a a a' -> 'aa a' on both engines); ties break on the pair string.
    """
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    sym = F.array_join(
        F.filter(F.split(F.col("w"), ""), lambda c: c != F.lit("")), " "
    )
    cur = words.select(sym.alias("s"), "wc")
    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        arr = F.split(F.col("s"), " ")
        idx = F.when(
            F.size(arr) >= 2, F.sequence(F.lit(1), F.size(arr) - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = cur.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat(
                        F.element_at(arr, i), F.lit(" "), F.element_at(arr, i + 1)
                    ),
                )
            ).alias("pair"),
            "wc",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("wc").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, n = best[0]["pair"], int(best[0]["n"])
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, n))
        doubled = F.concat(
            F.lit(" "), F.replace(F.col("s"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        fused = F.trim(
            F.replace(
                F.replace(
                    doubled,
                    F.lit(" " + pair.replace(" ", "  ") + " "),
                    F.lit(" " + merged + " "),
                ),
                F.lit("  "),
                F.lit(" "),
            )
        )
        cur = cur.select(fused.alias("s"), "wc")
    return spark.createDataFrame(
        merges, "merge_rank int, pair string, merged string, pair_count bigint"
    )


def perplexity_buckets(df: DataFrame, ref_source: str = "src0",
                       id_col: str = "doc_id", text_col: str = "text",
                       lang_col: str = "lang",
                       source_col: str = "source") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document by its cross-entropy under
    a unigram LM trained on a REFERENCE slice (one trusted source),
    then split each language into head/middle/tail tertiles — the
    standard curation step that keeps the fluent third of a crawl and
    demotes the rest. The LM is add-one smoothed:
    p(w) = (c_ref(w) + 1) / (N_ref + V_ref), unseen words get the same
    +1 mass, so out-of-domain text scores high, formulaic text low.

    Shape: one token explode; the vocabulary table comes only from the
    reference slice (persist + broadcast it at 100 TB — it is
    vocabulary-sized, not corpus-sized; if it outgrows broadcast the
    token join degrades gracefully to a shuffle on the word). Tertile
    CUTOFFS are computed per language as exact interpolated
    percentiles and broadcast back — the winsorize shape — so no
    language-sized window sort anywhere. xent is rounded to 6 before
    the cutoff compare; cutoffs interpolate between rounded values, so
    the bucket decision is engine-exact (percentile == quantile_cont,
    the established cross-engine contract)."""
    base = spread_small_input(df).select(
        F.col(id_col), F.col(lang_col), F.col(source_col),
        F.explode(_word_array(text_col)).alias("w"),
    )
    ref = base.filter(F.col(source_col) == ref_source)
    totals = ref.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.countDistinct("w").cast("double").alias("_v"),
    )
    vocab = ref.groupBy("w").agg(F.count(F.lit(1)).alias("_cnt"))
    scored = (
        base.join(vocab, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.col(lang_col),
            (-F.log(
                (F.coalesce(F.col("_cnt"), F.lit(0)) + 1)
                / (F.col("_n") + F.col("_v"))
            )).alias("nll"),
        )
    )
    per_doc = scored.groupBy(id_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("xent"),
    )
    third, two_thirds = 1.0 / 3.0, 2.0 / 3.0
    cuts = per_doc.groupBy(lang_col).agg(
        F.expr(f"percentile(xent, {third!r})").alias("_q33"),
        F.expr(f"percentile(xent, {two_thirds!r})").alias("_q67"),
    )
    return per_doc.join(F.broadcast(cuts), lang_col).select(
        id_col, lang_col, "n_tokens", "xent",
        F.when(F.col("xent") <= F.col("_q33"), F.lit("head"))
        .when(F.col("xent") <= F.col("_q67"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def bpe_encode_token_counts(df: DataFrame, n_merges: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Apply the trained BPE merges and count tokens per document —
    the serving half of bpe_merge_table (train) and the measurement a
    token-budget pipeline actually needs: how many TOKENIZER tokens
    each document costs, not whitespace words. Emits
    (id, n_words, n_bpe_tokens).

    Distributed shape: merges train exactly as bpe_merge_table (one
    1-row collect per round — bounded driver state), then encoding
    runs over the DISTINCT VOCABULARY, never the corpus: each learned
    pair fuses via the same boundary-doubled replace algebra, so
    train and encode are one string calculus and the whole pipeline
    has an unrolled SQL oracle. Per-doc counts come from joining the
    corpus's exploded words to the (vocabulary-sized, broadcast)
    encoded table — at web scale where the vocab outgrows broadcast,
    the same join degrades gracefully to a shuffle on the word."""
    merges = [
        r["pair"]
        for r in bpe_merge_table(df, n_merges=n_merges, text_col=text_col)
        .collect()
    ]
    vocab = (
        df.select(F.explode(_word_array(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    sym = F.array_join(
        F.filter(F.split(F.col("w"), ""), lambda c: c != F.lit("")), " "
    )
    enc = vocab.select("w", sym.alias("s"))
    for pair in merges:
        merged = pair.replace(" ", "")
        doubled = F.concat(
            F.lit(" "), F.replace(F.col("s"), F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        fused = F.trim(
            F.replace(
                F.replace(
                    doubled,
                    F.lit(" " + pair.replace(" ", "  ") + " "),
                    F.lit(" " + merged + " "),
                ),
                F.lit("  "),
                F.lit(" "),
            )
        )
        enc = enc.select("w", fused.alias("s"))
    enc = enc.select("w", F.size(F.split(F.col("s"), " ")).alias("n_tok"))
    dw = (
        df.select(F.col(id_col), F.explode(_word_array(text_col)).alias("w"))
        .filter(F.length("w") > 0)
    )
    return (
        dw.join(F.broadcast(enc), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
    )


# Gopher rule battery (Rae et al. 2021, arXiv:2112.11446, table A1):
# the published heuristic document-quality rules a web-scale corpus is
# filtered with before training. The required-stopword set is the
# paper's: a document must contain at least two DISTINCT of these.
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# single source of truth for the rule bounds — gopher_rules' keyword
# defaults AND the sqlgen oracle renderer both read these, so the two
# engines can never drift on a threshold
GOPHER_BOUNDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_word_len": 3.0,
    "max_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_ratio": 0.9,
    "max_ellipsis_ratio": 0.3,
    "min_alpha_ratio": 0.8,
    "min_stopwords": 2,
}


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_word_len: float = 3.0, max_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_ratio: float = 0.9,
                 max_ellipsis_ratio: float = 0.3,
                 min_alpha_ratio: float = 0.8,
                 min_stopwords: int = 2) -> DataFrame:
    """Gopher repetition-free quality rules, one codegen'd projection:
    word-count bounds, mean-word-length band, symbol-to-word ratio
    ('#' and '...' count as symbols), bullet-started and
    ellipsis-ended line ratios, fraction of words containing an
    alphabetic character, and the two-distinct-required-stopwords
    rule. Emits the signal columns, one boolean per rule, and
    ``passes_gopher``.

    Scale shape: pure per-row string expressions (split / translate /
    replace / list lambdas) — no shuffle, no UDF, runs inside
    whole-stage codegen at any corpus size; signals are materialized
    once and the rule booleans derive from plain column refs (same
    two-step discipline as with_quality_score). Every expression is
    engine-portable, so the whole battery has an exact SQL oracle."""
    ws = _word_array(text_col)
    n_chars = F.length(F.col(text_col))
    lines = F.split(F.col(text_col), "\n")
    base = (
        df.withColumn("n_words", F.size(ws))
        .withColumn("_n_lines", F.size(lines))
        .withColumn(
            # single-spaced mean word length: (chars - separators) / words
            "mean_word_len",
            F.round((n_chars - (F.size(ws) - 1)) / F.size(ws), 6),
        )
        .withColumn(
            # '#' occurrences + '...' occurrences (each run of 3 dots)
            "_n_symbols",
            (n_chars - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit(""))))
            + (n_chars - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))) / F.lit(3),
        )
        .withColumn(
            "_n_bullet_lines",
            F.size(F.filter(lines, lambda ln: ln.startswith("- ") | ln.startswith("* "))),
        )
        .withColumn(
            "_n_ellipsis_lines",
            F.size(F.filter(lines, lambda ln: ln.endswith("..."))),
        )
        .withColumn(
            "_n_alpha_words",
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))),
        )
        .withColumn(
            "n_req_stopwords",
            F.size(
                F.array_distinct(
                    F.filter(ws, lambda w: F.lower(w).isin(*GOPHER_REQUIRED_STOPWORDS))
                )
            ),
        )
    )
    base = (
        base.withColumn("symbol_ratio", F.round(F.col("_n_symbols") / F.col("n_words"), 6))
        .withColumn("bullet_ratio", F.round(F.col("_n_bullet_lines") / F.col("_n_lines"), 6))
        .withColumn("ellipsis_ratio", F.round(F.col("_n_ellipsis_lines") / F.col("_n_lines"), 6))
        .withColumn("alpha_ratio", F.round(F.col("_n_alpha_words") / F.col("n_words"), 6))
    )
    rules = base.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("r_word_count"),
        F.col("mean_word_len").between(min_word_len, max_word_len).alias("r_word_len"),
        (F.col("symbol_ratio") <= max_symbol_ratio).alias("r_symbols"),
        (F.col("bullet_ratio") <= max_bullet_ratio).alias("r_bullets"),
        (F.col("ellipsis_ratio") <= max_ellipsis_ratio).alias("r_ellipsis"),
        (F.col("alpha_ratio") >= min_alpha_ratio).alias("r_alpha"),
        (F.col("n_req_stopwords") >= min_stopwords).alias("r_stopwords"),
    ).drop("_n_lines", "_n_symbols", "_n_bullet_lines", "_n_ellipsis_lines", "_n_alpha_words")
    passes = (
        F.col("r_word_count") & F.col("r_word_len") & F.col("r_symbols")
        & F.col("r_bullets") & F.col("r_ellipsis") & F.col("r_alpha")
        & F.col("r_stopwords")
    )
    return rules.withColumn("passes_gopher", passes)


def token_fertility_by_lang(df: DataFrame, lang_col: str = "lang",
                            text_col: str = "text") -> DataFrame:
    """Tokenizer-fertility audit per language: tokens-per-word and
    chars-per-token over the regex tokenizer (TOKEN_REGEX, the same
    BPE-ish stand-in with_token_counts uses). The standard check that
    a tokenizer doesn't over-fragment some languages before committing
    a 100 TB corpus to it.

    Determinism discipline: the per-group division runs ONCE over
    exact integer sums (not an avg of per-row double ratios, which
    would be partition-order dependent) — one scan, one
    partial-aggregated exchange on the language key."""
    t = with_token_counts(df, text_col=text_col)
    return (
        t.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.length(F.col(text_col))).cast("long").alias("total_chars"),
        )
        .select(
            lang_col,
            "n_docs",
            "total_words",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("total_words"), 6).alias("tokens_per_word"),
            F.round(F.col("total_chars") / F.col("total_tokens"), 6).alias("chars_per_token"),
        )
    )


# Gopher repetition-rule thresholds (Rae et al. 2021 table A1, second
# half) — shared by the operator defaults and the registered query's
# SQL oracle so the two engines can never drift on a bound
GOPHER_REP_BOUNDS = {
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_top2gram_char_frac": 0.20,
    "max_dup5gram_char_frac": 0.15,
}


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Gopher repetition rules (Rae et al. 2021, arXiv:2112.11446,
    table A1 second half): the intra-document repetition battery that
    complements gopher_rules' heuristic battery — duplicate-LINE
    fraction (by line count and by character mass), the character
    fraction covered by the single most frequent word 2-gram (counted
    only when that gram actually repeats — a lone 2-gram in a short
    repeat-free doc is length, not repetition), and the
    character fraction inside duplicated 5-grams (occurrence-weighted,
    overlap-uncapped — documented formula, deterministic in both
    engines). One boolean per rule plus ``passes_gopher_rep``.

    Scale shape: two shingle explodes (lines; 5-grams) and one 2-gram
    explode, each collapsing map-side to (doc, unit) partial counts
    before its exchange; the three per-doc summaries join back on the
    already-hash-partitioned doc key. No window over anything
    corpus-sized — the top-2-gram argmax is a min(struct) aggregate
    with (count desc, gram asc) tie-break, identical in the oracle's
    row_number form. Documents shorter than the gram width contribute
    no grams and score 0.0 (vacuously passing, as the paper treats
    missing signals)."""

    base = spread_small_input(df).select(
        F.col(id_col), F.length(F.col(text_col)).alias("n_chars"),
        F.col(text_col),
    )
    # --- duplicate lines: per-(doc, line) occurrence counts ---------
    lines = base.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("ln")
    )
    per_line = lines.groupBy(id_col, "ln").agg(F.count(F.lit(1)).alias("cnt"))
    line_sum = per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("_nl"),
        F.sum(F.col("cnt") - 1).alias("_dupl"),
        F.sum(F.col("cnt") * F.length("ln")).alias("_lc"),
        F.sum((F.col("cnt") - 1) * F.length("ln")).alias("_duplc"),
    ).select(
        F.col(id_col),
        F.round(F.col("_dupl") / F.col("_nl"), 6).alias("dup_line_frac"),
        F.round(
            F.col("_duplc") / F.greatest(F.col("_lc"), F.lit(1)), 6
        ).alias("dup_line_char_frac"),
    )
    # --- most frequent word 2-gram: char coverage -------------------
    g2 = shingle_index(df, id_col=id_col, text_col=text_col, n=2,
                       distinct=False)
    # coverage counts only when the top gram actually REPEATS: a short
    # repeat-free doc's single 2-gram can cover >20% of its chars, and
    # that is length, not repetition
    top2 = (
        g2.groupBy(id_col, "s").agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("s"))).alias("b"))
        .select(
            F.col(id_col),
            F.when(
                -F.col("b")["neg"] > 1,
                -F.col("b")["neg"] * F.length(F.col("b")["s"]),
            ).otherwise(F.lit(0)).alias("_t2c"),
        )
    )
    # --- duplicated 5-grams: occurrence-weighted char coverage ------
    g5 = shingle_index(df, id_col=id_col, text_col=text_col, n=5,
                       distinct=False)
    dup5 = (
        g5.groupBy(id_col, "s").agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("s")).otherwise(0)
            ).alias("_d5c")
        )
    )
    GB = GOPHER_REP_BOUNDS
    out = (
        base.drop(text_col)
        .join(line_sum, id_col, "left")
        .join(top2, id_col, "left")
        .join(dup5, id_col, "left")
        .select(
            id_col,
            "n_chars",
            "dup_line_frac",
            "dup_line_char_frac",
            F.round(
                F.coalesce(F.col("_t2c"), F.lit(0)) / F.col("n_chars"), 6
            ).alias("top2gram_char_frac"),
            F.round(
                F.coalesce(F.col("_d5c"), F.lit(0)) / F.col("n_chars"), 6
            ).alias("dup5gram_char_frac"),
        )
    )
    rules = out.select(
        "*",
        (F.col("dup_line_frac") <= GB["max_dup_line_frac"]).alias("r_dup_lines"),
        (F.col("dup_line_char_frac") <= GB["max_dup_line_char_frac"]).alias("r_dup_line_chars"),
        (F.col("top2gram_char_frac") <= GB["max_top2gram_char_frac"]).alias("r_top_2gram"),
        (F.col("dup5gram_char_frac") <= GB["max_dup5gram_char_frac"]).alias("r_dup_5gram"),
    )
    passes = (
        F.col("r_dup_lines") & F.col("r_dup_line_chars")
        & F.col("r_top_2gram") & F.col("r_dup_5gram")
    )
    return rules.withColumn("passes_gopher_rep", passes)


def heaps_fit(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978): V ~ K * N^beta
    over nested corpus subsamples — the Zipf fit's companion
    diagnostic. Natural text grows vocabulary at beta ~ 0.4-0.6;
    templated/synthetic corpora flatten early (their small fixed
    vocabulary saturates), so a too-low beta flags low lexical
    diversity before tokenizer training commits to the corpus.

    The four nested subsamples are DETERMINISTIC HASH DRAWS on the doc
    key (1/8, 1/4, 1/2, all — each a pure filter, stable under
    repartitioning and engine choice; sampling.hash_draw's md5 form),
    not corpus prefixes, so no global ordering is ever materialized.
    All four (token count, distinct-type count) pairs come from ONE
    aggregate over one explode (the multi-count-distinct expands the
    exploded rows 4x map-side — the price of single-scan nesting,
    documented); beta is the OLS slope of ln(types) on ln(tokens) over
    the four points with the same rounded-decimal moment discipline as
    zipf_fit. Output: one row per level (draw_cut, n_tokens, n_types)
    with the shared heaps_beta broadcast onto each."""

    cuts = [DRAW_BUCKETS // 8, DRAW_BUCKETS // 4, DRAW_BUCKETS // 2, DRAW_BUCKETS]
    e = spread_small_input(df).select(
        hash_draw(F.col(id_col), "heaps").alias("dr"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    aggs = []
    for i, c in enumerate(cuts):
        aggs.append(F.count(F.when(F.col("dr") < c, 1)).cast("long").alias(f"tok{i}"))
        aggs.append(
            F.count_distinct(F.when(F.col("dr") < c, F.col("w"))).cast("long").alias(f"typ{i}")
        )
    one = e.agg(*aggs)
    stack_args = ", ".join(
        f"{c}L, tok{i}, typ{i}" for i, c in enumerate(cuts)
    )
    pts = one.select(
        F.expr(f"stack({len(cuts)}, {stack_args}) AS (draw_cut, n_tokens, n_types)")
    )
    x = F.round(F.log(F.col("n_tokens").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("n_types").cast("double")), 6).cast("decimal(18,6)")
    m = pts.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    den = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    # + 0.0 normalizes IEEE negative zero: a saturated vocabulary gives
    # a slope of exactly zero, and the engines disagree on its sign
    beta = m.select(
        (F.round(F.when(den != 0, num / den), 6) + F.lit(0.0)).alias("heaps_beta")
    )
    return pts.crossJoin(F.broadcast(beta))


def word_entropy(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 keep_cols: tuple = ()) -> DataFrame:
    """Per-document Shannon entropy of the word distribution, plus its
    normalized form (entropy / log2(n_distinct) — evenness in [0,1]).
    The within-document twin of the corpus-level unigram_surprisal:
    surprisal scores a document against the CORPUS language model,
    entropy scores it against ITSELF — near-zero entropy means the
    document is a few words repeated (template spam, keyword stuffing,
    decode loops), the gibberish/repetition screen that needs no
    trained model at all. Gopher's repetition fractions catch exact
    duplicate lines; entropy catches the smeared version.

    Exactness: H = log2(n) - (1/n) * sum(cnt * log2(cnt)) over exact
    per-word counts; each cnt*log2(cnt) term rounds to 8 and pins
    DECIMAL(18,8) so the sum is partition-order exact; the outer
    expression is float64 on exact inputs, rounded to 6.

    Scale shape: one explode feeds a (doc, word) count aggregate, then
    a doc-keyed fold — both map-side combinable; output is one row per
    document, no joins, no windows."""
    words = df.select(
        id_col, *keep_cols,
        F.explode(_word_array(text_col)).alias("_w"),
    )
    wc = words.groupBy(id_col, *keep_cols, "_w").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    term = F.round(
        F.col("_cnt") * F.log2(F.col("_cnt")), 8
    ).cast("decimal(18,8)")
    per_doc = wc.groupBy(id_col, *keep_cols).agg(
        F.sum("_cnt").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(term).alias("_s"),
    )
    h = F.round(
        F.log2(F.col("n_words"))
        - F.col("_s").cast("double") / F.col("n_words"),
        6,
    )
    return per_doc.select(
        id_col, *keep_cols,
        "n_words",
        "n_distinct",
        h.alias("entropy"),
        F.when(F.col("n_distinct") <= 1, F.lit(0.0)).otherwise(
            F.round(h / F.log2(F.col("n_distinct")), 6)
        ).alias("evenness"),
    )


def distinct_ngram_stats(df: DataFrame, n_values: tuple = (1, 2, 3),
                         group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Corpus diversity as distinct-n (Li et al. 2016's diversity
    metric, lifted from generations to corpora): per group, the count
    and distinct count of word n-grams and their ratio — a corpus
    whose 3-gram distinct ratio collapses is template-heavy even when
    exact dedup finds nothing. Read per source next to the Heaps'-law
    fit (vocabulary growth) and the duplication-rate audit.

    All-integer output plus one rounded ratio: exact on any engine.

    Scale shape: ONE scan — every n's grams are built per row with
    zip_with over shifted array slices (no self-joins), tagged with n
    via struct, concatenated, and exploded once into a single
    (group, n) aggregate with an exact count-distinct. Shuffle
    carries (group, n, gram) — the same order of work as the shingle
    index the dedup family already pays for."""
    w = _word_array(text_col)
    size = F.size(w)
    parts = []
    for n in n_values:
        if n == 1:
            grams = w
        else:
            sl = [
                F.slice(w, i + 1, F.greatest(size - (n - 1), F.lit(1)))
                for i in range(n)
            ]
            g = sl[0]
            for s in sl[1:]:
                g = F.zip_with(g, s, lambda a, b: F.concat(a, F.lit(" "), b))
            grams = F.when(size >= n, g).otherwise(
                F.array().cast("array<string>")
            )
        def _tag(nv):
            # single-arg lambda: a 2-arg one would make F.transform
            # pass the ARRAY INDEX as the second argument
            return lambda g: F.struct(
                F.lit(nv).cast("int").alias("n"), g.alias("g")
            )

        parts.append(F.transform(grams, _tag(n)))
    e = df.select(
        F.col(group_col).alias(group_col),
        F.explode(F.concat(*parts)).alias("_x"),
    )
    return (
        e.groupBy(group_col, F.col("_x.n").alias("n"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count_distinct(F.col("_x.g")).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "distinct_ratio",
            F.round(F.col("n_distinct") / F.col("n_total"), 6),
        )
    )


def blocklist_screen(df: DataFrame, words: list[str],
                     text_col: str = "text") -> DataFrame:
    """C4-style blocklist screen (Raffel et al. 2020 drop any page
    containing a 'bad word'): remove every document whose lowercased
    whitespace-token set intersects the blocklist. WORD-level match —
    'assassin' does not trip a 'ass' entry — which is the form the C4
    paper used and the one that survives translation to any engine as
    a set intersection instead of |blocklist| regex scans per row.

    Scale shape: pure per-row filter — the blocklist is a literal
    array constant-folded into the predicate (for lists beyond a few
    thousand words, switch to the broadcast-join form of
    corpus.contaminated_ids); no shuffle, fully pushdown-friendly."""
    arr = F.array(*[F.lit(w.lower()) for w in words])
    hit = F.arrays_overlap(
        F.split(F.lower(F.col(text_col)), " "), arr
    )
    return df.filter(~hit)


def oov_rate_by_group(df: DataFrame, v: int = 100,
                      group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Tokenizer-coverage audit: build the top-``v`` word vocabulary
    by corpus frequency (ties break by word order, so the vocabulary
    is deterministic), then per group report total tokens, how many
    fall OUTSIDE the vocabulary, and the OOV rate — the measurement
    that decides whether a vocab/tokenizer budget covers every slice
    of the corpus or quietly starves one source/language (the OOV
    tail is where fertility explodes and quality filters misfire).

    All integer counts plus one rounded ratio: plain-SQL oracle.

    Scale shape: one explode feeds BOTH the global word-count
    aggregate (vocab side, TakeOrdered top-v — never a global window)
    and the per-group count; the v-row vocabulary broadcasts into a
    left join marking in-vocab tokens. At web scale where v outgrows
    broadcast the same join degrades gracefully to a shuffle on the
    word."""
    words = df.select(
        F.col(group_col),
        F.explode(_word_array(text_col)).alias("_w"),
    )
    vocab = (
        words.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("_w"))
        .limit(v)
        .select("_w", F.lit(True).alias("_in_vocab"))
    )
    tagged = words.join(F.broadcast(vocab), "_w", "left")
    return (
        tagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 6),
        )
    )


def quality_threshold_sweep(df: DataFrame, text_col: str = "text",
                            n_bins: int = 10) -> DataFrame:
    """Quality-threshold tradeoff curve — the table a curator reads to
    PICK the filter cutoff instead of guessing it: for each candidate
    threshold t in {0, 1/n, ..., (n-1)/n}, how many documents and
    words survive ``quality_score >= t`` and what the surviving mean
    quality is. The knee of (share_docs_kept, mean_quality_kept) is
    the data-driven cutoff; sweeping AFTER one scan is free compared
    to re-running the filter per candidate.

    Scale shape: every threshold compiles to conditional SUMs inside
    ONE global aggregate — one scan, one 1-row partial-aggregated
    exchange regardless of n_bins, then the report rows are exploded
    from that 1-row frame with ``stack`` (no window, no second scan;
    same discipline as quality.check_expectations). Exactness: doc
    and word counts are integers, per-threshold quality sums pin
    DECIMAL(8,6) (the score is round-6 in [0,1]), and the emitted
    mean/share are single double divisions rounded to 6."""
    scored = with_quality_score(df, text_col).select(
        "n_words", "quality_score"
    )
    aggs = []
    for i in range(n_bins):
        t = i / n_bins
        keep = F.col("quality_score") >= F.lit(t)
        aggs += [
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias(f"_d{i}"),
            F.coalesce(F.sum(F.when(keep, F.col("n_words"))), F.lit(0))
            .cast("long")
            .alias(f"_w{i}"),
            F.coalesce(
                F.sum(F.when(keep, F.col("quality_score").cast("decimal(8,6)"))),
                F.lit(0).cast("decimal(8,6)"),
            ).alias(f"_q{i}"),
        ]
    one = scored.agg(*aggs)
    arms = ", ".join(
        f"double({i / n_bins!r}), _d{i}, _w{i}, _q{i}" for i in range(n_bins)
    )
    stacked = one.select(
        F.expr(
            f"stack({n_bins}, {arms}) AS "
            "(threshold, n_docs_kept, n_words_kept, _q)"
        ),
        F.col("_d0").alias("_total"),
    )
    return stacked.select(
        "threshold",
        "n_docs_kept",
        "n_words_kept",
        F.when(
            F.col("n_docs_kept") > 0,
            F.round(F.col("_q").cast("double") / F.col("n_docs_kept"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_quality_kept"),
        F.when(
            F.col("_total") > 0,
            F.round(F.col("n_docs_kept").cast("double") / F.col("_total"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("share_docs_kept"),
    )


def kneser_ney_bigrams(df: DataFrame, text_col: str = "text",
                       discount: float = 0.75,
                       min_count: int = 1) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; the Chen & Goodman 1998 interpolated form with a single
    fixed discount) — the upgrade over the raw-MLE bigram table
    (bigram_lm) every n-gram quality scorer actually wants: the
    backoff mass goes to words by how many CONTEXTS they complete
    (continuation count), not how often they occur, which is what
    stops "Francisco" stealing probability from "glasses" after
    frequent "San Francisco".

        p_kn(w2|w1) = max(c12 - d, 0)/c1
                      + (d * nf(w1)/c1) * (nb(w2)/B)

    with c12 the bigram count, c1 the w1-prefix token count, nf(w1)
    the distinct-follower count, nb(w2) the distinct-predecessor
    (continuation) count, and B the distinct-bigram total.

    Exactness: every input is an exact BIGINT count; p_kn evaluates
    in float64 with ONE fixed expression shape on both engines and
    rounds to 6 — no float aggregation anywhere.

    Scale shape: one explode feeds the (w1, w2) count aggregate
    (map-side combined, the only corpus-sized exchange); c1/nf/nb/B
    all derive from that vocab^2-bounded cell frame (lazily
    checkpointed for its consumers) and join back keyed on w1/w2 —
    the mutual-information discipline applied to LM estimation.
    Emits (w1, w2, n, p_kn) for bigrams with n >= min_count."""
    ws = df.select(F.split(text_col, " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
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
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    c1 = c.groupBy("w1").agg(
        F.sum("n").cast("long").alias("_c1"),
        F.count(F.lit(1)).cast("long").alias("_nf"),
    )
    nb = c.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("_nb"))
    btot = c.agg(F.count(F.lit(1)).cast("long").alias("_b"))
    d = float(discount)
    p_kn = (
        F.greatest(F.col("n").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("_c1")
        + (F.lit(d) * F.col("_nf") / F.col("_c1"))
        * (F.col("_nb") / F.col("_b").cast("double"))
    )
    return (
        c.join(F.broadcast(c1), "w1")
        .join(F.broadcast(nb), "w2")
        .crossJoin(F.broadcast(btot))
        .where(F.col("n") >= min_count)
        .select("w1", "w2", "n", F.round(p_kn, 6).alias("p_kn"))
    )


def ngram_novelty(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-document n-gram NOVELTY under ascending-id ingest order:
    the fraction of a document's distinct word n-grams whose FIRST
    corpus occurrence is this document (first = smallest doc id
    carrying the gram — the deterministic stand-in for ingest time).
    The running complement of boilerplate_ratio: that one asks "how
    much of this doc is corpus-common", this one asks "how much did
    this doc ADD when it arrived" — the novelty curve's decay over id
    order is the standard diminishing-data diagnostic (how fast a
    crawl stops contributing new phrasing), and near-zero novelty
    flags late re-crawls worth dropping before training. Documents
    shorter than ``n`` words have no n-grams and are omitted
    (empty-shingle-set semantics, the boilerplate_ratio contract).

    Shape: one codegen'd shingle explode, a min-doc-id aggregate keyed
    on the 60-bit gram hash (map-side combined; the exchange carries
    8-byte hashes + 8-byte ids), one equi-join back on the hash, one
    per-doc aggregate. No window, no driver loop."""

    e = shingle_index(df, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), _hash60(F.col("s")).alias("hs")
    )
    first = e.groupBy("hs").agg(F.min(id_col).alias("_first"))
    return (
        e.join(first, "hs")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("_first") == F.col(id_col)).cast("long")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_grams"), 6)
        )
    )


def hapax_ratio(df: DataFrame, group_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Per-group hapax legomena ratio: the fraction of the group's
    VOCABULARY that occurs exactly once — the classic lexical-richness
    signal next to heaps_fit (vocabulary growth) and word_entropy
    (mass distribution). A natural-text source sits near 0.4-0.6
    hapax share (Zipf's tail); templated or machine-generated sources
    collapse toward 0 — a cheap generated-content tell that needs no
    reference model.

    Shape: one token explode, one (group, word) count aggregate
    (map-side combined — the exchange carries words once per distinct
    (group, word)), one per-group rollup of the vocabulary frame. No
    window, no join, no second scan."""
    base = spread_small_input(df).select(
        F.col(group_col), F.explode(_word_array(text_col)).alias("w")
    )
    vocab = base.groupBy(group_col, "w").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    return vocab.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("_c").cast("long").alias("n_tokens"),
        F.sum((F.col("_c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.round(
            F.sum((F.col("_c") == 1).cast("long")) * 1.0 / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )
