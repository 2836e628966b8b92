"""Corpus-construction operators for LLM training-data pipelines:
benchmark decontamination, sequence packing, stratified sampling,
deterministic global shuffle, and source-level filtering (SURVEY.md
section 2.9 scope; the reference — agentic_workflow_transformation.py —
has no corpus surface at all, this is north-star extension work).

Everything follows the same two rules as operators/dedup.py and
operators/sampling.py:

- deterministic across engines (portable md5 hashing, exact integer /
  decimal arithmetic wherever a threshold comparison could be
  knife-edge), so every operator is oracle-checkable;
- shuffle-frugal at 100 TB: the corpus-sized side of every operator is
  touched by at most a scan + a broadcast join + one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingle_index, spread_small_input
from .sampling import DRAW_BUCKETS, _hash60, hash_draw


def contaminated_ids(corpus: DataFrame, benchmark: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3) -> DataFrame:
    """Benchmark decontamination: ids of corpus documents that share at
    least one word ``n``-gram with any benchmark document — the
    standard eval-leakage check run before every pretraining job.

    Scale shape: the benchmark side (eval sets — MBs, not TBs) is
    shingled, deduped, and BROADCAST; the corpus side streams through a
    codegen'd shingle explode and a broadcast left-semi probe, so the
    100 TB side is never shuffled on shingle strings. Only the matched
    ids (tiny) hit the final distinct's exchange."""
    c = shingle_index(corpus, id_col=id_col, text_col=text_col, n=n,
                      distinct=False)
    b = (
        shingle_index(benchmark, id_col=id_col, text_col=text_col, n=n,
                      distinct=False)
        .select("s")
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "s", "left_semi")
        .select(id_col)
        .distinct()
    )


def pack_sequences(df: DataFrame, budget: int = 256, group_size: int = 1024,
                   id_col: str = "doc_id", lang_col: str = "lang",
                   text_col: str = "text") -> DataFrame:
    """Contiguous sequence packing: concatenate id-ordered documents of
    one language into training sequences of ~``budget`` tokens (the
    fill-the-context-window step of every LLM data pipeline). A doc
    lands in sequence floor(tokens_before_it / budget) — the
    deterministic, window-expressible variant of greedy first-fit.

    Scale shape: the running token count is windowed over
    (lang, floor(id / group_size)), NOT over the whole language —
    each window partition holds at most ``group_size`` docs, so no
    single reducer ever materializes a language's worth of rows and
    the operator survives a 1000-executor corpus. Sequence ids are
    unique per (lang, group, seq) triple."""
    toks = F.size(F.split(F.col(text_col), " ")).cast("long")
    d = df.select(
        F.col(id_col),
        F.col(lang_col),
        toks.alias("n_tokens"),
        F.floor(F.col(id_col) / group_size).alias("grp"),
    )
    w = Window.partitionBy(lang_col, "grp").orderBy(id_col)
    d = d.withColumn(
        "seq_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget),
    )
    return d.groupBy(lang_col, "grp", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def stratified_hash_sample(df: DataFrame, rates: dict[str, float],
                           strat_col: str = "lang", key_col: str = "doc_id",
                           default_rate: float = 0.0,
                           salt: str = "strat") -> DataFrame:
    """Per-stratum deterministic sampling: keep ~rates[stratum] of each
    stratum's rows, by key hash (corpus mixing: e.g. upweight rare
    languages by sampling 'en' at 20% and everything else at 80%).

    Like hash_sample this is a PURE FILTER — one codegen'd predicate,
    no shuffle, reproducible under repartitioning and appends — the
    per-stratum threshold is just a CASE expression over the same
    portable draw."""
    thresh = F.lit(int(default_rate * DRAW_BUCKETS))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strat_col) == value, F.lit(int(rate * DRAW_BUCKETS))
        ).otherwise(thresh)
    return df.filter(hash_draw(F.col(key_col), salt) < thresh)


def sharded_shuffle(df: DataFrame, n_shards: int = 8,
                    key_col: str = "doc_id",
                    salt: str = "shuffle") -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every row gets a (shard, pos) address — shard by one hash, position
    within the shard by rank of an independent hash — so the training
    job reads shards in order and gets a reproducible pseudo-random
    document order that no engine RNG can perturb.

    Scale shape: one hash-partitioned exchange on shard (exactly the
    write path's partitionBy(shard)), one per-shard sort. Shard count
    scales with the corpus; no global single-reducer ordering."""
    draw = hash_draw(F.col(key_col), salt)
    shard = (
        _hash60(F.concat(F.lit("shard|"), F.col(key_col).cast("string")))
        % n_shards
    )
    w = Window.partitionBy("shard").orderBy("draw", key_col)
    return (
        df.select(F.col(key_col), shard.alias("shard"), draw.alias("draw"))
        .withColumn("pos", F.row_number().over(w))
        .select(key_col, "shard", "pos")
    )


def chunk_documents(df: DataFrame, size: int = 32, stride: int = 16,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window document chunking: split each document's word
    array into windows of ``size`` words starting every ``stride``
    words (stride < size ⇒ overlapping chunks) — the context-window
    preparation step of every LLM training pipeline. Emits
    (id, chunk_idx, n_chunk_words, chunk_md5); the md5 stands in for
    the chunk text so the output stays fixed-width (the text itself is
    ``slice(ws, start, size)`` if a caller wants it).

    Start positions run 1, 1+stride, … while start <= n_words, so the
    tail chunk may be short but no suffix of a document is ever
    dropped. Scale shape: explode(sequence) + slice are fully
    codegen'd row expressions — one narrow row expansion of ~1/stride
    rows per word, no shuffle, no Python."""
    ws = F.split(F.col(text_col), " ")
    base = spread_small_input(df).select(
        F.col(id_col),
        ws.alias("_ws"),
        F.explode(F.sequence(F.lit(1), F.size(ws), F.lit(stride))).alias("_st"),
    )
    chunk = F.slice(F.col("_ws"), F.col("_st"), size)
    return base.select(
        F.col(id_col),
        ((F.col("_st") - 1) / stride).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_words"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def filter_sources_by_mean_len(df: DataFrame, source_col: str = "source",
                               len_col: str = "n_chars",
                               id_col: str = "doc_id") -> DataFrame:
    """Source-level quality gate: keep documents whose SOURCE's mean
    length is at least the corpus mean length (the domain-level
    filtering step of web-corpus pipelines — junk domains are dropped
    wholesale, not doc-by-doc). Returns (id, source, len) of survivors.

    Determinism: both means divide exact integer sums by exact counts,
    so the >= comparison is bit-identical in any IEEE engine. Scale
    shape: per-source stats are one map-side-combined aggregate over
    the corpus; the global mean re-aggregates THOSE (dim-sized, not
    corpus-sized) partials; the keeper set broadcasts back as a semi
    join — the corpus is scanned twice and shuffled never."""
    per_src = df.groupBy(source_col).agg(
        F.sum(F.col(len_col).cast("long")).alias("_s"),
        F.count(F.lit(1)).alias("_n"),
    )
    glob = per_src.agg(
        F.sum("_s").alias("_gs"), F.sum("_n").alias("_gn")
    )
    keep = (
        per_src.crossJoin(F.broadcast(glob))
        .filter(
            F.col("_s") / F.col("_n") >= F.col("_gs") / F.col("_gn")
        )
        .select(source_col)
    )
    return df.join(F.broadcast(keep), source_col, "left_semi").select(
        id_col, source_col, len_col
    )


def mix_weights(df: DataFrame, group_col: str = "lang",
                alpha: float = 0.7, rounded: bool = True) -> DataFrame:
    """Temperature-scaled corpus mixing weights: for each group (a
    language or source), weight = n^alpha / sum(n^alpha). alpha < 1
    flattens the natural distribution — the standard multilingual /
    multi-source sampling scheme (alpha 0.7 is the mT5/XLM-R
    convention) that keeps low-resource groups from vanishing and
    high-resource groups from dominating a training mix.

    Scale shape: one map-side-combined count aggregate over the corpus;
    the power/normalize math runs on the GROUP-cardinality frame (tens
    of rows), where the unpartitioned window's single-task exchange is
    free. Returns (group, n_docs, weight) with weight rounded to 6
    places for REPORTING — pow/div on integer counts is bit-identical
    across IEEE engines, so the round is deterministic. Downstream
    arithmetic consumers (apply_mix_sampling's keep threshold) pass
    ``rounded=False`` so a boundary floor() never flips on the rounded
    value where the exact one would not."""

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    scaled = F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
    # The normalizing total runs as a window over the GROUP-cardinality
    # frame (tens of rows) so the corpus is scanned exactly ONCE — an
    # agg + crossJoin normalizer would duplicate the whole count
    # subtree, scanning the corpus twice (verified in the physical
    # plan). The partition key must be constant-valued but
    # NON-FOLDABLE: lit(1) (and n_docs*0, since n_docs is provably
    # non-null) gets constant-folded away by Catalyst, leaving an
    # unpartitioned WindowExec that warns and single-partitions;
    # pmod(n_docs, 1) is 0 on every row but stays nullable, so it
    # survives as a real partition column. Pinned registry-wide by
    # tests/test_plans.py::test_no_unpartitioned_windows_anywhere.
    total = F.sum(scaled).over(
        Window.partitionBy(F.pmod(F.col("n_docs"), F.lit(1)))
    )
    weight = scaled / total
    if rounded:
        weight = F.round(weight, 6)
    return counts.select(
        group_col,
        "n_docs",
        weight.alias("weight"),
    )


def length_histogram(df: DataFrame, len_col: str = "n_chars",
                     group_col: str = "lang") -> DataFrame:
    """Log2-bucketed length histogram per group: the corpus-shape
    dashboard every data pipeline keeps (truncation tails, per-language
    length skew). floor(log2(len)) is exact on integers in IEEE double
    up to 2^53, so the bucketing is engine-portable; one
    map-side-combined aggregate, output is buckets x groups rows."""
    bucket = F.floor(F.log2(F.col(len_col).cast("double")))
    return (
        df.filter(F.col(len_col) > 0)
        .groupBy(F.col(group_col), bucket.alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(len_col).alias("min_len"),
            F.max(len_col).alias("max_len"),
        )
    )


def length_bucket_stats(df: DataFrame, len_col: str = "n_chars",
                        bucket: int = 128) -> DataFrame:
    """Padding-aware length bucketing for batched inference/training:
    round each document's length up to the next ``bucket`` multiple
    and report, per bucket, the document count and the padding
    overhead a batch of that bucket would pay (bucket_len * n -
    sum(len), exact integers). Minimizing this sum is why serving
    stacks bucket by sequence length instead of batching FIFO. One
    map-side-combined aggregate."""
    blen = (F.ceil(F.col(len_col) / F.lit(bucket)) * bucket).cast("long")
    return (
        df.filter(F.col(len_col) > 0)
        .groupBy(blen.alias("bucket_len"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(len_col).cast("long")).alias("sum_len"),
        )
        .select(
            "bucket_len",
            "n_docs",
            (F.col("bucket_len") * F.col("n_docs") - F.col("sum_len")).alias("padding_waste"),
        )
    )


def apply_mix_sampling(df: DataFrame, budget: int,
                       group_col: str = "lang", alpha: float = 0.7,
                       key_col: str = "doc_id",
                       salt: str = "mix") -> DataFrame:
    """Operationalize mix_weights: deterministically sample the corpus
    so each group's expected share matches its temperature-scaled
    weight under a total document ``budget``. Per group the keep rate
    is min(1, budget * w_g / n_g); rows are chosen by the same
    hash-draw as every other sampler here, so the result is a pure
    filter — reproducible across runs and engines, pushable to the
    scan, stable under appends. The group-rate table is tiny (one row
    per language/source) and broadcasts.

    This is the step that turns a mixing POLICY into a corpus: the
    weights say what the training mix should look like, this operator
    materializes a dataset with that mix."""

    # unrounded weight: the keep threshold must floor() the exact value
    # (the registered oracle uses the unrounded weight too) — see
    # mix_weights' rounded flag
    rates = mix_weights(df, group_col=group_col, alpha=alpha, rounded=False).select(
        group_col,
        F.least(
            F.lit(DRAW_BUCKETS),
            F.floor(F.lit(budget) * F.col("weight") / F.col("n_docs") * DRAW_BUCKETS),
        ).alias("_keep_below"),
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(hash_draw(F.col(key_col), salt) < F.col("_keep_below"))
        .drop("_keep_below")
    )


def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-key mergeable aggregate STATE over an integer measure:
    (n, total, total_sq, lo, hi). This is the materialized artifact of
    incremental corpus accounting — counts, means, and variances per
    language/source maintained across daily ingest batches without
    rescanning history. All five components form a commutative monoid
    (add, add, add, min, max), so states merge associatively in any
    order; with an integer measure every component is exact, making
    the incremental result bit-equal to a full recompute. One
    map-side-combined hash aggregate."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("total"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("total_sq"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def merge_agg_states(*states: DataFrame) -> DataFrame:
    """Merge any number of ``agg_state`` frames (history + new batches)
    into one: union then a combine aggregate on the key columns —
    counts and sums add, min/max fold. The incremental-view-maintenance
    step: cost is O(|keys|) per batch, never O(|history|). The shuffle
    carries one fixed-width state row per key per input, not documents.
    """
    keys = [c for c in states[0].columns
            if c not in ("n", "total", "total_sq", "lo", "hi")]
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.sum("total_sq").alias("total_sq"),
        F.min("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )


def _bloom_positions(m: int, k: int) -> list:
    """The k Bloom bit positions of column ``hs`` via Kirsch-
    Mitzenmacher double hashing: pos_i = (h1 + i*h2) mod m with
    h1 = xxhash64(hs) and h2 = xxhash64(hs, 1) | 1 (odd, so the probe
    sequence never degenerates). Both build and probe call THIS
    function, which is the whole no-false-negative argument: identical
    JVM expressions set and test identical bits."""
    # reduce both hashes mod m up front: keeps i*h2 far from the
    # BIGINT edge under ANSI overflow checks, and h2 in [1, m-1] so
    # the probe sequence never degenerates to a single bit
    h1 = F.pmod(F.xxhash64(F.col("hs")), F.lit(m))
    h2 = F.pmod(F.expr("xxhash64(hs, 1)"), F.lit(m - 1)) + F.lit(1)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]


def contaminated_ids_bloom(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 3, bits_per_gram: int = 8,
                           num_hashes: int = 6,
                           min_bits: int = 1 << 17,
                           max_bits: int = 1 << 23) -> DataFrame:
    """Bloom-filter benchmark decontamination: the 100 TB SCREEN form
    of :func:`contaminated_ids`. The benchmark's distinct shingle
    hashes fold into ONE Bloom bitset, built natively (Spark's
    ``bloom_filter_agg`` is Catalyst-internal, not in the public
    function registry): each hash sets k=``num_hashes`` bits by double
    hashing, the bits OR-merge per 64-bit word (``bit_or`` — a
    commutative monoid, so the bitset is partition-order independent
    and deterministic), and the non-zero words — bounded by the FILTER
    size, never the data — come back to the driver and re-enter the
    plan as ONE constant-folded array<bigint> literal (rendered as a
    SQL ``array(..L, ..)`` expression, so the py4j transfer is one
    string, not one call per element — ``F.lit`` on a large list costs
    ~0.4 ms/element). The corpus side probes it with O(1) arithmetic —
    ``element_at`` word lookup + shiftleft mask — so the probe is two
    xxhash64 calls plus k constant-time bit tests per shingle, no join
    against the gram set, no shuffle of the corpus at all: the shape
    that decontaminates 100 TB as a map-only scan.

    Two probe shapes were measured and REJECTED (258k-shingle corpus,
    same box): 1-char ``substr`` on a STRING bitset is O(position) —
    UTF-8 character indexing walks the literal, ~11 us per test at an
    average position of 64k — and hex()/conv() byte extraction on a
    BINARY bitset pays per-test string parsing; element_at is ~6x
    faster than either.

    The bitset is AUTO-SIZED to the benchmark: m = next power of two
    >= ``bits_per_gram`` * distinct-gram-count, clamped to
    [min_bits, max_bits] — one count() on the (small, cached)
    benchmark side, so a tiny benchmark doesn't pay a megabyte
    literal and a 1M-gram one still gets ~8 bits/gram (~2% FP at
    k=6).

    Error is ONE-SIDED by construction: build and probe evaluate the
    same expressions (:func:`_bloom_positions`), so a contaminated
    document can never be missed (no false negatives — pinned in
    tests/test_corpus.py against the exact operator). The intended
    pipeline is screen-then-verify: Bloom pass over the full corpus,
    exact ``contaminated_ids`` only over the flagged sliver.
    Probabilistic bits are why this registers as a rows-only driver
    check (no SQL oracle can reproduce the FP set), same class as the
    HLL/KLL sketches."""

    k = num_hashes
    b = (
        shingle_index(benchmark, id_col=id_col, text_col=text_col, n=n,
                      distinct=False)
        .select(_hash60(F.col("s")).alias("hs"))
        .distinct()
        .cache()
    )
    try:
        n_grams = b.count()
        m = max(
            min_bits,
            1 << max(0, (bits_per_gram * max(n_grams, 1) - 1).bit_length()),
        )
        m = min(m, max_bits)

        rows = (
            b.select(F.explode(F.array(*_bloom_positions(m, k))).alias("pos"))
            .select(
                F.expr("pos DIV 64").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
                .alias("mask"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(mask)").alias("word"))
            .collect()
        )
    finally:
        b.unpersist()
    words = [0] * (m // 64)
    for r in rows:
        words[r["w"]] = r["word"]
    arr = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")

    c = shingle_index(corpus, id_col=id_col, text_col=text_col, n=n,
                      distinct=False).select(
        F.col(id_col), _hash60(F.col("s")).alias("hs")
    )
    pred = F.lit(True)
    for i, pos in enumerate(_bloom_positions(m, k)):
        c = c.withColumn(f"_p{i}", pos)
        word = F.element_at(arr, F.expr(f"CAST(_p{i} DIV 64 AS INT)") + F.lit(1))
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_p{i} % 64 AS INT))"
        )
        pred = pred & (word.bitwiseAND(mask) != F.lit(0))
    return c.filter(pred).select(id_col).distinct()


def contamination_scores(corpus: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         n: int = 3) -> DataFrame:
    """GRADED benchmark contamination: per corpus document, the
    fraction of its distinct word n-grams that appear anywhere in the
    benchmark — where ``contaminated_ids`` gives the binary
    drop-the-doc answer, this scores partial overlap so a pipeline can
    threshold, stratify, or audit instead of only filtering (the
    common corpus-audit report: "how MUCH of the eval set leaks into
    each training doc?"). Documents shorter than ``n`` words have no
    n-grams and are omitted.

    Shape: both sides reduce to 60-bit shingle hashes; the benchmark
    side dedups to its distinct-gram set before the join, so the join
    carries |corpus grams| x hit-flag, then one per-doc aggregate. At
    100 TB the benchmark gram set is the small side (eval suites are
    MBs) — Spark broadcasts it and the corpus never shuffles."""

    e = shingle_index(corpus, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), _hash60(F.col("s")).alias("hs")
    )
    bset = (
        shingle_index(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select(_hash60(F.col("s")).alias("hs"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        e.join(F.broadcast(bset), "hs", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn(
            "contamination", F.round(F.col("n_hit") / F.col("n_grams"), 6)
        )
    )


def select_token_budget(df: DataFrame, budget_tokens: int,
                        group_col: str = "lang", id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Budgeted corpus fill: take documents per group in a
    deterministic shuffled order until each group's token budget is
    spent — the selection step that turns "2B tokens of French, 1B of
    German" mix targets into an actual document set. The md5 draw
    order de-correlates selection from ingest order (a head-N in file
    order oversamples whatever crawled first); the first document that
    OVERFLOWS the budget is excluded (strict <=), so budgets are hard
    caps.

    Scale shape: token counts are a map-side projection; the running
    total is one window per group key (groups are the partition, so
    the sort is per-group, never global); output carries (group, id,
    tokens, running) — the full text rejoins downstream by id only if
    needed."""

    toks = df.select(
        F.col(group_col),
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
        _hash60(F.concat(F.lit("budget|"), F.col(id_col).cast("string"))).alias("_ord"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("running_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("running_tokens") <= budget_tokens)
        .select(group_col, id_col, "n_tokens", "running_tokens")
    )


def bloom_guarantee_check(corpus: DataFrame, benchmark: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 3) -> DataFrame:
    """One-row harness for the Bloom screen's one-sided guarantee
    (round-8: the bounds-style oracle replacing the rows-only driver
    check): every EXACTLY contaminated document must be flagged by
    :func:`contaminated_ids_bloom` — build and probe evaluate the same
    bit positions, so ``n_missed_by_bloom`` is 0 by construction, and
    the SQL oracle asserts exactly that (the exact contaminated count
    is SQL-computable; the FP sliver is not and stays out of the
    output). A broken hash family, sizing bug, or probe/build drift
    flips the 0 and hash-mismatches the driver gate.

    Cost note: this harness runs the exact shingle probe BESIDE the
    screen (it is the verify pass of screen-then-verify applied to the
    whole corpus); production runs the screen alone on the 100 TB side
    and the exact pass on the flagged sliver only."""
    flagged = contaminated_ids_bloom(corpus, benchmark, id_col=id_col,
                                     text_col=text_col, n=n)
    exact = contaminated_ids(corpus, benchmark, id_col=id_col,
                             text_col=text_col, n=n)
    return (
        exact.join(flagged.withColumn("_fl", F.lit(1)), id_col, "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact_contaminated"),
            F.count(F.when(F.col("_fl").isNull(), 1)).cast("long")
            .alias("n_missed_by_bloom"),
        )
    )


def dsir_log_weights(corpus: DataFrame, target_pred,
                     id_col: str = "doc_id", text_col: str = "text",
                     d: int = 16) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every corpus document by how target-like its hashed
    bag-of-words features are. Each word hashes into one of ``d``
    buckets (the portable 60-bit md5 hash, so the bucketing is
    engine-exact); the target distribution is estimated from the rows
    matching ``target_pred`` (a boolean Column), the raw distribution
    from the whole corpus, both add-one smoothed; a document's log
    importance weight is the sum over its words of
    ln(p_target(bucket) / p_raw(bucket)). Downstream, importance
    resampling keeps documents proportionally to exp(weight) — the
    published recipe for selecting pretraining data that matches a
    high-quality target domain.

    Scale shape: two passes over the exploded corpus — the estimate
    pass computes BOTH distributions in one d-row aggregate (the
    target side is a conditional sum, not a separate scan) and
    collapses map-side to d rows before its exchange; the scoring pass
    joins the broadcast d-row log-ratio table and partial-aggregates
    per document, so the only data-sized exchange carries
    (doc_id, decimal partial sum). Determinism: each bucket's log-ratio is one fixed
    IEEE-double expression rounded to 9 digits, and the per-doc sum
    runs over DECIMAL(18,9) so it is partition-order independent;
    the reported weight rounds to 6."""
    ratios = dsir_ratio_table(corpus, target_pred, text_col=text_col, d=d)
    return dsir_score_against_ratios(
        corpus, ratios, id_col=id_col, text_col=text_col, d=d
    )


def dsir_ratio_table(corpus: DataFrame, target_pred, text_col: str = "text",
                     d: int = 16) -> DataFrame:
    """The DSIR ESTIMATE half: the d-row (bkt, lr) log-likelihood-ratio
    table, add-one smoothed, rounded to 9 digits and carried as
    DECIMAL(18,9). Factored out so the table can be PERSISTED and
    reused by the streaming scorer — estimate once over the reference
    corpus, then score every future ingest batch against the same
    fixed table (the production DSIR serving shape)."""

    e = (
        spread_small_input(corpus)
        .select(
            target_pred.alias("_is_target"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .withColumn("bkt", _hash60(F.col("w")) % d)
    )
    counts = e.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("r_k"),
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).cast("long").alias("t_k"),
    )
    totals = counts.agg(
        F.sum("r_k").cast("long").alias("r_tot"),
        F.sum("t_k").cast("long").alias("t_tot"),
    )
    # ln((t_k+1)/(t_tot+d)) - ln((r_k+1)/(r_tot+d)), one expression
    # shape in both engines, rounded to 9 before the decimal-sum
    return counts.crossJoin(F.broadcast(totals)).select(
        "bkt",
        F.round(
            F.log((F.col("t_k") + 1) / (F.col("t_tot") + F.lit(d)))
            - F.log((F.col("r_k") + 1) / (F.col("r_tot") + F.lit(d))),
            9,
        ).cast("decimal(18,9)").alias("lr"),
    )


def dsir_score_against_ratios(docs: DataFrame, ratios: DataFrame,
                              id_col: str = "doc_id", text_col: str = "text",
                              d: int = 16) -> DataFrame:
    """The DSIR SCORING half: per-document log weight against an
    ALREADY-ESTIMATED (bkt, lr) table. Stateless per document given
    the broadcast table, so the identical plan scores a batch corpus
    or a streaming micro-batch (streaming/ingest.dsir_score_stream) —
    batch and stream can never drift because they share this code."""

    e = (
        spread_small_input(docs)
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .withColumn("bkt", _hash60(F.col("w")) % d)
    )
    return (
        e.join(F.broadcast(ratios), "bkt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lr").alias("_lw"),
        )
        .select(
            id_col,
            "n_feats",
            F.round(F.col("_lw").cast("double"), 6).alias("log_weight"),
            # divide AFTER the double cast: decimal/long division scale
            # rules differ across engines, one double division does not
            F.round(F.col("_lw").cast("double") / F.col("n_feats"), 6).alias("avg_log_ratio"),
        )
    )


def dup_rate_by_source(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", source_col: str = "source",
                       n: int = 5) -> DataFrame:
    """Per-source duplication audit: for each corpus source (crawl
    dump, subcorpus, provider), what fraction of its word n-gram
    occurrences is duplicated text — grams appearing in more than one
    document (``dup_gram_ratio``) and grams shared with ANOTHER source
    (``cross_source_ratio``) — plus document and distinct-gram counts.
    This is the "which dump is contaminating my corpus" report run
    before choosing per-source mix weights (reference has no corpus
    ops; north-star addition in the C4/Dolma dedup-report mold).

    Scale shape: ONE codegen'd shingle explode whose exchange carries
    (60-bit gram digest, source, doc_id) — never gram text; per-gram
    totals come from a window over the digest on the (digest, source)
    aggregate, NOT a self-join — a join against a second aggregate of
    the same lineage would re-scan and re-explode the corpus (observed
    in the executed plan before this formulation). The window's
    partition key is the digest (vocabulary-cardinality, no skew
    beyond natural gram frequency). The per-source doc count is a
    separate source-column-only scan whose 20-row output joins last
    (broadcast). No driver state.

    Documents shorter than n words contribute no grams (same
    empty-shingle-set semantics as dedup.shingle_index) but still
    count in ``n_docs``."""

    base = (
        spread_small_input(df)
        .withColumn("_ws", F.split(F.col(text_col), " "))
        .filter(F.size("_ws") >= n)
    )
    gram = F.concat_ws(
        " ", *[F.element_at("_ws", F.col("_i") + j) for j in range(n)]
    )
    occ = base.select(
        F.col(id_col),
        F.col(source_col),
        "_ws",
        F.explode(F.sequence(F.lit(1), F.size("_ws") - (n - 1))).alias("_i"),
    ).select(F.col(id_col), F.col(source_col), _hash60(gram).alias("h"))
    sg = occ.groupBy("h", source_col).agg(
        F.count(F.lit(1)).cast("long").alias("occ"),
        F.countDistinct(id_col).cast("long").alias("docs"),
    )
    hw = Window.partitionBy("h")
    per_src = (
        sg.withColumn("total_docs", F.sum("docs").over(hw))
        .withColumn("n_sources", F.count(F.lit(1)).over(hw))
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
            F.sum("occ").cast("long").alias("n_gram_occ"),
            F.coalesce(
                F.sum(F.when(F.col("total_docs") > 1, F.col("occ"))), F.lit(0)
            ).cast("long").alias("_dup_occ"),
            F.coalesce(
                F.sum(F.when(F.col("n_sources") > 1, F.col("occ"))), F.lit(0)
            ).cast("long").alias("_cross_occ"),
        )
    )
    n_docs = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return n_docs.join(per_src, source_col, "left").select(
        source_col,
        "n_docs",
        F.coalesce("n_distinct_grams", F.lit(0)).cast("long").alias("n_distinct_grams"),
        F.coalesce("n_gram_occ", F.lit(0)).cast("long").alias("n_gram_occ"),
        F.round(F.col("_dup_occ") / F.col("n_gram_occ"), 6).alias("dup_gram_ratio"),
        F.round(F.col("_cross_occ") / F.col("n_gram_occ"), 6).alias("cross_source_ratio"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Corpus version diff: one row per document whose MEMBERSHIP or
    CONTENT changed between two snapshots of the same corpus —
    status 'added' (id only in the new snapshot), 'removed' (only in
    the old), 'changed' (both, different content digest) — with both
    digests. Unchanged documents (the overwhelming majority of a
    routine re-crawl) produce no output. This is the dataset-release
    changelog every corpus-versioning workflow publishes (what Delta/
    Iceberg snapshot-diff does for tables, restated for raw corpora).

    Scale shape: each side is reduced to (id, 16-byte md5) BEFORE the
    join, so the full-outer exchange carries digests, never documents;
    the join is co-partitioned on the id. No driver state, no
    broadcast (both sides are corpus-sized)."""
    o = old.select(F.col(id_col), F.md5(F.col(text_col)).alias("old_md5"))
    nw = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("new_md5"))
    j = o.join(nw, id_col, "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), "added")
        .when(F.col("new_md5").isNull(), "removed")
        .when(F.col("old_md5") != F.col("new_md5"), "changed")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(id_col, "status", "old_md5", "new_md5")
    )


def js_divergence_by_group(df: DataFrame, group_col: str = "source",
                           text_col: str = "text") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram word
    distributions of every pair of corpus groups (sources, dumps,
    languages) — the distribution-level counterpart of the embedding
    centroid-similarity map: "which dumps say the same things" read
    before choosing mix weights or merging sources. JS is symmetric
    and bounded by ln 2, so one (group_a < group_b) row per pair.

    The union-of-vocabulary sum is folded into intersection-only
    terms: for words one side lacks, m = p/2 and the contribution is
    p*ln 2, so JS = 0.5*[ sum_intersect(p*ln(2p/(p+q)) +
    q*ln(2q/(p+q))) + (1-P_int)*ln 2 + (1-Q_int)*ln 2 ] where P_int /
    Q_int are each side's probability mass on the SHARED vocabulary.
    That identity means the join only ever touches words both groups
    contain — one-sided words never join, never shuffle.

    Scale shape: one token explode feeds a (group, word) count
    aggregate; per-group totals are a groups-row broadcast; the
    pairwise term is a self-join on the WORD whose per-key fan-out is
    bounded by the group count squared (never by corpus size), and the
    final aggregate is groups^2 rows. Log terms sum in double and
    round once to 6 at the end (the established cross-engine float
    contract); counts and the shared-word tally stay integer-exact."""
    toks = (
        spread_small_input(df)
        .select(F.col(group_col).alias("g"),
                F.explode(F.split(F.col(text_col), " ")).alias("w"))
    )
    # vocabulary x groups sized — localCheckpoint so the three
    # consumers (totals + both self-join sides) share ONE corpus
    # explode instead of re-deriving it
    cnt = (
        toks.groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = cnt.groupBy("g").agg(F.sum("c").alias("n"))
    p = cnt.join(F.broadcast(tot), "g").select(
        "g", "w", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    a = p.select(F.col("g").alias("source_a"), "w", F.col("p").alias("pa"))
    b = p.select(F.col("g").alias("source_b"), "w", F.col("p").alias("pb"))
    ln2 = F.log(F.lit(2.0))
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_words"),
            F.sum(
                F.col("pa") * F.log(F.lit(2.0) * F.col("pa") / (F.col("pa") + F.col("pb")))
                + F.col("pb") * F.log(F.lit(2.0) * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("_s"),
            F.sum("pa").alias("_pin"),
            F.sum("pb").alias("_qin"),
        )
    )
    return inter.select(
        "source_a",
        "source_b",
        "n_shared_words",
        F.round(
            F.lit(0.5)
            * (F.col("_s") + (F.lit(1.0) - F.col("_pin")) * ln2
               + (F.lit(1.0) - F.col("_qin")) * ln2),
            6,
        ).alias("js_divergence"),
    )


def corpus_datacard(df: DataFrame, lang_col: str = "lang",
                    source_col: str = "source", len_col: str = "n_chars",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """One-call dataset DATACARD: the long-format (section, key,
    metric, value) summary every corpus release publishes — document
    and token totals, exact duplicate-text ratio, exact length
    percentiles, per-language and per-source document shares, and
    per-language unigram entropy (the lexical-diversity scalar). One
    table to read before and after every curation step; diff two
    datacards and you have the release notes.

    Exactness: counts are integers carried in double (exact to 2^53),
    shares/percentiles/entropy round once to 6 (percentile == exact
    interpolated quantile_cont, the established cross-engine
    contract; entropy sums ~vocab-size ln terms, same float contract
    as the JS map).

    Scale shape: the document-level sections are single-scan
    aggregates of scalar columns; token sections derive from ONE
    explode collapsed map-side into the (lang, word) count table
    (vocabulary x languages rows, localCheckpointed for its three
    consumers). Every per-group share joins a broadcast 1-row total.
    Output is O(languages + sources) rows."""
    n_docs = df.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.count_distinct(F.col(text_col)).cast("double").alias("n_distinct_texts"),
        F.percentile(F.col(len_col).cast("double"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col(len_col).cast("double"), F.lit(0.9)).alias("p90"),
    ).localCheckpoint()

    def _row(section: str, key: str, metric: str, value: F.Column) -> F.Column:
        return F.struct(
            F.lit(section).alias("section"), F.lit(key).alias("key"),
            F.lit(metric).alias("metric"),
            value.cast("double").alias("value"),
        )

    corpus_rows = n_docs.select(
        F.explode(
            F.array(
                _row("corpus", "all", "n_docs", F.col("n_docs")),
                _row("corpus", "all", "dup_text_ratio",
                     F.round(F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"), 6)),
                _row("length", "all", "p50_chars", F.round(F.col("p50"), 6)),
                _row("length", "all", "p90_chars", F.round(F.col("p90"), 6)),
            )
        ).alias("r")
    ).select("r.*")

    def shares(col: str, section: str) -> DataFrame:
        per = df.groupBy(F.col(col).alias("key")).agg(
            F.count(F.lit(1)).cast("double").alias("_n")
        )
        return per.crossJoin(F.broadcast(n_docs.select("n_docs"))).select(
            F.lit(section).alias("section"),
            F.col("key").cast("string").alias("key"),
            F.lit("doc_share").alias("metric"),
            F.round(F.col("_n") / F.col("n_docs"), 6).alias("value"),
        )

    cnt = (
        spread_small_input(df)
        .select(F.col(lang_col).alias("l"),
                F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("l", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tok_totals = cnt.agg(
        F.sum("c").cast("double").alias("n_tokens"),
        F.count_distinct("w").cast("double").alias("n_distinct_words"),
    )
    token_rows = tok_totals.select(
        F.explode(
            F.array(
                _row("corpus", "all", "n_tokens", F.col("n_tokens")),
                _row("corpus", "all", "distinct_words",
                     F.col("n_distinct_words")),
            )
        ).alias("r")
    ).select("r.*")
    lang_tot = cnt.groupBy("l").agg(F.sum("c").alias("n"))
    entropy = (
        cnt.join(F.broadcast(lang_tot), "l")
        .groupBy("l")
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n"))
                       * F.log(F.col("c") / F.col("n"))), 6
            ).alias("value")
        )
        .select(
            F.lit("lang").alias("section"),
            F.col("l").cast("string").alias("key"),
            F.lit("unigram_entropy").alias("metric"),
            "value",
        )
    )
    return (
        corpus_rows
        .unionByName(token_rows)
        .unionByName(shares(lang_col, "lang"))
        .unionByName(shares(source_col, "source"))
        .unionByName(entropy)
    )


def pack_efficiency(df: DataFrame, budget: int = 256,
                    group_size: int = 1024, id_col: str = "doc_id",
                    lang_col: str = "lang",
                    text_col: str = "text") -> DataFrame:
    """Packing-efficiency audit over pack_sequences: per language, how
    well the greedy fill actually uses the context window — sequence
    count, mean fill ratio, padding tokens a trainer would burn
    (under-full sequences pad to ``budget``), the waste ratio, and how
    many sequences OVERFLOW the budget (a doc straddling a boundary
    lands whole in its floor sequence, so overfull sequences mean
    truncation work downstream). This is the number that decides the
    budget/group_size knobs before a training run is priced.

    All counts and token sums are exact integers; the two ratios are
    single float divisions on exact inputs, rounded to 6 — plain-SQL
    oracle. Scale shape: pack_sequences' bounded windows, then one
    language-cardinality aggregate; nothing new shuffles."""
    packed = pack_sequences(df, budget=budget, group_size=group_size,
                            id_col=id_col, lang_col=lang_col,
                            text_col=text_col)
    pad = F.when(
        F.col("seq_tokens") < budget, F.lit(budget) - F.col("seq_tokens")
    ).otherwise(F.lit(0))
    return packed.groupBy(lang_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("seq_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum("n_docs") / F.count(F.lit(1)).cast("double"), 6)
        .alias("mean_docs_per_seq"),
        F.round(
            F.sum("seq_tokens")
            / (F.count(F.lit(1)) * F.lit(budget)).cast("double"),
            6,
        ).alias("mean_fill"),
        F.sum(pad).cast("long").alias("padding_tokens"),
        F.round(
            F.sum(pad) / (F.count(F.lit(1)) * F.lit(budget)).cast("double"),
            6,
        ).alias("waste_ratio"),
        F.sum(F.when(F.col("seq_tokens") > budget, 1).otherwise(0))
        .cast("long").alias("n_overfull"),
    )


def unimax_allocation(df: DataFrame, budget_tokens: int,
                      max_epochs: int = 2, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): distribute a
    total training-token budget across sources so no source repeats
    more than ``max_epochs`` times — the fairer alternative to
    temperature sampling (mix_weights) for multi-source pretraining.
    The sequential algorithm walks sources by ascending capacity
    (capacity = max_epochs * n_tokens), giving each the UNIFORM share
    of the remaining budget unless its capacity caps it first.

    The water-filling closed form makes it one pass of window math:
    once a source in ascending-capacity order is NOT capped, the
    uniform share stops changing (allocating u from B over L leaves
    B-u over L-1 with the same u), so the capped set is a PREFIX and
    the running condition c_i * (L-i+1) < B - cumsum(c)_{i-1} — pure
    INTEGER arithmetic, no division — identifies it exactly; the
    running bool_and guards against a spurious re-cap after the first
    uncapped source. Every uncapped source then gets
    (B - sum of capped capacities) / n_uncapped.

    Scale shape: ONE corpus scan (token-count aggregate per source);
    all the allocation math runs on the source-cardinality frame
    (tens of rows) where the single-task window exchange is free —
    same footing as mix_weights, whose pmod partition-key trick keeps
    the window off the unpartitioned-WindowExec ban list.

    Exactness: capacities and the capped test are BIGINT; the only
    divisions are the final uniform share and the epochs report, each
    a single double division of exact integers, rounded to 6."""
    toks = df.select(
        F.col(group_col),
        F.size(F.split(F.col(text_col), " ")).alias("_nt"),
    )
    counts = toks.groupBy(group_col).agg(
        F.sum("_nt").cast("long").alias("n_tokens")
    )
    cap = (F.lit(int(max_epochs)).cast("long") * F.col("n_tokens")).alias(
        "capacity"
    )
    base = counts.select(group_col, "n_tokens", cap)
    # constant-but-non-foldable partition key (see mix_weights): the
    # whole frame is one logical group of tens of rows
    pk = F.pmod(F.col("n_tokens"), F.lit(1))
    w_ord = Window.partitionBy(pk).orderBy(
        F.col("capacity").asc(), F.col(group_col)
    )
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(pk)
    b = F.lit(int(budget_tokens)).cast("long")
    n_src = F.count(F.lit(1)).over(w_all)
    rn = F.row_number().over(w_ord)
    cum_before = F.sum("capacity").over(w_cum) - F.col("capacity")
    cond = (
        F.col("capacity") * (n_src - rn + 1) < (b - cum_before)
    ).cast("int")
    flagged = base.select(
        group_col,
        "n_tokens",
        "capacity",
        (F.min(cond).over(w_cum) == 1).alias("capped"),
    )
    capped_sum = F.sum(
        F.when(F.col("capped"), F.col("capacity")).otherwise(F.lit(0))
    ).over(w_all)
    n_uncapped = F.sum(
        F.when(F.col("capped"), F.lit(0)).otherwise(F.lit(1))
    ).over(w_all)
    share = F.round(
        (b - capped_sum).cast("double") / n_uncapped.cast("double"), 6
    )
    allocated = F.when(
        F.col("capped"), F.col("capacity").cast("double")
    ).otherwise(share)
    return flagged.select(
        group_col,
        "n_tokens",
        "capacity",
        "capped",
        F.round(allocated, 6).alias("allocated_tokens"),
        F.round(allocated / F.col("n_tokens").cast("double"), 6).alias(
            "epochs"
        ),
    )


def apply_unimax_sampling(df: DataFrame, budget_tokens: int,
                          max_epochs: int = 2, group_col: str = "source",
                          id_col: str = "doc_id", text_col: str = "text",
                          salt: str = "unimax") -> DataFrame:
    """Materialize a UniMax allocation (unimax_allocation) as an
    actual training corpus: every document appears floor(epochs)
    times, plus one more copy with probability frac(epochs) — a
    deterministic doc-level Bernoulli whose EXPECTED token count per
    source equals the allocated budget (doc-granularity is the
    standard approximation; the epoch-capped guarantee is exact:
    no document ever exceeds ceil(max_epochs) copies).

    Determinism: the extra-copy draw is sampling.hash_draw on the
    row's own id (stable under appends/partitioning/engine, same
    md5 domain as every sampler here); the per-source cutoff is
    round(frac(epochs) * 1e6) of the 6-rounded epochs — an exact
    integer both engines derive identically.

    Scale shape: unimax_allocation's one corpus scan produces the
    group-cardinality allocation frame, which broadcasts back onto a
    second scan as a map-side join; copies explode per row with no
    shuffle (sequence(1, n_copies)); output order and content are
    pure functions of (id, source). Output: (id, group, copy) — copy
    numbers 1..n_copies."""

    alloc = unimax_allocation(df, budget_tokens, max_epochs,
                              group_col, text_col)
    plan = F.broadcast(
        alloc.select(
            group_col,
            F.floor(F.col("epochs")).cast("int").alias("_full"),
            F.round(
                (F.col("epochs") - F.floor(F.col("epochs")))
                * F.lit(1_000_000.0)
            ).cast("long").alias("_cut"),
        )
    )
    extra = (
        hash_draw(F.col(id_col), salt) < F.col("_cut")
    ).cast("int")
    copies = (F.col("_full") + extra).alias("_n")
    return (
        df.select(F.col(id_col), F.col(group_col))
        .join(plan, group_col)
        .select(group_col, id_col, copies)
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            group_col,
            F.explode(F.sequence(F.lit(1), F.col("_n"))).alias("copy"),
        )
    )


def curriculum_order(df: DataFrame, score_col: str = "n_chars",
                     id_col: str = "doc_id", source_col: str = "source",
                     n_buckets: int = 4) -> DataFrame:
    """Curriculum sort key (easy-first training order, Bengio et al.
    2009, as production pipelines schedule it): bucket every document
    by a difficulty score into ``n_buckets`` quantile stages, then
    round-robin the sources WITHIN each stage so no training window is
    single-source. The output is the per-document key tuple
    (bucket, rr, source, id) — a consumer lexicographically
    repartitionByRange-sorts on it to materialize the order, which is
    the scale-safe contract: this operator never performs the global
    sort itself, it only computes the key (the same division of labor
    as sharded_shuffle).

    ``score_col`` is any numeric difficulty proxy (defaults to
    document length; plug a quality or perplexity score upstream).

    Shape: one exact-percentile aggregate produces the n_buckets-1
    stage cutoffs as a broadcast 1-row frame (the perplexity_buckets /
    winsorize shape — no corpus-sized window sort); the round-robin
    index is a row_number window PARTITIONED BY (bucket, source).
    Exactness: cutoffs are exact interpolated percentiles
    (percentile == quantile_cont, the established cross-engine
    contract); bucket membership and rr are integers."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(
        *[
            F.expr(f"percentile({score_col}, {q!r})").alias(f"_q{i}")
            for i, q in enumerate(qs)
        ]
    )
    bucket = F.lit(1)
    for i in range(len(qs)):
        bucket = bucket + F.when(
            F.col(score_col) > F.col(f"_q{i}"), 1
        ).otherwise(0)
    w = Window.partitionBy("bucket", source_col).orderBy(id_col)
    return (
        df.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket.cast("int"))
        .withColumn("rr", F.row_number().over(w))
        .select(id_col, source_col, F.col(score_col), "bucket", "rr")
    )


def epoch_audit(df: DataFrame, budget_tokens: int,
                group_col: str = "source", text_col: str = "text",
                r_star: float = 4.0) -> DataFrame:
    """Data-constrained scaling audit (Muennighoff et al., NeurIPS
    2023): given a training-token budget split UNIFORMLY across
    sources, report per source how many epochs its unique tokens
    would repeat and the EFFECTIVE unique-token yield under the
    paper's diminishing-returns law — repeated epochs decay in value
    with characteristic scale ``r_star``:

        effective = U + U * r_star * (1 - exp(-R / r_star))

    where U is the source's unique tokens and R = epochs - 1 its
    repeat count. utilization = effective / allocated is the signal a
    mix owner acts on: a tiny source burning budget at 8 epochs yields
    far less than its allocation (UniMax — unimax_allocation — is the
    fix; this audit quantifies WHY, per source).

    Shape: ONE corpus scan (per-source token sum, map-side combined);
    everything else runs on the source-cardinality frame. Exactness:
    token counts and the allocation are exact integers; epochs is one
    double division rounded to 6 BEFORE the exp so both engines feed
    libm the identical argument (the ln() oracle precedent), and the
    effective/utilization doubles round to 6 on report."""
    counts = (
        df.select(
            F.col(group_col),
            F.size(F.split(F.col(text_col), " ")).alias("_nt"),
        )
        .groupBy(group_col)
        .agg(F.sum("_nt").cast("long").alias("n_tokens"))
    )
    # the k count and the report both consume the token aggregate; a
    # lazy checkpoint materializes the corpus scan ONCE (the
    # mutual_information discipline)
    counts = counts.localCheckpoint(eager=False)
    k = counts.agg(F.count(F.lit(1)).cast("long").alias("_k"))
    alloc = F.floor(F.lit(int(budget_tokens)).cast("long") / F.col("_k")).cast(
        "long"
    )
    epochs = F.round(
        F.col("allocated_tokens").cast("double") / F.col("n_tokens"), 6
    )
    repeats = F.greatest(F.col("epochs") - 1.0, F.lit(0.0))
    effective = F.round(
        F.col("n_tokens")
        * (
            F.least(F.col("epochs"), F.lit(1.0))
            + F.lit(float(r_star))
            * (1.0 - F.exp(-repeats / F.lit(float(r_star))))
        ),
        6,
    )
    return (
        counts.crossJoin(F.broadcast(k))
        .withColumn("allocated_tokens", alloc)
        .withColumn("epochs", epochs)
        .withColumn("effective_tokens", effective)
        .withColumn(
            "utilization",
            F.round(
                F.col("effective_tokens") / F.col("allocated_tokens"), 6
            ),
        )
        .select(
            group_col, "n_tokens", "allocated_tokens", "epochs",
            "effective_tokens", "utilization",
        )
    )


def concentration_audit(df: DataFrame, group_col: str = "source",
                        text_col: str = "text",
                        top_k: int = 3) -> DataFrame:
    """Source-concentration audit of the token mass: one report row
    with the Herfindahl-Hirschman index (sum of squared shares — the
    antitrust-style dominance number), the Gini coefficient (mass
    inequality across sources), and the top-``top_k`` share — the
    three numbers a mix owner checks before trusting per-source
    weights: a corpus where one crawl owns 60% of tokens needs
    UniMax / temperature flattening (unimax_allocation, mix_weights)
    before any "diverse mixture" claim holds.

    Exactness: token counts are exact BIGINT from one scan; Gini uses
    the sorted-rank closed form G = 2*sum(i*w_i)/(k*sum(w)) - (k+1)/k
    with INTEGER rank-weight products (partition-order exact), HHI
    and shares are one fixed double shape over exact integers,
    rounded to 6 on report.

    Scale shape: ONE corpus scan (per-group token sum, map-side
    combined); rank/cumulative math runs on the group-cardinality
    frame behind the non-foldable pmod partition key (the
    mix_weights discipline), so no unpartitioned data window exists
    anywhere."""
    counts = (
        df.select(
            F.col(group_col),
            F.size(F.split(F.col(text_col), " ")).alias("_nt"),
        )
        .groupBy(group_col)
        .agg(F.sum("_nt").cast("long").alias("_w"))
    )
    pk = F.pmod(F.col("_w"), F.lit(1))
    w_ord = Window.partitionBy(pk).orderBy(F.col("_w").asc(), F.col(group_col))
    w_all = Window.partitionBy(pk)
    ranked = counts.select(
        F.col(group_col),
        "_w",
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_k"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("_w").cast("long").alias("total_tokens"),
        F.round(
            F.sum(F.col("_w").cast("double") * F.col("_w"))
            / (F.sum("_w").cast("double") * F.sum("_w")),
            6,
        ).alias("hhi"),
        F.round(
            2.0 * F.sum(F.col("_i").cast("long") * F.col("_w")).cast("double")
            / (F.count(F.lit(1)) * F.sum("_w")).cast("double")
            - (F.count(F.lit(1)) + 1).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.round(
            F.sum(
                F.when(F.col("_i") > F.col("_k") - top_k, F.col("_w"))
                .otherwise(F.lit(0))
            ).cast("double")
            / F.sum("_w").cast("double"),
            6,
        ).alias(f"top{top_k}_share"),
    )
