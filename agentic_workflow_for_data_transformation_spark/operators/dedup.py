"""Deduplication operators for LLM-scale corpora (SURVEY.md section 2.9).

The reference has no dedup at all (its whole corpus is 10 rows); these
are the operators a 100 TB training-data pipeline needs, each built
from shuffle-aware DataFrame primitives:

- exact dedup: one hash-aggregate on the dedup key (map-side partial
  aggregation, single shuffle);
- MinHash + LSH banding: signature = k independent min-hashes over word
  shingles; docs sharing any band bucket become candidate pairs. The
  only join is on band keys, so cost is O(candidates), never O(n^2) —
  this is the scale path;
- n-gram Jaccard: exact pairwise similarity via an inverted index on
  shingles (equi-join on shingle), used to verify/threshold MinHash
  candidates. At 100 TB run it only on LSH candidates;
- SimHash: per-doc 16-bit sign fingerprint of hashed words; near-dups
  collide in the same bucket — one aggregation, no join at all.

Every hash is md5 (identical across engines), so each operator has an
exact ANSI-SQL oracle; no engine-private hash functions leak into
results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.io import write_parquet
from .sampling import _hash60, with_hash_split

HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")  # top bit of a hex digit


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition for TINY inputs only. Row-expansion
    operators (shingling, word explode) do orders of magnitude more
    work than the scan, so a single small parquet file (or an
    in-memory test frame, which reports zero files) must not pin the
    whole pipeline to one task.

    The smallness probe is the scan's file count (``df.inputFiles()``),
    NOT ``df.rdd.getNumPartitions()`` — touching ``.rdd`` forces a
    driver-side plan conversion per query construction. The threshold
    is a small CONSTANT (4 files), deliberately not
    ``defaultParallelism``: file count does not track scan parallelism
    for big tables (Spark splits large files at
    ``maxPartitionBytes``), so comparing against the core count would
    full-shuffle a 40-file x 1 GB table on a 64-core cluster — exactly
    the input this helper must leave alone. A handful of files is only
    ever the local-test case; anything larger is a no-op."""
    sc = df.sparkSession.sparkContext
    if len(df.inputFiles()) <= 4:
        return df.repartition(sc.defaultParallelism)
    return df


def shingle_index(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, distinct: bool = True) -> DataFrame:
    """Inverted shingle index: one (id, s) row per word n-gram
    occurrence (per distinct n-gram when ``distinct``). Documents
    shorter than n words contribute no rows — the same semantics as an
    empty shingle set.

    Built as explode(sequence) + plain concat/element_at expressions,
    NOT a transform() lambda: Spark evaluates higher-order-function
    lambda bodies interpreted (outside whole-stage codegen), which
    measured ~8x slower for shingling; the exploded form stays fully
    codegen'd. The distinct pass is a (id, s) aggregate — map-side
    partial dedup, one cheap shuffle."""
    base = (
        spread_small_input(df)
        .withColumn("_ws", F.split(F.col(text_col), " "))
        .filter(F.size("_ws") >= n)
    )
    gram = F.concat_ws(
        " ", *[F.element_at("_ws", F.col("_i") + j) for j in range(n)]
    )
    e = base.select(
        F.col(id_col),
        "_ws",
        F.explode(F.sequence(F.lit(1), F.size("_ws") - (n - 1))).alias("_i"),
    ).select(F.col(id_col), gram.alias("s"))
    return e.dropDuplicates([id_col, "s"]) if distinct else e


def exact_dedup_groups(df: DataFrame, key_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct key with the minimum id as the
    canonical representative and the duplicate count. Single
    hash-aggregate; partial aggregation makes the shuffle carry only
    distinct keys per partition.

    Groups on ``md5(key_col)`` so the exchange carries 16-byte digests,
    never whole documents — at 100 TB the grouping key IS the shuffle
    payload, and shuffling raw text would move the corpus twice
    (VERDICT r3 "What's wrong" #1). Collision odds are ~n^2/2^128,
    negligible at any corpus size."""
    return df.groupBy(F.md5(F.col(key_col)).alias(f"{key_col}_md5")).agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


MERSENNE_31 = 2147483647  # 2^31 - 1, the minhash modulus


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        threshold: float = 0.2, n: int = 3,
                        restrict_docs: DataFrame | None = None,
                        index: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets for every
    document pair sharing at least one shingle (inverted-index
    equi-join). Emits (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The join key is the 60-bit hash of the shingle, not the string:
    the shuffle carries fixed-width longs instead of ~25-byte strings
    (any-collision odds stay below 1e-3 up to ~10^8 distinct shingles).

    Scale note: hot shingles fan out quadratically; at 100 TB this
    runs AFTER minhash_lsh_candidates has pruned the pair space —
    pass ``restrict_docs`` (a 1-column DataFrame of doc ids) to
    semi-join the inverted index down to candidate documents only
    (see lsh_verified_pairs). ``index`` accepts a precomputed
    (d, s) hashed inverted index (the materialized artifact of a real
    dedup pipeline); restriction then applies to the index rows."""
    if index is not None:
        e = index
        if restrict_docs is not None:
            e = e.join(
                F.broadcast(restrict_docs.select(F.col(restrict_docs.columns[0]).alias("d"))),
                "d",
                "left_semi",
            )
    else:
        src = df
        if restrict_docs is not None:
            src = src.join(
                F.broadcast(restrict_docs.select(F.col(restrict_docs.columns[0]).alias(id_col))),
                id_col,
                "left_semi",
            )
        e = shingle_index(src, id_col=id_col, n=n).select(
            F.col(id_col).alias("d"), _hash60(F.col("s")).alias("s")
        )
    sizes = e.groupBy("d").agg(F.count(F.lit(1)).alias("sz"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.d").alias("doc_a"), F.col("b.d").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = (
        inter.join(sa, F.col("doc_a") == F.col("sa.d"))
        .join(sb, F.col("doc_b") == F.col("sb.d"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return jac


def minhash_hash_i(base: F.Column, i: int) -> F.Column:
    """The i-th minhash function: (a_i * base + b_i) mod (2^31 - 1),
    a universal-hash family over the shared 60-bit base hash. One md5
    per shingle total, not one per hash function — the classic k-cheap-
    permutations construction."""
    a, b = 2 * i + 1, i * 12345 + 7
    return (F.lit(a) * (base % MERSENNE_31) + F.lit(b)) % MERSENNE_31


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       num_hashes: int = 16, n: int = 3) -> DataFrame:
    """MinHash signature: h_i(doc) = min over shingles of the i-th
    universal hash of the shingle's 60-bit base hash. One explode +
    one grouped aggregate with num_hashes min() columns — a single
    shuffle regardless of k, and the partial (map-side) aggregation
    reduces each partition to k longs per doc before shuffling.
    Duplicate shingles can't change a min, so the index skips its
    distinct pass (one shuffle saved)."""
    e = shingle_index(df, id_col=id_col, n=n, distinct=False).select(
        id_col, _hash60(F.col("s")).alias("hb")
    )
    mins = [
        F.min(minhash_hash_i(F.col("hb"), i)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return e.groupBy(id_col).agg(*mins)


def band_buckets(df: DataFrame, id_col: str = "doc_id",
                 num_hashes: int = 16, bands: int = 4, n: int = 3,
                 sig: DataFrame | None = None) -> DataFrame:
    """Banded LSH bucket keys, one (id, band_idx, band_key) row per
    band: the joinable artifact of the MinHash pipeline — both the
    self-join inside minhash_lsh_candidates and the archive side of
    incremental near-dup dedup are equi-joins on these keys. band_key
    is the md5 of the band's hash row, so the key is fixed-width and
    engine-portable."""
    rows = num_hashes // bands
    if sig is None:
        sig = minhash_signatures(df, id_col=id_col, num_hashes=num_hashes, n=n)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"h{b*rows + r}") for r in range(rows)])).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    stack_expr = ", ".join(f"'{b}', band{b}" for b in range(bands))
    return banded.selectExpr(
        id_col, f"stack({bands}, {stack_expr}) AS (band_idx, band_key)"
    )


def minhash_lsh_candidates(df: DataFrame, id_col: str = "doc_id",
                           num_hashes: int = 16, bands: int = 4,
                           n: int = 3, sig: DataFrame | None = None) -> DataFrame:
    """LSH banding over MinHash signatures: split the k-hash signature
    into `bands` bands, hash each band, and emit every distinct pair of
    documents sharing a band bucket as (doc_a, doc_b), doc_a < doc_b.

    With k=16, b=4 (r=4 rows/band) the match probability is
    1-(1-j^4)^4 — ~0.97 for jaccard 0.8, ~0.02 for jaccard 0.2 — the
    classic near-dup filter curve. Cost is one self-join on band keys:
    candidates only, never the full cross product."""
    buckets = band_buckets(df, id_col=id_col, num_hashes=num_hashes,
                           bands=bands, n=n, sig=sig)
    x, y = buckets.alias("x"), buckets.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("doc_a"), F.col(f"y.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def lsh_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                       threshold: float = 0.5, num_hashes: int = 16,
                       bands: int = 4, n: int = 3,
                       sig: DataFrame | None = None,
                       cand: DataFrame | None = None,
                       index: DataFrame | None = None) -> DataFrame:
    """The full scale-path pipeline: LSH candidates -> exact Jaccard on
    candidates only -> threshold. This is how fuzzy dedup runs at
    100 TB: the exact O(pairs) step touches only LSH survivors.
    ``sig``/``cand``/``index`` accept precomputed signature /
    candidate / inverted-index frames (see minhash_estimate_pairs)."""
    # the candidate subtree feeds THREE consumers (the doc-restriction,
    # the jaccard semi-join, and the final pair join): materialize it
    # once with localCheckpoint — candidates are a tiny pair list, and
    # unlike persist() the blocks are reclaimed when the frame is
    # collected, so registry-driven repeated invocations don't leak
    if cand is None:
        cand = minhash_lsh_candidates(df, id_col=id_col, num_hashes=num_hashes,
                                      bands=bands, n=n, sig=sig).localCheckpoint()
    docs = (
        cand.select(F.col("doc_a").alias("d"))
        .unionByName(cand.select(F.col("doc_b").alias("d")))
        .distinct()
    )
    # exact jaccard over candidate documents only — the inverted index
    # shrinks to the (tiny) LSH-survivor set before any pairwise work
    jac = ngram_jaccard_pairs(df, id_col=id_col, threshold=0.0, n=n,
                              restrict_docs=docs, index=index)
    return (
        cand.join(jac, ["doc_a", "doc_b"])
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(edges: DataFrame, nodes: DataFrame,
                         id_col: str = "id", max_iter: int = 20) -> DataFrame:
    """Minimum-label propagation connected components over an
    undirected edge list: every node ends with the smallest node id
    reachable from it (``component``). The iterative driver loop is
    the Pregel-style shape (GraphX/GraphFrames do the same); each
    round is one join + aggregate, converging in O(component diameter)
    rounds — duplicate clusters are near-cliques, so 2-4 in practice.

    localCheckpoint() truncates lineage each round: without it the
    plan doubles per iteration and the driver chokes on plan
    compilation long before data size matters."""
    e = edges.select(F.col("src"), F.col("dst"))
    # materialize the edge list once: it joins into EVERY propagation
    # round, and without truncation each round would re-derive the
    # (possibly expensive) pair-generation DAG behind it
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ).localCheckpoint()
    for _ in range(max_iter):
        neigh = (
            bidir.join(labels, bidir.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("_nl"))
        )
        # carry the changed flag through the propagation join, so the
        # convergence check is one cheap aggregate over the checkpointed
        # result instead of a second old-vs-new join per round
        new_comp = F.least(
            F.col("component"), F.coalesce(F.col("_nl"), F.col("component"))
        )
        stepped = (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                new_comp.alias("component"),
                (new_comp != F.col("component")).cast("long").alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = stepped.agg(F.sum("_chg")).first()[0]
        labels = stepped.drop("_chg")
        if not changed:
            break
    return labels


def duplicate_clusters(df: DataFrame, id_col: str = "doc_id",
                       threshold: float = 0.5, num_hashes: int = 16,
                       bands: int = 4, n: int = 3,
                       pairs: DataFrame | None = None) -> DataFrame:
    """Fuzzy-dedup clustering end to end: LSH-verified near-dup pairs
    -> connected components -> (doc_id, cluster_id) where cluster_id
    is the minimum doc id of the duplicate group (singletons cluster
    with themselves). Downstream, keeping ``doc_id == cluster_id``
    rows is the canonical-representative dedup policy.

    ``pairs`` lets a caller hand in an already-materialized
    (doc_a, doc_b, ...) near-dup pair frame — the pair pipeline is the
    expensive 90% of this operator and is shared verbatim with the
    pair-level queries, so pipelines computing both should compute it
    once (see the session-scoped dedup chain in registry/_shared.py)."""
    if pairs is None:
        pairs = lsh_verified_pairs(df, id_col=id_col, threshold=threshold,
                                   num_hashes=num_hashes, bands=bands, n=n)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(edges, df.select(id_col), id_col=id_col)
    return comp.select(F.col("id").alias(id_col), F.col("component").alias("cluster_id"))


def dedup_keep_canonical(df: DataFrame, id_col: str = "doc_id",
                         threshold: float = 0.5, num_hashes: int = 16,
                         bands: int = 4, n: int = 3,
                         clusters: DataFrame | None = None) -> DataFrame:
    """The applied fuzzy dedup: keep exactly one document per
    near-duplicate cluster (the minimum-id representative), drop the
    rest. This is the operator a training-data pipeline actually runs;
    the pair/cluster queries are its observable intermediates.
    ``clusters`` accepts a precomputed (doc_id, cluster_id) frame —
    same sharing rationale as ``duplicate_clusters(pairs=...)``."""
    if clusters is None:
        clusters = duplicate_clusters(df, id_col=id_col, threshold=threshold,
                                      num_hashes=num_hashes, bands=bands, n=n)
    keepers = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keepers, id_col, "left_semi")


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash: for bit j, sum +-1 over the document's distinct words
    according to bit j of md5(word); the sign vector is the
    fingerprint (emitted as a bit-string column ``simhash``).
    Near-duplicates share fingerprints -> dedup is a groupBy on the
    fingerprint, no pairwise work at all."""
    words = F.array_distinct(F.split(F.col(text_col), " "))
    e = (
        spread_small_input(df)
        .select(id_col, F.explode(words).alias("w"))
        .withColumn("h", F.md5("w"))
    )
    sums = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*HEX_HIGH), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = e.groupBy(id_col).agg(*sums)
    fingerprint = F.concat(
        *[F.when(F.col(f"b{j}") >= 0, F.lit("1")).otherwise(F.lit("0")) for j in range(bits)]
    )
    return agg.select(id_col, fingerprint.alias("simhash"))


def minhash_estimate_pairs(df: DataFrame, id_col: str = "doc_id",
                           num_hashes: int = 16, bands: int = 4,
                           n: int = 3, sig: DataFrame | None = None,
                           cand: DataFrame | None = None) -> DataFrame:
    """Signature-only Jaccard ESTIMATE for LSH candidate pairs:
    est = (#matching minhash components) / k.

    This is the true 100 TB verification path when exact Jaccard is too
    expensive: signatures are k longs per doc (no second shingle pass,
    no inverted-index join), and the estimate is an O(k) row expression
    on the candidate pair — standard MinHash theory (E[est] = J).
    Exact verification (lsh_verified_pairs) remains the high-precision
    tier; this one is the cheap screen. Emits
    (doc_a, doc_b, est_jaccard) for every LSH candidate pair.
    ``sig`` accepts a precomputed (materialized) signature frame — the
    signature table is the artifact every production minhash pipeline
    persists, so consumers share one computation of it."""
    # one signature computation feeds banding AND the estimate join
    if sig is None:
        sig = minhash_signatures(df, id_col=id_col, num_hashes=num_hashes,
                                 n=n).localCheckpoint()
    if cand is None:
        cand = minhash_lsh_candidates(df, id_col=id_col, num_hashes=num_hashes,
                                      bands=bands, n=n, sig=sig)
    a = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(num_hashes)],
    )
    b = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(num_hashes)],
    )
    # the match count as one SQL expression (one py4j round trip), in
    # the tree Python's sum() of Column terms built: ((t0 + 0) + t1) + ...
    terms = [f"CASE WHEN ha{i} = hb{i} THEN 1 ELSE 0 END" for i in range(num_hashes)]
    matches = F.expr(" + ".join([terms[0], "0", *terms[1:]]))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("est_jaccard", F.round(matches / F.lit(float(num_hashes)), 6))
        .select("doc_a", "doc_b", "est_jaccard")
    )


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      threshold: float = 0.5, num_hashes: int = 16,
                      bands: int = 4, n: int = 3,
                      sig: DataFrame | None = None,
                      cand: DataFrame | None = None) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over LSH candidate pairs:
    c(a in b) = |A n B| / |A|. Jaccard misses the quote/boilerplate
    case — a short document wholly embedded in a long one has low
    Jaccard but containment ~1.0 — so corpus pipelines threshold on
    max(c(a in b), c(b in a)) to catch subset duplication.

    Same scale shape as lsh_verified_pairs: the exact intersection
    count runs only on LSH survivors (broadcast doc restriction), one
    inverted-index equi-join, intersections aggregate map-side. Emits
    (doc_a, doc_b, cont_a_in_b, cont_b_in_a) for candidate pairs whose
    max containment clears ``threshold``. ``sig``/``cand`` accept
    precomputed signature / candidate-pair frames (see
    minhash_estimate_pairs) so co-running dedup queries share them."""
    if cand is None:
        cand = minhash_lsh_candidates(df, id_col=id_col, num_hashes=num_hashes,
                                      bands=bands, n=n, sig=sig).localCheckpoint()
    docs = (
        cand.select(F.col("doc_a").alias("d"))
        .unionByName(cand.select(F.col("doc_b").alias("d")))
        .distinct()
    )
    src = df.join(
        F.broadcast(docs.select(F.col("d").alias(id_col))), id_col, "left_semi"
    )
    e = shingle_index(src, id_col=id_col, n=n).select(
        F.col(id_col).alias("d"), _hash60(F.col("s")).alias("s")
    )
    sizes = e.groupBy("d").agg(F.count(F.lit(1)).alias("sz"))
    a, b = e.alias("a"), e.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.d").alias("doc_a"), F.col("b.d").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        cand.join(inter, ["doc_a", "doc_b"])
        .join(sa, F.col("doc_a") == F.col("sa.d"))
        .join(sb, F.col("doc_b") == F.col("sb.d"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("sa.sz"), 6).alias("cont_a_in_b"),
            F.round(F.col("inter") / F.col("sb.sz"), 6).alias("cont_b_in_a"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
    )


def normalized_exact_dedup(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Normalized exact dedup: lowercase, strip non-alphanumerics to
    spaces, collapse whitespace, then group on the md5 of the result.
    Catches trivially-reformatted copies (case, punctuation, spacing)
    that byte-exact dedup misses, at exactly the same cost — one
    hash-aggregate, shuffling 16-byte digests instead of documents.
    The middle tier between exact and MinHash dedup in a corpus
    pipeline."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "),
            " +", " ",
        )
    )
    return (
        df.select(F.col(id_col), F.md5(norm).alias("norm_md5"))
        .groupBy("norm_md5")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def edit_distance_pairs(df: DataFrame, id_col: str, text_col: str,
                        block_col: str, max_dist: int = 2) -> DataFrame:
    """Entity-resolution tier of the dedup family: Levenshtein pairs
    within a blocking key. Edit distance is O(len^2) per pair and
    all-pairs is O(n^2) — both unpayable at scale — so the join is
    restricted to ``block_col`` equality (the classic blocking step:
    same nation, same zip, same first-k chars), which keeps the pair
    space to the sum of block^2. Emits (id_a, id_b, dist) for pairs
    with dist <= ``max_dist``; both the distance and the blocking are
    exact ANSI semantics, so the operator is oracle-checkable."""
    a = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
    )
    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
    )
    return (
        a.join(b, ["_blk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def _norm_digest(text_col: str):
    """md5 over whitespace/punctuation-normalized lowercased text —
    the 16-byte identity every exact-dedup operator here keys on."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "),
            " +", " ",
        )
    )
    return F.md5(norm)


def corpus_digests(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct normalized-text digests of a corpus — the tiny
    (16 bytes/row) artifact incremental dedup joins against."""
    return df.select(_norm_digest(text_col).alias("_h")).distinct()


def write_digest_archive(df: DataFrame, table: str, path: str,
                         n_buckets: int = 32,
                         text_col: str = "text") -> None:
    """Materialize the historical corpus's digest set as a BUCKETED,
    bucket-sorted table (``bucketBy(n, _h).sortBy(_h)``) — the layout
    that makes every FUTURE incremental-ingest dedup join shuffle-free
    on the archive side: Spark reads each bucket file as an already
    hash-partitioned input, so the sort-merge anti join plans an
    Exchange only under the (small) new batch. This is the recurring-
    pipeline cost the per-session digest computation doesn't cover —
    pay the shuffle once at archive-build time, never again per batch.
    Measured in tests/test_layout.py: archive-side Exchange disappears
    from the join plan; numbers in PLANS.md."""

    write_parquet(
        corpus_digests(df, text_col), path, buckets=(n_buckets, ["_h"], table)
    )


def incremental_new_docs(new: DataFrame, existing: DataFrame | None = None,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         existing_digests: DataFrame | None = None) -> DataFrame:
    """Incremental ingest dedup: keep only the NEW documents whose
    normalized text does not already exist in the historical corpus —
    the daily-crawl-vs-archive step, where re-deduplicating the whole
    archive per batch is unpayable. Both sides reduce to 16-byte
    digests before the anti join, so the shuffle carries hashes, not
    documents. Intra-batch duplicates also collapse (min-id
    representative per digest).

    At 100 TB the archive side should be the PRE-MATERIALIZED digest
    table (``existing_digests`` — one ``_h`` column, ideally the
    bucketed layout from :func:`write_digest_archive`, which makes the
    archive side of the anti join exchange-free) rather than the raw
    corpus re-hashed per batch (``existing``)."""
    if (existing is None) == (existing_digests is None):
        raise ValueError("pass exactly one of existing / existing_digests")
    new_h = new.withColumn("_h", _norm_digest(text_col))
    if existing_digests is not None:
        seen = existing_digests.select("_h")
    else:
        seen = corpus_digests(existing, text_col)
    w_min = new_h.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return (
        new_h.join(w_min, ["_h", id_col], "left_semi")
        .join(seen, "_h", "left_anti")
        .drop("_h")
    )


def jaccard_prefix_pairs(df: DataFrame, id_col: str = "doc_id",
                         threshold: float = 0.2, n: int = 3,
                         index: DataFrame | None = None) -> DataFrame:
    """Prefix-filtered set-similarity self-join (AllPairs/PPJoin
    family, Bayardo et al. WWW'07 / Chaudhuri et al. ICDE'06): the
    SCALE path for exact-threshold Jaccard pairs, emitting exactly the
    same (doc_a, doc_b, jaccard) rows as ``ngram_jaccard_pairs`` while
    joining only on each document's rare-token PREFIX instead of its
    full shingle set.

    Canonical global token order = (corpus frequency ASC, token hash
    ASC), so prefixes hold each document's RAREST shingles. With
    prefix length |x| - ceil(t*|x|) + 1, any pair with J >= t shares a
    prefix token (standard prefix-filtering completeness lemma), so
    verifying candidates exactly loses nothing. Two further prunes run
    inside the join condition, before the pair ever materializes: the
    length filter (min_sz >= t * max_sz, implied by J >= t) and
    PPJoin's POSITIONAL filter — at a prefix match seen at ranks
    (rn_a, rn_b), the overlap can't exceed 1 + min(sz_a - rn_a,
    sz_b - rn_b), so pairs whose bound falls below the required
    overlap ceil(t/(1+t) * (sz_a + sz_b)) are dropped. Completeness
    holds because a qualifying pair's FIRST common token in the global
    order has all other common tokens after it in both documents, so
    the bound evaluated there covers the true overlap (the required
    overlap is relaxed by 1e-9 before ceil so float rounding can only
    under-prune, never over-prune). The positional filter is what
    keeps candidates bounded even on low-entropy corpora where no
    shingle is truly rare.

    Scale shape: the frequency join and the candidate join both key on
    the 60-bit shingle hash — fixed-width shuffle payloads. Hot
    boilerplate shingles are exactly the ones the frequency order
    EXCLUDES from prefixes, so the quadratic fan-out of the naive
    inverted-index join (every pair sharing ANY token, dominated by
    the hottest token) collapses to pairs sharing a RARE token. The
    per-doc rank window partitions by document id — thousands of rows
    per partition, no skew. Verification touches only surviving
    candidates: one equi-join per side plus a map-side-combined
    intersection count.

    DATA DEPENDENCE (measured, BENCH_SCALE.md): the candidate bound
    comes from token-frequency skew. On Zipfian real text the prefix
    holds genuinely rare tokens and the join is cheap; on a
    low-entropy corpus (the synthetic testdata draws from a ~30-word
    vocabulary) even the rarest shingle of a document is shared by
    hundreds of documents, and the prefix self-join degrades toward
    the naive join. For such corpora the MinHash-LSH chain
    (``minhash_lsh_candidates`` -> ``lsh_verified_pairs``) is the
    scale path; this operator is the EXACT-threshold alternative — LSH
    banding is probabilistic recall, prefix filtering is lossless.
    """

    if index is not None:
        e = index
    else:
        e = shingle_index(df, id_col=id_col, n=n).select(
            F.col(id_col).alias("d"), _hash60(F.col("s")).alias("s")
        )
    freq = e.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = (
        # the frequency side has one row per DISTINCT shingle — it
        # grows with the corpus, so it must never be broadcast (AQE's
        # mid-checkpoint size estimate picked broadcast on the 500k-doc
        # Zipf probe and OOM'd the driver); the shuffle-hash hint keys
        # both sides on the 60-bit hash, which the groupBy has already
        # partitioned, so only the token stream moves
        e.join(freq.hint("shuffle_hash"), "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("d").orderBy(F.asc("cnt"), F.asc("s"))
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("d")))
    )
    # both sides of the candidate self-join read the prefix frame, and
    # the verification reuses the subtree root — materialize it once so
    # the frequency aggregate + rank window don't run per consumer
    # (same localCheckpoint discipline as lsh_verified_pairs)
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("d", "s", "sz", "rn").localCheckpoint()
    a, b = prefix.alias("a"), prefix.alias("b")
    overlap_bound = 1 + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    required = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.d") < F.col("b.d"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz"))
            )
            & (overlap_bound >= required),
        )
        .select(
            F.col("a.d").alias("doc_a"),
            F.col("b.d").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    ea = e.select(F.col("d").alias("doc_a"), "s")
    eb = e.select(F.col("d").alias("doc_b"), "s")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "s"], "left_semi")
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def duplicated_span_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", span: int = 50,
                          stride: int = 10) -> DataFrame:
    """Repeated-substring detection (the span-level dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL'22): slide a ``span``-char window every ``stride`` chars over
    each document, hash each window, and flag spans whose hash occurs
    in >= 2 DISTINCT documents — catching the verbatim boilerplate and
    quote-level duplication that document-level MinHash (whole-doc
    Jaccard) dilutes away. Per document: total spans, cross-document
    duplicated spans, and the duplicated fraction.

    Scale shape: the exchange carries only (doc_id, 16-char md5
    prefix) rows — never text; the per-hash distinct-doc count is a
    partial-aggregated groupBy on the digest (same payload discipline
    as exact_dedup_groups); the flag rejoins on the digest. Rows per
    doc = ~len/stride, so total exploded rows are corpus_chars/stride
    — linear in corpus size, tunable by stride. A true suffix-array
    pass (exact maximal repeats) does not distribute; stride-sampled
    fixed spans are the standard scalable surrogate and can only
    MISS duplicates shorter than span+stride-1, never false-positive
    (modulo md5).

    Docs shorter than ``span`` contribute 0 spans and report ratio 0.
    """
    n = F.length(F.col(text_col))
    positions = F.when(
        n >= span,
        F.sequence(F.lit(1), n - span + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    spans = df.select(
        F.col(id_col),
        F.explode(positions).alias("_p"),
        F.col(text_col),
    ).select(
        id_col,
        F.substring(F.md5(F.substring(F.col(text_col), F.col("_p"), span)), 1, 16)
        .alias("_h"),
    )
    per_hash = (
        spans.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
    )
    agg = (
        spans.join(per_hash, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0)).alias("n_dup_spans"),
        )
    )
    return df.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.round(
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            * F.lit(1.0)
            / F.greatest(F.coalesce(F.col("n_spans"), F.lit(0)), F.lit(1)),
            6,
        ).alias("dup_ratio"),
    )


def duplicated_span_ranges(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", span: int = 50,
                           stride: int = 10) -> DataFrame:
    """Maximal duplicated character RANGES per document — the
    refinement of ``duplicated_span_stats`` an actual decontamination
    pass removes: contiguous runs of cross-document-duplicated span
    hashes, merged into [range_start, range_end] (1-based, inclusive)
    intervals. Two duplicated spans at positions p1 < p2 merge when
    p2 - p1 <= span (their windows overlap or touch), so each output
    row is one maximal excisable region with its span count.

    Scale shape: identical explode/aggregate skeleton as
    duplicated_span_stats (exchange carries (doc_id, digest, pos),
    never text; rows = corpus_chars/stride); the merge is
    gaps-and-islands over the DUPLICATED positions only — a
    per-document window over the small survivor set, partitioned by
    doc_id, never a global sort. Documents with no duplicated span
    produce no rows.
    """
    n = F.length(F.col(text_col))
    positions = F.when(
        n >= span,
        F.sequence(F.lit(1), n - span + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    spans = df.select(
        F.col(id_col),
        F.explode(positions).alias("_p"),
        F.col(text_col),
    ).select(
        id_col,
        "_p",
        F.substring(F.md5(F.substring(F.col(text_col), F.col("_p"), span)), 1, 16)
        .alias("_h"),
    )
    dup_hashes = (
        spans.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .filter(F.col("_ndocs") > 1)
        .select("_h")
    )
    dup_pos = spans.join(dup_hashes, "_h").select(id_col, "_p")
    w = Window.partitionBy(id_col).orderBy("_p")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("_p").over(w)
    # two window passes over ONE (doc_id) exchange: mark island breaks,
    # then running-sum them into island ids (Spark forbids nesting the
    # lag inside the sum; both windows share the same partitioning so
    # no second shuffle is planned)
    marked = dup_pos.withColumn(
        "_brk", F.when(prev.isNull() | (F.col("_p") - prev > span), 1).otherwise(0)
    )
    return (
        marked.withColumn("_isl", F.sum("_brk").over(wrun))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("_p").cast("long").alias("range_start"),
            (F.max("_p") + span - 1).cast("long").alias("range_end"),
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        )
        .drop("_isl", "_brk")
    )


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", seg_words: int = 8) -> DataFrame:
    """C4-style corpus-level line deduplication with document rebuild
    (Raffel et al. 2020 keep one occurrence of every three-sentence
    span; fineweb dedups whole lines). The synthetic corpus has no
    newlines, so the "line" unit is a fixed ``seg_words``-word segment:
    split each document into consecutive segments, keep only the FIRST
    occurrence of each distinct segment corpus-wide (first = lowest
    (doc_id, position)), then reassemble every document from its
    surviving segments in original order. Documents whose every
    segment already appeared elsewhere vanish from the output.

    Scale shape (the canonical distributed line-dedup plan): one
    explode (rows = corpus_words / seg_words), ONE shuffle hash-
    partitioned by segment CONTENT for the first-occurrence
    row_number, one shuffle back on doc_id for the ordered rebuild.
    No joins, no driver state; the exchange carries (segment, doc_id,
    pos) — at 100 TB swap the raw segment string for its md5 in the
    rank exchange if segments are long (here they are <=8 words).

    Reference scope note: the reference engine
    (agentic_workflow_transformation.py:341-361) has no dedup at all;
    this is part of the SURVEY section 2.9 LLM-pipeline surface.
    """
    ws = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(ws) / F.lit(float(seg_words))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(ws, i * seg_words + 1, seg_words), " "
        ),
    )
    ex = (
        df.select(F.col(id_col), segs.alias("_segs"))
        .select(id_col, F.posexplode("_segs").alias("_p0", "seg"))
        # 1-based positions to match SQL generate_subscripts oracles
        .select(id_col, (F.col("_p0") + 1).alias("pos"), "seg")
    )
    w = Window.partitionBy("seg").orderBy(id_col, "pos")
    kept = ex.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )


def write_lsh_archive(df: DataFrame, table: str, path: str,
                      n_buckets: int = 32, id_col: str = "doc_id",
                      num_hashes: int = 16, bands: int = 4,
                      n: int = 3) -> None:
    """Materialize the historical corpus's banded LSH bucket keys as a
    BUCKETED table (``bucketBy(n, band_key).sortBy(band_key)``) — the
    near-dup twin of write_digest_archive. Every future incremental
    batch joins its own band keys against this table; with the bucket
    layout the archive side of that equi-join plans no Exchange, so the
    recurring per-batch cost is one small-side shuffle. The artifact is
    (id, band_idx, band_key): ~bands rows x ~40 bytes per document —
    pay the signature computation and the shuffle once at build."""

    write_parquet(
        band_buckets(df, id_col=id_col, num_hashes=num_hashes,
                     bands=bands, n=n),
        path,
        buckets=(n_buckets, ["band_key"], table),
    )


def incremental_neardup_new_docs(new: DataFrame, archive: DataFrame,
                                 archive_buckets: DataFrame | None = None,
                                 threshold: float = 0.5,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 num_hashes: int = 16, bands: int = 4,
                                 n: int = 3) -> DataFrame:
    """Incremental NEAR-duplicate ingest dedup: keep only the new
    documents with no VERIFIED fuzzy duplicate (exact shingle Jaccard
    >= threshold) in the historical corpus — the recurring-pipeline
    step exact-digest incremental dedup (incremental_new_docs) cannot
    cover, because a crawler re-serves near-identical pages, not
    byte-identical ones.

    Shape: batch band keys equi-join the archive's band keys
    (candidates = cross-corpus LSH collisions only, never batch x
    archive), then exact Jaccard verifies candidates with BOTH sides
    restricted to candidate documents via broadcast semi-joins —
    the archive is touched only at its colliding documents, which at
    100 TB is an id-pruned read, not a scan. Survivors leave through
    one anti join on id. Pass ``archive_buckets`` (the persisted
    write_lsh_archive table) to skip re-hashing the archive per batch
    AND drop the archive-side Exchange; ``archive`` itself is read
    only for candidate verification text. Intra-batch near-dups are
    deliberately out of scope — that is the lsh_verified_pairs +
    greedy-keep-first pass, run once over the batch."""
    nb = band_buckets(new, id_col=id_col, num_hashes=num_hashes,
                      bands=bands, n=n)
    ab = archive_buckets if archive_buckets is not None else band_buckets(
        archive, id_col=id_col, num_hashes=num_hashes, bands=bands, n=n)
    x, y = nb.alias("x"), ab.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key")),
        )
        .select(
            F.col(f"x.{id_col}").alias("new_id"),
            F.col(f"y.{id_col}").alias("arch_id"),
        )
        .distinct()
        .localCheckpoint()
    )
    new_r = new.join(
        F.broadcast(cand.select(F.col("new_id").alias(id_col)).distinct()),
        id_col, "left_semi",
    )
    arch_r = archive.join(
        F.broadcast(cand.select(F.col("arch_id").alias(id_col)).distinct()),
        id_col, "left_semi",
    )
    en = shingle_index(new_r, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col).alias("new_id"), _hash60(F.col("s")).alias("s")
    )
    ea = shingle_index(arch_r, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col).alias("arch_id"), _hash60(F.col("s")).alias("s")
    )
    inter = en.join(ea, "s").groupBy("new_id", "arch_id").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sz_n = en.groupBy("new_id").agg(F.count(F.lit(1)).alias("sz_n"))
    sz_a = ea.groupBy("arch_id").agg(F.count(F.lit(1)).alias("sz_a"))
    matched = (
        cand.join(inter, ["new_id", "arch_id"])
        .join(sz_n, "new_id")
        .join(sz_a, "arch_id")
        .filter(
            F.round(
                F.col("n_inter") / (F.col("sz_n") + F.col("sz_a") - F.col("n_inter")),
                6,
            )
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new.join(matched, id_col, "left_anti")


def split_leakage_audit(df: DataFrame, weights: list[float] | None = None,
                        labels: list[str] | None = None,
                        threshold: float = 0.5, id_col: str = "doc_id",
                        text_col: str = "text", key_col: str | None = None,
                        num_hashes: int = 16, bands: int = 4,
                        n: int = 3) -> DataFrame:
    """Train/test LEAKAGE audit: after a deterministic hash split,
    count the verified near-duplicate pairs that STRADDLE split
    boundaries — the contamination every eval pipeline must rule out
    before trusting held-out numbers (a test doc whose near-copy sits
    in train is a leaked answer, not a measurement). Emits one row per
    unordered split pair (split_a <= split_b) with the pair count and
    the leaked count (cross-split only), so 'train|test, n_pairs > 0'
    IS the finding.

    Shape: the split is the per-row md5-draw expression
    (sampling.with_hash_split — no shuffle), pairs come from the LSH
    chain (banding candidates -> exact Jaccard verify, O(candidates)
    never O(n^2)), and the audit is one tiny aggregate over verified
    pairs joined to the two rows' split tags. Hash-split stability
    means the audit's verdict is reproducible on any engine or
    cluster."""

    weights = weights or [90.0, 5.0, 5.0]
    labels = labels or ["train", "val", "test"]
    tagged = with_hash_split(df, key_col or id_col, weights, labels).select(
        F.col(id_col), F.col("split")
    )
    pairs = lsh_verified_pairs(df, id_col=id_col, threshold=threshold,
                               num_hashes=num_hashes, bands=bands, n=n)
    ta = tagged.select(F.col(id_col).alias("doc_a"), F.col("split").alias("sa"))
    tb = tagged.select(F.col(id_col).alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(ta, "doc_a").join(tb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaked", F.col("split_a") != F.col("split_b"))
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 4,
                        w: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): hash every word k-gram, slide a window
    of ``w`` consecutive hashes over each document, and keep the
    MINIMUM hash of every full window. The selected set is a ~2/(w+1)
    density sample of the k-gram stream with the winnowing guarantee:
    any shared substring of at least k+w-1 words produces at least one
    shared fingerprint — the property plain stride sampling lacks.
    Emits distinct (id, fp) rows.

    Engine-exact by construction: the window min is a pure min() over
    a ROWS frame of 60-bit md5-derived hashes — no ties to break (min
    of a set is unique), no floats — so the oracle is the identical
    SQL window. Documents shorter than k+w-1 words have no full window
    and contribute no fingerprints (the short-doc analog of
    shingle_index's empty-shingle-set semantics).

    Scale shape: one codegen'd k-gram explode; the window partitions
    by DOCUMENT (bounded by doc length, no corpus-level sort); the
    distinct pass and everything downstream carry (id, 8-byte fp) —
    a ~w/2-fold smaller exchange than the full shingle index, which is
    the reason winnowing exists at 100 TB."""
    base = (
        spread_small_input(df)
        .withColumn("_ws", F.split(F.col(text_col), " "))
        .filter(F.size("_ws") >= k + w - 1)
    )
    gram = F.concat_ws(
        " ", *[F.element_at("_ws", F.col("_i") + j) for j in range(k)]
    )
    hashes = base.select(
        F.col(id_col),
        "_ws",
        F.explode(F.sequence(F.lit(1), F.size("_ws") - (k - 1))).alias("_i"),
    ).select(F.col(id_col), F.col("_i"), _hash60(gram).alias("h"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("_i")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        hashes.withColumn("fp", F.min("h").over(win))
        .filter(F.col("_i") >= w)
        .select(id_col, "fp")
        .dropDuplicates([id_col, "fp"])
    )


def winnow_shared_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 4, w: int = 5,
                        max_df: int = 100,
                        threshold: float = 0.5) -> DataFrame:
    """Document pairs sharing winnowed fingerprints, ranked by
    containment-style overlap = |shared| / min(|A|, |B|) — the MOSS
    plagiarism report restated for corpus dedup: cheaper than the full
    shingle inverted index (the fingerprint set is a ~2/(w+1) sample)
    while keeping the shared-substring guarantee of
    winnow_fingerprints. Emits (doc_a < doc_b, shared_fps, overlap >=
    threshold).

    Scale shape: the self-join is an equi-join on the fingerprint, and
    fingerprints appearing in more than ``max_df`` documents are
    dropped FIRST (one count aggregate) — the boilerplate guard that
    bounds the join's per-key fan-out to max_df^2 and keeps a banner
    string shared by millions of pages from going quadratic. Overlap
    uses min-size (containment) rather than union (Jaccard) so a
    short document fully embedded in a long one still scores 1.0 —
    winnowing's primary catch."""
    fps = winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w)
    # boilerplate guard via AGGREGATE + semi-join, not a window over
    # the fingerprint: a banner fingerprint shared by millions of docs
    # would make one giant window partition (all its rows sorted on a
    # single task), while the aggregate combines map-side and the
    # semi-join only passes through keys that survived the <= max_df
    # filter — skew never reaches a single-task sort.
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    # localCheckpoint: the fingerprint set feeds FOUR consumers (both
    # self-join sides and both size joins); without it each re-derives
    # the corpus scan + explode + winnowing windows — 4 corpus passes
    # at 100 TB. Checkpointed, the corpus is read once and the reused
    # artifact is the ~2/(w+1)-density (id, fp) table.
    fps = fps.join(keep, "fp", "left_semi").localCheckpoint()
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("_sa"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("_sb"))
    return (
        shared.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "overlap",
            F.round(F.col("shared_fps") / F.least("_sa", "_sb"), 6),
        )
        .filter(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", "shared_fps", "overlap")
    )


def dedup_savings_by_source(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            source_col: str = "source",
                            len_col: str = "n_chars") -> DataFrame:
    """The DEDUP SAVINGS report: per source, how many documents and
    how many characters exact dedup would remove (keeping the
    lowest-id copy of each distinct text corpus-WIDE) — the
    storage-and-compute business case for running dedup at all, and
    the per-dump complement of the gram-level duplication audit
    (dup_rate_by_source tells you WHERE duplication comes from; this
    prices it). Emits (source, n_docs, n_dup_docs, chars_total,
    chars_saved, savings_ratio).

    Scale shape: one (digest -> min id) aggregate over (16-byte md5,
    id, source, len) — the corpus never shuffles text, only digests;
    the keeper test is a window-free self-contained aggregate-join on
    the digest; the final rollup is source-cardinality rows. Dup
    groups spanning sources charge each source for ITS redundant
    copies (the keeper's source keeps the canonical)."""
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("source"),
        F.col(len_col).cast("long").alias("_len"),
        F.md5(F.col(text_col)).alias("_h"),
    )
    keep = rows.groupBy("_h").agg(F.min("_id").alias("_keep"))
    return (
        rows.join(keep, "_h")
        .withColumn("_is_dup", F.col("_id") != F.col("_keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("_is_dup").cast("long")).cast("long").alias("n_dup_docs"),
            F.sum("_len").cast("long").alias("chars_total"),
            F.sum(F.when(F.col("_is_dup"), F.col("_len")).otherwise(F.lit(0)))
            .cast("long").alias("chars_saved"),
        )
        .withColumn(
            "savings_ratio",
            F.round(F.col("chars_saved") / F.col("chars_total").cast("double"), 6),
        )
    )


def cdc_chunk_dup_stats(df: DataFrame, mask: int = 16, min_words: int = 1,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Content-defined chunking dedup audit (the FastCDC/LBFS idea at
    word granularity): a chunk boundary falls BEFORE every word whose
    hash is 0 mod ``mask``, so chunk edges are decided by CONTENT, not
    position — insert one word into a document and only the chunk
    containing it changes, where the fixed-stride substring spans
    (dedup.substring spans, Lee et al.) shift every window after the
    edit. Expected chunk length ~``mask`` words. Emits per document
    the chunk count and how much of it (chunks, words) also appears in
    ANOTHER document — the insertion-robust duplicated-mass audit.

    Exactness: boundaries, chunk ids (a per-doc running sum of
    boundary flags ordered by word position), md5 chunk digests, and
    all counts are integer/hash arithmetic — plain-SQL oracle.

    Scale shape: one explode; the running-sum window partitions by
    document (bounded frames); chunks aggregate by (doc, chunk);
    duplicate detection is a digest-count aggregate joined back on
    the 8-byte digest — exchanges carry digests, never text."""
    w = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "_w"),
    ).withColumn(
        "_bnd", (_hash60(F.col("_w")) % mask == 0).cast("int")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    w = w.withColumn("chunk_id", F.sum("_bnd").over(win))
    chunks = (
        w.groupBy(id_col, "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.md5(F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("pos", "_w"))
            ).getField("_w"))).alias("digest"),
        )
        .filter(F.col("n_words") >= min_words)
    )
    docs_per_digest = chunks.groupBy("digest").agg(
        F.count_distinct(F.col(id_col)).alias("_nd")
    )
    tagged = chunks.join(docs_per_digest, "digest").withColumn(
        "_dup", (F.col("_nd") > 1).cast("int")
    )
    return (
        tagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("_dup").cast("long").alias("n_dup_chunks"),
            F.sum(F.col("_dup") * F.col("n_words")).cast("long")
            .alias("n_dup_words"),
            F.round(
                F.sum(F.col("_dup") * F.col("n_words"))
                / F.sum("n_words").cast("double"),
                6,
            ).alias("dup_mass_ratio"),
        )
    )
