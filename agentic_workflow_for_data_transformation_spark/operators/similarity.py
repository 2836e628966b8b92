"""Similarity search over an embedding column (SURVEY.md section 2.9).

Tiers, all DataFrame-native:

- brute-force top-k: broadcast the query vector as a literal, one
  scan computing cosine, TakeOrderedAndProject for top-k. O(n*d) but
  embarrassingly parallel — the correct baseline, and at 100 TB still
  viable when the query set is small (scan once, score all queries
  per row);
- sign-LSH bucketed top-k: a bit-per-dimension sign bucket
  (deterministic, engine-portable) prunes the scan before exact
  scoring;
- IVF top-k: inverted lists by nearest centroid, probe the closest
  lists only — the partition-pruning scale path;
- embedding near-dup pairs: the dedup family's vector tier (bucketed
  self-join, cosine threshold);
- kNN join per label: exact nearest neighbor within a blocking key,
  the verification harness for ANN recall.

Every pairwise stage precomputes each row's L2 norm once and computes
cosine as dot/(norm_a*norm_b) — one interpreted fold per pair instead
of three (see functions/vectors.py for the measured cost model).
Cosines are rounded to 6 decimals in the emitted column; ties break
on id so results are total-ordered and engine-reproducible.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double_array,
    cosine_from_parts,
    dot,
    l2_norm,
    probe_dim,
)
from ..session import input_fingerprint, memo
from ..sources.io import write_parquet
from .dedup import spread_small_input
from .sampling import DRAW_BUCKETS, hash_draw


def _salt_ways(df: DataFrame, n_blocks: int) -> int:
    """How many ways to salt a blocked self-join whose equi-key has
    only ``n_blocks`` distinct values (guide-style skew handling: a
    join keyed on <= a handful of labels/cells caps parallelism at
    that count, leaving the rest of the cluster idle). Scale-adaptive:
    ceil(defaultParallelism / n_blocks), so a corpus with MANY blocks
    (auto_cells at scale) gets ways=1 — no replication overhead —
    while a few-block input splits each block across the idle cores.
    Salting only changes partitioning, never the joined pair set: the
    left row keeps ONE deterministic salt, the right side is
    replicated across all of them."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return max(1, math.ceil(dp / max(1, int(n_blocks))))


def _vec_norm(df: DataFrame, id_col: str, vec_col: str, dim: int,
              extra_cols: list[str] | None = None) -> DataFrame:
    """Project (id, v, nrm [, extras]): the double vector and its L2
    norm, computed once per row before any pairwise work."""
    return df.select(
        F.col(id_col),
        *(extra_cols or []),
        as_double_array(vec_col).alias("v"),
        l2_norm(vec_col, dim).alias("nrm"),
    )


def topk_cosine_bruteforce(df: DataFrame, query_id: int, k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           dim: int | None = None) -> DataFrame:
    """Exact top-k by cosine to the row with id ``query_id`` (excluded
    from results). The 1-row query side is broadcast."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    q = F.broadcast(
        rows.filter(F.col(id_col) == query_id)
        .select(F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    )
    scored = (
        rows.filter(F.col(id_col) != query_id)
        .crossJoin(q)
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6),
        )
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .select(id_col, "cos_sim")
        .limit(k)
    )


def sign_bucket(vec: str | F.Column, bits: int = 8) -> F.Column:
    """Deterministic sign-LSH bucket: one bit per leading dimension
    (>= 0 -> '1'). Portable to any ANSI engine, so the bucketed plan
    has an exact oracle."""
    v = as_double_array(vec)
    return F.concat(
        *[
            F.when(F.element_at(v, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )


def cached_count(df: DataFrame) -> int:
    """df.count() memoized per (applicationId, semantic plan hash,
    input-file fingerprint): the bits=None operators need the input
    cardinality at construction time, and a benchmark harness
    constructs each query several times — without the memo every
    construction pays a full scan. semanticHash distinguishes
    filtered/derived frames from the raw table; the input fingerprint
    (paths + local size/mtime) guards a long-lived application whose
    table is rewritten — even in place under the same file names — so
    the memo can never serve a stale cardinality."""
    key = (df.semanticHash(), input_fingerprint(df))
    return memo(df.sparkSession, "count", key, df.count)


def auto_bits(n: int, target_bucket: int = 200, lo: int = 2, hi: int = 16) -> int:
    """Sign-LSH bit count that keeps the EXPECTED bucket size constant
    (~``target_bucket`` rows) as the input grows: bits =
    clamp(ceil(log2(n / target)), lo, hi).

    This is what turns the bucketed pair joins from quadratic to
    ~linear in n: with fixed bits, bucket size grows with n and pair
    work grows as n^2/2^bits (measured e=1.78 at the sf0.1 -> sf1 step,
    BENCH_SCALE.md); with auto bits, pair work stays ~n * target.
    The formula is engine-portable — the DuckDB oracles compute the
    identical expression from count(*) — so scaling the bits does not
    break hash-matched correctness."""
    if n <= target_bucket:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n / float(target_bucket)))))


def topk_cosine_lsh(df: DataFrame, query_id: int, k: int = 5, bits: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """Bucketed ANN: score only rows whose sign-bucket equals the
    query's bucket. The bucket predicate prunes before any vector
    math; at scale, partition (or Z-order) the table by bucket so
    pruning happens at the file level."""
    dim = probe_dim(df, vec_col, dim)
    rows = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        l2_norm(vec_col, dim).alias("nrm"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    q = F.broadcast(
        rows.filter(F.col(id_col) == query_id).select(
            F.col("v").alias("qv"), F.col("nrm").alias("qnrm"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        rows.filter(F.col(id_col) != query_id)
        .crossJoin(q)
        .filter(F.col("bucket") == F.col("qbucket"))
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6),
        )
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .select(id_col, "cos_sim")
        .limit(k)
    )


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.4,
                            bits: int | None = 4,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: the dedup family's vector
    tier (exact/MinHash/SimHash handle text; this handles embeddings).
    Bucket by sign-LSH, self-join within bucket only, keep pairs with
    cosine >= threshold. The bucket equi-join keeps the pair space
    O(sum of bucket^2) instead of O(n^2) — the same LSH-first shape as
    MinHash dedup; at 100 TB, partition the table by bucket so each
    pair-block is co-located.

    ``bits=None`` sizes the bucket count from the input (auto_bits):
    constant expected bucket size, so pair work scales ~linearly
    instead of n^2/2^bits. Pass explicit bits only for fixed-recall
    comparisons at one known scale."""
    if bits is None:
        bits = auto_bits(cached_count(df))
    dim = probe_dim(df, vec_col, dim)
    b = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        l2_norm(vec_col, dim).alias("nrm"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("x.v"), F.col("y.v"), F.col("x.nrm"), F.col("y.nrm")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"x.{id_col}").alias("vec_a"),
            F.col(f"y.{id_col}").alias("vec_b"),
            "cos_sim",
        )
    )


def embedding_dedup_apply(df: DataFrame, threshold: float = 0.9,
                          bits: int | None = None,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          dim: int | None = None) -> DataFrame:
    """Apply embedding dedup by REPRESENTATIVE SELECTION — the linear
    sibling of embedding_neardup_pairs. Pair enumeration is inherently
    quadratic in the duplicate mass (BENCH_SCALE.md: 129k -> 8.3M pairs
    for 10x rows); a pipeline that only needs "keep one of each
    near-dup set" never has to list the pairs. This canopy-style pass
    costs one aggregation + one equi-join + one cosine per row:

    - bucket rows by (auto-sized) sign-LSH;
    - elect min-id per bucket as the representative;
    - keep the representative plus every row whose cosine to it is
      below the threshold.

    Approximate by construction, in the same direction as all LSH
    tiers: near-dups that land in different buckets both survive
    (missed dedup, never lost data), and a bucket's non-rep member
    similar to the rep but not to other members is still dropped only
    against the rep. Emits survivors with their bucket and cos_to_rep
    so the drop decision is auditable."""
    if bits is None:
        bits = auto_bits(cached_count(df))
    dim = probe_dim(df, vec_col, dim)
    b = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        l2_norm(vec_col, dim).alias("nrm"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    reps = b.groupBy("bucket").agg(F.min(id_col).alias("rep_id"))
    bv = b.select(
        F.col(id_col).alias("_rid"),
        F.col("v").alias("rv"),
        F.col("nrm").alias("rnrm"),
    )
    repv = (
        reps.join(bv, reps.rep_id == bv._rid)
        .select("bucket", "rep_id", "rv", "rnrm")
    )
    scored = b.join(repv, "bucket").withColumn(
        "cos_to_rep",
        F.round(cosine_from_parts(F.col("v"), F.col("rv"), F.col("nrm"), F.col("rnrm")), 6),
    )
    return scored.filter(
        (F.col(id_col) == F.col("rep_id")) | (F.col("cos_to_rep") < threshold)
    ).select(id_col, "bucket", "cos_to_rep")


def topk_cosine_ivf(df: DataFrame, query_id: int, k: int = 5,
                    n_centroids: int = 8, n_probe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """IVF-style ANN: partition the corpus into inverted lists by
    nearest centroid, then score only the lists nearest the query.

    Centroids are the ``n_centroids`` lowest-id vectors (deterministic
    seed sampling — engine-portable, unlike iterated k-means; a real
    deployment would refine them offline and broadcast the result, the
    query-time plan is identical). Assignment is one broadcast
    cross-join + window argmax; the probe prunes the exact scan to
    ~n_probe/n_centroids of the corpus. At scale, write the table
    partitioned by ``cell`` so a probe is file-level pruning."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    cents = F.broadcast(
        rows.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("cent_sim").desc(), F.col("cent_id")
    )
    assigned = (
        rows.crossJoin(cents)
        .withColumn(
            "cent_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")), 6),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select(id_col, "v", "nrm", F.col("cent_id").alias("cell"))
    )
    probe = F.broadcast(
        rows.filter(F.col(id_col) == query_id)
        .select(F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
        .crossJoin(cents)
        .withColumn(
            "cent_sim",
            F.round(cosine_from_parts(F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm")), 6),
        )
        .orderBy(F.col("cent_sim").desc(), F.col("cent_id"))
        .limit(n_probe)
        .select(F.col("cent_id").alias("probe_cell"), "qv", "qnrm")
    )
    return (
        assigned.join(probe, assigned.cell == probe.probe_cell)
        .filter(F.col(id_col) != query_id)
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .select(id_col, "cell", "cos_sim")
        .limit(k)
    )


def topk_cosine_partition_pruned(
    spark, df: DataFrame, query_id: int, out_path, k: int = 5, bits: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Serving-path ANN with FILE-LEVEL pruning: materialize the corpus
    partitioned by sign-LSH bucket (one directory per bucket), then
    probe with a *literal* bucket predicate so the re-read scan touches
    only the query's partition — the plan shows the predicate under
    ``PartitionFilters`` and lists exactly one of the 2^bits
    directories. At 100 TB this is the difference between scanning the
    whole corpus and scanning ~1/2^bits of it before any vector math.

    The query vector is fetched with ONE single-row driver lookup (the
    legitimate driver action for a point query) which turns the bucket
    into a static literal — no join, no dynamic pruning machinery
    needed. Semantically identical to ``topk_cosine_lsh``; only the
    physical layout differs, so the same exact oracle applies."""

    base = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    write_parquet(base, out_path, partition_by=["bucket"])
    part = spark.read.parquet(str(out_path))

    qrow = (
        df.filter(F.col(id_col) == query_id)
        .select(as_double_array(vec_col).alias("qv"))
        .first()
    )
    qv = [float(x) for x in qrow["qv"]]
    dim = len(qv)
    qbucket = "".join("1" if x >= 0 else "0" for x in qv[:bits])
    qnrm = math.sqrt(sum(x * x for x in qv))
    qv_col = F.array(*[F.lit(x) for x in qv])

    scored = (
        part.filter(F.col("bucket") == qbucket)  # static partition filter
        .filter(F.col(id_col) != query_id)
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("v"), qv_col, l2_norm("v", dim), F.lit(qnrm)),
                6,
            ),
        )
    )
    return (
        scored.orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .select(id_col, "cos_sim")
        .limit(k)
    )


def topk_cosine_multi(df: DataFrame, query_ids: list[int], k: int = 3,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int | None = None) -> DataFrame:
    """Batch ANN: top-k for MANY queries in ONE corpus scan. The query
    set broadcasts; every corpus row scores against all queries
    (broadcast nested-loop), then a per-query window keeps k. At
    100 TB this is the right shape whenever the query batch is small
    enough to broadcast: corpus passes stay O(1) regardless of query
    count, instead of one scan per query."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    queries = F.broadcast(
        rows.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        rows.crossJoin(queries)
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col, "cos_sim", "rn")
    )


def knn_join_per_label(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", label_col: str = "label",
                       k: int = 1, dim: int | None = None) -> DataFrame:
    """Exact k-nearest-neighbor self-join blocked by ``label_col``:
    within each label, every vector gets its top-k neighbors by cosine.
    The label is the join key, so the pair space is per-block, not
    global — the blocked-similarity-join shape used to verify ANN
    recall at scale.

    EAGER: sizing the salt runs a distinct-label count job at
    DataFrame-CONSTRUCTION time (memoized per session by
    cached_count), so the first build pays a scan and scan failures
    surface at build, not at run."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim, extra_cols=[label_col])
    # salt the blocked self-join (guide-style skew fix): the equi-key
    # has only |labels| distinct values, so an unsalted join caps the
    # quadratic pair work at |labels| tasks; each left row keeps one
    # deterministic salt and the right side replicates across all of
    # them — identical pair set, ceil(P/|labels|)-way wider
    ways = _salt_ways(df, cached_count(df.select(label_col).distinct()))
    left = rows.select(
        F.col(id_col).alias("a_id"),
        F.col(label_col).alias("label"),
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_nrm"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(ways)).cast("int")
        .alias("_s"),
    )
    right = rows.select(
        F.col(id_col).alias("b_id"),
        F.col(label_col).alias("label"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_nrm"),
    ).withColumn(
        "_s",
        F.explode(F.sequence(F.lit(0), F.lit(int(ways) - 1))),
    )
    pairs = (
        left.join(right, ["label", "_s"])
        .filter(F.col("a_id") != F.col("b_id"))
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")), 6),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), F.col("b_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("a_id").alias("vec_id"), "label",
                F.col("b_id").alias("nn_vec_id"), "cos_sim")
    )


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization: per-vector scale = max(|x|)/127 (1.0
    for all-zero vectors), elements rounded to [-127, 127] ints — the
    4x storage/bandwidth cut a 100 TB embedding store takes before
    ANN serving. Pure JVM array expressions (transform/array_max), no
    Python; both the scale and every quantized element have exact
    engine-portable arithmetic, so the operator is oracle-checkable.
    Emits (id, scale, qvec array<int>)."""
    v = as_double_array(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    # materialize the scale in its own projection FIRST: referencing the
    # scale expression inside the quantizing lambda would re-evaluate the
    # O(dim) array_max per element (O(dim^2)/row, interpreted) — measured
    # 3.4x slower than this two-step form
    base = df.select(F.col(id_col), v.alias("_v"), scale.alias("_s"))
    q = F.transform(F.col("_v"), lambda x: F.round(x / F.col("_s")).cast("int"))
    return base.select(
        F.col(id_col), F.round("_s", 9).alias("scale"), q.alias("qvec")
    )


def kmeans_assign(df: DataFrame, n_centroids: int = 8, n_iter: int = 1,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int | None = None) -> DataFrame:
    """Lloyd's k-means as the driver-loop iterative pattern (same shape
    as connected_components): deterministic init (the n_centroids
    lowest-id vectors), then per iteration (a) assign every vector to
    its max-cosine centroid (broadcast centroids, window argmax, ties
    to the lowest cell id) and (b) recompute centroids as per-cell
    element means. Emits the final (vec_id, cell, cent_sim).

    Determinism is engineered so even the iterated algorithm has an
    exact oracle: element sums go through decimal(20,10) (partition-
    order independent), refined centroid components round to 6
    decimals BEFORE the next assignment, and cosines round to 6 with
    id tiebreaks. Per-iteration localCheckpoint truncates lineage, so
    plan size stays constant however many iterations run; each round
    is one explode-aggregate plus one broadcast join — no shuffle of
    the corpus beyond the assignment aggregate."""
    dim = probe_dim(df, vec_col, dim)
    # session artifact: semantic dedup, cluster purity, and the
    # refined-centroid query all run Lloyd on the SAME corpus — a
    # production pipeline materializes the clustering once and every
    # consumer reads it, so the registry does too. Keyed like
    # cached_count (semantic plan hash + input-file fingerprint) so a
    # different table, filter, or rewritten file can never hit.
    key = (
        df.semanticHash(), input_fingerprint(df),
        int(n_centroids), int(n_iter), id_col, vec_col, int(dim),
    )
    return memo(df.sparkSession, "kmeans", key,
                lambda: _lloyd(df, n_centroids, n_iter, id_col, vec_col, dim))


def _lloyd(df: DataFrame, n_centroids: int, n_iter: int, id_col: str,
           vec_col: str, dim: int) -> DataFrame:
    # spread BEFORE the checkpoint: the checkpointed frame keeps its
    # partitioning, and every assign() pass (n_centroids cosines per
    # row) runs on it
    rows = _vec_norm(spread_small_input(df), id_col, vec_col, dim).localCheckpoint()

    cents = rows.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias("cell"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )

    def assign(c: DataFrame) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy(F.col("cent_sim").desc(), F.col("cell"))
        return (
            rows.crossJoin(F.broadcast(c))
            .withColumn(
                "cent_sim",
                F.round(cosine_from_parts(F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm")), 6),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "v", "cell", "cent_sim")
        )

    for _ in range(n_iter):
        assigned = assign(cents)
        refined = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cval")
            )
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pl"))
            .select("cell", F.transform("pl", lambda s: s["cval"]).alias("cv"))
            .withColumn("cnrm", l2_norm("cv", dim))
            .localCheckpoint()
        )
        cents = refined

    return assign(cents).select(id_col, "cell", "cent_sim") \
        .localCheckpoint(eager=False)


def ann_recall_vs_bruteforce(df: DataFrame, query_ids: list[int], k: int = 5,
                             bits: int = 4, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int | None = None) -> DataFrame:
    """Recall@k harness: for each query, |ANN(sign-LSH) top-k  n
    exact top-k| / k. This is the measurement every ANN deployment
    needs BEFORE trusting the bucketed path — recall quantifies what
    the pruning loses. Per query the exact side is one broadcast scan
    (same plan as topk_cosine_bruteforce) and the ANN side scans only
    the query's bucket; both top-k's are TakeOrderedAndProject, and the
    intersection is a tiny join on (query_id, vec_id). Emits
    (query_id, n_ann, n_hits, recall) — n_ann < k flags underfull
    buckets (recall denominator stays k by convention)."""

    exact = topk_cosine_multi(df, query_ids=query_ids, k=k, id_col=id_col,
                              vec_col=vec_col, dim=dim).select(
        "query_id", id_col
    )
    # ANN side: ONE bucketed scan scored against the broadcast
    # query-row frame (not one pipeline per query) — same shape as
    # topk_cosine_multi with the bucket-equality prune added, so the
    # data side is read once however many queries ride along
    dim = probe_dim(df, vec_col, dim)
    rows = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        l2_norm(vec_col, dim).alias("nrm"),
        sign_bucket(vec_col, bits).alias("bucket"),
    )
    q = F.broadcast(
        rows.filter(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"), F.col("bucket").alias("qbucket"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    ann = (
        rows.crossJoin(q)
        .filter((F.col(id_col) != F.col("query_id")) & (F.col("bucket") == F.col("qbucket")))
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qnrm")), 6),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col)
    )
    # both top-k frames are |query_ids| x k rows — broadcast the exact
    # side into the intersection so nothing re-sorts for tiny joins
    hits = ann.join(F.broadcast(exact), ["query_id", id_col]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    counts = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    # the per-query count frames are |query_ids| rows — broadcast the
    # outer side explicitly so the static plan never sorts for them
    return (
        counts.join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            "n_ann",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6).alias("recall"),
        )
    )


def residual_sign_bucket(rows: DataFrame, bits: int, label_col: str,
                         vec_col: str = "v") -> DataFrame:
    """Sign-LSH bucket of the PER-BLOCK RESIDUAL (v - block mean) —
    appended as a ``bucket`` column.

    Raw sign buckets stop subdividing once the blocking key is itself a
    cluster label: within one cluster nearly every vector shares the
    sign of every high-|center| dimension, so adding bits does not
    shrink the block and pair work stays quadratic (measured e=1.39 at
    the sf0.1 -> sf1 step, BENCH_SCALE.md). Centering per block first
    makes each leading dimension a ~50/50 split of that block, so the
    expected block size really is block/2^bits.

    The block mean is computed decimal-exact and rounded to 6 decimals
    (the same discipline as kmeans_assign) so every engine derives the
    identical center — and therefore the identical buckets."""
    # slice BEFORE exploding: Catalyst does not push the i<bits filter
    # through posexplode, so exploding all 64 dims to keep 2-16 would
    # do 4-32x the generator work on the mean-computation path
    pos = rows.select(
        label_col,
        F.posexplode(F.slice(F.col(vec_col), 1, bits)).alias("i", "x"),
    )
    means = pos.groupBy(label_col, "i").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(27,10)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    centers = means.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    joined = rows.join(F.broadcast(centers), label_col)
    bucket = F.concat(
        *[
            F.when(
                F.element_at(F.col(vec_col), i + 1) - F.element_at("cv", i + 1) >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
    return joined.withColumn("bucket", bucket).drop("cv")


def knn_join_bucketed(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding", label_col: str = "label",
                      k: int = 1, bits: int | None = 4,
                      dim: int | None = None) -> DataFrame:
    """The SCALE path for the per-label kNN join: block by
    (label, sign-LSH bucket) instead of label alone, so each pair block
    shrinks ~2^bits x and total pair work drops from sum(label^2) to
    sum(label-bucket^2). Approximate by construction — a vector's true
    nearest neighbor in another bucket is missed (measure the tradeoff
    with ann_recall_vs_bruteforce); vectors alone in their bucket emit
    no row. This is the operator a 100 TB pipeline runs where
    knn_join_per_label is the exact recall harness it is validated
    against on samples.

    ``bits=None`` auto-sizes the bucket count (auto_bits) so the
    per-(label, bucket) block size — and with it total pair work —
    stays ~constant per row as the input grows. Buckets are signs of
    the per-label residual (see residual_sign_bucket): raw signs
    cannot subdivide a block that is itself a similarity cluster."""
    if bits is None:
        bits = auto_bits(cached_count(df))
    dim = probe_dim(df, vec_col, dim)
    rows = residual_sign_bucket(
        df.select(
            F.col(id_col),
            F.col(label_col),
            as_double_array(vec_col).alias("v"),
            l2_norm(vec_col, dim).alias("nrm"),
        ),
        bits,
        label_col,
    )
    left = rows.select(
        F.col(id_col).alias("a_id"), F.col(label_col).alias("label"),
        F.col("bucket"), F.col("v").alias("a_v"), F.col("nrm").alias("a_nrm"),
    )
    right = rows.select(
        F.col(id_col).alias("b_id"), F.col(label_col).alias("label"),
        F.col("bucket"), F.col("v").alias("b_v"), F.col("nrm").alias("b_nrm"),
    )
    pairs = (
        left.join(right, ["label", "bucket"])
        .filter(F.col("a_id") != F.col("b_id"))
        .withColumn(
            "cos_sim",
            F.round(cosine_from_parts(F.col("a_v"), F.col("b_v"), F.col("a_nrm"), F.col("b_nrm")), 6),
        )
    )
    w = Window.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), F.col("b_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col("a_id").alias("vec_id"), "label",
                F.col("b_id").alias("nn_vec_id"), "cos_sim")
    )


def l2_distance(a: F.Column, b: F.Column) -> F.Column:
    """Euclidean distance as one deterministic left-fold (matches the
    sequential sum inside DuckDB's list_distance, so rounded values
    agree across engines)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_distance_unrolled(a: F.Column, b: F.Column, width: int) -> F.Column:
    """BIT-IDENTICAL twin of :func:`l2_distance` for a KNOWN vector
    width, unrolled into plain element_at arithmetic: higher-order
    lambdas (aggregate/zip_with) evaluate interpreted outside
    whole-stage codegen, while this form codegens — measured ~3x on
    the streaming ANN serve LUT. Same left-to-right term order as the
    fold ((t1+t2)+t3...; the fold's 0.0+t1 equals t1 exactly, squares
    are never -0.0), so every rounded value matches l2_distance and
    DuckDB's list_distance."""
    s: F.Column | None = None
    for i in range(1, width + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        term = d * d
        s = term if s is None else s + term
    return F.sqrt(s)


def _pq_subvectors(df: DataFrame, m: int, sub_w: int, id_col: str,
                   vec_col: str) -> DataFrame:
    """(id, sub, sv): each vector sliced into its m subvectors BEFORE
    the explode, so only sub_w-wide arrays ever travel.

    The subvector frame is repartitioned by (id, sub) across the
    cluster's parallelism: the k-candidate distance argmin that
    follows is a map-side k-times blowup, and on a small or
    single-file input it would otherwise evaluate entirely inside the
    scan's few partitions (measured 41 s -> ~2 s on the sf0.1 encode).
    The hash keys MATCH the downstream groupBy(id, sub), so this is
    the aggregate's exchange moved before the expensive map — not an
    extra shuffle."""
    v = as_double_array(F.col(vec_col))
    out = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(v, i * sub_w + 1, sub_w) for i in range(m)])
        ).alias("sub", "sv"),
    )
    n = df.sparkSession.sparkContext.defaultParallelism
    return out.repartition(n, F.col(id_col), F.col("sub"))


def train_pq_codebook(df: DataFrame, m: int = 4, k: int = 8, n_iter: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int | None = None,
                      sample_n: int | None = None) -> DataFrame:
    """Per-subspace Lloyd k-means PQ codebook (Jégou et al., PAMI 2011
    §II.C: PQ quality is the per-subspace quantizer's, so each of the
    m subspaces trains its own k centroids). This replaces the
    seeded-exemplar codebook that honestly measured recall@10 = 0.1 —
    training is what makes PQ servable.

    Same determinism engineering as kmeans_assign, so even the
    iterated trainer has an exact SQL oracle: init = the subvectors of
    the k lowest-id vectors; assignment distance rounds to 6 with ties
    to the lowest centroid id; refined components are decimal(20,10)
    sums divided in doubles, rounded to 6 BEFORE the next assignment;
    a fixed n_iter (no data-dependent convergence test) keeps the
    unrolled oracle finite. Per-iteration localCheckpoint truncates
    lineage so plan size is constant in n_iter.

    Scale shape: each iteration is one broadcast join (codebook is
    m*k rows) + one (id, sub) aggregate + one (sub, cent, pos)
    aggregate — the corpus never self-joins. At 100 TB you do NOT
    train on the corpus: pass ``sample_n`` to train on the ids below
    it (the deterministic sample; testdata ids are dense) and the
    training cost decouples from corpus size entirely — encoding with
    the frozen codebook is the only full scan.

    Returns (sub, cent, cv) — the m*k centroid frame product_quantize
    and topk_pq_adc accept as ``codebook``."""
    sub_w = (dim or probe_dim(df, vec_col)) // m
    src = df if sample_n is None else df.filter(F.col(id_col) < sample_n)
    subs = _pq_subvectors(src, m, sub_w, id_col, vec_col).localCheckpoint()
    cents = subs.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("long").alias("cent"), "sub", F.col("sv").alias("cv")
    )
    d = F.round(l2_distance(F.col("sv"), F.col("cv")), 6)
    for _ in range(n_iter):
        # argmin centroid per (vector, subspace); sv rides along in the
        # struct (never reaches the comparison: (d, cent) is already
        # unique per candidate row) so no second join is needed
        assigned = (
            subs.join(F.broadcast(cents), "sub")
            .groupBy(id_col, "sub")
            .agg(F.min(F.struct(d.alias("d"), F.col("cent"),
                                F.col("sv").alias("sv"))).alias("best"))
        )
        cents = (
            assigned.select(
                "sub",
                F.col("best")["cent"].alias("cent"),
                F.posexplode(F.col("best")["sv"]).alias("pos", "val"),
            )
            .groupBy("sub", "cent", "pos")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("cval")
            )
            .groupBy("sub", "cent")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pl"))
            .select("sub", "cent", F.transform("pl", lambda s: s["cval"]).alias("cv"))
            .localCheckpoint()
        )
    return cents


def product_quantize(df: DataFrame, m: int = 4, k: int = 8,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int | None = None,
                     codebook: DataFrame | None = None) -> DataFrame:
    """Product quantization (Jégou et al., PAMI 2011): split each
    vector into ``m`` subvectors, assign each to its nearest of ``k``
    per-subspace centroids, report the code word and the per-vector
    reconstruction error — the compression step an ANN serving tier
    runs so 100 TB of float32 embeddings become m bytes per vector.

    Codebook: pass a trained (sub, cent, cv) frame from
    train_pq_codebook (the servable path); with ``codebook=None`` it
    falls back to the subvectors of the first ``k`` vectors (id < k) —
    the seeded-exemplar baseline, deterministic with no training loop,
    kept as the distortion yardstick the trained codebook must beat.

    Scale shape: the codebook is a k*m-row frame broadcast to every
    executor; the corpus explodes to m rows per vector (slice BEFORE
    explode so only subvector arrays travel), the argmin per
    (vector, subspace) is one min_by aggregate keyed on the id — a
    single corpus-sized exchange carrying (id, sub, 16 floats). The
    per-vector code assembly is a second small aggregate on the same
    key, so AQE coalesces the two into one partitioning.

    Determinism: distances are the same left-fold shape both engines
    round to 6; ties break on the lower centroid id via min(struct).

    Returns the code table in relational (exploded) form — one row per
    (vector, subspace) with the winning centroid and its distance —
    so results stay array-free and hash-comparable; downstream packs
    codes with collect_list when it wants the m-byte word."""
    sub_w = (dim or probe_dim(df, vec_col)) // m
    subs = _pq_subvectors(df, m, sub_w, id_col, vec_col)
    cents = (
        subs.filter(F.col(id_col) < k)
        .select(F.col(id_col).alias("cent"), "sub", F.col("sv").alias("cv"))
        if codebook is None
        else codebook
    )
    d = F.round(l2_distance(F.col("sv"), F.col("cv")), 6)
    return (
        subs.join(F.broadcast(cents), "sub")
        .groupBy(id_col, "sub")
        .agg(F.min(F.struct(d.alias("d"), F.col("cent"))).alias("best"))
        .select(
            id_col,
            "sub",
            F.col("best")["cent"].alias("cent"),
            F.col("best")["d"].alias("dist"),
        )
    )


def topk_pq_adc(df: DataFrame, query_id: int, k: int = 10, m: int = 4,
                n_cents: int = 8, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int | None = None,
                codebook: DataFrame | None = None,
                codes: DataFrame | None = None) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC — Jégou et al.
    2011 §IV): the query stays full-precision, the corpus is its
    product-quantization CODES, and each candidate's distance is the
    sum over subspaces of a k*m lookup table — the compressed serving
    path that scans m bytes per vector instead of d floats.

    Scale shape: the code table comes from product_quantize (one
    corpus exchange); the query's per-(subspace, centroid) distance
    table is k*m rows computed from broadcast frames and broadcast
    back, so the scoring join adds NO corpus shuffle beyond the code
    aggregate; top-k is TakeOrderedAndProject on the rounded score.
    Pass ``codes`` (a materialized product_quantize output) to serve
    MANY queries from one encode — re-encoding per query multiplies
    every lookup by the n*(m*k) assignment join (the round-9 solo
    sweep measured that join at 150+ s per query at sf10; the served
    code-table scan is n*m rows, each matching exactly ONE broadcast
    LUT row). A deployment encodes once per corpus snapshot, offline.

    Determinism: per-cell distances round to 6 before the m-term sum,
    which rounds again; ties at the k boundary break on the id."""
    sub_w = (dim or probe_dim(df, vec_col)) // m
    subs = _pq_subvectors(df, m, sub_w, id_col, vec_col)
    cents = (
        subs.filter(F.col(id_col) < n_cents)
        .select(F.col(id_col).alias("cent"), "sub", F.col("sv").alias("cv"))
        if codebook is None
        else codebook
    )
    qsubs = subs.filter(F.col(id_col) == query_id).select(
        "sub", F.col("sv").alias("qv")
    )
    lut = (
        cents.join(F.broadcast(qsubs), "sub")
        .select(
            "sub",
            "cent",
            F.round(l2_distance(F.col("qv"), F.col("cv")), 6).alias("qd"),
        )
    )
    if codes is None:
        codes = product_quantize(df, m=m, k=n_cents, id_col=id_col,
                                 vec_col=vec_col, dim=dim,
                                 codebook=codebook)
    return (
        codes.join(F.broadcast(lut), ["sub", "cent"])
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("qd") * F.col("qd")), 6).alias("adc_dist"))
        .filter(F.col(id_col) != query_id)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def pq_recall_vs_exact(df: DataFrame, query_id: int, k: int = 10, m: int = 4,
                       n_cents: int = 8, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int | None = None,
                       codebook: DataFrame | None = None,
                       codes: DataFrame | None = None) -> DataFrame:
    """Recall@k of the PQ/ADC path against the exact L2 top-k (same
    metric — ADC approximates Euclidean distance, so cosine ground
    truth would conflate metric mismatch with quantization loss).
    The measurement that decides whether m/k codebook sizing is good
    enough to serve. One row: (query_id, n_hits, recall)."""
    adc = topk_pq_adc(df, query_id, k=k, m=m, n_cents=n_cents,
                      id_col=id_col, vec_col=vec_col, dim=dim,
                      codebook=codebook, codes=codes).select(id_col)
    rows = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    q = F.broadcast(
        rows.filter(F.col(id_col) == query_id).select(F.col("v").alias("qv"))
    )
    exact = (
        rows.filter(F.col(id_col) != query_id)
        .crossJoin(q)
        .select(
            F.col(id_col),
            F.round(l2_distance(F.col("v"), F.col("qv")), 6).alias("d"),
        )
        .orderBy(F.col("d").asc(), F.col(id_col))
        .limit(k)
        .select(id_col)
    )
    return adc.join(exact, id_col).agg(
        F.lit(query_id).cast("long").alias("query_id"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / F.lit(float(k)), 6).alias("recall"),
    )


def ivf_residuals(df: DataFrame, n_cells: int = 8, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  dim: int | None = None) -> DataFrame:
    """Coarse-quantizer assignment for IVFADC (Jégou et al., PAMI 2011
    §IV-A): every vector goes to its nearest-by-L2 coarse centroid
    (the n_cells lowest-id vectors — the deterministic seed; a real
    deployment refines them offline, the query-time plan is
    identical), and what the fine quantizer sees is the RESIDUAL
    v - centroid — residuals cluster far tighter than raw vectors, so
    the same PQ codebook budget buys much less distortion.

    Emits (id, cell, rv). One broadcast of n_cells full vectors, one
    argmin via min(struct) — no window, no corpus self-join; the
    residual subtraction is exact IEEE (identical shape in the SQL
    oracle), so nothing here needs rounding."""
    dim = probe_dim(df, vec_col, dim)
    v = as_double_array(F.col(vec_col))
    rows = df.select(F.col(id_col), v.alias("v"))
    cents = F.broadcast(
        rows.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).cast("long").alias("cell"), F.col("v").alias("cv")
        )
    )
    d = F.round(l2_distance(F.col("v"), F.col("cv")), 6)
    return (
        rows.crossJoin(cents)
        .groupBy(id_col)
        .agg(F.min(F.struct(d.alias("d"), F.col("cell"),
                            F.col("v").alias("v"),
                            F.col("cv").alias("cv"))).alias("best"))
        .select(
            F.col(id_col),
            F.col("best")["cell"].alias("cell"),
            F.zip_with(F.col("best")["v"], F.col("best")["cv"],
                       lambda x, y: x - y).alias("rv"),
        )
    )


def topk_ivfpq_adc(df: DataFrame, query_id: int, k: int = 10,
                   n_cells: int = 8, n_probe: int = 2, m: int = 32,
                   n_cents: int = 128, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int | None = None,
                   residuals: DataFrame | None = None,
                   codebook: DataFrame | None = None,
                   codes: DataFrame | None = None) -> DataFrame:
    """IVF + PQ asymmetric-distance top-k — the full IVFADC serving
    stack (Jégou et al. 2011 §IV): the coarse quantizer prunes the
    scan to the ``n_probe`` cells nearest the query, and within those
    inverted lists candidates are scored from their RESIDUAL PQ codes
    via per-cell lookup tables (the query's residual differs per
    probed cell, so each probed cell gets its own k*m LUT).

    Scale shape: everything query-side (coarse centroids, probe list,
    LUTs) is broadcast; the corpus-side work is the one-off residual
    encode (same exchange discipline as product_quantize) and then a
    code-table scan FILTERED to the probed cells — at scale, write
    the code table partitioned by cell and the probe is file-level
    pruning, scanning n_probe/n_cells of the codes and none of the
    vectors. Pass ``residuals``/``codebook`` to reuse the session's
    trained artifacts (training is offline in a real deployment), and
    ``codes`` (a materialized (id, sub, cent, dist, cell) residual
    code table — write_ivfpq_index persists exactly this, partitioned
    by cell) to serve from the index instead of re-encoding the
    corpus per query: the encode is an n*(m*n_cents) assignment join
    that dominated the registered query's solo sf10 time before the
    round-9 serve rewrite.

    Determinism: the same round-6/tie-on-id discipline as the flat
    ADC path, applied per probed cell."""
    dim = probe_dim(df, vec_col, dim)
    if residuals is None:
        residuals = ivf_residuals(df, n_cells=n_cells, id_col=id_col,
                                  vec_col=vec_col, dim=dim)
    if codebook is None:
        codebook = train_pq_codebook(residuals, m=m, k=n_cents, n_iter=2,
                                     id_col=id_col, vec_col="rv", dim=dim)
    sub_w = dim // m
    if codes is None:
        # corpus side: residual PQ codes, carrying each vector's cell
        codes = product_quantize(residuals, m=m, k=n_cents, id_col=id_col,
                                 vec_col="rv", dim=dim, codebook=codebook)
        cells = residuals.select(F.col(id_col), "cell")
        codes = codes.join(cells, id_col)
    # query side: nearest n_probe coarse cells by L2, then one LUT per
    # probed cell over the query's residual TO THAT CELL
    v = as_double_array(F.col(vec_col))
    rows = df.select(F.col(id_col), v.alias("v"))
    cents = rows.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("long").alias("cell"), F.col("v").alias("cv")
    )
    probe = (
        rows.filter(F.col(id_col) == query_id)
        .crossJoin(F.broadcast(cents))
        .select(
            "cell",
            F.round(l2_distance(F.col("v"), F.col("cv")), 6).alias("cd"),
            F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x - y).alias("qrv"),
        )
        .orderBy(F.col("cd").asc(), F.col("cell"))
        .limit(n_probe)
    )
    qsubs = probe.select(
        "cell",
        F.posexplode(
            F.array(*[F.slice(F.col("qrv"), i * sub_w + 1, sub_w)
                      for i in range(m)])
        ).alias("sub", "qv"),
    )
    lut = (
        qsubs.join(codebook.withColumnRenamed("cv", "ccv"), "sub")
        .select(
            "cell", "sub", "cent",
            F.round(l2_distance(F.col("qv"), F.col("ccv")), 6).alias("qd"),
        )
    )
    return (
        codes.join(F.broadcast(lut), ["cell", "sub", "cent"])
        .groupBy(id_col, "cell")
        .agg(F.round(F.sum(F.col("qd") * F.col("qd")), 6).alias("adc_dist"))
        .filter(F.col(id_col) != query_id)
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .select(id_col, "cell", "adc_dist")
        .limit(k)
    )


def write_ivfpq_index(df: DataFrame, index_dir: str, n_cells: int = 8,
                      m: int = 32, n_cents: int = 128, n_iter: int = 2,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int | None = None,
                      sample_n: int | None = None) -> None:
    """Persist the IVFADC serving artifacts — the offline build step a
    deployment runs once per corpus snapshot: coarse centroids,
    trained residual codebook, and the residual code table written
    PARTITIONED BY CELL, so a query-time probe of n_probe cells is
    file-level partition pruning (the scan literally never opens
    unprobed lists). Everything the serve path needs, nothing of the
    raw vectors."""
    dim = probe_dim(df, vec_col, dim)
    res = ivf_residuals(df, n_cells=n_cells, id_col=id_col,
                        vec_col=vec_col, dim=dim).localCheckpoint()
    cb = train_pq_codebook(res, m=m, k=n_cents, n_iter=n_iter,
                           id_col=id_col, vec_col="rv", dim=dim,
                           sample_n=sample_n)
    codes = product_quantize(res, m=m, k=n_cents, id_col=id_col,
                             vec_col="rv", dim=dim, codebook=cb)
    codes = codes.join(res.select(F.col(id_col), "cell"), id_col)
    v = as_double_array(F.col(vec_col))
    cents = df.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("long").alias("cell"), v.alias("cv")
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cb.write.mode("overwrite").parquet(f"{index_dir}/codebook")
    codes.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/codes"
    )


def load_ivfpq_index(spark, index_dir: str) -> tuple:
    """Load (and pin) the serving artifacts once per process: coarse
    centroids and codebook are tiny broadcast-side frames — persist
    them so a long-lived server (or every streaming micro-batch)
    reuses the deserialized blocks instead of re-reading parquet."""
    cents = spark.read.parquet(f"{index_dir}/centroids").persist()
    cb = spark.read.parquet(f"{index_dir}/codebook").persist()
    codes = spark.read.parquet(f"{index_dir}/codes")
    cents.count(), cb.count()
    return cents, cb, codes


def topk_ivfpq_from_index(queries: DataFrame, index_dir: str, k: int = 10,
                          n_probe: int = 4, m: int = 32,
                          dim: int | None = None,
                          query_id_col: str = "query_id",
                          query_vec_col: str = "qv",
                          index: tuple | None = None) -> DataFrame:
    """Multi-query IVFADC top-k against a PERSISTED index
    (write_ivfpq_index) — the serve path shared by ad-hoc batch
    lookups and the streaming micro-batch server (streaming/serve.py):
    per query, probe the n_probe nearest coarse cells, build one
    lookup table per probed cell over the query's residual, and score
    only the probed cells' code partitions (partition pruning does the
    list selection). Everything query-sized broadcasts; the only
    corpus-side work is the pruned code scan.

    Emits (query_id, vec_id, cell, adc_dist, rank), rank 1..k per
    query with the family's (adc_dist, vec_id) tie order."""
    spark = queries.sparkSession
    cents, cb, codes = index if index is not None else load_ivfpq_index(
        spark, index_dir
    )
    cents = F.broadcast(cents)
    if dim is None:
        dim = probe_dim(queries, query_vec_col)
    sub_w = dim // m
    qrows = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(query_vec_col).alias("qv"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("cd").asc(), F.col("cell")
    )
    probe = (
        qrows.crossJoin(cents)
        .select(
            "query_id",
            "cell",
            F.round(l2_distance_unrolled(F.col("qv"), F.col("cv"), dim), 6).alias("cd"),
            F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x - y).alias("qrv"),
        )
        .withColumn("pr", F.row_number().over(w_probe))
        .filter(F.col("pr") <= n_probe)
    )
    qsubs = probe.select(
        "query_id",
        "cell",
        F.posexplode(
            F.array(*[F.slice(F.col("qrv"), i * sub_w + 1, sub_w)
                      for i in range(m)])
        ).alias("sub", "qsv"),
    )
    lut = (
        qsubs.join(cb.withColumnRenamed("cv", "ccv"), "sub")
        .select(
            "query_id", "cell", "sub", "cent",
            F.round(l2_distance_unrolled(F.col("qsv"), F.col("ccv"), sub_w), 6).alias("qd"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id")
    )
    return (
        codes.join(F.broadcast(lut), ["cell", "sub", "cent"])
        .groupBy("query_id", "vec_id", "cell")
        .agg(F.round(F.sum(F.col("qd") * F.col("qd")), 6).alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cell", "adc_dist", "rank")
    )


def auto_cells(n: int, target_cell: int = 512, lo: int = 8) -> int:
    """Centroid count that keeps the EXPECTED k-means cell size
    constant (~``target_cell`` rows) as the input grows: cells =
    max(lo, ceil(n / target)). The semantic-dedup analog of auto_bits:
    with FIXED cells the within-cell pair stage grows n^2/cells; with
    auto cells it stays ~n * target. Engine-portable (the oracle
    renders greatest(lo, ceil(count(*)/target)) over the same rows),
    so auto-sizing preserves hash-matched correctness."""
    return max(lo, math.ceil(n / float(target_cell)))


def semantic_dedup(df: DataFrame, n_centroids: int | None = 8,
                   threshold: float = 0.3,
                   n_iter: int = 1, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   dim: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering-then-local-pruning. Cluster the
    embeddings with k-means (the deterministic Lloyd loop from
    kmeans_assign), then within each cluster drop every vector that
    has cosine >= threshold to a LOWER-ID member of the same cluster;
    survivors keep their cluster id and centroid similarity. The
    paper keeps the member farthest from the centroid per duplicate
    group; the lowest-id rule here is the engine-portable equivalent
    (one deterministic representative per group) so even the full
    cluster+prune pipeline has an exact SQL oracle.

    Scale shape: the pairwise stage is an equi-join on cell, so pair
    work is sum(|cell|^2) — never global n^2. ``n_centroids=None``
    auto-sizes the cell count from the input (auto_cells: constant
    expected cell size), which keeps the prune ~linear as the corpus
    grows; at 100 TB also partition the assignment by cell so each
    pair-block is co-located (the final anti-join keys on id only).
    Threshold note: real text embeddings concentrate near-duplicate
    mass above ~0.95; the synthetic testdata vectors are diffuse, so
    the default 0.3 is the analog that exercises the drop path."""
    if n_centroids is None:
        n_centroids = auto_cells(cached_count(df))
    dim = probe_dim(df, vec_col, dim)
    assigned = kmeans_assign(df, n_centroids=n_centroids, n_iter=n_iter,
                             id_col=id_col, vec_col=vec_col, dim=dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    # materialize the assignment once: the pair join consumes members
    # TWICE (x and y) and the final anti-join a third time — without
    # the checkpoint each consumer re-runs the whole kmeans chain
    members = assigned.join(rows, id_col).select(
        id_col, "cell", "cent_sim", "v", "nrm"
    ).localCheckpoint(eager=False)
    # salt the within-cell pair join (guide-style skew fix): with few
    # cells the equi-join on cell alone caps the pair work at
    # |cells| tasks; ways is scale-adaptive (1 when auto_cells has
    # already made cells plentiful), and salting leaves the joined
    # pair set identical — x keeps one deterministic salt, y is
    # replicated across all of them
    ways = _salt_ways(df, n_centroids)
    x = members.withColumn(
        "_s",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(ways)).cast("int"),
    ).alias("x")
    y = members.withColumn(
        "_s",
        F.explode(F.sequence(F.lit(0), F.lit(int(ways) - 1))),
    ).alias("y")
    dropped = (
        x.join(
            y,
            (F.col("x.cell") == F.col("y.cell"))
            & (F.col("x._s") == F.col("y._s"))
            & (F.col(f"y.{id_col}") < F.col(f"x.{id_col}")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("x.v"), F.col("y.v"),
                                  F.col("x.nrm"), F.col("y.nrm")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col(f"x.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        members.join(dropped, id_col, "left_anti")
        .select(id_col, "cell", "cent_sim")
    )


def retrieval_metrics_per_query(df: DataFrame, query_ids: list[int],
                                k: int = 10, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                label_col: str = "label",
                                dim: int | None = None) -> DataFrame:
    """Retrieval-quality harness: MRR@k and precision@k against label
    ground truth. For each query vector, the exact-cosine top-k over
    the corpus (self excluded); a retrieved neighbor is RELEVANT when
    it shares the query's label. Emits per query the rank of the first
    relevant hit (0 = none in top-k), reciprocal rank, relevant count,
    and precision@k — the measurement that decides whether an
    embedding column is good enough to build the ANN serving path on,
    before any index tuning (recall harnesses compare index vs exact;
    this compares exact vs ground truth).

    Plan: the query side is a broadcast (|Q| rows), so the corpus is
    scanned ONCE scoring all queries per row; per-query top-k is a
    window rank over |Q|*n scored pairs partitioned by query — at
    100 TB with large |Q|, partial top-k per partition (the
    TakeOrdered pattern) bounds the exchange. Cosines round to 6 with
    id tie-break; ranks and metrics are integer/exact so the whole
    harness is cross-engine reproducible."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim, extra_cols=[label_col])
    q = (
        rows.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("qlabel"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    topk = (
        rows.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    rel_rank = F.when(F.col(label_col) == F.col("qlabel"), F.col("rank"))
    return (
        topk.groupBy("query_id")
        .agg(
            F.coalesce(F.min(rel_rank), F.lit(0)).cast("int").alias("first_rel_rank"),
            F.round(
                F.coalesce(1.0 / F.min(rel_rank), F.lit(0.0)), 6
            ).alias("rr"),
            F.count(rel_rank).cast("int").alias("n_rel"),
            F.round(F.count(rel_rank) / F.lit(k), 6).alias("p_at_k"),
        )
    )


def hard_negatives_per_anchor(df: DataFrame, anchor_ids: list[int],
                              k: int = 5, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              label_col: str = "label",
                              dim: int | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k most cosine-similar vectors with a DIFFERENT label — the
    negatives that sit closest to the decision boundary, which train
    far faster than the uniform-random draws of sampling
    negative_samples (the two operators are the easy/hard ends of the
    same pipeline stage).

    Plan: anchors broadcast (|A| rows), corpus scanned once scoring
    all anchors per row, per-anchor top-k as a window rank — the same
    shape as retrieval_metrics_per_query with the relevance predicate
    inverted. For mining over EVERY anchor at 100 TB, swap the
    broadcast for the bucketed kNN join (knn_join_bucketed scores only
    within sign-LSH buckets); this exact form is the fixed-anchor-set
    serving path and the recall reference for that sibling. Cosines
    round to 6 with id tie-break: deterministic, oracle-exact."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim, extra_cols=[label_col])
    anchors = (
        rows.filter(F.col(id_col).isin([int(i) for i in anchor_ids]))
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.col("v").alias("av"),
            F.col("nrm").alias("anrm"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        rows.crossJoin(F.broadcast(anchors))
        .filter(F.col(label_col) != F.col("anchor_label"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("v"), F.col("av"),
                                  F.col("nrm"), F.col("anrm")),
                6,
            ),
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "anchor_id", "anchor_label",
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            "cos_sim", "neg_rank",
        )
    )


def label_centroid_similarity(df: DataFrame, label_col: str = "label",
                              vec_col: str = "embedding") -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the subcorpus semantic-redundancy map ("are labels 2
    and 4 the same topic?") read before merging groups, choosing mix
    weights, or seeding coarse ANN cells. Output: one (label_a <
    label_b, cosine) row per unordered label pair.

    Determinism engineering: centroids are rounded to 6 decimals and
    cast DECIMAL(12,6) — exact in any engine — so the pairwise dot and
    norm sums (64 terms each) are decimal-exact regardless of
    partition order; only the final division + sqrt runs in float, on
    bit-identical inputs.

    Scale shape: one posexplode feeds the (label, pos) centroid
    aggregate — the only corpus-sized pass; the pairwise self-join
    runs on labels x dim rows (KBs at any corpus size), so the
    quadratic term is in LABEL count, never rows."""
    e = spread_small_input(df.select(label_col, vec_col)).select(
        F.col(label_col), F.posexplode(vec_col).alias("pos", "val")
    )
    cent = e.groupBy(label_col, "pos").agg(
        F.round(
            F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).cast("decimal(12,6)").alias("c")
    )
    a = cent.select(
        F.col(label_col).alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col(label_col).alias("label_b"), "pos", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("_dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("_na"),
            F.sum(F.col("cb") * F.col("cb")).alias("_nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("_dot").cast("double")
            / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double")),
            6,
        ).alias("cosine"),
    )


def nearest_centroid_classifier(df: DataFrame, label_col: str = "label",
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                test_fraction: float = 0.2,
                                salt: str = "nc") -> DataFrame:
    """Nearest-centroid (Rocchio) classifier trained ON the cluster,
    reported as a label-SEPARABILITY audit: hash-split the labeled
    vectors, fit one centroid per label from the train slice, assign
    EVERY row (both slices) to its nearest centroid, and emit the
    confusion matrix per slice — (slice, label, predicted, n_vecs).
    Reading it is the point: resubstitution accuracy (train slice) far
    above held-out accuracy (test slice) means the centroids memorize
    rather than generalize — on this synthetic corpus the labels are
    decorrelated from the embedding clusters by construction, and the
    audit says exactly that (train ~4x chance, test ~chance). This is
    the are-my-labels-real check a curation pipeline runs before
    spending GPU time on a classifier.

    Every step is EXACT: the split is the deterministic md5 draw
    (sampling.hash_draw); centroid components are decimal-exact means
    rounded to 6 and pinned DECIMAL(12,6); the decision rule is argmin
    squared Euclidean distance, computed as |c|^2 - 2 t.c — a pure
    DECIMAL expression (the |t|^2 term is constant per row and cannot
    change the argmin, so no sqrt, no division, no float enters the
    comparison) with ties broken by label order. The confusion matrix
    is therefore bit-identical on any engine and any partition order,
    and the oracle is plain SQL.

    Scale shape: the posexplode feeds the centroid aggregate (train
    slice) and the scoring join (all rows); the model — labels x dim
    centroid rows plus a labels-row norm table — is KBs at any corpus
    size and broadcasts; scoring fans each (row, pos) out by the label
    count, aggregates map-side, and the argmin window partitions by
    row id. No driver state, no iteration."""

    cut = int(test_fraction * DRAW_BUCKETS)
    base = df.withColumn("_test", hash_draw(F.col(id_col), salt) < cut)
    cent = fit_centroid_model(
        base.filter(~F.col("_test")), label_col=label_col, vec_col=vec_col
    )
    assigned = assign_nearest_centroid(
        base, cent, id_col=id_col, vec_col=vec_col,
        keep_cols=(label_col, "_test"),
    )
    return (
        assigned.groupBy(
            F.when(F.col("_test"), F.lit("test")).otherwise(F.lit("train")).alias("slice"),
            F.col(label_col).alias("label"),
            "predicted",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )


def fit_centroid_model(df: DataFrame, label_col: str = "label",
                       vec_col: str = "embedding") -> DataFrame:
    """The nearest-centroid MODEL: one (predicted, pos, c) row per
    label and dimension — decimal-exact per-dimension means rounded to
    6 and pinned DECIMAL(12,6), so the model itself is bit-identical
    on any engine or partitioning. labels x dim rows: KBs at any
    corpus size; persist it (write_centroid_model) and it becomes the
    stream scorer's fixed state, swapped by path like the ANN index."""
    e = spread_small_input(df.select(label_col, vec_col)).select(
        label_col, F.posexplode(vec_col).alias("pos", "val")
    )
    return (
        e.groupBy(F.col(label_col).alias("predicted"), "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).cast("decimal(12,6)").alias("c")
        )
    )


def assign_nearest_centroid(rows: DataFrame, cent: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            keep_cols: tuple = ()) -> DataFrame:
    """Assign every row to its nearest centroid (argmin squared
    Euclidean as the pure-DECIMAL |c|^2 - 2 t.c with ties to the
    lowest label) and emit (id, *keep_cols, predicted). The model
    broadcasts; scoring fans each (row, pos) out by the label count
    and aggregates map-side; the argmin window partitions by row id.
    This IS the batch scoring plan the streaming classifier serves
    through foreachBatch, so stream/batch parity is by construction."""
    cnorm = cent.groupBy("predicted").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    e = spread_small_input(rows.select(id_col, *keep_cols, vec_col)).select(
        id_col, *keep_cols, F.posexplode(vec_col).alias("pos", "val")
    )
    dots = (
        e.join(F.broadcast(cent), "pos")
        .groupBy(id_col, *keep_cols, "predicted")
        .agg(F.sum(F.col("val").cast("decimal(20,10)") * F.col("c")).alias("dot"))
    )
    scored = dots.join(F.broadcast(cnorm), "predicted").withColumn(
        "d2", F.col("c2") - F.lit(2) * F.col("dot")
    )
    w = Window.partitionBy(id_col).orderBy("d2", "predicted")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, *keep_cols, "predicted")
    )


def write_centroid_model(df: DataFrame, path: str,
                         label_col: str = "label",
                         vec_col: str = "embedding") -> None:
    """Fit and persist the centroid model (labels x dim rows) — the
    classifier twin of write_ivfpq_index."""
    fit_centroid_model(df, label_col=label_col, vec_col=vec_col) \
        .write.mode("overwrite").parquet(path)


def cluster_exemplars(df: DataFrame, k: int = 3,
                      label_col: str = "label", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """The k most CENTRAL vectors of every label — the exemplar rows a
    curator eyeballs to decide what a cluster/label actually is before
    merging, pruning, or naming it (SemDeDup keeps one representative;
    this shows you the representatives). Emits (label, rank, id, d2)
    with rank 1 = closest to the label's centroid.

    Same exactness engineering as the nearest-centroid classifier:
    DECIMAL(12,6)-pinned centroids, the distance is the full pure-
    DECIMAL |t|^2 - 2 t.c + |c|^2 (unlike the classifier's per-row
    argmin, the ranking here compares DIFFERENT rows against one
    centroid, so the per-row |t|^2 term matters and is carried as an
    exact decimal sum), ties to the lowest id — bit-identical rankings
    on any engine or partitioning.

    Scale shape: the model broadcasts; each (row, pos) joins only its
    OWN label's centroid row (equi-join on pos + label, fan-out 1, not
    label-count); the top-k window partitions by label and keeps k
    rows per group."""
    cent = fit_centroid_model(df, label_col=label_col, vec_col=vec_col)
    cnorm = cent.groupBy("predicted").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    e = spread_small_input(df.select(id_col, label_col, vec_col)).select(
        id_col, label_col, F.posexplode(vec_col).alias("pos", "val")
    )
    ec = e.alias("e")
    cc = F.broadcast(cent).alias("cc")
    dots = (
        ec.join(
            cc,
            (F.col("e.pos") == F.col("cc.pos"))
            & (F.col(f"e.{label_col}") == F.col("cc.predicted")),
        )
        .groupBy(f"e.{id_col}", f"e.{label_col}")
        .agg(
            F.sum(F.col("e.val").cast("decimal(20,10)") * F.col("cc.c")).alias("dot"),
            # the square runs in FLOAT32 (bit-identical IEEE multiply
            # on both engines) and only then pins to decimal(20,10) —
            # the same float->decimal path the dot term already uses.
            # (Squaring decimal-pinned values instead either overflows
            # precision 38 or, pinned narrower at decimal(14,7), hits
            # each engine's different float->decimal rounding exactly
            # at float32's precision edge — both observed as 6th-7th
            # decimal d2 drift.)
            F.sum(
                (F.col("e.val") * F.col("e.val")).cast("decimal(20,10)")
            ).alias("t2"),
        )
    )
    # each SUM is exact decimal at its own (wide) scale; combining
    # them raw would push precision past 38 (engines truncate
    # differently), and casting the wide sums straight to double
    # rounds differently per engine at the 17th digit — so each sum is
    # first pinned to DECIMAL(30,12) (deterministic half-up rounding
    # in both engines), the combination stays exact under precision
    # 38, and the final double conversion of a 13-significant-digit
    # decimal is unambiguous everywhere
    pin = "decimal(30,12)"
    scored = dots.join(
        F.broadcast(cnorm), F.col(label_col) == F.col("predicted")
    ).withColumn(
        "d2",
        F.col("t2").cast(pin) + F.col("c2").cast(pin)
        - F.lit(2) * F.col("dot").cast(pin),
    )
    w = Window.partitionBy(label_col).orderBy("d2", id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(label_col).alias("label"),
            "rank",
            F.col(id_col),
            F.round(F.col("d2").cast("double"), 6).alias("d2"),
        )
    )


def label_margin_audit(df: DataFrame, label_col: str = "label",
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       k_flag: int = 10) -> DataFrame:
    """Label-noise audit (the confident-learning shape): for every
    vector, the DECIMAL-exact margin between its distance to its OWN
    label's centroid and its distance to the nearest OTHER centroid —
    margin > 0 means another label's centroid is strictly closer, the
    classic mislabeled-row signal. Emits the k_flag most-suspect rows
    (largest positive margin first, ids tiebreak): the review queue a
    curator works through before trusting the labels.

    Exactness: both distances are the classifier's pure-DECIMAL
    |c|^2 - 2 t.c form over the SAME row (the shared |t|^2 cancels in
    the margin, so it is never computed); the margin subtracts two
    exact decimals of identical scale. Output margins round once to 6
    in double.

    Scale shape: identical to the classifier — broadcast model,
    label-count fan-out join, map-side aggregation, per-row argmin
    window — plus one TakeOrdered for the review queue."""
    cent = fit_centroid_model(df, label_col=label_col, vec_col=vec_col)
    cnorm = cent.groupBy("predicted").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    e = spread_small_input(df.select(id_col, label_col, vec_col)).select(
        id_col, label_col, F.posexplode(vec_col).alias("pos", "val")
    )
    dots = (
        e.join(F.broadcast(cent), "pos")
        .groupBy(id_col, label_col, "predicted")
        .agg(F.sum(F.col("val").cast("decimal(20,10)") * F.col("c")).alias("dot"))
    )
    # pin both sums to decimal(30,12) before combining (the exemplars
    # lesson: mixed-scale wide-decimal arithmetic overflows precision
    # 38 and each engine truncates differently)
    pin = "decimal(30,12)"
    scored = dots.join(F.broadcast(cnorm), "predicted").withColumn(
        "part_d2", F.col("c2").cast(pin) - F.lit(2) * F.col("dot").cast(pin)
    )
    own = scored.filter(F.col(label_col) == F.col("predicted")).select(
        id_col, F.col("part_d2").alias("own_d2")
    )
    w = Window.partitionBy(id_col).orderBy("part_d2", "predicted")
    other = (
        scored.filter(F.col(label_col) != F.col("predicted"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col(label_col).alias("label"),
                F.col("predicted").alias("nearest_other"),
                F.col("part_d2").alias("other_d2"))
    )
    return (
        own.join(other, id_col)
        .select(
            id_col,
            "label",
            "nearest_other",
            F.round((F.col("own_d2") - F.col("other_d2")).cast("double"), 6)
            .alias("margin"),
        )
        .orderBy(F.col("margin").desc(), id_col)
        .limit(k_flag)
    )


def simplified_silhouette(df: DataFrame, label_col: str = "label",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Per-label simplified silhouette (Hruschka et al.'s centroid
    form of Rousseeuw 1987): for every vector, a = distance to its OWN
    label's centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b) — the one-number cluster-quality summary a
    curator reads after the confusion matrix (nearest_centroid_classifier)
    and the review queue (label_margin_audit). Emits per label:
    n_vecs, decimal-exact mean silhouette, and the count of NEGATIVE
    rows (vectors strictly closer to a foreign centroid). Unlike the
    classic all-pairs silhouette, the centroid form is LINEAR in rows,
    so it scales to any corpus.

    Exactness engineering: both squared distances are the classifier's
    pure-DECIMAL |t|^2 + |c|^2 - 2 t.c (here |t|^2 cannot be dropped —
    it does not cancel inside max(a,b)); sqrt + the ratio run in
    float64 on bit-identical decimal inputs; per-row s rounds to 6 and
    pins DECIMAL(12,6) so the per-label MEAN is an exact decimal sum
    divided once — independent of partition order and engine.

    Scale shape: identical to assign_nearest_centroid — one posexplode
    scan feeds a broadcast-model join with label-count fan-out and
    map-side aggregation; the argmin-over-others window partitions by
    row id; the label-cardinality output aggregate is the only other
    exchange. No driver state, no iteration."""
    cent = fit_centroid_model(df, label_col=label_col, vec_col=vec_col)
    cnorm = cent.groupBy("predicted").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    # |t|^2 is summed per (id, predicted) group alongside the dot —
    # label-count-redundant on paper, but MEASURED faster than the
    # per-row decimal array fold (F.aggregate with a decimal lambda
    # is interpreted, not codegen'd: the "optimized" fold benched 2x
    # slower at sf0.1 with identical hashes), so the codegen'd
    # aggregate sum stays
    e = spread_small_input(df.select(id_col, label_col, vec_col)).select(
        id_col, label_col, F.posexplode(vec_col).alias("pos", "val")
    )
    dots = (
        e.join(F.broadcast(cent), "pos")
        .groupBy(id_col, label_col, "predicted")
        .agg(
            F.sum(F.col("val").cast("decimal(20,10)") * F.col("c")).alias("dot"),
            F.sum((F.col("val") * F.col("val")).cast("decimal(20,10)")).alias("t2"),
        )
    )
    pin = "decimal(30,12)"
    scored = dots.join(F.broadcast(cnorm), "predicted").withColumn(
        "d2",
        F.col("t2").cast(pin) + F.col("c2").cast(pin)
        - F.lit(2) * F.col("dot").cast(pin),
    )
    own = scored.filter(F.col(label_col) == F.col("predicted")).select(
        id_col, F.col(label_col).alias("_lab"), F.col("d2").alias("a2")
    )
    w = Window.partitionBy(id_col).orderBy("d2", "predicted")
    other = (
        scored.filter(F.col(label_col) != F.col("predicted"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("d2").alias("b2"))
    )
    a = F.sqrt(F.greatest(F.col("a2").cast("double"), F.lit(0.0)))
    b = F.sqrt(F.greatest(F.col("b2").cast("double"), F.lit(0.0)))
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    per_row = own.join(other, id_col).select(
        F.col("_lab").alias("label"),
        F.round(s, 6).cast("decimal(12,6)").alias("s"),
    )
    return per_row.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6)
        .alias("mean_silhouette"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).cast("long")
        .alias("n_negative"),
    )


def _ndcg_weights(k: int) -> list[str]:
    """The DCG gain table 1/log2(rank+1) for ranks 1..k, frozen as
    12-decimal STRINGS so Spark and any SQL oracle parse the exact
    same decimals (string->decimal is exact in every engine; casting
    a double would leave each engine to round it its own way)."""

    return [f"{1.0 / math.log2(r + 1):.12f}" for r in range(1, k + 1)]


def _idcg_table(k: int) -> list[str]:
    """Cumulative ideal-DCG per relevant-count 1..k, summed in Python
    over the SAME 12-decimal weights the engines use (exact decimal
    arithmetic via integer micro-units, so no float drift)."""
    units = [int(w.replace(".", "")) for w in _ndcg_weights(k)]
    acc, out = 0, []
    for u in units:
        acc += u
        s = f"{acc:013d}"
        out.append(s[:-12] + "." + s[-12:])
    return out


def ndcg_per_query(df: DataFrame, query_ids: list[int], k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   dim: int | None = None) -> DataFrame:
    """NDCG@k against label ground truth — the rank-POSITION-aware
    companion to retrieval_metrics_per_query (MRR rewards only the
    first hit, precision ignores order; NDCG credits every relevant
    hit, discounted by log2 of its rank). For each query vector the
    exact-cosine top-k over the corpus (self excluded) is scored with
    binary relevance (shares the query's label); the ideal DCG
    normalizes by the best achievable ranking given how many relevant
    rows exist in the corpus (capped at k), so a query whose label has
    only 3 members is not punished for the unreachable 7.

    Exactness: the gain table 1/log2(rank+1) and its cumulative ideal
    sums are frozen as 12-decimal literals (string-parsed, so engine
    cast rules never touch a float) and summed as DECIMAL — the DCG is
    bit-identical under any partition order; the single ndcg division
    runs in float64 on exact inputs and rounds to 6.

    Scale shape: identical to the MRR harness — the query side
    broadcasts so the corpus is scanned once scoring all queries; the
    per-query top-k is a rank window over |Q|*n scored pairs; the
    label-count side table (label cardinality rows) broadcasts."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim, extra_cols=[label_col])
    q = rows.filter(F.col(id_col).isin([int(i) for i in query_ids])).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    lab_counts = df.groupBy(F.col(label_col).alias("qlabel")).agg(
        F.count(F.lit(1)).cast("long").alias("_nlab")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    weights = _ndcg_weights(k)
    idcg = _idcg_table(k)
    gain = F.lit(None).cast("decimal(16,12)")
    for r, ws in enumerate(weights, start=1):
        gain = F.when(F.col("rank") == r, F.lit(ws).cast("decimal(16,12)")) \
            .otherwise(gain)
    ideal = F.lit("0.000000000000").cast("decimal(16,12)")
    for n, s in enumerate(idcg, start=1):
        ideal = F.when(F.col("_ideal_n") == n,
                       F.lit(s).cast("decimal(16,12)")).otherwise(ideal)
    topk = (
        rows.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    rel = F.col(label_col) == F.col("qlabel")
    per_q = (
        topk.groupBy("query_id", "qlabel")
        .agg(
            F.sum(F.when(rel, 1).otherwise(0)).cast("int").alias("n_rel_topk"),
            F.sum(F.when(rel, gain)).alias("_dcg"),
        )
    )
    return (
        per_q.join(F.broadcast(lab_counts), "qlabel")
        .withColumn("_ideal_n", F.least(F.col("_nlab") - 1, F.lit(k))
                    .cast("int"))
        .select(
            "query_id",
            "n_rel_topk",
            F.col("_ideal_n").alias("ideal_n"),
            F.when(
                F.col("_ideal_n") <= 0, F.lit(0.0)
            ).otherwise(
                F.round(
                    F.coalesce(F.col("_dcg"),
                               F.lit("0").cast("decimal(16,12)"))
                    .cast("double")
                    / ideal.cast("double"),
                    6,
                )
            ).alias("ndcg"),
        )
    )


def cluster_purity(df: DataFrame, n_centroids: int = 8, n_iter: int = 1,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Cluster-purity audit: k-means the embeddings (the deterministic
    kmeans_assign chain), then per cell report the majority label, its
    count, and purity = n_majority / n_vecs — the standard external
    cluster-quality metric read NEXT TO the internal one (simplified
    silhouette): silhouette says whether the geometry is tight, purity
    says whether the geometry agrees with the labels. On this
    synthetic corpus labels are decorrelated from the embedding
    clusters by construction, so purity sits near 1/|labels| — which
    is exactly what the audit should say.

    Determinism: the clustering is kmeans_assign's decimal-pinned
    chain (exact oracle); the majority pick breaks count ties by label
    order; purity is one integer-ratio float rounded to 6.

    Scale shape: kmeans_assign's broadcast-centroid scan, one
    (cell, label) aggregate, a cell-cardinality fold, and the argmax
    window over cell x label rows (KBs at any corpus size)."""
    assigned = kmeans_assign(
        df, n_centroids=n_centroids, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    )
    j = assigned.join(df.select(id_col, label_col), id_col)
    g = j.groupBy("cell", label_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    tot = g.groupBy("cell").agg(F.sum("_n").cast("long").alias("n_vecs"))
    w = Window.partitionBy("cell").orderBy(F.col("_n").desc(), label_col)
    top = g.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        top.join(tot, "cell")
        .select(
            "cell",
            "n_vecs",
            F.col(label_col).alias("majority_label"),
            F.col("_n").alias("n_majority"),
            F.round(F.col("_n") / F.col("n_vecs").cast("double"), 6)
            .alias("purity"),
        )
    )


def embedding_anisotropy(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int | None = None) -> DataFrame:
    """Embedding-space anisotropy audit (Ethayarajh 2019's finding
    that contextual embeddings occupy a narrow cone): the EXACT mean
    pairwise cosine over all n(n-1) ordered pairs, computed in closed
    form from sums — sum over i != j of u_i . u_j equals |SUM u|^2 -
    SUM |u_i|^2 for unit-normalized rows, so the all-pairs quantity
    costs ONE scan and d running sums, never a pair join. High mean
    cosine means the space is collapsing toward a cone — cosine
    thresholds in SemDeDup / near-dup screens silently tighten, and
    this is the audit that catches it. Also reports the mean raw
    vector norm (the other collapse signal).

    Exactness: normalized components round to 8 and pin
    DECIMAL(18,8), so the per-dimension sums, their squares, and the
    per-row squared norms are exact decimals on any partitioning;
    the two output ratios are single float divisions rounded to 6.

    Scale shape: one posexplode feeding a dim-sized aggregate plus a
    1-row fold — the same sufficient-statistics discipline as the
    Gram/PCA operator (linalg.py)."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    e = rows.select(
        F.col("nrm"),
        F.posexplode("v").alias("pos", "val"),
    ).select(
        "pos",
        F.round(F.col("val") / F.col("nrm"), 8).cast("decimal(18,8)")
        .alias("u"),
        F.col("nrm"),
    )
    per_dim = e.groupBy("pos").agg(
        F.sum("u").alias("_s"),
        F.sum(F.col("u") * F.col("u")).alias("_ss"),
    )
    norms = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.round(F.col("nrm"), 8).cast("decimal(18,8)")).alias("_sn"),
    )
    tot = per_dim.agg(
        F.sum(F.col("_s") * F.col("_s")).alias("_s2"),
        F.sum("_ss").alias("_ssq"),
    )
    return (
        norms.crossJoin(F.broadcast(tot))
        .select(
            "n_vecs",
            F.lit(dim).cast("int").alias("dim"),
            F.round(F.col("_sn").cast("double") / F.col("n_vecs"), 6)
            .alias("mean_norm"),
            F.round(
                (F.col("_s2").cast("double") - F.col("_ssq").cast("double"))
                / (
                    F.col("n_vecs").cast("double")
                    * (F.col("n_vecs") - F.lit(1)).cast("double")
                ),
                6,
            ).alias("mean_pairwise_cosine"),
        )
    )


def rrf_fusion(df: DataFrame, query_ids: list[int], k: int = 10,
               rrf_k: int = 60, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion of two vector rankers — the standard way
    hybrid retrieval merges rankings whose raw scores are not
    comparable (Cormack et al., SIGIR'09): each ranker contributes
    1/(rrf_k + rank), and candidates are re-ranked by the sum. Here
    the two rankers are COSINE (pure direction) and DOT PRODUCT
    (direction x magnitude) over the same embedding column — they
    disagree exactly where row norms vary, which is what makes the
    fusion informative on unnormalized embeddings. Emits per query the
    fused top-k with both source ranks, so a curator can see which
    ranker carried each hit.

    Exactness: both scores round to 6 decimals with id tie-break, so
    the per-ranker ranks are integers identical on any engine; the
    fused score 1/(K+r_cos) + 1/(K+r_dot) is a double of integer
    inputs — bit-identical everywhere — and the final order ties on
    id. Scale shape: the query side is a broadcast, the corpus is
    scanned ONCE scoring both rankers per row; the three window ranks
    share ONE exchange (same partition key query_id), and rank
    evaluation is partial per partition before the final top-k."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)

    q = F.broadcast(
        rows.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    scored = (
        rows.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ).alias("cos_sim"),
            F.round(dot(F.col("v"), F.col("qv")), 6).alias("dot_score"),
        )
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    w_dot = Window.partitionBy("query_id").orderBy(
        F.col("dot_score").desc(), F.col(id_col)
    )
    ranked = scored.select(
        "query_id",
        id_col,
        "cos_sim",
        "dot_score",
        F.row_number().over(w_cos).cast("int").alias("rank_cos"),
        F.row_number().over(w_dot).cast("int").alias("rank_dot"),
    ).withColumn(
        "rrf_score",
        F.round(
            1.0 / (F.lit(rrf_k) + F.col("rank_cos"))
            + 1.0 / (F.lit(rrf_k) + F.col("rank_dot")),
            6,
        ),
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col)
    )
    return (
        ranked.withColumn(
            "fused_rank", F.row_number().over(w_fused).cast("int")
        )
        .filter(F.col("fused_rank") <= k)
        .select("query_id", id_col, "rank_cos", "rank_dot",
                "rrf_score", "fused_rank")
    )


def mmr_rerank(df: DataFrame, query_ids: list[int], k: int = 5,
               pool: int = 12, lam: float = 0.5, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein,
    SIGIR'98): from each query's exact-cosine top-``pool`` candidate
    list, greedily select k results trading relevance against
    redundancy — step 1 takes the most relevant candidate, each later
    step takes argmax of lam*rel - (1-lam)*max_sim_to_already_selected.
    The diversity pass every RAG retrieval stack runs between ANN and
    the prompt, so near-duplicate passages don't crowd out coverage.

    Split of labor is the point at scale: the DISTRIBUTED part — the
    corpus scan, the per-query top-``pool`` window, and the pool's
    pairwise cosines (<= pool^2 rows per query, both sides already
    pruned) — runs as ordinary DataFrame ops; the greedy selection is
    inherently sequential but touches only the BOUNDED per-query pool,
    so it runs inside ``applyInPandas`` partitioned BY QUERY — a
    million queries rerank in parallel, no driver state at all.

    Exactness: rel and pairwise sims are 6-decimal doubles with id
    tie-breaks; the greedy comparator lam*rel - (1-lam)*max_sim is
    evaluated in float64 on those pinned inputs — the identical IEEE
    expression the SQL oracle orders by — so the selection sequence is
    engine-reproducible. Emitted max_sim_prev is 0.0 for step 1 (no
    selected set yet) by convention. The greedy's input is the pool's
    PAIR table, so a query whose pool holds a single candidate (corpus
    of 1 non-query row) contributes no pairs and emits no rows —
    reranking needs >= 2 candidates to trade off; callers wanting the
    degenerate passthrough should use the plain top-k."""

    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim)
    q = F.broadcast(
        rows.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col(id_col)
    )
    cand = (
        rows.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ).alias("rel"),
            "v",
            "nrm",
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= pool)
        .drop("_rn")
    )
    a = cand.select(
        "query_id", F.col(id_col).alias("a"), F.col("rel").alias("rel_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = cand.select(
        "query_id", F.col(id_col).alias("b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "rel_a", "b",
            F.round(
                cosine_from_parts(F.col("va"), F.col("vb"),
                                  F.col("na"), F.col("nb")),
                6,
            ).alias("sim"),
        )
    )
    schema = (
        f"query_id long, step int, {id_col} long, "
        "relevance double, max_sim_prev double"
    )
    lam_f = float(lam)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sims = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.a)] = float(r.rel_a)
            sims[(int(r.a), int(r.b))] = float(r.sim)
        remaining = sorted(rel)
        out = []
        selected: list[int] = []
        while remaining and len(selected) < k:
            if not selected:
                nxt = max(remaining, key=lambda c: (rel[c], -c))
                out.append((qid, 1, nxt, rel[nxt], 0.0))
            else:
                best = None
                for c in remaining:
                    ms = max(sims[(c, s)] for s in selected)
                    score = lam_f * rel[c] - (1.0 - lam_f) * ms
                    key = (score, -c)
                    if best is None or key > best[0]:
                        best = (key, c, ms)
                _, nxt, ms = best
                out.append((qid, len(selected) + 1, nxt, rel[nxt], ms))
            selected.append(nxt)
            remaining.remove(nxt)
        return pd.DataFrame(
            out,
            columns=["query_id", "step", id_col,
                     "relevance", "max_sim_prev"],
        )

    return pairs.groupBy("query_id").applyInPandas(greedy, schema=schema)


def classifier_prf(df: DataFrame, label_col: str = "label",
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   test_fraction: float = 0.2,
                   salt: str = "prf") -> DataFrame:
    """Per-class precision / recall / F1 over the nearest-centroid
    classifier's confusion matrix (nearest_centroid_classifier) — the
    class-level read the aggregate confusion hides: a 90%-accurate
    labeler that silently drops one minority class shows up HERE, as
    that class's recall row. Emitted per (slice, class): true
    positives, predicted count, actual count, precision, recall, F1 —
    for both the train (resubstitution) and held-out slices.

    Exactness: inputs are the decimal-exact confusion counts; P, R and
    F1 = 2tp/(n_pred + n_true) are single double divisions of BIGINTs
    rounded to 6 (0.0 when the denominator is 0 — a class never
    predicted has precision 0 by convention). Scale shape: three hash
    aggregates over the confusion matrix (labels^2 rows at most), all
    map-side after the classifier's own exchanges."""
    conf = nearest_centroid_classifier(
        df, label_col=label_col, id_col=id_col, vec_col=vec_col,
        test_fraction=test_fraction, salt=salt,
    )
    lab = conf.groupBy("slice", F.col(label_col).alias("cls")).agg(
        F.sum("n_vecs").cast("long").alias("n_true")
    )
    pred = conf.groupBy("slice", F.col("predicted").alias("cls")).agg(
        F.sum("n_vecs").cast("long").alias("n_pred")
    )
    tp = (
        conf.filter(F.col(label_col) == F.col("predicted"))
        .groupBy("slice", F.col(label_col).alias("cls"))
        .agg(F.sum("n_vecs").cast("long").alias("tp"))
    )
    base = (
        lab.join(pred, ["slice", "cls"], "full")
        .join(tp, ["slice", "cls"], "left")
        .select(
            "slice",
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce(F.col("n_true"), F.lit(0)).cast("long").alias("n_true"),
        )
    )
    safe = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return base.select(
        "slice",
        "cls",
        "tp",
        "n_pred",
        "n_true",
        safe(F.col("tp"), F.col("n_pred")).alias("precision"),
        safe(F.col("tp"), F.col("n_true")).alias("recall"),
        safe(F.lit(2) * F.col("tp"),
             F.col("n_pred") + F.col("n_true")).alias("f1"),
    )


def map_at_k(df: DataFrame, query_ids: list[int], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             label_col: str = "label", dim: int | None = None) -> DataFrame:
    """MAP@k — mean-average-precision per query against label ground
    truth, the order-sensitive retrieval metric between MRR (first hit
    only) and NDCG (graded discounts): AP@k averages precision@r over
    the ranks r that hold a relevant hit, normalized by the best
    possible count min(n_relevant_in_corpus, k), so burying relevant
    hits deep costs score even when they all make the cut. Emits per
    query n_rel_topk, ap_at_k (and the ideal_n used) — the corpus mean
    of ap_at_k IS the MAP.

    Exactness: ranks are integers from 6-decimal-pinned cosines with
    id tie-breaks; each precision@r is an integer ratio evaluated in
    float64 and the AP sum runs over at most k such terms pinned
    DECIMAL(18,12), so the metric is bit-identical on any engine.
    Plan: query side broadcast (one corpus scan for all queries),
    per-query rank window, cumulative relevant count over the SAME
    window order — two window functions, one exchange."""
    dim = probe_dim(df, vec_col, dim)
    rows = _vec_norm(df, id_col, vec_col, dim, extra_cols=[label_col])
    q = F.broadcast(
        rows.filter(F.col(id_col).isin([int(i) for i in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("qlabel"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    lc = F.broadcast(
        df.groupBy(label_col).agg(
            F.count(F.lit(1)).cast("long").alias("_nlab")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored = (
        rows.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rel", (F.col(label_col) == F.col("qlabel")).cast("int"))
        .withColumn("n_rel_cum", F.sum("rel").over(wcum))
    )
    # precision@r only at relevant ranks, pinned DECIMAL for the sum
    prec = F.when(
        F.col("rel") == 1,
        F.round(
            F.col("n_rel_cum").cast("double") / F.col("rank"), 12
        ).cast("decimal(18,12)"),
    )
    per_q = scored.groupBy("query_id", "qlabel").agg(
        F.sum("rel").cast("int").alias("n_rel_topk"),
        F.coalesce(F.sum(prec), F.lit(0).cast("decimal(18,12)"))
        .alias("_psum"),
    )
    return (
        per_q.join(lc, per_q["qlabel"] == lc[label_col])
        .select(
            "query_id",
            "n_rel_topk",
            F.least(F.col("_nlab") - 1, F.lit(k)).cast("int")
            .alias("ideal_n"),
            F.when(
                F.least(F.col("_nlab") - 1, F.lit(k)) > 0,
                F.round(
                    F.col("_psum").cast("double")
                    / F.least(F.col("_nlab") - 1, F.lit(k)).cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("ap_at_k"),
        )
    )


def hybrid_rrf_topk(docs: DataFrame, emb: DataFrame,
                    query_terms: dict[int, list[str]], k: int = 10,
                    depth: int = 50, rrf_k: int = 60, k1: float = 1.2,
                    b: float = 0.75, id_col: str = "doc_id",
                    text_col: str = "text", vec_id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """Hybrid lexical+dense retrieval — the production search shape
    (e.g. Elasticsearch/Vespa "hybrid mode", Lin et al. dense-sparse
    fusion): per query, rank the corpus by BM25 over the document
    text AND by exact cosine over the embedding column, cut each
    ranking at ``depth``, and reciprocal-rank-fuse (1/(rrf_k+rank)
    summed over the rankers that retrieved the candidate). Queries
    are (query_id -> term list): the dense query is query_id's own
    corpus vector ("more like this"), the lexical query its term
    list. Emits the fused top-``k`` with both source ranks so a
    curator sees which ranker carried each hit (NULL rank = that
    ranker's depth cut missed it).

    Scale shape: the corpus text is exploded ONCE feeding the
    doc-length and the (doc, term) tf aggregates, with the tf side
    filtered to the union of query terms BEFORE its shuffle; per-term
    df and the 1-row N/avgdl frames broadcast back, and the (query,
    term) map is a broadcast literal — so lexical scoring is one
    full-corpus exchange carrying (doc_id, dl). The dense side
    broadcasts the query vectors and scans the embedding table once
    scoring every query per row. Both rank windows partition by
    query_id (never global), the depth cut bounds the fuse join to
    <= 2*depth rows per query regardless of corpus size, and the
    final top-k is a per-query window over <= 2*depth rows.

    Determinism: BM25 and cosine are fixed-shape IEEE expressions
    rounded to 6 decimals with id tie-breaks, so both rank columns
    are integers identical on any engine; the fused score is a
    double of integer inputs (bit-identical), and the final order
    ties on id."""
    qt_rows = sorted(
        (int(qid), t) for qid, terms in query_terms.items() for t in terms
    )
    all_terms = sorted({t for _, t in qt_rows})
    qids = sorted({q for q, _ in qt_rows})
    spark = docs.sparkSession

    # ---- lexical ranker: BM25 per (query, doc) -----------------------
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    doclen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    avgdl = doclen.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    tf = (
        words.filter(F.col("w").isin(all_terms))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dfq"))
    qt = spark.createDataFrame(qt_rows, ["query_id", "w"])
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + F.lit(0.5))
        / (F.col("dfq") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    lex_scored = (
        tf.join(F.broadcast(qt), "w")
        .join(F.broadcast(dfreq), "w")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), (idf * tfnorm).alias("s"))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col)
    )
    lex = (
        lex_scored.withColumn(
            "rank_lex", F.row_number().over(w_lex).cast("int")
        )
        .filter(F.col("rank_lex") <= depth)
        .select("query_id", F.col(id_col).alias("_id"), "rank_lex")
    )

    # ---- dense ranker: exact cosine vs each query's own vector -------
    dim = probe_dim(emb, vec_col, dim)
    rows = _vec_norm(emb, vec_id_col, vec_col, dim)
    q = F.broadcast(
        rows.filter(F.col(vec_id_col).isin(qids)).select(
            F.col(vec_id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    w_dense = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(vec_id_col)
    )
    dense = (
        rows.crossJoin(q)
        .filter(F.col(vec_id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(vec_id_col),
            F.round(
                cosine_from_parts(F.col("v"), F.col("qv"),
                                  F.col("nrm"), F.col("qnrm")),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("rank_dense", F.row_number().over(w_dense).cast("int"))
        .filter(F.col("rank_dense") <= depth)
        .select("query_id", F.col(vec_id_col).alias("_id"), "rank_dense")
    )

    # ---- reciprocal-rank fuse the depth-cut lists ---------------------
    fused = dense.join(lex, ["query_id", "_id"], "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_dense")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0)
            ),
            6,
        ),
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w_fused).cast("int")
        )
        .filter(F.col("fused_rank") <= k)
        .select(
            "query_id",
            F.col("_id").alias(id_col),
            "rank_dense",
            "rank_lex",
            "rrf_score",
            "fused_rank",
        )
    )
