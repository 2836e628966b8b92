"""Deterministic sampling for training-data pipelines (SURVEY.md
section 2.9 scope; the reference has no sampling at all).

Everything here is HASH-based, never RNG-based: `df.sample()` draws
from an engine-private RNG, so two runs (or two engines) disagree —
useless for reproducible corpus construction and impossible to
oracle-check. Hashing a stable key instead gives:

- the same sample on every run, engine, partitioning, and cluster size;
- sampling as a pure filter: fully pushed into the scan stage, no
  shuffle, no state — at 100 TB a 1% sample costs one codegen'd
  predicate per row;
- consistent train/test splits that survive re-partitioning and
  incremental appends (a doc's split never changes when other docs
  arrive).

The hash is the same portable 60-bit md5 prefix used by dedup
(operators/dedup.py), reduced mod 1e6 to a per-row draw in [0, 1e6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DRAW_BUCKETS = 1_000_000


def _hash60(col: F.Column) -> F.Column:
    """Portable 60-bit integer hash: the first 15 hex digits of md5,
    base-16 decoded. Identical in any engine with md5 + hex casts, so
    oracles can replicate it exactly; used both as a compact join key
    (shuffling 8-byte longs instead of shingle strings) and as the
    base for the minhash family."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash_draw(key: F.Column, salt: str) -> F.Column:
    """Deterministic per-row draw in [0, 1e6): hash of salt|key. The
    salt decorrelates independent sampling decisions on the same key."""
    return _hash60(F.concat(F.lit(f"{salt}|"), key.cast("string"))) % DRAW_BUCKETS


def hash_sample(df: DataFrame, fraction: float, key_col: str,
                salt: str = "sample") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — a pure filter,
    reproducible anywhere."""
    return df.filter(hash_draw(F.col(key_col), salt) < int(fraction * DRAW_BUCKETS))


def with_train_test_split(df: DataFrame, key_col: str, test_fraction: float = 0.2,
                          salt: str = "split", out: str = "split") -> DataFrame:
    """Tag every row 'train' or 'test' by key hash. Stable under
    appends: a row's assignment depends only on its own key."""
    is_test = hash_draw(F.col(key_col), salt) < int(test_fraction * DRAW_BUCKETS)
    return df.withColumn(out, F.when(is_test, F.lit("test")).otherwise(F.lit("train")))


def split_thresholds(weights: list[float]) -> list[int]:
    """Cumulative draw-bucket cutoffs for an N-way weighted split.
    Shared by the DataFrame compiler AND the SQL oracle renderer so
    both engines compare the draw against the SAME integers (a
    float-accumulation difference of one bucket would reassign rows)."""
    total = float(sum(weights))
    out, cum = [], 0.0
    for w in weights[:-1]:
        cum += w / total
        out.append(int(cum * DRAW_BUCKETS))
    return out


def with_hash_split(df: DataFrame, key_col: str, weights: list[float],
                    labels: list[str], salt: str = "split",
                    out: str = "split") -> DataFrame:
    """N-way deterministic split (train/val/test and friends) by key
    hash: row i gets labels[j] where j is the first cumulative-weight
    cutoff its draw falls under. Assignment depends only on the row's
    own key — stable under appends, repartitioning, and engine choice
    (the draw is the md5-based 60-bit prefix, portable to SQL). A pure
    per-row expression: no shuffle, no sampling pass, no driver state."""
    draw = hash_draw(F.col(key_col), salt)
    expr = None
    for cut, lab in zip(split_thresholds(weights), labels[:-1]):
        cond = draw < cut
        expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
    expr = F.lit(labels[-1]) if expr is None else expr.otherwise(F.lit(labels[-1]))
    return df.withColumn(out, expr)


def balanced_sample_per_label(df: DataFrame, label_col: str, n_per_label: int,
                              key_col: str, salt: str = "balance") -> DataFrame:
    """Class-balanced downsample: at most ``n_per_label`` rows per
    label, chosen in deterministic hash order (not head-of-partition
    order, which would bias toward file layout). One window per label
    partition — the standard shape for balancing skewed training
    corpora; heavy labels prune early via the rank filter."""
    w = Window.partitionBy(label_col).orderBy(
        hash_draw(F.col(key_col), salt), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_label)
        .drop("_rn")
    )


def weighted_sample_per_group(df: DataFrame, group_col: str, weight_col: str,
                              k: int, key_col: str,
                              salt: str = "wrs") -> DataFrame:
    """Weighted sampling without replacement, per group: keep the top
    ``k`` rows per group by the Efraimidis-Spirakis priority
    u^(1/weight), where u is the deterministic per-key hash draw in
    (0, 1]. Each row's inclusion probability is proportional to its
    weight (the A-ES reservoir scheme) while remaining fully
    reproducible — rerun, re-shard, or re-engine and the same rows are
    chosen. The training-data use: sample a fixed budget per language
    or source with probability proportional to document length or a
    quality score, instead of uniformly.

    Determinism across engines: u = (hash60(salt|key) + 1) / 2^60 and
    the exponent 1/weight are exact IEEE doubles built the same way on
    both sides; pow is the only libm call, and a selection flip would
    need two priorities within ~1 ulp at the rank-k boundary —
    probability ~1e-16 per group. Ties break on the key. One window
    per group partition; heavy groups prune early via the rank filter."""
    u = (
        _hash60(F.concat(F.lit(f"{salt}|"), F.col(key_col).cast("string"))) + 1
    ) / F.lit(float(2**60))
    w = Window.partitionBy(group_col).orderBy(F.desc("_pri"), F.col(key_col))
    return (
        df.withColumn("_pri", F.pow(u, 1.0 / F.col(weight_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_pri", "_rn")
    )


def negative_samples(df: DataFrame, id_col: str = "vec_id",
                     label_col: str = "label", k: int = 3,
                     pool_size: int = 64, salt: str = "negpool") -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor row, pick ``k`` negatives (rows with a DIFFERENT
    label) from a small shared candidate pool, ranked per anchor by
    md5(anchor|candidate) so each anchor sees its own pseudo-random
    ordering of the pool.

    The pool is the ``pool_size`` corpus rows with the smallest hash
    draw — a fixed-size, data-independent subset that broadcasts to
    every executor. The scan side therefore does anchor x pool work
    (pool_size is a constant), never anchor x corpus: linear at 100 TB
    where a per-anchor corpus sample would be a self-join. Anchors
    whose label dominates the pool may get fewer than k negatives (the
    usual in-batch-negatives caveat; raise pool_size to shrink it).

    Output: (id, label, negative_id, neg_rank in 1..k).
    """
    draw = hash_draw(F.col(id_col), salt)
    pool = (
        df.select(
            F.col(id_col).alias("_cand_id"),
            F.col(label_col).alias("_cand_label"),
            draw.alias("_d"),
        )
        .orderBy("_d", "_cand_id")
        .limit(pool_size)
        .drop("_d")
    )
    rank_key = F.md5(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit("|"),
            F.col("_cand_id").cast("string"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(rank_key, F.col("_cand_id"))
    return (
        df.select(id_col, label_col)
        .join(F.broadcast(pool), F.col(label_col) != F.col("_cand_label"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            id_col,
            label_col,
            F.col("_cand_id").alias("negative_id"),
            F.col("_rn").cast("long").alias("neg_rank"),
        )
    )


# Poisson(1) CDF cutoffs on the [0, 1e6) draw scale: a draw below
# POISSON1_CUTOFFS[k] (and not below cutoff k-1) gets bootstrap weight
# k; at or above the last cutoff the weight caps at len(cutoffs). The
# integer list is shared by the DataFrame operator AND the SQL oracle
# renderer (the split_thresholds discipline) so both engines compare
# the SAME integers — no float CDF is ever evaluated at query time.
POISSON1_CUTOFFS: list[int] = [
    367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989,
]


def poisson1_weight(draw: F.Column) -> F.Column:
    """Poisson(1) bootstrap weight from a [0, 1e6) hash draw by
    inverse-CDF over the shared integer cutoffs (weight capped at 8,
    beyond the 0.9999989 quantile)."""
    expr = None
    for k, cut in enumerate(POISSON1_CUTOFFS):
        cond = draw < cut
        expr = F.when(cond, F.lit(k)) if expr is None else expr.when(cond, F.lit(k))
    return expr.otherwise(F.lit(len(POISSON1_CUTOFFS)))
