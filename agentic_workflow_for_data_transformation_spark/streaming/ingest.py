"""Streaming corpus ingest with archive-backed dedup (SURVEY.md
section 2.6/2.9 north-star surface; the reference has no streaming).

This is the recurring-pipeline form of incremental ingest dedup
(operators/dedup.py) lifted onto Structured Streaming: documents
arrive as a stream, each micro-batch is deduplicated against the
PERSISTED bucketed digest archive (``dedup.write_digest_archive`` —
``bucketBy(n, _h).sortBy(_h)``, so the archive side of the anti join
plans no Exchange), surviving documents flow to the sink, and their
digests append to the same bucketed table so the NEXT batch — or the
next day's run — sees them. State lives in the table, not the stream:
restarts recover from the checkpoint + the archive, and a batch job
can share the very same archive.

Scale design:
- The archive-side join never shuffles (bucket files ARE the hash
  partitioning); only the micro-batch re-partitions — batch-sized,
  not archive-sized work per trigger.
- Digest appends write through the SAME bucket spec, so the layout
  property is preserved across arbitrarily many batches.
- Semantics are at-least-once on the document sink (a replayed batch
  re-emits its docs; production sinks key on doc_id for idempotence)
  but the ARCHIVE stays correct under replay: it is a set under
  anti-join semantics, so duplicate digest rows from a replay cost
  bytes, never correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as _dedup
from ..sources.io import read_parquet


def ensure_digest_archive(spark: SparkSession, table: str, path: str,
                          seed: DataFrame | None = None,
                          n_buckets: int = 32,
                          text_col: str = "text") -> None:
    """Create the bucketed digest archive if absent — empty, or seeded
    from an initial corpus (the batch backfill that precedes the
    stream)."""
    if spark.catalog.tableExists(table):
        return
    if seed is None:
        seed = spark.createDataFrame([], "text string")
    _dedup.write_digest_archive(seed, table, path, n_buckets=n_buckets,
                                text_col=text_col)


def dedup_batch_against_archive(batch: DataFrame, table: str,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """One micro-batch through the archive anti join: batch-internal
    duplicates collapse to the min-id representative, then anything
    already archived drops. The archive scan is bucket-partitioned, so
    the only Exchange under the join is the (small) batch side."""
    spark = batch.sparkSession
    return _dedup.incremental_new_docs(
        batch, existing_digests=spark.table(table),
        id_col=id_col, text_col=text_col,
    )


def append_digests(df: DataFrame, table: str, path: str,
                   n_buckets: int = 32, text_col: str = "text") -> None:
    """Append the digests of newly-accepted documents through the same
    bucket spec, preserving the shuffle-free-join layout. Bucket count
    must match the archive's — Spark validates on append."""
    (
        _dedup.corpus_digests(df, text_col)
        .write.mode("append")
        .option("path", path)
        .bucketBy(n_buckets, "_h")
        .sortBy("_h")
        .format("parquet")
        .saveAsTable(table)
    )


def ingest_stream_dedup(docs: DataFrame, table: str, path: str,
                        out_dir: str, checkpoint_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_buckets: int = 32):
    """Wire a streaming documents source to the archive-dedup sink:
    foreachBatch(dedup -> emit parquet -> append digests). Returns the
    started StreamingQuery; callers drive it (processAllAvailable in
    tests, awaitTermination in production)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        fresh = dedup_batch_against_archive(
            batch, table, id_col=id_col, text_col=text_col
        ).persist()
        try:
            if fresh.limit(1).count() == 0:
                return
            fresh.write.mode("append").parquet(out_dir)
            append_digests(fresh, table, path, n_buckets=n_buckets,
                           text_col=text_col)
        finally:
            fresh.unpersist()

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_documents_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-stream source over a documents parquet directory. Streaming
    file sources need an explicit schema; take it from a batch read of
    the same directory (sources.io.read_parquet: inferred once per
    file fingerprint)."""
    schema = read_parquet(spark, src_dir).schema
    return spark.readStream.schema(schema).parquet(src_dir)


def streaming_count_min(docs: DataFrame, depth: int = 4, width: int = 256,
                        text_col: str = "text") -> DataFrame:
    """Count-min sketch maintained over an UNBOUNDED document stream —
    the canonical bounded-state heavy-hitter tracker: whatever the
    corpus size, streaming state is exactly depth x width counter
    cells (the CMS cell grid is a commutative monoid, so Spark's
    incremental aggregation maintains it exactly; no watermark needed
    because the state never grows). Query with outputMode('complete')
    — the result table IS the sketch, and estimates for any key are
    min over rows of the addressed cells, identical to the batch
    operator (operators/stats.count_min_estimates): same md5-60bit
    hash family, so a stream-maintained sketch and a batch-built one
    over the same documents are cell-for-cell EQUAL (pinned by
    tests/test_streaming.py)."""
    from ..operators.dedup import _hash60

    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    cell = F.pmod(_hash60(F.concat(F.col("w"), F.lit("|"), F.col("r"))),
                  F.lit(width))
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .select("w", rows)
        .select("r", cell.alias("cell"))
        .groupBy("r", "cell")
        .agg(F.count(F.lit(1)).alias("cellsum"))
    )


# --------------------------------------------------------------------------
# NEAR-dup streaming ingest: the fuzzy twin of the digest rung above.
# Two persisted artifacts instead of one — the bucketed band-key table
# (candidate join side, Exchange-free) and the accepted-docs parquet
# store (text for exact-Jaccard verification, read only at candidate
# ids). Both grow per batch through the same specs.
# --------------------------------------------------------------------------


def ensure_lsh_archive(spark: SparkSession, table: str, path: str,
                       docs_dir: str, seed: DataFrame | None = None,
                       n_buckets: int = 32, id_col: str = "doc_id",
                       text_col: str = "text") -> None:
    """Create the near-dup archive pair if absent: the bucketed
    band-key table (dedup.write_lsh_archive) and the accepted-docs
    store the verifier reads candidate text from — empty, or seeded
    from the batch backfill that precedes the stream."""
    if spark.catalog.tableExists(table):
        return
    if seed is None:
        seed = spark.createDataFrame([], f"{id_col} bigint, {text_col} string")
    _dedup.write_lsh_archive(seed, table, path, n_buckets=n_buckets,
                             id_col=id_col)
    seed.write.mode("overwrite").parquet(docs_dir)


def neardup_batch_against_archive(batch: DataFrame, table: str,
                                  docs_dir: str, threshold: float = 0.5,
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> DataFrame:
    """One micro-batch through the near-dup screen: band keys equi-join
    the bucketed archive (no archive-side Exchange), exact Jaccard
    verifies candidates against the accepted-docs store restricted to
    colliding ids — per-trigger work is batch-sized plus the candidate
    reads, never archive-sized."""
    spark = batch.sparkSession
    return _dedup.incremental_neardup_new_docs(
        batch, spark.read.parquet(docs_dir),
        archive_buckets=spark.table(table),
        threshold=threshold, id_col=id_col, text_col=text_col,
    )


def append_band_keys(df: DataFrame, table: str, path: str,
                     n_buckets: int = 32, id_col: str = "doc_id") -> None:
    """Append the accepted documents' band keys through the same bucket
    spec, preserving the shuffle-free candidate join for every future
    batch."""
    (
        _dedup.band_buckets(df, id_col=id_col)
        .write.mode("append")
        .option("path", path)
        .bucketBy(n_buckets, "band_key")
        .sortBy("band_key")
        .format("parquet")
        .saveAsTable(table)
    )


def ingest_stream_neardup(docs: DataFrame, table: str, path: str,
                          docs_dir: str, out_dir: str, checkpoint_dir: str,
                          threshold: float = 0.5, id_col: str = "doc_id",
                          text_col: str = "text", n_buckets: int = 32):
    """Streaming near-dup corpus ingest: foreachBatch(screen -> emit ->
    append docs + band keys). State lives in the two archive artifacts,
    so restarts recover from checkpoint + tables and a batch job can
    share them; at-least-once on the sink, and the archive stays
    correct under replay (a replayed doc matches its own archived copy
    at Jaccard 1.0 and is dropped). Intra-batch near-dups are out of
    scope by the same contract as the batch operator — run
    lsh_verified_pairs + greedy keep-first inside the batch when that
    matters. Returns the started StreamingQuery."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        fresh = neardup_batch_against_archive(
            batch, table, docs_dir, threshold=threshold,
            id_col=id_col, text_col=text_col,
        ).persist()
        try:
            if fresh.limit(1).count() == 0:
                return
            fresh.write.mode("append").parquet(out_dir)
            fresh.select(id_col, text_col).write.mode("append").parquet(docs_dir)
            append_band_keys(fresh, table, path, n_buckets=n_buckets,
                             id_col=id_col)
        finally:
            fresh.unpersist()

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
