"""Streaming ANN serving (round-8: the batch/stream symmetry rung for
the similarity family — the digest archive already has it for dedup,
VERDICT r7 ask #7).

Queries arrive as a stream of (query_id, qv) rows; every micro-batch
scores against the PERSISTED IVFADC index (operators/similarity.
write_ivfpq_index: coarse centroids, trained residual codebook, codes
partitioned by cell) through the same topk_ivfpq_from_index plan a
batch lookup uses — foreachBatch IS the batch path, so stream/batch
parity is by construction and pinned by tests/test_streaming.py.

Scale design:
- the index is state OUTSIDE the stream (parquet), so restarts
  recover from the checkpoint alone and a corpus re-index swaps in by
  path, never by stream surgery;
- per-trigger work is query-batch-sized: probe tables and LUTs are
  broadcast, the code scan reads only the probed cells' partitions
  (file-level pruning);
- results append per batch; the sink is idempotent per (query_id,
  rank) for at-least-once replays keyed on those columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity as _sim
from ..sources.io import read_parquet


def read_query_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-stream source of (query_id, qv) parquet batches (schema
    from one batch footer read, as in ingest.read_documents_stream)."""
    schema = read_parquet(spark, src_dir).schema
    return spark.readStream.schema(schema).parquet(src_dir)


def serve_ann_stream(queries: DataFrame, index_dir: str, out_dir: str,
                     checkpoint_dir: str, k: int = 10, n_probe: int = 4,
                     m: int = 32, dim: int | None = None,
                     query_id_col: str = "query_id",
                     query_vec_col: str = "qv"):
    """Wire a query stream to the persisted-index top-k scorer:
    foreachBatch(topk_ivfpq_from_index -> append parquet). Returns the
    started StreamingQuery; callers drive it (processAllAvailable in
    tests, awaitTermination in production)."""

    # load the index ONCE per server, not once per micro-batch — the
    # broadcast-side frames pin in memory for the stream's lifetime
    index = _sim.load_ivfpq_index(queries.sparkSession, index_dir)

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        _sim.topk_ivfpq_from_index(
            batch, index_dir, k=k, n_probe=n_probe, m=m, dim=dim,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            index=index,
        ).write.mode("append").parquet(out_dir)

    return (
        queries.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_dsir_ratios(corpus: DataFrame, target_pred, path: str,
                      text_col: str = "text", d: int = 16) -> None:
    """Estimate the DSIR log-ratio table once over a reference corpus
    and persist it (d rows) — the stream scorer's fixed state, swapped
    by path like the ANN index, never by stream surgery."""
    from ..operators.corpus import dsir_ratio_table

    dsir_ratio_table(corpus, target_pred, text_col=text_col, d=d) \
        .write.mode("overwrite").parquet(path)


def score_dsir_stream(docs: DataFrame, ratios_path: str, out_dir: str,
                      checkpoint_dir: str, id_col: str = "doc_id",
                      text_col: str = "text", d: int = 16):
    """Streaming DSIR quality gate: every ingest micro-batch gets its
    importance weights against the PERSISTED ratio table through the
    exact plan the batch scorer uses (operators/corpus.
    dsir_score_against_ratios — foreachBatch IS the batch path, so
    stream/batch parity is by construction). Per-trigger work is
    batch-sized: the d-row table broadcasts, the per-doc aggregate
    never crosses micro-batches (a document's weight depends only on
    its own words), so the stream needs no watermark and no state
    store. Returns the started StreamingQuery."""
    from ..operators.corpus import dsir_score_against_ratios

    # load once per server, not once per micro-batch
    ratios = docs.sparkSession.read.parquet(ratios_path)

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        dsir_score_against_ratios(
            batch, ratios, id_col=id_col, text_col=text_col, d=d
        ).write.mode("append").parquet(out_dir)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def classify_stream(vecs: DataFrame, model_path: str, out_dir: str,
                    checkpoint_dir: str, id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Streaming nearest-centroid classification: every vector
    micro-batch is assigned against the PERSISTED centroid model
    (operators/similarity.write_centroid_model) through the exact
    batch scoring plan (similarity.assign_nearest_centroid —
    foreachBatch IS the batch path, so stream/batch parity is by
    construction). Per-trigger work is batch-sized: the labels x dim
    model broadcasts, a vector's assignment depends only on its own
    components, so no watermark and no state store; the model swaps by
    path like the ANN index and the DSIR ratio table. Returns the
    started StreamingQuery."""
    from ..operators.similarity import assign_nearest_centroid

    # load once per server, not once per micro-batch
    model = vecs.sparkSession.read.parquet(model_path)

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        assign_nearest_centroid(
            batch, model, id_col=id_col, vec_col=vec_col
        ).write.mode("append").parquet(out_dir)

    return (
        vecs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_logreg_model(corpus: DataFrame, path: str, d: int = 8,
                       n_iter: int = 2, lr: float = 0.5,
                       target_col: str = "lang",
                       target_val: str = "en") -> None:
    """Train the hashed-BoW logistic quality/domain classifier on a
    reference corpus and persist its (term, value) weight rows — the
    stream scorer's fixed state, swapped by path like the ANN index
    and the centroid model, never by stream surgery."""
    from ..operators.stats import train_logreg_hashed_bow

    train_logreg_hashed_bow(
        corpus, d=d, n_iter=n_iter, lr=lr,
        target_col=target_col, target_val=target_val,
    ).filter("term <> 'train_acc'").write.mode("overwrite").parquet(path)


def score_logreg_stream(docs: DataFrame, model_path: str, out_dir: str,
                        checkpoint_dir: str, d: int = 8,
                        id_col: str = "doc_id", text_col: str = "text"):
    """Streaming logistic scoring: every document micro-batch is
    scored against the PERSISTED weight table through the exact batch
    plan (stats.score_logreg_hashed_bow — foreachBatch IS the batch
    path, so stream/batch parity is by construction). The d+1 weights
    collect ONCE per server into plan literals; a document's score
    depends only on its own words, so the stream needs no watermark
    and no state store. Returns the started StreamingQuery."""
    from ..operators.stats import score_logreg_hashed_bow

    weights = {
        r["term"]: float(r["value"])
        for r in docs.sparkSession.read.parquet(model_path).collect()
    }

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        score_logreg_hashed_bow(
            batch, weights, d=d, id_col=id_col, text_col=text_col
        ).write.mode("append").parquet(out_dir)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_conformal_thresholds(corpus: DataFrame, path: str,
                               **kwargs) -> None:
    """Calibrate the split-conformal quality thresholds on a reference
    corpus (quality.conformal_quality_thresholds) and persist the
    3-row threshold table — the stream gate's fixed state, swapped by
    path like the ANN index / centroid model / logreg weights, never
    by stream surgery."""
    from ..operators.quality import conformal_quality_thresholds

    conformal_quality_thresholds(corpus, **kwargs).write.mode(
        "overwrite"
    ).parquet(path)


def quality_gate_stream(docs: DataFrame, thresholds_path: str,
                        out_dir: str, checkpoint_dir: str,
                        coverage: float = 0.9,
                        text_col: str = "text"):
    """Streaming conformal quality gate: every document micro-batch is
    scored with the deterministic quality heuristics and filtered by
    the PERSISTED calibrated threshold for the chosen coverage level —
    the ingest-time filter whose cutoff carries a guarantee instead of
    a guess. foreachBatch runs the identical batch projection
    (text.with_quality_score), so stream/batch parity is by
    construction; a document's fate depends only on its own text, so
    no watermark and no state store. Returns the started
    StreamingQuery."""
    from pyspark.sql import functions as F

    from ..operators.text import with_quality_score

    rows = docs.sparkSession.read.parquet(thresholds_path).collect()
    matches = [r for r in rows if abs(r["coverage"] - coverage) < 1e-9]
    if not matches:
        raise ValueError(
            f"no calibrated threshold for coverage {coverage!r}; "
            f"have {sorted(r['coverage'] for r in rows)}"
        )
    threshold = float(matches[0]["threshold"])

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        with_quality_score(batch, text_col).filter(
            F.col("quality_score") >= threshold
        ).write.mode("append").parquet(out_dir)

    return (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
