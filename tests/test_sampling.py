"""Semantic tests for deterministic hash sampling and batch
sessionization (the sf0.01 DuckDB oracle covers them at data scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from agentic_workflow_for_data_transformation_spark.operators import sampling
from agentic_workflow_for_data_transformation_spark.sources import read_parquet_table


def test_hash_sample_is_deterministic_and_roughly_sized(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents")
    a = {r["doc_id"] for r in sampling.hash_sample(docs, 0.1, "doc_id").select("doc_id").collect()}
    b = {r["doc_id"] for r in sampling.hash_sample(docs, 0.1, "doc_id").select("doc_id").collect()}
    assert a == b  # same sample every run
    n = docs.count()
    assert 0.03 * n <= len(a) <= 0.25 * n  # loose band around 10%


def test_hash_sample_is_monotone_in_fraction(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents")
    small = {r["doc_id"] for r in sampling.hash_sample(docs, 0.05, "doc_id").select("doc_id").collect()}
    big = {r["doc_id"] for r in sampling.hash_sample(docs, 0.2, "doc_id").select("doc_id").collect()}
    assert small <= big  # growing the fraction only adds rows


def test_train_test_split_partitions_rows(spark, sf_dir):
    docs = read_parquet_table(spark, sf_dir, "documents")
    tagged = sampling.with_train_test_split(docs, "doc_id", test_fraction=0.2)
    counts = {r["split"]: r["n"] for r in tagged.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "test"}
    assert counts["train"] + counts["test"] == docs.count()


def test_balanced_sample_caps_each_label(spark, sf_dir):
    emb = read_parquet_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    out = sampling.balanced_sample_per_label(emb, "label", 5, "vec_id")
    per = out.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    assert per.filter(F.col("n") > 5).count() == 0
    # deterministic across invocations
    a = {(r["label"], r["vec_id"]) for r in out.collect()}
    b = {(r["label"], r["vec_id"]) for r in sampling.balanced_sample_per_label(emb, "label", 5, "vec_id").collect()}
    assert a == b


def test_sessionize_batch_gap_invariants(spark, sf_dir):
    from agentic_workflow_for_data_transformation_spark.sources import read_events
    from agentic_workflow_for_data_transformation_spark.streaming.events import sessionize_batch

    ev = read_events(spark, sf_dir)
    sess = sessionize_batch(ev, gap_seconds=1800)
    # every event lands in exactly one session
    assert sess.agg(F.sum("n_events")).first()[0] == ev.count()
    # consecutive sessions of a user are separated by more than the gap
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    bad = (
        sess.withColumn("prev_end", F.lag("session_end").over(w))
        .filter(
            F.col("prev_end").isNotNull()
            & (
                (F.col("session_start").cast("long") - F.col("prev_end").cast("long"))
                <= 1800
            )
        )
        .count()
    )
    assert bad == 0


def test_negative_samples_labels_differ_and_deterministic(spark):
    from agentic_workflow_for_data_transformation_spark.operators.sampling import (
        negative_samples,
    )

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], ["vec_id", "label"]
    )
    out = negative_samples(df, k=2, pool_size=8).collect()
    by_anchor = {}
    labels = {r["vec_id"]: r["label"] for r in df.collect()}
    for r in out:
        assert labels[r["negative_id"]] != r["label"]
        by_anchor.setdefault(r["vec_id"], []).append(
            (r["neg_rank"], r["negative_id"])
        )
    for anchor, negs in by_anchor.items():
        ranks = sorted(k for k, _ in negs)
        assert ranks == list(range(1, len(negs) + 1))
        assert len(negs) <= 2
    # deterministic across invocations
    again = negative_samples(df, k=2, pool_size=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_dsir_sample_is_weighted_and_deterministic(spark):
    """The composed DSIR selection keeps <= k docs per language, is
    rerun-stable, and target-language docs win more slots than their
    uniform share (they carry exp(positive log-ratio) weights)."""
    from agentic_workflow_for_data_transformation_spark import benchqueries

    q = benchqueries.queries()["ns_corpus_dsir_sample"]
    a = {(r["doc_id"], r["lang"]) for r in q(spark, "/root/testdata/sf0.001").collect()}
    b = {(r["doc_id"], r["lang"]) for r in q(spark, "/root/testdata/sf0.001").collect()}
    assert a == b and a
    import collections

    per_lang = collections.Counter(lang for _, lang in a)
    assert all(n <= 10 for n in per_lang.values())


def test_sessionize_op_accepts_timestamp_ntz(spark, sf_dir):
    """The sessionize op over a TIMESTAMP_NTZ ``ts`` (how Spark surfaces
    a parquet timestamp not adjusted to UTC) gives the same sessions as
    over its TIMESTAMP twin."""
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec
    from agentic_workflow_for_data_transformation_spark.sources import read_events

    ev = read_events(spark, sf_dir)
    ntz = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    spec = {"ops": [{"op": "sessionize", "key": "user_id", "gap_seconds": 1800}]}

    def sessions(df):
        out = compile_spec(df, spec)
        return sorted(map(tuple, out.select([F.col(c).cast("string") for c in out.columns]).collect()))

    assert ntz.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert sessions(ntz) == sessions(ev)
