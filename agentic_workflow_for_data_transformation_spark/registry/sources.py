"""Source round trips (sources/io.py): schema-evolving JSONL and CSV,
and partitioned ORC.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..benchqueries import _t, register
from ..sources import io as sio


def _q_source_jsonl(spark, sf_dir: str):
    """Build (idempotently, per scale factor) a two-batch JSONL fixture
    derived from the documents table — batch 0 without the ``source``
    field, batch 1 with it, i.e. a schema that EVOLVED between dumps —
    then read both through read_json_evolving and aggregate. The oracle
    computes the same aggregate straight from the parquet view, so a
    hash match proves the JSONL write -> evolving read round trip is
    lossless including the null-fill of the missing column."""
    # key the fixture on the FULL resolved path, not the basename:
    # testdata/sf0.1 and scaledata/sf0.1 must not share a fixture
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    st = os.stat(src) if os.path.exists(src) else None
    stamp = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns if st else 0}|{st.st_size if st else 0}"
    tag = hashlib.md5(stamp.encode()).hexdigest()[:12]
    base = f"/tmp/spark_graft_jsonl_{tag}"
    docs = _t(spark, sf_dir, "documents")
    if not os.path.exists(base + "/_done"):
        a = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
        b = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars", "source"
        )
        sio.write_json_dir(a.coalesce(4), base + "/batch0")
        sio.write_json_dir(b.coalesce(4), base + "/batch1")
        open(base + "/_done", "w").close()
    u = sio.read_json_evolving(spark, [base + "/batch0", base + "/batch1"])
    return u.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("source").cast("long").alias("n_with_source"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


register(
    "x_source_jsonl_evolving",
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    " CAST(count(CASE WHEN doc_id % 2 = 1 THEN source END) AS BIGINT) AS n_with_source, "
    " CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
    desc=(
        "Schema-evolving JSONL source round trip: two JSONL batches (the "
        "second gained a column) written from documents, read back via "
        "by-name union with missing-column null-fill, aggregated; oracle "
        "recomputes from the parquet view so the trip itself is checked."
    ),
)(_q_source_jsonl)


def _q_source_orc(spark, sf_dir: str):
    """Partition-pruned ORC source round trip: events land (idempotent
    stamped fixture) as a hive-partitioned ORC layout keyed on
    event_type; the query reads ONLY two partitions back (the filter
    prunes directories at planning time, pinned in test_plans) and
    aggregates. The oracle recomputes from the parquet view, so the
    ORC write -> partitioned read -> prune path is what's checked.
    Timestamps stay out of the round trip on purpose: value/ids are
    binary-exact in ORC, and the determinism contract stays trivial."""
    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    st = os.stat(src) if os.path.exists(src) else None
    stamp = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns if st else 0}|{st.st_size if st else 0}"
    base = f"/tmp/spark_graft_orc_{hashlib.md5(stamp.encode()).hexdigest()[:12]}"
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    if not os.path.exists(base + "/_done"):
        sio.write_orc_dir(ev.repartition(4), base + "/data",
                          partition_by=["event_type"])
        open(base + "/_done", "w").close()
    back = sio.read_orc(spark, base + "/data")
    return (
        back.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


register(
    "x_source_orc_partitioned",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
    " CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    " CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events WHERE event_type IN ('click', 'view') GROUP BY event_type",
    desc=(
        "Hive-partitioned ORC source round trip: events written "
        "partitionBy(event_type), read back with an IN filter that "
        "prunes to 2 of 5 partition directories at planning time; "
        "oracle recomputes from the parquet view."
    ),
)(_q_source_orc)


def _q_source_csv(spark, sf_dir: str):
    """Build (idempotently, per scale factor) a two-batch CSV fixture
    derived from the documents table — batch 0 without the ``source``
    header, batch 1 with it, i.e. a header that EVOLVED between dumps —
    then read both through read_csv_evolving with explicit per-batch
    schemas and aggregate. The oracle computes the same aggregate
    straight from the parquet view, so a hash match proves the CSV
    write -> by-name evolving read round trip is lossless including the
    null-fill of the missing column. Only CSV-safe scalar columns are
    written (no free text: embedded newlines need multiLine readers,
    which serialize to one task per file)."""
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    st = os.stat(src) if os.path.exists(src) else None
    stamp = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns if st else 0}|{st.st_size if st else 0}"
    tag = hashlib.md5(stamp.encode()).hexdigest()[:12]
    base = f"/tmp/spark_graft_csv_{tag}"
    docs = _t(spark, sf_dir, "documents")
    if not os.path.exists(base + "/_done"):
        a = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "n_chars")
        b = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars", "source"
        )
        sio.write_csv_dir(a.coalesce(4), base + "/batch0")
        sio.write_csv_dir(b.coalesce(4), base + "/batch1")
        open(base + "/_done", "w").close()
    # build the two schemas independently: StructType.add MUTATES and
    # returns self, so s1 = s0.add(...) would silently widen s0 too
    _base_fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
    s0 = T.StructType(list(_base_fields))
    s1 = T.StructType(list(_base_fields) + [T.StructField("source", T.StringType())])
    u = sio.read_csv_evolving(
        spark, [base + "/batch0", base + "/batch1"], schemas=[s0, s1]
    )
    return u.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("source").cast("long").alias("n_with_source"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


register(
    "x_source_csv_evolving",
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    " CAST(count(CASE WHEN doc_id % 2 = 1 THEN source END) AS BIGINT) AS n_with_source, "
    " CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
    desc=(
        "Schema-evolving CSV source round trip: two CSV batches (the "
        "second's header gained a column) written from documents, read "
        "back with explicit per-batch schemas via by-name union with "
        "missing-column null-fill, aggregated; oracle recomputes from "
        "the parquet view so the trip itself is checked."
    ),
)(_q_source_csv)
