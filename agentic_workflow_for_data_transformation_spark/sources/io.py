"""Sources and sinks (SURVEY.md section 2.1, S1-S8).

Reference behavior being matched:
- CSV in with inferred schema (reference
  agentic_workflow_transformation.py:306-315 via pandas read_csv);
- CSV out with header always written, no index column, and an *empty
  result still produces a header-only file* (reference :152 and
  AGENTIC_WORKFLOW.md:87);
- unique output naming ``transform_{slug}_{UTCstamp}.csv`` (:114-118);
- small row-sample handoff as list-of-dicts for agent prompts
  (:308, :314, :369).

Parquet is the internal/scale format (the driver test tables are
parquet); CSV exists for reference parity at the edges.
"""

from __future__ import annotations

import csv
import re
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..session import memo, path_fingerprint

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV source with header; schema inferred when not supplied (S1/S2
    parity with pandas read_csv). At scale pass an explicit schema —
    inference costs a full extra pass over the data."""
    reader = spark.read.option("header", True)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", True).csv(path)


def read_parquet(spark: SparkSession, path: str | Path) -> DataFrame:
    """Parquet source with its schema memoized per (application, path,
    file fingerprint). Inferring a parquet schema is a Spark job on
    every read; reading with the schema found last time runs none, so
    a warm query construction launches no job. The fingerprint
    (session.path_fingerprint) is the sorted name, size and mtime of
    every file under the path, so a rewrite in place misses the memo
    and is inferred afresh. A path that is not local, or a file that
    vanishes during the walk, falls back to plain inference."""
    path = str(path)
    fp = path_fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    schema = memo(spark, "schema", (path, fp), lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, Path(sf_dir) / f"{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to session-timezone TimestampType
    regardless of how the parquet writer encoded it. Testdata
    generations have shipped it three ways:

    - int64 raw nanoseconds (readable only via the
      ``spark.sql.legacy.parquet.nanosAsLong`` conf) -> exact integer
      division to micros, matching a ns->us CAST in DuckDB/ANSI engines;
    - parquet timestamp[us] with isAdjustedToUTC=false, which Spark
      surfaces as TIMESTAMP_NTZ -> cast to TIMESTAMP (value-preserving
      because the engine session timezone is pinned to UTC, session.py);
    - plain TIMESTAMP -> pass through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events source: read the parquet and adapt to whatever dtype the
    ``ts`` column actually carries (see normalize_event_ts). The legacy
    nanos conf is set defensively — it is a no-op unless the file really
    stores int64 nanos, and without it such a file fails the read with
    PARQUET_TYPE_ILLEGAL before we can inspect the schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(read_parquet(spark, Path(sf_dir) / "events.parquet"))


def read_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {
        n: read_events(spark, sf_dir) if n == "events" else read_parquet_table(spark, sf_dir, n)
        for n in names or TPCH_TABLES
    }


def unique_output_path(out_dir: str | Path, description: str, ext: str = "csv") -> Path:
    """``transform_{slug}_{UTCstamp}.{ext}`` — same naming contract as
    the reference (:114-118)."""
    slug = re.sub(r"[^A-Za-z0-9]+", "_", description).strip("_").lower()[:80]
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    return Path(out_dir) / f"transform_{slug}_{stamp}.{ext}"


def write_csv_single(df: DataFrame, path: str | Path, small_threshold: int = 1_000_000) -> Path:
    """Write a single CSV file with a header — even for empty results
    (S5 contract: header-only file, AGENTIC_WORKFLOW.md:87).

    Spark's native CSV sink writes a directory of part files; for the
    reference's single-file contract we collect through Arrow, in ONE
    bounded collect of at most ``small_threshold + 1`` rows
    (``limit(n+1)`` stops the scan early, so the driver never holds
    more). More than ``small_threshold`` rows back means the result is
    too big for one file: it falls back to the parallel directory sink
    (``write_csv_dir``) and returns that directory path —
    ``spark.read.csv`` and ``csv_shape`` read either form, so downstream
    consumers (the critic) are unaffected. This keeps a "select everything from a
    100 TB table" description from collecting onto the driver.
    """
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    pdf = df.limit(small_threshold + 1).toPandas()
    if len(pdf) > small_threshold:
        return write_csv_dir(df, path.with_suffix(""))
    pdf.to_csv(path, index=False)
    return path


def csv_shape(path: str | Path) -> tuple[list[str], int]:
    """(header, data-row count) of what ``write_csv_single`` wrote — a
    single file, or a directory whose part files each carry the header
    — read with the ``csv`` module, so no Spark job. Both forms write
    one dialect (see ``write_csv_dir``)."""
    path = Path(path)
    parts = sorted(path.glob("part-*")) if path.is_dir() else [path]
    header: list[str] = []
    n = 0
    for part in parts:
        with open(part, newline="", encoding="utf-8") as f:
            rows = csv.reader(f)
            header = next(rows, header)
            n += sum(1 for _ in rows)
    return header, n


def write_csv_dir(df: DataFrame, path: str | Path) -> Path:
    """Scale-path CSV sink: a directory of part files, parallel write,
    in the single-file form's (pandas') dialect: an embedded quote is
    doubled, a backslash is an ordinary character, and NULL is written
    as ``""`` (Spark writes nothing for it, so a one-column NULL row
    would otherwise vanish as an empty line). Spark reads ``""`` back
    as NULL."""
    path = Path(path)
    (df.write.mode("overwrite").option("header", True)
     .option("escape", '"').option("nullValue", '""').csv(str(path)))
    return path


def write_parquet(df: DataFrame, path: str | Path,
                  partition_by: list[str] | None = None,
                  buckets: tuple[int, list[str], str] | None = None) -> Path:
    """Scale-path parquet sink.

    ``partition_by`` lays the table out as one directory per value —
    the physical form that makes downstream partition pruning free
    (e.g. similarity tables partitioned by IVF ``cell`` or sign-LSH
    ``bucket``, events by date). ``buckets`` = (n, cols, table_name)
    additionally bucket-sorts into a saved table so equi-joins on the
    bucket columns co-locate without a shuffle."""
    path = Path(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if buckets:
        n, cols, table_name = buckets
        writer.option("path", str(path)).bucketBy(n, *cols).sortBy(*cols).saveAsTable(table_name)
        return path
    writer.parquet(str(path))
    return path


def write_parquet_zordered(df: DataFrame, path: str | Path,
                           x: str, y: str, bits: int = 16,
                           files: int | None = None) -> Path:
    """Z-order-clustered parquet sink: sort by the Morton interleave of
    two (bucketed, non-negative int) columns before writing, so every
    row group's min/max statistics form a tight 2D bounding box and
    range predicates on EITHER column prune at the row-group level
    (functions/layout.py; pruning win measured in tests/test_layout.py).
    ``files`` range-partitions by the key first — the multi-file form a
    cluster writer uses; default keeps the input partitioning with a
    per-partition sort (no extra shuffle)."""
    from ..functions.layout import zorder_key_2d

    path = Path(path)
    keyed = df.withColumn("_zkey", zorder_key_2d(x, y, bits))
    if files:
        keyed = keyed.repartitionByRange(files, "_zkey")
    (
        keyed.sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(str(path))
    )
    return path


def records_sample(df: DataFrame, n: int = 10) -> list[dict]:
    """Small row sample as list-of-dicts (S4) — only ever ``limit(n)``,
    never a full collect."""
    return [r.asDict(recursive=True) for r in df.limit(n).collect()]


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source (one object per line — the only JSON layout
    that splits across executors; multiLine JSON forces one task per
    file). Schema inference costs a full extra pass: always pass an
    explicit schema at scale."""
    reader = spark.read
    if schema is not None:
        return reader.schema(schema).json(path)
    return reader.json(path)


def write_json_dir(df: DataFrame, path: str | Path) -> Path:
    """JSON-lines sink: a directory of part files, parallel write."""
    path = Path(path)
    df.write.mode("overwrite").json(str(path))
    return path


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (Spark-native, vectorized reader). Like parquet, ORC
    carries its schema and min/max stripe statistics, so predicate
    pushdown and column pruning reach the scan — interchange format
    for pipelines landing data from Hive-era warehouses."""
    return spark.read.orc(path)


def write_orc_dir(df: DataFrame, path: str | Path,
                  partition_by: list[str] | None = None) -> Path:
    """ORC sink: directory of part files, optional hive-style
    partition layout (same pruning story as write_parquet)."""
    path = Path(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(str(path))
    return path


def compact_parquet(spark: SparkSession, src: str | Path, dst: str | Path,
                    target_bytes: int = 128 * 1024 * 1024) -> Path:
    """Small-files compaction: rewrite a fragmented parquet directory
    into ~ceil(total_size / target_bytes) files. Streaming sinks and
    per-batch writers accumulate thousands of tiny files; every
    downstream scan then pays one task + one open per file, and the
    driver pays listing. Compaction restores ~target-sized files —
    the routine maintenance job behind OPTIMIZE in table formats.

    coalesce (not repartition): merging partitions needs no shuffle,
    the rewrite is scan+write only. Row order within merged files may
    change across engines/runs; parquet tables carry no order
    contract."""
    src, dst = Path(src), Path(dst)
    total = sum(f.stat().st_size for f in src.rglob("*.parquet"))
    n_files = max(1, -(-total // target_bytes))  # ceil
    df = spark.read.parquet(str(src))
    df.coalesce(n_files).write.mode("overwrite").parquet(str(dst))
    return dst


def read_union_evolving(spark: SparkSession, paths: list[str | Path]) -> DataFrame:
    """Schema-evolving multi-batch reader: union parquet directories
    whose schemas DRIFTED across time (a column added mid-stream, an
    early batch missing a field) by name, null-filling what a batch
    lacks — ``unionByName(allowMissingColumns=True)``, the semantics a
    long-lived ingest pipeline needs when old batches can't be
    rewritten. Positional union would silently misalign columns;
    ``mergeSchema`` alone handles footer merging but not missing-
    column null-fill across separate roots.

    Each directory keeps its own pushdown-capable scan; the union is
    plan-level (no shuffle, no materialization)."""
    if not paths:
        raise ValueError("read_union_evolving needs at least one path")
    dfs = [spark.read.parquet(str(p)) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def read_json_evolving(spark: SparkSession, paths: list[str | Path],
                       schema=None) -> DataFrame:
    """Schema-evolving JSON-lines reader: union JSONL directories whose
    object shapes drifted across batches (a field added mid-stream),
    null-filling what an early batch lacks — the JSONL twin of
    read_union_evolving. Corpus interchange (C4 / FineWeb / RedPajama
    style) ships as JSONL shards, and shard schemas DO drift across
    dump dates, so by-name union with missing-column fill is the only
    safe combinator. With an explicit ``schema`` the inference pass is
    skipped and missing fields arrive null directly."""
    if not paths:
        raise ValueError("read_json_evolving needs at least one path")
    dfs = [read_json(spark, str(p), schema=schema) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def read_csv_evolving(spark: SparkSession, paths: list[str | Path],
                      schemas: list | None = None) -> DataFrame:
    """Schema-evolving CSV reader: union CSV directories whose headers
    drifted across dumps (a column added mid-stream), null-filling what
    an early batch lacks — the CSV twin of read_union_evolving /
    read_json_evolving, completing the evolving-source matrix
    (parquet / JSONL / CSV). CSV carries no embedded schema, so pass
    one explicit schema PER BATCH (``schemas[i]``) at scale; with none
    supplied each batch pays its own inference pass and the union
    aligns whatever the passes agreed on by NAME (headers), never by
    position — positional union across drifted headers silently
    misaligns columns."""
    if not paths:
        raise ValueError("read_csv_evolving needs at least one path")
    if schemas is None:
        schemas = [None] * len(paths)
    if len(schemas) != len(paths):
        raise ValueError("read_csv_evolving: schemas must match paths 1:1")
    dfs = [read_csv(spark, str(p), schema=s) for p, s in zip(paths, schemas)]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def overwrite_partitions(df: DataFrame, path: str | Path,
                         partition_by: list[str]) -> Path:
    """Dynamic partition overwrite: replace ONLY the partitions
    present in ``df``, leaving every other partition of the table
    untouched — the incremental-reprocess sink every partitioned
    corpus needs ("re-run yesterday's dump through the new filter
    chain") where a plain mode('overwrite') would truncate the whole
    table and an append would duplicate the reprocessed slice.

    Uses Spark's spark.sql.sources.partitionOverwriteMode=dynamic,
    scoped to this write and restored afterward so the session-wide
    static default (the safer failure mode for ad-hoc writes) is
    preserved. At 100 TB the cost is proportional to the REPROCESSED
    partitions only: the job writes those directories and the commit
    swaps them atomically per partition."""
    path = Path(path)
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(str(path))
        )
    finally:
        spark.conf.set(key, prev)
    return path
