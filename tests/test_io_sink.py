"""Sink threshold behavior: write_csv_single must never collect a
result larger than small_threshold onto the driver (ADVICE round 1)."""

from __future__ import annotations

from pathlib import Path

from agentic_workflow_for_data_transformation_spark.sources.io import (
    csv_shape,
    write_csv_single,
)


def test_small_result_single_file(spark, people, tmp_path):
    p = write_csv_single(people, tmp_path / "out.csv", small_threshold=100)
    assert p.is_file()
    assert open(p).readline().strip() == "name,age,city"


def test_large_result_never_collects(spark, tmp_path):
    """Above the threshold the rows go to the parallel directory sink;
    the driver holds at most small_threshold + 1 of them, as
    test_sink_collect_is_bounded pins."""
    df = spark.range(100).withColumnRenamed("id", "n")
    p = write_csv_single(df, tmp_path / "out.csv", small_threshold=50)
    assert p.is_dir()  # parallel directory sink, not a driver collect
    back = spark.read.option("header", True).csv(str(p))
    assert back.count() == 100


def test_csv_shape_reads_either_sink_form(spark, tmp_path):
    """csv_shape reads the header and counts data rows with the csv
    module, summed over the part files of a directory sink; values
    holding the delimiter, a quote, a newline or a backslash, an empty
    string and a NULL are one row each in both forms, as are a
    last-column value ending in a backslash and a one-column NULL."""
    values = ["a,b", 'q"uote', "nl\nx", 'q"\nx', "back\\slash", "", None, "plain"]
    inputs = [
        (list(enumerate(values * 3)), "n int, s string"),
        ([(1, "plain"), (2, "ends\\"), (3, "plain")], "n int, s string"),
        ([("x",), (None,), ("y",)], "s string"),
    ]
    for i, (rows, schema) in enumerate(inputs):
        df = spark.createDataFrame(rows, schema)
        shape = (df.columns, len(rows))
        assert csv_shape(write_csv_single(df, tmp_path / f"one{i}.csv")) == shape
        for form in (df.repartition(3), df.coalesce(1)):
            parts = write_csv_single(form, tmp_path / f"many{i}.csv", small_threshold=1)
            assert parts.is_dir() and csv_shape(parts) == shape, i


def test_directory_sink_transform_is_valid(spark, monkeypatch, tmp_path):
    """A transform whose output goes to the directory sink passes the
    critic's row-count check on rows that once miscounted there."""
    import functools

    from agentic_workflow_for_data_transformation_spark.agents import orchestrator

    monkeypatch.setattr(orchestrator, "write_csv_single",
                        functools.partial(write_csv_single, small_threshold=1))
    df = spark.createDataFrame(
        [(1, "plain"), (2, "ends\\"), (3, "plain"), (4, None)], "n int, s string"
    ).coalesce(1)
    st = orchestrator.run_transform(spark, df, "Select columns n and s.", out_dir=tmp_path)
    assert Path(st.output_path).is_dir()
    assert st.valid and st.row_count == 4, st.messages


def test_sink_collect_is_bounded(spark, monkeypatch, tmp_path):
    """The sink's one collect holds at most small_threshold + 1 rows on
    the driver; one row past the threshold sends it to the directory
    sink. (The patch goes on the frame's own class: the session's
    DataFrame class overrides pyspark.sql.DataFrame.toPandas.)"""
    df = spark.range(100).withColumnRenamed("id", "n")
    collected = []
    original = type(df).toPandas

    def recording(self):
        pdf = original(self)
        collected.append(len(pdf))
        return pdf

    monkeypatch.setattr(type(df), "toPandas", recording)
    assert write_csv_single(df, tmp_path / "big.csv", small_threshold=50).is_dir()
    assert write_csv_single(df, tmp_path / "fits.csv", small_threshold=100).is_file()
    assert collected == [51, 100]


def test_empty_result_still_header_only(spark, people, tmp_path):
    p = write_csv_single(people.filter("age > 100"), tmp_path / "empty.csv")
    assert p.is_file()
    assert open(p).read().strip() == "name,age,city"


def test_json_roundtrip(spark, people, tmp_path):
    from pyspark.sql import functions as F

    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_json,
        write_json_dir,
    )

    out = write_json_dir(people, tmp_path / "people_json")
    back = read_json(spark, str(out), schema="name string, age long, city string")
    assert back.count() == 10
    assert {r["name"] for r in back.collect()} == {
        r["name"] for r in people.collect()
    }
    # explicit schema path must not trigger an inference pass
    assert back.schema.simpleString() == "struct<name:string,age:bigint,city:string>"
    # inferred path agrees on the data
    inferred = read_json(spark, str(out))
    assert inferred.count() == 10
    assert inferred.filter(F.col("age") > 30).count() == 7


def test_orc_roundtrip_with_pushdown(spark, people, tmp_path):
    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_orc,
        write_orc_dir,
    )

    out = write_orc_dir(people, tmp_path / "people_orc")
    back = read_orc(spark, str(out))
    assert back.count() == 10
    assert back.schema.simpleString() == people.schema.simpleString()
    q = back.filter("age > 30").select("name")
    assert q.count() == 7
    plan = q._jdf.queryExecution().executedPlan().toString()
    # predicate and projection must reach the ORC scan
    assert "PushedFilters: [IsNotNull(age), GreaterThan(age,30)" in plan
    assert "ReadSchema: struct<name:string" in plan


def test_orc_partitioned_layout_prunes(spark, people, tmp_path):
    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_orc,
        write_orc_dir,
    )

    from pyspark.sql import functions as F

    out = write_orc_dir(people, tmp_path / "people_orc_part", partition_by=["city"])
    one_city = people.select("city").first()["city"]
    q = read_orc(spark, str(out)).filter(F.col("city") == one_city)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert f"PartitionFilters: [isnotnull(city" in plan  # pruned at planning
    assert q.count() == people.filter(F.col("city") == one_city).count()


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """A 32-file fragmented table compacts to the computed target file
    count with every row intact."""
    from agentic_workflow_for_data_transformation_spark.sources import compact_parquet

    src, dst = tmp_path / "frag", tmp_path / "compact"
    spark.range(50_000).selectExpr("id", "id % 7 AS k").repartition(32).write.parquet(str(src))
    assert len(list(src.glob("*.parquet"))) == 32
    total = sum(f.stat().st_size for f in src.glob("*.parquet"))
    compact_parquet(spark, src, dst, target_bytes=total // 3)
    n_out = len(list(dst.glob("*.parquet")))
    assert n_out <= 4  # ceil(total / (total/3)) with rounding slack
    back = spark.read.parquet(str(dst))
    assert back.count() == 50_000
    assert back.selectExpr("sum(id)").first()[0] == 50_000 * 49_999 // 2


def test_read_union_evolving_null_fills_drifted_schema(spark, tmp_path):
    """Batches written before a column existed union by NAME with
    null-fill; a positional union would misalign or refuse."""
    from agentic_workflow_for_data_transformation_spark.sources import (
        read_union_evolving,
    )

    old = spark.createDataFrame([(1, "a")], "id bigint, name string")
    new = spark.createDataFrame(
        [(2, "b", "fr")], "id bigint, name string, lang string"
    )
    p1, p2 = tmp_path / "b1", tmp_path / "b2"
    old.write.parquet(str(p1))
    new.write.parquet(str(p2))

    out = read_union_evolving(spark, [p1, p2])
    rows = {r["id"]: (r["name"], r["lang"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", "fr")}
    # plan-level union: two pushdown-capable scans, no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_read_union_evolving_empty_paths_raises(spark):
    """An empty path list is a caller bug — fail with a clear message
    instead of an IndexError deep in the reader."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.sources.io import read_union_evolving

    with _pytest.raises(ValueError, match="at least one path"):
        read_union_evolving(spark, [])


def test_read_json_evolving_null_fills_missing_column(spark, tmp_path):
    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_json_evolving,
        write_json_dir,
    )

    old = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    new = spark.createDataFrame(
        [(2, "de", "src1")], "doc_id long, lang string, source string"
    )
    write_json_dir(old, tmp_path / "b0")
    write_json_dir(new, tmp_path / "b1")
    got = {
        r["doc_id"]: (r["lang"], r["source"])
        for r in read_json_evolving(spark, [tmp_path / "b0", tmp_path / "b1"]).collect()
    }
    assert got == {1: ("en", None), 2: ("de", "src1")}

    import pytest

    with pytest.raises(ValueError):
        read_json_evolving(spark, [])


def test_read_csv_evolving_null_fills_drifted_header(spark, tmp_path):
    """CSV batches whose header drifted (a column added mid-stream)
    union by NAME with null-fill; explicit per-batch schemas keep the
    trip deterministic (no inference pass)."""
    from pyspark.sql import types as T

    from agentic_workflow_for_data_transformation_spark.sources.io import (
        read_csv_evolving, write_csv_dir,
    )

    old = spark.createDataFrame([(1, "a")], "id bigint, name string")
    new = spark.createDataFrame(
        [(2, "b", "fr")], "id bigint, name string, lang string"
    )
    p1, p2 = tmp_path / "b1", tmp_path / "b2"
    write_csv_dir(old, p1)
    write_csv_dir(new, p2)

    s0 = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    s1 = T.StructType(s0.fields + [T.StructField("lang", T.StringType())])
    out = read_csv_evolving(spark, [p1, p2], schemas=[s0, s1])
    rows = {r["id"]: (r["name"], r["lang"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b", "fr")}


def test_read_csv_evolving_arg_validation(spark):
    """Empty paths and a schemas list that doesn't match paths 1:1 are
    caller bugs — fail with clear messages."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.sources.io import read_csv_evolving

    with _pytest.raises(ValueError, match="at least one path"):
        read_csv_evolving(spark, [])
    with _pytest.raises(ValueError, match="1:1"):
        read_csv_evolving(spark, ["/tmp/x"], schemas=[None, None])


def test_overwrite_partitions_replaces_only_matching(spark, tmp_path):
    """Dynamic partition overwrite: rewriting one lang's slice must
    leave the other partitions byte-identical and never duplicate the
    reprocessed one — and the session-wide static default must be
    restored afterward."""
    from agentic_workflow_for_data_transformation_spark.sources import (
        overwrite_partitions,
    )

    path = str(tmp_path / "parted")
    base = spark.createDataFrame(
        [(1, "en", "old-a"), (2, "en", "old-b"), (3, "de", "keep-c")],
        ["doc_id", "lang", "text"],
    )
    overwrite_partitions(base, path, ["lang"])

    redo = spark.createDataFrame(
        [(9, "en", "new-z")], ["doc_id", "lang", "text"]
    )
    overwrite_partitions(redo, path, ["lang"])

    got = {(r["doc_id"], r["lang"], r["text"])
           for r in spark.read.parquet(path).collect()}
    assert got == {(9, "en", "new-z"), (3, "de", "keep-c")}
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode"
    ).upper() == "STATIC"
