"""Unit tests for the spec IR validator and the spec->DataFrame compiler."""

from __future__ import annotations

import pytest

from agentic_workflow_for_data_transformation_spark.plans import (
    SpecError,
    compile_spec,
    parse_description,
)
from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError, parse_predicate
from agentic_workflow_for_data_transformation_spark.plans.spec import (
    OPS,
    schema_effect,
    validate_spec,
)


def test_validate_rejects_bad_specs():
    for bad in [
        {"ops": [{"op": "nope"}]},
        {"ops": [{"op": "filter"}]},  # expr is required
        {"ops": [{"op": "select", "cols": []}]},
        {"ops": [{"op": "limit", "n": -1}]},
        {"ops": [{"op": "groupby_agg", "keys": ["c"], "aggs": [{"fn": "variance", "col": "x", "alias": "m"}]}]},
        {"ops": [{"op": "filter", "expr": {"gt": ["age"]}}]},
        "not a spec",
        # nested window-expr fields are typed (a string offset used to
        # reach the compiler and fail there with a Py4J error)
        {"ops": [{"op": "window", "order_by": [{"col": "ts"}],
                  "exprs": [{"fn": "lag", "col": "v", "alias": "p", "offset": "two"}]}]},
        {"ops": [{"op": "window", "order_by": [{"col": "ts"}],
                  "exprs": [{"fn": "lag", "col": 3, "alias": "p"}]}]},
        {"ops": [{"op": "join", "right": "t", "on": ["k"], "broadcast": "yes"}]},
        {"ops": [{"op": "union", "right": "t", "distinct": 1}]},
        # an undeclared field is an error, never silently ignored
        {"ops": [{"op": "bm25", "terms": ["x"], "k": 3, "text_column": "body"}]},
        # every output column of an aggregate needs its own name: two
        # aggs with one alias, an alias equal to a key, or to gid_alias
        {"ops": [{"op": "groupby_agg", "keys": ["city"],
                  "aggs": [{"fn": "sum", "col": "age", "alias": "sum_age"},
                           {"fn": "sum", "col": "age", "alias": "sum_age"}]}]},
        {"ops": [{"op": "groupby_agg", "keys": ["city"],
                  "aggs": [{"fn": "count", "col": "*", "alias": "city"}]}]},
        {"ops": [{"op": "rollup", "keys": ["city"],
                  "aggs": [{"fn": "count", "col": "*", "alias": "gid"}]}]},
        {"ops": [{"op": "rollup", "keys": ["city", "name"], "gid_alias": "name",
                  "aggs": [{"fn": "count", "col": "*", "alias": "n"}]}]},
        # names differing only in case collide too: Spark resolves
        # columns case-insensitively
        {"ops": [{"op": "groupby_agg", "keys": ["city"],
                  "aggs": [{"fn": "sum", "col": "age", "alias": "sum_age"},
                           {"fn": "max", "col": "age", "alias": "SUM_AGE"}]}]},
        {"ops": [{"op": "groupby_agg", "keys": ["city"],
                  "aggs": [{"fn": "count", "col": "*", "alias": "City"}]}]},
    ]:
        with pytest.raises(SpecError):
            validate_spec(bad)


def test_validate_accepts_reserved_ops():
    validate_spec(
        {
            "ops": [
                {"op": "join", "right": "nation", "on": ["c_nationkey"], "how": "inner", "broadcast": True},
                {"op": "distinct", "cols": ["a"]},
                {
                    "op": "window",
                    "partition_by": ["k"],
                    "order_by": [{"col": "v", "asc": False}],
                    "exprs": [{"fn": "row_number", "alias": "rn"}],
                },
            ]
        }
    )


def test_predicate_parser_shapes():
    assert parse_predicate("age > 30") == {"gt": [{"col": "age"}, {"lit": 30}]}
    assert parse_predicate("age between 30 and 45") == {
        "between": [{"col": "age"}, {"lit": 30}, {"lit": 45}]
    }
    assert parse_predicate("city in ('Chicago', 'Boston')") == {
        "isin": [{"col": "city"}, ["Chicago", "Boston"]]
    }
    assert parse_predicate("not city == 'LA'") == {
        "not": {"eq": [{"col": "city"}, {"lit": "LA"}]}
    }
    tree = parse_predicate("(age > 30 AND city == 'C') OR (age <= 25 AND city == 'N')")
    assert set(tree) == {"or"} and len(tree["or"]) == 2
    with pytest.raises(ParseError):
        parse_predicate("age >")
    with pytest.raises(ParseError):
        parse_predicate("age > 30 garbage trailing")


def test_parser_rejects_unknown():
    with pytest.raises(ParseError):
        parse_description("Pivot the table by month")


def test_compile_ops_in_stated_order(spark, people):
    # sort -> filter -> limit must keep sequence (SURVEY.md O3)
    spec = {
        "ops": [
            {"op": "sort", "keys": [{"col": "age", "asc": False}]},
            {"op": "filter", "expr": {"gt": ["age", 30]}},
            {"op": "limit", "n": 2},
        ]
    }
    got = [r["age"] for r in compile_spec(people, spec).collect()]
    assert got == [50, 45]


def test_compile_join_broadcast(spark, people):
    cities = spark.createDataFrame(
        [("New York", "NY"), ("Chicago", "IL")], ["city", "state"]
    )
    spec = {
        "ops": [
            {"op": "join", "right": "cities", "on": ["city"], "how": "inner", "broadcast": True},
            {"op": "select", "cols": ["name", "state"]},
        ]
    }
    out = compile_spec(people, spec, tables={"cities": cities})
    rows = {(r["name"], r["state"]) for r in out.collect()}
    assert rows == {("Alice", "NY"), ("Charlie", "IL")}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_compile_window_topk_per_group(spark, people):
    spec = {
        "ops": [
            {"op": "with_column", "name": "bucket", "expr": {"ge": ["age", 35]}},
            {
                "op": "window",
                "partition_by": ["bucket"],
                "order_by": [{"col": "age", "asc": False}],
                "exprs": [{"fn": "row_number", "alias": "rn"}],
            },
            {"op": "filter", "expr": {"le": ["rn", 1]}},
            {"op": "select", "cols": ["bucket", "name", "age"]},
        ]
    }
    rows = {(r["bucket"], r["name"]) for r in compile_spec(people, spec).collect()}
    assert rows == {(True, "Ian"), (False, "Charlie")}


def test_spec_sample_op_validates_and_compiles(spark, sf_dir):
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec
    from agentic_workflow_for_data_transformation_spark.plans.spec import SpecError, validate_spec
    from agentic_workflow_for_data_transformation_spark.operators import sampling
    from agentic_workflow_for_data_transformation_spark.sources import read_parquet_table
    import pytest

    docs = read_parquet_table(spark, sf_dir, "documents")
    spec = {"ops": [{"op": "sample", "fraction": 0.1, "key": "doc_id"}]}
    via_spec = {r["doc_id"] for r in compile_spec(docs, spec).select("doc_id").collect()}
    direct = {r["doc_id"] for r in sampling.hash_sample(docs, 0.1, "doc_id").select("doc_id").collect()}
    assert via_spec == direct

    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "sample", "fraction": 1.5, "key": "doc_id"}]})
    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "sample", "fraction": 0.1}]})


def test_parser_north_star_clauses():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Sample 10% of rows by doc_id and select doc_id, lang.")
    assert spec["ops"][0] == {"op": "sample", "fraction": 0.1, "key": "doc_id"}
    assert spec["ops"][1] == {"op": "select", "cols": ["doc_id", "lang"]}

    spec = parse_description("Deduplicate rows by text")
    assert spec["ops"] == [{"op": "distinct", "cols": ["text"]}]

    spec = parse_description("Drop duplicates")
    assert spec["ops"] == [{"op": "distinct"}]

    spec = parse_description("Select distinct city, name")
    assert spec["ops"] == [
        {"op": "select", "cols": ["city", "name"]},
        {"op": "distinct"},
    ]

    # the original drop-column clause must not be shadowed
    spec = parse_description("Drop city column")
    assert spec["ops"] == [{"op": "drop", "cols": ["city"]}]


def test_parser_join_clauses():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    # explicit join-type prefix splits as its own clause after "and"
    spec = parse_description(
        "Rename o_orderkey to l_orderkey and "
        "left join with lineitem on l_orderkey and select l_orderkey."
    )
    assert spec["ops"][1] == {
        "op": "join", "right": "lineitem", "on": ["l_orderkey"], "how": "left",
    }

    # a predicate conjunct that merely BEGINS with a join-type word
    # must stay a conjunction (the clause split requires the full
    # "<type> join" / "append ... rows" token, not the bare word)
    spec = parse_description(
        "Filter rows where a > 1 and left > 2 and cross >= 3",
        columns=["a", "left", "cross"],
    )
    assert spec["ops"][0]["op"] == "filter"
    assert len(spec["ops"]) == 1
    assert len(spec["ops"][0]["expr"]["and"]) == 3

    # natural existence-join phrasings -> semi / anti
    spec = parse_description("Keep rows that exist in lineitem on l_orderkey")
    assert spec["ops"] == [
        {"op": "join", "right": "lineitem", "on": ["l_orderkey"],
         "how": "left_semi"},
    ]
    spec = parse_description("Keep rows with a match in lineitem on l_orderkey")
    assert spec["ops"][0]["how"] == "left_semi"
    spec = parse_description(
        "Keep rows with no match in lineitem on l_orderkey and keep top 5"
    )
    assert spec["ops"] == [
        {"op": "join", "right": "lineitem", "on": ["l_orderkey"],
         "how": "left_anti"},
        {"op": "limit", "n": 5},
    ]
    spec = parse_description("Keep rows without a match in orders on o_custkey")
    assert spec["ops"][0]["how"] == "left_anti"

    # composite keys
    spec = parse_description("Keep rows that exist in lineitem on a, b")
    assert spec["ops"][0]["on"] == ["a", "b"]

    # "keep top N" (limit) must not be shadowed by the join phrasings
    spec = parse_description("Keep top 7 rows")
    assert spec["ops"] == [{"op": "limit", "n": 7}]

    # union clause: "append rows from <table>", optional distinct
    spec = parse_description("Select a and append rows from other")
    assert spec["ops"][1] == {"op": "union", "right": "other"}
    spec = parse_description("Append distinct rows from other")
    assert spec["ops"] == [{"op": "union", "right": "other", "distinct": True}]

    # ordered-aggregate window: "add running total of X per K ordered by O"
    spec = parse_description("Add running total of value per user_id ordered by ts")
    assert spec["ops"] == [{
        "op": "window",
        "partition_by": ["user_id"],
        "order_by": [{"col": "ts", "asc": True}],
        "exprs": [{"fn": "sum", "col": "value", "alias": "running_sum_value"}],
    }]
    spec = parse_description("Add running count of event_id per user_id ordered by ts")
    assert spec["ops"][0]["exprs"][0]["fn"] == "count"
    # lag/lead phrasing
    spec = parse_description("Add previous value per user_id ordered by event_id")
    assert spec["ops"][0]["exprs"] == [
        {"fn": "lag", "col": "value", "alias": "previous_value"}]
    spec = parse_description("Add next value per user_id ordered by ts")
    assert spec["ops"][0]["exprs"][0]["fn"] == "lead"

    # the plain add-column clause must not be shadowed
    spec = parse_description("Add is_adult column where is_adult = age >= 18")
    assert spec["ops"][0]["op"] == "with_column"


def test_spec_string_functions_compile(spark, people):
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec

    spec = {
        "ops": [
            {"op": "with_column", "name": "city_key",
             "expr": {"lower": {"trim": "city"}}},
            {"op": "with_column", "name": "tag",
             "expr": {"concat": ["name", {"lit": "@"}, "city_key"]}},
            {"op": "with_column", "name": "name_len", "expr": {"length": "name"}},
            {"op": "filter", "expr": {"eq": [{"upper": "city"}, {"lit": "CHICAGO"}]}},
            {"op": "select", "cols": ["tag", "name_len"]},
        ]
    }
    rows = compile_spec(people, spec).collect()
    assert [(r["tag"], r["name_len"]) for r in rows] == [("Charlie@chicago", 7)]


def test_write_parquet_partitioned_prunes(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from agentic_workflow_for_data_transformation_spark.sources import (
        read_parquet_table,
        write_parquet,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = write_parquet(docs, tmp_path / "by_lang", partition_by=["lang"])
    langs = {p.name.split("=")[1] for p in out.glob("lang=*")}
    assert langs == {r["lang"] for r in docs.select("lang").distinct().collect()}
    # a lang filter on the partitioned layout must prune at plan time
    back = spark.read.parquet(str(out)).filter(F.col("lang") == sorted(langs)[0])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert back.count() == docs.filter(F.col("lang") == sorted(langs)[0]).count()


def test_parser_group_agg_variants(spark, people):
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )

    spec = parse_description("Group by city and show total age")
    assert spec["ops"] == [{
        "op": "groupby_agg", "keys": ["city"],
        "aggs": [{"fn": "sum", "col": "age", "alias": "sum_age"}],
    }]

    spec = parse_description("Group by city and show maximum age where max_age > 40")
    assert spec["ops"][0]["aggs"] == [{"fn": "max", "col": "age", "alias": "max_age"}]
    assert spec["ops"][0]["having"] == {"gt": [{"col": "max_age"}, {"lit": 40}]}
    rows = compile_spec(people, spec).collect()
    assert {(r["city"], r["max_age"]) for r in rows} == {
        ("Seattle", 45), ("San Francisco", 41), ("Austin", 50)
    }

    # one aggregate grammar: a phrase means the same aggregate with or
    # without "show", after any number of keys, and in a keyless list
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    count_rows = [{"op": "groupby_agg", "keys": ["city"],
                   "aggs": [{"fn": "count", "col": "*", "alias": "row_count"}]}]
    con = duckdb.connect()
    con.register("people", people.toPandas())
    for text, ops in [
        ("group by city and count rows", count_rows),
        ("Group by city and show count rows", count_rows),
        ("group by city and name and show total age", [{
            "op": "groupby_agg", "keys": ["city", "name"],
            "aggs": [{"fn": "sum", "col": "age", "alias": "sum_age"}],
        }]),
        ("show total age and average age", [{
            "op": "groupby_agg", "keys": [],
            "aggs": [{"fn": "sum", "col": "age", "alias": "sum_age"},
                     {"fn": "avg", "col": "age", "alias": "average_age"}],
        }]),
    ]:
        for columns in (None, people.columns):
            spec = parse_description(text, columns)
            assert spec["ops"] == ops, (text, columns)
        got = sorted(tuple(r) for r in compile_spec(people, spec).collect())
        assert got == sorted(con.sql(spec_to_sql(spec, "people")).fetchall()), text
    # a keyless bare "count X" is not an aggregate: "count tokens" must
    # never become count(token)
    with pytest.raises(ParseError):
        parse_description("count tokens")


def test_parser_widened_grammar(spark, people):
    """Round-2 grammar: multi-key sort, global aggregates, count
    distinct, NL joins (VERDICT r1 #5)."""
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )

    spec = parse_description("Sort by age desc, name and keep top 3 rows.")
    assert spec["ops"] == [
        {"op": "sort", "keys": [{"col": "age", "asc": False},
                                {"col": "name", "asc": True}]},
        {"op": "limit", "n": 3},
    ]
    rows = compile_spec(people, spec).collect()
    assert [r["name"] for r in rows] == ["Ian", "Diana", "Fiona"]

    spec = parse_description("Show average age.")
    assert spec["ops"] == [{
        "op": "groupby_agg", "keys": [],
        "aggs": [{"fn": "avg", "col": "age", "alias": "average_age"}],
    }]
    [row] = compile_spec(people, spec).collect()
    assert abs(row["average_age"] - 34.8) < 1e-9

    [row] = compile_spec(people, parse_description("Count rows.")).collect()
    assert row["row_count"] == 10

    spec = parse_description("Count distinct city.")
    assert spec["ops"][0]["aggs"][0] == {
        "fn": "count_distinct", "col": "city", "alias": "city_distinct_count"
    }
    [row] = compile_spec(people, spec).collect()
    assert row["city_distinct_count"] == 10

    spec = parse_description("Group by city and count distinct name.")
    assert spec["ops"][0]["keys"] == ["city"]
    assert spec["ops"][0]["aggs"][0]["fn"] == "count_distinct"

    spec = parse_description(
        "Filter rows where age > 30 and broadcast join with bonus on name "
        "and select name, amount."
    )
    assert spec["ops"][1] == {
        "op": "join", "right": "bonus", "on": ["name"], "how": "inner",
        "broadcast": True,
    }
    bonus = spark.createDataFrame([("Ian", 100), ("Hannah", 50)], ["name", "amount"])
    rows = compile_spec(people, spec, tables={"bonus": bonus}).collect()
    assert [(r["name"], r["amount"]) for r in rows] == [("Ian", 100)]


def test_compile_unknown_join_table_is_spec_error(people):
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.spec import SpecError
    import pytest as _pytest

    spec = parse_description("Join with nowhere on name.")
    with _pytest.raises(SpecError, match="unknown table 'nowhere'"):
        compile_spec(people, spec, tables={})


def test_parse_date_comparisons():
    """ISO date[time] literals tokenize whole; after/before/on-or-*
    map to the four comparison ops (dates as string lits, cast by the
    engine against timestamp columns)."""
    from agentic_workflow_for_data_transformation_spark.plans.parser import parse_predicate

    assert parse_predicate("ts after 2024-01-15") == {
        "gt": [{"col": "ts"}, {"lit": "2024-01-15"}]
    }
    assert parse_predicate("ts before 2024-01-02") == {
        "lt": [{"col": "ts"}, {"lit": "2024-01-02"}]
    }
    assert parse_predicate("ts on or after 2024-01-15 12:00:00") == {
        "ge": [{"col": "ts"}, {"lit": "2024-01-15 12:00:00"}]
    }
    assert parse_predicate("ts on or before 2024-01-15") == {
        "le": [{"col": "ts"}, {"lit": "2024-01-15"}]
    }
    # the phrase-'or' must not break boolean 'or' between conditions
    assert parse_predicate("ts after 2024-01-15 or ts before 2024-01-02") == {
        "or": [
            {"gt": [{"col": "ts"}, {"lit": "2024-01-15"}]},
            {"lt": [{"col": "ts"}, {"lit": "2024-01-02"}]},
        ]
    }


def test_parse_group_by_time_bucket():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )

    spec = parse_description("Group by day of ts and count event_id.")
    assert spec["ops"] == [
        {"op": "with_column", "name": "ts_day",
         "expr": {"trunc": ["day", {"col": "ts"}]}},
        {"op": "groupby_agg", "keys": ["ts_day"],
         "aggs": [{"fn": "count", "col": "event_id",
                   "alias": "event_id_count"}]},
    ]


def test_trunc_expr_validates():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_expr,
    )

    validate_expr({"trunc": ["hour", {"col": "ts"}]})
    with _pytest.raises(SpecError):
        validate_expr({"trunc": ["fortnight", {"col": "ts"}]})


def test_parse_grouped_topk():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )

    spec = parse_description("For each city show top 2 by age.")
    assert spec["ops"] == [
        {"op": "window", "partition_by": ["city"],
         "order_by": [{"col": "age", "asc": False}],
         "exprs": [{"fn": "row_number", "alias": "_rn"}]},
        {"op": "filter", "expr": {"le": [{"col": "_rn"}, 2]}},
        {"op": "drop", "cols": ["_rn"]},
    ]


def test_grouped_topk_tiebreak_follows_the_key_column(people):
    """The auto tie-break on the table's first column stays while that
    column survives and goes once an earlier clause removed it: a
    select that projects it away, or an op that replaces the schema."""
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("For each city show top 1 by age", people.columns)
    assert spec["ops"][0]["order_by"] == [
        {"col": "age", "asc": False}, {"col": "name", "asc": True}]
    spec = parse_description(
        "Select city and age and for each city show top 1 by age", people.columns)
    assert spec["ops"][1]["order_by"] == [{"col": "age", "asc": False}]
    spec = parse_description(
        "Sessionize by user_id with 30 minute gap and for each user_id show top 1 by n_events",
        ["event_id", "ts", "user_id", "event_type", "value", "props"])
    assert spec["ops"][1]["order_by"] == [{"col": "n_events", "asc": False}]


def test_grouped_topk_after_pivot_compiles(spark, sf_dir):
    """A pivot keeps only its key and cells, so the o_orderkey
    tie-break must not follow it into the top-k window."""
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql
    from agentic_workflow_for_data_transformation_spark.sources import read_parquet_table

    orders = read_parquet_table(spark, sf_dir, "orders")
    spec = parse_description(
        "pivot o_orderstatus by o_orderpriority counting rows for values F, O and P "
        "and for each o_orderpriority show top 1 by n_f", orders.columns)
    assert spec["ops"][1]["order_by"] == [{"col": "n_f", "asc": False}]
    got = sorted(tuple(r) for r in compile_spec(orders, spec).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    assert got == sorted(con.sql(spec_to_sql(spec, "orders")).fetchall())
    assert len(got) == 5  # one row per order priority


def test_parse_sessionize():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )

    spec = parse_description("Sessionize by user_id with 30 minute gap.")
    assert spec["ops"] == [
        {"op": "sessionize", "key": "user_id", "gap_seconds": 1800}
    ]
    spec2 = parse_description("Sessionize by user_id with 2 hours gap.")
    assert spec2["ops"][0]["gap_seconds"] == 7200


def test_parse_group_by_two_keys():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )

    spec = parse_description("Group by lang and source and count doc_id.")
    assert spec["ops"] == [
        {"op": "groupby_agg", "keys": ["lang", "source"],
         "aggs": [{"fn": "count", "col": "doc_id",
                   "alias": "doc_id_count"}]}
    ]


def test_parse_pivot_and_rollup():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    spec = parse_description(
        "Pivot o_orderstatus by o_orderpriority counting rows "
        "for values F, O and P.",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "pivot", "keys": ["o_orderpriority"], "col": "o_orderstatus",
        "values": ["F", "O", "P"], "agg": {"fn": "count", "col": "*"},
        "aliases": ["n_f", "n_o", "n_p"],
    }]
    # quoted values keep punctuation out of the alias slug
    spec = parse_description(
        "Pivot o_orderstatus by o_orderpriority counting rows "
        "for values '1-URGENT', '2-HIGH'.",
        columns=cols,
    )
    assert spec["ops"][0]["values"] == ["1-URGENT", "2-HIGH"]
    assert spec["ops"][0]["aliases"] == ["n_1_urgent", "n_2_high"]
    # aggregate cells: summing|averaging|taking minimum/maximum of <col>
    spec = parse_description(
        "Pivot o_orderstatus by o_orderpriority taking maximum of o_orderkeys "
        "for values F and O.",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "pivot", "keys": ["o_orderpriority"], "col": "o_orderstatus",
        "values": ["F", "O"], "agg": {"fn": "max", "col": "o_orderkey"},
        "aliases": ["max_f", "max_o"],
    }]

    spec = parse_description(
        "Group by o_orderpriority then o_orderstatus with subtotals "
        "and count rows.",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "rollup", "keys": ["o_orderpriority", "o_orderstatus"],
        "aggs": [{"fn": "count", "col": "*", "alias": "n_rows"}],
        "gid_alias": "gid",
    }]


def test_pivot_rollup_compile_semantics(spark, people):
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec

    pv = compile_spec(people, {"ops": [{
        "op": "pivot", "keys": ["city"], "col": "name",
        "values": ["Alice", "Nobody"],
        "agg": {"fn": "count", "col": "*"},
        "aliases": ["n_alice", "n_nobody"],
    }]})
    rows = {r["city"]: (r["n_alice"], r["n_nobody"]) for r in pv.collect()}
    assert rows["New York"] == (1, 0)  # absent cell null-fills to 0
    assert all(v == (1, 0) or v == (0, 0) for v in rows.values())

    ru = compile_spec(people, {"ops": [{
        "op": "rollup", "keys": ["city"],
        "aggs": [{"fn": "count", "col": "*", "alias": "n"}],
    }]})
    out = {(r["city"], r["gid"]): r["n"] for r in ru.collect()}
    assert out[(None, 1)] == 10  # grand total row, gid distinguishes it
    assert out[("Boston", 0)] == 1


def test_parse_moving_window_and_multi_agg():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description(
        "Add moving average of value over last 3 rows per user_id "
        "ordered by event_id",
        columns=["event_id", "user_id", "value"],
    )
    assert spec["ops"] == [{
        "op": "window", "partition_by": ["user_id"],
        "order_by": [{"col": "event_id", "asc": True}],
        "exprs": [{"fn": "avg", "col": "value", "alias": "moving_avg_value",
                   "rows_preceding": 2}],
    }]

    spec = parse_description(
        "Group by city and show count rows, total age and count distinct name",
        columns=["city", "age", "name"],
    )
    assert spec["ops"] == [{
        "op": "groupby_agg", "keys": ["city"],
        "aggs": [
            {"fn": "count", "col": "*", "alias": "row_count"},
            {"fn": "sum", "col": "age", "alias": "sum_age"},
            {"fn": "count_distinct", "col": "name",
             "alias": "name_distinct_count"},
        ],
    }]
    spec = parse_description("Group by city and show average age",
                             columns=["city", "age"])
    assert spec["ops"][0]["aggs"][0]["alias"] == "average_age"


def test_moving_window_compile_semantics(spark, people):
    spec = {"ops": [{
        "op": "window", "partition_by": [],
        "order_by": [{"col": "age", "asc": True}],
        "exprs": [{"fn": "sum", "col": "age", "alias": "m3",
                   "rows_preceding": 2}],
    }]}
    rows = {r["age"]: r["m3"] for r in compile_spec(people, spec).collect()}
    ages = sorted(r for r in rows)
    for i, a in enumerate(ages):
        assert rows[a] == sum(ages[max(0, i - 2):i + 1])
    # frames are rejected on rank functions
    import pytest as _pytest
    from agentic_workflow_for_data_transformation_spark.plans.spec import validate_spec
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{
            "op": "window", "partition_by": [],
            "order_by": [{"col": "age", "asc": True}],
            "exprs": [{"fn": "row_number", "alias": "rn",
                       "rows_preceding": 2}],
        }]})


def test_rollup_empty_input_is_spark_semantics(spark, people):
    """Documented cross-engine edge (found by the round-5 fuzzer):
    ROLLUP over EMPTY input returns 0 rows in Spark — DataFrame rollup
    and Spark SQL GROUP BY ROLLUP agree — while standard SQL (DuckDB,
    Postgres) emits the grand-total grouping set as one row. The
    engine keeps Spark SQL's semantics; sqlgen oracles must feed
    rollups non-empty input."""
    spec = {"ops": [
        {"op": "filter", "expr": {"gt": ["age", 1000]}},
        {"op": "rollup", "keys": ["city"],
         "aggs": [{"fn": "count", "col": "*", "alias": "n"}]},
    ]}
    assert compile_spec(people, spec).collect() == []
    people.createOrReplaceTempView("people_rollup_edge")
    sql_rows = people.sparkSession.sql(
        "SELECT city, count(*) n FROM people_rollup_edge "
        "WHERE age > 1000 GROUP BY ROLLUP(city)"
    ).collect()
    assert sql_rows == []  # the DataFrame op matches Spark SQL exactly


def test_global_row_number_routes_through_two_phase(spark, people):
    """A window op with NO partition keys and a single ascending
    numeric order key + row_number must compile to the two-phase rank
    (no single-partition sort of the data): numbers identical to the
    naive plan, and no windowspecdefinition ordered directly by the
    data column in the physical plan."""
    spec = {"ops": [{
        "op": "window", "partition_by": [],
        "order_by": [{"col": "age", "asc": True}],
        "exprs": [{"fn": "row_number", "alias": "rn"}],
    }]}
    out = compile_spec(people, spec)
    got = {r["age"]: r["rn"] for r in out.collect()}
    ages = sorted(got)
    assert [got[a] for a in ages] == list(range(1, len(ages) + 1))
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert not s.split(",")[0].strip().startswith("age#"), s
    # string order key: falls back to the plain window (bucketing
    # needs a numeric monotone key)
    spec2 = {"ops": [{
        "op": "window", "partition_by": [],
        "order_by": [{"col": "name", "asc": True}],
        "exprs": [{"fn": "row_number", "alias": "rn"}],
    }]}
    rows = {r["name"]: r["rn"] for r in compile_spec(people, spec2).collect()}
    names = sorted(rows)
    assert [rows[n] for n in names] == list(range(1, len(names) + 1))


def test_parse_global_row_number():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Add row number ordered by event_id",
                             columns=["event_id", "value"])
    assert spec["ops"] == [{
        "op": "window", "partition_by": [],
        "order_by": [{"col": "event_id", "asc": True}],
        "exprs": [{"fn": "row_number", "alias": "row_num"}],
    }]
    spec = parse_description("Add row number ordered by value descending",
                             columns=["event_id", "value"])
    assert spec["ops"][0]["order_by"] == [{"col": "value", "asc": False}]


def test_pivot_nonstring_and_dotted_values(spark):
    """Pivot cells resolve positionally: bool values (Spark names the
    column 'true', Python str() says 'True') and values containing
    '.'/'`' (nested-field path syntax) must all compile and select."""
    from agentic_workflow_for_data_transformation_spark.plans.compile import _apply_pivot

    df = spark.createDataFrame(
        [("a", True), ("a", False), ("b", True), ("a", True)],
        "g string, flag boolean",
    )
    out = _apply_pivot(df, {
        "op": "pivot", "keys": ["g"], "col": "flag",
        "values": [True, False], "agg": {"fn": "count", "col": "*"},
        "aliases": ["n_true", "n_false"],
    })
    rows = {r["g"]: (r["n_true"], r["n_false"]) for r in out.collect()}
    assert rows == {"a": (2, 1), "b": (1, 0)}

    df2 = spark.createDataFrame(
        [("a", "v.1"), ("a", "v`2"), ("b", "v.1")], "g string, tag string"
    )
    out2 = _apply_pivot(df2, {
        "op": "pivot", "keys": ["g"], "col": "tag",
        "values": ["v.1", "v`2"], "agg": {"fn": "count", "col": "*"},
        "aliases": ["n_v1", "n_v2"],
    })
    rows2 = {r["g"]: (r["n_v1"], r["n_v2"]) for r in out2.collect()}
    assert rows2 == {"a": (1, 1), "b": (1, 0)}


def test_parse_listagg_mode_asof():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description(
        "Group by n_regionkey and concatenate n_name.",
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    assert spec["ops"] == [{
        "op": "groupby_agg", "keys": ["n_regionkey"],
        "aggs": [{"fn": "listagg", "col": "n_name", "alias": "n_name_list"}],
    }]

    spec = parse_description(
        "Show most common o_orderpriority per o_orderstatus.",
        columns=["o_orderstatus", "o_orderpriority"],
    )
    assert spec["ops"] == [
        {"op": "mode", "keys": ["o_orderstatus"], "col": "o_orderpriority"}
    ]

    for word, direction in (("nearest", "nearest"), ("previous", "backward"),
                            ("next", "forward")):
        spec = parse_description(
            f"Join {word} views on user_id by ts taking view_event_id, extra.",
            columns=["event_id", "ts", "user_id"],
        )
        assert spec["ops"] == [{
            "op": "asof_join", "right": "views", "on": "user_id", "ts": "ts",
            "right_cols": ["view_event_id", "extra"], "direction": direction,
        }]


def test_asof_spec_compiles_and_validates(spark):
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError, validate_op,
    )
    import pytest as _pytest

    with _pytest.raises(SpecError):
        validate_op({"op": "asof_join", "on": "k"})  # missing right
    with _pytest.raises(SpecError):
        validate_op({"op": "asof_join", "right": "r", "on": "k",
                     "direction": "sideways"})

    left = spark.createDataFrame([(1, 10, "a")], "k long, ts long, tag string")
    right = spark.createDataFrame([(1, 8, 5.0), (1, 11, 7.0)],
                                  "k long, ts long, v double")
    out = compile_spec(left, {"ops": [{
        "op": "asof_join", "right": "r", "on": "k", "ts": "ts",
        "right_cols": ["v"], "direction": "nearest",
    }]}, tables={"r": right})
    assert [(r["asof_ts"], r["asof_v"]) for r in out.collect()] == [(11, 7.0)]


def test_parse_median_and_tolerance():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description(
        "Group by l_returnflag and show median l_quantity.",
        columns=["l_returnflag", "l_quantity"],
    )
    assert spec["ops"] == [{
        "op": "groupby_agg", "keys": ["l_returnflag"],
        "aggs": [{"fn": "median", "col": "l_quantity",
                  "alias": "median_l_quantity"}],
    }]
    spec = parse_description("Show median l_quantity.",
                             columns=["l_quantity"])
    assert spec["ops"][0]["aggs"][0]["fn"] == "median"

    spec = parse_description(
        "Join nearest views on user_id by ts taking v within 300 seconds.",
        columns=["user_id", "ts"],
    )
    assert spec["ops"] == [{
        "op": "asof_join", "right": "views", "on": "user_id", "ts": "ts",
        "right_cols": ["v"], "direction": "nearest",
        "tolerance": 300, "tolerance_unit": "second",
    }]
    spec = parse_description(
        "Join previous quotes on sym by t taking px within 10 units.",
        columns=["sym", "t"],
    )
    assert spec["ops"][0]["tolerance"] == 10
    assert spec["ops"][0]["tolerance_unit"] == "raw"


def test_asof_tolerance_requires_unit():
    with pytest.raises(SpecError, match="tolerance_unit"):
        validate_spec({"ops": [{
            "op": "asof_join", "right": "r", "on": "k", "ts": "ts",
            "tolerance": 300,
        }]})


def test_asof_tolerance_unit_must_match_ts_type(spark):
    """'within 300 seconds' on a non-timestamp ts column must raise at
    compile time: the engine applies the bound in the column's natural
    unit while sqlgen renders the declared one — a silent mismatch
    would make the two agree on nothing (e.g. 300 days engine-side vs
    an INTERVAL comparison oracle-side) without the oracle gate ever
    seeing it."""
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 8, 1.0)], "k long, ts long, v double")
    spec = {"ops": [{
        "op": "asof_join", "right": "r", "on": "k", "ts": "ts",
        "right_cols": ["v"], "tolerance": 300, "tolerance_unit": "second",
    }]}
    with pytest.raises(SpecError, match="natural unit"):
        compile_spec(left, spec, tables={"r": right})
    # the matching unit compiles and bounds in raw units
    spec["ops"][0]["tolerance_unit"] = "raw"
    row = compile_spec(left, spec, tables={"r": right}).collect()[0]
    assert row["asof_v"] == 1.0


def test_first_value_honors_sliding_frame(spark):
    """first_value with rows_preceding = first of the last n+1 rows —
    the frame must not be silently dropped to the cumulative default
    (which would return the partition's first row everywhere), and the
    sqlgen rendering must carry the identical ROWS frame."""
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    df = spark.createDataFrame(
        [("a", i, i * 10) for i in range(1, 6)], "k string, o long, v long"
    )
    spec = {"ops": [{
        "op": "window", "partition_by": ["k"],
        "order_by": [{"col": "o", "asc": True}],
        "exprs": [{"fn": "first_value", "col": "v", "alias": "fv",
                   "rows_preceding": 2}],
    }]}
    got = {r["o"]: r["fv"] for r in compile_spec(df, spec).collect()}
    # window of the last 3 rows: o=1 -> 10, o=2 -> 10, o=3 -> 10,
    # o=4 -> first of {20,30,40} = 20, o=5 -> 30
    assert got == {1: 10, 2: 10, 3: 10, 4: 20, 5: 30}
    sql = spec_to_sql(spec, "t")
    assert "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW" in sql
    assert "first_value" in sql


def test_parse_window_vocabulary():
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    from agentic_workflow_for_data_transformation_spark.plans.parser import parse_description

    spec = parse_description(
        "Divide into 4 buckets by event_id per user_id.", columns=cols
    )
    assert spec["ops"][0]["exprs"] == [
        {"fn": "ntile", "n": 4, "alias": "bucket_event_id"}
    ]
    spec = parse_description(
        "Add percentile rank of value per user_id.", columns=cols
    )
    assert spec["ops"][0]["exprs"][0]["fn"] == "percent_rank"
    spec = parse_description(
        "Add cumulative distribution of value per user_id.", columns=cols
    )
    assert spec["ops"][0]["exprs"][0]["fn"] == "cume_dist"
    spec = parse_description(
        "Add first value per user_id ordered by event_id.", columns=cols
    )
    assert spec["ops"][0]["exprs"] == [
        {"fn": "first_value", "col": "value", "alias": "first_value"}
    ]
    spec = parse_description(
        "Add first value per user_id ordered by event_id over last 3 rows.",
        columns=cols,
    )
    assert spec["ops"][0]["exprs"][0]["rows_preceding"] == 2


def test_parse_moving_median():
    from agentic_workflow_for_data_transformation_spark.plans.parser import parse_description

    spec = parse_description(
        "Add moving median of value over last 5 rows per user_id "
        "ordered by event_id.",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    assert spec["ops"][0]["exprs"] == [{
        "fn": "median", "col": "value", "alias": "moving_median_value",
        "rows_preceding": 4,
    }]


def test_parse_percentile_aggregate():
    from agentic_workflow_for_data_transformation_spark.plans.parser import parse_description

    cols = ["event_id", "user_id", "value"]
    spec = parse_description(
        "Group by user_id and show 90th percentile of value.", columns=cols
    )
    assert spec["ops"][0]["aggs"] == [
        {"fn": "percentile", "col": "value", "p": 0.9, "alias": "p90_value"}
    ]
    spec = parse_description("Show 95th percentile of value.", columns=cols)
    assert spec["ops"][0]["keys"] == []
    assert spec["ops"][0]["aggs"][0]["p"] == 0.95


def test_parse_wordcount_explode():
    from agentic_workflow_for_data_transformation_spark.plans.parser import parse_description

    cols = ["doc_id", "text", "lang"]
    spec = parse_description(
        "Split text into words and count each word showing top 50.", columns=cols
    )
    assert spec["ops"][0] == {"op": "explode", "col": "text", "alias": "word"}
    assert spec["ops"][1]["keys"] == ["word"]
    assert spec["ops"][2]["keys"] == [
        {"col": "n", "asc": False}, {"col": "word", "asc": True},
    ]
    assert spec["ops"][3] == {"op": "limit", "n": 50}
    # without top-k: explode + count only
    spec = parse_description("Split text into words and count each word.", columns=cols)
    assert [o["op"] for o in spec["ops"]] == ["explode", "groupby_agg"]


def test_parse_dedup_keep():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        ParseError,
        parse_description,
    )

    cols = ["doc_id", "text", "lang"]
    spec = parse_description(
        "Remove duplicate rows by text keeping the lowest doc_id.", columns=cols
    )
    assert spec["ops"] == [{
        "op": "dedup", "keys": ["text"], "keep_col": "doc_id", "keep": "min",
    }]
    spec = parse_description(
        "Deduplicate by text keeping the highest doc_id.", columns=cols
    )
    assert spec["ops"][0]["keep"] == "max"
    # keep-order without keys is ambiguous -> hard error
    import pytest

    with pytest.raises(ParseError):
        parse_description("Deduplicate keeping the lowest doc_id.", columns=cols)
    # arbitrary-row distinct-by-cols is still reachable (no keep clause)
    spec = parse_description("Drop duplicates by lang.", columns=cols)
    assert spec["ops"] == [{"op": "distinct", "cols": ["lang"]}]


def test_validate_dedup_and_explode():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    validate_spec({"ops": [{"op": "dedup", "keys": ["text"],
                            "keep_col": "doc_id", "keep": "max"}]})
    validate_spec({"ops": [{"op": "explode", "col": "text", "alias": "w",
                            "pattern": ","}]})
    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "dedup", "keys": [],
                                "keep_col": "doc_id"}]})
    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "dedup", "keys": ["text"],
                                "keep_col": "doc_id", "keep": "first"}]})
    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "explode", "col": "text"}]})


def test_parse_case_column():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        ParseError,
        parse_description,
    )

    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    spec = parse_description(
        "Add tier column as 'low' when o_totalprice < 100000, "
        "'mid' when o_totalprice < 300000, otherwise 'high'.",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "with_column", "name": "tier",
        "expr": {"case": {"when": [
            [{"lt": [{"col": "o_totalprice"}, {"lit": 100000}]}, {"lit": "low"}],
            [{"lt": [{"col": "o_totalprice"}, {"lit": 300000}]}, {"lit": "mid"}],
        ], "else": {"lit": "high"}}},
    }]
    # trailing-otherwise form, numeric values, IN-list commas survive
    spec = parse_description(
        "Add flag column as 1 when o_orderpriority in ('1-URGENT', '2-HIGH'), "
        "0 otherwise.",
        columns=cols,
    )
    case = spec["ops"][0]["expr"]["case"]
    assert case["else"] == {"lit": 0}
    assert case["when"][0][1] == {"lit": 1}
    assert case["when"][0][0]["isin"][1] == ["1-URGENT", "2-HIGH"]
    # no else branch -> ANSI NULL (key absent)
    spec = parse_description(
        "Add tag column as 'big' when o_totalprice > 400000.", columns=cols
    )
    assert "else" not in spec["ops"][0]["expr"]["case"]
    import pytest

    with pytest.raises(ParseError):
        parse_description(
            "Add t column as 'a' when o_totalprice > 1, otherwise 'b', "
            "'c' when o_totalprice > 2.",
            columns=cols,
        )  # branch after otherwise
    with pytest.raises(ParseError):
        parse_description("Add t column as otherwise 'b'.", columns=cols)


def test_validate_case_expr():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    ok = {"case": {"when": [[{"gt": ["age", 30]}, {"lit": "old"}]],
                   "else": {"lit": "young"}}}
    validate_spec({"ops": [{"op": "with_column", "name": "t", "expr": ok}]})
    for bad in (
        {"case": {"when": []}},                       # empty when
        {"case": {"when": [[{"gt": ["age", 30]}]]}},  # not a pair
        {"case": {"when": [["x", "y", "z"]]}},        # 3-tuple
        {"case": {"whenever": [["x", "y"]]}},         # unknown key
        {"case": {"when": [["x", "y"]], "default": 1}},
        {"case": [["x", "y"]]},                       # not a dict
    ):
        with pytest.raises(SpecError):
            validate_spec({"ops": [{"op": "with_column", "name": "t",
                                    "expr": bad}]})


def test_parse_fill_missing_and_convert():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        ParseError,
        parse_description,
    )

    cols = ["o_orderkey", "o_totalprice", "l_quantity"]
    spec = parse_description("Replace missing l_quantity with 0.", columns=cols)
    assert spec["ops"] == [{
        "op": "with_column", "name": "l_quantity", "replace": True,
        "expr": {"coalesce": [{"col": "l_quantity"}, {"lit": 0}]},
    }]
    spec = parse_description("Replace missing o_orderstatus with 'N/A'.",
                             columns=cols)
    assert spec["ops"][0]["expr"]["coalesce"][1] == {"lit": "N/A"}
    spec = parse_description("Convert o_totalprice to integer.", columns=cols)
    assert spec["ops"] == [{
        "op": "with_column", "name": "o_totalprice", "replace": True,
        "expr": {"cast": [{"col": "o_totalprice"}, "long"]},
    }]
    # clause-split safety: both forms reachable mid-pipeline after "and"
    spec = parse_description(
        "Filter rows where o_totalprice > 10 and convert o_totalprice to "
        "integer and replace missing l_quantity with 1.",
        columns=cols,
    )
    assert [o["op"] for o in spec["ops"]] == ["filter", "with_column",
                                              "with_column"]
    with pytest.raises(ParseError):
        parse_description("Convert o_totalprice to money.", columns=cols)


def test_sqlgen_replace_in_place_column():
    """replace=True must render * REPLACE — the bare '*, expr AS name'
    form leaves a duplicate column and DuckDB binds later references
    to the ORIGINAL (silent wrong results, caught round 7)."""
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    spec = {"ops": [
        {"op": "with_column", "name": "v", "replace": True,
         "expr": {"coalesce": [{"col": "v"}, {"lit": 0}]}},
        {"op": "groupby_agg", "keys": [],
         "aggs": [{"fn": "sum", "col": "v", "alias": "s",
                   "cast": "decimal(18,2)"}]},
    ]}
    sql = spec_to_sql(spec, "t")
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1.0), (NULL), (2.0)) AS v(v)")
    got = con.execute(sql).fetchone()[0]
    assert float(got) == 3.0
    assert "REPLACE" in sql


def test_parse_search_bm25():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        ParseError,
        parse_description,
    )

    spec = parse_description("Search for 'vector stream' and show top 7 matches.")
    assert spec["ops"] == [{"op": "bm25", "terms": ["vector", "stream"], "k": 7}]
    spec = parse_description("Search for 'alpha'.")
    assert spec["ops"][0]["k"] == 10  # default k
    # composes after other clauses (clause keyword registered)
    spec = parse_description(
        "Filter rows where lang == 'en' and search for 'beta gamma'."
    )
    assert [o["op"] for o in spec["ops"]] == ["filter", "bm25"]
    with pytest.raises(ParseError):
        parse_description("Search for ''.")


def test_validate_bm25_op():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    validate_spec({"ops": [{"op": "bm25", "terms": ["a"], "k": 1}]})
    for bad in (
        {"op": "bm25", "terms": [], "k": 5},
        {"op": "bm25", "terms": ["a"], "k": 0},
        {"op": "bm25", "terms": [1], "k": 5},
        {"op": "bm25", "terms": ["a"], "k": 5, "id_col": 3},
    ):
        with pytest.raises(SpecError):
            validate_spec({"ops": [bad]})


def test_parse_count_missing():
    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )

    cols = ["o_orderpriority", "l_quantity", "o_totalprice"]
    spec = parse_description(
        "Group by o_orderpriority and show count rows, "
        "count missing l_quantity and maximum o_totalprice.",
        columns=cols,
    )
    aggs = spec["ops"][0]["aggs"]
    assert {"fn": "count_nulls", "col": "l_quantity",
            "alias": "l_quantity_null_count"} in aggs
    # 'count null x' synonym (multi-agg form: the grammar routes
    # single-aggregate phrasings through dedicated single rules, and
    # count-missing is deliberately multi-agg-only)
    spec = parse_description(
        "Group by o_orderpriority and show count rows, "
        "count null l_quantity.",
        columns=cols,
    )
    assert spec["ops"][0]["aggs"][1]["fn"] == "count_nulls"


def test_parse_fit_ols():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.parser import (
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    cols = ["p_brand", "l_quantity", "l_extendedprice"]
    spec = parse_description(
        "Fit l_extendedprice on l_quantity per p_brand.", columns=cols
    )
    assert spec["ops"] == [{
        "op": "ols", "key": "p_brand",
        "y": "l_extendedprice", "x": "l_quantity",
    }]
    for bad in (
        {"op": "ols", "key": "k", "x": "a"},            # missing y
        {"op": "ols", "key": 3, "x": "a", "y": "b"},    # non-string key
        {"op": "ols", "key": "k", "x": "a", "y": "b", "x_decimal": 12},
    ):
        with pytest.raises(SpecError):
            validate_spec({"ops": [bad]})


def test_string_int_cast_rejected(spark, people):
    """Round-8 advisor finding: cast-to-integer over a TEXT column is
    not portable (Spark nulls non-integral strings, DuckDB's implicit
    string->double->trunc yields a value) — the compiler rejects it
    with a actionable message; numeric sources still cast fine."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import compile_spec
    from agentic_workflow_for_data_transformation_spark.plans.spec import SpecError

    bad = {"ops": [{"op": "with_column", "name": "n",
                    "expr": {"cast": ["name", "long"]}}]}
    with _pytest.raises(SpecError, match="convert to double first"):
        compile_spec(people, bad)
    # nested inside arithmetic / case is caught too
    nested = {"ops": [{"op": "with_column", "name": "n",
                       "expr": {"add": [{"cast": ["city", "int"]}, 1]}}]}
    with _pytest.raises(SpecError):
        compile_spec(people, nested)
    ok = {"ops": [{"op": "with_column", "name": "n",
                   "expr": {"cast": ["age", "long"]}}]}
    assert "n" in compile_spec(people, ok).columns
    # string -> double stays allowed (that IS the portable path)
    ok2 = {"ops": [{"op": "with_column", "name": "n",
                    "expr": {"cast": ["name", "double"]}}]}
    assert "n" in compile_spec(people, ok2).columns


def test_parser_corpus_pipeline_clauses():
    """Round-8: the LLM-corpus operators' NL phrasings parse to their
    spec ops, and compose with the filter grammar."""
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    spec = parse_description(
        "Remove duplicate documents keeping the first", columns=cols
    )
    assert spec["ops"] == [{"op": "dedup", "keys": ["text"],
                            "keep_col": "doc_id", "keep": "min"}]

    spec = parse_description(
        "Filter rows where lang == 'en' and "
        "remove near-duplicate documents above 0.8 similarity",
        columns=cols,
    )
    assert spec["ops"][0]["op"] == "filter"
    assert spec["ops"][1] == {"op": "neardup", "threshold": 0.8}

    spec = parse_description(
        "Drop documents that appear in benchmark", columns=cols
    )
    assert spec["ops"] == [{"op": "decontaminate", "right": "benchmark"}]

    spec = parse_description(
        "Pack documents into sequences of 512 tokens", columns=cols
    )
    assert spec["ops"] == [{"op": "pack", "budget": 512}]


def test_corpus_spec_ops_validate_and_render():
    """The new spec ops validate strictly and every one renders SQL."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    for ops in ([{"op": "neardup", "threshold": 0.7}],
                [{"op": "decontaminate", "right": "bench"}],
                [{"op": "pack", "budget": 256, "group_size": 64}]):
        sql = spec_to_sql(validate_spec({"ops": ops}), "documents")
        assert "SELECT" in sql
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "neardup", "threshold": 0.0}]})
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "neardup", "threshold": True}]})
    with _pytest.raises(SpecError):  # the compiler shingles 'text' only
        validate_spec({"ops": [{"op": "neardup", "threshold": 0.7,
                                "text_col": "body"}]})
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "decontaminate"}]})
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "pack", "budget": 0}]})


def test_neardup_compile_drops_later_near_duplicate(spark):
    """Greedy keep-first semantics on a planted fixture: the
    one-word-off near-dup with the HIGHER id is dropped, the earlier
    twin and the unrelated doc survive."""
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = "the quick brown fox jumps over the lazy cat and runs far away today"
    df = spark.createDataFrame(
        [(1, base), (2, near),
         (3, "completely different words about spark engines and data pipelines")],
        ["doc_id", "text"],
    )
    out = compile_spec(df, {"ops": [{"op": "neardup", "threshold": 0.5}]})
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_parser_ann_topk_clause(spark, people):
    """'find the K most similar vectors to vector N' parses to the
    ann_topk spec op, compiles to the cosine top-k plan, and composes
    with a preceding filter."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    spec = parse_description("Find the 3 nearest neighbors of vector 0")
    assert spec["ops"] == [{"op": "ann_topk", "k": 3, "query_id": 0}]
    assert "list_cosine_similarity" in spec_to_sql(spec, "embeddings")

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = compile_spec(vecs, spec)
    got = [r["vec_id"] for r in out.collect()]
    assert got[0] == 1 and len(got) == 3 and 0 not in got


def test_json_get_expr_validates_compiles_and_renders(spark):
    """json_get: validator pins the field to a bare identifier, the
    compiler runs get_json_object JVM-side, sqlgen mirrors it as
    json_extract_string — both return NULL for missing fields."""
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import compile_spec
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_expr,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        expr_to_sql,
    )

    validate_expr({"json_get": ["props", "k"]})
    for bad in (
        {"json_get": ["props", "$.k"]},       # raw JSONPath
        {"json_get": ["props", "a b"]},       # not an identifier
        {"json_get": ["props"]},              # arity
    ):
        with _pytest.raises(SpecError):
            validate_expr(bad)

    assert (
        expr_to_sql({"json_get": ["props", "k"]})
        == "json_extract_string(\"props\", '$.k')"
    )

    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, '{"other": 1}'), (3, "not json")],
        ["id", "props"],
    )
    spec = {
        "ops": [
            {
                "op": "with_column",
                "name": "k",
                "expr": {"cast": [{"json_get": ["props", "k"]}, "double"]},
            }
        ]
    }
    out = {r["id"]: r["k"] for r in compile_spec(df, spec).collect()}
    assert out == {1: 7.0, 2: None, 3: None}


def test_parse_json_extract_clause():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    cols = ["event_id", "props"]
    spec = parse_description("Extract the number k from props", columns=cols)
    assert spec["ops"] == [
        {
            "op": "with_column",
            "name": "k",
            "expr": {"cast": [{"json_get": ["props", "k"]}, "double"]},
        }
    ]
    # text form, aliased onto an EXISTING column -> in-place replace
    spec = parse_description(
        "Extract the text field k from props as props", columns=cols
    )
    assert spec["ops"] == [
        {
            "op": "with_column",
            "name": "props",
            "expr": {"json_get": ["props", "k"]},
            "replace": True,
        }
    ]


def test_split_assign_validates_compiles_and_renders(spark, people):
    """N-way hash split: validator demands matched distinct labels,
    compiler and sqlgen share split_thresholds so both engines cut at
    the same integers, every row gets exactly one label."""
    import duckdb
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    spec = parse_description(
        "Split into 60/20/20 train/val/test by age", columns=["name", "age"]
    )
    assert spec["ops"] == [
        {
            "op": "split_assign",
            "key": "age",
            "weights": [60.0, 20.0, 20.0],
            "labels": ["train", "val", "test"],
        }
    ]
    for bad in (
        {"op": "split_assign", "key": "age", "weights": [1, -1],
         "labels": ["a", "b"]},
        {"op": "split_assign", "key": "age", "weights": [1, 1],
         "labels": ["a", "a"]},
        {"op": "split_assign", "key": "age", "weights": [1, 1],
         "labels": ["a"]},
    ):
        with _pytest.raises(SpecError):
            validate_spec({"ops": [bad]})

    got = {
        r["name"]: r["split"] for r in compile_spec(people, spec).collect()
    }
    assert set(got.values()) <= {"train", "val", "test"}
    assert len(got) == 10

    pdf = people.toPandas()
    con = duckdb.connect()
    con.register("people", pdf)
    oracle = {
        r[0]: r[1]
        for r in con.sql(
            "SELECT name, split FROM (" + spec_to_sql(spec, "people") + ")"
        ).fetchall()
    }
    assert oracle == got


def test_text_analysis_spec_ops_parse_and_compile(spark):
    """langid / token_counts / quality_score as NL clauses: typed
    columns appear, values match the operators they route to."""
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der hund und die katze ist")],
        ["doc_id", "text"],
    )
    spec = parse_description(
        "Detect the language of each document", columns=df.columns
    )
    assert spec["ops"] == [{"op": "langid"}]
    out = {r["doc_id"]: r["pred_lang"] for r in compile_spec(df, spec).collect()}
    assert out == {1: "en", 2: "de"}

    spec = parse_description(
        "Count tokens in each document and select doc_id, n_words, n_tokens",
        columns=df.columns,
    )
    rows = {r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in compile_spec(df, spec).collect()}
    assert rows[1] == (5, 5)

    spec = parse_description(
        "Score the quality of each document", columns=df.columns
    )
    got = compile_spec(df, spec)
    assert {"n_words", "avg_word_len", "stopword_ratio", "nonalnum_ratio",
            "quality_score"} <= set(got.columns)
    # every rendering stays inside the closed SQL vocabulary
    for d in (
        "Detect the language of each document",
        "Count tokens in each document",
        "Score the quality of each document",
    ):
        sql = spec_to_sql(parse_description(d, columns=df.columns), "documents")
        assert "EXCLUDE" in sql or "n_tokens" in sql


def test_winsorize_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    spec = parse_description(
        "Winsorize amt at 10/90 within each grp",
        columns=["id", "grp", "amt"],
    )
    assert spec["ops"] == [
        {"op": "winsorize", "col": "amt", "keys": ["grp"],
         "lo": 0.1, "hi": 0.9}
    ]
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 11)], ["id", "grp", "amt"]
    )
    out = {r["id"]: (r["amt_winsor"], r["was_clamped"])
           for r in compile_spec(df, spec).collect()}
    # p10 of 1..10 = 1.9, p90 = 9.1 (interpolated)
    assert out[1] == (1.9, True)
    assert out[10] == (9.1, True)
    assert out[5] == (5.0, False)

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {r[0]: (r[3], r[4])
              for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle == out


def test_resample_spec_op_parse_and_validate():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import parse_description
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    cols = ["event_id", "ts", "user_id", "value"]
    spec = parse_description(
        "Resample value every 6 hours per user_id with linear interpolation",
        columns=cols,
    )
    assert spec["ops"] == [
        {"op": "resample", "val": "value", "step_hours": 6.0, "key": "user_id"}
    ]
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "resample", "key": "user_id",
                                "step_hours": 0}]})
    with _pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "resample", "step_hours": 6}]})


def test_chunk_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text"]
    spec = parse_description(
        "Chunk documents into 4-word chunks every 2 words", columns=cols
    )
    assert spec["ops"] == [{"op": "chunk", "size": 4, "stride": 2}]
    # no stride phrase -> non-overlapping (stride = size)
    spec2 = parse_description(
        "Chunk documents into 8-word chunks", columns=cols
    )
    assert spec2["ops"] == [{"op": "chunk", "size": 8, "stride": 8}]

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x")], ["doc_id", "text"]
    )
    out = compile_spec(df, spec)
    rows = {(r["doc_id"], r["chunk_idx"]): r["n_chunk_words"]
            for r in out.collect()}
    # doc 1: starts 1,3,5 -> sizes 4,4,2; doc 2: one 1-word chunk
    assert rows == {(1, 0): 4, (1, 1): 4, (1, 2): 2, (2, 0): 1}

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {(r[0], r[1]): r[2]
              for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle == rows

    # clause splitter: chunk composes AFTER a filter conjunction
    spec3 = parse_description(
        "Filter rows where doc_id > 0 and chunk documents into 4-word "
        "chunks every 2 words",
        columns=cols,
    )
    assert [o["op"] for o in spec3["ops"]] == ["filter", "chunk"]


def test_merge_spec_op_parse_compile(spark):
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.compile import SpecError

    spec = parse_description(
        "Merge updates into the table on id", columns=["id", "v"]
    )
    assert spec["ops"] == [{"op": "merge", "right": "updates", "key": "id"}]
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    upd = spark.createDataFrame([(2, "b2"), (3, "c")], ["id", "v"])
    out = {r["id"]: (r["v"], r["merge_action"])
           for r in compile_spec(base, spec, tables={"updates": upd}).collect()}
    assert out == {1: ("a", "kept"), 2: ("b2", "updated"), 3: ("c", "inserted")}
    with _pytest.raises(SpecError):
        compile_spec(base, spec, tables={})


def test_redact_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text"]
    spec = parse_description(
        "Redact emails and numbers in each document", columns=cols
    )
    assert spec["ops"] == [{"op": "redact"}]
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@example.com or call 12345"),
            (2, "no pii here 123"),
            (3, "x@y.io and z@w.co plus 999999"),
        ],
        cols,
    )
    out = {r["doc_id"]: (r["text"], r["n_masked"])
           for r in compile_spec(df, spec).collect()}
    assert out[1] == ("mail me at <EMAIL> or call <NUM>", 2)
    assert out[2] == ("no pii here 123", 0)  # short digit run survives
    assert out[3] == ("<EMAIL> and <EMAIL> plus <NUM>", 3)

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {r[0]: (r[1], r[2]) for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle == out


def test_sample_nl_broadened_phrasings():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    cols = ["doc_id", "text"]
    for desc in (
        "Sample 10% of rows by doc_id",
        "Sample 10 percent of rows by doc_id",
        "Keep 12.5% of the documents by doc_id",
    ):
        (op,) = parse_description(desc, columns=cols)["ops"]
        assert op["op"] == "sample" and op["key"] == "doc_id"
    # composes across the clause splitter with a filter
    spec = parse_description(
        "Filter rows where doc_id > 5 and sample 10% of documents by doc_id",
        columns=cols,
    )
    assert [o["op"] for o in spec["ops"]] == ["filter", "sample"]
    spec = parse_description(
        "Filter rows where doc_id > 5 and "
        "redact emails and numbers in each document",
        columns=cols,
    )
    assert [o["op"] for o in spec["ops"]] == ["filter", "redact"]


def test_expect_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text", "lang"]
    spec = parse_description(
        "Check that doc_id is unique and text is not null and "
        "lang is in 'en' and at least 5 rows",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "expect",
        "expectations": [
            {"kind": "unique", "col": "doc_id"},
            {"kind": "not_null", "col": "text"},
            {"kind": "accepted_values", "col": "lang", "values": ["en"]},
            {"kind": "min_rows", "n": 5},
        ],
    }]
    df = spark.createDataFrame(
        [(1, "a", "en"), (1, "b", "de"), (2, None, "en")], cols
    )
    out = {r["expectation"]: (r["n_violations"], r["passed"])
           for r in compile_spec(df, spec).collect()}
    assert out["0_unique_doc_id"] == (1, False)      # two rows share id 1
    assert out["1_not_null_text"] == (1, False)
    assert out["2_accepted_values_lang"] == (1, False)
    assert out["3_min_rows_*"] == (2, False)          # 3 rows < 5

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {r[0]: (r[4], r[5]) for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle == out

    with _pytest_raises(SpecError):
        validate_spec({"ops": [{"op": "expect", "expectations": []}]})
    with _pytest_raises(SpecError):
        validate_spec({"ops": [{"op": "expect",
                                "expectations": [{"kind": "nope"}]}]})


def _pytest_raises(exc):
    import pytest as _p

    return _p.raises(exc)


def test_gopher_spec_op_parse_compile_render(spark):
    """'apply the gopher quality rules to each document' -> gopher op:
    rule booleans appear, engine and rendered SQL agree on a tiny
    fixture with one passing and one failing document."""
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    good = " ".join(["the", "cat", "sat", "with", "of"] * 12)
    rows = [(1, good), (2, "too short")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spec = parse_description(
        "Apply the gopher quality rules to each document and "
        "select doc_id, n_words, passes_gopher",
        columns=df.columns,
    )
    assert spec["ops"][0] == {"op": "gopher"}
    got = {r["doc_id"]: (r["n_words"], r["passes_gopher"])
           for r in compile_spec(df, spec).collect()}
    assert got == {1: (60, True), 2: (2, False)}

    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.sql(spec_to_sql(spec, "documents")).fetchall()
    }
    assert oracle == got


def test_dsir_spec_op_parse_compile_render(spark):
    """'weight documents by importance to lang <v>' -> dsir op with a
    replaced schema; engine and rendered SQL agree to the hash."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    rows = [
        (1, "en", "alpha beta alpha"),
        (2, "en", "alpha beta gamma"),
        (3, "de", "gamma delta gamma delta"),
        (4, "de", "alpha beta alpha"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    spec = parse_description(
        "Weight documents by importance to lang 'en'", columns=df.columns
    )
    assert spec["ops"] == [
        {"op": "dsir", "target_col": "lang", "target_val": "en"}
    ]
    out = compile_spec(df, spec)
    assert set(out.columns) == {"doc_id", "n_feats", "log_weight", "avg_log_ratio"}
    got = {r["doc_id"]: (r["n_feats"], r["log_weight"]) for r in out.collect()}
    # same content -> same weight regardless of label
    assert got[1] == got[4]

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            "SELECT doc_id, n_feats, log_weight FROM ("
            + spec_to_sql(spec, "documents") + ")"
        ).fetchall()
    }
    assert oracle == got


def test_gopher_composes_with_filter_clause(spark):
    """The rule booleans are filterable downstream in the same
    description — the 'keep only passing documents' pipeline shape."""
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )

    good = " ".join(["the", "cat", "sat", "with", "of"] * 12)
    df = spark.createDataFrame([(1, good), (2, "too short")], ["doc_id", "text"])
    spec = parse_description(
        "Apply the gopher quality rules to each document and "
        "filter rows where passes_gopher == true and select doc_id",
        columns=df.columns,
    )
    assert [r["doc_id"] for r in compile_spec(df, spec).collect()] == [1]


def test_fertility_spec_op_parse_compile_render(spark):
    """'compute token fertility per <key>' -> schema-replacing
    fertility op; engine and rendered SQL agree exactly."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    rows = [(1, "en", "don't stop"), (2, "en", "ok go"), (3, "fr", "oui oui")]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    spec = parse_description("Compute token fertility per lang", columns=df.columns)
    assert spec["ops"] == [{"op": "fertility", "key": "lang"}]
    out = compile_spec(df, spec)
    assert set(out.columns) == {
        "lang", "n_docs", "total_words", "total_tokens",
        "tokens_per_word", "chars_per_token",
    }
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "lang", "text"]))
    oracle = {tuple(r) for r in con.sql(spec_to_sql(spec, "documents")).fetchall()}
    assert got == oracle
    assert dict((r[0], r[4]) for r in got)["en"] == 1.5  # don ' t stop / 4 words


def test_dup_audit_spec_op_parse_compile_render(spark):
    """'audit <n>-gram duplication per <key>' -> schema-replacing
    dup_by_source op; engine and rendered SQL agree exactly, including
    the left-join nulls for a group whose docs are all too short."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    rows = [
        (1, "a b c", "s1"),
        (2, "a b x", "s1"),
        (3, "b c y", "s2"),
        (4, "z", "s3"),  # too short for 2-grams: null ratios in BOTH engines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    spec = parse_description(
        "Audit 2-gram duplication per source", columns=df.columns
    )
    assert spec["ops"] == [{"op": "dup_by_source", "key": "source", "n": 2}]
    # default n: phrase without the n-gram prefix
    spec5 = parse_description("Report duplication by source", columns=df.columns)
    assert spec5["ops"] == [{"op": "dup_by_source", "key": "source"}]

    out = compile_spec(df, spec)
    assert set(out.columns) == {
        "source", "n_docs", "n_distinct_grams", "n_gram_occ",
        "dup_gram_ratio", "cross_source_ratio",
    }
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"]))
    oracle = {tuple(r) for r in con.sql(spec_to_sql(spec, "documents")).fetchall()}
    con.close()
    assert got == oracle
    by_src = {r[0]: r for r in got}
    assert by_src["s3"][1] == 1 and by_src["s3"][3] == 0  # n_docs, n_gram_occ
    assert by_src["s3"][4] is None  # no grams -> null ratio


def test_winnow_dedup_spec_op_parse_compile_render(spark):
    """'remove documents sharing fingerprinted passages above T
    overlap' -> winnow_dedup op with greedy keep-first semantics;
    engine and rendered SQL agree exactly, and the kept set contains
    the lowest id of each winnow-overlapping group."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    run = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, run + " one two three four five six seven eight"),
        (2, run + " nine ten eleven twelve thirteen fourteen"),
        (3, "red green blue cyan magenta yellow black white pink gray"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spec = parse_description(
        "Remove documents sharing fingerprinted passages above 0.3 overlap",
        columns=df.columns,
    )
    assert spec["ops"] == [{"op": "winnow_dedup", "overlap": 0.3}]
    out = compile_spec(df, spec)
    assert out.columns == ["doc_id", "text"]
    kept = {r["doc_id"] for r in out.collect()}
    assert 1 in kept and 3 in kept  # lowest id of the pair + the loner
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {r[0] for r in con.sql(spec_to_sql(spec, "documents")).fetchall()}
    con.close()
    assert kept == oracle


def test_vocab_divergence_spec_op_parse_compile_render(spark):
    """'report vocabulary divergence per <key>' (and the plural
    'compare ... between sources' form) -> schema-replacing
    vocab_divergence op; engine and rendered SQL agree exactly."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    rows = [
        ("s1", "x y z x"),
        ("s2", "x y z x"),
        ("s3", "x p q r"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    spec = parse_description(
        "Report vocabulary divergence per source", columns=df.columns
    )
    assert spec["ops"] == [{"op": "vocab_divergence", "key": "source"}]
    # plural form resolves to the singular column
    spec2 = parse_description(
        "Compare vocabulary divergence between sources", columns=df.columns
    )
    assert spec2["ops"] == spec["ops"]

    out = compile_spec(df, spec)
    assert out.columns == [
        "source_a", "source_b", "n_shared_words", "js_divergence"
    ]
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["source", "text"]))
    oracle = {tuple(r) for r in con.sql(spec_to_sql(spec, "documents")).fetchall()}
    con.close()
    assert got == oracle
    by = {(a, b): (n, j) for a, b, n, j in got}
    assert by[("s1", "s2")][1] == 0.0          # identical distributions
    assert by[("s1", "s3")][1] > 0.0           # diverging ones
    assert by[("s1", "s3")] == by[("s2", "s3")]


def test_dedup_savings_spec_op_parse_compile_render(spark):
    """'report the dedup savings per <key>' -> schema-replacing
    dedup_savings op; engine and rendered SQL agree, and a duplicate
    held in ANOTHER source is charged to the holder, not the keeper."""
    import duckdb
    import pandas as pd

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    rows = [
        (1, "same text", "s1", 9),
        (2, "same text", "s2", 9),
        (3, "other", "s2", 5),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source", "n_chars"])
    spec = parse_description(
        "Report the dedup savings per source", columns=df.columns
    )
    assert spec["ops"] == [{"op": "dedup_savings", "key": "source"}]
    out = compile_spec(df, spec)
    got = {tuple(r) for r in out.collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source", "n_chars"]))
    oracle = {tuple(r) for r in con.sql(spec_to_sql(spec, "documents")).fetchall()}
    con.close()
    assert got == oracle
    by = {r[0]: r for r in got}
    # (source, n_docs, n_dup_docs, chars_total, chars_saved, ratio)
    assert by["s1"][2] == 0 and by["s1"][4] == 0  # keeper saves nothing
    assert by["s2"][2] == 1 and by["s2"][4] == 9  # the holder is charged


def test_blocklist_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text"]
    spec = parse_description(
        "Remove documents containing the words 'Bad', 'worse'", columns=cols
    )
    assert spec["ops"] == [{"op": "blocklist", "words": ["Bad", "worse"]}]
    df = spark.createDataFrame(
        [
            (1, "a clean doc"),
            (2, "this one is bad indeed"),   # case-insensitive hit
            (3, "badge is not bad-ge here"), # substring must NOT trip
            (4, "strictly Worse text"),
        ],
        cols,
    )
    out = sorted(r["doc_id"] for r in compile_spec(df, spec).collect())
    assert out == [1, 3]

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = sorted(r[0] for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert oracle == out

    # composes across the clause splitter with filter + projection
    spec2 = parse_description(
        "Filter rows where doc_id > 1 and remove documents containing "
        "the words 'bad' and select doc_id",
        columns=cols,
    )
    assert [o["op"] for o in spec2["ops"]] == ["filter", "blocklist", "select"]
    out2 = sorted(r["doc_id"] for r in compile_spec(df, spec2).collect())
    assert out2 == [3, 4]


def test_blocklist_spec_validation():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "blocklist", "words": []}]})
    with pytest.raises(SpecError):
        validate_spec({"ops": [{"op": "blocklist", "words": [1]}]})
    validate_spec({"ops": [{"op": "blocklist", "words": ["x"]}]})


def test_parse_column_lists_split_on_and_in_any_case():
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Check k-anonymity of A AND B at 3")
    assert spec["ops"] == [{"op": "kanon", "cols": ["A", "B"], "k": 3}]
    spec = parse_description("Compute the correlation of a And b")
    assert spec["ops"][0]["cols"] == ["a", "b"]


def test_parse_without_columns_keeps_names_as_written():
    """With no column list nothing says that 'ts' is a plural, so the
    parser must not strip its 's'; a list still resolves plurals."""
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Add row number ordered by ts")
    assert spec["ops"][0]["order_by"] == [{"col": "ts", "asc": True}]
    spec = parse_description("Compute the anova of values by lens")
    assert spec["ops"][0]["value"] == "values"
    assert spec["ops"][0]["group"] == "lens"
    spec = parse_description("Group by city and count names.", ["name", "age", "city"])
    assert spec["ops"][0]["aggs"][0]["col"] == "name"


def test_kanon_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["user_id", "event_type", "value"]
    spec = parse_description(
        "Check k-anonymity of user_id and event_type at 3", columns=cols
    )
    assert spec["ops"] == [
        {"op": "kanon", "cols": ["user_id", "event_type"], "k": 3}
    ]
    rows = [(1, "a", 0.0)] * 3 + [(1, "b", 0.0)] * 2 + [(2, "a", 0.0)]
    df = spark.createDataFrame(rows, cols)
    (r,) = compile_spec(df, spec).collect()
    assert r["quasi"] == "user_id+event_type"
    assert r["n_groups"] == 3 and r["n_violating_groups"] == 2
    assert r["n_rows_at_risk"] == 3

    con = duckdb.connect()
    con.register("t", df.toPandas())
    (o,) = con.sql(spec_to_sql(spec, "t")).fetchall()
    assert o[0] == "user_id+event_type" and o[3] == 3 and o[4] == 2


def test_word_entropy_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text"]
    spec = parse_description(
        "Compute the word entropy of each document", columns=cols
    )
    assert spec["ops"] == [{"op": "word_entropy"}]
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], cols
    )
    out = {r["doc_id"]: r for r in compile_spec(df, spec).collect()}
    assert out[1]["entropy"] == 0.0 and out[2]["entropy"] == 2.0

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {r[0]: r for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle[1][3] == 0.0 and oracle[2][3] == 2.0

    # composes after a filter clause
    spec2 = parse_description(
        "Filter rows where doc_id > 1 and compute the word entropy "
        "of each document",
        columns=cols,
    )
    assert [o["op"] for o in spec2["ops"]] == ["filter", "word_entropy"]
    assert [r["doc_id"] for r in compile_spec(df, spec2).collect()] == [2]


def test_oov_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["doc_id", "text", "source"]
    spec = parse_description(
        "Report the out-of-vocabulary rate per source against the "
        "top 2 words",
        columns=cols,
    )
    assert spec["ops"] == [{"op": "oov", "key": "source", "v": 2}]
    df = spark.createDataFrame(
        [(1, "a a a b", "s1"), (2, "a r1 r2 r3", "s2")], cols
    )
    out = {r["source"]: r for r in compile_spec(df, spec).collect()}
    assert out["s1"]["n_oov"] == 0
    assert out["s2"]["n_oov"] == 3 and out["s2"]["oov_rate"] == 0.75

    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {r[0]: r for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert oracle["s2"][2] == 3

    # default vocabulary size when the clause omits it
    spec2 = parse_description(
        "Report the out-of-vocabulary rate per source", columns=cols
    )
    assert spec2["ops"] == [{"op": "oov", "key": "source"}]


def test_majority_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.spec import SpecError
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["item", "vote", "value"]
    spec = parse_description(
        "Take the majority vote of vote per item", columns=cols
    )
    assert spec["ops"] == [{"op": "majority", "label": "vote", "key": "item"}]
    # item 1: a wins 3-2 (margin 1); item 2: a/b tie 1-1 -> tie breaks
    # to 'a' and is flagged; item 3: unanimous
    rows = (
        [(1, "a", 0.0)] * 3 + [(1, "b", 0.0)] * 2
        + [(2, "b", 0.0), (2, "a", 0.0)]
        + [(3, "c", 0.0)] * 4
    )
    df = spark.createDataFrame(rows, cols)
    got = {r["item"]: r for r in compile_spec(df, spec).collect()}
    assert got[1]["majority_label"] == "a" and got[1]["margin"] == 1
    assert got[1]["n_ratings"] == 5 and got[1]["n_votes"] == 3
    assert not got[1]["is_tie"]
    assert got[2]["majority_label"] == "a" and got[2]["is_tie"]
    assert got[2]["margin"] == 0
    assert got[3]["majority_label"] == "c" and got[3]["vote_share"] == 1.0
    assert not got[3]["is_tie"]

    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = {o[0]: o for o in con.sql(spec_to_sql(spec, "t")).fetchall()}
    for k, r in got.items():
        assert tuple(r) == want[k]

    # validator guards: key == label, and a key literally named 'label'
    import pytest as _pytest

    with _pytest.raises(SpecError):
        compile_spec(df, {"ops": [
            {"op": "majority", "key": "item", "label": "item"}]})
    with _pytest.raises(SpecError):
        compile_spec(df, {"ops": [
            {"op": "majority", "key": "label", "label": "vote"}]})


def test_dedup_tiebreak_deterministic_on_tied_keep_col(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["id", "grp", "score"]
    spec = parse_description(
        "Remove duplicates by grp keeping the highest score "
        "breaking ties by id",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "dedup", "keys": ["grp"], "keep_col": "score",
        "keep": "max", "tiebreak": "id",
    }]
    # grp a: scores tie at 2.0 -> the ascending id tiebreak must pick
    # id 1 on BOTH engines; grp b: plain max wins
    rows = [(3, "a", 2.0), (1, "a", 2.0), (2, "a", 1.0),
            (9, "b", 0.5), (8, "b", 0.7)]
    df = spark.createDataFrame(rows, cols)
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    assert got == [(1, "a", 2.0), (8, "b", 0.7)]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want

    # 'breaking ties' without a keep order is rejected
    import pytest as _pytest

    with _pytest.raises(ParseError):
        parse_description(
            "Remove duplicates by grp breaking ties by id", columns=cols
        )


def test_agreement_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["item", "vote", "value"]
    spec = parse_description(
        "Compute the inter-annotator agreement of vote per item",
        columns=cols,
    )
    assert spec["ops"] == [{"op": "agreement", "label": "vote", "key": "item"}]
    # two unanimous items + one maximally-split item + one dropped
    # single-rating item
    rows = (
        [(1, "a", 0.0)] * 3 + [(2, "b", 0.0)] * 3
        + [(3, "a", 0.0), (3, "b", 0.0)]
        + [(4, "a", 0.0)]
    )
    df = spark.createDataFrame(rows, cols)
    (r,) = compile_spec(df, spec).collect()
    assert r["n_items"] == 3 and r["n_items_dropped"] == 1
    assert r["n_ratings"] == 8 and r["n_categories"] == 2
    assert r["d_observed"] == 2.0  # only item 3's cross-pair coincidences

    con = duckdb.connect()
    con.register("t", df.toPandas())
    (o,) = con.sql(spec_to_sql(spec, "t")).fetchall()
    assert tuple(r) == o


def test_ewma_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["grp", "ord", "x"]
    spec = parse_description(
        "Add exponential moving average of x over last 3 rows per grp "
        "ordered by ord",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "window", "partition_by": ["grp"],
        "order_by": [{"col": "ord", "asc": True}],
        "exprs": [{"fn": "ewma", "col": "x", "alias": "ewma_x",
                   "alpha": 0.5, "rows_preceding": 2}],
    }]
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 40.0),
            ("a", 4, 0.0), ("b", 1, 7.0)]
    df = spark.createDataFrame(rows, cols)
    got = {(r["grp"], r["ord"]): r["ewma_x"]
           for r in compile_spec(df, spec).collect()}
    # hand-computed: renormalized a^j weights over available lags
    assert got[("a", 1)] == 10.0
    assert abs(got[("a", 2)] - round(25.0 / 1.5, 6)) < 1e-9
    assert got[("a", 3)] == 30.0            # (40 + 10 + 2.5) / 1.75
    assert abs(got[("a", 4)] - round(25.0 / 1.75, 6)) < 1e-9
    assert got[("b", 1)] == 7.0             # partition start, no lags

    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = {(r[0], r[1]): r[3]
            for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    assert got == want

    with _py_raises_parse():
        parse_description(
            "Add exponential moving average of x over last 1 rows per "
            "grp ordered by ord",
            columns=cols,
        )


def _py_raises_parse():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    return _pytest.raises(ParseError)


def test_anomaly_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["k", "o", "v"]
    spec = parse_description(
        "Flag anomalies in v over last 5 rows per k ordered by o above z 2",
        columns=cols,
    )
    assert spec["ops"] == [{
        "op": "anomaly", "col": "v", "key": "k", "order_col": "o",
        "n": 5, "z": 2.0,
    }]
    # a mildly noisy level with one planted spike: only the spike rows
    # (the 100 itself) may flag; the early short-history rows report
    # NULL z and never flag
    vals = [1.0, 1.2, 0.8, 1.1, 0.9, 1.0, 1.1, 100.0, 1.0, 0.9]
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, cols)
    got = {r["o"]: r for r in compile_spec(df, spec).collect()}
    assert got[0]["zscore"] is None and not got[0]["is_anomaly"]
    assert got[1]["zscore"] is None and not got[1]["is_anomaly"]
    assert got[7]["is_anomaly"] and got[7]["zscore"] > 2
    flagged = {o for o, r in got.items() if r["is_anomaly"]}
    assert flagged == {7}

    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = {r[1]: r for r in con.sql(spec_to_sql(spec, "t")).fetchall()}
    for o, r in got.items():
        assert tuple(r) == want[o]


def test_correlate_spec_op_parse_compile_render(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql

    cols = ["x", "y", "z"]
    spec = parse_description(
        "Compute the correlation matrix of x, y and z", columns=cols
    )
    assert spec["ops"] == [{"op": "correlate", "cols": ["x", "y", "z"]}]
    rows = [(1.0, 2.0, 3.0), (2.0, 4.0, 2.0), (3.0, 6.0, 1.0)]
    df = spark.createDataFrame(rows, cols)
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    assert [(a, b, r) for a, b, _, r in got] == [
        ("x", "y", 1.0), ("x", "z", -1.0), ("y", "z", -1.0)
    ]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want


def _nl_roundtrip(spark, desc, cols, rows, schema):
    """Parse desc -> compile on Spark AND render+run the oracle on
    DuckDB over the same rows; return (spec, spark_rows, duck_rows)
    sorted for comparison."""
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(desc, columns=cols)
    df = spark.createDataFrame(rows, schema)
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    return spec, got, want


_EMB_SCHEMA = "vec_id: long, embedding: array<double>, label: string"
_EMB_ROWS = [
    (i, [1.0 + 0.01 * i, 0.0, float(i % 2)], "even" if i % 2 == 0 else "odd")
    for i in range(12)
]


def test_ndcg_spec_op_roundtrip(spark):
    spec, got, want = _nl_roundtrip(
        spark,
        "Compute retrieval NDCG at 3 for the first 2 queries",
        ["vec_id", "embedding", "label"],
        _EMB_ROWS,
        _EMB_SCHEMA,
    )
    assert spec["ops"] == [{"op": "ndcg", "k": 3, "n_queries": 2}]
    assert len(got) == 2
    assert got == want


def test_silhouette_spec_op_roundtrip(spark):
    spec, got, want = _nl_roundtrip(
        spark,
        "How well separated are the labels",
        ["vec_id", "embedding", "label"],
        _EMB_ROWS,
        _EMB_SCHEMA,
    )
    assert spec["ops"] == [{"op": "silhouette"}]
    assert {r[0] for r in got} == {"even", "odd"}
    assert got == want


def test_bpe_merges_spec_op_roundtrip(spark):
    rows = [(i, "the cat sat on the mat the cat", "en", "src0", 30)
            for i in range(4)]
    spec, got, want = _nl_roundtrip(
        spark,
        "Train a BPE tokenizer with 3 merges",
        ["doc_id", "text", "lang", "source", "n_chars"],
        rows,
        "doc_id: long, text: string, lang: string, source: string, "
        "n_chars: long",
    )
    assert spec["ops"] == [{"op": "bpe_merges", "n": 3}]
    assert len(got) == 3
    assert got == want


def test_perplexity_buckets_spec_op_roundtrip(spark):
    rows = (
        [(i, "alpha beta gamma delta", "en", "src0", 22) for i in range(6)]
        + [(10 + i, "zeta eta theta iota", "en", "src1", 19)
           for i in range(6)]
        + [(20 + i, "alpha beta unknown words", "en", "src2", 24)
           for i in range(6)]
    )
    spec, got, want = _nl_roundtrip(
        spark,
        "Bucket documents by perplexity against the src0 slice",
        ["doc_id", "text", "lang", "source", "n_chars"],
        rows,
        "doc_id: long, text: string, lang: string, source: string, "
        "n_chars: long",
    )
    assert spec["ops"] == [
        {"op": "perplexity_buckets", "ref_source": "src0"}
    ]
    assert len(got) == 18
    assert got == want


def test_bpe_merges_and_ndcg_spec_bounds():
    import pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_op,
    )

    with pytest.raises(SpecError):
        validate_op({"op": "bpe_merges", "n": 21})
    with pytest.raises(SpecError):
        validate_op({"op": "ndcg", "k": 101, "n_queries": 8})


def test_common_direction_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Audit the common direction of the embeddings",
        columns=["vec_id", "embedding", "label"],
    )
    assert spec["ops"] == [{"op": "common_direction"}]
    # planted dominant direction in d=4 (the oracle dim parameterizes)
    rows = [(n, [0.5 + t * 0.5] * 4) for n, t in
            ((i, (i - 5.5) / 3.0) for i in range(12))]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    spec["ops"][0]["dim"] = 4
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert len(got) == 12


def test_unimax_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Allocate a budget of 30 tokens across sources with at most "
        "2 epochs",
        columns=["doc_id", "text", "source"],
    )
    assert spec["ops"] == [
        {"op": "unimax", "budget": 30, "key": "source", "epochs": 2}
    ]
    rows = []
    i = 0
    for src, n in [("a", 1), ("b", 2), ("c", 6), ("d", 6), ("e", 25)]:
        for _ in range(n):
            rows.append((i, "tok", src))
            i += 1
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert len(got) == 5


def test_bootstrap_mean_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Bootstrap a 95% confidence interval for the mean amount per "
        "segment keyed by row_id with 12 replicates",
        columns=["row_id", "segment", "amount"],
    )
    assert spec["ops"] == [
        {"op": "bootstrap_mean", "col": "amount", "key": "segment",
         "id": "row_id", "n": 12}
    ]
    rows = [(i, "ab"[i % 2], float(10 + (i * 7) % 23)) for i in range(60)]
    df = spark.createDataFrame(rows, ["row_id", "segment", "amount"])
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert len(got) == 2


def test_unimax_and_bootstrap_spec_bounds():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    def validate_op(op):
        validate_spec({"ops": [op]})

    with _pytest.raises(SpecError):
        validate_op({"op": "unimax", "budget": 0, "key": "source"})
    with _pytest.raises(SpecError):
        validate_op({"op": "unimax", "budget": 10, "key": "source",
                     "epochs": 0})
    with _pytest.raises(SpecError):
        validate_op({"op": "unimax", "budget": 10})
    with _pytest.raises(SpecError):
        validate_op({"op": "bootstrap_mean", "col": "v", "key": "k",
                     "id": "i", "n": 1})
    with _pytest.raises(SpecError):
        validate_op({"op": "bootstrap_mean", "col": "v", "key": "k"})


def test_anova_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Compute the anova of amount by segment",
        columns=["row_id", "segment", "amount"],
    )
    assert spec["ops"] == [
        {"op": "anova", "value": "amount", "group": "segment"}
    ]
    # the conversational surface form routes to the same op
    spec2 = parse_description(
        "Compare the mean amount across segment",
        columns=["row_id", "segment", "amount"],
    )
    assert spec2["ops"] == spec["ops"]
    rows = [(i, "abc"[i % 3], float(5 + (i * 11) % 17)) for i in range(45)]
    df = spark.createDataFrame(rows, ["row_id", "segment", "amount"])
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert len(got) == 1
    assert got[0][0] == 3  # k groups


def test_funnel_spec_op_roundtrip(spark):
    import datetime

    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Compute the funnel of kind steps open then pay per uid "
        "ordered by at",
        columns=["uid", "at", "kind"],
    )
    assert spec["ops"] == [
        {"op": "funnel", "type": "kind", "steps": ["open", "pay"],
         "user": "uid", "ts": "at"}
    ]
    t0 = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows = [
        (1, t0, "open"), (1, t0 + s, "pay"),      # converts
        (2, t0, "pay"), (2, t0 + s, "open"),      # pay BEFORE open: no
        (3, t0, "open"),                          # never pays
        (4, t0, "open"), (4, t0, "pay"),          # same ts: strict-after fails
    ]
    df = spark.createDataFrame(rows, ["uid", "at", "kind"])
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert [r[2] for r in got] == [4, 1]  # reached counts per step


def test_novelty_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Score each document's 2-gram novelty",
        columns=["doc_id", "text"],
    )
    assert spec["ops"] == [{"op": "novelty", "n": 2}]
    rows = [
        (1, "a b c"),        # all 2-grams new
        (2, "a b d"),        # 'a b' seen in doc 1
        (3, "x"),            # shorter than n: omitted
        (4, "a b a b"),      # distinct grams, all seen or new-here
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(tuple(r) for r in compile_spec(df, spec).collect())
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = sorted(tuple(r) for r in con.sql(spec_to_sql(spec, "t")).fetchall())
    assert got == want
    assert [r[0] for r in got] == [1, 2, 4]  # doc 3 omitted


def test_anova_funnel_novelty_spec_bounds():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    def validate_op(op):
        validate_spec({"ops": [op]})

    with _pytest.raises(SpecError):
        validate_op({"op": "anova", "value": "v", "group": "v"})
    with _pytest.raises(SpecError):
        validate_op({"op": "anova", "value": "v"})
    with _pytest.raises(SpecError):
        validate_op({"op": "funnel", "type": "t", "steps": ["a"],
                     "user": "u", "ts": "ts"})
    with _pytest.raises(SpecError):
        validate_op({"op": "funnel", "type": "t", "steps": ["a", "a"],
                     "user": "u", "ts": "ts"})
    with _pytest.raises(SpecError):
        validate_op({"op": "funnel", "type": "t", "steps": ["a", "b"],
                     "ts": "ts"})
    with _pytest.raises(SpecError):
        validate_op({"op": "novelty", "n": 0})
    with _pytest.raises(SpecError):
        validate_op({"op": "novelty", "n": 9})


def test_concentration_hapax_spec_op_roundtrip(spark):
    import duckdb

    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        spec_to_sql,
    )

    spec = parse_description(
        "Audit the source concentration of the token mass by origin",
        columns=["doc_id", "text", "origin"],
    )
    assert spec["ops"] == [{"op": "concentration", "key": "origin"}]
    spec_h = parse_description(
        "Compute the hapax ratio per origin",
        columns=["doc_id", "text", "origin"],
    )
    assert spec_h["ops"] == [{"op": "hapax", "key": "origin"}]
    rows = [
        (1, "a b c d", "x"), (2, "a a a", "x"),
        (3, "p q", "y"), (4, "p p q q r", "y"), (5, "s", "y"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "origin"])
    con = duckdb.connect()
    con.register("t", df.toPandas())
    for sp in (spec, spec_h):
        got = sorted(tuple(r) for r in compile_spec(df, sp).collect())
        want = sorted(
            tuple(r) for r in con.sql(spec_to_sql(sp, "t")).fetchall()
        )
        assert got == want
    # concentration: one report row; hapax: one row per group
    assert compile_spec(df, spec).count() == 1
    assert compile_spec(df, spec_h).count() == 2


def test_concentration_hapax_spec_bounds():
    import pytest as _pytest

    from agentic_workflow_for_data_transformation_spark.plans.spec import (
        SpecError,
        validate_spec,
    )

    for kind in ("concentration", "hapax"):
        with _pytest.raises(SpecError):
            validate_spec({"ops": [{"op": kind, "key": "text"}]})
        with _pytest.raises(SpecError):
            validate_spec({"ops": [{"op": kind, "key": 3}]})


# One example per op in plans.spec.OPS (table, fields), run through the
# validator, the compiler and the SQL renderer.
_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]
EXAMPLES = {
    "filter": ("orders", {"expr": {"gt": ["o_totalprice", 1000]}}),
    "select": ("orders", {"cols": ["o_orderkey", "o_totalprice"]}),
    "with_column": ("orders", {"name": "o_totalprice", "replace": True,
                               "expr": {"mul": ["o_totalprice", 2]}}),
    "rename": ("orders", {"renames": {"o_custkey": "cust"}}),
    "drop": ("orders", {"cols": ["o_orderpriority"]}),
    "sort": ("orders", {"keys": [{"col": "o_totalprice", "asc": False}]}),
    "limit": ("orders", {"n": 5}),
    "groupby_agg": ("orders", {"keys": ["o_orderstatus"], "having": {"gt": ["total", 0]},
                               "aggs": [{"fn": "sum", "col": "o_totalprice", "alias": "total"}]}),
    "join": ("customer", {"right": "nation_k", "on": ["c_nationkey"], "how": "right"}),
    "union": ("orders", {"right": "orders", "distinct": True}),
    "distinct": ("orders", {}),
    "dedup": ("documents", {"keys": ["source"], "keep_col": "doc_id", "keep": "max"}),
    "explode": ("documents", {"col": "text", "alias": "text"}),
    "sessionize": ("events", {"key": "user_id", "gap_seconds": 1800}),
    "window": ("events", {"partition_by": ["user_id"], "order_by": [{"col": "ts"}],
                          "exprs": [{"fn": "lag", "col": "value", "alias": "value",
                                     "offset": 2}]}),
    "sample": ("documents", {"fraction": 0.5, "key": "doc_id"}),
    "split_assign": ("documents", {"key": "doc_id", "weights": [1, 1],
                                   "labels": ["a", "b"], "alias": "source"}),
    "winsorize": ("events", {"col": "value", "keys": ["event_type"]}),
    "resample": ("events", {"key": "user_id", "step_hours": 6}),
    "chunk": ("documents", {"size": 8, "stride": 4}),
    "negatives": ("embeddings", {"k": 2, "pool": 8}),
    "pivot": ("orders", {"keys": ["o_custkey"], "col": "o_orderstatus",
                         "values": ["F", "O"], "agg": {"fn": "count", "col": "*"},
                         "aliases": ["n_f", "n_o"]}),
    "asof_join": ("events", {"right": "events", "on": "user_id", "right_cols": ["value"]}),
    "rollup": ("orders", {"keys": ["o_orderstatus"],
                          "aggs": [{"fn": "count", "col": "*", "alias": "n"}]}),
    "mode": ("orders", {"keys": ["o_custkey"], "col": "o_orderstatus"}),
    "ols": ("orders", {"key": "o_orderstatus", "x": "o_custkey", "y": "o_totalprice"}),
    "bm25": ("documents", {"terms": ["data"], "k": 3}),
    "ann_topk": ("embeddings", {"query_id": 1, "k": 3}),
    "langid": ("documents", {}),
    "token_counts": ("documents", {}),
    "quality_score": ("documents", {}),
    "gopher": ("documents", {}),
    "redact": ("documents", {}),
    "blocklist": ("documents", {"words": ["spark"]}),
    "kanon": ("events", {"cols": ["user_id", "event_type"], "k": 2}),
    "majority": ("events", {"key": "user_id", "label": "event_type"}),
    "agreement": ("events", {"key": "user_id", "label": "event_type"}),
    "correlate": ("events", {"cols": ["value", "user_id"]}),
    "spearman": ("events", {"cols": ["value", "user_id"]}),
    "mutual_info": ("documents", {"a": "lang", "b": "source"}),
    "anova": ("events", {"value": "value", "group": "event_type"}),
    "funnel": ("events", {"type": "event_type", "steps": ["view", "click"],
                          "user": "user_id", "ts": "ts"}),
    "novelty": ("documents", {}),
    "concentration": ("documents", {}),
    "hapax": ("documents", {}),
    "ndcg": ("embeddings", {"k": 3, "n_queries": 2}),
    "silhouette": ("embeddings", {}),
    "common_direction": ("embeddings", {"n_iter": 2}),
    "unimax": ("documents", {"budget": 1000, "key": "source"}),
    "bootstrap_mean": ("events", {"col": "value", "key": "event_type", "id": "event_id",
                                  "n": 4}),
    "bpe_merges": ("documents", {"n": 2}),
    "perplexity_buckets": ("documents", {}),
    "anomaly": ("events", {"col": "value", "key": "user_id", "order_col": "event_id",
                           "n": 5}),
    "word_entropy": ("documents", {}),
    "oov": ("documents", {"key": "source"}),
    "dsir": ("documents", {"target_col": "lang", "target_val": "en"}),
    "fertility": ("documents", {"key": "lang"}),
    "dup_by_source": ("documents", {"key": "source"}),
    "winnow_dedup": ("documents", {"overlap": 0.5}),
    "dedup_savings": ("documents", {"key": "source"}),
    "vocab_divergence": ("documents", {"key": "source"}),
    "expect": ("documents", {"expectations": [{"kind": "unique", "col": "doc_id"}]}),
    "neardup": ("documents", {"threshold": 0.8}),
    "merge": ("orders", {"right": "orders", "key": "o_orderkey", "cols": _ORDERS_COLS}),
    "decontaminate": ("documents", {"right": "documents"}),
    "pack": ("documents", {"budget": 64}),
}


@pytest.fixture(scope="module")
def example_tables(spark, sf_dir):
    from agentic_workflow_for_data_transformation_spark.sources import (
        read_events,
        read_parquet_table,
    )

    names = ["customer", "documents", "embeddings", "nation", "orders"]
    tables = {n: read_parquet_table(spark, sf_dir, n) for n in names}
    tables["events"] = read_events(spark, sf_dir)
    tables["nation_k"] = tables["nation"].withColumnRenamed("n_nationkey", "c_nationkey")
    return tables


def _attr_ids(df) -> dict:
    out = df._jdf.queryExecution().analyzed().output()
    attrs = [out.apply(i) for i in range(out.size())]
    return {a.name(): a.exprId().id() for a in attrs}


@pytest.mark.parametrize("kind", sorted(set(EXAMPLES) | set(OPS)))
def test_op_table_entry_is_what_the_engine_does(example_tables, kind):
    """Drift guard over plans.spec.OPS: each op's example validates,
    compiles and renders SQL (sessionize has no SQL rendering), and
    the declared schema effect covers every input column the compiled
    plan rewrites or drops, as seen in the analyzed plan's output
    attribute ids: "keeps" allows none, "writes" only its columns, and
    "only" keeps each of its columns as it was."""
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import (
        SqlGenError,
        spec_to_sql,
    )

    table, fields = EXAMPLES[kind]
    op = {"op": kind, **fields}
    spec = validate_spec({"ops": [op]})
    df = example_tables[table]
    out = compile_spec(df, spec, tables=example_tables)
    try:
        assert spec_to_sql(spec, table).startswith(("SELECT", "WITH"))
    except SqlGenError:
        assert kind == "sessionize"
    word, cols = schema_effect(op)
    if word == "replaces":
        return
    before, after = _attr_ids(df), _attr_ids(out)
    if word == "only":
        assert {c: after.get(c) for c in cols} == {c: before[c] for c in cols}
    else:
        moved = {c for c, i in before.items() if after.get(c) != i}
        assert moved <= cols, f"{kind} rewrites or drops {sorted(moved - cols)}"
