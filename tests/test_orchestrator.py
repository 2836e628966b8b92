"""Tests for the agentic orchestration layer: planner/executor/critic,
retry loop, LLM fallback path (with a fake LLM), and the eval harness."""

from __future__ import annotations

import json

import pytest

from agentic_workflow_for_data_transformation_spark.agents import (
    critic_agent,
    planner_agent,
    run_eval,
    run_transform,
)
from agentic_workflow_for_data_transformation_spark.plans import compile_spec
from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError


def test_run_transform_deterministic(spark, people, tmp_path):
    st = run_transform(
        spark, people, "Filter rows where age > 30 and select columns name and age.",
        out_dir=tmp_path,
    )
    assert st.valid and st.row_count == 7 and st.attempts == 1
    header = open(st.output_path).readline().strip()
    assert header == "name,age"


def test_run_transform_empty_result(spark, people, tmp_path):
    st = run_transform(spark, people, "Filter rows where age > 100", out_dir=tmp_path)
    assert st.valid and st.row_count == 0
    assert open(st.output_path).read().strip() == "name,age,city"


def test_planner_llm_fallback(spark, people):
    spec_json = json.dumps(
        {"ops": [{"op": "filter", "expr": {"gt": ["age", 40]}}]}
    )
    calls = []

    def fake_llm(prompt: str) -> str:
        calls.append(prompt)
        return f"```json\n{spec_json}\n```"

    spec = planner_agent("keep only the elderly people", columns=people.columns, llm=fake_llm)
    assert spec["ops"][0]["expr"] == {"gt": ["age", 40]}
    assert len(calls) == 1 and "keep only the elderly" in calls[0]


def test_planner_offline_raises_outside_grammar(people):
    with pytest.raises(ParseError):
        planner_agent("summon a dashboard", columns=people.columns)


def test_critic_catches_wrong_output(spark, people, tmp_path):
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Filter rows where age > 30")
    bad = tmp_path / "bad.csv"
    bad.write_text("name,age,city\nAlice,25,New York\n")  # violates age > 30
    ok, reason, _ = critic_agent(spark, compile_spec(people, spec), spec, str(bad))
    assert not ok
    assert "mismatch" in reason or "violate" in reason


def test_critic_reports_violated_predicate(spark, people, tmp_path):
    """A file with the right columns and row count that breaks only
    the SECOND of two checkable predicates is rejected naming that
    predicate; a NULL in a predicate column is not a violation (NULL
    age passes age > 30, NULL city passes city != 'Seattle')."""
    first = {"gt": ["age", 30]}
    second = {"ne": ["city", {"lit": "Seattle"}]}
    spec = {"ops": [{"op": "filter", "expr": first},
                    {"op": "filter", "expr": second}]}
    bad = tmp_path / "bad.csv"
    bad.write_text(  # 6 rows, as recomputed from people
        "name,age,city\n"
        "Bob,35,Los Angeles\n"
        "Charlie,32,Chicago\n"
        "Diana,45,Seattle\n"
        "Fiona,41,\n"
        "George,,Denver\n"
        "Jasmine,31,Portland\n"
    )
    ok, reason, n = critic_agent(spark, compile_spec(people, spec), spec, str(bad))
    assert not ok and n == 6
    assert reason == f"1 rows violate predicate {second}"


def test_transform_job_count(spark, people, tmp_path):
    """One deterministic transform runs a fixed number of Spark jobs:
    the sink collects the result once (bounded), the critic recounts
    the executor's frame and reads the written file with one aggregate
    for its row count and every predicate."""
    sc = spark.sparkContext
    group = "test_transform_job_count"
    sc.setJobGroup(group, group)
    try:
        st = run_transform(
            spark, people,
            "Filter rows where age > 30 and select columns name and age.",
            out_dir=tmp_path,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert st.valid and st.row_count == 7
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7


def test_filter_then_union_passes_the_critic(spark, people, tmp_path):
    """Rows appended by a union are not re-checked against a filter
    that ran before it (the right side's age-20 row is correct)."""
    others = spark.createDataFrame([("Zoe", 20, "Reno")], people.schema)
    st = run_transform(
        spark, people,
        "Filter rows where age > 30 and append rows from others.",
        out_dir=tmp_path, tables={"others": others},
    )
    assert st.valid and st.attempts == 1 and st.row_count == 8, st.messages


def test_case_filter_then_drop_passes_the_critic(spark, people, tmp_path):
    """An LLM spec filtering on a CASE over age and then dropping age
    is valid: the critic must not re-check that filter on the output
    (which has no age column) and send the loop to the escape hatch."""
    spec = {"ops": [
        {"op": "filter", "expr": {"eq": [
            {"case": {"when": [[{"gt": ["age", 40]}, {"lit": "old"}]],
                      "else": {"lit": "young"}}},
            {"lit": "old"}]}},
        {"op": "drop", "cols": ["age"]},
    ]}

    def llm(prompt: str) -> str:
        return "YES" if prompt.startswith("You will judge") else json.dumps(spec)

    st = run_transform(spark, people, "keep the elders, then forget their ages",
                       out_dir=tmp_path, llm=llm)
    assert st.valid and st.attempts == 1 and st.code is None, st.messages
    assert st.row_count == 3


def test_offline_critic_rejection_ends_the_loop(spark, people, tmp_path,
                                                 monkeypatch):
    """With no LLM the planner is deterministic: a critic rejection is
    final and reported, not retried with a description the grammar
    cannot parse."""
    from agentic_workflow_for_data_transformation_spark.agents import orchestrator

    monkeypatch.setattr(orchestrator, "critic_agent",
                        lambda *a, **k: (False, "rejected on purpose", 0))
    st = run_transform(spark, people, "Filter rows where age > 30",
                       out_dir=tmp_path)
    assert st.valid is False and st.attempts == 1
    assert st.messages == ["attempt 1: rejected on purpose"]


def test_llm_critic_can_veto_but_not_override(spark, people, tmp_path):
    naysayer = lambda prompt: "NO\nbecause I said so"  # noqa: E731
    st = run_transform(
        spark, people, "Filter rows where age > 30", out_dir=tmp_path,
        llm=None, max_retries=0,
    )
    assert st.valid  # deterministic path unaffected by any LLM
    from agentic_workflow_for_data_transformation_spark.plans import parse_description

    spec = parse_description("Filter rows where age > 30")
    ok, reason, _ = critic_agent(spark, compile_spec(people, spec), spec,
                                 st.output_path, llm=naysayer)
    assert not ok and "llm critic rejected" in reason


def test_run_eval_full_corpus(spark, people, tmp_path):
    from agentic_workflow_for_data_transformation_spark.cli import EVAL_DESCRIPTIONS

    results = run_eval(spark, people, EVAL_DESCRIPTIONS, out_dir=tmp_path)
    assert len(results) == 20
    assert all(r["pass"] for r in results), [r for r in results if not r["pass"]]
    assert (tmp_path / "eval_results.csv").exists()


def test_cli_sql_escape_hatch(spark, tmp_path, capsys):
    """--sql bypasses the NL pipeline: testdata tables register as
    views, the result lands in the CSV sink."""
    from agentic_workflow_for_data_transformation_spark import cli

    rc = cli.main([
        "--sql",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
        "--sf-dir", "/root/testdata/sf0.001",
        "--out-dir", str(tmp_path),
    ])
    assert rc == 0
    lines = (tmp_path / "sql_result.csv").read_text().strip().splitlines()
    assert lines[0] == "l_returnflag,n"
    assert len(lines) == 4  # header + A/N/R


def test_get_spark_leaves_a_running_session_alone(spark):
    """cli.main calls get_spark(app_name="cli") inside a running
    session; that must not re-tune it (the test session runs 4 shuffle
    partitions, the factory default is 32)."""
    from agentic_workflow_for_data_transformation_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    again = get_spark(app_name="cli")
    assert again.sparkContext is spark.sparkContext
    assert spark.conf.get("spark.sql.shuffle.partitions") == before == "4"


def test_cli_sql_requires_a_source(tmp_path, capsys):
    from agentic_workflow_for_data_transformation_spark import cli

    rc = cli.main(["--sql", "SELECT 1", "--out-dir", str(tmp_path)])
    assert rc == 2


def test_cli_sql_explain(spark, tmp_path, capsys):
    """--explain prints the formatted physical plan without executing."""
    from agentic_workflow_for_data_transformation_spark import cli

    rc = cli.main([
        "--sql", "SELECT count(*) AS n FROM region",
        "--sf-dir", "/root/testdata/sf0.001",
        "--explain", "--out-dir", str(tmp_path),
    ])
    assert rc == 0
    plan = capsys.readouterr().out
    assert "Physical Plan" in plan and "HashAggregate" in plan
    assert not (tmp_path / "sql_result.csv").exists()  # no execution


def test_filter_exprs_invalidated_by_schema_replacing_ops():
    """A filter BEFORE a schema-replacing op (pack/pivot/...) must not
    be re-applied to the replaced output schema; a filter AFTER it
    must; with_column overwriting a filtered column invalidates that
    filter (live-LLM finding, round 8), and so does redact, which
    rewrites its text column in place, and union, whose appended rows
    no earlier filter saw. So do explode, window and split_assign
    writing their alias over a filtered column, a right join (its key
    comes from the right side), sessionize (only its key survives) and
    a rename of the filtered column (the filter would need rewriting).
    A filter's columns are the ones its expression references: inside
    a CASE (not the 'when'/'else' keys), a json_get (not the field
    name) or a trunc (not the unit)."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        _filter_exprs_on_output,
    )

    pre = {"gt": ["n_chars", 100]}
    post = {"gt": ["seq_tokens", 0]}
    spec = {"ops": [
        {"op": "filter", "expr": pre},
        {"op": "pack", "budget": 512},
        {"op": "filter", "expr": post},
    ]}
    assert _filter_exprs_on_output(spec) == [post]

    spec = {"ops": [
        {"op": "filter", "expr": {"gt": ["age", 30]}},
        {"op": "with_column", "name": "age", "expr": {"lit": 0},
         "replace": True},
    ]}
    assert _filter_exprs_on_output(spec) == []

    spec = {"ops": [
        {"op": "filter", "expr": {"contains": ["text", "@"]}},
        {"op": "redact"},
    ]}
    assert _filter_exprs_on_output(spec) == []

    spec = {"ops": [
        {"op": "filter", "expr": {"gt": ["age", 30]}},
        {"op": "union", "right": "others"},
    ]}
    assert _filter_exprs_on_output(spec) == []

    old = {"case": {"when": [[{"gt": ["age", 40]}, {"lit": "old"}]],
                    "else": {"lit": "young"}}}
    spec = {"ops": [
        {"op": "filter", "expr": {"eq": [old, {"lit": "old"}]}},
        {"op": "drop", "cols": ["age"]},
    ]}
    assert _filter_exprs_on_output(spec) == []

    spec = {"ops": [
        {"op": "filter", "expr": {"eq": [old, {"lit": "old"}]}},
        {"op": "with_column", "name": "age", "expr": {"lit": 0},
         "replace": True},
    ]}
    assert _filter_exprs_on_output(spec) == []

    by_props = {"eq": [{"json_get": ["props", "k"]}, {"lit": "x"}]}
    spec = {"ops": [
        {"op": "filter", "expr": by_props},
        {"op": "select", "cols": ["props"]},
    ]}
    assert _filter_exprs_on_output(spec) == [by_props]

    by_day = {"eq": [{"trunc": ["day", "ts"]}, {"lit": "2024-01-01"}]}
    spec = {"ops": [
        {"op": "filter", "expr": by_day},
        {"op": "select", "cols": ["ts"]},
    ]}
    assert _filter_exprs_on_output(spec) == [by_day]

    # a groupby keeps key-only filters checkable (regression guard)
    spec = {"ops": [
        {"op": "filter", "expr": {"eq": ["city", {"lit": "x"}]}},
        {"op": "groupby_agg", "keys": ["city"],
         "aggs": [{"fn": "count", "col": "*", "alias": "n"}]},
    ]}
    assert len(_filter_exprs_on_output(spec)) == 1

    for writer in (
        {"op": "explode", "col": "text", "alias": "text"},
        {"op": "window", "order_by": [{"col": "age"}],
         "exprs": [{"fn": "rank", "alias": "age"}]},
        {"op": "split_assign", "key": "name", "weights": [1, 1],
         "labels": ["a", "b"], "alias": "city"},
        {"op": "join", "right": "others", "on": ["age"], "how": "right"},
        {"op": "sessionize", "key": "user_id", "gap_seconds": 1800},
        {"op": "rename", "renames": {"age": "years"}},
    ):
        col = {"explode": "text", "split_assign": "city",
               "sessionize": "event_type"}.get(writer["op"], "age")
        spec = {"ops": [{"op": "filter", "expr": {"gt": [col, 30]}}, writer]}
        assert _filter_exprs_on_output(spec) == [], writer

    # sessionize keeps its key column, values intact
    by_user = {"gt": ["user_id", 3]}
    spec = {"ops": [{"op": "filter", "expr": by_user},
                    {"op": "sessionize", "key": "user_id", "gap_seconds": 1800}]}
    assert _filter_exprs_on_output(spec) == [by_user]


def test_filter_then_explode_passes_the_critic(spark, tmp_path):
    """explode writing its tokens over the filtered text column: the
    filter held on the input rows, not on the tokens, so the critic
    must not re-check it on the output."""
    from agentic_workflow_for_data_transformation_spark.agents import execution_agent

    df = spark.createDataFrame([("ax by",), ("cz",)], "text string")
    spec = {"ops": [
        {"op": "filter", "expr": {"contains": ["text", "x"]}},
        {"op": "explode", "col": "text", "alias": "text"},
    ]}
    path, result = execution_agent(df, spec, "tokens of x rows", tmp_path)
    assert critic_agent(spark, result, spec, path) == (True, "ok", 2)
