"""Tests for the agentic orchestration layer: planner/executor/critic,
retry loop, LLM fallback path (with a fake LLM), and the eval harness."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from agentic_workflow_for_data_transformation_spark.agents import (
    critic_agent,
    execution_agent,
    planner_agent,
    run_eval,
    run_transform,
)
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


def test_run_transform_empty_input(spark, people, tmp_path):
    """An empty input frame gives a valid zero-row result in a
    header-only file (a filter matching no row: the test above)."""
    empty = spark.createDataFrame([], people.schema)
    st = run_transform(spark, empty, "Filter rows where age > 100", out_dir=tmp_path)
    assert st.valid and st.row_count == 0, st.messages
    assert open(st.output_path).read() == "name,age,city\n"


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
    _, result, observation = execution_agent(people, spec, "age over 30", tmp_path)
    bad = tmp_path / "bad.csv"
    bad.write_text("name,age,city\nAlice,25,New York\n")  # violates age > 30
    ok, reason, _ = critic_agent(spark, result, observation, spec, str(bad))
    assert not ok
    assert "mismatch" in reason or "violate" in reason


# Two checkable predicates over six rows that hold a NULL age and a
# NULL city; a compiler that drops every filter passes them through.
FIRST = {"gt": ["age", 30]}
SECOND = {"ne": ["city", {"lit": "Seattle"}]}
TWO_FILTERS = {"ops": [{"op": "filter", "expr": FIRST},
                       {"op": "filter", "expr": SECOND}]}
SIX_ROWS = [("Bob", 35, "Los Angeles"), ("Charlie", 32, "Chicago"),
            ("Diana", 45, "Seattle"), ("Fiona", 41, None),
            ("George", None, "Denver"), ("Jasmine", 31, "Portland")]


def _violating_run(spark, monkeypatch, tmp_path):
    """execution_agent over SIX_ROWS with a compiler that ignores the
    spec, so the frame the sink writes really breaks SECOND."""
    from agentic_workflow_for_data_transformation_spark.agents import orchestrator

    monkeypatch.setattr(orchestrator, "compile_spec", lambda df, spec, tables: df)
    six = spark.createDataFrame(SIX_ROWS, "name string, age bigint, city string")
    return execution_agent(six, TWO_FILTERS, "two filters", tmp_path)


def test_critic_reports_violated_predicate(spark, tmp_path, monkeypatch):
    """A result with the right columns and row count that breaks only
    the SECOND of two checkable predicates is rejected naming that
    predicate; a NULL in a predicate column is not a violation (NULL
    age passes age > 30, NULL city passes city != 'Seattle')."""
    path, result, observation = _violating_run(spark, monkeypatch, tmp_path)
    ok, reason, n = critic_agent(spark, result, observation, TWO_FILTERS, path)
    assert not ok and n == 6
    assert reason == f"1 rows violate predicate {SECOND}"


def test_transform_job_count(spark, people, tmp_path):
    """One deterministic transform runs one Spark job: the sink's
    bounded collect, which also carries the critic's row count and
    predicate violation counts as observed metrics; the critic reads
    the written file with the csv module."""
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
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_directory_sink_gives_the_single_file_verdicts(spark, people, tmp_path,
                                                      monkeypatch):
    """Past ``small_threshold`` rows the sink writes a directory and the
    observation is partial (the bounded collect stopped early); the
    critic's numbers then come from one aggregate over the result, with
    the same verdicts and row counts as the single-file sink."""
    import functools

    from agentic_workflow_for_data_transformation_spark.agents import orchestrator
    from agentic_workflow_for_data_transformation_spark.cli import EVAL_DESCRIPTIONS

    descriptions = EVAL_DESCRIPTIONS[:5] + EVAL_DESCRIPTIONS[9:12]
    single = [run_transform(spark, people, d, out_dir=tmp_path / "file")
              for d in descriptions]
    monkeypatch.setattr(orchestrator, "write_csv_single", functools.partial(
        orchestrator.write_csv_single, small_threshold=3))
    split = [run_transform(spark, people, d, out_dir=tmp_path / "dir")
             for d in descriptions]
    assert any(Path(st.output_path).is_dir() for st in split)
    assert [(st.valid, st.row_count) for st in split] == [
        (st.valid, st.row_count) for st in single]
    assert all(st.valid for st in split), [st.messages for st in split]


def test_directory_sink_still_rejects_a_violation(spark, tmp_path, monkeypatch):
    import functools

    from agentic_workflow_for_data_transformation_spark.agents import orchestrator

    monkeypatch.setattr(orchestrator, "write_csv_single", functools.partial(
        orchestrator.write_csv_single, small_threshold=3))
    path, result, observation = _violating_run(spark, monkeypatch, tmp_path)
    assert Path(path).is_dir()
    assert critic_agent(spark, result, observation, TWO_FILTERS, path) == (
        False, f"1 rows violate predicate {SECOND}", 6)


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
    path, result, observation = execution_agent(people, spec, "age over 30", tmp_path)
    ok, reason, _ = critic_agent(spark, result, observation, spec, path, llm=naysayer)
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


def test_cli_sql_runs_the_query_once(spark, people, tmp_path, capsys):
    """--sql prints rows= counted off the written file, so the query
    runs once, in the sink: one job for a scan-and-filter, on top of
    the jobs that registering the input view takes (the jobs of the
    same command with --explain, which executes nothing)."""
    from agentic_workflow_for_data_transformation_spark import cli

    csv_in = tmp_path / "people.csv"
    people.toPandas().to_csv(csv_in, index=False)
    sc = spark.sparkContext

    def jobs(group: str, *extra: str) -> int:
        sc.setJobGroup(group, group)
        try:
            rc = cli.main(["--sql", "SELECT name, age FROM t WHERE age > 30",
                           "--input-csv", str(csv_in), "--out-dir", str(tmp_path),
                           *extra])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rc == 0
        return len(sc.statusTracker().getJobIdsForGroup(group))

    registering = jobs("cli_sql_explain", "--explain")
    capsys.readouterr()
    assert jobs("cli_sql_run") == registering + 1
    assert capsys.readouterr().out.splitlines()[0] == "rows=7"


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
    df = spark.createDataFrame([("ax by",), ("cz",)], "text string")
    spec = {"ops": [
        {"op": "filter", "expr": {"contains": ["text", "x"]}},
        {"op": "explode", "col": "text", "alias": "text"},
    ]}
    path, result, observation = execution_agent(df, spec, "tokens of x rows", tmp_path)
    assert critic_agent(spark, result, observation, spec, path) == (True, "ok", 2)
