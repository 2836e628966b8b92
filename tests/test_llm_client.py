"""Optional live-LLM binding (agents/llm.py). Offline behavior is
always tested; the live integration tests replay the committed
cassette, and reach a real endpoint only when recording (VERDICT r1
#8)."""

from __future__ import annotations

import json
import os

import pytest

from agentic_workflow_for_data_transformation_spark.agents.llm import (
    client_from_env,
    openai_chat_client,
)


def test_client_from_env_is_none_without_key(monkeypatch):
    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    monkeypatch.delenv("ANTHROPIC_API_KEY", raising=False)
    assert client_from_env() is None


def test_client_from_env_prefers_openai_then_anthropic(monkeypatch):
    """Binding choice: OpenAI-compatible when its key is set (the
    reference's stack), else the Anthropic Messages binding."""
    monkeypatch.setenv("OPENAI_API_KEY", "k1")
    monkeypatch.setenv("ANTHROPIC_API_KEY", "k2")
    assert client_from_env() is not None  # openai branch constructs
    monkeypatch.delenv("OPENAI_API_KEY")
    assert client_from_env() is not None  # anthropic branch constructs


def test_anthropic_client_request_shape(monkeypatch):
    """The Anthropic binding posts the public Messages API shape
    (v1/messages, x-api-key + anthropic-version headers) and joins
    text blocks from the response."""
    import json as _json

    from agentic_workflow_for_data_transformation_spark.agents.llm import anthropic_chat_client

    captured = {}

    class _Resp:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        @staticmethod
        def read():
            return _json.dumps(
                {"content": [{"type": "text", "text": "hi"},
                             {"type": "tool_use"},
                             {"type": "text", "text": " there"}]}
            ).encode()

    def fake_urlopen(req, timeout):
        captured["url"] = req.full_url
        captured["headers"] = dict(req.header_items())
        captured["body"] = _json.loads(req.data)
        import io
        return _Resp()

    monkeypatch.setattr(
        "urllib.request.urlopen", fake_urlopen
    )
    c = anthropic_chat_client(api_key="k", base_url="https://x.example",
                              model="m")
    out = c("prompt!")
    assert out == "hi there"
    assert captured["url"] == "https://x.example/v1/messages"
    assert captured["headers"].get("X-api-key") == "k"
    assert any(k.lower() == "anthropic-version" for k in captured["headers"])
    assert captured["body"]["messages"] == [{"role": "user", "content": "prompt!"}]
    assert captured["body"]["temperature"] == 0.0


def test_client_requires_key(monkeypatch):
    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(RuntimeError, match="OPENAI_API_KEY"):
        openai_chat_client()


def test_client_request_shape(monkeypatch):
    """The request the client would send: OpenAI-compatible
    chat-completions payload, temperature 0, bearer auth — verified by
    intercepting urlopen (no network)."""
    captured = {}

    class _Resp:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def read(self):
            return json.dumps(
                {"choices": [{"message": {"content": "pong"}}]}
            ).encode()

    def fake_urlopen(req, timeout=None):
        captured["url"] = req.full_url
        captured["auth"] = req.get_header("Authorization")
        captured["payload"] = json.loads(req.data)
        return _Resp()

    import agentic_workflow_for_data_transformation_spark.agents.llm as llm_mod

    monkeypatch.setattr(llm_mod.urllib.request, "urlopen", fake_urlopen)
    client = openai_chat_client(api_key="k", base_url="https://example.test/v1")
    assert client("ping") == "pong"
    assert captured["url"] == "https://example.test/v1/chat/completions"
    assert captured["auth"] == "Bearer k"
    assert captured["payload"]["temperature"] == 0.0
    assert captured["payload"]["messages"] == [{"role": "user", "content": "ping"}]


# --- live-or-cassette client (VERDICT r8 ask #7) ---------------------------
# The live paraphrase roundtrips below are the regression net for the
# seven critic-framing fixes, but a live run needs a key. Recording:
# run the live suite once with SPARK_GRAFT_LLM_RECORD=1 and a key set —
# every (prompt, response) pair lands in tests/cassettes/live_llm.json
# keyed by the prompt's sha256 (prompts are deterministic: temperature
# 0, fixed fixtures). Replay is the default: with or without a key in
# the environment the same tests run against the recorded responses. A
# replay MISS fails with the key and the prompt head: a miss means a
# prompt byte moved since recording, which a skip would hide. Only the
# known misses below skip.

_CASSETTE_PATH = os.path.join(
    os.path.dirname(__file__), "cassettes", "live_llm.json"
)


def _prompt_key(prompt: str) -> str:
    import hashlib

    return hashlib.sha256(prompt.encode()).hexdigest()[:32]


class _RecordingClient:
    def __init__(self, inner):
        self._inner = inner
        try:
            with open(_CASSETTE_PATH) as f:
                self._tape = json.load(f)
        except (OSError, ValueError):
            self._tape = {}

    def __call__(self, prompt: str) -> str:
        out = self._inner(prompt)
        self._tape[_prompt_key(prompt)] = {
            "prompt_head": prompt[:120],
            "response": out,
        }
        os.makedirs(os.path.dirname(_CASSETTE_PATH), exist_ok=True)
        with open(_CASSETTE_PATH, "w") as f:
            json.dump(self._tape, f, indent=1, sort_keys=True)
        return out


# prompt key -> why its response was never recorded
_KNOWN_MISSES = {
    "a74f1519cac6685c01fd465cfb6ef920": (
        "test_live_common_direction_spec_roundtrip's critic prompt was "
        "never recorded; re-recording needs a live endpoint"
    ),
}


class _ReplayClient:
    def __init__(self):
        with open(_CASSETTE_PATH) as f:
            self._tape = json.load(f)

    def __call__(self, prompt: str) -> str:
        key = _prompt_key(prompt)
        hit = self._tape.get(key)
        if hit is None:
            if key in _KNOWN_MISSES:
                pytest.skip(f"known cassette miss {key}: {_KNOWN_MISSES[key]}")
            pytest.fail(
                "cassette miss (a prompt drifted since recording; re-run "
                f"with SPARK_GRAFT_LLM_RECORD=1 and a key): {key} "
                f"{prompt[:80]!r}"
            )
        return hit["response"]


def live_or_replay_llm():
    """Replay the cassette by default; reach the live endpoint only
    when recording (SPARK_GRAFT_LLM_RECORD set, with a key), so a key
    in the environment never turns the suite into live calls."""
    live = client_from_env()
    if live is not None and os.environ.get("SPARK_GRAFT_LLM_RECORD"):
        return _RecordingClient(live)
    if os.path.exists(_CASSETTE_PATH):
        return _ReplayClient()
    return None


needs_live_llm = pytest.mark.skipif(
    live_or_replay_llm() is None,
    reason="live LLM integration: commit tests/cassettes/live_llm.json "
    "for replay, or record it with SPARK_GRAFT_LLM_RECORD=1 and a key",
)


@needs_live_llm
def test_live_planner_fallback_roundtrip(spark, people, tmp_path):
    """Full orchestrator loop against a real model: a description the
    grammar can't parse must come back valid via the LLM spec (or
    escape-hatch) path."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import run_transform

    st = run_transform(
        spark, people,
        "Please keep only the folks older than forty, just their names.",
        out_dir=tmp_path, llm=live_or_replay_llm(),
    )
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    assert {r[0] for r in out.collect()} <= {"Diana", "Fiona", "Ian"}


@needs_live_llm
def test_live_planner_spec_roundtrip(spark, people, tmp_path):
    """End-to-end against a real endpoint (VERDICT r2 #5): a description
    the grammar cannot parse goes NL -> LLM -> spec JSON -> validated ->
    compiled -> executed, and the result obeys the described filter."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        planner_agent,
    )
    from agentic_workflow_for_data_transformation_spark.plans import compile_spec

    llm = live_or_replay_llm()
    assert llm is not None
    # phrasing chosen to defeat the grammar so the LLM path must run
    spec = planner_agent(
        "Could you please only keep the folks older than thirty and just "
        "show me what they're called plus their age?",
        columns=["name", "age", "city"],
        llm=llm,
    )
    out = compile_spec(people, spec)
    rows = out.collect()
    assert 0 < len(rows) < 10
    if "age" in out.columns:
        assert all(r["age"] > 30 for r in rows)


@needs_live_llm
def test_live_escape_hatch_roundtrip(spark, people, tmp_path):
    """The sandboxed mapInPandas escape hatch driven by a real model:
    LLM emits code+schema JSON, the AST sandbox validates it, and the
    snippet runs per Arrow batch to a CSV sink."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        escape_hatch_agent,
    )

    llm = live_or_replay_llm()
    code, schema, path, result = escape_hatch_agent(
        people,
        "Keep rows where age is above 30 and output name and age.",
        llm,
        str(tmp_path),
    )
    assert 0 < result.count() < 10
    assert os.path.exists(path)


@needs_live_llm
def test_live_corpus_op_spec_roundtrip(spark, tmp_path):
    """A corpus-domain paraphrase against a real model (round-8
    corpus live eval, LLM_EVAL.md): grammar rejects it, the LLM must
    emit a split_assign/select spec, and the result matches the
    canonical-phrasing golden row for row."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = (
        "Split into 90/5/5 train/val/test by doc_id and "
        "select doc_id, lang, split"
    )
    para = "Hash each doc_id into train, val or test at 90/5/5 and show doc_id, lang and split."
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        (r["doc_id"], r["lang"], r["split"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path, llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {(int(r["doc_id"]), r["lang"], r["split"]) for r in out.collect()}
    assert got == golden


@needs_live_llm
def test_live_dup_audit_spec_roundtrip(spark, tmp_path):
    """The per-source duplication-audit paraphrase against a real
    model: grammar rejects the wording, the LLM must emit the
    schema-replacing dup_by_source spec, and the result matches the
    canonical-phrasing golden rows."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Audit 5-gram duplication per source"
    para = (
        "Which dump is polluting the corpus? For every source report "
        "how much of its 5-gram text is duplicated or shared with "
        "other sources."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        (
            r["source"], r["n_docs"], r["n_distinct_grams"], r["n_gram_occ"],
            round(r["dup_gram_ratio"], 6), round(r["cross_source_ratio"], 6),
        )
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path, llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        (
            r["source"], int(r["n_docs"]), int(r["n_distinct_grams"]),
            int(r["n_gram_occ"]), round(float(r["dup_gram_ratio"]), 6),
            round(float(r["cross_source_ratio"]), 6),
        )
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_blocklist_spec_roundtrip(spark, tmp_path):
    """The C4-blocklist paraphrase against a real model: grammar
    rejects the wording, the LLM must emit a blocklist spec, and the
    surviving rows match the canonical-phrasing golden set."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = (
        "Remove documents containing the words 'spark', 'merge' "
        "and select doc_id, lang"
    )
    para = (
        "Please scrub the corpus of anything that mentions spark or "
        "merge as a word, and just give me doc_id and lang for what "
        "survives."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        (r["doc_id"], r["lang"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path, llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {(int(r["doc_id"]), r["lang"]) for r in out.collect()}
    assert got == golden


@needs_live_llm
def test_live_kanonymity_spec_roundtrip(spark, tmp_path):
    """The k-anonymity paraphrase against a real model: the LLM must
    emit the schema-replacing kanon spec and the one-row report must
    match the canonical-phrasing golden row."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = "Check k-anonymity of user_id and event_type at 5"
    para = (
        "Privacy review: treating the user and event-type pair as the "
        "quasi-identifier, give me a one-row anonymity audit at "
        "threshold 5 — total groups, groups below the threshold, and "
        "the rows those small groups expose."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=events.columns)
    (g,) = compile_spec(
        events, parse_description(canon, columns=events.columns)
    ).collect()
    st = run_transform(spark, events, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    (r,) = out.collect()
    assert int(r["n_groups"]) == g["n_groups"]
    assert int(r["n_violating_groups"]) == g["n_violating_groups"]
    assert int(r["n_rows_at_risk"]) == g["n_rows_at_risk"]


@needs_live_llm
def test_live_word_entropy_spec_roundtrip(spark, tmp_path):
    """The word-entropy paraphrase against a real model: the LLM must
    emit the schema-replacing word_entropy spec; per-doc entropy rows
    must match the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Compute the word entropy of each document"
    para = (
        "How repetitive is each doc? Give me the Shannon entropy of "
        "its word distribution, per document."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        (r["doc_id"], round(r["entropy"], 6), round(r["evenness"], 6))
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        (int(r["doc_id"]), round(float(r["entropy"]), 6),
         round(float(r["evenness"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_oov_spec_roundtrip(spark, tmp_path):
    """The OOV-audit paraphrase against a real model: the LLM must
    emit the schema-replacing oov spec; per-source coverage rows must
    match the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = (
        "Report the out-of-vocabulary rate per source against the "
        "top 100 words"
    )
    para = (
        "If our tokenizer only knows the 100 commonest words in this "
        "corpus, which sources are starved? Show each source's token "
        "count and how many fall outside that vocabulary."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        (r["source"], r["n_tokens"], r["n_oov"], round(r["oov_rate"], 6))
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        (r["source"], int(r["n_tokens"]), int(r["n_oov"]),
         round(float(r["oov_rate"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_majority_spec_roundtrip(spark, tmp_path):
    """The majority-vote paraphrase against a real model: the LLM must
    emit the schema-replacing majority spec; per-key winning labels
    and vote shares must match the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = "Take the majority vote of event_type per user_id"
    para = (
        "Treat each event type as one annotator ballot: which label "
        "wins for every user, how many of their events back it, and "
        "was it a tie?"
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=events.columns)
    golden = {
        r["user_id"]: (r["majority_label"], r["n_votes"], r["is_tie"])
        for r in compile_spec(
            events, parse_description(canon, columns=events.columns)
        ).collect()
    }
    st = run_transform(spark, events, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["user_id"]): (r["majority_label"], int(r["n_votes"]),
                            r["is_tie"].lower() == "true")
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_dedup_tiebreak_spec_roundtrip(spark, tmp_path):
    """The quality-aware exemplar-dedup paraphrase against a real
    model: the LLM must compose the quality projection with keyed
    dedup AND use the new 'tiebreak' field so the winner is
    deterministic; kept doc_ids must match the canonical goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = (
        "Score the quality of each document and then remove duplicates "
        "by lang and source keeping the highest quality_score breaking "
        "ties by doc_id"
    )
    para = (
        "For every language-and-source combination keep just its best "
        "document by your quality heuristics; when two score the same, "
        "the smaller doc_id wins."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["doc_id"]
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {int(r["doc_id"]) for r in out.collect()}
    assert got == golden


@needs_live_llm
def test_live_agreement_spec_roundtrip(spark, tmp_path):
    """The agreement paraphrase against a real model: the LLM must
    emit the schema-replacing agreement spec (Krippendorff's alpha);
    the one-row report must match the canonical-phrasing golden."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = "Compute the inter-annotator agreement of event_type per user_id"
    para = (
        "If each user's events were independent annotators assigning "
        "that user a label, do they actually agree? Chance-corrected, "
        "please — Krippendorff-style, one summary row."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=events.columns)
    (g,) = compile_spec(
        events, parse_description(canon, columns=events.columns)
    ).collect()
    st = run_transform(spark, events, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    (r,) = out.collect()
    assert int(r["n_items"]) == g["n_items"]
    assert int(r["n_ratings"]) == g["n_ratings"]
    assert abs(float(r["alpha"]) - g["alpha"]) < 1e-9


@needs_live_llm
def test_live_window_ewma_spec_roundtrip(spark, tmp_path):
    """The window op against a real model (round-8 seventh session:
    the window family joins the spec-prompt vocabulary): an EWMA
    paraphrase the grammar rejects must come back as a window spec
    with the ewma expr, and the smoothed column must match the
    canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = (
        "Add exponential moving average of value over last 5 rows per "
        "user_id ordered by event_id with smoothing 0.5"
    )
    para = (
        "Smooth each user's value series: exponentially weighted "
        "average with decay 0.5 across the current and previous 4 "
        "events (event_id order), as a new column."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=events.columns)
    golden = {
        r["event_id"]: r["ewma_value"]
        for r in compile_spec(
            events, parse_description(canon, columns=events.columns)
        ).collect()
    }
    st = run_transform(spark, events, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    smoothed = [c for c in out.columns if c not in events.columns]
    assert len(smoothed) == 1
    got = {
        int(r["event_id"]): round(float(r[smoothed[0]]), 6)
        for r in out.collect()
    }
    assert got == {k: round(v, 6) for k, v in golden.items()}


@needs_live_llm
def test_live_anomaly_spec_roundtrip(spark, tmp_path):
    """The anomaly op against a real model: a monitoring paraphrase
    must come back as the anomaly spec; the flagged rows must match
    the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = (
        "Flag anomalies in value over last 20 rows per user_id ordered "
        "by event_id above z 2.5"
    )
    para = (
        "Metric watchdog: per user (event_id order), mark any value "
        "that sits more than 2.5 standard deviations from the mean of "
        "the 20 events before it."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=events.columns)
    golden = {
        r["event_id"]: r["is_anomaly"]
        for r in compile_spec(
            events, parse_description(canon, columns=events.columns)
        ).collect()
    }
    st = run_transform(spark, events, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["event_id"]): r["is_anomaly"].lower() == "true"
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_correlate_spec_roundtrip(spark, tmp_path):
    """The correlation paraphrase against a real model: the LLM must
    emit the schema-replacing correlate spec; the pair rows must match
    the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    canon = (
        "Compute the correlation matrix of l_quantity, l_extendedprice "
        "and l_discount"
    )
    para = (
        "Are quantity, extended price and discount measuring the same "
        "thing? Pearson r for every pair of those three columns."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=li.columns)
    golden = {
        (r["col_a"], r["col_b"]): r["r"]
        for r in compile_spec(
            li, parse_description(canon, columns=li.columns)
        ).collect()
    }
    st = run_transform(spark, li, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        (r["col_a"], r["col_b"]): (None if r["r"] in (None, "")
                                   else round(float(r["r"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_ndcg_spec_roundtrip(spark, tmp_path):
    """The retrieval-NDCG paraphrase against a real model (round-9
    evaluation-layer NL surface): the LLM must emit the
    schema-replacing ndcg spec; per-query rows must match the
    canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    canon = "Compute retrieval NDCG at 10 for the first 8 queries"
    para = (
        "Using vectors 0 through 7 as the queries, how good is "
        "top-10 retrieval? Score it with NDCG against the labels."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=emb.columns)
    golden = {
        r["query_id"]: (r["n_rel_topk"], r["ideal_n"], r["ndcg"])
        for r in compile_spec(
            emb, parse_description(canon, columns=emb.columns)
        ).collect()
    }
    st = run_transform(spark, emb, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["query_id"]): (int(r["n_rel_topk"]), int(r["ideal_n"]),
                             round(float(r["ndcg"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_silhouette_spec_roundtrip(spark, tmp_path):
    """The label-separation paraphrase against a real model: the LLM
    must emit the schema-replacing silhouette spec; per-label rows
    must match the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    canon = "How well separated are the labels"
    para = (
        "Cluster-quality check on the embedding table: are the label "
        "groups tight and far apart? Give me a per-label silhouette "
        "style read."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=emb.columns)
    golden = {
        # CSV round-trip stringifies the label key; compare as strings
        str(r["label"]): (r["n_vecs"], r["mean_silhouette"],
                          r["n_negative"])
        for r in compile_spec(
            emb, parse_description(canon, columns=emb.columns)
        ).collect()
    }
    st = run_transform(spark, emb, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        r["label"]: (int(r["n_vecs"]), round(float(r["mean_silhouette"]), 6),
                     int(r["n_negative"]))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_bpe_spec_roundtrip(spark, tmp_path):
    """The BPE-training paraphrase against a real model: the LLM must
    emit the schema-replacing bpe_merges spec; the merge table must
    match the canonical-phrasing goldens row for row."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Train a BPE tokenizer with 5 merges"
    para = (
        "Learn the first five byte-pair-encoding merge rules from the "
        "text column and list them in order."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["merge_rank"]: (r["pair"], r["merged"], r["pair_count"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["merge_rank"]): (r["pair"], r["merged"], int(r["pair_count"]))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_perplexity_spec_roundtrip(spark, tmp_path):
    """The perplexity-bucketing paraphrase against a real model: the
    LLM must emit the schema-replacing perplexity_buckets spec with the
    named reference slice; the scored rows must match the
    canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Bucket documents by perplexity against the src0 slice"
    para = (
        "CCNet-style curation: score every doc's fluency under a "
        "unigram language model trained on the src0 source and split "
        "each language into head, middle and tail perplexity buckets."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["doc_id"]: (r["lang"], r["n_tokens"], r["xent"], r["ppl_bucket"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["doc_id"]): (r["lang"], int(r["n_tokens"]),
                           round(float(r["xent"]), 6), r["ppl_bucket"])
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_common_direction_spec_roundtrip(spark, tmp_path):
    """The all-but-the-top paraphrase against a real model: the LLM
    must emit the schema-replacing common_direction spec; the
    per-vector audit rows must match the canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    canon = "Audit the common direction of the embeddings"
    para = (
        "Anisotropy check: for every vector, how much of its centered "
        "mass projects onto the corpus's single dominant principal "
        "direction?"
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=emb.columns)
    golden = {
        r["vec_id"]: (r["c1_proj"], r["norm_centered"], r["proj_ratio"])
        for r in compile_spec(
            emb, parse_description(canon, columns=emb.columns)
        ).collect()
    }
    st = run_transform(spark, emb, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["vec_id"]): (round(float(r["c1_proj"]), 6),
                           round(float(r["norm_centered"]), 6),
                           round(float(r["proj_ratio"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_unimax_spec_roundtrip(spark, tmp_path):
    """The UniMax paraphrase against a real model: the LLM must emit
    the schema-replacing unimax spec (budget, key, epochs); the
    per-source allocation rows must match the canonical-phrasing
    goldens exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = (
        "Allocate a training budget of 4000 tokens across sources "
        "with at most 2 epochs"
    )
    para = (
        "Spread a 4000-token training budget over the sources, "
        "capping every source at two epochs of repetition."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["source"]: (r["n_tokens"], r["capacity"], r["capped"],
                      r["allocated_tokens"], r["epochs"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        r["source"]: (int(r["n_tokens"]), int(r["capacity"]),
                      r["capped"] == "true",
                      round(float(r["allocated_tokens"]), 6),
                      round(float(r["epochs"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_bootstrap_spec_roundtrip(spark, tmp_path):
    """The Poisson-bootstrap paraphrase against a real model: the LLM
    must emit the schema-replacing bootstrap_mean spec (col, key, id,
    n); the per-group CI rows must match the canonical-phrasing
    goldens exactly (hash weights — no RNG anywhere)."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = (
        "Bootstrap a 95% confidence interval for the mean value per "
        "event_type keyed by event_id with 40 replicates"
    )
    para = (
        "Give me bootstrap uncertainty bands (95 percent, 40 "
        "resamples on event_id) around the average value of each "
        "event_type."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=ev.columns)
    golden = {
        r["event_type"]: (r["n_rows"], r["mean_value"], r["boot_lo"],
                          r["boot_hi"], r["n_replicates"])
        for r in compile_spec(
            ev, parse_description(canon, columns=ev.columns)
        ).collect()
    }
    st = run_transform(spark, ev, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        r["event_type"]: (int(r["n_rows"]), round(float(r["mean_value"]), 6),
                          round(float(r["boot_lo"]), 6),
                          round(float(r["boot_hi"]), 6),
                          int(r["n_replicates"]))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_spearman_spec_roundtrip(spark, tmp_path):
    """The Spearman paraphrase against a real model: the LLM must emit
    the schema-replacing spearman spec (NOT plain correlate — the ask
    is explicitly rank/monotone); the pair rows must match the
    canonical-phrasing goldens."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    canon = (
        "Compute the spearman correlation of l_quantity, "
        "l_extendedprice and l_discount"
    )
    para = (
        "Do quantity, extended price and discount rise and fall "
        "together? I want the rank-based (Spearman) correlation for "
        "every pair of those three columns, not plain Pearson."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=li.columns)
    golden = {
        (r["col_a"], r["col_b"]): r["rho"]
        for r in compile_spec(
            li, parse_description(canon, columns=li.columns)
        ).collect()
    }
    st = run_transform(spark, li, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        (r["col_a"], r["col_b"]): (None if r["rho"] in (None, "")
                                   else round(float(r["rho"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_mutual_info_spec_roundtrip(spark, tmp_path):
    """The mutual-information paraphrase against a real model: the LLM
    must emit the schema-replacing mutual_info spec; the one report
    row must match the canonical-phrasing goldens exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Compute the mutual information between lang and source"
    para = (
        "How much does knowing a document's source tell you about its "
        "language? Quantify the lang/source dependence in nats, with "
        "the marginal entropies and the normalized score."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    (g,) = compile_spec(
        docs, parse_description(canon, columns=docs.columns)
    ).collect()
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    (r,) = out.collect()
    assert int(r["n"]) == g["n"]
    assert int(r["n_cells"]) == g["n_cells"]
    # MI and NMI are symmetric in (a, b); the marginal entropies swap
    # if the model ordered the columns source-first — both orders are
    # correct specs, so compare the entropy PAIR, not the slots
    assert round(float(r["mi"]), 6) == g["mi"]
    assert round(float(r["nmi"]), 6) == g["nmi"]
    assert {round(float(r["h_a"]), 6), round(float(r["h_b"]), 6)} == \
        {g["h_a"], g["h_b"]}


@needs_live_llm
def test_live_anova_spec_roundtrip(spark, tmp_path):
    """The ANOVA paraphrase against a real model: the LLM must emit
    the schema-replacing anova spec (value, group); the one-row
    F / eta^2 report must match the canonical-phrasing golden
    exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = "Compute the anova of value by event_type"
    para = (
        "Is the average value actually different between the event "
        "types? Run a one-way analysis of variance and give me the F "
        "statistic and effect size."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=ev.columns)
    golden = [
        (r["k"], r["n"], r["ss_between"], r["ss_within"], r["f_stat"],
         r["eta_sq"])
        for r in compile_spec(
            ev, parse_description(canon, columns=ev.columns)
        ).collect()
    ]
    st = run_transform(spark, ev, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = [
        (int(r["k"]), int(r["n"]), round(float(r["ss_between"]), 6),
         round(float(r["ss_within"]), 6), round(float(r["f_stat"]), 6),
         round(float(r["eta_sq"]), 6))
        for r in out.collect()
    ]
    assert got == golden


@needs_live_llm
def test_live_funnel_spec_roundtrip(spark, tmp_path):
    """The funnel paraphrase against a real model: the LLM must emit
    the schema-replacing funnel spec (ordered steps, user, ts); the
    per-step reached/conversion rows must match the
    canonical-phrasing goldens exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    canon = (
        "Compute the funnel of event_type steps view then click then "
        "purchase per user_id ordered by ts"
    )
    para = (
        "How many users made it from viewing to clicking to actually "
        "purchasing, in that order over time? Show the drop-off at "
        "each stage."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=ev.columns)
    golden = {
        r["step"]: (r["event_type"], r["n_users"])
        for r in compile_spec(
            ev, parse_description(canon, columns=ev.columns)
        ).collect()
    }
    st = run_transform(spark, ev, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["step"]): (r["event_type"], int(r["n_users"]))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_novelty_spec_roundtrip(spark, tmp_path):
    """The n-gram novelty paraphrase against a real model: the LLM
    must emit the schema-replacing novelty spec; the per-doc novelty
    rows must match the canonical-phrasing goldens exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Score each document's 3-gram novelty"
    para = (
        "For every doc, what fraction of its word trigrams had never "
        "appeared in any earlier document? I want the novelty share "
        "per document."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        int(r["doc_id"]): (int(r["n_grams"]), int(r["n_novel"]),
                           round(float(r["novelty"]), 6))
        for r in out.collect()
    }
    assert got == golden


@needs_live_llm
def test_live_concentration_spec_roundtrip(spark, tmp_path):
    """The concentration-audit paraphrase against a real model: the
    LLM must emit the schema-replacing concentration spec; the one
    HHI/Gini/top-share report row must match the canonical-phrasing
    golden exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Audit the source concentration of the token mass"
    para = (
        "Is one source dominating this corpus? Give me the "
        "Herfindahl index, the Gini, and how much of the tokens the "
        "top few sources own."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = [
        (r["k_groups"], r["total_tokens"], r["hhi"], r["gini"],
         r["top3_share"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    ]
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = [
        (int(r["k_groups"]), int(r["total_tokens"]),
         round(float(r["hhi"]), 6), round(float(r["gini"]), 6),
         round(float(r["top3_share"]), 6))
        for r in out.collect()
    ]
    assert got == golden


@needs_live_llm
def test_live_hapax_spec_roundtrip(spark, tmp_path):
    """The hapax-ratio paraphrase against a real model: the LLM must
    emit the schema-replacing hapax spec; the per-source vocabulary
    rows must match the canonical-phrasing goldens exactly."""
    from agentic_workflow_for_data_transformation_spark.agents.orchestrator import (
        run_transform,
    )
    from agentic_workflow_for_data_transformation_spark.plans import (
        compile_spec,
        parse_description,
    )
    from agentic_workflow_for_data_transformation_spark.plans.parser import ParseError

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    canon = "Compute the hapax ratio per source"
    para = (
        "For each source, what share of its vocabulary shows up only "
        "a single time? Low numbers usually mean templated or "
        "generated text."
    )
    with pytest.raises(ParseError):
        parse_description(para, columns=docs.columns)
    golden = {
        r["source"]: (r["vocab_size"], r["n_tokens"], r["n_hapax"],
                      r["hapax_ratio"])
        for r in compile_spec(
            docs, parse_description(canon, columns=docs.columns)
        ).collect()
    }
    st = run_transform(spark, docs, para, out_dir=tmp_path,
                       llm=live_or_replay_llm())
    assert st.valid, st.messages
    out = spark.read.option("header", True).csv(st.output_path)
    got = {
        r["source"]: (int(r["vocab_size"]), int(r["n_tokens"]),
                      int(r["n_hapax"]), round(float(r["hapax_ratio"]), 6))
        for r in out.collect()
    }
    assert got == golden
