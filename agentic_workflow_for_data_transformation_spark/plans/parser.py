"""Rule-based NL -> transform-spec parser.

The reference turns a natural-language description into executable
pandas via two LLM calls (planner at reference
agentic_workflow_transformation.py:31-53, code generator at :57-101)
and ``exec``s the result (:129); with no LLM its fallback is an
*identity* transform (:86-92), i.e. the offline path computes nothing.
This parser is the deterministic replacement: a small grammar that
covers the reference's entire 20-description eval corpus (:339-362) —
filters with 8 predicate forms, boolean combinators with parentheses,
projection, rename, drop, computed columns, sort, top-k, aggregates —
and emits the typed spec IR, so the full eval suite runs with no LLM at
all.

Every aggregate phrasing goes through one clause (``_parse_aggregate``):
``group by <key>[ and <key>]* and [show] <phrase>[, <phrase>]* [where
<having>]``, or keyless ``show <phrases>`` / ``count rows`` / ``count
distinct X``. A key is a column or ``<unit> of <ts>``. Each phrase
(count rows, count [distinct|missing|null] X, total/sum of/average/
minimum/maximum/median X, Nth percentile of X, concatenate X) is one
row of ``_AGG_PHRASES`` with its own alias rule, so a phrase means the
same aggregate in every position.

An LLM planner (agents/orchestrator.py) can emit the same spec JSON for
descriptions outside this grammar; both paths share one compiler.
"""

from __future__ import annotations

import re
from typing import Any

from .spec import _GOPHER_COLS, validate_spec

__all__ = ["parse_description", "parse_predicate", "ParseError"]


class ParseError(ValueError):
    """Description (or predicate) not covered by the grammar."""


_CLAUSE_KEYWORDS = (
    r"(?:select|keep|filter|sort|drop|rename|add|group|sample|deduplicate"
    r"|join|broadcast|for|sessionize|pivot|rollup|convert|search|fit"
    r"|replace\s+missing"
    # multi-word forms require their full token so a predicate conjunct
    # that merely BEGINS with a join-type word ("... and left > 2")
    # stays a conjunction instead of splitting as a clause
    r"|append\s+(?:distinct\s+)?rows"
    r"|remove\s+duplicates?"
    r"|remove\s+(?:near[- ])?duplicate"
    r"|drop\s+documents"
    r"|pack\s+documents"
    r"|find\s+(?:the\s+)?\d+"
    r"|split\s+\w+\s+into\s+words"
    r"|chunk\s+documents"
    r"|pick\s+\d+\s+negatives"
    r"|merge\s+\w+\s+into"
    r"|extract\s+the"
    r"|detect\s+the\s+language"
    r"|count\s+tokens"
    r"|score\s+(?:the\s+)?quality"
    r"|winsorize"
    r"|resample"
    r"|sample\s+\d"
    r"|keep\s+\d+(?:\.\d+)?\s*%"
    r"|redact"
    r"|apply\s+(?:the\s+)?gopher"
    r"|weight\s+(?:the\s+)?(?:documents|rows)"
    r"|compute\s+token\s+fertility"
    r"|(?:audit|report)\s+(?:\d+-gram\s+)?duplication"
    r"|remove\s+documents\s+sharing"
    r"|remove\s+(?:documents|rows)\s+containing"
    r"|(?:report|compare)\s+vocabulary\s+divergence"
    r"|(?:report|price)\s+(?:the\s+)?dedup\s+savings"
    r"|check\s+that"
    r"|check\s+k-?anonymity"
    r"|compute\s+(?:the\s+)?word\s+entropy"
    r"|report\s+(?:the\s+)?out-of-vocabulary"
    r"|split\s+into\s+\d"
    r"|(?:inner|left|right|full|cross)\s+join)"
)
# split " and <clause keyword>" / " and then " but never predicate-level
# "and" (conjunctions, BETWEEN..AND..) — those are not followed by a
# clause keyword.
_CLAUSE_SPLIT = re.compile(
    rf"\s+and\s+then\s+|\s+and\s+(?={_CLAUSE_KEYWORDS}\b)", re.IGNORECASE
)

_TOKEN_RE = re.compile(
    # ISO date[time] must match before the number pattern, or
    # 2024-01-15 tokenizes as three signed integers
    r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}:\d{2})?"
    r"|\(|\)|,|>=|<=|==|!=|>|<|=|'[^']*'|\"[^\"]*\"|[A-Za-z_][A-Za-z0-9_]*|-?\d+(?:\.\d+)?"
)

_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}:\d{2})?")


def _tokenize(text: str) -> list[str]:
    return _TOKEN_RE.findall(text)


def _is_number(tok: str) -> bool:
    return bool(re.fullmatch(r"-?\d+(?:\.\d+)?", tok))


def _value(tok: str) -> Any:
    if tok.startswith(("'", '"')):
        return {"lit": tok[1:-1]}
    if _DATE_RE.fullmatch(tok):
        return {"lit": tok}  # ISO date[time] literal, compiled as a cast
    if _is_number(tok):
        return {"lit": float(tok) if "." in tok else int(tok)}
    if tok.lower() in ("true", "false"):  # boolean literal, not a column
        return {"lit": tok.lower() == "true"}
    return {"col": tok}


class _PredParser:
    """Recursive-descent parser for the predicate sub-grammar:

    or     := and ('or' and)*
    and    := unary ('and' unary)*
    unary  := 'not' unary | primary
    primary:= '(' or ')' | condition
    cond   := term ( cmp term | 'between' term 'and' term
                   | 'in' '(' term (',' term)* ')'
                   | 'starts' 'with' term | 'contains' term )
    """

    _CMP = {">": "gt", ">=": "ge", "<": "lt", "<=": "le", "==": "eq", "=": "eq", "!=": "ne"}

    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ParseError("unexpected end of predicate")
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got.lower() != tok:
            raise ParseError(f"expected {tok!r}, got {got!r}")

    def parse(self) -> dict:
        expr = self.parse_or()
        if self.peek() is not None:
            raise ParseError(f"trailing tokens in predicate: {self.toks[self.i:]}")
        return expr

    def parse_or(self) -> dict:
        parts = [self.parse_and()]
        while (p := self.peek()) is not None and p.lower() == "or":
            self.next()
            parts.append(self.parse_and())
        return parts[0] if len(parts) == 1 else {"or": parts}

    def parse_and(self) -> dict:
        parts = [self.parse_unary()]
        while (p := self.peek()) is not None and p.lower() == "and":
            self.next()
            parts.append(self.parse_unary())
        return parts[0] if len(parts) == 1 else {"and": parts}

    def parse_unary(self) -> dict:
        if (p := self.peek()) is not None and p.lower() == "not":
            self.next()
            return {"not": self.parse_unary()}
        return self.parse_primary()

    def parse_primary(self) -> dict:
        if self.peek() == "(":
            self.next()
            expr = self.parse_or()
            self.expect(")")
            return expr
        return self.parse_condition()

    def parse_condition(self) -> dict:
        left = _value(self.next())
        op = self.next().lower()
        if op in self._CMP:
            return {self._CMP[op]: [left, _value(self.next())]}
        if op == "between":
            lo = _value(self.next())
            self.expect("and")
            hi = _value(self.next())
            return {"between": [left, lo, hi]}
        if op == "in":
            self.expect("(")
            vals: list[Any] = []
            while True:
                tok = self.next()
                if tok == ")":
                    break
                if tok == ",":
                    continue
                v = _value(tok)
                vals.append(v["lit"] if "lit" in v else v["col"])
            return {"isin": [left, vals]}
        if op == "starts":
            self.expect("with")
            return {"startswith": [left, _lit_str(self.next())]}
        if op == "startswith":
            return {"startswith": [left, _lit_str(self.next())]}
        if op == "contains":
            return {"contains": [left, _lit_str(self.next())]}
        if op == "after":
            return {"gt": [left, _value(self.next())]}
        if op == "before":
            return {"lt": [left, _value(self.next())]}
        if op == "on":
            # 'on or after' / 'on or before' -> inclusive comparisons;
            # the 'or' here is part of the phrase, not a boolean: a
            # condition cannot legally end at 'on', so this is LL(1)-safe
            self.expect("or")
            which = self.next().lower()
            if which == "after":
                return {"ge": [left, _value(self.next())]}
            if which == "before":
                return {"le": [left, _value(self.next())]}
            raise ParseError(f"bad 'on or' condition near {which!r}")
        if op in ("is",):
            nxt = self.next().lower()
            if nxt == "null":
                return {"is_null": left}
            if nxt == "not":
                self.expect("null")
                return {"is_not_null": left}
            raise ParseError(f"bad 'is' condition near {nxt!r}")
        raise ParseError(f"unknown condition operator {op!r}")


def _lit_str(tok: str) -> str:
    if not tok.startswith(("'", '"')):
        raise ParseError(f"expected quoted string, got {tok!r}")
    return tok[1:-1]


def parse_predicate(text: str) -> dict:
    """Parse a standalone boolean predicate into an expression tree."""
    return _PredParser(_tokenize(text)).parse()


def _resolve_col(name: str, columns: list[str] | None) -> str:
    """Resolve an NL column mention: 'names' -> 'name' when the table
    has 'name' but not 'names' (the eval corpus says "count names")."""
    if columns is None:
        return name[:-1] if name.endswith("s") and len(name) > 1 and name not in ("status",) else name
    if name in columns:
        return name
    if name.endswith("s") and name[:-1] in columns:
        return name[:-1]
    if name + "s" in columns:
        return name + "s"
    return name


def _parse_select_cols(text: str) -> list[str]:
    cols = [c for c in re.split(r"\s*,\s*|\s+and\s+", text.strip(), flags=re.IGNORECASE) if c]
    bad = [c for c in cols if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)]
    if bad or not cols:
        raise ParseError(f"bad column list {text!r}")
    return cols


# The one aggregate clause (grammar in the module docstring). Keys are
# greedy: the phrases start after the last " and " that follows a key,
# which is unambiguous because no phrase is a single word.
_TRUNC_KEY = re.compile(
    r"(year|month|week|day|hour|minute)\s+of\s+(\w+)", re.IGNORECASE
)
_GROUP_KEY = rf"(?:{_TRUNC_KEY.pattern}|\w+)"
_AGGREGATE = re.compile(
    rf"^(?:group\s+by\s+(?P<keys>{_GROUP_KEY}(?:\s+and\s+{_GROUP_KEY})*)"
    r"\s+and\s+(?:show\s+)?(?P<aggs>.+?)(?:\s+where\s+(?P<having>.+))?"
    r"|show\s+(?P<shown>.+)"
    r"|(?P<bare>count\s+(?:rows|distinct\s+\w+)))$",
    re.IGNORECASE,
)
# aggregate word -> spec fn, shared by the phrases below and the
# running/moving windows
_AGG_FNS = {"total": "sum", "sum": "sum", "sum of": "sum", "count": "count",
            "average": "avg", "minimum": "min", "maximum": "max",
            "median": "median"}
# one row per aggregate phrase: (pattern, fn, alias). Group x is the
# column (plural-resolved), w an _AGG_FNS word (fn None), p a
# percentile: exact interpolated, Spark F.percentile == DuckDB
# quantile_cont, partition-order independent like median.
_AGG_PHRASES = [
    (re.compile(pattern, re.IGNORECASE), fn, alias)
    for pattern, fn, alias in (
        (r"count\s+rows", "count", "row_count"),
        (r"count\s+distinct\s+(?P<x>\w+)", "count_distinct", "{x}_distinct_count"),
        # "count missing x" / "count null x": the completeness audit
        (r"count\s+(?:missing|null)\s+(?P<x>\w+)", "count_nulls", "{x}_null_count"),
        (r"count\s+(?P<x>\w+)", "count", "{x}_count"),
        (r"average\s+(?P<x>\w+)", "avg", "average_{x}"),
        (r"(?P<w>total|sum\s+of|minimum|maximum|median)\s+(?P<x>\w+)", None, "{fn}_{x}"),
        (r"(?P<p>\d{1,2})(?:st|nd|rd|th)\s+percentile\s+of\s+(?P<x>\w+)",
         "percentile", "p{p}_{x}"),
        # ordered LISTAGG
        (r"concatenate\s+(?P<x>\w+)", "listagg", "{x}_list"),
    )
]

# Whole-description patterns that contain internal "and" connectors the
# clause splitter must not touch.
_SESSIONIZE = re.compile(
    r"^sessionize\s+by\s+(\w+)\s+with\s+(\d+)\s+(second|minute|hour)s?\s+gap\s*$",
    re.IGNORECASE,
)
_GROUP_TOPK = re.compile(
    r"^for\s+each\s+(\w+)\s+show\s+top\s+(\d+)\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ADD_COLUMN = re.compile(
    r"^add\s+(\w+)\s+column\s+where\s+\w+\s*=\s*(.*)$", re.IGNORECASE
)
# "add tier column as 'low' when o_totalprice < 100000, 'mid' when
# o_totalprice < 300000, otherwise 'high'" -> ANSI CASE (first match
# wins). Branches split on top-level commas only, so IN-lists inside a
# when-predicate survive; values are quoted strings or bare numbers.
_CASE_COLUMN = re.compile(r"^add\s+(\w+)\s+column\s+as\s+(.+)$", re.IGNORECASE)
_CASE_BRANCH = re.compile(
    r"^('[^']*'|-?\d+(?:\.\d+)?)\s+when\s+(.+)$", re.IGNORECASE
)
_CASE_ELSE = re.compile(
    r"^(?:otherwise\s+('[^']*'|-?\d+(?:\.\d+)?)"
    r"|('[^']*'|-?\d+(?:\.\d+)?)\s+otherwise)$",
    re.IGNORECASE,
)
_RENAME = re.compile(r"^rename\s+(?:column\s+)?(\w+)\s+to\s+(\w+)\s*$", re.IGNORECASE)
# "replace missing l_quantity with 0" -> coalesce in place (the
# post-outer-join null fill); "convert o_totalprice to integer" ->
# in-place cast. Both are with_column ops over the same name, so the
# column keeps its position and downstream clauses see the new value.
_FILL_MISSING = re.compile(
    r"^replace\s+missing\s+(\w+)\s+with\s+('[^']*'|-?\d+(?:\.\d+)?)\s*$",
    re.IGNORECASE,
)
_CONVERT = re.compile(
    r"^convert\s+(\w+)\s+to\s+(integer|long|double|float|string|text|date|timestamp)\s*$",
    re.IGNORECASE,
)
# "extract the number k from props" / "extract the text field name
# from props as author" -> json_get with_column ('number' casts the
# text scalar to double — the portable numeric form; integer casts of
# strings are rejected by compile as engine-divergent)
_JSON_GET = re.compile(
    r"^extract\s+the\s+(number|text)\s+(?:field\s+)?(\w+)\s+from\s+(\w+)"
    r"(?:\s+as\s+(\w+))?\s*$",
    re.IGNORECASE,
)
_CONVERT_TYPES = {
    "integer": "long", "long": "long", "double": "double", "float": "double",
    "string": "string", "text": "string", "date": "date",
    "timestamp": "timestamp",
}
_DROP = re.compile(r"^drop\s+(?:column\s+)?(\w+)(?:\s+column)?\s*$", re.IGNORECASE)
# multi-key: "sort by age desc, name" — each comma part is col [dir]
_SORT = re.compile(r"^sort\s+by\s+(.+)$", re.IGNORECASE)
_SORT_KEY = re.compile(
    r"(\w+)(?:\s+(desc(?:ending)?|asc(?:ending)?))?", re.IGNORECASE
)
_LIMIT = re.compile(r"^keep\s+top\s+(\d+)(?:\s+rows?)?\s*$", re.IGNORECASE)
_FILTER = re.compile(r"^(?:filter|select)\s+(?:rows\s+)?(?:where\s+)?(.*)$", re.IGNORECASE)
_SELECT_COLS = re.compile(r"^select\s+(?:columns?\s+)?(.*)$", re.IGNORECASE)
# north-star clause forms (SURVEY.md section 2.9 surface)
# "fit l_extendedprice on l_quantity per p_brand" -> per-group OLS
# (slope/intercept/r2 from decimal-exact moments)
_FIT_OLS = re.compile(
    r"^fit\s+(\w+)\s+on\s+(\w+)\s+per\s+(\w+)\s*$", re.IGNORECASE
)
# "search for 'vector stream' and show top 10 matches" -> BM25 lexical
# top-k over the text column (terms split on whitespace; default k=10)
_SEARCH = re.compile(
    r"^search\s+for\s+'([^']+)'"
    r"(?:\s+and\s+show\s+top\s+(\d+)(?:\s+matches)?)?\s*$",
    re.IGNORECASE,
)
_SAMPLE = re.compile(
    r"^(?:sample|keep)\s+(\d+(?:\.\d+)?)\s*(?:%|percent)\s+of\s+"
    r"(?:the\s+)?(?:rows|documents)\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
# text-analysis projections over the document table: each adds typed
# per-row columns with no shuffle (SURVEY section 2.9 text family)
_LANGID = re.compile(
    r"^detect\s+the\s+language\s+of\s+each\s+(?:document|row)\s*$",
    re.IGNORECASE,
)
_TOKEN_COUNTS = re.compile(
    r"^count\s+tokens\s+in\s+each\s+(?:document|row)\s*$", re.IGNORECASE
)
_QUALITY = re.compile(
    r"^score\s+(?:the\s+)?quality\s+of\s+each\s+(?:document|row)\s*$",
    re.IGNORECASE,
)
# "check that doc_id is unique and text is not null and lang is in
# 'en', 'de' and at least 100 rows" -> the declarative data-quality
# contract (quality.check_expectations); expectations separated by
# "and", value lists quoted-comma'd so the two never collide
_EXPECT = re.compile(r"^check\s+that\s+(.+)$", re.IGNORECASE)
_EXP_UNIQUE = re.compile(r"^(\w+)\s+is\s+unique$", re.IGNORECASE)
_EXP_NOT_NULL = re.compile(r"^(\w+)\s+is\s+not\s+null$", re.IGNORECASE)
_EXP_IN = re.compile(
    r"^(\w+)\s+is\s+in\s+('[^']*'(?:\s*,\s*'[^']*')*)$", re.IGNORECASE
)
_EXP_MIN_ROWS = re.compile(r"^at\s+least\s+(\d+)\s+rows?$", re.IGNORECASE)
# "redact emails and numbers in each document" / "redact pii in each
# row" -> mask emails + long digit runs in the text column in place
_REDACT = re.compile(
    r"^redact\s+(?:emails?\s+and\s+(?:long\s+)?numbers?|pii)\s+"
    r"in\s+each\s+(?:document|row)\s*$",
    re.IGNORECASE,
)
# "check k-anonymity of user_id and event_type at 5" -> privacy audit
# (quality.k_anonymity_audit): one-row report of quasi-identifier
# groups smaller than k
_KANON = re.compile(
    r"^check\s+k-?anonymity\s+of\s+(\w+(?:(?:\s*,\s*|\s+and\s+)\w+)*)\s+"
    r"at\s+(\d+)\s*$",
    re.IGNORECASE,
)
# "compute the correlation matrix of a, b and c" -> pairwise Pearson
# r from decimal-exact moments (profile.correlation_matrix),
# schema-replacing one row per pair
_CORRELATE = re.compile(
    r"^(?:compute|show)\s+(?:the\s+)?correlation(?:\s+matrix)?\s+of\s+"
    r"(\w+(?:(?:\s*,\s*|\s+and\s+)\w+)+)\s*$",
    re.IGNORECASE,
)
# "compute the spearman [rank] correlation [matrix] of <cols>" ->
# rank-based (monotone) correlation matrix
_SPEARMAN = re.compile(
    r"^(?:compute|show)\s+(?:the\s+)?spearman\s+(?:rank\s+)?"
    r"correlation(?:\s+matrix)?\s+of\s+"
    r"(\w+(?:(?:\s*,\s*|\s+and\s+)\w+)+)\s*$",
    re.IGNORECASE,
)
# "compute the mutual information between <a> and <b>" -> MI /
# entropy / NMI report row
_MUTUAL_INFO = re.compile(
    r"^(?:compute|show)\s+(?:the\s+)?mutual\s+information\s+"
    r"between\s+(\w+)\s+and\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "compute the [one-way] anova of <value> by|across <group>" or
# "compare the mean [of] <value> across <group>" -> one-way ANOVA
# F / eta^2 report row (stats.anova_oneway), schema-replacing
_ANOVA = re.compile(
    r"^(?:compute|show)\s+(?:the\s+)?(?:one[- ]way\s+)?anova\s+of\s+"
    r"(\w+)\s+(?:by|across)\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ANOVA_MEAN = re.compile(
    r"^compare\s+(?:the\s+)?mean\s+(?:of\s+)?(\w+)\s+across\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "compute the funnel of <type> steps <a> then <b> [then <c> ...]
# per <user> ordered by <ts>" -> per-step reached-user counts +
# step-over-step conversion (timeseries.funnel_steps),
# schema-replacing len(steps) rows
_FUNNEL = re.compile(
    r"^(?:compute|show)\s+(?:the\s+)?funnel\s+of\s+(\w+)\s+steps\s+"
    r"('?\w+'?(?:\s+then\s+'?\w+'?)+)\s+per\s+(\w+)\s+"
    r"ordered\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "score each document's <n>-gram novelty" -> per-doc fraction of
# distinct n-grams first seen in this doc (text.ngram_novelty),
# schema-replacing per-doc rows
_NOVELTY = re.compile(
    r"^(?:score|compute|show)\s+(?:each\s+document'?s?\s+)?"
    r"(\d+)-gram\s+novelty\s*$",
    re.IGNORECASE,
)
# "audit the [source] concentration of the token mass [by <key>]" ->
# HHI / Gini / top-share dominance report (corpus.concentration_audit),
# schema-replacing one row
_CONCENTRATION = re.compile(
    r"^(?:audit|compute|show)\s+(?:the\s+)?(?:source\s+)?concentration"
    r"\s+of\s+(?:the\s+)?token\s+mass(?:\s+by\s+(\w+))?\s*$",
    re.IGNORECASE,
)
# "compute the hapax ratio per <key>" -> per-group fraction of the
# vocabulary occurring exactly once (text.hapax_ratio),
# schema-replacing per-group rows
_HAPAX = re.compile(
    r"^(?:compute|show|score)\s+(?:the\s+)?hapax\s+ratio"
    r"(?:\s+per\s+(\w+))?\s*$",
    re.IGNORECASE,
)
# "flag anomalies in <col> over last <N> rows per <key> ordered by
# <o> [above z <t>]" -> rolling z-score anomaly flags
# (timeseries.rolling_zscore_anomalies); adds moving_avg/moving_std/
# zscore/is_anomaly
_ANOMALY = re.compile(
    r"^flag\s+anomalies\s+in\s+(\w+)\s+over\s+last\s+(\d+)\s+rows\s+"
    r"per\s+(\w+)\s+ordered\s+by\s+(\w+)"
    r"(?:\s+above\s+z\s+(\d+(?:\.\d+)?))?\s*$",
    re.IGNORECASE,
)
# "compute the inter-annotator agreement of <label> per <key>" ->
# Krippendorff's alpha, nominal (stats.krippendorff_alpha) — the
# varying-ratings-per-item form, so no trimming clause is needed;
# schema-replacing one-row report
_AGREEMENT = re.compile(
    r"^(?:compute|report|check)\s+(?:the\s+)?(?:inter-?annotator\s+)?"
    r"agreement\s+(?:of|on)\s+(\w+)\s+per\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "take the majority vote of <label> per <key>" -> per-key winning
# label with ratings/share/margin/tie flag (quality.majority_vote),
# schema-replacing
_MAJORITY = re.compile(
    r"^(?:take|aggregate|compute)\s+(?:the\s+)?majority\s+vote\s+of\s+"
    r"(\w+)\s+per\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "compute retrieval NDCG at 10 for the first 8 queries" -> NDCG@k
# against label ground truth (similarity.ndcg_per_query), queries =
# the first n vector ids; schema-replacing one row per query
_NDCG = re.compile(
    r"^(?:compute|report|evaluate)\s+(?:the\s+)?retrieval\s+ndcg\s+"
    r"at\s+(\d+)\s+for\s+(?:the\s+first\s+)?(\d+)\s+queries\s*"
    r"(?:against\s+the\s+labels\s*)?$",
    re.IGNORECASE,
)
# "how well separated are the labels" / "compute the silhouette of the
# labels" -> per-label simplified (centroid-form) silhouette
# (similarity.simplified_silhouette), schema-replacing
_SILHOUETTE = re.compile(
    r"^(?:how\s+well\s+separated\s+are\s+(?:my|the)\s+labels"
    r"|(?:compute|report|check|show)\s+(?:the\s+)?"
    r"(?:label\s+)?(?:silhouette|separation)"
    r"(?:\s+of\s+(?:my|the)\s+labels)?)\s*$",
    re.IGNORECASE,
)
# "train a BPE tokenizer with 5 merges" -> distributed BPE merge-table
# training (text.bpe_merge_table), schema-replacing one row per merge
_BPE_MERGES = re.compile(
    r"^train\s+a\s+bpe\s+tokenizer\s+with\s+(\d+)\s+merges?\s*$",
    re.IGNORECASE,
)
# "audit the common direction of the embeddings" / "which vectors are
# dominated by the common direction" -> all-but-the-top audit
# (linalg.common_direction_audit): per vector, the projection onto the
# corpus top principal component + centered norm; schema-replacing
_COMMON_DIR = re.compile(
    r"^(?:audit\s+the\s+common\s+direction\s+of\s+(?:the\s+)?"
    r"(?:embeddings|vectors)"
    r"|which\s+(?:embeddings|vectors)\s+are\s+dominated\s+by\s+"
    r"(?:the\s+)?common\s+direction)\s*$",
    re.IGNORECASE,
)
# "allocate a training budget of 48000 tokens across sources with at
# most 2 epochs" -> UniMax epoch-capped budget allocation
# (corpus.unimax_allocation), schema-replacing one row per group
_UNIMAX = re.compile(
    r"^allocate\s+a\s+(?:training\s+)?budget\s+of\s+(\d+)\s+tokens\s+"
    r"across\s+(\w+)(?:\s+with\s+at\s+most\s+(\d+)\s+epochs?)?\s*$",
    re.IGNORECASE,
)
# "bootstrap a 95% confidence interval for the mean value per
# event_type keyed by event_id [with 40 replicates]" -> Poisson
# bootstrap CI (stats.poisson_bootstrap_ci), schema-replacing
_BOOTSTRAP = re.compile(
    r"^bootstrap\s+a\s+95%\s+confidence\s+interval\s+for\s+the\s+"
    r"mean\s+(\w+)\s+per\s+(\w+)\s+keyed\s+by\s+(\w+)"
    r"(?:\s+with\s+(\d+)\s+replicates?)?\s*$",
    re.IGNORECASE,
)
# "bucket documents by perplexity [against the src0 slice]" ->
# CCNet-style head/middle/tail perplexity tertiles per language
# (text.perplexity_buckets), schema-replacing
_PPL_BUCKETS = re.compile(
    r"^bucket\s+(?:the\s+)?documents\s+by\s+perplexity"
    r"(?:\s+against\s+the\s+(\w+)\s+slice)?\s*$",
    re.IGNORECASE,
)
# "compute the word entropy of each document" -> per-doc Shannon
# entropy + evenness (text.word_entropy), schema-replacing
_WENTROPY = re.compile(
    r"^compute\s+(?:the\s+)?word\s+entropy\s+(?:of|for)\s+each\s+"
    r"(?:document|row)\s*$",
    re.IGNORECASE,
)
# "report the out-of-vocabulary rate per source [against the top 100
# words]" -> tokenizer-coverage audit (text.oov_rate_by_group),
# schema-replacing
_OOV = re.compile(
    r"^report\s+(?:the\s+)?out-of-vocabulary\s+rate\s+per\s+(\w+)"
    r"(?:\s+against\s+(?:the\s+)?top\s+(\d+)\s+words)?\s*$",
    re.IGNORECASE,
)
# "remove documents containing the words 'x', 'y'" -> C4-style
# blocklist screen (text.blocklist_screen): word-level set
# intersection against the quoted list, pure per-row filter
_BLOCKLIST = re.compile(
    r"^remove\s+(?:documents|rows)\s+containing\s+(?:the\s+)?words?\s+"
    r"('[^']*'(?:\s*,\s*'[^']*')*)\s*$",
    re.IGNORECASE,
)
# "apply the gopher quality rules to each document" -> the published
# heuristic rule battery (text.gopher_rules): per-rule booleans +
# passes_gopher, all paper-default thresholds
_GOPHER = re.compile(
    r"^apply\s+(?:the\s+)?gopher\s+quality\s+rules\s+to\s+each\s+"
    r"(?:document|row)\s*$",
    re.IGNORECASE,
)
# "weight documents by importance to lang 'en'" -> DSIR hashed-n-gram
# importance weights against the target slice <col> = '<value>'
_DSIR = re.compile(
    r"^weight\s+(?:the\s+)?(?:documents|rows)\s+by\s+importance\s+to\s+"
    r"(\w+)\s+'([^']*)'\s*$",
    re.IGNORECASE,
)
# "compute token fertility per lang" -> tokens-per-word /
# chars-per-token audit grouped on the named column
_FERTILITY = re.compile(
    r"^compute\s+token\s+fertility\s+per\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "audit 5-gram duplication per source" / "report duplication by
# source" -> per-group duplication report: fraction of word n-gram
# occurrences duplicated across documents / shared across groups
_DUPAUDIT = re.compile(
    r"^(?:audit|report)\s+(?:(\d+)-gram\s+)?duplication\s+(?:per|by)\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "remove documents sharing fingerprinted passages above 0.5 overlap"
# -> winnowing (MOSS) keep-first dedup: window-min fingerprints, pairs
# by containment overlap of fingerprint sets, drop the higher id
_WINNOWDEDUP = re.compile(
    r"^remove\s+documents\s+sharing\s+fingerprinted\s+passages"
    r"\s+above\s+(0?\.\d+|1(?:\.0+)?)\s+overlap\s*$",
    re.IGNORECASE,
)
# "report dedup savings per source" -> per-group exact-dedup savings
# report (docs and characters a corpus-wide lowest-id-keeper dedup
# would remove from each group)
_DEDUPSAVINGS = re.compile(
    r"^(?:report|price)\s+(?:the\s+)?dedup\s+savings\s+(?:per|by)\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "report vocabulary divergence per source" -> pairwise Jensen-Shannon
# divergence between per-group unigram distributions
_VOCDIV = re.compile(
    r"^(?:report|compare)\s+vocabulary\s+divergence\s+(?:per|by|between)"
    r"\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "pick 3 negatives per vector from a pool of 64" -> deterministic
# contrastive negative sampling (different-label, broadcast pool)
_NEGATIVES = re.compile(
    r"^pick\s+(\d+)\s+negatives\s+per\s+vector"
    r"(?:\s+from\s+a\s+pool\s+of\s+(\d+))?\s*$",
    re.IGNORECASE,
)
# "chunk documents into 32-word chunks every 16 words" -> sliding-
# window chunking (stride = the every-N phrase; equal stride = no
# overlap, smaller = overlapping context windows)
_CHUNK = re.compile(
    r"^chunk\s+documents\s+into\s+(\d+)-word\s+chunks?"
    r"(?:\s+every\s+(\d+)\s+words?)?\s*$",
    re.IGNORECASE,
)
# "resample value every 6 hours per user_id with linear interpolation"
# -> regular-grid resample; the value/ts/id columns default to the
# events-table names, the value column is named explicitly
_RESAMPLE = re.compile(
    r"^resample\s+(\w+)\s+every\s+(\d+(?:\.\d+)?)\s+hours?\s+per\s+(\w+)"
    r"(?:\s+with\s+linear\s+interpolation)?\s*$",
    re.IGNORECASE,
)
# "winsorize value at 5/95 within each event_type" -> per-group
# percentile clamp (percentages; 5/95 means the [p05, p95] band)
_WINSORIZE = re.compile(
    r"^winsorize\s+(\w+)\s+at\s+(\d+(?:\.\d+)?)/(\d+(?:\.\d+)?)\s+"
    r"within\s+each\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "split into 90/5/5 train/val/test by doc_id" -> deterministic N-way
# hash split; weight and label lists must be the same length
_SPLIT_ASSIGN = re.compile(
    r"^split\s+into\s+(\d+(?:\.\d+)?(?:/\d+(?:\.\d+)?)+)\s+"
    r"(\w+(?:/\w+)+)\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
_DEDUP = re.compile(
    r"^(?:deduplicate|drop\s+duplicates?|remove\s+duplicates?)(?:\s+rows)?"
    r"(?:\s+by\s+(.+?))?"
    r"(?:\s+keeping\s+the\s+(lowest|highest)\s+(\w+))?"
    r"(?:\s+breaking\s+ties\s+by\s+(\w+))?$",
    re.IGNORECASE,
)
# corpus-pipeline phrasings (round-8: the LLM-data operators join the
# NL surface). "remove duplicate documents keeping the first" = exact
# dedup on text keeping the lowest doc_id; "remove near-duplicate
# documents above 0.8 similarity" = the LSH chain + greedy keep-first;
# "drop documents that appear in <table>" = 3-gram decontamination;
# "pack documents into sequences of 512 tokens" = sequence packing.
_DEDUP_DOCS = re.compile(
    r"^remove\s+duplicate\s+documents(?:\s+keeping\s+the\s+first)?\s*$",
    re.IGNORECASE,
)
_NEARDUP = re.compile(
    r"^remove\s+near[- ]duplicate\s+documents?\s+above\s+"
    r"(0?\.\d+|1(?:\.0+)?)\s+similarity\s*$",
    re.IGNORECASE,
)
_DECONTAM = re.compile(
    r"^drop\s+documents\s+that\s+appear\s+in\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "merge updates into the table on o_orderkey" -> MERGE upsert against
# the named table from the compiler's table map
_MERGE = re.compile(
    r"^merge\s+(\w+)\s+into\s+the\s+table\s+on\s+(\w+)\s*$",
    re.IGNORECASE,
)
_PACK = re.compile(
    r"^pack\s+documents\s+into\s+sequences\s+of\s+(\d+)\s+tokens\s*$",
    re.IGNORECASE,
)
# "find the 10 most similar vectors to vector 42" / "find 5 nearest
# neighbors of vector 7" — exact cosine top-k (similarity search)
_ANN = re.compile(
    r"^find\s+(?:the\s+)?(\d+)\s+(?:most\s+similar|nearest|closest)\s+"
    r"(?:vectors?|neighbou?rs?|embeddings?)\s+(?:to|of)\s+vector\s+(\d+)\s*$",
    re.IGNORECASE,
)
# "split text into words and count each word [showing top 50]" — the
# explode + groupby-count shape (word count); the optional top-k sorts
# on (count desc, word asc) so the boundary is a total order
_WORDCOUNT = re.compile(
    r"^split\s+(\w+)\s+into\s+words\s+and\s+count\s+each\s+word"
    r"(?:\s+showing\s+top\s+(\d+))?$",
    re.IGNORECASE,
)
_SELECT_DISTINCT = re.compile(r"^select\s+distinct\s+(.*)$", re.IGNORECASE)
# "join with customer on custkey" / "broadcast join nation on n_nationkey"
# / "left join orders with customer on c_custkey" — the base table is the
# clause pipeline's input; 'right' resolves via the compiler's tables map.
_JOIN = re.compile(
    r"^(broadcast\s+)?(?:(inner|left_semi|left_anti|left|right|full|cross)\s+)?join\s+"
    r"(?:\w+\s+with\s+|with\s+)?(\w+)\s+on\s+(\w+(?:\s*,\s*\w+)*)\s*$",
    re.IGNORECASE,
)
# existence joins in natural phrasing: "keep rows that exist in
# lineitem on l_orderkey" (semi) / "keep rows with no match in
# lineitem on l_orderkey" (anti). Only the left side's columns
# survive — Spark plans these as LeftSemi/LeftAnti hash joins, which
# never materialize the right side's payload columns.
_SEMI_JOIN = re.compile(
    r"^keep\s+rows\s+(?:that\s+(?:exist|match|have\s+a\s+match)\s+in|"
    r"with\s+a\s+match\s+in)\s+(\w+)\s+on\s+(\w+(?:\s*,\s*\w+)*)\s*$",
    re.IGNORECASE,
)
_ANTI_JOIN = re.compile(
    r"^keep\s+rows\s+with(?:\s+no|out\s+a?)\s+match\s+in\s+"
    r"(\w+)\s+on\s+(\w+(?:\s*,\s*\w+)*)\s*$",
    re.IGNORECASE,
)
# "append rows from <table>" (union all, by column name) /
# "append distinct rows from <table>" (union + dedup)
_UNION = re.compile(
    r"^append\s+(distinct\s+)?rows\s+from\s+(\w+)\s*$", re.IGNORECASE
)
# "add running total of value per user_id ordered by ts" — an ordered
# aggregate window (Spark's default RANGE frame = the SQL default, so
# ties accumulate together in every engine)
_RUNNING = re.compile(
    r"^add\s+running\s+(total|sum|count|average|minimum|maximum)\s+of\s+(\w+)"
    r"\s+per\s+(\w+)\s+ordered\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "add moving average of value over last 5 rows per user_id ordered by
# ts" — a sliding ROWS frame ((n-1) PRECEDING .. CURRENT ROW)
_MOVING = re.compile(
    r"^add\s+moving\s+(total|sum|count|average|minimum|maximum|median)\s+of\s+(\w+)"
    r"\s+over\s+last\s+(\d+)\s+rows\s+per\s+(\w+)\s+ordered\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "add exponential moving average of value over last 5 rows per
# user_id ordered by ts [with smoothing 0.7]" — bounded weighted lag
# chain (a^j weights, renormalized over available lags); default
# smoothing 0.5
_EWMA = re.compile(
    r"^add\s+exponential\s+moving\s+average\s+of\s+(\w+)"
    r"\s+over\s+last\s+(\d+)\s+rows\s+per\s+(\w+)\s+ordered\s+by\s+(\w+)"
    r"(?:\s+with\s+smoothing\s+(0?\.\d+))?\s*$",
    re.IGNORECASE,
)
# "add row number ordered by event_id" — global ordinal; the compiler
# routes numeric ascending orderings through the two-phase rank so no
# single-partition sort of the data ever runs
_GLOBAL_RN = re.compile(
    r"^add\s+row\s+number\s+ordered\s+by\s+(\w+)(\s+descending)?\s*$",
    re.IGNORECASE,
)
# "add previous value per user_id ordered by ts" (lag) /
# "add next value per user_id ordered by ts" (lead)
_LAG_LEAD = re.compile(
    r"^add\s+(previous|next)\s+(\w+)\s+per\s+(\w+)\s+ordered\s+by\s+(\w+)\s*$",
    re.IGNORECASE,
)
# round-5 relational extensions: declared-values pivot and rollup
# subtotals (VERDICT r4 #4).
# "pivot o_orderstatus by o_orderpriority counting rows for values F, O and P"
# round-6: aggregate cells too — "pivot o_orderstatus by o_orderpriority
# summing o_totalprice for values F, O" (summing|averaging|taking
# minimum/maximum of <col>)
_PIVOT = re.compile(
    r"^pivot\s+(\w+)\s+by\s+(\w+)\s+counting\s+rows\s+for\s+values\s+(.+?)\s*$",
    re.IGNORECASE,
)
_PIVOT_AGG = re.compile(
    r"^pivot\s+(\w+)\s+by\s+(\w+)\s+"
    r"(summing|averaging|taking\s+minimum\s+of|taking\s+maximum\s+of)\s+(\w+)"
    r"\s+for\s+values\s+(.+?)\s*$",
    re.IGNORECASE,
)
_PIVOT_AGG_WORDS = {"summing": "sum", "averaging": "avg",
                    "taking minimum of": "min", "taking maximum of": "max"}
# "group by o_orderpriority then o_orderstatus with subtotals and count rows"
_ROLLUP = re.compile(
    r"^group\s+by\s+(\w+(?:\s+then\s+\w+)+)\s+with\s+subtotals"
    r"\s+and\s+count\s+rows\s*$",
    re.IGNORECASE,
)
_VALUE_LIST_SPLIT = re.compile(r"\s*,\s*|\s+and\s+", re.IGNORECASE)
# "show most common o_orderpriority per o_orderstatus" -> per-group MODE
_MODE = re.compile(
    r"^(?:show\s+)?most\s+common\s+(\w+)\s+per\s+(\w+)\s*$", re.IGNORECASE
)
# "join nearest views on user_id by ts taking view_event_id [within
# 300 seconds|5 days|10 units]" -> as-of join (nearest|previous=
# backward|next=forward); 'taking' lists the right-side payload
# columns to attach as asof_<name>; 'within' bounds the match
# distance (merge_asof tolerance)
_ASOF = re.compile(
    r"^join\s+(nearest|previous|next)\s+(\w+)\s+on\s+(\w+)\s+by\s+(\w+)"
    r"\s+taking\s+(\w+(?:\s*,\s*\w+)*)"
    r"(?:\s+within\s+(\d+(?:\.\d+)?)\s+(second|day|unit)s?)?\s*$",
    re.IGNORECASE,
)
_ASOF_DIRECTIONS = {"nearest": "nearest", "previous": "backward",
                    "next": "forward"}
_ASOF_UNITS = {"second": "second", "day": "day", "unit": "raw"}
# round-7: NL reach for the remaining window-vocabulary spec ops
# (VERDICT r6 #3 — ntile/percent_rank/cume_dist/first_value existed in
# the spec IR and compiler but no phrasing produced them).
# "divide into 10 buckets by event_id per user_id" -> ntile. Pick a
# tie-free ordering column: ntile's assignment among order ties is
# engine-arbitrary.
_NTILE = re.compile(
    r"^divide\s+into\s+(\d+)\s+buckets\s+by\s+(\w+)\s+per\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "add percentile rank of value per user_id" / "add cumulative
# distribution of value per user_id" — both are deterministic under
# order ties (rank- and count-based), unlike row_number
_PCT_RANK = re.compile(
    r"^add\s+(percentile\s+rank|cumulative\s+distribution)\s+of\s+(\w+)"
    r"\s+per\s+(\w+)\s*$",
    re.IGNORECASE,
)
# "add first value per user_id ordered by event_id [over last 3 rows]"
# -> first_value; the optional rows suffix makes it a sliding frame
# (first of the last n rows) exactly like moving aggregates
_FIRST_VALUE = re.compile(
    r"^add\s+first\s+(\w+)\s+per\s+(\w+)\s+ordered\s+by\s+(\w+)"
    r"(?:\s+over\s+last\s+(\d+)\s+rows)?\s*$",
    re.IGNORECASE,
)


def _slug_alias(value: str, prefix: str = "n_") -> str:
    """Deterministic output-column alias for a pivot value — the same
    name the sqlgen oracle emits, so hash-compares line up."""
    return prefix + (re.sub(r"[^a-z0-9]+", "_", value.lower()).strip("_") or "value")


def _agg_phrase(phrase: str, columns: list[str] | None) -> dict | None:
    """One aggregate phrase -> spec agg dict, or None."""
    for pattern, fn, alias in _AGG_PHRASES:
        if m := pattern.fullmatch(phrase.strip()):
            g = m.groupdict()
            g["x"] = _resolve_col(g["x"], columns) if "x" in g else "*"
            g["fn"] = fn or _AGG_FNS[" ".join(g["w"].lower().split())]
            agg = {"fn": g["fn"], "col": g["x"]}
            if "p" in g:
                g["p"] = int(g["p"])
                agg["p"] = g["p"] / 100.0
            return {**agg, "alias": alias.format_map(g)}
    return None


def _parse_aggregate(clause: str, columns: list[str] | None) -> list[dict] | None:
    """The aggregate clause -> its ops (a with_column per truncated
    key, then one groupby_agg), or None when the clause is not one."""
    m = _AGGREGATE.match(clause)
    if not m:
        return None
    phrases = m["aggs"] or m["shown"] or m["bare"]
    aggs = [_agg_phrase(p, columns)
            for p in _VALUE_LIST_SPLIT.split(phrases) if p.strip()]
    if not aggs or not all(aggs):
        return None
    ops: list[dict] = []
    keys = re.split(r"\s+and\s+", m["keys"], flags=re.IGNORECASE) if m["keys"] else []
    for i, key in enumerate(keys):
        if t := _TRUNC_KEY.fullmatch(key):
            unit, ts_col = t.group(1).lower(), t.group(2)
            keys[i] = f"{ts_col}_{unit}"
            ops.append({"op": "with_column", "name": keys[i],
                        "expr": {"trunc": [unit, {"col": ts_col}]}})
    op = {"op": "groupby_agg", "keys": keys, "aggs": aggs}
    if m["having"]:
        op["having"] = parse_predicate(m["having"])
    return ops + [op]


def _parse_clause(clause: str, columns: list[str] | None) -> dict | list[dict]:
    clause = clause.strip().rstrip(".").strip()
    if m := _SAMPLE.match(clause):
        return {
            "op": "sample",
            "fraction": float(m.group(1)) / 100.0,
            "key": m.group(2),
        }
    if m := _WORDCOUNT.match(clause):
        ops: list[dict] = [
            {"op": "explode", "col": _resolve_col(m.group(1), columns),
             "alias": "word"},
            {"op": "groupby_agg", "keys": ["word"],
             "aggs": [{"fn": "count", "col": "*", "alias": "n"}]},
        ]
        if m.group(2):
            ops += [
                {"op": "sort", "keys": [{"col": "n", "asc": False},
                                        {"col": "word", "asc": True}]},
                {"op": "limit", "n": int(m.group(2))},
            ]
        return ops
    if _DEDUP_DOCS.match(clause):
        # exact dedup of the documents table: key on the text, keep
        # the lowest doc_id — the deterministic keyed-dedup op, so the
        # oracle renders for free
        return {"op": "dedup", "keys": [_resolve_col("text", columns)],
                "keep_col": _resolve_col("doc_id", columns), "keep": "min"}
    if m := _NEGATIVES.match(clause):
        op = {"op": "negatives", "k": int(m.group(1))}
        if m.group(2):
            op["pool"] = int(m.group(2))
        return op
    if m := _CHUNK.match(clause):
        size = int(m.group(1))
        return {
            "op": "chunk",
            "size": size,
            "stride": int(m.group(2)) if m.group(2) else size,
        }
    if m := _RESAMPLE.match(clause):
        return {
            "op": "resample",
            "val": _resolve_col(m.group(1), columns),
            "step_hours": float(m.group(2)),
            "key": _resolve_col(m.group(3), columns),
        }
    if m := _WINSORIZE.match(clause):
        lo, hi = float(m.group(2)) / 100.0, float(m.group(3)) / 100.0
        if not lo < hi:
            raise ParseError(f"winsorize needs lo < hi: {clause!r}")
        return {
            "op": "winsorize",
            "col": _resolve_col(m.group(1), columns),
            "keys": [_resolve_col(m.group(4), columns)],
            "lo": lo,
            "hi": hi,
        }
    if _LANGID.match(clause):
        return {"op": "langid"}
    if _REDACT.match(clause):
        return {"op": "redact"}
    if m := _BLOCKLIST.match(clause):
        return {
            "op": "blocklist",
            "words": [v[1:-1] for v in re.findall(r"'[^']*'", m.group(1))],
        }
    if m := _KANON.match(clause):
        return {
            "op": "kanon",
            "cols": [
                _resolve_col(c.strip(), columns)
                for c in re.split(r",|\s+and\s+", m.group(1))
            ],
            "k": int(m.group(2)),
        }
    if m := _SPEARMAN.match(clause):
        return {
            "op": "spearman",
            "cols": [
                _resolve_col(c.strip(), columns)
                for c in re.split(r",|\s+and\s+", m.group(1))
                if c.strip()
            ],
        }
    if m := _CORRELATE.match(clause):
        return {
            "op": "correlate",
            "cols": [
                _resolve_col(c.strip(), columns)
                for c in re.split(r",|\s+and\s+", m.group(1))
                if c.strip()
            ],
        }
    if m := _MUTUAL_INFO.match(clause):
        return {
            "op": "mutual_info",
            "a": _resolve_col(m.group(1), columns),
            "b": _resolve_col(m.group(2), columns),
        }
    if m := (_ANOVA.match(clause) or _ANOVA_MEAN.match(clause)):
        return {
            "op": "anova",
            "value": _resolve_col(m.group(1), columns),
            "group": _resolve_col(m.group(2), columns),
        }
    if m := _FUNNEL.match(clause):
        return {
            "op": "funnel",
            "type": _resolve_col(m.group(1), columns),
            "steps": [
                s.strip().strip("'")
                for s in re.split(r"\s+then\s+", m.group(2), flags=re.I)
            ],
            "user": _resolve_col(m.group(3), columns),
            "ts": _resolve_col(m.group(4), columns),
        }
    if m := _NOVELTY.match(clause):
        return {"op": "novelty", "n": int(m.group(1))}
    if m := _CONCENTRATION.match(clause):
        return {
            "op": "concentration",
            "key": _resolve_col(m.group(1), columns) if m.group(1)
            else "source",
        }
    if m := _HAPAX.match(clause):
        return {
            "op": "hapax",
            "key": _resolve_col(m.group(1), columns) if m.group(1)
            else "source",
        }
    if m := _ANOMALY.match(clause):
        n = int(m.group(2))
        if n < 3:
            raise ParseError(
                f"anomaly window needs at least 3 rows: {clause!r}"
            )
        op = {
            "op": "anomaly",
            "col": _resolve_col(m.group(1), columns),
            "key": _resolve_col(m.group(3), columns),
            "order_col": _resolve_col(m.group(4), columns),
            "n": n,
        }
        if m.group(5):
            op["z"] = float(m.group(5))
        return op
    if m := _AGREEMENT.match(clause):
        return {
            "op": "agreement",
            "label": _resolve_col(m.group(1), columns),
            "key": _resolve_col(m.group(2), columns),
        }
    if m := _MAJORITY.match(clause):
        return {
            "op": "majority",
            "label": _resolve_col(m.group(1), columns),
            "key": _resolve_col(m.group(2), columns),
        }
    if m := _NDCG.match(clause):
        return {
            "op": "ndcg",
            "k": int(m.group(1)),
            "n_queries": int(m.group(2)),
        }
    if _SILHOUETTE.match(clause):
        return {"op": "silhouette"}
    if m := _BPE_MERGES.match(clause):
        return {"op": "bpe_merges", "n": int(m.group(1))}
    if _COMMON_DIR.match(clause):
        return {"op": "common_direction"}
    if m := _UNIMAX.match(clause):
        op = {
            "op": "unimax",
            "budget": int(m.group(1)),
            "key": _resolve_col(m.group(2), columns),
        }
        if m.group(3):
            op["epochs"] = int(m.group(3))
        return op
    if m := _BOOTSTRAP.match(clause):
        op = {
            "op": "bootstrap_mean",
            "col": _resolve_col(m.group(1), columns),
            "key": _resolve_col(m.group(2), columns),
            "id": _resolve_col(m.group(3), columns),
        }
        if m.group(4):
            op["n"] = int(m.group(4))
        return op
    if m := _PPL_BUCKETS.match(clause):
        op = {"op": "perplexity_buckets"}
        if m.group(1):
            op["ref_source"] = m.group(1)
        return op
    if _WENTROPY.match(clause):
        return {"op": "word_entropy"}
    if m := _OOV.match(clause):
        op = {"op": "oov", "key": _resolve_col(m.group(1), columns)}
        if m.group(2):
            op["v"] = int(m.group(2))
        return op
    if _GOPHER.match(clause):
        return {"op": "gopher"}
    if m := _DSIR.match(clause):
        return {
            "op": "dsir",
            "target_col": _resolve_col(m.group(1), columns),
            "target_val": m.group(2),
        }
    if m := _FERTILITY.match(clause):
        return {"op": "fertility", "key": _resolve_col(m.group(1), columns)}
    if m := _DUPAUDIT.match(clause):
        op: dict = {"op": "dup_by_source",
                    "key": _resolve_col(m.group(2), columns)}
        if m.group(1):
            op["n"] = int(m.group(1))
        return op
    if m := _WINNOWDEDUP.match(clause):
        return {"op": "winnow_dedup", "overlap": float(m.group(1))}
    if m := _DEDUPSAVINGS.match(clause):
        return {"op": "dedup_savings", "key": _resolve_col(m.group(1), columns)}
    if m := _VOCDIV.match(clause):
        # accept the plural form ("between sources") for a singular
        # column name
        key = m.group(1)
        if columns and key not in columns and key.endswith("s") \
                and key[:-1] in columns:
            key = key[:-1]
        return {"op": "vocab_divergence", "key": _resolve_col(key, columns)}
    if m := _EXPECT.match(clause):
        exps: list[dict] = []
        for part in re.split(r"\s+and\s+", m.group(1), flags=re.IGNORECASE):
            part = part.strip()
            if mm := _EXP_UNIQUE.match(part):
                exps.append({"kind": "unique",
                             "col": _resolve_col(mm.group(1), columns)})
            elif mm := _EXP_NOT_NULL.match(part):
                exps.append({"kind": "not_null",
                             "col": _resolve_col(mm.group(1), columns)})
            elif mm := _EXP_IN.match(part):
                exps.append({
                    "kind": "accepted_values",
                    "col": _resolve_col(mm.group(1), columns),
                    "values": [v[1:-1] for v in re.findall(r"'[^']*'", mm.group(2))],
                })
            elif mm := _EXP_MIN_ROWS.match(part):
                exps.append({"kind": "min_rows", "n": int(mm.group(1))})
            else:
                raise ParseError(f"unknown expectation: {part!r}")
        return {"op": "expect", "expectations": exps}
    if _TOKEN_COUNTS.match(clause):
        return {"op": "token_counts"}
    if _QUALITY.match(clause):
        return {"op": "quality_score"}
    if m := _SPLIT_ASSIGN.match(clause):
        weights = [float(w) for w in m.group(1).split("/")]
        labels = m.group(2).split("/")
        if len(labels) != len(weights):
            raise ParseError(
                f"split needs one label per weight: {clause!r}"
            )
        return {
            "op": "split_assign",
            "key": _resolve_col(m.group(3), columns),
            "weights": weights,
            "labels": labels,
        }
    if m := _JSON_GET.match(clause):
        kind_, field, src, alias = m.groups()
        expr: dict = {"json_get": [_resolve_col(src, columns), field]}
        if kind_.lower() == "number":
            expr = {"cast": [expr, "double"]}
        name = alias or field
        op = {"op": "with_column", "name": name, "expr": expr}
        if columns and name in columns:
            op["replace"] = True
        return op
    if m := _NEARDUP.match(clause):
        return {"op": "neardup", "threshold": float(m.group(1))}
    if m := _MERGE.match(clause):
        return {
            "op": "merge",
            "right": m.group(1),
            "key": _resolve_col(m.group(2), columns),
        }
    if m := _DECONTAM.match(clause):
        return {"op": "decontaminate", "right": m.group(1)}
    if m := _PACK.match(clause):
        return {"op": "pack", "budget": int(m.group(1))}
    if m := _ANN.match(clause):
        return {"op": "ann_topk", "k": int(m.group(1)),
                "query_id": int(m.group(2))}
    if m := _DEDUP.match(clause):
        if m.group(2):
            # "keeping the lowest/highest <col>" makes the kept row
            # deterministic -> the keyed dedup op (oracle-renderable),
            # not arbitrary-row distinct-by-cols
            if not m.group(1):
                raise ParseError(
                    "deduplicate ... keeping ... needs 'by <columns>'"
                )
            op = {
                "op": "dedup",
                "keys": _parse_select_cols(m.group(1)),
                "keep_col": _resolve_col(m.group(3), columns),
                "keep": "min" if m.group(2).lower() == "lowest" else "max",
            }
            if m.group(4):
                # "breaking ties by <col>": deterministic winner when
                # keep_col ties within a group (always ascending)
                op["tiebreak"] = _resolve_col(m.group(4), columns)
            return op
        if m.group(4):
            raise ParseError(
                "deduplicate ... breaking ties ... needs 'keeping the "
                "lowest/highest <col>'"
            )
        op: dict = {"op": "distinct"}
        if m.group(1):
            op["cols"] = _parse_select_cols(m.group(1))
        return op
    if m := _SELECT_DISTINCT.match(clause):
        return [
            {"op": "select", "cols": _parse_select_cols(m.group(1))},
            {"op": "distinct"},
        ]
    if m := _PIVOT.match(clause):
        pcol = _resolve_col(m.group(1), columns)
        key = _resolve_col(m.group(2), columns)
        vals = [
            v.strip().strip("'\"")
            for v in _VALUE_LIST_SPLIT.split(m.group(3))
            if v.strip()
        ]
        return {
            "op": "pivot",
            "keys": [key],
            "col": pcol,
            "values": vals,
            "agg": {"fn": "count", "col": "*"},
            "aliases": [_slug_alias(v) for v in vals],
        }
    if m := _PIVOT_AGG.match(clause):
        pcol = _resolve_col(m.group(1), columns)
        key = _resolve_col(m.group(2), columns)
        fn = _PIVOT_AGG_WORDS[re.sub(r"\s+", " ", m.group(3).lower())]
        acol = _resolve_col(m.group(4), columns)
        vals = [
            v.strip().strip("'\"")
            for v in _VALUE_LIST_SPLIT.split(m.group(5))
            if v.strip()
        ]
        return {
            "op": "pivot",
            "keys": [key],
            "col": pcol,
            "values": vals,
            "agg": {"fn": fn, "col": acol},
            "aliases": [_slug_alias(v, prefix=f"{fn}_") for v in vals],
        }
    if m := _ROLLUP.match(clause):
        keys = re.split(r"\s+then\s+", m.group(1), flags=re.IGNORECASE)
        return {
            "op": "rollup",
            "keys": [_resolve_col(k, columns) for k in keys],
            "aggs": [{"fn": "count", "col": "*", "alias": "n_rows"}],
            "gid_alias": "gid",
        }
    if (ops := _parse_aggregate(clause, columns)) is not None:
        return ops
    if m := _MODE.match(clause):
        col = _resolve_col(m.group(1), columns)
        return {"op": "mode", "keys": [m.group(2)], "col": col}
    if m := _ASOF.match(clause):
        op = {
            "op": "asof_join",
            "right": m.group(2),
            "on": m.group(3),
            "ts": m.group(4),
            "right_cols": [c.strip() for c in m.group(5).split(",")],
            "direction": _ASOF_DIRECTIONS[m.group(1).lower()],
        }
        if m.group(6):
            tol = float(m.group(6))
            op["tolerance"] = int(tol) if tol.is_integer() else tol
            op["tolerance_unit"] = _ASOF_UNITS[m.group(7).lower()]
        return op
    if m := _SESSIONIZE.match(clause):
        mult = {"second": 1, "minute": 60, "hour": 3600}[m.group(3).lower()]
        return {
            "op": "sessionize",
            "key": m.group(1),
            "gap_seconds": int(m.group(2)) * mult,
        }
    if m := _GROUP_TOPK.match(clause):
        g, n, v = m.group(1), int(m.group(2)), _resolve_col(m.group(3), columns)
        # deterministic tie-break (determinism policy): append the
        # table's first column (the star schema's primary key) so
        # row_number's order is total even when top values tie. Marked
        # _auto so parse_description can strip it if an earlier clause
        # projected that column away (the marker never reaches the
        # validated spec).
        order = [{"col": v, "asc": False}]
        if columns and columns[0] not in (v, g):
            order.append({"col": columns[0], "asc": True, "_auto": True})
        return [
            {"op": "window", "partition_by": [g],
             "order_by": order,
             "exprs": [{"fn": "row_number", "alias": "_rn"}]},
            {"op": "filter", "expr": {"le": [{"col": "_rn"}, n]}},
            {"op": "drop", "cols": ["_rn"]},
        ]
    if m := _JOIN.match(clause):
        op = {
            "op": "join",
            "right": m.group(3),
            "on": [c.strip() for c in m.group(4).split(",")],
            "how": (m.group(2) or "inner").lower(),
        }
        if m.group(1):
            op["broadcast"] = True
        return op
    if m := _SEMI_JOIN.match(clause):
        return {"op": "join", "right": m.group(1),
                "on": [c.strip() for c in m.group(2).split(",")],
                "how": "left_semi"}
    if m := _ANTI_JOIN.match(clause):
        return {"op": "join", "right": m.group(1),
                "on": [c.strip() for c in m.group(2).split(",")],
                "how": "left_anti"}
    if m := _UNION.match(clause):
        op = {"op": "union", "right": m.group(2)}
        if m.group(1):
            op["distinct"] = True
        return op
    if m := _RUNNING.match(clause):
        fn = _AGG_FNS[m.group(1).lower()]
        col = _resolve_col(m.group(2), columns)
        return {
            "op": "window",
            "partition_by": [m.group(3)],
            "order_by": [{"col": m.group(4), "asc": True}],
            "exprs": [{"fn": fn, "col": col, "alias": f"running_{fn}_{col}"}],
        }
    if m := _EWMA.match(clause):
        col = _resolve_col(m.group(1), columns)
        n = int(m.group(2))
        if n < 2:
            raise ParseError(
                f"exponential moving average needs at least 2 rows: {clause!r}"
            )
        return {
            "op": "window",
            "partition_by": [m.group(3)],
            "order_by": [{"col": m.group(4), "asc": True}],
            "exprs": [{
                "fn": "ewma", "col": col, "alias": f"ewma_{col}",
                "alpha": float(m.group(5)) if m.group(5) else 0.5,
                "rows_preceding": n - 1,
            }],
        }
    if m := _MOVING.match(clause):
        fn = _AGG_FNS[m.group(1).lower()]
        col = _resolve_col(m.group(2), columns)
        n = int(m.group(3))
        if n < 1:
            raise ParseError(f"moving window needs at least 1 row: {clause!r}")
        return {
            "op": "window",
            "partition_by": [m.group(4)],
            "order_by": [{"col": m.group(5), "asc": True}],
            "exprs": [{"fn": fn, "col": col, "alias": f"moving_{fn}_{col}",
                       "rows_preceding": n - 1}],
        }
    if m := _GLOBAL_RN.match(clause):
        return {
            "op": "window",
            "partition_by": [],
            "order_by": [{"col": _resolve_col(m.group(1), columns),
                          "asc": not m.group(2)}],
            "exprs": [{"fn": "row_number", "alias": "row_num"}],
        }
    if m := _LAG_LEAD.match(clause):
        fn = "lag" if m.group(1).lower() == "previous" else "lead"
        col = _resolve_col(m.group(2), columns)
        return {
            "op": "window",
            "partition_by": [m.group(3)],
            "order_by": [{"col": m.group(4), "asc": True}],
            "exprs": [{"fn": fn, "col": col, "alias": f"{m.group(1).lower()}_{col}"}],
        }
    if m := _NTILE.match(clause):
        n = int(m.group(1))
        if n < 1:
            raise ParseError(f"ntile needs at least 1 bucket: {clause!r}")
        col = _resolve_col(m.group(2), columns)
        return {
            "op": "window",
            "partition_by": [m.group(3)],
            "order_by": [{"col": col, "asc": True}],
            "exprs": [{"fn": "ntile", "n": n, "alias": f"bucket_{col}"}],
        }
    if m := _PCT_RANK.match(clause):
        fn = ("percent_rank" if m.group(1).lower().startswith("percentile")
              else "cume_dist")
        col = _resolve_col(m.group(2), columns)
        return {
            "op": "window",
            "partition_by": [m.group(3)],
            "order_by": [{"col": col, "asc": True}],
            "exprs": [{"fn": fn, "alias": f"{fn}_{col}"}],
        }
    if m := _FIRST_VALUE.match(clause):
        col = _resolve_col(m.group(1), columns)
        expr = {"fn": "first_value", "col": col, "alias": f"first_{col}"}
        if m.group(4):
            n = int(m.group(4))
            if n < 1:
                raise ParseError(f"first over last needs >= 1 row: {clause!r}")
            expr["rows_preceding"] = n - 1
        return {
            "op": "window",
            "partition_by": [m.group(2)],
            "order_by": [{"col": m.group(3), "asc": True}],
            "exprs": [expr],
        }
    if (m := _CASE_COLUMN.match(clause)) and not _ADD_COLUMN.match(clause):
        whens: list[list] = []
        else_val = None
        for part in _split_top_level_commas(m.group(2)):
            if em := _CASE_ELSE.match(part):
                if else_val is not None:
                    raise ParseError(f"case column has two otherwise branches: {clause!r}")
                else_val = _case_literal(em.group(1) or em.group(2))
                continue
            bm = _CASE_BRANCH.match(part)
            if not bm:
                raise ParseError(f"bad case branch {part!r} in {clause!r}")
            if else_val is not None:
                raise ParseError(f"case branch after otherwise: {clause!r}")
            whens.append([parse_predicate(bm.group(2)), _case_literal(bm.group(1))])
        if not whens:
            raise ParseError(f"case column needs at least one when branch: {clause!r}")
        case: dict = {"when": whens}
        if else_val is not None:
            case["else"] = else_val
        return {"op": "with_column", "name": m.group(1), "expr": {"case": case}}
    if m := _ADD_COLUMN.match(clause):
        return {"op": "with_column", "name": m.group(1), "expr": parse_predicate(m.group(2))}
    if m := _FIT_OLS.match(clause):
        return {"op": "ols", "key": m.group(3),
                "y": _resolve_col(m.group(1), columns),
                "x": _resolve_col(m.group(2), columns)}
    if m := _SEARCH.match(clause):
        terms = m.group(1).split()
        if not terms:
            raise ParseError(f"search needs at least one term: {clause!r}")
        return {"op": "bm25", "terms": terms,
                "k": int(m.group(2)) if m.group(2) else 10}
    if m := _FILL_MISSING.match(clause):
        col = m.group(1)
        return {"op": "with_column", "name": col, "replace": True,
                "expr": {"coalesce": [{"col": col}, _case_literal(m.group(2))]}}
    if m := _CONVERT.match(clause):
        col = m.group(1)
        return {"op": "with_column", "name": col, "replace": True,
                "expr": {"cast": [{"col": col}, _CONVERT_TYPES[m.group(2).lower()]]}}
    if m := _RENAME.match(clause):
        return {"op": "rename", "renames": {m.group(1): m.group(2)}}
    if m := _DROP.match(clause):
        return {"op": "drop", "cols": [m.group(1)]}
    if m := _SORT.match(clause):
        keys = []
        for part in re.split(r"\s*,\s*", m.group(1).strip()):
            km = _SORT_KEY.fullmatch(part.strip())
            if not km:
                raise ParseError(f"bad sort key {part!r}")
            keys.append({
                "col": km.group(1),
                "asc": not (km.group(2) or "").lower().startswith("desc"),
            })
        return {"op": "sort", "keys": keys}
    if m := _LIMIT.match(clause):
        return {"op": "limit", "n": int(m.group(1))}
    # "select name, city" / "select columns name and age" — a projection
    # iff the payload is a bare column list (no operators).
    if (m := _SELECT_COLS.match(clause)) and "where" not in clause.lower():
        try:
            return {"op": "select", "cols": _parse_select_cols(m.group(1))}
        except ParseError:
            pass  # fall through: "select rows where ..." style filter
    if m := _FILTER.match(clause):
        return {"op": "filter", "expr": parse_predicate(m.group(1))}
    raise ParseError(f"unrecognized clause {clause!r}")


def _split_top_level_commas(text: str) -> list[str]:
    """Split on commas outside parentheses and quotes, so a case
    branch's IN-list ("status in ('F', 'O')") never fragments."""
    parts, depth, buf, in_q = [], 0, [], False
    for ch in text:
        if ch == "'" :
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(buf).strip())
                buf = []
                continue
        buf.append(ch)
    parts.append("".join(buf).strip())
    return [p for p in parts if p]


def _case_literal(tok: str) -> dict:
    """Case-branch value: quoted string, else int, else float — wrapped
    as an explicit {"lit": ...} node (a bare string in expression
    position would be column-ref sugar)."""
    if tok.startswith("'") and tok.endswith("'"):
        return {"lit": tok[1:-1]}
    try:
        return {"lit": int(tok)}
    except ValueError:
        return {"lit": float(tok)}


def parse_description(description: str, columns: list[str] | None = None) -> dict:
    """NL transformation description -> validated spec dict.

    ``columns``, when given (the orchestrator passes the input schema),
    improves plural resolution ("count names" -> count(name)).
    """
    text = description.strip().rstrip(".").strip()
    if not text:
        raise ParseError("empty description")
    clauses = [c for c in _CLAUSE_SPLIT.split(text) if c and c.strip()]
    ops: list[dict] = []
    for c in clauses:
        parsed = _parse_clause(c, columns)
        ops.extend(parsed if isinstance(parsed, list) else [parsed])
    _strip_unavailable_tiebreaks(ops, columns)
    return validate_spec({"ops": ops})


def _strip_unavailable_tiebreaks(ops: list[dict], columns: list[str] | None) -> None:
    """Drop auto-added top-k tie-break keys whose column an earlier
    clause projected away (e.g. 'Select a and b and for each a show
    top 1 by b' — the primary-key tie-break no longer resolves).
    Tracks the frame's column set through the ops; the '_auto' marker
    is removed in every case so it never reaches the validated spec."""
    cols: set[str] | None = set(columns) if columns else None
    for op in ops:
        kind = op["op"]
        if kind == "window":
            kept = []
            for k in op.get("order_by", []):
                auto = k.pop("_auto", False)
                if auto and cols is not None and k["col"] not in cols:
                    continue
                kept.append(k)
            op["order_by"] = kept
            if cols is not None:
                cols |= {e["alias"] for e in op.get("exprs", [])}
        elif cols is None:
            continue
        elif kind == "select":
            cols = set(op["cols"])
        elif kind == "drop":
            cols -= set(op["cols"])
        elif kind == "rename":
            for old, new in op["renames"].items():
                cols.discard(old)
                cols.add(new)
        elif kind == "with_column":
            cols.add(op["name"])
        elif kind == "groupby_agg":
            cols = set(op["keys"]) | {a["alias"] for a in op["aggs"]}
        elif kind == "bm25":
            cols = {op.get("id_col", "doc_id"), "bm25"}
        elif kind == "ols":
            cols = {op["key"], "n", "slope", "intercept", "r2"}
        elif kind == "gopher":
            cols |= set(_GOPHER_COLS)
        elif kind == "dsir":
            cols = {"doc_id", "n_feats", "log_weight", "avg_log_ratio"}
        elif kind == "fertility":
            cols = {op["key"], "n_docs", "total_words", "total_tokens",
                    "tokens_per_word", "chars_per_token"}
        elif kind == "dup_by_source":
            cols = {op["key"], "n_docs", "n_distinct_grams", "n_gram_occ",
                    "dup_gram_ratio", "cross_source_ratio"}
        elif kind == "kanon":
            cols = {"quasi", "k", "n_rows", "n_groups",
                    "n_violating_groups", "n_rows_at_risk", "risk_ratio",
                    "min_group_size"}
        elif kind == "word_entropy":
            cols = {op.get("id_col", "doc_id"), "n_words", "n_distinct",
                    "entropy", "evenness"}
        elif kind == "oov":
            cols = {op["key"], "n_tokens", "n_oov", "oov_rate"}
        elif kind == "sessionize":
            cols.add("session_id")
        # filter/sort/limit/distinct/sample keep the column set;
        # join/union only ever preserve the left side's columns
