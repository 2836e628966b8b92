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

A description splits into clauses (``_CLAUSE_SPLIT``), and each clause
is parsed by one ordered table, ``_CLAUSES``: a row is an anchored,
case-insensitive pattern and a builder, and the first row whose pattern
matches and whose builder returns ops wins, so table order is
precedence. Most rows are flat, ``_op(name, field=converter, ...)``:
the pattern's named groups are the spec op's fields, in that order,
each passed through a converter (column, raw text, int, float, percent,
column list, quoted list, then-list, constant); an optional group that
did not match leaves its field out unless the row gives it a default,
and the few cross-field checks (``_CHECKS``) raise ParseError. The
window clauses share one builder (``_window``, fn and alias per row);
the shapes that run a sub-grammar or emit several ops (aggregate,
expect, dedup, pivot, CASE, sort, ...) keep a small builder function.

Every aggregate phrasing goes through one clause (``_aggregate``):
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
from typing import Any, Callable

from .spec import _COLUMNLESS_FNS, schema_effect, validate_spec

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
    has 'name' but not 'names' (the eval corpus says "count names").
    With no column list there is nothing to resolve against, so the
    name stays as written."""
    if columns is None or name in columns:
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
_AGGREGATE = (
    rf"^(?:group\s+by\s+(?P<keys>{_GROUP_KEY}(?:\s+and\s+{_GROUP_KEY})*)"
    r"\s+and\s+(?:show\s+)?(?P<aggs>.+?)(?:\s+where\s+(?P<having>.+))?"
    r"|show\s+(?P<shown>.+)"
    r"|(?P<bare>count\s+(?:rows|distinct\s+\w+)))$"
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
_VALUE_LIST_SPLIT = re.compile(r"\s*,\s*|\s+and\s+", re.IGNORECASE)


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


def _aggregate(m: re.Match, columns: list[str] | None) -> list[dict] | None:
    """The aggregate clause -> its ops (a with_column per truncated
    key, then one groupby_agg), or None when a phrase is not one."""
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


# Flat-row converters: (group text, input columns) -> field value.
def _raw(text: str, columns: list[str] | None) -> str:
    return text


def _int(text: str, columns: list[str] | None) -> int:
    return int(text)


def _float(text: str, columns: list[str] | None) -> float:
    return float(text)


def _pct(text: str, columns: list[str] | None) -> float:
    return float(text) / 100.0


def _cols(text: str, columns: list[str] | None) -> list[str]:
    """'a, b and c' -> the plural-resolved columns."""
    return [_resolve_col(c.strip(), columns)
            for c in re.split(r",|\s+and\s+", text, flags=re.IGNORECASE)]


def _names(text: str, columns: list[str] | None) -> list[str]:
    """'a, b' -> the names as written."""
    return [c.strip() for c in text.split(",")]


def _quoted(text: str, columns: list[str] | None) -> list[str]:
    return [v[1:-1] for v in re.findall(r"'[^']*'", text)]


def _then(text: str, columns: list[str] | None) -> list[str]:
    return [s.strip().strip("'") for s in re.split(r"\s+then\s+", text, flags=re.I)]


def _pred(text: str, columns: list[str] | None) -> dict:
    return parse_predicate(text)


def _const(value: Any) -> Callable[[str | None, list[str] | None], Any]:
    return lambda text, columns: value


# a flat row's cross-field checks: op -> (test of the built op, message)
_CHECKS: dict[str, tuple[Callable[[dict], Any], str]] = {
    "winsorize": (lambda op: op["lo"] < op["hi"], "winsorize needs lo < hi"),
    "anomaly": (lambda op: op["n"] >= 3, "anomaly window needs at least 3 rows"),
    "split_assign": (lambda op: len(op["labels"]) == len(op["weights"]),
                     "split needs one label per weight"),
    "bm25": (lambda op: op["terms"], "search needs at least one term"),
}

_Build = Callable[[re.Match, list[str] | None], dict | list[dict] | None]


def _op(name: str, /, **fields: Any) -> _Build:
    """A flat row: the op ``name`` with one field per keyword, in that
    order, each the converter of the same-named group. A field with no
    group (a ``_const``) is always set; an optional group that did not
    match leaves its field out, unless the converter comes as
    ``(converter, default)``: then ``default`` fills it, or
    ``default(op)`` when it is callable."""
    def build(m: re.Match, columns: list[str] | None) -> dict:
        op, groups = {"op": name}, m.groupdict()
        for field, conv in fields.items():
            conv, default = conv if isinstance(conv, tuple) else (conv, None)
            if (text := groups.get(field)) is not None or field not in groups:
                op[field] = conv(text, columns)
            elif default is not None:
                op[field] = default(op) if callable(default) else default
        if name in _CHECKS and not _CHECKS[name][0](op):
            raise ParseError(f"{_CHECKS[name][1]}: {m.string!r}")
        return op
    return build


def _window(fn: str | dict[str, str], alias: str, least: int = 1, why: str = "") -> _Build:
    """A window row: one window op with one expr. Groups: x the
    (plural-resolved) column, by the partition, o the ordering column
    as written (else x orders, descending when desc matched), w a word
    that ``fn`` maps to the window fn, n a row count (ntile: buckets;
    else the frame is the n - 1 preceding rows) of at least ``least``
    (else ParseError ``why``), alpha the ewma smoothing (default 0.5).
    ``alias`` is formatted with the groups and fn."""
    def build(m: re.Match, columns: list[str] | None) -> dict:
        g = {k: v for k, v in m.groupdict().items() if v is not None}
        if "w" in g:
            g["w"] = " ".join(g["w"].lower().split())
        g["fn"] = fn[g["w"]] if isinstance(fn, dict) else fn
        g["x"] = _resolve_col(g["x"], columns)
        expr = {"fn": g["fn"]}
        if g["fn"] not in _COLUMNLESS_FNS:
            expr["col"] = g["x"]
        if "n" in g and (n := int(g["n"])) < least:
            raise ParseError(f"{why}: {m.string!r}")
        if g["fn"] == "ntile":
            expr["n"] = n
        expr["alias"] = alias.format_map(g)
        if g["fn"] == "ewma":
            expr["alpha"] = float(g.get("alpha", 0.5))
        if "n" in g and g["fn"] != "ntile":
            expr["rows_preceding"] = n - 1
        return {"op": "window", "partition_by": [g["by"]] if "by" in g else [],
                "order_by": [{"col": g.get("o", g["x"]), "asc": "desc" not in g}],
                "exprs": [expr]}
    return build


def _word_count(m: re.Match, columns: list[str] | None) -> list[dict]:
    ops: list[dict] = [
        {"op": "explode", "col": _resolve_col(m.group(1), columns), "alias": "word"},
        {"op": "groupby_agg", "keys": ["word"],
         "aggs": [{"fn": "count", "col": "*", "alias": "n"}]},
    ]
    if m.group(2):
        ops += [
            {"op": "sort", "keys": [{"col": "n", "asc": False}, {"col": "word", "asc": True}]},
            {"op": "limit", "n": int(m.group(2))},
        ]
    return ops


def _dedup_docs(m: re.Match, columns: list[str] | None) -> dict:
    # exact dedup of the documents table: key on the text, keep the
    # lowest doc_id — the deterministic keyed-dedup op, so the oracle
    # renders for free
    return {"op": "dedup", "keys": [_resolve_col("text", columns)],
            "keep_col": _resolve_col("doc_id", columns), "keep": "min"}


_EXP_UNIQUE = re.compile(r"^(\w+)\s+is\s+unique$", re.IGNORECASE)
_EXP_NOT_NULL = re.compile(r"^(\w+)\s+is\s+not\s+null$", re.IGNORECASE)
_EXP_IN = re.compile(
    r"^(\w+)\s+is\s+in\s+('[^']*'(?:\s*,\s*'[^']*')*)$", re.IGNORECASE
)
_EXP_MIN_ROWS = re.compile(r"^at\s+least\s+(\d+)\s+rows?$", re.IGNORECASE)


def _expect(m: re.Match, columns: list[str] | None) -> dict:
    exps: list[dict] = []
    for part in re.split(r"\s+and\s+", m.group(1), flags=re.IGNORECASE):
        part = part.strip()
        if mm := _EXP_UNIQUE.match(part):
            exps.append({"kind": "unique", "col": _resolve_col(mm.group(1), columns)})
        elif mm := _EXP_NOT_NULL.match(part):
            exps.append({"kind": "not_null", "col": _resolve_col(mm.group(1), columns)})
        elif mm := _EXP_IN.match(part):
            exps.append({"kind": "accepted_values", "col": _resolve_col(mm.group(1), columns),
                         "values": _quoted(mm.group(2), columns)})
        elif mm := _EXP_MIN_ROWS.match(part):
            exps.append({"kind": "min_rows", "n": int(mm.group(1))})
        else:
            raise ParseError(f"unknown expectation: {part!r}")
    return {"op": "expect", "expectations": exps}


_CONVERT_TYPES = {
    "integer": "long", "long": "long", "double": "double", "float": "double",
    "string": "string", "text": "string", "date": "date",
    "timestamp": "timestamp",
}


def _json_get(m: re.Match, columns: list[str] | None) -> dict:
    kind_, field, src, alias = m.groups()
    expr: dict = {"json_get": [_resolve_col(src, columns), field]}
    if kind_.lower() == "number":
        expr = {"cast": [expr, "double"]}
    name = alias or field
    op = {"op": "with_column", "name": name, "expr": expr}
    if columns and name in columns:
        op["replace"] = True
    return op


def _dedup(m: re.Match, columns: list[str] | None) -> dict:
    by, keep, keep_col, tiebreak = m.groups()
    if keep:
        # "keeping the lowest/highest <col>" makes the kept row
        # deterministic -> the keyed dedup op (oracle-renderable), not
        # arbitrary-row distinct-by-cols
        if not by:
            raise ParseError("deduplicate ... keeping ... needs 'by <columns>'")
        op = {"op": "dedup", "keys": _parse_select_cols(by),
              "keep_col": _resolve_col(keep_col, columns),
              "keep": "min" if keep.lower() == "lowest" else "max"}
        if tiebreak:
            # "breaking ties by <col>": deterministic winner when
            # keep_col ties within a group (always ascending)
            op["tiebreak"] = _resolve_col(tiebreak, columns)
        return op
    if tiebreak:
        raise ParseError(
            "deduplicate ... breaking ties ... needs 'keeping the lowest/highest <col>'"
        )
    op = {"op": "distinct"}
    if by:
        op["cols"] = _parse_select_cols(by)
    return op


def _select_distinct(m: re.Match, columns: list[str] | None) -> list[dict]:
    return [{"op": "select", "cols": _parse_select_cols(m.group(1))}, {"op": "distinct"}]


_PIVOT_AGG_WORDS = {"summing": "sum", "averaging": "avg",
                    "taking minimum of": "min", "taking maximum of": "max"}


def _slug_alias(value: str, prefix: str = "n_") -> str:
    """Deterministic output-column alias for a pivot value — the same
    name the sqlgen oracle emits, so hash-compares line up."""
    return prefix + (re.sub(r"[^a-z0-9]+", "_", value.lower()).strip("_") or "value")


def _pivot(m: re.Match, columns: list[str] | None) -> dict:
    """Declared-values pivot: counting rows (aliases n_<value>), or
    summing/averaging/taking minimum or maximum of x (<fn>_<value>)."""
    g = m.groupdict()
    vals = [v.strip().strip("'\"") for v in _VALUE_LIST_SPLIT.split(g["values"]) if v.strip()]
    agg, prefix = {"fn": "count", "col": "*"}, "n_"
    if g.get("w"):
        fn = _PIVOT_AGG_WORDS[re.sub(r"\s+", " ", g["w"].lower())]
        agg, prefix = {"fn": fn, "col": _resolve_col(g["x"], columns)}, f"{fn}_"
    return {"op": "pivot", "keys": [_resolve_col(g["key"], columns)],
            "col": _resolve_col(g["col"], columns), "values": vals, "agg": agg,
            "aliases": [_slug_alias(v, prefix) for v in vals]}


def _rollup(m: re.Match, columns: list[str] | None) -> dict:
    keys = re.split(r"\s+then\s+", m.group(1), flags=re.IGNORECASE)
    return {"op": "rollup", "keys": [_resolve_col(k, columns) for k in keys],
            "aggs": [{"fn": "count", "col": "*", "alias": "n_rows"}], "gid_alias": "gid"}


_ASOF_DIRECTIONS = {"nearest": "nearest", "previous": "backward", "next": "forward"}
_ASOF_UNITS = {"second": "second", "day": "day", "unit": "raw"}


def _asof(m: re.Match, columns: list[str] | None) -> dict:
    direction, right, on, ts, taking, tol, unit = m.groups()
    op = {"op": "asof_join", "right": right, "on": on, "ts": ts,
          "right_cols": _names(taking, columns),
          "direction": _ASOF_DIRECTIONS[direction.lower()]}
    if tol:
        tol = float(tol)
        op["tolerance"] = int(tol) if tol.is_integer() else tol
        op["tolerance_unit"] = _ASOF_UNITS[unit.lower()]
    return op


def _seconds(text: str, columns: list[str] | None) -> int:
    n, unit = text.split()
    return int(n) * {"second": 1, "minute": 60, "hour": 3600}[unit.lower()]


def _group_top_k(m: re.Match, columns: list[str] | None) -> list[dict]:
    g, n, v = m.group(1), int(m.group(2)), _resolve_col(m.group(3), columns)
    # deterministic tie-break (determinism policy): append the table's
    # first column (the star schema's primary key) so row_number's
    # order is total even when top values tie. Marked _auto so
    # parse_description can strip it if an earlier clause dropped that
    # column (the marker never reaches the validated spec).
    order = [{"col": v, "asc": False}]
    if columns and columns[0] not in (v, g):
        order.append({"col": columns[0], "asc": True, "_auto": True})
    return [
        {"op": "window", "partition_by": [g], "order_by": order,
         "exprs": [{"fn": "row_number", "alias": "_rn"}]},
        {"op": "filter", "expr": {"le": [{"col": "_rn"}, n]}},
        {"op": "drop", "cols": ["_rn"]},
    ]


# "add tier column as 'low' when o_totalprice < 100000, 'mid' when
# o_totalprice < 300000, otherwise 'high'" -> ANSI CASE (first match
# wins). Branches split on top-level commas only, so IN-lists inside a
# when-predicate survive; values are quoted strings or bare numbers.
_CASE_BRANCH = re.compile(
    r"^('[^']*'|-?\d+(?:\.\d+)?)\s+when\s+(.+)$", re.IGNORECASE
)
_CASE_ELSE = re.compile(
    r"^(?:otherwise\s+('[^']*'|-?\d+(?:\.\d+)?)"
    r"|('[^']*'|-?\d+(?:\.\d+)?)\s+otherwise)$",
    re.IGNORECASE,
)
_ADD_COLUMN = r"^add\s+(?P<name>\w+)\s+column\s+where\s+\w+\s*=\s*(?P<expr>.*)$"


def _case_column(m: re.Match, columns: list[str] | None) -> dict | None:
    clause = m.string
    if re.match(_ADD_COLUMN, clause, re.IGNORECASE):
        return None
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


def _in_place(m: re.Match, columns: list[str] | None) -> dict:
    """'replace missing X with V' (coalesce, the post-outer-join null
    fill) / 'convert X to T' (cast): a with_column over the same name,
    so the column keeps its position and later clauses see the new
    value."""
    col, g = m["name"], m.groupdict()
    if "fill" in g:
        expr = {"coalesce": [{"col": col}, _case_literal(g["fill"])]}
    else:
        expr = {"cast": [{"col": col}, _CONVERT_TYPES[g["type"].lower()]]}
    return {"op": "with_column", "name": col, "replace": True, "expr": expr}


def _renames(text: str, columns: list[str] | None) -> dict:
    old, _, new = text.split()
    return {old: new}


# multi-key: "sort by age desc, name" — each comma part is col [dir]
_SORT_KEY = re.compile(
    r"(\w+)(?:\s+(desc(?:ending)?|asc(?:ending)?))?", re.IGNORECASE
)


def _sort(m: re.Match, columns: list[str] | None) -> dict:
    keys = []
    for part in re.split(r"\s*,\s*", m.group(1).strip()):
        km = _SORT_KEY.fullmatch(part.strip())
        if not km:
            raise ParseError(f"bad sort key {part!r}")
        keys.append({"col": km.group(1),
                     "asc": not (km.group(2) or "").lower().startswith("desc")})
    return {"op": "sort", "keys": keys}


def _select_cols(m: re.Match, columns: list[str] | None) -> dict | None:
    # "select name, city" / "select columns name and age": a projection
    # iff the payload is a bare column list; else a filter
    if "where" in m.string.lower():
        return None
    try:
        return {"op": "select", "cols": _parse_select_cols(m.group(1))}
    except ParseError:
        return None  # "select rows where ..." style filter


# The clause table: one row per clause shape, (pattern, builder), tried
# in order, so order is precedence. A builder turns the match into the
# clause's op (or ops), or returns None to let the next rows try. Most
# rows are flat (``_op``: the pattern's named groups are the op's
# fields); the rest run a sub-grammar or emit several ops. Every
# pattern is anchored and case-insensitive.
_CLAUSES: list[tuple[re.Pattern, _Build]] = [
    (re.compile(pattern, re.IGNORECASE), build)
    for pattern, build in (
        (r"^(?:sample|keep)\s+(?P<fraction>\d+(?:\.\d+)?)\s*(?:%|percent)\s+of\s+"
         r"(?:the\s+)?(?:rows|documents)\s+by\s+(?P<key>\w+)\s*$",
         _op("sample", fraction=_pct, key=_raw)),
        # "split text into words and count each word [showing top 50]":
        # explode + groupby-count; the top-k sorts on (count desc, word
        # asc) so the boundary is a total order
        (r"^split\s+(\w+)\s+into\s+words\s+and\s+count\s+each\s+word"
         r"(?:\s+showing\s+top\s+(\d+))?$", _word_count),
        (r"^remove\s+duplicate\s+documents(?:\s+keeping\s+the\s+first)?\s*$", _dedup_docs),
        # "pick 3 negatives per vector from a pool of 64": deterministic
        # contrastive negative sampling (different-label, broadcast pool)
        (r"^pick\s+(?P<k>\d+)\s+negatives\s+per\s+vector"
         r"(?:\s+from\s+a\s+pool\s+of\s+(?P<pool>\d+))?\s*$",
         _op("negatives", k=_int, pool=_int)),
        # "chunk documents into 32-word chunks every 16 words": sliding
        # windows (stride = the every-N phrase, else the size: no overlap)
        (r"^chunk\s+documents\s+into\s+(?P<size>\d+)-word\s+chunks?"
         r"(?:\s+every\s+(?P<stride>\d+)\s+words?)?\s*$",
         _op("chunk", size=_int, stride=(_int, lambda op: op["size"]))),
        # "resample value every 6 hours per user_id with linear
        # interpolation": regular-grid resample (ts/id default to the
        # events table's names)
        (r"^resample\s+(?P<val>\w+)\s+every\s+(?P<step_hours>\d+(?:\.\d+)?)\s+hours?"
         r"\s+per\s+(?P<key>\w+)(?:\s+with\s+linear\s+interpolation)?\s*$",
         _op("resample", val=_resolve_col, step_hours=_float, key=_resolve_col)),
        # "winsorize value at 5/95 within each event_type": per-group
        # percentile clamp to the [p05, p95] band
        (r"^winsorize\s+(?P<col>\w+)\s+at\s+(?P<lo>\d+(?:\.\d+)?)/(?P<hi>\d+(?:\.\d+)?)\s+"
         r"within\s+each\s+(?P<keys>\w+)\s*$",
         _op("winsorize", col=_resolve_col, keys=_cols, lo=_pct, hi=_pct)),
        # text-analysis projections over the document table: each adds
        # typed per-row columns with no shuffle
        (r"^detect\s+the\s+language\s+of\s+each\s+(?:document|row)\s*$", _op("langid")),
        # mask emails and long digit runs in the text column in place
        (r"^redact\s+(?:emails?\s+and\s+(?:long\s+)?numbers?|pii)\s+"
         r"in\s+each\s+(?:document|row)\s*$", _op("redact")),
        # "remove documents containing the words 'x', 'y'": C4-style
        # word-level blocklist screen, a pure per-row filter
        (r"^remove\s+(?:documents|rows)\s+containing\s+(?:the\s+)?words?\s+"
         r"(?P<words>'[^']*'(?:\s*,\s*'[^']*')*)\s*$", _op("blocklist", words=_quoted)),
        # "check k-anonymity of user_id and event_type at 5": one-row
        # report of quasi-identifier groups smaller than k
        (r"^check\s+k-?anonymity\s+of\s+(?P<cols>\w+(?:(?:\s*,\s*|\s+and\s+)\w+)*)\s+"
         r"at\s+(?P<k>\d+)\s*$", _op("kanon", cols=_cols, k=_int)),
        # "compute the spearman [rank] correlation [matrix] of a, b and
        # c" / "compute the correlation matrix of ...": one row per pair
        (r"^(?:compute|show)\s+(?:the\s+)?spearman\s+(?:rank\s+)?correlation(?:\s+matrix)?"
         r"\s+of\s+(?P<cols>\w+(?:(?:\s*,\s*|\s+and\s+)\w+)+)\s*$",
         _op("spearman", cols=_cols)),
        (r"^(?:compute|show)\s+(?:the\s+)?correlation(?:\s+matrix)?\s+of\s+"
         r"(?P<cols>\w+(?:(?:\s*,\s*|\s+and\s+)\w+)+)\s*$", _op("correlate", cols=_cols)),
        (r"^(?:compute|show)\s+(?:the\s+)?mutual\s+information\s+"
         r"between\s+(?P<a>\w+)\s+and\s+(?P<b>\w+)\s*$",
         _op("mutual_info", a=_resolve_col, b=_resolve_col)),
        # "compute the [one-way] anova of <value> by|across <group>" /
        # "compare the mean [of] <value> across <group>": F / eta^2 row
        (r"^(?:compute|show)\s+(?:the\s+)?(?:one[- ]way\s+)?anova\s+of\s+"
         r"(?P<value>\w+)\s+(?:by|across)\s+(?P<group>\w+)\s*$",
         _op("anova", value=_resolve_col, group=_resolve_col)),
        (r"^compare\s+(?:the\s+)?mean\s+(?:of\s+)?(?P<value>\w+)\s+across\s+(?P<group>\w+)\s*$",
         _op("anova", value=_resolve_col, group=_resolve_col)),
        # "compute the funnel of <type> steps <a> then <b> [then ...]
        # per <user> ordered by <ts>": per-step reached users + conversion
        (r"^(?:compute|show)\s+(?:the\s+)?funnel\s+of\s+(?P<type>\w+)\s+steps\s+"
         r"(?P<steps>'?\w+'?(?:\s+then\s+'?\w+'?)+)\s+per\s+(?P<user>\w+)\s+"
         r"ordered\s+by\s+(?P<ts>\w+)\s*$",
         _op("funnel", type=_resolve_col, steps=_then, user=_resolve_col, ts=_resolve_col)),
        # "score each document's 3-gram novelty": per-doc fraction of
        # distinct n-grams first seen in that doc
        (r"^(?:score|compute|show)\s+(?:each\s+document'?s?\s+)?"
         r"(?P<n>\d+)-gram\s+novelty\s*$", _op("novelty", n=_int)),
        # "audit the [source] concentration of the token mass [by <key>]":
        # HHI / Gini / top-share report; "compute the hapax ratio [per
        # <key>]": per-group share of the vocabulary occurring once
        (r"^(?:audit|compute|show)\s+(?:the\s+)?(?:source\s+)?concentration"
         r"\s+of\s+(?:the\s+)?token\s+mass(?:\s+by\s+(?P<key>\w+))?\s*$",
         _op("concentration", key=(_resolve_col, "source"))),
        (r"^(?:compute|show|score)\s+(?:the\s+)?hapax\s+ratio"
         r"(?:\s+per\s+(?P<key>\w+))?\s*$", _op("hapax", key=(_resolve_col, "source"))),
        # "flag anomalies in <col> over last <N> rows per <key> ordered by
        # <o> [above z <t>]": rolling z-score flags
        (r"^flag\s+anomalies\s+in\s+(?P<col>\w+)\s+over\s+last\s+(?P<n>\d+)\s+rows\s+"
         r"per\s+(?P<key>\w+)\s+ordered\s+by\s+(?P<order_col>\w+)"
         r"(?:\s+above\s+z\s+(?P<z>\d+(?:\.\d+)?))?\s*$",
         _op("anomaly", col=_resolve_col, key=_resolve_col, order_col=_resolve_col,
             n=_int, z=_float)),
        # "compute the inter-annotator agreement of <label> per <key>":
        # Krippendorff's alpha (nominal, varying ratings per item)
        (r"^(?:compute|report|check)\s+(?:the\s+)?(?:inter-?annotator\s+)?"
         r"agreement\s+(?:of|on)\s+(?P<label>\w+)\s+per\s+(?P<key>\w+)\s*$",
         _op("agreement", label=_resolve_col, key=_resolve_col)),
        (r"^(?:take|aggregate|compute)\s+(?:the\s+)?majority\s+vote\s+of\s+"
         r"(?P<label>\w+)\s+per\s+(?P<key>\w+)\s*$",
         _op("majority", label=_resolve_col, key=_resolve_col)),
        # "compute retrieval NDCG at 10 for the first 8 queries": NDCG@k
        # against the labels, queries = the first n vector ids
        (r"^(?:compute|report|evaluate)\s+(?:the\s+)?retrieval\s+ndcg\s+"
         r"at\s+(?P<k>\d+)\s+for\s+(?:the\s+first\s+)?(?P<n_queries>\d+)\s+queries\s*"
         r"(?:against\s+the\s+labels\s*)?$", _op("ndcg", k=_int, n_queries=_int)),
        # per-label centroid-form silhouette
        (r"^(?:how\s+well\s+separated\s+are\s+(?:my|the)\s+labels"
         r"|(?:compute|report|check|show)\s+(?:the\s+)?"
         r"(?:label\s+)?(?:silhouette|separation)"
         r"(?:\s+of\s+(?:my|the)\s+labels)?)\s*$", _op("silhouette")),
        (r"^train\s+a\s+bpe\s+tokenizer\s+with\s+(?P<n>\d+)\s+merges?\s*$",
         _op("bpe_merges", n=_int)),
        # all-but-the-top audit: per vector, the projection onto the
        # corpus top principal component
        (r"^(?:audit\s+the\s+common\s+direction\s+of\s+(?:the\s+)?"
         r"(?:embeddings|vectors)"
         r"|which\s+(?:embeddings|vectors)\s+are\s+dominated\s+by\s+"
         r"(?:the\s+)?common\s+direction)\s*$", _op("common_direction")),
        # "allocate a training budget of 48000 tokens across sources with
        # at most 2 epochs": UniMax epoch-capped allocation
        (r"^allocate\s+a\s+(?:training\s+)?budget\s+of\s+(?P<budget>\d+)\s+tokens\s+"
         r"across\s+(?P<key>\w+)(?:\s+with\s+at\s+most\s+(?P<epochs>\d+)\s+epochs?)?\s*$",
         _op("unimax", budget=_int, key=_resolve_col, epochs=_int)),
        # "bootstrap a 95% confidence interval for the mean value per
        # event_type keyed by event_id [with 40 replicates]"
        (r"^bootstrap\s+a\s+95%\s+confidence\s+interval\s+for\s+the\s+"
         r"mean\s+(?P<col>\w+)\s+per\s+(?P<key>\w+)\s+keyed\s+by\s+(?P<id>\w+)"
         r"(?:\s+with\s+(?P<n>\d+)\s+replicates?)?\s*$",
         _op("bootstrap_mean", col=_resolve_col, key=_resolve_col, id=_resolve_col, n=_int)),
        # CCNet-style head/middle/tail perplexity tertiles per language
        (r"^bucket\s+(?:the\s+)?documents\s+by\s+perplexity"
         r"(?:\s+against\s+the\s+(?P<ref_source>\w+)\s+slice)?\s*$",
         _op("perplexity_buckets", ref_source=_raw)),
        (r"^compute\s+(?:the\s+)?word\s+entropy\s+(?:of|for)\s+each\s+"
         r"(?:document|row)\s*$", _op("word_entropy")),
        # tokenizer coverage against the top-v corpus words
        (r"^report\s+(?:the\s+)?out-of-vocabulary\s+rate\s+per\s+(?P<key>\w+)"
         r"(?:\s+against\s+(?:the\s+)?top\s+(?P<v>\d+)\s+words)?\s*$",
         _op("oov", key=_resolve_col, v=_int)),
        # the Gopher heuristic rule battery, paper-default thresholds
        (r"^apply\s+(?:the\s+)?gopher\s+quality\s+rules\s+to\s+each\s+"
         r"(?:document|row)\s*$", _op("gopher")),
        # "weight documents by importance to lang 'en'": DSIR hashed
        # n-gram importance weights against the target slice
        (r"^weight\s+(?:the\s+)?(?:documents|rows)\s+by\s+importance\s+to\s+"
         r"(?P<target_col>\w+)\s+'(?P<target_val>[^']*)'\s*$",
         _op("dsir", target_col=_resolve_col, target_val=_raw)),
        (r"^compute\s+token\s+fertility\s+per\s+(?P<key>\w+)\s*$",
         _op("fertility", key=_resolve_col)),
        # "audit 5-gram duplication per source": n-gram occurrences
        # duplicated across documents / shared across groups
        (r"^(?:audit|report)\s+(?:(?P<n>\d+)-gram\s+)?duplication\s+(?:per|by)\s+(?P<key>\w+)\s*$",
         _op("dup_by_source", key=_resolve_col, n=_int)),
        # winnowing (MOSS) keep-first dedup by fingerprint-set overlap
        (r"^remove\s+documents\s+sharing\s+fingerprinted\s+passages"
         r"\s+above\s+(?P<overlap>0?\.\d+|1(?:\.0+)?)\s+overlap\s*$",
         _op("winnow_dedup", overlap=_float)),
        # what a corpus-wide lowest-id-keeper exact dedup removes per group
        (r"^(?:report|price)\s+(?:the\s+)?dedup\s+savings\s+(?:per|by)\s+(?P<key>\w+)\s*$",
         _op("dedup_savings", key=_resolve_col)),
        # pairwise Jensen-Shannon divergence of per-group unigram
        # distributions ("between sources" resolves to source)
        (r"^(?:report|compare)\s+vocabulary\s+divergence\s+(?:per|by|between)"
         r"\s+(?P<key>\w+)\s*$", _op("vocab_divergence", key=_resolve_col)),
        # "check that doc_id is unique and text is not null and lang is
        # in 'en', 'de' and at least 100 rows": the data-quality
        # contract; value lists are quoted so "and" never splits them
        (r"^check\s+that\s+(.+)$", _expect),
        (r"^count\s+tokens\s+in\s+each\s+(?:document|row)\s*$", _op("token_counts")),
        (r"^score\s+(?:the\s+)?quality\s+of\s+each\s+(?:document|row)\s*$",
         _op("quality_score")),
        # "split into 90/5/5 train/val/test by doc_id": N-way hash split
        (r"^split\s+into\s+(?P<weights>\d+(?:\.\d+)?(?:/\d+(?:\.\d+)?)+)\s+"
         r"(?P<labels>\w+(?:/\w+)+)\s+by\s+(?P<key>\w+)\s*$",
         _op("split_assign", key=_resolve_col,
             weights=lambda text, columns: [float(w) for w in text.split("/")],
             labels=lambda text, columns: text.split("/"))),
        # "extract the number k from props" / "extract the text field
        # name from props as author": json_get ('number' casts to double,
        # the portable numeric form)
        (r"^extract\s+the\s+(number|text)\s+(?:field\s+)?(\w+)\s+from\s+(\w+)"
         r"(?:\s+as\s+(\w+))?\s*$", _json_get),
        # the corpus pipeline: LSH near-dup chain + greedy keep-first,
        # MERGE upsert from a named table, 3-gram decontamination,
        # sequence packing, exact cosine top-k
        (r"^remove\s+near[- ]duplicate\s+documents?\s+above\s+"
         r"(?P<threshold>0?\.\d+|1(?:\.0+)?)\s+similarity\s*$",
         _op("neardup", threshold=_float)),
        (r"^merge\s+(?P<right>\w+)\s+into\s+the\s+table\s+on\s+(?P<key>\w+)\s*$",
         _op("merge", right=_raw, key=_resolve_col)),
        (r"^drop\s+documents\s+that\s+appear\s+in\s+(?P<right>\w+)\s*$",
         _op("decontaminate", right=_raw)),
        (r"^pack\s+documents\s+into\s+sequences\s+of\s+(?P<budget>\d+)\s+tokens\s*$",
         _op("pack", budget=_int)),
        (r"^find\s+(?:the\s+)?(?P<k>\d+)\s+(?:most\s+similar|nearest|closest)\s+"
         r"(?:vectors?|neighbou?rs?|embeddings?)\s+(?:to|of)\s+vector\s+(?P<query_id>\d+)\s*$",
         _op("ann_topk", k=_int, query_id=_int)),
        (r"^(?:deduplicate|drop\s+duplicates?|remove\s+duplicates?)(?:\s+rows)?"
         r"(?:\s+by\s+(.+?))?"
         r"(?:\s+keeping\s+the\s+(lowest|highest)\s+(\w+))?"
         r"(?:\s+breaking\s+ties\s+by\s+(\w+))?$", _dedup),
        (r"^select\s+distinct\s+(.*)$", _select_distinct),
        # "pivot o_orderstatus by o_orderpriority counting rows for
        # values F, O and P" / "... summing o_totalprice for values F, O"
        (r"^pivot\s+(?P<col>\w+)\s+by\s+(?P<key>\w+)\s+counting\s+rows\s+for\s+values"
         r"\s+(?P<values>.+?)\s*$", _pivot),
        (r"^pivot\s+(?P<col>\w+)\s+by\s+(?P<key>\w+)\s+"
         r"(?P<w>summing|averaging|taking\s+minimum\s+of|taking\s+maximum\s+of)\s+(?P<x>\w+)"
         r"\s+for\s+values\s+(?P<values>.+?)\s*$", _pivot),
        # "group by o_orderpriority then o_orderstatus with subtotals and
        # count rows"
        (r"^group\s+by\s+(\w+(?:\s+then\s+\w+)+)\s+with\s+subtotals"
         r"\s+and\s+count\s+rows\s*$", _rollup),
        (_AGGREGATE, _aggregate),
        # "show most common o_orderpriority per o_orderstatus": per-group MODE
        (r"^(?:show\s+)?most\s+common\s+(?P<col>\w+)\s+per\s+(?P<keys>\w+)\s*$",
         _op("mode", keys=_names, col=_resolve_col)),
        # "join nearest views on user_id by ts taking view_event_id
        # [within 300 seconds|5 days|10 units]": as-of join (nearest,
        # previous = backward, next = forward); 'taking' lists the right
        # columns attached as asof_<name>; 'within' bounds the distance
        (r"^join\s+(nearest|previous|next)\s+(\w+)\s+on\s+(\w+)\s+by\s+(\w+)"
         r"\s+taking\s+(\w+(?:\s*,\s*\w+)*)"
         r"(?:\s+within\s+(\d+(?:\.\d+)?)\s+(second|day|unit)s?)?\s*$", _asof),
        (r"^sessionize\s+by\s+(?P<key>\w+)\s+with\s+"
         r"(?P<gap_seconds>\d+\s+(?:second|minute|hour))s?\s+gap\s*$",
         _op("sessionize", key=_raw, gap_seconds=_seconds)),
        (r"^for\s+each\s+(\w+)\s+show\s+top\s+(\d+)\s+by\s+(\w+)\s*$", _group_top_k),
        # "join with customer on custkey" / "broadcast join nation on
        # n_nationkey" / "left join orders with customer on c_custkey":
        # the left side is the clause pipeline's input; the right table
        # resolves through the compiler's tables map
        (r"^(?P<broadcast>broadcast\s+)?"
         r"(?:(?P<how>inner|left_semi|left_anti|left|right|full|cross)\s+)?join\s+"
         r"(?:\w+\s+with\s+|with\s+)?(?P<right>\w+)\s+on\s+(?P<on>\w+(?:\s*,\s*\w+)*)\s*$",
         _op("join", right=_raw, on=_names, how=(lambda text, columns: text.lower(), "inner"),
             broadcast=_const(True))),
        # existence joins: "keep rows that exist in lineitem on
        # l_orderkey" (semi) / "keep rows with no match in ..." (anti);
        # only the left side's columns survive
        (r"^keep\s+rows\s+(?:that\s+(?:exist|match|have\s+a\s+match)\s+in|"
         r"with\s+a\s+match\s+in)\s+(?P<right>\w+)\s+on\s+(?P<on>\w+(?:\s*,\s*\w+)*)\s*$",
         _op("join", right=_raw, on=_names, how=_const("left_semi"))),
        (r"^keep\s+rows\s+with(?:\s+no|out\s+a?)\s+match\s+in\s+"
         r"(?P<right>\w+)\s+on\s+(?P<on>\w+(?:\s*,\s*\w+)*)\s*$",
         _op("join", right=_raw, on=_names, how=_const("left_anti"))),
        # "append [distinct] rows from <table>": union all by column name
        # (distinct: union + dedup)
        (r"^append\s+(?P<distinct>distinct\s+)?rows\s+from\s+(?P<right>\w+)\s*$",
         _op("union", right=_raw, distinct=_const(True))),
        # "add running total of value per user_id ordered by ts": the
        # default RANGE frame, so order ties accumulate together
        (r"^add\s+running\s+(?P<w>total|sum|count|average|minimum|maximum)\s+of\s+(?P<x>\w+)"
         r"\s+per\s+(?P<by>\w+)\s+ordered\s+by\s+(?P<o>\w+)\s*$",
         _window(_AGG_FNS, "running_{fn}_{x}")),
        # "add exponential moving average of value over last 5 rows per
        # user_id ordered by ts [with smoothing 0.7]": a bounded weighted
        # lag chain (a^j weights, renormalized over the available lags)
        (r"^add\s+exponential\s+moving\s+average\s+of\s+(?P<x>\w+)"
         r"\s+over\s+last\s+(?P<n>\d+)\s+rows\s+per\s+(?P<by>\w+)\s+ordered\s+by\s+(?P<o>\w+)"
         r"(?:\s+with\s+smoothing\s+(?P<alpha>0?\.\d+))?\s*$",
         _window("ewma", "ewma_{x}", 2, "exponential moving average needs at least 2 rows")),
        # "add moving average of value over last 5 rows per user_id
        # ordered by ts": a sliding ROWS frame
        (r"^add\s+moving\s+(?P<w>total|sum|count|average|minimum|maximum|median)\s+of\s+"
         r"(?P<x>\w+)\s+over\s+last\s+(?P<n>\d+)\s+rows\s+per\s+(?P<by>\w+)"
         r"\s+ordered\s+by\s+(?P<o>\w+)\s*$",
         _window(_AGG_FNS, "moving_{fn}_{x}", 1, "moving window needs at least 1 row")),
        # "add row number ordered by event_id": a global ordinal; the
        # compiler ranks numeric ascending orders in two phases, so no
        # single-partition sort runs
        (r"^add\s+row\s+number\s+ordered\s+by\s+(?P<x>\w+)(?P<desc>\s+descending)?\s*$",
         _window("row_number", "row_num")),
        (r"^add\s+(?P<w>previous|next)\s+(?P<x>\w+)\s+per\s+(?P<by>\w+)"
         r"\s+ordered\s+by\s+(?P<o>\w+)\s*$",
         _window({"previous": "lag", "next": "lead"}, "{w}_{x}")),
        # "divide into 10 buckets by event_id per user_id": ntile; pick a
        # tie-free ordering column (ntile splits ties arbitrarily)
        (r"^divide\s+into\s+(?P<n>\d+)\s+buckets\s+by\s+(?P<x>\w+)\s+per\s+(?P<by>\w+)\s*$",
         _window("ntile", "bucket_{x}", 1, "ntile needs at least 1 bucket")),
        # rank- and count-based, so deterministic under order ties
        (r"^add\s+(?P<w>percentile\s+rank|cumulative\s+distribution)\s+of\s+(?P<x>\w+)"
         r"\s+per\s+(?P<by>\w+)\s*$",
         _window({"percentile rank": "percent_rank", "cumulative distribution": "cume_dist"},
                 "{fn}_{x}")),
        # "add first value per user_id ordered by event_id [over last 3
        # rows]": the rows suffix makes it a sliding frame
        (r"^add\s+first\s+(?P<x>\w+)\s+per\s+(?P<by>\w+)\s+ordered\s+by\s+(?P<o>\w+)"
         r"(?:\s+over\s+last\s+(?P<n>\d+)\s+rows)?\s*$",
         _window("first_value", "first_{x}", 1, "first over last needs >= 1 row")),
        (r"^add\s+(\w+)\s+column\s+as\s+(.+)$", _case_column),
        (_ADD_COLUMN, _op("with_column", name=_raw, expr=_pred)),
        # "fit l_extendedprice on l_quantity per p_brand": per-group OLS
        (r"^fit\s+(?P<y>\w+)\s+on\s+(?P<x>\w+)\s+per\s+(?P<key>\w+)\s*$",
         _op("ols", key=_raw, y=_resolve_col, x=_resolve_col)),
        # "search for 'vector stream' and show top 10 matches": BM25 top-k
        (r"^search\s+for\s+'(?P<terms>[^']+)'"
         r"(?:\s+and\s+show\s+top\s+(?P<k>\d+)(?:\s+matches)?)?\s*$",
         _op("bm25", terms=lambda text, columns: text.split(), k=(_int, 10))),
        (r"^replace\s+missing\s+(?P<name>\w+)\s+with\s+(?P<fill>'[^']*'|-?\d+(?:\.\d+)?)\s*$",
         _in_place),
        (r"^convert\s+(?P<name>\w+)\s+to\s+"
         r"(?P<type>integer|long|double|float|string|text|date|timestamp)\s*$", _in_place),
        (r"^rename\s+(?:column\s+)?(?P<renames>\w+\s+to\s+\w+)\s*$",
         _op("rename", renames=_renames)),
        (r"^drop\s+(?:column\s+)?(?P<cols>\w+)(?:\s+column)?\s*$", _op("drop", cols=_names)),
        (r"^sort\s+by\s+(.+)$", _sort),
        (r"^keep\s+top\s+(?P<n>\d+)(?:\s+rows?)?\s*$", _op("limit", n=_int)),
        (r"^select\s+(?:columns?\s+)?(.*)$", _select_cols),
        (r"^(?:filter|select)\s+(?:rows\s+)?(?:where\s+)?(?P<expr>.*)$",
         _op("filter", expr=_pred)),
    )
]


def _parse_clause(clause: str, columns: list[str] | None) -> dict | list[dict]:
    clause = clause.strip().rstrip(".").strip()
    for pattern, build in _CLAUSES:
        if (m := pattern.match(clause)) and (ops := build(m, columns)) is not None:
            return ops
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
    clause removed (e.g. 'Select a and b and for each a show top 1 by
    b', or a pivot before the top-k: the primary-key tie-break no
    longer resolves). Tracks the frame's column set through the ops:
    the report ops below by their output columns, any other op by its
    spec schema effect (a replacing op leaves no input column to break
    ties on). The '_auto' marker is removed in every case so it never
    reaches the validated spec."""
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
        if cols is None or kind in ("join", "union", "asof_join", "merge"):
            continue  # these keep the left side's columns
        if kind == "drop":
            cols -= set(op["cols"])
        elif kind == "rename":
            for old, new in op["renames"].items():
                cols.discard(old)
                cols.add(new)
        elif kind == "groupby_agg":
            cols = set(op["keys"]) | {a["alias"] for a in op["aggs"]}
        elif kind == "bm25":
            cols = {op.get("id_col", "doc_id"), "bm25"}
        elif kind == "ols":
            cols = {op["key"], "n", "slope", "intercept", "r2"}
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
        else:
            effect, named = schema_effect(op)
            if effect == "only":
                cols = set(named)
            elif effect == "replaces":
                cols = set()
            else:  # keeps, or writes the named columns
                cols |= named
