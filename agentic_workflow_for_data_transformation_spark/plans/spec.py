"""Transform-spec IR: a typed, JSON-serializable list of relational ops.

This replaces the reference's free-text plan + LLM-generated pandas
source (reference agentic_workflow_transformation.py:18-19 keeps
``plan: str`` and ``code: str`` in state; the code is later ``exec``'d
at :129). Here the plan IS the program: a validated list of ops that
compiles deterministically to a Spark DataFrame (plans/compile.py), so
Catalyst gets a declarative plan it can optimize (pushdown, pruning,
join strategy) instead of an opaque Python blob.

Spec = {"ops": [op, ...]}, each op {"op": <name>, <field>: <value>, ...}.

Every op is declared once, in ``OPS``: the fields it accepts (each with
a type/range check and a default, or required), an optional cross-field
check, and its schema effect. ``validate_spec`` checks a spec against
that table (an unknown op or an undeclared field is an error); the
DataFrame compiler (plans/compile.py) and the SQL renderer
(plans/sqlgen.py) read each op with its declared defaults filled in
(``spec_ops``); the critic reads the effects (``schema_effect``) to
know which earlier filters still hold on the output.

Boolean / scalar expression tree (closed vocabulary — no raw SQL, no
code strings, so nothing user- or LLM-supplied is ever executed):

  {"col": "age"} | {"lit": 30}
  {"gt": [e, e]} {"ge": ...} {"lt": ...} {"le": ...} {"eq": ...} {"ne": ...}
  {"between": [e, lo, hi]}           # inclusive both ends
  {"isin": [e, [v, ...]]}
  {"startswith": [e, "J"]} {"contains": [e, "an"]}
  {"and": [e, ...]} {"or": [e, ...]} {"not": e}
  {"add": [e, e]} {"sub": ...} {"mul": ...} {"div": ...}
  {"round": [e, ndigits]} {"cast": [e, "long"|"double"|"decimal(18,2)"|...]}
  {"is_null": e} {"is_not_null": e}
  {"lower": e} {"upper": e} {"trim": e} {"length": e}
  {"concat": [e, ...]}                # string concatenation
  {"coalesce": [e, ...]}
  {"json_get": [e, "field"]}          # scalar field of a JSON string
                                      # column, as text (cast to use
                                      # numerically); field is a bare
                                      # identifier, never a raw path
  {"case": {"when": [[cond, val], ...], "else": val?}}   # first match wins;
                                      # no else -> NULL (ANSI CASE)
  {"trunc": [unit, e]}                # date_trunc to year..minute

Bare strings in expression positions mean column refs; bare numbers /
bools mean literals (sugar the parser emits).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

AGG_FNS = {"count", "avg", "sum", "min", "max", "count_distinct", "listagg",
           "median", "percentile", "count_nulls"}
# pivot cells can't be count_distinct (no portable FILTER rendering
# that matches Spark's pivot null semantics)
PIVOT_AGG_FNS = {"count", "avg", "sum", "min", "max"}
WINDOW_FNS = {"row_number", "rank", "dense_rank", "lag", "lead", "sum", "avg",
              "count", "min", "max", "ntile", "percent_rank", "cume_dist",
              "first_value", "median", "ewma"}
JOIN_TYPES = {"inner", "left", "right", "full", "left_semi", "left_anti", "cross"}

_BINARY_OPS = {"gt", "ge", "lt", "le", "eq", "ne", "add", "sub", "mul", "div",
               "startswith", "contains"}
_VARIADIC_BOOL = {"and", "or"}
_UNARY_FNS = {"lower", "upper", "trim", "length"}
_VARIADIC_FNS = {"concat", "coalesce"}
_TRUNC_UNITS = {"year", "month", "week", "day", "hour", "minute"}


class SpecError(ValueError):
    """Raised when a transform spec fails validation."""


def _err(msg: str) -> None:
    raise SpecError(msg)


def validate_expr(expr: Any) -> set[str]:
    """Structurally validate an expression tree and return the column
    names it references (raw-value arguments — isin lists, patterns,
    round digits, cast types, json fields, trunc units — are not
    columns). Raises SpecError."""
    if isinstance(expr, str):
        return {expr}  # sugar: column ref
    if isinstance(expr, int | float | bool) or expr is None:
        return set()  # sugar: literal
    if not isinstance(expr, dict) or len(expr) != 1:
        _err(f"expression must be a 1-key dict, str, or literal; got {expr!r}")
    [(op, args)] = expr.items()
    if op == "col":
        if not isinstance(args, str):
            _err(f"col ref must name a column: {expr!r}")
        return {args}
    if op == "lit":
        if isinstance(args, dict | list):
            _err(f"lit must be scalar: {expr!r}")
        return set()
    if op in _BINARY_OPS:
        if not (isinstance(args, list) and len(args) == 2):
            _err(f"{op} takes [left, right]: {expr!r}")
        left, right = validate_expr(args[0]), validate_expr(args[1])
        # a startswith/contains pattern is a raw value
        return left if op in ("startswith", "contains") else left | right
    if op == "round":
        if not (isinstance(args, list) and len(args) == 2 and isinstance(args[1], int)):
            _err(f"round takes [expr, ndigits]: {expr!r}")
        return validate_expr(args[0])
    if op == "cast":
        if not (isinstance(args, list) and len(args) == 2 and isinstance(args[1], str)):
            _err(f"cast takes [expr, typename]: {expr!r}")
        return validate_expr(args[0])
    if op == "json_get":
        # the field is a closed identifier, not a JSONPath — nothing
        # user-supplied ever reaches the path string verbatim
        if not (
            isinstance(args, list)
            and len(args) == 2
            and isinstance(args[1], str)
            and args[1].isidentifier()
        ):
            _err(f"json_get takes [expr, field_identifier]: {expr!r}")
        return validate_expr(args[0])
    if op == "between":
        if not (isinstance(args, list) and len(args) == 3):
            _err(f"between takes [expr, lo, hi]: {expr!r}")
        return set().union(*map(validate_expr, args))
    if op == "isin":
        if not (isinstance(args, list) and len(args) == 2 and isinstance(args[1], list)):
            _err(f"isin takes [expr, [values...]]: {expr!r}")
        return validate_expr(args[0])
    if op in _VARIADIC_BOOL | _VARIADIC_FNS:
        if not (isinstance(args, list) and len(args) >= 1):
            _err(f"{op} takes a non-empty list: {expr!r}")
        return set().union(*map(validate_expr, args))
    if op in ("not", "is_null", "is_not_null") or op in _UNARY_FNS:
        return validate_expr(args)
    if op == "trunc":
        if not (
            isinstance(args, list) and len(args) == 2
            and args[0] in _TRUNC_UNITS
        ):
            _err(f"trunc takes [unit in {sorted(_TRUNC_UNITS)}, expr]: {expr!r}")
        return validate_expr(args[1])
    if op == "case":
        if not isinstance(args, dict):
            _err(f"case takes {{'when': [[cond, val], ...], 'else': val?}}: {expr!r}")
        whens = args.get("when")
        if not (isinstance(whens, list) and whens):
            _err(f"case needs a non-empty 'when' list: {expr!r}")
        cols: set[str] = set()
        for pair in whens:
            if not (isinstance(pair, list) and len(pair) == 2):
                _err(f"each case 'when' entry is a [cond, value] pair: {expr!r}")
            cols |= validate_expr(pair[0]) | validate_expr(pair[1])
        if set(args) - {"when", "else"}:
            _err(f"case allows only 'when' and 'else' keys: {expr!r}")
        if "else" in args:
            cols |= validate_expr(args["else"])
        return cols
    _err(f"unknown expression op {op!r}")


_REQUIRED = object()


@dataclass(frozen=True)
class Field:
    """One declared field. ``ok`` is its type/range check, ``what`` names
    that check in errors, ``default`` fills the field when it is absent
    (``_REQUIRED``: it must be given; a None default also admits an
    explicit None), and ``record`` declares the fields of each entry of
    a list of records."""

    ok: Callable[[Any], bool]
    what: str
    default: Any = _REQUIRED
    record: dict[str, Field] | None = None


def _is_int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _is_num(v: Any) -> bool:
    return isinstance(v, int | float) and not isinstance(v, bool)


def _str(default: Any = _REQUIRED) -> Field:
    return Field(lambda v: isinstance(v, str), "a string", default)


def _strs(min_len: int = 1, default: Any = _REQUIRED, distinct: bool = False,
          max_len: int | None = None) -> Field:
    what = f"a list of {'distinct ' if distinct else ''}non-empty strings"
    if min_len:
        what += f", {min_len} to {max_len}" if max_len else f", at least {min_len}"
    return Field(
        lambda v: isinstance(v, list) and min_len <= len(v) <= (max_len or len(v))
        and all(isinstance(s, str) and s for s in v)
        and (not distinct or len(set(v)) == len(v)),
        what, default,
    )


def _int(lo: int, hi: int | None = None, default: Any = _REQUIRED) -> Field:
    return Field(
        lambda v: _is_int(v) and lo <= v and (hi is None or v <= hi),
        f"an int >= {lo}" if hi is None else f"an int in {lo}..{hi}",
        default,
    )


def _num(ok: Callable[[Any], bool], what: str, default: Any = _REQUIRED) -> Field:
    return Field(lambda v: _is_num(v) and ok(v), what, default)


def _one_of(choices: set[str], default: Any = _REQUIRED) -> Field:
    return Field(lambda v: isinstance(v, str) and v in choices,
                 f"one of {sorted(choices)}", default)


def _valid_expr(v: Any) -> bool:
    validate_expr(v)  # raises SpecError naming the bad node
    return True


def _records(fields: dict[str, Field]) -> Field:
    return Field(lambda v: isinstance(v, list) and bool(v)
                 and all(isinstance(e, dict) for e in v),
                 "a non-empty list of dicts", record=fields)


def _bool(default: bool = False) -> Field:
    return Field(lambda v: isinstance(v, bool), "a bool", default)


_EXPR = Field(_valid_expr, "an expression")
# a join/union right side: a table name the compiler resolves, or an
# inline DataFrame (sqlgen renders table names only)
_RIGHT = Field(lambda v: v is not None, "a table name")
_TEXT_COL = _str("text")
_DOC_ID = _str("doc_id")
_SORT_KEYS = _records({"col": _str(), "asc": _bool(True)})
_AGGS = _records({
    "fn": _one_of(AGG_FNS), "col": _str(), "alias": _str(),
    "cast": _str(None),  # input cast, e.g. decimal(18,2) for exact money sums
    "p": _num(lambda p: 0 <= p <= 1, "a number in [0, 1]", None),  # percentile
})

# A schema effect says what an op does to the columns an earlier filter
# read: "keeps" them (values untouched, rows maybe fewer), "writes"
# these columns (added, overwritten, renamed or dropped), keeps "only"
# these columns (values intact), or "replaces" the schema outright.
Effect = tuple[str, frozenset[str]]
KEEPS: Effect = ("keeps", frozenset())
REPLACES: Effect = ("replaces", frozenset())


def writes(*cols: str) -> Effect:
    return ("writes", frozenset(cols))


def only(*cols: str) -> Effect:
    return ("only", frozenset(cols))


@dataclass(frozen=True)
class Op:
    """One op: the ``fields`` it accepts, its schema ``effect`` (an
    Effect, or a function of the op with its defaults filled in), and
    an optional cross-field ``check`` of that op that raises SpecError."""

    fields: dict[str, Field]
    effect: Effect | Callable[[dict], Effect]
    check: Callable[[dict], None] | None = None


def _differ(*names: str) -> Callable[[dict], None]:
    def check(op: dict) -> None:
        if len({op[n] for n in names}) != len(names):
            _err(f"{op['op']} {' and '.join(map(repr, names))} must differ: {op!r}")
    return check


def _check_aggs(op: dict) -> None:
    for a in op["aggs"]:
        if a["fn"] == "percentile" and a["p"] is None:
            _err(f"percentile agg needs 'p' in [0, 1]: {a!r}")
    # every output column needs its own name, or a later reference to
    # it is ambiguous; Spark resolves names without regard to case
    names = [*op["keys"], *(a["alias"] for a in op["aggs"])]
    if "gid_alias" in op:
        names.append(op["gid_alias"])
    folded = [n.lower() for n in names]
    if dup := sorted({n for n in names if folded.count(n.lower()) > 1}):
        _err(f"{op['op']} output names repeat {dup}: {op!r}")


def _check_pivot(op: dict) -> None:
    if len(op["aliases"]) != len(op["values"]):
        _err(f"pivot 'aliases' must be distinct strings parallel to 'values': {op!r}")


# ranking/offset fns: no frame, and (but lag/lead) no input column
_FRAMELESS_FNS = {"row_number", "rank", "dense_rank", "lag", "lead", "ntile",
                  "percent_rank", "cume_dist"}
_COLUMNLESS_FNS = _FRAMELESS_FNS - {"lag", "lead"}


def _check_window(op: dict) -> None:
    for e in op["exprs"]:
        if e["fn"] not in _COLUMNLESS_FNS and e["col"] is None:
            _err(f"window fn {e['fn']!r} needs a string 'col': {e!r}")
        if e["fn"] == "ntile" and e["n"] is None:
            _err(f"ntile needs a positive int 'n': {e!r}")
        if e["fn"] == "ewma" and (e["alpha"] is None or not e["rows_preceding"]):
            # weighted lag chain over a REQUIRED bounded frame:
            # alpha in (0,1) exclusive, frame of >= 1 prior row
            _err(f"ewma needs a float 'alpha' in (0,1) and int 'rows_preceding' >= 1: {e!r}")
        if e["rows_preceding"] is not None and e["fn"] in _FRAMELESS_FNS:
            # sliding ROWS frame (n PRECEDING .. CURRENT ROW):
            # aggregate fns only — rank/lag semantics ignore frames
            _err(f"'rows_preceding' is only valid on aggregate window fns: {e!r}")


def _check_asof(op: dict) -> None:
    # unit is REQUIRED alongside tolerance: the engine applies the
    # bound in the ts column's natural unit while sqlgen renders the
    # declared one, so an implicit default could let the two silently
    # disagree. compile_spec raises if the declared unit doesn't match
    # the ts column's type (second<->timestamp, day<->date, raw<->numeric).
    if op["tolerance"] is not None and op["tolerance_unit"] is None:
        _err(f"asof_join with 'tolerance' needs 'tolerance_unit' in second|day|raw: {op!r}")


def _check_vote(op: dict) -> None:
    _differ("key", "label")(op)
    if op["key"] == "label":
        # the rendered SQL aliases the label column to 'label' inside
        # its innermost aggregate; a key named 'label' would collide there
        _err(f"{op['op']} 'key' may not be named 'label': {op!r}")


def _check_not_text_key(op: dict) -> None:
    if op["key"] == "text":
        _err(f"{op['op']} 'key' may not be the text column: {op!r}")


def _check_winsorize(op: dict) -> None:
    if not op["lo"] < op["hi"]:
        _err(f"winsorize needs 0 <= lo < hi <= 1: {op!r}")


def _check_split(op: dict) -> None:
    if len(op["labels"]) != len(op["weights"]):
        _err(f"split_assign needs distinct string 'labels', one per weight: {op!r}")


def _check_expect(op: dict) -> None:
    for e in op["expectations"]:
        ek = e.get("kind")
        if ek in ("unique", "not_null", "accepted_values") and not isinstance(e.get("col"), str):
            _err(f"{ek} expectation needs a string 'col': {e!r}")
        if ek == "accepted_values" and not (isinstance(e.get("values"), list) and e["values"]):
            _err(f"accepted_values needs non-empty 'values': {e!r}")
        elif ek == "min_rows" and not (_is_int(e.get("n")) and e["n"] >= 1):
            _err(f"min_rows needs a positive int 'n': {e!r}")
        elif ek not in ("unique", "not_null", "accepted_values", "min_rows"):
            _err(f"unknown expectation kind: {e!r}")


_GOPHER_COLS = (
    "n_words", "mean_word_len", "n_req_stopwords", "symbol_ratio", "bullet_ratio",
    "ellipsis_ratio", "alpha_ratio", "r_word_count", "r_word_len", "r_symbols",
    "r_bullets", "r_ellipsis", "r_alpha", "r_stopwords", "passes_gopher",
)

OPS: dict[str, Op] = {
    # --- relational core (reference-parity surface, SURVEY.md 2.2-2.5)
    "filter": Op({"expr": _EXPR}, KEEPS),
    "select": Op({"cols": _strs()}, lambda op: only(*op["cols"])),
    # replace=True: 'name' already exists and is updated in place (SQL
    # renders * REPLACE); False appends a new column
    "with_column": Op({"name": _str(), "expr": _EXPR, "replace": _bool()},
                      lambda op: writes(op["name"])),
    "rename": Op(
        {"renames": Field(lambda r: isinstance(r, dict) and bool(r) and all(
            isinstance(k, str) and isinstance(v, str) for k, v in r.items()),
            "a non-empty {old: new} dict of strings")},
        lambda op: writes(*op["renames"], *op["renames"].values())),
    "drop": Op({"cols": _strs()}, lambda op: writes(*op["cols"])),
    "sort": Op({"keys": _SORT_KEYS}, KEEPS),
    "limit": Op({"n": _int(0)}, KEEPS),
    # having: a filter over the keys and agg aliases
    "groupby_agg": Op({"keys": _strs(0), "aggs": _AGGS,
                       "having": Field(_valid_expr, "an expression", None)},
                      lambda op: only(*op["keys"]), _check_aggs),
    # --- reserved / extension ops (SURVEY.md 2.6, 2.9)
    "join": Op({"right": _RIGHT, "on": _strs(), "how": _one_of(JOIN_TYPES, "inner"),
                "broadcast": _bool()},
               # a right/full join takes its key columns from the right side
               lambda op: writes(*op["on"]) if op["how"] in ("right", "full") else KEEPS),
    # the appended right-side rows were never seen by an earlier filter
    "union": Op({"right": _RIGHT, "distinct": _bool()}, REPLACES),
    "distinct": Op({"cols": _strs(0, None)}, KEEPS),
    # deterministic keyed dedup: one row per keys group, the one whose
    # keep_col is the group min/max (tiebreak: ascending second key)
    "dedup": Op({"keys": _strs(), "keep_col": _str(), "keep": _one_of({"min", "max"}, "min"),
                 "tiebreak": _str(None)}, KEEPS),
    # one row per non-empty regex token of col, written to alias
    "explode": Op({"col": _str(), "alias": _str(), "pattern": _str(r"\s+")},
                  lambda op: writes(op["alias"])),
    # one row per (key, session_id) with n_events, session_start/_end
    "sessionize": Op({"key": _str(), "gap_seconds": _int(1), "ts_col": _str("ts"),
                      "id_col": _str("event_id")}, lambda op: only(op["key"])),
    # ordered window per partition; adds one aliased column per expr
    "window": Op(
        {"partition_by": _strs(0, ()), "order_by": _SORT_KEYS, "exprs": _records({
            "fn": _one_of(WINDOW_FNS), "alias": _str(), "col": _str(None),
            "n": _int(1, default=None),  # ntile buckets
            "offset": _int(0, default=1),  # lag/lead
            "alpha": Field(lambda a: isinstance(a, float) and 0.0 < a < 1.0,
                           "a float in (0, 1)", None),  # ewma
            "rows_preceding": _int(0, default=None),  # sliding ROWS frame
        })},
        lambda op: writes(*(e["alias"] for e in op["exprs"])), _check_window),
    # hash sample: a pure filter, reproducible across engines
    "sample": Op({"fraction": _num(lambda f: 0 <= f <= 1, "a number in [0, 1]"), "key": _str(),
                  "salt": _str("sample")}, KEEPS),
    # deterministic N-way split by key hash into the alias column
    "split_assign": Op(
        {"key": _str(), "weights": Field(lambda v: isinstance(v, list) and bool(v) and all(
            _is_num(w) and w > 0 for w in v), "a non-empty list of positive numbers"),
         "labels": _strs(distinct=True), "alias": _str("split")},
        lambda op: writes(op["alias"]), _check_split),
    # per-group percentile clamp; adds <col>_winsor, was_clamped
    "winsorize": Op({"col": _str(), "keys": _strs(),
                     "lo": _num(lambda v: 0 <= v <= 1, "a number in [0, 1]", 0.05),
                     "hi": _num(lambda v: 0 <= v <= 1, "a number in [0, 1]", 0.95)},
                    lambda op: writes(op["col"] + "_winsor", "was_clamped"), _check_winsorize),
    # regular-grid resample + linear interpolation per key
    "resample": Op({"key": _str(), "step_hours": _num(lambda h: h > 0, "a positive number"),
                    "ts": _str("ts"), "val": _str("value"), "id": _str("event_id")}, REPLACES),
    # sliding word-window chunks: (id, chunk_idx, n_chunk_words, chunk_md5)
    "chunk": Op({"size": _int(1), "stride": _int(1), "id_col": _DOC_ID, "text_col": _TEXT_COL},
                REPLACES),
    # contrastive negatives from a hash-chosen pool: (id, label, negative_id, neg_rank)
    "negatives": Op({"k": _int(1, default=3), "pool": _int(1, default=64),
                     "id_col": _str("vec_id"), "label_col": _str("label")}, REPLACES),
    # declared-values pivot — one hash aggregate, never a distinct
    # discovery scan; aliases name the cells, parallel to values
    "pivot": Op(
        {"keys": _strs(), "col": _str(),
         "values": Field(lambda v: isinstance(v, list) and bool(v) and all(
             isinstance(x, str | int | float | bool) for x in v),
             "a non-empty list of scalars (declared, never discovered)"),
         "agg": Field(lambda a: isinstance(a, dict) and a.keys() == {"fn", "col"}
                      and _one_of(PIVOT_AGG_FNS).ok(a["fn"]) and isinstance(a["col"], str),
                      f"{{'fn': one of {sorted(PIVOT_AGG_FNS)}, 'col': string}}"),
         "aliases": _strs(distinct=True)},
        REPLACES, _check_pivot),
    # temporal as-of join: attaches asof_ts + asof_<col> per right col.
    # The left columns pass through a union, so every output column is
    # a new one: the critic cannot tell the left values were kept.
    "asof_join": Op(
        {"right": _RIGHT, "on": _str(), "ts": _str("ts"), "right_ts": _str(None),  # None: ts
         "right_cols": _strs(0, ()),
         "direction": _one_of({"backward", "forward", "nearest"}, "backward"),
         "tolerance": _num(lambda t: t >= 0, "a non-negative number", None),
         "tolerance_unit": _one_of({"second", "day", "raw"}, None)},
        REPLACES, _check_asof),
    # ROLLUP subtotals in one Expand pass; grouping_id as gid_alias
    "rollup": Op({"keys": _strs(), "aggs": _AGGS, "gid_alias": _str("gid")}, REPLACES,
                 _check_aggs),
    # deterministic per-group mode: (keys, mode_<col>, n)
    "mode": Op({"keys": _strs(), "col": _str()}, REPLACES),
    # --- analytics, corpus and evaluation ops (operators/)
    # per-group least-squares fit; decimal-exact moments, slope/intercept/r2
    "ols": Op({"key": _str(), "x": _str(), "y": _str(), "x_decimal": _str("decimal(12,2)"),
               "y_decimal": _str("decimal(18,2)")}, REPLACES),
    # lexical top-k search over the text column
    "bm25": Op({"terms": _strs(), "k": _int(1), "id_col": _DOC_ID, "text_col": _TEXT_COL},
               REPLACES),
    # exact cosine top-k to the row whose id is query_id
    "ann_topk": Op({"query_id": Field(_is_int, "an int"), "k": _int(1),
                    "id_col": _str("vec_id"), "vec_col": _str("embedding")}, REPLACES),
    # per-row text signals, next to the input columns
    "langid": Op({"text_col": _TEXT_COL}, writes("pred_lang")),
    "token_counts": Op({"text_col": _TEXT_COL}, writes("n_words", "n_tokens")),
    "quality_score": Op({"text_col": _TEXT_COL}, writes(
        "n_words", "avg_word_len", "stopword_ratio", "nonalnum_ratio", "quality_score")),
    # Gopher rule battery: signal columns, one boolean per rule, passes_gopher
    "gopher": Op({"text_col": _TEXT_COL}, writes(*_GOPHER_COLS)),
    # masks emails and long digit runs in the text column in place; adds n_masked
    "redact": Op({"text_col": _TEXT_COL}, lambda op: writes(op["text_col"], "n_masked")),
    # drops every row whose lowercased word set meets the list
    "blocklist": Op({"words": _strs(), "text_col": _TEXT_COL}, KEEPS),
    # k-anonymity audit: one report row
    "kanon": Op({"cols": _strs(), "k": _int(2)}, REPLACES),
    # majority-vote label per key / Krippendorff's alpha report row
    "majority": Op({"key": _str(), "label": _str()}, REPLACES, _check_vote),
    "agreement": Op({"key": _str(), "label": _str()}, REPLACES, _check_vote),
    # pairwise Pearson / Spearman matrix: one row per unordered pair
    "correlate": Op({"cols": _strs(2, distinct=True)}, REPLACES),
    "spearman": Op({"cols": _strs(2, distinct=True)}, REPLACES),
    # mutual information / one-way ANOVA: one report row
    "mutual_info": Op({"a": _str(), "b": _str()}, REPLACES, _differ("a", "b")),
    "anova": Op({"value": _str(), "group": _str()}, REPLACES, _differ("value", "group")),
    # ordered funnel: one row per step
    "funnel": Op({"type": _str(), "steps": _strs(2, distinct=True, max_len=6), "user": _str(),
                  "ts": _str()}, REPLACES),
    # per-document n-gram novelty over (doc_id, text)
    "novelty": Op({"n": _int(1, 8, 3)}, REPLACES),
    # token-mass dominance report / per-group hapax ratio (text column tokens)
    "concentration": Op({"key": _str("source")}, REPLACES, _check_not_text_key),
    "hapax": Op({"key": _str("source")}, REPLACES, _check_not_text_key),
    # NDCG@k over (vec_id, embedding, label); the gain tables render as
    # k CASE literals (k <= 100); queries are broadcast (<= 1024)
    "ndcg": Op({"k": _int(1, 100), "n_queries": _int(1, 1024)}, REPLACES),
    # per-label centroid-form silhouette over (vec_id, embedding, label)
    "silhouette": Op({}, REPLACES),
    # all-but-the-top audit; each power-iteration round is one unrolled
    # oracle CTE block, so 12 bounds the plan (6 is converged)
    "common_direction": Op({"n_iter": _int(1, 12, 6), "dim": _int(1, 4096, 64)}, REPLACES),
    # UniMax epoch-capped budget allocation per key group
    "unimax": Op({"budget": _int(1, 10**15), "key": _str(), "epochs": _int(1, 1000, 2),
                  "text": _str("text")}, REPLACES),
    # Poisson-bootstrap CI per key; each replicate is one weight column
    "bootstrap_mean": Op({"col": _str(), "key": _str(), "id": _str(), "n": _int(2, 200, 40)},
                         REPLACES),
    # first n BPE merges: one driver-side argmax round and one oracle
    # CTE block per merge
    "bpe_merges": Op({"n": _int(1, 20)}, REPLACES),
    # CCNet-style perplexity tertiles per language, LM on ref_source docs
    "perplexity_buckets": Op({"ref_source": _str("src0")}, REPLACES),
    # rolling z-score flags over the n rows before each row, per key
    "anomaly": Op({"col": _str(), "key": _str(), "order_col": _str(), "n": _int(3),
                   "z": _num(lambda z: z > 0, "a positive number", 3.0)},
                  writes("moving_avg", "moving_std", "zscore", "is_anomaly")),
    # per-document word-distribution entropy
    "word_entropy": Op({"id_col": _DOC_ID, "text_col": _TEXT_COL}, REPLACES),
    # tokenizer coverage vs the top-v corpus vocabulary, per key
    "oov": Op({"key": _str(), "v": _int(1, default=100), "text_col": _TEXT_COL}, REPLACES),
    # DSIR importance weights vs the target_col == target_val slice
    "dsir": Op({"target_col": _str(), "target_val": _str(), "id_col": _DOC_ID,
                "text_col": _TEXT_COL}, REPLACES),
    # tokenizer fertility per key: tokens per word, chars per token
    "fertility": Op({"key": _str(), "text_col": _TEXT_COL}, REPLACES),
    # per-key word n-gram duplication, within and across keys
    "dup_by_source": Op({"key": _str(), "n": _int(2, 16, 5), "id_col": _DOC_ID,
                         "text_col": _TEXT_COL}, REPLACES),
    # winnowing keep-first dedup: drops docs overlapping an earlier one
    "winnow_dedup": Op({"overlap": _num(lambda t: 0 < t <= 1, "a number in (0, 1]"),
                        "id_col": _DOC_ID, "text_col": _TEXT_COL}, KEEPS),
    # per-key exact-dedup savings report
    "dedup_savings": Op({"key": _str(), "id_col": _DOC_ID, "text_col": _TEXT_COL,
                         "len_col": _str("n_chars")}, REPLACES),
    # pairwise Jensen-Shannon divergence between per-key word distributions
    "vocab_divergence": Op({"key": _str(), "text_col": _TEXT_COL}, REPLACES),
    # data-quality report: one row per expectation
    "expect": Op({"expectations": Field(lambda v: isinstance(v, list) and bool(v) and all(
        isinstance(e, dict) for e in v), "a non-empty list of expectation dicts")},
        REPLACES, _check_expect),
    # LSH keep-first fuzzy dedup over the 'text' column
    "neardup": Op({"threshold": _num(lambda t: 0 < t <= 1, "a number in (0, 1]"),
                   "id_col": _DOC_ID}, KEEPS),
    # MERGE upsert from the right table; rewrites values, adds
    # merge_action. cols: the non-key columns, for the SQL renderer
    "merge": Op({"right": _str(), "key": _str(), "cols": _strs(0, None)}, REPLACES),
    # drops docs sharing a word 3-gram with the right table
    "decontaminate": Op({"right": _str(), "id_col": _DOC_ID, "text_col": _TEXT_COL}, KEEPS),
    # sequence packing: the packed-sequence summary table
    "pack": Op({"budget": _int(1), "group_size": _int(1, default=1024), "id_col": _DOC_ID,
                "lang_col": _str("lang"), "text_col": _TEXT_COL}, REPLACES),
}


def _check_fields(where: str, given: dict, fields: dict[str, Field]) -> None:
    extra = sorted(set(given) - set(fields))
    if extra:
        _err(f"{where} does not take {extra} (it takes {sorted(fields)}): {given!r}")
    for name, f in fields.items():
        if name not in given:
            if f.default is _REQUIRED:
                _err(f"{where} needs {name!r}: {given!r}")
        elif not (given[name] is None and f.default is None or f.ok(given[name])):
            _err(f"{where} {name!r} must be {f.what}: {given!r}")
        elif f.record is not None:
            for entry in given[name]:
                _check_fields(f"{where} {name!r} entry", entry, f.record)


def _filled(given: dict, fields: dict[str, Field]) -> dict:
    out = dict(given)
    for name, f in fields.items():
        if name not in out:
            out[name] = f.default
        elif f.record is not None:
            out[name] = [_filled(entry, f.record) for entry in out[name]]
    return out


def validate_op(op: Any) -> None:
    if not (isinstance(op, dict) and isinstance(op.get("op"), str)):
        _err(f"op must be a dict with an 'op' field: {op!r}")
    kind = op["op"]
    if kind not in OPS:
        _err(f"unknown op {kind!r}")
    entry = OPS[kind]
    _check_fields(kind, {k: v for k, v in op.items() if k != "op"}, entry.fields)
    if entry.check is not None:
        entry.check(_filled(op, entry.fields))


def validate_spec(spec: Any) -> dict:
    """Validate a whole spec; returns it unchanged for chaining."""
    if not (isinstance(spec, dict) and isinstance(spec.get("ops"), list)):
        _err(f"spec must be {{'ops': [...]}}: {spec!r}")
    for op in spec["ops"]:
        validate_op(op)
    return spec


def spec_ops(spec: Any) -> list[dict]:
    """Validate ``spec`` and return its ops with every absent field set
    to its declared default (copies; the spec itself is untouched)."""
    return [_filled(op, OPS[op["op"]].fields) for op in validate_spec(spec)["ops"]]


def schema_effect(op: dict) -> Effect:
    """A valid op's schema effect: (keeps|writes|only|replaces, columns)."""
    entry = OPS[op["op"]]
    if callable(entry.effect):
        return entry.effect(_filled(op, entry.fields))
    return entry.effect
