"""Transform-spec IR: a typed, JSON-serializable list of relational ops.

This replaces the reference's free-text plan + LLM-generated pandas
source (reference agentic_workflow_transformation.py:18-19 keeps
``plan: str`` and ``code: str`` in state; the code is later ``exec``'d
at :129). Here the plan IS the program: a validated list of ops that
compiles deterministically to a Spark DataFrame (plans/compile.py), so
Catalyst gets a declarative plan it can optimize (pushdown, pruning,
join strategy) instead of an opaque Python blob.

Spec = {"ops": [op, ...]}

Relational ops (reference-parity surface, SURVEY.md section 2.2-2.5):

  {"op": "filter", "expr": <bool-expr>}
  {"op": "select", "cols": ["name", "age"]}
  {"op": "with_column", "name": "is_adult", "expr": <expr>,
   "replace": bool?}   # replace=True: 'name' already exists and is
                       # updated in place (SQL renders * REPLACE);
                       # default False appends a new column
  {"op": "rename", "renames": {"name": "full_name"}}
  {"op": "drop", "cols": ["city"]}
  {"op": "sort", "keys": [{"col": "age", "asc": false}, ...]}
  {"op": "limit", "n": 3}
  {"op": "groupby_agg", "keys": ["city"],
   "aggs": [{"fn": "count"|"avg"|"sum"|"min"|"max"|"count_distinct",
             "col": "name", "alias": "name_count"}],
   "having": <bool-expr over aliases/keys>?}

Reserved / extension ops (SURVEY.md section 2.6, 2.9):

  {"op": "join", "right": <spec-or-table>, "on": [...], "how": "inner",
   "broadcast": bool}
  {"op": "union", "right": <spec-or-table>, "distinct": bool}
  {"op": "distinct", "cols": [...]?}        # exact dedup
  {"op": "dedup", "keys": ["text"], "keep_col": "doc_id",
   "keep": "min"|"max"}
      # DETERMINISTIC keyed dedup: one row per distinct keys, the row
      # whose keep_col is the group min/max — the reproducible form of
      # distinct-by-cols (which keeps an arbitrary row and is declared
      # non-portable in sqlgen). keep_col should be unique per group
      # (an id column) for a total tie-break
  {"op": "explode", "col": "text", "alias": "word", "pattern": "\\s+"?}
      # split a string column by regex and emit one row per non-empty
      # token (other columns preserved) — the NL word-count shape
  {"op": "window", "partition_by": [...], "order_by": [...],
   "exprs": [{"fn": "row_number"|"rank"|"dense_rank"|"lag"|"lead"|"sum"|
              "ntile"|"percent_rank"|"cume_dist"|"first_value"|...,
              "col": ...?, "alias": ..., "n": 4?}]}   # n: ntile buckets
  {"op": "sample", "fraction": 0.1, "key": "doc_id", "salt": "sample"?}
  {"op": "split_assign", "key": "doc_id", "weights": [90, 5, 5],
   "labels": ["train", "val", "test"], "alias": "split"?}
      # deterministic N-way split by key hash; pure per-row expression
  {"op": "winsorize", "col": "value", "keys": ["event_type"],
   "lo": 0.05, "hi": 0.95}
      # per-group percentile clamp; adds <col>_winsor, was_clamped
  {"op": "resample", "key": "user_id", "step_hours": 6,
   "ts": "ts"?, "val": "value"?, "id": "event_id"?}
      # regular-grid resample + linear interpolation; output is
      # (key, epoch_s, value_interp, is_observed)
  {"op": "chunk", "size": 32, "stride": 16, "id_col": "doc_id"?,
   "text_col": "text"?}
      # sliding-window chunking; output (id, chunk_idx, n_chunk_words,
      # chunk_md5) — a pure narrow explode, no shuffle
  {"op": "negatives", "k": 3, "pool": 64, "id_col": "vec_id"?,
   "label_col": "label"?}
      # deterministic contrastive negative sampling from a broadcast
      # pool; output (id, label, negative_id, neg_rank)
  {"op": "redact", "text_col": "text"?}
      # mask emails + long digit runs in the text column IN PLACE;
      # adds n_masked (match count against the original text)
  {"op": "blocklist", "words": ["x", "y"], "text_col": "text"?}
      # C4-style blocklist screen: drop every row whose lowercased
      # word set intersects the list — a pure per-row filter
  {"op": "kanon", "cols": ["user_id", "event_type"], "k": 5}
      # k-anonymity privacy audit; REPLACES the schema with one
      # report row (quasi, k, n_rows, n_groups, n_violating_groups,
      # n_rows_at_risk, risk_ratio, min_group_size)
  {"op": "majority", "key": "item", "label": "vote"}
      # majority-vote label aggregation; REPLACES the schema with one
      # row per key (key, majority_label, n_ratings, n_votes,
      # vote_share, margin, is_tie); ties break to the smaller label
      # and are flagged
  {"op": "agreement", "key": "item", "label": "vote"}
      # Krippendorff's alpha (nominal, varying ratings per item);
      # REPLACES the schema with ONE report row (n_items,
      # n_items_dropped, n_ratings, n_categories, d_observed,
      # d_expected, alpha)
  {"op": "correlate", "cols": ["a", "b", "c"]}
      # pairwise Pearson correlation matrix; REPLACES the schema with
      # one row per unordered pair (col_a, col_b, n, r); NULL r on
      # zero variance
  {"op": "spearman", "cols": ["a", "b", "c"]}
      # pairwise Spearman RANK correlation matrix (fractional/average
      # ranks per column, then Pearson on the ranks); REPLACES the
      # schema with one row per unordered pair (col_a, col_b, n, rho)
  {"op": "mutual_info", "a": "lang", "b": "source"}
      # mutual information between two categorical columns; REPLACES
      # the schema with ONE report row (n, n_cells, mi, h_a, h_b,
      # nmi); NULL nmi when a marginal has zero entropy
  {"op": "anova", "value": "value", "group": "event_type"}
      # one-way ANOVA of a numeric column across a categorical
      # factor; REPLACES the schema with ONE report row (k, n,
      # ss_between, ss_within, f_stat, eta_sq); NULL F on degenerate
      # inputs (k < 2, n <= k, zero within-variance)
  {"op": "funnel", "type": "event_type",
   "steps": ["view", "click", "purchase"], "user": "user_id",
   "ts": "ts"}
      # ordered funnel: per step, users who performed it strictly
      # after completing the previous step (first-touch anchors);
      # REPLACES the schema with one row per step (step, <type>,
      # n_users, conversion); NULL conversion on step 1
  {"op": "novelty", "n": 3}
      # per-document n-gram novelty over a (doc_id, text) table:
      # fraction of the doc's distinct n-grams whose smallest
      # carrying doc_id is this doc; REPLACES the schema with one
      # row per doc with >= n words (doc_id, n_grams, n_novel,
      # novelty)
  {"op": "concentration", "key": "source"}
      # token-mass dominance audit across the key's groups (text
      # column tokens): HHI, Gini, top-3 share; REPLACES the schema
      # with ONE report row (k_groups, total_tokens, hhi, gini,
      # top3_share)
  {"op": "hapax", "key": "source"}
      # per-group hapax legomena ratio (fraction of the group's
      # vocabulary occurring exactly once, from the text column);
      # REPLACES the schema with one row per group (key, vocab_size,
      # n_tokens, n_hapax, hapax_ratio)
  {"op": "ndcg", "k": 10, "n_queries": 8}
      # NDCG@k retrieval harness over a (vec_id, embedding, label)
      # table: exact-cosine top-k per query (queries = the first
      # n_queries vec_ids), binary label relevance, log2-discounted
      # gains from a frozen decimal table; REPLACES the schema with
      # one row per query (query_id, n_rel_topk, ideal_n, ndcg)
  {"op": "silhouette"}
      # per-label simplified (centroid-form) silhouette over a
      # (vec_id, embedding, label) table; REPLACES the schema with
      # one row per label (label, n_vecs, mean_silhouette, n_negative)
  {"op": "common_direction", "n_iter": 6?, "dim": 64?}
      # all-but-the-top audit over a (vec_id, embedding) table: per
      # vector, the projection onto the corpus top principal
      # component (in-plan power iteration) + centered norm; REPLACES
      # the schema with (vec_id, c1_proj, norm_centered, proj_ratio)
  {"op": "unimax", "budget": 48000, "key": "source", "epochs": 2?}
      # UniMax epoch-capped training-budget allocation across the
      # key's groups (water-filling; token counts from the text
      # column); REPLACES the schema with one row per group (key,
      # n_tokens, capacity, capped, allocated_tokens, epochs)
  {"op": "bootstrap_mean", "col": "value", "key": "event_type",
   "id": "event_id", "n": 40?}
      # Poisson-bootstrap 95% CI for the per-key mean of col, hash
      # weights keyed by id; REPLACES the schema with one row per key
      # (key, n_rows, mean_value, boot_lo, boot_hi, n_replicates)
  {"op": "bpe_merges", "n": 5}
      # train the first n BPE merges on the text column; REPLACES the
      # schema with one row per merge (merge_rank, pair, merged,
      # pair_count)
  {"op": "perplexity_buckets", "ref_source": "src0"?}
      # CCNet-style perplexity tertiles per language under an add-one
      # unigram LM trained on the reference source slice; REPLACES
      # the schema with (doc_id, lang, n_tokens, xent, ppl_bucket)
  {"op": "anomaly", "col": "value", "key": "user_id",
   "order_col": "event_id", "n": 20, "z": 3.0}
      # rolling z-score anomaly flags over the last n rows per key:
      # adds moving_avg, moving_std, zscore, is_anomaly; frame sums
      # are decimal-exact so the flags are engine-reproducible
  {"op": "word_entropy", "id_col": "doc_id"?, "text_col": "text"?}
      # per-document word-distribution Shannon entropy; REPLACES the
      # schema with (id, n_words, n_distinct, entropy, evenness)
  {"op": "oov", "key": "source", "v": 100?, "text_col": "text"?}
      # tokenizer-coverage audit vs the top-v corpus vocabulary;
      # REPLACES the schema with (key, n_tokens, n_oov, oov_rate)
  {"op": "expect", "expectations": [
      {"kind": "unique", "col": "doc_id"},
      {"kind": "not_null", "col": "text"},
      {"kind": "accepted_values", "col": "lang", "values": ["en"]},
      {"kind": "min_rows", "n": 100}]}
      # declarative data-quality contract: ONE aggregate pass, output
      # one report row per expectation (expectation, kind, col,
      # n_rows, n_violations, passed)
  {"op": "langid", "text_col": "text"?}       # adds pred_lang
  {"op": "token_counts", "text_col": "text"?} # adds n_words, n_tokens
  {"op": "quality_score", "text_col": "text"?}
      # adds n_words, avg_word_len, stopword_ratio, nonalnum_ratio,
      # quality_score — the per-document text-analysis projections,
      # all pure per-row expressions (no shuffle, no UDF)
  {"op": "gopher", "text_col": "text"?}
      # Gopher quality-rule battery (operators/text.gopher_rules):
      # adds the signal columns, one boolean per published rule, and
      # passes_gopher — per-row expressions, no shuffle
  {"op": "dsir", "target_col": "lang", "target_val": "en",
   "id_col": "doc_id"?, "text_col": "text"?}
      # DSIR importance weights (operators/corpus.dsir_log_weights):
      # REPLACES the schema with (id_col, n_feats, log_weight,
      # avg_log_ratio) — hashed bag-of-words target-vs-raw
      # log-likelihood ratio per document
  {"op": "fertility", "key": "lang", "text_col": "text"?}
      # tokenizer fertility audit (operators/text.
      # token_fertility_by_lang): REPLACES the schema with (key,
      # n_docs, total_words, total_tokens, tokens_per_word,
      # chars_per_token) — exact integer sums, one division per group
  {"op": "dup_by_source", "key": "source", "n": 5?,
   "id_col": "doc_id"?, "text_col": "text"?}
      # per-group duplication audit (operators/corpus.
      # dup_rate_by_source): REPLACES the schema with (key, n_docs,
      # n_distinct_grams, n_gram_occ, dup_gram_ratio,
      # cross_source_ratio) — word n-gram occurrence duplication
      # within and across groups, digests-only exchanges
  {"op": "winnow_dedup", "overlap": 0.5, "id_col": "doc_id"?,
   "text_col": "text"?}
      # winnowing (MOSS) keep-first dedup (operators/dedup.
      # winnow_shared_pairs): drop every doc whose winnowed
      # fingerprint set overlaps an earlier doc's above the bound
  {"op": "dedup_savings", "key": "source", "id_col": "doc_id"?,
   "text_col": "text"?, "len_col": "n_chars"?}
      # per-group exact-dedup savings report (operators/dedup.
      # dedup_savings_by_source): REPLACES the schema with (key,
      # n_docs, n_dup_docs, chars_total, chars_saved, savings_ratio)
  {"op": "vocab_divergence", "key": "source", "text_col": "text"?}
      # pairwise Jensen-Shannon divergence between per-group unigram
      # distributions (operators/corpus.js_divergence_by_group):
      # REPLACES the schema with (source_a, source_b, n_shared_words,
      # js_divergence)
  {"op": "bm25", "terms": ["vector", "stream"], "k": 10,
   "id_col": "doc_id"?, "text_col": "text"?}   # lexical top-k search
  {"op": "ols", "key": "k", "x": "xcol", "y": "ycol",
   "x_decimal": "decimal(12,2)"?, "y_decimal": "decimal(18,2)"?}
      # per-group least-squares fit (operators/stats.groupwise_ols):
      # five decimal-exact moments in one aggregate, closed-form
      # slope/intercept/r2 rounded to 6
  {"op": "ann_topk", "query_id": 42, "k": 10, "id_col": "vec_id"?,
   "vec_col": "embedding"?}
      # similarity search (operators/similarity.topk_cosine_bruteforce):
      # exact cosine top-k to the row with the given id
  {"op": "neardup", "threshold": 0.8, "id_col": "doc_id"?}
      # fuzzy dedup filter (operators/dedup.lsh_verified_pairs):
      # drop every doc with a verified near-duplicate at a LOWER id
      # (greedy keep-first; cluster-keep-one is the dedup_apply API)
  {"op": "merge", "right": "updates_table", "key": "o_orderkey"}
      # MERGE upsert: matched keys take the update row, new keys
      # insert, the rest keep; adds merge_action
  {"op": "decontaminate", "right": "benchmark_table",
   "id_col": "doc_id"?, "text_col": "text"?}
      # drop docs sharing any word 3-gram with the right table
      # (operators/corpus.contaminated_ids + anti join)
  {"op": "pack", "budget": 512, "group_size": 1024?,
   "id_col": "doc_id"?, "lang_col": "lang"?, "text_col": "text"?}
      # sequence packing (operators/corpus.pack_sequences): output is
      # the packed-sequence summary table, not the input rows
      # deterministic hash sample (operators/sampling.py): a pure
      # filter, reproducible across engines and partitionings
  {"op": "pivot", "keys": ["k"], "col": "status", "values": ["F", "O"],
   "agg": {"fn": "count", "col": "*"}, "aliases": ["n_f", "n_o"]}
      # declared-values pivot — one hash aggregate, never a distinct
      # discovery scan; count cells null-fill to 0, other aggs stay
      # NULL for absent (key, value) cells like SQL FILTER
  {"op": "asof_join", "right": <table>, "on": "k", "ts": "ts",
   "right_ts": "ts"?, "right_cols": [...], "direction":
   "backward"|"forward"|"nearest",
   "tolerance": 300?, "tolerance_unit": "second"|"day"|"raw"?}
      # temporal as-of join (operators/joins.asof_join): union +
      # running-fill, ONE shuffle on the key, no pair explosion;
      # attaches asof_ts + asof_<col> per right col. Right (key, ts)
      # pairs should be unique — ties among identical right
      # timestamps are engine-arbitrary
  {"op": "rollup", "keys": ["a", "b"], "aggs": [...groupby aggs...],
   "gid_alias": "gid"}
      # ROLLUP subtotal hierarchy in ONE Expand pass; grouping_id is
      # always emitted (default alias "gid") so real NULL keys stay
      # distinguishable from subtotal rows

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

Bare strings in expression positions mean column refs; bare numbers /
bools mean literals (sugar the parser emits).
"""

from __future__ import annotations

from typing import Any

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


def _validate_sort_keys(keys: Any) -> None:
    if not (isinstance(keys, list) and keys):
        _err("sort needs a non-empty 'keys' list")
    for k in keys:
        if not (isinstance(k, dict) and isinstance(k.get("col"), str)):
            _err(f"sort key needs a 'col': {k!r}")
        if not isinstance(k.get("asc", True), bool):
            _err(f"sort key 'asc' must be bool: {k!r}")


def _validate_aggs(op: dict) -> None:
    aggs = op.get("aggs")
    if not (isinstance(aggs, list) and aggs):
        _err(f"{op['op']} needs non-empty 'aggs': {op!r}")
    for a in aggs:
        if not (isinstance(a, dict) and a.get("fn") in AGG_FNS):
            _err(f"agg needs fn in {sorted(AGG_FNS)}: {a!r}")
        if not isinstance(a.get("col"), str):
            _err(f"agg needs 'col' (use '*' for count): {a!r}")
        if not isinstance(a.get("alias"), str):
            _err(f"agg needs explicit 'alias': {a!r}")
        if "cast" in a and not isinstance(a["cast"], str):
            _err(f"agg 'cast' must be a typename string: {a!r}")
        if a.get("fn") == "percentile":
            p = a.get("p")
            if not (isinstance(p, int | float) and not isinstance(p, bool)
                    and 0 <= p <= 1):
                _err(f"percentile agg needs 'p' in [0, 1]: {a!r}")


def validate_op(op: Any) -> None:
    if not (isinstance(op, dict) and isinstance(op.get("op"), str)):
        _err(f"op must be a dict with an 'op' field: {op!r}")
    kind = op["op"]
    if kind == "filter":
        validate_expr(op.get("expr"))
    elif kind == "select":
        cols = op.get("cols")
        if not (isinstance(cols, list) and cols and all(isinstance(c, str) for c in cols)):
            _err(f"select needs non-empty string 'cols': {op!r}")
    elif kind == "with_column":
        if not isinstance(op.get("name"), str):
            _err(f"with_column needs 'name': {op!r}")
        validate_expr(op.get("expr"))
        if "replace" in op and not isinstance(op["replace"], bool):
            _err(f"with_column 'replace' must be a bool: {op!r}")
    elif kind == "rename":
        r = op.get("renames")
        if not (isinstance(r, dict) and r and all(isinstance(k, str) and isinstance(v, str) for k, v in r.items())):
            _err(f"rename needs 'renames' dict: {op!r}")
    elif kind == "drop":
        cols = op.get("cols")
        if not (isinstance(cols, list) and cols and all(isinstance(c, str) for c in cols)):
            _err(f"drop needs non-empty string 'cols': {op!r}")
    elif kind == "sort":
        _validate_sort_keys(op.get("keys"))
    elif kind == "limit":
        if not (isinstance(op.get("n"), int) and op["n"] >= 0):
            _err(f"limit needs non-negative int 'n': {op!r}")
    elif kind == "groupby_agg":
        keys = op.get("keys")
        if not (isinstance(keys, list) and all(isinstance(k, str) for k in keys)):
            _err(f"groupby_agg needs string 'keys' list: {op!r}")
        _validate_aggs(op)
        if "having" in op and op["having"] is not None:
            validate_expr(op["having"])
    elif kind == "pivot":
        keys = op.get("keys")
        if not (isinstance(keys, list) and keys and all(isinstance(k, str) for k in keys)):
            _err(f"pivot needs non-empty string 'keys': {op!r}")
        if not isinstance(op.get("col"), str):
            _err(f"pivot needs string 'col': {op!r}")
        vals = op.get("values")
        if not (
            isinstance(vals, list)
            and vals
            and all(isinstance(v, str | int | float | bool) for v in vals)
        ):
            # declared values are mandatory — an undeclared pivot would
            # run a distinct discovery scan over the fact table first
            _err(f"pivot needs non-empty scalar 'values' (declared, never discovered): {op!r}")
        agg = op.get("agg")
        if not (
            isinstance(agg, dict)
            and agg.get("fn") in PIVOT_AGG_FNS
            and isinstance(agg.get("col"), str)
        ):
            _err(f"pivot 'agg' needs fn in {sorted(PIVOT_AGG_FNS)} and string 'col': {op!r}")
        aliases = op.get("aliases")
        if not (
            isinstance(aliases, list)
            and len(aliases) == len(vals)
            and all(isinstance(a, str) for a in aliases)
            and len(set(aliases)) == len(aliases)
        ):
            _err(f"pivot 'aliases' must be distinct strings parallel to 'values': {op!r}")
    elif kind == "rollup":
        keys = op.get("keys")
        if not (isinstance(keys, list) and keys and all(isinstance(k, str) for k in keys)):
            _err(f"rollup needs non-empty string 'keys': {op!r}")
        _validate_aggs(op)
        if "gid_alias" in op and not isinstance(op["gid_alias"], str):
            _err(f"rollup 'gid_alias' must be a string: {op!r}")
    elif kind == "distinct":
        cols = op.get("cols")
        if cols is not None and not (isinstance(cols, list) and all(isinstance(c, str) for c in cols)):
            _err(f"distinct 'cols' must be a string list when present: {op!r}")
    elif kind == "dedup":
        keys = op.get("keys")
        if not (isinstance(keys, list) and keys and all(isinstance(k, str) for k in keys)):
            _err(f"dedup needs non-empty string 'keys': {op!r}")
        if not isinstance(op.get("keep_col"), str):
            _err(f"dedup needs string 'keep_col': {op!r}")
        if op.get("keep", "min") not in ("min", "max"):
            _err(f"dedup 'keep' must be 'min' or 'max': {op!r}")
        if "tiebreak" in op and not isinstance(op["tiebreak"], str):
            # optional secondary order (always ascending): makes the
            # winner deterministic when keep_col ties within a group
            _err(f"dedup 'tiebreak' must be a string: {op!r}")
    elif kind == "explode":
        if not isinstance(op.get("col"), str):
            _err(f"explode needs string 'col': {op!r}")
        if not isinstance(op.get("alias"), str):
            _err(f"explode needs string 'alias': {op!r}")
        if "pattern" in op and not isinstance(op["pattern"], str):
            _err(f"explode 'pattern' must be a string: {op!r}")
    elif kind == "sessionize":
        if not isinstance(op.get("key"), str):
            _err(f"sessionize needs string 'key': {op!r}")
        if not (isinstance(op.get("gap_seconds"), int) and op["gap_seconds"] > 0):
            _err(f"sessionize needs positive int 'gap_seconds': {op!r}")
        for f in ("ts_col", "id_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"sessionize '{f}' must be a string: {op!r}")
    elif kind == "window":
        pb = op.get("partition_by", [])
        if not isinstance(pb, list):
            _err(f"window 'partition_by' must be a list: {op!r}")
        _validate_sort_keys(op.get("order_by"))
        exprs = op.get("exprs")
        if not (isinstance(exprs, list) and exprs):
            _err(f"window needs non-empty 'exprs': {op!r}")
        for e in exprs:
            if not (isinstance(e, dict) and e.get("fn") in WINDOW_FNS and isinstance(e.get("alias"), str)):
                _err(f"window expr needs fn in {sorted(WINDOW_FNS)} and alias: {e!r}")
            if e.get("fn") == "ntile":
                if not (isinstance(e.get("n"), int) and e["n"] >= 1):
                    _err(f"ntile needs a positive int 'n': {e!r}")
            if e.get("fn") == "ewma":
                # weighted lag chain over a REQUIRED bounded frame:
                # alpha in (0,1) exclusive, frame of >= 1 prior row
                a = e.get("alpha")
                if not (isinstance(a, float) and 0.0 < a < 1.0):
                    _err(f"ewma needs a float 'alpha' in (0,1): {e!r}")
                if not (isinstance(e.get("rows_preceding"), int)
                        and e["rows_preceding"] >= 1):
                    _err(f"ewma needs int 'rows_preceding' >= 1: {e!r}")
            if "rows_preceding" in e:
                # sliding ROWS frame (n PRECEDING .. CURRENT ROW):
                # aggregate fns only — rank/lag semantics ignore frames
                if e["fn"] in ("row_number", "rank", "dense_rank", "lag", "lead",
                               "ntile", "percent_rank", "cume_dist"):
                    _err(f"'rows_preceding' is only valid on aggregate window fns: {e!r}")
                if not (isinstance(e["rows_preceding"], int) and e["rows_preceding"] >= 0):
                    _err(f"'rows_preceding' must be a non-negative int: {e!r}")
    elif kind == "join":
        if op.get("how", "inner") not in JOIN_TYPES:
            _err(f"join 'how' must be one of {sorted(JOIN_TYPES)}: {op!r}")
        on = op.get("on")
        if not (isinstance(on, list) and on and all(isinstance(c, str) for c in on)):
            _err(f"join needs string 'on' cols: {op!r}")
        if "right" not in op:
            _err(f"join needs 'right' (table name resolved by the compiler): {op!r}")
    elif kind == "union":
        if "right" not in op:
            _err(f"union needs 'right': {op!r}")
    elif kind == "asof_join":
        if "right" not in op:
            _err(f"asof_join needs 'right' (table name resolved by the compiler): {op!r}")
        if not isinstance(op.get("on"), str):
            _err(f"asof_join needs string 'on' key: {op!r}")
        for f in ("ts", "right_ts"):
            if f in op and not isinstance(op[f], str):
                _err(f"asof_join '{f}' must be a string: {op!r}")
        rc = op.get("right_cols", [])
        if not (isinstance(rc, list) and all(isinstance(c, str) for c in rc)):
            _err(f"asof_join 'right_cols' must be a string list: {op!r}")
        if op.get("direction", "backward") not in ("backward", "forward", "nearest"):
            _err(f"asof_join 'direction' must be backward|forward|nearest: {op!r}")
        if "tolerance" in op:
            tol = op["tolerance"]
            if not (isinstance(tol, int | float) and not isinstance(tol, bool) and tol >= 0):
                _err(f"asof_join 'tolerance' must be a non-negative number: {op!r}")
            # unit is REQUIRED alongside tolerance: the engine applies
            # the bound in the ts column's natural unit while sqlgen
            # renders the declared one, so an implicit default could
            # let the two silently disagree. compile_spec raises if
            # the declared unit doesn't match the ts column's type
            # (second<->timestamp, day<->date, raw<->numeric).
            if op.get("tolerance_unit") not in ("second", "day", "raw"):
                _err(
                    "asof_join with 'tolerance' needs 'tolerance_unit' "
                    f"in second|day|raw: {op!r}"
                )
    elif kind == "mode":
        keys = op.get("keys")
        if not (isinstance(keys, list) and keys and all(isinstance(k, str) for k in keys)):
            _err(f"mode needs non-empty string 'keys': {op!r}")
        if not isinstance(op.get("col"), str):
            _err(f"mode needs string 'col': {op!r}")
    elif kind == "ols":
        if not isinstance(op.get("key"), str):
            _err(f"ols needs a string 'key': {op!r}")
        for f in ("x", "y"):
            if not isinstance(op.get(f), str):
                _err(f"ols needs string '{f}': {op!r}")
        for f in ("x_decimal", "y_decimal"):
            if f in op and not isinstance(op[f], str):
                _err(f"ols '{f}' must be a typename string: {op!r}")
    elif kind == "bm25":
        terms = op.get("terms")
        if not (isinstance(terms, list) and terms
                and all(isinstance(t, str) and t for t in terms)):
            _err(f"bm25 needs a non-empty string 'terms' list: {op!r}")
        if not (isinstance(op.get("k"), int) and op["k"] >= 1):
            _err(f"bm25 needs a positive int 'k': {op!r}")
        for f in ("id_col", "text_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"bm25 '{f}' must be a string: {op!r}")
    elif kind == "sample":
        frac = op.get("fraction")
        if not (isinstance(frac, int | float) and 0 <= frac <= 1):
            _err(f"sample needs 'fraction' in [0, 1]: {op!r}")
        if not isinstance(op.get("key"), str):
            _err(f"sample needs a string 'key' column: {op!r}")
        if "salt" in op and not isinstance(op["salt"], str):
            _err(f"sample 'salt' must be a string: {op!r}")
    elif kind == "negatives":
        for f in ("k", "pool"):
            v = op.get(f, 3 if f == "k" else 64)
            if not (isinstance(v, int) and not isinstance(v, bool) and v >= 1):
                _err(f"negatives needs a positive int {f!r}: {op!r}")
        for f in ("id_col", "label_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"negatives '{f}' must be a string: {op!r}")
    elif kind == "chunk":
        for f in ("size", "stride"):
            v = op.get(f)
            if not (isinstance(v, int) and not isinstance(v, bool) and v >= 1):
                _err(f"chunk needs a positive int {f!r}: {op!r}")
        for f in ("id_col", "text_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"chunk '{f}' must be a string: {op!r}")
    elif kind == "resample":
        if not isinstance(op.get("key"), str):
            _err(f"resample needs a string 'key' column: {op!r}")
        sh = op.get("step_hours")
        if not (isinstance(sh, int | float) and not isinstance(sh, bool) and sh > 0):
            _err(f"resample needs a positive 'step_hours': {op!r}")
        for f in ("ts", "val", "id"):
            if f in op and not isinstance(op[f], str):
                _err(f"resample '{f}' must be a string: {op!r}")
    elif kind == "winsorize":
        if not isinstance(op.get("col"), str):
            _err(f"winsorize needs a string 'col': {op!r}")
        ks = op.get("keys")
        if not (isinstance(ks, list) and ks and all(isinstance(k, str) for k in ks)):
            _err(f"winsorize needs non-empty string 'keys': {op!r}")
        lo, hi = op.get("lo", 0.05), op.get("hi", 0.95)
        if not (
            isinstance(lo, int | float)
            and isinstance(hi, int | float)
            and 0 <= lo < hi <= 1
        ):
            _err(f"winsorize needs 0 <= lo < hi <= 1: {op!r}")
    elif kind in ("langid", "token_counts", "quality_score", "redact", "gopher"):
        if "text_col" in op and not isinstance(op["text_col"], str):
            _err(f"{kind} 'text_col' must be a string: {op!r}")
    elif kind == "blocklist":
        ws = op.get("words")
        if not (isinstance(ws, list) and ws and all(isinstance(w, str) for w in ws)):
            _err(f"blocklist needs a non-empty string 'words' list: {op!r}")
        if "text_col" in op and not isinstance(op["text_col"], str):
            _err(f"blocklist 'text_col' must be a string: {op!r}")
    elif kind == "kanon":
        cs = op.get("cols")
        if not (isinstance(cs, list) and cs and all(isinstance(c, str) for c in cs)):
            _err(f"kanon needs a non-empty string 'cols' list: {op!r}")
        kk = op.get("k")
        if not (isinstance(kk, int) and not isinstance(kk, bool) and kk >= 2):
            _err(f"kanon needs an int 'k' >= 2: {op!r}")
    elif kind in ("majority", "agreement"):
        for f in ("key", "label"):
            if not isinstance(op.get(f), str):
                _err(f"{kind} needs a string '{f}': {op!r}")
        if op["key"] == op["label"]:
            _err(f"{kind} 'key' and 'label' must differ: {op!r}")
        if op["key"] == "label":
            # the rendered SQL aliases the label column to 'label'
            # inside its innermost aggregate; a key named 'label'
            # would collide there
            _err(f"{kind} 'key' may not be named 'label': {op!r}")
    elif kind in ("correlate", "spearman"):
        cs = op.get("cols")
        if not (
            isinstance(cs, list)
            and len(cs) >= 2
            and all(isinstance(c, str) for c in cs)
        ):
            _err(f"{kind} needs >= 2 string 'cols': {op!r}")
        if len(set(cs)) != len(cs):
            _err(f"{kind} 'cols' must be distinct: {op!r}")
    elif kind == "mutual_info":
        for f in ("a", "b"):
            if not isinstance(op.get(f), str):
                _err(f"mutual_info needs a string '{f}': {op!r}")
        if op["a"] == op["b"]:
            _err(f"mutual_info 'a' and 'b' must differ: {op!r}")
    elif kind == "anova":
        for f in ("value", "group"):
            if not isinstance(op.get(f), str):
                _err(f"anova needs a string '{f}': {op!r}")
        if op["value"] == op["group"]:
            _err(f"anova 'value' and 'group' must differ: {op!r}")
    elif kind == "funnel":
        steps = op.get("steps")
        if not (
            isinstance(steps, list)
            and 2 <= len(steps) <= 6
            and all(isinstance(s, str) and s for s in steps)
        ):
            _err(f"funnel needs 2-6 string 'steps': {op!r}")
        if len(set(steps)) != len(steps):
            _err(f"funnel 'steps' must be distinct: {op!r}")
        for f in ("type", "user", "ts"):
            if not isinstance(op.get(f), str):
                _err(f"funnel needs a string '{f}': {op!r}")
    elif kind == "novelty":
        n = op.get("n", 3)
        if not (
            isinstance(n, int) and not isinstance(n, bool) and 1 <= n <= 8
        ):
            _err(f"novelty 'n' must be an int in [1, 8]: {op!r}")
    elif kind in ("concentration", "hapax"):
        if not isinstance(op.get("key", "source"), str):
            _err(f"{kind} 'key' must be a string: {op!r}")
        if op.get("key") == "text":
            _err(f"{kind} 'key' may not be the text column: {op!r}")
    elif kind == "ndcg":
        for f in ("k", "n_queries"):
            if not (
                isinstance(op.get(f), int)
                and not isinstance(op[f], bool)
                and op[f] >= 1
            ):
                _err(f"ndcg needs a positive int '{f}': {op!r}")
        if op["k"] > 100:
            # the gain/ideal tables render as k CASE literals in both
            # engines; 100 bounds the plan size
            _err(f"ndcg 'k' must be <= 100: {op!r}")
        if op["n_queries"] > 1024:
            _err(f"ndcg 'n_queries' must be <= 1024 (broadcast side): {op!r}")
    elif kind == "silhouette":
        pass  # fixed (vec_id, embedding, label) schema, no parameters
    elif kind == "common_direction":
        if "n_iter" in op and not (
            isinstance(op["n_iter"], int)
            and not isinstance(op["n_iter"], bool)
            and 1 <= op["n_iter"] <= 12
        ):
            # each power-iteration round is one unrolled oracle CTE
            # block; 12 bounds the plan, 6 is the converged default
            _err(f"common_direction 'n_iter' must be an int in 1..12: {op!r}")
        if "dim" in op and not (
            isinstance(op["dim"], int) and not isinstance(op["dim"], bool)
            and 1 <= op["dim"] <= 4096
        ):
            _err(f"common_direction 'dim' must be an int in 1..4096: {op!r}")
    elif kind == "unimax":
        if not (
            isinstance(op.get("budget"), int)
            and not isinstance(op["budget"], bool)
            and 1 <= op["budget"] <= 10**15
        ):
            _err(f"unimax needs an int 'budget' in 1..1e15: {op!r}")
        if not isinstance(op.get("key"), str):
            _err(f"unimax needs a string 'key' group column: {op!r}")
        if "epochs" in op and not (
            isinstance(op["epochs"], int)
            and not isinstance(op["epochs"], bool)
            and 1 <= op["epochs"] <= 1000
        ):
            _err(f"unimax 'epochs' must be an int in 1..1000: {op!r}")
        if "text" in op and not isinstance(op["text"], str):
            _err(f"unimax 'text' must be a column name: {op!r}")
    elif kind == "bootstrap_mean":
        for f in ("col", "key", "id"):
            if not isinstance(op.get(f), str):
                _err(f"bootstrap_mean needs a string '{f}': {op!r}")
        if "n" in op and not (
            isinstance(op["n"], int) and not isinstance(op["n"], bool)
            and 2 <= op["n"] <= 200
        ):
            # each replicate is one weight column; 200 bounds the
            # explode factor and the oracle's rank frame
            _err(f"bootstrap_mean 'n' must be an int in 2..200: {op!r}")
    elif kind == "bpe_merges":
        if not (
            isinstance(op.get("n"), int)
            and not isinstance(op["n"], bool)
            and 1 <= op["n"] <= 20
        ):
            # each merge is one driver-side argmax round AND one
            # unrolled CTE block in the oracle; 20 bounds both
            _err(f"bpe_merges needs an int 'n' in 1..20: {op!r}")
    elif kind == "perplexity_buckets":
        if "ref_source" in op and not isinstance(op["ref_source"], str):
            _err(f"perplexity_buckets 'ref_source' must be a string: {op!r}")
    elif kind == "anomaly":
        for f in ("col", "key", "order_col"):
            if not isinstance(op.get(f), str):
                _err(f"anomaly needs a string '{f}': {op!r}")
        if not (isinstance(op.get("n"), int) and op["n"] >= 3):
            _err(f"anomaly needs an int 'n' >= 3 (frame rows): {op!r}")
        if "z" in op and not (
            isinstance(op["z"], (int, float))
            and not isinstance(op["z"], bool)
            and op["z"] > 0
        ):
            _err(f"anomaly 'z' must be a positive number: {op!r}")
    elif kind == "word_entropy":
        for f in ("id_col", "text_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"word_entropy '{f}' must be a string: {op!r}")
    elif kind == "oov":
        if not isinstance(op.get("key"), str):
            _err(f"oov needs a string 'key': {op!r}")
        if "v" in op and not (
            isinstance(op["v"], int) and not isinstance(op["v"], bool)
            and op["v"] >= 1
        ):
            _err(f"oov 'v' must be a positive int: {op!r}")
        if "text_col" in op and not isinstance(op["text_col"], str):
            _err(f"oov 'text_col' must be a string: {op!r}")
    elif kind == "dsir":
        if not isinstance(op.get("target_col"), str):
            _err(f"dsir needs a string 'target_col': {op!r}")
        if not isinstance(op.get("target_val"), str):
            _err(f"dsir needs a string 'target_val': {op!r}")
        for k in ("id_col", "text_col"):
            if k in op and not isinstance(op[k], str):
                _err(f"dsir '{k}' must be a string: {op!r}")
    elif kind == "fertility":
        if not isinstance(op.get("key"), str):
            _err(f"fertility needs a string 'key': {op!r}")
        if "text_col" in op and not isinstance(op["text_col"], str):
            _err(f"fertility 'text_col' must be a string: {op!r}")
    elif kind == "dup_by_source":
        if not isinstance(op.get("key"), str):
            _err(f"dup_by_source needs a string 'key': {op!r}")
        if "n" in op and not (
            isinstance(op["n"], int) and not isinstance(op["n"], bool)
            and 2 <= op["n"] <= 16
        ):
            _err(f"dup_by_source 'n' must be an int in [2, 16]: {op!r}")
        for k in ("id_col", "text_col"):
            if k in op and not isinstance(op[k], str):
                _err(f"dup_by_source '{k}' must be a string: {op!r}")
    elif kind == "winnow_dedup":
        t = op.get("overlap")
        if not (isinstance(t, int | float) and not isinstance(t, bool)
                and 0 < t <= 1):
            _err(f"winnow_dedup needs 'overlap' in (0, 1]: {op!r}")
        for k in ("id_col", "text_col"):
            if k in op and not isinstance(op[k], str):
                _err(f"winnow_dedup '{k}' must be a string: {op!r}")
    elif kind == "dedup_savings":
        if not isinstance(op.get("key"), str):
            _err(f"dedup_savings needs a string 'key': {op!r}")
        for k in ("id_col", "text_col", "len_col"):
            if k in op and not isinstance(op[k], str):
                _err(f"dedup_savings '{k}' must be a string: {op!r}")
    elif kind == "vocab_divergence":
        if not isinstance(op.get("key"), str):
            _err(f"vocab_divergence needs a string 'key': {op!r}")
        if "text_col" in op and not isinstance(op["text_col"], str):
            _err(f"vocab_divergence 'text_col' must be a string: {op!r}")
    elif kind == "expect":
        exps = op.get("expectations")
        if not (isinstance(exps, list) and exps
                and all(isinstance(e, dict) for e in exps)):
            _err(f"expect needs a non-empty list of expectation dicts: {op!r}")
        for e in exps:
            ek = e.get("kind")
            if ek in ("unique", "not_null"):
                if not isinstance(e.get("col"), str):
                    _err(f"{ek} expectation needs a string 'col': {e!r}")
            elif ek == "accepted_values":
                if not isinstance(e.get("col"), str):
                    _err(f"accepted_values needs a string 'col': {e!r}")
                vs = e.get("values")
                if not (isinstance(vs, list) and vs):
                    _err(f"accepted_values needs non-empty 'values': {e!r}")
            elif ek == "min_rows":
                if not (isinstance(e.get("n"), int) and e["n"] >= 1):
                    _err(f"min_rows needs a positive int 'n': {e!r}")
            else:
                _err(f"unknown expectation kind: {e!r}")
    elif kind == "split_assign":
        if not isinstance(op.get("key"), str):
            _err(f"split_assign needs a string 'key' column: {op!r}")
        ws, ls = op.get("weights"), op.get("labels")
        if not (
            isinstance(ws, list)
            and ws
            and all(isinstance(w, int | float) and w > 0 for w in ws)
        ):
            _err(f"split_assign needs positive 'weights': {op!r}")
        if not (
            isinstance(ls, list)
            and len(ls) == len(ws)
            and all(isinstance(x, str) and x for x in ls)
            and len(set(ls)) == len(ls)
        ):
            _err(
                "split_assign needs distinct string 'labels', one per "
                f"weight: {op!r}"
            )
        if "alias" in op and not isinstance(op["alias"], str):
            _err(f"split_assign 'alias' must be a string: {op!r}")
    elif kind == "ann_topk":
        if not isinstance(op.get("query_id"), int) or isinstance(op.get("query_id"), bool):
            _err(f"ann_topk needs an int 'query_id': {op!r}")
        if not (isinstance(op.get("k"), int) and op["k"] >= 1):
            _err(f"ann_topk needs a positive int 'k': {op!r}")
        for f in ("id_col", "vec_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"ann_topk '{f}' must be a string: {op!r}")
    elif kind == "neardup":
        t = op.get("threshold")
        if not (isinstance(t, int | float) and not isinstance(t, bool)
                and 0 < t <= 1):
            _err(f"neardup needs 'threshold' in (0, 1]: {op!r}")
        if "id_col" in op and not isinstance(op["id_col"], str):
            _err(f"neardup 'id_col' must be a string: {op!r}")
        if "text_col" in op:  # lsh_verified_pairs shingles 'text' only
            _err(f"neardup reads the 'text' column; 'text_col' is not supported: {op!r}")
    elif kind == "merge":
        if not isinstance(op.get("right"), str):
            _err(f"merge needs a string 'right' table name: {op!r}")
        if not isinstance(op.get("key"), str):
            _err(f"merge needs a string 'key': {op!r}")
        if "cols" in op and not (
            isinstance(op["cols"], list)
            and all(isinstance(c, str) for c in op["cols"])
        ):
            # non-key columns, needed only by the SQL renderer (the
            # DataFrame compiler reads them off the schema)
            _err(f"merge 'cols' must be a list of strings: {op!r}")
    elif kind == "decontaminate":
        if not isinstance(op.get("right"), str):
            _err(f"decontaminate needs a string 'right' table name: {op!r}")
        for f in ("id_col", "text_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"decontaminate '{f}' must be a string: {op!r}")
    elif kind == "pack":
        if not (isinstance(op.get("budget"), int) and op["budget"] >= 1):
            _err(f"pack needs a positive int 'budget': {op!r}")
        if "group_size" in op and not (
            isinstance(op["group_size"], int) and op["group_size"] >= 1
        ):
            _err(f"pack 'group_size' must be a positive int: {op!r}")
        for f in ("id_col", "lang_col", "text_col"):
            if f in op and not isinstance(op[f], str):
                _err(f"pack '{f}' must be a string: {op!r}")
    else:
        _err(f"unknown op {kind!r}")


def validate_spec(spec: Any) -> dict:
    """Validate a whole spec; returns it unchanged for chaining."""
    if not (isinstance(spec, dict) and isinstance(spec.get("ops"), list)):
        _err(f"spec must be {{'ops': [...]}}: {spec!r}")
    for op in spec["ops"]:
        validate_op(op)
    return spec
