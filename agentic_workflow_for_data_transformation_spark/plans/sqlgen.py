"""Spec -> SQL generator (DuckDB-flavored ANSI): the oracle side of
the IR.

Every spec the engine can compile to a DataFrame (plans/compile.py)
can also be rendered as portable ANSI SQL and executed by an
independent engine (DuckDB in the test harness). That makes
correctness checking *structural*: any spec — including randomly
generated ones (tests/test_property.py, hypothesis) — gets a free
oracle, instead of only the hand-written queries having one.

Coverage: the relational core (filter/select/with_column — including
in-place replace via * REPLACE — rename/drop/sort/limit/distinct/
dedup/explode/sample/groupby_agg with count_nulls/median/percentile/
listagg), join (all spec join types; semi/anti via DuckDB's SEMI/ANTI
JOIN) and union (rendered as UNION [ALL] BY NAME — the exact
positional-independence semantics of unionByName) when the right side
is a table NAME, window (ranking family incl. ntile/percent_rank/
cume_dist/first_value, lag/lead, ordered and sliding-frame
aggregates), pivot/rollup, as-of join (LATERAL with tolerance), the
analytics ops (bm25 search, per-group OLS fit), and the full
expression vocabulary (incl. CASE). SqlGenError marks
inline-DataFrame right sides unsupported rather than emitting
something wrong.
"""

from __future__ import annotations

from typing import Any

from .spec import spec_ops

_CMP_SQL = {"gt": ">", "ge": ">=", "lt": "<", "le": "<=", "eq": "=", "ne": "<>"}
_ARITH_SQL = {"add": "+", "sub": "-", "mul": "*", "div": "/"}


class SqlGenError(ValueError):
    """Spec not renderable as standalone ANSI SQL by this generator."""


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit_sql(v: Any) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int | float):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _like_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")


def expr_to_sql(expr: Any) -> str:
    """Expression tree -> parenthesized ANSI SQL (same sugar rules as
    the DataFrame compiler: bare str = column, bare scalar = literal)."""
    if isinstance(expr, str):
        return _q(expr)
    if isinstance(expr, bool | int | float) or expr is None:
        return _lit_sql(expr)
    [(op, args)] = expr.items()
    if op == "col":
        return _q(args)
    if op == "lit":
        return _lit_sql(args)
    if op in _CMP_SQL:
        return f"({expr_to_sql(args[0])} {_CMP_SQL[op]} {expr_to_sql(args[1])})"
    if op in _ARITH_SQL:
        return f"({expr_to_sql(args[0])} {_ARITH_SQL[op]} {expr_to_sql(args[1])})"
    if op == "between":
        return (
            f"({expr_to_sql(args[0])} BETWEEN {expr_to_sql(args[1])}"
            f" AND {expr_to_sql(args[2])})"
        )
    if op == "isin":
        vals = ", ".join(_lit_sql(v) for v in args[1])
        return f"({expr_to_sql(args[0])} IN ({vals}))"
    if op == "startswith":
        return f"({expr_to_sql(args[0])} LIKE {_lit_sql(_like_escape(args[1]) + '%')} ESCAPE '\\')"
    if op == "contains":
        return f"({expr_to_sql(args[0])} LIKE {_lit_sql('%' + _like_escape(args[1]) + '%')} ESCAPE '\\')"
    if op == "and":
        return "(" + " AND ".join(expr_to_sql(a) for a in args) + ")"
    if op == "or":
        return "(" + " OR ".join(expr_to_sql(a) for a in args) + ")"
    if op == "not":
        return f"(NOT {expr_to_sql(args)})"
    if op == "is_null":
        return f"({expr_to_sql(args)} IS NULL)"
    if op == "is_not_null":
        return f"({expr_to_sql(args)} IS NOT NULL)"
    if op == "round":
        return f"round({expr_to_sql(args[0])}, {args[1]})"
    if op == "cast":
        if args[1] in ("long", "int", "bigint", "integer"):
            # Spark's numeric->integer cast TRUNCATES toward zero while
            # DuckDB's rounds half-up; pin Spark semantics with trunc()
            return f"CAST(trunc({expr_to_sql(args[0])}) AS BIGINT)"
        return f"CAST({expr_to_sql(args[0])} AS {args[1]})"
    if op in ("lower", "upper", "trim", "length"):
        return f"{op}({expr_to_sql(args)})"
    if op == "json_get":
        # field is validator-pinned to an identifier, so inlining it
        # into the path literal is safe
        return f"json_extract_string({expr_to_sql(args[0])}, '$.{args[1]}')"
    if op in ("concat", "coalesce"):
        inner = ", ".join(expr_to_sql(a) for a in args)
        return f"{op}({inner})"
    if op == "case":
        branches = " ".join(
            f"WHEN {expr_to_sql(c)} THEN {expr_to_sql(v)}"
            for c, v in args["when"]
        )
        tail = f" ELSE {expr_to_sql(args['else'])}" if "else" in args else ""
        return f"(CASE {branches}{tail} END)"
    raise SqlGenError(f"no SQL rendering for expression op {op!r}")


_AGG_SQL = {
    "count": "count", "avg": "avg", "sum": "sum", "min": "min", "max": "max",
    # exact interpolated median — Spark F.median == DuckDB median()
    # (quantile_cont 0.5): value depends only on the two middle order
    # statistics, so it is partition-order independent in both engines
    "median": "median",
}


def _sample_sql(op: dict) -> str:
    # mirrors operators/sampling.py: 60-bit md5 prefix draw mod 1e6
    key = _q(op["key"])
    salt = op["salt"]
    draw = (
        f"(('0x' || substr(md5({_lit_sql(salt + '|')} || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
        f" % 1000000)"
    )
    return f"{draw} < {int(op['fraction'] * 1_000_000)}"


def _correlate_sql(inner: str, cols: list[str]) -> str:
    """The pairwise-complete DECIMAL-pinned Pearson moment block over
    ``inner`` — mirrors operators/profile.correlation_matrix (the
    x_corr_matrix oracle, parameterized): each pair's count/sums/
    products CASE-masked to rows where BOTH columns are non-null (a
    shared-diagonal global-n form is wrong under NULLs), UNION ALL arm
    per pair; product inputs widen to DECIMAL(24,6) because DuckDB
    multiplies DECIMAL(18) in int64 and overflows first. Shared by the
    'correlate' and 'spearman' renderers."""
    pair_idx = [
        (i, j)
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    moments = []
    for i, j in pair_idx:
        xq, yq = _q(cols[i]), _q(cols[j])
        both = f"{xq} IS NOT NULL AND {yq} IS NOT NULL"
        xd = f"CAST({xq} AS DECIMAL(24,6))"
        yd = f"CAST({yq} AS DECIMAL(24,6))"
        moments += [
            f"CAST(count(CASE WHEN {both} THEN 1 END) "
            f"AS BIGINT) AS n{i}_{j}",
            f"CAST(SUM(CASE WHEN {both} THEN "
            f"CAST({xq} AS DECIMAL(18,6)) END) AS DOUBLE) "
            f"AS sx{i}_{j}",
            f"CAST(SUM(CASE WHEN {both} THEN "
            f"CAST({yq} AS DECIMAL(18,6)) END) AS DOUBLE) "
            f"AS sy{i}_{j}",
            f"CAST(SUM(CASE WHEN {both} THEN "
            f"CAST({xd} * {xd} AS DECIMAL(38,12)) END) "
            f"AS DOUBLE) AS pxx{i}_{j}",
            f"CAST(SUM(CASE WHEN {both} THEN "
            f"CAST({yd} * {yd} AS DECIMAL(38,12)) END) "
            f"AS DOUBLE) AS pyy{i}_{j}",
            f"CAST(SUM(CASE WHEN {both} THEN "
            f"CAST({xd} * {yd} AS DECIMAL(38,12)) END) "
            f"AS DOUBLE) AS pxy{i}_{j}",
        ]
    arms = " UNION ALL ".join(
        f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, "
        f"n{i}_{j} AS n, "
        f"(CASE WHEN (n{i}_{j} * pxx{i}_{j} "
        f"  - sx{i}_{j} * sx{i}_{j}) > 0 "
        f"  AND (n{i}_{j} * pyy{i}_{j} "
        f"  - sy{i}_{j} * sy{i}_{j}) > 0 THEN "
        f" round((n{i}_{j} * pxy{i}_{j} - sx{i}_{j} * sy{i}_{j}) "
        f"  / sqrt((n{i}_{j} * pxx{i}_{j} - sx{i}_{j} * sx{i}_{j}) "
        f"       * (n{i}_{j} * pyy{i}_{j} - sy{i}_{j} * sy{i}_{j})"
        f"), 6) END) AS r "
        f"FROM __corr"
        for i, j in pair_idx
    )
    return (
        f"WITH __corr AS (SELECT {', '.join(moments)} "
        f"FROM ({inner})) {arms}"
    )


def spec_to_sql(spec: dict, table: str) -> str:
    """Render a relational-core spec as a nested-subquery SQL statement
    over ``table``. Ops keep their stated order (each op wraps the
    previous result in a subquery — the optimizer flattens them)."""
    sql = f"SELECT * FROM {table}"

    def wrap(select: str, tail: str = "") -> str:
        return f"SELECT {select} FROM ({sql}) {tail}".rstrip()

    for op in spec_ops(spec):
        kind = op["op"]
        if kind == "filter":
            sql = wrap("*", f"WHERE {expr_to_sql(op['expr'])}")
        elif kind == "select":
            sql = wrap(", ".join(_q(c) for c in op["cols"]))
        elif kind == "with_column":
            if op["replace"]:
                # in-place update of an existing column: a bare
                # "*, expr AS name" would leave TWO columns named
                # 'name' in DuckDB and later references silently bind
                # to the ORIGINAL — * REPLACE keeps one, in place,
                # matching Spark withColumn-on-existing semantics
                sql = wrap(f"* REPLACE ({expr_to_sql(op['expr'])} AS {_q(op['name'])})")
            else:
                sql = wrap(f"*, {expr_to_sql(op['expr'])} AS {_q(op['name'])}")
        elif kind == "rename":
            ren = op["renames"]
            sql = wrap(
                "* EXCLUDE ("
                + ", ".join(_q(o) for o in ren)
                + "), "
                + ", ".join(f"{_q(o)} AS {_q(n)}" for o, n in ren.items())
            )
        elif kind == "drop":
            sql = wrap("* EXCLUDE (" + ", ".join(_q(c) for c in op["cols"]) + ")")
        elif kind == "sort":
            # explicit null ordering matching Spark semantics (ASC is
            # NULLS FIRST, DESC is NULLS LAST) — DuckDB's defaults are
            # the opposite, so a sort+limit over nullable keys would
            # otherwise pick different boundary rows than the engine
            keys = ", ".join(
                _q(k["col"])
                + (" ASC NULLS FIRST" if k["asc"] else " DESC NULLS LAST")
                for k in op["keys"]
            )
            sql = wrap("*", f"ORDER BY {keys}")
        elif kind == "limit":
            sql = wrap("*", f"LIMIT {op['n']}")
        elif kind == "distinct":
            if op["cols"]:
                raise SqlGenError("distinct-by-cols keeps arbitrary rows; no portable SQL")
            sql = f"SELECT DISTINCT * FROM ({sql})"
        elif kind == "dedup":
            # the deterministic sibling of distinct-by-cols: keyed
            # row_number with an explicit keep order IS portable
            part = ", ".join(_q(k) for k in op["keys"])
            dirn = (
                "ASC NULLS FIRST"
                if op["keep"] == "min"
                else "DESC NULLS LAST"
            )
            tb = (
                f", {_q(op['tiebreak'])} ASC NULLS FIRST"
                if op["tiebreak"]
                else ""
            )
            inner = wrap(
                f"*, row_number() OVER (PARTITION BY {part} "
                f"ORDER BY {_q(op['keep_col'])} {dirn}{tb}) AS _rn"
            )
            sql = f'SELECT * EXCLUDE ("_rn") FROM ({inner}) WHERE "_rn" = 1'
        elif kind == "explode":
            pat = _lit_sql(op["pattern"])
            sql = wrap(
                f"*, unnest(list_filter(string_split_regex("
                f"{_q(op['col'])}, {pat}), t -> t <> '')) AS {_q(op['alias'])}"
            )
        elif kind == "sample":
            sql = wrap("*", f"WHERE {_sample_sql(op)}")
        elif kind == "negatives":
            # mirrors operators/sampling.negative_samples (the
            # ns_sample_negatives oracle over the wrapped subquery)
            idc = _q(op["id_col"])
            lab = _q(op["label_col"])
            k, pool = op["k"], op["pool"]
            sql = (
                f"WITH gsrc AS ({sql}), "
                f"gpool AS (SELECT {idc} AS cand_id, {lab} AS cand_label "
                "FROM gsrc ORDER BY "
                f"(('0x' || substr(md5('negpool|' || CAST({idc} AS VARCHAR)), 1, 15))::BIGINT % 1000000), "
                f"cand_id LIMIT {pool}), "
                f"gpairs AS (SELECT e.{idc}, e.{lab}, p.cand_id, "
                f"row_number() OVER (PARTITION BY e.{idc} ORDER BY "
                f"md5(CAST(e.{idc} AS VARCHAR) || '|' || CAST(p.cand_id AS VARCHAR)), "
                "p.cand_id) AS rn "
                f"FROM gsrc e JOIN gpool p ON e.{lab} <> p.cand_label) "
                f"SELECT {idc}, {lab}, cand_id AS negative_id, "
                f"CAST(rn AS BIGINT) AS neg_rank FROM gpairs WHERE rn <= {k}"
            )
        elif kind == "chunk":
            # mirrors operators/corpus.chunk_documents (the
            # ns_chunk_documents oracle, parameterized over the
            # wrapped subquery)
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            size, stride = int(op["size"]), int(op["stride"])
            sql = (
                f"WITH cw AS (SELECT {idc} AS doc_id, string_split({txt}, ' ') AS ws "
                f"FROM ({sql})), "
                f"cst AS (SELECT doc_id, ws, "
                f"unnest(generate_series(1, len(ws), {stride})) AS start FROM cw), "
                f"cc AS (SELECT doc_id, start, "
                f"list_slice(ws, start, least(start + {size - 1}, len(ws))) AS chunk "
                "FROM cst) "
                f"SELECT doc_id AS {idc}, "
                f"CAST((start - 1) / {stride} AS INTEGER) AS chunk_idx, "
                "CAST(len(chunk) AS INTEGER) AS n_chunk_words, "
                "md5(array_to_string(chunk, ' ')) AS chunk_md5 FROM cc"
            )
        elif kind == "resample":
            # mirrors operators/timeseries.resample_interpolate: BIGINT
            # epoch buckets, arg_min observed sample, IGNORE NULLS fill
            # windows, identical IEEE interpolation shape
            key = _q(op["key"])
            ts = _q(op["ts"])
            val = _q(op["val"])
            idc = _q(op["id"])
            step = int(op["step_hours"] * 3600)
            sql = (
                f"WITH rsrc AS ({sql}), "
                f"rb AS (SELECT {key} AS rkey, "
                f"CAST(floor(epoch({ts})/{step}) AS BIGINT)*{step} AS epoch_s, "
                f"arg_min({val}, {idc}) AS v FROM rsrc GROUP BY 1, 2), "
                "rspan AS (SELECT rkey, min(epoch_s) AS e0, max(epoch_s) AS e1 "
                "FROM rb GROUP BY 1), "
                f"rgrid AS (SELECT rkey, unnest(range(e0, e1+1, {step})) AS epoch_s "
                "FROM rspan), "
                "rj AS (SELECT g.rkey, g.epoch_s, rb.v FROM rgrid g "
                "LEFT JOIN rb USING (rkey, epoch_s)), "
                "rf AS (SELECT rkey, epoch_s, v, "
                "last_value(v IGNORE NULLS) OVER wb AS pv, "
                "last_value(CASE WHEN v IS NOT NULL THEN epoch_s END IGNORE NULLS) "
                "OVER wb AS pe, "
                "first_value(v IGNORE NULLS) OVER wf AS nv, "
                "first_value(CASE WHEN v IS NOT NULL THEN epoch_s END IGNORE NULLS) "
                "OVER wf AS ne FROM rj WINDOW "
                "wb AS (PARTITION BY rkey ORDER BY epoch_s "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                "wf AS (PARTITION BY rkey ORDER BY epoch_s "
                "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
                f"SELECT rkey AS {key}, epoch_s, "
                "round(CASE WHEN v IS NOT NULL THEN v "
                "WHEN pv IS NOT NULL AND nv IS NOT NULL "
                "THEN pv + (nv - pv) * ((epoch_s - pe) * 1.0 / (ne - pe)) "
                "ELSE coalesce(pv, nv) END, 6) AS value_interp, "
                "(v IS NOT NULL) AS is_observed FROM rf"
            )
        elif kind == "winsorize":
            # mirrors operators/stats.winsorize_group: exact
            # interpolated percentiles per group (quantile_cont ==
            # Spark percentile), clamp rounded to 6
            col = _q(op["col"])
            keys = ", ".join(_q(k) for k in op["keys"])
            lo, hi = op["lo"], op["hi"]
            sql = (
                f"WITH wsrc AS ({sql}), "
                f"wq AS (SELECT {keys}, quantile_cont({col}, {lo!r}) AS __lo, "
                f"quantile_cont({col}, {hi!r}) AS __hi FROM wsrc GROUP BY {keys}) "
                f"SELECT wsrc.*, "
                f"round(least(greatest({col}, __lo), __hi), 6) AS "
                f"{_q(op['col'] + '_winsor')}, "
                f"({col} < __lo OR {col} > __hi) AS was_clamped "
                f"FROM wsrc JOIN wq USING ({keys})"
            )
        elif kind == "expect":
            # mirrors operators/quality.check_expectations (the
            # ns_quality_expectations oracle shape, parameterized):
            # one aggregate CTE, one UNION ALL report row per
            # expectation, NULL-safe violation semantics
            exps = op["expectations"]
            aggs = ["count(*) AS n"]
            for i, e in enumerate(exps):
                ek, col = e.get("kind"), _q(e.get("col", "*")) if e.get("col") else None
                if ek == "not_null":
                    aggs.append(
                        f"CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
                    )
                elif ek == "unique":
                    aggs.append(f"count(DISTINCT {col}) AS d{i}")
                    aggs.append(
                        f"CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dn{i}"
                    )
                elif ek == "accepted_values":
                    vals = ", ".join(_lit_sql(v) for v in e["values"])
                    aggs.append(
                        f"CAST(sum(CASE WHEN {col} IS NULL OR {col} NOT IN ({vals}) "
                        f"THEN 1 ELSE 0 END) AS BIGINT) AS v{i}"
                    )
            report = []
            for i, e in enumerate(exps):
                ek = e["kind"]
                colname = e.get("col", "*")
                if ek == "unique":
                    viol = f"n - d{i} - (CASE WHEN dn{i} > 0 THEN 1 ELSE 0 END)"
                elif ek == "min_rows":
                    k = int(e["n"])
                    viol = f"CASE WHEN n < {k} THEN {k} - n ELSE 0 END"
                else:
                    viol = f"v{i}"
                label = _lit_sql(f"{i}_{ek}_{colname}")
                if not report:
                    report.append(
                        f"SELECT {label} AS expectation, {_lit_sql(ek)} AS kind, "
                        f"{_lit_sql(colname)} AS col, CAST(n AS BIGINT) AS n_rows, "
                        f"CAST({viol} AS BIGINT) AS n_violations, "
                        f"({viol}) = 0 AS passed FROM qexp"
                    )
                else:
                    report.append(
                        f"SELECT {label}, {_lit_sql(ek)}, {_lit_sql(colname)}, "
                        f"CAST(n AS BIGINT), CAST({viol} AS BIGINT), "
                        f"({viol}) = 0 FROM qexp"
                    )
            sql = (
                f"WITH qexp AS (SELECT {', '.join(aggs)} FROM ({sql})) "
                + " UNION ALL ".join(report)
            )
        elif kind == "redact":
            # mirrors operators/text.redact_text (the ns_text_redact
            # oracle, parameterized): regexes come from the same
            # module constants, text replaced IN PLACE, n_masked
            # counted against the original text
            from ..operators.text import EMAIL_REGEX, LONG_NUM_REGEX

            txt = _q(op["text_col"])
            sql = (
                f"SELECT * REPLACE (regexp_replace(regexp_replace({txt}, "
                f"'{EMAIL_REGEX}', '<EMAIL>', 'g'), "
                f"'{LONG_NUM_REGEX}', '<NUM>', 'g') AS {txt}), "
                f"CAST(len(regexp_extract_all({txt}, '{EMAIL_REGEX}')) "
                f"+ len(regexp_extract_all({txt}, '{LONG_NUM_REGEX}')) AS BIGINT) "
                f"AS n_masked FROM ({sql})"
            )
        elif kind == "blocklist":
            # mirrors operators/text.blocklist_screen: word-level set
            # intersection of the lowercased whitespace tokens against
            # the (lowercased) literal list — list_has_any is DuckDB's
            # arrays_overlap
            txt = _q(op["text_col"])
            arr = ", ".join(_lit_sql(w.lower()) for w in op["words"])
            sql = (
                f"SELECT * FROM ({sql}) WHERE NOT "
                f"list_has_any(string_split(lower({txt}), ' '), [{arr}])"
            )
        elif kind == "kanon":
            # mirrors operators/quality.k_anonymity_audit: one group
            # aggregate on the quasi-identifier columns, folded to a
            # single report row
            cols = ", ".join(_q(c) for c in op["cols"])
            k = int(op["k"])
            quasi = "+".join(op["cols"]).replace("'", "''")
            sql = (
                f"SELECT '{quasi}' AS quasi, CAST({k} AS INTEGER) AS k, "
                f"CAST(SUM(n) AS BIGINT) AS n_rows, "
                f"CAST(count(*) AS BIGINT) AS n_groups, "
                f"CAST(SUM(CASE WHEN n < {k} THEN 1 ELSE 0 END) AS BIGINT) "
                f"AS n_violating_groups, "
                f"CAST(SUM(CASE WHEN n < {k} THEN n ELSE 0 END) AS BIGINT) "
                f"AS n_rows_at_risk, "
                f"round(SUM(CASE WHEN n < {k} THEN n ELSE 0 END) "
                f"/ CAST(SUM(n) AS DOUBLE), 6) AS risk_ratio, "
                f"CAST(min(n) AS BIGINT) AS min_group_size "
                f"FROM (SELECT {cols}, CAST(count(*) AS BIGINT) AS n "
                f"FROM ({sql}) GROUP BY {cols})"
            )
        elif kind == "majority":
            # mirrors operators/quality.majority_vote (the
            # ns_quality_majority_vote oracle, parameterized): one
            # (key, label) aggregate, then the key-partitioned top-2
            # window read — ties break to the smaller label, flagged
            key = _q(op["key"])
            lab = _q(op["label"])
            sql = (
                f"SELECT {key}, label AS majority_label, "
                f"CAST(n_ratings AS BIGINT) AS n_ratings, "
                f"votes AS n_votes, "
                f"round(votes / CAST(n_ratings AS DOUBLE), 6) AS vote_share, "
                f"CAST(votes - COALESCE(votes2, 0) AS BIGINT) AS margin, "
                f"COALESCE(votes2, -1) = votes AS is_tie "
                f"FROM (SELECT {key}, label, votes, "
                f" row_number() OVER (PARTITION BY {key} "
                f"  ORDER BY votes DESC, label ASC NULLS FIRST) AS rn, "
                f" lead(votes) OVER (PARTITION BY {key} "
                f"  ORDER BY votes DESC, label ASC NULLS FIRST) "
                f"  AS votes2, "
                f" SUM(votes) OVER (PARTITION BY {key}) AS n_ratings "
                f" FROM (SELECT {key}, {lab} AS label, "
                f"  CAST(count(*) AS BIGINT) AS votes "
                f"  FROM ({sql}) GROUP BY 1, 2)) WHERE rn = 1"
            )
        elif kind == "correlate":
            # mirrors operators/profile.correlation_matrix (the
            # x_corr_matrix oracle, parameterized) — see _correlate_sql
            sql = _correlate_sql(sql, list(op["cols"]))
        elif kind == "spearman":
            # mirrors operators/profile.spearman_matrix: fractional
            # (average) ranks per column over its non-null values —
            # exclusive running count + (c+1)/2 midranks over the
            # distinct-value frame, DuckDB's single-node window
            # standing in for the engine's two-phase bucketed
            # cumulative — then the SAME decimal-pinned pairwise-
            # complete Pearson block runs on the rank columns, with
            # r surfaced as rho
            cols = list(op["cols"])
            ctes, joins, sels = [], [], []
            base = f"__sp_base AS ({sql})"
            for i, c in enumerate(cols):
                cq = _q(c)
                ctes.append(
                    f"__sp_g{i} AS (SELECT {cq} AS v, "
                    f"CAST(count(*) AS BIGINT) AS c FROM __sp_base "
                    f"WHERE {cq} IS NOT NULL GROUP BY 1), "
                    f"__sp_r{i} AS (SELECT v, CAST(COALESCE(SUM(c) OVER ("
                    f"ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND "
                    f"1 PRECEDING), 0) AS BIGINT) + (c + 1) / 2.0 AS rk "
                    f"FROM __sp_g{i})"
                )
                joins.append(f"LEFT JOIN __sp_r{i} ON __sp_r{i}.v = t.{cq}")
                sels.append(f"__sp_r{i}.rk AS {cq}")
            ranked = (
                f"WITH {base}, {', '.join(ctes)} "
                f"SELECT {', '.join(sels)} FROM __sp_base t "
                f"{' '.join(joins)}"
            )
            sql = (
                f"SELECT col_a, col_b, n, r AS rho FROM "
                f"({_correlate_sql(ranked, cols)}) __sp"
            )
        elif kind == "mutual_info":
            # mirrors operators/stats.mutual_information: one (a, b)
            # contingency aggregate; marginals/total/entropies derive
            # from the cell frame; every log term rounds to 12 and
            # pins DECIMAL(28,12) so the sums are partition-order
            # exact; final mi/h/nmi round to 6, NULL nmi on a
            # zero-entropy marginal
            aq, bq = _q(op["a"]), _q(op["b"])
            sql = (
                f"WITH __mi_j AS (SELECT {aq}, {bq}, "
                f"CAST(count(*) AS BIGINT) AS nab FROM ({sql}) "
                f"WHERE {aq} IS NOT NULL AND {bq} IS NOT NULL "
                f"GROUP BY 1, 2), "
                f"__mi_ra AS (SELECT {aq}, CAST(sum(nab) AS BIGINT) AS na "
                f"FROM __mi_j GROUP BY 1), "
                f"__mi_cb AS (SELECT {bq}, CAST(sum(nab) AS BIGINT) AS nb "
                f"FROM __mi_j GROUP BY 1), "
                f"__mi_tot AS (SELECT CAST(sum(nab) AS BIGINT) AS n, "
                f"CAST(count(*) AS BIGINT) AS n_cells FROM __mi_j), "
                f"__mi_mi AS (SELECT SUM(CAST(round((CAST(nab AS DOUBLE) / n) "
                f" * ln(CAST(nab AS DOUBLE) * n / (CAST(na AS DOUBLE) * nb)), "
                f"12) AS DECIMAL(28,12))) AS s "
                f"FROM __mi_j JOIN __mi_ra USING ({aq}) "
                f"JOIN __mi_cb USING ({bq}) CROSS JOIN __mi_tot), "
                f"__mi_ha AS (SELECT SUM(CAST(round((CAST(na AS DOUBLE) / n) "
                f" * ln(CAST(n AS DOUBLE) / na), 12) AS DECIMAL(28,12))) AS s "
                f"FROM __mi_ra CROSS JOIN __mi_tot), "
                f"__mi_hb AS (SELECT SUM(CAST(round((CAST(nb AS DOUBLE) / n) "
                f" * ln(CAST(n AS DOUBLE) / nb), 12) AS DECIMAL(28,12))) AS s "
                f"FROM __mi_cb CROSS JOIN __mi_tot) "
                f"SELECT __mi_tot.n, __mi_tot.n_cells, "
                f"round(CAST(__mi_mi.s AS DOUBLE), 6) AS mi, "
                f"round(CAST(__mi_ha.s AS DOUBLE), 6) AS h_a, "
                f"round(CAST(__mi_hb.s AS DOUBLE), 6) AS h_b, "
                f"CASE WHEN round(CAST(__mi_ha.s AS DOUBLE), 6) > 0 "
                f"AND round(CAST(__mi_hb.s AS DOUBLE), 6) > 0 THEN "
                f"round(round(CAST(__mi_mi.s AS DOUBLE), 6) "
                f"/ sqrt(round(CAST(__mi_ha.s AS DOUBLE), 6) "
                f"* round(CAST(__mi_hb.s AS DOUBLE), 6)), 6) END AS nmi "
                f"FROM __mi_tot CROSS JOIN __mi_mi "
                f"CROSS JOIN __mi_ha CROSS JOIN __mi_hb"
            )
        elif kind == "anova":
            # mirrors operators/stats.anova_oneway: one grouped
            # sufficient-stats aggregate over DECIMAL(18,2), the
            # per-group s^2/n term rounded to 12 and pinned
            # DECIMAL(28,12), closed-form F / eta^2 in doubles with
            # one fixed shape, NULL on degenerate inputs
            vq, gq = _q(op["value"]), _q(op["group"])
            sql = (
                f"WITH __an_g AS (SELECT {gq}, "
                f"CAST(count(v) AS BIGINT) AS ng, sum(v) AS sg, "
                f"sum(v * v) AS ssg FROM (SELECT {gq}, "
                f"CAST({vq} AS DECIMAL(18,2)) AS v FROM ({sql}) "
                f"WHERE {gq} IS NOT NULL AND {vq} IS NOT NULL) "
                f"GROUP BY 1), "
                f"__an_t AS (SELECT CAST(count(*) AS BIGINT) AS k, "
                f"CAST(sum(ng) AS BIGINT) AS n, "
                f"CAST(sum(sg) AS DOUBLE) AS s, "
                f"CAST(sum(ssg) AS DOUBLE) AS ss, "
                f"CAST(sum(CAST(round(CAST(sg AS DOUBLE) "
                f"* CAST(sg AS DOUBLE) / ng, 12) AS DECIMAL(28,12))) "
                f"AS DOUBLE) AS w FROM __an_g) "
                f"SELECT k, n, round(w - s * s / n, 6) AS ss_between, "
                f"round(ss - w, 6) AS ss_within, "
                f"CASE WHEN k >= 2 AND n > k AND round(ss - w, 6) > 0 THEN "
                f"round(((w - s * s / n) / (k - 1)) "
                f"/ ((ss - w) / (n - k)), 6) END AS f_stat, "
                f"CASE WHEN k >= 2 AND n > k AND round(ss - w, 6) > 0 THEN "
                f"round((w - s * s / n) / ((w - s * s / n) + (ss - w)), 6) "
                f"END AS eta_sq FROM __an_t"
            )
        elif kind == "funnel":
            # mirrors operators/timeseries.funnel_steps: per step one
            # filtered min-ts aggregate joined to the previous stage
            # on the user key with a strict ts inequality; counts
            # assembled into one row per step, conversion = exact
            # count division rounded to 6, NULL on step 1
            uq, tq, cq = _q(op["user"]), _q(op["ts"]), _q(op["type"])
            steps = list(op["steps"])
            ctes = [
                f"__fu_1 AS (SELECT {uq}, min({tq}) AS t FROM ({sql}) "
                f"WHERE {cq} = {_lit_sql(steps[0])} GROUP BY 1)"
            ]
            for i in range(2, len(steps) + 1):
                ctes.append(
                    f"__fu_{i} AS (SELECT e.{uq}, min(e.{tq}) AS t "
                    f"FROM ({sql}) e JOIN __fu_{i-1} p "
                    f"ON e.{uq} = p.{uq} AND e.{tq} > p.t "
                    f"WHERE e.{cq} = {_lit_sql(steps[i-1])} GROUP BY 1)"
                )
            counts = ", ".join(
                f"(SELECT CAST(count(*) AS BIGINT) FROM __fu_{i}) AS c{i}"
                for i in range(1, len(steps) + 1)
            )
            ctes.append(f"__fu_c AS (SELECT {counts})")
            arms = [
                f"SELECT 1 AS step, {_lit_sql(steps[0])} AS {cq}, "
                f"c1 AS n_users, CAST(NULL AS DOUBLE) AS conversion "
                f"FROM __fu_c"
            ]
            for i in range(2, len(steps) + 1):
                arms.append(
                    f"SELECT {i}, {_lit_sql(steps[i-1])}, c{i}, "
                    f"CASE WHEN c{i-1} > 0 THEN "
                    f"round(CAST(c{i} AS DOUBLE) / c{i-1}, 6) END "
                    f"FROM __fu_c"
                )
            sql = "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(arms)
        elif kind == "novelty":
            # mirrors operators/text.ngram_novelty: the shared
            # distinct-shingle explode (the _SHINGLE_CTE shape,
            # parameterized by n), a min-doc-id first-occurrence
            # aggregate, one join back, one per-doc aggregate
            n = int(op["n"])
            gram = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
            gram = gram.replace("ws[i + 0]", "ws[i]")
            sql = (
                f"WITH __nv_w AS (SELECT doc_id, "
                f"string_split(text, ' ') AS ws FROM ({sql})), "
                f"__nv_sh AS (SELECT doc_id, CASE WHEN len(ws) >= {n} "
                f"THEN list_distinct(list_transform("
                f"range(1, len(ws) - {n - 2}), i -> {gram})) "
                f"ELSE CAST([] AS VARCHAR[]) END AS sh FROM __nv_w), "
                f"__nv_e AS (SELECT doc_id, unnest(sh) AS s FROM __nv_sh), "
                f"__nv_f AS (SELECT s, min(doc_id) AS first "
                f"FROM __nv_e GROUP BY s) "
                f"SELECT doc_id, count(*) AS n_grams, "
                f"CAST(count(*) FILTER (WHERE first = doc_id) AS BIGINT) "
                f"AS n_novel, "
                f"round(count(*) FILTER (WHERE first = doc_id) * 1.0 "
                f"/ count(*), 6) AS novelty "
                f"FROM __nv_e JOIN __nv_f USING (s) GROUP BY doc_id"
            )
        elif kind == "concentration":
            # mirrors operators/corpus.concentration_audit: per-group
            # token sums, sorted-rank Gini with integer rank-weight
            # products, HHI and top-3 share as fixed double shapes
            # over exact BIGINTs
            kq = _q(op["key"])
            sql = (
                f"WITH __cc_t AS (SELECT {kq}, "
                f"CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w "
                f"FROM ({sql}) GROUP BY 1), "
                f"__cc_r AS (SELECT {kq}, w, CAST(row_number() OVER ("
                f"ORDER BY w ASC, {kq}) AS INTEGER) AS i, "
                f"CAST(count(*) OVER () AS BIGINT) AS k FROM __cc_t) "
                f"SELECT CAST(count(*) AS BIGINT) AS k_groups, "
                f"CAST(sum(w) AS BIGINT) AS total_tokens, "
                f"round(sum(CAST(w AS DOUBLE) * w) "
                f"/ (CAST(sum(w) AS DOUBLE) * sum(w)), 6) AS hhi, "
                f"round(2.0 * CAST(sum(CAST(i AS BIGINT) * w) AS DOUBLE) "
                f"/ CAST(count(*) * sum(w) AS DOUBLE) "
                f"- CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini, "
                f"round(CAST(sum(CASE WHEN i > k - 3 THEN w ELSE 0 END) "
                f"AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS top3_share "
                f"FROM __cc_r"
            )
        elif kind == "hapax":
            # mirrors operators/text.hapax_ratio: one token explode,
            # one (group, word) count, one per-group vocabulary rollup
            kq = _q(op["key"])
            sql = (
                f"WITH __hx_w AS (SELECT {kq}, "
                f"unnest(string_split(text, ' ')) AS w FROM ({sql})), "
                f"__hx_v AS (SELECT {kq}, w, CAST(count(*) AS BIGINT) AS c "
                f"FROM __hx_w GROUP BY 1, 2) "
                f"SELECT {kq}, CAST(count(*) AS BIGINT) AS vocab_size, "
                f"CAST(sum(c) AS BIGINT) AS n_tokens, "
                f"CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax, "
                f"round(count(*) FILTER (WHERE c = 1) * 1.0 / count(*), 6) "
                f"AS hapax_ratio FROM __hx_v GROUP BY 1"
            )
        elif kind == "ndcg":
            # mirrors operators/similarity.ndcg_per_query (the
            # ns_sim_ndcg oracle, parameterized): exact-cosine top-k
            # per query, binary label relevance, the gain and ideal
            # tables frozen as the SAME 12-decimal literals the engine
            # sums (string->decimal is exact in every engine)
            from ..operators.similarity import _idcg_table, _ndcg_weights

            k = int(op["k"])
            nq = int(op["n_queries"])
            gain_case = "CASE rank " + " ".join(
                f"WHEN {r} THEN {w}::DECIMAL(16,12)"
                for r, w in enumerate(_ndcg_weights(k), start=1)
            ) + " END"
            ideal_case = f"CASE least(nlab - 1, {k}) " + " ".join(
                f"WHEN {n} THEN {s}::DECIMAL(16,12)"
                for n, s in enumerate(_idcg_table(k), start=1)
            ) + " END"
            sql = (
                f"WITH __d AS (SELECT vec_id, label, "
                f"embedding::DOUBLE[] AS v FROM ({sql})), "
                f"__q AS (SELECT vec_id AS query_id, label AS qlabel, "
                f"v AS qv FROM __d WHERE vec_id < {nq}), "
                "__lc AS (SELECT label, CAST(count(*) AS BIGINT) AS nlab "
                "FROM __d GROUP BY 1), "
                "__s AS (SELECT query_id, qlabel, __d.vec_id, __d.label, "
                "round(list_cosine_similarity(__d.v, qv), 6) AS cos_sim "
                "FROM __d, __q WHERE __d.vec_id <> query_id), "
                "__r AS (SELECT *, row_number() OVER (PARTITION BY "
                "query_id ORDER BY cos_sim DESC, vec_id) AS rank "
                "FROM __s), "
                f"__t AS (SELECT * FROM __r WHERE rank <= {k}), "
                "__g AS (SELECT query_id, qlabel, "
                "CAST(count(CASE WHEN label = qlabel THEN 1 END) "
                "AS INTEGER) AS n_rel_topk, "
                f"SUM(CASE WHEN label = qlabel THEN {gain_case} END) "
                "AS dcg FROM __t GROUP BY 1, 2) "
                "SELECT query_id, n_rel_topk, "
                f"CAST(least(nlab - 1, {k}) AS INTEGER) AS ideal_n, "
                f"CASE WHEN least(nlab - 1, {k}) <= 0 THEN 0.0 "
                "ELSE round(CAST(coalesce(dcg, "
                "0.0::DECIMAL(16,12)) AS DOUBLE) "
                f"/ CAST({ideal_case} AS DOUBLE), 6) END AS ndcg "
                "FROM __g JOIN __lc ON __g.qlabel = __lc.label"
            )
        elif kind == "silhouette":
            # mirrors operators/similarity.simplified_silhouette (the
            # ns_sim_silhouette oracle, over the piped table):
            # centroid-form silhouette, per-row s pinned DECIMAL(12,6)
            sql = (
                "WITH __e AS (SELECT vec_id, label, "
                "unnest(embedding) AS val, "
                "generate_subscripts(embedding, 1) AS i "
                f"FROM ({sql})), "
                "__cent AS (SELECT label AS predicted, i, "
                "CAST(round(CAST(SUM(CAST(val AS DECIMAL(20,10))) "
                "AS DOUBLE) / count(*), 6) AS DECIMAL(12,6)) AS c "
                "FROM __e GROUP BY 1, 2), "
                "__cn AS (SELECT predicted, SUM(c * c) AS c2 "
                "FROM __cent GROUP BY 1), "
                "__dots AS (SELECT vec_id, label, predicted, "
                "SUM(CAST(val AS DECIMAL(20,10)) * c) AS dot, "
                "SUM(CAST(val * val AS DECIMAL(20,10))) AS t2 "
                "FROM __e JOIN __cent USING (i) GROUP BY 1, 2, 3), "
                "__sc AS (SELECT vec_id, label, predicted, "
                "CAST(t2 AS DECIMAL(30,12)) + CAST(c2 AS DECIMAL(30,12)) "
                "- 2 * CAST(dot AS DECIMAL(30,12)) AS d2 "
                "FROM __dots JOIN __cn USING (predicted)), "
                "__own AS (SELECT vec_id, label, "
                "sqrt(greatest(CAST(d2 AS DOUBLE), 0.0)) AS a "
                "FROM __sc WHERE label = predicted), "
                "__oth AS (SELECT vec_id, "
                "sqrt(greatest(CAST(d2 AS DOUBLE), 0.0)) AS b, "
                "row_number() OVER (PARTITION BY vec_id "
                "ORDER BY d2, predicted) AS rn "
                "FROM __sc WHERE label <> predicted), "
                "__pr AS (SELECT o.label AS label, "
                "CAST(round(CASE WHEN greatest(a, b) = 0 THEN 0.0 "
                "ELSE (b - a) / greatest(a, b) END, 6) "
                "AS DECIMAL(12,6)) AS s "
                "FROM __own o JOIN __oth t ON o.vec_id = t.vec_id "
                "AND t.rn = 1) "
                "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
                "round(CAST(SUM(s) AS DOUBLE) / count(*), 6) "
                "AS mean_silhouette, "
                "CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) "
                "AS n_negative FROM __pr GROUP BY label"
            )
        elif kind == "bpe_merges":
            # mirrors operators/text.bpe_merge_table (the
            # ns_text_bpe_merges oracle, parameterized): unrolled-
            # iteration CTE chain — each round picks the argmax pair
            # by scalar subquery and fuses it with the identical
            # doubled-boundary replace algebra the engine uses
            n_merges = int(op["n"])
            ctes = [
                "__bw AS (SELECT w, count(*) AS wc FROM "
                "(SELECT unnest(string_split(text, ' ')) AS w "
                f"FROM ({sql})) WHERE len(w) > 0 GROUP BY w)",
                "__s0 AS (SELECT array_to_string(string_split(w, ''), ' ') "
                "AS s, wc FROM __bw)",
            ]
            for r in range(1, n_merges + 1):
                prev = f"__s{r - 1}"
                ctes.append(
                    f"__p{r} AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n "
                    "FROM (SELECT unnest(list_transform(range(1, len(ws)), "
                    "i -> ws[i] || ' ' || ws[i+1])) AS pair, wc "
                    f"FROM (SELECT string_split(s, ' ') AS ws, wc "
                    f"FROM {prev})) GROUP BY pair)"
                )
                ctes.append(
                    f"__b{r} AS (SELECT pair, n FROM __p{r} "
                    "ORDER BY n DESC, pair LIMIT 1)"
                )
                ctes.append(
                    f"__s{r} AS (SELECT trim(replace(replace("
                    "' ' || replace(s, ' ', '  ') || ' ', "
                    f"' ' || (SELECT replace(pair, ' ', '  ') FROM __b{r}) "
                    "|| ' ', "
                    f"' ' || (SELECT replace(pair, ' ', '') FROM __b{r}) "
                    f"|| ' '), '  ', ' ')) AS s, wc FROM {prev})"
                )
            unions = " UNION ALL ".join(
                f"SELECT {r} AS merge_rank, pair, "
                "replace(pair, ' ', '') AS merged, "
                f"n AS pair_count FROM __b{r}"
                for r in range(1, n_merges + 1)
            )
            sql = f"WITH {', '.join(ctes)} {unions}"
        elif kind == "perplexity_buckets":
            # mirrors operators/text.perplexity_buckets (the
            # ns_text_perplexity_buckets oracle, parameterized):
            # add-one unigram LM on the reference slice, head/middle/
            # tail tertiles per language via broadcast cutoffs
            ref = op["ref_source"].replace("'", "''")
            sql = (
                "WITH __b AS (SELECT doc_id, lang, source, "
                "unnest(string_split(text, ' ')) AS w "
                f"FROM ({sql})), "
                f"__ref AS (SELECT w FROM __b WHERE source = '{ref}'), "
                "__t AS (SELECT CAST(count(*) AS DOUBLE) AS _n, "
                "CAST(count(DISTINCT w) AS DOUBLE) AS _v FROM __ref), "
                "__vocab AS (SELECT w, count(*) AS _cnt "
                "FROM __ref GROUP BY w), "
                "__sc AS (SELECT doc_id, lang, "
                "-ln((coalesce(_cnt, 0) + 1) / (_n + _v)) AS nll "
                "FROM __b LEFT JOIN __vocab USING (w) CROSS JOIN __t), "
                "__pd AS (SELECT doc_id, lang, count(*) AS n_tokens, "
                "round(sum(nll) / count(*), 6) AS xent "
                "FROM __sc GROUP BY 1, 2), "
                f"__cuts AS (SELECT lang, "
                f"quantile_cont(xent, {1.0 / 3.0!r}) AS q33, "
                f"quantile_cont(xent, {2.0 / 3.0!r}) AS q67 "
                "FROM __pd GROUP BY lang) "
                "SELECT doc_id, lang, n_tokens, xent, "
                "CASE WHEN xent <= q33 THEN 'head' "
                "WHEN xent <= q67 THEN 'middle' ELSE 'tail' END "
                "AS ppl_bucket FROM __pd JOIN __cuts USING (lang)"
            )
        elif kind == "common_direction":
            # mirrors operators/linalg.common_direction_audit (the
            # ns_embed_common_direction oracle, over the piped table):
            # integer-exact Gram statistics, 12-rounded covariances,
            # 6 unrolled power-iteration rounds with DECIMAL
            # accumulators and 9-rounded iterates, the sign pin, then
            # the per-vector projection/norm aggregates
            n_it = int(op["n_iter"])
            dim_n = int(op["dim"])
            ctes = [
                f"__dims AS (SELECT unnest(generate_series(1, {dim_n})) "
                "AS d)",
                "__q AS (SELECT vec_id, d, "
                "CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) "
                f"AS BIGINT) AS qv FROM ({sql}), __dims)",
                "__sums AS (SELECT d, CAST(sum(qv) AS BIGINT) AS s, "
                "count(*) AS n FROM __q GROUP BY d)",
                "__g AS (SELECT a.d AS i, b.d AS j, "
                "CAST(sum(a.qv * b.qv) AS BIGINT) AS dot "
                "FROM __q a JOIN __q b ON a.vec_id = b.vec_id "
                "AND b.d >= a.d GROUP BY 1, 2)",
                "__covu AS (SELECT __g.i - 1 AS i, __g.j - 1 AS j, "
                "round((CAST(dot AS DOUBLE) - CAST(si.s AS DOUBLE) "
                "* CAST(sj.s AS DOUBLE) / si.n) / si.n "
                "/ 1000000000000.0, 12) AS c "
                "FROM __g JOIN __sums si ON si.d = __g.i "
                "JOIN __sums sj ON sj.d = __g.j)",
                "__cov AS (SELECT * FROM __covu UNION ALL "
                "SELECT j AS i, i AS j, c FROM __covu WHERE i <> j)",
                "__v0 AS (SELECT DISTINCT i, 1.0 AS v FROM __cov)",
            ]
            for r in range(1, n_it + 1):
                ctes.append(
                    f"__w{r} AS (SELECT __cov.i, CAST(SUM(CAST("
                    "CAST(c AS DECIMAL(20,12)) * CAST(v AS DECIMAL(12,9)) "
                    "AS DECIMAL(38,21))) AS DOUBLE) AS w "
                    f"FROM __cov JOIN __v{r - 1} p ON __cov.j = p.i "
                    "GROUP BY 1)"
                )
                ctes.append(
                    f"__n{r} AS (SELECT sqrt(CAST(SUM(CAST("
                    "CAST(round(w, 9) AS DECIMAL(18,9)) "
                    "* CAST(round(w, 9) AS DECIMAL(18,9)) "
                    "AS DECIMAL(38,18))) AS DOUBLE)) AS nrm "
                    f"FROM __w{r})"
                )
                ctes.append(
                    f"__v{r} AS (SELECT i, round(round(w, 9) / nrm, 9) "
                    f"AS v FROM __w{r}, __n{r})"
                )
            ctes += [
                "__sgn AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END "
                f"AS sgn FROM __v{n_it} ORDER BY abs(v) DESC, i LIMIT 1)",
                f"__vf AS (SELECT i, round(v * sgn, 9) AS v "
                f"FROM __v{n_it}, __sgn)",
                "__mu AS (SELECT d - 1 AS i, round(CAST(s AS DOUBLE) / n "
                "/ 1000000.0, 9) AS mu FROM __sums)",
                "__cx AS (SELECT vec_id, "
                "CAST(CAST(qv AS DOUBLE) / 1000000.0 AS DECIMAL(18,9)) "
                "- CAST(mu AS DECIMAL(18,9)) AS x, "
                "CAST(v AS DECIMAL(12,9)) AS vv "
                "FROM __q JOIN __mu ON __q.d - 1 = __mu.i "
                "JOIN __vf ON __q.d - 1 = __vf.i)",
                "__per AS (SELECT vec_id, "
                "CAST(SUM(CAST(x * vv AS DECIMAL(38,18))) AS DOUBLE) "
                "AS proj, "
                "CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS ss "
                "FROM __cx GROUP BY 1)",
            ]
            sql = (
                f"WITH {', '.join(ctes)} "
                "SELECT vec_id, round(proj, 6) AS c1_proj, "
                "round(sqrt(ss), 6) AS norm_centered, "
                "CASE WHEN sqrt(ss) > 0 THEN round(abs(proj) "
                "/ sqrt(ss), 6) ELSE 0.0 END AS proj_ratio FROM __per"
            )
        elif kind == "anomaly":
            # mirrors operators/timeseries.rolling_zscore_anomalies:
            # DECIMAL-pinned frame sums (exact under any fold order,
            # including sliding-window segment trees), closed-form
            # mean/std/z in doubles, rounded to 6 on emit
            xc = _q(op["col"])
            n = int(op["n"])
            zt = repr(float(op["z"]))
            # baseline = the n rows BEFORE the current row (excluded:
            # self-inclusion bounds |z| at (n-1)/sqrt(n) and masks the
            # very spike being hunted)
            over = (
                f"OVER (PARTITION BY {_q(op['key'])} "
                f"ORDER BY {_q(op['order_col'])} ASC NULLS FIRST "
                f"ROWS BETWEEN {n} PRECEDING AND 1 PRECEDING)"
            )
            xd = f"CAST({xc} AS DECIMAL(18,6))"
            cnt = f"count({xd}) {over}"
            sm = f"CAST(SUM({xd}) {over} AS DOUBLE)"
            ssq = (
                f"CAST(SUM(CAST({xd} * {xd} AS DECIMAL(38,12))) {over} "
                f"AS DOUBLE)"
            )
            mean = f"({sm} / {cnt})"
            var = f"(({ssq} - {sm} * {sm} / {cnt}) / ({cnt} - 1))"
            std = f"sqrt(greatest({var}, 0.0))"
            zed = (
                f"(CASE WHEN {cnt} >= 3 AND {std} > 0 THEN "
                f"round((CAST({xc} AS DOUBLE) - {mean}) / {std}, 6) END)"
            )
            sql = wrap(
                f"*, round({mean}, 6) AS moving_avg, "
                f"(CASE WHEN {cnt} >= 2 THEN round({std}, 6) END) "
                f"AS moving_std, "
                f"{zed} AS zscore, "
                f"COALESCE(abs({zed}) > {zt}, FALSE) AS is_anomaly"
            )
        elif kind == "unimax":
            # mirrors operators/corpus.unimax_allocation: one token
            # count per group, then the water-filling closed form in
            # pure-integer window arithmetic (ascending-capacity
            # order, running bool_and caps exactly the prefix the
            # sequential walk would)
            g = _q(op["key"])
            txt = _q(op["text"])
            budget = int(op["budget"])
            epochs = int(op["epochs"])
            ordc = f"ORDER BY capacity, {g}"
            runw = f"{ordc} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            sql = (
                f"WITH __t AS (SELECT {g}, len(string_split({txt}, ' ')) "
                f"AS nt FROM ({sql})), "
                f"__c AS (SELECT {g}, CAST(sum(nt) AS BIGINT) AS n_tokens "
                "FROM __t GROUP BY 1), "
                f"__b AS (SELECT {g}, n_tokens, "
                f"CAST({epochs} * n_tokens AS BIGINT) AS capacity FROM __c), "
                f"__r AS (SELECT *, row_number() OVER ({ordc}) AS rn, "
                "count(*) OVER () AS n_src, "
                f"sum(capacity) OVER ({runw}) - capacity AS cum_before "
                "FROM __b), "
                "__f AS (SELECT *, CASE WHEN capacity * (n_src - rn + 1) "
                f"< {budget} - cum_before THEN 1 ELSE 0 END AS cond "
                "FROM __r), "
                f"__g AS (SELECT *, min(cond) OVER ({runw}) = 1 AS capped "
                "FROM __f), "
                "__h AS (SELECT *, sum(CASE WHEN capped THEN capacity "
                "ELSE 0 END) OVER () AS capped_sum, "
                "sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER () "
                "AS n_uncapped FROM __g), "
                f"__a AS (SELECT {g}, n_tokens, capacity, capped, "
                "CASE WHEN capped THEN CAST(capacity AS DOUBLE) ELSE "
                f"round(CAST({budget} - capped_sum AS DOUBLE) "
                "/ CAST(n_uncapped AS DOUBLE), 6) END AS alloc FROM __h) "
                f"SELECT {g}, n_tokens, capacity, capped, "
                "round(alloc, 6) AS allocated_tokens, "
                "round(alloc / CAST(n_tokens AS DOUBLE), 6) AS epochs "
                "FROM __a"
            )
        elif kind == "bootstrap_mean":
            # mirrors operators/stats.poisson_bootstrap_ci: the SAME
            # integer Poisson(1) CDF cutoffs
            # (sampling.POISSON1_CUTOFFS), the same md5 draw on
            # 'boot|id|replicate', decimal-exact weighted sums,
            # nearest-rank percentile picks with NULLS FIRST pinned
            import math as _math

            from ..operators.sampling import POISSON1_CUTOFFS

            g = _q(op["key"])
            xc = _q(op["col"])
            idc = _q(op["id"])
            n_boot = int(op["n"])
            lo = max(1, _math.ceil(0.025 * n_boot))
            hi = _math.ceil(0.975 * n_boot)
            wcase = "CASE " + " ".join(
                f"WHEN d < {cut} THEN {k}"
                for k, cut in enumerate(POISSON1_CUTOFFS)
            ) + f" ELSE {len(POISSON1_CUTOFFS)} END"
            draw = (
                "(('0x' || substr(md5('boot|' || k::VARCHAR || '|' "
                "|| r::VARCHAR), 1, 15))::BIGINT % 1000000)"
            )
            sql = (
                f"WITH __src AS ({sql}), "
                f"__rep AS (SELECT {g} AS g, {idc} AS k, "
                f"CAST({xc} AS DECIMAL(18,2)) AS v, r FROM __src "
                f"CROSS JOIN (SELECT unnest(range({n_boot})) AS r)), "
                f"__d AS (SELECT g, r, v, {draw} AS d FROM __rep), "
                f"__w AS (SELECT g, r, v, {wcase} AS w FROM __d), "
                "__m AS (SELECT g, r, CAST(sum(w) AS BIGINT) AS nw, "
                "sum(CAST(w AS DECIMAL(10,0)) * v) AS sw "
                "FROM __w GROUP BY 1, 2), "
                "__mr AS (SELECT g, r, CASE WHEN nw > 0 THEN "
                "round(CAST(sw AS DOUBLE) / CAST(nw AS DOUBLE), 6) END "
                "AS mean_r FROM __m), "
                "__rk AS (SELECT g, mean_r, row_number() OVER ("
                "PARTITION BY g ORDER BY mean_r ASC NULLS FIRST, r) "
                "AS rn FROM __mr), "
                "__boot AS (SELECT g, "
                f"max(CASE WHEN rn = {lo} THEN mean_r END) AS boot_lo, "
                f"max(CASE WHEN rn = {hi} THEN mean_r END) AS boot_hi, "
                "CAST(count(*) AS INTEGER) AS n_replicates "
                "FROM __rk GROUP BY 1), "
                f"__pt AS (SELECT {g} AS g, CAST(count(*) AS BIGINT) "
                "AS n_rows, "
                f"round(CAST(sum(CAST({xc} AS DECIMAL(18,2))) AS DOUBLE) "
                "/ count(*), 6) AS mean_value FROM __src GROUP BY 1) "
                f"SELECT g AS {g}, n_rows, mean_value, boot_lo, boot_hi, "
                "n_replicates FROM __pt JOIN __boot USING (g)"
            )
        elif kind == "agreement":
            # mirrors operators/stats.krippendorff_alpha (the
            # ns_quality_kripp_alpha oracle, parameterized):
            # coincidence-matrix D_o/D_e from integer marginals,
            # per-item quotients pinned DECIMAL(24,12)
            key = _q(op["key"])
            lab = _q(op["label"])
            sql = (
                f"WITH nij AS (SELECT {key} AS item, {lab} AS label, "
                f" CAST(count(*) AS BIGINT) AS nij FROM ({sql}) "
                f" GROUP BY 1, 2), "
                "pi AS (SELECT item, CAST(SUM(nij) AS BIGINT) AS ni, "
                " CAST(SUM(nij * (nij - 1)) AS BIGINT) AS ai "
                " FROM nij GROUP BY 1), "
                "pa AS (SELECT * FROM pi WHERE ni >= 2), "
                "dr AS (SELECT CAST(count(*) AS BIGINT) AS "
                " n_items_dropped FROM pi WHERE ni < 2), "
                "occ AS (SELECT CAST(count(*) AS BIGINT) AS n_items, "
                " SUM(CAST(round(ai / CAST(ni - 1 AS DOUBLE), 12) "
                "  AS DECIMAL(24,12))) AS socc FROM pa), "
                "mc AS (SELECT label, SUM(nij) AS nc FROM nij "
                " JOIN pa USING (item) GROUP BY 1), "
                "marg AS (SELECT CAST(count(*) AS INTEGER) AS "
                " n_categories, CAST(SUM(nc) AS BIGINT) AS n_ratings, "
                " CAST(SUM(nc * nc) AS BIGINT) AS nc2 FROM mc) "
                "SELECT n_items, n_items_dropped, n_ratings, "
                " n_categories, "
                " round(n_ratings - CAST(socc AS DOUBLE), 6) AS d_observed, "
                " round((CAST(n_ratings AS DOUBLE) * n_ratings - nc2) "
                "  / (n_ratings - 1.0), 6) AS d_expected, "
                " round(1.0 - (n_ratings - CAST(socc AS DOUBLE)) "
                "  / ((CAST(n_ratings AS DOUBLE) * n_ratings - nc2) "
                "    / (n_ratings - 1.0)), 6) AS alpha "
                "FROM occ CROSS JOIN marg CROSS JOIN dr"
            )
        elif kind == "word_entropy":
            # mirrors operators/text.word_entropy (the
            # ns_text_word_entropy oracle, parameterized): per-word
            # counts, DECIMAL(18,8)-pinned cnt*log2(cnt) terms
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            sql = (
                f"SELECT {idc}, n_words, n_distinct, "
                f"round(log2(n_words) - CAST(s AS DOUBLE) / n_words, 6) "
                f"AS entropy, "
                f"CASE WHEN n_distinct <= 1 THEN 0.0 ELSE "
                f"round(round(log2(n_words) - CAST(s AS DOUBLE) / n_words, 6) "
                f"/ log2(n_distinct), 6) END AS evenness "
                f"FROM (SELECT {idc}, CAST(SUM(cnt) AS BIGINT) AS n_words, "
                f"CAST(count(*) AS BIGINT) AS n_distinct, "
                f"SUM(CAST(round(cnt * log2(cnt), 8) AS DECIMAL(18,8))) AS s "
                f"FROM (SELECT {idc}, w, CAST(count(*) AS BIGINT) AS cnt "
                f"FROM (SELECT {idc}, unnest(string_split({txt}, ' ')) AS w "
                f"FROM ({sql})) GROUP BY 1, 2) GROUP BY 1)"
            )
        elif kind == "oov":
            # mirrors operators/text.oov_rate_by_group (the
            # ns_text_oov_rate oracle, parameterized)
            key = _q(op["key"])
            txt = _q(op["text_col"])
            v = int(op["v"])
            sql = (
                f"WITH tok AS (SELECT {key}, "
                f"unnest(string_split({txt}, ' ')) AS tw FROM ({sql})), "
                f"voc AS (SELECT tw FROM (SELECT tw, count(*) AS c "
                f"FROM tok GROUP BY 1) ORDER BY c DESC, tw LIMIT {v}) "
                f"SELECT {key}, CAST(count(*) AS BIGINT) AS n_tokens, "
                f"CAST(SUM(CASE WHEN tw IN (SELECT tw FROM voc) THEN 0 "
                f"ELSE 1 END) AS BIGINT) AS n_oov, "
                f"round(SUM(CASE WHEN tw IN (SELECT tw FROM voc) THEN 0 "
                f"ELSE 1 END) / CAST(count(*) AS DOUBLE), 6) AS oov_rate "
                f"FROM tok GROUP BY {key}"
            )
        elif kind == "langid":
            # mirrors operators/text.with_lang_id: stopword-vote
            # argmax, ties break by language code order, 'und' when no
            # list scores (same chain as the ns_text_langid oracle,
            # rendered over the wrapped subquery)
            from ..operators.text import STOPWORDS

            txt = _q(op["text_col"])
            hits = {
                lang: (
                    "len(list_filter(__ws, w -> lower(w) IN ("
                    + ", ".join(_lit_sql(s) for s in stops)
                    + ")))"
                )
                for lang, stops in STOPWORDS.items()
            }
            langs = sorted(STOPWORDS)
            best = f"greatest({', '.join(hits[lang] for lang in langs)})"
            case = f"CASE WHEN {best} <= 0 THEN 'und' " + " ".join(
                f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in langs
            ) + " END"
            sql = (
                f"SELECT * EXCLUDE (__ws), {case} AS pred_lang FROM "
                f"(SELECT *, string_split({txt}, ' ') AS __ws FROM ({sql}))"
            )
        elif kind == "token_counts":
            from ..operators.text import TOKEN_REGEX

            txt = _q(op["text_col"])
            sql = wrap(
                f"*, CAST(len(string_split({txt}, ' ')) AS BIGINT) AS n_words, "
                f"CAST(len(regexp_extract_all(lower({txt}), "
                f"{_lit_sql(TOKEN_REGEX)})) AS BIGINT) AS n_tokens"
            )
        elif kind == "quality_score":
            # mirrors operators/text.with_quality_score term for term
            # (the ns_text_quality oracle's chain over the wrapped
            # subquery); the composite reuses the ROUNDED ratios, as
            # the engine does
            from ..operators.text import STOPWORDS

            txt = _q(op["text_col"])
            stops = ", ".join(_lit_sql(s) for s in STOPWORDS["en"])
            nw = "len(__ws)"
            nc = f"length({txt})"
            stop_r = (
                f"round(len(list_filter(__ws, w -> lower(w) IN ({stops})))"
                f" / {nw}, 6)"
            )
            na_r = (
                f"round(len(regexp_extract_all({txt}, '[^A-Za-z0-9 ]'))"
                f" / greatest({nc}, 1), 6)"
            )
            sql = (
                f"SELECT * EXCLUDE (__ws), "
                f"CAST({nw} AS BIGINT) AS n_words, "
                f"round(({nc} - ({nw} - 1)) / {nw}, 6) AS avg_word_len, "
                f"{stop_r} AS stopword_ratio, "
                f"{na_r} AS nonalnum_ratio, "
                f"round(least(1.0, {nw} / 50.0) * 0.5 "
                f"+ (1.0 - least(1.0, {na_r} * 10)) * 0.3 "
                f"+ least(1.0, {stop_r} * 5) * 0.2, 6) AS quality_score FROM "
                f"(SELECT *, string_split({txt}, ' ') AS __ws FROM ({sql}))"
            )
        elif kind == "gopher":
            # mirrors operators/text.gopher_rules term for term; the
            # rule thresholds come from the SAME GOPHER_BOUNDS dict the
            # engine defaults read, and the rule booleans compare the
            # ROUNDED ratio columns, as the engine does
            from ..operators.text import GOPHER_BOUNDS as GB
            from ..operators.text import GOPHER_REQUIRED_STOPWORDS

            txt = _q(op["text_col"])
            stops = ", ".join(_lit_sql(s) for s in GOPHER_REQUIRED_STOPWORDS)
            nw = "len(__ws)"
            nc = f"length({txt})"
            sig = (
                f"SELECT * EXCLUDE (__ws, __ls), "
                f"CAST({nw} AS BIGINT) AS n_words, "
                f"round(({nc} - ({nw} - 1)) / CAST({nw} AS DOUBLE), 6) AS mean_word_len, "
                f"({nc} - length(replace({txt}, '#', ''))) "
                f" + ({nc} - length(replace({txt}, '...', ''))) / CAST(3 AS DOUBLE) AS __nsym, "
                f"len(__ls) AS __nl, "
                f"len(list_filter(__ls, l -> l LIKE '- %' OR l LIKE '* %')) AS __nbul, "
                f"len(list_filter(__ls, l -> l LIKE '%...')) AS __nell, "
                f"len(list_filter(__ws, w -> regexp_matches(w, '[A-Za-z]'))) AS __nalpha, "
                f"CAST(len(list_distinct(list_filter(__ws, w -> lower(w) IN ({stops})))) AS BIGINT) "
                f"AS n_req_stopwords FROM "
                f"(SELECT *, string_split({txt}, ' ') AS __ws, "
                f"string_split({txt}, chr(10)) AS __ls FROM ({sql}))"
            )
            ratios = (
                "SELECT * EXCLUDE (__nsym, __nl, __nbul, __nell, __nalpha), "
                "round(__nsym / n_words, 6) AS symbol_ratio, "
                "round(__nbul / CAST(__nl AS DOUBLE), 6) AS bullet_ratio, "
                "round(__nell / CAST(__nl AS DOUBLE), 6) AS ellipsis_ratio, "
                "round(__nalpha / CAST(n_words AS DOUBLE), 6) AS alpha_ratio "
                f"FROM ({sig})"
            )
            rules = {
                "r_word_count": f"n_words BETWEEN {GB['min_words']} AND {GB['max_words']}",
                "r_word_len": f"mean_word_len BETWEEN {GB['min_word_len']} AND {GB['max_word_len']}",
                "r_symbols": f"symbol_ratio <= {GB['max_symbol_ratio']}",
                "r_bullets": f"bullet_ratio <= {GB['max_bullet_ratio']}",
                "r_ellipsis": f"ellipsis_ratio <= {GB['max_ellipsis_ratio']}",
                "r_alpha": f"alpha_ratio >= {GB['min_alpha_ratio']}",
                "r_stopwords": f"n_req_stopwords >= {GB['min_stopwords']}",
            }
            rule_cols = ", ".join(f"({e}) AS {n}" for n, e in rules.items())
            passes = " AND ".join(f"({e})" for e in rules.values())
            sql = (
                f"SELECT *, {rule_cols}, ({passes}) AS passes_gopher "
                f"FROM ({ratios})"
            )
        elif kind == "dsir":
            # mirrors operators/corpus.dsir_log_weights: same 60-bit
            # md5 bucketing (d=16), same add-one smoothing, per-bucket
            # log-ratio rounded to 9 then decimal-summed per document
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            tcol = _q(op["target_col"])
            tval = _lit_sql(op["target_val"])
            sql = (
                f"WITH __src AS ({sql}), "
                f"e AS (SELECT {idc}, {tcol} = {tval} AS is_t, "
                "(('0x' || substr(md5(w), 1, 15))::BIGINT % 16) AS bkt "
                f"FROM (SELECT {idc}, {tcol}, "
                f"unnest(string_split({txt}, ' ')) AS w FROM __src)), "
                "c AS (SELECT bkt, CAST(count(*) AS BIGINT) AS r_k, "
                "CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_k "
                "FROM e GROUP BY bkt), "
                "t AS (SELECT CAST(sum(r_k) AS BIGINT) AS r_tot, "
                "CAST(sum(t_k) AS BIGINT) AS t_tot FROM c), "
                "lr AS (SELECT bkt, CAST(round(ln((t_k + 1) / CAST(t_tot + 16 AS DOUBLE)) "
                "- ln((r_k + 1) / CAST(r_tot + 16 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lr "
                "FROM c, t) "
                f"SELECT {idc}, CAST(count(*) AS BIGINT) AS n_feats, "
                "round(CAST(sum(lr) AS DOUBLE), 6) AS log_weight, "
                "round(CAST(sum(lr) AS DOUBLE) / count(*), 6) AS avg_log_ratio "
                f"FROM e JOIN lr USING (bkt) GROUP BY {idc}"
            )
        elif kind == "fertility":
            # mirrors operators/text.token_fertility_by_lang: exact
            # integer sums, one double division per group
            from ..operators.text import TOKEN_REGEX

            key = _q(op["key"])
            txt = _q(op["text_col"])
            sql = (
                f"WITH __t AS (SELECT {key}, len(string_split({txt}, ' ')) AS n_words, "
                f"len(regexp_extract_all(lower({txt}), {_lit_sql(TOKEN_REGEX)})) AS n_tokens, "
                f"length({txt}) AS n_chars FROM ({sql})) "
                f"SELECT {key}, CAST(count(*) AS BIGINT) AS n_docs, "
                "CAST(sum(n_words) AS BIGINT) AS total_words, "
                "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
                "round(sum(n_tokens) / CAST(sum(n_words) AS DOUBLE), 6) AS tokens_per_word, "
                "round(sum(n_chars) / CAST(sum(n_tokens) AS DOUBLE), 6) AS chars_per_token "
                f"FROM __t GROUP BY {key}"
            )
        elif kind == "dup_by_source":
            # mirrors operators/corpus.dup_rate_by_source: same 60-bit
            # gram digests, same per-gram totals, same left-join
            # null semantics for groups with no grams
            key = _q(op["key"])
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            n = op["n"]
            sql = (
                f"WITH __w AS (SELECT {idc}, {key}, string_split({txt}, ' ') AS ws "
                f"FROM ({sql})), "
                f"__o AS (SELECT {idc}, {key}, "
                f"('0x' || substr(md5(array_to_string(ws[i:i+{n - 1}], ' ')), 1, 15))::BIGINT AS h "
                f"FROM (SELECT {idc}, {key}, ws, "
                f"unnest(range(1, greatest(len(ws) - {n - 2}, 1))) AS i "
                f"FROM __w WHERE len(ws) >= {n})), "
                f"__sg AS (SELECT h, {key}, CAST(count(*) AS BIGINT) AS occ, "
                f"CAST(count(DISTINCT {idc}) AS BIGINT) AS docs FROM __o GROUP BY h, {key}), "
                "__gs AS (SELECT h, CAST(sum(docs) AS BIGINT) AS total_docs, "
                "CAST(count(*) AS BIGINT) AS n_sources FROM __sg GROUP BY h), "
                f"__ps AS (SELECT {key}, CAST(count(*) AS BIGINT) AS n_distinct_grams, "
                "CAST(sum(occ) AS BIGINT) AS n_gram_occ, "
                "CAST(coalesce(sum(CASE WHEN total_docs > 1 THEN occ END), 0) AS BIGINT) AS dup_occ, "
                "CAST(coalesce(sum(CASE WHEN n_sources > 1 THEN occ END), 0) AS BIGINT) AS cross_occ "
                f"FROM __sg JOIN __gs USING (h) GROUP BY {key}), "
                f"__d AS (SELECT {key}, CAST(count(*) AS BIGINT) AS n_docs "
                f"FROM (SELECT * FROM __w) GROUP BY {key}) "
                f"SELECT __d.{key} AS {key}, n_docs, "
                "CAST(coalesce(n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams, "
                "CAST(coalesce(n_gram_occ, 0) AS BIGINT) AS n_gram_occ, "
                "round(dup_occ / CAST(n_gram_occ AS DOUBLE), 6) AS dup_gram_ratio, "
                "round(cross_occ / CAST(n_gram_occ AS DOUBLE), 6) AS cross_source_ratio "
                f"FROM __d LEFT JOIN __ps USING ({key})"
            )
        elif kind == "split_assign":
            # mirrors operators/sampling.with_hash_split: same 60-bit
            # md5 draw, same integer cutoffs (split_thresholds is the
            # single source of truth for both engines)
            from ..operators.sampling import split_thresholds

            key = _q(op["key"])
            draw = (
                f"(('0x' || substr(md5('split|' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"
                f" % 1000000)"
            )
            labels = list(op["labels"])
            branches = " ".join(
                f"WHEN {draw} < {cut} THEN {_lit_sql(lab)}"
                for cut, lab in zip(split_thresholds(list(op["weights"])), labels[:-1])
            )
            case = (
                f"(CASE {branches} ELSE {_lit_sql(labels[-1])} END)"
                if branches
                else _lit_sql(labels[-1])
            )
            sql = wrap(f"*, {case} AS {_q(op['alias'])}")
        elif kind == "ols":
            # mirrors operators/stats.groupwise_ols: decimal-exact
            # moment sums (partition-order independent), closed forms
            # in one fixed double shape, rounded on report
            key, x, y = _q(op["key"]), _q(op["x"]), _q(op["y"])
            xd = op["x_decimal"]
            yd = op["y_decimal"]
            den_x = "(n * sxx - sx * sx)"
            den_y = "(n * syy - sy * sy)"
            num = "(n * sxy - sx * sy)"
            sql = (
                f"WITH j AS (SELECT {key} AS _k, CAST({x} AS {xd}) AS x, "
                f" CAST({y} AS {yd}) AS y FROM ({sql})), "
                "m AS (SELECT _k, count(*) AS n, "
                " CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, "
                " CAST(sum(x * x) AS DOUBLE) AS sxx, "
                " CAST(sum(x * y) AS DOUBLE) AS sxy, "
                " CAST(sum(y * y) AS DOUBLE) AS syy FROM j GROUP BY _k) "
                f"SELECT _k AS {key}, n, "
                f"round(CASE WHEN {den_x} <> 0 THEN {num} / {den_x} END, 6) AS slope, "
                f"round(CASE WHEN {den_x} <> 0 THEN (sy - ({num} / {den_x}) * sx) / n END, 6) AS intercept, "
                f"round(CASE WHEN {den_x} <> 0 AND {den_y} <> 0 "
                f" THEN ({num} * {num}) / ({den_x} * {den_y}) END, 6) AS r2 "
                "FROM m"
            )
        elif kind == "bm25":
            # mirrors operators/text.bm25_topk term-for-term (k1=1.2,
            # b=0.75 -> the 2.2 / 0.25 / 0.75 literals): identical
            # IEEE expression shapes per term, per-doc sum rounded to
            # 6, doc-id tie-break at the k boundary
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            terms = ", ".join(_lit_sql(t) for t in op["terms"])
            sql = (
                f"WITH src AS ({sql}), "
                f"w AS (SELECT {idc} AS _id, unnest(string_split({txt}, ' ')) AS w FROM src), "
                "dl AS (SELECT _id, count(*) AS dl FROM w GROUP BY 1), "
                "n AS (SELECT count(*) AS n_docs FROM src), "
                "ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), "
                f"tf AS (SELECT _id, w, count(*) AS tf FROM w WHERE w IN ({terms}) GROUP BY 1, 2), "
                "dfreq AS (SELECT w, count(*) AS dfq FROM tf GROUP BY 1), "
                "s AS (SELECT _id, "
                " ln(1.0 + (n_docs - dfq + 0.5) / (dfq + 0.5)) * "
                " ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s "
                " FROM tf JOIN dfreq USING (w) JOIN dl USING (_id) CROSS JOIN n CROSS JOIN ad) "
                f"SELECT _id AS {idc}, round(sum(s), 6) AS bm25 FROM s GROUP BY 1 "
                f"ORDER BY bm25 DESC, {idc} LIMIT {int(op['k'])}"
            )
        elif kind == "window":
            parts = ", ".join(_q(c) for c in op["partition_by"])
            order = ", ".join(
                _q(k["col"])
                + (" ASC NULLS FIRST" if k["asc"] else " DESC NULLS LAST")
                for k in op["order_by"]
            )
            over_head = (
                "OVER ("
                + (f"PARTITION BY {parts} " if parts else "")
                + f"ORDER BY {order}"
            )
            # Spark's default frame for an ordered aggregate window is
            # RANGE UNBOUNDED PRECEDING..CURRENT ROW — the SQL default,
            # so peers (order-by ties) are included identically and no
            # explicit frame clause is needed. A 'rows_preceding'
            # sliding frame renders explicitly.
            sel = ["*"]
            for e in op["exprs"]:
                fn = e["fn"]
                over = over_head + ")"
                if fn in ("row_number", "rank", "dense_rank", "percent_rank",
                          "cume_dist"):
                    call = f"{fn}()"
                elif fn == "ntile":
                    call = f"ntile({e['n']})"
                elif fn in ("lag", "lead"):
                    call = f"{fn}({_q(e['col'])}, {e['offset']})"
                elif fn == "ewma":
                    # mirrors the engine's bounded lag chain: fixed
                    # a^j float literals, additions in ascending j,
                    # renormalized over non-null lags — bit-identical
                    a = float(e["alpha"])
                    xs = f"CAST({_q(e['col'])} AS DOUBLE)"
                    num_terms, den_terms = [], []
                    for j in range(int(e["rows_preceding"]) + 1):
                        lx = xs if j == 0 else f"lag({xs}, {j}) {over_head})"
                        wj = repr(a ** j)
                        num_terms.append(
                            f"(CASE WHEN {lx} IS NOT NULL "
                            f"THEN {wj} * {lx} ELSE 0.0 END)"
                        )
                        den_terms.append(
                            f"(CASE WHEN {lx} IS NOT NULL "
                            f"THEN {wj} ELSE 0.0 END)"
                        )
                    num = " + ".join(num_terms)
                    den = " + ".join(den_terms)
                    sel.append(
                        f"(CASE WHEN ({den}) > 0 THEN "
                        f"round(({num}) / ({den}), 6) END) AS {_q(e['alias'])}"
                    )
                    continue
                else:
                    # first_value and frame-capable aggregates: both
                    # honor an explicit rows_preceding sliding frame
                    # (the engine compiles the identical rowsBetween)
                    call = f"{fn}({_q(e['col'])})"
                    if e["rows_preceding"] is not None:
                        over = (
                            over_head
                            + f" ROWS BETWEEN {e['rows_preceding']} PRECEDING"
                            + " AND CURRENT ROW)"
                        )
                sel.append(f"{call} {over} AS {_q(e['alias'])}")
            sql = wrap(", ".join(sel))
        elif kind == "join":
            right = op["right"]
            if not isinstance(right, str):
                raise SqlGenError("join right side must be a table name for SQL")
            on = ", ".join(_q(c) for c in op["on"])
            how = op["how"]
            # spec joins always carry 'on', and Spark applies the
            # equi-condition even when how='cross' (df.join(r, on,
            # 'cross') is an equi-join) — so 'cross' renders as the
            # same USING join the compiler actually executes
            if how in ("inner", "left", "right", "full", "cross"):
                kw = {"inner": "JOIN", "left": "LEFT JOIN",
                      "right": "RIGHT JOIN", "full": "FULL JOIN",
                      "cross": "JOIN"}[how]
                sql = f"SELECT * FROM ({sql}) {kw} {right} USING ({on})"
            elif how == "left_semi":
                sql = f"SELECT * FROM ({sql}) SEMI JOIN {right} USING ({on})"
            elif how == "left_anti":
                sql = f"SELECT * FROM ({sql}) ANTI JOIN {right} USING ({on})"
            else:  # pragma: no cover - spec validation rejects first
                raise SqlGenError(f"no SQL rendering for join how={how!r}")
        elif kind == "asof_join":
            right = op["right"]
            if not isinstance(right, str):
                raise SqlGenError("asof_join right side must be a table name for SQL")
            key, ts = _q(op["on"]), _q(op["ts"])
            rts = _q(op["right_ts"] or op["ts"])
            cells = [f"r.{rts} AS {_q('asof_ts')}"] + [
                f"r.{_q(c)} AS {_q('asof_' + c)}" for c in op["right_cols"]
            ]
            direction = op["direction"]
            # type-generic distance: CASE-split subtraction compares
            # INTERVALs for timestamps and numbers for numeric keys —
            # no epoch() so fractional seconds survive exactly, the
            # same discipline as the engine's unix_micros distances.
            # Tie rule: equal distances prefer the earlier (backward)
            # right row, matching operators/joins.asof_join.
            dist = (
                f"CASE WHEN r.{rts} >= l.{ts} THEN r.{rts} - l.{ts}"
                f" ELSE l.{ts} - r.{rts} END"
            )
            if direction == "nearest":
                cond, order = "", f"{dist}, r.{rts} ASC"
            elif direction == "backward":
                cond, order = f" AND r.{rts} <= l.{ts}", f"r.{rts} DESC"
            else:
                cond, order = f" AND r.{rts} >= l.{ts}", f"r.{rts} ASC"
            if op["tolerance"] is not None:
                # bound rendered in the unit matching the ts type:
                # timestamp distance is an INTERVAL (to_microseconds
                # handles fractional-second tolerances exactly), date
                # distance is integer days, numeric distance is raw
                tol = op["tolerance"]
                unit = op["tolerance_unit"]
                if unit == "second":
                    bound = f"to_microseconds(CAST({int(round(tol * 1_000_000))} AS BIGINT))"
                else:  # 'day' (date-date is integer days) or 'raw'
                    bound = _lit_sql(tol)
                cond += f" AND {dist} <= {bound}"
            sql = (
                f"SELECT l.*, lat.* FROM ({sql}) l LEFT JOIN LATERAL ("
                f"SELECT {', '.join(cells)} FROM {right} r"
                f" WHERE r.{key} = l.{key}{cond}"
                f" ORDER BY {order} LIMIT 1) lat ON TRUE"
            )
        elif kind == "union":
            right = op["right"]
            if not isinstance(right, str):
                raise SqlGenError("union right side must be a table name for SQL")
            # UNION BY NAME dedups, UNION ALL BY NAME concatenates —
            # exactly unionByName (+ optional .distinct())
            kw = "UNION BY NAME" if op["distinct"] else "UNION ALL BY NAME"
            sql = f"SELECT * FROM ({sql}) {kw} SELECT * FROM {right}"
        elif kind == "groupby_agg":
            aggs = []
            for a in op["aggs"]:
                fn, col, alias = a["fn"], a["col"], _q(a["alias"])
                if fn == "count_distinct":
                    aggs.append(f"count(DISTINCT {_q(col)}) AS {alias}")
                    continue
                if fn == "count_nulls":
                    aggs.append(
                        f"count(CASE WHEN {_q(col)} IS NULL THEN 1 END) AS {alias}"
                    )
                    continue
                if fn == "listagg":
                    # ordered inside the aggregate = the compiler's
                    # array_sort(collect_list()) determinism
                    aggs.append(
                        f"string_agg({_q(col)}, '|' ORDER BY {_q(col)}) AS {alias}"
                    )
                    continue
                if fn == "percentile":
                    # quantile_cont == Spark's exact interpolated
                    # percentile (index p*(n-1), linear interpolation)
                    aggs.append(
                        f"quantile_cont({_q(col)}, {a['p']!r}) AS {alias}"
                    )
                    continue
                arg = "*" if col == "*" else _q(col)
                if a["cast"] and col != "*":
                    arg = f"CAST({arg} AS {a['cast']})"
                aggs.append(f"{_AGG_SQL[fn]}({arg}) AS {alias}")
            keys = ", ".join(_q(k) for k in op["keys"])
            head = (keys + ", " if keys else "") + ", ".join(aggs)
            tail = f"GROUP BY {keys}" if keys else ""
            sql = wrap(head, tail)
            if op["having"] is not None:
                sql = f"SELECT * FROM ({sql}) WHERE {expr_to_sql(op['having'])}"
        elif kind == "pivot":
            agg = op["agg"]
            fn = agg["fn"]
            arg = "*" if agg["col"] == "*" else _q(agg["col"])
            cells = []
            for v, alias in zip(op["values"], op["aliases"], strict=True):
                # count(*) FILTER over zero rows is 0 — identical to
                # the compiler's coalesce-to-0 of Spark's null cell;
                # other aggregates stay NULL in both engines
                cells.append(
                    f"{_AGG_SQL[fn]}({arg}) FILTER (WHERE {_q(op['col'])} = {_lit_sql(v)})"
                    f" AS {_q(alias)}"
                )
            keys = ", ".join(_q(k) for k in op["keys"])
            sql = wrap(keys + ", " + ", ".join(cells), f"GROUP BY {keys}")
        elif kind == "rollup":
            # Known cross-engine edge (found by the round-5 fuzzer):
            # over EMPTY input, standard SQL (DuckDB, Postgres) emits
            # the grand-total grouping set as one row; Spark — both
            # DataFrame rollup AND Spark SQL GROUP BY ROLLUP — returns
            # 0 rows. This engine keeps Spark SQL's semantics; oracle
            # comparisons must feed rollups non-empty input
            # (tests/test_spec.py::test_rollup_empty_input_is_spark_semantics).
            aggs = []
            for a in op["aggs"]:
                fn, col, alias = a["fn"], a["col"], _q(a["alias"])
                if fn == "count_distinct":
                    aggs.append(f"count(DISTINCT {_q(col)}) AS {alias}")
                    continue
                if fn == "count_nulls":
                    aggs.append(
                        f"count(CASE WHEN {_q(col)} IS NULL THEN 1 END) AS {alias}"
                    )
                    continue
                if fn == "listagg":
                    aggs.append(
                        f"string_agg({_q(col)}, '|' ORDER BY {_q(col)}) AS {alias}"
                    )
                    continue
                if fn == "percentile":
                    aggs.append(
                        f"quantile_cont({_q(col)}, {a['p']!r}) AS {alias}"
                    )
                    continue
                arg = "*" if col == "*" else _q(col)
                if a["cast"] and col != "*":
                    arg = f"CAST({arg} AS {a['cast']})"
                aggs.append(f"{_AGG_SQL[fn]}({arg}) AS {alias}")
            keys = ", ".join(_q(k) for k in op["keys"])
            gid = _q(op["gid_alias"])
            aggs.append(f"CAST(GROUPING({keys}) AS INTEGER) AS {gid}")
            sql = wrap(
                keys + ", " + ", ".join(aggs), f"GROUP BY ROLLUP({keys})"
            )
        elif kind == "ann_topk":
            # mirrors similarity.topk_cosine_bruteforce: list cosine
            # rounded to 6, id tie-break at the k boundary
            idc = _q(op["id_col"])
            vec = _q(op["vec_col"])
            qid, k = int(op["query_id"]), int(op["k"])
            sql = (
                f"WITH asrc AS ({sql}), "
                f"q AS (SELECT {vec}::DOUBLE[] AS qv FROM asrc WHERE {idc} = {qid}) "
                f"SELECT {idc}, round(list_cosine_similarity({vec}::DOUBLE[], qv), 6) AS cos_sim "
                f"FROM asrc, q WHERE {idc} <> {qid} "
                f"ORDER BY cos_sim DESC, {idc} LIMIT {k}"
            )
        elif kind == "neardup":
            # mirrors operators/dedup.lsh_verified_pairs + the greedy
            # keep-first anti join, term for term (same chain as the
            # registry _VERIFIED_CTES oracles, rendered over the
            # wrapped subquery): word 3-gram shingles, 16 md5-based
            # minhashes mod 2^31-1, 4-band LSH candidates, exact
            # Jaccard on candidates only, drop the doc_b side
            idc = _q(op["id_col"])
            t = op["threshold"]
            m31 = 2147483647
            base = f"(('0x' || substr(md5(s), 1, 15))::BIGINT % {m31})"
            mins = ", ".join(
                f"min(({2 * i + 1} * {base} + {i * 12345 + 7}) % {m31}) AS h{i}"
                for i in range(16)
            )
            band_selects = " UNION ALL ".join(
                f"SELECT doc_id, {b} AS band_idx, md5("
                + " || '|' || ".join(f"h{b * 4 + r}::VARCHAR" for r in range(4))
                + ") AS band_key FROM nsig"
                for b in range(4)
            )
            sql = (
                f"WITH nsrc AS ({sql}), "
                f"nw AS (SELECT {idc} AS doc_id, string_split(\"text\", ' ') AS ws FROM nsrc), "
                "nsh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN "
                "list_distinct(list_transform(range(1, len(ws)-1), "
                "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) "
                "ELSE CAST([] AS VARCHAR[]) END AS sh FROM nw), "
                "ne AS (SELECT doc_id, unnest(sh) AS s FROM nsh), "
                f"nsig AS (SELECT doc_id, {mins} FROM ne GROUP BY doc_id), "
                f"nbuckets AS ({band_selects}), "
                "ncand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b "
                "FROM nbuckets x JOIN nbuckets y ON x.band_idx = y.band_idx "
                "AND x.band_key = y.band_key AND x.doc_id < y.doc_id), "
                "ninter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
                "count(*) AS n_inter FROM ne a JOIN ne b ON a.s = b.s "
                "AND a.doc_id < b.doc_id GROUP BY 1, 2), "
                "nsizes AS (SELECT doc_id, len(sh) AS sz FROM nsh), "
                "njac AS (SELECT doc_a, doc_b, "
                "round(n_inter * 1.0 / (sa.sz + sb.sz - n_inter), 6) AS jaccard "
                "FROM ninter JOIN nsizes sa ON doc_a = sa.doc_id "
                "JOIN nsizes sb ON doc_b = sb.doc_id), "
                f"ndrop AS (SELECT DISTINCT doc_b AS {idc} FROM ncand "
                f"JOIN njac USING (doc_a, doc_b) WHERE jaccard >= {t!r}) "
                f"SELECT * FROM nsrc ANTI JOIN ndrop USING ({idc})"
            )
        elif kind == "winnow_dedup":
            # mirrors operators/dedup.winnow_shared_pairs (k=4, w=5,
            # max_df=100 defaults) + the greedy keep-first anti join:
            # window-min fingerprints over full w-windows only,
            # boilerplate fingerprints (>100 docs) dropped, pairs by
            # containment overlap of fingerprint sets, doc_b side out
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            t = float(op["overlap"])
            sql = (
                f"WITH wsrc AS ({sql}), "
                f"ww AS (SELECT {idc} AS doc_id, string_split({txt}, ' ') AS ws FROM wsrc), "
                "wg AS (SELECT doc_id, i, "
                "('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15))::BIGINT AS h "
                "FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 2, 1))) AS i "
                "FROM ww WHERE len(ws) >= 8)), "
                "wfd AS (SELECT doc_id, fp FROM ("
                "SELECT doc_id, i, min(h) OVER (PARTITION BY doc_id ORDER BY i "
                "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fp FROM wg) "
                "WHERE i >= 5 GROUP BY doc_id, fp), "
                "wkept AS (SELECT doc_id, fp FROM wfd WHERE fp IN "
                "(SELECT fp FROM wfd GROUP BY fp HAVING count(*) <= 100)), "
                "wsz AS (SELECT doc_id, count(*) AS sz FROM wkept GROUP BY 1), "
                "wpr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared "
                "FROM wkept a JOIN wkept b ON a.fp = b.fp AND a.doc_id < b.doc_id "
                "GROUP BY 1, 2), "
                f"wdrop AS (SELECT DISTINCT doc_b AS {idc} FROM wpr "
                "JOIN wsz sa ON doc_a = sa.doc_id JOIN wsz sb ON doc_b = sb.doc_id "
                f"WHERE round(shared / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) >= {t!r}) "
                f"SELECT * FROM wsrc ANTI JOIN wdrop USING ({idc})"
            )
        elif kind == "dedup_savings":
            # mirrors operators/dedup.dedup_savings_by_source: corpus-
            # wide lowest-id keeper per md5 digest, per-group rollup
            key = _q(op["key"])
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            ln = _q(op["len_col"])
            sql = (
                f"WITH dr AS (SELECT {idc} AS _id, {key} AS {key}, "
                f"CAST({ln} AS BIGINT) AS _len, md5({txt}) AS _h FROM ({sql})), "
                "dk AS (SELECT _h, min(_id) AS _keep FROM dr GROUP BY 1) "
                f"SELECT {key}, CAST(count(*) AS BIGINT) AS n_docs, "
                "CAST(sum(CASE WHEN _id <> _keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, "
                "CAST(sum(_len) AS BIGINT) AS chars_total, "
                "CAST(sum(CASE WHEN _id <> _keep THEN _len ELSE 0 END) AS BIGINT) AS chars_saved, "
                "round(sum(CASE WHEN _id <> _keep THEN _len ELSE 0 END) "
                "/ CAST(sum(_len) AS DOUBLE), 6) AS savings_ratio "
                f"FROM dr JOIN dk USING (_h) GROUP BY {key}"
            )
        elif kind == "vocab_divergence":
            # mirrors operators/corpus.js_divergence_by_group: the
            # union-of-vocab JS sum folded into intersection-only
            # terms plus closed-form one-sided mass
            key = _q(op["key"])
            txt = _q(op["text_col"])
            sql = (
                f"WITH vt AS (SELECT {key} AS g, unnest(string_split({txt}, ' ')) AS w "
                f"FROM ({sql})), "
                "vc AS (SELECT g, w, count(*) AS c FROM vt GROUP BY 1, 2), "
                "vn AS (SELECT g, sum(c) AS n FROM vc GROUP BY 1), "
                "vp AS (SELECT g, w, CAST(c AS DOUBLE) / n AS p FROM vc JOIN vn USING (g)), "
                "vi AS (SELECT a.g AS source_a, b.g AS source_b, "
                "CAST(count(*) AS BIGINT) AS n_shared_words, "
                "sum(a.p * ln(2.0 * a.p / (a.p + b.p)) "
                "+ b.p * ln(2.0 * b.p / (a.p + b.p))) AS s, "
                "sum(a.p) AS pin, sum(b.p) AS qin "
                "FROM vp a JOIN vp b ON a.w = b.w AND a.g < b.g GROUP BY 1, 2) "
                "SELECT source_a, source_b, n_shared_words, "
                "round(0.5 * (s + (1.0 - pin) * ln(2.0) + (1.0 - qin) * ln(2.0)), 6) "
                "AS js_divergence FROM vi"
            )
        elif kind == "merge":
            # mirrors operators/joins.merge_upsert: full-outer on the
            # key, per-column coalesce(update, base), merge_action.
            # The renderer needs the non-key column list ('cols'); the
            # oracle generator injects it (the DataFrame compiler
            # reads the schema instead)
            right = op["right"]
            if op["cols"] is None:
                raise SqlGenError("merge SQL rendering needs 'cols'")
            key = _q(op["key"])
            cols = [c for c in op["cols"] if c != op["key"]]
            b_sel = ", ".join(
                [f"{key} AS __bk"] + [f"{_q(c)} AS __b_{i}" for i, c in enumerate(cols)]
            )
            u_sel = ", ".join(
                [f"{key} AS __uk"] + [f"{_q(c)} AS __u_{i}" for i, c in enumerate(cols)]
            )
            out = ", ".join(
                [f"coalesce(__uk, __bk) AS {key}"]
                + [f"coalesce(__u_{i}, __b_{i}) AS {_q(c)}" for i, c in enumerate(cols)]
            )
            sql = (
                f"WITH mb AS (SELECT {b_sel} FROM ({sql})), "
                f"mx AS (SELECT {u_sel} FROM {right}) "
                f"SELECT {out}, "
                "CASE WHEN __bk IS NULL THEN 'inserted' "
                "WHEN __uk IS NULL THEN 'kept' ELSE 'updated' END AS merge_action "
                "FROM mb FULL OUTER JOIN mx ON __bk = __uk"
            )
        elif kind == "decontaminate":
            right = op["right"]
            if not isinstance(right, str):
                raise SqlGenError("decontaminate right side must be a table name")
            idc = _q(op["id_col"])
            txt = _q(op["text_col"])
            shingle = (
                "CASE WHEN len(ws) >= 3 THEN "
                "list_distinct(list_transform(range(1, len(ws)-1), "
                "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) "
                "ELSE CAST([] AS VARCHAR[]) END"
            )
            sql = (
                f"WITH dsrc AS ({sql}), "
                f"dw AS (SELECT {idc} AS doc_id, string_split({txt}, ' ') AS ws FROM dsrc), "
                f"dsh AS (SELECT doc_id, {shingle} AS sh FROM dw), "
                "de AS (SELECT doc_id, unnest(sh) AS s FROM dsh), "
                f"bw AS (SELECT string_split({txt}, ' ') AS ws FROM {right}), "
                f"bsh AS (SELECT {shingle} AS sh FROM bw), "
                "bm AS (SELECT DISTINCT unnest(sh) AS s FROM bsh), "
                "bad AS (SELECT DISTINCT doc_id AS "
                f"{idc} FROM de WHERE s IN (SELECT s FROM bm)) "
                f"SELECT * FROM dsrc ANTI JOIN bad USING ({idc})"
            )
        elif kind == "pack":
            idc = _q(op["id_col"])
            lng = _q(op["lang_col"])
            txt = _q(op["text_col"])
            budget, gsz = op["budget"], op["group_size"]
            sql = (
                f"WITH pt AS (SELECT {idc} AS doc_id, {lng} AS lang, "
                f"CAST(len(string_split({txt}, ' ')) AS BIGINT) AS n_tokens, "
                f"CAST(floor({idc} / {float(gsz)!r}) AS BIGINT) AS grp FROM ({sql})), "
                "pc AS (SELECT *, SUM(n_tokens) OVER "
                "(PARTITION BY lang, grp ORDER BY doc_id) AS cum FROM pt) "
                f"SELECT lang AS {lng}, grp, "
                f"CAST(floor((cum - n_tokens) / {float(budget)!r}) AS BIGINT) AS seq_id, "
                "COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens, "
                "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
                "FROM pc GROUP BY 1, 2, 3"
            )
        elif kind == "mode":
            keys = ", ".join(_q(k) for k in op["keys"])
            col = _q(op["col"])
            sql = (
                f"SELECT {keys}, {col} AS {_q('mode_' + op['col'])}, n FROM ("
                f"SELECT {keys}, {col}, count(*) AS n, row_number() OVER ("
                f"PARTITION BY {keys} ORDER BY count(*) DESC, {col} ASC) AS rn "
                f"FROM ({sql}) GROUP BY {keys}, {col}) WHERE rn = 1"
            )
        else:
            raise SqlGenError(f"no SQL rendering for op {kind!r}")
    return sql
