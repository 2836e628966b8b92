"""Spec -> DataFrame compiler: the heart of the deterministic core.

Where the reference ``exec``s LLM-generated pandas on the driver
(reference agentic_workflow_transformation.py:105-154, single process,
whole table in memory), this compiler folds the validated op list into
DataFrame transformations, so the program the user wrote becomes a
Catalyst logical plan: filters push down to the parquet/CSV scan,
projections prune columns, top-k becomes TakeOrderedAndProject, and
aggregations run partial+final — all without any per-operator effort
here, and all of it scales out to a real cluster unchanged.

Ops are applied in *stated order* (SURVEY.md O3: "sort then filter then
limit" must keep its sequence in the IR; Catalyst may still reorder
where provably equivalent).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .spec import SpecError, spec_ops

_BIN_COMPARES: dict[str, Callable[[Column, Column], Column]] = {
    "gt": lambda a, b: a > b,
    "ge": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "le": lambda a, b: a <= b,
    "eq": lambda a, b: a == b,
    "ne": lambda a, b: a != b,
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: a / b,
}

_AGG_BUILDERS: dict[str, Callable[[str], Column]] = {
    "count": lambda c: F.count(F.lit(1)) if isinstance(c, str) and c == "*" else F.count(c),
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count_distinct": lambda c: F.countDistinct(c),
    # ordered LISTAGG: the explicit array_sort is what makes the value
    # deterministic (collect_list order is partition-dependent); sqlgen
    # renders string_agg(col, '|' ORDER BY col)
    "listagg": lambda c: F.array_join(F.array_sort(F.collect_list(c)), "|"),
    # exact interpolated median (Spark's median == DuckDB's median /
    # quantile_cont(0.5) definition; value depends only on the two
    # middle order statistics, so it is partition-order independent)
    "median": F.median,
    # completeness audit: count(CASE WHEN x IS NULL THEN 1 END) in SQL
    "count_nulls": lambda c: F.count(F.when(F.col(c).isNull(), F.lit(1))),
}


def compile_expr(expr: Any) -> Column:
    """Expression tree -> pyspark Column. Bare str = column ref, bare
    scalar = literal (parser sugar)."""
    if isinstance(expr, str):
        return F.col(expr)
    if isinstance(expr, bool | int | float) or expr is None:
        return F.lit(expr)
    if not (isinstance(expr, dict) and len(expr) == 1):
        raise SpecError(f"bad expression node: {expr!r}")
    [(op, args)] = expr.items()
    if op == "col":
        return F.col(args)
    if op == "lit":
        return F.lit(args)
    if op in _BIN_COMPARES:
        return _BIN_COMPARES[op](compile_expr(args[0]), compile_expr(args[1]))
    if op == "round":
        return F.round(compile_expr(args[0]), args[1])
    if op == "cast":
        return compile_expr(args[0]).cast(args[1])
    if op == "between":
        e = compile_expr(args[0])
        return e.between(compile_expr(args[1]), compile_expr(args[2]))
    if op == "isin":
        return compile_expr(args[0]).isin(*args[1])
    if op == "startswith":
        return compile_expr(args[0]).startswith(args[1])
    if op == "contains":
        return compile_expr(args[0]).contains(args[1])
    if op == "and":
        out = compile_expr(args[0])
        for a in args[1:]:
            out = out & compile_expr(a)
        return out
    if op == "or":
        out = compile_expr(args[0])
        for a in args[1:]:
            out = out | compile_expr(a)
        return out
    if op == "not":
        return ~compile_expr(args)
    if op == "is_null":
        return compile_expr(args).isNull()
    if op == "is_not_null":
        return compile_expr(args).isNotNull()
    if op in ("lower", "upper", "trim", "length"):
        return getattr(F, op)(compile_expr(args))
    if op == "trunc":
        # time-bucket key: identical semantics to ANSI date_trunc
        return F.date_trunc(args[0], compile_expr(args[1]))
    if op == "json_get":
        # scalar JSON field as text — get_json_object runs JVM-side;
        # DuckDB mirror is json_extract_string (both return NULL for
        # a missing field or malformed JSON)
        return F.get_json_object(compile_expr(args[0]), "$." + args[1])
    if op == "concat":
        return F.concat(*[compile_expr(a) for a in args])
    if op == "coalesce":
        return F.coalesce(*[compile_expr(a) for a in args])
    if op == "case":
        # ANSI CASE: first matching branch wins; missing else -> NULL.
        # Spark evaluates when-chains lazily branch-by-branch, same as
        # the SQL rendering, so both engines agree on every row.
        whens = args["when"]
        out = F.when(compile_expr(whens[0][0]), compile_expr(whens[0][1]))
        for cond, val in whens[1:]:
            out = out.when(compile_expr(cond), compile_expr(val))
        if "else" in args:
            out = out.otherwise(compile_expr(args["else"]))
        return out
    raise SpecError(f"unknown expression op {op!r}")


def _sort_cols(keys: list[dict]) -> list[Column]:
    return [F.col(k["col"]).asc() if k["asc"] else F.col(k["col"]).desc() for k in keys]


_WINDOW_RANK_FNS = {
    "row_number": F.row_number,
    "rank": F.rank,
    "dense_rank": F.dense_rank,
}


def _apply_window(df: DataFrame, op: dict) -> DataFrame:
    w = Window.partitionBy(*[F.col(c) for c in op["partition_by"]]).orderBy(
        *_sort_cols(op["order_by"])
    )
    exprs = op["exprs"]
    # a GLOBAL row_number (no partition keys) would funnel the whole
    # frame through one partition; when the ordering is a single
    # ascending numeric key, route it through the two-phase rank
    # (partitioned bucket windows + broadcast offsets) instead —
    # same numbers, no single-partition sort of the data
    if (
        not op["partition_by"]
        and len(op["order_by"]) == 1
        and len(exprs) == 1
        and exprs[0]["fn"] == "row_number"
    ):
        from pyspark.sql import types as T

        okey = op["order_by"][0]["col"]
        if okey in df.columns and isinstance(
            df.schema[okey].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType),
        ):
            from ..operators.windows import two_phase_row_number

            return two_phase_row_number(
                df, okey, out_col=exprs[0]["alias"],
                ascending=op["order_by"][0]["asc"],
            )
    for e in exprs:
        fn = e["fn"]
        if fn in _WINDOW_RANK_FNS:
            col = _WINDOW_RANK_FNS[fn]().over(w)
        elif fn == "ntile":
            col = F.ntile(e["n"]).over(w)
        elif fn in ("percent_rank", "cume_dist"):
            # exact rationals of row/rank counts — (rank-1)/(n-1) and
            # peers/n divide integers in float64, bit-identical across
            # engines under a total order
            col = getattr(F, fn)().over(w)
        elif fn == "first_value":
            # Spark's default ordered frame (RANGE unbounded..current)
            # is the SQL default, so first_value agrees cross-engine;
            # an explicit rows_preceding sliding frame is honored the
            # same way as on aggregates (first of the last n+1 rows)
            win = w
            if e["rows_preceding"] is not None:
                win = w.rowsBetween(-e["rows_preceding"], Window.currentRow)
            col = F.first(e["col"]).over(win)
        elif fn in ("lag", "lead"):
            base = F.lag if fn == "lag" else F.lead
            col = base(e["col"], e["offset"]).over(w)
        elif fn == "ewma":
            # exponentially weighted moving average over a BOUNDED lag
            # chain: ewma_t = sum_j a^j x_{t-j} / sum_j a^j over the
            # available (non-null) lags j = 0..n — the weights are
            # FIXED float literals and the additions run in ascending
            # j on both engines, so the double result is bit-identical
            # and the oracle renders the same chain (no recursive
            # state, no UDF; n lag window functions share w's one
            # sort). Rows near the partition start renormalize over
            # the lags that exist.
            a = float(e["alpha"])
            n = int(e["rows_preceding"])
            x0 = F.col(e["col"]).cast("double")
            num = F.when(x0.isNotNull(), F.lit(1.0) * x0).otherwise(F.lit(0.0))
            den = F.when(x0.isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0))
            for j in range(1, n + 1):
                lx = F.lag(x0, j).over(w)
                wj = F.lit(a ** j)
                num = num + F.when(lx.isNotNull(), wj * lx).otherwise(F.lit(0.0))
                den = den + F.when(lx.isNotNull(), wj).otherwise(F.lit(0.0))
            col = F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(None))
        elif fn == "median":
            # Spark refuses median() over an ordered/framed window
            # (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so build it
            # from the frame contents: collect_list over the SAME
            # frame, then the exact interpolated median of the sorted
            # array — lo + (hi-lo)/2 over the two middle order
            # statistics, the same formula DuckDB's median() OVER
            # evaluates, so the hash-compare needs no tolerance. For a
            # bounded ROWS frame the buffered state is O(frame) per
            # row; the cumulative form buffers the running prefix —
            # prefer 'over last N rows' phrasings on big groups.
            # The cumulative (no rows_preceding) form deliberately
            # keeps Spark's DEFAULT ordered frame — RANGE unbounded..
            # current, which includes order-by PEERS — because that is
            # also DuckDB's default for median() OVER, AND it is the
            # only tie-deterministic choice: a ROWS frame over tied
            # order keys admits whichever tied row a partition happens
            # to deliver first (round-8 advisor finding).
            # Round-8 scale audit: an N-lag-columns formulation of the
            # sliding frame was built and A/B-measured as the "wide
            # frame scale path" ask — and LOST to collect_list at every
            # scale (sf1: 1.9 vs 1.5 s; sf10 solo: 5.4 vs 4.5 s; N
            # OffsetWindowFunction frame processors cost more than one
            # buffered frame at small N). The 18.8 s sf10 number that
            # prompted the ask was end-of-round load inflation — solo
            # collect_list measures 4.5 s. Keeping the simpler plan.
            win = (
                w.rowsBetween(-e["rows_preceding"], Window.currentRow)
                if e["rows_preceding"] is not None
                else w
            )
            arr = F.array_sort(F.collect_list(e["col"]).over(win))
            n = F.size(arr)
            lo = F.element_at(arr, F.floor((n + F.lit(1)) / F.lit(2)).cast("int")).cast("double")
            hi = F.element_at(arr, (F.floor(n / F.lit(2)) + F.lit(1)).cast("int")).cast("double")
            # collect_list drops NULLs (median ignores them); an
            # all-null frame leaves an empty array -> NULL, matching SQL
            col = F.when(n > F.lit(0), lo + (hi - lo) / F.lit(2.0))
        else:  # aggregate over the window frame
            win = w
            if e["rows_preceding"] is not None:
                # sliding ROWS frame: n PRECEDING .. CURRENT ROW (a
                # moving aggregate) instead of the default cumulative
                # RANGE frame — still one sort per partition; Spark
                # keeps only the frame's rows buffered per group
                win = w.rowsBetween(-e["rows_preceding"], Window.currentRow)
            col = _AGG_BUILDERS[fn](e["col"]).over(win)
        df = df.withColumn(e["alias"], col)
    return df


def _agg_col(a: dict) -> Column:
    """Build one aggregate; an optional input 'cast' (e.g. to
    decimal(18,2)) makes money-column sums exact and therefore
    bit-identical across engines and partition orders."""
    col = a["col"]
    if a["cast"] and col != "*":
        col = F.col(col).cast(a["cast"])
    if a["fn"] == "percentile":
        # exact interpolated percentile (Spark percentile == DuckDB
        # quantile_cont): index p*(n-1) over the sorted group, linear
        # interpolation — partition-order independent like median
        return F.percentile(col, F.lit(a["p"])).alias(a["alias"])
    return _AGG_BUILDERS[a["fn"]](col).alias(a["alias"])


def _apply_groupby(df: DataFrame, op: dict) -> DataFrame:
    aggs = [_agg_col(a) for a in op["aggs"]]
    out = df.groupBy(*op["keys"]).agg(*aggs) if op["keys"] else df.agg(*aggs)
    if op["having"] is not None:
        out = out.filter(compile_expr(op["having"]))
    return out


def _apply_pivot(df: DataFrame, op: dict) -> DataFrame:
    """Declared-values pivot: one hash aggregate (Catalyst plans it
    exactly like a group-by — no distinct discovery scan, which is the
    100 TB discipline). Count cells null-fill to 0 so the result
    matches the portable `count(*) FILTER (WHERE ...)` rendering;
    other aggregates keep SQL's NULL-for-empty-cell semantics."""
    agg = op["agg"]
    acol = F.lit(1) if agg["col"] == "*" else F.col(agg["col"])
    cell = _AGG_BUILDERS[agg["fn"]](acol)
    p = df.groupBy(*op["keys"]).pivot(op["col"], list(op["values"])).agg(cell)
    # Resolve pivot cells POSITIONALLY: the output is keys then one cell
    # per declared value in declared order. Name-based lookup (p[str(v)])
    # breaks on non-string values (str(True)='True' but Spark names the
    # column 'true') and on values containing '.'/'`' (parsed as nested
    # field paths) — rename to safe synthetic names first.
    nk = len(op["keys"])
    safe = [*p.columns[:nk], *[f"_pv_{i}" for i in range(len(p.columns) - nk)]]
    p = p.toDF(*safe)
    sel: list[Column] = [F.col(k) for k in op["keys"]]
    for i, alias in enumerate(op["aliases"]):
        c = F.col(f"_pv_{i}")
        if agg["fn"] == "count":
            c = F.coalesce(c, F.lit(0))
        sel.append(c.alias(alias))
    return p.select(*sel)


def _apply_mode(df: DataFrame, op: dict) -> DataFrame:
    """Deterministic per-group MODE: count-then-rank with the
    (count DESC, value ASC) tie-break, so the result is reproducible
    on any cluster (Spark's own mode() breaks ties by partition
    order). The rank window runs over the COUNTED |keys x values|
    table, never the fact table."""
    from pyspark.sql import Window

    keys, col = op["keys"], op["col"]
    c = df.groupBy(*keys, col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(*keys).orderBy(F.desc("n"), F.asc(col))
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col(col).alias(f"mode_{col}"), "n")
    )


def _resolve_right(right: Any, tables: dict[str, DataFrame]) -> DataFrame:
    """Resolve a join/union right side: a registered table name or an
    inline DataFrame. Unknown names get a SpecError naming the
    available tables, not a bare KeyError."""
    if not isinstance(right, str):
        return right
    if right not in tables:
        raise SpecError(
            f"unknown table {right!r}; available tables: {sorted(tables)}"
        )
    return tables[right]


def _reject_string_int_cast(df: DataFrame, expr: Any) -> None:
    """Integer casts are only portable over NUMERIC inputs: the engine
    truncates (sqlgen pins DuckDB to the same trunc()), but a STRING
    input diverges — Spark's cast('3.7' as long) is NULL while
    DuckDB's implicit string->double->trunc yields 3 (round-8 advisor
    finding). Reject cast-to-integer whose inner expression is a bare
    string-typed column; the portable phrasing is convert-to-double
    first."""
    from pyspark.sql import types as T

    if not (isinstance(expr, dict) and len(expr) == 1):
        return
    [(op, args)] = expr.items()
    if op == "cast" and args[1] in ("long", "int", "bigint", "integer"):
        inner = args[0]
        name = inner if isinstance(inner, str) else (
            inner.get("col") if isinstance(inner, dict) else None
        )
        if (
            isinstance(name, str)
            and name in df.columns
            and isinstance(df.schema[name].dataType, T.StringType)
        ):
            raise SpecError(
                f"cast of text column {name!r} to integer is not "
                "portable (engines disagree on non-integral strings); "
                "convert to double first"
            )
    if op == "case":
        for cond, val in args.get("when", []):
            _reject_string_int_cast(df, cond)
            _reject_string_int_cast(df, val)
        if "else" in args:
            _reject_string_int_cast(df, args["else"])
    elif isinstance(args, list):
        for a in args:
            _reject_string_int_cast(df, a)
    elif isinstance(args, dict):
        _reject_string_int_cast(df, args)


def compile_spec(
    df: DataFrame,
    spec: dict,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Fold the spec's ops over ``df``. ``tables`` resolves the 'right'
    side of join/union ops by name (scale note: joins honor an explicit
    ``broadcast`` hint so small dimension tables never shuffle)."""
    tables = tables or {}
    for op in spec_ops(spec):
        kind = op["op"]
        if kind == "filter":
            df = df.filter(compile_expr(op["expr"]))
        elif kind == "select":
            df = df.select(*op["cols"])
        elif kind == "with_column":
            _reject_string_int_cast(df, op["expr"])
            df = df.withColumn(op["name"], compile_expr(op["expr"]))
        elif kind == "rename":
            for old, new in op["renames"].items():
                df = df.withColumnRenamed(old, new)
        elif kind == "drop":
            df = df.drop(*op["cols"])
        elif kind == "sort":
            df = df.orderBy(*_sort_cols(op["keys"]))
        elif kind == "limit":
            df = df.limit(op["n"])
        elif kind == "groupby_agg":
            df = _apply_groupby(df, op)
        elif kind == "pivot":
            df = _apply_pivot(df, op)
        elif kind == "mode":
            df = _apply_mode(df, op)
        elif kind == "rollup":
            aggs = [_agg_col(a) for a in op["aggs"]]
            aggs.append(
                F.grouping_id().cast("int").alias(op["gid_alias"])
            )
            df = df.rollup(*op["keys"]).agg(*aggs)
        elif kind == "distinct":
            df = df.dropDuplicates(op["cols"]) if op["cols"] else df.distinct()
        elif kind == "dedup":
            # deterministic keyed dedup: row_number over (keys, keep_col
            # order) — ONE exchange on the dedup keys plus a per-group
            # sort, vs the min-agg + semi-join form's two shuffles;
            # duplicate groups are small, so the sort is cheap
            keep = op["keep"]
            kc = F.col(op["keep_col"])
            order = [kc.asc() if keep == "min" else kc.desc()]
            if op["tiebreak"]:
                # optional ascending secondary key: deterministic
                # winner when keep_col ties within a group
                order.append(F.col(op["tiebreak"]).asc())
            w = Window.partitionBy(*[F.col(k) for k in op["keys"]]).orderBy(
                *order
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        elif kind == "explode":
            # one row per non-empty regex token; empty tokens (leading
            # separators) are filtered AFTER the explode so both
            # engines agree, and rows with no tokens vanish (inner
            # explode semantics, matching SQL unnest)
            alias = op["alias"]
            df = df.withColumn(
                alias, F.explode(F.split(F.col(op["col"]), op["pattern"]))
            ).filter(F.col(alias) != "")
        elif kind == "window":
            df = _apply_window(df, op)
        elif kind == "sessionize":
            from ..streaming.events import sessionize_batch

            df = sessionize_batch(
                df, gap_seconds=op["gap_seconds"], key_col=op["key"],
                ts_col=op["ts_col"], id_col=op["id_col"],
            )
        elif kind == "asof_join":
            from pyspark.sql import types as T

            from ..operators.joins import asof_join

            rdf = _resolve_right(op["right"], tables)
            ts = op["ts"]
            if op["tolerance"] is not None:
                # the engine applies tolerance in the ts column's
                # NATURAL unit (seconds for timestamps, days for
                # dates, the column's own units for numerics) while
                # sqlgen renders the declared unit — a silent
                # disagreement (e.g. 'within 300 seconds' on a DATE
                # column = 300 days engine-side) must be an error,
                # not a divergence the oracle gate can't see
                dt = df.schema[ts].dataType
                natural = (
                    "second"
                    if isinstance(dt, (T.TimestampType, T.TimestampNTZType))
                    else "day" if isinstance(dt, T.DateType) else "raw"
                )
                unit = op["tolerance_unit"]
                if unit != natural:
                    raise SpecError(
                        f"asof_join tolerance_unit {unit!r} does not match "
                        f"ts column {ts!r} of type {dt.simpleString()} "
                        f"(natural unit {natural!r})"
                    )
            df = asof_join(
                df, rdf, on=op["on"], left_ts=ts,
                right_ts=op["right_ts"] or ts,
                right_cols=op["right_cols"],
                direction=op["direction"],
                tolerance=op["tolerance"],
            )
        elif kind == "join":
            rdf = _resolve_right(op["right"], tables)
            if op["broadcast"]:
                rdf = F.broadcast(rdf)
            df = df.join(rdf, on=op["on"], how=op["how"])
        elif kind == "union":
            rdf = _resolve_right(op["right"], tables)
            df = df.unionByName(rdf)
            if op["distinct"]:
                df = df.distinct()
        elif kind == "sample":
            from ..operators.sampling import hash_sample

            df = hash_sample(
                df, op["fraction"], op["key"], salt=op["salt"]
            )
        elif kind == "negatives":
            from ..operators.sampling import negative_samples

            df = negative_samples(
                df,
                id_col=op["id_col"],
                label_col=op["label_col"],
                k=op["k"],
                pool_size=op["pool"],
            )
        elif kind == "chunk":
            from ..operators.corpus import chunk_documents

            df = chunk_documents(
                df, size=op["size"], stride=op["stride"],
                id_col=op["id_col"],
                text_col=op["text_col"],
            )
        elif kind == "resample":
            from ..operators.timeseries import resample_interpolate

            df = resample_interpolate(
                df,
                key_col=op["key"],
                ts_col=op["ts"],
                val_col=op["val"],
                id_col=op["id"],
                step_s=int(op["step_hours"] * 3600),
            )
        elif kind == "winsorize":
            from ..operators.stats import winsorize_group

            df = winsorize_group(
                df, op["col"], list(op["keys"]),
                lo=op["lo"], hi=op["hi"],
            )
        elif kind == "langid":
            from ..operators.text import with_lang_id

            df = with_lang_id(df, text_col=op["text_col"])
        elif kind == "expect":
            from ..operators.quality import check_expectations

            df = check_expectations(df, [dict(e) for e in op["expectations"]])
        elif kind == "redact":
            from ..operators.text import redact_text

            tcol = op["text_col"]
            # in-place: the NL contract is "redact ... in text", so the
            # text column itself carries the masked version; n_masked
            # is BIGINT to match the oracle's len() arithmetic
            df = redact_text(df, text_col=tcol)
            df = (
                df.withColumn(tcol, F.col("redacted"))
                .drop("redacted")
                .withColumn("n_masked", F.col("n_masked").cast("long"))
            )
        elif kind == "blocklist":
            from ..operators.text import blocklist_screen

            df = blocklist_screen(
                df, list(op["words"]), text_col=op["text_col"]
            )
        elif kind == "kanon":
            from ..operators.quality import k_anonymity_audit

            df = k_anonymity_audit(df, list(op["cols"]), k=int(op["k"]))
        elif kind == "majority":
            from ..operators.quality import majority_vote

            df = majority_vote(df, op["key"], op["label"])
        elif kind == "agreement":
            from ..operators.stats import krippendorff_alpha

            df = krippendorff_alpha(df, op["key"], op["label"])
        elif kind == "correlate":
            from ..operators.profile import correlation_matrix

            df = correlation_matrix(df, list(op["cols"]))
        elif kind == "spearman":
            from ..operators.profile import spearman_matrix

            df = spearman_matrix(df, list(op["cols"]))
        elif kind == "mutual_info":
            from ..operators.stats import mutual_information

            df = mutual_information(df, op["a"], op["b"])
        elif kind == "anova":
            from ..operators.stats import anova_oneway

            df = anova_oneway(df, op["group"], op["value"])
        elif kind == "funnel":
            from ..operators.timeseries import funnel_steps

            df = funnel_steps(
                df, list(op["steps"]), user_col=op["user"],
                ts_col=op["ts"], type_col=op["type"],
            )
        elif kind == "novelty":
            from ..operators.text import ngram_novelty

            df = ngram_novelty(df, n=int(op["n"]))
        elif kind == "concentration":
            from ..operators.corpus import concentration_audit

            df = concentration_audit(df, group_col=op["key"])
        elif kind == "hapax":
            from ..operators.text import hapax_ratio

            df = hapax_ratio(df, group_col=op["key"])
        elif kind == "ndcg":
            from ..operators.similarity import ndcg_per_query

            df = ndcg_per_query(
                df, query_ids=list(range(int(op["n_queries"]))),
                k=int(op["k"]),
            )
        elif kind == "silhouette":
            from ..operators.similarity import simplified_silhouette

            df = simplified_silhouette(df)
        elif kind == "common_direction":
            from ..operators.linalg import common_direction_audit

            df = common_direction_audit(df, n_iter=int(op["n_iter"]))
        elif kind == "unimax":
            from ..operators.corpus import unimax_allocation

            df = unimax_allocation(
                df,
                budget_tokens=int(op["budget"]),
                max_epochs=int(op["epochs"]),
                group_col=op["key"],
                text_col=op["text"],
            )
        elif kind == "bootstrap_mean":
            from ..operators.stats import poisson_bootstrap_ci

            df = poisson_bootstrap_ci(
                df, op["key"], op["col"], op["id"],
                n_boot=int(op["n"]),
            )
        elif kind == "bpe_merges":
            from ..operators.text import bpe_merge_table

            df = bpe_merge_table(df, n_merges=int(op["n"]))
        elif kind == "perplexity_buckets":
            from ..operators.text import perplexity_buckets

            df = perplexity_buckets(
                df, ref_source=op["ref_source"]
            )
        elif kind == "anomaly":
            from ..operators.timeseries import rolling_zscore_anomalies

            df = rolling_zscore_anomalies(
                df, op["col"], op["key"], op["order_col"],
                n=int(op["n"]), z=float(op["z"]),
            )
        elif kind == "word_entropy":
            from ..operators.text import word_entropy

            df = word_entropy(
                df,
                id_col=op["id_col"],
                text_col=op["text_col"],
            )
        elif kind == "oov":
            from ..operators.text import oov_rate_by_group

            df = oov_rate_by_group(
                df,
                v=int(op["v"]),
                group_col=op["key"],
                text_col=op["text_col"],
            )
        elif kind == "token_counts":
            from ..operators.text import with_token_counts

            df = with_token_counts(df, text_col=op["text_col"])
            # F.size is INT; the oracle (and the column contract) is BIGINT
            df = df.withColumn("n_words", F.col("n_words").cast("long"))
            df = df.withColumn("n_tokens", F.col("n_tokens").cast("long"))
        elif kind == "quality_score":
            from ..operators.text import with_quality_score

            df = with_quality_score(df, text_col=op["text_col"])
            df = df.withColumn("n_words", F.col("n_words").cast("long"))
        elif kind == "gopher":
            from ..operators.text import gopher_rules

            df = gopher_rules(df, text_col=op["text_col"])
            # F.size is INT; the oracle (and the column contract) is BIGINT
            df = df.withColumn("n_words", F.col("n_words").cast("long"))
            df = df.withColumn(
                "n_req_stopwords", F.col("n_req_stopwords").cast("long")
            )
        elif kind == "dsir":
            from ..operators.corpus import dsir_log_weights

            df = dsir_log_weights(
                df,
                target_pred=F.col(op["target_col"]) == op["target_val"],
                id_col=op["id_col"],
                text_col=op["text_col"],
            )
        elif kind == "fertility":
            from ..operators.text import token_fertility_by_lang

            df = token_fertility_by_lang(
                df, lang_col=op["key"], text_col=op["text_col"]
            )
        elif kind == "dup_by_source":
            from ..operators.corpus import dup_rate_by_source

            df = dup_rate_by_source(
                df,
                id_col=op["id_col"],
                text_col=op["text_col"],
                source_col=op["key"],
                n=op["n"],
            )
        elif kind == "winnow_dedup":
            # winnowing (MOSS) keep-first dedup: drop any doc whose
            # winnowed fingerprint set overlaps an EARLIER doc's above
            # the bound. Same anti-join shape as neardup; pair work is
            # bounded by the max_df boilerplate guard inside
            # winnow_shared_pairs
            from ..operators.dedup import winnow_shared_pairs

            idc = op["id_col"]
            pairs = winnow_shared_pairs(
                df, id_col=idc, text_col=op["text_col"],
                threshold=op["overlap"],
            )
            drop = pairs.select(F.col("doc_b").alias(idc)).distinct()
            df = df.join(drop, idc, "left_anti")
        elif kind == "dedup_savings":
            from ..operators.dedup import dedup_savings_by_source

            df = dedup_savings_by_source(
                df,
                id_col=op["id_col"],
                text_col=op["text_col"],
                source_col=op["key"],
                len_col=op["len_col"],
            )
        elif kind == "vocab_divergence":
            from ..operators.corpus import js_divergence_by_group

            df = js_divergence_by_group(
                df, group_col=op["key"],
                text_col=op["text_col"],
            )
        elif kind == "split_assign":
            from ..operators.sampling import with_hash_split

            df = with_hash_split(
                df, op["key"], list(op["weights"]), list(op["labels"]),
                out=op["alias"],
            )
        elif kind == "ols":
            from ..operators.stats import groupwise_ols

            df = groupwise_ols(
                df,
                group_col=op["key"],
                x_col=op["x"],
                y_col=op["y"],
                x_decimal=op["x_decimal"],
                y_decimal=op["y_decimal"],
            )
        elif kind == "bm25":
            from ..operators.text import bm25_topk

            df = bm25_topk(
                df,
                list(op["terms"]),
                k=op["k"],
                id_col=op["id_col"],
                text_col=op["text_col"],
            )
        elif kind == "ann_topk":
            from ..operators.similarity import topk_cosine_bruteforce

            df = topk_cosine_bruteforce(
                df, query_id=op["query_id"], k=op["k"],
                id_col=op["id_col"],
                vec_col=op["vec_col"],
            )
        elif kind == "neardup":
            # greedy keep-first fuzzy dedup: a doc is dropped iff a
            # verified near-duplicate with a LOWER id exists. The LSH
            # chain (banding candidates -> exact Jaccard on survivors)
            # keeps the pair space ~linear; the final anti join
            # touches the corpus once with a tiny broadcast-able set
            from ..operators.dedup import lsh_verified_pairs

            idc = op["id_col"]
            pairs = lsh_verified_pairs(
                df, id_col=idc, threshold=op["threshold"],
            )
            drop = pairs.select(F.col("doc_b").alias(idc)).distinct()
            df = df.join(drop, idc, "left_anti")
        elif kind == "merge":
            from ..operators.joins import merge_upsert

            right = op["right"]
            if right not in tables:
                raise SpecError(f"unknown table {right!r} for merge")
            df = merge_upsert(df, tables[right], op["key"])
        elif kind == "decontaminate":
            from ..operators.corpus import contaminated_ids

            right = op["right"]
            if right not in tables:
                raise SpecError(f"unknown table {right!r} for decontaminate")
            idc = op["id_col"]
            bad = contaminated_ids(
                df, tables[right], id_col=idc,
                text_col=op["text_col"],
            )
            df = df.join(bad, idc, "left_anti")
        elif kind == "pack":
            from ..operators.corpus import pack_sequences

            df = pack_sequences(
                df,
                budget=op["budget"],
                group_size=op["group_size"],
                id_col=op["id_col"],
                lang_col=op["lang_col"],
                text_col=op["text_col"],
            )
        else:  # pragma: no cover — validate_spec rejects these
            raise SpecError(f"unknown op {kind!r}")
    return df
