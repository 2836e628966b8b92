"""CLI entry point, mirroring the reference's flags (reference
agentic_workflow_transformation.py:287-302): ``--input-csv PATH`` and
``--eval``, plus an optional positional description for single-shot
transforms.

  python -m agentic_workflow_for_data_transformation_spark.cli \
      --input-csv input.csv "Filter rows where age > 30 and select name and age."
  python -m agentic_workflow_for_data_transformation_spark.cli --input-csv input.csv --eval
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from .agents import run_eval, run_transform
from .session import get_spark
from .sources import read_csv

# The reference's 20-description eval corpus (:339-362), verbatim.
EVAL_DESCRIPTIONS = [
    "Filter rows where age > 30 and select columns name and age.",
    "Filter rows where city == 'New York' and select name, city.",
    "Filter rows where age <= 30 and select name and age.",
    "Sort by age descending and keep top 3 rows.",
    "Group by city and count names.",
    "Add is_adult column where is_adult = age >= 18.",
    "Select rows where name starts with 'J' and select name, city.",
    "Rename name to full_name.",
    "Drop city column.",
    "Filter rows where age > 100",
    "Filter rows where age > 30 AND city == 'New York' and select name, age, city.",
    "Filter rows where age > 30 OR city == 'New York' and select name, age.",
    "Filter rows where age between 30 and 45 and name starts with 'J'.",
    "Select rows where (age > 30 AND city == 'Chicago') OR (age <= 25 AND city == 'New York').",
    "Select rows where name starts with 'J' and age <= 35.",
    "Filter rows where age > 30 and city in ('Chicago', 'Boston').",
    "Filter rows where age > 30 and not city == 'Los Angeles'.",
    "Sort by age desc and then filter age > 30 and keep top 2.",
    "Group by city and show average age where average_age > 30.",
    "Filter where name contains 'an' and age between 30 and 50.",
]

DEFAULT_DESCRIPTION = "Filter rows where age > 30 and select columns name and age."


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="NL-driven Spark transformation workflow")
    ap.add_argument("description", nargs="?", default=DEFAULT_DESCRIPTION)
    ap.add_argument("--input-csv", default=None, help="input table (CSV with header)")
    ap.add_argument("--eval", action="store_true", help="run the 20-description eval suite")
    ap.add_argument("--out-dir", default=".", help="directory for transform_*.csv outputs")
    ap.add_argument(
        "--sql", default=None, metavar="QUERY",
        help="bypass the NL pipeline and run raw Spark SQL; the input "
             "table registers as view 't' (with --sf-dir, the testdata "
             "star-schema tables register by name instead)",
    )
    ap.add_argument(
        "--sf-dir", default=None, metavar="DIR",
        help="with --sql: register DIR's parquet tables "
             "(region nation customer ... events documents embeddings) as views",
    )
    ap.add_argument(
        "--explain", action="store_true",
        help="with --sql: print the formatted physical plan instead of "
             "executing (inspect pushdown/broadcast/codegen before a "
             "100 TB run)",
    )
    ap.add_argument(
        "--llm", choices=["auto", "off"], default="auto",
        help="'auto' uses the OPENAI_API_KEY-configured client as the "
             "planner fallback when the grammar can't parse; 'off' is "
             "strictly deterministic (default behaves as 'off' when no "
             "key is set)",
    )
    args = ap.parse_args(argv)

    from .agents.llm import client_from_env

    llm = client_from_env() if args.llm == "auto" else None

    if args.sql is not None:
        # raw-SQL escape hatch: the full Spark SQL surface without the
        # NL pipeline — same session config, same sinks
        from .sources import csv_shape, read_tables, write_csv_single

        spark = get_spark(app_name="cli")
        if args.sf_dir:
            for name, tdf in read_tables(spark, args.sf_dir).items():
                tdf.createOrReplaceTempView(name)
        elif args.input_csv and Path(args.input_csv).exists():
            read_csv(spark, str(args.input_csv)).createOrReplaceTempView("t")
        else:
            print("--sql needs --sf-dir or --input-csv.", file=sys.stderr)
            return 2
        out = spark.sql(args.sql)
        if args.explain:
            out.explain("formatted")  # prints the physical plan
            return 0
        path = write_csv_single(out, Path(args.out_dir) / "sql_result.csv")
        print(f"rows={csv_shape(path)[1]}")  # counted off the written file
        print(f"output: {path}")
        return 0

    input_csv = args.input_csv or (Path.cwd() / "input.csv")
    if not Path(input_csv).exists():
        print(f"No input CSV found at {input_csv}. Pass --input-csv.", file=sys.stderr)
        return 2

    spark = get_spark(app_name="cli")
    df = read_csv(spark, str(input_csv))

    if args.eval:
        results = run_eval(spark, df, EVAL_DESCRIPTIONS, out_dir=args.out_dir, llm=llm)
        n_pass = sum(r["pass"] for r in results)
        for r in results:
            print(f"[{'PASS' if r['pass'] else 'FAIL'}] {r['id']:>2} "
                  f"rows={r['actual_rows']:>6} {r['description']}")
        print(f"\n{n_pass}/{len(results)} passed; results in {Path(args.out_dir) / 'eval_results.csv'}")
        return 0 if n_pass == len(results) else 1

    from .plans.parser import ParseError

    try:
        state = run_transform(spark, df, args.description, out_dir=args.out_dir, llm=llm)
    except ParseError as e:
        print(f"Could not understand the description: {e}", file=sys.stderr)
        return 2
    print(f"{'valid' if state.valid else 'INVALID'} "
          f"rows={state.row_count} attempts={state.attempts}")
    print(f"output: {state.output_path}")
    return 0 if state.valid else 1


if __name__ == "__main__":
    raise SystemExit(main())
