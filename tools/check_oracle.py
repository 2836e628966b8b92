"""Local replica of the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at the same
scale factor, compare row count + schema (column names) + an
order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

With no query list, rewrites CORRECTNESS_LOCAL.json for the whole
registry. With a query list plus ``--merge``, updates just those rows
in the committed report — the incremental path when registering a new
query (the freshness gate in tests/test_registry_smoke.py requires the
report to cover the registry exactly).
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)


def frame_fingerprint(pdf) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\n".join("|".join(r) for r in rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--merge"]
    merge = "--merge" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from agentic_workflow_for_data_transformation_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; generated scaledata is
        # a directory of part files — read_parquet takes either pattern
        p = Path(sf_dir) / f"{t}.parquet"
        pat = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        report[name] = row
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e).splitlines()[0][:160]}")
            row["err"] = f"spark:{type(e).__name__}"
            failures.append(name)
            continue
        row["spark_rows"] = len(spdf)
        if name not in oracles:
            print(f"weak  {name}: rows={len(spdf)} (no oracle, rows-only check)")
            row["err"] = "no_oracle"
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {e}")
            row["err"] = "duckdb_error"
            failures.append(name)
            continue
        sn, sc, sh = frame_fingerprint(spdf)
        on, oc, oh = frame_fingerprint(opdf)
        row.update(
            rows_match=(sn == on), schema_match=(sc == oc),
            hash_match=(sh == oh), oracle_rows=on,
        )
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "ok  " if ok else "FAIL"
        print(f"{status}  {name}: spark(n={sn}, h={sh}) duckdb(n={on}, h={oh})")
        if not ok:
            failures.append(name)
            if sc != oc:
                print(f"      cols spark={sc} duckdb={oc}")
            elif sn == on:
                srows = sorted(tuple(_norm_cell(v) for v in r) for r in spdf[sc].itertuples(index=False, name=None))
                orows = sorted(tuple(_norm_cell(v) for v in r) for r in opdf[oc].itertuples(index=False, name=None))
                diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                for a, b in diffs:
                    print(f"      spark={a}\n      duck ={b}")
    if not only or merge:
        # Committed full-registry replica of the driver's gate: the driver
        # records only the first 50 registrations, this file covers all.
        out = Path(__file__).resolve().parent.parent / "CORRECTNESS_LOCAL.json"
        if only:
            prior = json.loads(out.read_text()) if out.exists() else {}
            prior.update(report)
            # drop rows for queries no longer registered
            report = {k: prior[k] for k in qs if k in prior}
        # sorted by query name, so a rerun diffs only on changed rows
        out.write_text(json.dumps(dict(sorted(report.items())), indent=2) + "\n")
        print(f"wrote {out} ({len(report)} queries)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
