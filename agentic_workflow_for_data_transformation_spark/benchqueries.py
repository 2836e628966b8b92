"""Named query registry: the driver-facing catalog of every implemented
operator (SURVEY.md section 2), each as a (spark_builder, oracle_sql)
pair over the /root/testdata parquet star schema.

The queries live in ``registry/``, one module per family; importing
this module imports them all. A query's family is the module it is
registered in.

Numeric-determinism policy: any aggregate over a non-integral double
column (prices) is summed as decimal(18,2) then cast back to double, so
the result is exact and identical across engines and partition orders;
averages are computed as exact-sum / count. Integral doubles
(l_quantity) sum exactly in binary and need no cast.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import sys
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Family modules call compile_spec and parse_description through this
# module's globals, so a wrapper set here (perfbench --trace 1) times
# every builder that uses them.
from .plans import compile_spec, parse_description
from .plans.sqlgen import spec_to_sql
from .sources import read_events, read_parquet_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

# one-line catalog descriptions for lambda registrations (defs carry
# their own docstring; tools/gen_catalog.py reads docstring-or-desc)
_DESCRIPTIONS: dict[str, str] = {}

# the driver's correctness ledgers, one CORRECTNESS_rNN.json per round
_LEDGER_DIR = Path(__file__).resolve().parent.parent


def register(name: str, oracle: str | None, desc: str | None = None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, oracle)
        if desc:
            _DESCRIPTIONS[name] = desc
        elif not (getattr(fn, "__doc__", None) or "").strip():
            # keep the catalog complete: a registration must explain
            # itself either via docstring or desc=
            _DESCRIPTIONS.setdefault(name, "")
        return fn

    return deco


@functools.cache
def _last_gated() -> dict[str, int]:
    """The latest driver ledger round that has a row for each query
    name; a name no ledger has a row for is absent."""
    last: dict[str, int] = {}
    for path in _LEDGER_DIR.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered() -> list[str]:
    """Registry order: least recently gated first, the name breaking
    ties. The driver gates the first 50 names only, so each committed
    ledger rotates the window to the queries it has checked least
    recently."""
    last = _last_gated()
    return sorted(_REGISTRY, key=lambda name: (last.get(name, 0), name))


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name in _ordered()
            if (sql := _REGISTRY[name][1]) is not None}


def descriptions() -> dict[str, str]:
    """Catalog line per query: the builder's first docstring line, or
    the desc= passed at registration for lambda builders."""
    out: dict[str, str] = {}
    for name in _ordered():
        doc = (getattr(_REGISTRY[name][0], "__doc__", None) or "").strip()
        if doc:
            out[name] = " ".join(doc.split("\n\n")[0].split())
        else:
            out[name] = _DESCRIPTIONS.get(name, "")
    return out


def families() -> dict[str, str]:
    """Family per query: the registry module its builder is defined in."""
    return {name: _REGISTRY[name][0].__module__.rpartition(".")[2]
            for name in _ordered()}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet_table(spark, sf_dir, name)


def _nl(spark: SparkSession, sf_dir: str, table: str, description: str,
        extra_tables: tuple[str, ...] = ()) -> DataFrame:
    """Run an NL description through parser + compiler against a table —
    the reference-parity execution path. ``extra_tables`` are loaded
    into the compiler's table map for NL join clauses."""
    df = _t(spark, sf_dir, table)
    tables = {n: _t(spark, sf_dir, n) for n in extra_tables}
    return compile_spec(df, parse_description(description, columns=df.columns),
                        tables=tables)


# Column names of the testdata tables. NL oracles are rendered at import
# time, before any SparkSession exists; _nl parses against the live
# df.columns at query time and resolves to the same names.
_TABLE_COLUMNS: dict[str, list[str]] = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "orders": [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "region": ["r_regionkey", "r_name"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}


def _register_nl(name: str, table: str, description: str, doc: str,
                 oracle: str | None = None,
                 extra_tables: tuple[str, ...] = ()) -> None:
    """Register ``description`` run through ``_nl`` on ``table``, with
    ``doc`` as its catalog text. With no hand-written ``oracle``, the
    oracle is the sqlgen rendering of the parsed description, so the
    parser, the compiler and the SQL generator answer for one spec."""
    if oracle is None:
        oracle = spec_to_sql(
            parse_description(description, columns=_TABLE_COLUMNS[table]), table
        )

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _nl(spark, sf_dir, table, description, extra_tables)

    fn.__doc__ = doc
    # the family is the registering module, not this one
    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    register(name, oracle)(fn)


def _load_families() -> None:
    """Import every module under registry/; each family module
    registers its queries on import. Runs when this module is imported,
    so every oracle (NL ones render through the parser) exists before
    anyone wraps parse_description or compile_spec."""
    from . import registry

    for info in pkgutil.iter_modules(registry.__path__):
        importlib.import_module(f"{registry.__name__}.{info.name}")


_load_families()
