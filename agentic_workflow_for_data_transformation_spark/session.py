"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same config block is what we would ship
to a multi-executor cluster (AQE, skew-join handling, UTC timezone so
results compare bit-for-bit against external oracles).
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
from collections import OrderedDict
from typing import Any, Callable, TypeVar

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# The driver heap G1 starts at and never shrinks below. Without it the
# JVM starts at 1/64 of RAM, and every explicit full collection (the
# benchmark runs one between a query's cold and steady runs) shrinks the
# heap back, so the next query regrows it through dozens of young
# collections.
HEAP_FLOOR_MB = 2048

_MEM_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def initial_heap_mb(driver_memory: str) -> int:
    """The ``-Xms`` for a ``spark.driver.memory`` value, in MiB: the
    floor, clamped to the maximum heap, since the JVM refuses to start
    with ``-Xms`` above ``-Xmx``. The value takes Spark's size format
    (``512m``, ``12g``, ``4gb``; a bare number is MiB)."""
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", driver_memory.strip().lower())
    if m is None:
        raise ValueError(f"spark.driver.memory {driver_memory!r} is not a size")
    max_mb = int(int(m.group(1)) * _MEM_UNIT_MB[m.group(2) or "m"])
    return min(HEAP_FLOOR_MB, max_mb)


def get_spark(
    app_name: str = "agentic_workflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession with scale-aware defaults, or return the
    running one as it is (the builder would otherwise re-apply these
    settings, e.g. the shuffle partitions, to a session in use).

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
      which is what keeps the same plan viable from sf0.001 to 100 TB.
    - UTC session timezone: deterministic timestamp semantics vs oracles.
    - Arrow on: fast pandas interchange for the sample-handoff path and
      for pandas UDFs used by the multimodal/similarity operators.
    """
    try:
        return SparkSession.active()
    except PySparkRuntimeError:  # no session yet
        pass
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # PySpark's call-site capture wraps every Column method and
        # functions.* call in about four extra py4j round trips, so
        # building a wide expression paid for it per term. Off, a JVM
        # error loses only its "== DataFrame == ... was called from"
        # block, which points into this package's own modules anyway.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # long benchmark/registry sessions accumulate checkpoint and
        # shuffle blocks that only free once a driver GC reaches the old
        # generation; with the heap at its floor (-Xms below) even young
        # collections are rare, so ask the ContextCleaner to force a full
        # one periodically
        .config("spark.cleaner.periodicGC.interval", "90s")
        .config("spark.driver.memory", driver_memory)
        # a long-lived engine compiles hundreds of codegen'd stages; the
        # JVM default 240m code cache fills up and the JIT silently stops
        # compiling, slowing later queries 5-10x. 512m still saturated at
        # ~200 plan executions (the 98-query bench runs each query twice),
        # re-introducing a late-session cliff — 1g holds the full corpus.
        # -Xss32m: Catalyst analysis recurses deeply on wide nested
        # expression trees (the m=32 PQ slice/fold plans); Structured
        # Streaming runs foreachBatch planning on its own execution
        # thread, which overflows the JVM default 1m stack on those
        # plans (round-8 ANN-serve rung). 32m is virtual reservation,
        # not resident memory.
        # -Xms: see HEAP_FLOOR_MB. Spark refuses -Xmx here, not -Xms.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -Xss32m"
            f" -Xms{initial_heap_mb(driver_memory)}m",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Session artifacts: the expensive intermediates one application builds
# once and every later query reads (dedup pair chain, PQ codebook and
# codes, IVFADC index, co-order edges, k-means assignments, trained
# weights, input counts, vector widths) — the "materialize once, read
# many" reuse a production pipeline gets from persisting them. One
# LRU store for all kinds, keyed (applicationId, kind, *key). The cap
# sits well above the 24 distinct entries a full 356-query registry
# pass creates (14 artifacts and 10 parquet schemas, one per table,
# from sources.io.read_parquet), so bench.py's steady runs never
# rebuild an artifact.
_ARTIFACTS: OrderedDict[tuple, Any] = OrderedDict()
_ARTIFACT_CAP = 64
# foreachBatch callbacks run on another thread; a build runs unlocked
_ARTIFACTS_LOCK = threading.Lock()


def memo(spark: SparkSession, kind: str, key: tuple,
         build: Callable[[], _T]) -> _T:
    """``build()`` memoized per (application, ``kind``, ``key``).

    A hit moves the entry to the most-recently-used end. A miss first
    drops every other application's entries, then evicts least-recently
    used ones until the store is under its cap, and only then builds.
    A ``None`` result is returned but never stored. ``build`` may call
    ``memo`` itself (the dedup candidates build the signatures), so a
    nested chain can overshoot the cap by its depth. The store is
    locked but the build is not, so two threads missing the same entry
    may both build it; the later result is kept.

    Eviction only DROPS the reference and never unpersists: a query
    built earlier may still hold the frame, and a localCheckpoint'ed
    frame whose blocks are gone cannot recompute (truncated lineage).
    Once the last reference goes, the ContextCleaner frees the blocks
    (periodicGC is 90 s, see get_spark)."""
    app = spark.sparkContext.applicationId
    full = (app, kind, *key)
    with _ARTIFACTS_LOCK:
        if full in _ARTIFACTS:
            _ARTIFACTS.move_to_end(full)
            return _ARTIFACTS[full]
        for k in [k for k in _ARTIFACTS if k[0] != app]:
            del _ARTIFACTS[k]
        while len(_ARTIFACTS) >= _ARTIFACT_CAP:
            _ARTIFACTS.popitem(last=False)
    got = build()
    if got is not None:
        with _ARTIFACTS_LOCK:
            _ARTIFACTS[full] = got
    return got


def _stat_part(name: str, path: str) -> str | None:
    """``name|size|mtime_ns`` of a local file, ``None`` if it cannot
    be stat'ed."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return f"{name}|{st.st_size}|{st.st_mtime_ns}"


def _digest(parts: list[str]) -> str:
    return hashlib.md5("\x00".join(parts).encode()).hexdigest()


def input_fingerprint(df: DataFrame) -> str:
    """Content-sensitive fingerprint of a frame's input files: the
    sorted paths plus (size, mtime) for every stat-able local file, so
    an in-place rewrite UNDER THE SAME NAME within one application
    misses the memo instead of serving stale results. Non-local URIs
    contribute path-only (the bench/oracle inputs are immutable local
    parquet, where size+mtime is exact)."""
    parts = []
    for f in sorted(df.inputFiles()):
        p = f
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        parts.append(_stat_part(f, p) or f)
    return _digest(parts)


def path_fingerprint(path: str) -> str | None:
    """Fingerprint of a local parquet path without asking Spark: the
    sorted (relative name, size, mtime_ns) of every file under a
    directory, or of the one file a path names. ``None`` for a path
    that is not local (a URI, a glob, a missing path) or a file that
    vanishes during the walk; the caller then cannot memoize."""
    if "://" in path or not os.path.exists(path):
        return None
    if os.path.isdir(path):
        files = sorted(
            (os.path.relpath(full, path), full)
            for dirpath, _, names in os.walk(path)
            for full in (os.path.join(dirpath, n) for n in names))
    else:
        files = [("", path)]
    parts = [_stat_part(name, full) for name, full in files]
    return _digest(parts) if parts and None not in parts else None
