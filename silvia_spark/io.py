"""Table loading — the engine's scan layer.

All contract queries load inputs through ``load_table`` so the events
TIMESTAMP(NANOS) hazard (SURVEY.md §1.2) is fixed in exactly one place:
ts is read as LongType nanoseconds (``nanosAsLong`` conf, set in
session.configure_session) and rebuilt with ``timestamp_micros(ts div 1000)``
— integer ``div``, never float division, which was observed off-by-1 µs vs
the DuckDB oracle.

Scale posture: plain ``spark.read.parquet`` keeps the vectorized reader and
lets Catalyst push filters/projections into the scan; the loader adds no
caching or repartitioning — operators decide their own partitioning.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.schemas import EVENTS, EVENTS_RAW, TABLE_SCHEMAS
from silvia_spark.session import configure_session

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def local_path(path: str) -> str:
    """Normalize a local-filesystem table URI for ``os.*`` calls: strip a
    ``file:`` scheme in ANY of its spellings — Hadoop renders local URIs
    as ``file:/x``, Spark and users write ``file:///x``, and RFC 8089
    allows ``file://host/x`` (a host part has no local meaning here; the
    remainder is treated as a path). All collapse to ``/x``. Trailing
    slashes are dropped. The single shared helper for merge_keyed and
    the manifest-table layer — scheme edge cases get fixed in one
    place."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        if rest.startswith("//"):
            # file://<authority>/path — drop the authority segment
            # (empty for file:///x; a non-empty host is ignored)
            rest = rest[2:]
            slash = rest.find("/")
            rest = rest[slash:] if slash >= 0 else ""
        if not rest.startswith("/"):
            # file:relative/p or file://host-with-no-path: silently
            # rewriting these to an absolute path would point os.* at a
            # DIFFERENT location than Spark resolved — fail loudly
            raise ValueError(
                f"unsupported file: URI (no absolute path): {path!r}")
        path = "/" + rest.lstrip("/")
    return path.rstrip("/")

# (session id, sf_dir, table) → DataFrame. A DataFrame is an immutable plan,
# so sharing the base relation across queries is safe and skips the footer
# read + relation resolution Py4J round-trips on every contract call.
_table_cache: dict[tuple[int, str, str], DataFrame] = {}


# events.ts physical layout per sf_dir: "ns" (TIMESTAMP(NANOS), the §1.2
# hazard — read as long via nanosAsLong, rebuilt with integer div) or "us"
# (plain TIMESTAMP(MICROS) — read directly, NO reconstruction; dividing a
# µs long by 1000 lands in 1970, the exact bug this sniff prevents when a
# corpus regeneration changes the layout). One footer read per sf_dir.
_events_ts_unit: dict[str, str] = {}


def _sniff_events_ts_unit(sf_dir: str) -> str:
    unit = _events_ts_unit.get(sf_dir)
    if unit is None:
        import os

        import pyarrow.parquet as pq

        path = f"{sf_dir}/events.parquet"
        if os.path.isdir(path):
            # production corpora are directories of part files; all parts
            # share one writer schema, so the first footer decides
            import pyarrow.dataset as ds

            t = ds.dataset(path, format="parquet").schema.field("ts").type
        else:
            t = pq.read_schema(path).field("ts").type
        unit = getattr(t, "unit", "us")
        _events_ts_unit[sf_dir] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table; normalizes events.ts to an exact µs
    TimestampNTZ whatever the on-disk unit (ns or µs).
    Memoized per (session, sf_dir, table)."""
    key = (id(spark), sf_dir, name)
    cached = _table_cache.get(key)
    if cached is not None:
        return cached
    configure_session(spark)
    # Explicit schema (schemas.py) instead of inference: skips the footer
    # schema merge on first touch (~100-300 ms per table per session,
    # measured in the bench's plan-compile audit) and fails fast on drift.
    if name == "events":
        schema = EVENTS_RAW if _sniff_events_ts_unit(sf_dir) == "ns" else EVENTS
    else:
        schema = TABLE_SCHEMAS.get(name)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # cast to timestamp_ntz so BOTH layouts surface the same dtype
        # (timestamp_micros yields tz-aware TimestampType; the µs branch
        # reads TimestampNTZ via the EVENTS schema). Value-preserving
        # because session timeZone is pinned UTC in configure_session.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    _table_cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


# --- bounded persist for self-join build sides -------------------------------
#
# Contracts that persist() an intermediate (LSH bucket tables, SimHash bands)
# return a DataFrame whose action runs later, driver-side — so they cannot
# unpersist in a try/finally without defeating the cache. Instead each call
# site names a slot: re-invoking the contract frees the previous invocation's
# cache first, bounding a long-lived session to ONE live cache per slot
# instead of one per run.

_LIVE_CACHES: dict[str, DataFrame] = {}
_LIVE_CACHES_LOCK = threading.Lock()


def managed_persist(df: DataFrame, slot: str) -> DataFrame:
    """persist (MEMORY_AND_DISK) with at most one live cache per slot.
    Lock-guarded: concurrent contract runs (e.g. a threaded driver) must
    not interleave the pop/insert and leak an unpersisted cache.

    When the slot already holds a cache whose analyzed plan is
    ``sameResult``-equal to the new frame's (the exact-equivalence check
    Spark's own CacheManager uses for cache substitution), the LIVE frame
    is returned instead: re-invoking the same operator in a warm session
    must hit the materialized blocks, not unpersist-and-recompute them.
    The unpersist path remains for genuinely different plans (new sf_dir,
    new threshold — anything that changes the analyzed tree)."""
    from pyspark import StorageLevel

    # The whole read-compare-replace runs under ONE lock hold: releasing
    # between the check and the pop would let a racing thread's
    # freshly-installed cache be displaced-and-leaked (popped here while
    # the local `prev` points at the already-freed older frame). The
    # sameResult/persist Py4J calls are short driver-side round-trips, so
    # holding the lock across them is cheap. A reader that grabbed the
    # previous frame just before a different-plan replacement keeps a
    # frame that was unpersisted under it — it still computes correctly
    # (plain recompute), just without the cache.
    with _LIVE_CACHES_LOCK:
        prev = _LIVE_CACHES.get(slot)
        if prev is not None:
            try:
                if (df._jdf.queryExecution().analyzed()
                        .sameResult(prev._jdf.queryExecution().analyzed())):
                    return prev
            except Exception:
                pass  # Connect session / stopped session: fall through
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        _LIVE_CACHES[slot] = out
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    return out


def clear_caches() -> None:
    """Unpersist every live slot. Call at end-of-round / end-of-session:
    without it the LAST invocation of each persisting contract pins its
    cache in executor memory for the rest of the session."""
    with _LIVE_CACHES_LOCK:
        slots = list(_LIVE_CACHES)
        dfs = [_LIVE_CACHES.pop(s) for s in slots]
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
