"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Parquet scans are the engine's batch source: Catalyst pushes filters and
prunes columns into the scan (verify with ``df.explain`` → ``PushedFilters``
/ ``ReadSchema``), so query functions read via this module and rely on
pushdown rather than pre-filtering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H dims
# grow slowly or not at all): always broadcast these in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# DataFrame catalog cache: re-reading the same parquet path re-lists files
# and re-reads footers on the driver (~100-200 ms per table). A catalog
# caches that metadata; keyed by session so a new SparkSession re-resolves.
# Keyed on applicationId, NOT id(spark): a GC'd-then-reallocated session
# object can reuse the same id() and would alias a stale entry (and stale
# DataFrames bound to a stopped SparkContext raise on use).
_CATALOG: dict[tuple[str, str, str], DataFrame] = {}

# Correctness-critical runtime confs, re-asserted per session: query
# callables may be invoked with a session the caller built (e.g. the
# driver's own vanilla SparkSession), where missing values would crash the
# events scan (legacy nanos-timestamp fixtures) or drift timestamp
# rendering vs the oracle. All three are runtime-settable SQLConfs.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}
_CONFED_SESSIONS: set[str] = set()


def _session_key(spark: SparkSession) -> str:
    """Stable identity for a live session: the Spark applicationId.

    ``id(spark)`` is unsafe as a cache key — CPython reuses addresses after
    GC, so a new session could silently hit a dead session's entries and
    skip the correctness-critical conf re-assertion (nanosAsLong, UTC).
    applicationId is unique per SparkContext lifetime.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # Spark Connect or stopped context: degrade per-object
        return f"py-id-{id(spark)}"
    # applicationId alone conflates spark.newSession() children with their
    # parent (same SparkContext, FRESH SQLConf) — the conf assertion would
    # be skipped for the child and nanosAsLong/UTC silently unset (r13
    # review). The py4j target id names the JVM SparkSession object
    # (monotonic per gateway, never reused while live).
    try:
        return f"{app}/{spark._jsparkSession._target_id}"
    except Exception:
        return app


def ensure_session_confs(spark: SparkSession) -> None:
    key = _session_key(spark)
    if key in _CONFED_SESSIONS:
        return
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/locked conf on some deployment: leave as-is
    _CONFED_SESSIONS.add(key)
    # A new application means every older application's cached entries are
    # dead (their DataFrames point at a stopped context) — drop them so the
    # caches cannot grow across sequential sessions in one process.
    for stale in [k for k in _CONFED_SESSIONS if k != key]:
        _CONFED_SESSIONS.discard(stale)
    for ck in [ck for ck in _CATALOG if ck[0] != key]:
        _CATALOG.pop(ck, None)
    for ck in [ck for ck in _FANOUT if ck[0] != key]:
        _FANOUT.pop(ck, None)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    key = (_session_key(spark), sf_dir, name)
    cached = _CATALOG.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Fixture generations differ: older events.parquet stored ts as
        # TIMESTAMP(NANOS), which Spark (under nanosAsLong, session.py)
        # reads as a bigint of nanoseconds — truncate to micros, matching
        # DuckDB's ns -> TIMESTAMP cast. Newer fixtures store
        # TIMESTAMP(MICROS), which Spark reads as timestamp/timestamp_ntz
        # directly — pass through. Guard on the read dtype so both work.
        from pyspark.sql import functions as F

        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # Downstream consumers (unix_millis, time windows, watermarks)
            # require TIMESTAMP (ltz) — the type the nanos path also yields.
            # Session tz is UTC (ensure_session_confs), so this cast is
            # value-preserving: the NTZ wall clock IS the UTC instant.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _CATALOG[key] = df
    return df


# Fanned-relation cache: one materialized fan-out per (session, sf_dir,
# table), shared by every full-scan consumer in the session (same cost
# model as the bucketed landings: pay once, serve many). Purged alongside
# _CATALOG when a new application appears (ensure_session_confs).
_FANOUT: dict[tuple[str, str, str], DataFrame] = {}

# Identity-gate caps: fan out ONLY a scan that is both narrow (fewer
# input splits than half the cores — at real scale corpora arrive in
# thousands of splits and the helper must be a no-op) and small (Catalyst
# stats under this many bytes — localCheckpoint materializes the whole
# relation in the block manager, which is a fixture-shim move, never an
# at-scale one).
_FANOUT_MAX_BYTES = 256 << 20


def fanned_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture shim: :func:`table`, fanned out to the session's cores.

    The sf0.1 fixtures are ONE parquet file each (~0.6-11 MB), which
    Spark plans as ONE input split — so a full-corpus map/agg pass
    (regex ladders, tokenize, per-column profiling) runs single-threaded
    on a 32-core session. The q56 batch face proved the fix and the
    shape (queries/rows_only.py, BASELINE.md r16 'q56'): repartition to
    the cores with a LAZY ``localCheckpoint`` as the pushdown barrier —
    Catalyst otherwise pushes deterministic filters straight through a
    bare repartition back onto the 1-task scan side.

    Contract: callers must be FULL-relation consumers. The cache is an
    optimizer boundary (plans over it scan the InMemoryRelation —
    filters stay above it), so a query that filters or projects a
    sliver of the table must keep reading :func:`table` (where
    PushedFilters/ReadSchema do the work — module docstring). Two
    identity gates keep this a fixture-only move: a scan with >= cores/2
    input splits, or one whose Catalyst-stats size exceeds
    ``_FANOUT_MAX_BYTES``, is returned un-fanned (at 100 TB both gates
    trip and this function IS :func:`table`). ``SPARK_GRAFT_FANOUT=0``
    opts out entirely (the A/B lever, mirroring the landing levers).

    ``persist()`` rather than ``localCheckpoint()`` deliberately: an
    externally cleared cache (``spark.catalog.clearCache()`` — bench.py
    runs it between timed queries as inter-query hygiene) leaves a
    persisted relation RECOMPUTABLE (it just re-shuffles), where a
    cleared LocalCheckpointRDD is a permanent "checkpoint block not
    found" crash — the first fan-out cut exactly that way (45-error
    artifact, discarded). The cached-entry fast path re-registers the
    persist when ``storageLevel`` shows an external clear dropped it.
    """
    df = table(spark, sf_dir, name)
    if os.environ.get("SPARK_GRAFT_FANOUT", "1") == "0":
        return df
    key = (_session_key(spark), sf_dir, name)
    cached = _FANOUT.get(key)
    if cached is not None:
        try:
            lvl = cached.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                cached.persist()  # re-register after an external clear
        except Exception:  # noqa: BLE001 — serve the relation regardless
            pass
        return cached
    try:
        cores = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) >= max(2, cores // 2):
            return df  # natural parallelism: keep the pushdown-able scan
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if size > _FANOUT_MAX_BYTES:
            return df  # too big to pin in the block manager
        fanned = df.repartition(cores).persist()
    except Exception:  # noqa: BLE001 — the shim must never break a read
        return df
    _FANOUT[key] = fanned
    return fanned
