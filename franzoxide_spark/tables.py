"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Parquet scans are the engine's batch source: Catalyst pushes filters and
prunes columns into the scan (verify with ``df.explain`` → ``PushedFilters``
/ ``ReadSchema``), so query functions read via this module and rely on
pushdown rather than pre-filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from franzoxide_spark import session_cache

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


# Correctness-critical runtime confs, asserted once per JVM session:
# query callables may be invoked with a session the caller built (e.g. the
# driver's own vanilla SparkSession), where missing values would crash the
# events scan (legacy nanos-timestamp fixtures) or drift timestamp
# rendering vs the oracle. All three are runtime-settable SQLConfs.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}


def _jvm_session(spark: SparkSession) -> str:
    """The py4j id of the JVM SparkSession. ``spark.newSession()``
    children share their parent's application but get a FRESH SQLConf,
    so conf and catalog entries are kept per JVM session (the ids are
    monotonic per gateway, never reused while live)."""
    return spark._jsparkSession._target_id


def ensure_session_confs(spark: SparkSession) -> None:
    key = ("tables.confs", _jvm_session(spark))
    if session_cache.get(spark, key):
        return
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/locked conf on some deployment: leave as-is
    session_cache.put(spark, key, True)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    # Catalog entry: re-reading a parquet path re-lists files and re-reads
    # footers on the driver (~100-200 ms per table). It lives for the
    # application, see session_cache.
    key = ("tables.table", _jvm_session(spark), sf_dir, name)
    cached = session_cache.get(spark, key)
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
    session_cache.put(spark, key, df)
    return df


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
    trip and this function IS :func:`table`). One fanned relation per
    (JVM session, sf_dir, table) serves every full-scan consumer: pay
    once, serve many. It lives for the application, see session_cache.

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
    key = ("tables.fanout", _jvm_session(spark), sf_dir, name)
    cached = session_cache.get(spark, key)
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
    session_cache.put(spark, key, fanned)
    return fanned
