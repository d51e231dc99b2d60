"""Scale-slope evidence for the EVENTS and POSTING landings (r17).

The shingle landing earned its 100 TB claim with measured decades
(BASELINE.md rounds 4/6); the events landing (r16 plan #1) and the
posting landing (r16 retrieval v2) had only sf0.1 A/Bs. This script
adds the missing decades: landed-vs-ad-hoc times for family
representatives at 1x / 10x / 30x of the sf0.1 fixtures.

Replica construction (realistic growth modes):
- events: R copies with user_id shifted by 1_000_000*replica and
  event_id shifted by 10_000_000*replica — growth adds USERS (more
  per-user partitions of identical structure), which is how an event
  store grows; per-user session/funnel shape is exactly sf0.1's.
- documents: R verbatim copies with doc_id shifted by 1_000_000*replica
  — growth adds documents while q137/q157's query terms keep matching,
  so posting lists for the query terms grow R-fold (the hard direction
  for a term index).

Arms share one session; ``SPARK_GRAFT_EVENTS_LANDING`` /
``SPARK_GRAFT_RETRIEVAL_LANDING`` are read per query call, so the
landed and ad-hoc arms alternate inside the same host window. The
landing build (the per-session write) is timed separately and reported
as ``land_s`` — it amortizes over the whole family, so it is NOT added
to per-query times (same accounting as the r16 events-family A/B).

Usage: python examples/landing_slope.py [env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_SLOPE_SCALES="1,10,30", SPARK_GRAFT_BENCH_RUNS (3)]
Prints one JSON document; results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from franzoxide_spark import queries as q  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402
from franzoxide_spark.tables import table  # noqa: E402

EVENT_QUERIES = ("q79_gap_fill_ffill", "q89_rolling_time_features", "q177_ttl_session_dedup")
POSTING_QUERIES = ("q137_bm25_topk", "q157_hybrid_rrf")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_SLOPE_SCALES", "1,10,30").split(",")
]
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
WORK = os.environ.get("SPARK_GRAFT_SLOPE_DIR", "/tmp/landing_slope")


def build_replica(spark, scale: int) -> str:
    """Write the scaled events/documents replica dir; returns its path."""
    out = os.path.join(WORK, f"x{scale}")
    if scale == 1:
        return SF_DIR
    if os.path.isdir(out):
        return out
    os.makedirs(out, exist_ok=True)
    ev = table(spark, SF_DIR, "events")
    parts = [
        ev.select(
            (F.col("event_id") + F.lit(10_000_000 * r)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(1_000_000 * r)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for r in range(scale)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.coalesce(max(1, scale // 4)).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    docs = table(spark, SF_DIR, "documents")
    dparts = [
        docs.select(
            (F.col("doc_id") + F.lit(1_000_000 * r)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        for r in range(scale)
    ]
    du = dparts[0]
    for p in dparts[1:]:
        du = du.unionByName(p)
    du.coalesce(max(1, scale // 4)).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _clear(spark) -> None:
    try:
        spark.catalog.clearCache()
        for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
            rdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def time_query(spark, name: str, sf_dir: str, runs: int) -> float:
    """min-of-N with the noop sink (guide §1.4): q79-class outputs grow
    with the replica factor and overflow spark.driver.maxResultSize under
    toPandas at 10x/30x — noop computes every column of every row and
    discards it, timing the computation, not the driver transfer."""
    fn = q.QUERIES[name]
    best = float("inf")
    for _ in range(runs):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return round(best, 4)


def checksum(df) -> tuple[int, int]:
    """(row_count, order-insensitive xxhash64 sum) — the landed-vs-ad-hoc
    identity check without collecting the rows."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def main() -> None:
    q.load_all()
    spark = get_spark(app_name="landing_slope")
    report: dict = {"scales": {}, "runs": RUNS, "sf_dir": SF_DIR}
    for scale in SCALES:
        sdir = build_replica(spark, scale)
        entry: dict = {"dir": sdir}
        for family, env_key, names in (
            ("events", "SPARK_GRAFT_EVENTS_LANDING", EVENT_QUERIES),
            ("posting", "SPARK_GRAFT_RETRIEVAL_LANDING", POSTING_QUERIES),
        ):
            fam: dict = {}
            # ad-hoc arm first (no landing state touched), then landed:
            # the landing build is timed as the first landed call's
            # excess over the steady-state minimum
            os.environ[env_key] = "0"
            for n in names:
                fam.setdefault(n, {})["adhoc_s"] = time_query(
                    spark, n, sdir, RUNS
                )
            os.environ[env_key] = "1"
            t0 = time.monotonic()
            q.QUERIES[names[0]](spark, sdir).write.format("noop").mode(
                "overwrite"
            ).save()
            fam["land_first_call_s"] = round(time.monotonic() - t0, 4)
            for n in names:
                fam[n]["landed_s"] = time_query(spark, n, sdir, RUNS)
            # landed-vs-ad-hoc row identity at this scale (the q16-family
            # pin, re-asserted on the replica): compare one representative
            os.environ[env_key] = "0"
            a = checksum(q.QUERIES[names[0]](spark, sdir))
            os.environ[env_key] = "1"
            b = checksum(q.QUERIES[names[0]](spark, sdir))
            fam["rows_match"] = a == b
            entry[family] = fam
        report["scales"][f"x{scale}"] = entry
        _clear(spark)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
