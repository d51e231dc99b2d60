"""Session-scoped landings (operators/landing.py): the events-by-user
bucketed landing, the posting landing's layout, and the lifetime
contract — a landing is written once per session, never touches
another session's directory, and is deleted when its JVM exits."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap
import time

from franzoxide_spark.operators.dedup import LANDING_EVENTS
from franzoxide_spark.operators.landing import (
    _landing_name,
    land_events_relation,
    shared_events_relation,
)
from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup
from franzoxide_spark.tables import table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warehouse(spark) -> str:
    return str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix(
        "file:")


def test_shared_events_relation_lands_once_and_retires_the_exchange(
    spark, sf_dir
):
    """First call writes, second call session-reuses (telemetry-visible);
    the landed relation feeds q177's batch face with ZERO exchanges and
    the identical relation to the plain path — the whole point of the
    events landing."""
    ev = table(spark, sf_dir, "events")
    key = f"{sf_dir}/events#land_once"
    n0 = len(LANDING_EVENTS)
    rel1 = shared_events_relation(ev, "user_id", "ts", key, n_buckets=4)
    name = LANDING_EVENTS[n0]["table"]
    try:
        rel2 = shared_events_relation(ev, "user_id", "ts", key, n_buckets=4)
        decisions = [e["decision"] for e in LANDING_EVENTS[n0:]
                     if e["table"] == name]
        assert decisions == ["written", "session-reuse"], decisions
        # schema passes through untouched
        assert rel1.columns == ev.columns
        assert rel2.count() == ev.count()

        out_b = batch_ttl_session_dedup(rel1, "user_id", "event_type",
                                        "ts", 3600)
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        out_p = batch_ttl_session_dedup(ev, "user_id", "event_type",
                                        "ts", 3600)
        assert out_p.exceptAll(out_b).count() == 0
        assert out_b.exceptAll(out_p).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_land_events_relation_layout_and_neutrality(spark, sf_dir):
    """The landing is semantically neutral (same rows, same schema) and
    writes one file per bucket."""
    ev = table(spark, sf_dir, "events")
    try:
        rel = land_events_relation(ev, "user_id", "ts",
                                   "ev_layout_test", n_buckets=4)
        assert rel.columns == ev.columns
        assert rel.exceptAll(ev).count() == 0
        assert ev.exceptAll(rel).count() == 0
        files = glob.glob(
            os.path.join(_warehouse(spark), "ev_layout_test", "*.parquet"))
        assert len(files) == 4, files
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_layout_test")


# --------------------------------------------------------------------------
# r16 registry routing: landed-vs-ad-hoc row identity, pinned per query
# --------------------------------------------------------------------------
import pytest

from franzoxide_spark.queries import QUERIES, load_all


def _routed_names():
    load_all()
    from tests.test_plans import EVENTS_FAMILY_ROUTED

    return EVENTS_FAMILY_ROUTED


@pytest.mark.parametrize("name", _routed_names())
def test_events_family_landed_path_is_row_identical(
    name, spark, sf_dir, monkeypatch
):
    """The landing is a physical-plan change only: every routed
    events-family query returns the exact same rows through the bucketed
    landing (default) as through the plain parquet scan
    (SPARK_GRAFT_EVENTS_LANDING=0) — the per-query identity pin the r16
    routing's done-criterion names."""
    load_all()
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "0")
    plain = QUERIES[name](spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "1")
    landed = QUERIES[name](spark, sf_dir)
    assert landed.columns == plain.columns, name
    assert landed.exceptAll(plain).count() == 0, name
    assert plain.exceptAll(landed).count() == 0, name


_RETRIEVAL_ROUTED = ("q137_bm25_topk", "q157_hybrid_rrf")


@pytest.mark.parametrize("name", _RETRIEVAL_ROUTED)
def test_retrieval_landed_path_is_row_identical(
    name, spark, sf_dir, monkeypatch
):
    """r16 retrieval landing (verdict item #4): q137/q157 through the
    term-bucketed posting landing (df baked in) return exactly the rows
    of the ad-hoc posting build."""
    load_all()
    monkeypatch.setenv("SPARK_GRAFT_RETRIEVAL_LANDING", "0")
    plain = QUERIES[name](spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_RETRIEVAL_LANDING", "1")
    landed = QUERIES[name](spark, sf_dir)
    assert landed.columns == plain.columns, name
    assert landed.exceptAll(plain).count() == 0, name
    assert plain.exceptAll(landed).count() == 0, name


def test_shared_posting_relation_lands_once_with_index_metadata(
    spark, sf_dir,
):
    """Third family on _shared_landing (r16): first call writes the
    term-bucketed posting table with df AND corpus stats baked in,
    second call session-reuses; the catalog records the term bucket/sort
    layout and the baked columns equal what the ad-hoc build + stats
    pass would compute."""
    import pyspark.sql.functions as F

    from franzoxide_spark.operators.retrieval import shared_posting_relation
    from franzoxide_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    key = f"{sf_dir}/documents#posting_land_once"
    n0 = len(LANDING_EVENTS)
    rel1 = shared_posting_relation(docs, "doc_id", "text", key, n_buckets=4)
    name = LANDING_EVENTS[n0]["table"]
    try:
        rel2 = shared_posting_relation(docs, "doc_id", "text", key,
                                       n_buckets=4)
        decisions = [e["decision"] for e in LANDING_EVENTS[n0:]
                     if e["table"] == name]
        assert decisions == ["written", "session-reuse"], decisions
        assert set(rel1.columns) == {
            "doc_id", "term", "tf", "dl", "df", "n_docs", "avgdl"}
        # the catalog records the term bucket/sort layout
        layout = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        }
        assert layout["Num Buckets"] == "4", layout
        assert layout["Bucket Columns"] == "[`term`]", layout
        assert layout["Sort Columns"] == "[`term`]", layout
        # baked df: rows per term == document frequency
        bad_df = (
            rel1.groupBy("term", "df").agg(F.count("*").alias("n"))
            .filter(F.col("n") != F.col("df")).count()
        )
        assert bad_df == 0
        # baked stats equal the live stats pass (constant on every row)
        live = docs.select(
            F.count("*").alias("n_docs"),
            F.avg(F.when(tokens("text").isNotNull(),
                         F.size(tokens("text")))).alias("avgdl"),
        ).first()
        baked = rel2.select("n_docs", "avgdl").distinct().collect()
        assert len(baked) == 1
        assert baked[0]["n_docs"] == live["n_docs"]
        assert abs(baked[0]["avgdl"] - live["avgdl"]) < 1e-9
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_landing_is_deleted_when_its_session_exits(tmp_path, sf_dir):
    """The lifetime contract: a child process lands an events relation
    into its own warehouse and exits without dropping the table; the
    landing directory must then be gone — deleteOnExit ran in the
    child's JVM shutdown."""
    warehouse = tmp_path / "warehouse"
    child = textwrap.dedent(f"""
        from franzoxide_spark.operators.dedup import LANDING_EVENTS
        from franzoxide_spark.operators.landing import shared_events_relation
        from franzoxide_spark.session import get_spark
        from franzoxide_spark.tables import table

        spark = get_spark(
            app_name="landing_lifetime_child", master="local[1]",
            driver_memory="1g",
            extra_conf={{"spark.sql.warehouse.dir": {str(warehouse)!r}}},
        )
        ev = table(spark, {sf_dir!r}, "events")
        shared_events_relation(ev, "user_id", "ts", "lifetime", n_buckets=2)
        print("LANDED", LANDING_EVENTS[-1]["table"], flush=True)
    """)
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (line,) = [ln for ln in out.stdout.splitlines()
               if ln.startswith("LANDED ")]
    land_dir = warehouse / line.split()[1]
    deadline = time.monotonic() + 30
    while land_dir.exists() and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not land_dir.exists(), f"{land_dir} outlived its session"


def test_landing_ignores_other_sessions_directories(spark, sf_dir):
    """Directories at another session's landing name, or at the
    pre-session-scoped deterministic name (no applicationId in the
    digest), neither block this session's landing nor get touched."""
    ident = ("events", f"{sf_dir}/events#foreign", "user_id", "ts", 2)
    wh = _warehouse(spark)
    foreign = [
        os.path.join(wh, _landing_name("events_rel_",
                                       ("local-1000000000000",) + ident)),
        os.path.join(wh, _landing_name("events_rel_", ident)),
    ]
    planted = []
    for d in foreign:
        os.makedirs(d, exist_ok=True)
        part = os.path.join(d, "part-00000-foreign.parquet")
        with open(part, "wb") as f:
            f.write(b"another session's bytes")
        old = time.time() - 7200
        os.utime(part, (old, old))
        planted.append(part)
    n0 = len(LANDING_EVENTS)
    ev = table(spark, sf_dir, "events")
    try:
        rel = shared_events_relation(ev, ident[2], ident[3], ident[1],
                                     n_buckets=2)
        (event,) = LANDING_EVENTS[n0:]
        assert event["decision"] == "written", event
        assert os.path.join(wh, event["table"]) not in foreign
        assert rel.count() == ev.count()
        for d, part in zip(foreign, planted):
            assert sorted(os.listdir(d)) == [os.path.basename(part)], d
            with open(part, "rb") as f:
                assert f.read() == b"another session's bytes"
            assert os.path.getmtime(part) < time.time() - 3600
    finally:
        if len(LANDING_EVENTS) > n0:
            spark.sql(f"DROP TABLE IF EXISTS {LANDING_EVENTS[n0]['table']}")
        for d in foreign:
            for f in glob.glob(os.path.join(d, "*")):
                os.remove(f)
            os.rmdir(d)
