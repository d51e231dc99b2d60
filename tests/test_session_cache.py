"""session_cache: values live as long as the Spark application that
built them.

Unit tests on fake sessions pin the registry rules (a new application
drops every old entry, callers' keys coexist within one application, a
missing key reads as ``None``) and the per-JVM-session keys of the
table catalog. A subprocess pins the lifetime claim on real Spark: a
stopped application's persisted IVF index holds no storage in the next
application, so dropping its entry without ``unpersist`` releases
nothing that was still held."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

from franzoxide_spark import session_cache, tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _FakeSession:
    """Duck-typed SparkSession: an application id, a JVM session id, a
    conf that records sets, and a reader that counts parquet reads."""

    def __init__(self, app_id, target_id="o1"):
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self._jsparkSession = SimpleNamespace(_target_id=target_id)
        self.conf_sets = []
        self.conf = SimpleNamespace(
            set=lambda k, v: self.conf_sets.append((k, v)))
        self.reads = []
        self.read = SimpleNamespace(parquet=self._parquet)

    def _parquet(self, path):
        self.reads.append(path)
        return object()


def test_new_application_drops_every_old_entry(empty_session_cache):
    old, new = _FakeSession("app-1"), _FakeSession("app-2")
    session_cache.put(old, ("a", 1), "x")
    session_cache.put(old, ("b",), "y")
    assert session_cache.get(new, ("a", 1)) is None
    assert session_cache.get(new, ("b",)) is None
    # dropped, not hidden: the old id starts from empty too
    assert session_cache.get(old, ("a", 1)) is None
    assert session_cache.get(old, ("b",)) is None


def test_callers_keys_coexist_within_one_application(empty_session_cache):
    s, sibling = _FakeSession("app-1", "o1"), _FakeSession("app-1", "o2")
    keys = [("tables.table", "o1", "/sf", "orders"),
            ("landing.relation", "events"),
            ("similarity.ivf", "k", 16, 42)]
    for i, key in enumerate(keys):
        session_cache.put((s, sibling)[i % 2], key, i)
    for i, key in enumerate(keys):
        assert session_cache.get(s, key) == i
        assert session_cache.get(sibling, key) == i


def test_get_of_missing_key_is_none(empty_session_cache):
    s = _FakeSession("app-1")
    assert session_cache.get(s, ("never", "put")) is None
    session_cache.put(s, ("falsy",), set())
    assert session_cache.get(s, ("falsy",)) == set()


def test_sibling_sessions_keep_their_own_entries(empty_session_cache):
    """``spark`` and ``spark.newSession()`` share one application but not
    one SQLConf. Called alternately, each JVM session gets the confs set
    once and reads each table once; neither drops the other's entries."""
    a, b = _FakeSession("app-1", "o1"), _FakeSession("app-1", "o2")
    first = {}
    for _ in range(3):
        for s in (a, b):
            df = tables.table(s, "/sf", "orders")
            assert first.setdefault(id(s), df) is df
    for s in (a, b):
        assert s.conf_sets == list(tables._REQUIRED_CONFS.items())
        assert s.reads == ["/sf/orders.parquet"]


def test_stale_ivf_index_holds_no_storage(tmp_path, sf_dir):
    """Application A builds and persists an IVF index under a cache key,
    then stops. Application B, in the same process, finds no persisted
    RDD, no cached entry of A's, and builds a new persisted index for the
    same key."""
    child = textwrap.dedent(f"""
        from franzoxide_spark import session_cache
        from franzoxide_spark.operators.similarity import build_ivf_index
        from franzoxide_spark.session import get_spark
        from franzoxide_spark.tables import table

        KEY = ("similarity.ivf", "lifetime", 4, 42)

        def start(name):
            return get_spark(app_name=name, master="local[1]",
                             driver_memory="1g")

        def build(spark):
            emb = table(spark, {sf_dir!r}, "embeddings")
            _, assigned = build_ivf_index(
                emb, "vec_id", "embedding", n_lists=4, cache_key="lifetime")
            assigned.count()  # materialize the persist
            return assigned

        a = start("cache_lifetime_a")
        assigned_a = build(a)
        assert session_cache.get(a, KEY)[1] is assigned_a
        print("A_PERSISTENT", len(a.sparkContext._jsc.getPersistentRDDs()))
        app_a = a.sparkContext.applicationId
        a.stop()

        b = start("cache_lifetime_b")
        assert b.sparkContext.applicationId != app_a
        print("B_PERSISTENT", len(b.sparkContext._jsc.getPersistentRDDs()))
        print("B_STALE_ENTRY", session_cache.get(b, KEY) is not None)
        assigned_b = build(b)
        lvl = assigned_b.storageLevel
        print("B_REBUILT", assigned_b is not assigned_a,
              lvl.useMemory or lvl.useDisk,
              len(b.sparkContext._jsc.getPersistentRDDs()))
        b.stop()
    """)
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(ln.split(" ", 1) for ln in out.stdout.splitlines()
                 if ln.startswith(("A_", "B_")))
    assert lines["A_PERSISTENT"] == "1", out.stdout
    assert lines["B_PERSISTENT"] == "0", out.stdout
    assert lines["B_STALE_ENTRY"] == "False", out.stdout
    assert lines["B_REBUILT"] == "True True 1", out.stdout
