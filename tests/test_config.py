"""Config-parse goldens (ported from the reference's config round-trip
tests, config.rs:104-169) + registry dispatch errors + Kafka option
mapping (kafka.rs:459-474 semantics, testable without a broker)."""

from __future__ import annotations

import json

import pytest

from franzoxide_spark.config import ConnectorConfig, KafkaConfig, load_config, parse_config
from franzoxide_spark.errors import ConfigError
from franzoxide_spark.sources.kafka import kafka_reader_options

REFERENCE_SHAPED = {
    "tcp_address": "0.0.0.0:50051",
    "unix_socket_path": "/tmp/rust-connect.sock",
    "kafka": {
        "bootstrap_servers": ["kafka:9092"],
        "group_id": "rust-connect",
        "properties": {"auto.offset.reset": "earliest"},
    },
    "connectors": [
        {
            "name": "s3-sink",
            "connector_class": "io.rustconnect.S3SinkConnector",
            "connector_type": "sink",
            "tasks_max": 2,
            "topics": ["test-topic"],
            "config": {
                "s3.bucket.name": "kafka-connect-bucket",
                "format.class": "json",
                "partitioner.class": "default",
                "flush.size": "100",
            },
        }
    ],
}


def test_parse_reference_config_shape(tmp_path):
    p = tmp_path / "connect.json"
    p.write_text(json.dumps(REFERENCE_SHAPED))
    cfg = load_config(str(p))
    assert cfg.tcp_address == "0.0.0.0:50051"
    assert cfg.kafka.bootstrap_servers == ["kafka:9092"]
    snk = cfg.connector("s3-sink")
    assert snk.connector_type == "sink"
    assert snk.tasks_max == 2
    assert snk.config["flush.size"] == "100"
    with pytest.raises(ConfigError):
        cfg.connector("nope")


def test_bad_connector_type_rejected():
    with pytest.raises(ConfigError):
        parse_config(
            {
                "connectors": [
                    {
                        "name": "x",
                        "connector_class": "kafka",
                        "connector_type": "banana",
                    }
                ]
            }
        )


def test_missing_file_wrapped():
    with pytest.raises(ConfigError, match="failed to load config"):
        load_config("/nonexistent/connect.json")


def test_kafka_sink_options_and_gating(spark):
    from franzoxide_spark.errors import SinkError
    from franzoxide_spark.sinks.kafka_sink import (
        kafka_writer_options,
        start_kafka_sink,
    )

    kcfg = KafkaConfig(bootstrap_servers=["b:9092"], properties={"acks": "all"})
    conn = ConnectorConfig(
        name="out",
        connector_class="kafka",
        connector_type="sink",
        topics=["t-out"],
        config={"kafka.linger.ms": "5"},
    )
    opts = kafka_writer_options(kcfg, conn)
    assert opts["topic"] == "t-out"
    assert opts["kafka.acks"] == "all"
    assert opts["kafka.linger.ms"] == "5"
    with pytest.raises(SinkError, match="spark-sql-kafka"):
        start_kafka_sink(spark.range(1).selectExpr("cast(null as binary) key", "cast(null as binary) value"), kcfg, conn, "/tmp/x")
    with pytest.raises(ConfigError, match="needs a topic"):
        kafka_writer_options(kcfg, ConnectorConfig("x", "kafka", "sink"))


def test_kafka_option_passthrough():
    kcfg = KafkaConfig(
        bootstrap_servers=["a:9092", "b:9092"],
        group_id="g1",
        properties={"auto.offset.reset": "earliest", "security.protocol": "SSL"},
    )
    conn = ConnectorConfig(
        name="src",
        connector_class="kafka",
        connector_type="source",
        topics=["t1", "t2"],
        config={
            "batch.size": "100",
            "kafka.fetch.min.bytes": "1024",
            "unrelated.key": "ignored",
        },
    )
    opts = kafka_reader_options(kcfg, conn)
    assert opts["kafka.bootstrap.servers"] == "a:9092,b:9092"
    assert opts["subscribe"] == "t1,t2"
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.auto.offset.reset"] == "earliest"
    assert opts["kafka.security.protocol"] == "SSL"
    assert opts["kafka.fetch.min.bytes"] == "1024"
    assert opts["maxOffsetsPerTrigger"] == "100"
    assert "unrelated.key" not in opts


def test_sink_flush_size_folds_into_source_batch(spark):
    """A reference-style config that bounds batches only via the SINK's
    flush.size must still get bounded micro-batches: the manager folds it
    into the source's batch.size (-> maxOffsetsPerTrigger) when the source
    doesn't set one."""
    from franzoxide_spark.manager import ConnectorManager
    from franzoxide_spark.sources.kafka import kafka_reader_options

    src = ConnectorConfig("s", "kafka", "source", topics=["t"], config={})
    snk = ConnectorConfig(
        "k", "object", "sink", topics=["t"],
        config={"path.base": "/tmp/x", "flush.size": "250"},
    )
    folded = ConnectorManager._fold_flush_size(src, snk)
    opts = kafka_reader_options(KafkaConfig(bootstrap_servers=["b:9092"]), folded)
    assert opts["maxOffsetsPerTrigger"] == "250"

    # explicit source batch.size wins over the sink's flush.size
    src2 = ConnectorConfig(
        "s2", "kafka", "source", topics=["t"], config={"batch.size": "100"}
    )
    folded2 = ConnectorManager._fold_flush_size(src2, snk)
    assert folded2.config["batch.size"] == "100"
    assert folded2 is src2  # untouched, no copy


def test_bytes_format_path_schemes(spark):
    """format.class=bytes supports local, file://, and s3a/s3 targets (the
    PUT path mirrors the reference's upload_to_s3); any other scheme would
    silently become a local directory, so it must still fail fast."""
    from franzoxide_spark.sinks.object_sink import ObjectSink

    s3a = ConnectorConfig(
        "b", "object", "sink", topics=["t"],
        config={"s3.bucket.name": "bkt", "format.class": "bytes"},
    )
    assert ObjectSink(spark, s3a, "/tmp/ckpt").path == "s3a://bkt/data"

    bad = ConnectorConfig(
        "b", "object", "sink", topics=["t"],
        config={"path.base": "ftp://host/dir", "format.class": "bytes"},
    )
    with pytest.raises(ConfigError, match="bytes"):
        ObjectSink(spark, bad, "/tmp/ckpt")


def test_bytes_put_object_routes_to_s3_client(monkeypatch):
    """The s3a:// branch of the bytes writer PUTs whole objects through a
    boto3-shaped client built from the connector's s3.* keys."""
    from franzoxide_spark.sinks import object_sink

    puts = []

    class _Client:
        def put_object(self, Bucket, Key, Body):
            puts.append((Bucket, Key, bytes(Body)))

    monkeypatch.setattr(
        "franzoxide_spark.sinks.bucket.build_client", lambda cfg: _Client()
    )
    object_sink._S3_CLIENTS.clear()
    cfg = {"s3.bucket.name": "bkt", "s3.access.key": "k", "s3.secret.key": "s"}
    object_sink._put_object("s3a://bkt/data", "events/0_7.bin", b"abc", cfg)
    object_sink._put_object("s3a://bkt/data", "events/1_9.bin", b"xyz", cfg)
    assert puts == [
        ("bkt", "data/events/0_7.bin", b"abc"),
        ("bkt", "data/events/1_9.bin", b"xyz"),
    ]
    assert len(object_sink._S3_CLIENTS) == 1  # client reused per config
    object_sink._S3_CLIENTS.clear()


class _FakeS3Error(RuntimeError):
    """botocore.ClientError-shaped: carries a .response error code."""

    def __init__(self, msg, code):
        super().__init__(msg)
        self.response = {"Error": {"Code": code}}


class _FakeS3Client:
    """Minimal boto3-shaped stub for the A21 bucket bootstrap."""

    def __init__(self, existing=(), create_fails=False, head_error=None):
        self.existing = set(existing)
        self.create_fails = create_fails
        self.head_error = head_error
        self.created = []

    def head_bucket(self, Bucket):
        if self.head_error is not None:
            raise self.head_error
        if Bucket not in self.existing:
            raise _FakeS3Error("404 head_bucket", "404")

    def create_bucket(self, Bucket, **kwargs):
        if self.create_fails:
            raise RuntimeError("AccessDenied")
        self.created.append((Bucket, kwargs))
        self.existing.add(Bucket)


def test_ensure_bucket_exists_and_create_paths():
    from franzoxide_spark.sinks.bucket import ensure_bucket

    cfg = {"s3.bucket.name": "bkt"}
    assert ensure_bucket(cfg, client=_FakeS3Client(existing=["bkt"])) == "exists"

    c = _FakeS3Client()
    assert ensure_bucket(cfg, client=c) == "created"
    assert c.created == [("bkt", {})]

    # non-default region must ship a LocationConstraint (reference builds
    # the client with an explicit region, s3.rs:444-456)
    c2 = _FakeS3Client()
    ensure_bucket({**cfg, "s3.region": "eu-west-1"}, client=c2)
    assert c2.created[0][1] == {
        "CreateBucketConfiguration": {"LocationConstraint": "eu-west-1"}
    }


def test_ensure_bucket_errors():
    from franzoxide_spark.errors import SinkError
    from franzoxide_spark.sinks.bucket import build_client, ensure_bucket

    with pytest.raises(ConfigError, match="s3.bucket.name"):
        ensure_bucket({}, client=_FakeS3Client())

    with pytest.raises(SinkError, match="create bucket"):
        ensure_bucket(
            {"s3.bucket.name": "bkt"}, client=_FakeS3Client(create_fails=True)
        )

    # a non-404 head failure (auth, endpoint, TLS) must surface as the
    # real reachability problem, not be masked by a doomed create attempt
    # (ADVICE r2)
    with pytest.raises(SinkError, match="not reachable.*403"):
        ensure_bucket(
            {"s3.bucket.name": "bkt"},
            client=_FakeS3Client(head_error=_FakeS3Error("forbidden 403", "403")),
        )
    with pytest.raises(SinkError, match="not reachable"):
        ensure_bucket(
            {"s3.bucket.name": "bkt"},
            client=_FakeS3Client(head_error=ConnectionError("no route")),
        )

    # no static creds and no ambient chain -> ConfigError at client build
    import boto3

    class _NoCreds:
        def get_credentials(self):
            return None

    orig = boto3.session.Session
    boto3.session.Session = lambda *a, **k: _NoCreds()
    try:
        with pytest.raises(ConfigError, match="credentials"):
            build_client({"s3.bucket.name": "bkt"})
    finally:
        boto3.session.Session = orig


class _FakeConf:
    def __init__(self):
        self.sets = []

    def set(self, k, v):
        self.sets.append((k, v))


class _FakeSC:
    def __init__(self, app_id):
        self.applicationId = app_id


class _FakeJSession:
    def __init__(self, target_id):
        self._target_id = target_id


class _FakeSession:
    """Duck-typed SparkSession standing in for two SEQUENTIAL real sessions
    (one JVM allows one SparkContext at a time, so sequential applications
    are the realistic hazard)."""

    def __init__(self, app_id, target_id="o1"):
        self.sparkContext = _FakeSC(app_id)
        self._jsparkSession = _FakeJSession(target_id)
        self.conf = _FakeConf()


def test_session_caches_keyed_on_application_id(empty_session_cache):
    """r3 VERDICT hazard 2: id(spark)-keyed caches alias when a GC'd
    session object's id() is reused — a stale hit would silently skip the
    correctness-critical conf re-assertion (nanosAsLong, UTC). A NEW
    application must (a) get the confs re-asserted and (b) not see the
    dead application's catalog entries, even when its JVM session id
    collides with the dead one's."""
    from franzoxide_spark import session_cache, tables

    s1 = _FakeSession("app-1")
    tables.ensure_session_confs(s1)
    assert dict(s1.conf.sets) == tables._REQUIRED_CONFS
    # second call on the SAME application: no re-assertion
    tables.ensure_session_confs(s1)
    assert len(s1.conf.sets) == len(tables._REQUIRED_CONFS)

    key = ("tables.table", "o1", "/sf", "orders")
    session_cache.put(s1, key, object())
    s2 = _FakeSession("app-2")  # same JVM session id as s1
    tables.ensure_session_confs(s2)
    assert dict(s2.conf.sets) == tables._REQUIRED_CONFS, (
        "new application did not get confs re-asserted"
    )
    assert session_cache.get(s2, key) is None, (
        "dead application's catalog entry was served"
    )


def test_ivf_cache_evicts_stale_applications(spark, empty_session_cache):
    """r3 VERDICT hazard 1: an IVF index built by another (stopped)
    application must never be served; the next build rebuilds. Its
    persisted blocks died with its SparkContext (pinned in a subprocess
    by test_session_cache.py::test_stale_ivf_index_holds_no_storage)."""
    from franzoxide_spark import session_cache
    from franzoxide_spark.operators.similarity import build_ivf_index

    class _Built(Exception):
        pass

    class _FakeEmb:
        def __init__(self, session):
            self.sparkSession = session

        def select(self, *cols):
            raise _Built  # the build path started: no cached hit

    old, new = _FakeSession("app-old"), _FakeSession("app-new")
    planted = (object(), object())
    session_cache.put(old, ("similarity.ivf", "k", 16, 42), planted)
    assert build_ivf_index(_FakeEmb(old), "id", "v", cache_key="k") is planted
    with pytest.raises(_Built):
        build_ivf_index(_FakeEmb(new), "id", "v", cache_key="k")
    # dropped, not just hidden: going back to the old id finds nothing
    assert session_cache.get(old, ("similarity.ivf", "k", 16, 42)) is None
