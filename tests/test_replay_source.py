"""Kafka-replay custom DataSource (sources/replay.py): broker-like
offset semantics without a broker — per-partition contiguous offsets, a
growing log flowing as new micro-batches, WAL checkpoint resume
mid-stream, exactly-once through the file sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from franzoxide_spark.sources.replay import (
    read_replay_stream,
    register_replay_source,
    stage_replay,
)


def test_staged_log_has_contiguous_per_partition_offsets(spark, sf_dir, tmp_path):
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8)
    df = spark.read.parquet(path)
    per = (
        df.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.countDistinct("offset").alias("nd"),
        )
        .collect()
    )
    assert len(per) == 8
    for r in per:
        # contiguous from 0: min=0, max=n-1, all distinct
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["nd"] == r["n"]


def test_staged_slices_compose_without_gaps(spark, sf_dir, tmp_path):
    """Growing the log in two slices (the producer-append simulation)
    yields byte-identical content to staging it in one shot."""
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    stage_replay(spark, sf_dir, one, n_partitions=4)
    stage_replay(spark, sf_dir, two, n_partitions=4, max_offset=60)
    stage_replay(spark, sf_dir, two, n_partitions=4, min_offset=60)
    a = spark.read.parquet(one)
    b = spark.read.parquet(two)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_batch_read_matches_staged_parquet(spark, sf_dir, tmp_path):
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=4)
    register_replay_source(spark)
    got = (
        spark.read.format("kafka_replay")
        .option("path", path)
        .load()
        .select("partition", "offset", "value")
    )
    exp = spark.read.parquet(path).select("partition", "offset", "value")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # one Spark input partition per Kafka partition
    assert got.rdd.getNumPartitions() == 4


def test_stream_follows_log_growth_without_duplicates(spark, sf_dir, tmp_path):
    """Appends to the staged log flow as NEW micro-batches (latestOffset
    re-scans the log end), and nothing is read twice."""
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8, max_offset=60)
    stream = read_replay_stream(spark, path)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("replay_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM replay_out").count()
        # producer appends the rest of the log mid-stream
        stage_replay(spark, sf_dir, path, n_partitions=8, min_offset=60)
        q.processAllAvailable()
    finally:
        q.stop()
    total = spark.read.parquet(path).count()
    out = spark.sql("SELECT partition, offset FROM replay_out")
    assert 0 < n_first < total, "first drain should cover only slice one"
    assert out.count() == total
    assert out.distinct().count() == total  # no duplicates
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_checkpoint_resume_lands_mid_stream_exactly_once(spark, sf_dir, tmp_path):
    """Run 1 drains slice one and stops; the producer appends slice two;
    run 2 restarts from the SAME checkpoint into a parquet file sink
    (metadata-log commits = idempotent): the final output is the whole
    log EXACTLY once, and run 2 read ONLY the appended slice — the
    offset-WAL resume a plain file stream cannot express."""
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8, max_offset=60)
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "out")

    def start():
        return (
            read_replay_stream(spark, path)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(out).count()
    stage_replay(spark, sf_dir, path, n_partitions=8, min_offset=60)
    total = spark.read.parquet(path).count()
    assert 0 < n_first < total

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    final = spark.read.parquet(out).select("partition", "offset")
    assert final.count() == total  # no loss
    assert final.distinct().count() == total  # no duplicates: exactly-once
    # run 2 read only the appended slice, not the whole log again
    run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    assert run2_rows == total - n_first


def test_connector_pipeline_through_replay_source(spark, sf_dir, tmp_path):
    """connector_class: kafka_replay drives the FULL A5-A13 pipeline
    (manager -> source registry -> envelope sink) through real offset
    semantics — the config-swap compatibility the source exists for."""
    import glob
    import json
    import os

    from franzoxide_spark.config import parse_config
    from franzoxide_spark.manager import ConnectorManager

    log = str(tmp_path / "log")
    stage_replay(spark, sf_dir, log, n_partitions=4)
    total = spark.read.parquet(log).count()
    out = str(tmp_path / "out")
    cfg = parse_config(
        {
            "kafka": {"bootstrap_servers": [], "group_id": "t"},
            "connectors": [
                {
                    "name": "replay-source",
                    "connector_class": "kafka_replay",
                    "connector_type": "source",
                    "topics": ["events"],
                    "config": {"path": log},
                },
                {
                    "name": "json-sink",
                    "connector_class": "io.rustconnect.S3SinkConnector",
                    "connector_type": "sink",
                    "topics": ["events"],
                    "config": {
                        "path.base": out,
                        "s3.prefix": "data",
                        "format.class": "json",
                        "partitioner.class": "default",
                    },
                },
            ],
        }
    )
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    lines = []
    for fp in glob.glob(
        os.path.join(out, "data", "topic=events", "partition=*", "*.txt")
    ):
        lines += [ln for ln in open(fp).read().splitlines() if ln]
    assert len(lines) == total
    env = json.loads(lines[0])
    assert env["topic"] == "events"
    assert "offset" in env and "headers" in env


def test_stream_starts_against_empty_log(spark, tmp_path):
    """A real Kafka consumer streams an empty topic fine and picks up
    data as it arrives; the replay source must do the same instead of
    failing initialOffset on a missing/empty staging dir (r13 review)."""
    from franzoxide_spark.sources.replay import _LogIndex

    missing = _LogIndex(str(tmp_path / "not_created_yet"))
    assert missing.refresh() == {}
    assert missing.plan({}, {}, 2) == []
    empty = tmp_path / "empty_log"
    empty.mkdir()
    (empty / "_SUCCESS").touch()  # not a data file to pyarrow's discovery
    assert _LogIndex(str(empty)).refresh() == {}


def test_batch_face_of_empty_log_reads_no_rows(spark, tmp_path):
    register_replay_source(spark)
    for path in (tmp_path / "not_created_yet", tmp_path / "empty_log"):
        if path.name == "empty_log":
            path.mkdir()
        df = spark.read.format("kafka_replay").option("path", str(path)).load()
        assert df.count() == 0


# -- the planner and the file index, on pyarrow-written logs (no Spark) -----

def _append_files(path, n_files, parts=8, first=0, next_offset=None):
    """Append ``n_files`` KafkaRecord parquet files to ``path``, records
    assigned to partitions round-robin with contiguous per-partition
    offsets, 5-40 rows per file; returns the per-partition next offsets."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    nxt = list(next_offset or [0] * parts)
    for i in range(first, first + n_files):
        n = 5 + (i * 7) % 36
        rows = {c: [] for c in ("partition", "offset", "value")}
        for k in range(n):
            p = (i + k) % parts
            rows["partition"].append(p)
            rows["offset"].append(nxt[p])
            rows["value"].append(f"{p}:{nxt[p]}".encode())
            nxt[p] += 1
        tbl = pa.table(
            {
                "topic": ["t"] * n,
                "partition": pa.array(rows["partition"], pa.int32()),
                "offset": pa.array(rows["offset"], pa.int64()),
                "timestamp": pa.array([0] * n, pa.int64()),
                "key": pa.array([b""] * n, pa.binary()),
                "value": pa.array(rows["value"], pa.binary()),
                "headers_json": ["{}"] * n,
            }
        )
        tmp = os.path.join(path, f".part-{i:05d}.parquet")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(path, f"part-{i:05d}.parquet"))
    return nxt


def _file_rows(path):
    """{file: {(partition, offset)}} read straight from the files."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = {}
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        t = pq.read_table(f, columns=["partition", "offset"])
        out[f] = set(zip(t["partition"].to_pylist(), t["offset"].to_pylist()))
    return out


def _read_rows(tasks):
    from franzoxide_spark.sources.replay import _read_task

    got = []
    for task in tasks:
        for b in _read_task(task):
            got += zip(
                b["partition"].to_pylist(),
                b["offset"].to_pylist(),
                b["value"].to_pylist(),
            )
    return got


def test_plan_caps_tasks_and_balances_rows(tmp_path):
    from franzoxide_spark.sources.replay import _LogIndex

    path = str(tmp_path / "log")
    _append_files(path, 24)
    index = _LogIndex(path)
    end = index.refresh()
    assert len(end) == 8
    # ranges of different sizes: partition p starts 7*p offsets in
    start = {p: 7 * int(p) for p in end}
    sizes = {int(p): e - start[p] for p, e in end.items()}
    for cap in (1, 2, 3, 5, 8, 20, None):
        tasks = index.plan(start, end, cap)
        assert len(tasks) == min(8, cap or 8)
        ranges = [r for t in tasks for r in t.ranges]
        assert sorted(r.partition for r in ranges) == list(range(8))
        assert all(r.end - r.start == sizes[r.partition] for r in ranges)
        rows = [sum(r.end - r.start for r in t.ranges) for t in tasks]
        assert max(rows) - min(rows) <= max(sizes.values())
    # fully drained partitions plan no range
    assert index.plan(end, end, 2) == []
    assert len(index.plan({**end, "3": 0}, end, 4)) == 1


def test_plan_files_are_exactly_those_holding_offsets(tmp_path):
    from franzoxide_spark.sources.replay import _LogIndex

    path = str(tmp_path / "log")
    _append_files(path, 24)
    index = _LogIndex(path)
    end = index.refresh()
    held = _file_rows(path)
    for start in (
        {p: 0 for p in end},
        {p: e - 3 for p, e in end.items()},
        {p: e // 2 for p, e in end.items()},
    ):
        for task in index.plan(start, end, 2):
            for r in task.ranges:
                want = sorted(
                    f for f, rows in held.items()
                    if any((r.partition, o) in rows for o in range(r.start, r.end))
                )
                assert r.files == want
    # the tail of each partition sits in the last files, not all 24
    tail = index.plan({p: e - 3 for p, e in end.items()}, end, 2)
    assert all(len(r.files) < 4 for t in tail for r in t.ranges)


def test_end_offsets_keep_one_key_order(tmp_path):
    """Spark compares offsets by their JSON: a key order that changed on
    an unchanged log would start a micro-batch with no new rows."""
    from franzoxide_spark.sources.replay import _LogIndex

    path = str(tmp_path / "log")
    _append_files(path, 24)
    for _ in range(30):
        assert list(_LogIndex(path).refresh()) == [str(p) for p in range(8)]


def test_read_tasks_equal_filtered_whole_log(tmp_path):
    import pyarrow.parquet as pq

    from franzoxide_spark.sources.replay import _LogIndex

    path = str(tmp_path / "log")
    _append_files(path, 24)
    index = _LogIndex(path)
    end = index.refresh()
    start = {p: 5 * int(p) for p in end}
    whole = pq.read_table(path, columns=["partition", "offset", "value"])
    want = sorted(
        (p, o, v)
        for p, o, v in zip(
            whole["partition"].to_pylist(),
            whole["offset"].to_pylist(),
            whole["value"].to_pylist(),
        )
        if o >= start[str(p)]
    )
    for cap in (1, 2, 8):
        assert sorted(_read_rows(index.plan(start, end, cap))) == want


def test_read_yields_only_nonempty_batches(tmp_path):
    from franzoxide_spark.sources.replay import _LogIndex, _read_task

    path = str(tmp_path / "log")
    _append_files(path, 24)
    index = _LogIndex(path)
    end = index.refresh()
    # the last 2 offsets of partition 0 are in the last file(s) only
    (task,) = index.plan({"0": end["0"] - 2}, {"0": end["0"]}, 2)
    batches = list(_read_task(task))
    assert sum(b.num_rows for b in batches) == 2
    assert len(batches) == len(task.ranges[0].files)
    # a whole-log read: one batch per file, none empty
    for task in index.plan({}, end, 2):
        batches = list(_read_task(task))
        assert all(b.num_rows for b in batches)
        assert len(batches) <= len({f for r in task.ranges for f in r.files})


def test_index_rereads_replaced_file_and_drops_deleted(tmp_path, monkeypatch):
    import os

    import pyarrow.parquet as pq

    from franzoxide_spark.sources import replay

    reads = []
    real = replay._file_ranges
    monkeypatch.setattr(
        replay, "_file_ranges", lambda f: reads.append(f) or real(f)
    )
    path = str(tmp_path / "log")
    nxt = _append_files(path, 20)
    index = replay._LogIndex(path)
    end = index.refresh()
    assert len(reads) == 20
    # unchanged files are not read again; a new file is read alone
    assert index.refresh() == end and len(reads) == 20
    _append_files(path, 1, first=20, next_offset=nxt)
    grown = index.refresh()
    assert len(reads) == 21 and reads[-1].endswith("part-00020.parquet")
    assert all(grown[p] >= end[p] for p in end) and grown != end
    # the newest file replaced under its own name (fewer rows): re-read
    last = os.path.join(path, "part-00020.parquet")
    t = pq.read_table(last)
    tmp = os.path.join(path, ".replace.parquet")
    pq.write_table(t.slice(0, 1), tmp)
    os.replace(tmp, last)
    shrunk = index.refresh()
    assert len(reads) == 22 and reads[-1] == last
    (p0,) = t.slice(0, 1)["partition"].to_pylist()
    assert shrunk[str(p0)] == grown[str(p0)] - (
        t["partition"].to_pylist().count(p0) - 1
    )
    # a deleted file leaves the index and the plan
    os.remove(last)
    assert index.refresh() == end and len(reads) == 22
    tasks = index.plan({}, end, 3)
    assert all(last not in r.files for t in tasks for r in t.ranges)


def test_max_tasks_option_must_be_a_positive_integer():
    import pytest

    from franzoxide_spark.sources.replay import _options

    assert _options({"path": "log"}) == ("log", None)
    assert _options({"path": "log", "maxTasks": "3"}) == ("log", 3)
    for bad in ("0", "-1", "two", ""):
        with pytest.raises(ValueError, match="maxTasks"):
            _options({"path": "log", "maxTasks": bad})


def test_stream_packs_batches_into_cores_exactly_once(spark, tmp_path):
    """An 8-partition log grows by 24 appended files through foreachBatch:
    every micro-batch runs at most one task per core, and every
    (partition, offset) lands exactly once."""
    path = str(tmp_path / "log")
    nxt = _append_files(path, 2)
    seen, tasks = [], []

    def record(df, batch_id):
        tasks.append(df.rdd.getNumPartitions())
        seen.extend(
            (r["partition"], r["offset"])
            for r in df.select("partition", "offset").collect()
        )

    q = (
        read_replay_stream(spark, path)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for k in range(6):
            nxt = _append_files(path, 4, first=2 + 4 * k, next_offset=nxt)
            q.processAllAvailable()
    finally:
        q.stop()
    cap = min(8, spark.sparkContext.defaultParallelism)
    assert len(tasks) >= 2 and all(1 <= n <= cap for n in tasks)
    want = {(p, o) for rows in _file_rows(path).values() for p, o in rows}
    assert len(want) > 0 and len(seen) == len(want) and set(seen) == want
