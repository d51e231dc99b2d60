"""Streaming workload: the connector and the near-duplicate gate, run side
by side on one engine over ``kafka_replay`` sources.

- connector: the reference's own job. ``ConnectorManager`` runs a
  ``kafka_replay`` source (8 partitions, JSON and raw values, empty keys)
  into ``ObjectSink`` (JSON envelope, ``time`` partitioner).
- gate: ``streaming_neardup_gate`` over a document stream with a share of
  near-duplicates and ids rising with arrival.

Both pipelines go through the same phases together:

1. set-up, three times on one session: both pipelines started on fresh
   checkpoints and output directories, until each has committed its first
   micro-batch (a small warm-up file);
2. drain: a fixed backlog is staged in each log at once; each pipeline's
   drain time is the time of the micro-batches that read its backlog (not
   the wait for their trigger);
3. open loop, for the run's seconds: each tick appends one file to each
   log at a fixed rate below capacity, stamping each record's due time; a
   record's latency is the commit of its micro-batch minus its due time.

Then the connector's push path: a fixed record count goes through
``SinkStreamHandler``, request bytes encoded before timing, each call
``SinkRequest.decode`` -> ``handle`` -> ``encode`` as the gRPC glue runs.

Checks run after the timed phases: every offered offset appears exactly
once in the sink output and in the push output, a sample of envelopes
decodes back to its input, and the gate's flags equal the batch face
``operators.dedup.neardup_gate`` on the same documents.
"""

from __future__ import annotations

import base64
import glob
import json
import os
import statistics
import time
from urllib.parse import urlparse

from perfbench import gen
from perfbench.common import Run
from perfbench.stats import (
    parse_offsets,
    progress_dict,
    record_latencies,
    sum_duration,
    weighted_percentile,
)
from perfbench.trace import add_profile, exec_layers, exec_profile

# connector sizes
ETL_WARM = 500
ETL_BACKLOG = 30_000
ETL_RATE = 2_000  # offered records/s in the open loop
PUSH_RECORDS = 3_000
PUSH_BATCH = 500
# gate sizes
GATE_WARM = 30
GATE_BACKLOG = 400
GATE_RATE = 30  # offered docs/s in the open loop
GATE_THRESHOLD = 0.8

TICK_S = 0.25
# Micro-batch trigger interval of both pipelines, as a deployment sets it
# (the reference's rotate.interval.ms). Without one, an idle query asks
# its source for new offsets every 10 ms, and the two pipelines' polling
# would compete with each other's batches.
TRIGGER_MS = 1000


def _now_ms() -> int:
    return int(time.time() * 1000)


class _Pipe:
    """One pipeline of the workload: its input log and running query."""

    def __init__(self, name: str, log):
        self.name = name
        self.log = log
        self.query = None
        self.stop = None
        self.out = None  # connector: the sink's base directory
        self.table = None  # gate: the memory sink's table
        self.mark = -1  # last batch id before the current phase

    def begin_phase(self) -> None:
        p = self.query.lastProgress
        self.mark = progress_dict(p)["batchId"] if p is not None else -1

    def progress(self) -> list[dict]:
        """Progress events of the current phase."""
        return [
            p for p in map(progress_dict, self.query.recentProgress)
            if p["batchId"] > self.mark
        ]

    def committed(self) -> int:
        p = self.query.lastProgress
        if p is None:
            return 0
        return sum(parse_offsets(
            progress_dict(p)["sources"][0].get("endOffset")).values())


def _await_commit(r: Run, pipes, timeout_s: float = 120.0) -> None:
    """Block until every pipeline has committed every record of its log.

    Polls the last progress event: ``processAllAvailable`` also waits
    for the next, empty, trigger, and for no-data micro-batches."""
    deadline = time.monotonic() + timeout_s
    with r.tracer.span("manager"):
        for pipe in pipes:
            while pipe.committed() < pipe.log.records:
                err = pipe.query.exception()
                if err is not None:
                    raise RuntimeError(f"{pipe.name} query failed: {err}")
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"{pipe.name}: {pipe.log.records} records not "
                        f"committed after {timeout_s} s")
                time.sleep(0.02)


def _drain(r: Run, pipes, sizes) -> dict[str, tuple[float, list[dict]]]:
    """Stage a backlog in every log at once and wait until all are
    committed. Per pipeline: the seconds the micro-batches that read its
    backlog took, and their progress."""
    for pipe, n in zip(pipes, sizes):
        pipe.begin_phase()
        pipe.log.append(n, _now_ms())
    _await_commit(r, pipes)
    out = {}
    for pipe in pipes:
        progs = pipe.progress()
        busy_ms = sum(p["batchDuration"] for p in progs if p["numInputRows"])
        out[pipe.name] = (busy_ms / 1000, progs)
    return out


def _open_loop(r: Run, pipes, rates) -> dict:
    """Each tick, append ``rate * TICK_S`` records to every log, for the
    run's seconds; then wait for the last of them to commit. Per pipeline:
    latency samples, progress, and the records it had not committed when
    the generator stopped."""
    per_tick = [max(1, int(rate * TICK_S)) for rate in rates]
    due: dict[str, list[tuple]] = {pipe.name: [] for pipe in pipes}
    for pipe in pipes:
        pipe.begin_phase()
    t0 = time.perf_counter()
    start = time.time() + TICK_S
    late = []
    for k in range(max(1, int(r.seconds / TICK_S))):
        tick = start + k * TICK_S
        pause = tick - time.time()
        if pause > 0:
            time.sleep(pause)
        due_ms = int(tick * 1000)
        late.append(time.time() * 1000 - due_ms)
        for pipe, n in zip(pipes, per_tick):
            for part, lo, hi in pipe.log.append(n, due_ms):
                due[pipe.name].append((due_ms, part, lo, hi))
    backlog = {pipe.name: pipe.log.records - pipe.committed() for pipe in pipes}
    _await_commit(r, pipes)
    out = {"seconds": time.perf_counter() - t0,
           "late_ms": statistics.median(late)}
    for pipe in pipes:
        progs = pipe.progress()
        out[pipe.name] = {
            "progs": progs,
            "samples": record_latencies(progs, due[pipe.name]),
            "backlog_end": backlog[pipe.name],
        }
    return out


# -- connector ----------------------------------------------------------------

def _connector_config(log: str, out: str):
    from franzoxide_spark.config import parse_config

    return parse_config({
        "kafka": {"bootstrap_servers": [], "group_id": "perfbench"},
        "connectors": [
            {"name": "replay-source", "connector_class": "kafka_replay",
             "connector_type": "source", "topics": ["events"],
             "config": {"path": log}},
            {"name": "object-sink",
             "connector_class": "io.rustconnect.S3SinkConnector",
             "connector_type": "sink", "topics": ["events"],
             "config": {"path.base": out, "s3.prefix": "data",
                        "format.class": "json", "partitioner.class": "time",
                        "rotate.interval.ms": str(TRIGGER_MS)}},
        ],
    })


def _decode(env: dict, field: str) -> bytes | None:
    if field not in env:
        return None
    if env.get(f"{field}_format") == "base64":
        return base64.b64decode(env[field])
    return json.dumps(env[field]).encode()


def _same(env_bytes: bytes | None, logged: bytes | None) -> bool:
    if not logged:
        return env_bytes is None  # empty is omitted from the envelope
    if env_bytes == logged:
        return True
    try:
        return json.loads(env_bytes) == json.loads(logged)
    except (TypeError, ValueError):
        return False


def _sink_files(out: str) -> list[str]:
    """Data files under ``out``: for a streaming file sink the ones its
    ``_spark_metadata`` log committed, else every part file."""
    meta = os.path.join(out, "_spark_metadata")
    if not os.path.isdir(meta):
        return glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
    paths = set()
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        with open(os.path.join(meta, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    if entry.get("action", "add") == "add":
                        paths.add(urlparse(entry["path"]).path)
    return sorted(paths)


def _check_envelopes(r: Run, out: str, log: gen.RecordLog, what: str) -> int:
    """Every logged (partition, offset) appears exactly once under
    ``out``, and every 499th envelope decodes back to the logged record.
    Returns the bytes of output read."""
    import pyarrow.parquet as pq

    logged = pq.read_table(log.path).to_pydict()
    index = {
        (p, o): (k, v) for p, o, k, v in zip(
            logged["partition"], logged["offset"], logged["key"],
            logged["value"])
    }
    seen: dict[tuple[int, int], int] = {}
    size = 0
    for path in _sink_files(out):
        size += os.path.getsize(path)
        with open(path) as f:
            for line in f:
                env = json.loads(line)
                at = (env["partition"], env["offset"])
                seen[at] = seen.get(at, 0) + 1
                if at[1] % 499 == 0:
                    key, value = index.get(at, (None, None))
                    r.check(_same(_decode(env, "value"), value)
                            and _same(_decode(env, "key"), key),
                            f"{what}: envelope {at} does not decode")
    r.attempted += len(index)
    for at in index:
        n = seen.pop(at, 0)
        if n != 1:
            r.fail(f"{what}: record {at} written {n} times")
    for at in seen:
        r.fail(f"{what}: record {at} was never offered")
    return size


def _push_requests(push_log: gen.RecordLog) -> list[bytes]:
    """Encoded SinkRequests for every record of ``push_log`` in batches
    of PUSH_BATCH, then one flush."""
    import pyarrow.parquet as pq

    from franzoxide_spark.ingest import protowire as pw

    t = pq.read_table(push_log.path).to_pydict()
    recs = [
        pw.KafkaRecord(t["topic"][i], t["partition"][i], t["offset"][i],
                       t["timestamp"][i], t["key"][i], t["value"][i],
                       json.loads(t["headers_json"][i]))
        for i in range(len(t["offset"]))
    ]
    out = [
        pw.SinkRequest(
            record_batch=pw.RecordBatch(records=recs[i:i + PUSH_BATCH])
        ).encode()
        for i in range(0, len(recs), PUSH_BATCH)
    ]
    out.append(pw.SinkRequest(flush=pw.FlushRequest(request_id="f")).encode())
    return out


def _push(r: Run, connector, requests: list[bytes]) -> dict:
    from franzoxide_spark.ingest import protowire as pw
    from franzoxide_spark.ingest.push import PushBatchSink, SinkStreamHandler

    handler = SinkStreamHandler(
        PushBatchSink(r.spark, connector, r.dir("push-ckpt")))
    t = {"decode": 0.0, "put": 0.0, "flush": 0.0, "acked": 0}
    flushed = True
    t0 = time.perf_counter()
    for raw in requests:
        r.tracer.new_trace()
        ta = time.perf_counter()
        req = pw.SinkRequest.decode(raw)
        tb = time.perf_counter()
        with r.tracer.span("ingest"):
            resp = handler.handle(req)
        tc = time.perf_counter()
        resp.encode()
        t["decode"] += tb - ta
        if req.flush is not None:
            t["flush"] += tc - tb
            flushed &= (resp.flush_response is not None
                        and resp.flush_response.success)
        else:
            t["put"] += tc - tb
            if resp.ack is not None and resp.ack.success:
                t["acked"] += len(resp.ack.record_ids)
    t["seconds"] = time.perf_counter() - t0
    r.check(flushed, "push: the flush failed")
    r.check(t["acked"] == PUSH_RECORDS, "push: records not acked")
    return t


# -- the workload -------------------------------------------------------------

def _exec(r: Run, pipes, batches: int) -> dict:
    """``exec.*`` of the measured pipelines: a streaming query runs its
    micro-batch jobs in a job group named after its run id."""
    if not r.trace:
        return {}
    total: dict = {}
    with r.tracer.cost():
        for pipe in pipes:
            add_profile(total, exec_profile(r.spark, str(pipe.query.runId)))
    return exec_layers(total, batches)


def run(r: Run) -> dict:
    from pyspark.sql import functions as F

    from franzoxide_spark.manager import ConnectorManager
    from franzoxide_spark.operators.dedup import neardup_gate
    from franzoxide_spark.sources.replay import read_replay_stream
    from franzoxide_spark.streaming.stateful import streaming_neardup_gate

    etl = _Pipe("connector", gen.RecordLog(r.dir("log"), r.seed))
    gate = _Pipe("gate", gen.DocLog(r.dir("docs"), r.seed + 1))
    pipes = (etl, gate)
    etl.log.append(ETL_WARM, _now_ms())
    gate.log.append(GATE_WARM, _now_ms())
    push_log = gen.RecordLog(r.dir("push-log"), r.seed + 2, partitions=1)
    push_log.append(PUSH_RECORDS, _now_ms())
    requests = _push_requests(push_log)

    def docs(df):
        return df.select(
            F.col("key").cast("string").cast("long").alias("doc_id"),
            F.col("value").cast("string").alias("text"),
        )

    def setup(rep: int) -> None:
        for pipe in pipes:
            if pipe.stop is not None:
                pipe.stop()
        spark = r.spark
        with r.tracer.span("manager"):
            etl.out = r.dir(f"out-{rep}")
            mgr = ConnectorManager(spark, _connector_config(etl.log.path, etl.out),
                                   r.dir(f"ckpt-{rep}"))
            mgr.initialize()
            mgr.start()
            etl.query, etl.stop = next(iter(mgr._queries.values())), mgr.stop
            gate.table = f"gate_flags_{rep}"
            gate.query = (
                streaming_neardup_gate(
                    docs(read_replay_stream(spark, gate.log.path)), "doc_id",
                    "text", threshold=GATE_THRESHOLD)
                .writeStream.format("memory").queryName(gate.table)
                .option("checkpointLocation", r.dir(f"gate-ckpt-{rep}"))
                .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
                .outputMode("append").start()
            )
            gate.stop = gate.query.stop
        _await_commit(r, pipes)

    r.start_session()
    r.timed_setups(setup)
    drained = _drain(r, pipes, (ETL_BACKLOG, GATE_BACKLOG))
    ol = _open_loop(r, pipes, (ETL_RATE, GATE_RATE))
    push_out = r.dir("push")
    push = _push(r, _connector_config(etl.log.path, push_out).connectors[1],
                 requests)
    rss = r.rss_mb()
    etl_progs = drained["connector"][1] + ol["connector"]["progs"]
    gate_progs = drained["gate"][1] + ol["gate"]["progs"]
    drain_s = {name: d[0] for name, d in drained.items()}
    r.measured_s = sum(drain_s.values()) + ol["seconds"] + push["seconds"]
    exec_l = _exec(r, pipes, len(etl_progs) + len(gate_progs) + 2)
    r.tracer.record_batches(etl_progs + gate_progs)
    for pipe in pipes:
        pipe.stop()

    spark = r.spark
    with r.tracer.span("oracle"):
        sink_out = os.path.join(etl.out, "data")
        out_bytes = _check_envelopes(r, sink_out, etl.log, "sink")
        _check_envelopes(r, os.path.join(push_out, "data"), push_log, "push")
        flag_rows = spark.table(gate.table).collect()
        got: dict[int, int] = {}
        for row in flag_rows:
            cur = got.get(row["doc_id"])
            if cur is None or row["dup_of"] < cur:
                got[row["doc_id"]] = row["dup_of"]
        all_docs = docs(spark.read.format("kafka_replay")
                        .option("path", gate.log.path).load())
        expect = {
            row["doc_id"]: row["dup_of"]
            for row in neardup_gate(all_docs, "text", "doc_id",
                                    threshold=GATE_THRESHOLD).collect()
            if row["admitted"] == 0
        }
        r.attempted += gate.log.records
        for doc in set(got) | set(expect):
            if got.get(doc) != expect.get(doc):
                r.fail(f"gate: doc {doc} flagged {got.get(doc)}, "
                       f"batch face says {expect.get(doc)}")

    lat = {name: ol[name]["samples"] for name in ("connector", "gate")}
    state_ops = [p["stateOperators"][0] for p in gate_progs
                 if p.get("stateOperators")]
    last_state = state_ops[-1] if state_ops else {}
    n_etl = max(len(etl_progs), 1)
    n_gate = max(len(gate_progs), 1)
    files = _sink_files(sink_out)
    return {
        # each latency is the mean of the two pipelines' percentiles, so
        # a change to either moves it in proportion
        "e2e": {
            "setup_s": (r.setup_s(), "s"),
            "latency_p50_ms": (statistics.mean(
                weighted_percentile(s, 50) for s in lat.values()), "ms"),
            "latency_p90_ms": (statistics.mean(
                weighted_percentile(s, 90) for s in lat.values()), "ms"),
            "work_s": (sum(drain_s.values()) + push["seconds"], "s"),
            "peak_rss_mb": (rss, "MB"),
        },
        "layer": {
            "sources.replay.latest_offset_ms":
                sum_duration(etl_progs, "latestOffset") / n_etl,
            "sinks.add_batch_ms": sum_duration(etl_progs, "addBatch") / n_etl,
            "sinks.wal_commit_ms": sum_duration(etl_progs, "walCommit") / n_etl,
            "catalyst.planning_ms":
                sum_duration(etl_progs + gate_progs, "queryPlanning")
                / (n_etl + n_gate),
            # the measured pipeline's batches: warm-up, drain, open loop
            "sinks.files_per_batch": len(files) / (len(etl_progs) + 1),
            "sinks.bytes_per_record": out_bytes / etl.log.records,
            "manager.rows_per_batch":
                sum(p["numInputRows"] for p in etl_progs) / n_etl,
            "manager.backlog_end_records": float(ol["connector"]["backlog_end"]),
            "manager.drain_rps": ETL_BACKLOG / drain_s["connector"],
            "manager.latency_p50_ms": weighted_percentile(lat["connector"], 50),
            "ingest.push_rps": PUSH_RECORDS / push["seconds"],
            "ingest.decode_s": push["decode"],
            "ingest.put_s": push["put"],
            "ingest.flush_ms": 1000 * push["flush"],
            "streaming.batch_ms": sum(
                p["batchDuration"] for p in gate_progs) / n_gate,
            "streaming.update_ms": sum(
                s.get("allUpdatesTimeMs", 0) for s in state_ops
            ) / max(len(state_ops), 1),
            "streaming.state_rows": float(last_state.get("numRowsTotal", 0)),
            "streaming.state_bytes": float(last_state.get("memoryUsedBytes", 0)),
            "streaming.flags_per_doc": len(flag_rows) / gate.log.records,
            "streaming.drain_rps": GATE_BACKLOG / drain_s["gate"],
            "streaming.latency_p50_ms": weighted_percentile(lat["gate"], 50),
            "gen.late_ms": ol["late_ms"],
            **exec_l,
        },
        "info": {
            "drain_s": drain_s, "push_s": push["seconds"],
            "flagged": len(expect),
            "batches": {
                "connector": [(p["numInputRows"], p["batchDuration"])
                              for p in etl_progs],
                "gate": [(p["numInputRows"], p["batchDuration"])
                         for p in gate_progs],
            },
        },
    }
