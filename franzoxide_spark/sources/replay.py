"""Kafka-replay source: a custom Python DataSource (Spark 4
``pyspark.sql.datasource``) that serves a staged, GROWING KafkaRecord
parquet log with real broker semantics — per-partition contiguous
offsets, ``latestOffset`` re-reading the log end each trigger (so
batches track data arrival exactly as they do against a live broker),
and offset-dict checkpointing.

Why it exists: the environment has no Kafka broker (mirrored by the
reference's own disabled integration CI, .github/workflows/ci.yml:60-69),
so through round 6 the connector pipeline (A5-A13) was exercised with
plain file streams — which have no offset model at all. This source is
the missing middle: the SAME offset-tracking semantics the real
``kafka`` format has (resume-from-checkpoint lands at the exact
per-partition positions, new appends flow as new micro-batches),
implemented against local fixtures. Swapping ``format("kafka_replay")``
for ``format("kafka")`` is a config change.

Contract note: the offsets this source reports are derived from the
log's files, never from reader-process memory. ``latestOffset()``
reports the TRUE end of the log — rate limiting is deliberately NOT
simulated there. An earlier draft advanced an in-memory frontier by
``batch.size`` per trigger; that frontier restarts at zero after a
crash, Spark then records the gone-backwards offset in the WAL, and the
next batch REPLAYS committed data (observed as duplicates in the resume
test before this was fixed). The reader does keep one thing in memory,
the per-file index below, but only as a cache of the files: an entry is
trusted while its file's ``(st_mtime_ns, st_size, st_ino)`` is
unchanged, and a restarted reader starts with an empty index and reads
every file once. The log is append-only: a file, once visible, is
complete, and offsets below a partition's end are all in visible files.

Offsets are dicts ``{partition(str): next_offset(int)}`` — JSON-encoded
by Spark into the checkpoint WAL.

Scale shape: a micro-batch's cost is dominated by its Python tasks,
not its rows (on a 4-core host each read task cost ~60-75 ms whatever
its row count). So
``partitions(start, end)`` packs the per-partition offset ranges into at
most ``maxTasks`` InputPartitions, balanced by row count.
:func:`read_replay_stream` sets ``maxTasks`` to the session's
``defaultParallelism`` (one task per core); without the option the cap is
the Kafka partition count, i.e. one task per partition, as the batch
face runs. The driver-side reader keeps a per-file index, file ->
``{partition: (min, max+1)}``, over the file list of pyarrow's dataset
discovery: ``latestOffset`` reads the (partition, offset) columns of new
or changed files only, and each range carries only the files whose
offsets meet it. Executors read those files with parquet predicate
pushdown (pyarrow filters on partition + offset range, so the file list
only has to be a superset) and yield non-empty Arrow record batches — no
per-row Python objects. A production source gets the offsets from broker
metadata instead of files.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

REPLAY_SCHEMA = (
    "topic string, partition int, offset bigint, timestamp bigint,"
    " key binary, value binary, headers_json string"
)

_COLUMNS = [
    "topic", "partition", "offset", "timestamp", "key", "value",
    "headers_json",
]


def stage_replay(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_partitions: int = 8,
    min_offset: int | None = None,
    max_offset: int | None = None,
) -> None:
    """Materialize (a slice of) the events fixture as replayable
    KafkaRecord parquet: per-partition CONTIGUOUS offsets starting at 0
    (row_number ordered by event id — deterministic). Slicing by
    ``[min_offset, max_offset)`` with append writes lets a test GROW the
    log between triggers the way a producer would, without ever breaking
    offset contiguity (the full log is numbered first, then sliced)."""
    from pyspark.sql import Window

    from franzoxide_spark.queries.envelope import kafka_records_from_events

    rec = kafka_records_from_events(spark, sf_dir).withColumn(
        "partition", (F.col("offset") % n_partitions).cast("int")
    )
    w = Window.partitionBy("partition").orderBy("offset")
    full = rec.withColumn(
        "offset", F.row_number().over(w).cast("bigint") - 1
    ).select(*_COLUMNS)
    if min_offset is not None:
        full = full.filter(F.col("offset") >= min_offset)
    if max_offset is not None:
        full = full.filter(F.col("offset") < max_offset)
    mode = "overwrite" if not min_offset else "append"
    full.write.mode(mode).parquet(out_path)


@dataclass
class _Range:
    """Offsets ``[start, end)`` of one Kafka partition, and the log files
    that hold some of them."""

    partition: int
    start: int
    end: int
    files: list[str]


@dataclass
class _ReplayTask(InputPartition):
    """One Spark task: the offset ranges it reads."""

    ranges: list[_Range]


def _file_ranges(path: str) -> dict[int, tuple[int, int]]:
    """``{partition: (min offset, max offset + 1)}`` of one log file."""
    import pyarrow.parquet as pq

    grouped = (
        pq.read_table(path, columns=["partition", "offset"])
        .group_by("partition")
        .aggregate([("offset", "min"), ("offset", "max")])
    )
    return {
        int(p): (int(lo), int(hi) + 1)
        for p, lo, hi in zip(
            grouped["partition"].to_pylist(),
            grouped["offset_min"].to_pylist(),
            grouped["offset_max"].to_pylist(),
        )
    }


class _LogIndex:
    """Per-file index of a replay log: file -> ``{partition: (min,
    max+1)}``, over the files pyarrow's dataset discovery lists. An
    entry is read once and kept while its file's ``(st_mtime_ns,
    st_size, st_ino)`` is unchanged; it is dropped when the file leaves
    the listing."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._entries: dict[str, tuple[tuple, dict[int, tuple[int, int]]]] = {}

    def refresh(self) -> dict[str, int]:
        """Bring the index up to the log as it exists NOW and return the
        per-partition end offsets (max+1).

        An empty/not-yet-created log is a VALID start state (a real Kafka
        consumer streams an empty topic fine and picks data up as it
        arrives, r13 review): report no partitions; the next refresh sees
        whatever has been staged since."""
        import os

        import pyarrow.dataset as ds

        try:
            files = ds.dataset(self.path, format="parquet").files
        except FileNotFoundError:
            files = []
        entries = {}
        for f in files:
            try:
                st = os.stat(f)
                stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
                old = self._entries.get(f)
                # stat before reading: a file replaced after the stat gets
                # a new stamp, so the next refresh reads it again
                entries[f] = (
                    old if old is not None and old[0] == stamp
                    else (stamp, _file_ranges(f))
                )
            except FileNotFoundError:
                continue  # deleted since the listing
        self._entries = entries
        ends: dict[int, int] = {}
        for _, ranges in entries.values():
            for p, (_, hi) in ranges.items():
                ends[p] = max(ends.get(p, 0), hi)
        # one key order whatever the files' order: Spark compares offsets
        # by their JSON, and a reordered dict would start an empty batch
        return {str(p): e for p, e in sorted(ends.items())}

    def plan(self, start: dict, end: dict, cap: int | None) -> list[_ReplayTask]:
        """The offset ranges ``[start, end)``, each carrying the indexed
        files whose offsets meet it, packed into at most ``cap`` tasks
        (default: one per range) balanced by row count."""
        ranges = []
        for key, e in end.items():
            p, s, e = int(key), int(start.get(key, 0)), int(e)
            if e > s:
                files = sorted(
                    f for f, (_, fr) in self._entries.items()
                    if p in fr and fr[p][0] < e and fr[p][1] > s
                )
                ranges.append(_Range(p, s, e, files))
        return _pack(ranges, cap or len(ranges))


def _pack(ranges: list[_Range], cap: int) -> list[_ReplayTask]:
    """Largest range first into the task with the fewest rows so far:
    ``min(len(ranges), cap)`` tasks whose row counts differ by at most
    the largest range."""
    tasks = [_ReplayTask([]) for _ in range(min(len(ranges), cap))]
    rows = [0] * len(tasks)
    for r in sorted(ranges, key=lambda r: r.end - r.start, reverse=True):
        i = rows.index(min(rows))
        tasks[i].ranges.append(r)
        rows[i] += r.end - r.start
    return tasks


def _read_task(task: _ReplayTask):
    """Executor-side read of a task's ranges from their files only:
    parquet predicate pushdown via pyarrow filters (one conjunction per
    range), yielded as non-empty Arrow record batches (no Python row
    objects)."""
    import pyarrow.parquet as pq

    files = sorted({f for r in task.ranges for f in r.files})
    if not files:
        return
    tbl = pq.read_table(
        files,
        columns=_COLUMNS,
        filters=[
            [
                ("partition", "=", r.partition),
                ("offset", ">=", r.start),
                ("offset", "<", r.end),
            ]
            for r in task.ranges
        ],
    )
    for batch in tbl.to_batches():
        if batch.num_rows:
            yield batch


def _options(options) -> tuple[str, int | None]:
    """The ``path`` option and the ``maxTasks`` cap (None: one task per
    Kafka partition)."""
    path = options.get("path")
    if not path:
        raise ValueError("kafka_replay requires a 'path' option")
    cap = options.get("maxTasks")
    if cap is None:
        return path, None
    if not str(cap).isdigit() or int(cap) < 1:
        raise ValueError(
            f"kafka_replay 'maxTasks' must be a positive integer, got {cap!r}"
        )
    return path, int(cap)


class _ReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        path, self._cap = _options(options)
        self._index = _LogIndex(path)

    def initialOffset(self) -> dict:
        return {p: 0 for p in self._index.refresh()}

    def latestOffset(self) -> dict:
        # the true current end of the log, re-read per trigger: new
        # appends become the next micro-batch (see the contract note in
        # the module doc)
        return self._index.refresh()

    def partitions(self, start: dict, end: dict):
        # a restarted query re-plans its last batch from the WAL before
        # it asks for latestOffset, so the index may not reach `end` yet
        self._index.refresh()
        return self._index.plan(start, end, self._cap)

    def read(self, partition: _ReplayTask):
        return _read_task(partition)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint WAL; nothing external to ack
        pass


class _ReplayBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self._path, self._cap = _options(options)

    def partitions(self):
        index = _LogIndex(self._path)
        # an empty log still needs a task: given none, Spark reads one
        # `None` partition
        return index.plan({}, index.refresh(), self._cap) or [_ReplayTask([])]

    def read(self, partition: _ReplayTask):
        return _read_task(partition)


class KafkaReplayDataSource(DataSource):
    """``spark.dataSource.register(KafkaReplayDataSource)`` then
    ``spark.readStream.format("kafka_replay").option("path", ...)`` (or
    ``spark.read`` for the batch face)."""

    @classmethod
    def name(cls) -> str:
        return "kafka_replay"

    def schema(self) -> str:
        return REPLAY_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _ReplayBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ReplayStreamReader(self.options)


def register_replay_source(spark: SparkSession) -> None:
    spark.dataSource.register(KafkaReplayDataSource)


def read_replay_stream(spark: SparkSession, path: str) -> DataFrame:
    """The replay log as a stream whose micro-batches each run at most
    one read task per core of the session."""
    register_replay_source(spark)
    return (
        spark.readStream.format("kafka_replay")
        .option("path", path)
        .option("maxTasks", spark.sparkContext.defaultParallelism)
        .load()
    )


def replay_record_source(spark, kafka_cfg, connector) -> DataFrame:
    """Connector-registry builder (A10): serve a staged replay log as the
    pipeline's KafkaRecord stream — ``connector_class: kafka_replay`` in
    a connector config drives the full A5-A13 pipeline through real
    offset semantics instead of a plain file stream. headers_json is
    parsed into the map<string,string> the record schema carries."""
    from franzoxide_spark.errors import ConfigError

    path = connector.config.get("path")
    if not path:
        raise ConfigError(
            f"connector {connector.name!r}: kafka_replay source needs 'path'"
        )
    df = read_replay_stream(spark, path)
    return df.select(
        "topic", "partition", "offset", "timestamp", "key", "value",
        F.from_json(
            "headers_json", "map<string,string>"
        ).alias("headers"),
    )
