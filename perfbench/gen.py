"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed (and, for the record logs,
of the due times the caller stamps), so one seed always yields the same
inputs. No Spark: tables and logs are written with pyarrow, the way an
upstream producer would hand them to the engine.

- :func:`write_tables` writes the relational fixture set (the schemas of
  FIXTURES.md section 2: a TPC-H-ish star schema, an ``events`` stream
  table, ``documents`` and ``embeddings``) at a small scale.
- :class:`RecordLog` appends KafkaRecord files to a ``kafka_replay`` log:
  eight partitions with contiguous offsets, a mix of JSON and raw values,
  empty keys, each record's due time stamped into ``timestamp``.
- :class:`DocLog` appends documents to a ``kafka_replay`` log for the
  near-duplicate gate: ids rising with arrival, a stated share of
  near-duplicates of earlier documents.

Log files are written atomically (a dot-prefixed temp file, then
``rename``): the replay source reads the directory through pyarrow's
dataset reader, which picks up any visible file, so a half-written
visible file would crash a micro-batch.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table (FIXTURES.md ratios at a 0.001 scale factor).
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo, hi = _day_us(first) // _US_PER_DAY, _day_us(last) // _US_PER_DAY
    return pa.array(
        rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us")
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write_atomic(table: pa.Table, directory: str, name: str) -> str:
    final = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def table_columns(seed: int) -> dict[str, dict]:
    """Column arrays per table, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    n_nation, n_cust, n_supp = r["nation"], r["customer"], r["supplier"]
    n_part, n_ord, n_li = r["part"], r["orders"], r["lineitem"]
    n_ev, n_emb = r["events"], r["embeddings"]
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ev_ts = np.sort(
        rng.integers(_day_us("2024-01-01"), _day_us("2024-01-31"), n_ev)
    )
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(n_nation), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n_nation)]),
            "n_regionkey": pa.array(np.arange(n_nation) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, n_nation, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, n_nation, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                    for _ in range(n_part)
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + np.arange(n_part) * 0.1, 2)
            ),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
            "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]
            ),
        },
        "documents": _documents(rng, r["documents"]),
        "embeddings": {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        },
    }


def write_tables(seed: int, out_dir: str) -> str:
    """Write one ``<name>.parquet`` per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in table_columns(seed).items():
        _write_atomic(pa.table(cols), out_dir, f"{name}.parquet")
    return out_dir


# -- record logs ------------------------------------------------------------

LOG_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.int64()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers_json", pa.string()),
    ]
)


class _Log:
    """A growing ``kafka_replay`` log: round-robin partition assignment,
    contiguous per-partition offsets, one atomically written parquet file
    per append."""

    def __init__(self, path: str, seed: int, partitions: int, topic: str):
        self.path = path
        self.topic = topic
        self.partitions = partitions
        self.rng = np.random.default_rng(seed)
        self.next_offset = [0] * partitions
        self.files = 0
        self.records = 0
        os.makedirs(path, exist_ok=True)

    def _append(self, keys, values, headers, due_ms: int) -> list[tuple]:
        """Write one file; returns its (partition, first, end) ranges."""
        n = len(values)
        parts = [(self.records + i) % self.partitions for i in range(n)]
        offs = []
        for p in parts:
            offs.append(self.next_offset[p])
            self.next_offset[p] += 1
        tbl = pa.table(
            {
                "topic": [self.topic] * n,
                "partition": parts,
                "offset": offs,
                "timestamp": [due_ms] * n,
                "key": keys,
                "value": values,
                "headers_json": headers,
            },
            schema=LOG_SCHEMA,
        )
        _write_atomic(tbl, self.path, f"part-{self.files:06d}.parquet")
        self.files += 1
        self.records += n
        ranges: dict[int, list[int]] = {}
        for p, o in zip(parts, offs):
            lo_hi = ranges.setdefault(p, [o, o + 1])
            lo_hi[1] = o + 1
        return [(p, lo, hi) for p, (lo, hi) in sorted(ranges.items())]


class RecordLog(_Log):
    """Connector input: half the values are JSON payloads shaped like the
    reference's integration test (``{"id", "name", "value"}``), the rest
    raw bytes (plain text or non-UTF-8, the sink's base64 branch); keys
    are empty; one header map in two."""

    def __init__(self, path: str, seed: int, partitions: int = 8):
        super().__init__(path, seed, partitions, "events")

    def append(self, n: int, due_ms: int) -> list[tuple]:
        kinds = self.rng.integers(0, 4, n)
        nums = self.rng.integers(0, 1_000_000, n)
        values = []
        for i, (kind, num) in enumerate(zip(kinds, nums)):
            rid = self.records + i
            if kind < 2:
                values.append(
                    json.dumps(
                        {"id": rid, "name": f"Test {num}", "value": int(num)}
                    ).encode()
                )
            elif kind == 2:
                values.append(f"raw-{rid}-{num}".encode())
            else:
                values.append(bytes([0xFF, 0xFE]) + int(num).to_bytes(4, "big"))
        headers = [
            '{"content-type":"application/json"}' if k < 2 else "{}"
            for k in kinds
        ]
        return self._append([b""] * n, values, headers, due_ms)


class DocLog(_Log):
    """Gate input over 4 partitions: ``key`` carries the doc id (rising
    with arrival), ``value`` the text. A fifth of the documents copy an
    earlier document's text with one word changed."""

    DUP_SHARE = 0.2

    def __init__(self, path: str, seed: int):
        super().__init__(path, seed, 4, "docs")
        self.texts: list[str] = []

    def append(self, n: int, due_ms: int) -> list[tuple]:
        rng = self.rng
        for _ in range(n):
            if self.texts and rng.random() < self.DUP_SHARE:
                words = self.texts[int(rng.integers(0, len(self.texts)))].split()
                words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
            else:
                words = list(rng.choice(DOC_WORDS, int(rng.integers(20, 60))))
            self.texts.append(" ".join(words))
        new = self.texts[self.records:]
        keys = [str(self.records + i).encode() for i in range(n)]
        return self._append(keys, [t.encode() for t in new], ["{}"] * n, due_ms)
