"""The input generators are deterministic for a seed and keep the log
invariants the replay source relies on."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import gen


def _tables(seed: int, d: str) -> dict:
    gen.write_tables(seed, d)
    return {
        f: pq.read_table(os.path.join(d, f)).to_pydict()
        for f in sorted(os.listdir(d))
    }


def test_tables_are_deterministic_per_seed(tmp_path):
    a = _tables(11, str(tmp_path / "a"))
    b = _tables(11, str(tmp_path / "b"))
    c = _tables(12, str(tmp_path / "c"))
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLE_ROWS)
    for name, rows in gen.TABLE_ROWS.items():
        cols = a[f"{name}.parquet"]
        assert len(next(iter(cols.values()))) == rows


def test_table_schemas_match_the_fixture_contract(tmp_path):
    gen.write_tables(3, str(tmp_path))
    li = pq.read_schema(str(tmp_path / "lineitem.parquet"))
    assert str(li.field("l_orderkey").type) == "int64"
    assert str(li.field("l_linenumber").type) == "int32"
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    emb = pq.read_schema(str(tmp_path / "embeddings.parquet"))
    assert str(emb.field("embedding").type) == "list<element: float>"


def _log_rows(log) -> list[tuple]:
    t = pq.read_table(log.path).to_pydict()
    return sorted(zip(t["partition"], t["offset"], t["timestamp"], t["key"],
                      t["value"], t["headers_json"]))


def test_record_log_is_deterministic_and_contiguous(tmp_path):
    logs = []
    for name in ("a", "b"):
        log = gen.RecordLog(str(tmp_path / name), seed=5)
        log.append(100, due_ms=1_000)
        log.append(37, due_ms=2_000)
        logs.append(log)
    rows = _log_rows(logs[0])
    assert rows == _log_rows(logs[1])
    assert len(rows) == 137 == logs[0].records
    for p in range(8):
        offs = [o for part, o, *_ in rows if part == p]
        assert offs == list(range(len(offs)))
        assert logs[0].next_offset[p] == len(offs)
    assert {ts for _, _, ts, *_ in rows} == {1_000, 2_000}
    assert all(key == b"" for _, _, _, key, _, _ in rows)
    values = [v for *_, v, _ in rows]
    assert any(v.startswith(b"{") for v in values)
    assert any(v.startswith(b"raw-") for v in values)


def test_log_files_are_published_atomically(tmp_path):
    log = gen.RecordLog(str(tmp_path / "log"), seed=1)
    ranges = log.append(16, due_ms=0)
    assert os.listdir(log.path) == ["part-000000.parquet"]
    assert ranges == [(p, 0, 2) for p in range(8)]


def test_doc_log_ids_rise_with_arrival_and_repeat_per_seed(tmp_path):
    def build(name):
        log = gen.DocLog(str(tmp_path / name), seed=9)
        log.append(50, due_ms=10)
        log.append(50, due_ms=20)
        return log

    a, b = build("a"), build("b")
    assert a.texts == b.texts
    t = pq.read_table(a.path).to_pydict()
    ids = [int(k) for k in t["key"]]
    assert sorted(ids) == list(range(100))
    for i, v in zip(ids, t["value"]):
        assert v.decode() == a.texts[i]
    # the second file holds only ids above every id of the first
    first = pq.read_table(os.path.join(a.path, "part-000000.parquet"))
    second = pq.read_table(os.path.join(a.path, "part-000001.parquet"))
    assert max(map(int, first["key"].to_pylist())) < min(
        map(int, second["key"].to_pylist()))
    # some documents are near-copies of an earlier one
    words = [set(x.split()) for x in a.texts]
    assert any(
        len(words[i] & words[j]) / len(words[i] | words[j]) > 0.8
        for i in range(100) for j in range(i)
    )
