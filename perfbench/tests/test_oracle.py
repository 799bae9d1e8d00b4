"""The watch oracle must accept a correct batch and catch a wrong packed
file, a wrong dead letter and a dropped ack."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench import events, oracle

ROUTING = {
    "s.a": [("entity_id", "t.x"), ("entity_id", "t.y")],
    "s.b": [("product_id", "t.x")],
}


def _entry(stream: str, offset: str, after: dict | None, raw: str | None = None):
    value = raw if raw is not None else json.dumps({"before": None, "after": after})
    return (stream, offset, {"key": value})


def _batch():
    return [
        _entry("s.a", "100-0", {"entity_id": 1}),
        _entry("s.b", "100-0", {"product_id": 2}),
        _entry("s.a", "100-1", {"entity_id": 2}),
        _entry("s.a", "101-0", {"entity_id": 1}),  # duplicate of 100-0 on both targets
        _entry("s.b", "99-5", {"product_id": 1}),  # earliest copy of id 1 on t.x
        _entry("s.a", "102-0", {"entity_id": 2**31}),  # past int32: dead
        _entry("s.b", "102-1", None, raw='{"after": {'),  # bad JSON: dead
        _entry("s.a", "103-0", {"other": 3}),  # missing id column: dead
    ]


def test_first_wins_packing_and_dead_set():
    exp = oracle.expected_batch(_batch(), ROUTING, target_size=2)
    # t.x order by (ms, seq, stream): s.b 99-5 (1), s.a 100-0 (1 dup), s.b 100-0 (2), s.a 100-1 (2 dup)
    assert exp.packed == oracle.Counter({("t.x", "[1,2]"): 1, ("t.y", "[1,2]"): 1})
    assert {(s, o, c) for s, o, c, _ in exp.dead} == {
        ("s.a", "102-0", "entity_id"),
        ("s.b", "102-1", "product_id"),
        ("s.a", "103-0", "entity_id"),
    }
    assert len(exp.acks) == 8
    assert exp.routed == 8 and exp.survivors == 4


def test_packing_respects_target_size_in_arrival_order():
    batch = [_entry("s.b", f"{10 + i}-0", {"product_id": 5 - i}) for i in range(5)]
    exp = oracle.expected_batch(batch, ROUTING, target_size=2)
    assert exp.packed == oracle.Counter({("t.x", "[5,4]"): 1, ("t.x", "[3,2]"): 1, ("t.x", "[1]"): 1})


def _write_sinks(root: Path, batch_id: int, exp: oracle.Expected) -> None:
    def put(sub: str, part: str, rows: list[dict]) -> None:
        d = root / sub / part
        d.mkdir(parents=True, exist_ok=True)
        with open(d / f"b{batch_id}-part-00000.json", "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    for (target, ids), n in exp.packed.items():
        put("targets", f"target_stream={target}", [{"ids": ids}] * n)
    for stream, offset, col, payload in exp.dead:
        put("dead", f"stream={stream}", [{"offset": offset, "id_column": col, "payload": payload}])
    for stream, offset in exp.acks:
        put("acks", f"stream={stream}", [{"offset": offset, "ack_mode": "simple"}])


def _failed(root: Path, batch, source_acked=None):
    exp = oracle.expected_batch(batch, ROUTING, target_size=2)
    act = oracle.read_file_sinks(root, 0)
    acked = source_acked if source_acked is not None else {(s, o) for s, o, _ in batch}
    return oracle.failed_entries(batch, ROUTING, exp, act, acked)


def test_correct_sinks_pass(tmp_path):
    batch = _batch()
    _write_sinks(tmp_path, 0, oracle.expected_batch(batch, ROUTING, target_size=2))
    assert _failed(tmp_path, batch) == set()


def test_planted_wrong_packed_file_is_caught(tmp_path):
    batch = _batch()
    _write_sinks(tmp_path, 0, oracle.expected_batch(batch, ROUTING, target_size=2))
    f = tmp_path / "targets" / "target_stream=t.y" / "b0-part-00000.json"
    f.write_text(json.dumps({"ids": "[2,1]"}) + "\n")
    bad = _failed(tmp_path, batch)
    # Every s.a entry routes to t.y; s.b entries do not.
    assert bad == {("s.a", o) for s, o, _ in batch if s == "s.a"}


def test_dropped_ack_is_caught(tmp_path):
    batch = _batch()
    _write_sinks(tmp_path, 0, oracle.expected_batch(batch, ROUTING, target_size=2))
    acked = {(s, o) for s, o, _ in batch} - {("s.b", "100-0")}
    assert _failed(tmp_path, batch, acked) == {("s.b", "100-0")}
    # A dropped line in the ack ledger is caught too.
    ledger = tmp_path / "acks" / "stream=s.a" / "b0-part-00000.json"
    lines = ledger.read_text().splitlines()
    ledger.write_text("\n".join(lines[1:]) + "\n")
    dropped = json.loads(lines[0])["offset"]
    assert ("s.a", dropped) in _failed(tmp_path, batch)


def test_missing_dead_letter_is_caught(tmp_path):
    batch = _batch()
    _write_sinks(tmp_path, 0, oracle.expected_batch(batch, ROUTING, target_size=2))
    (tmp_path / "dead" / "stream=s.b" / "b0-part-00000.json").unlink()
    assert _failed(tmp_path, batch) == {("s.b", "102-1")}


def test_generated_payloads_decode_like_the_oracle_expects():
    spec = {"seed": 3, "key_space": 50}
    maker = events.PayloadMaker(spec)
    rows = [maker.next(1) for _ in range(500)]
    again = events.PayloadMaker(spec)
    assert rows == [again.next(1) for _ in range(500)]
    cols = {events.SOURCE_PREFIX + t: c for t, (c, _) in events.ROUTING.items()}
    ids = [oracle.extract_id(f["key"], cols[s]) for s, f in rows]
    assert all(i is not None and 1 <= i <= 50 for i in ids)
    assert {s for s, _ in rows} == set(events.source_streams())
