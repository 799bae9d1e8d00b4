"""E2E replays of the reference's WatchTests scenarios (WatchTests.java)
through the config-driven pipeline — availableNow triggers instead of the
reference's 16 s sleeps.

Scenarios:
 - basic: no input -> target streams exist with exactly the seed record
   (WatchTests.java:57-93)
 - compact dedupe: 4 compact events, after-ids 1,2,1,2 -> each mapped
   target gets the seed plus one batch [1,2] (WatchTests.java:96-157)
 - extended format: same via the `value` field (WatchTests.java:159-251)
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
from pathlib import Path

import pytest

from cdc_dedupe_spark.config import load_config
from cdc_dedupe_spark.plans.watch_plan import SINK_KEYS
from cdc_dedupe_spark.sources.fake_redis import FakePipeline, FakeRedis
from cdc_dedupe_spark.streaming import pipeline
from cdc_dedupe_spark.streaming.pipeline import SinkManifest, watch

CONFIG_YAML = """\
source:
  format: compact
  prefix: "m2.m2."
  group: cdc
  consumer: cdc
  acknowledge: {ack}
buffers:
  source: {{size: 1000, time: 1000}}
  dedupe: {{size: 100000, time: 5000}}
  target: {{size: 1000, time: 1000}}
target:
  prefix: "target."
mapping:
  catalog_category_entity:
    entity_id:
      - catalog_product_flat
      - catalog_category_product
"""


def _write_config(tmp: Path, ack: str = "delete") -> Path:
    p = tmp / "config.yaml"
    p.write_text(CONFIG_YAML.format(ack=ack))
    return p


def _envelope_compact(offset: str, entity_id: int) -> dict:
    payload = json.dumps(
        {"before": {"entity_id": entity_id, "v": 4}, "after": {"entity_id": entity_id, "v": 4}}
    )
    return {"offset": offset, "stream": "m2.m2.catalog_category_entity", "fields": {"key": payload}}


def _envelope_extended(offset: str, entity_id: int) -> dict:
    payload = json.dumps({"before": {"entity_id": entity_id, "v": 3}, "after": {"entity_id": entity_id}})
    return {
        "offset": offset,
        "stream": "m2.m2.catalog_category_entity",
        "fields": {"key": "{}", "value": payload},
    }


def _run(spark, tmp: Path, events: list[dict], ack: str = "delete"):
    cfg = load_config(_write_config(tmp, ack))
    src = tmp / "in"
    src.mkdir()
    if events:
        (src / "batch0.json").write_text("\n".join(json.dumps(e) for e in events))
    else:
        (src / "empty.json").write_text("")
    handles = watch(spark, cfg, str(src), str(tmp / "work"))
    handles.query.awaitTermination()
    out = spark.read.json(handles.output_dir)
    return cfg, handles, out


def _target_records(out, target_stream: str) -> list[str]:
    return [r.ids for r in out.filter(out.target_stream == target_stream).collect()]


def test_watch_basic_seed_only(spark, tmp_path):
    _, handles, out = _run(spark, tmp_path, events=[])
    for tgt in ("target.catalog_product_flat", "target.catalog_category_product"):
        assert _target_records(out, tgt) == ["[]"]


@pytest.mark.parametrize("mk", [_envelope_compact, _envelope_extended], ids=["compact", "extended"])
def test_watch_dedupe_both_formats(spark, tmp_path, mk):
    events = [mk(f"100{i}-0", eid) for i, eid in enumerate([1, 2, 1, 2])]
    cfg, handles, out = _run(spark, tmp_path, events, ack="delete" if mk is _envelope_compact else "simple")
    for tgt in ("target.catalog_product_flat", "target.catalog_category_product"):
        recs = _target_records(out, tgt)
        assert len(recs) == 2, recs  # seed + one batch
        assert "[]" in recs
        batch = next(r for r in recs if r != "[]")
        assert json.loads(batch) == [1, 2]  # first-occurrence arrival order
    # ack ledger: all 4 offsets acknowledged, tagged with the ack mode
    acks = spark.read.json(handles.ack_dir)
    rows = acks.collect()
    assert {r.offset for r in rows} == {f"100{i}-0" for i in range(4)}
    assert {r.ack_mode for r in rows} == {cfg.source.acknowledge}


def test_watch_multi_column_general_case(spark, tmp_path):
    """The reference extracts every column's id from the FIRST mapped column
    (WatchStream.java:324 — wrong ids for secondary columns; SURVEY §2A).
    The rebuild extracts each column's own id: one event carrying different
    values in two mapped columns routes each value to its own target."""
    cfg_text = """\
source: {format: compact, prefix: "m2.m2.", group: cdc, consumer: cdc, acknowledge: simple}
buffers: {source: {size: 1000, time: 1000}, dedupe: {size: 100000, time: 5000}, target: {size: 1000, time: 1000}}
target: {prefix: "target."}
mapping:
  catalog_category_product:
    category_id: [cat_index]
    product_id: [prod_index]
"""
    p = tmp_path / "config.yaml"
    p.write_text(cfg_text)
    cfg = load_config(p)
    payload = json.dumps({"after": {"category_id": 7, "product_id": 42}})
    ev = {"offset": "1000-0", "stream": "m2.m2.catalog_category_product", "fields": {"key": payload}}
    src = tmp_path / "in"
    src.mkdir()
    (src / "b.json").write_text(json.dumps(ev))
    handles = watch(spark, cfg, str(src), str(tmp_path / "work"))
    handles.query.awaitTermination()
    out = spark.read.json(handles.output_dir)
    assert _target_records(out, "target.cat_index") == ["[]", "[7]"] or set(
        _target_records(out, "target.cat_index")
    ) == {"[]", "[7]"}
    assert set(_target_records(out, "target.prod_index")) == {"[]", "[42]"}


def test_watch_dead_letter_sink(spark, tmp_path):
    """A malformed envelope (unparseable payload / missing id) must survive
    in the dead-letter sink even under acknowledge=delete — the rebuild's
    upgrade over the reference, which throws and wedges the stream on the
    first malformed record (RedisSource.java:63-66)."""
    good = _envelope_compact("1000-0", 1)
    bad = {
        "offset": "1001-0",
        "stream": "m2.m2.catalog_category_entity",
        "fields": {"key": "{not json"},
    }
    _, handles, out = _run(spark, tmp_path, [good, bad], ack="delete")
    # good record still routed
    for tgt in ("target.catalog_product_flat", "target.catalog_category_product"):
        assert set(_target_records(out, tgt)) == {"[]", "[1]"}
    # bad record survives in the dead-letter dir, once per routed target
    dead = spark.read.json(handles.dead_dir)
    rows = dead.collect()
    assert {r.offset for r in rows} == {"1001-0"}
    assert all(r.stream == "m2.m2.catalog_category_entity" for r in rows)
    # the bad offset was still acked (batch membership is the barrier)
    acks = spark.read.json(handles.ack_dir)
    assert {r.offset for r in acks.collect()} == {"1000-0", "1001-0"}


def test_config_validation_rejects_feedback_loop(tmp_path):
    cfg_text = """\
source: {prefix: "m2.m2."}
target: {prefix: "m2.m2."}
mapping:
  catalog_category_product:
    entity_id: [catalog_category_product]
"""
    p = tmp_path / "bad.yaml"
    p.write_text(cfg_text)
    with pytest.raises(ValueError, match="collides"):
        load_config(p)


def test_debezium_generate(tmp_path):
    from cdc_dedupe_spark.debezium import generate

    cfg = load_config(_write_config(tmp_path))
    out = generate(cfg)
    assert "debezium.source.topic.prefix=m2" in out
    assert "debezium.source.table.include.list=m2.catalog_category_entity" in out
    assert "debezium.source.column.include.list=m2.catalog_category_entity.entity_id" in out
    assert "{{" not in out  # every placeholder substituted


@pytest.mark.parametrize("ack", ["delete", "simple"])
def test_watch_redis_to_redis_topology(spark, tmp_path, ack):
    """The reference's actual topology end-to-end: source events polled
    from Redis streams, packed batches XADDed to target Redis streams
    (RedisSource.java:72-93 in, WatchStream.java:291-293 out) — run over
    the file-backed fake client. acknowledge=delete empties the source
    stream (S20, WatchTests.java:151-154); simple retains all entries
    (WatchTests.java:245-248)."""
    cfg = load_config(_write_config(tmp_path, ack))
    fake, opts, add = _redis_source(tmp_path)
    add([1, 2, 1, 2])
    handles = watch(spark, cfg, None, str(tmp_path / "work"), redis_options=opts, redis_sink=True)
    handles.query.awaitTermination()

    for target in ("target.catalog_product_flat", "target.catalog_category_product"):
        entries = fake.xrange(target)
        ids = [json.loads(f["ids"]) for _, f in entries]
        assert ids[0] == []  # seed record first (WatchStream.java:262-265)
        assert ids[1:] == [[1, 2]]  # one deduped batch

    # ack ledger covers all 4 source offsets
    acks = spark.read.json(handles.ack_dir)
    assert acks.count() == 4
    assert acks.select("ack_mode").distinct().first().ack_mode == ack

    # XACK parity (WatchStream.java:196-205): the consumer group exists at
    # the source stream and every offset was XACKed against it
    src_stream = "m2.m2.catalog_category_entity"
    assert fake.groups(src_stream) == ["cdc"]
    assert sorted(fake.acked(src_stream, "cdc")) == [f"1-{i}" for i in range(1, 5)]

    # S20: delete mode empties the source stream, simple retains it
    residue = fake.xrange(src_stream)
    assert len(residue) == (0 if ack == "delete" else 4)

    # the ack path batches: one XACK (+ one XDEL) round trip per
    # stream-chunk, never one per record
    rts = fake.round_trips()
    assert rts.count("xack") <= 2
    assert rts.count("xdel") <= (2 if ack == "delete" else 0)


def test_watch_closes_every_redis_client(spark, tmp_path):
    """Every Redis client the pipeline opens is closed, in the process
    that opened it: the driver's startup client (group bootstrap and
    seeds), XADD client and ack client, and the source runner's read
    clients."""
    from collections import Counter

    cfg = load_config(_write_config(tmp_path, "delete"))
    fake, opts, add = _redis_source(
        tmp_path, client_factory="cdc_dedupe_spark.sources.fake_redis:make_counting_client"
    )
    add([1, 2, 1, 2])
    handles = watch(spark, cfg, None, str(tmp_path / "work"), redis_options=opts, redis_sink=True)
    handles.query.awaitTermination()
    assert [json.loads(f["ids"]) for _, f in fake.xrange("target.catalog_product_flat")] == [
        [], [1, 2]
    ]
    opened, closed = Counter(), Counter()
    for line in (fake.root / "_clients.log").read_text().split():
        event, pid = line.split(":")
        (opened if event == "open" else closed)[int(pid)] += 1
    # the startup client and the batch's XADD and ack clients, all on the
    # driver
    assert opened[os.getpid()] == closed[os.getpid()] == 3, (opened, closed)
    # plus the source runner's read client
    assert sum(opened.values()) >= 4, opened
    assert opened == closed, (opened, closed)


def test_watch_batch_reads_source_once(spark, tmp_path):
    """The source is read exactly ONCE per batch: one XRANGE per (stream,
    batch), sent by the source runner, and one scan of the batch for the
    one collect that feeds both the packed XADD and the JSON files of the
    rest. Redis-sink mode with group+delete acks = the most sinks."""
    cfg = load_config(_write_config(tmp_path, "delete"))
    fake, opts, add = _redis_source(tmp_path)
    add([1, 2, 1, 2])
    handles = watch(spark, cfg, None, str(tmp_path / "work"), redis_options=opts, redis_sink=True)
    handles.query.awaitTermination()

    # one stream, one availableNow batch -> exactly one XRANGE round trip
    # (snapshot BEFORE the assertion xrange below, which logs its own trip)
    xranges = [op for op in fake.round_trips() if op == "xrange"]
    assert len(xranges) == 1, f"source re-read: {len(xranges)} XRANGEs for 1 (stream, batch)"
    # The batch is cached from that one XRANGE, so a plan that scanned it
    # once per write would still send one; the scan's row count shows it.
    assert [p["numInputRows"] for p in handles.query.recentProgress] == [4]
    # output still correct end-to-end
    entries = fake.xrange("target.catalog_product_flat")
    assert [json.loads(f["ids"]) for _, f in entries][1:] == [[1, 2]]


def _offset_ends(work: Path, stream: str) -> list[str]:
    """``stream``'s end in each batch of the offset log, in batch order."""
    d = work / "checkpoint" / "offsets"
    batches = sorted(int(p.name) for p in d.iterdir() if p.name.isdigit())
    return [json.loads((d / str(b)).read_text().splitlines()[-1])[stream] for b in batches]


def _redis_source(tmp_path: Path, **extra: str):
    """A FakeRedis source, its options, and an ``add(eids)`` that XADDs one
    compact envelope per entity id to the watched stream."""
    redis_dir = tmp_path / "redis"
    fake = FakeRedis(str(redis_dir))
    opts = {
        "client_factory": "cdc_dedupe_spark.sources.fake_redis:make_client",
        "fake_dir": str(redis_dir),
    } | extra

    def add(eids) -> None:
        for eid in eids:
            env = _envelope_compact("", eid)
            fake.xadd(env["stream"], env["fields"])

    return fake, opts, add


def _seq_sorted(ids: list[str]) -> list[str]:
    return sorted(ids, key=lambda rid: int(rid.split("-")[1]))


def test_watch_drain_then_capped_run_delivers_once(spark, tmp_path):
    """An availableNow drain, then a capped processing-time run on the same
    checkpoint: every entry is delivered exactly once, and the offset
    log's ends strictly increase — the capped run starts at the drain's
    end and ends each batch at the config's cap-th id. The config is the
    cap's only source: a cap among the Redis options is rejected before
    the drain starts, so it can never truncate it."""
    import time

    config = _write_config(tmp_path, "simple")
    config.write_text(config.read_text().replace("source: {size: 1000", "source: {size: 2"))
    cfg = load_config(config)
    src, tgt = "m2.m2.catalog_category_entity", "target.catalog_product_flat"
    fake, opts, add = _redis_source(tmp_path)
    work = tmp_path / "work"
    add([1, 2, 3, 4])

    with pytest.raises(ValueError, match="buffers.source.size"):
        watch(spark, cfg, None, str(work), redis_options=opts | {"max_entries_per_batch": "1"})
    assert not work.exists() and fake.acked(src, "cdc") == []
    h = watch(spark, cfg, None, str(work), redis_options=opts, redis_sink=True)
    h.query.awaitTermination()
    # the drain consumed everything in one batch: no cap truncated it
    assert _seq_sorted(fake.acked(src, "cdc")) == [f"1-{i}" for i in range(1, 5)]
    assert _offset_ends(work, src) == ["1-4"]

    add([5, 6, 7, 8, 9])
    h = watch(spark, cfg, None, str(work), available_now=False, redis_options=opts, redis_sink=True)
    deadline = time.time() + 120
    while len(fake.acked(src, "cdc")) < 9 and time.time() < deadline:
        time.sleep(0.5)
    h.query.stop()
    h.query.awaitTermination()

    acked = fake.acked(src, "cdc")
    assert len(acked) == 9 and _seq_sorted(acked) == [f"1-{i}" for i in range(1, 10)]
    packed = [json.loads(f["ids"]) for _, f in fake.xrange(tgt)][1:]
    assert sorted(i for ids in packed for i in ids) == list(range(1, 10)), packed
    ends = _offset_ends(work, src)
    assert ends == ["1-4", "1-6", "1-8", "1-9"], ends


def test_watch_replays_uncommitted_batch_with_its_offsets(spark, tmp_path):
    """A batch the offset log holds but the commit log does not is re-read
    on restart with exactly its logged range, though new entries arrived
    meanwhile: the restart replays batch 0 (its four entries, re-acked
    through the done-marked path) and stops; the next run reads the new
    entries as batch 1."""
    cfg = load_config(_write_config(tmp_path, "simple"))
    src, tgt = "m2.m2.catalog_category_entity", "target.catalog_product_flat"
    fake, opts, add = _redis_source(tmp_path)
    work = tmp_path / "work"

    def run() -> None:
        h = watch(spark, cfg, None, str(work), redis_options=opts, redis_sink=True)
        h.query.awaitTermination()

    first = [f"1-{i}" for i in range(1, 5)]
    add([1, 2, 3, 4])
    run()
    assert fake.acked(src, "cdc") == first

    _delete_last_commit(work)
    add([5, 6])
    run()
    assert fake.acked(src, "cdc") == first + first, "the replay must re-read batch 0 only"
    assert _offset_ends(work, src) == ["1-4"]

    run()
    assert fake.acked(src, "cdc") == first + first + ["1-5", "1-6"]
    assert _offset_ends(work, src) == ["1-4", "1-6"]
    assert [json.loads(f["ids"]) for _, f in fake.xrange(tgt)] == [[], [1, 2, 3, 4], [5, 6]]


def test_watch_restart_resumes_from_checkpoint(spark, tmp_path):
    """Restart with the same work dir must NOT reprocess already-checked-
    pointed input: the first run's events are neither re-acked nor re-
    emitted (the checkpoint replaces the reference's refcount ledger,
    WatchStream.java:233-242), while new files picked up after the restart
    flow through normally."""
    events0 = [_envelope_compact(f"100{i}-0", eid) for i, eid in enumerate([1, 2])]
    cfg, handles, out = _run(spark, tmp_path, events0)
    tgt = "target.catalog_product_flat"
    first = [r for r in _target_records(out, tgt) if r != "[]"]
    assert len(first) == 1 and json.loads(first[0]) == [1, 2]

    # drop a new file (id 2 again + new id 3) and restart on the same
    # checkpoint/work dir
    events1 = [_envelope_compact(f"200{i}-0", eid) for i, eid in enumerate([2, 3])]
    (tmp_path / "in" / "batch1.json").write_text("\n".join(json.dumps(e) for e in events1))
    handles2 = watch(spark, cfg, str(tmp_path / "in"), str(tmp_path / "work"))
    handles2.query.awaitTermination()
    out2 = spark.read.json(handles2.output_dir)

    batches = [json.loads(r) for r in _target_records(out2, tgt) if r != "[]"]
    # exactly one batch per input file; batch0's [1,2] not re-emitted
    assert sorted(batches) == [[1, 2], [2, 3]], batches
    acks = spark.read.json(handles2.ack_dir).collect()
    offsets = [r.offset for r in acks]
    assert sorted(offsets) == ["1000-0", "1001-0", "2000-0", "2001-0"]  # each exactly once


def _delete_last_commit(work: Path) -> None:
    """Simulate a crash between the sink actions and the checkpoint commit:
    the offsets entry for the last batch survives, its commits entry does
    not — on restart the engine re-runs that batch with the same batchId."""
    commits = sorted(
        (p for p in (work / "checkpoint" / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    commits[-1].unlink()
    # Hadoop's checksummed local FS keeps a .N.crc sidecar; a stale one
    # makes the replay's commit rewrite fail as a concurrent modification.
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()


def test_unknown_source_format_warns(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(CONFIG_YAML.format(ack="simple").replace("format: compact", "format: protobuf"))
    with pytest.warns(UserWarning, match="source.format"):
        cfg = load_config(p)
    assert cfg.source.format == "protobuf"  # carried through, decode is per-record


def test_declared_format_mismatch_warns_once(spark, tmp_path):
    """format: extended + all-compact records -> one warning on the first
    non-empty batch (detection is per-record, so output is unaffected)."""
    import warnings as _w

    from cdc_dedupe_spark.streaming.pipeline import (
        _format_check_key,
        _format_checked,
        _warn_format_mismatch,
    )

    cfg = load_config(_write_config(tmp_path, "simple"))
    cfg = type(cfg)(
        source=type(cfg.source)(format="extended"),
        buffers=cfg.buffers,
        target=cfg.target,
        mapping=cfg.mapping,
    )
    # a first batch of two compact records
    with pytest.warns(UserWarning, match="decode as the other envelope form"):
        _warn_format_mismatch(cfg, n_compact=2, n_total=2)
    with _w.catch_warnings():
        _w.simplefilter("error")  # second call: checked-set short-circuits, no warning
        _warn_format_mismatch(cfg, n_compact=2, n_total=2)
    _format_checked.discard(_format_check_key(cfg))


def test_watch_delete_with_foreign_consumer_pel(spark, tmp_path):
    """acknowledge=delete while ANOTHER consumer group holds the same
    entries in its PEL (pending entries list): the reference's tests
    assert the source still empties (WatchTests.java:151-154), and real
    Redis leaves the foreign PEL dangling rather than blocking XDEL. The
    pipeline must neither skip the delete nor touch the foreign group."""
    cfg = load_config(_write_config(tmp_path, "delete"))
    fake, opts, add = _redis_source(tmp_path)
    src_stream = "m2.m2.catalog_category_entity"
    add([1, 2, 1, 2])

    # A foreign group's consumer reads everything and acks NOTHING, so all
    # 4 entries sit in its PEL when our pipeline XDELs them.
    fake.xgroup_create(src_stream, "other", id="0-0")
    fake.xreadgroup("other", "rival", {src_stream: ">"})
    assert fake.pending(src_stream, "other") == [f"1-{i}" for i in range(1, 5)]

    handles = watch(spark, cfg, None, str(tmp_path / "work"), redis_options=opts, redis_sink=True)
    handles.query.awaitTermination()

    # Source emptied despite the foreign PEL (the reference's assertion)...
    assert fake.xrange(src_stream) == []
    # ...our group acked all 4 offsets...
    assert sorted(fake.acked(src_stream, "cdc")) == [f"1-{i}" for i in range(1, 5)]
    # ...and the foreign group's PEL is untouched (dangling, like real
    # Redis: XDEL does not clear other groups' pending references).
    assert fake.pending(src_stream, "other") == [f"1-{i}" for i in range(1, 5)]
    # The deduped batch still reached every target.
    for target in ("target.catalog_product_flat", "target.catalog_category_product"):
        ids = [json.loads(f["ids"]) for _, f in fake.xrange(target)]
        assert ids == [[], [1, 2]]


def test_watch_crash_mid_delete_ack_no_output_loss(spark, tmp_path, monkeypatch):
    """The data-loss window through the engine: a crash AFTER some
    acknowledge=delete XDELs but BEFORE the checkpoint commit. The done
    marker is written BEFORE the destructive ack, so the engine's replay
    of the now partially deleted range takes the committed path: skip the
    sinks (no scrub, no rewrite from the shrunk source) and only finish
    the remaining acks. Marking AFTER the ack would scrub and rewrite the
    batch from whatever entries survived the partial delete: permanent
    loss. The acks run on the driver, so patching FakeRedis reaches them."""
    from cdc_dedupe_spark.sources import redis_stream

    cfg = load_config(_write_config(tmp_path, "delete"))
    src = "m2.m2.catalog_category_entity"
    fake, opts, add = _redis_source(tmp_path)
    add([1, 2, 1, 2])
    work = str(tmp_path / "work")

    monkeypatch.setattr(redis_stream, "PIPELINE_CHUNK", 2)
    with monkeypatch.context() as m:
        _crash_on(m, FakeRedis, "xdel")
        with pytest.raises(Exception):
            h = watch(spark, cfg, None, work, redis_options=opts, redis_sink=True)
            h.query.awaitTermination()
    assert len(fake.xrange(src)) == 2  # the first XDEL chunk went out, the second did not

    h = watch(spark, cfg, None, work, redis_options=opts, redis_sink=True)
    h.query.awaitTermination()
    for target in ("target.catalog_product_flat", "target.catalog_category_product"):
        ids = [json.loads(f["ids"]) for _, f in fake.xrange(target)]
        assert ids == [[], [1, 2]], f"{target}: {ids}"  # seed + ONE intact batch
    assert fake.xrange(src) == []  # remaining acks finished on replay


def test_watch_redis_source_json_sink_still_acks(spark, tmp_path):
    """acknowledge=delete with a Redis SOURCE but JSON file sinks: the
    S15-S20 ack path is about the source stream, not the sink kind — the
    source must still be XACKed and emptied (an ack block gated on
    redis_sink would skip it)."""
    cfg = load_config(_write_config(tmp_path, "delete"))
    fake, opts, add = _redis_source(tmp_path)
    add([1, 2, 1, 2])
    handles = watch(spark, cfg, None, str(tmp_path / "work"), redis_options=opts)
    handles.query.awaitTermination()

    out = spark.read.json(handles.output_dir)
    tgt = "target.catalog_product_flat"
    assert [r for r in _target_records(out, tgt) if r != "[]"] == ["[1,2]"] or [
        json.loads(r) for r in _target_records(out, tgt) if r != "[]"
    ] == [[1, 2]]
    src_stream = "m2.m2.catalog_category_entity"
    assert sorted(fake.acked(src_stream, "cdc")) == [f"1-{i}" for i in range(1, 5)]
    assert fake.xrange(src_stream) == []  # delete mode empties the source


def test_watch_restart_seeds_targets_once(spark, tmp_path):
    """Seeds carry no batch id, so they are outside the idempotent
    machinery: re-seeding on every restart would grow each target by one
    '[]' per process start. The marker inside the
    checkpoint dir bounds it to once per pipeline lifetime."""
    _run(spark, tmp_path, [])
    h2 = watch(spark, load_config(tmp_path / "config.yaml"), str(tmp_path / "in"), str(tmp_path / "work"))
    h2.query.awaitTermination()
    out = spark.read.json(h2.output_dir)
    for target in ("target.catalog_product_flat", "target.catalog_category_product"):
        assert _target_records(out, target) == ["[]"], target


def test_sink_manifest_prunes_old_markers(tmp_path):
    """The manifest must not grow unboundedly (two files per micro-batch
    forever): markers behind the RETAIN horizon are
    pruned on mark()."""
    m = SinkManifest(tmp_path / "m")
    for b in range(SinkManifest.RETAIN + 50):
        m.start(b)
        m.mark(b)
    names = {f.name for f in (tmp_path / "m").iterdir()}
    last = SinkManifest.RETAIN + 49
    assert f"{last}.done" in names
    assert "0.done" not in names and "0.started" not in names
    assert len(names) <= 2 * (SinkManifest.RETAIN + 1)
    # pruning never touches what committed() relies on for recent batches
    assert m.committed(last) and not m.committed(0)


def test_config_hardening(tmp_path):
    """Config edge cases: empty file -> clear error; zero target buffer ->
    rejected (it divides the packing row number); scalar target ->
    one-target list, never char-split; invalid acknowledge -> loud
    conservative fallback; feedback loop detected with EMPTY prefixes."""
    import warnings as w

    empty = tmp_path / "empty.yaml"
    empty.write_text("# nothing here\n")
    with pytest.raises(ValueError, match="empty or not a mapping"):
        load_config(empty)

    zb = tmp_path / "zb.yaml"
    zb.write_text(
        CONFIG_YAML.format(ack="simple").replace(
            "target: {size: 1000, time: 1000}", "target: {size: 0, time: 1000}"
        )
    )
    with pytest.raises(ValueError, match="buffers.target.size"):
        load_config(zb)

    scalar = tmp_path / "scalar.yaml"
    scalar.write_text(
        "mapping:\n  events_tbl:\n    user_id: analytics\n"
    )
    cfg = load_config(scalar)
    assert cfg.mapping["events_tbl"]["user_id"] == ["analytics"]

    badack = tmp_path / "badack.yaml"
    badack.write_text(CONFIG_YAML.format(ack="Delete"))
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        cfg = load_config(badack)
    assert cfg.source.acknowledge == "simple"
    assert any("acknowledge" in str(c.message) for c in caught)

    loop = tmp_path / "loop.yaml"
    loop.write_text("mapping:\n  events_tbl:\n    user_id:\n      - events_tbl\n")
    with pytest.raises(ValueError, match="feed back"):
        load_config(loop)


def _sink_relations(tagged):
    """(packed, acks, dead): the plan's sink kinds as filters of its one
    tagged relation."""
    return (tagged.filter(tagged._sink == kind) for kind in ("targets", "acks", "dead"))


def test_watch_plan_malformed_offset_routes_to_dead(spark, tmp_path):
    """An unparseable offset must degrade to the dead relation (try_cast),
    never throw under ANSI mode and wedge the stream; and dead carries ONE
    row per malformed source entry, not one per fan-out target."""
    from cdc_dedupe_spark.plans.watch_plan import compile_watch_plan
    from cdc_dedupe_spark.streaming.pipeline import ENVELOPE_ROW_SCHEMA

    cfg = load_config(_write_config(tmp_path, "simple"))
    good = _envelope_compact("1-1", 7)
    bad = _envelope_compact("not-an-id", 8)  # ms part unparseable
    batch = spark.createDataFrame(
        [(e["offset"], e["stream"], e["fields"]) for e in (good, bad)],
        ENVELOPE_ROW_SCHEMA,
    )
    packed, acks, dead = _sink_relations(compile_watch_plan(batch, cfg))
    ids = sorted(json.loads(r.ids) for r in packed.collect())
    assert ids == [[7], [7]]  # one batch per target, malformed entry excluded
    dead_rows = dead.collect()
    assert len(dead_rows) == 1  # entity maps to TWO targets; still one row
    assert dead_rows[0].offset == "not-an-id"
    # both offsets still acked: under acknowledge=delete the malformed
    # entry is removed from the source only because dead retains a copy
    assert sorted(r.offset for r in acks.collect()) == ["1-1", "not-an-id"]


def test_watch_plan_malformed_seq_part_routes_to_dead(spark, tmp_path):
    """A PRESENT but unparseable seq part ("123-abc") is malformed and
    must go to dead — silently coercing it to seq 0 would alias a genuine
    "123-0" in the packing order. A bare "123" (no '-') stays
    valid: it is the documented Redis shorthand for "123-0"."""
    from cdc_dedupe_spark.plans.watch_plan import compile_watch_plan
    from cdc_dedupe_spark.streaming.pipeline import ENVELOPE_ROW_SCHEMA

    cfg = load_config(_write_config(tmp_path, "simple"))
    bare = _envelope_compact("123", 7)  # valid shorthand -> routed
    bad_seq = _envelope_compact("123-abc", 8)  # malformed seq -> dead
    batch = spark.createDataFrame(
        [(e["offset"], e["stream"], e["fields"]) for e in (bare, bad_seq)],
        ENVELOPE_ROW_SCHEMA,
    )
    packed, acks, dead = _sink_relations(compile_watch_plan(batch, cfg))
    ids = sorted(json.loads(r.ids) for r in packed.collect())
    assert ids == [[7], [7]]  # bare-ms entry routed, bad-seq entry excluded
    dead_rows = dead.collect()
    assert [r.offset for r in dead_rows] == ["123-abc"]
    assert sorted(r.offset for r in acks.collect()) == ["123", "123-abc"]


# One static batch sunk by _process_batch directly (no stream, no seeds):
# target size 2, so each target gets two packed records; the ':' in the
# target prefix is escaped by Spark in the partition directory names.
STATIC_CONFIG = """\
source: {format: compact, prefix: "m2.m2.", group: cdc, consumer: cdc, acknowledge: delete}
buffers: {source: {size: 1000, time: 1000}, dedupe: {size: 100000, time: 5000}, target: {size: 2, time: 1000}}
target: {prefix: "t:"}
mapping:
  catalog_category_entity:
    entity_id: [flat, product]
"""
STATIC_EVENTS = [
    *(_envelope_compact(f"100{i}-0", eid) for i, eid in enumerate([1, 2, 1, 3, 4])),
    # malformed payload: dead letter with its payload
    {"offset": "1005-0", "stream": "m2.m2.catalog_category_entity", "fields": {"key": "{not json"}},
    # extended envelope without `value`: dead letter with a NULL payload
    {"offset": "1006-0", "stream": "m2.m2.catalog_category_entity", "fields": {"a": "1", "b": "2"}},
    # unroutable stream: neither sunk nor acked
    {"offset": "1007-0", "stream": "m2.m2.other", "fields": {"key": "{}"}},
]


def _sink_static_batch(
    spark, tmp_path, batch_ids=(3,), events=STATIC_EVENTS, partitions=None, parallel=False
):
    """Sink ``events`` (repartitioned into ``partitions`` when given) once
    per batch id into ``tmp_path/work`` (source acks go to a FakeRedis),
    with the one-task plan or, under ``parallel``, the file source's plan;
    returns (work dir, fake, jobs per batch id)."""
    from cdc_dedupe_spark.streaming.pipeline import ENVELOPE_ROW_SCHEMA, _process_batch

    (tmp_path / "config.yaml").write_text(STATIC_CONFIG)
    cfg = load_config(tmp_path / "config.yaml")
    work = tmp_path / "work"
    fake = FakeRedis(str(tmp_path / "redis"))
    ack_options = {
        "client_factory": "cdc_dedupe_spark.sources.fake_redis:make_client",
        "fake_dir": str(tmp_path / "redis"),
    }
    manifest = SinkManifest(work / "checkpoint" / "sink_manifest")
    batch = spark.createDataFrame(
        [(e["offset"], e["stream"], e["fields"]) for e in events], ENVELOPE_ROW_SCHEMA
    )
    if partitions is not None:
        batch = batch.repartition(partitions)
    sc = spark.sparkContext
    jobs = {}
    for bid in batch_ids:
        group = f"static-sink-{id(tmp_path)}-{bid}"
        sc.setJobGroup(group, group)
        try:
            _process_batch(batch, bid, cfg, str(work), None, manifest, ack_options, parallel)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[bid] = len(sc.statusTracker().getJobIdsForGroup(group))
    return work, fake, jobs


def _sink_lines(work: Path, kind: str) -> list[tuple[str, dict]]:
    """(partition directory name, JSON line) for every line under a sink
    (hidden and ``_``-prefixed files left out, as Spark's reader does)."""
    return [
        (f.parent.name, json.loads(line))
        for f in sorted((work / kind).rglob("*"))
        if f.is_file() and not f.name.startswith(("_", "."))
        for line in f.read_text().splitlines()
        if line.strip()
    ]


def test_watch_batch_one_write_no_broadcast(spark, tmp_path, capsys):
    """A warm micro-batch is one scan in one task: at most 1 Spark job (the
    collect; no shuffle-map stage, no emptiness probe, no per-sink writes,
    no executor ack pass). The sink relation holds no exchange at all, no
    broadcast either (routing is a literal map expression), and the
    XACKed offsets are the published ack ledger's. The file source's
    parallel plan holds exactly one exchange."""
    import re

    from cdc_dedupe_spark.plans.watch_plan import compile_watch_plan
    from cdc_dedupe_spark.streaming.pipeline import ENVELOPE_ROW_SCHEMA

    work, fake, jobs = _sink_static_batch(spark, tmp_path, batch_ids=(0, 1))
    assert jobs[1] <= 1, jobs
    acked = fake.acked("m2.m2.catalog_category_entity", "cdc")
    assert sorted(set(acked)) == [f"100{i}-0" for i in range(7)]
    assert set(acked) == {row["offset"] for _, row in _sink_lines(work, "acks")}

    cfg = load_config(tmp_path / "config.yaml")
    batch = spark.createDataFrame(
        [(e["offset"], e["stream"], e["fields"]) for e in STATIC_EVENTS], ENVELOPE_ROW_SCHEMA
    )
    capsys.readouterr()
    compile_watch_plan(batch, cfg).explain("formatted")
    plan = capsys.readouterr().out
    assert "Exchange" not in plan, plan
    compile_watch_plan(batch, cfg, parallel=True).explain("formatted")
    plan = capsys.readouterr().out
    assert re.findall(r"^\(\d+\) (\w*Exchange)", plan, re.M) == ["Exchange"], plan


def test_watch_sink_files_independent_of_input_partitioning(spark, tmp_path):
    """The windows' total order fixes every line, whatever the batch's
    partitioning and the plan's shape: a batch spread over 3 partitions
    publishes the same lines per file as one partition, in one task or
    over the parallel plan's exchange."""
    files = {}
    for partitions, parallel in ((1, False), (3, False), (3, True)):
        name = f"{partitions}-{parallel}"
        (tmp_path / name).mkdir()
        work, _, _ = _sink_static_batch(
            spark, tmp_path / name, partitions=partitions, parallel=parallel
        )
        files[name] = {
            str(f.relative_to(work)): f.read_text().splitlines()
            for kind in ("targets", "acks", "dead")
            for f in sorted((work / kind).rglob("*.json"))
        }
    assert files["3-False"] == files["1-False"], files
    assert files["3-True"] == files["1-False"], files


def test_watch_sink_format_per_kind(spark, tmp_path):
    """The one tagged relation publishes exactly the files the per-kind
    writes did: the union's NULL fields never leak into a line, every file
    sits directly under <sink>/<key column>=<value>/ as b{batchId}-*, and
    the driver writes them without the Hadoop filesystem: no staged
    layout, committer directory, checksum, marker or tmp file exists."""
    work, _, _ = _sink_static_batch(spark, tmp_path)

    targets, acks, dead = (_sink_lines(work, k) for k in ("targets", "acks", "dead"))
    assert len(targets) == 4 and all(set(row) == {"ids"} for _, row in targets)
    assert len(acks) == 7 and all(set(row) == {"offset", "ack_mode"} for _, row in acks)
    assert {row["offset"]: set(row) for _, row in dead} == {
        "1005-0": {"offset", "id_column", "payload"},
        "1006-0": {"offset", "id_column"},
    }
    for kind, col in (("targets", "target_stream"), ("acks", "stream"), ("dead", "stream")):
        for f in (work / kind).rglob("*"):
            if f.is_file():
                assert f.parent.parent == work / kind and f.parent.name.startswith(f"{col}="), f
                assert f.name.startswith("b3-"), f
    assert not [d for d in work.rglob("*") if d.name.startswith(("_sink=", "_key="))]
    assert not [
        p for p in work.rglob("*")
        if p.name in ("staging", "_temporary", "_SUCCESS") or p.name.endswith((".crc", ".tmp"))
    ]
    # partition values keep Spark's escaping, so they read back verbatim
    assert sorted(d.name for d in (work / "targets").iterdir()) == [
        "target_stream=t%3Aflat", "target_stream=t%3Aproduct"
    ]
    out = spark.read.json(str(work / "targets"))
    assert {r.target_stream for r in out.select("target_stream").distinct().collect()} == {
        "t:flat", "t:product"
    }


def test_driver_publish_matches_spark_json_writer(spark, tmp_path):
    """The driver writes each sink file as Spark's partitioned JSON writer
    does for the same rows: the partition directory escapes every
    character escapePathName escapes and keeps non-ASCII text, each line
    matches byte for byte (control characters, quote, backslash, 0x7F,
    U+2028, non-ASCII), and spark.read.json reads the key back verbatim."""
    from cdc_dedupe_spark.plans.watch_plan import SINK_COLUMNS, SINK_KEYS
    from cdc_dedupe_spark.streaming.pipeline import _publish_json

    key = "".join(map(chr, range(0x01, 0x20))) + "\"#%'*/:=?\\{[]^\x7f t:ünï✓"
    payload = "".join(map(chr, range(0x20))) + '"\\ \x7f\u2028 ünï ✓ \U0001F600'
    rows = [
        ("targets", key, "[1,2]", None, None, None, None),
        ("dead", key, None, "1-1", "entity_id", payload, None),
        ("acks", key, None, "1-1", None, None, "delete"),
    ]
    spark_dir = tmp_path / "spark"
    spark.createDataFrame(rows, ", ".join(f"{c} string" for c in SINK_COLUMNS)).write.option(
        "ignoreNullFields", True
    ).partitionBy("_sink", "_key").json(str(spark_dir))
    _publish_json(rows, 0, SINK_KEYS, str(tmp_path / "driver"))
    for sink, col in SINK_KEYS.items():
        (spark_key_dir,) = (spark_dir / f"_sink={sink}").iterdir()
        (driver_key_dir,) = (tmp_path / "driver" / sink).iterdir()
        assert driver_key_dir.name == col + spark_key_dir.name[len("_key"):]
        spark_bytes = b"".join(f.read_bytes() for f in sorted(spark_key_dir.glob("part-*")))
        assert (driver_key_dir / "b0-part-00000.json").read_bytes() == spark_bytes, sink
    back = spark.read.json(str(tmp_path / "driver" / "dead")).collect()
    assert [(r.stream, r.payload) for r in back] == [(key, payload)]


def test_watch_replay_scrubs_files_it_does_not_rewrite(spark, tmp_path):
    """A replay of a batch that started and never finished deletes what the
    crashed attempt left under names the replay does not write again: a
    published file or a hidden tmp file under a key the replay no longer
    routes to (its source was trimmed, or its mapping changed, between
    the attempts). Other batches' files stay. The crash matrix cannot show
    this: a replay of the same entries rewrites every file under the
    crashed attempt's name."""
    work = tmp_path / "work"
    manifest_dir = work / "checkpoint" / "sink_manifest"
    manifest_dir.mkdir(parents=True)
    (manifest_dir / "3.started").write_text("")
    gone = work / "targets" / "target_stream=t%3Agone"
    gone.mkdir(parents=True)
    stale = [gone / "b3-part-00000.json", gone / ".b3-part-00000.json.tmp"]
    kept = [gone / "b30-part-00000.json", gone / ".b4-part-00000.json.tmp"]
    for f in stale + kept:
        f.write_text('{"ids":"[9]"}\n')

    work, _, _ = _sink_static_batch(spark, tmp_path)
    assert sorted(gone.iterdir()) == sorted(kept)
    assert len(_sink_lines(work, "targets")) == 4 + 1  # the kept b30 file's line
    assert len(_sink_lines(work, "acks")) == 7
    assert len(_sink_lines(work, "dead")) == 2


class Crash(Exception):
    """A crash injected on the driver."""


def _crash_on(m, owner, name: str, call: int = 1, before: bool = False) -> None:
    """Through monkeypatch ``m``, make ``owner.name`` raise Crash at its
    ``call``-th call: after the call has run or, under ``before``, in its
    place."""
    real, calls = getattr(owner, name), itertools.count(1)

    def crashing(*args, **kwargs):
        n = next(calls)
        result = None if n == call and before else real(*args, **kwargs)
        if n == call:
            raise Crash(name)
        return result

    m.setattr(owner, name, crashing)


def _crash_mid_file(m) -> None:
    """Crash the second sink file after its tmp file is written, before
    its rename."""
    real, calls = pipeline._write_json_file, itertools.count(1)

    def write(path, lines):
        if next(calls) == 2:
            _crash_on(m, os, "replace", before=True)
        real(path, lines)

    m.setattr(pipeline, "_write_json_file", write)


# Each side-effect boundary of _process_batch, in its order, and how to
# crash there; None lets the batch run to its end, which stands for a
# crash before the checkpoint commit. XADD, XACK and XDEL go out
# MATRIX_CHUNK entries per command, so a crash after the first command
# leaves the rest unsent.
CRASHES = {
    "after_start": lambda m: _crash_on(m, SinkManifest, "start"),
    "mid_file": _crash_mid_file,
    "mid_xadd": lambda m: _crash_on(m, FakePipeline, "execute"),
    "before_mark": lambda m: _crash_on(m, SinkManifest, "mark", before=True),
    "after_mark": lambda m: _crash_on(m, SinkManifest, "mark"),
    "after_xack1": lambda m: _crash_on(m, FakeRedis, "xack", 1),
    "after_xack2": lambda m: _crash_on(m, FakeRedis, "xack", 2),
    "after_xdel1": lambda m: _crash_on(m, FakeRedis, "xdel", 1),
    "after_xdel2": lambda m: _crash_on(m, FakeRedis, "xdel", 2),
    "before_commit": None,
}
MATRIX_CHUNK = 3
# One source stream: routed entries and dead letters in both batches;
# batch 3's five entries take two ack commands.
MATRIX_BATCHES = {
    2: [*(_envelope_compact("", eid) for eid in [1, 2, 1, 3, 4]), *STATIC_EVENTS[5:7]],
    3: [*(_envelope_compact("", eid) for eid in [2, 5, 5, 6]), STATIC_EVENTS[5]],
}


def _crash_run(spark, root: Path, sink: str, ack: str, m=None, crash: str | None = None):
    """Sink batch 2, then batch 3, through ``_process_batch`` from a
    FakeRedis source. Under ``crash`` (armed through monkeypatch ``m``),
    batch 3 crashes there first and is run again with its id, as the
    engine replays a batch its commit log lacks. Each run re-reads the
    batch's range from the source, as ``readBetweenOffsets`` does, so
    XDELs before a crash shrink the replay. Returns the sink state (each
    file's bytes, hidden files too, and each target stream's entries)
    after batch 2 and at the end, the ledger's batch ids and the fake."""
    from cdc_dedupe_spark.streaming.pipeline import ENVELOPE_ROW_SCHEMA, _process_batch

    config = root / "config.yaml"
    config.write_text(STATIC_CONFIG.replace("acknowledge: delete", f"acknowledge: {ack}"))
    cfg = load_config(config)
    fake, opts, _ = _redis_source(root)
    src, work = "m2.m2.catalog_category_entity", root / "work"
    ranges = {}
    for bid, events in MATRIX_BATCHES.items():
        ids = [fake.xadd(e["stream"], e["fields"]) for e in events]
        ranges[bid] = ids[0], ids[-1]
    manifest = SinkManifest(work / "checkpoint" / "sink_manifest")

    def run(bid: int) -> None:
        rows = [(rid, src, f) for rid, f in fake.xrange(src, *ranges[bid])]
        batch = spark.createDataFrame(rows, ENVELOPE_ROW_SCHEMA)
        sink_options = opts if sink == "redis" else None
        _process_batch(batch, bid, cfg, str(work), sink_options, manifest, opts)

    def state() -> tuple[dict, dict]:
        files = {
            str(f.relative_to(work)): f.read_bytes()
            for kind in SINK_KEYS
            for f in sorted((work / kind).rglob("*"))
            if f.is_file()
        }
        return files, {t: [f for _, f in fake.xrange(t)] for t in ("t:flat", "t:product")}

    run(2)
    after_2 = state()
    if crash is not None:
        arm = CRASHES[crash]
        with m.context() as armed, pytest.raises(Crash) if arm else contextlib.nullcontext():
            if arm:
                arm(armed)
            run(3)
    run(3)
    ledger = (work / "batch_metrics.jsonl").read_text().splitlines()
    return after_2, state(), [json.loads(line)["batch_id"] for line in ledger], fake


@pytest.fixture(scope="module")
def crash_reference(spark, tmp_path_factory):
    """The uncrashed run's sink states, made once per (sink, ack mode)."""
    refs = {}

    def get(sink: str, ack: str):
        if (sink, ack) not in refs:
            refs[sink, ack] = _crash_run(spark, tmp_path_factory.mktemp("ref"), sink, ack)[:2]
        return refs[sink, ack]

    return get


@pytest.mark.parametrize("crash,sink,ack", [
    (crash, sink, ack)
    for crash in CRASHES for sink in ("files", "redis") for ack in ("simple", "delete")
    if (crash != "mid_xadd" or sink == "redis") and (ack == "delete" or "xdel" not in crash)
])
def test_watch_sink_crash_matrix(spark, tmp_path, monkeypatch, crash_reference, crash, sink, ack):
    """Effectively-once at every side-effect boundary: batch 3 crashes at
    ``crash`` and is replayed with its id. The sinks then hold exactly the
    uncrashed run's output, byte for byte (packed ids, dead letters, the
    acks ledger), with no crashed attempt's file, tmp file or XADD left.
    Batch 2's output is untouched, every source entry is XACKed (and
    XDELed under delete), and the metrics ledger has at most one line per
    batch."""
    from cdc_dedupe_spark.sources import redis_stream

    monkeypatch.setattr(redis_stream, "PIPELINE_CHUNK", MATRIX_CHUNK)
    ref_after_2, ref_final = crash_reference(sink, ack)
    after_2, final, ledger, fake = _crash_run(spark, tmp_path, sink, ack, monkeypatch, crash)
    files, xadds = final
    assert (after_2, final) == (ref_after_2, ref_final)
    # not degenerate: batch 3 publishes dead letters and packed ids
    b3 = {k.split("/")[0] for k in files if "/b3-" in k}
    assert b3 == ({"acks", "dead"} if sink == "redis" else {"targets", "acks", "dead"})
    assert any(f["batch"] == "3" for e in xadds.values() for f in e) == (sink == "redis")
    assert {k: v for k, v in files.items() if "/b2-" in k} == after_2[0]
    assert {t: [f for f in e if f["batch"] == "2"] for t, e in xadds.items()} == after_2[1]

    src = "m2.m2.catalog_category_entity"
    assert set(fake.acked(src, "cdc")) == {f"1-{i}" for i in range(1, 13)}
    assert len(fake.xrange(src)) == (0 if ack == "delete" else 12)
    assert len(ledger) == len(set(ledger)) and 2 in ledger, ledger


def test_watch_batch_metrics_ledger(spark, tmp_path):
    """One ledger line per sunk batch, consistent with that batch's files:
    input and unroutable come from the scan's Observation, the other
    counts from the collected sink rows."""
    work, _, _ = _sink_static_batch(spark, tmp_path)
    (line,) = [json.loads(s) for s in (work / "batch_metrics.jsonl").read_text().splitlines()]
    targets = _sink_lines(work, "targets")
    assert line["batch_id"] == 3
    assert line["input"] == len(STATIC_EVENTS) == 8
    assert line["unroutable"] == 1
    assert line["acked"] == len(_sink_lines(work, "acks")) == 7
    assert line["dead"] == len(_sink_lines(work, "dead")) == 2
    assert line["packed_records"] == len(targets) == 4
    assert line["packed_ids"] == sum(len(json.loads(row["ids"])) for _, row in targets) == 8
    assert all(line[k] >= 0 for k in ("plan_ms", "publish_ms", "ack_ms"))


def test_watch_batch_metrics_ledger_without_sink_rows(spark, tmp_path):
    """A batch of unroutable entries emits no sink row, so the one task
    collects nothing; its scan-side Observation still reports the counts
    to the ledger, and no ack is sent."""
    unroutable = [
        {"offset": f"100{i}-0", "stream": "m2.m2.other", "fields": {"key": "{}"}} for i in range(3)
    ]
    work, fake, _ = _sink_static_batch(spark, tmp_path, events=unroutable)
    (line,) = [json.loads(s) for s in (work / "batch_metrics.jsonl").read_text().splitlines()]
    assert {k: line[k] for k in ("input", "unroutable", "acked", "dead", "packed_records")} == {
        "input": 3, "unroutable": 3, "acked": 0, "dead": 0, "packed_records": 0
    }
    assert not [op for op in fake.round_trips() if op in ("xack", "xdel")]


def test_watch_batch_metrics_ledger_without_sink_rows_parallel(spark, tmp_path):
    """Under the file source's parallel plan, a batch of unroutable entries
    leaves the exchange empty; AQE must not cut the scan-side Observation
    away with it, so the counts still reach the ledger."""
    unroutable = [
        {"offset": f"100{i}-0", "stream": "m2.m2.other", "fields": {"key": "{}"}} for i in range(3)
    ]
    work, _, _ = _sink_static_batch(spark, tmp_path, events=unroutable, parallel=True)
    (line,) = [json.loads(s) for s in (work / "batch_metrics.jsonl").read_text().splitlines()]
    assert {k: line[k] for k in ("input", "unroutable", "acked", "packed_records")} == {
        "input": 3, "unroutable": 3, "acked": 0, "packed_records": 0
    }


def test_watch_duplicate_entries_ack_and_dead_once(spark, tmp_path):
    """A file-source batch can hold one (stream, offset) twice (a Redis
    stream cannot): the duplicate still yields one ack line and one dead
    line, and the batch packs exactly as it does without the duplicate."""
    good = [_envelope_compact(f"100{i}-0", eid) for i, eid in enumerate([1, 2, 1])]
    bad = {"offset": "1005-0", "stream": "m2.m2.catalog_category_entity", "fields": {"key": "{not json"}}
    lines = {}
    for name, events in (("once", [*good, bad]), ("twice", [*good, good[1], bad, bad])):
        (tmp_path / name).mkdir()
        _run(spark, tmp_path / name, events)
        work = tmp_path / name / "work"
        lines[name] = {
            kind: sorted(json.dumps(row, sort_keys=True) for _, row in _sink_lines(work, kind))
            for kind in ("targets", "acks", "dead")
        }
    twice = lines["twice"]
    assert [json.loads(r)["offset"] for r in twice["acks"]] == [
        "1000-0", "1001-0", "1002-0", "1005-0"
    ]
    assert [json.loads(r)["offset"] for r in twice["dead"]] == ["1005-0"]
    assert twice == lines["once"]
    assert sorted(json.loads(r)["ids"] for r in twice["targets"]) == ["[1,2]", "[1,2]", "[]", "[]"]
