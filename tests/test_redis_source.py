"""Tests for the redis_stream Python Data Source (sources/redis_stream.py):
``read(start)`` admission and ``readBetweenOffsets`` replays unit-tested
against the file-backed fake client, plus end-to-end readStream runs, and
the driver-side XADD, ack and scrub functions.
"""

from __future__ import annotations

import json

import pytest

from cdc_dedupe_spark.sources.redis_stream import (
    RedisStreamDataSource,
    RedisStreamReader,
    ZERO_ID,
    _is_missing_stream,
    ack_entries,
    ensure_group,
    scrub_batch,
    xadd_entries,
)
from cdc_dedupe_spark.sources.fake_redis import FakeRedis

ENVELOPE = '{"after": {"entity_id": "%d"}}'


def _opts(tmp_path, streams: str) -> dict[str, str]:
    return {
        "streams": streams,
        "client_factory": "cdc_dedupe_spark.sources.fake_redis:make_client",
        "fake_dir": str(tmp_path),
    }


def _fill(tmp_path, stream: str, ids) -> FakeRedis:
    fake = FakeRedis(str(tmp_path))
    for i in ids:
        fake.xadd(stream, {"payload": ENVELOPE % i})
    return fake


def _ids(rows) -> list[str]:
    return [rid for rid, _, _ in rows]


def test_initial_and_latest_offsets(tmp_path):
    """A fresh query starts every stream at the ``start`` option; the
    first read's end is the last id read, and a stream not created yet
    reports its start."""
    _fill(tmp_path, "m1.a", [1, 2, 3])
    r = RedisStreamReader(_opts(tmp_path, "m1.a,m1.b"))
    assert r.initialOffset() == {"m1.a": ZERO_ID, "m1.b": ZERO_ID}
    rows, latest = r.read(r.initialOffset())
    assert _ids(rows) == ["1-1", "1-2", "1-3"]
    assert latest == {"m1.a": "1-3", "m1.b": ZERO_ID}  # m1.b: not created yet


def test_replay_rereads_only_streams_with_new_entries(tmp_path):
    """A replay re-reads only the streams whose range is non-empty: no
    XRANGE for a stream whose end equals its start."""
    fake = FakeRedis(str(tmp_path))
    for s in "abc":
        _fill(tmp_path, s, range(9))
    r = RedisStreamReader(_opts(tmp_path, "a,b,c"))
    n = len(fake.round_trips())
    rows = list(r.readBetweenOffsets(
        {"a": "1-5", "b": "1-2", "c": ZERO_ID},
        {"a": "1-5", "b": "1-9", "c": ZERO_ID},
    ))
    # only b has new entries
    assert [(rid, s) for rid, s, _ in rows] == [(f"1-{i}", "b") for i in range(3, 10)]
    assert fake.round_trips()[n:] == ["xrange"]


def test_read_with_nothing_new_ends_at_its_start(tmp_path):
    """Nothing new: the read returns no rows and ends where it started,
    and replaying that empty range reads nothing."""
    _fill(tmp_path, "a", range(5))
    r = RedisStreamReader(_opts(tmp_path, "a"))
    rows, end = r.read({"a": "1-5"})
    assert list(rows) == [] and end == {"a": "1-5"}
    assert list(r.readBetweenOffsets({"a": "1-5"}, {"a": "1-5"})) == []


def test_read_respects_exclusive_start_inclusive_end(tmp_path):
    _fill(tmp_path, "s", [10, 20, 30, 40])
    r = RedisStreamReader(_opts(tmp_path, "s"))
    rows = list(r.readBetweenOffsets({"s": "1-1"}, {"s": "1-3"}))
    assert _ids(rows) == ["1-2", "1-3"]
    assert all(stream == "s" for _, stream, _ in rows)
    assert json.loads(rows[0][2]["payload"])["after"]["entity_id"] == "20"


def test_stream_e2e_reads_and_dedupes(spark, tmp_path):
    """readStream.format('redis_stream') end-to-end: envelope rows arrive
    with the watch pipeline's schema and flow through dropDuplicates."""
    streams_dir = tmp_path / "streams"
    _fill(streams_dir, "m1.orders", [7, 8, 7, 9, 8])

    spark.dataSource.register(RedisStreamDataSource)
    reader = spark.readStream.format("redis_stream")
    for k, v in _opts(streams_dir, "m1.orders").items():
        reader = reader.option(k, v)
    df = reader.load()
    assert df.schema.simpleString() == "struct<offset:string,stream:string,fields:map<string,string>>"

    from pyspark.sql import functions as F

    from cdc_dedupe_spark.operators.cdc import envelope_payload, extract_entity_id

    ids = df.select(
        extract_entity_id(envelope_payload("fields"), "entity_id").alias("entity_id")
    ).dropDuplicates(["entity_id"])

    q = (
        ids.writeStream.format("memory")
        .queryName("redis_e2e")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.entity_id for r in spark.table("redis_e2e").collect())
    assert got == [7, 8, 9]


def test_stream_sink_xadds_packed_batches(tmp_path):
    """xadd_entries: packed id batches land as stream entries with the
    reference's {'ids': '[...]'} field shape, stamped with their batch."""
    out_dir = tmp_path / "out"
    rows = [("target.idx", json.dumps([i, i + 1])) for i in range(0, 6, 2)]
    xadd_entries(_opts(out_dir, ""), rows, 7)
    fake = FakeRedis(str(out_dir))
    entries = fake.xrange("target.idx")
    got = sorted(json.loads(f["ids"])[0] for _, f in entries)
    assert got == [0, 2, 4]
    assert [f["batch"] for _, f in entries] == ["7"] * 3


def test_missing_stream_gating_is_type_and_message(tmp_path):
    """Only a server-side missing-KEY error reads as an empty stream. A
    unix-socket connection failure ('No such file or directory') must
    propagate, not pass as "nothing new"."""
    assert _is_missing_stream(KeyError("no such stream 'm1.a'"))
    assert not _is_missing_stream(ConnectionError(
        "Error 2 connecting to /run/redis.sock: No such file or directory"
    ))
    assert not _is_missing_stream(OSError("No such file or directory"))
    assert not _is_missing_stream(Exception("no such key"))  # wrong type
    assert not _is_missing_stream(KeyError("WRONGTYPE key holds a list"))


def test_ensure_group_is_busygroup_tolerant(tmp_path):
    fake = FakeRedis(str(tmp_path))
    ensure_group(fake, "m1.a", "cdc")
    ensure_group(fake, "m1.a", "cdc")  # second call: BUSYGROUP swallowed
    assert fake.groups("m1.a") == ["cdc"]
    with pytest.raises(Exception, match="boom"):
        ensure_group(_Boom(), "m1.a", "cdc")


class _Boom:
    def xgroup_create(self, *a, **k):
        raise Exception("boom: connection refused")


def test_writer_pipelines_xadds(tmp_path):
    """The XADD sink must batch through pipeline(): landing N rows costs
    O(N / PIPELINE_CHUNK) round trips, not N."""
    out_dir = tmp_path / "out"
    xadd_entries(_opts(out_dir, ""), [("t.x", json.dumps([i])) for i in range(40)], 0)
    fake = FakeRedis(str(out_dir))
    assert len(fake.xrange("t.x")) == 40
    rts = [op for op in fake.round_trips() if op.startswith(("xadd", "pipeline"))]
    # one pipeline flush for the batch, never one trip per row
    assert all(op.startswith("pipeline") for op in rts), rts
    assert len(rts) <= 8, rts


def test_ack_entries_chunks_per_stream(tmp_path):
    """2,500 offsets of one stream go out as ceil(2500 / PIPELINE_CHUNK)
    = 3 XACKs, plus 3 XDELs under delete: one command per chunk, not per
    row, and every offset acked and deleted exactly once."""
    fake = _fill(tmp_path, "s", range(2500))
    pairs = [("s", rid) for rid, _ in fake.xrange("s")]
    ack_entries(_opts(tmp_path, "s"), "cdc", True, iter(pairs))
    rts = fake.round_trips()
    assert rts.count("xack") == 3 and rts.count("xdel") == 3, rts
    assert sorted(fake.acked("s", "cdc")) == sorted(offset for _, offset in pairs)
    assert fake.xrange("s") == []

    # simple acknowledge: XACK only; an empty partition sends nothing
    fake = _fill(tmp_path / "simple", "s", range(2500))
    ack_entries(_opts(tmp_path / "simple", "s"), "cdc", False, iter(pairs))
    ack_entries(_opts(tmp_path / "simple", "s"), "cdc", False, iter([]))
    rts = fake.round_trips()
    assert rts.count("xack") == 3 and rts.count("xdel") == 0, rts
    assert len(fake.xrange("s")) == 2500


def _missing_key_client(options):
    """A fake whose XRANGE on an absent stream raises the missing-key error."""
    fake = FakeRedis(options["fake_dir"])
    xrange = fake.xrange

    def strict_xrange(stream, *a, **k):
        if not fake._path(stream).exists():
            raise KeyError("no such key")
        return xrange(stream, *a, **k)

    fake.xrange = strict_xrange
    return fake


@pytest.mark.parametrize("factory", ["cdc_dedupe_spark.sources.fake_redis:make_client",
                                     "tests.test_redis_source:_missing_key_client"])
def test_scrub_batch_removes_only_that_batch(tmp_path, factory):
    """scrub_batch deletes batch N's stamped entries and keeps the seed
    and batch M's entries; a target stream that does not exist is
    skipped."""
    fake = FakeRedis(str(tmp_path))
    fake.xadd("t.a", {"ids": "[]"})
    fake.xadd("t.a", {"ids": "[1]", "batch": "3"})
    fake.xadd("t.a", {"ids": "[2]", "batch": "4"})
    fake.xadd("t.a", {"ids": "[3]", "batch": "3"})
    opts = {"client_factory": factory, "fake_dir": str(tmp_path)}
    scrub_batch(opts, ["t.a", "t.missing"], 3)
    assert [f for _, f in fake.xrange("t.a")] == [{"ids": "[]"}, {"ids": "[2]", "batch": "4"}]


def test_read_end_depends_only_on_its_start(tmp_path):
    """The end depends only on the start handed in: a fresh reader (the
    engine may run a fresh source runner) given the same start reads the
    same entries and reports the same end, capped or not."""
    _fill(tmp_path, "s", list(range(10)))
    for cap in ("0", "4"):
        opts = _opts(tmp_path, "s") | {"max_entries_per_batch": cap}
        a, b = RedisStreamReader(opts), RedisStreamReader(opts)
        rows_a, end_a = a.read({"s": "1-2"})
        rows_b, end_b = b.read({"s": "1-2"})
        assert end_a == end_b == {"s": "1-10" if cap == "0" else "1-6"}
        assert _ids(rows_a) == _ids(rows_b)
        # repeated reads from the same start never move
        assert a.read({"s": "1-2"})[1] == end_a


# --- micro-batch admission control (buffers.source.size) -----------------


def _drain(reader, start: dict) -> tuple[list[list[str]], dict]:
    """Chain ``read(start)`` the way the engine does, each read starting at
    the previous end, until a read admits nothing. Returns the ids of each
    batch and the final end."""
    batches = []
    while True:
        rows, end = reader.read(start)
        ids = _ids(rows)
        if not ids:
            assert end == start
            return batches, end
        batches.append(ids)
        start = end


def test_cap_drains_backlog_in_bounded_batches(tmp_path):
    """A 5,000-entry backlog with max_entries_per_batch=1,000 drains in 5
    batches from the very first read, each admitting at most the cap and
    ending at the cap-th id, with every entry seen exactly once."""
    _fill(tmp_path, "s", range(5000))
    r = RedisStreamReader(_opts(tmp_path, "s") | {"max_entries_per_batch": "1000"})
    _, first_end = r.read(r.initialOffset())
    assert first_end == {"s": "1-1000"}, "first batch must already be capped"
    batches, end = _drain(r, r.initialOffset())
    assert [len(b) for b in batches] == [1000] * 5
    assert [b[-1] for b in batches] == [f"1-{k * 1000}" for k in range(1, 6)]
    seen = [rid for b in batches for rid in b]
    assert len(seen) == len(set(seen)) == 5000 and end == {"s": "1-5000"}


def test_cap_e2e_processing_time_batches(spark, tmp_path):
    """End-to-end through the engine: 500 entries, cap 100, processingTime
    trigger -> the offset log records >= 5 strictly increasing batch ends
    and the sink sees all 500 rows exactly once."""
    import json as _json
    import pathlib
    import time

    streams_dir = tmp_path / "streams"
    _fill(streams_dir, "s", range(500))
    ckpt = str(tmp_path / "ckpt")
    spark.dataSource.register(RedisStreamDataSource)
    reader = spark.readStream.format("redis_stream")
    for k, v in (_opts(streams_dir, "s") | {"max_entries_per_batch": "100"}).items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName("cap_e2e")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and spark.table("cap_e2e").count() < 500:
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    assert spark.table("cap_e2e").count() == 500
    assert spark.table("cap_e2e").select("offset").distinct().count() == 500
    offs = sorted(int(p.name) for p in pathlib.Path(ckpt, "offsets").iterdir() if p.name.isdigit())
    ends = [
        _json.loads(pathlib.Path(ckpt, "offsets", str(o)).read_text().splitlines()[-1])["s"]
        for o in offs
    ]
    assert len(ends) >= 5
    keys = [tuple(int(x) for x in e.split("-")) for e in ends]
    assert keys == sorted(keys) and len(set(keys)) == len(keys), f"non-monotonic ends: {ends}"


def test_cap_e2e_restart_no_duplicates(spark, tmp_path):
    """Engine-level checkpoint restart WITH the cap: run a few capped
    batches, stop, add more entries, restart on the same checkpoint. The
    restarted run reads from the offset log's last end, so it stays
    capped, with every entry delivered exactly once and offset-log ends
    strictly increasing across both runs."""
    import json as _json
    import pathlib
    import time

    streams_dir = tmp_path / "streams"
    _fill(streams_dir, "s", range(300))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.dataSource.register(RedisStreamDataSource)
    opts = _opts(streams_dir, "s") | {"max_entries_per_batch": "100"}

    def n_out() -> int:
        try:
            return spark.read.json(out).count()
        except Exception:
            return 0  # sink dir not created yet

    def run_until(want: int) -> None:
        reader = spark.readStream.format("redis_stream")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .selectExpr("offset", "stream")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline and n_out() < want:
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()

    run_until(300)
    assert n_out() == 300

    fake = FakeRedis(str(streams_dir))
    for i in range(250):
        fake.xadd("s", {"payload": ENVELOPE % i})
    run_until(550)

    # the restarted run replays nothing (offsets resume in the checkpoint)
    # and delivers exactly the 250 new entries
    got = [r.offset for r in spark.read.json(out).collect()]
    assert len(got) == len(set(got)) == 550
    new_seqs = sorted(int(o.split("-")[1]) for o in got)[300:]
    assert new_seqs == list(range(301, 551))

    offs = sorted(int(p.name) for p in pathlib.Path(ckpt, "offsets").iterdir() if p.name.isdigit())
    ends = [
        _json.loads(pathlib.Path(ckpt, "offsets", str(o)).read_text().splitlines()[-1])["s"]
        for o in offs
    ]
    keys = [tuple(int(x) for x in e.split("-")) for e in ends]
    assert keys == sorted(set(keys)), f"offset log regressed: {ends}"
    # the second run stayed capped too: >= 3 batches for its 250 entries
    assert len([k for k in keys if k > (1, 300)]) >= 3, ends


def test_capped_read_resumes_from_uncapped_drain_end(tmp_path):
    """Capped reads -> an UNCAPPED availableNow drain -> capped reads again,
    each starting at the previous end (the offset log's). The later capped
    read starts at the drain's end: never a regressed end, never a
    duplicate."""
    _fill(tmp_path, "s", range(100))
    capped = RedisStreamReader(_opts(tmp_path, "s") | {"max_entries_per_batch": "40"})
    uncapped = RedisStreamReader(_opts(tmp_path, "s"))

    rows1, end1 = capped.read(capped.initialOffset())
    assert end1 == {"s": "1-40"}
    rows2, end2 = uncapped.read(end1)
    assert end2 == {"s": "1-100"}

    fake = FakeRedis(str(tmp_path))
    for i in range(60):
        fake.xadd("s", {"payload": ENVELOPE % i})
    rows3, end3 = capped.read(end2)
    assert end3 == {"s": "1-140"}, "must resume capped from the drain's end"
    batches, _ = _drain(capped, end3)
    seen = _ids(rows1) + _ids(rows2) + _ids(rows3) + [rid for b in batches for rid in b]
    assert len(seen) == len(set(seen)) == 160


def test_capped_restart_added_stream_seeds_from_configured_start(tmp_path):
    """A stream ADDED to the config since the checkpoint was written (so
    missing from the logged start) starts at the configured start id, not
    ZERO_ID — its first capped end lands past the configured start."""
    _fill(tmp_path, "a", range(50))
    r1 = RedisStreamReader(_opts(tmp_path, "a") | {"max_entries_per_batch": "20"})
    _, logged = r1.read(r1.initialOffset())
    assert logged == {"a": "1-20"}

    fake = FakeRedis(str(tmp_path))
    for i in range(30):
        fake.xadd("b", {"payload": ENVELOPE % i})
    r2 = RedisStreamReader(
        _opts(tmp_path, "a,b") | {"max_entries_per_batch": "20", "start": "1-5"}
    )
    rows, end = r2.read(logged)
    assert end["a"] == "1-40"  # resumed capped from the logged end
    assert end["b"] == "1-25", "new stream must cap from the configured start (1-5), not 0-0"
    assert [rid for rid, s, _ in rows if s == "b"][0] == "1-6"


# --- admission property test ---------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# An op sequence: add N entries to a stream / read from the last end.
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.sampled_from("ab"), st.integers(min_value=1, max_value=40)),
        st.tuples(st.just("read"), st.just(""), st.just(0)),
    ),
    min_size=3,
    max_size=14,
)


@given(ops=_OPS, cap=st.integers(min_value=1, max_value=15))
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chained_reads_invariants_under_interleaving(tmp_path_factory, ops, cap):
    """Whatever the interleaving of appends and chained ``read(start)``
    calls (each from a fresh reader, as after a restart): ends never
    regress, each stream admits at most the cap per read, and the
    concatenated reads equal the stream, in order."""
    tmp_path = tmp_path_factory.mktemp("capprop")
    fake = FakeRedis(str(tmp_path))
    opts = _opts(tmp_path, "a,b") | {"max_entries_per_batch": str(cap)}
    start = RedisStreamReader(opts).initialOffset()
    seen: dict[str, list[str]] = {"a": [], "b": []}

    def key(rid: str) -> tuple[int, int]:
        ms, _, seq = rid.partition("-")
        return int(ms), int(seq)

    def read() -> int:
        nonlocal start
        it, end = RedisStreamReader(opts).read(start)
        rows = list(it)
        for s in "ab":
            assert key(end[s]) >= key(start[s]), f"regressed end: {end} after {start}"
            ids = [rid for rid, stream, _ in rows if stream == s]
            assert len(ids) <= cap, f"{s} admitted {len(ids)} > cap {cap}"
            seen[s] += ids
        start = end
        return len(rows)

    for op, stream, n in ops:
        if op == "add":
            for i in range(n):
                fake.xadd(stream, {"payload": ENVELOPE % i})
        else:
            read()
    while read():  # final drain
        pass
    for s in "ab":
        assert seen[s] == [rid for rid, _ in fake.xrange(s)]


def _failing_client(options):
    """A fake whose XRANGE fails like a dropped connection."""
    fake = FakeRedis(options["fake_dir"])

    def xrange(*a, **k):
        raise ConnectionError("Error 111 connecting to localhost:6379. Connection refused.")

    fake.xrange = xrange
    return fake


def test_missing_stream_mid_run_holds_committed_id(tmp_path):
    """A consumed stream that disappears mid-run (DEL / failover) reports
    its start — the committed id — not 0-0: that end would be committed to
    the offset log and a recreated stream would replay every
    already-processed entry through the regressed range. A recreated
    stream whose ids restart below the committed id stays held there. This
    holds whether XRANGE of a missing key returns nothing (Redis) or
    raises the missing-key error. Any other read error propagates instead
    of being read as "nothing new"."""
    for factory in ("cdc_dedupe_spark.sources.fake_redis:make_client",
                    "tests.test_redis_source:_missing_key_client"):
        d = tmp_path / factory.rpartition(":")[2]
        fake = _fill(d, "m1.a", [1, 2, 3])
        opts = _opts(d, "m1.a,m1.never") | {"client_factory": factory}
        r = RedisStreamReader(opts)
        _, first = r.read(r.initialOffset())
        assert first == {"m1.a": "1-3", "m1.never": ZERO_ID}  # never existed: genuinely fresh

        # the stream vanishes (file-backed fake: remove its storage)
        fake._path("m1.a").unlink()
        rows, second = r.read(first)
        assert list(rows) == [] and second == first, "must hold the committed id, not regress"

        # recreated with ids restarting below the committed id: still held
        fake.xadd("m1.a", {"payload": "x"})  # becomes id 1-1 again (fake ids restart)
        assert r.read(second)[1] == first

    broken = RedisStreamReader(opts | {"client_factory": "tests.test_redis_source:_failing_client"})
    with pytest.raises(ConnectionError):
        broken.read(first)
    with pytest.raises(ConnectionError):
        list(broken.readBetweenOffsets({"m1.a": ZERO_ID}, first))
