"""The Redis stand-in: Redis range semantics, metering, the open-loop
generator, and no lost updates under concurrent writers in several
processes."""

from __future__ import annotations

import multiprocessing
import time
from pathlib import Path

import pytest

from perfbench import events
from perfbench.standin import StandinProcess, Store, make_client

ROOT = Path(__file__).resolve().parents[2]


def test_xrange_bounds_count_and_deletes():
    st = Store()
    ids = [st.xadd("s", {"v": str(i)}, id=f"10-{i}") for i in range(5)]
    assert [r for r, _ in st.xrange("s", "(10-1", "10-3")] == ["10-2", "10-3"]
    assert [r for r, _ in st.xrange("s", "-", "+", count=2)] == ids[:2]
    assert [r for r, _ in st.xrange("s", "10", "10")] == ids  # bare ms covers every seq
    assert st.xdel("s", "10-0", "10-2", "10-9") == 2
    assert [r for r, _ in st.xrange("s")] == ["10-1", "10-3", "10-4"]
    assert st.xinfo_stream("s") == {"length": 3, "last-generated-id": "10-4", "groups": 0}
    with pytest.raises(KeyError, match="no such key"):
        st.xinfo_stream("missing")
    st.xgroup_create("s", "g")
    with pytest.raises(RuntimeError, match="BUSYGROUP"):
        st.xgroup_create("s", "g")


def _deleter(options: dict, stream: str, ids: list[str]) -> None:
    client = make_client(options)
    try:
        pipe = client.pipeline()
        for rid in ids:
            pipe.xdel(stream, rid)
        pipe.execute()
        for rid in ids:
            client.xack(stream, "g", rid)
    finally:
        client.close()


def test_concurrent_deletes_from_many_processes_are_not_lost():
    proc = StandinProcess(ROOT)
    try:
        client = make_client(proc.options)
        ids = [client.xadd("s", {"v": str(i)}) for i in range(2000)]
        ctx = multiprocessing.get_context("spawn")
        workers = [ctx.Process(target=_deleter, args=(proc.options, "s", ids[k::8])) for k in range(8)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
            assert not w.is_alive() and w.exitcode == 0
        assert client.xinfo_stream("s")["length"] == 0
        dump = proc.admin("dump", ["s"])["s"]
        assert not any(dump["alive"]) and dump["acked"] == sorted(ids)
        stats = proc.admin("stats")
        assert stats["calls"]["xdel"] == 2000 and stats["calls"]["xack"] == 2000
        assert stats["calls"]["xadd"] == 2000
        client.close()
    finally:
        proc.close()
    assert proc.proc.poll() is not None


def test_open_loop_generator_keeps_its_schedule():
    proc = StandinProcess(ROOT)
    try:
        spec = {"seed": 1, "key_space": 100}
        proc.admin("gen_start", spec, 400, 0.05)
        time.sleep(1.0)
        gen = proc.admin("gen_stop")
        assert 15 <= gen["ticks"] <= 25 and gen["events"] == gen["ticks"] * 20
        assert gen["late_max_s"] < 0.5
        dumps = proc.admin("dump", events.source_streams())
        assert sum(len(d["entries"]) for d in dumps.values()) == gen["events"]
    finally:
        proc.close()
