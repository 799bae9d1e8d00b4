"""Streaming-semantics unit tests not expressible as DuckDB oracles
(SURVEY.md §5.2 items 3/5): watermark TTL re-emission and stateful-agg
final-state equivalence."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from cdc_dedupe_spark.queries.registry import REGISTRY
from cdc_dedupe_spark.tables import table


def test_watermark_dedupe_reemits_after_ttl(spark, tmp_path):
    """dropDuplicatesWithinWatermark is a TTL contract, NOT global dedupe:
    an id recurring after the watermark passed its state is emitted again —
    the upgrade path of the reference's window-scoped dedupe (S8/S9)."""
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        [{"user_id": 1, "ts": "2024-01-01 10:00:00"}],
        # advances watermark to 11:00 - 10min = 10:50 > 10:00 + TTL
        [{"user_id": 2, "ts": "2024-01-01 11:00:00"}],
        # state eviction applies one batch after the watermark advances,
        # so an intervening batch lets user 1's entry age out...
        [{"user_id": 3, "ts": "2024-01-01 11:02:00"}],
        # ...and this recurrence of user 1 is re-emitted
        [{"user_id": 1, "ts": "2024-01-01 11:05:00"}],
    ]
    for i, batch in enumerate(rows):
        p = src / f"{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("user_id long, ts string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["user_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_ttl_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("wm_ttl_test").groupBy("user_id").count().collect()
    counts = {r.user_id: r["count"] for r in got}
    assert counts[1] == 2, f"user 1 should be re-emitted after TTL eviction: {counts}"
    assert counts[2] == 1



def test_watermark_dedupe_late_key_passthrough_pinned(spark, tmp_path):
    """The key-set oracle's SCOPE (ADVICE r14 #2): what happens to a key
    whose ONLY events arrive in a later micro-batch, after the watermark
    has passed their ts + delay, is UNSPECIFIED by the
    dropDuplicatesWithinWatermark contract (late rows may be dropped or
    passed through). This pins the shipped Spark's actual behavior —
    4.1 passes the late row through, so the emitted key set still equals
    batch DISTINCT here — while the declared query's oracle claim stays
    scoped to ts-ordered replay within the delay (trivially true of its
    single-file replay, one batch), because a Spark version that drops
    late rows would silently lose such keys."""
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        [{"user_id": 1, "ts": "2024-01-01 10:00:00"}],
        # advances the watermark to 11:00 - 10min = 10:50
        [{"user_id": 2, "ts": "2024-01-01 11:00:00"}],
        # user 3's ONLY event, at 10:30 < the 10:50 watermark: late, dropped
        [{"user_id": 3, "ts": "2024-01-01 10:30:00"}],
    ]
    for i, batch in enumerate(rows):
        p = src / f"{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("user_id long, ts string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["user_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_late_drop_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("wm_late_drop_test").groupBy("user_id").count().collect()
    counts = {r.user_id: r["count"] for r in got}
    # Spark 4.1: the wholly-late key passes through exactly once — the
    # key set is preserved in THIS version. If an upgrade flips this to
    # a drop, the key-set oracle's scope note in queries/streaming.py
    # becomes load-bearing and this assertion will say so.
    assert counts == {1: 1, 2: 1, 3: 1}, counts


def test_stateful_agg_final_state_matches_batch(spark, sf_dir):
    """applyInPandasWithState running counts: the final state per user must
    equal the batch groupBy count (rows-only query's real assertion)."""
    out = REGISTRY["stream_stateful_agg"].spark(spark, sf_dir)
    final = {
        r.user_id: r.n_events
        for r in out.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    }
    expected = {
        r.user_id: r["count"]
        for r in table(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    assert final == expected


def _tws_available() -> tuple[bool, str]:
    """transformWithState[InPandas] availability probe (VERDICT r9 item 7).

    The API surface exists in PySpark 4.1.2, but its separate streaming
    Python driver worker imports google.protobuf at init — this container
    ships a broken/absent protobuf, so the worker exits -2 with
    `ImportError: cannot import name 'descriptor' from 'google.protobuf'`
    (probed in round 10; commit f4cfa59 first noted the API as unusable
    here). Detect exactly that precondition instead of hardcoding a skip,
    so an environment update flips this test to the real run."""
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
    except ImportError:
        return False, "pyspark.sql.streaming.stateful_processor not importable"
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return False, (
            "google.protobuf unimportable — transformWithState's streaming "
            "Python runner crashes at init without it"
        )
    return True, ""


def test_stateful_agg_through_transform_with_state(spark, sf_dir):
    """stream_stateful_agg through the newer transformWithStateInPandas
    API when the environment supports it: running counts per user must
    match the batch groupBy, exactly like the applyInPandasWithState
    implementation. Skips (with the precise environment cause) where the
    streaming Python runner cannot initialize."""
    import pytest

    ok, why = _tws_available()
    if not ok:
        pytest.skip(f"transformWithState unavailable in this environment: {why}")

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import LongType, StructField, StructType

    from cdc_dedupe_spark.sources.replay import events_stream
    from cdc_dedupe_spark.streaming.run import run_to_memory

    class RunningCount(StatefulProcessor):
        def init(self, handle):
            self._n = handle.getValueState(
                "n", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timer_values):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self):
            pass

    counted = (
        events_stream(spark, sf_dir)
        .select("user_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningCount(),
            outputStructType=StructType(
                [
                    StructField("user_id", LongType()),
                    StructField("n_events", LongType()),
                ]
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    out = run_to_memory(counted, "tws_stateful_agg", output_mode="update")
    final = {
        r.user_id: r.n_events
        for r in out.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    }
    expected = {
        r.user_id: r["count"]
        for r in table(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    assert final == expected


def test_dedupe_stream_matches_batch_distinct(spark, sf_dir):
    out = REGISTRY["cdc_dedupe_stream"].spark(spark, sf_dir)
    got = sorted(r.user_id for r in out.collect())
    expected = sorted(
        r.user_id for r in table(spark, sf_dir, "events").select("user_id").distinct().collect()
    )
    assert got == expected


def test_stream_stream_join_state_bounded_by_watermark(spark, tmp_path):
    """Executable witness for SCALING.md's stream-stream-join claim
    (VERDICT r7 #8): with both sides watermarked, join state is evicted
    once rows fall behind the watermark — numRowsTotal tracks the range
    window, not the stream history. Same shape as the registry's
    stream_stream_join (queries/streaming.py): 10-minute watermarks, a
    60-minute range predicate. 200 early rows, then two late batches that
    push the watermark hours past them: the final state must hold only
    the recent handful, not the 200."""
    src = tmp_path / "src"
    src.mkdir()
    early = [
        {"user_id": u, "ts": "2024-01-01 10:00:00", "event_type": "click"} for u in range(100)
    ] + [
        {"user_id": u, "ts": "2024-01-01 10:30:00", "event_type": "purchase"} for u in range(100)
    ]
    # the global watermark is the MIN across both sides, so a late batch
    # must advance BOTH event-time columns (an idle purchase side would pin
    # the watermark at 10:20 and nothing would ever evict); distinct user
    # ids keep the late rows from joining each other.
    late0 = [
        {"user_id": 1000, "ts": "2024-01-01 20:00:00", "event_type": "click"},
        {"user_id": 2000, "ts": "2024-01-01 20:00:00", "event_type": "purchase"},
    ]
    late1 = [
        {"user_id": 1001, "ts": "2024-01-01 20:01:00", "event_type": "click"},
        {"user_id": 2001, "ts": "2024-01-01 20:01:00", "event_type": "purchase"},
    ]
    for i, batch in enumerate([early, late0, late1]):
        p = src / f"{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("user_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_state_pin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert spark.table("ssj_state_pin").count() == 100  # join itself correct
    states = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("stateOperators")
    ]
    assert states, "no stateOperators progress recorded"
    assert max(states) >= 200, f"early rows never entered state: {states}"
    assert states[-1] <= 10, (
        f"watermark eviction did not fire: final state {states[-1]} rows of {states}"
    )


class _FakeGroupState:
    """Minimal stand-in for pyspark's GroupState so fold functions can be
    unit-tested directly (exists/get/update is all our folds touch)."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, value):
        self._v = tuple(value)


def test_cusum_fold_chunk_order():
    """_cusum_fold's contract is an order-dependent fold over (ts_us,
    event_id) — the batch must produce identical results whether the
    group arrives as one in-order Arrow chunk or as many shuffled,
    interleaved chunks (VERDICT r11 "What's wrong" #3: the old
    sort-per-chunk code was only coincidentally correct while each key
    fit one in-order chunk)."""
    import random

    import pandas as pd

    from cdc_dedupe_spark.queries.streaming import _cusum_fold

    rng = random.Random(11)
    n = 400
    rows = pd.DataFrame(
        {
            "ts_us": list(range(n)),
            "event_id": [i * 7 % n for i in range(n)],
            # drifting mean so the CUSUM crosses the alert threshold
            "cents": [4_700 + (i % 97) * 13 + (i // 50) * 40 for i in range(n)],
        }
    )

    def run(chunks, state=None):
        st = _FakeGroupState(state)
        out = list(_cusum_fold(("purchase",), iter(chunks), st))
        assert len(out) == 1
        return out[0].iloc[0].to_dict(), st.get

    # Baseline: one chunk, already in fold order.
    want_row, want_state = run([rows.sort_values(["ts_us", "event_id"])])

    # Adversarial: rows shuffled globally, split into ragged chunks,
    # chunk list shuffled — a group spanning many Arrow batches with no
    # ordering guarantee anywhere.
    shuffled = rows.sample(frac=1.0, random_state=7).reset_index(drop=True)
    cuts = sorted(rng.sample(range(1, n), 5))
    chunks = [
        shuffled.iloc[a:b].reset_index(drop=True)
        for a, b in zip([0] + cuts, cuts + [n])
    ]
    rng.shuffle(chunks)
    chunks.insert(2, shuffled.iloc[0:0])  # and an empty chunk
    got_row, got_state = run(chunks)

    assert got_row == want_row
    assert got_state == want_state

    # Cross-batch continuation: the same rows split across TWO fold
    # invocations (state carried) must also agree, provided the split
    # respects batch boundaries in ts order (micro-batch semantics).
    first, second = rows.iloc[:250], rows.iloc[250:]
    st = _FakeGroupState()
    list(_cusum_fold(("purchase",), iter([first.sample(frac=1.0, random_state=3)]), st))
    out2 = list(_cusum_fold(("purchase",), iter([second.sample(frac=1.0, random_state=4)]), st))
    assert out2[0].iloc[0].to_dict() == want_row
    assert st.get == want_state


def test_run_to_memory_scopes_state_partitions(spark, sf_dir):
    """run_to_memory must start the streaming plan under the state-sizing
    partition count and restore the session's batch value afterwards —
    including when the stream fails to start (r13 state-partition
    sizing; the finally-restore is what keeps a failing stream query
    from silently de-tuning every later batch query in the session)."""
    import pytest as _pytest

    from cdc_dedupe_spark.sources.replay import events_stream
    from cdc_dedupe_spark.streaming import run as srun

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = srun.run_to_memory(
        events_stream(spark, sf_dir).groupBy("event_type").count(),
        "conf_scope_probe",
        output_mode="complete",
    )
    # state partitioning of the drained query == the sizing value
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    # failure path: a plan that is invalid for streaming must still restore
    with _pytest.raises(Exception):
        srun.run_to_memory(
            # global sort is unsupported on append-mode streams
            events_stream(spark, sf_dir).sort("event_id"),
            "conf_scope_fail",
            output_mode="append",
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# RocksDB state store + update-mode parity (VERDICT r13 next-steps #3/#4)


_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _write_event_batches(src, batches):
    """Write one json file per micro-batch (mtime-ordered) with the events
    schema the agg shapes expect."""
    import json as _json

    for i, batch in enumerate(batches):
        p = src / f"{i:02d}.json"
        p.write_text("\n".join(_json.dumps(r) for r in batch))
        os.utime(p, (time.time() + i, time.time() + i))


_EVENT_DDL = "user_id long, ts string, event_id long, event_type string, value double"


def _event_rows(n0, n1):
    """Deterministic synthetic events: keys recur across batches so the
    cross-batch state paths are exercised."""
    return [
        {
            "user_id": i % 5,
            "ts": f"2024-01-01 10:{i % 60:02d}:00",
            "event_id": i,
            "event_type": ["click", "purchase", "view"][i % 3],
            "value": (i % 7) + 0.25,
        }
        for i in range(n0, n1)
    ]


def test_rocksdb_state_store_engaged(spark, tmp_path):
    """The RocksDB provider must (a) produce identical results to the
    default HDFS-backed provider and (b) actually engage — RocksDB
    checkpoints its state as <version>.zip snapshots where the HDFS
    provider writes <version>.delta, so the state dir layout is direct
    evidence the provider ran (VERDICT r13 next-step #3: the scale path
    for O(distinct keys) streaming state)."""
    src = tmp_path / "src"
    src.mkdir()
    _write_event_batches(src, [_event_rows(0, 40), _event_rows(40, 80)])

    def run(provider, ck):
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        try:
            s = (
                spark.readStream.schema(_EVENT_DDL)
                .option("maxFilesPerTrigger", "1")
                .json(str(src))
            )
            agg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            name = f"rdb_{ck.name}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", str(ck))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if provider:
                if prev is None:
                    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
                else:
                    spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        sink = spark.table(name)
        return {
            r.user_id: r.n
            for r in sink.groupBy("user_id").agg(F.max("n").alias("n")).collect()
        }

    got_hdfs = run(None, tmp_path / "ck_hdfs")
    got_rocks = run(_ROCKSDB, tmp_path / "ck_rocks")
    assert got_rocks == got_hdfs == {k: 16 for k in range(5)}

    rocks_files = {p.suffix for p in (tmp_path / "ck_rocks" / "state" / "0").rglob("*") if p.is_file()}
    hdfs_files = {p.suffix for p in (tmp_path / "ck_hdfs" / "state" / "0").rglob("*") if p.is_file()}
    assert ".zip" in rocks_files, f"RocksDB snapshot files missing: {rocks_files}"
    assert ".delta" in hdfs_files and ".zip" not in hdfs_files, hdfs_files


def test_stream_query_under_rocksdb_matches(spark, sf_dir, monkeypatch):
    """The registry's heaviest O(keys)-state query must return identical
    results under SPARK_GRAFT_STATE_STORE=rocksdb — the env switch a
    cluster deploy flips for billion-key state (run.py provider scoping)."""
    q = REGISTRY["stream_sessionize_state"].spark

    default_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    rocks_rows = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert rocks_rows == default_rows
    # provider conf restored after the drain
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) in (
        None,
        "",
    )


def test_update_mode_multibatch_fold_matches_batch(spark, tmp_path):
    """stream_upsert_latest / stream_user_features run in UPDATE mode: on
    a genuinely multi-batch replay (keys recurring across 3 micro-batches)
    the monotone max_by fold of the update-emission log must equal the
    batch aggregate over the full event set — the final-materialized-state
    parity the complete-mode scale caveat asked for (VERDICT r13 #4)."""
    from cdc_dedupe_spark.queries.streaming import (
        upsert_latest_agg,
        upsert_latest_fold,
        user_features_agg,
        user_features_fold,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_event_batches(
        src, [_event_rows(0, 30), _event_rows(30, 60), _event_rows(60, 90)]
    )

    def stream():
        s = (
            spark.readStream.schema(_EVENT_DDL)
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    static = spark.read.schema(_EVENT_DDL).json(str(src)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )

    for i, (agg_fn, fold_fn) in enumerate(
        [(upsert_latest_agg, upsert_latest_fold), (user_features_agg, user_features_fold)]
    ):
        name = f"upd_parity_{i}"
        q = (
            agg_fn(stream())
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sink = spark.table(name)
        # multi-batch proof: recurring keys emit once per touching batch
        assert sink.count() > sink.select("user_id").distinct().count()
        got = sorted(map(tuple, fold_fn(sink).collect()))
        want = sorted(map(tuple, agg_fn(static).collect()))
        assert got == want


def test_stream_stream_outer_join_null_emission_timing(spark, tmp_path):
    """Pin the LEFT OUTER stream-stream join's state-eviction semantics
    (VERDICT r15 #3): an unmatched click emits its null-padded row ONLY
    once the global watermark passes click_ts + 60min — never in the
    batch that ingested it — and a click whose window is still undecided
    at drain end is never emitted at all.

    Batch 0: click u1@10:00 (never matches), click u2@10:00 +
    purchase u2@10:30 (matches). Batch 1: one click + one purchase at
    13:00 advancing BOTH sides' watermarks to 12:50, far past u1's
    11:00 window end -> u1's null row must flush in a LATER batch; the
    13:00 click's own window (ends 14:00 > 12:50) stays in state,
    unreported."""
    src = tmp_path / "src"
    src.mkdir()
    batch0 = [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "event_type": "click"},
        {"user_id": 2, "ts": "2024-01-01 10:00:00", "event_type": "click"},
        {"user_id": 2, "ts": "2024-01-01 10:30:00", "event_type": "purchase"},
    ]
    batch1 = [
        {"user_id": 100, "ts": "2024-01-01 13:00:00", "event_type": "click"},
        {"user_id": 200, "ts": "2024-01-01 13:00:00", "event_type": "purchase"},
    ]
    for i, batch in enumerate([batch0, batch1]):
        p = src / f"{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("user_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 60 MINUTES")),
        "left_outer",
    ).select("user_id", "click_ts", "purchase_ts")

    emitted = []  # (batch_id, user_id, purchase_ts-or-None) per output row

    def sink(bdf, bid):
        for r in bdf.collect():
            emitted.append((bid, r.user_id, r.purchase_ts))

    q = joined.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    by_user = {}
    for bid, uid, pts in emitted:
        by_user.setdefault(uid, []).append((bid, pts))
    # the match emits exactly once, watermark-independent
    assert len(by_user.get(2, [])) == 1 and by_user[2][0][1] is not None
    # the unmatched click emits exactly one NULL row...
    assert len(by_user.get(1, [])) == 1 and by_user[1][0][1] is None
    # ...and only AFTER the batch that ingested it (eviction, not ingest)
    ingest_bid = min(b for b, _, _ in emitted)
    assert by_user[1][0][0] > ingest_bid, (
        f"null row emitted in the ingest batch: {emitted}"
    )
    # the still-undecided 13:00 click must NOT have been emitted
    assert 100 not in by_user, f"undecided click leaked: {emitted}"


def test_stream_stream_join_outer_registry_subset_is_decided(spark, sf_dir):
    """The registered query's decided-subset contract: every returned
    click_us sits at least 70min+10min-delay before BOTH sides' max event
    time, and matched=0 rows carry null purchase_us while matched=1 rows
    never do."""
    from cdc_dedupe_spark.queries.registry import REGISTRY

    rows = REGISTRY["stream_stream_join_outer"].spark(spark, sf_dir).collect()
    assert rows, "decided subset is empty on the test corpus"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy().agg(
        F.unix_micros(
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts").cast("timestamp"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts").cast("timestamp"))),
            )
        ).alias("m")
    ).collect()[0]
    bound = agg.m - 80 * 60 * 1_000_000
    assert all(r.click_us < bound for r in rows)
    for r in rows:
        assert (r.matched == 0) == (r.purchase_us is None)


def test_run_to_memory_rejects_unknown_state_store(spark, sf_dir):
    """ADVICE r14 #4: SPARK_GRAFT_STATE_STORE is the documented cluster
    switch — a typo must fail with the valid options named, not a bare
    KeyError from the provider dict."""
    import pytest

    from cdc_dedupe_spark.sources.replay import events_stream
    from cdc_dedupe_spark.streaming.run import run_to_memory

    stream = events_stream(spark, sf_dir)
    with pytest.raises(ValueError, match="rocksdb"):
        run_to_memory(stream, "bad_store_test", state_store="rocks")


def test_row_emit_frames_are_independent_and_typed_by_schema():
    from cdc_dedupe_spark.queries.streaming import _RowEmit, _TWS_OUT

    emit = _RowEmit(_TWS_OUT)
    first = emit(1, 1, False, 0, 1, 3, 3, 10)
    first["extra"] = 0
    first.iat[0, 0] = 99
    second = emit(2, 5, True, 1, 2, 7, 4, 20)
    assert list(second.columns) == _TWS_OUT.fieldNames()
    assert second.iloc[0].tolist() == [2, 5, True, 1, 2, 7, 4, 20]
    second.iat[0, 0] = 42
    assert emit(3, 1, False, 0, 0, 0, 0, 0).iloc[0].tolist() == [3, 1, False, 0, 0, 0, 0, 0]
    assert second.dtypes.astype(str).tolist() == [
        "int64", "int64", "bool", "int64", "int64", "int64", "int64", "int64",
    ]
