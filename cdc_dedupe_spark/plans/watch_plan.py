"""The watch micro-batch as a pure logical plan.

Input: a batch of envelope rows ``(offset, stream, fields)`` plus the
routing config, compiled into a literal map expression (no relation, so
no broadcast job). Output: the result relations the sinks write — packed
id batches per target, the dead letters and the ack ledger — and their
union tagged by sink, with no side effects here, so the plan is
unit-testable in batch mode and reusable by any sink layer.

Reference stages covered (SURVEY.md §2A): S2/S3 decode+extract, S6 fan-out,
S9 first-wins dedupe, S12/S13 packing, S15-S19 ack set.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import Config
from ..operators.cdc import dedupe_first, envelope_payload, extract_entity_id


def _routes(cfg: Config) -> dict[str, list[tuple[str, str]]]:
    """source stream -> [(id_column, target_stream)] — the full general
    mapping (every column of every table, WatchStream.java:347-352, with
    the correct per-column id extraction the reference gets wrong for
    tables with >1 mapped column; see SURVEY.md §2A fine print)."""
    routes = {
        f"{cfg.source.prefix}{tbl}": [
            (col, f"{cfg.target.prefix}{tgt}") for col, tgts in cols.items() for tgt in tgts
        ]
        for tbl, cols in cfg.mapping.items()
    }
    return {stream: r for stream, r in routes.items() if r}


def routed_streams(cfg: Config) -> list[str]:
    """Source streams with at least one route: the ones whose entries are
    consumed (acked). Unroutable streams are never consumed by the
    reference either."""
    return list(_routes(cfg))


def routing_map(cfg: Config) -> Column:
    """The routing config as a literal ``map<source stream, array<struct<
    id_column, target_stream>>>`` expression: fan-out is a per-row
    generator over it, with no join, broadcast or job of its own."""
    entries = [
        e
        for stream, routes in _routes(cfg).items()
        for e in (
            F.lit(stream),
            F.array(*(
                F.struct(F.lit(col).alias("id_column"), F.lit(tgt).alias("target_stream"))
                for col, tgt in routes
            )),
        )
    ]
    if not entries:
        return F.lit(None).cast("map<string,array<struct<id_column:string,target_stream:string>>>")
    return F.create_map(*entries)


def compile_watch_plan(batch: DataFrame, cfg: Config) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Compile one micro-batch into ``(packed, acks, dead)`` DataFrames.

    ``packed``: (target_stream, ids) — arrival-ordered, deduped id arrays
    of <= cfg.buffers.target.size, JSON-encoded (the ``{"ids": "[...]"}``
    payload, WatchStream.java:284-293).
    ``acks``: (stream, offset, ack_mode) — every routed input record; under
    checkpointed foreachBatch all fan-out copies of a batch land atomically,
    so batch membership IS the refcount barrier (WatchStream.java:183-190).
    ``dead``: (stream, offset, id_column, payload) — records whose payload
    decode / id extract degraded to NULL (operators/cdc.py's
    degrade-to-NULL policy) OR whose offset is not a parseable Redis
    RecordId (try_cast — a plain ANSI cast would throw and wedge the
    stream on one malformed record, the exact failure mode this plan
    exists to avoid). One row per malformed source ENTRY (distinct), not
    per fan-out target. These rows are dropped from ``packed`` but still
    acked/deleted, so without this relation a malformed source entry
    under acknowledge=delete would vanish with no surviving record; the
    dead-letter sink is where they survive. (The reference instead throws
    and wedges the whole stream on the first malformed record —
    RedisSource.java:63-66.)

    Determinism: both windows order by (_ms, _seq, stream, offset) — the
    trailing (stream, offset) pair makes the order total even when two
    source streams feeding one target carry equal RecordIds, so a replay
    of the batch packs identically.
    """
    # Redis RecordId "millis-seq" -> numeric arrival order. try_cast:
    # malformed offsets become NULL and route to `dead` below. A bare
    # "123" (no '-') is the valid Redis shorthand for "123-0", so a NULL
    # seq PART defaults to 0 — but a PRESENT, unparseable part ("123-abc")
    # is malformed and must not alias a genuine "123-0" in the packing
    # order (ADVICE r8), so its NULL try_cast routes the record to dead.
    # F.get (not getItem): a bare "123" splits to one part, and ANSI-mode
    # getItem(1) would throw INVALID_ARRAY_INDEX instead of yielding NULL.
    raw_seq = F.get(F.split("offset", "-"), 1)
    off_ms = F.split("offset", "-").getItem(0).try_cast("long")
    off_seq = F.coalesce(raw_seq.try_cast("long"), F.lit(0))
    seq_ok = raw_seq.isNull() | raw_seq.try_cast("long").isNotNull()

    # S2/S3 + S6: decode once, fan out by generating one row per route of
    # the record's stream (no rows for an unroutable stream, like an inner
    # join); the id column is resolved per route, so multi-column tables
    # extract each column's own id (correct general semantics — the
    # reference extracts the first column's id for every mapping,
    # SURVEY.md §2A).
    decoded = (
        batch.select("*", F.inline(F.try_element_at(routing_map(cfg), F.col("stream"))))
        .withColumn("payload", envelope_payload("fields"))
        .withColumn("entity_id", extract_entity_id(F.col("payload"), F.col("id_column")))
        .withColumn("_ms", off_ms)
        .withColumn("_seq", off_seq)
    )
    ok = F.col("entity_id").isNotNull() & F.col("_ms").isNotNull() & seq_ok
    routed = decoded.filter(ok)
    # One row per malformed source ENTRY, not per fan-out target: a
    # payload-decode failure on a multi-id-column table hits every routing
    # row, so the failing id columns aggregate into one sorted CSV cell
    # instead of fanning out one dead row each (ADVICE r8; single-id-column
    # tables produce the identical single-name cell as before).
    dead = (
        decoded.filter(~ok)
        .groupBy("stream", "offset", "payload")
        .agg(F.array_join(F.array_sort(F.collect_set("id_column")), ",").alias("id_column"))
        .select("stream", "offset", "id_column", "payload")
    )

    # S9: first-wins per (target, entity_id) within this micro-batch —
    # keyed by entity id only, like Collectors.toMap (WatchStream.java:272);
    # shared operator with the declared cdc_dedupe_first query.
    survivors = dedupe_first(
        routed, ["target_stream", "entity_id"], ["_ms", "_seq", "stream", "offset"]
    )

    # S12/S13: arrival-order packing into <= target.size ids per record.
    size = cfg.buffers.target.size
    w_order = Window.partitionBy("target_stream").orderBy("_ms", "_seq", "stream", "offset")
    packed = (
        survivors.withColumn("_rn", F.row_number().over(w_order))
        .withColumn("_bucket", F.ceil(F.col("_rn") / F.lit(size)))
        .groupBy("target_stream", "_bucket")
        .agg(F.array_sort(F.collect_list(F.struct("_rn", "entity_id"))).alias("_pairs"))
        .select(
            "target_stream",
            F.to_json(F.transform("_pairs", lambda s: s.entity_id)).alias("ids"),
        )
    )

    # S15-S19 ack set: every input record on a routed stream (unroutable
    # streams are never consumed by the reference either).
    acks = (
        batch.filter(F.col("stream").isin(routed_streams(cfg)))
        .select("stream", "offset")
        .distinct()
        .withColumn("ack_mode", F.lit(cfg.source.acknowledge))
    )
    return packed, acks, dead


# Sink kind -> the directory key column its files sit under
# (``<kind>/<column>=<value>/``).
SINK_KEYS = {"targets": "target_stream", "dead": "stream", "acks": "stream"}
_SINK_FIELDS = ("ids", "offset", "id_column", "payload", "ack_mode")


def tag_sinks(dead: DataFrame, acks: DataFrame, packed: DataFrame | None = None) -> DataFrame:
    """Union the sink relations into one relation ``(_sink, _key, ids,
    offset, id_column, payload, ack_mode)`` so one write covers them all:
    ``_sink`` is the kind (SINK_KEYS), ``_key`` its target or source
    stream, and the (all string) fields a kind does not carry are NULL.
    ``packed`` is left out when it goes to another sink (XADD)."""
    kinds = [("dead", dead), ("acks", acks)]
    if packed is not None:
        kinds.append(("targets", packed))
    parts = [
        df.select(
            F.lit(kind).alias("_sink"),
            F.col(SINK_KEYS[kind]).alias("_key"),
            *(
                (F.col(c) if c in df.columns else F.lit(None).cast("string")).alias(c)
                for c in _SINK_FIELDS
            ),
        )
        for kind, df in kinds
    ]
    return reduce(DataFrame.union, parts)
