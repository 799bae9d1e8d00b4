"""The watch micro-batch as a pure logical plan.

Input: a batch of envelope rows ``(offset, stream, fields)`` plus the
routing config. Output: ONE relation tagged by sink, ``(_sink, _key, ids,
offset, id_column, payload, ack_mode)``: the packed id batches per target,
the dead letters and the ack ledger. There are no side effects here, so
the plan is unit-testable in batch mode and reusable by any sink layer.

Shape: one scan. Each input row is decoded once, and a generator emits
every sink row it contributes: its ack row, its dead row and one copy
per healthy route. Both windows (first-wins, packing) and the one
aggregate that shapes the sink rows read one partition, or one hash
exchange on ``(_key, offset)``. The plan is SQL text rendered once per
config, so building it per batch costs a handful of py4j calls.

Trade-off: a Redis batch arrives as one partition, so it is coalesced
and the plan runs as one task, like the reference's one poller per table
(WatchStream.java:271-293). The admission cap (buffers.source.size)
bounds that task in a continuous run; an availableNow drain is uncapped.
A file-source batch, one split per file and uncapped, keeps the exchange
(``parallel``). The sink rows, the ack set among them, are collected to
the driver (streaming/pipeline.py), like the reference's driver-side
in-flight map (WatchStream.java:170-231).

Reference stages covered (SURVEY.md §2A): S2/S3 decode+extract, S6 fan-out,
S9 first-wins dedupe, S12/S13 packing, S15-S19 ack set.
"""

from __future__ import annotations

import json
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Config
from ..operators.cdc import ENVELOPE_SCHEMA, envelope_payload_sql

# Sink kind -> the directory key column its files sit under
# (``<kind>/<column>=<value>/``).
SINK_KEYS = {"targets": "target_stream", "dead": "stream", "acks": "stream"}
SINK_COLUMNS = ("_sink", "_key", "ids", "offset", "id_column", "payload", "ack_mode")


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


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _routing_map_sql(cfg: Config) -> str:
    """The routing config as a literal ``map<source stream, array<struct<
    id_column, target_stream>>>``: fan-out is a per-row generator over it,
    with no join, broadcast or job of its own."""
    entries = [
        f"{_sql_str(stream)}, array("
        + ", ".join(
            f"named_struct('id_column', {_sql_str(col)}, 'target_stream', {_sql_str(tgt)})"
            for col, tgt in routes
        )
        + ")"
        for stream, routes in _routes(cfg).items()
    ]
    if not entries:
        return "CAST(NULL AS map<string,array<struct<id_column:string,target_stream:string>>>)"
    return f"map({', '.join(entries)})"


def _item(sink: str, key: str, offset: str, payload: str, id_column: str, entity_id: str) -> str:
    """One generated sink row; every item has the same struct type."""
    return (
        f"named_struct('_sink', '{sink}', '_key', {key}, 'offset', {offset}, "
        f"'payload', {payload}, 'id_column', {id_column}, 'entity_id', {entity_id})"
    )


_NULL = "CAST(NULL AS string)"
_NULL_ID = "CAST(NULL AS int)"
# Both windows order by (_ms, _seq, stream, offset): the trailing (stream,
# offset) pair makes the order total even when two source streams feeding
# one target carry equal RecordIds, so a replay packs identically.
_ORDER = "ORDER BY _ms, _seq, stream, _off"


class _PlanSQL(NamedTuple):
    """The plan's stages as SQL text, in order."""

    decode: list[str]
    parse: list[str]
    generate: list[str]
    first_wins: list[str]
    pack: list[str]
    bucket: str
    aggs: list[str]


def _render(cfg: Config) -> _PlanSQL:
    # Redis RecordId "millis-seq" -> numeric arrival order. try_cast:
    # malformed offsets become NULL and route to the dead row. A bare "123"
    # (no '-') is the valid Redis shorthand for "123-0", so a NULL seq
    # PART defaults to 0; a PRESENT, unparseable part ("123-abc") is
    # malformed and must not alias a genuine "123-0" in the packing order,
    # so it makes the entry dead. get (not [1]): a bare "123" splits to
    # one part, and ANSI-mode indexing would throw INVALID_ARRAY_INDEX.
    decode = [
        "stream",
        "offset AS _off",
        f"coalesce(try_element_at({_routing_map_sql(cfg)}, stream), array()) AS _routes",
        f"{envelope_payload_sql('fields')} AS _payload",
        "try_cast(split(offset, '-')[0] AS long) AS _ms",
        "get(split(offset, '-'), 1) AS _raw_seq",
    ]
    # S2/S3 + S6: the payload's ``after`` map is parsed once per row, in a
    # projection of its own: the generator below reads it once per route,
    # and a projection folded into its lambdas would parse once per route.
    # Each route reads its own id column, so multi-column tables extract
    # each column's own id (the reference extracts the first column's id
    # for every mapping, SURVEY.md §2A). Ids degrade to NULL like
    # operators/cdc.py::extract_entity_id.
    parse = [
        "stream",
        "_off",
        "_ms",
        "coalesce(try_cast(_raw_seq AS long), 0) AS _seq",
        "_payload",
        "_routes",
        f"from_json(_payload, '{ENVELOPE_SCHEMA}').after AS _after",
        "_ms IS NOT NULL AND (_raw_seq IS NULL OR try_cast(_raw_seq AS long) IS NOT NULL) "
        "AS _off_ok",
    ]
    cands = (
        "transform(_routes, r -> named_struct('target_stream', r.target_stream, "
        "'id_column', r.id_column, 'entity_id', "
        "try_cast(try_element_at(_after, r.id_column) AS int)))"
    )
    bad = f"filter({cands}, c -> c.entity_id IS NULL OR NOT _off_ok)"
    dead_ids = f"array_join(array_sort(array_distinct(transform({bad}, c -> c.id_column))), ',')"
    # The sink rows of one input row. The optional items are filtered out
    # of a literal array, because concat with a NULL array is NULL.
    #  - its ack row: every entry of a routed stream is consumed (S15-S19);
    #    unroutable streams are never consumed by the reference either.
    #  - its dead row, when any route's id or the offset is malformed: one
    #    per malformed source entry, its failing id columns as one sorted
    #    CSV cell. The entry is still acked, so under acknowledge=delete
    #    the dead sink is where it survives (the reference instead wedges
    #    the stream on the first malformed record, RedisSource.java:63-66).
    #  - one copy per healthy route, keyed by its target.
    ack = _item("acks", "stream", "_off", _NULL, _NULL, _NULL_ID)
    dead = _item("dead", "stream", "_off", "_payload", dead_ids, _NULL_ID)
    copy = _item("targets", "c.target_stream", _NULL, _NULL, _NULL, "c.entity_id")
    generate = [
        "stream",
        "_off",
        "_ms",
        "_seq",
        f"inline(concat("
        f"filter(array(CASE WHEN size(_routes) > 0 THEN {ack} END, "
        f"CASE WHEN size({bad}) > 0 THEN {dead} END), x -> x IS NOT NULL), "
        f"transform(filter({cands}, c -> c.entity_id IS NOT NULL AND _off_ok), c -> {copy})))",
    ]
    # S9: first-wins per (target, entity_id) within this micro-batch, keyed
    # by entity id only, like Collectors.toMap (WatchStream.java:272).
    # Routed copies carry a NULL offset, so (_sink, _key, offset) is the
    # target for them and the source entry for ack and dead rows: every
    # window and the aggregate below read one partition, or the one
    # exchange on (_key, offset) under parallel (compile_watch_plan).
    first_wins = [
        "*",
        f"row_number() OVER (PARTITION BY _sink, _key, offset, entity_id {_ORDER}) AS _first",
    ]
    # S12/S13: arrival-order packing into <= target.size ids per record.
    rn = f"row_number() OVER (PARTITION BY _sink, _key, offset {_ORDER})"
    pack = [
        "_sink",
        "_key",
        "offset",
        "payload",
        "id_column",
        "entity_id",
        f"CASE WHEN _sink = 'targets' THEN {rn} END AS _rn",
    ]
    # Grouped by (_sink, _key, _bucket, offset, payload): one row per
    # packed bucket, one ack row per (stream, offset) and one dead row per
    # (stream, offset, payload), whatever duplicates the batch holds.
    aggs = [
        "CASE WHEN _sink = 'targets' THEN to_json(transform(array_sort(collect_list("
        "named_struct('rn', _rn, 'id', entity_id))), p -> p.id)) END AS ids",
        "max(id_column) AS id_column",
        f"CASE WHEN _sink = 'acks' THEN {_sql_str(cfg.source.acknowledge)} END AS ack_mode",
    ]
    bucket = f"ceil(_rn / {cfg.buffers.target.size}) AS _bucket"
    return _PlanSQL(decode, parse, generate, first_wins, pack, bucket, aggs)


_rendered: dict[str, _PlanSQL] = {}


def _plan_sql(cfg: Config) -> _PlanSQL:
    """The plan text for ``cfg``, rendered once per distinct config
    content (Config holds a dict, so it is not hashable itself)."""
    key = json.dumps(
        [cfg.source.prefix, cfg.source.acknowledge, cfg.target.prefix,
         cfg.buffers.target.size, cfg.mapping],
        sort_keys=True,
    )
    if key not in _rendered:
        _rendered[key] = _render(cfg)
    return _rendered[key]


def compile_watch_plan(batch: DataFrame, cfg: Config, parallel: bool = False) -> DataFrame:
    """Compile one micro-batch into the tagged sink relation
    ``(_sink, _key, ids, offset, id_column, payload, ack_mode)``: as one
    task over the coalesced batch, or, with ``parallel``, over the
    batch's own partitions and one hash exchange on ``(_key, offset)``.

    ``_sink`` is the kind (SINK_KEYS), ``_key`` its target or source
    stream, and the (all string) fields a kind does not carry are NULL:

    ``targets``: ``ids`` — arrival-ordered, deduped id arrays of
    <= cfg.buffers.target.size, JSON-encoded (the ``{"ids": "[...]"}``
    payload, WatchStream.java:284-293).
    ``acks``: ``offset, ack_mode`` — every routed input record, once;
    under checkpointed foreachBatch all fan-out copies of a batch land
    atomically, so batch membership IS the refcount barrier
    (WatchStream.java:183-190).
    ``dead``: ``offset, id_column, payload`` — records whose payload
    decode / id extract degraded to NULL (operators/cdc.py's
    degrade-to-NULL policy) OR whose offset is not a parseable Redis
    RecordId (try_cast: a plain ANSI cast would throw and wedge the
    stream on one malformed record). One row per malformed source entry,
    not per fan-out target. These rows are dropped from ``targets`` but
    still acked.
    """
    sql = _plan_sql(cfg)
    rows = (
        (batch if parallel else batch.coalesce(1))
        .selectExpr(*sql.decode)
        .selectExpr(*sql.parse)
        .selectExpr(*sql.generate)
    )
    return (
        (rows.repartition("_key", "offset") if parallel else rows)
        .selectExpr(*sql.first_wins)
        .where("_sink <> 'targets' OR _first = 1")
        .selectExpr(*sql.pack)
        .groupBy("_sink", "_key", F.expr(sql.bucket), "offset", "payload")
        .agg(*(F.expr(a) for a in sql.aggs))
        .select(*SINK_COLUMNS)
    )
