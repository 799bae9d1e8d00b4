"""Live-Redis validation (VERDICT r6 'What's missing' #2).

Everything else in the suite drives the redis_stream source/sink through
``cdc_dedupe_spark/sources/fake_redis.py`` because the ``redis`` package
is an optional extra. These tests run the same watch
topology against a REAL server when one is available, validating the
XREADGROUP/XACK/XDEL interop and the ``_is_missing_stream`` error
taxonomy that the fake can only assert by construction.

Enable with::

    REDIS_URL=redis://localhost:6379/0 python -m pytest -m redis_live

Skipped cleanly (collection-time) when ``redis`` is absent or REDIS_URL is
unset; skipped at run time if the server does not answer PING. Keys are
namespaced by a per-run uuid prefix and deleted afterwards.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

try:
    import redis as _redis
except ImportError:  # pragma: no cover - environment-dependent
    _redis = None

REDIS_URL = os.environ.get("REDIS_URL")

pytestmark = [
    pytest.mark.redis_live,
    pytest.mark.skipif(_redis is None, reason="redis package not installed"),
    pytest.mark.skipif(not REDIS_URL, reason="REDIS_URL not set"),
]


def make_client(options: dict) -> "object":
    """client_factory target: connect via REDIS_URL (local-mode executors
    share the driver's environment)."""
    return _redis.Redis.from_url(os.environ["REDIS_URL"], decode_responses=True)


@pytest.fixture()
def live():
    client = _redis.Redis.from_url(REDIS_URL, decode_responses=True)
    try:
        client.ping()
    except Exception as e:  # pragma: no cover - environment-dependent
        pytest.skip(f"redis server unreachable: {e}")
    prefix = f"sgtest:{uuid.uuid4().hex[:8]}:"
    yield client, prefix
    cursor = 0
    while True:
        cursor, keys = client.scan(cursor, match=prefix + "*", count=500)
        if keys:
            client.delete(*keys)
        if cursor == 0:
            break


CONFIG_YAML = """\
source:
  format: compact
  prefix: "{p}src."
  group: cdc
  consumer: cdc
  acknowledge: delete
buffers:
  source: {{size: 1000, time: 1000}}
  dedupe: {{size: 100000, time: 5000}}
  target: {{size: 1000, time: 1000}}
target:
  prefix: "{p}tgt."
mapping:
  catalog_category_entity:
    entity_id:
      - catalog_product_flat
"""


def test_watch_live_redis_topology(spark, tmp_path, live):
    """The fake-backed topology test (test_watch_pipeline.py:189) against a
    real server: poll XADDed envelopes, pack to the target stream, XACK
    into a real PEL, XDEL the source entries."""
    from cdc_dedupe_spark.config import load_config
    from cdc_dedupe_spark.streaming.pipeline import watch

    client, p = live
    cfg_path = tmp_path / "config.yaml"
    cfg_path.write_text(CONFIG_YAML.format(p=p))
    cfg = load_config(cfg_path)

    src_stream = f"{p}src.catalog_category_entity"
    for eid in (1, 2, 1, 2):
        payload = json.dumps({"before": {"entity_id": eid}, "after": {"entity_id": eid}})
        client.xadd(src_stream, {"key": payload})

    handles = watch(
        spark,
        cfg,
        source_dir=None,
        work_dir=str(tmp_path / "work"),
        redis_options={"client_factory": "tests.test_redis_live:make_client"},
        redis_sink=True,
    )
    handles.query.awaitTermination()

    target = f"{p}tgt.catalog_product_flat"
    ids = [json.loads(f["ids"]) for _, f in client.xrange(target)]
    assert ids[0] == []  # seed record first
    assert ids[1:] == [[1, 2]]  # one deduped batch

    # XACK interop: every delivered entry acked => PEL empty
    pending = client.xpending(src_stream, "cdc")
    assert pending["pending"] == 0
    # acknowledge=delete: the source stream is emptied (XLEN 0)
    assert client.xlen(src_stream) == 0


def test_missing_stream_taxonomy_live(live):
    """`_is_missing_stream` encodes server behavior for XRANGE, the one read
    command the source sends (sources/redis_stream.py ``_xrange``): XRANGE
    of a nonexistent key answers an empty list, not an error, while XRANGE
    of a wrong-type key raises WRONGTYPE, which the helper must NOT
    classify as missing, so ``_xrange`` propagates it."""
    from cdc_dedupe_spark.sources.redis_stream import _is_missing_stream, _xrange

    client, p = live
    assert client.xrange(p + "never_created") == []
    assert _xrange(client, p + "never_created") == []

    client.set(p + "a_string", "x")
    with pytest.raises(_redis.exceptions.ResponseError, match="WRONGTYPE") as ei:
        client.xrange(p + "a_string")
    assert not _is_missing_stream(ei.value), "WRONGTYPE misread as missing stream"
    with pytest.raises(_redis.exceptions.ResponseError, match="WRONGTYPE"):
        _xrange(client, p + "a_string")
