"""Query surface: importing this package populates the registry."""

from __future__ import annotations

import json
import re
from pathlib import Path

from .registry import REGISTRY, QueryDef, register  # noqa: F401

# Group modules register themselves on import; import order is irrelevant.
from . import llm  # noqa: F401,E402
from . import llm_ext  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import relational_ext  # noqa: F401,E402
from . import scalar  # noqa: F401,E402
from . import cdc  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import curation  # noqa: F401,E402
from . import sketch  # noqa: F401,E402
from . import pipeline_ops  # noqa: F401,E402
from . import stats_ml  # noqa: F401,E402
from . import web_dedup  # noqa: F401,E402

REPO = Path(__file__).resolve().parents[2]

# Contract resets: query name -> first round whose driver rows still count.
# When a query's OUTPUT CONTRACT changes (new columns, new oracle, rows-only
# upgraded to exact), older passing rows verified the OLD semantics and must
# not keep it out of the window — drop them so the entry re-fronts as
# never-verified until the driver re-checks the new contract.
CONTRACT_RESETS: dict[str, int] = {
    # r13: rows-only -> exact
    "stream_stateful_agg": 13,
    "agg_approx_distinct": 13,
    "agg_approx_percentile": 13,
    # r14: rows-only -> exact key-set oracle
    "stream_watermark_dedupe": 14,
}


def row_passes(row: dict) -> bool:
    """A driver CORRECTNESS row passes on full value-hash parity against the
    DuckDB oracle, or on the declared rows-only check for queries without an
    oracle twin (``err == "no_oracle"`` with a non-null ``spark_rows``)."""
    if not isinstance(row, dict):
        return False
    if row.get("hash_match"):
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def driver_last_verified(root: Path = REPO) -> dict[str, int]:
    """Query name -> newest round whose ``CORRECTNESS_r<round>.json`` under
    ``root`` holds a passing row for it (rows older than the name's
    CONTRACT_RESETS round do not count). Names never verified are absent."""
    latest: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if rnd >= CONTRACT_RESETS.get(name, 0) and row_passes(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def driver_order() -> list[str]:
    """Registry names in the order the driver contract exposes them:
    least-recently-driver-verified first (never-verified queries at the
    front), alphabetical within a round. The driver checks the first 50
    entries, so this order bounds any entry's staleness at ceil(N/50)
    rounds."""
    last = driver_last_verified()
    return sorted(REGISTRY, key=lambda n: (last.get(n, 0), n))
