"""Driver-window rotation hygiene.

The driver checks the first 50 entries of ``__spark_entry__.queries()``
per round. ``driver_order()`` must therefore (a) surface the stalest
verification debt first and (b) structurally bound how long any entry can
go without a driver CORRECTNESS row. The order tests read the committed
CORRECTNESS_r*.json artifacts through ``driver_last_verified``; the policy
test points it at a temporary directory.
"""

from __future__ import annotations

import json

from cdc_dedupe_spark.queries import (
    CONTRACT_RESETS,
    REGISTRY,
    driver_last_verified,
    driver_order,
)

WINDOW = 50


def test_driver_order_is_registry_permutation():
    order = driver_order()
    assert sorted(order) == sorted(REGISTRY)
    assert len(set(order)) == len(order)


def test_window_is_exactly_the_stalest_entries():
    """The first 50 names are the 50 smallest (last_verified, name) keys —
    i.e. the window always retires the oldest debt first."""
    last = driver_last_verified()
    order = driver_order()
    keyed = sorted(REGISTRY, key=lambda n: (last.get(n, 0), n))
    assert order == keyed
    window_keys = {last.get(n, 0) for n in order[:WINDOW]}
    rest_keys = {last.get(n, 0) for n in order[WINDOW:]}
    assert max(window_keys) <= min(rest_keys)


def test_staleness_bound_is_structural():
    """No entry may be more than ceil(N / 50) rounds stale relative to the
    freshest history round: with LRU ordering, each round retires the 50
    stalest entries, so the spread between the newest and oldest verified
    rounds in the registry can never exceed the number of window-sweeps
    needed to cover the surface (+1 for the round in flight)."""
    last = driver_last_verified()
    verified = [last.get(n, 0) for n in REGISTRY if last.get(n, 0) > 0]
    assert verified, "no passing row in any committed CORRECTNESS_r*.json"
    newest = max(verified)
    sweeps = -(-len(REGISTRY) // WINDOW)  # ceil
    # Entries with no history must fill the window FIRST. When fewer than
    # 50 exist they must all be inside; when a round adds more than 50 new
    # queries, the correct structural claim is saturation — the window
    # contains ONLY never-verified entries, and the leftovers are next
    # round's front (LRU order keys them at round 0, ahead of everything
    # verified).
    never = [n for n in REGISTRY if last.get(n, 0) == 0]
    window = driver_order()[:WINDOW]
    if len(never) <= WINDOW:
        assert all(n in window for n in never), (
            f"never-driver-verified entries outside the window: "
            f"{[n for n in never if n not in window]}"
        )
    else:
        assert all(last.get(n, 0) == 0 for n in window), (
            "window not saturated with never-verified entries while "
            f"{len(never)} > {WINDOW} exist"
        )
    # Verified entries: oldest allowed round is newest - sweeps.
    stale = {
        n: last[n]
        for n in REGISTRY
        if 0 < last.get(n, 0) < newest - sweeps and n not in window
    }
    assert not stale, f"entries stale beyond the structural bound and not in window: {stale}"


def test_last_verified_pass_and_reset_policy(tmp_path):
    """Pass rule and CONTRACT_RESETS policy, on two tiny artifacts."""
    reset_name, reset_round = next(iter(CONTRACT_RESETS.items()))
    old, new = reset_round - 1, reset_round + 1
    ok = {"hash_match": True, "spark_rows": 3, "err": None}
    rows_only = {"hash_match": False, "spark_rows": 7, "err": "no_oracle"}
    failing = {"hash_match": False, "spark_rows": 3, "err": None}
    (tmp_path / f"CORRECTNESS_r{old:02d}.json").write_text(json.dumps({
        "hashed": ok,
        "rows_only": rows_only,
        "failing": ok,
        "newest_wins": ok,
        reset_name: ok,
        "no_rows": {"hash_match": False, "spark_rows": None, "err": "no_oracle"},
    }))
    (tmp_path / f"CORRECTNESS_r{new:02d}.json").write_text(json.dumps({
        "failing": failing,
        "newest_wins": ok,
        "never": failing,
    }))
    assert driver_last_verified(tmp_path) == {
        "hashed": old,
        "rows_only": old,
        "failing": old,
        "newest_wins": new,
    }


def test_r9_verification_debt_stayed_retired():
    """The 9 never-driver-verified r9 additions plus the 6 r6-stale
    window_* entries all earned green rows in the r10 window. Pin that the
    history reflects it — if any of them ever reads as pre-r10 again, an
    artifact regressed."""
    last = driver_last_verified()
    targets = [
        "agg_cms_heavy_hitters", "join_bloom_prefilter", "join_fuzzy_band",
        "pipeline_quality_gate", "stats_two_sample", "stream_bloom_dedupe",
        "ts_ewma_hourly", "vec_pq_encode", "window_cume_dist",
        "window_lag_lead", "window_ntile", "window_percent_rank",
        "window_range_frame", "window_rank", "window_running_sum",
    ]
    regressed = {t: last.get(t, 0) for t in targets if last.get(t, 0) < 10}
    assert not regressed, f"r9 debt entries lost their r10+ driver rows: {regressed}"
