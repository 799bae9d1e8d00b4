#!/usr/bin/env python
"""Measure the SCALING.md wave rows: run the named queries at sf0.1 and
at the LOCAL sf1 corpus (.localdata/sf1, gen_scale_corpus.py), warm
(two runs each, the SECOND is reported — same method as every prior
wave), forcing FULL plan evaluation exactly like bench.py (hash-fold of
every output column; count() only for map-typed outputs) so map-only
kernels are not silently pruned.

Usage: python scripts/scale_wave.py q1 q2 ...   [--json out.json]

Prints a SCALING.md-ready markdown table:
| query | sf0.1 | sf1-local | growth | out rows sf0.1→sf1 |
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = [a for a in argv if not a.startswith("--")]
    if not names:
        print(__doc__)
        return 2

    from bench import force_full_plan
    from cdc_dedupe_spark.queries import REGISTRY
    from cdc_dedupe_spark.session import get_spark

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2

    spark = get_spark("cdc-dedupe-spark-scale-wave")

    sfs = {
        "sf0.1": "/root/testdata/sf0.1",
        "sf1": str(Path(_REPO) / ".localdata" / "sf1"),
    }
    rows: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        rows[name] = {}
        for sf_label, sf_dir in sfs.items():
            spark.sparkContext.setJobGroup(name, f"{name}@{sf_label}")
            wall = None
            for _ in range(2):  # warm first run, report the second
                t0 = time.perf_counter()
                force_full_plan(q.spark(spark, sf_dir))
                wall = time.perf_counter() - t0
            n_out = q.spark(spark, sf_dir).count()
            rows[name][sf_label] = {"sec": round(wall, 2), "rows": n_out}
            print(f"  {name} @ {sf_label}: {wall:.2f}s, {n_out} rows", file=sys.stderr)

    print("| query | sf0.1 | sf1-local | growth | out rows sf0.1→sf1 |")
    print("|---|---|---|---|---|")
    for name in names:
        a, b = rows[name]["sf0.1"], rows[name]["sf1"]
        growth = b["sec"] / a["sec"] if a["sec"] > 0 else float("inf")
        g = "~1×" if growth < 1.45 else f"{growth:.1f}×"
        print(
            f"| {name} | {a['sec']} | {b['sec']} | {g} | "
            f"{a['rows']:,} → {b['rows']:,} |"
        )
    if json_out:
        Path(json_out).write_text(json.dumps(rows, indent=1) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
