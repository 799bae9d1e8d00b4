#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload watch_steady --seed 1 --seconds 12 --trace 0

Workloads: ``watch_steady``, ``query_mix`` (see perfbench/NOTES.md). With ``--trace 0`` the result carries the
end-to-end metrics; with ``--trace 1`` the run installs the span
wrappers and Spark's event log and reports the per-layer metrics, and
writes every span, the host record and both metric sets to
``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of standard output is the result object; everything else
(Spark, workers, the human-readable summary) goes to standard error.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("watch_steady", "query_mix")

def _prepare_env(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside the checkout and pin Spark to
    local[nproc]."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The inputs are small; the package's 8g default would reserve heap
    # that a shared host may not have.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # The mix's saveAsTable queries write to the warehouse: a fresh one per
    # run, so no run starts from tables an earlier run left.
    # A fixed set of JIT compiler threads: host.tree_cpu_s leaves their
    # time out of the CPU figures.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads' "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = str(work / "eventlog")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark, its workers and the TWS runner print to fd 1; the result line
    # must be the last line there, so route fd 1 to stderr and keep a
    # private handle for the result.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work, bool(args.trace))

    from perfbench import host, metrics, workloads

    record = host.host_record()
    print(f"perfbench host {json.dumps(record)}", file=sys.stderr)
    cpu0 = host.cpu_times()
    try:
        res = workloads.run(args.workload, work, args.seed, args.seconds, bool(args.trace), T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["steal_share"] = host.steal_share(cpu0, host.cpu_times())

    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    values = {k: (res.layers if args.trace else res.metrics)[k] for k in units}
    out = {
        "correct": res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "host": record,
        "failed_ratio": res.failed / max(1, res.attempted),
        "end_to_end": {k: res.metrics[k] for k in metrics.END_TO_END},
        "wall": {k: res.metrics[k] for k in metrics.WALL},
        "info": res.info,
    }
    if args.trace:
        summary["per_layer"] = res.layers
        base.mkdir(exist_ok=True)
        (base / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(summary, indent=1, default=str))
    print(f"perfbench summary {json.dumps(summary, default=str)}", file=sys.stderr)
    with os.fdopen(result_fd, "w") as f:
        f.write(json.dumps(out) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
