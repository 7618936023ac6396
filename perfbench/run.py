"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Builds the seeded inputs, runs one workload for ``--seconds`` seconds,
checks every output against DuckDB or a pure-Python reference, and
prints one JSON line last on stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The workload's own figures
(latency percentiles with sample counts, per-shape medians, failures)
go to stderr and to ``.perfbench_work/reports/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, Context, configure_env  # noqa: E402

WORKLOADS = ("serve_mixed", "batch_ingest")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "karna_spark", "__init__.py")):
        print(f"error: no karna_spark package in {ROOT}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    configure_env(work)
    os.chdir(work)
    try:
        if args.workload == "serve_mixed":
            import serve as workload
        else:
            import batch as workload
        metrics = workload.run(ctx)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    from layers import E2E_UNITS, UNITS

    units = {**E2E_UNITS, **UNITS}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "error_rate": ctx.failed / max(ctx.attempted, 1),
              **ctx.report, "failures": ctx.failures[:20], **result}
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(reports, f"{args.workload}-{args.seed}-{stamp}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for line in ctx.failures[:20]:
        print(f"FAILED {line}", file=sys.stderr)
    print(json.dumps({k: v for k, v in report.items() if k not in result}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
