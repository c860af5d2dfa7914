"""Layer-resolved benchmark of the ocr_spark engine.

Run from the root of an ocr_spark checkout:

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload in one process. The last line of
standard output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it list every metric by name
and unit. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, taken from a traced half of the
run (the lines list them all; the JSON holds those measured on every
workload), and the spans are written to ``.perfbench/traces/``. The exit status is
0 only when every output matched its expected checksum. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--docs", type=int, default=0, help="corpus size (default: per workload)"
    )
    ap.add_argument(
        "--corrupt-expected",
        action="store_true",
        help="flip one byte of the expected output (self-test of the check)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "ocr_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print(
            "perfbench: no ocr_spark sources here; run from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root]
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from perfbench.harness import Harness
    from perfbench.metrics import END_TO_END, PER_LAYER

    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    results = []
    with Harness(work, trace_dir=os.path.join(root, ".perfbench", "traces")) as h:
        session_s = time.perf_counter() - t0
        for name in names:
            results.append(
                h.run(
                    WORKLOADS[name](),
                    seed=args.seed,
                    seconds=args.seconds,
                    trace=bool(args.trace),
                    docs=args.docs,
                    corrupt=args.corrupt_expected,
                    session_s=session_s,
                )
            )

    if args.trace:
        wanted = [(name, unit, in_json) for name, unit, _, in_json in PER_LAYER]
    else:
        wanted = [(name, unit, True) for name, unit, *_ in END_TO_END]
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else f"{r.workload}."
        for name, unit, in_json in wanted:
            print(f"{r.workload:15s} {name:42s} {r.metrics[name]:14.6g} {unit}")
            if in_json:
                metrics[prefix + name] = {"value": r.metrics[name], "unit": unit}
        print(
            f"{r.workload:15s} {'error_rate':42s} {r.error_rate:14.6g} fraction"
            f"   ({r.failed} of {r.attempted} {r.unit} wrong; {r.reps} timed reps)"
        )
        for line in r.notes:
            print(f"{r.workload:15s} {line}")
    correct = all(r.correct for r in results)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": sum(r.attempted for r in results),
                "failed": sum(r.failed for r in results),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
