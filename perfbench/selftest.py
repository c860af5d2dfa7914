"""Self-test of the benchmark: tiny runs of every workload.

Run from the root of an ocr_spark checkout (about three minutes on 4 cores):

    python3 perfbench/selftest.py

It checks that

* ``BENCHMARK.json`` names exactly the metrics of ``perfbench/metrics.py``;
* an untraced and a traced run of every workload print every metric that
  ``BENCHMARK.json`` and ``perfbench/metrics.py`` name, report
  ``error_rate`` 0 and exit 0;
* with one byte of the expected output flipped, every workload reports
  ``error_rate`` above 0 and the run exits nonzero;
* run where the engine's sources are missing, the benchmark exits nonzero
  without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

TINY = ["--seed", "7", "--seconds", "1", "--docs", "40"]
_ERR = re.compile(r"^(\S+)\s+error_rate\s+(\S+) fraction")


def run(*args: str, cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )
    return p.returncode, p.stdout


def printed(out: str) -> set[tuple[str, str]]:
    """(workload, metric) pairs named on the metric lines of a run."""
    pairs = set()
    for line in out.splitlines():
        parts = line.split()
        if len(parts) >= 3 and parts[0] in WORKLOADS:
            pairs.add((parts[0], parts[1]))
    return pairs


def error_rates(out: str) -> dict[str, float]:
    rates = {}
    for line in out.splitlines():
        m = _ERR.match(line)
        if m:
            rates[m.group(1)] = float(m.group(2))
    return rates


def main() -> int:
    failures: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    check(
        e2e == [n for n, *_ in END_TO_END]
        and [(m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
        == [tuple(r[1:]) for r in END_TO_END],
        "BENCHMARK.json end_to_end mirrors metrics.END_TO_END",
    )
    check(
        layer == [n for n, _, _, in_json in PER_LAYER if in_json]
        and [(m["unit"], m["better"]) for m in bench["per_layer"]]
        == [(u, b) for _, u, b, in_json in PER_LAYER if in_json],
        "BENCHMARK.json per_layer mirrors the in_json rows of metrics.PER_LAYER",
    )
    check(
        {w["name"] for w in bench["workloads"]} <= set(WORKLOADS),
        "every BENCHMARK.json workload exists",
    )

    for trace, names in (("0", [n for n, *_ in END_TO_END]), ("1", [n for n, *_ in PER_LAYER])):
        code, out = run("--workload", "all", "--trace", trace, *TINY)
        result = json.loads(out.strip().splitlines()[-1]) if out.strip() else {}
        shown = printed(out)
        for w in WORKLOADS:
            missing = [n for n in names + ["error_rate"] if (w, n) not in shown]
            check(not missing, f"trace {trace}: {w} prints every metric {missing or ''}")
            check(error_rates(out).get(w) == 0.0, f"trace {trace}: {w} error_rate == 0")
        keys = {k.split(".", 1)[1] for k in result.get("metrics", {})}
        check(
            keys == set(e2e if trace == "0" else layer),
            f"trace {trace}: result line holds the BENCHMARK.json metrics",
        )
        check(code == 0 and result.get("correct") is True, f"trace {trace}: exit 0, correct")

    code, out = run("--workload", "all", "--trace", "0", "--corrupt-expected", *TINY)
    rates = error_rates(out)
    for w in WORKLOADS:
        check(rates.get(w, 0.0) > 0, f"one flipped expected byte: {w} error_rate > 0")
    check(code != 0, "one flipped expected byte: nonzero exit")

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        code, out = run("--workload", "job_write", "--trace", "0", *TINY, cwd=bare)
        check(code != 0 and not out.strip(), "without the engine sources: nonzero exit, no result")

    print(f"{len(failures)} failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
