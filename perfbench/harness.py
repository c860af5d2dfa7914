"""Session lifetime, set-up, the closed-loop timed runs and the traced run.

A run starts one Spark session at ``local[N]`` (N = usable cores), then per
workload: warms the Python workers, materializes the input, computes the
expected checksum, and runs the workload's untimed warm-up reps; all of that is
``setup_s``. The timed loop then runs reps back to back (one job at a time,
a closed loop with one client) for ``--seconds``: after two reps, a rep starts
only while it is expected to end within half a rep of the window's end. A traced run spends the first half
of its time untraced and the second half traced, so ``trace_overhead``
compares the two.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.metrics import PER_LAYER
from perfbench.probes import (
    ProcTree,
    QueryCapture,
    RssSampler,
    StageWindow,
    is_exchange,
    now_ms,
    plan_nodes,
)
from perfbench.workloads import NULL_TRACER, Ctx, Workload, checksum, mismatched_rows

KERNEL_SAMPLE = 48


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Result:
    workload: str
    metrics: dict[str, float]
    attempted: int
    failed: int
    unit: str
    reps: int
    notes: list[str] = field(default_factory=list)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0


class Tracer:
    """In-memory spans: name, start, end, parent; one trace per rep."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_ms": now_ms(),
            "end_ms": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ms"] = now_ms()

    def _attach(self, root_id: int, name: str, start_ms: float, end_ms: float, attrs) -> None:
        """Add a span as the child of the innermost span of this trace that
        was open at its midpoint (Spark's clocks and ours differ by a few ms)."""
        parent = root_id
        mid = (start_ms + end_ms) / 2
        for rec in self.spans[root_id:]:
            if rec["trace"] == self.trace_id and rec["start_ms"] <= mid <= (rec["end_ms"] or 0):
                parent = rec["id"]
        self.spans.append(
            {
                "id": len(self.spans),
                "trace": self.trace_id,
                "parent": parent,
                "name": name,
                "start_ms": start_ms,
                "end_ms": end_ms,
                "attrs": attrs,
            }
        )

    def add_query(self, root_id: int, func_name: str, times, nodes) -> None:
        """A finished Spark SQL query, with the metrics of its plan nodes."""
        self._attach(
            root_id,
            f"spark.query.{func_name}",
            *times,
            [{"node": n.name, "metrics": n.metrics} for n in nodes if n.metrics],
        )

    def add_stage(self, root_id: int, st) -> None:
        """A finished Spark stage, with its run, CPU and GC time."""
        self._attach(
            root_id,
            f"spark.stage.{st.stage_id}",
            float(st.start_ms),
            float(st.end_ms),
            {
                "stage": st.name,
                "tasks": len(st.task_ms),
                "run_ms": st.run_ms,
                "cpu_ms": st.cpu_ns / 1e6,
                "gc_ms": st.gc_ms,
                "input_bytes": st.input_bytes,
                "shuffle_write_bytes": st.shuffle_write_bytes,
                "output_bytes": st.output_bytes,
                "task_skew": st.skew,
            },
        )

    def with_self_times(self) -> list[dict]:
        """Spans plus ``self_ms``: duration minus the union of child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        out = []
        for s in self.spans:
            covered, edge = 0.0, s["start_ms"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, edge), min(b, s["end_ms"])
                if b > a:
                    covered += b - a
                    edge = b
            out.append({**s, "self_ms": (s["end_ms"] - s["start_ms"]) - covered})
        return out


class Harness:
    def __init__(self, work: str, trace_dir: str) -> None:
        self.work = work
        self.trace_dir = trace_dir
        self.cores = usable_cores()
        self.spark = None
        self._boot: dict[str, float] | None = None
        self._warm_s = 0.0

    # ---- session ------------------------------------------------------
    def __enter__(self) -> Harness:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_FIXTURE_CACHE"] = "off"
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        from ocr_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self

    def __exit__(self, *exc) -> None:
        try:
            if self.spark is not None:
                gw = self.spark.sparkContext._gateway
                proc = getattr(gw, "proc", None)
                self.spark.stop()
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def warm_workers(self) -> None:
        """One no-op Python job with a task per core: starts the worker
        daemon and one worker per core. Its plan metrics give the boot and
        init time of the workers."""
        if self._boot is not None:
            return
        t0 = time.perf_counter()

        def noop(batches):
            yield from batches

        df = self.spark.range(self.cores * 64, numPartitions=self.cores).mapInPandas(
            noop, schema="id long"
        )
        df.collect()

        boot = init = 0
        for n in plan_nodes(df._jdf.queryExecution().executedPlan()):
            boot += n.metrics.get("pythonBootTime", 0)
            init += n.metrics.get("pythonInitTime", 0)
        self._boot = {"session.worker_boot_s": boot / 1e3, "session.worker_init_s": init / 1e3}
        self._warm_s = time.perf_counter() - t0

    # ---- one workload -------------------------------------------------
    def run(
        self,
        wl: Workload,
        seed: int,
        seconds: float,
        trace: bool,
        docs: int,
        corrupt: bool,
        session_s: float,
    ) -> Result:
        spark = self.spark
        if wl.python_workers:
            self.warm_workers()
        t0 = time.perf_counter()
        ctx = Ctx(spark, os.path.join(self.work, wl.name), seed, docs or wl.default_docs, corrupt)
        os.makedirs(ctx.work)
        t1 = time.perf_counter()
        wl.materialize(ctx)
        t2 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(wl.oracle_rows, ctx)
            for _ in range(wl.warmup_reps):
                with QueryCapture(spark) as cap:
                    wl.rep(ctx, NULL_TRACER)
                wl.after_rep(ctx)
            t3 = time.perf_counter()
            oracle.result()
        expected = wl.expected(ctx)
        exp_cs = checksum(expected)
        t4 = time.perf_counter()
        warm_s = self._warm_s if wl.python_workers else 0.0
        setup_s = session_s + warm_s + t4 - t0
        setup_note = (
            f"set-up: session {session_s:.2f} s, workers {warm_s:.2f} s, input "
            f"{t2 - t1:.2f} s, warm-up reps {t3 - t2:.2f} s, expected +{t4 - t3:.2f} s"
        )
        _require_plans(cap)
        plans = _plan_counts(cap)

        state = _Loop(self, wl, ctx, expected, exp_cs)
        if not trace:
            state.run(seconds, tracer=None)
            metrics = {
                "docs_per_s": state.docs_per_s(),
                "cpu_s_per_kdoc": statistics.median(state.cpu) / ctx.n_docs * 1e3,
                "peak_rss_mb": statistics.median(state.rss) / 1e6,
                "setup_s": setup_s,
            }
            notes = [
                setup_note,
                "rep seconds: " + " ".join(f"{r.seconds:.3f}" for r in state.reps),
                "rep cpu seconds: " + " ".join(f"{c:.2f}" for c in state.cpu),
                "rep peak MB: " + " ".join(f"{b / 1e6:.0f}" for b in state.rss),
            ]
        else:
            state.run(seconds / 2, tracer=None)
            untraced = state.docs_per_s()
            traced = _Loop(self, wl, ctx, expected, exp_cs)
            traced.run(seconds / 2, tracer=Tracer())
            metrics, notes = self.layers(wl, ctx, traced, untraced, plans)
            notes.insert(0, setup_note)
            state.merge(traced)
        return Result(
            workload=wl.name,
            metrics=metrics,
            attempted=state.attempted,
            failed=state.failed + (0 if plans["plans.html_exchanges"] == 0 else state.attempted),
            unit="pairs" if wl.name == "dedup_verified" else "docs",
            reps=len(state.reps),
            notes=notes
            + ([] if plans["plans.html_exchanges"] == 0 else ["html column crosses an exchange"]),
        )

    # ---- per-layer metrics -------------------------------------------
    def layers(self, wl, ctx, loop, untraced_rate, warm_plans):
        from perfbench import corpus
        from perfbench.kernelbench import kernel_costs, sample_pages

        n_reps = len(loop.reps)
        m = {name: 0.0 for name, *_ in PER_LAYER}
        if wl.python_workers:
            m.update(self._boot)

        # kernels, on a fixed sample of this workload's documents
        docs = corpus.documents(ctx.seed, ctx.n_docs)
        noisy = sample_pages(docs, KERNEL_SAMPLE, noisy=True)
        html = noisy if wl.name == "ocr_noisy" else sample_pages(docs, KERNEL_SAMPLE, noisy=False)
        kc = kernel_costs(html, noisy)
        m.update({k: v for k, v in kc.items() if not k.startswith("_")})

        # plan metrics, per rep
        def per_rep(v):
            return v / n_reps

        html_ex = 0
        for nodes in loop.plans:
            for n in nodes:
                if is_exchange(n):
                    html_ex += "html" in n.output
                    mb = n.metrics.get("shuffleBytesWritten", 0) / 1e6
                    if wl.name == "ocr_noisy" and "hashpartitioning(url" in n.text:
                        m["operators.pipeline.assembly_shuffle_mb"] += per_rep(mb)
                    if wl.name == "dedup_verified":
                        m["operators.dedup.shuffle_mb"] += per_rep(mb)
                if n.name == "MapInPandas":
                    py_s = per_rep(n.metrics.get("pythonTotalTime", 0) / 1e3)
                    sent = per_rep(n.metrics.get("pythonDataSent", 0) / 1e6)
                    recv = per_rep(n.metrics.get("pythonDataReceived", 0) / 1e6)
                    if "_extract_batches" in n.text:
                        m["operators.extract_html.python_s"] += py_s
                        m["operators.extract_html.arrow_sent_mb"] += sent
                        m["operators.extract_html.arrow_recv_mb"] += recv
                    else:
                        key = "detect" if "_extract_and_detect" in n.text else "recognize"
                        m[f"operators.pipeline.{key}_python_s"] += py_s
                        m["operators.pipeline.arrow_sent_mb"] += sent
                        m["operators.pipeline.arrow_recv_mb"] += recv
                if n.name.startswith("Scan parquet"):
                    m["sources.scan_s"] += per_rep(n.metrics.get("scanTime", 0) / 1e3)
                    m["sources.read_mb"] += per_rep(n.metrics.get("filesSize", 0) / 1e6)
        m["plans.exchanges"] = float(warm_plans["plans.exchanges"])
        m["plans.html_exchanges"] = float(max(warm_plans["plans.html_exchanges"], html_ex))

        # stages
        run_ms = cpu_ns = gc_ms = 0
        skews, write_skews = [], []
        for stages in loop.stages:
            run_ms += sum(s.run_ms for s in stages)
            cpu_ns += sum(s.cpu_ns for s in stages)
            gc_ms += sum(s.gc_ms for s in stages)
            scans = [s for s in stages if s.input_bytes > 0]
            m["sources.splits"] += per_rep(sum(len(s.task_ms) for s in scans))
            if stages:
                skews.append(max(stages, key=lambda s: s.run_ms).skew)
            writes = [s for s in stages if s.output_bytes > 0]
            if writes:
                write_skews.append(max(writes, key=lambda s: s.output_bytes).skew)
        m["stages.executor_run_s"] = per_rep(run_ms / 1e3)
        m["stages.executor_cpu_s"] = per_rep(cpu_ns / 1e9)
        m["stages.gc_s"] = per_rep(gc_ms / 1e3)
        m["stages.core_busy_share"] = run_ms / 1e3 / (loop.wall_s * self.cores)
        m["stages.task_skew"] = statistics.median(skews) if skews else 1.0
        if write_skews and wl.name == "job_write":
            m["sinks.partitioned.write_task_skew"] = statistics.median(write_skews)

        # counts reported by the reps themselves
        for rep in loop.reps:
            for k, v in rep.layers.items():
                m[k] += per_rep(v)
        if wl.name == "dedup_verified":
            m.update(wl.trace_extras(ctx))
            m["operators.dedup.verified_pairs"] = float(loop.reps[-1].checksum[0])
            cand = m["operators.dedup.candidate_pairs"]
            m["operators.dedup.verify_yield"] = (
                m["operators.dedup.verified_pairs"] / cand if cand else 0.0
            )
        m["trace_overhead"] = 1.0 - loop.docs_per_s() / untraced_rate

        # how much of each Python operator's time the kernel self-times
        # explain: per-page kernel cost times the page count, per rep.
        # pythonTotalTime is the worker's wall time, so an operator that
        # waits for the one upstream of it in the same task reads high.
        html_us = (
            kc["kernels.charset.decode_html_us"]
            + kc["kernels.html.tokenize_us"]
            + kc["kernels.html.score_assemble_us"]
        )
        strips = kc["_strips_per_page"]
        models = {
            "operators.extract_html.python_s": html_us,
            "operators.pipeline.detect_python_s": html_us
            + kc["_image_decode_us_per_page"]
            + strips * kc["kernels.ocr.normalize_strip_us"],
            "operators.pipeline.recognize_python_s": strips * kc["kernels.font.recognize_us"],
        }
        notes = []
        for key, per_page_us in models.items():
            if m[key] > 0:
                model_s = per_page_us * ctx.n_docs / 1e6
                notes.append(
                    f"kernel model {model_s:.3f} s of {m[key]:.3f} s {key} per rep "
                    f"({model_s / m[key]:.0%})"
                )

        os.makedirs(self.trace_dir, exist_ok=True)
        path = os.path.join(self.trace_dir, f"{wl.name}-seed{ctx.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": wl.name,
                    "seed": ctx.seed,
                    "docs": ctx.n_docs,
                    "cores": self.cores,
                    "metrics": m,
                    "spans": loop.tracer.with_self_times(),
                },
                f,
            )
        notes.append(f"spans written to {os.path.relpath(path)}")
        return m, notes


def _require_plans(cap: QueryCapture) -> None:
    """Plan metrics and the html-exchange check rest on the captured plans,
    so a capture that saw no query or failed to walk one ends the run."""
    if cap.errors or not cap.plans:
        raise RuntimeError(f"query plan capture failed: {cap.errors or 'no queries seen'}")


def _plan_counts(cap: QueryCapture) -> dict[str, int]:
    ex = [n for n in cap.nodes() if is_exchange(n)]
    return {
        "plans.exchanges": len(ex),
        "plans.html_exchanges": sum("html" in n.output for n in ex),
    }


class _Loop:
    """Closed loop of reps; per-rep checks, CPU and memory."""

    def __init__(self, h: Harness, wl: Workload, ctx: Ctx, expected, exp_cs) -> None:
        self.h, self.wl, self.ctx = h, wl, ctx
        self.expected, self.exp_cs = expected, exp_cs
        self.reps = []
        self.cpu: list[float] = []  # CPU seconds of the process tree, per rep
        self.rss: list[int] = []  # peak resident bytes, per rep
        self.attempted = self.failed = 0
        self.wall_s = 0.0
        self.plans: list[list] = []
        self.stages: list[list] = []
        self.tracer = None

    def docs_per_s(self) -> float:
        return statistics.median(self.ctx.n_docs / r.seconds for r in self.reps)

    def run(self, seconds: float, tracer: Tracer | None) -> None:
        tree = ProcTree()
        self.tracer = tracer
        t_start = time.perf_counter()
        spans, laps = [], []
        with RssSampler(tree) as rss:
            # at least two reps, so that a slow rep is not the whole sample;
            # then start a rep only while it is expected to end no later than
            # half a rep after the window, so runs overshoot it by 0 on average
            while (
                len(laps) < 2
                or time.perf_counter() - t_start + statistics.median(laps) / 2 <= seconds
            ):
                t_lap = time.perf_counter()
                k = len(self.reps) + 1
                window = cap = None
                if tracer is not None:
                    tracer.trace_id = k
                    window = StageWindow(self.h.spark)
                    cap = QueryCapture(self.h.spark).__enter__()
                t0, cpu0 = time.perf_counter(), tree.cpu_seconds()
                with (tracer or NULL_TRACER).span("rep", rep=k) as root:
                    rep = self.wl.rep(self.ctx, tracer or NULL_TRACER)
                self.cpu.append(tree.cpu_seconds() - cpu0)
                spans.append((t0, time.perf_counter()))
                if tracer is not None:
                    cap.__exit__(None, None, None)
                    _require_plans(cap)
                    stages = window.stages()
                    for (func_name, nodes), times in zip(cap.plans, cap.times):
                        tracer.add_query(root["id"], func_name, times, nodes)
                    for st in stages:
                        tracer.add_stage(root["id"], st)
                    self.stages.append(stages)
                    self.plans.extend(nodes for _, nodes in cap.plans)
                self.reps.append(rep)
                self.check(rep, tracer)
                self.wl.after_rep(self.ctx)
                # the JVM collects as it would in a job; a forced full GC here
                # would shrink its heap and make the peak depend on when
                # memory is handed back
                gc.collect()
                laps.append(time.perf_counter() - t_lap)
        self.wall_s = time.perf_counter() - t_start
        self.rss = [rss.peak_between(a, b + rss.period) for a, b in spans]

    def check(self, rep, tracer) -> None:
        self.attempted += self.exp_cs[0]
        with (tracer or NULL_TRACER).span("check"):
            self.wl.finish(self.ctx, rep)
            if rep.checksum != self.exp_cs:
                bad = mismatched_rows(self.wl.actual(self.ctx), self.expected, self.wl.keys)
                self.failed += max(bad, 1)

    def merge(self, other: _Loop) -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.reps.extend(other.reps)
