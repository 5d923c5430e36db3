"""Session lifetime and the per-op loop shared by the workloads."""

from __future__ import annotations

import os
import random
import time

from summary import geomean_of_medians, median
from tracing import JobCounter, Tracer, catalyst_ms


def status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def warm_passes(seconds: float, pass_s: float, trace: bool) -> int:
    """``seconds / pass_s`` rounded, at least one, and at least four
    when traced."""
    return max(1, round(seconds / pass_s), 4 if trace else 1)


class Context:
    """One benchmark process: the session, the tracer, the op outcomes
    and the timings the summary is built from."""

    def __init__(self, *, workload: str, seed: int, seconds: float, trace: bool,
                 cpus: int, work: str, t_start: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.cpus = cpus
        self.work = work
        self.t_start = t_start
        self.rng = random.Random(seed)
        self.tracer = Tracer(trace)
        self.trace = trace
        self.outcomes: list[dict] = []
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.spark = None
        self.queries = None  # catalog name -> builder
        self.oracles = None  # catalog name -> DuckDB SQL
        self.counter = None
        self.java_version = "unknown"
        self.stream_events: list[dict] = []

    # -- session ------------------------------------------------------
    def start_session(self) -> float:
        """get_spark, catalog import and a first trivial job; returns
        seconds since process start."""
        with self.tracer.span("session.get_spark", op="setup"):
            t0 = time.perf_counter()
            from ffiec_pq_spark.session import get_spark

            self.spark = get_spark(f"perfbench_{self.workload}", cpus=self.cpus)
            t1 = time.perf_counter()
        with self.tracer.span("session.catalog_import", op="setup"):
            from ffiec_pq_spark import catalog

            self.queries = catalog.queries()
            self.oracles = catalog.oracles()
            t2 = time.perf_counter()
        with self.tracer.span("session.first_job", op="setup"):
            self.spark.range(1000).selectExpr("sum(id)").collect()
            t3 = time.perf_counter()
        self.java_version = self.spark._jvm.java.lang.System.getProperty("java.version")
        self.layers.update({
            "session.get_spark_s": t1 - t0,
            "session.catalog_import_s": t2 - t1,
            "session.first_job_s": t3 - t2,
        })
        if self.trace:
            from tracing import stream_listener

            self.counter = JobCounter(self.spark.sparkContext)
            self.spark.streams.addListener(stream_listener(self.stream_events))
        return t3 - self.t_start

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        kb = status_kb("self", "VmHWM") + status_kb(self.jvm_pid(), "VmHWM")
        return kb / 1024.0

    def stop_session(self) -> None:
        """Stop Spark and wait until its JVM (and with it the Python
        workers it started) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway else None
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- ops ----------------------------------------------------------
    def timed_op(self, name: str, phase: str, build, sink, check,
                 spans=("queries.build", "sink.exec")) -> dict:
        """Run one op: ``build()`` returns the planned object,
        ``sink(obj)`` executes it and returns its result, ``check(res)``
        returns a dict of fields for the outcome, with ``error`` set
        when the result is wrong.  Timing covers build and sink, each
        under the span named in ``spans``; the check runs after."""
        out = {"op": name, "phase": phase, "error": None}
        group = f"{name}#{len(self.outcomes)}"
        counting = self.tracer.active and self.counter is not None
        with self.tracer.span("op", op=group, workload_op=name, phase=phase):
            if counting:
                self.counter.begin(group)
            t0 = time.perf_counter()
            t1 = None
            obj = res = None
            try:
                with self.tracer.span(spans[0]):
                    obj = build()
                t1 = time.perf_counter()
                with self.tracer.span(spans[1]):
                    res = sink(obj)
            except Exception as exc:  # an op that raises counts as failed
                out["error"] = f"raised {type(exc).__name__}: {exc}"[:500]
            t2 = time.perf_counter()
            t1 = t1 or t2
            if counting:
                out.update(self.counter.end(group))
                if obj is not None and hasattr(obj, "_jdf"):
                    out["catalyst_ms"] = catalyst_ms(obj)
            # the traced wall also holds the trace's own per-op calls
            out["op_span_s"] = time.perf_counter() - t0
        out.update(build_s=t1 - t0, sink_s=t2 - t1, wall_s=t2 - t0,
                   traced=self.tracer.active)
        if out["error"] is None:
            out.update(check(res) or {})
        self.outcomes.append(out)
        return out

    def warm_loop(self, one_pass, pass_s: float) -> dict:
        """Call ``one_pass()`` (one closed-loop pass over the ops)
        :func:`warm_passes` times, where ``pass_s`` is the workload's
        warm-phase seconds per pass.  The count does not depend on how
        fast the code under test is, so both sides of a comparison
        measure the same samples.  Traced passes go off-on-on-off
        (repeating), so that the warm-up trend cancels out of the wall
        ratio of traced to untraced passes, which is the tracing
        overhead."""
        walls = {True: [], False: []}
        passes = warm_passes(self.seconds, pass_s, self.trace)
        t0 = time.perf_counter()
        for n in range(passes):
            if self.trace:
                self.tracer.active = n % 4 in (1, 2)
            t = time.perf_counter()
            one_pass()
            walls[self.tracer.active].append(time.perf_counter() - t)
        self.tracer.active = self.trace
        wall = time.perf_counter() - t0
        if self.trace and walls[False]:
            k = min(len(walls[True]), len(walls[False]))
            self.layers["trace.overhead_frac"] = (
                sum(walls[True][:k]) / sum(walls[False][:k]) - 1.0
            )
        return {"passes": passes, "wall_s": wall}


def warm_stats(ctx: Context, warm: dict) -> dict:
    """``op_p50_s`` is the geometric mean of the per-op warm medians;
    ``ops_per_s`` is warm ops completed over warm wall time."""
    ok = [o for o in ctx.outcomes if o["phase"] == "warm" and not o["error"]]
    by_op: dict[str, list[float]] = {}
    for o in ok:
        by_op.setdefault(o["op"], []).append(o["wall_s"])
    return {
        "op_p50_s": geomean_of_medians(by_op),
        "ops_per_s": len(ok) / warm["wall_s"] if warm["wall_s"] else 0.0,
        "n_warm": len(ok),
    }


def traced_op_layers(ctx: Context, phase_first: tuple[str, ...]) -> dict:
    """Per-layer medians over warm traced ops, and sums over the ops of
    the ``phase_first`` phases."""
    warm = [o for o in ctx.outcomes if o["phase"] == "warm" and o.get("traced")
            and "jobs" in o]
    first = [o for o in ctx.outcomes if o["phase"] in phase_first and "jobs" in o]
    cat = [o["catalyst_ms"] for o in warm if "catalyst_ms" in o]
    return {
        "queries.build_s": median(o["build_s"] for o in warm),
        "queries.build_first_s": sum(o["build_s"] for o in first),
        "catalyst.analysis_ms": median(c["analysis"] for c in cat),
        "catalyst.optimization_ms": median(c["optimization"] for c in cat),
        "catalyst.planning_ms": median(c["planning"] for c in cat),
        "spark.jobs_per_op": median(o["jobs"] for o in warm),
        "spark.stages_per_op": median(o["stages"] for o in warm),
        "spark.tasks_per_op": median(o["tasks"] for o in warm),
        "spark.jobs_first": sum(o["jobs"] for o in first),
        "spark.tasks_first": sum(o["tasks"] for o in first),
        "sink.exec_s": median(o["sink_s"] for o in warm),
    }


def work_dir(ctx: Context, name: str) -> str:
    path = os.path.join(ctx.work, name)
    os.makedirs(path, exist_ok=True)
    return path
