"""``etl_ingest``: one op is one ``ffiec_process`` call over one
quarter's bulk zip into a fresh output directory.

The zips come from ``gen_ffiec`` with the run's seed; each ingest is
checked against the counts the generator knows: long rows per type, no
primary-key duplicates, wide rows per schedule, POR rows, and the
process log's ``ok`` flags and repair tags."""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from contextlib import contextmanager

import gen_ffiec
import pyarrow.parquet as pq
from harness import Context, warm_stats, work_dir
from summary import median

# 5000 banks (about the number of FFIEC call-report filers) x 3
# schedules x 2 parts x 8 items: 240k cells a quarter.  Sixty items a
# schedule (900k cells) make a run about 25 s longer, mostly in the
# first ingest, and 22 runs of each workload then no longer fit in an
# hour
N_BANKS = 5000
ITEMS_PER_PART = 8
N_PARTS = 2
# quarters generated per set-up: the first ingest reads one, the warm
# ingests cycle through all
N_QUARTERS = 2
SETUP_REPEATS = 3
# warm-phase seconds per pass: ``--seconds 10`` gives one warm ingest,
# however fast the code under test is
PASS_S = 10.0
STAGES = ("manifest_validate", "audit_batch", "parse_repair",
          "combine_write_wide", "por", "long_build", "schedule_pq", "log_write")
# output file name -> kind; first match wins (a POR file also looks
# like a wide file)
_KINDS = (
    ("long", re.compile(r"ffiec_(float|int|str|bool|date)\.parquet$")),
    ("log", re.compile(r"ffiec_process_data\.parquet$")),
    ("por", re.compile(r"por_\d{8}\.parquet$")),
    ("wide", re.compile(r"[a-z0-9]+_\d{8}\.parquet$")),
)


def output_kind(name: str) -> str | None:
    return next((k for k, rx in _KINDS if rx.match(name)), None)


class TracingClock:
    """``ffiec_process``'s ``clock=``: a span per stage (child of the
    op's span, also on the ETL's pool threads) and a Spark job group
    per stage; seconds per stage are thread-seconds."""

    def __init__(self, ctx: Context, op_span: dict) -> None:
        self.ctx = ctx
        self.op_span = op_span
        self.seconds: dict[str, float] = {}
        self.groups: set[str] = set()  # one Spark job group per stage
        self._lock = threading.Lock()

    @contextmanager
    def stage(self, name: str):
        sc = self.ctx.spark.sparkContext
        group = f"{self.op_span['op']}:{name}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        with self._lock:
            self.groups.add(group)
            self.ctx.counter.extra_groups.add(group)
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"etl.{name}", parent=self.op_span):
                yield
        finally:
            dt = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.seconds[name] = self.seconds.get(name, 0.0) + dt

    def jobs(self) -> dict[str, int]:
        """Spark jobs run under each stage's group."""
        tracker = self.ctx.spark.sparkContext.statusTracker()
        return {g.rsplit(":", 1)[1]: len(tracker.getJobIdsForGroup(g))
                for g in sorted(self.groups)}


def setup_inputs(ctx: Context, layout) -> tuple[list[dict], float]:
    times = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        d = work_dir(ctx, f"zips{i}")
        quarters = [gen_ffiec.write_quarter(d, ctx.seed, q, layout)
                    for q in range(N_QUARTERS)]
        times.append(time.perf_counter() - t0)
    return quarters, median(times)


def check_ingest(res: dict, exp: dict) -> str | None:
    """Why the ingest output disagrees with the generator, or None."""
    long_rows = {k: pq.read_metadata(p).num_rows for k, p in res["long"].items()}
    if long_rows != exp["long_rows"]:
        return f"long rows {long_rows} != {exp['long_rows']}"
    for kind, path in res["long"].items():
        keys = pq.read_table(path, columns=["IDRSSD", "date", "item"])
        if keys.group_by(["IDRSSD", "date", "item"]).aggregate([]).num_rows != keys.num_rows:
            return f"duplicate (IDRSSD, date, item) keys in {kind}"
    wide = {w["schedule"].upper(): pq.read_metadata(w["path"]).num_rows
            for w in res["wide"]}
    if wide != exp["wide_rows"]:
        return f"wide rows {wide} != {exp['wide_rows']}"
    por = sum(pq.read_metadata(p).num_rows for p in res["por"])
    if por != exp["por_rows"]:
        return f"POR rows {por} != {exp['por_rows']}"
    out_dir = os.path.dirname(res["por"][0])
    log = pq.read_table(os.path.join(out_dir, "ffiec_process_data.parquet")).to_pylist()
    if not all(r["ok"] for r in log):
        return "process log has ok=false rows"
    tags = {r["schedule"].upper(): r["repairs"] for r in log if r["kind"] == "schedule"}
    if tags != exp["repairs"]:
        return f"repair tags {tags} != {exp['repairs']}"
    if sum(r["kind"] == "por" for r in log) != 1:
        return "process log lacks its POR row"
    return None


def sink_bytes(out_dir: str) -> dict[str, int]:
    """Parquet bytes and files written, per output kind."""
    out: dict[str, int] = {}
    for f in os.listdir(out_dir):
        kind = output_kind(f)
        if kind is None:
            continue
        out[f"{kind}_bytes"] = out.get(f"{kind}_bytes", 0) + os.path.getsize(
            os.path.join(out_dir, f))
        out[f"{kind}_files"] = out.get(f"{kind}_files", 0) + 1
    return out


def run(ctx: Context) -> dict:
    from ffiec_pq_spark.operators.process import ffiec_process

    layout = gen_ffiec.make_layout(N_BANKS, ITEMS_PER_PART, N_PARTS)
    with ctx.tracer.span("setup.inputs", op="setup"):
        quarters, input_s = setup_inputs(ctx, layout)
    outs = work_dir(ctx, "out")
    count = itertools.count()

    def ingest(phase: str) -> dict:
        i = next(count)
        q = quarters[i % len(quarters)]
        out_dir = os.path.join(outs, f"ingest{i}")
        clocks = []

        def process(_):
            span = ctx.tracer.current()
            clock = TracingClock(ctx, span) if span else None
            clocks.append(clock)
            return ffiec_process(ctx.spark, [q["path"]], layout.type_dict,
                                 out_dir, pure_cols=layout.pure_cols, clock=clock)

        def check(res):
            why = check_ingest(res, q["expected"])
            return {"error": why and f"wrong result: {why}",
                    "sink": sink_bytes(out_dir), "out_dir": out_dir,
                    "stage_s": clocks[0].seconds if clocks[0] else None,
                    "stage_jobs": clocks[0].jobs() if clocks[0] else None}

        o = ctx.timed_op("ffiec_process", phase, build=lambda: None,
                         sink=process, check=check,
                         spans=("etl.plan", "operators.process"))
        o.update(cells=q["expected"]["cells"], input_bytes=q["expected"]["input_bytes"])
        return o

    ingest("first")
    warm = ctx.warm_loop(lambda: ingest("warm"), PASS_S)
    stats = warm_stats(ctx, warm)
    if ctx.trace:
        etl_layers(ctx)
    first = [o for o in ctx.outcomes if o["phase"] == "first"]
    return {
        "input_setup_s": input_s,
        "first_s": sum(o["wall_s"] for o in first),
        **stats,
        "warm_passes": warm["passes"],
    }


def etl_layers(ctx: Context) -> None:
    warm = [o for o in ctx.outcomes if o["phase"] == "warm" and not o["error"]]
    traced = [o for o in warm if o.get("traced")]
    first = [o for o in ctx.outcomes if o["phase"] == "first" and "jobs" in o]
    for st in STAGES:
        ctx.layers[f"etl.{st}_s"] = median(o["stage_s"].get(st, 0.0) for o in traced)
    sinks = [o["sink"] for o in warm]
    for kind in ("wide", "long", "por", "log"):
        ctx.layers[f"sink.{kind}_bytes"] = median(s.get(f"{kind}_bytes", 0) for s in sinks)
    ctx.layers["sink.files_written"] = median(
        sum(v for k, v in s.items() if k.endswith("_files")) for s in sinks)
    written = median(
        sum(s.get(f"{k}_bytes", 0) for k in ("wide", "long", "por", "log")) / o["input_bytes"]
        for s, o in zip(sinks, warm))
    ctx.layers.update({
        "written_bytes_per_input_byte": written,
        "ingest_cells_per_s": median(o["cells"] / o["wall_s"] for o in warm),
        "spark.jobs_per_op": median(o["jobs"] for o in traced),
        "spark.stages_per_op": median(o["stages"] for o in traced),
        "spark.tasks_per_op": median(o["tasks"] for o in traced),
        "spark.jobs_first": sum(o["jobs"] for o in first),
        "spark.tasks_first": sum(o["tasks"] for o in first),
    })
    ctx.notes["etl_stage_jobs"] = traced[-1]["stage_jobs"]
    ctx.layers["control.duckdb_long_build_s"] = duckdb_long_build(ctx, traced[-1]["out_dir"])


def duckdb_long_build(ctx: Context, out_dir: str) -> float:
    """The reference's own long build over the ETL's wide output: per
    value type, UNPIVOT the wide files, drop NULLs, DISTINCT, and
    ``COPY ... (FORMAT PARQUET)``.  Checks DuckDB's long row counts
    against the Spark output it controls for."""
    import duckdb

    wide = [os.path.join(out_dir, f) for f in sorted(os.listdir(out_dir))
            if output_kind(f) == "wide"]
    by_type: dict[str, list[str]] = {}
    for path in wide:
        for field in pq.read_schema(path):
            if field.name not in ("IDRSSD", "date"):
                by_type.setdefault(str(field.type), []).append(field.name)
    names = {"double": "float", "int32": "int", "string": "str", "bool": "bool"}
    files = ", ".join(f"'{p}'" for p in wide)
    dest = work_dir(ctx, "duckdb_long")
    con = duckdb.connect()
    con.execute(f"SET threads TO {ctx.cpus}")
    t0 = time.perf_counter()
    try:
        for t, cols in sorted(by_type.items()):
            col_list = ", ".join(f'"{c}"' for c in sorted(set(cols)))
            con.execute(
                f"COPY (SELECT DISTINCT IDRSSD, date, item, value FROM ("
                f"UNPIVOT (SELECT IDRSSD, date, {col_list} FROM read_parquet([{files}],"
                f" union_by_name = true)) ON {col_list} INTO NAME item VALUE value))"
                f" TO '{dest}/{names.get(t, t)}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    dt = time.perf_counter() - t0
    spark_rows = {k: pq.read_metadata(os.path.join(out_dir, f"ffiec_{k}.parquet")).num_rows
                  for k in names.values()}
    duck_rows = {names.get(t, t): pq.read_metadata(f"{dest}/{names.get(t, t)}.parquet").num_rows
                 for t in by_type}
    ctx.notes["duckdb_long_rows_match"] = duck_rows == spark_rows
    return dt
