"""``resident_serve``: build, serve, then rewrite in place.

The four ops build resident state on first call (trained models, stream
replays, component labels) and serve from it after.  Their dataset is
fixed (``gen_corpus.BASE``); the seed sets the op order of each warm
pass.
After the warm passes the dataset's files are overwritten in place with
``gen_corpus.REWRITE`` (same paths, new bytes) and every op runs once
more: an answer that still reflects the old files counts as failed.
Answers are checked against DuckDB oracle answers kept in
``expected_resident.json``.
"""

from __future__ import annotations

import itertools
import time

import expected
import gen_corpus
from check import fingerprint, mismatch
from harness import Context, traced_op_layers, warm_stats, work_dir
from summary import median

# stream_rrf_fold is left out: its first call and rebuild (about 27 s
# together on 4 cores) do not fit the run budget; stream_bm25_index_fold
# drives the same chunked stream replay
OPS = ("dedup_clusters_incremental", "gate_agreement_matrix",
       "stream_bm25_index_fold")
# ops whose DuckDB oracle is fast enough to time as the control; the
# gate and dedup oracles take minutes on this dataset
CONTROL_OPS = ("stream_bm25_index_fold",)
SETUP_REPEATS = 3
# warm-phase seconds per pass: ``--seconds 10`` gives four passes,
# however fast the code under test is
PASS_S = 2.5
# ops that run in every other warm pass only.  The two warm samples of
# dedup_clusters_incremental in one run differ by about 10% (median over
# twenty runs), those of the two short ops by about 20%, so the short
# ops get twice the samples, without paying 3 s more a pass for dedup.
# Passes alternate with and without these ops, so a traced run's
# off-on-on-off passes hold them once on each side.
EVERY_OTHER_PASS = ("dedup_clusters_incremental",)


def setup_inputs(ctx: Context) -> tuple[str, float]:
    """Generate the base dataset ``SETUP_REPEATS`` times; returns the
    last directory and the median generation time."""
    times = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        d = work_dir(ctx, f"corpus{i}")
        gen_corpus.write(d, **gen_corpus.BASE)
        times.append(time.perf_counter() - t0)
    return d, median(times)


def run(ctx: Context) -> dict:
    with ctx.tracer.span("setup.inputs", op="setup"):
        data, input_s = setup_inputs(ctx)
    known = expected.load()
    answers = known[expected.dataset_id(data, gen_corpus.TABLES)]["answers"]

    def op(name: str, phase: str) -> dict:
        def check(res):
            cols, rows = res
            got = fingerprint(cols, rows)
            why = mismatch(got, answers[name])
            return {"rows": got["rows"], "error": why and f"wrong result: {why}"}

        return ctx.timed_op(
            name, phase,
            build=lambda: ctx.queries[name](ctx.spark, data),
            sink=lambda df: (df.columns, df.collect()),
            check=check,
        )

    warm_pass = itertools.count()

    def one_pass(phase: str) -> None:
        # first calls run in a fixed order: a builder that runs first
        # pays for warming up what later builders share (up to 3x its
        # cost), so a seeded order would make first_s depend on the seed
        order = list(OPS)
        if phase == "warm":
            if next(warm_pass) % 2:
                order = [o for o in order if o not in EVERY_OTHER_PASS]
            ctx.rng.shuffle(order)
        for name in order:
            op(name, phase)

    one_pass("first")
    warm = ctx.warm_loop(lambda: one_pass("warm"), PASS_S)
    if ctx.trace:
        resident_layers(ctx)
        control(ctx, data)

    # rewrite in place: same paths, new bytes; ops must not serve the
    # old files' answers
    gen_corpus.write(data, **gen_corpus.REWRITE)
    answers = known[expected.dataset_id(data, gen_corpus.TABLES)]["answers"]
    one_pass("rewrite")

    firsts = [o for o in ctx.outcomes if o["phase"] in ("first", "rewrite")]
    rewrite = [o for o in ctx.outcomes if o["phase"] == "rewrite"]
    ctx.layers["resident.rebuild_s"] = sum(o["wall_s"] for o in rewrite)
    if ctx.trace:
        ctx.layers.update(traced_op_layers(ctx, ("first", "rewrite")))
        stream_layers(ctx)
    return {
        "input_setup_s": input_s,
        "first_s": sum(o["wall_s"] for o in firsts),
        **warm_stats(ctx, warm),
        "warm_passes": warm["passes"],
    }


def resident_layers(ctx: Context) -> None:
    from ffiec_pq_spark.resident import resident_state_report

    rep = resident_state_report(ctx.spark)
    storage = rep.pop("_spark_storage", {})
    entries = sum(v["entries"] for v in rep.values())
    disk = sum(v["disk_bytes"] for v in rep.values())
    spark_bytes = storage.get("mem_bytes", 0) + storage.get("disk_bytes", 0)
    ctx.layers.update({
        "resident.entries": entries,
        "resident.disk_bytes": disk,
        "resident.spark_storage_bytes": spark_bytes,
        "resident_bytes": disk + spark_bytes,
    })
    ctx.notes["resident_report"] = {k: v for k, v in rep.items() if v["entries"]}


def control(ctx: Context, data: str) -> None:
    """DuckDB running the catalog's oracle SQL on the same files, with
    as many threads as Spark has cores: first run and warm median."""
    con = expected.oracle_connection(data, gen_corpus.TABLES, ctx.cpus)
    first, warm = [], []
    try:
        for name in CONTROL_OPS:
            for i in range(4):
                t0 = time.perf_counter()
                con.execute(ctx.oracles[name]).fetchall()
                (first if i == 0 else warm).append(time.perf_counter() - t0)
    finally:
        con.close()
    ctx.layers["control.duckdb_first_s"] = sum(first)
    ctx.layers["control.duckdb_op_p50_s"] = median(warm)


def stream_layers(ctx: Context) -> None:
    time.sleep(0.5)  # the listener bus delivers progress asynchronously
    ev = list(ctx.stream_events)
    ctx.layers.update({
        "streaming.triggers": len(ev),
        "streaming.trigger_ms_p50": median(e.get("triggerExecution", 0.0) for e in ev),
        "streaming.add_batch_ms": sum(e.get("addBatch", 0.0) for e in ev),
        "streaming.query_planning_ms": sum(e.get("queryPlanning", 0.0) for e in ev),
        "streaming.wal_commit_ms": sum(e.get("walCommit", 0.0) for e in ev),
    })
