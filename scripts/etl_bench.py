"""ETL throughput bench: generate a parameterized FFIEC-shaped bulk zip
(n_banks x n_items across n_parts multipart schedule files + POR) and
time the FULL ingest — manifest, dictionary-typed parse with two-phase
repair gating, multipart combine, wide parquet, type-partitioned long
tables with PK asserts, process log.

This makes the "a 10k-bank quarterly zip ingests in ~N s" claim
reproducible per round instead of an ad-hoc measurement.

Usage: python scripts/etl_bench.py [n_banks] [n_items] [n_parts] [n_schedules]
Prints one JSON line {"n_banks":..., "n_items":..., "cells":...,
"ingest_sec":..., "cells_per_sec":..., "stage_sec": {...}}.

``stage_sec`` breaks the ingest down by the eight stages
``ffiec_process(clock=)`` reports:

- ``manifest_validate``: member manifest + multipart validation
  (driver-side Python, no Spark job);
- ``audit_batch``: member headers, the one cached read pass over the
  zip (decompress, count bad lines, repair) and its per-member audit
  aggregate;
- ``parse_repair``: building each part's typed, problem-observing plan
  (no Spark job);
- ``combine_write_wide``: multipart combine + wide parquet write (the
  type-parse problem and pure-percent counts ride this write);
- ``por``, ``long_build``, ``schedule_pq``, ``log_write``.

The per-group stages (parse_repair / combine_write_wide) run on the
FIFO thread pool, so their seconds are summed THREAD-seconds and can
exceed the wall clock — ``stage_sec`` locates the work, ``ingest_sec``
is the wall.

The ingest runs TWICE in the process (fresh output dir each time):
``ingest_sec`` / ``stage_sec`` are the first run — what a fresh
engine pays for its first zip, including whole-stage-codegen
compilation of every pipeline plan — and ``ingest_sec_warm`` /
``stage_sec_warm`` the second, the per-zip steady state of a
long-lived ingest processing hundreds of quarters (the plan shapes
repeat, so codegen is cached).  The round-12 stage breakdown showed
the gap IS the fixed cost: the audit stage measured 6.6 s cold and
1.8 s warm on identical input.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATE_TOKEN = "03312024"


def _row(vals) -> str:
    return "\t".join(str(v) for v in vals) + "\t"


def make_big_zip(
    dir_: str, n_banks: int, n_items: int, n_parts: int, n_schedules: int = 1
):
    """One quarter's bulk zip: ``n_schedules`` schedules, each split into
    n_parts member files with disjoint item columns (multipart combine
    path), types cycling double/int/string like the real dictionary.
    Schedules carry disjoint item ranges (``n_items`` each), mirroring
    the real contract where each schedule owns its items."""
    types = ["d", "i", "c"]
    type_dict: dict[str, str] = {}
    path = os.path.join(
        dir_, f"FFIEC CDR Call Bulk All Schedules {DATE_TOKEN}.zip"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for s in range(n_schedules):
            sched = f"RI{chr(ord('A') + s)}" if n_schedules > 1 else "RI"
            items = [
                f"RCON{3000 + s * n_items + j:04d}" for j in range(n_items)
            ]
            for j, it in enumerate(items):
                type_dict[it] = types[j % 3]
            per_part = (n_items + n_parts - 1) // n_parts
            for p in range(n_parts):
                cols = items[p * per_part : (p + 1) * per_part]
                lines = [
                    _row(["IDRSSD", *cols]),
                    _row(["ID", *[f"Item {c}" for c in cols]]),
                ]
                for b in range(1, n_banks + 1):
                    vals = []
                    for j, c in enumerate(cols):
                        t = type_dict[c]
                        if t == "d":
                            vals.append(f"{(b * 37 + j) % 9973}.25")
                        elif t == "i":
                            vals.append(str((b * 13 + j) % 997))
                        else:
                            vals.append(f"v{b}_{j}")
                    lines.append(_row([10000 + b, *vals]))
                zf.writestr(
                    f"FFIEC CDR Call Schedule {sched} {DATE_TOKEN}"
                    f"({p + 1} of {n_parts}).txt",
                    "\n".join(lines) + "\n",
                )
    return path, type_dict


def main() -> int:
    from ffiec_pq_spark.operators.process import StageClock, ffiec_process
    from ffiec_pq_spark.session import get_spark

    n_banks = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    n_items = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    n_parts = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_schedules = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    work = tempfile.mkdtemp(prefix="ffiec_etl_bench_")
    try:
        zp, type_dict = make_big_zip(
            work, n_banks, n_items, n_parts, n_schedules
        )
        spark = get_spark("ffiec_etl_bench")
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
        def one_ingest(out_name: str) -> tuple[float, dict, int]:
            clock = StageClock()
            t0 = time.perf_counter()
            res = ffiec_process(
                spark, [zp], type_dict, os.path.join(work, out_name),
                clock=clock,
            )
            # force + count the long outputs (the pipeline's product)
            rows = sum(
                spark.read.parquet(p).count() for p in res["long"].values()
            )
            return (
                round(time.perf_counter() - t0, 2), clock.rounded(), rows
            )

        sec, stage_sec, long_rows = one_ingest("out")
        warm_sec, warm_stage, _ = one_ingest("out_warm")
        cells = n_banks * n_items * n_schedules
        print(
            json.dumps(
                {
                    "n_banks": n_banks,
                    "n_items": n_items,
                    "n_parts": n_parts,
                    "n_schedules": n_schedules,
                    "cells": cells,
                    "long_rows": long_rows,
                    "ingest_sec": sec,
                    "cells_per_sec": round(cells / sec),
                    "stage_sec": stage_sec,
                    "ingest_sec_warm": warm_sec,
                    "cells_per_sec_warm": round(cells / warm_sec),
                    "stage_sec_warm": warm_stage,
                }
            )
        )
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
