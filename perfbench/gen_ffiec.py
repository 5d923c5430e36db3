"""Seeded generator of FFIEC-shaped quarterly bulk zips for the
``etl_ingest`` workload, with the counts a correct ingest must produce.

Each quarter's zip holds the ``SCHEDULES`` schedules, each split into
``n_parts`` multipart members with disjoint item columns, plus a POR
member.  Items cover the double, int, string and bool types and one
pure-percent column per schedule; the last column of every member is a
free-text item.  A seeded share of rows puts an embedded newline or a
stray tab into that text, so the reader's repair path runs.  A seeded
share of cells is empty or ``CONF`` (both read as NULL).

The same ``(seed, sizes)`` gives byte-identical zips: members carry a
fixed timestamp and are written in a fixed order.
"""

from __future__ import annotations

import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

QUARTERS = ("03312024", "06302024", "09302024", "12312024")
SCHEDULES = ("RC", "RCB", "RI")
# cycle of item kinds inside a member; "pct" is a pure-percent item
# (dictionary type "c", listed in ``pure_cols``), "text" a string item
KINDS = ("d", "i", "l", "d", "i", "c")
WORDS = (
    "loan deposit asset equity income trust branch capital reserve "
    "charge lease bond note swap cash"
).split()
NULL_SHARE = 0.04
CONF_SHARE = 0.01
REPAIR_SHARE = 0.005
_ZIP_TIME = (2024, 1, 1, 0, 0, 0)
# long-table name per parsed type (operators/process.py LONG_TYPE_NAMES)
LONG_OF_KIND = {"d": "float", "pct": "float", "i": "int", "l": "bool",
                "c": "str", "text": "str"}


@dataclass
class Layout:
    """Items per (schedule, part), and the dictionary the reader needs."""

    n_banks: int
    members: dict[tuple[str, int], list[tuple[str, str]]]
    n_parts: int
    type_dict: dict[str, str] = field(default_factory=dict)
    pure_cols: list[str] = field(default_factory=list)

    @property
    def n_items(self) -> int:
        return sum(len(cols) for cols in self.members.values())


def make_layout(n_banks: int, items_per_part: int, n_parts: int) -> Layout:
    """Item names and kinds; fixed by the sizes, not by the seed, so
    every seed ingests the same shape of work."""
    members: dict[tuple[str, int], list[tuple[str, str]]] = {}
    type_dict: dict[str, str] = {}
    pure: list[str] = []
    code = 1000
    for sched in SCHEDULES:
        for p in range(1, n_parts + 1):
            cols = []
            for j in range(items_per_part - 1):
                kind = KINDS[j % len(KINDS)]
                if j == 0 and p == 1:
                    kind = "pct"
                cols.append((f"RCFD{code}", kind))
                code += 1
            cols.append((f"TEXT{code}", "text"))
            code += 1
            for name, kind in cols:
                type_dict[name] = {"pct": "c", "text": "c"}.get(kind, kind)
                if kind == "pct":
                    pure.append(name)
            members[(sched, p)] = cols
    return Layout(n_banks, members, n_parts, type_dict, pure)


def _row(vals) -> str:
    # FFIEC rows end with a tab: legitimate row boundaries are
    # tab-adjacent, which is what the newline repair relies on
    return "\t".join(vals) + "\t"


def _values(rng, kind: str, n: int) -> list[str]:
    if kind == "d":
        x = rng.integers(0, 10**7, n)
        c = rng.integers(0, 100, n)
        return [f"{a}.{b:02d}" for a, b in zip(x.tolist(), c.tolist())]
    if kind == "i":
        return [str(v) for v in rng.integers(-5000, 10**6, n).tolist()]
    if kind == "l":
        return ["true" if v else "false" for v in rng.integers(0, 2, n).tolist()]
    if kind == "pct":
        return [f"{v / 10:.1f}%" for v in rng.integers(0, 1000, n).tolist()]
    idx = rng.integers(0, len(WORDS), (n, 3)).tolist()
    return [" ".join(WORDS[k] for k in ks) for ks in idx]


def _member_text(rng, layout: Layout, cols, counts: dict[str, int],
                 repair: bool) -> str:
    """One member's TSV text; ``counts`` gains its non-NULL cells per
    long table.  With ``repair``, a seeded share of rows (at least one)
    carries an embedded newline or a stray tab in the last column."""
    n = layout.n_banks
    columns = []
    for name, kind in cols:
        vals = _values(rng, kind, n)
        u = rng.random(n)
        null = u < NULL_SHARE
        conf = ~null & (u < NULL_SHARE + CONF_SHARE) & (kind in ("d", "i"))
        counts[LONG_OF_KIND[kind]] += n - int(null.sum()) - int(conf.sum())
        columns.append(["" if a else "CONF" if c else v
                        for v, a, c in zip(vals, null.tolist(), conf.tolist())])
    text = columns[-1]
    broken = (rng.random(n) < REPAIR_SHARE) & repair
    broken[rng.integers(0, n)] = repair
    newline = rng.random(n) < 0.5
    for b in np.flatnonzero(broken).tolist():
        sep = "\n" if newline[b] else "\t"
        if text[b] == "":
            counts["str"] += 1
            text[b] = "blank x"
        first, rest = text[b].split(" ", 1)
        text[b] = first + sep + rest
    lines = [
        _row(["IDRSSD", *[c for c, _ in cols]]),
        _row(["ID", *[f"Item {c}" for c, _ in cols]]),
    ]
    for b, row in enumerate(zip(*columns)):
        lines.append(_row([str(10000 + b), *row]))
    return "\n".join(lines) + "\n"


def _por_text(rng, n_banks: int) -> str:
    header = [
        "IDRSSD", "Financial Institution Name", "Financial Institution State",
        "FDIC Certificate Number", "OCC Charter Number",
        "Primary ABA Routing Number", "Last Date/Time Submission Updated On",
    ]
    states = ("IA", "NE", "NY", "TX", "CA", "OH")
    st = rng.integers(0, len(states), n_banks).tolist()
    lines = [_row(header), _row(["ID", "Name", "State", "FDIC", "OCC", "ABA",
                                 "Updated"])]
    for b in range(n_banks):
        lines.append(_row([
            str(10000 + b), f"Bank {b}", states[st[b]], str(5000 + b),
            "0" if b % 6 == 0 else str(700 + b), str(100000 + b),
            "2024-07-01T12:00:00",
        ]))
    return "\n".join(lines) + "\n"


def write_quarter(dir_: str, seed: int, quarter: int, layout: Layout) -> dict:
    """Write quarter ``quarter``'s bulk zip into ``dir_``.

    Returns ``{"path", "date", "expected"}``: ``expected`` holds the
    long rows per type, the wide rows per schedule, the POR rows, the
    log's repair tags per schedule (every schedule's part 1 is repaired), the ingested cells and the
    uncompressed TSV bytes."""
    token = QUARTERS[quarter % len(QUARTERS)]
    rng = np.random.default_rng([seed, quarter])
    counts = {"float": 0, "int": 0, "str": 0, "bool": 0}
    repairs: dict[str, list[str]] = {}
    input_bytes = 0
    path = os.path.join(dir_, f"FFIEC CDR Call Bulk All Schedules {token}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        def put(name: str, text: str) -> None:
            nonlocal input_bytes
            data = text.encode()
            input_bytes += len(data)
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data, compresslevel=1)

        for (sched, p), cols in sorted(layout.members.items()):
            # part 1 of every schedule takes the repair path, the other
            # parts the clean path: each seed does the same kind of work
            text = _member_text(rng, layout, cols, counts, repair=p == 1)
            repairs[sched] = ["newline-gsub", "tab-repair"]
            put(f"FFIEC CDR Call Schedule {sched} {token}"
                f"({p} of {layout.n_parts}).txt", text)
        put(f"FFIEC CDR Call Bulk POR {token}.txt", _por_text(rng, layout.n_banks))
    date = f"{token[4:]}-{token[:2]}-{token[2:4]}"
    return {
        "path": path,
        "date": date,
        "expected": {
            "long_rows": counts,
            "wide_rows": {s: layout.n_banks for s in SCHEDULES},
            "por_rows": layout.n_banks,
            "repairs": repairs,
            "cells": layout.n_banks * layout.n_items,
            "input_bytes": input_bytes,
        },
    }
