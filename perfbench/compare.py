"""Compare two run records written under ``.perfbench_out/``:

    python3 perfbench/compare.py OLD.json NEW.json

Prints each end-to-end metric's old value, new value and change.
Refuses (exit 1) when the records were taken at different core counts
or on different workloads: such records are context, not a baseline."""

from __future__ import annotations

import json
import sys

from summary import comparable


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = (json.load(open(p)) for p in argv)
    ok, why = comparable(old, new)
    if not ok:
        print(f"not comparable: {why}", file=sys.stderr)
        return 1
    for name, a in old["end_to_end"].items():
        b = new["end_to_end"].get(name)
        if b is None:
            continue
        change = (b - a) / a if a else float("nan")
        print(f"{name:14s} {a:12.4f} {b:12.4f} {change:+8.1%}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
