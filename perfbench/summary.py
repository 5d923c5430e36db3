"""Summary statistics and run-record stamps.

Timings are reported as medians with their sample count; the tail is
the highest percentile (from :data:`PERCENTILES`) that has at least
:data:`TAIL_BEYOND` samples beyond it."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import statistics
import subprocess

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
TAIL_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean_of_medians(samples: dict[str, list[float]]) -> float:
    """Geometric mean of each op's median: every op counts the same,
    however far apart the ops' latencies are, and a change to any one
    op moves the figure."""
    meds = [median(xs) for xs in samples.values() if xs]
    if not meds:
        return 0.0
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p``% of the samples at or below it."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail(xs) -> dict | None:
    """``{"p", "value", "n", "beyond"}`` for the highest percentile
    with at least ``TAIL_BEYOND`` samples strictly above its rank, or
    None when there are too few samples."""
    n = len(xs)
    best = None
    for p in PERCENTILES:
        rank = int(max(1, -(-n * p // 100)))
        if n - rank >= TAIL_BEYOND:
            best = {"p": p, "value": percentile(xs, p), "n": n, "beyond": n - rank}
    return best


def fail_summary(outcomes: list[dict]) -> dict:
    """Attempted, failed and the failing ops (by name and phase) from
    per-op outcome dicts ``{"op", "phase", "error"}``."""
    failed = [o for o in outcomes if o.get("error")]
    return {
        "attempted": len(outcomes),
        "failed": len(failed),
        "fail_frac": len(failed) / len(outcomes) if outcomes else 0.0,
        "failing": sorted({(o["op"], o["phase"]) for o in failed}),
    }


def _git_head(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def stamp(cpus: int, seed: int, root: str, java: str) -> dict:
    """Context that decides whether two records may be compared."""
    import duckdb
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        commit = _git_head(root)
    return {
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
        "commit": commit,
        "source_sha256": source_digest(os.path.join(root, "ffiec_pq_spark")),
    }


def source_digest(pkg_dir: str) -> str:
    """SHA-256 over the package's Python sources: identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def comparable(a: dict, b: dict) -> tuple[bool, str]:
    """Whether two run records may be compared: same cpus, same
    workload.  Records taken at another core count are context only."""
    sa, sb = a.get("stamp", {}), b.get("stamp", {})
    if sa.get("cpus") != sb.get("cpus"):
        return False, f"cpus differ: {sa.get('cpus')} vs {sb.get('cpus')}"
    if a.get("workload") != b.get("workload"):
        return False, f"workloads differ: {a.get('workload')} vs {b.get('workload')}"
    return True, ""
