"""Run context, statistics, canonical result comparison and provenance.

Everything here is engine-agnostic: the workload modules call into the
engine; this module only times, compares and reports.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import pickle
import resource
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

# Percentiles tried for the tail, highest first. The reported tail is the
# highest one that still has at least TAIL_MIN_BEYOND samples above it.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


# --------------------------------------------------------------- statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least TAIL_MIN_BEYOND of
    ``n`` distinct samples strictly above it, or None when even the
    lowest candidate is unsupported. The percentile interpolates at rank
    (n-1)p/100, so the samples above it are those ranked past its floor
    (exact arithmetic: 100 * 0.9 is not 90 in floating point)."""
    from fractions import Fraction

    for p in TAIL_CANDIDATES:
        rank = Fraction(n - 1) * Fraction(str(p)) / 100
        if n - 1 - math.floor(rank) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the supported tail, or None."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values)


# ------------------------------------------------------ canonical results


def format_cell(v: Any) -> Any:
    """The JSON envelope's cell encoding (decimal -> float, timestamps
    ``%Y-%m-%d %H:%M:%S.%f``, dates ``%Y-%m-%d``, bytes -> hex), written
    out independently here so the reference side never runs the code
    under test."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [format_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: format_cell(x) for k, x in v.items()}
    return v


def _canon_cell(v: Any) -> Any:
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    return v


def canonical(columns: list[str], rows: list) -> tuple:
    """Order-insensitive canonical form of a result: columns sorted by
    name, each row reordered to match, rows sorted. Cells must already
    be in envelope encoding (see ``format_cell``)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, type(x).__name__, str(x)) for x in t))
    return tuple(columns[i] for i in idx), tuple(out)


def digest(canon: tuple) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def reference_canonical(columns: list[str], rows: list) -> tuple:
    """Canonical form of reference rows (DuckDB tuples, python values)."""
    return canonical(list(columns), [[format_cell(v) for v in r] for r in rows])


def _duckdb_results(views: dict[str, str], queries: list[str], first_row: bool) -> list:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        out = []
        for q in queries:
            if first_row:
                out.append(tuple(con.execute(q).fetchone()))
            else:
                rel = con.execute(q)
                cols = [d[0] for d in rel.description]
                out.append(digest(reference_canonical(cols, rel.fetchall())))
        return out
    finally:
        con.close()


def duckdb_references(views: dict[str, str], queries: list[str], first_row: bool = False) -> list:
    """Reference digests (or, with ``first_row``, the first row) of
    ``queries`` over parquet ``views``, computed by DuckDB in a child
    process, so neither its memory nor its threads land in the measured
    processes. The call returns only once the child has exited."""
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        input=pickle.dumps((views, queries, first_row)),
        stdout=subprocess.PIPE, check=True,
    )
    return pickle.loads(r.stdout)


# ---------------------------------------------------------------- records


@dataclass
class Op:
    """One timed operation of a closed loop."""

    kind: str
    latency_s: float
    ok: bool = True
    error: str | None = None
    attrs: dict = field(default_factory=dict)


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    ops: list[Op]
    window_s: float
    extra: dict[str, tuple[float, str]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)


def summarize(outcome: Outcome) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics common to every workload."""
    ops = outcome.ops
    if not ops:
        raise RuntimeError("the workload completed no operation")
    lat_ms = [o.latency_s * 1000.0 for o in ops]
    out: dict[str, tuple[float, str]] = {
        "ops_per_s": (len(ops) / outcome.window_s, "1/s"),
        "latency_p50_ms": (median(lat_ms), "ms"),
        "failed_frac": (sum(not o.ok for o in ops) / len(ops), "fraction"),
    }
    t = tail(lat_ms)
    if t is not None:
        out["latency_tail_ms"] = (t[1], "ms")
        out["latency_tail_pct"] = (t[0], "percentile")
    out["samples"] = (float(len(ops)), "count")
    return out


# ------------------------------------------------------------- provenance


def cpu_canary_ms() -> float:
    """Fixed pure-Python work (median of 5): a slow or contended box
    shows here before it shows in any engine number."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def tree_digest(root: str) -> str:
    """sha256 over the engine package's sources (the checkout the
    benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "wren_engine_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() or None


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


if __name__ == "__main__":
    # the DuckDB reference child: pickled (views, queries, first_row) in,
    # pickled results out
    sys.stdout.buffer.write(pickle.dumps(_duckdb_results(*pickle.load(sys.stdin.buffer))))
