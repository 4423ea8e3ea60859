"""Helpers shared by the workloads: the pass runner, the end-to-end
summaries, and the result comparator the output checks use."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import statistics
import sys
import time
import traceback


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``. Files whose name starts with
    '.' or '_' (checksums, markers, metadata) count in bytes only."""
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            b += os.path.getsize(os.path.join(d, f))
            n += not f.startswith((".", "_"))
    return n, b


#: concurrent warm-up chains: enough to overlap per-job driver overhead
WARM_THREADS = 4


class Counts:
    """Operations attempted and failed in the measured phase."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0


def run_op(tracer, counts: Counts | None, name: str, module: str, thunk):
    """Run one operation; returns (seconds, result). The thunk materializes
    its result inside the module's span, so the jobs its action runs belong
    to that module. A failed operation is counted and its result is None."""
    t = time.perf_counter()
    if counts is not None:
        counts.attempted += 1
    try:
        with tracer.operation(name), tracer.span(module):
            res = thunk()
    except Exception:  # counted as failed; the run goes on
        if counts is None:
            raise
        counts.failed += 1
        traceback.print_exc()
        res = None
    return time.perf_counter() - t, res


def warm_up(tracer, chains: list[list[tuple]], workers: int) -> None:
    """Run every operation once, untimed: each chain in order (an operation
    may need the one before it), independent chains side by side."""
    from concurrent.futures import ThreadPoolExecutor

    def run_chain(chain):
        for name, module, thunk in chain:
            run_op(tracer, None, name, module, thunk)

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for f in [pool.submit(run_chain, c) for c in chains]:
            f.result()


def run_passes(tracer, ops_for_pass, seconds: float, min_passes: int, counts: Counts):
    """Whole passes over the same operations until ``seconds`` have gone
    by (and at least ``min_passes`` ran). Returns pass times, per-op
    times and the first pass's results."""
    pass_times, op_times, first = [], {}, {}
    t_start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for name, module, thunk in ops_for_pass(len(pass_times)):
            sec, res = run_op(tracer, counts, name, module, thunk)
            op_times.setdefault(name, []).append(sec)
            first.setdefault(name, res)
        pass_times.append(time.perf_counter() - t_pass)
        if len(pass_times) >= min_passes and time.perf_counter() - t_start >= seconds:
            report = ", ".join(f"{n} {statistics.median(t):.3f}" for n, t in op_times.items())
            print(f"passes {len(pass_times)}, median op seconds: {report}", file=sys.stderr)
            return pass_times, op_times, first


def summarize(pass_times, op_times) -> dict:
    """End-to-end metrics of a run made of whole passes."""
    lat = [x for xs in op_times.values() for x in xs]
    medians = [statistics.median(xs) for xs in op_times.values()]
    return {
        "pass_s": statistics.median(pass_times),
        "query_geomean_s": math.exp(sum(math.log(x) for x in medians) / len(medians)),
        "probe_p50_ms": 1000 * percentile(lat, 50),
        "probe_p90_ms": 1000 * percentile(lat, 90),
        "serve_probes_per_s": len(lat) / sum(pass_times),
    }


# -- result comparison -------------------------------------------------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def rows_of(table, columns=None) -> list[tuple]:
    """Normalized row tuples of an Arrow table, in ``columns`` order."""
    columns = columns or table.column_names
    cols = [table.column(c).to_pylist() for c in columns]
    return [tuple(_norm(v) for v in r) for r in zip(*cols)]


def _sort_key(row):
    return tuple(
        (0, "") if v is None else (1, round(v, 3)) if isinstance(v, float) else (2, str(v))
        for v in row
    )


def compare_rows(name: str, got: list[tuple], want: list[tuple], abs_tol: float = 1e-6,
                 rel_tol: float = 1e-9) -> list[str]:
    """Order-insensitive equality of two row lists; numbers agree within
    ``abs_tol + rel_tol * magnitude``. Returns the problems found."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g, w = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > abs_tol + rel_tol * max(abs(x), abs(y)):
                    return [f"{name}: value {x!r} != expected {y!r} in row {a}"]
            elif x != y:
                return [f"{name}: row {a} != expected {b}"]
    return []


def compare_tables(name: str, got, want, **tol) -> list[str]:
    """Compare two Arrow tables by column name (``want`` fixes the
    columns), order-insensitively."""
    missing = set(want.column_names) - set(got.column_names)
    if missing:
        return [f"{name}: missing columns {sorted(missing)}"]
    return compare_rows(name, rows_of(got, want.column_names), rows_of(want), **tol)


# -- corruptions the self-tests apply -----------------------------------------

def drop_row(rows: list[tuple]) -> list[tuple]:
    return rows[:-1]


def perturb_value(rows: list[tuple]) -> list[tuple]:
    """Change the first numeric value of the first row that has one."""
    out = list(rows)
    for i, r in enumerate(out):
        for j, v in enumerate(r):
            if isinstance(v, float):
                out[i] = r[:j] + (v * 1.1 + 1.0,) + r[j + 1:]
                return out
    raise ValueError("no numeric value to perturb")


def swap_ids(rows: list[tuple], col: int = 0) -> list[tuple]:
    """Swap column ``col`` between the first two rows whose values differ."""
    out = list(rows)
    for i in range(1, len(out)):
        if out[i][col] != out[0][col]:
            a, b = out[0], out[i]
            out[0] = (b[col],) + a[1:] if col == 0 else a[:col] + (b[col],) + a[col + 1:]
            out[i] = (a[col],) + b[1:] if col == 0 else b[:col] + (a[col],) + b[col + 1:]
            return out
    raise ValueError("no two distinct ids to swap")
