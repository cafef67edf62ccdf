"""Pure helpers of the benchmark: no SparkSession, no JVM.

Status-store metric parsing, percentile selection, answer digests and
span self-time arithmetic live here so they can be unit-tested alone
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass

# --------------------------------------------------------------------------
# SQL status-store metric strings

_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "PiB": 1 << 50, "EiB": 1 << 60,
}
_TIME_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in base units.

    The status store keeps each plan metric as the string Spark renders:
    a plain count (``"1,234"``), a single size or time (``"3.4 MiB"``,
    ``"12 ms"``), or, when several tasks reported, a header line and the
    total followed by min/med/max
    (``"total (min, med, max (stageId: taskId))\\n3.4 MiB (1.0 MiB, ...)"``).
    Sizes come back in bytes, times in milliseconds, counts as counts.
    """
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(body)
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


# --------------------------------------------------------------------------
# summary statistics

_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(values: list[float], min_beyond: int = 10):
    """Highest standard percentile with at least ``min_beyond`` samples
    above it, as ``(p, value)`` by the nearest-rank rule; ``None`` when
    there are too few samples for any of them."""
    s = sorted(values)
    n = len(s)
    best = None
    for p in _PERCENTILES:
        rank = max(math.ceil(p * n / 100.0), 1)
        if n - rank >= min_beyond:
            best = (p, s[rank - 1])
    return best


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def pair_yield(result_rows: dict[str, int], pairs_scored: dict[str, float]) -> float:
    """Result rows per scored pair, over the queries that scored pairs
    (the pair queries); 0 when no query did. A query whose check failed
    has no result rows and counts 0."""
    pair_queries = [q for q, n in pairs_scored.items() if n > 0]
    scored = sum(pairs_scored[q] for q in pair_queries)
    return sum(result_rows.get(q, 0) for q in pair_queries) / scored if scored else 0.0


# --------------------------------------------------------------------------
# answers: the digest a result is checked by


def canon_dtype(dtype: str) -> str:
    """Arrow returns Spark timestamps as ns and DuckDB's as us; the values
    are the same micros, so the unit is not part of the type."""
    return "datetime64" if dtype.startswith("datetime64") else dtype


def digest_frame(pdf) -> dict:
    """Order-insensitive digest of a result table (a pandas DataFrame).

    Rows are canonicalised by the engine's own comparator
    (``check.canon_rows``: columns sorted by name, every cell rendered
    canonically, rows sorted) and hashed; row count, column names and
    dtypes are kept beside the hash so a mismatch says which part
    differs."""
    from spark_ml_helper_spark.check import canon_rows

    cols = sorted(str(c) for c in pdf.columns)
    h = hashlib.sha256()
    n = 0
    for row in canon_rows(pdf):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
        n += 1
    return {
        "columns": cols,
        "dtypes": [canon_dtype(str(pdf[c].dtype)) for c in cols],
        "rows": n,
        "sha256": h.hexdigest(),
    }


def answer_issues(got: dict, want: dict) -> list[str]:
    """Why ``got`` is not ``want`` (empty when they match).

    Mirrors the engine's comparator: same column set, same dtype where
    both sides have a concrete one ('object' holds strings and arrays on
    either side), same row count, same canonical rows."""
    if got["columns"] != want["columns"]:
        return [f"columns differ: got {got['columns']} want {want['columns']}"]
    issues = [
        f"dtype differs on {c}: got {a} want {b}"
        for c, a, b in zip(got["columns"], got["dtypes"], want["dtypes"])
        if a != b and "object" not in (a, b)
    ]
    if issues:
        return issues
    if got["rows"] != want["rows"]:
        return [f"row count differs: got {got['rows']} want {want['rows']}"]
    if got["sha256"] != want["sha256"]:
        return [f"values differ ({got['rows']} rows)"]
    return []


# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    """One timed interval at a layer boundary. Spans of one query run
    share ``trace_id``; ``parent_id`` names the span that caused it."""

    name: str
    span_id: int
    parent_id: int | None
    trace_id: str
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name: each span's duration minus the part
    of its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - covered(s.start, s.end, children.get(s.span_id, []))
        out[s.name] = out.get(s.name, 0.0) + own
    return out
