"""Spark-free helpers of the benchmark: summary statistics, the metric
contract check, span self-time arithmetic and the stage-shape classifier.

Everything here is plain Python so ``perfbench/tests`` can check it without
starting a JVM.
"""

from __future__ import annotations

import math
import os
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile p such that at least ``min_beyond`` of ``n``
    samples lie beyond it, i.e. n * (100 - p) / 100 >= min_beyond.

    None when even the median lacks that support (n < 2 * min_beyond):
    then only the median and the sample count are reported."""
    if n < 2 * min_beyond:
        return None
    return int(math.floor(100 - 100 * min_beyond / n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of the
    samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def summarize(values: list[float]) -> dict:
    """Median, sample count and the tail percentile the sample supports."""
    out = {"p50": statistics.median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def check_metric(name: str, unit: str) -> None:
    """Reject a metric whose name or unit breaks the benchmark's contract."""
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r} for metric {name!r}")


def check_metrics(metrics: dict, expected: list[dict]) -> None:
    """``metrics`` ({name: {"value", "unit"}}) must carry exactly the
    ``expected`` metrics (BENCHMARK.json entries), each with its declared
    unit and a finite numeric value."""
    want = {m["name"]: m["unit"] for m in expected}
    if set(metrics) != set(want):
        missing = sorted(set(want) - set(metrics))
        extra = sorted(set(metrics) - set(want))
        raise ValueError(f"metric set mismatch: missing={missing} extra={extra}")
    for name, m in metrics.items():
        check_metric(name, m["unit"])
        if m["unit"] != want[name]:
            raise ValueError(f"{name}: unit {m['unit']!r}, expected {want[name]!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"{name}: value {v!r} is not a finite number")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover. Spans are dicts with ``id``,
    ``parent`` (id or None), ``start`` and ``end``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(kids)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer (``layer`` key of each span)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def unattributed(wall: tuple[float, float], spans: list[dict]) -> float:
    """Part of the wall interval that no span covers."""
    w0, w1 = wall
    inside = [
        (max(s["start"], w0), min(s["end"], w1))
        for s in spans
        if s["end"] > w0 and s["start"] < w1
    ]
    return (w1 - w0) - covered(inside)


def stage_shape(input_read: int, shuffle_read: int, shuffle_write: int,
                output_bytes: int) -> str:
    """Classify a Spark stage by what it reads and writes (``input_read``:
    bytes or records the stage read from files).

    A stage that writes files is ``write`` (whatever it read); one that
    reads files is ``scan`` (it may also feed a shuffle: scan + partial
    aggregate); shuffle-in plus shuffle-out is ``exchange``; shuffle-in
    only (a final aggregate or collect) is ``result``; the rest is
    ``other`` (driver-local relations, ranges)."""
    if output_bytes > 0:
        return "write"
    if input_read > 0:
        return "scan"
    if shuffle_read > 0 and shuffle_write > 0:
        return "exchange"
    if shuffle_read > 0:
        return "result"
    return "other"


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of every live descendant of
    ``root_pid`` — for a PySpark driver that is the JVM plus its Python
    workers."""
    total_kb = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _descendants(root_pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by every live descendant of ``root_pid``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]
