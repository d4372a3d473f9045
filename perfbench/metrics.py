"""Metric math for the pipeline benchmark.

Pure Python with no Spark import, so every rule here is unit-tested on its
own (``perfbench/test_metrics.py``):

- nearest-rank percentiles and the "at least ten samples beyond" rule;
- the open-loop schedule: when each input file was due and how late the
  generator published it;
- the file -> micro-batch -> commit join that turns a streaming query's
  source log and progress events into per-file emit latencies;
- span self time.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def nearest_rank(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample such that at least a
    share ``q`` of all samples are at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"quantile {q} outside (0, 1]")
    return s[max(1, math.ceil(q * len(s))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the nearest-rank ``q``
    percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def median(values: Iterable[float]) -> float:
    s = list(values)
    if not s:
        raise ValueError("median of an empty sample")
    return statistics.median(s)


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread a bound is checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------------------
# Open-loop schedule
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Schedule:
    """File ``k`` is due at ``t0 + k * interval_s`` whatever the system
    does: a stall delays publication but never the schedule."""

    t0: float
    interval_s: float

    def due(self, k: int) -> float:
        return self.t0 + k * self.interval_s


def lateness_s(schedule: Schedule, published: Sequence[float]) -> list[float]:
    """How late the generator published each file against its due time
    (``published[k]`` is the wall time file ``k`` became visible)."""
    return [p - schedule.due(k) for k, p in enumerate(published)]


def backlog_max(published: Sequence[float], consumed: Sequence[float | None]) -> int:
    """Most files ever visible to the source but not yet committed by the
    query: the count of intervals [published[k], consumed[k]) that overlap
    at once. A file never consumed stays in the backlog to the end."""
    events = []
    for p, c in zip(published, consumed):
        events.append((p, 1))
        if c is not None:
            events.append((c, -1))
    # at equal times, count the departure first
    events.sort(key=lambda e: (e[0], e[1]))
    live = best = 0
    for _, step in events:
        live += step
        best = max(best, live)
    return best


# ---------------------------------------------------------------------------
# File -> batch -> commit join
# ---------------------------------------------------------------------------

_LOG_NAME = re.compile(r"^(\d+)(\.compact)?$")


def parse_source_log(entries: dict[str, str]) -> dict[str, int]:
    """Map each input file's basename to the file-source log batch that
    listed it.

    ``entries`` maps a log file name to its text, as found under a
    checkpoint's ``sources/0/``: plain batches are named ``N``, and every
    tenth is rewritten as ``N.compact`` holding all entries so far. Each
    entry line carries its own ``batchId``, so a compact file maps every
    file it lists to the batch that first listed it."""
    out: dict[str, int] = {}
    for name, text in entries.items():
        if not _LOG_NAME.match(name):
            continue
        for line in text.splitlines()[1:]:  # first line is the version
            if not line.strip():
                continue
            e = json.loads(line)
            base = os.path.basename(e["path"])
            out[base] = min(out.get(base, e["batchId"]), e["batchId"])
    return out


def read_source_log(checkpoint: str) -> dict[str, int]:
    """``parse_source_log`` over a checkpoint directory on local disk."""
    d = os.path.join(checkpoint, "sources", "0")
    entries = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if _LOG_NAME.match(name):
            with open(os.path.join(d, name)) as fh:
                entries[name] = fh.read()
    return parse_source_log(entries)


def iso_epoch_s(stamp: str) -> float:
    """Epoch seconds of a progress-event timestamp (``...Z``)."""
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


@dataclass(frozen=True)
class BatchRange:
    """One micro-batch: it read source-log batches ``lo < id <= hi`` and
    committed at ``commit_s`` (trigger start + trigger duration)."""

    batch_id: int
    lo: int
    hi: int
    commit_s: float


def batch_ranges(progress: Iterable[dict]) -> list[BatchRange]:
    """The log ranges and commit times of the batches that read input."""
    out = []
    for p in progress:
        if not p.get("sources"):
            continue
        src = p["sources"][0]
        lo, hi = _log_offset(src.get("startOffset")), _log_offset(src.get("endOffset"))
        if hi <= lo:
            continue
        commit = iso_epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        out.append(BatchRange(int(p["batchId"]), lo, hi, commit))
    return sorted(out, key=lambda b: b.batch_id)


def first_commit(log_id: int, ranges: Sequence[BatchRange]) -> float | None:
    """Commit time of the first batch whose range covers ``log_id``."""
    for b in ranges:
        if b.lo < log_id <= b.hi:
            return b.commit_s
    return None


def file_commits(
    files: Sequence[str], log: dict[str, int], ranges: Sequence[BatchRange]
) -> list[float | None]:
    """Commit time of each input file (by basename), None when no
    committed batch read it."""
    out = []
    for f in files:
        log_id = log.get(os.path.basename(f))
        out.append(None if log_id is None else first_commit(log_id, ranges))
    return out


def files_per_batch(log: dict[str, int], ranges: Sequence[BatchRange]) -> list[int]:
    per_log: dict[int, int] = {}
    for log_id in log.values():
        per_log[log_id] = per_log.get(log_id, 0) + 1
    return [sum(per_log.get(i, 0) for i in range(b.lo + 1, b.hi + 1)) for b in ranges]


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
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


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover
    (children clipped to the parent; overlapping children counted once)."""
    spans = list(spans)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = (s.end - s.start) - _covered(clipped)
    return out
