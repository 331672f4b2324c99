"""Spark-free helpers of the perfbench harness.

- ``percentile``: nearest-rank quantile that refuses to report a tail
  percentile backed by fewer than ten samples beyond it.
- ``file_batches``: which micro-batch consumed each source file, read
  from a file-source checkpoint log, including its ``N.compact`` files.
- ``Tracer``: in-memory spans (name, start, end, parent, run id) and the
  per-name self time derived from them.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
import time
from contextlib import contextmanager

MIN_BEYOND = 10


def percentile(values, q: float, min_beyond: int = MIN_BEYOND):
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    Returns None unless at least ``min_beyond`` samples rank above it,
    so a p90 needs 100 samples and a p50 needs 20.
    """
    n = len(values)
    rank = max(1, math.ceil(round(q * n, 9)))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def file_batches(log_dir: str) -> dict[str, int]:
    """Map source-file basename -> id of the micro-batch that read it.

    The file source writes one log file per batch (``<checkpoint>/
    sources/0/<batchId>``) and every tenth batch folds all earlier
    entries into ``<batchId>.compact``, after which the plain files of
    the folded batches may be gone. Both kinds are read; an entry seen
    twice keeps its lowest batch id.
    """
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue  # .crc siblings and in-flight temp files
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            base = entry["path"].rsplit("/", 1)[-1]
            batch = int(entry["batchId"])
            if base not in out or batch < out[base]:
                out[base] = batch
    return out


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    Disabled tracers cost one branch per span; the untraced run uses one
    so both runs execute the same harness code.
    """

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the time its children cover.

    Children that overlap (concurrent work under one parent) are counted
    once, as the union of their intervals.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"]
        own -= _covered(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
