"""Spans, percentiles and digests: the benchmark's measuring helpers.

Nothing here imports Spark, so the helpers are unit-tested on their
own (``perfbench/test_measure.py``).
"""

from __future__ import annotations

import hashlib
import json
import math
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# The percentiles the benchmark may report, highest first. A timing is
# reported as its median plus the highest of these that still has at
# least TAIL_MIN samples beyond it.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 60.0)
TAIL_MIN = 10

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def valid_name(name: str) -> bool:
    """A metric or workload name: a letter or digit, then at most 63
    more letters, digits, ``_``, ``.`` or ``-``."""
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``TAIL_MIN``
    of ``n`` samples beyond it, or None when even p60 has too few."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def op_latency(ops: dict[str, list[float]], tail: float) -> tuple[float, float]:
    """Median and tail operation latency, each component weighted the
    same: the geometric means over components (a registry entry, one
    pipeline's micro-batches, one endpoint's requests) of each
    component's median and of its ``tail`` percentile. A component's
    weight does not depend on how many operations it runs or how long
    they take, so slowing any one component by a factor k moves both
    numbers by k ** (1 / len(ops))."""
    groups = [v for v in ops.values() if v]
    return (geomean(median(v) for v in groups),
            geomean(percentile(v, tail) for v in groups))


def digest_rows(cols, rows, canon_rows) -> str:
    """sha256 over the canonical form of a result: ``canon_rows`` sorts
    columns by name, canonicalizes each value and sorts the rows (the
    oracle harness's rules), so the digest ignores row and column order."""
    h = hashlib.sha256()
    h.update(json.dumps(sorted(cols)).encode())
    for row in canon_rows(list(cols), rows):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return h.hexdigest()


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float
    parent: int | None
    group: str


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children count once; parts outside the span do not
    count."""
    cuts = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in cuts:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


class Tracer:
    """Spans kept in memory; ``dump`` writes them when the run ends.

    A disabled tracer records nothing, so untraced runs pay one
    attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, kind=kind, start=time.perf_counter(),
            end=math.nan, parent=parent.id if parent else None,
            group=group or (parent.group if parent else name),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, kind: str, start: float, end: float,
            parent: Span | None) -> Span | None:
        """Record a span measured elsewhere (a streaming progress phase)."""
        if not self.enabled:
            return None
        sp = Span(len(self.spans), name, kind, start, end,
                  parent.id if parent else None, parent.group if parent else name)
        self.spans.append(sp)
        return sp

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_ms_by_kind(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.kind] = out.get(s.kind, 0.0) + 1e3 * self_time(s, self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- Spark event log -------------------------------------------------------------

@dataclass
class Job:
    id: int
    submit_ms: int
    props: dict


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int


def read_event_log(paths) -> tuple[list[Job], list[Task], dict[int, int]]:
    """Jobs, finished tasks and the stage -> job map from Spark event
    log files (JSON lines, uncompressed)."""
    jobs: list[Job] = []
    tasks: list[Task] = []
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(Job(ev["Job ID"], ev["Submission Time"],
                                    ev.get("Properties") or {}))
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append(Task(
                        stage=ev["Stage ID"], launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_read=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                        shuffle_write=wr.get("Shuffle Bytes Written", 0),
                        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
    return jobs, tasks, stage_job
