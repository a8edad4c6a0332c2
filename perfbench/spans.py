"""Spans around calls into the engine, and the event-log fold behind them.

Every call the benchmark makes into a layer runs inside ``Recorder.span``,
which tags the call's Spark jobs with a job group of its own
(``<layer>.<call>#<n>``). Two kinds of per-layer numbers follow:

* ``wall_ms`` and ``jobs`` come from every run. ``jobs`` is read from the
  status tracker by job group, so it is exact and costs no tracing.
* The traced run also writes Spark's event log (uncompressed, not
  rolling); ``fold_event_log`` reads it back with the standard library and
  folds task metrics per span, giving ``exec_cpu_ms``, ``gc_ms``,
  ``driver_ms`` (wall time not covered by any of the span's jobs),
  ``py_run_ms``, ``py_bytes``, ``shuffle_bytes``, ``spill_bytes`` and
  ``result_bytes``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# (layer.call, stats beyond the five every call gets) — the per-layer
# metric surface, in the order the README's table lists it
CALLS: list[tuple[str, tuple[str, ...]]] = [
    ("session.start", ()),
    ("hnsw.build_routed", ("py_run_ms", "py_bytes", "shuffle_bytes", "spill_bytes")),
    ("hnsw.rank_shards", ()),
    ("hnsw.probe", ("py_run_ms", "py_bytes", "result_bytes")),
    ("hnsw.search_batch", ("py_run_ms", "py_bytes", "shuffle_bytes", "spill_bytes")),
    ("ann_ingest.open", ("py_run_ms", "py_bytes")),
    (
        "ann_ingest.batch",
        ("py_run_ms", "py_bytes", "shuffle_bytes", "spill_bytes"),
    ),
    ("sql.insert_select", ("shuffle_bytes", "spill_bytes")),
    ("sql.create_index", ("shuffle_bytes", "spill_bytes")),
    ("selection.plan_knn", ()),
    ("ivfflat.rank_buckets", ()),
    ("selection.collect", ("result_bytes",)),
    ("ivfflat.probe_batch", ("shuffle_bytes", "spill_bytes")),
    ("sql.rewrite", ()),
    ("sql.select_knn", ("result_bytes",)),
    ("sql.merge", ("shuffle_bytes", "spill_bytes")),
]
BASE_STATS = ("wall_ms", "jobs", "exec_cpu_ms", "gc_ms", "driver_ms")
STAT_UNITS = {
    "wall_ms": "ms",
    "jobs": "count",
    "exec_cpu_ms": "ms",
    "gc_ms": "ms",
    "driver_ms": "ms",
    "py_run_ms": "ms",
    "py_bytes": "B",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "result_bytes": "B",
}
# whole-process figure, reported beside the calls (too noisy to gate)
JVM_HWM = ("session.jvm_hwm_mb", "MB")


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) for every per-layer metric, in report order."""
    out = [
        (f"{call}.{stat}", STAT_UNITS[stat])
        for call, extra in CALLS
        for stat in BASE_STATS + extra
    ]
    return out + [JVM_HWM]


@dataclass
class Span:
    call: str
    group: str
    start: float  # epoch seconds, comparable with event-log timestamps
    wall: float  # seconds


class Recorder:
    """Times calls and tags their Spark jobs with one job group per call."""

    OUTSIDE = "bench.outside"  # group for jobs the bench runs between spans

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._n = 0
        self.sc.setJobGroup(self.OUTSIDE, self.OUTSIDE)

    def add(self, call: str, wall: float) -> None:
        """Record a span timed elsewhere (no jobs, e.g. session start)."""
        self.spans.append(Span(call, "", time.time() - wall, wall))

    @contextmanager
    def span(self, call: str):
        group = f"{call}#{self._n}"
        self._n += 1
        self.sc.setJobGroup(group, call)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup(self.OUTSIDE, self.OUTSIDE)
            self.spans.append(Span(call, group, start, wall))

    def counts(self) -> dict[str, dict]:
        """Per call: number of spans, summed wall time and summed job count.
        Read after the workload, so no status-tracker call sits inside a
        timed window."""
        tracker = self.sc.statusTracker()
        out: dict[str, dict] = defaultdict(lambda: {"n": 0, "wall_ms": 0.0, "jobs": 0})
        for s in self.spans:
            c = out[s.call]
            c["n"] += 1
            c["wall_ms"] += s.wall * 1e3
            if s.group:
                c["jobs"] += len(tracker.getJobIdsForGroup(s.group))
        return dict(out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def fold_event_log(path: str, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Fold an uncompressed, non-rolling event log per span's call."""
    group_call = {s.group: s.call for s in spans if s.group}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_iv: dict[str, list[tuple[float, float]]] = defaultdict(list)
    stats: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group in group_call:
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    job_iv[job_group[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1e3)
                    )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                st = stats[group_call[group]]
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                st["exec_cpu_ms"] += _num(tm.get("Executor CPU Time")) / 1e6
                st["gc_ms"] += _num(tm.get("JVM GC Time"))
                st["shuffle_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                st["spill_bytes"] += _num(tm.get("Memory Bytes Spilled")) + _num(
                    tm.get("Disk Bytes Spilled")
                )
                st["result_bytes"] += _num(tm.get("Result Size"))
                for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                    name = acc.get("Name")
                    if name == "time to run Python workers":
                        st["py_run_ms"] += _num(acc.get("Update"))
                    elif name in (
                        "data sent to Python workers",
                        "data returned from Python workers",
                    ):
                        st["py_bytes"] += _num(acc.get("Update"))
    for s in spans:
        st = stats[s.call]
        covered = _covered(job_iv.get(s.group, []), s.start, s.start + s.wall)
        st["driver_ms"] += (s.wall - covered) * 1e3
    return {k: dict(v) for k, v in stats.items()}
