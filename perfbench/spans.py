"""Span recording, Spark event-log parsing and per-layer accounting.

The benchmark wraps each of its calls into a layer's public function in
a span (name, start, end, parent, run id).  Spans stay in memory and are
written when the run ends.  In a traced run Spark writes an uncompressed
event log into the run directory; after the session stops, every job is
attributed to the innermost span whose interval holds the job's
submission time.  Submission time, not the job group, decides: the
engine submits jobs from its own worker threads, which do not inherit a
job group.

Also here: the /proc samplers for peak RSS, host steal time and load.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers are this repository's module names.
LAYERS = [
    "session", "sources.synth", "sources.parser", "plans.pyramid",
    "operators.assign", "operators.validate", "operators.compile_tiles",
    "operators.check", "query.run", "query.spatial", "streaming.update",
    "operators.mldf",
]
COUNTERS = ["wall_s", "driver_gap_s", "jobs", "tasks", "executor_cpu_s", "gc_s",
            "shuffle_write_mb", "spill_mb", "python_worker_s", "task_skew"]
# the session layer (get_spark, with the engine's prewarm off) runs no
# job today: beyond its wall time and job count, its counters would
# carry nothing an optimisation could move
SESSION_COUNTERS = ["wall_s", "jobs"]
UNITS = {"wall_s": "s", "driver_gap_s": "s", "jobs": "count", "tasks": "count",
         "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "python_worker_s": "s", "task_skew": "ratio"}
# layer-specific counters: (name, unit, better)
SPECIFIC = [
    ("operators.assign.copies_per_feature", "ratio", "lower"),
    ("operators.assign.j6_pending_supers", "count", "lower"),
    ("operators.assign.j6_residue_edges", "count", "lower"),
    ("operators.compile_tiles.store_files", "count", "lower"),
    ("query.run.rows_read_per_row_returned", "ratio", "lower"),
    ("query.run.bbox_p50_ms", "ms", "lower"),
    ("query.run.area_p50_ms", "ms", "lower"),
    ("query.run.export_p50_ms", "ms", "lower"),
    ("query.spatial.knn_p50_s", "s", "lower"),
    ("query.spatial.contains_p50_s", "s", "lower"),
    ("streaming.update.tiles_rewritten", "count", "lower"),
    ("streaming.update.tiles_linked", "count", "higher"),
    ("streaming.update.bytes_written_per_changed_feature", "B", "lower"),
    ("operators.mldf.dedup_minhash_s", "s", "lower"),
    ("operators.mldf.ann_cosine_topk_s", "s", "lower"),
    ("operators.mldf.window_agg_s", "s", "lower"),
]
PY_RUN = "time to run Python workers"


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric: (name, unit, better)."""
    out = []
    for layer in LAYERS:
        for c in SESSION_COUNTERS if layer == "session" else COUNTERS:
            out.append((f"{layer}.{c}", UNITS[c], "lower"))
    return out + SPECIFIC


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    parent: int | None
    run: str
    end: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), layer, name or layer, time.time(),
                 self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# interval helpers
# ---------------------------------------------------------------------------

def union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union(iv))


def subtract(a: tuple[float, float], holes: list[tuple[float, float]]):
    """Interval ``a`` minus the union of ``holes``, as a list."""
    out, lo = [], a[0]
    for h0, h1 in union(holes):
        if h1 <= lo or h0 >= a[1]:
            continue
        if h0 > lo:
            out.append((lo, h0))
        lo = max(lo, h1)
    if lo < a[1]:
        out.append((lo, a[1]))
    return out


def intersect(a: list[tuple[float, float]], b: list[tuple[float, float]]):
    out = []
    for x0, x1 in union(a):
        for y0, y1 in union(b):
            lo, hi = max(x0, y0), min(x1, y1)
            if lo < hi:
                out.append((lo, hi))
    return out


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's interval minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: subtract((s.start, s.end), kids.get(s.id, [])) for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    submit: float          # seconds since the epoch
    end: float
    stages: list[int]


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    records_read: int
    python_s: float


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: rolling (``eventlog_v2_*/events_*``)
    or single-file logs.  A compressed log cannot be read here."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    files += sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                    if os.path.isfile(p))
    for p in files:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {p}: enable "
                             "spark.eventLog.compress=false")
    return files


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    pending: dict[int, dict] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    pending[ev["Job ID"]] = ev
                elif kind == "SparkListenerJobEnd":
                    st = pending.pop(ev["Job ID"], None)
                    if st is not None:
                        log.jobs.append(Job(ev["Job ID"], st["Submission Time"] / 1e3,
                                            ev["Completion Time"] / 1e3, st["Stage IDs"]))
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(_task(ev))
    return log


def _task(ev: dict) -> Task:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    py = 0.0
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == PY_RUN:
            py += float(acc.get("Update") or 0) / 1e3   # SQL timing metrics are ms
    return Task(
        stage=ev["Stage ID"],
        run_s=m.get("Executor Run Time", 0) / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        records_read=inp.get("Records Read", 0),
        python_s=py,
    )


# ---------------------------------------------------------------------------
# attribution and per-layer table
# ---------------------------------------------------------------------------

def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, int | None]:
    """job id → innermost span whose interval holds its submission time."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        out[j.id] = None if best is None else best.id
    return out


def layer_table(spans: list[Span], log: EventLog) -> dict[str, dict[str, float]]:
    """Per-layer counters over every span of each layer (self time)."""
    selfs = self_intervals(spans)
    owner = attribute(spans, log.jobs)
    stage_job: dict[int, int] = {}
    for j in sorted(log.jobs, key=lambda j: j.id):
        for st in j.stages:
            stage_job.setdefault(st, j.id)
    span_of = {s.id: s for s in spans}
    job_layer = {j: span_of[sid].layer for j, sid in owner.items() if sid is not None}
    jobs_by_span: dict[int, list[Job]] = {}
    for j in log.jobs:
        if owner[j.id] is not None:
            jobs_by_span.setdefault(owner[j.id], []).append(j)

    table: dict[str, dict[str, float]] = {}
    for layer in {s.layer for s in spans}:
        mine = [s for s in spans if s.layer == layer]
        wall = sum(length(selfs[s.id]) for s in mine)
        busy = sum(length(intersect(selfs[s.id], [(j.submit, j.end) for j in
                                                  jobs_by_span.get(s.id, [])]))
                   for s in mine)
        tasks = [t for t in log.tasks if job_layer.get(stage_job.get(t.stage)) == layer]
        runs = [t.run_s for t in tasks]
        p50 = statistics.median(runs) if runs else 0.0
        table[layer] = {
            "wall_s": wall,
            "driver_gap_s": wall - busy,
            "jobs": float(sum(len(jobs_by_span.get(s.id, [])) for s in mine)),
            "tasks": float(len(tasks)),
            "executor_cpu_s": sum(t.cpu_s for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 2**20,
            "spill_mb": sum(t.spill for t in tasks) / 2**20,
            "python_worker_s": sum(t.python_s for t in tasks),
            "task_skew": max(runs) / p50 if p50 > 0 else 0.0,
            "records_read": float(sum(t.records_read for t in tasks)),
        }
    return table


# ---------------------------------------------------------------------------
# /proc samplers
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it (forked Python workers share most of
    their pages with their daemon; RSS would count those once per
    worker)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory (PSS) of ``root``'s descendants (the driver JVM and
    the Python workers it forks), not counting ``root`` itself."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo.extend(kids.get(p, []))
    return total / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and all its
    descendants, reaped ones included.  Steal time is not charged to a
    process, so this moves far less than wall time on a busy host."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])   # utime stime cutime cstime
        todo.extend(kids.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds.  ``cpu_s``
    is the CPU time the sampling itself has used, so callers can leave
    it out of the tree's CPU time."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period, self.peak, self.cpu_s = root, period, 0.0, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the host's /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
