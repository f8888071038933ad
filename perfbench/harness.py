"""Shared benchmark plumbing: host record, Spark session, memory sampler,
span tracer, streaming-progress and checkpoint readers, percentiles.

Nothing here reaches into the package under test except
``session.build_session``; every per-layer number comes from spans around
the benchmark's own calls or from statistics Spark already exposes
(streaming progress, ``QueryPlanningTracker``, the event log).
"""

from __future__ import annotations

import glob
import json
import math
import os
import platform
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------------ host --
def spin_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a single-core speed probe
    recorded with every result so runs on a throttled host stand out."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return (time.perf_counter() - t) * 1000.0


def cpu_times() -> list[int]:
    """Aggregate CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_info() -> dict:
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "load1": round(os.getloadavg()[0], 2),
        "spin_ms": round(spin_ms(), 1),
        "python": platform.python_version(),
    }


# ----------------------------------------------------------------- spark --
def start_spark(work: str, nproc: int, confs: dict[str, str], trace: bool):
    """Build the session through the package's own ``build_session``, with
    the host's core count and the configured shuffle width passed
    explicitly. Scratch paths (local dir, JVM tmpdir, event log) stay under
    ``work``; the event log is on only in a traced run."""
    from project_obsidian_core_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = dict(confs)
    shuffle = int(conf.pop("spark.sql.shuffle.partitions"))
    conf.update({
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file under /tmp: the JVM writes only under ``work``
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return build_session(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=shuffle, extra_conf=conf,
    )


def prepare_env(work: str) -> None:
    """Point the JVM, the Python workers and temp files at the checkout:
    workers import the package, so the repo root goes on PYTHONPATH."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("SPARK_MASTER", None)


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


# ------------------------------------------------------------------ rss --
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


def tree_rss(root: int) -> dict[str, float]:
    """RSS (MB) of ``root`` and all its descendants, by kind: this Python
    driver, the JVM, and the Python workers (with their count)."""
    kids, todo = _children(), [root]
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0, "n_workers": 0}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        name = status.split("\n", 1)[0].split()[-1]
        rss = next((int(line.split()[1]) / 1024.0 for line in status.splitlines()
                    if line.startswith("VmRSS:")), 0.0)
        if pid == root:
            out["driver"] += rss
        elif name == "java":
            out["jvm"] += rss
        elif rss:
            out["workers"] += rss
            out["n_workers"] += 1
    return out


class RssSampler:
    """Background thread sampling the process tree's summed RSS; ``peak``
    is the largest sample and ``at_peak`` its breakdown."""

    def __init__(self, period_s: float = 0.1):
        self.period_s, self.peak, self.at_peak = period_s, 0.0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        total = parts["driver"] + parts["jvm"] + parts["workers"]
        if total > self.peak:
            self.peak, self.at_peak = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# ---------------------------------------------------------------- spans --
@dataclass
class Span:
    name: str
    start: float
    end: float
    trace_id: str
    parent: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent and a trace id per tick or
    query; written out once at the end. Disabled, ``span`` only yields.
    Nesting comes from one stack, so spans are opened by one thread at a
    time (the workloads never record from two threads at once)."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, trace_id: str,
            parent: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(name, start, end, trace_id, parent, sid))
        return sid

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, trace_id, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per trace: span name (the layer) -> self time (ms). A span's self
        time is its duration minus the union of its children's intervals,
        clipped to it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            covered, cur = 0.0, None
            for a, b in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.sid, ())):
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            layer = out.setdefault(s.trace_id, {})
            layer[s.name] = layer.get(s.name, 0.0) + (s.end - s.start - covered) * 1000.0
        return out

    def roots(self) -> dict[str, float]:
        """Per trace: wall time (ms) of its root spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.parent is None:
                out[s.trace_id] = out.get(s.trace_id, 0.0) + (s.end - s.start) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


ROOT_SPAN = "trace"  # a trace's container span: not a layer
UNATTRIBUTED = "unattributed"  # root time no layer span covers


def layer_table(tracer: Tracer) -> dict:
    """Self time per layer summed over traces. Each trace has one root
    container span named ``trace``; the part of it no layer span covers is
    booked to ``unattributed``. The gate value is the worst share of a
    trace's wall time that its layer self times (``unattributed`` excluded)
    fail to explain, so it grows when the layers stop covering the wall
    time, and also when a child runs past its parent (then self times
    overcount)."""
    selfs, roots = tracer.self_times(), tracer.roots()
    table: dict[str, float] = {}
    worst = 0.0
    for tid, layers in selfs.items():
        if ROOT_SPAN in layers:
            layers[UNATTRIBUTED] = layers.pop(ROOT_SPAN)
        for name, ms in layers.items():
            table[name] = table.get(name, 0.0) + ms
        wall = roots.get(tid, 0.0)
        if wall > 0:
            explained = sum(ms for name, ms in layers.items() if name != UNATTRIBUTED)
            worst = max(worst, abs(wall - explained) / wall)
    return {"self_ms": {k: round(v, 3) for k, v in sorted(table.items())},
            "traces": len(selfs), "max_unexplained_share": worst}


# ------------------------------------------------------- spark statistics --
def planning_phases(df) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations (ms) of an executed
    DataFrame: analysis, optimization, planning."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def parse_ts(iso: str) -> float:
    """Progress timestamps ('2026-01-01T00:00:00.123Z') to epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def source_files(checkpoint: str) -> dict[int, list[str]]:
    """Batch id -> files it read, from the file source's metadata log in
    the checkpoint (no Spark job). Every entry carries its batch id, which
    matters because each ``N.compact`` file repeats all earlier entries."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if not os.path.basename(path).split(".")[0].isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out.setdefault(int(entry["batchId"]), set()).add(entry["path"])
    return {b: sorted(files) for b, files in out.items()}


# ------------------------------------------------------------ statistics --
def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return float("nan")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")
