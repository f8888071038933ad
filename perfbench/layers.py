"""Per-layer metrics and the layer table of a traced run.

Sources, all outside the package under test:

* spans the benchmark records around its own calls into each layer;
* ``StreamingQueryProgress`` (``durationMs`` phases, state-operator
  metrics);
* ``QueryPlanningTracker`` phases of each executed query;
* the Spark event log, parsed locally: jobs (by job group and
  description), stages (wall interval, RDD operator scopes, task time,
  shuffle, spill, GC) and SQL driver metrics (files and bytes read).

Each trace (one tick, query, drain or read) has a root
container span ``trace``; its layer spans are children. Stage intervals
from the event log become child spans named after the layer whose
operator the stage runs, so each layer's self time is known without
tracing inside the package. Root time that no layer span covers is booked
to ``unattributed``, and the run fails its gate when that share exceeds
10 % of any trace's wall time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import harness as H

QUERY_FIELDS = ("analysis_ms", "optimization_ms", "planning_ms", "exec_ms", "files_read", "bytes_read", "jobs")
SEQ_OPS = ("transitions", "sessions", "cusum")
LAYERS = ("stream", "gen", "streaming.delta_stream", "operators.delta", "operators.rollup",
          "analytics.qan", "analytics.metrics", "streaming.sequence_state", "spark", H.UNATTRIBUTED)
MAX_UNEXPLAINED = 0.10  # share of a trace's wall time its layers may leave unexplained


# ------------------------------------------------------------ event log --
@dataclass
class Stage:
    sid: int
    start: float = 0.0
    end: float = 0.0
    scopes: set = field(default_factory=set)
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    tasks: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class Job:
    group: str
    desc: str
    execution: str | None
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)
    files_read: dict[str, int] = field(default_factory=dict)  # execution id -> files
    bytes_read: dict[str, int] = field(default_factory=dict)

    def jobs_in(self, prefix: str) -> list[Job]:
        return [j for j in self.jobs if j.group.startswith(prefix)]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        seen = {s for j in jobs for s in j.stages}
        return [st for sid, st in sorted(self.stages.items()) if sid in seen and st.end > 0]


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", "").split(" (")[0])
            except ValueError:
                pass
    return names


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def read_event_log(work: str) -> EventLog:
    log = EventLog()
    acc_names: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(work, "eventlog", "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    p = ev.get("Properties") or {}
                    log.jobs.append(Job(
                        group=p.get("spark.jobGroup.id") or "none",
                        desc=p.get("spark.job.description") or "",
                        execution=p.get("spark.sql.execution.id"),
                        stages=list(ev.get("Stage IDs", [])),
                    ))
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.scopes |= _scope_names(info)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.scopes |= _scope_names(info)
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.tasks += 1
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    ex = str(ev.get("executionId"))
                    for acc_id, value in ev.get("accumUpdates", []):
                        name = acc_names.get(acc_id)
                        if name == "number of files read":
                            log.files_read[ex] = log.files_read.get(ex, 0) + value
                        elif name == "size of files read":
                            log.bytes_read[ex] = log.bytes_read.get(ex, 0) + value
    return log


def stage_layer(stage: Stage, state_layer: str) -> str:
    return state_layer if "FlatMapGroupsInPandasWithState" in stage.scopes else "spark"


def add_stage_spans(tracer: H.Tracer, log: EventLog, jobs: list[Job], parent: int, tid: str,
                    state_layer: str, state_share: float | None = None) -> None:
    """Stage intervals of ``jobs`` as child spans of ``parent``, clipped to
    it. Stages that run side by side are laid end to end (an overlap goes
    to the stage that started first), so no wall time counts twice. With
    ``state_share`` the state stage keeps only that fraction of its
    interval for the state layer; the rest stays with the parent (the
    writer running in the same stage)."""
    ps = tracer.spans[parent]
    cursor = ps.start
    for st in sorted(log.stages_of(jobs), key=lambda x: x.start):
        a, b = max(st.start, cursor), min(st.end, ps.end)
        if b <= a:
            continue
        cursor = b
        layer = stage_layer(st, state_layer)
        if layer == state_layer and state_share is not None:
            b = a + (b - a) * min(1.0, state_share)
        tracer.add(layer, a, b, tid, parent)


# ------------------------------------------------------------- per-query --
def planning(workload: str, out: dict) -> list[dict[str, float]]:
    """``QueryPlanningTracker`` phases of every timed query, in call order;
    read while the session is alive."""
    if workload == "fleet_stream":
        return [H.planning_phases(df) for _, _, _, _, df, _ in out["fresh"]]
    return []


def query_metrics(log: EventLog, calls: list[tuple[str, str, float, dict]]) -> dict:
    """calls: (fn, job group, wall ms, planning phases). Means per function."""
    acc: dict[str, dict[str, list[float]]] = {}
    groups: dict[str, set[str]] = {}
    for fn, group, wall_ms, ph in calls:
        d = acc.setdefault(fn, {f: [] for f in QUERY_FIELDS})
        d["analysis_ms"].append(ph["analysis"])
        d["optimization_ms"].append(ph["optimization"])
        d["planning_ms"].append(ph["planning"])
        d["exec_ms"].append(wall_ms - ph["analysis"] - ph["optimization"] - ph["planning"])
        groups.setdefault(fn, set()).add(group)
    out = {}
    for fn, d in acc.items():
        n = len(d["exec_ms"])
        jobs = [j for g in groups[fn] for j in log.jobs if j.group == g]
        execs = {j.execution for j in jobs if j.execution is not None}
        out[fn] = {
            "analysis_ms": sum(d["analysis_ms"]) / n,
            "optimization_ms": sum(d["optimization_ms"]) / n,
            "planning_ms": sum(d["planning_ms"]) / n,
            "exec_ms": sum(d["exec_ms"]) / n,
            "files_read": sum(log.files_read.get(e, 0) for e in execs) / n,
            "bytes_read": sum(log.bytes_read.get(e, 0) for e in execs) / n,
            "jobs": len(jobs) / n,
        }
    return out


def spark_totals(log: EventLog, jobs: list[Job]) -> dict:
    stages = log.stages_of(jobs)
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.executor_run_ms": sum(s.run_ms for s in stages),
        "spark.executor_cpu_ms": sum(s.cpu_ms for s in stages),
        "spark.gc_ms": sum(s.gc_ms for s in stages),
        "spark.shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spark.spill_bytes": sum(s.spill for s in stages),
    }


def stream_phases(progress: list[dict]) -> dict:
    keys = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
            "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
            "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
    n = max(len(progress), 1)
    return {f"stream.{k}": sum(p["durationMs"].get(v, 0) for p in progress) / n for k, v in keys.items()}


def state_ops(progress: list[dict]) -> dict:
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    n = max(len(ops), 1)
    updates = sum(o.get("allUpdatesTimeMs", 0) for o in ops)
    groups = sum(o.get("numRowsUpdated", 0) for o in ops)
    last = ops[-1] if ops else {}
    return {
        "state_update_ms": updates / n,
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops) / n,
        "state_bytes": last.get("memoryUsedBytes", 0),
        "state_bytes_per_group": (last.get("memoryUsedBytes", 0) / last["numRowsTotal"]
                                  if last.get("numRowsTotal") else 0.0),
        "groups_per_batch": groups / n,
        "ms_per_group": updates / groups if groups else 0.0,
    }


def dir_bytes(path: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)]
    return len(files), sum(os.path.getsize(p) for p in files)


# ------------------------------------------------------------ workloads --
def fleet(work: str, out: dict, tracer: H.Tracer, log: EventLog, nproc: int, live: list) -> dict:
    m: dict[str, float] = {}
    warm = out["warm_batches"]
    prog = [p for p in out["progress"] if p["batchId"] not in warm]
    by_batch = {p["batchId"]: p for p in out["progress"]}
    st = state_ops(prog)
    for k in ("state_update_ms", "state_commit_ms", "state_bytes", "state_bytes_per_group", "groups_per_batch"):
        m[f"delta_stream.{k}"] = st[k]
    m["gen.max_digests_per_instance"] = out["gen_events"]["max_present"]
    rows_in = sum(p["numInputRows"] for p in out["progress"])
    m["delta_stream.rows_in"] = rows_in
    m["delta_stream.rows_out"] = out["rows_out"]
    m["delta_stream.emit_ratio"] = out["rows_out"] / rows_in if rows_in else 0.0
    m.update(stream_phases(prog))
    open_batches = [b for b in out["batches"] if b not in warm and b in by_batch]
    sizes = [len(out["batches"][b]) for b in open_batches]
    m["stream.backlog_files"] = max(sizes) if sizes else 0
    m["stream.ticks_per_batch"] = sum(sizes) / len(sizes) if sizes else 0
    n_files, n_bytes = dir_bytes(out["paths"][1])
    m["rollup.files_written"] = n_files
    m["rollup.bytes_written"] = n_bytes
    m["rollup.bytes_per_row"] = n_bytes / out["rows_out"] if out["rows_out"] else 0.0

    # spans recorded inside foreachBatch, by batch
    batch_spans: dict[int, list[H.Span]] = {}
    for s in list(tracer.spans):
        if s.trace_id.startswith("fleet-b"):
            batch_spans.setdefault(int(s.trace_id[7:]), []).append(s)
    rollup_ms = [s.end - s.start for ss in batch_spans.values() for s in ss if s.name == "operators.rollup"]
    m["rollup.write_qan_ms"] = 1000.0 * sum(rollup_ms) / len(rollup_ms) if rollup_ms else 0.0
    tick_jobs = log.jobs_in("fleet-tick")
    m["spark.jobs_per_batch"] = len(tick_jobs) / max(len(out["writes"]), 1)

    # one trace per tick: scheduled time -> queryable
    fleet_trace = H.Tracer(enabled=True)
    jobs_by_batch: dict[int, list[Job]] = {}
    for j in tick_jobs:
        try:
            jobs_by_batch.setdefault(int(j.desc.rsplit(" ", 1)[1]), []).append(j)
        except (IndexError, ValueError):
            pass
    parallel = min(nproc, 4)
    tick_of = {}
    for b, files in out["batches"].items():
        for f in files:
            tick_of[int(os.path.basename(f)[5:10])] = b
    for k in range(out["n_ticks"]):
        b = tick_of.get(out["warmup_ticks"] + k)
        if b is None or b not in out["writes"] or b not in by_batch:
            continue
        due = out["t_start"] + k * out["interval"]
        moved = out["moved"][k]
        p = by_batch[b]
        fb_start, q_end = out["writes"][b]
        tid = f"tick-{k}"
        root = fleet_trace.add(H.ROOT_SPAN, due, q_end, tid)
        # gen: due -> file released; stream: released -> the foreachBatch
        # that holds it starts (queueing behind earlier batches, then
        # latestOffset/walCommit/getBatch/queryPlanning)
        released = max(due, min(moved, fb_start))
        fleet_trace.add("gen", due, released, tid, root)
        fleet_trace.add("stream", released, fb_start, tid, root)
        so = (p.get("stateOperators") or [{}])[0]
        state_ms = so.get("allUpdatesTimeMs", 0) + so.get("commitTimeMs", 0)
        for s in batch_spans.get(b, []):
            sid = fleet_trace.add(s.name, s.start, s.end, tid, root)
            if s.name == "operators.rollup":
                stage_wall = sum(max(0.0, st.end - st.start) for st in log.stages_of(jobs_by_batch.get(b, []))
                                 if "FlatMapGroupsInPandasWithState" in st.scopes) or 1e-9
                share = (state_ms / 1000.0 / parallel) / stage_wall
                add_stage_spans(fleet_trace, log, jobs_by_batch.get(b, []), sid, tid,
                                "streaming.delta_stream", share)
    copy_spans(fleet_trace, [s for s in tracer.spans if s.trace_id.startswith("fresh-")])
    calls = [(module, f"query-{label}", ms, ph)
             for (label, module, _, ms, _, _), ph in zip(out["fresh"], live)]
    q = query_metrics(log, calls)
    for fn, vals in q.items():
        for f, v in vals.items():
            m[f"{fn}.{f}"] = v
    m["rollup.write_metrics_ms"] = 1000.0 * out["write_metrics_s"]
    m["spark.jobs_per_query"] = sum(v["jobs"] for v in q.values()) / max(len(q), 1)
    m.update(spark_totals(log, [j for j in log.jobs if j.group.startswith(("fleet-tick", "query-"))]))
    m["gen.late_ms_max"] = max(out["late_ms"])
    m["trace.op_p50_ms"] = H.pct(out["lat_ms"], 50)
    return m, fleet_trace


def copy_spans(dst: H.Tracer, spans: list[H.Span]) -> None:
    """Append copies of ``spans`` (parents before children, as recorded)
    to ``dst``, with their parent links remapped."""
    index: dict[int, int] = {}
    for s in spans:
        parent = None if s.parent is None else index.get(s.parent)
        index[s.sid] = dst.add(s.name, s.start, s.end, s.trace_id, parent)


def stats(work: str, out: dict, tracer: H.Tracer, log: EventLog) -> dict:
    m: dict[str, float] = {}
    all_prog = []
    for op in SEQ_OPS:
        prog = [p for o, _, _, pr, _ in out["progress"] if o == op for p in pr if p["numInputRows"] > 0]
        all_prog += prog
        st = state_ops(prog)
        for k in ("state_update_ms", "groups_per_batch", "ms_per_group", "state_commit_ms", "state_bytes"):
            m[f"seq_state.{op}.{k}"] = st[k]
        m[f"seq_state.{op}.rows_out"] = sum(max(p.get("sink", {}).get("numOutputRows", 0), 0) for p in prog)
    m.update(stream_phases(all_prog))
    m["stream.backlog_files"] = 1.0  # maxFilesPerTrigger=1
    m["stream.ticks_per_batch"] = 1.0
    run_ids = {run_id for _, _, _, _, run_id in out["progress"]}
    jobs = [j for j in log.jobs if j.group in run_ids]
    m["spark.jobs_per_batch"] = len(jobs) / max(len(all_prog), 1)
    reads = log.jobs_in("read-")
    m["spark.jobs_per_query"] = len(reads) / max(len(out["reads"]), 1)
    m.update(spark_totals(log, jobs + reads))

    trace = H.Tracer(enabled=True)
    copy_spans(trace, tracer.spans)
    drains = {tid: (run_id, prog) for _, tid, _, prog, run_id in out["progress"]}
    for root in [s for s in trace.spans if s.parent is None and s.trace_id in drains]:
        run_id, prog = drains[root.trace_id]
        run_jobs = [j for j in jobs if j.group == run_id]
        # each trigger is micro-batch engine time, with its stages under it
        cursor = max([s.end for s in trace.spans if s.parent == root.sid] + [root.start])
        for p in sorted(prog, key=lambda p: p["batchId"]):
            a = max(H.parse_ts(p["timestamp"]), cursor)
            b = min(H.parse_ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0, root.end)
            if b <= a:
                continue
            cursor = b
            sid = trace.add("stream", a, b, root.trace_id, root.sid)
            add_stage_spans(trace, log, run_jobs, sid, root.trace_id, "streaming.sequence_state")
    m["trace.op_p50_ms"] = H.pct(out["batch_ms"], 50)
    return m, trace


def per_layer(workload: str, work: str, out: dict, tracer: H.Tracer, start_s: float,
              live: list, memory: dict[str, float]) -> dict:
    log = read_event_log(work)
    nproc = len(os.sched_getaffinity(0))
    if workload == "fleet_stream":
        m, trace = fleet(work, out, tracer, log, nproc, live)
    else:
        m, trace = stats(work, out, tracer, log)
    m["session.start_s"] = start_s
    m.update(memory)
    table = H.layer_table(trace)
    for layer in LAYERS:  # mean self time per trace
        m[f"self_ms.{layer}"] = table["self_ms"].get(layer, 0.0) / max(table["traces"], 1)
    m["trace.max_unexplained_share"] = table["max_unexplained_share"]
    trace.dump(os.path.join(work, "spans.jsonl"))
    with open(os.path.join(work, "layers.json"), "w") as f:
        json.dump({"workload": workload, **table}, f, indent=1)
    if table["max_unexplained_share"] > MAX_UNEXPLAINED:
        out["problems"].append(f"layer self times leave {table['max_unexplained_share']:.1%} of some "
                               f"trace's wall time unexplained (bound {MAX_UNEXPLAINED:.0%})")
    return m
