"""``fleet_stream``: open-loop snapshot ticks through the streaming QAN path.

A generator thread moves one pre-written MySQL fleet snapshot file per tick
into the watched directory on a fixed wall-clock schedule, whether or not
the engine keeps up. The query is ``readStream`` → ``delta_stream.
stateful_deltas`` → ``foreachBatch`` (``delta.mysql_deltas_to_qan`` →
``rollup.write_qan``). The fleet's status-metric history is written to
``metrics_db`` by ``rollup.write_metrics`` during set-up. After the last
tick drains, a fixed set of notebook calls (``qan.top_queries`` shapes,
``metrics.metric_series``, ``metrics.buffer_hit_ratio``) reads both tables.

Tick-to-queryable is measured from a tick's *scheduled* time to the return
of the ``foreachBatch`` write of the micro-batch that read its file; the
batch→files map comes from the checkpoint's source log after the run.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa

import gen
import harness as H
import oracle

N_INSTANCES = 3
MAX_DIGESTS = 150  # per-instance digest caps: 150, 75, 50 (Zipf)
BURSTS = 5  # capacity samples; the capacity is their median
BURST_TICKS = 30  # ticks per burst: a backlog released at once
KEY_COLS = ["digest", "schema_name", "digest_text"]
WARMUP_TICKS = 2
DRAIN_TIMEOUT_S = 30.0  # per wait; a stuck stream shows as ticks never queryable
STATUS_SECONDS = 600  # per-second status history written to metrics_db
# the status history also holds one PostgreSQL instance, so that
# buffer_hit_ratio has block counters to read
STATUS_INSTANCES = {**{f"mysql-{i:02d}": "mysql" for i in range(N_INSTANCES)}, "pg-00": "postgresql"}
# the fixed set of fresh reads: (label, analytics function, kwargs)
FRESH_QUERIES = (
    ("full", "qan.top_queries", {}),
    ("window_1h", "qan.top_queries", {"start": "first", "end": "first+1h"}),
    ("sample_filter", "qan.top_queries", {"sample_filter": "orders"}),
    ("rows_examined", "qan.top_queries", {"metric": "rows_examined_delta", "limit": 20}),
    ("metric_series", "metrics.metric_series", {"metric_names": ["mysql.threads_running", "mysql.questions"]}),
    ("buffer_hit_ratio", "metrics.buffer_hit_ratio", {}),
)
FRESH_REPEATS = 3


def _stage(tables, out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for t, tab in enumerate(tables):
        p = os.path.join(out_dir, f"tick-{t:05d}.parquet")
        gen.write_parquet(tab, p)
        paths.append(p)
    return paths


def _query_kwargs(kw: dict) -> dict:
    from datetime import datetime, timedelta, timezone

    first = datetime.fromtimestamp(gen.T0_US / 1e6, tz=timezone.utc).replace(tzinfo=None)
    sub = {"first": first, "first+1h": first + timedelta(hours=1)}
    return {k: sub.get(v, v) if isinstance(v, str) else v for k, v in kw.items()}


class FleetStream:
    def __init__(self, spark, tracer: H.Tracer):
        self.spark, self.tracer = spark, tracer
        self.writes: dict[int, tuple[float, float]] = {}  # epoch -> (start, end)
        self.errors: list[str] = []

    # ---------------------------------------------------------- stream --
    def start(self, in_dir: str, ckpt: str, sink: str, tag: str):
        from pyspark.sql import types as T

        from project_obsidian_core_spark import schemas
        from project_obsidian_core_spark.operators import delta, rollup
        from project_obsidian_core_spark.streaming import delta_stream

        fields = [(c, T.LongType()) for c in schemas.MYSQL_METRIC_COLS]
        writes, tracer, errors = self.writes, self.tracer, self.errors
        sc = self.spark.sparkContext

        def sink_batch(batch_df, epoch_id: int) -> None:
            tid = f"{tag}-b{epoch_id}"
            sc.setJobGroup(f"{tag}-tick", f"{tag} micro-batch {epoch_id}")
            t0 = time.time()
            try:
                with tracer.span("operators.delta", tid):
                    qan = delta.mysql_deltas_to_qan(batch_df)
                with tracer.span("operators.rollup", tid):
                    rollup.write_qan(qan, sink)
            except Exception as e:  # recorded as failed ops; the run goes on
                errors.append(f"batch {epoch_id}: {e!r}"[:400])
                raise
            writes[epoch_id] = (t0, time.time())

        stream = self.spark.readStream.schema(schemas.MYSQL_SNAPSHOT_SCHEMA).parquet(in_dir)
        deltas = delta_stream.stateful_deltas(stream, KEY_COLS, fields, activity_col="count_star")
        return (
            deltas.writeStream.option("checkpointLocation", ckpt)
            .queryName(tag)
            .foreachBatch(sink_batch)
            .start()
        )

    def wait_for(self, query, n_files: int, ckpt: str, timeout_s: float) -> None:
        """Block until every file is in a batch whose write returned and
        whose progress is reported, or timeout."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            done = H.source_files(ckpt)
            seen = sum(len(v) for b, v in done.items() if b in self.writes)
            last = query.lastProgress
            if seen >= n_files and last is not None and last["batchId"] >= max(self.writes):
                return
            if query.exception() is not None:
                return
            time.sleep(0.05)


def open_loop(staged: list[str], in_dir: str, t_start: float, interval_s: float,
              moved: list[float]) -> None:
    """Rename staged tick files into the watched directory at
    ``t_start + k * interval_s``; renames are atomic, so the source never
    sees a partial file."""
    for k, src in enumerate(staged):
        due = t_start + k * interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(src, os.path.join(in_dir, os.path.basename(src)))
        moved.append(time.time())


def call(tables: dict, module: str, kw: dict, tracer: H.Tracer, tid: str):
    """One notebook call: build the analytics DataFrame, then collect it."""
    from project_obsidian_core_spark.analytics import metrics, qan

    mod_name, fn_name = module.split(".")
    fn = getattr({"qan": qan, "metrics": metrics}[mod_name], fn_name)
    with tracer.span("trace", tid):
        with tracer.span(f"analytics.{mod_name}", tid):
            df = fn(tables[mod_name], **_query_kwargs(kw))
        with tracer.span("spark", tid):
            rows = df.collect()
    return df, rows


def status_files(seed: int, work: str) -> str:
    """Write the fleet's status history; returns its directory."""
    status_dir = os.path.join(work, "status")
    os.makedirs(status_dir)
    history = gen.status_history(np.random.default_rng(seed + 1), STATUS_INSTANCES, gen.T0_US, STATUS_SECONDS)
    gen.write_parquet(history, os.path.join(status_dir, "part-00000.parquet"))
    return status_dir


def run(spark, work: str, seed: int, seconds: float, tracer: H.Tracer, tick_ms: float) -> dict:
    from project_obsidian_core_spark.operators import rollup

    interval = tick_ms / 1000.0
    n_ticks = max(int(seconds / interval), 2)
    bench = FleetStream(spark, tracer)
    caps = gen.digest_caps(N_INSTANCES, MAX_DIGESTS)
    in_dir, ckpt, sink, metrics_sink = (os.path.join(work, d) for d in ("ticks", "ckpt", "qan_db", "metrics_db"))
    os.makedirs(in_dir)

    # ---- set-up: generate + stage all ticks; the first WARMUP_TICKS warm
    # the stream (first micro-batch, instance state); write metrics_db;
    # warm each query shape ----
    t_setup = time.time()
    rng = np.random.default_rng(seed)
    total = WARMUP_TICKS + n_ticks + BURSTS * BURST_TICKS
    tables, sims = gen.fleet_ticks(rng, caps, total)
    last = WARMUP_TICKS + n_ticks
    staged = _stage(tables[:last], os.path.join(work, "staged"))
    warm, staged = staged[:WARMUP_TICKS], staged[WARMUP_TICKS:]
    # each capacity backlog is one file, so one rename releases all of it
    bursts = []
    for j in range(BURSTS):
        bursts.append(os.path.join(work, "staged", f"tick-{last + j:05d}.parquet"))
        first = last + j * BURST_TICKS
        gen.write_parquet(pa.concat_tables(tables[first:first + BURST_TICKS]), bursts[-1])
    rows_per_tick = [t.num_rows for t in tables[WARMUP_TICKS:WARMUP_TICKS + n_ticks]]
    status_dir = status_files(seed, work)
    t_gen = time.time() - t_setup
    q = bench.start(in_dir, ckpt, sink, "fleet")
    for k, src in enumerate(warm):  # one micro-batch each
        os.rename(src, os.path.join(in_dir, os.path.basename(src)))
        bench.wait_for(q, k + 1, ckpt, DRAIN_TIMEOUT_S)
    t_warm = time.time() - t_setup
    spark.sparkContext.setJobGroup("metrics-write", "write_metrics")
    t0 = time.time()
    rollup.write_metrics(spark.read.parquet(status_dir), metrics_sink)
    write_metrics_s = time.time() - t0
    spark.sparkContext.setJobGroup("warm", "warm-up queries")
    warm_tables = {"qan": spark.read.parquet(sink), "metrics": spark.read.parquet(metrics_sink)}
    for _, module, kw in FRESH_QUERIES:
        call(warm_tables, module, kw, H.Tracer(False), "warm")
    setup_s = time.time() - t_setup
    phases = {"gen": t_gen, "warm_stream": t_warm, "write_metrics": write_metrics_s, "warm_queries": setup_s}

    # ---- measured: open-loop ticks, capacity bursts, then fresh reads ----
    warm_batches = set(bench.writes)
    moved: list[float] = []
    t_start = time.time() + 0.2
    feeder = threading.Thread(target=open_loop, args=(staged, in_dir, t_start, interval, moved))
    feeder.start()
    feeder.join()
    bench.wait_for(q, WARMUP_TICKS + n_ticks, ckpt, DRAIN_TIMEOUT_S)
    phases["open_loop"] = time.time() - t_start
    t_burst = time.time()
    # capacity: fixed backlogs of further ticks, each released at once
    # after the previous one drained
    for j, burst in enumerate(bursts):
        os.rename(burst, os.path.join(in_dir, os.path.basename(burst)))
        bench.wait_for(q, last + j + 1, ckpt, DRAIN_TIMEOUT_S)
    progress = H.progress_of(q)
    q.stop()
    phases["burst"] = time.time() - t_burst

    batches = H.source_files(ckpt)
    tick_batch = {}
    for b, files in batches.items():
        for f in files:
            tick_batch[int(os.path.basename(f)[5:10])] = b
    lat_ms, late_ms, missing = [], [], 0
    for k in range(n_ticks):
        due = t_start + k * interval
        late_ms.append((moved[k] - due) * 1000.0)
        b = tick_batch.get(WARMUP_TICKS + k)
        if b is None or b not in bench.writes:
            missing += 1
            continue
        lat_ms.append((bench.writes[b][1] - due) * 1000.0)
    capacity, burst_rows = [], []
    for j in range(BURSTS):
        b = tick_batch.get(last + j)
        busy = [p for p in progress if p["batchId"] == b]
        if b not in bench.writes or not busy:
            missing += BURST_TICKS
            continue
        burst_rows.append(busy[0]["numInputRows"])
        capacity.append(burst_rows[-1] / (busy[0]["durationMs"]["triggerExecution"] / 1000.0))

    t_fresh = time.time()
    fresh, errors = [], bench.errors  # fresh: (label, module, tid, ms, df, rows)
    fresh_tables = {"qan": spark.read.parquet(sink), "metrics": spark.read.parquet(metrics_sink)}
    for rep in range(FRESH_REPEATS):
        for label, module, kw in FRESH_QUERIES:
            tid = f"fresh-{label}-{rep}"
            spark.sparkContext.setJobGroup(f"query-{label}", tid)
            t0 = time.time()
            try:
                df, rows = call(fresh_tables, module, kw, tracer, tid)
            except Exception as e:  # a raising call is a failed op
                errors.append(f"{tid}: {e!r}"[:400])
                continue
            fresh.append((label, module, tid, (time.time() - t0) * 1000.0, df, rows))
    phases["fresh"] = time.time() - t_fresh

    return {
        "setup_s": setup_s,
        "phases": phases,
        "lat_ms": lat_ms,
        "late_ms": late_ms,
        "missing": missing,
        "n_ticks": n_ticks,
        "rows_per_tick": rows_per_tick,
        "capacity": H.median(capacity),
        "capacities": capacity,
        "burst_rows": burst_rows,
        "fresh_ms": [ms for _, _, _, ms, _, _ in fresh],
        "fresh": fresh,
        "write_metrics_s": write_metrics_s,
        "progress": progress,
        "warm_batches": warm_batches,
        "warmup_ticks": WARMUP_TICKS,
        "batches": batches,
        "writes": dict(bench.writes),
        "errors": bench.errors,
        "gen_events": gen.event_counts(sims),
        "paths": (in_dir, sink, status_dir),
        "t_start": t_start,
        "moved": moved,
        "interval": interval,
    }


def check(r: dict) -> list[str]:
    """The stream-written qan_db must equal the DuckDB re-derivation of the
    batch delta semantics over the same tick files (``EXCEPT ALL`` both
    ways), and every fresh answer the oracle's answer over the raw tick and
    status files. Returns the mismatches."""
    in_dir, sink, status_dir = r["paths"]
    con = oracle.connect(in_dir, status_dir)
    bad = []
    extra, lost = oracle.diff_mysql_sink(con, sink)
    if extra or lost:
        bad.append(f"stream qan_db vs batch delta semantics: {extra} extra, {lost} missing rows")
    r["rows_out"] = con.execute("SELECT count(*) FROM sink").fetchone()[0]
    expect = {label: oracle.expected(con, module, _query_kwargs(kw)) for label, module, kw in FRESH_QUERIES}
    con.close()
    for label, _, tid, _, _, rows in r["fresh"]:
        if not oracle.same_rows([tuple(x) for x in rows], expect[label]):
            bad.append(f"fresh {tid} differs from DuckDB")
    return bad
