"""``stats_stream``: closed-loop availableNow drains of a keyed event stream.

A generated event stream, one file per micro-batch with ``USERS_PER_FILE``
distinct users each, is drained (``availableNow``, ``maxFilesPerTrigger=1``)
through three ``streaming.sequence_state`` operators in turn: ``streaming_transitions``,
``streaming_gap_sessions`` and ``streaming_cusum`` (keyed per user). Each
micro-batch calls the Python state function once per key, so thousands of
thin groups meet the Python/Arrow state boundary; delta, rollup and
analytics are bypassed. After the three drains the readers' max-version
views are read back in rounds, one read of each view per round, and every
answer is checked after the timed region against the operators' own pure
helpers over the generated rows.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
import harness as H

FILES = 4  # micro-batches per drain
USERS = 2000  # user population
USERS_PER_FILE = 1500  # distinct users (state groups) per micro-batch
WARM_USERS = 100
GAP_US = 20 * 60 * 1_000_000  # session gap: 20 minutes
OPS = ("transitions", "sessions", "cusum")
KEYS = {"transitions": "user_id", "sessions": "user_id", "cusum": "metric_name"}
WARM_ROUNDS = 6  # read rounds before the timed ones (answers still checked)
ROUNDS = 14  # timed read rounds: one max-version read of each drained view


def _op_df(op: str, stream):
    from pyspark.sql import functions as F

    from project_obsidian_core_spark.streaming import sequence_state as S

    if op == "transitions":
        return S.streaming_transitions(stream)
    if op == "sessions":
        return S.streaming_gap_sessions(stream, GAP_US)
    keyed = stream.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("metric_name"),
        (F.floor(F.unix_seconds("ts") / 3600) * 3600).alias("bucket"),
        F.col("cents").alias("v"),
    )
    return S.streaming_cusum(keyed)


def start(spark, op: str, in_dir: str, ckpt: str, name: str):
    """Start one availableNow drain into the memory table ``name``."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("cents", T.LongType()),
    ])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    return (
        _op_df(op, stream).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(availableNow=True).start()
    )


def drain(query, timeout_s: float = 60.0):
    """Wait for an availableNow query to finish; a stuck one is stopped and
    raises, which the caller counts as a failed operation."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"drain {query.name} did not finish in {timeout_s:.0f} s")
    return query


def read_latest(spark, op: str, name: str):
    """The superseding-contract read: each key's max-version rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = KEYS[op]
    df = spark.table(name)
    mv = F.max("version").over(Window.partitionBy(key))
    return df.withColumn("_mv", mv).filter(F.col("version") == F.col("_mv")).drop("_mv", "version")


def run(spark, work: str, seed: int, tracer: H.Tracer) -> dict:
    t_setup = time.time()
    rng = np.random.default_rng(seed)
    tables = gen.event_files(rng, FILES, users=USERS, users_per_file=USERS_PER_FILE)
    in_dir = os.path.join(work, "events")
    os.makedirs(in_dir)
    for f, tab in enumerate(tables):
        gen.write_parquet(tab, os.path.join(in_dir, f"events-{f:05d}.parquet"))
    warm_dir = os.path.join(work, "warm_events")
    os.makedirs(warm_dir)
    warm = gen.event_files(np.random.default_rng(seed + 1), 1, users=WARM_USERS, users_per_file=WARM_USERS)
    gen.write_parquet(warm[0], os.path.join(warm_dir, "events-00000.parquet"))
    phases = {"gen": time.time() - t_setup}
    spark.sparkContext.setJobGroup("warm", "warm-up drains")
    for op in OPS:
        drain(start(spark, op, warm_dir, os.path.join(work, f"warm_ckpt_{op}"), f"warm_{op}"))
        read_latest(spark, op, f"warm_{op}").collect()
    setup_s = time.time() - t_setup
    phases["warm_drains"] = setup_s - phases["gen"]

    rows_per_drain = sum(t.num_rows for t in tables)
    t_begin = time.time()
    drains, batch_ms, progress, answers, errors = [], [], [], {}, []
    # a fixed amount of work: one drain per operator (~20-30 s on a 4-core
    # host), so every run holds the same number of batches
    for op in OPS:
        tid = f"drain-{op}"
        spark.sparkContext.setJobGroup(f"drain-{op}", tid)
        t0 = time.time()
        try:
            with tracer.span("trace", tid):
                with tracer.span("stream", tid):
                    q = start(spark, op, in_dir, os.path.join(work, f"ckpt_{op}"), op)
                drain(q)
        except Exception as e:  # a raising drain is a failed op
            errors.append(f"{tid}: {e!r}"[:400])
            continue
        drains.append((op, time.time() - t0))
        prog = H.progress_of(q)
        progress.append((op, tid, t0, prog, str(q.runId)))
        batch_ms.extend(p["durationMs"]["triggerExecution"] for p in prog if p["numInputRows"] > 0)
    phases["drains"] = time.time() - t_begin
    # a round refreshes every drained view once, as a dashboard would; the
    # first rounds run slower while the JVM compiles, so they are not timed
    t_reads = time.time()
    reads, rounds = [], []  # reads: (round, op, ms) of every read
    for k in range(WARM_ROUNDS + ROUNDS):
        round_ms = 0.0
        for op, _ in drains:
            rid = f"read-{op}-{k}"
            spark.sparkContext.setJobGroup(f"read-{op}", rid)
            t0 = time.time()
            with tracer.span("trace", rid):
                with tracer.span("spark", rid):
                    rows = read_latest(spark, op, op).collect()
            ms = (time.time() - t0) * 1000.0
            reads.append((k, op, ms))
            round_ms += ms
            # one copy of each distinct answer: keeping every read's rows
            # grows the driver's heap, and its garbage collector then slows
            # the later reads
            answers.setdefault(op, {}).setdefault(tuple(sorted(map(tuple, rows))), []).append(k)
        if k >= WARM_ROUNDS:
            rounds.append(round_ms)
    for op, _ in drains:
        spark.catalog.dropTempView(op)
    phases["reads"] = time.time() - t_reads
    return {
        "phases": phases,
        "setup_s": setup_s,
        "rows_per_drain": rows_per_drain,
        "drains": drains,
        "reads": reads,
        "rounds": rounds,
        "batch_ms": batch_ms,
        "progress": progress,
        "answers": answers,
        "errors": errors,
        "tables": tables,
    }


# ------------------------------------------------------------- oracle --
def expected(tables) -> dict[str, list[tuple]]:
    """The drained answers from the operators' own pure helpers."""
    from project_obsidian_core_spark.streaming import sequence_state as S

    import pyarrow as pa

    t = pa.concat_tables(tables).to_pandas()
    t["ts_us"] = t["ts"].astype("datetime64[us, UTC]").astype("int64")
    out = {op: [] for op in OPS}
    for user, g in t.sort_values(["user_id", "ts_us", "event_id"]).groupby("user_id", sort=True):
        ts, types, cents = g["ts_us"].tolist(), g["event_type"].tolist(), g["cents"].tolist()
        for (p, n), c in S.transition_counts(types).items():
            out["transitions"].append((int(user), p, n, c))
        for idx, start, end, n, vsum in S.gap_sessions(ts, cents, GAP_US):
            out["sessions"].append((int(user), idx, start, end, n, vsum))
        buckets, sums = S.fold_bucket_sums([], [], zip((np.array(ts) // 3_600_000_000 * 3600).tolist(), cents))
        for b, v, pos, neg in S.cusum_from_series(buckets, sums):
            out["cusum"].append((f"u{int(user)}", b, v, pos, neg))
    return {op: sorted(rows) for op, rows in out.items()}


def check(result: dict) -> list[str]:
    """Every read against the pure helpers; returns the mismatches."""
    want = expected(result["tables"])
    return [f"{op}[{k}]" for op, seen in result["answers"].items()
            for rows, ks in seen.items() if list(rows) != want[op] for k in ks]
