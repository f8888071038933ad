"""QAN-fleet benchmark: one workload per run, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload fleet_stream --seed 1 --seconds 20 --trace 0 \
        --tick-ms 200 --conf spark.sql.shuffle.partitions=4 ...

BENCHMARK.json holds the full command, with every setting.

Workloads: ``fleet_stream``, ``stats_stream`` (see perfbench/README.md).
``--seconds`` sets the fleet's open-loop span; ``stats_stream`` does a fixed
amount of work. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
runs the same workload with spans and the Spark event log on and prints
the per-layer metrics, writing the spans and the layer table to
``.perfbench/<workload>-trace/``. Every ``--conf k=v`` is passed to the
Spark session; the shuffle width is frozen into streaming checkpoints, so
compared runs must use the same value.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the host, sample counts and the native
per-workload numbers. The exit code is non-zero, with no result line, when
the package under test cannot be imported or the run itself breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("fleet_stream", "stats_stream")
LATE_MS_BOUND = 100.0  # open-loop generator lateness above this voids the run
DEADLINE_S = 170.0  # a run still going after this is killed with its JVM, no result


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="QAN-fleet benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tick-ms", type=float, required=True,
                    help="open-loop tick interval of fleet_stream")
    ap.add_argument("--conf", action="append", required=True,
                    help="Spark setting k=v (repeatable); spark.sql.shuffle.partitions is required")
    args = ap.parse_args(argv)
    args.conf = dict(p.partition("=")[::2] for p in args.conf)
    if "spark.sql.shuffle.partitions" not in args.conf:
        ap.error("--conf spark.sql.shuffle.partitions=N is required")
    return args


def declared_metrics() -> tuple[dict[str, str], list[str]]:
    """Units of every metric, and the per-layer names in order, as
    BENCHMARK.json at the repository root declares them."""
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    return units, [m["name"] for m in bench["per_layer"]]


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, H.ROOT)
    try:
        import project_obsidian_core_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2
    work = os.path.join(H.ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    H.clean(work)
    H.prepare_env(work)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    units, layer_names = declared_metrics()
    host = H.host_info()
    cpu0 = H.cpu_times()
    tracer = H.Tracer(enabled=bool(args.trace))
    spark = None
    watchdog = threading.Timer(DEADLINE_S, abort, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    try:
        with H.RssSampler() as rss:
            t0 = time.time()
            spark = H.start_spark(work, host["nproc"], args.conf, bool(args.trace))
            start_s = time.time() - t0
            out = run_workload(spark, args, work, tracer)
        out["native"]["session.start_s"] = start_s
        e2e = out["e2e"]
        e2e["setup_s"] = start_s + out["setup_s"]
        memory = {"mem.peak_rss_mb": rss.peak, **{f"mem.{k}_rss_mb": rss.at_peak.get(k, 0.0)
                                                 for k in ("driver", "jvm", "workers")},
                  "mem.python_workers": rss.at_peak.get("n_workers", 0)}
        if args.trace:
            import layers

            live = layers.planning(args.workload, out)  # needs the live session
            spark, session = None, spark
            stop(session)  # the event log is complete once the session stops
            produced = layers.per_layer(args.workload, work, out, tracer, start_s, live, memory)
            unknown = sorted(set(produced) - set(layer_names))
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            # a layer the workload does not exercise reports 0
            metrics = {name: produced.get(name, 0.0) for name in layer_names}
        else:
            metrics = e2e
        host["steal"] = round(H.steal_share(cpu0, H.cpu_times()), 4)
        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host, "spark_conf": args.conf, "tick_ms": args.tick_ms,
            "failed_ops_ratio": f"{out['failed']}/{out['attempted']}",
            "memory": memory,
            "native": out["native"], "phases": out.get("phases"), "samples": out["samples"], "problems": out["problems"][:20],
        }
        print(json.dumps(info, default=float))
        result = {
            "correct": not out["problems"],
            "attempted": int(out["attempted"]),
            "failed": int(out["failed"]),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
        if spark is not None:
            stop(spark)
        if not args.trace:
            H.clean(work)
        else:
            keep = os.path.join(H.ROOT, ".perfbench", f"{args.workload}-trace")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep, exist_ok=True)
            for name in ("spans.jsonl", "layers.json"):
                if os.path.exists(os.path.join(work, name)):
                    shutil.move(os.path.join(work, name), os.path.join(keep, name))
            H.clean(work)


def run_workload(spark, args, work: str, tracer: H.Tracer) -> dict:
    if args.workload == "fleet_stream":
        return fleet_result(spark, args, work, tracer)
    return stats_result(spark, args, work, tracer)


def fleet_result(spark, args, work, tracer) -> dict:
    import fleet

    r = fleet.run(spark, work, args.seed, args.seconds, tracer, args.tick_ms)
    problems = list(r["errors"])
    n_ticks = r["n_ticks"] + fleet.BURSTS * fleet.BURST_TICKS + fleet.WARMUP_TICKS
    missing = r["missing"]
    late = max(r["late_ms"])
    if late > LATE_MS_BOUND:
        problems.append(f"open-loop generator ran {late:.1f} ms late (bound {LATE_MS_BOUND} ms)")
    t0 = time.time()
    bad = fleet.check(r)
    r["phases"]["check"] = time.time() - t0
    problems += bad
    if missing:
        problems.append(f"{missing} ticks not queryable by the end of the run")
    attempted = n_ticks + len(r["fresh_ms"]) + len(r["errors"]) + 1  # + the table gate
    failed = missing + len(r["errors"]) + len(bad)
    lat = r["lat_ms"]
    r["native"] = {
        "tick_to_queryable_p50_ms": H.pct(lat, 50),
        "tick_to_queryable_p90_ms": H.pct(lat, 90),
        "stream_capacity_rows_per_s": r["capacity"],
        "fresh_query_p50_ms": H.median(r["fresh_ms"]),
        "gen.late_ms_max": late,
        "arrival_rows_per_s": sum(r["rows_per_tick"]) / (r["n_ticks"] * args.tick_ms / 1000.0),
    }
    r.update(
        attempted=attempted, failed=failed, problems=problems,
        samples={"ticks": len(lat), "fresh_queries": len(r["fresh_ms"]), "burst_rows": r["burst_rows"],
                 "burst_rows_per_s": [round(c, 1) for c in r["capacities"]],
                 "gen_events": r["gen_events"]},
        e2e={
            "ingest_rows_per_s": r["capacity"],
            "op_p50_ms": H.pct(lat, 50),
            "op_p90_ms": H.pct(lat, 90),
            "read_p50_ms": H.median(r["fresh_ms"]),
        },
    )
    return r


def stats_result(spark, args, work, tracer) -> dict:
    import stats

    r = stats.run(spark, work, args.seed, tracer)
    bad = stats.check(r)
    problems = list(r["errors"]) + [f"mismatch vs pure helpers: {s}" for s in bad]
    total_rows = r["rows_per_drain"] * len(r["drains"])
    drain_s = sum(s for _, s in r["drains"])
    rate = total_rows / drain_s if drain_s else 0.0
    r["native"] = {"stats_rows_per_s": rate}
    r.update(
        attempted=len(r["drains"]) + len(r["errors"]) + len(r["reads"]),
        failed=len(r["errors"]) + len(bad),
        problems=problems,
        samples={"batches": len(r["batch_ms"]), "drains": len(r["drains"]), "reads": len(r["reads"]),
                 "read_rounds": len(r["rounds"]), "rows_per_drain": r["rows_per_drain"]},
        e2e={
            "ingest_rows_per_s": rate,
            "op_p50_ms": H.pct(r["batch_ms"], 50),
            "op_p90_ms": H.pct(r["batch_ms"], 90),
            "read_p50_ms": H.median(r["rounds"]),
        },
    )
    return r


def abort(work: str) -> None:
    """Deadline passed: kill the JVM (its Python workers exit with it),
    remove the work directory and exit without a result."""
    from pyspark import SparkContext

    print(f"perfbench: no result within {DEADLINE_S:.0f} s", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    H.clean(work)
    os._exit(3)


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:  # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
