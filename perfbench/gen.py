"""Seeded generator of a monitored-database fleet (numpy + pyarrow only).

Everything the benchmark feeds the library comes from here, as parquet
files, so the library sees only generated inputs. One ``numpy`` generator
seeded from the command line drives all draws, and files are written with
fixed writer settings, so the same seed gives byte-identical files.

Three datasets:

* **snapshots** of cumulative per-digest counters (the MySQL
  ``events_statements_summary_by_digest`` shape), ``snapshot_ts`` 60 s
  apart. Each instance has its own digest cap, skewed across the fleet and
  never above the 10k ``pg_stat_statements.max`` bound. Every instance-tick
  the simulator draws, at the rates in :class:`Rates`, a counter reset, idle
  digests (present, no new calls), new digests, and evictions whose digests
  return 1-3 ticks later with their counters restarted.

  Only two of these numbers have a source: the 60 s interval (the
  reference's default QAN collection interval) and the 10k cap
  (``pg_stat_statements.max`` in the reference's PG config), both recorded
  in BASELINE.md. The reference publishes no traffic statistics, so the
  event rates and the per-instance caps the workloads pass are assumptions,
  chosen so that each kind of event occurs several times in one run.
* **status metrics**: a long-format per-second history, two samples per
  second, in the ``metrics_db`` input shape.
* **events**: a keyed event stream for the sequence-state operators, one
  file per micro-batch, ~1.5k distinct users per file.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIGEST_CAP = 10_000  # pg_stat_statements.max default (BASELINE.md)
TICK_S = 60  # the reference's default snapshot interval
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

MYSQL_METRICS = (
    "count_star",
    "sum_timer_wait",
    "sum_lock_time",
    "sum_errors",
    "sum_warnings",
    "sum_rows_affected",
    "sum_rows_sent",
    "sum_rows_examined",
    "sum_created_tmp_tables",
    "sum_created_tmp_disk_tables",
    "sum_sort_rows",
    "sum_no_index_used",
    "sum_no_good_index_used",
)
TABLES = ("orders", "users", "payments", "items", "sessions", "audit_log")
VERBS = ("SELECT * FROM {t} WHERE id = ?", "UPDATE {t} SET v = ? WHERE id = ?",
         "INSERT INTO {t} VALUES (...)", "SELECT COUNT(*) FROM {t} JOIN users USING (uid)",
         "DELETE FROM {t} WHERE ts < ?")
EVENT_TYPES = ("view", "search", "cart", "checkout", "refund")
# every sampled status metric; the PG block pair feeds buffer_hit_ratio
STATUS_METRICS = {
    "mysql": ("mysql.threads_running", "mysql.questions", "mysql.slow_queries"),
    "postgresql": ("postgresql.blocks_hit", "postgresql.blocks_read", "postgresql.xact_commit"),
}


@dataclass(frozen=True)
class Rates:
    """Per-tick event rates of the snapshot simulator (assumed, not
    measured on a real fleet: see the module docstring).

    ``reset`` is per instance-tick; ``evict`` and ``new`` are per digest
    carried over from the previous tick; ``idle`` is per present digest
    that is neither new nor returning. An evicted digest is absent for 1 to
    ``max_absent`` ticks and then returns with restarted counters."""

    reset: float = 0.01
    idle: float = 0.2
    evict: float = 0.01
    new: float = 0.01
    max_absent: int = 3


RATES = Rates()


def digest_caps(n_instances: int, max_digests: int, skew: float = 1.0) -> list[int]:
    """Zipf-skewed per-instance digest caps: instance i gets
    ``max_digests / (i + 1) ** skew``, at least 8, never above the 10k cap."""
    if max_digests > DIGEST_CAP:
        raise ValueError(f"max_digests {max_digests} exceeds the {DIGEST_CAP} digest cap")
    return [max(8, int(max_digests / (i + 1) ** skew)) for i in range(n_instances)]


class InstanceSim:
    """One monitored instance: a digest universe with cumulative counters.

    ``step`` advances one tick and returns the indices of the present
    digests and their cumulative counter matrix (one column per counter
    family: calls, time, lock, rows, errors, tmp). Present digests plus
    evicted ones waiting to return never exceed the cap: when new digests
    would overflow it, random older digests are dropped for good, as
    ``pg_stat_statements`` deallocates entries at its ``max``."""

    N_FAMILIES = 6

    def __init__(self, rng: np.random.Generator, cap: int, rates: Rates):
        self.rng, self.cap, self.rates = rng, cap, rates
        universe = 3 * cap  # reserve for new digests
        self.present = np.zeros(universe, dtype=bool)
        self.back_at = np.full(universe, -1, dtype=np.int64)  # evicted: return tick
        self.cum = np.zeros((universe, self.N_FAMILIES), dtype=np.int64)
        self.call_rate = rng.lognormal(1.5, 1.0, universe)
        self.cost = rng.lognormal(0.0, 1.0, universe)  # per-call weight
        self.next_new = int(cap * 0.6)
        self.present[: self.next_new] = True
        self.events = {"resets": 0, "idle": 0, "evicted": 0, "returned": 0, "new": 0,
                       "dropped": 0, "digest_ticks": 0, "live_ticks": 0, "ticks": 0,
                       "max_present": 0}

    def step(self, t: int) -> tuple[np.ndarray, np.ndarray]:
        rng, r, ev = self.rng, self.rates, self.events
        fresh = np.zeros(len(self.present), dtype=bool)  # must show activity
        if t > 0:
            if rng.random() < r.reset:
                self.cum[:] = 0
                ev["resets"] += 1
            back = self.back_at == t
            self.present[back], self.back_at[back] = True, -1
            self.cum[back] = 0
            fresh |= back
            ev["returned"] += int(back.sum())
            live = np.flatnonzero(self.present & ~back)
            ev["live_ticks"] += len(live)
            gone = live[rng.random(len(live)) < r.evict]
            self.present[gone] = False
            self.back_at[gone] = t + rng.integers(1, r.max_absent + 1, len(gone))
            ev["evicted"] += len(gone)
            n_new = min(rng.binomial(len(live), r.new), len(self.present) - self.next_new)
            held = int(self.present.sum() + (self.back_at >= 0).sum())
            over = held + n_new - self.cap
            if over > 0:
                old = np.flatnonzero(self.present & ~fresh)
                drop = rng.choice(old, min(over, len(old)), replace=False)
                self.present[drop] = False
                ev["dropped"] += len(drop)
            born = np.arange(self.next_new, self.next_new + n_new)
            self.present[born], fresh[born] = True, True
            self.next_new += n_new
            ev["new"] += n_new
        idx = np.flatnonzero(self.present)
        idle = (rng.random(len(idx)) < r.idle) & ~fresh[idx]
        if t > 0:
            ev["idle"] += int(idle.sum())
            ev["digest_ticks"] += int((~fresh[idx]).sum())
        calls = np.where(idle, 0, 1 + rng.poisson(self.call_rate[idx]))
        w = self.cost[idx]
        inc = np.stack(
            [
                calls,
                (calls * w * rng.uniform(0.5, 1.5, len(idx)) * 1e9).astype(np.int64),
                (calls * w * 40).astype(np.int64),
                (calls * w * 600).astype(np.int64),
                (calls * (rng.random(len(idx)) < 0.05)).astype(np.int64),
                (calls * (w > 2.0)).astype(np.int64),
            ],
            axis=1,
        )
        self.cum[idx] += inc
        ev["ticks"] += 1
        ev["max_present"] = max(ev["max_present"], len(idx))
        return idx, self.cum[idx]


def _digest_hex(inst: int, idx: np.ndarray) -> list[str]:
    return [f"{(inst * 1_000_003 + int(i)) * 2654435761 % (1 << 64):016x}{inst:04x}{int(i):012x}" for i in idx]


def _statement_text(idx: np.ndarray) -> list[str]:
    return [VERBS[int(i) % len(VERBS)].format(t=TABLES[int(i) // len(VERBS) % len(TABLES)]) + f" /* q{int(i)} */"
            for i in idx]


def _ts_array(ts_us: int, n: int) -> pa.Array:
    return pa.array(np.full(n, ts_us, dtype=np.int64), type=pa.timestamp("us", tz="UTC"))


def mysql_rows(inst_id: str, inst: int, ts_us: int, idx: np.ndarray, cum: np.ndarray) -> pa.Table:
    """One instance-tick of a MySQL digest snapshot (MYSQL_SNAPSHOT_SCHEMA)."""
    calls, time, lock, rows, errs, tmp = (cum[:, j] for j in range(6))
    cols = {
        "instance_id": pa.array([inst_id] * len(idx)),
        "snapshot_ts": _ts_array(ts_us, len(idx)),
        "schema_name": pa.array([f"app_{int(i) % 4}" for i in idx]),
        "digest": pa.array(_digest_hex(inst, idx)),
        "digest_text": pa.array(_statement_text(idx)),
    }
    derived = (calls, time, lock, errs, errs // 2, rows // 7, rows // 3, rows,
               tmp, tmp // 3, rows // 5, tmp // 2, tmp // 4)
    for name, v in zip(MYSQL_METRICS, derived):
        cols[name] = pa.array(v, type=pa.int64())
    return pa.table(cols)


def write_parquet(table: pa.Table, path: str) -> None:
    """Fixed writer settings, so equal tables give equal bytes."""
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def fleet_ticks(
    rng: np.random.Generator,
    caps: list[int],
    n_ticks: int,
    rates: Rates = RATES,
) -> tuple[list[pa.Table], list[InstanceSim]]:
    """One MySQL snapshot table per tick for a fleet of ``len(caps)``
    instances, and the simulators, whose ``events`` count what was drawn."""
    sims = [InstanceSim(rng, cap, rates) for cap in caps]
    tables = []
    for t in range(n_ticks):
        ts_us = T0_US + t * TICK_S * 1_000_000
        parts = []
        for i, sim in enumerate(sims):
            idx, cum = sim.step(t)
            parts.append(mysql_rows(f"mysql-{i:02d}", i, ts_us, idx, cum))
        tables.append(pa.concat_tables(parts))
    return tables, sims


def event_counts(sims: list[InstanceSim]) -> dict[str, int]:
    keys = sims[0].events.keys()
    return {k: (max if k == "max_present" else sum)(s.events[k] for s in sims) for k in keys}


def status_history(rng: np.random.Generator, instances: dict[str, str], start_us: int,
                   seconds: int) -> pa.Table:
    """Per-second status samples, two per second (at +0 s and +0.5 s), as
    metrics_db input rows: one row per (sample, instance, metric)."""
    n = seconds * 2
    ts = start_us + np.arange(n, dtype=np.int64) * 500_000
    parts = []
    for inst, system in sorted(instances.items()):
        for k, name in enumerate(STATUS_METRICS[system]):
            level = rng.uniform(10, 500)
            v = np.round(np.abs(level + np.cumsum(rng.normal(0, level / 50, n))), 2)
            spread = np.round(rng.uniform(0, 1, n) * level / 20, 2)
            parts.append(pa.table({
                "time": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
                "instance_id": pa.array([inst] * n),
                "db_system": pa.array([system] * n),
                "metric_name": pa.array([name] * n),
                "metric_labels": pa.array([[("instance", inst), ("source", "status")]] * n,
                                          type=pa.map_(pa.string(), pa.string())),
                "metric_value": pa.array(v, type=pa.float64()),
                "metric_max": pa.array(v + spread, type=pa.float64()),
                "metric_min": pa.array(v - spread, type=pa.float64()),
            }))
    return pa.concat_tables(parts)


def event_files(rng: np.random.Generator, n_files: int, users: int = 2000,
                users_per_file: int = 1500, per_user: int = 4) -> list[pa.Table]:
    """Keyed event stream for the sequence-state operators: each file holds
    ``users_per_file`` distinct users from a population of ``users``, with
    1..2*per_user-1 events each. Event times fall in the file's 10-minute
    window, a tenth of them pushed up to 30 minutes back so batches arrive
    out of time order. Columns: user_id, event_id, ts, event_type, cents."""
    out, next_id = [], 0
    for f in range(n_files):
        who = np.sort(rng.choice(users, users_per_file, replace=False))
        k = rng.integers(1, 2 * per_user, users_per_file)
        uid = np.repeat(who, k)
        n = len(uid)
        base = T0_US + f * 600_000_000
        ts = base + rng.integers(0, 600_000_000, n)
        late = rng.random(n) < 0.1
        ts[late] -= rng.integers(0, 1_800_000_000, int(late.sum()))
        out.append(pa.table({
            "user_id": pa.array(uid, type=pa.int64()),
            "event_id": pa.array(np.arange(next_id, next_id + n), type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]),
            "cents": pa.array(rng.integers(1, 50_000, n), type=pa.int64()),
        }))
        next_id += n
    return out
