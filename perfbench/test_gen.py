"""Tests of the seeded generator (no Spark): ``python3 -m pytest perfbench``.

They pin that one seed gives identical files, that resets, idle, new and
evicted-then-returning digests occur at the stated rates (read back from
the written snapshots, not from the simulator's own counters alone), and
that no instance ever holds more than the 10k digest cap.
"""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _write_fleet(out: str, seed: int, ticks: int, instances: int, max_digests: int,
                 rates: gen.Rates = gen.RATES) -> dict:
    rng = np.random.default_rng(seed)
    caps = gen.digest_caps(instances, max_digests)
    tables, sims = gen.fleet_ticks(rng, caps, ticks, rates)
    os.makedirs(out, exist_ok=True)
    for t, tab in enumerate(tables):
        gen.write_parquet(tab, os.path.join(out, f"tick-{t:05d}.parquet"))
    return gen.event_counts(sims)


def test_same_seed_same_files(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    _write_fleet(a, 7, 12, 4, 120)
    _write_fleet(b, 7, 12, 4, 120)
    _write_fleet(c, 8, 12, 4, 120)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert filecmp.cmpfiles(a, c, names, shallow=False)[1], "another seed must give other files"
    for copy in "ab":
        rng = np.random.default_rng(3)
        events = gen.event_files(rng, 2, users=300, users_per_file=200)
        status = gen.status_history(rng, {"pg-00": "postgresql"}, gen.T0_US, 60)
        gen.write_parquet(events[1], str(tmp_path / f"events-{copy}.parquet"))
        gen.write_parquet(status, str(tmp_path / f"status-{copy}.parquet"))
    for kind in ("events", "status"):
        assert filecmp.cmp(tmp_path / f"{kind}-a.parquet", tmp_path / f"{kind}-b.parquet", shallow=False)


def _observed(out: str) -> dict:
    """Event counts read back from the snapshot files, per instance-tick."""
    frames = [pq.read_table(os.path.join(out, f)).to_pandas() for f in sorted(os.listdir(out))]
    obs = {"instance_ticks": 0, "resets": 0, "carried": 0, "continuing": 0, "idle": 0,
           "evicted": 0, "returned": 0, "new": 0, "max_present": 0}
    for inst in sorted(frames[0]["instance_id"].unique()):
        seen: set[str] = set()
        prev: dict[str, int] = {}
        gone_at: dict[str, int] = {}
        for t, df in enumerate(frames):
            cur = dict(zip(*(df.loc[df["instance_id"] == inst, c] for c in ("digest", "count_star"))))
            obs["max_present"] = max(obs["max_present"], len(cur))
            if t > 0:
                obs["instance_ticks"] += 1
                both = [d for d in cur if d in prev]
                reset = any(cur[d] < prev[d] for d in both)
                obs["resets"] += reset
                obs["carried"] += len(prev)
                if not reset:
                    obs["continuing"] += len(both)
                    obs["idle"] += sum(cur[d] == prev[d] for d in both)
                for d in prev:
                    if d not in cur:
                        gone_at[d] = t
                for d in cur:
                    if d not in prev:
                        if d in seen:
                            obs["returned"] += 1
                            assert 1 <= t - gone_at[d] <= gen.RATES.max_absent
                        else:
                            obs["new"] += 1
            seen |= set(cur)
            prev = cur
    return obs


def test_rates_as_stated(tmp_path):
    out = str(tmp_path / "fleet")
    # caps large enough that the cap rarely binds over these ticks
    counts = _write_fleet(out, 11, 60, 40, 400)
    obs = _observed(out)
    r = gen.RATES
    # files and simulator agree exactly on what is observable
    assert obs["returned"] == counts["returned"]
    assert obs["new"] == counts["new"]
    assert obs["resets"] == counts["resets"]
    # each rate within a tolerance far wider than its sampling error
    assert counts["resets"] / obs["instance_ticks"] == pytest.approx(r.reset, rel=0.5)
    assert obs["idle"] / obs["continuing"] == pytest.approx(r.idle, rel=0.05)
    assert counts["evicted"] / counts["live_ticks"] == pytest.approx(r.evict, rel=0.15)
    assert counts["new"] / counts["live_ticks"] == pytest.approx(r.new, rel=0.15)
    assert obs["returned"] > 0.8 * counts["evicted"]  # the rest return after the last tick
    assert counts["resets"] > 0 and counts["returned"] > 0 and counts["idle"] > 0


def test_cap_never_exceeded(tmp_path):
    out = str(tmp_path / "cap")
    # a tenfold new-digest rate drives the largest instance into the cap
    counts = _write_fleet(out, 5, 16, 1, gen.DIGEST_CAP, gen.Rates(new=0.1))
    assert counts["dropped"] > 0, "the cap must bind in this run"
    assert _observed(out)["max_present"] <= gen.DIGEST_CAP
    with pytest.raises(ValueError):
        gen.digest_caps(3, gen.DIGEST_CAP + 1)
