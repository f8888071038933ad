"""DuckDB oracle: the query answers recomputed from the raw generated
parquet, independently of Spark and of the package under test.

The ``qan`` table re-derives the snapshot deltas in SQL (lag per key, gated
on the instance's previous snapshot, reset-aware, activity-filtered, first
snapshot dropped) and ``metrics`` the second-granularity rollup; each
``expected`` call is the notebook query shape as plain SQL.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone

import gen

REL_TOL = 1e-9


def _reset_aware(cols: tuple[str, ...]) -> str:
    return ",\n".join(
        f"CASE WHEN prev_key_ts IS NOT DISTINCT FROM prev_snap AND p_{c} IS NOT NULL"
        f" AND {c} >= p_{c} THEN {c} - p_{c} ELSE {c} END AS {c}_delta"
        for c in cols
    )


def _delta_sql(table: str, key: str, cols: tuple[str, ...], carry: tuple[str, ...]) -> str:
    lags = ", ".join(f"lag({c}) OVER w AS p_{c}" for c in cols)
    return f"""
    WITH s AS (SELECT * FROM {table} WHERE {key} IS NOT NULL),
    meta AS (SELECT instance_id, snapshot_ts,
                    lag(snapshot_ts) OVER (PARTITION BY instance_id ORDER BY snapshot_ts) AS prev_snap
             FROM (SELECT DISTINCT instance_id, snapshot_ts FROM s)),
    j AS (SELECT s.*, meta.prev_snap, lag(s.snapshot_ts) OVER w AS prev_key_ts, {lags}
          FROM s JOIN meta USING (instance_id, snapshot_ts)
          WINDOW w AS (PARTITION BY s.instance_id, s.{key} ORDER BY s.snapshot_ts))
    SELECT instance_id, snapshot_ts, {key}, {", ".join(carry)},
           epoch(snapshot_ts) - epoch(prev_snap) AS time_period_seconds,
           {_reset_aware(cols)}
    FROM j WHERE prev_snap IS NOT NULL
    """


def connect(mysql_dir: str, status_dir: str):
    """DuckDB tables qan / metrics recomputed from the raw parquet with
    the reference semantics (reset-aware deltas gated on the previous
    snapshot, activity filter, second-granularity metric rollup)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute(f"CREATE VIEW my_raw AS SELECT * FROM read_parquet('{mysql_dir}/*.parquet')")
    con.execute(f"CREATE VIEW st_raw AS SELECT * FROM read_parquet('{status_dir}/*.parquet')")
    my = _delta_sql("my_raw", "digest", gen.MYSQL_METRICS, ("schema_name", "digest_text"))
    con.execute(f"CREATE TABLE my_delta AS SELECT * FROM ({my}) WHERE count_star_delta > 0")
    con.execute("""CREATE TABLE qan AS
      SELECT snapshot_ts AS time, instance_id, digest AS statement_digest,
             digest_text AS statement_sample, count_star_delta AS calls_delta,
             sum_timer_wait_delta AS total_timer_wait_delta,
             sum_rows_examined_delta AS rows_examined_delta
      FROM my_delta""")
    con.execute("""CREATE TABLE metrics AS
      SELECT date_trunc('second', time) AS time, instance_id, db_system, metric_name,
             sum(metric_value) AS metric_value
      FROM st_raw GROUP BY ALL""")
    return con


# MySQL snapshot counter -> qan_db delta column (mysql/collector.go deltaToLogs)
MYSQL_QAN = {
    "count_star": "calls_delta", "sum_timer_wait": "total_timer_wait_delta",
    "sum_lock_time": "lock_time_delta", "sum_errors": "errors_delta",
    "sum_warnings": "warnings_delta", "sum_rows_affected": "rows_affected_delta",
    "sum_rows_sent": "rows_sent_delta", "sum_rows_examined": "rows_examined_delta",
    "sum_created_tmp_tables": "created_tmp_tables_delta",
    "sum_created_tmp_disk_tables": "created_tmp_disk_tables_delta",
    "sum_sort_rows": "sort_rows_delta", "sum_no_index_used": "no_index_used_delta",
    "sum_no_good_index_used": "no_good_index_used_delta",
}


def diff_mysql_sink(con, sink_dir: str) -> tuple[int, int]:
    """Rows of a Spark-written MySQL qan_db table missing from the oracle
    and oracle rows missing from it (``EXCEPT ALL`` both ways, every
    MySQL column and the interval)."""
    cols = ["db_system", "instance_id", "statement_digest", "statement_sample", "db_schema",
            *MYSQL_QAN.values(), "time_period_seconds"]
    con.execute(f"""CREATE TEMP VIEW sink AS SELECT epoch_us(time) AS t_us, {", ".join(cols)}
                    FROM read_parquet('{sink_dir}/**/*.parquet', hive_partitioning = true)""")
    con.execute(f"""CREATE TEMP VIEW want AS
      SELECT epoch_us(snapshot_ts) AS t_us, 'mysql' AS db_system, instance_id,
             digest AS statement_digest, digest_text AS statement_sample, schema_name AS db_schema,
             {", ".join(f"{c}_delta AS {q}" for c, q in MYSQL_QAN.items())}, time_period_seconds
      FROM my_delta""")
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM sink EXCEPT ALL SELECT * FROM want)").fetchone()[0]
    lost = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM sink)").fetchone()[0]
    return extra, lost


def expected(con, module: str, kw: dict) -> list[tuple]:
    fn = module.split(".")[1]
    where = ["TRUE"]
    if "start" in kw:
        where.append(f"time >= TIMESTAMPTZ '{kw['start'].isoformat()}+00:00'")
    if "end" in kw:
        where.append(f"time <= TIMESTAMPTZ '{kw['end'].isoformat()}+00:00'")
    if fn == "top_queries":
        metric = kw.get("metric") or "total_timer_wait_delta"
        if kw.get("sample_filter"):
            where.append(f"statement_sample LIKE '%{kw['sample_filter']}%'")
        return con.execute(f"""
          SELECT statement_digest, max(statement_sample), sum(calls_delta), sum({metric}),
                 CASE WHEN sum(calls_delta) > 0 THEN sum({metric}) / sum(calls_delta) ELSE 0 END
          FROM qan WHERE {" AND ".join(where)} GROUP BY 1
          ORDER BY 4 DESC, 1 ASC LIMIT {kw.get("limit", 10)}""").fetchall()
    if fn == "metric_series":
        names = ", ".join(f"'{n}'" for n in kw["metric_names"])
        return con.execute(f"""
          SELECT to_timestamp(floor(epoch(time) / 300) * 300) AS b, metric_name, avg(metric_value)
          FROM metrics WHERE metric_name IN ({names}) GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    if fn == "buffer_hit_ratio":
        return con.execute("""
          WITH a AS (
            SELECT to_timestamp(floor(epoch(time) / 60) * 60) AS b, instance_id,
                   sum(CASE WHEN metric_name = 'postgresql.blocks_hit' THEN metric_value END) AS hit,
                   sum(CASE WHEN metric_name = 'postgresql.blocks_read' THEN metric_value END) AS rd
            FROM metrics WHERE metric_name IN ('postgresql.blocks_hit', 'postgresql.blocks_read')
            GROUP BY 1, 2)
          SELECT b, instance_id, hit, rd,
                 CASE WHEN coalesce(hit, 0) + coalesce(rd, 0) > 0
                      THEN coalesce(hit, 0) / (coalesce(hit, 0) + coalesce(rd, 0)) ELSE 0 END
          FROM a ORDER BY 1, 2""").fetchall()
    raise ValueError(module)


def _norm(v):
    if isinstance(v, datetime):
        return v.astimezone(timezone.utc).replace(tzinfo=None) if v.tzinfo else v
    return v


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            a, b = _norm(a), _norm(b)
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True
