"""Output checks, all run with the clock stopped.

- ``hourly_cron``: the final store equals an independent DuckDB
  existing-wins merge of the generated canonical rows, and each cycle's
  wide weather matrices equal the generated SWOB values.
- ``query_surface``: each query's ``count()`` equals the row count of its
  DuckDB oracle SQL over the same parquet files.
"""

from __future__ import annotations

import os
from pathlib import Path

import duckdb

KEY = "station_id, obs_time, datatype, qc_level"
COLS = "station_id, obs_time, datatype, value, qc_level, source"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    return con


def _store_sql(root: Path) -> str:
    return (
        f"SELECT station_id, CAST(obs_time AS TIMESTAMP) AS obs_time, "
        f"CAST(datatype AS VARCHAR) AS datatype, value, qc_level, source "
        f"FROM read_parquet('{root}/**/*.parquet', hive_partitioning = true,"
        f" union_by_name = true)"
    )


def store_equals_merge(root: Path, inputs: list[str]) -> str | None:
    """``inputs[0]`` is the pre-built store, the rest the cycles' canonical
    rows in landing order.  Existing wins: per key the earliest non-null
    value survives, else the earliest row.  The two sides are compared by
    row count and an order-free digest; only on a difference are the
    differing rows counted."""
    union = " UNION ALL ".join(
        f"SELECT {COLS}, {i} AS prio FROM read_parquet('{p}')"
        for i, p in enumerate(inputs)
    )
    merged = (
        f"SELECT {COLS} FROM landed QUALIFY row_number() OVER "
        f"(PARTITION BY {KEY} ORDER BY value IS NULL, prio) = 1"
    )
    digest = f"SELECT count(*), sum(hash({COLS})::HUGEINT) FROM "
    con = _connect()
    try:
        # loaded first: the window straight off the parquet scan runs on
        # as many threads as the files have row groups
        con.execute(f"CREATE TEMP TABLE landed AS {union}")
        con.execute(f"CREATE TEMP TABLE expected AS {merged}")
        con.execute(f"CREATE TEMP TABLE actual AS {_store_sql(root)}")
        want = con.execute(digest + "expected").fetchone()
        got = con.execute(digest + "actual").fetchone()
        if want == got:
            return None
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL "
            "SELECT * FROM actual)"
        ).fetchone()[0]
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL "
            "SELECT * FROM expected)"
        ).fetchone()[0]
    finally:
        con.close()
    return f"{missing} of {want[0]} expected rows missing, {extra} unexpected rows"


def store_rows(root: Path) -> int:
    con = _connect()
    try:
        return con.execute(f"SELECT count(*) FROM ({_store_sql(root)})").fetchone()[0]
    finally:
        con.close()


def weather(wide: dict, expected: dict, stations: list[str]) -> str | None:
    """Each wide matrix holds, per (hour, station), the generated value of
    its variable, NULL where the payload read MSNG or never arrived."""
    for var, rows in wide.items():
        hours = {r["obs_time"].strftime("%Y-%m-%d %H:%M:%S"): r for r in rows}
        want_hours = {h for (_s, h), vals in expected.items()}
        if set(hours) != want_hours:
            return f"{var}: {len(hours)} hours, expected {len(want_hours)}"
        for (s, h), vals in expected.items():
            got, want = hours[h][s], vals[var]
            if (got is None) != (want is None) or (
                want is not None and abs(got - want) > 1e-9
            ):
                return f"{var} at {s} {h}: got {got}, expected {want}"
        for h, row in hours.items():
            extra = [s for s in stations if (s, h) not in expected and row[s] is not None]
            if extra:
                return f"{var} at {h}: value for unfetched stations {extra[:3]}"
    return None


def oracle_counts(tables: Path, sql_by_name: dict[str, str]) -> dict[str, int | str]:
    """Row count of every oracle query in DuckDB over the same tables;
    a query DuckDB cannot run maps to its error text."""
    con = _connect()
    out: dict[str, int | str] = {}
    try:
        for t in sorted(p.stem for p in tables.glob("*.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / t}.parquet')"
            )
        for name, sql in sql_by_name.items():
            try:
                out[name] = con.execute(
                    f"SELECT count(*) FROM ({sql.rstrip().rstrip(';')})"
                ).fetchone()[0]
            except duckdb.Error as ex:
                out[name] = f"oracle failed: {str(ex).splitlines()[0][:200]}"
    finally:
        con.close()
    return out
