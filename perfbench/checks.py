"""DuckDB references for every output the benchmark checks.

The checks run outside the timed region. Frames are compared with
``tools/check_oracle.py``'s ``compare`` (row count, column names, then
order-insensitive values through its ``canon``, floats with a tolerance),
and its ``duck_con`` opens the analytics tables.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import compare, duck_con  # noqa: E402,F401

from inputs import SIGNALS  # noqa: E402


def naive(df: pd.DataFrame) -> pd.DataFrame:
    """Spark hands back UTC-zoned timestamps and DuckDB naive ones for the
    same wall-clock values; drop the zone."""
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def corrupt(df: pd.DataFrame) -> pd.DataFrame:
    """A deliberately wrong copy of an output, to prove the checks bite:
    the first float value moves by one, or, without floats, a row goes."""
    df = df.copy()
    floats = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    if floats and len(df):
        df.loc[df.index[0], floats[0]] += 1.0
        return df
    return df.iloc[:-1] if len(df) else df.iloc[0:0]


def check(name: str, got: pd.DataFrame, want: pd.DataFrame, broken: bool) -> str | None:
    """None when ``got`` matches ``want``, else the mismatch."""
    got = naive(got)
    if broken:
        got = corrupt(got)
    ok, msg = compare(name, got, naive(want))
    return None if ok else f"{name}: {msg}"


def etl_reference(con: duckdb.DuckDBPyConnection, source: str, start, end) -> pd.DataFrame:
    """The daily pipeline over ``[start, end)``: 10-minute buckets, mean /
    min / max / sample std of wind_speed and power, unpivoted, NULL stds
    dropped, names mapped to signal ids 1..8."""
    aggs = ", ".join(
        f"{f}({m}) AS {m}_{s}"
        for m in ("wind_speed", "power")
        for s, f in (("mean", "avg"), ("min", "min"), ("max", "max"), ("std", "stddev_samp"))
    )
    dim = ", ".join(f"({k + 1}, '{n}')" for k, n in enumerate(SIGNALS))
    return con.execute(f"""
        WITH w AS (
            SELECT time_bucket(INTERVAL 10 MINUTE, "timestamp") AS ts, {aggs}
            FROM read_parquet('{source}')
            WHERE "timestamp" >= TIMESTAMP '{start}' AND "timestamp" < TIMESTAMP '{end}'
            GROUP BY 1
        ), l AS (UNPIVOT w ON {", ".join(SIGNALS)} INTO NAME signal_name VALUE value),
        d(id, name) AS (VALUES {dim})
        SELECT l.ts AS "timestamp", CAST(d.id AS BIGINT) AS signal_id, l.value
        FROM l JOIN d ON d.name = l.signal_name
        WHERE l.value IS NOT NULL
    """).df()


def read_partition(sink: str, day: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(sink, f"event_date={day}")).to_pandas()


def scan_reference(con, source: str, req: dict, sample_ts: list) -> tuple[int, pd.DataFrame]:
    """Row count of one range scan, and the rows at ``sample_ts``."""
    where = f""""timestamp" >= TIMESTAMP '{req['start']}' AND "timestamp" < TIMESTAMP '{req['end']}'"""
    n = con.execute(f"SELECT count(*) FROM read_parquet('{source}') WHERE {where}").fetchone()[0]
    cols = ", ".join(['"timestamp"', *req["columns"]])
    stamps = ", ".join(f"TIMESTAMP '{pd.Timestamp(t)}'" for t in sample_ts) or "NULL"
    rows = con.execute(
        f"""SELECT {cols} FROM read_parquet('{source}') WHERE {where} AND "timestamp" IN ({stamps})"""
    ).df()
    return int(n), rows


def report_references(con, fact: str, dim: str) -> dict[str, pd.DataFrame]:
    """The three reports over the long fact, as in plans/reports.py."""
    src = f"read_parquet('{fact}') f JOIN read_parquet('{dim}') d ON f.signal_id = d.id"
    return {
        "per_signal_summary": con.execute(f"""
            SELECT d.id, d.name, count(*) AS n_records, avg(value) AS avg_value,
                   min(value) AS min_value, max(value) AS max_value,
                   stddev_samp(value) AS stddev_value
            FROM {src} GROUP BY d.id, d.name""").df(),
        "daily_counts": con.execute(f"""
            SELECT CAST("timestamp" AS DATE) AS date, count(*) AS n_records
            FROM read_parquet('{fact}') GROUP BY 1""").df(),
        "latest_sample": con.execute(f"""
            SELECT f."timestamp", f.signal_id, d.name, f.value FROM {src}
            ORDER BY f."timestamp" DESC, f.signal_id LIMIT 10""").df(),
    }


def sample_rows(n: int, k: int, rng: np.random.Generator) -> list[int]:
    return sorted(rng.choice(n, size=min(k, n), replace=False).tolist()) if n else []
