"""Seeded input generators for the benchmark.

Everything the program reads is made here from the ``--seed`` argument with
numpy and written with pyarrow, so the same seed gives the same inputs. The
program only ever receives the directory the files are in.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: First minute of the generated sensor source.
SENSOR_START = dt.datetime(2025, 1, 1)
#: One row group per 7 days of the sensor source, so min/max statistics let
#: a range scan skip row groups.
ROWS_PER_GROUP = 7 * 1440
#: The signal dimension, ids 1..8 in this order (FIXTURES.md section 2).
SIGNALS = (
    "wind_speed_mean", "wind_speed_min", "wind_speed_max", "wind_speed_std",
    "power_mean", "power_min", "power_max", "power_std",
)

#: Input sizes. ``full`` is what the benchmark measures; ``tiny`` is for the
#: smoke test, which only proves that every path runs and is checked.
SIZES = {
    "full": {
        "source_days": 365, "history_days": 28,
        "lineitem": 60_000, "orders": 15_000, "part": 2_000, "supplier": 100,
        "customer": 1_500, "events": 10_000, "events_users": 150,
        "documents": 500, "embeddings": 500,
    },
    "tiny": {
        "source_days": 21, "history_days": 7,
        "lineitem": 3_000, "orders": 750, "part": 200, "supplier": 10,
        "customer": 150, "events": 1_000, "events_users": 20,
        "documents": 120, "embeddings": 120,
    },
}


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> dict:
    pq.write_table(table, path, row_group_size=row_group_size)
    meta = pq.ParquetFile(path).metadata
    return {"rows": meta.num_rows, "bytes": os.path.getsize(path), "row_groups": meta.num_row_groups}


def sensor_source(path: str, seed: int, days: int) -> dict:
    """Wide 1-minute sensor table under FIXTURES.md section 1's laws, in one
    file of ``ROWS_PER_GROUP``-row row groups. ``timestamp`` is naive
    (TIMESTAMP_NTZ to Spark), like the reference's source table.
    """
    rng = np.random.default_rng([seed, 1])
    n = days * 1440
    i = np.arange(n, dtype=np.int64)
    ts = np.datetime64(SENSOR_START, "us") + i * np.timedelta64(60, "s")
    wind = np.clip(rng.normal(12.0, 5.0, n), 0.0, 25.0)
    power = np.where(
        wind < 3.0, 0.0,
        np.where(wind > 20.0, 2000.0, wind**2 * 8.0 + rng.normal(0.0, 100.0, n)),
    )
    power = np.clip(power, 0.0, 2000.0)
    temp = 20.0 + 10.0 * np.sin(2.0 * np.pi * (i % 1440) / 1440.0) + rng.normal(0.0, 3.0, n)
    table = pa.table({
        "id": i + 1,
        "timestamp": pa.array(ts, type=pa.timestamp("us")),
        "wind_speed": wind,
        "power": power,
        "ambient_temprature": temp,  # sic, the reference's column name
    })
    return _write(table, path, ROWS_PER_GROUP)


def signal_long(dir_path: str, seed: int, days: int) -> dict:
    """The long fact (``fact.parquet``: timestamp, signal_id, value) over
    10-minute windows, and its dimension (``signal_dim.parquet``)."""
    rng = np.random.default_rng([seed, 2])
    windows = days * 144
    ts = np.datetime64(SENSOR_START, "us") + np.arange(windows) * np.timedelta64(600, "s")
    n = windows * len(SIGNALS)
    fact = pa.table({
        "timestamp": pa.array(np.repeat(ts, len(SIGNALS)), type=pa.timestamp("us")),
        "signal_id": np.tile(np.arange(1, len(SIGNALS) + 1, dtype=np.int64), windows),
        "value": rng.gamma(2.0, 50.0, n),
    })
    dim = pa.table({
        "id": np.arange(1, len(SIGNALS) + 1, dtype=np.int64),
        "name": list(SIGNALS),
        "description": [f"aggregated signal {s}" for s in SIGNALS],
    })
    _write(dim, os.path.join(dir_path, "signal_dim.parquet"))
    return _write(fact, os.path.join(dir_path, "fact.parquet"))


def read_schedule(seed: int, source_days: int, queries: tuple[str, ...]) -> list[dict]:
    """One pass of the read workload's request mix, in a seeded order: seven
    range scans, one call of each of the three reports, and one call of each
    registered query in ``queries``.

    Every pass of every seed asks for the same amount of work: the scans'
    windows are 1 hour to 7 days in fixed log-spaced steps, and they fetch
    one, two or three measure columns in a fixed pattern. The seed picks
    where each window starts, which columns it fetches, and the order.
    """
    rng = np.random.default_rng([seed, 3])
    measures = ["wind_speed", "power", "ambient_temprature"]
    reqs: list[dict] = []
    for k in range(7):
        minutes = round(60 * (7 * 24) ** (k / 6))
        start_min = int(rng.integers(0, source_days * 1440 - minutes))
        start = SENSOR_START + dt.timedelta(minutes=start_min)
        cols = sorted(rng.choice(measures, size=1 + k % 3, replace=False).tolist())
        reqs.append({
            "kind": "scan", "start": start,
            "end": start + dt.timedelta(minutes=minutes), "columns": cols,
        })
    reqs += [{"kind": k} for k in ("per_signal_summary", "daily_counts", "latest_sample")]
    reqs += [{"kind": q} for q in queries]
    order = rng.permutation(len(reqs))
    return [reqs[k] for k in order]


_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big sort "
    "query fast"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def analytics_tables(dir_path: str, seed: int, size: dict) -> dict:
    """TPC-H-like star schema plus ``events``, ``documents`` and
    ``embeddings``, with the column names and value laws of the test data
    (TESTDATA.md) the registered queries were written against."""
    rng = np.random.default_rng([seed, 4])
    out = {}

    def day_ts(n: int, first: str, span_days: int) -> pa.Array:
        days = rng.integers(0, span_days, n)
        return pa.array(np.datetime64(first, "us") + days * np.timedelta64(1, "D"), type=pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    n_nat, n_sup, n_cust = 25, size["supplier"], size["customer"]
    n_part, n_ord, n_li = size["part"], size["orders"], size["lineitem"]
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(n_nat, dtype=np.int32),
            "n_name": [f"NATION_{k}" for k in range(n_nat)],
            "n_regionkey": np.arange(n_nat, dtype=np.int32) % 5,
        },
        "supplier": {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
            "s_nationkey": rng.integers(0, n_nat, n_sup).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_sup),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, n_nat, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        },
    }
    adjectives = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part), rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    }
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": day_ts(n_ord, "1995-01-01", 2500),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    }
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_sup, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.9, 1.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": day_ts(n_li, "1995-01-02", 2500),
    }
    n_ev = size["events"]
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, size["events_users"], n_ev),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    n_doc = size["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))) for _ in range(n_doc)]
    # About one document in ten is a near-copy of an earlier one, with one
    # word changed, so the dedup queries have clusters to find.
    for k in range(1, n_doc):
        if rng.random() < 0.1:
            words = texts[int(rng.integers(0, k))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts[k] = " ".join(words)
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    n_emb = size["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    for name, cols in tables.items():
        out[name] = _write(pa.table(cols), os.path.join(dir_path, f"{name}.parquet"))
    return out
