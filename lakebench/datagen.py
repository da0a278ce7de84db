"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed writes different ones. The engine
only ever sees what these functions write.

* ``write_tables`` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read, with the
  same column names, types and value ranges as the engine's test tables.
* ``medallion_inputs`` — a 20-day event history for the full load and
  daily increments (with re-sent earlier ``event_id``s and changed
  customer segments), plus one 24-row hourly price CSV per day in three
  drifted layouts.
* ``sensor_events`` — pool-sensor readings with 8% anomalous values per
  metric and a bounded out-of-order lag.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer query "
    "group filter stream"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's values."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts_us(seconds: np.ndarray) -> pa.Array:
    """Seconds after 2024-01-01 as a microsecond timestamp column."""
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    micros = (base * 1_000_000 + np.round(seconds * 1_000_000)).astype("int64")
    return pa.array(micros, type=pa.timestamp("us"))


def _dates_us(days_since_1995: np.ndarray) -> pa.Array:
    base = 788918400  # 1995-01-01 UTC
    micros = (base + days_since_1995.astype("int64") * 86400) * 1_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def events_table(
    g: np.random.Generator, first_id: int, n: int, n_users: int, t0: float, t1: float
) -> pa.Table:
    """``n`` events with ids from ``first_id``, ts ascending in [t0, t1) s."""
    secs = np.sort(g.uniform(t0, t1, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
            "ts": _ts_us(secs),
            "user_id": pa.array(g.integers(0, n_users, n, dtype="int64")),
            "event_type": pa.array(np.array(EVENT_TYPES)[g.integers(0, 5, n)]),
            "value": pa.array(np.round(0.01 + g.exponential(50.0, n), 2).clip(0.01, 490.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n)]),
        }
    )


def _documents(g: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and g.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(g.integers(0, i))].split()
            words[int(g.integers(0, len(words)))] = str(g.choice(WORDS))
        else:
            words = list(g.choice(WORDS, int(g.integers(10, 90))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[g.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{k}" for k in g.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(g: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = g.normal(0, 1, (10, dim))
    labels = g.integers(0, 10, n).astype("int32")
    vecs = centers[labels] + g.normal(0, 0.6, (n, dim))
    dup = g.random(n) < 0.05  # a few exact-ish duplicates for near-dup search
    src = g.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + g.normal(0, 1e-3, (int(dup.sum()), dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, seed: int, n_customers: int = 1500) -> dict[str, int]:
    """Write the star schema at ``n_customers`` scale (1500 ≈ sf0.01).

    Returns rows per table."""
    nc = n_customers
    n_orders, n_lines, n_parts, n_supp = 10 * nc, 40 * nc, 4 * nc // 3, max(10, nc // 15)
    n_events, n_docs, n_vecs = 20 * nc // 3, 500, 500
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
            }
        ),
    }
    g = rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(g.integers(0, 25, nc, dtype="int32")),
            "c_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[g.integers(0, 5, nc)]),
        }
    )
    g = rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp, dtype="int32")),
            "s_acctbal": pa.array(np.round(g.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    g = rng(seed, "part")
    adj = np.array(["small", "red", "hot", "old", "big", "blue"])
    noun = np.array(["ring", "widget", "plate", "rod", "bolt", "gear"])
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_parts, dtype="int64")),
            "p_name": pa.array(
                np.char.add(np.char.add(adj[g.integers(0, 6, n_parts)], " "), noun[g.integers(0, 6, n_parts)])
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in g.integers(1, 26, n_parts)]),
            "p_type": pa.array(
                np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])[
                    g.integers(0, 6, n_parts)
                ]
            ),
            "p_size": pa.array(g.integers(1, 51, n_parts, dtype="int32")),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_parts) % 1000) / 10, 2)),
        }
    )
    g = rng(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(g.integers(0, nc, n_orders, dtype="int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[g.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(g.uniform(1000.0, 500000.0, n_orders), 2)),
            "o_orderdate": _dates_us(g.integers(0, 2404, n_orders)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[g.integers(0, 5, n_orders)]),
        }
    )
    g = rng(seed, "lineitem")
    qty = g.integers(1, 51, n_lines).astype("float64")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, n_orders, n_lines, dtype="int64")),
            "l_partkey": pa.array(g.integers(0, n_parts, n_lines, dtype="int64")),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_lines, dtype="int64")),
            "l_linenumber": pa.array(g.integers(1, 8, n_lines, dtype="int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * g.uniform(900.0, 2100.0, n_lines), 2)),
            "l_discount": pa.array(g.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[g.integers(0, 2, n_lines)]),
            "l_shipdate": _dates_us(g.integers(1, 2500, n_lines)),
        }
    )
    g = rng(seed, "events")
    tables["events"] = events_table(g, 0, n_events, max(10, nc // 10), 0.0, 30 * 86400.0)
    tables["documents"] = _documents(rng(seed, "documents"), n_docs)
    tables["embeddings"] = _embeddings(rng(seed, "embeddings"), n_vecs)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# -- medallion_batch ---------------------------------------------------------

HISTORY_DAYS = 20
PRICE_LAYOUTS = ("ts", "ts_utc", "date_hour")


def day_str(day: int) -> str:
    """Day index 0..29 → 'YYYY-MM-DD' in January 2024."""
    return (EPOCH + timedelta(days=day)).strftime("%Y-%m-%d")


def _price_csv(g: np.random.Generator, day: int) -> str:
    """One day's 24 hourly prices in layout ``day % 3``."""
    layout = PRICE_LAYOUTS[day % 3]
    d = day_str(day)
    prices = np.round(g.uniform(0.05, 0.35, 24), 5)
    if layout == "ts":
        rows = ["ts,price_eur_kwh"] + [f"{d} {h:02d}:00:00,{p}" for h, p in enumerate(prices)]
    elif layout == "ts_utc":
        rows = ["ts_utc,price_eur_kwh"] + [f"{d}T{h:02d}:00:00Z,{p}" for h, p in enumerate(prices)]
    else:
        rows = ["date,hour,price_eur_kwh"] + [f"{d},{h},{p}" for h, p in enumerate(prices)]
    return "\n".join(rows) + "\n"


def medallion_inputs(
    root: str,
    seed: int,
    increment_days: int,
    events_per_day: int = 400,
    n_users: int = 300,
    resend_share: float = 0.05,
    segment_change_share: float = 0.02,
) -> dict:
    """Write the medallion source system under ``root``.

    * ``events/day=DD/part.parquet`` — days 0..19 are the history, the
      next ``increment_days`` days the increments. Each also re-sends a
      ``resend_share`` of earlier ``event_id``s with a later ``ts`` and a
      new ``value`` (an update the Silver MERGE must apply).
    * ``customer/day=DD/part.parquet`` — day 0 holds every customer;
      each increment day changes ``c_mktsegment`` of a seeded share.
    * ``landing/prices/date=YYYY-MM-DD/prices.csv`` — one 24-row hourly
      price drop per day, cycling the three drifted layouts.

    Returns the day lists and total input bytes.
    """
    g = rng(seed, "medallion")
    cols = {"user_id", "event_type", "value", "props"}
    next_id = 0
    sent: list[pa.Table] = []
    n_bytes = 0
    for day in range(HISTORY_DAYS + increment_days):
        t = events_table(g, next_id, events_per_day, n_users, day * 86400.0, (day + 1) * 86400.0 - 1)
        next_id += events_per_day
        if day >= HISTORY_DAYS:
            prior = pa.concat_tables(sent)
            k = max(1, int(resend_share * events_per_day))
            idx = np.sort(g.choice(prior.num_rows, k, replace=False))
            again = prior.take(pa.array(idx))
            secs = np.sort(g.uniform(day * 86400.0, (day + 1) * 86400.0 - 1, k))
            again = again.set_column(1, "ts", _ts_us(secs))
            again = again.set_column(
                4, "value", pa.array(np.round(0.01 + g.exponential(50.0, k), 2).clip(0.01, 490.0))
            )
            t = pa.concat_tables([t, again.select(t.column_names)])
        assert cols <= set(t.column_names)
        sent.append(t.slice(0, events_per_day))
        path = os.path.join(root, "events", f"day={day:02d}", "part.parquet")
        _write(t, path)
        n_bytes += os.path.getsize(path)

    seg = np.array(SEGMENTS)[g.integers(0, 5, n_users)]
    for day in [0] + list(range(HISTORY_DAYS, HISTORY_DAYS + increment_days)):
        if day == 0:
            keys = np.arange(n_users)
        else:
            keys = np.sort(g.choice(n_users, max(1, int(segment_change_share * n_users)), replace=False))
            seg[keys] = np.array(SEGMENTS)[(np.searchsorted(SEGMENTS, seg[keys]) + 1) % 5]
        secs = day * 86400.0 + 3600.0 + np.arange(len(keys))
        t = pa.table(
            {
                "c_custkey": pa.array(keys.astype("int64")),
                "c_mktsegment": pa.array(seg[keys]),
                "c_updated_at": _ts_us(secs),
            }
        )
        path = os.path.join(root, "customer", f"day={day:02d}", "part.parquet")
        _write(t, path)
        n_bytes += os.path.getsize(path)

    for day in range(HISTORY_DAYS + increment_days):
        path = os.path.join(root, "landing", "prices", f"date={day_str(day)}", "prices.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(_price_csv(g, day))
        n_bytes += os.path.getsize(path)
    return {
        "history_days": list(range(HISTORY_DAYS)),
        "increment_days": list(range(HISTORY_DAYS, HISTORY_DAYS + increment_days)),
        "input_bytes": n_bytes,
    }


# -- sensor_stream -----------------------------------------------------------

N_POOLS = 12
ANOMALY_SHARE = 0.08


def pools_dim(path: str) -> None:
    """Static pools dimension the Gold-enriched query joins against."""
    _write(
        pa.table(
            {
                "pool_id": pa.array(np.arange(N_POOLS, dtype="int32")),
                "pool_name": [f"pool-{i:02d}" for i in range(N_POOLS)],
                "volume_m3": pa.array(np.round(50.0 + 25.0 * (np.arange(N_POOLS) % 5), 1)),
            }
        ),
        path,
    )


def sensor_events(
    g: np.random.Generator, first_seq: int, n: int, t0_event_s: float, dt_s: float, max_lag_s: float
) -> list[dict]:
    """``n`` readings whose event time advances ``dt_s`` per reading from
    ``t0_event_s`` (seconds after 2024-01-01), jittered back by up to
    ``max_lag_s`` (out of order, but never later than the watermark)."""
    seq = np.arange(first_seq, first_seq + n)
    ev_s = t0_event_s + np.arange(n) * dt_s - g.uniform(0.0, max_lag_s, n)
    ph = np.round(g.normal(7.4, 0.2, n), 3)
    cl = np.round(g.normal(1.5, 0.3, n), 3)
    temp = np.round(g.normal(27.0, 1.0, n), 2)
    ph = np.where(g.random(n) < ANOMALY_SHARE, np.round(g.uniform(5.0, 6.5, n), 3), ph)
    cl = np.where(g.random(n) < ANOMALY_SHARE, np.round(g.uniform(3.5, 5.0, n), 3), cl)
    temp = np.where(g.random(n) < ANOMALY_SHARE, np.round(g.uniform(33.0, 38.0, n), 2), temp)
    pools = g.integers(0, N_POOLS, n)
    out = []
    for i in range(n):
        ts = EPOCH + timedelta(seconds=float(ev_s[i]))
        out.append(
            {
                "seq": int(seq[i]),
                "pool_id": int(pools[i]),
                "sensor_ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                "ph": float(ph[i]),
                "chlorine": float(cl[i]),
                "temperature": float(temp[i]),
            }
        )
    return out


def json_lines(events: list[dict], created_at: float) -> str:
    """Serialize readings, stamping each with the generator's wall clock."""
    return "".join(json.dumps({**e, "created_at": round(created_at, 6)}) + "\n" for e in events)
