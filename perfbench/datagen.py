"""Seeded input generators for the benchmark.

``write_tables`` writes the ten base tables the batch queries scan, in
the shapes ``sensor_data_pipeline_spark.schemas.TESTDATA_TABLES`` and
FIXTURES.md describe (TPC-H-ish star schema, an ``events`` stream, a
31-token document corpus with appended near-duplicates, 64-dim unit
embeddings). ``sensor_file`` renders one JSONL file of MQTT_MESSAGE
rows for the sensor stream. Both are pure functions of their seed: the
same seed gives the same bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order part "
    "query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14])
EMBED_DIM = 64

_US = 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(d: datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * _US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, lo: datetime, hi: datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    us = _us(lo) + rng.integers(0, span + 1, n) * 86400 * _US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # a near-duplicate: an earlier document plus one or two marker tokens
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs = rng.choice(LANGS[0], n, p=LANGS[1])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()), pa.array(x.ravel(), pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf=0.01 is 60k lineitem
    rows). One generator stream per table, so a table's content does not
    depend on the order the others are drawn in."""
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_vecs = int(500 * (sf / 0.01) ** 0.6)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust), pa.string()),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = rngs["part"]
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))], pa.string()
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(r.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _days(r, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    r = rngs["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(np.round(r.integers(0, 11, n_line) / 100.0, 2)),
            "l_tax": pa.array(np.round(r.integers(0, 9, n_line) / 100.0, 2)),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(r.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": _days(r, datetime(1995, 1, 2), datetime(2001, 11, 4), n_line),
        }
    )
    r = rngs["events"]
    gaps = r.exponential(30 * 86400 * _US / n_ev, n_ev).astype(np.int64)
    ts = _us(datetime(2024, 1, 1)) + np.cumsum(gaps)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(r.choice(EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string()),
        }
    )
    out["documents"] = _documents(rngs["documents"], n_docs)
    out["embeddings"] = _embeddings(rngs["embeddings"], n_vecs)
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# sensor stream: MQTT_MESSAGE rows carrying the reference wire payload
# ---------------------------------------------------------------------------

#: generator settings; the defaults are the workload's
STREAM_DEFAULTS = {
    "devices": 64,
    "truncated_frac": 0.02,
    "missing_key_frac": 0.01,
    "stale_frac": 0.005,
    "stale_s": 3600,
}
_WIRE_KEYS = ("timestamp_utc", "temp_outdoor_celsius", "temp_indoor_celsius", "rh_outdoor")


def sensor_file(seed: int, index: int, rows: int, period_s: float, settings: dict = STREAM_DEFAULTS) -> tuple[bytes, int]:
    """One JSONL file of MQTT_MESSAGE rows (file ``index`` of a stream
    emitting ``rows`` rows every ``period_s``). Returns (bytes, number of
    rows whose payload is truncated JSON). Event times advance with the
    file index from a seed-derived base, so the bytes never depend on
    the wall clock."""
    rng = np.random.default_rng([seed, 1_000_003, index])
    base = datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(hours=seed % 8760)
    t0 = base + timedelta(seconds=index * period_s)
    device = rng.integers(0, settings["devices"], rows)
    offs = np.sort(rng.random(rows)) * period_s
    u = rng.random((rows, 3))
    out_temp = np.round(rng.normal(24.0, 4.0, rows), 1)
    in_temp = np.round(rng.normal(22.0, 1.5, rows), 1)
    rh = np.round(rng.uniform(30.0, 90.0, rows), 1)
    drop = rng.integers(1, len(_WIRE_KEYS), rows)
    cut = rng.random(rows)
    lines, n_bad = [], 0
    for i in range(rows):
        ts = t0 + timedelta(seconds=float(offs[i]))
        if u[i, 2] < settings["stale_frac"]:
            ts -= timedelta(seconds=settings["stale_s"] + 60)
        payload = {
            "timestamp_utc": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "temp_outdoor_celsius": float(out_temp[i]),
            "temp_indoor_celsius": float(in_temp[i]),
            "rh_outdoor": float(rh[i]),
        }
        if u[i, 1] < settings["missing_key_frac"]:
            payload.pop(_WIRE_KEYS[drop[i]])
        text = json.dumps(payload)
        if u[i, 0] < settings["truncated_frac"]:
            text = text[: 1 + int(cut[i] * (len(text) - 2))]
            n_bad += 1
        msg = {"topic": f"sensors/dev-{device[i]:02d}/readings", "qos": 1, "payload": text}
        lines.append(json.dumps(msg))
    return ("\n".join(lines) + "\n").encode(), n_bad
