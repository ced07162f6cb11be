"""Seeded, hermetic input generators for the three workloads.

Every generator is a pure function of the workload seed: the same seed
gives byte-identical inputs, and the program under test receives only
these generated inputs (never shared pre-built test data).
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

# --- search: two time-partitioned streams ----------------------------------

SEARCH_STREAMS = ("app_hourly", "app_minutely")  # hour-compacted, per-minute
SEARCH_ANCHOR = datetime(2024, 3, 1)  # event time of the first minute
SEARCH_HOURS = 3
SEARCH_MINUTE_STEP = 6  # one populated minute in six: 30 minute files
SEARCH_EVENTS_PER_MINUTE = 80
SEARCH_BATCH_EVENTS = 600  # events per ParseableAPI.ingest call at set-up

_LEVELS = ("info",) * 6 + ("debug",) * 2 + ("warn", "error")
_STATUSES = (200,) * 7 + (201, 301, 404, 500, 503)
_PATHS = ("/api/v1/query", "/api/v1/ingest", "/login", "/health", "/static/app.js")


def _iso_ms(ts: datetime) -> str:
    return ts.isoformat(timespec="milliseconds") + "Z"


def search_events(seed: int, stream: str) -> list[dict]:
    """Log events of one search stream, ordered by event time `ts`."""
    rng = random.Random(f"search:{seed}:{stream}")
    events = []
    minutes = range(0, SEARCH_HOURS * 60, SEARCH_MINUTE_STEP)
    for m in minutes:
        base = SEARCH_ANCHOR + timedelta(minutes=m)
        offsets = sorted(rng.randrange(60_000) for _ in range(SEARCH_EVENTS_PER_MINUTE))
        for off in offsets:
            status = rng.choice(_STATUSES)
            events.append(
                {
                    "id": len(events),
                    "ts": _iso_ms(base + timedelta(milliseconds=off)),
                    "host": f"host-{rng.randrange(12):02d}",
                    "level": rng.choice(_LEVELS),
                    "status": status,
                    "latency_ms": round(rng.lognormvariate(3.0, 1.0), 3),
                    "msg": f"{rng.choice(_PATHS)} returned {status}",
                    "meta": {"region": f"r{rng.randrange(3)}", "zone": f"z{rng.randrange(7)}"},
                }
            )
    return events


def search_batches(seed: int) -> dict[str, list[bytes]]:
    """Per stream, the JSON request bodies the set-up ingests, in order."""
    out = {}
    for stream in SEARCH_STREAMS:
        ev = search_events(seed, stream)
        out[stream] = [
            encode(ev[i : i + SEARCH_BATCH_EVENTS])
            for i in range(0, len(ev), SEARCH_BATCH_EVENTS)
        ]
    return out


def encode(obj) -> bytes:
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()


# --- ingest: drifting, type-conflicting nested batches ----------------------

INGEST_BATCH_EVENTS = 500
INGEST_POOL = 64  # distinct batches; the writer cycles through them


def ingest_batches(seed: int) -> list[bytes]:
    """Fixed-size nested JSON batches in the shape of
    tools/ingest_bench.make_events: nested objects, occasional new
    fields (schema drift) and occasional numbers where strings usually
    are (type conflicts)."""
    rng = random.Random(f"ingest:{seed}")
    levels = ("info", "warn", "error", "debug")
    out = []
    for b in range(INGEST_POOL):
        batch = []
        for j in range(INGEST_BATCH_EVENTS):
            i = b * INGEST_BATCH_EVENTS + j
            e = {
                "level": rng.choice(levels),
                "msg": f"request {i} completed with status {200 + rng.randrange(5)}",
                "latency_ms": rng.randrange(950),
                "meta": {"region": f"r{rng.randrange(3)}", "zone": f"z{rng.randrange(7)}"},
                "ok": rng.random() > 0.09,
            }
            if rng.random() < 0.02:  # schema drift: an occasional new field
                e[f"extra_{rng.randrange(200)}"] = float(i)
            if rng.random() < 0.01:  # type conflict: a number where strings are
                e["msg"] = i
            batch.append(e)
        out.append(encode(batch))
    return out


# --- analytics: the star schema + log tables the headline queries read ------

ANALYTICS_ROWS = {  # the sf0.01 shape of the shared test tables
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def analytics_tables(seed: int) -> dict:
    """The ten tables as pyarrow Tables (region nation customer supplier
    part orders lineitem events documents embeddings)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = ANALYTICS_ROWS

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, end, size):
        span = (end - start).days
        d = rng.integers(0, span + 1, size)
        return pa.array(np.datetime64(start, "us") + d.astype("timedelta64[D]"), pa.timestamp("us"))

    def pick(options, size, p=None):
        return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), size, p=p)].tolist())

    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        }
    )
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])],
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": days(datetime(1995, 1, 1), datetime(2001, 8, 1), n["orders"]),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
            ),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(float),
            "l_extendedprice": money(900, 105000, m),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": pick(["A", "N", "R"], m),
            "l_linestatus": pick(["F", "O"], m),
            "l_shipdate": days(datetime(1995, 1, 2), datetime(2001, 11, 4), m),
        }
    )
    m = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, m))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(m), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, m), pa.int64()),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], m),
            "value": np.round(np.minimum(rng.exponential(50, m), 490) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        }
    )
    m = n["documents"]
    texts: list[str] = []
    for i in range(m):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(m), pa.int64()),
            "text": texts,
            "lang": pick(["en", "de", "es", "fr", "zh"], m, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(m), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_analytics_tables(seed: int, out_dir: str) -> int:
    """Write the analytics tables as `<out_dir>/<name>.parquet`; returns
    the bytes written."""
    import os

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in analytics_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
