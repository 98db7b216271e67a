"""Seeded generators for the benchmark's inputs.

``write_tables`` writes the ten fixture tables the registry reads
(``direct_kafka_stream_spark.io.TABLES``) with the same names, column
types and value domains as the project's TPC-H-shaped fixtures, scaled
by ``sf``. ``kafka_segments`` turns an event log into Kafka-shaped
record batches (key, JSON value, topic, partition, offset, timestamp)
with a seeded share of redelivered duplicates.

Everything is drawn from one ``numpy.random.Generator`` per table,
seeded from ``(seed, table)``, so the same seed gives byte-identical
inputs and one table's size never shifts another table's values.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

KAFKA_PARTITIONS = 4
KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
        ("timestampType", pa.int32()),
    ]
)


def rng_for(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table name)."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts of the fixture tables at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy", row_group_size=1 << 30)


def events_table(seed: int, n: int, span_s: float = 30 * 86400) -> pa.Table:
    """``n`` events in ``event_id`` == event-time order, µs timestamps
    spread uniformly over ``span_s`` seconds from 2024-01-01."""
    r = rng_for(seed, "events")
    offs = np.sort(r.integers(0, int(span_s * 1_000_000), n))
    # strictly increasing µs so ts order is a total order on event_id
    offs = offs + np.arange(n)
    users = max(1, n // 66)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(_EPOCH_2024 + offs),
            "user_id": pa.array(r.integers(0, users, n).astype("int64")),
            "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
            "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        },
        schema=EVENTS_SCHEMA,
    )


def _documents(seed: int, n: int) -> dict:
    r = rng_for(seed, "documents")
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        # every 20th document is a near-duplicate of an earlier original:
        # its words with one marker token inserted. A fixed count and
        # star-shaped duplicate clusters keep the dedup queries' work
        # (pairs, label-propagation rounds) the same for every seed.
        if i % 20 == 19:
            words = texts[originals[int(r.integers(0, len(originals)))]].split()
            words.insert(int(r.integers(0, len(words) + 1)), "dup")
        else:
            words = [WORDS[k] for k in r.integers(0, len(WORDS), int(r.integers(8, 101)))]
            originals.append(i)
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in r.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(seed: int, n: int, dim: int = 64) -> dict:
    r = rng_for(seed, "embeddings")
    labels = r.integers(0, 10, n)
    centers = r.normal(0.0, 1.0, (10, dim))
    x = r.normal(0.0, 1.0, (n, dim)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    p = lambda name: f"{out_dir}/{name}.parquet"  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })

    r = rng_for(seed, "customer")
    c = n["customer"]
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(c, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c).astype("int32")),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in r.integers(0, 5, c)]),
    })

    r = rng_for(seed, "supplier")
    s = n["supplier"]
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(s, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(r.integers(0, 25, s).astype("int32")),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, s)),
    })

    r = rng_for(seed, "part")
    pn = n["part"]
    keys = np.arange(pn, dtype="int64")
    _write(p("part"), {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(r.integers(0, 8, pn), r.integers(0, 8, pn))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, pn)]),
        "p_type": pa.array([PART_TYPES[k] for k in r.integers(0, 6, pn)]),
        "p_size": pa.array(r.integers(1, 51, pn).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })

    r = rng_for(seed, "orders")
    o = n["orders"]
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, c, o).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in r.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, o)),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, o) * _DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in r.integers(0, 5, o)]),
    })

    r = rng_for(seed, "lineitem")
    li = n["lineitem"]
    flags = r.integers(0, 6, li)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(r.integers(0, o, li).astype("int64")),
        "l_partkey": pa.array(r.integers(0, pn, li).astype("int64")),
        "l_suppkey": pa.array(r.integers(0, s, li).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, li).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, li).astype("float64")),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, li)),
        "l_discount": pa.array(r.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k // 2] for k in flags]),
        "l_linestatus": pa.array([("F", "O")[k % 2] for k in flags]),
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2500, li) * _DAY_US),
    })

    pq.write_table(events_table(seed, n["events"]), p("events"), compression="snappy")
    _write(p("documents"), _documents(seed, n["documents"]))
    _write(p("embeddings"), _embeddings(seed, n["embeddings"]))
    return {"region": 5, "nation": 25, **n}


def kafka_segments(
    events: pa.Table,
    seed: int,
    rows_per_segment: int,
    dup_share: float,
) -> list[pa.Table]:
    """Split an event log (in event-time order) into Kafka-shaped
    segments of ``rows_per_segment`` records.

    A seeded ``dup_share`` of events is redelivered once more, later in
    the same or the next segment (a producer retry: same payload, new
    offset). Segments stay in event-time order at segment granularity,
    so the i-th segment never holds an original event older than one in
    segment i-1. Offsets count up per partition in delivery order.
    """
    r = rng_for(seed, "kafka")
    rows = events.to_pylist()
    n = len(rows)
    redeliver = r.random(n) < dup_share
    # a duplicate follows its original by up to one segment's records
    lag = r.integers(1, rows_per_segment + 1, n)
    order: list[tuple[float, int]] = [(float(i), i) for i in range(n)]
    order += [(i + lag[i] + 0.5, i) for i in np.flatnonzero(redeliver)]
    order.sort()

    next_offset = [0] * KAFKA_PARTITIONS
    segments: list[pa.Table] = []
    for start in range(0, len(order), rows_per_segment):
        cols: dict[str, list] = {f.name: [] for f in KAFKA_SCHEMA}
        for _, i in order[start : start + rows_per_segment]:
            ev = rows[i]
            part = ev["user_id"] % KAFKA_PARTITIONS
            payload = {
                "event_id": ev["event_id"],
                "ts": ev["ts"].isoformat(timespec="microseconds") + "Z",
                "user_id": ev["user_id"],
                "event_type": ev["event_type"],
                "value": ev["value"],
                "props": ev["props"],
            }
            cols["key"].append(str(ev["user_id"]).encode())
            cols["value"].append(json.dumps(payload, separators=(",", ":")).encode())
            cols["topic"].append("events")
            cols["partition"].append(part)
            cols["offset"].append(next_offset[part])
            next_offset[part] += 1
            cols["timestamp"].append(ev["ts"])
            cols["timestampType"].append(0)
        segments.append(pa.table(cols, schema=KAFKA_SCHEMA))
    return segments
