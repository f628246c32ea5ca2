"""Seeded input tables for the benchmark.

Every table is a pure function of ``(seed, sf)``: the same pair always
gives the same rows, byte for byte once written. The schema mirrors the
star schema the query catalog reads (``replicadb_spark.session.tables``):
``region nation customer supplier part orders lineitem events documents
embeddings``, with naive microsecond timestamps and one row group per
file. Row counts scale like TPC-H (lineitem = 6M * sf).

Change batches for the incremental workload are generated here too, so
the expected sink state can be rebuilt from the same seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_DATE_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table leaves the
    # others unchanged
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _days(rng, n: int) -> pa.Array:
    return _ts(_EPOCH_1995 + rng.integers(0, _DATE_SPAN_DAYS, n) * _DAY_US)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "users": max(150, round(15_000 * sf)),
    }


def orders_table(seed: int, n: int, n_cust: int, table: str = "orders") -> pa.Table:
    rng = _rng(seed, table)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, _STATUS, n),
        "o_totalprice": pa.array(_money(rng, 1_000, 500_000, n)),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": _pick(rng, _PRIORITY, n),
    })


def make_table(name: str, seed: int, sf: float) -> pa.Table:
    n = sizes(sf)
    rng = _rng(seed, name)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        })
    if name in ("customer", "supplier"):
        k = n[name]
        p = name[0]
        key = "s_suppkey" if p == "s" else "c_custkey"
        label = "Supplier" if p == "s" else "Customer"
        cols = {
            key: pa.array(np.arange(k, dtype=np.int64)),
            f"{p}_name": pa.array([f"{label}#{i:09d}" for i in range(k)]),
            f"{p}_nationkey": pa.array(rng.integers(0, 25, k, dtype=np.int32)),
            f"{p}_acctbal": pa.array(_money(rng, -999.99, 9_999.99, k)),
        }
        if p == "c":
            cols["c_mktsegment"] = _pick(rng, _SEGMENTS, k)
        return pa.table(cols)
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        keys = np.arange(k, dtype=np.int64)
        return pa.table({
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, names, k),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
            "p_type": _pick(rng, _PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1)),
        })
    if name == "orders":
        return orders_table(seed, n["orders"], n["customer"])
    if name == "lineitem":
        k = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, k, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, k).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, k)),
            "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _days(rng, k),
        })
    if name == "events":
        k = n["events"]
        ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, k))
        return pa.table({
            "event_id": pa.array(np.arange(k, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n["users"], k, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, k),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        })
    if name == "documents":
        k = n["documents"]
        words = np.asarray(_WORDS, dtype=object)
        texts: list[str] = []
        for i in range(k):
            if i > 10 and rng.random() < 0.05:
                # near duplicate of an earlier document
                texts.append(texts[rng.integers(0, i)] + " dup")
            else:
                texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]))
        return pa.table({
            "doc_id": pa.array(np.arange(k, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, k, p=_LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, k)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        })
    if name == "embeddings":
        k, dim, labels = n["embeddings"], 64, 10
        centers = rng.standard_normal((labels, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        label = rng.integers(0, labels, k)
        noise = rng.standard_normal((k, dim))
        noise /= np.linalg.norm(noise, axis=1, keepdims=True)
        vec = noise + 0.15 * centers[label]
        vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(k, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        })
    raise ValueError(f"unknown table {name!r}")


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in names:
        t = make_table(name, seed, sf)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
        rows[name] = t.num_rows
    return rows


def change_batch(seed: int, batch: int, n_keys: int, size: int) -> pa.Table:
    """One ordered changelog slice over the orders table.

    ``n_keys`` is the key range live before this batch; keys below it
    are updated or deleted, keys from ``n_keys`` up are inserted. Keys
    are unique within a batch, and ``seq`` grows across batches, so
    last write wins per key is well defined. ``op`` is insert, update
    or delete; delete rows carry only the key.
    """
    rng = np.random.default_rng([seed, 7919, batch])
    n_ins = size // 4
    n_del = size // 20
    n_upd = size - n_ins - n_del
    touched = rng.choice(n_keys, n_upd + n_del, replace=False).astype(np.int64)
    keys = np.concatenate([touched, np.arange(n_keys, n_keys + n_ins, dtype=np.int64)])
    payload = orders_table(seed * 1_000 + batch, len(keys), n_keys, table="batch")
    ops = np.array(["update"] * n_upd + ["delete"] * n_del + ["insert"] * n_ins, dtype=object)
    cols = {c: payload.column(c) for c in payload.column_names}
    cols["o_orderkey"] = pa.array(keys)
    t = pa.table(cols)
    dead = pa.array(ops == "delete")
    t = pa.table({
        c: (t.column(c) if c == "o_orderkey" else
            pc.if_else(dead, pa.scalar(None, t.schema.field(c).type), t.column(c)))
        for c in t.column_names
    })
    seq0 = batch * 1_000_000
    return t.append_column("op", pa.array(ops, pa.string())).append_column(
        "seq", pa.array(np.arange(seq0, seq0 + len(keys), dtype=np.int64)))
