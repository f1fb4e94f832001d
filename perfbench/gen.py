"""Seeded input generators. Every input the package sees is written
here from ``--seed``; the same seed gives byte-identical files.

- ``UpsertLog``: the ordered CDC change log of ``cdc_upsert_large_state``
  (a large INSERT snapshot, then micro-batches of the reference's order
  lifecycle mix: ~34% INSERT of new keys, ~64% UPDATE, ~2% DELETE,
  updates and deletes aimed mostly at recently inserted keys).
- ``write_tables``: all ten testdata tables for ``analytics_mix``, with the
  testdata schema and, at sf0.01, the testdata's row count per table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
UPSERT_SCHEMA = pa.schema(
    [
        ("key_id", pa.int64()),
        ("seq", pa.int64()),
        ("operation", pa.string()),
        ("event_type", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)
# (event_type, operation, share): the reference generator's scenario
# weights collapsed onto the operation each one produces
UPSERT_MIX = [
    ("new_order", "INSERT", 0.34),
    ("status_update", "UPDATE", 0.22),
    ("payment", "UPDATE", 0.16),
    ("ship", "UPDATE", 0.14),
    ("customer_update", "UPDATE", 0.12),
    ("cancel", "DELETE", 0.02),
]
RECENT_WINDOW = 4000  # updates/deletes target one of the last N inserts
RECENT_SHARE = 0.9  # ... with this probability, else any key ever inserted


class UpsertLog:
    """Deterministic change log: ``snapshot()`` once, then ``batch()``
    for each next micro-batch. seq and ts rise strictly along the log."""

    def __init__(self, seed: int, snapshot_keys: int, batch_events: int):
        self.rng = np.random.default_rng([seed, 1])
        self.batch_events = batch_events
        self.snapshot_keys = snapshot_keys
        self.next_key = 0
        self.next_seq = 0
        cum = np.cumsum([s for _, _, s in UPSERT_MIX])
        self._cum = cum / cum[-1]

    def _table(self, keys, ops, etypes, values) -> pa.Table:
        n = len(keys)
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        ts = BASE_TS_US + seq * 1000  # one event per simulated ms
        return pa.table(
            [
                pa.array(keys, pa.int64()),
                pa.array(seq),
                pa.array(ops, pa.string()),
                pa.array(etypes, pa.string()),
                pa.array(ts, pa.timestamp("us", tz="UTC")),
                pa.array(values, pa.float64()),
            ],
            schema=UPSERT_SCHEMA,
        )

    def _values(self, n):
        return np.round(self.rng.exponential(50.0, n), 2)

    def snapshot(self) -> pa.Table:
        n = self.snapshot_keys
        keys = np.arange(n, dtype=np.int64)
        self.next_key = n
        return self._table(
            keys, ["INSERT"] * n, ["new_order"] * n, self._values(n)
        )

    def batch(self) -> pa.Table:
        n = self.batch_events
        pick = np.searchsorted(self._cum, self.rng.random(n), side="right")
        recent = self.rng.random(n) < RECENT_SHARE
        back = self.rng.integers(1, RECENT_WINDOW + 1, n)
        anyk = self.rng.random(n)
        keys = np.empty(n, dtype=np.int64)
        ops, etypes = [], []
        for i in range(n):
            etype, op, _ = UPSERT_MIX[min(pick[i], len(UPSERT_MIX) - 1)]
            if op == "INSERT":
                keys[i] = self.next_key
                self.next_key += 1
            elif recent[i]:
                keys[i] = max(0, self.next_key - int(back[i]))
            else:
                keys[i] = int(anyk[i] * self.next_key)
            ops.append(op)
            etypes.append(etype)
        return self._table(keys, ops, etypes, self._values(n))


# ---------------------------------------------------------------------------
# testdata-schema tables
# ---------------------------------------------------------------------------

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NAMES = [
    f"{a} {b}"
    for a in ("red", "new", "hot", "small", "large", "cold", "old", "blue")
    for b in ("bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe")
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000


def _ts(us) -> pa.Array:
    # naive microsecond timestamps, as the testdata tables store them
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def events_table(rng, n: int, n_users: int) -> pa.Table:
    gaps = rng.integers(1, 50_000_000, n)  # < 50 s apart, strictly rising
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts(BASE_TS_US + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist(), pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def write_tables(sf_dir: str, seed: int, sf: float) -> None:
    """The ten testdata tables at scale factor ``sf`` (lineitem ~6e6*sf
    rows), same schema and value domains as the testdata tables."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    n_users = int(15_000 * sf)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    def pick(options, n):
        return pa.array(np.array(options)[rng.integers(0, len(options), n)].tolist())

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pick(NAMES, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
    })
    order_day = rng.integers(0, 2404, n_ord)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["P", "O", "F"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["N", "R", "A"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(
            EPOCH_1995_US
            + (order_day[l_order] + rng.integers(1, 122, n_line)) * DAY_US
        ),
    })
    pq.write_table(events_table(rng, n_ev, n_users), os.path.join(sf_dir, "events.parquet"))
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))].tolist()
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.5 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
