"""Seeded generator for the ten fixture tables described in FIXTURES.md.

``generate(out_dir, scale, seed)`` writes ``{table}.parquet`` for region,
nation, customer, supplier, part, orders, lineitem, events, documents and
embeddings, with the column names, types and value ranges of FIXTURES.md.
Row counts follow the sf0.01 fixture counts scaled linearly
(``scale=0.01`` gives 60,000 lineitems and 500 documents).

Two properties the benchmark relies on:

- determinism: every value is drawn from one ``numpy`` generator seeded by
  ``seed``, and every file is written with fixed writer options, so the
  same (scale, seed) gives byte-identical files and another seed gives
  different files;
- planted structure: 5% of the documents are near-copies of an earlier
  document (one token changed, " dup" appended), and 5% of the embeddings
  are unit vectors within cosine ~0.99 of an earlier vector in the same
  label, so the dedup rows find real pairs on every seed. The trade graph
  (supplier <-> customer through lineitem x orders) is what the graph rows
  iterate over; they run a fixed number of rounds, so every seed converges
  in the same number of jobs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# rows per unit of scale (sf0.01 fixture counts / 0.01)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "fr", "de", "es"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_EMB_DIM = 64
_DUP_FRAC = 0.05

_US_PER_DAY = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) // np.timedelta64(1, "D"))
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _US_PER_DAY


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (lineitem is ~4 per order, so not listed)."""
    counts = {t: max(1, int(round(n * scale))) for t, n in _ROWS_PER_SF.items()}
    counts["region"], counts["nation"] = 5, 25
    return counts


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )

    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = n["part"]
    adj = rng.integers(0, len(_PART_ADJ), npart)
    noun = rng.integers(0, len(_PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )

    # every customer places at least one order (the anti-join rows rely on it)
    no = n["orders"]
    cust = np.concatenate([np.arange(min(nc, no)), rng.integers(0, nc, max(0, no - nc))])
    rng.shuffle(cust)
    order_day = rng.integers(0, _ORDER_DAYS + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(cust, pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(
                _ORDER_EPOCH + order_day * np.timedelta64(1, "D"), pa.timestamp("us")
            ),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )

    lines_per_order = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    nl = len(l_order)
    ship_day = order_day[l_order] + rng.integers(1, 122, nl)
    perm = rng.permutation(nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order[perm], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(l_number[perm], pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                _ORDER_EPOCH + ship_day[perm] * np.timedelta64(1, "D"), pa.timestamp("us")
            ),
        }
    )

    ne = n["events"]
    gaps = rng.exponential(1.0, ne)
    offsets = (np.cumsum(gaps) / gaps.sum() * (_EVENT_SPAN_US - 1)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(_EVENT_EPOCH + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, ne * 150 // 10_000), ne), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )

    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i >= 20 and rng.random() < _DUP_FRAC:
            # planted near-duplicate: one token swapped, marker appended
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks) + " dup")
        else:
            toks = rng.integers(0, len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[t] for t in toks))
    lang_p = np.array([0.42, 0.145, 0.145, 0.145, 0.145])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, nd, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (nv, _EMB_DIM))
    labels = rng.integers(0, 10, nv)
    for i in range(20, nv):
        if rng.random() < _DUP_FRAC:
            # planted near-duplicate of an earlier vector, same label
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] / np.linalg.norm(vecs[j]) + rng.normal(0.0, 0.015, _EMB_DIM)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (nv + 1) * _EMB_DIM, _EMB_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(scale, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
            row_group_size=1 << 20,
            store_schema=False,
        )
        rows[name] = table.num_rows
    return rows
