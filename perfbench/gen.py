"""Seeded synthetic inputs for the benchmark.

Writes the engine's fixture tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet
file each, with the schemas and value conventions of FIXTURES.md:
money values are whole cents, discounts and taxes whole percents,
quantities whole numbers, so the registry oracles' exact decimal sums
hold. ``scale`` follows the fixtures' scale factor
(0.01 → 60,000 lineitem rows).

Run as a separate process (``python3 gen.py OUT_DIR SEED SCALE [BATCHES]``) so
the memory it allocates never counts toward the program's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "old", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - EPOCH_1995).astype(int))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days).astype("datetime64[us]"), pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 90, n)
    picks = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[i] for i in picks[at : at + k]))
        at += k
    # One document in twenty is a near-copy of an earlier one (one word
    # swapped), so the near-duplicate operators have true pairs to find.
    for i in range(20, n, 20):
        src = out[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        out[i] = " ".join(src)
    return out


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = 2000 if scale > 0.01 else 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _day_ts(rng.integers(1, ORDER_DAYS + 95, n_line)),
    })
    gaps = rng.integers(1, 2 * 30 * 86400 * 1_000_000 // max(n_ev, 1), n_ev)
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def change_batches(seed: int, orders: pa.Table, n_batches: int, keys: int,
                   hot_months: int) -> list[tuple[str, pa.Table]]:
    """Seeded change batches against ``orders``, each ``keys`` rows over
    ``hot_months`` seeded order months: ('cdc', rows with op I/U/D) or
    ('upsert', rows with op I/U). Updates and deletes name keys that are
    live at that point of the sequence; inserts take fresh keys."""
    rng = np.random.default_rng(seed + 7_919)
    days = orders.column("o_orderdate").to_numpy().astype("datetime64[D]")
    months = days.astype("datetime64[M]")
    live: dict[np.datetime64, set[int]] = {}
    for k, m in zip(orders.column("o_orderkey").to_numpy(), months):
        live.setdefault(m, set()).add(int(k))
    all_months = sorted(live)
    next_key = int(orders.column("o_orderkey").to_numpy().max()) + 1
    out = []
    for _ in range(n_batches):
        kind = "cdc" if rng.random() < 0.5 else "upsert"
        hot = [all_months[i] for i in rng.choice(len(all_months), hot_months, replace=False)]
        n_ins = keys * 2 // 5
        n_del = keys // 5 if kind == "cdc" else 0
        pool = sorted((int(k), m) for m in hot for k in live[m])
        pick = rng.choice(len(pool), keys - n_ins, replace=False)
        rows_key, rows_month, ops = [], [], []
        for j, i in enumerate(pick):
            k, m = pool[i]
            op = "D" if j < n_del else "U"
            rows_key.append(k), rows_month.append(m), ops.append(op)
            if op == "D":
                live[m].discard(k)
        for _ in range(n_ins):
            m = hot[int(rng.integers(0, hot_months))]
            rows_key.append(next_key), rows_month.append(m), ops.append("I")
            live[m].add(next_key)
            next_key += 1
        n = len(rows_key)
        month_arr = np.array(rows_month, dtype="datetime64[M]")
        day = month_arr.astype("datetime64[D]") + rng.integers(0, 28, n)
        out.append((kind, pa.table({
            "o_orderkey": pa.array(rows_key, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(day.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            "o_month": [str(m) for m in month_arr],
            "op": ops,
        })))
    return out


def write(out_dir: str, seed: int, scale: float, n_batches: int = 0) -> None:
    """Write the tables; with ``n_batches``, also ``changes/b<i>.parquet``
    and ``changes/kinds.json`` (see :func:`change_batches`)."""
    os.makedirs(out_dir, exist_ok=True)
    data = tables(seed, scale)
    for name, t in data.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    if n_batches:
        cdir = os.path.join(out_dir, "changes")
        os.makedirs(cdir)
        batches = change_batches(seed, data["orders"], n_batches, keys=500, hot_months=4)
        for i, (_, t) in enumerate(batches):
            pq.write_table(t, os.path.join(cdir, f"b{i:03d}.parquet"))
        with open(os.path.join(cdir, "kinds.json"), "w") as fh:
            json.dump([kind for kind, _ in batches], fh)


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
          int(sys.argv[4]) if len(sys.argv) > 4 else 0)
