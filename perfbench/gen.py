"""Seeded input generators for the benchmark workloads.

Every table is written with pyarrow (no Spark), in the column layout of
the engine's test corpus, so the program under test only ever sees the
generated parquet files. The same seed and sizes give byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
)
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
EPOCH_DAY_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def events_table(rng: np.random.Generator, days: int, per_day: int, users: int) -> pa.Table:
    """``events`` rows spread uniformly over each whole day, ordered by
    ts, with event_id following ts order like the corpus. value keeps
    two decimals (close = 100 + value stays exactly representable in
    the oracle's arithmetic)."""
    n = days * per_day
    day_idx = np.repeat(np.arange(days, dtype=np.int64), per_day)
    ts = EPOCH_DAY_US + day_idx * DAY_US + rng.integers(0, DAY_US, n, dtype=np.int64)
    ts.sort()
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(out_dir: str, seed: int, days: int, per_day: int, users: int = 1500) -> int:
    rng = np.random.default_rng([seed, 1])
    t = events_table(rng, days, per_day, users)
    _write(t, os.path.join(out_dir, "events.parquet"))
    return t.num_rows


def write_corpus(out_dir: str, seed: int, docs: int, vectors: int, dim: int = 64) -> dict:
    """``documents`` with planted near-duplicates (an earlier doc plus
    the token ``dup``) and a few exact duplicates, and ``embeddings``:
    unit vectors around 10 seeded cluster centres."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(words[off : off + n]))
        off += n
    n_near = docs // 20
    near_dst = rng.choice(np.arange(docs // 2, docs), n_near + 8, replace=False)
    for i, dst in enumerate(near_dst):
        src = int(rng.integers(0, docs // 2))
        texts[dst] = texts[src] if i >= n_near else texts[src] + " dup"
    docs_t = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, docs, p=LANG_P)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(docs_t, os.path.join(out_dir, "documents.parquet"))
    centres = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, vectors)
    v = centres[labels] + rng.normal(0.0, 0.6, (vectors, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb_t = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    _write(emb_t, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": docs, "embeddings": vectors}


def write_star(out_dir: str, seed: int, sf: float) -> dict:
    """TPC-H-like star schema plus ``events``, sized like the corpus at
    scale factor ``sf``. Every foreign key points at an existing row."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    day0 = np.datetime64("1992-01-01", "D")
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    adj = np.array(["small", "red", "large", "blue", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel"])
    types = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"])
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(np.char.add(adj[rng.integers(0, 5, n_part)], " "), noun[rng.integers(0, 5, n_part)])
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(types[rng.integers(0, 5, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n_ord), 2)),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
        }
    )
    l_ord = rng.integers(0, n_ord, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[l_ord] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_ord),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    for name, t in (
        ("region", region), ("nation", nation), ("customer", customer),
        ("supplier", supplier), ("part", part), ("orders", orders),
        ("lineitem", lineitem),
    ):
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    n_ev = int(1_000_000 * sf)
    ev = events_table(rng, 30, n_ev // 30, max(n_cust // 10, 1))
    _write(ev, os.path.join(out_dir, "events.parquet"))
    return {"lineitem": n_li, "orders": n_ord, "events": ev.num_rows}
