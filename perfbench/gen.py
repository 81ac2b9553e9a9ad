"""Seeded input generator for the benchmark workloads.

Every table keeps the schema, foreign-key graph and value vocabulary of the
repository's synthetic fixtures (see FIXTURES.md), so the registry's queries
and DuckDB oracles run on the generated directories unchanged. The rows come
from ``numpy.random.default_rng`` seeded by the workload seed: the same seed
gives the same rows, and a different seed gives different rows of the same
size and shape. Tables are written as single parquet files named like the
fixture tables (``<dir>/<table>.parquet``).
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word vocabulary of the fixture corpus (documents.text).
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")

_DAY_US = 86_400 * 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(dt: datetime) -> int:
    return int((dt - _EPOCH).total_seconds()) * 1_000_000


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _cents(x: np.ndarray) -> np.ndarray:
    """Round to whole cents the way the fixtures store money (2 dp)."""
    return np.round(x * 100.0) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def star_schema(rng: np.random.Generator, out_dir: str, orders: int) -> dict[str, int]:
    """TPC-H-ish star schema: fixture row ratios per order
    (customer 1/10, part 2/15, supplier 1/150 of the orders; 1-7 lines per
    order)."""
    n_cust = max(orders // 10, 10)
    n_part = max(orders * 2 // 15, 10)
    n_supp = max(orders // 150, 5)
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_cust))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, n_supp))),
    })
    pk = np.arange(n_part, dtype="int64")
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    lo = _us(datetime(1995, 1, 1))
    odate = lo + rng.integers(0, 2403, orders) * _DAY_US  # .. 2001-08-01
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(orders, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders).astype("int64")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, orders)]),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, orders))),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, orders)]),
    })
    per_order = rng.integers(1, 8, orders)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(orders, dtype="int64"), per_order)
    starts = np.cumsum(per_order) - per_order
    linenumber = (np.arange(n_li) - np.repeat(starts, per_order) + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, n_li))),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(lo + _DAY_US + rng.integers(0, 2499, n_li) * _DAY_US),
    })
    return rows


def events_table(rng: np.random.Generator, n: int, n_users: int) -> dict[str, np.ndarray]:
    """Event stream: strictly increasing microsecond timestamps from
    2024-01-01 with exponential gaps (mean 26 s), as in the fixture."""
    gaps = np.maximum(rng.exponential(26e6, n).astype("int64"), 1)
    ts = _us(datetime(2024, 1, 1)) + np.cumsum(gaps)
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _cents(rng.exponential(50.0, n)),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_events(out_path: str, ev: dict[str, np.ndarray], sl: slice = slice(None)) -> int:
    cols = {k: v[sl] for k, v in ev.items()}
    table = pa.table({
        "event_id": pa.array(cols["event_id"]),
        "ts": _ts(cols["ts"]),
        "user_id": pa.array(cols["user_id"]),
        "event_type": pa.array(cols["event_type"]),
        "value": pa.array(cols["value"]),
        "props": pa.array(cols["props"]),
    })
    pq.write_table(table, out_path)
    return table.num_rows


def _mutate(rng: np.random.Generator, words: list[str]) -> list[str]:
    """A near-duplicate: substitutes ~7% of the words. Each substitution
    changes up to three word 3-grams, so neighbours land near Jaccard 0.65
    and documents two steps apart fall below 0.5."""
    out = list(words)
    for pos in rng.choice(len(out), max(1, round(0.07 * len(out))), replace=False):
        out[pos] = WORDS[rng.integers(0, len(WORDS))]
    return out


def documents(
    rng: np.random.Generator, out_dir: str, n: int, dup_share: float, chain_len: int
) -> dict[str, int]:
    """Word-soup corpus over the fixture vocabulary with planted duplicates.

    ``dup_share`` of the documents are planted: chains of ``chain_len``
    documents where each is a mutation of its predecessor (neighbours in a
    chain are near-duplicates, documents further apart are not, so
    connected components must close the chain), plus one exact copy of
    each chain head for exact dedup. The rest are independent random documents of
    10-99 words."""
    docs: list[list[str]] = []
    planted = int(n * dup_share)
    per_chain = chain_len + 1
    n_chains = planted // per_chain
    for _ in range(n_chains):
        words = [WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(40, 100))]
        chain = [words]
        for _ in range(chain_len - 1):
            chain.append(_mutate(rng, chain[-1]))
        chain.append(list(chain[0]))  # exact duplicate
        docs.extend(chain)
    while len(docs) < n:
        docs.append([WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(10, 100))])
    order = rng.permutation(n)
    text = [" ".join(docs[i]) for i in order]
    return {"documents": _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype="int64")),
    })}


def embeddings(rng: np.random.Generator, out_dir: str, n: int, dim: int = 64, clusters: int = 10) -> dict[str, int]:
    """Clustered unit vectors: ``clusters`` random centres (the ``label``),
    each member its centre plus isotropic noise, normalized to unit length
    and stored as float32 like the fixture."""
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, clusters, n)
    v = centres[label] + rng.standard_normal((n, dim)) * (0.6 / np.sqrt(dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.astype("float32").ravel()), dim)
    return {"embeddings": _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })}


def pq_codebooks(rng: np.random.Generator, out_dir: str, m: int, k: int, iters: int = 20) -> None:
    """Product-quantization codebooks for the generated embeddings, in the
    shape pq_train returns (``m`` subspaces x ``k`` codes of unit-normalized
    sub-vectors): plain Lloyd k-means per subspace from ``k`` random
    members. Shipped with the inputs so the search is measured apart from
    training."""
    v = pq.read_table(os.path.join(out_dir, "embeddings.parquet")).column("embedding")
    x = np.array(v.to_pylist(), dtype="float64")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    dsub = x.shape[1] // m
    books = []
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        c = sub[rng.choice(len(sub), k, replace=False)]
        for _ in range(iters):
            assign = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(-1).argmin(1)
            for j in range(k):
                if (assign == j).any():
                    c[j] = sub[assign == j].mean(0)
        books.append(c.tolist())
    with open(os.path.join(out_dir, "pq_codebooks.json"), "w") as fh:
        json.dump(books, fh)
