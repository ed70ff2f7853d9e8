"""Seeded input generator for the benchmark.

Every input a workload reads is made here from ``--seed`` with NumPy
and written with pyarrow, one single-row-group parquet file per table
(the shape of the engine's test fixtures, so an under-fanned scan is
as under-fanned here as there). The same seed gives byte-identical
files; sizes do not depend on the seed, only values do.

Shapes follow the repo's fixtures (FIXTURES.md): a TPC-H-shaped star
schema, a document corpus with exact and near-duplicate structure, and
clustered embeddings with near-duplicate vectors.
"""

from __future__ import annotations

import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark scan filter sort join merge group agg window stream "
    "batch table column row key value hash part line order customer query "
    "vector fast slow big small index shard token model train corpus text "
    "clean dedup score rank bucket commit"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL")
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01 UTC in microseconds
DAY_US = 86_400 * 1_000_000


def write(table: pa.Table, path: str) -> int:
    """Write one single-row-group zstd parquet file; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd", row_group_size=max(1, table.num_rows))
    return os.path.getsize(path)


def compact_bytes(table: pa.Table) -> int:
    """Size of ``table`` written once, compactly: one zstd parquet buffer.
    The denominator of write and space amplification."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="zstd", row_group_size=max(1, table.num_rows))
    return buf.tell()


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_schema(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders and lineitem.
    Keys are dense from 0; foreign keys point at existing rows."""
    n_cust, n_part, n_supp = n_orders // 10, n_orders // 10, max(50, n_orders // 100)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(5)],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999, 9999, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999, 9999, n_supp)),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{VOCAB[i % len(VOCAB)]} widget {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _cents(rng.uniform(900, 2000, n_part)),
    })
    odate = EPOCH_1992_US + rng.integers(0, 2400, n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
        "o_totalprice": _cents(rng.uniform(800, 500_000, n_orders)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    lkey = np.repeat(np.arange(n_orders), lines)
    n_li = len(lkey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n_orders else lkey
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900, 2000, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem,
    }


def _sentence(rng: np.random.Generator, n_words: int) -> list[str]:
    # Zipf-ish word frequencies, like real prose: a few words dominate
    w = 1.0 / np.arange(1, len(VOCAB) + 1)
    return list(np.array(VOCAB)[rng.choice(len(VOCAB), n_words, p=w / w.sum())])


def documents(rng: np.random.Generator, n_docs: int, id_base: int = 0) -> pa.Table:
    """A corpus with real duplicate structure: ~8% exact copies of an
    earlier document and ~12% near-duplicates (one or two words of an
    earlier document replaced), the rest fresh prose of 15-90 words."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(_sentence(rng, int(rng.integers(15, 91)))))
    ids = np.arange(id_base, id_base + n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    """Vectors around 20 centres; ~10% are near-copies of an earlier
    vector, so semantic dedup has real pairs to drop."""
    centres = rng.normal(0, 1, (20, dim))
    which = rng.integers(0, 20, n_vecs)
    vecs = centres[which] + rng.normal(0, 0.6, (n_vecs, dim))
    for i in range(1, n_vecs):
        if rng.random() < 0.10:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.01, dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(which % 10, pa.int32()),
    })
