"""Seeded star-schema tables for the operator batch.

The tables have the names, columns and value ranges the operators in
``plans.entry_queries`` read (a TPC-H-like star plus an ``events``
stream, a ``documents`` corpus with planted near-duplicates and an
``embeddings`` table of unit vectors). Sizes are set by ``SIZES``;
every value is a pure function of the seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "orders": 15_000,
    "events": 10_000,
    "documents": 600,
    "embeddings": 500,  # below 1000: embedding_near_dup plants twins at id + 1000
}
USERS = 150
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
DUP_SHARE = 0.05
EMB_DIM = 64

_US_DAY = 86_400_000_000


def _date_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(a: np.ndarray) -> pa.Array:
    return pa.array(a.astype("datetime64[us]"))


def generate(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_c, n_o, n_e = SIZES["customer"], SIZES["orders"], SIZES["events"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
            ),
        }
    )
    o_lo, o_hi = _date_us(1995, 1, 1), _date_us(2001, 8, 1)
    odate = o_lo + rng.integers(0, (o_hi - o_lo) // _US_DAY + 1, n_o) * _US_DAY
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o)),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_o),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
            ),
        }
    )
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    lineno = (np.arange(n_l) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_l) * _US_DAY
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, 4 * n_c // 3, n_l)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_c // 15), n_l)),
            "l_linenumber": pa.array(lineno),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_l),
            "l_linestatus": rng.choice(["O", "F"], n_l),
            "l_shipdate": _ts(ship),
        }
    )
    e_lo = _date_us(2024, 1, 1)
    ts = np.sort(e_lo + rng.integers(0, 30 * _US_DAY, n_e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, USERS, n_e)),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_e),
            "value": np.round(rng.exponential(50.0, n_e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
        }
    )
    out["documents"] = _documents(rng, SIZES["documents"])
    out["embeddings"] = _embeddings(rng, SIZES["embeddings"])
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word bags of 10-100 words; ``DUP_SHARE`` of the documents
    repeat an earlier document with `` dup`` appended."""
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="zstd")


def digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(sink.getvalue())
    return h.hexdigest()[:16]
